"""Seed-generated benchmark inputs, cached per (seed, size) on disk.

Everything here runs before the first timed region. A cache entry is a
directory written to a temporary name and renamed into place, so an
interrupted run never leaves a half-written entry behind.

- ``pages``: the FIXTURES.md §1 pages table (``synth.generate_pages``),
  optionally with a share of rows arriving html-only (``text`` null).
- ``polygons``: ``synth.generate_polygons`` (pure function of n, seed).
- ``tables``: a seed-generated twin of the driver's sf fixture: the same
  ten tables, schemas, row counts and value distributions (TPC-H-ish
  star schema, an ``events`` stream, word-salad ``documents`` with
  planted near-duplicates, unit ``embeddings``).
- ``oracle``: DuckDB's answer to each query's ``oracle_sql()`` twin over
  those tables, cached next to them.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _cached(root: str, name: str, build) -> str:
    """Return ``root/name``, building it with ``build(tmp_dir)`` first if
    it is missing."""
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = os.path.join(root, f".tmp-{name}-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    try:
        build(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def pages(root: str, seed: int, n: int, html_only: float, files: int) -> str:
    """Parquet directory of ``n`` pages in ``files`` equal files. A
    ``html_only`` share of rows (drawn from the seed) has ``text`` null,
    so the pipeline must extract it from ``html``."""

    def build(tmp: str) -> None:
        from harvester_fgp_spark.synth import generate_pages

        pdf = generate_pages(n, seed=seed)
        if html_only:
            drop = np.random.default_rng(seed + 1).random(n) < html_only
            pdf["text"] = pdf["text"].where(~drop, None)
        t = pa.Table.from_pandas(pdf, preserve_index=False)
        i = t.schema.get_field_index("warc_ts")
        # Spark rejects pyarrow's default timestamp[ns]
        t = t.set_column(i, "warc_ts", t["warc_ts"].cast(pa.timestamp("us")))
        bounds = np.linspace(0, n, files + 1).astype(int)
        for k in range(files):
            _write(
                t.slice(bounds[k], bounds[k + 1] - bounds[k]),
                os.path.join(tmp, f"part-{k:03d}.parquet"),
            )

    return _cached(root, f"pages-s{seed}-n{n}-h{html_only}-f{files}", build)


def polygons(n: int, seed: int) -> pd.DataFrame:
    from harvester_fgp_spark.synth import generate_polygons

    return generate_polygons(n, seed=seed)


# --- the sf fixture twin ---------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DOC_LANGS = ["de", "en", "es", "fr", "zh"]
_DOC_LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: str, last: str, n: int) -> pa.Array:
    span = int((np.datetime64(last, "D") - np.datetime64(first, "D")).astype(int))
    d = np.datetime64(first, "D") + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _strings(fmt: str, keys) -> list[str]:
    return [fmt.format(k) for k in keys]


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word salad of 10-100 words; 5% are planted near-duplicates (an
    earlier document plus one word)."""
    texts: list[str] = []
    near_dup = rng.random(n) < 0.05
    for d in range(n):
        if near_dup[d] and d > 0:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            words = rng.integers(0, len(_DOC_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_DOC_VOCAB[w] for w in words))
    return texts


def generate_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (row counts match
    the driver fixture at sf0.01 and sf0.1)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_docs = int(1_000_000 * sf), int(50_000 * sf)
    n_users, n_vecs = max(int(15_000 * sf), 150), max(int(20_000 * sf), 500)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": _strings("NATION_{}", range(25)),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _strings("Customer#{:09d}", range(n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), s),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _strings("Supplier#{:09d}", range(n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": _strings("Brand#{}", rng.integers(1, 26, n_part)),
        "p_type": pa.array(rng.choice(_PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, f64),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), s),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + us.astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(_EVENTS, n_ev), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": _strings('{{"k": {}}}', rng.integers(0, 100, n_ev)),
    })
    texts = document_texts(rng, n_docs)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(_DOC_LANGS, n_docs, p=_DOC_LANG_P), s),
        "source": _strings("src{}", rng.integers(0, 20, n_docs)),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vec = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    return out


def tables(root: str, seed: int, sf: float) -> str:
    """Directory of ``<table>.parquet`` files, one row group each (the
    driver fixture's layout)."""

    def build(tmp: str) -> None:
        for name, t in generate_tables(seed, sf).items():
            _write(t, os.path.join(tmp, f"{name}.parquet"))

    return _cached(root, f"tables-s{seed}-sf{sf}", build)


def oracle(sf_dir: str, leaves: list[str], oracle_sql: dict[str, str]) -> dict:
    """DuckDB result of each leaf's oracle twin, cached as pickles in the
    tables directory this process wrote. Leaves without a twin map to
    None (they get a rows-only check)."""
    import duckdb

    out: dict[str, pd.DataFrame | None] = {}
    con = None
    for leaf in leaves:
        if leaf not in oracle_sql:
            out[leaf] = None
            continue
        path = os.path.join(sf_dir, f"oracle-{leaf}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')"
                    )
            tmp = f"{path}.{uuid.uuid4().hex[:8]}"
            con.execute(oracle_sql[leaf]).df().to_pickle(tmp)
            os.rename(tmp, path)
        out[leaf] = pd.read_pickle(path)
    if con is not None:
        con.close()
    return out
