"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 and compares it
to ``oracle_sql()`` executed by DuckDB on the same parquet: row count,
column names/dtypes, and exact sorted-value equality. Exit code != 0 on
any mismatch. Usage: python tools/check_oracle.py [sf_dir] [query ...]
(or `make oracle`, which sizes the session to this host's cores).
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("datetime64"):
            # canonical unit: Spark toPandas -> ns, DuckDB -> us; NaT in
            # mixed units breaks assert_frame_equal
            df[c] = df[c].astype("datetime64[ns]")
        elif str(df[c].dtype) == "object":
            # decimals -> float, arrays/lists -> tuples (sortable/hashable)
            def _canon(v):
                if hasattr(v, "as_tuple"):
                    return float(v)
                if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
                    return tuple(
                        int(e) if isinstance(e, (int,)) or hasattr(e, "item") else e
                        for e in (v.tolist() if hasattr(v, "tolist") else v)
                    )
                return v

            df[c] = df[c].map(_canon)
    sort_cols = list(df.columns)
    return df.sort_values(sort_cols, ignore_index=True)


def main() -> int:
    import __spark_entry__ as E
    from harvester_fgp_spark.session import build_session

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    # cores from SPARK_GRAFT_CPUS (`make oracle` sets it from nproc)
    spark = build_session(shuffle_partitions=8)
    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"spark error: {ex}"))
            print(f"FAIL {name}: spark error: {str(ex)[:300]}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(got)} rows)")
            if len(got) == 0 and name != "set_except_customers":
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"duckdb error: {ex}"))
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            continue
        if len(got) != len(exp):
            failures.append((name, f"row count {len(got)} != {len(exp)}"))
            print(f"FAIL {name}: row count {len(got)} != {len(exp)}")
            continue
        g, x = normalize(got), normalize(exp)
        if list(g.columns) != list(x.columns):
            failures.append((name, f"columns {list(g.columns)} != {list(x.columns)}"))
            print(f"FAIL {name}: columns {list(g.columns)} != {list(x.columns)}")
            continue
        try:
            pd.testing.assert_frame_equal(g, x, check_dtype=False, check_exact=True)
            print(f"ok   {name}: {len(got)} rows exact-match")
        except AssertionError as ex:
            failures.append((name, "value mismatch"))
            print(f"FAIL {name}: value mismatch\n{str(ex)[:600]}")
            diff = g.compare(x) if g.shape == x.shape else None
            if diff is not None and len(diff):
                print(diff.head(5).to_string())
    spark.stop()
    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
