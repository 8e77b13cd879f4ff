"""The benchmark's three workloads.

Each workload runs in one Spark session as a closed loop with one
client: the next op starts only when the previous one has finished.

- ``flagship``: seed-generated pages against 2,000 polygons through
  ``mine_records`` -> ``tile_summary`` -> noop sink. One op is one run
  of that job.
- ``ingest``: the ``jobs/run_pipeline.py`` sequence through the library:
  a quarter of the pages arrive html-only, 200 polygons, full records.
  One op is a commit (``write_records_and_checkpoint`` into fresh
  directories) followed by a resume against that checkpoint.
- ``query_mix``: the 18 ``bench.BENCH_QUERIES`` leaves over a
  seed-generated sf0.1 twin of the driver fixture, noop sink. One op is
  a pass over all leaves in an order shuffled by the seed.

A workload exposes ``prepare`` (inputs, before the session), ``load``
(in-session set-up: read inputs, build plans and the polygon index),
``prime`` (the first, untimed, output-checked op), ``op`` (one timed
op), ``check`` (output checks after the timed region), ``summary``
(the figures people quote: pages/s, resume, pass, p50, tail) and
``layers`` (per-layer metrics from a traced run).
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import sys
import time
from dataclasses import dataclass, field

import inputs
import kernels
import spans
from spans import Tracer

# module each query_mix leaf calls ("entry" = plain DataFrame code in
# __spark_entry__ itself); per-leaf metrics are reported under it
LEAF_MODULE = {
    "geo_box_tile_summary": "operators.geo",
    "geo_knn": "operators.geo",
    "geo_cell_encode": "operators.geo",
    "tpch_q1_pricing": "entry",
    "tpch_q3_revenue_topk": "entry",
    "window_top_orders": "entry",
    "rollup_orders": "entry",
    "sim_cosine_topk": "operators.similarity",
    "dedup_minhash": "operators.dedup",
    "text_analysis": "operators.textops",
    "tile_group_stats": "operators.groupstats",
    "decontaminate": "operators.dedup",
    "repetition_stats": "operators.textops",
    "semantic_dedup": "operators.similarity",
    "track_stats": "operators.geo",
    "geo_radius_search": "operators.geo",
    "hilbert_cell_encode": "operators.geo",
    "hilbert_range_scan": "operators.geo",
}


@dataclass
class Ctx:
    """What one benchmark run shares with its workload."""

    seed: int
    cache: str  # input cache, kept across runs
    scratch: str  # this run's outputs, removed at exit
    nproc: int
    tracer: Tracer
    spark: object = None
    ops: dict = field(default_factory=dict)  # op name -> succeeded

    def run(self, name: str, fn):
        """Run (part of) one op; an exception marks the op failed and the
        run goes on."""
        self.ops.setdefault(name, True)
        try:
            return fn()
        except Exception as ex:  # noqa: BLE001 - counted, reported, run continues
            self.fail(name, f"{type(ex).__name__}: {str(ex).splitlines()[0][:300]}")
            return None

    def fail(self, name: str, why: str) -> None:
        self.ops[name] = False
        print(f"FAILED {name}: {why}", file=sys.stderr, flush=True)

    def expect(self, name: str, ok: bool, why: str) -> None:
        if not ok:
            self.fail(name, why)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def fused_layers(wl, log, k: dict, ops: list) -> dict:
    """Per-op medians of the fused pipeline's Python-stage metrics for a
    pipeline workload ``wl`` (flagship or ingest)."""
    cols: dict[str, list[float]] = {}
    for sp in ops:
        st = spans.attach(log, wl.ctx.tracer.subtree(sp))
        sql = st.sql
        got = {
            "plans.pipeline.plan_s": st.plan_s,
            "plans.pipeline.python_run_s": sql.get("python_run_ms", 0.0) / 1e3,
            "plans.pipeline.python_init_s": (
                sql.get("python_start_ms", 0.0) + sql.get("python_init_ms", 0.0)
            ) / 1e3,
            "plans.pipeline.arrow_to_python_bytes": sql.get("arrow_to_python_bytes", 0.0),
            "plans.pipeline.arrow_from_python_bytes": sql.get("arrow_from_python_bytes", 0.0),
            "plans.pipeline.rows_out": sql.get("python_rows_out", 0.0),
            "operators.extract.python_rows_ratio":
                sql.get("python_rows_in", 0.0) / max(wl.n_pages, 1),
            "plans.pipeline.kernel_s": sum(wl.python_parts(st, k).values()),
        }
        for key, v in got.items():
            cols.setdefault(key, []).append(v)
    return {key: median(v) for key, v in cols.items()}


def within_rounding(g, x) -> bool:
    """True when two normalized frames differ only by one unit in the
    last place of rounded numbers.

    Leaves round libm-dependent values (trig, ln) before comparing, which
    is exact on the driver fixture, but on a fresh seed a value can land
    within a few ulps of a rounding boundary, where the JVM's and
    DuckDB's libm round it to neighbouring units (seen: one
    ``track_stats`` micro-unit in ~20 seeds). Text columns must still be
    equal, and numbers within 1 unit (integers) or 1e-9 relative."""
    import numpy as np
    import pandas as pd

    if g.shape != x.shape or list(g.columns) != list(x.columns):
        return False
    for c in g.columns:
        a, b = g[c], x[c]
        if pd.api.types.is_integer_dtype(a) and pd.api.types.is_integer_dtype(b):
            if (np.abs(a.to_numpy() - b.to_numpy()) > 1).any():
                return False
        elif pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            if not np.allclose(a.to_numpy(float), b.to_numpy(float), rtol=1e-9, atol=0,
                               equal_nan=True):
                return False
        elif not a.equals(b):
            return False
    print("note: output within one rounding unit of the oracle", file=sys.stderr)
    return True


class Flagship:
    name = "flagship"
    min_ops = 3
    # a traced flagship run also runs one ingest op in its session, so
    # the sink layer is measured on a workload the benchmark keeps
    companion = "ingest"

    def __init__(self, ctx: Ctx, pages: int = 40_000, polygons: int = 2_000) -> None:
        self.ctx, self.n_pages, self.n_poly = ctx, pages, polygons

    def prepare(self) -> None:
        c = self.ctx
        self.path = inputs.pages(c.cache, c.seed, self.n_pages, 0.0, 2 * c.nproc)
        self.polys = inputs.polygons(self.n_poly, c.seed)

    def load(self, spark) -> None:
        from harvester_fgp_spark.plans.pipeline import mine_records, tile_summary
        from harvester_fgp_spark.sources.tables import read_pages

        tr = self.ctx.tracer
        with tr.span("read_pages", "sources"):
            pages = read_pages(spark, self.path)
            pages.inputFiles()
        with tr.span("mine_records", "plans.pipeline"):
            self.job = tile_summary(
                mine_records(spark, pages, self.polys, keep_text=False)
            )
        self.pages = pages

    def prime(self) -> None:
        """The first op, untimed: collects ``tile_summary`` while its
        ``engine="native"`` twin runs beside it (both are untimed, and
        the cold twin alone takes ~12 s, so running them together keeps
        a run short), then runs the timed noop write once."""
        from concurrent.futures import ThreadPoolExecutor

        from harvester_fgp_spark.plans.pipeline import mine_records, tile_summary

        twin = tile_summary(mine_records(
            self.ctx.spark, self.pages, self.polys, keep_text=False, engine="native"
        ))
        with ThreadPoolExecutor(2) as pool:
            runs = [pool.submit(self.ctx.run, "prime", lambda df=df: digest(df.collect()))
                    for df in (self.job, twin)]
            self.fused, self.twin = (r.result() for r in runs)
        # the timed path itself once: without it the first timed op runs
        # ~25 % slower than the rest
        self.ctx.run("prime", lambda: noop(self.job))

    def op(self, i: int) -> float:
        t0 = time.perf_counter()
        noop(self.job)
        return time.perf_counter() - t0

    def check(self) -> None:
        self.ctx.expect(
            "prime", self.twin is not None and self.twin == self.fused,
            "tile_summary digest differs from the engine='native' twin",
        )

    def summary(self, op_s: list[float]) -> dict:
        return {"pages_per_s": (self.n_pages / median(op_s), "pages/s")}

    def python_parts(self, st, k: dict) -> dict:
        return kernels.python_parts(
            k, st.sql.get("python_rows_in", 0.0), st.sql.get("python_rows_out", 0.0),
            0.0, self.n_poly,
        )

    def layers(self, log, k: dict, ops: list) -> dict:
        return fused_layers(self, log, k, ops)


class Ingest:
    name = "ingest"
    min_ops = 2
    html_only = 0.25

    def __init__(self, ctx: Ctx, pages: int = 1_000, polygons: int = 200,
                 prefix: str = "") -> None:
        self.ctx, self.n_pages, self.n_poly = ctx, pages, polygons
        self.prefix = prefix  # op-name prefix when run beside another workload
        self.cycles: list[dict] = []

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        c = self.ctx
        self.path = inputs.pages(c.cache, c.seed, self.n_pages, self.html_only, c.nproc)
        self.polys = inputs.polygons(self.n_poly, c.seed)
        t = pq.read_table(self.path, columns=["text", "lang"]).to_pandas()
        # share of the fused stage's input rows that need extract_text
        # (the stage takes en/fr pages that are html-only or may hold a
        # coordinate or bbox payload)
        en_fr = t["lang"].isin(["en", "fr"])
        html = t["text"].isna()
        minable = t["text"].str.contains(",", regex=False) | t["text"].str.lower().str.contains(
            "west:", regex=False)
        into_stage = (en_fr & (html | minable.fillna(False))).sum()
        self.html_share = float((en_fr & html).sum()) / max(int(into_stage), 1)

    def load(self, spark) -> None:
        from harvester_fgp_spark.plans.pipeline import mine_records
        from harvester_fgp_spark.sinks import checkpoint as C
        from harvester_fgp_spark.sources.tables import read_pages

        tr = self.ctx.tracer
        with tr.span("read_pages", "sources"):
            pages = read_pages(spark, self.path)
            pages.inputFiles()
        with tr.span("mine_records", "plans.pipeline"):
            self.records = C.with_tile_id(mine_records(spark, pages, self.polys))

    def _cycle(self, tag: str) -> tuple[float, float]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from harvester_fgp_spark.sinks import checkpoint as C

        spark, tr = self.ctx.spark, self.ctx.tracer
        base = os.path.join(self.ctx.scratch, "ingest", tag)
        out, cp = os.path.join(base, "out"), os.path.join(base, "checkpoint")
        cyc = {"tag": tag, "out": out, "cp": cp, "run": f"bench-{tag}", "n": None}
        self.cycles.append(cyc)
        obs = Observation(f"run_metrics_{tag}")
        records = self.records.observe(obs, F.count(F.lit(1)).alias("n_records"))
        with tr.span(f"commit_{tag}", "sinks.checkpoint") as commit:
            t0 = time.perf_counter()
            C.write_records_and_checkpoint(records, out, cp, run_id=cyc["run"])
            commit_s = time.perf_counter() - t0
        cyc["n"] = obs.get["n_records"]
        with tr.span(f"resume_{tag}", "sinks.checkpoint") as resume:
            t0 = time.perf_counter()
            with tr.span("resume_filter", "sinks.checkpoint") as rf:
                pending = C.resume_filter(self.records, spark, cp)
            C.write_records_and_checkpoint(pending, out, cp, run_id=cyc["run"] + "-resume")
            resume_s = time.perf_counter() - t0
        cyc["spans"] = (commit, resume, rf)
        return commit_s, resume_s

    def prime(self) -> None:
        self.ctx.run(self.prefix + "prime", lambda: self._cycle("prime"))

    def op(self, i: int) -> tuple[float, float]:
        return self._cycle(f"op{i}")

    def check(self) -> None:
        from pyspark.sql import functions as F

        from harvester_fgp_spark.sinks import checkpoint as C

        spark, tr = self.ctx.spark, self.ctx.tracer
        for cyc in self.cycles:
            name = self.prefix + cyc["tag"]

            def audit(cyc=cyc):
                with tr.span(f"verify_{cyc['tag']}", "sinks.checkpoint"):
                    t0 = time.perf_counter()
                    bad = C.verify_lineage(spark, cyc["out"], cyc["cp"]).count()
                    cyc["verify_s"] = time.perf_counter() - t0
                sums = {
                    r["run_id"]: r["n"]
                    for r in C._read_checkpoint(spark, cyc["cp"])
                    .groupBy("run_id").agg(F.sum("row_count").alias("n")).collect()
                }
                return bad, sums

            got = self.ctx.run(name, audit)
            if got is None:
                continue
            bad, sums = got
            self.ctx.expect(name, bad == 0, f"verify_lineage found {bad} bad tiles")
            n = sums.get(cyc["run"])
            self.ctx.expect(
                name, n is not None and n == cyc["n"] and n > 0,
                f"lineage row_count {n} != records written {cyc['n']}",
            )
            resumed = sums.get(cyc["run"] + "-resume") or 0
            self.ctx.expect(name, resumed == 0, f"resume committed {resumed} rows")

    def summary(self, ops: list[tuple[float, float]]) -> dict:
        return {
            "pages_per_s": (self.n_pages / median([c for c, _ in ops]), "pages/s"),
            "resume_s": (median([r for _, r in ops]), "s"),
        }

    def python_parts(self, st, k: dict) -> dict:
        rows_in = st.sql.get("python_rows_in", 0.0)
        return kernels.python_parts(
            k, rows_in, st.sql.get("python_rows_out", 0.0), rows_in * self.html_share,
            self.n_poly,
        )

    def layers(self, log, k: dict, ops: list) -> dict:
        out = fused_layers(self, log, k, ops)
        cols: dict[str, list[float]] = {}
        for cyc in self.cycles:
            if cyc["tag"] == "prime" or "spans" not in cyc or not cyc["spans"][0]:
                continue
            commit, resume, rf = cyc["spans"]
            st = spans.attach(log, [commit.id])
            files = dirs = size = 0
            for root, dnames, fnames in os.walk(cyc["out"]):
                dirs += sum(d.startswith("tile_id=") for d in dnames)
                for f in fnames:
                    if f.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(root, f))
            got = {
                "sinks.checkpoint.commit_s": commit.seconds,
                "sinks.checkpoint.lineage_s": st.exec_walls[-1] if st.exec_walls else 0.0,
                "sinks.checkpoint.files_written": files,
                "sinks.checkpoint.dirs_written": dirs,
                "sinks.checkpoint.bytes_per_record": size / max(cyc["n"] or 0, 1),
                "sinks.checkpoint.resume_s": resume.seconds,
                "sinks.checkpoint.resume_filter_s": rf.seconds,
                "sinks.checkpoint.verify_s": cyc.get("verify_s", 0.0),
            }
            for key, v in got.items():
                cols.setdefault(key, []).append(v)
        out.update({key: median(v) for key, v in cols.items()})
        return out


#: leaves the untimed query_mix check pass runs at once
CHECK_THREADS = 3


class QueryMix:
    name = "query_mix"
    min_ops = 1

    def __init__(self, ctx: Ctx, sf: float = 0.1) -> None:
        self.ctx, self.sf = ctx, sf
        self.leaf_s: dict[str, list[float]] = {}
        self.leaf_spans: dict[str, list] = {}

    def prepare(self) -> None:
        import __spark_entry__ as E
        from bench import BENCH_QUERIES

        c = self.ctx
        self.leaves = list(BENCH_QUERIES)
        self.dir = inputs.tables(c.cache, c.seed, self.sf)
        self.expected = inputs.oracle(self.dir, self.leaves, E.oracle_sql())
        self.queries = E.queries()

    def load(self, spark) -> None:
        from harvester_fgp_spark.sources.tables import read_all_testdata

        with self.ctx.tracer.span("read_all_testdata", "sources"):
            for df in read_all_testdata(spark, self.dir).values():
                df.inputFiles()

    def _order(self, p: int) -> list[str]:
        order = list(self.leaves)
        random.Random(self.ctx.seed * 1000 + p).shuffle(order)
        return order

    def prime(self) -> None:
        """The check pass: every leaf collected once and compared with its
        DuckDB oracle twin, as tools/check_oracle.py does.

        It is untimed, and cold leaves spend most of their time in driver
        planning and Python worker start-up with cores idle, so it runs
        ``CHECK_THREADS`` leaves at a time: that cuts the run's wall time
        by ~15 s. The timed passes stay one
        leaf at a time."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            for done in [pool.submit(self._check, leaf) for leaf in self._order(-1)]:
                done.result()

    def _check(self, leaf: str) -> None:
        import pandas as pd

        from tools.check_oracle import normalize

        got = self.ctx.run(leaf, lambda: self.queries[leaf](self.ctx.spark, self.dir).toPandas())
        if got is None:
            return
        exp = self.expected[leaf]
        if exp is None:
            self._rows_only(leaf, got)
            return
        if len(got) != len(exp):
            self.ctx.fail(leaf, f"row count {len(got)} != oracle {len(exp)}")
            return
        g, x = normalize(got), normalize(exp)
        if list(g.columns) != list(x.columns):
            self.ctx.fail(leaf, f"columns {list(g.columns)} != oracle {list(x.columns)}")
            return
        try:
            pd.testing.assert_frame_equal(g, x, check_dtype=False, check_exact=True)
        except AssertionError as ex:
            if not within_rounding(g, x):
                self.ctx.fail(leaf, f"differs from oracle: {str(ex).splitlines()[0][:200]}")

    def _rows_only(self, leaf: str, got) -> None:
        """No oracle twin: the output must be non-empty and its digest
        stable across runs on the same inputs."""
        d = digest(got.astype(str).itertuples(index=False))
        path = os.path.join(self.dir, f"digest-{leaf}.txt")
        if not os.path.exists(path):
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(d)
        with open(path, encoding="utf-8") as fh:
            first = fh.read()
        self.ctx.expect(leaf, len(got) > 0, "no rows")
        self.ctx.expect(leaf, d == first, "digest differs from an earlier run")

    def op(self, p: int) -> float:
        spark, tr = self.ctx.spark, self.ctx.tracer
        total = 0.0
        for leaf in self._order(p):
            name = f"pass{p}.{leaf}"
            with tr.span(leaf, LEAF_MODULE[leaf]) as lsp:
                t0 = time.perf_counter()
                self.ctx.run(name, lambda leaf=leaf: noop(self.queries[leaf](spark, self.dir)))
                secs = time.perf_counter() - t0
            total += secs
            if self.ctx.ops[name]:
                self.leaf_s.setdefault(leaf, []).append(secs)
            if lsp:
                self.leaf_spans.setdefault(leaf, []).append(lsp)
        return total

    def check(self) -> None:
        """Outputs were checked by the prime pass; timed passes write to
        the noop sink and only count exceptions."""

    def summary(self, op_s: list[float]) -> dict:
        from stats import tail

        samples = [s for v in self.leaf_s.values() for s in v]
        value, pct, n = tail(samples)
        return {
            "mix_s": (median(op_s), "s"),
            "query_s.p50": (median(samples), "s"),
            "query_s.tail": (value, f"s (p{pct} of {n} queries)"),
        }

    def python_parts(self, st, k: dict) -> dict:
        return {}

    def layers(self, log, k: dict, ops: list) -> dict:
        out: dict[str, float] = {}
        for leaf, mod in LEAF_MODULE.items():
            out[f"{mod}.{leaf}_s"] = median(self.leaf_s.get(leaf, []))
            leaf_stats = [spans.attach(log, [s.id]) for s in self.leaf_spans.get(leaf, [])]
            out[f"{mod}.{leaf}.jobs"] = median([st.jobs for st in leaf_stats])
            # time no Spark job covers: planning, codegen, Py4J, AQE
            out[f"{mod}.{leaf}.driver_s"] = median([
                sp.seconds - min(st.job_wall_s, sp.seconds)
                for sp, st in zip(self.leaf_spans.get(leaf, []), leaf_stats)
            ])
        return out


WORKLOADS = {w.name: w for w in (Flagship, Ingest, QueryMix)}

#: toy sizes for the smoke mode
SMOKE = {
    "flagship": {"pages": 2_000, "polygons": 200},
    "ingest": {"pages": 200, "polygons": 200},
    "query_mix": {"sf": 0.01},
}
