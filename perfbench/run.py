"""Same-host benchmark of the engine: one command, three workloads.

  python3 perfbench/run.py --workload {flagship,ingest,query_mix} \\
      --seed N --seconds S --trace {0,1}
  python3 perfbench/run.py --smoke      # all workloads at toy size

Run it from the repository root. One process, one Spark session at
``local[<cores>]``, one client in a closed loop. Inputs are generated
from the seed and cached under ``.perfbench/`` before anything is timed.

A run: set up ``SETUPS`` times (build the session, load the inputs,
build plans and the polygon index, spawn the Python workers with a
light warm-up op; ``setup_s`` is the median) -> one untimed, output-
checked prime op -> timed ops until ``--seconds`` have passed and the
workload's minimum number of ops is done -> output checks. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``, the end-to-end metrics with ``--trace 0`` and the
per-layer metrics with ``--trace 1`` (event log on, spans around each
layer call, kernel pass after the session stops). Lines before it show
the figures by the names people use (pages/s, resume, mix, p50, tail).
Before it exits, on every path, the run stops the gateway JVM and waits
until it, the PySpark daemon and every worker have ended.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import procs
from workloads import LEAF_MODULE

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s", "session.warm_up_s": "s", "session.prime_s": "s",
    "sources.scan_s": "s", "sources.bytes_read": "bytes",
    "operators.extract.python_rows_ratio": "ratio",
    "operators.extract.extract_us_per_page": "us",
    "plans.pipeline.plan_s": "s", "plans.pipeline.python_run_s": "s",
    "plans.pipeline.python_init_s": "s", "plans.pipeline.arrow_to_python_bytes": "bytes",
    "plans.pipeline.arrow_from_python_bytes": "bytes", "plans.pipeline.rows_out": "count",
    "plans.pipeline.kernel_s": "s",
    "functions.text.mine_us_per_page": "us", "functions.text.payloads_per_page": "count",
    **{
        f"geo.pip.{m}_{n}": u
        for n in (200, 2000)
        for m, u in (("index_build_s", "s"), ("index_bytes", "bytes"),
                     ("match_us_per_point", "us"), ("candidates_per_point", "count"),
                     ("match_ratio", "ratio"))
    },
    "sinks.checkpoint.commit_s": "s", "sinks.checkpoint.lineage_s": "s",
    "sinks.checkpoint.files_written": "count", "sinks.checkpoint.dirs_written": "count",
    "sinks.checkpoint.bytes_per_record": "bytes", "sinks.checkpoint.resume_s": "s",
    "sinks.checkpoint.resume_filter_s": "s", "sinks.checkpoint.verify_s": "s",
    "functions.tokens.gram_hashes_ns_per_byte": "ns",
    **{f"{mod}.{leaf}_s": "s" for leaf, mod in LEAF_MODULE.items()},
    **{f"{mod}.{leaf}.jobs": "count" for leaf, mod in LEAF_MODULE.items()},
    **{f"{mod}.{leaf}.driver_s": "s" for leaf, mod in LEAF_MODULE.items()},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "bytes",
    "spark.task_failures": "count", "spark.action_floor_s": "s",
    **{
        f"self_s.{layer}": "s"
        for layer in ("driver", "sources", "spark.scheduler", "spark.shuffle",
                      "spark.jvm_operators", "python.init", "python.other",
                      "functions.text", "geo.pip", "operators.extract", "total")
    },
    "trace.op_s": "s", "trace.op_cpu_s": "s",
}


def _environment(nproc: int) -> None:
    """Process environment the session and its Python workers inherit:
    the engine importable, every temporary file inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(path), TMPDIR=tmp, PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEM="2g",
        # overrides spark.local.dir, so an inherited value would put
        # shuffle and block files outside the checkout
        SPARK_LOCAL_DIRS=tmp,
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _session(nproc: int, scratch: str, event_dir: str | None):
    from harvester_fgp_spark.session import build_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # the whole 2 GB heap (SPARK_DRIVER_MEM) resident from the start, so
        # peak RSS measures the workers and off-heap memory, not how far
        # the JVM happened to grow its heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -Xms2g -XX:+AlwaysPreTouch"
        ),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
        })
    # shuffle partitions as the tests and tools/check_oracle.py size them
    # for a small host; build_session's own default floors at 32
    return build_session(app_name="perfbench", master=f"local[{nproc}]",
                         shuffle_partitions=2 * nproc, extra_conf=conf)


def _warm_up(spark, nproc: int) -> None:
    """Spawn one Python worker per core and import the engine's kernels."""

    def fn(batches):
        import harvester_fgp_spark.functions.tokens  # noqa: F401
        import harvester_fgp_spark.operators.dedup  # noqa: F401
        import harvester_fgp_spark.operators.similarity  # noqa: F401
        import harvester_fgp_spark.operators.textops  # noqa: F401
        import harvester_fgp_spark.plans.pipeline  # noqa: F401

        yield from batches

    spark.range(0, nproc, 1, nproc).mapInArrow(fn, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def run_workload(name: str, seed: int, seconds: float, traced: bool,
                 sizes: dict | None = None, setups: int = SETUPS,
                 min_ops: int | None = None) -> dict:
    import kernels
    import stats
    import spans
    from workloads import WORKLOADS, Ctx

    nproc = len(os.sched_getaffinity(0))
    scratch = os.path.join(WORK, f"run-{os.getpid()}-{name}")
    event_dir = os.path.join(scratch, "eventlog") if traced else None
    tr = spans.Tracer(enabled=traced)
    ctx = Ctx(seed=seed, cache=os.path.join(WORK, "inputs"), scratch=scratch,
              nproc=nproc, tracer=tr)
    os.makedirs(ctx.cache, exist_ok=True)
    wl = WORKLOADS[name](ctx, **(sizes or {}))
    spark = None
    try:
        t0 = time.perf_counter()
        wl.prepare()
        inputs_s = time.perf_counter() - t0
        setup_s, start_s, warm_s = [], [], []
        for _ in range(setups):
            if spark is not None:
                spark.stop()
                tr.spark = None
            t0 = time.perf_counter()
            with tr.span("setup", "session"):
                with tr.span("build_session", "session"):
                    spark = _session(nproc, scratch, event_dir)
                start_s.append(time.perf_counter() - t0)
                tr.spark = ctx.spark = spark
                wl.load(spark)
                t1 = time.perf_counter()
                with tr.span("warm_up", "session"):
                    _warm_up(spark, nproc)
                warm_s.append(time.perf_counter() - t1)
            setup_s.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        with tr.span("prime", "session"):
            wl.prime()
        prime_s = time.perf_counter() - t0

        ops, cpus, op_spans, i = [], [], [], 0
        me = os.getpid()
        need = wl.min_ops if min_ops is None else min_ops
        deadline = time.monotonic() + seconds
        host0 = procs.host_jiffies()
        while i < need or time.monotonic() < deadline:
            with tr.span(f"op{i}", name) as sp:
                c0 = procs.cpu_seconds(me)
                t0 = time.perf_counter()
                got = ctx.run(f"op{i}", lambda i=i: wl.op(i))
                op_wall = time.perf_counter() - t0
                op_cpu = procs.cpu_seconds(me) - c0
            if got is not None:
                ops.append(got)
                cpus.append(op_cpu)
                if sp:
                    op_spans.append((sp, op_wall))
            i += 1

        host1 = procs.host_jiffies()
        rss_mb = procs.peak_rss_mb(os.getpid())
        t0 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t0
        comp, comp_spans = None, []
        if traced and getattr(wl, "companion", None):
            comp = WORKLOADS[wl.companion](ctx, prefix=wl.companion + ".")
            comp.prepare()
            comp.load(spark)
            comp.prime()
            with tr.span("op0", comp.name) as sp:
                if ctx.run(f"{comp.name}.op0", lambda: comp.op(0)) is not None:
                    comp_spans.append(sp)
            comp.check()
        floor = []
        if traced:
            from workloads import noop

            for _ in range(5):
                t0 = time.perf_counter()
                noop(spark.range(0, 1, 1, 1))
                floor.append(time.perf_counter() - t0)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        spark = None

        attempted, failed, failed_ratio, ok_ratio = stats.failure_ratios(ctx.ops)
        op_s = [sum(o) if isinstance(o, tuple) else o for o in ops]
        e2e = {
            "setup_s": statistics.median(setup_s),
            "op_cpu_s": statistics.median(cpus) if cpus else 0.0,  # no op: run is failed
            "ok_ratio": ok_ratio,
            "peak_rss_mb": rss_mb,
        }
        human = {"failed_ratio": (failed_ratio, "ratio")}
        if op_s:
            human["op_s"] = (statistics.median(op_s), "s")
        human["steal_share"] = (
            (host1[1] - host0[1]) / max(host1[0] - host0[0], 1), "of host CPU time, timed ops")
        if ops:
            human.update(wl.summary(ops))
        result = {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "e2e": e2e, "human": human, "setups": setup_s, "prime_s": prime_s,
            "ops": len(ops), "inputs_s": inputs_s, "check_s": check_s,
        }
        if traced:
            log = spans.parse_event_log(event_dir, app_id)
            k = kernels.kernel_pass(seed)
            layers = {m: 0.0 for m in PER_LAYER}
            layers.update(k)
            layers["session.start_s"] = statistics.median(start_s)
            layers["session.warm_up_s"] = statistics.median(warm_s)
            layers["session.prime_s"] = prime_s
            layers["spark.action_floor_s"] = statistics.median(floor)
            layers["trace.op_s"] = statistics.median(w for _, w in op_spans) if op_spans else 0.0
            layers["trace.op_cpu_s"] = e2e["op_cpu_s"]
            per_op: dict[str, list[float]] = {}
            for sp, wall in op_spans:
                st = spans.attach(log, tr.subtree(sp))
                got = {
                    "spark.jobs": st.jobs, "spark.stages": st.stages, "spark.tasks": st.tasks,
                    "spark.executor_run_s": st.executor_run_s,
                    "spark.executor_cpu_s": st.executor_cpu_s, "spark.gc_s": st.gc_s,
                    "spark.scheduler_delay_s": st.scheduler_delay_s,
                    "spark.shuffle_write_bytes": st.shuffle_write_bytes,
                    "spark.shuffle_fetch_wait_s": st.shuffle_fetch_wait_s,
                    "spark.spill_bytes": st.spill_bytes, "spark.task_failures": st.task_failures,
                    "sources.bytes_read": st.bytes_read,
                    "sources.scan_s": st.sql.get("scan_ms", 0.0) / 1e3,
                }
                split = spans.split_wall(wall, st, wl.python_parts(st, k))
                got.update({f"self_s.{layer}": v for layer, v in split.items()})
                got["self_s.total"] = sum(split.values())
                for key, v in got.items():
                    per_op.setdefault(key, []).append(v)
            layers.update({key: statistics.median(v) for key, v in per_op.items()})
            layers.update(wl.layers(log, k, [sp for sp, _ in op_spans]))
            if comp is not None:
                layers.update({
                    m: v for m, v in comp.layers(log, k, comp_spans).items()
                    if m.startswith("sinks.")
                })
            result["layers"] = layers
        return result
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)


def _print_result(name: str, seed: int, res: dict, traced: bool) -> None:
    setups = ", ".join(f"{s:.3f}" for s in res["setups"])
    print(f"# {name} seed={seed}: inputs {res['inputs_s']:.3f} s, setups [{setups}] s, "
          f"prime {res['prime_s']:.3f} s, {res['ops']} timed ops, checks {res['check_s']:.3f} s, "
          f"attempted {res['attempted']}, failed {res['failed']}")
    for key, (v, unit) in res["human"].items():
        print(f"# {name} {key} = {v:.6g} {unit}")
    if traced:
        metrics = {m: {"value": res["layers"][m], "unit": u} for m, u in PER_LAYER.items()}
    else:
        metrics = {m: {"value": res["e2e"][m], "unit": u} for m, u in END_TO_END.items()}
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }), flush=True)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=("flagship", "ingest", "query_mix"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at toy size, traced, in about a minute")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")
    if not os.path.isdir(os.path.join(ROOT, "harvester_fgp_spark")):
        print(f"engine package not found under {ROOT}; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    _environment(len(os.sched_getaffinity(0)))
    procs.become_subreaper()
    # a SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args)
    finally:
        left = procs.stop_all()
        if left:
            print(f"stopped {len(left)} process(es) that outlived the session: {left}",
                  file=sys.stderr)


def _run(args) -> int:
    if args.smoke:
        from workloads import SMOKE

        ok = True
        for name, sizes in SMOKE.items():
            res = run_workload(name, args.seed, 0.0, True, sizes, setups=1, min_ops=1)
            _print_result(name, args.seed, res, True)
            ok &= res["correct"]
        return 0 if ok else 1
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    _print_result(args.workload, args.seed, res, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
