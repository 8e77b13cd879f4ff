"""Round 3: the zero-Python pipeline engine must be record-identical to
the fused mapInArrow engine, and its text-row plan must contain no
Python boundary at all."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from harvester_fgp_spark.functions.text import mine_payloads
from harvester_fgp_spark.operators.extract import payloads_native_col
from harvester_fgp_spark.plans.pipeline import mine_records
from harvester_fgp_spark.synth import generate_polygons, pages_df


def test_native_miner_equals_python_kernel(spark):
    """payloads_native_col (Java regex + codegen) vs mine_payloads
    (Python re) over synth pages + adversarial fixtures — exact per-row
    payload-list equality, including ordinals, antimeridian boxes, bbox
    masking, range rejections and non-ASCII whitespace/case folds."""
    pages = pages_df(spark, 2000, seed=42).select("url", "text")
    extra = spark.createDataFrame(
        [
            ("u1", "west: 177.0 east: -178.0 south: -20.0 north: -15.0 and 45.5, -75.25 x"),
            ("u2", "north: 4, 5.5 west: 10 east: 20 south: 1 north: 3"),
            ("u3", "WEST: -80.5 EAST: -70.25 SOUTH: 40.75 NORTH: 50.1"),
            ("u4", "no geo here at all"),
            ("u5", "999.0, 999.0 edge -90.0, -180.0 and 90, 180"),
            ("u6", "45.5,-75.25 then west: 10 east: -10 south: 5 north: 0"),
            # non-ASCII separators / case folds: Java regex is ASCII-only
            ("u7", "45.5,\u00a0-75.25"),
            ("u8", "west:\u2003-80.5\u2003east: -70.25 south: 40.75 north: 50.1"),
            ("u9", "we\u017ft: -80.5 east: -70.25 south: 40.75 north: 50.1"),
        ],
        "url string, text string",
    )
    rows = (
        pages.unionByName(extra)
        .withColumn("p", payloads_native_col(F.col("text")))
        .collect()
    )
    for r in rows:
        got = [p.asDict() for p in (r.p or [])]
        assert got == mine_payloads(r.text), r.url


def test_native_engine_record_identical_to_fused(spark):
    """Full mine_records: engine='native' == engine='fused' as row SETS
    (including html-only pages that exercise the native engine's Python
    fallback branch), for both keep_text settings and with multi-ring
    polygons."""
    pages = pages_df(spark, 1200, seed=42)
    # blank out text on a slice so the fallback branch carries real rows
    pages = pages.withColumn(
        "text",
        F.when(F.xxhash64("url") % 7 == 0, F.lit(None)).otherwise(
            F.col("text")
        ),
    )
    polys = generate_polygons(60, seed=42, holes=True)
    for keep_text in (True, False):
        a = mine_records(
            spark, pages, polys, keep_text=keep_text, engine="fused"
        ).collect()
        b = mine_records(
            spark, pages, polys, keep_text=keep_text, engine="native"
        ).collect()
        ka = sorted(map(tuple, a))
        kb = sorted(map(tuple, b))
        assert len(ka) > 100
        assert ka == kb, f"keep_text={keep_text}"


def test_unknown_engine_is_refused(spark):
    """A misspelt engine must fail at build time, not silently run the
    fused plan."""
    pages = pages_df(spark, 20, seed=3)
    polys = generate_polygons(5, seed=3)
    with pytest.raises(ValueError, match="engine"):
        mine_records(spark, pages, polys, engine="nativ")


def test_native_text_plan_has_zero_python(spark):
    """The miner+PIP+finalize subplan for text rows must contain no
    ArrowEvalPython / MapInPandas / BatchEvalPython node; exactly one
    MapInArrow remains in the full plan (the html fallback branch)."""
    pages = pages_df(spark, 300, seed=1)
    polys = generate_polygons(30, seed=1)
    df = mine_records(spark, pages, polys, engine="native", keep_text=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1  # only the html-only fallback
    assert "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    # and the flagship aggregate over it still answers correctly
    from harvester_fgp_spark.plans.pipeline import tile_summary

    assert tile_summary(df).count() > 0
