"""Salt chooser + kNN ring expansion."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from harvester_fgp_spark.operators import geo as G
from harvester_fgp_spark.operators.joins import choose_salt_factor


def test_choose_salt_factor_detects_hot_key(spark):
    # one key holds 80% of rows; with a tiny target, salting kicks in
    pdf = pd.DataFrame({"k": ["hot"] * 8000 + [f"c{i}" for i in range(2000)]})
    df = spark.createDataFrame(pdf)
    s = choose_salt_factor(
        df, "k", sample_fraction=0.5, target_rows_per_task=1000
    )
    assert 4 <= s <= 64
    # uniform keys -> no salting
    pdf2 = pd.DataFrame({"k": [f"c{i % 100}" for i in range(5000)]})
    s2 = choose_salt_factor(
        spark.createDataFrame(pdf2), "k", sample_fraction=0.5,
        target_rows_per_task=1000,
    )
    assert s2 <= 2


def test_knn_ring_expansion_fills_sparse_neighborhoods(spark):
    rng = np.random.default_rng(21)
    # queries in a sparse corner, candidates clustered far away ->
    # fine prefix yields nothing; expansion must still return k rows
    q = pd.DataFrame(
        {"qid": np.arange(5), "q_lat": rng.uniform(50.0, 50.2, 5),
         "q_lon": rng.uniform(-100.2, -100.0, 5)}
    )
    c = pd.DataFrame(
        {"cid": np.arange(50), "c_lat": rng.uniform(53.0, 55.0, 50),
         "c_lon": rng.uniform(-95.0, -90.0, 50)}
    )
    qdf = spark.createDataFrame(q).withColumn(
        "cell_id", G.cell_encode_col(F.col("q_lon"), F.col("q_lat"), 12)
    )
    cdf = spark.createDataFrame(c).withColumn(
        "cell_id", G.cell_encode_col(F.col("c_lon"), F.col("c_lat"), 12)
    )
    strict = G.knn_join(
        qdf, cdf, k=3, query_id="qid", cand_id="cid", prefix_level=6,
        expand_underfilled=False,
    )
    assert strict.count() == 0  # fine neighborhoods are empty
    expanded = G.knn_join(
        qdf, cdf, k=3, query_id="qid", cand_id="cid", prefix_level=6,
        expand_underfilled=True,
    )
    got = expanded.groupBy("qid").count().collect()
    # prefix_level-2 = level 4 (~22 degree cells) reaches the cluster
    assert {r["count"] for r in got} == {3} and len(got) == 5


def test_asof_tolerance_and_forward(spark):
    """merge_asof surface: forward direction + tolerance vs brute force."""
    import datetime as dt

    from harvester_fgp_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    ts = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "lts": [ts(10), ts(100), ts(10)]})
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {"k": [1, 1, 2], "rts": [ts(12), ts(300), ts(9)], "v": [1.0, 2.0, 3.0]}
        )
    )
    fwd = {
        (r.k, r.lts): r.asof_v
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            value_cols=["v"], direction="forward",
        ).collect()
    }
    # k=1 @10 -> next right @12 (v=1); k=1 @100 -> @300 (v=2); k=2 @10 -> none
    assert fwd == {(1, ts(10)): 1.0, (1, ts(100)): 2.0, (2, ts(10)): None}
    # with 1-hour tolerance the @300 match (200 min away) is nulled
    tol = {
        (r.k, r.lts): r.asof_v
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            value_cols=["v"], direction="forward", tolerance="1 HOUR",
        ).collect()
    }
    assert tol == {(1, ts(10)): 1.0, (1, ts(100)): None, (2, ts(10)): None}
    # inner + tolerance drops the out-of-tolerance and unmatched rows
    inner = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        value_cols=["v"], direction="forward", tolerance="1 HOUR", how="inner",
    ).collect()
    assert len(inner) == 1 and inner[0].asof_v == 1.0


def test_interval_join_is_equi_join(spark, sf_dir):
    """Temporal range join plans as an equi-join on the bucket key —
    no BroadcastNestedLoopJoin / CartesianProduct — and matches the
    theta-join result exactly."""
    import __spark_entry__ as E

    df = E.queries()["interval_join_events"](spark, sf_dir)
    rows = {r.iv_id: r.n_clicks for r in df.collect()}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # brute-force theta oracle on the same slice
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    iv = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("iv_id"), F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("e"))
    cl = ev.filter(F.col("event_type") == "click").select(F.col("ts").alias("cts"))
    brute = {
        r.iv_id: r.n
        for r in iv.join(cl, (F.col("cts") >= F.col("s")) & (F.col("cts") <= F.col("e")))
        .groupBy("iv_id").agg(F.count("*").alias("n")).collect()
    }
    assert rows == brute
