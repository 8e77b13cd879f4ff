"""Plan-shape assertions (SURVEY.md §7.4-6).

True 10^12 scale is unreachable in the sandbox, so the scale features are
asserted on the PLAN: filters reach the parquet scan, small dims broadcast,
native geo queries contain no Python boundary, UDF stages are Arrow-batched.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as E


from tests.conftest import plan_string as _plan


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    q = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" in plan
    # column pruning: scan reads only the two needed columns
    assert "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string>" in plan


def test_native_geo_query_has_no_python_boundary(spark, sf_dir):
    """G1/G3/G7 stay in whole-stage codegen — zero ArrowEvalPython."""
    for name in ("geo_cell_encode", "geo_tile_assign", "geo_box_join"):
        df = E.queries()[name](spark, sf_dir)
        df.collect()  # execute THIS plan so AQE finalizes it in place
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan, name
        assert "BatchEvalPython" not in plan, name
        # '*(n)' prefixes mark whole-stage-codegen spans in plan toString
        assert "*(1)" in plan, f"{name}: {plan[:500]}"


def test_box_cover_join_is_broadcast(spark, sf_dir):
    plan = _plan(E.queries()["geo_box_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_udf_stages_are_arrow_batched(spark, sf_dir):
    """Python stages must be Arrow-batched ``mapInArrow``, never
    row-pickled BatchEvalPython."""
    plan = _plan(E.queries()["text_analysis"](spark, sf_dir))
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan


def test_map_in_arrow_surface_plans_as_arrow_node(spark, sf_dir):
    """§2.11 mapInArrow (round 3): exactly one Arrow map node, and the
    native byte-length/sha parts stay OUT of it (computed JVM-side)."""
    plan = _plan(E.queries()["media_meta_arrow"](spark, sf_dir))
    assert plan.count("PythonMapInArrow") == 1 or plan.count("MapInArrow") >= 1
    assert "FlatMapGroupsInPandas" not in plan


def test_pipeline_has_single_fused_python_stage(spark):
    """The whole extract->mine->explode->PIP portion is ONE Python stage
    (worker-per-UDF-node cost dominated scaling — see plans.pipeline),
    and raw html only enters it behind the text-is-null guard."""
    from harvester_fgp_spark.plans.pipeline import mine_records
    from harvester_fgp_spark.synth import generate_polygons, pages_df

    records = mine_records(spark, pages_df(spark, 200, seed=42),
                           generate_polygons(20, seed=42))
    plan = _plan(records)
    assert plan.count("MapInArrow") == 1, plan[:2000]
    assert "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    # html is guarded: CASE WHEN isnull(text) THEN html feeds the stage
    assert "CASE WHEN" in plan and "html" in plan


def test_aqe_and_arrow_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    )


def test_partition_pruning(spark, tmp_path):
    """Date predicates prune partitions at the scan (SURVEY §4)."""
    from harvester_fgp_spark.sources.layout import (
        read_pages_layout,
        write_pages_layout,
    )
    from harvester_fgp_spark.synth import pages_df

    path = str(tmp_path / "pages_layout")
    write_pages_layout(pages_df(spark, 300, seed=42), path)
    df = read_pages_layout(spark, path, date_from="2024-01-10", date_to="2024-01-12")
    plan = _plan(df)
    assert "PartitionFilters" in plan and "crawl_date" in plan
    # behavior, not just plan text: only in-range dates come back
    dates = {str(r.crawl_date) for r in df.select("crawl_date").distinct().collect()}
    assert dates and all("2024-01-10" <= d <= "2024-01-12" for d in dates)


def test_decontaminate_bench_side_broadcasts(spark, sf_dir):
    """The eval-set gram join must be a broadcast (bench sets are MBs
    against a TB corpus) — decontamination that shuffles the corpus gram
    stream against a shuffled bench side would not survive 100x. Round
    8: the corpus side must ALSO be shuffle-free up to the semi-join —
    grams are hashed and per-doc-deduped inside one Arrow kernel, so
    the only Exchange left of the final groupBy is the broadcast build;
    the old corpus-wide (id, wh) distinct shuffle is gone."""
    df = E.queries()["decontaminate"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    # operator-level shape: the only hash-partitioned Exchanges are the
    # final per-doc groupBy over contaminated survivors and the bench
    # side's distinct (broadcast build) — the corpus gram stream itself
    # must never shuffle
    from harvester_fgp_spark.operators.dedup import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    op = decontaminate(docs, bench)
    op.collect()
    # AQE explain output repeats the tree under "== Initial Plan ==" —
    # count nodes in the final section only
    op_plan = _plan(op).split("== Initial Plan ==")[0]
    assert op_plan.count("Exchange hashpartitioning") <= 2
    assert op_plan.count("MapInArrow") == 2


def test_dbscan_neighbor_join_is_equi_not_nlj(spark, sf_dir):
    """The DBSCAN candidate join must be a hash/sort-merge equi-join on
    the (cx, cy) cell key — a nested-loop/cartesian plan would be the
    all-pairs shape the grid exists to avoid."""
    from harvester_fgp_spark.operators.cluster import eps_neighbor_pairs
    from harvester_fgp_spark.plans import derived as D

    pairs = eps_neighbor_pairs(
        D.dbscan_points(spark, sf_dir), D.DBSCAN_EPS, id_col="pid"
    )
    pairs.collect()
    plan = _plan(pairs)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_record_sink_partition_pruning(spark, tmp_path):
    """The S4 sink partitions by tile_id precisely so tile-scoped reads
    prune directories at planning time: a tile_id filter must appear as
    a PartitionFilter on the scan (zero data files from other tiles are
    opened), not as a post-scan Filter over everything."""
    import pyspark.sql.functions as F2

    from harvester_fgp_spark.plans.pipeline import mine_records
    from harvester_fgp_spark.sinks import checkpoint as C
    from harvester_fgp_spark.synth import generate_polygons, pages_df

    out = str(tmp_path / "records")
    records = C.with_tile_id(
        mine_records(spark, pages_df(spark, 400, seed=42), generate_polygons(40, seed=42))
    )
    C.write_records_and_checkpoint(records, out, str(tmp_path / "cp"), run_id="r")
    one_tile = records.select("tile_id").first()["tile_id"]
    q = spark.read.parquet(out).filter(F2.col("tile_id") == one_tile)
    q.count()
    plan = _plan(q)
    assert f"PartitionFilters: [isnotnull(tile_id" in plan
    # the tile predicate must NOT survive as a row-level PushedFilter —
    # it is satisfied by directory pruning alone
    assert "PushedFilters: []" in plan


def test_ivf_pq_code_scan_is_equi_join(spark, sf_dir):
    """IVF-PQ's code scan must join queries to code lists on the int
    cell key (hash/SMJ equi-join): the ONLY nested-loop allowed is the
    16-row broadcast centroid probe — a second NLJ would mean the scan
    degenerated to plain-PQ's labeled brute force."""
    from pyspark.sql import functions as F

    from harvester_fgp_spark.operators.similarity import ivf_pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    res = ivf_pq_topk(emb, queries, k=2)
    res.collect()
    plan = _plan(res)
    assert "CartesianProduct" not in plan
    # AQE prints the final AND initial plans — count in the final only:
    # exactly one NLJ, the tiny centroid-probe crossJoin
    final = plan.split("== Initial Plan", 1)[0]
    assert final.count("BroadcastNestedLoopJoin") == 1
    assert ("SortMergeJoin" in final) or ("ShuffledHashJoin" in final) or (
        final.count("BroadcastHashJoin") >= 2  # cell scan + rerank
    )
