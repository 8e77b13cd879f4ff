from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from harvester_fgp_spark.session import build_session

    s = build_session(
        app_name="hfs-tests", master="local[4]", shuffle_partitions=8
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


#: physical-plan node names of every Python boundary form
PYTHON_NODES = ("Python", "InPandas", "InArrow")


def plan_string(df) -> str:
    """Executed-plan toString — shared by every plan-shape assertion
    (was duplicated in three test modules)."""
    return df._jdf.queryExecution().executedPlan().toString()


def count_jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted under a fresh job group
    through the status tracker (AQE's per-stage jobs included)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
