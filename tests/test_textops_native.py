"""Round-3 kernel hardening: the fused lang/quality kernel must equal the
scalar oracles per row, and the now-native token count / fingerprint
expressions must equal the Python kernels bit-for-bit."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from harvester_fgp_spark.functions import text as T


def _texts() -> pd.Series:
    from harvester_fgp_spark.synth import generate_pages

    pdf = generate_pages(500, seed=7)
    extra = pd.Series(
        [
            None,
            "",
            "!!!???###",
            "the of and to in a is that it was for on",
            "la carte de la rivière et du lac est dans le nord",
            "zzz qqq xxx",
            "word " * 600,  # past the 500-word lang-ID truncation
            "a, b; c: d! 45.2, -75.1",
        ]
    )
    return pd.concat([pdf["text"], extra], ignore_index=True)


def test_fused_lang_quality_equals_canonical_kernels():
    texts = _texts()
    for t in texts:
        t = None if t is None or (isinstance(t, float) and pd.isna(t)) else t
        assert T.lang_quality(t) == (T.detect_lang(t), T.quality_score(t))


def test_native_token_and_fingerprint_equal_kernels(spark, sf_dir):
    """token_count_col / fingerprint64_col (pure JVM expressions) vs the
    Python kernels over the real driver documents."""
    from harvester_fgp_spark.operators.textops import (
        fingerprint64_col,
        token_count_col,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    rows = (
        docs.withColumn("n_tok", token_count_col(F.col("text")))
        .withColumn("fp", fingerprint64_col(F.col("text")))
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        assert r.n_tok == T.token_count(r.text), r.doc_id
        assert r.fp == T.fingerprint64(r.text), r.doc_id


def test_native_token_and_fingerprint_null_handling(spark):
    from harvester_fgp_spark.operators.textops import (
        fingerprint64_col,
        token_count_col,
    )

    df = spark.createDataFrame([(None,), ("",), ("a b",)], "text string")
    rows = (
        df.select(
            token_count_col(F.col("text")).alias("n"),
            fingerprint64_col(F.col("text")).alias("fp"),
        )
        .collect()
    )
    assert [r.n for r in rows] == [0, 0, 2]
    assert rows[0].fp == 0 and rows[1].fp == T.fingerprint64("")


def test_text_analysis_plan_has_no_python_for_tokens(spark, sf_dir):
    """The token/fingerprint columns must not appear in any ArrowEvalPython
    node — only detect_lang/quality still cross the Python boundary."""
    from harvester_fgp_spark.operators.textops import with_text_analysis

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = with_text_analysis(docs).select("doc_id", "n_tokens", "fingerprint")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
