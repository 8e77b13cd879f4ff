"""Text-analysis operators for training-data pipelines.

Language-ID / quality / token counting / fingerprinting over a documents
table — wraps the pure kernels in functions.text as Arrow-batched pandas
UDFs plus native expressions where Spark builtins suffice (whitespace
tokens, char counts stay JVM-side).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..functions import text as _text


@pandas_udf(StringType())
def detect_lang_udf(text: pd.Series) -> pd.Series:
    return _text.detect_lang_batch(text)


@pandas_udf(DoubleType())
def quality_udf(text: pd.Series) -> pd.Series:
    return _text.quality_score_batch(text)


_LANG_QUALITY_TYPE = StructType(
    [
        StructField("detected_lang", StringType(), True),
        StructField("quality", DoubleType(), True),
    ]
)


@pandas_udf(_LANG_QUALITY_TYPE)
def lang_quality_udf(text: pd.Series) -> pd.DataFrame:
    """Fused lang-ID + quality in ONE Python pass (the production path).

    Measured on 5000 driver docs (round 3): scalar kernels are 0.083s +
    0.095s; the findall regex scan is ~90% of each, and the np.isin-based
    batch twins came out 6x SLOWER (object-array materialization costs
    more than the per-row set lookups they replace). Fusing shares the
    single dominant findall between both outputs — the only real win.
    """
    # per-row-ok: measured — Python-set stopword membership is C-speed
    # dict probing; every batch reconstruction tried (np.isin on object
    # and on siphashed uint64 arrays) lost to it. See functions.text
    # batch kernels for the property-tested alternatives + numbers.
    pairs = text.map(_text.lang_quality)
    return pd.DataFrame(
        {
            "detected_lang": [p[0] for p in pairs],
            "quality": [p[1] for p in pairs],
        }
    )


# The same BPE-ish pattern runs in three engines: here (Java regex), the
# Python kernel functions.text._TOKEN_RE (the pytest oracle), and the
# DuckDB twin's regexp_extract_all (RE2). The driver documents are ASCII,
# where Java's ASCII \d/\s agree with Python's unicode classes; the
# cross-engine equality is itself oracle-checked (text_token_stats).
TOKEN_RE = r"[a-zA-ZÀ-ɏ]+|\d+|[^\sa-zA-Z\d]"


def token_count_col(text: Column) -> Column:
    """BPE-ish token count, fully NATIVE (whole-stage codegen): replaces
    the former per-row Python ``token_count_udf`` — Spark's
    regexp_extract_all is the same construct the DuckDB oracle always
    used, so no Python needs to run per batch at all."""
    n = F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), F.lit(0)))
    return F.when(text.isNull(), F.lit(0)).otherwise(n).cast("int")


def fingerprint64_col(text: Column) -> Column:
    """Stable 63-bit document fingerprint, fully NATIVE: first 8 bytes of
    sha1 as a signed long, masked to 63 bits — bit-identical to the
    Python kernel functions.text.fingerprint64 (two's-complement low bits
    are the same whether the 64-bit prefix is read signed or unsigned)."""
    signed = F.conv(F.substring(F.sha1(text), 1, 16), 16, -10).cast("long")
    masked = signed.bitwiseAND(F.lit((1 << 63) - 1))
    return F.when(text.isNull(), F.lit(0)).otherwise(masked).cast("long")


TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)="


def canonical_url_col(url: Column) -> Column:
    """Canonical URL form for web-corpus dedup keys — fully native (E-family):

    drop fragment -> rebuild the query string without tracking params
    (split/filter/array_join, not regex lookbehind: portable to engines
    without PCRE) -> lowercase scheme+host only (path/query are
    case-sensitive per RFC 3986) -> trim trailing slashes.
    """
    # F.get (0-based) is null-safe out of bounds, unlike element_at under ANSI
    no_frag = F.get(F.split(url, "#", 2), 0)
    base = F.get(F.split(no_frag, r"\?", 2), 0)
    q = F.get(F.split(no_frag, r"\?", 2), 1)
    kept = F.filter(
        F.split(q, "&"), lambda p: ~p.rlike(TRACKING_PARAM_RE)
    )
    canon_q = F.array_join(kept, "&")
    with_q = F.when(
        q.isNull() | (canon_q == ""), base
    ).otherwise(F.concat(base, F.lit("?"), canon_q))
    head = F.regexp_extract(with_q, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*", 0)
    rest = with_q.substr(F.length(head) + 1, F.lit(1_000_000))
    return F.regexp_replace(F.concat(F.lower(head), rest), "/+$", "")


# RE2-compatible (no lookaround/backrefs) so the same patterns run in
# Spark (Java regex), DuckDB, and any RE2-based scrubber downstream.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d[\d\-]{6,}\d"


def scrub_pii_col(text: Column) -> Column:
    """PII scrubbing for training corpora: emails -> [EMAIL], then
    phone-shaped digit runs -> [PHONE] (email first so its digits can't
    half-match the phone pattern). Native regexp_replace — replaces every
    occurrence, stays in whole-stage codegen."""
    no_email = F.regexp_replace(text, EMAIL_RE, "[EMAIL]")
    return F.regexp_replace(no_email, PHONE_RE, "[PHONE]")


def with_text_analysis(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """documents + (detected_lang, quality, n_tokens, fingerprint).

    n_tokens and fingerprint are native expressions (no Python at all);
    lang + quality come from ONE fused pandas UDF (one findall pass, one
    Arrow struct column back)."""
    t = F.col(text_col)
    return (
        docs.withColumn("_lq", lang_quality_udf(t))
        .withColumn("detected_lang", F.col("_lq.detected_lang"))
        .withColumn("quality", F.col("_lq.quality"))
        .drop("_lq")
        .withColumn("n_tokens", token_count_col(t))
        .withColumn("fingerprint", fingerprint64_col(t))
    )


# --- Corpus splitting / sampling (round 3) -----------------------------------
#
# Training pipelines need SPLITS (train/val/test) and SAMPLES that are
# (a) deterministic across reruns and engines, (b) a function of the
# record key alone — never of partitioning, row order, or cluster size —
# so a resumed or re-sharded 100 TB run lands every document in the same
# split. Both derive from sha2-256 of the key: bucket = first 60 bits of
# the digest mod 100, sample bits = an independent 60-bit slice of the
# SAME digest (one hash evaluation feeds both). Fully native (codegen);
# DuckDB twin: ('0x' || substr(sha256(key), lo, 15))::BIGINT.


def hash_bucket_col(key: Column, lo: int = 1) -> Column:
    """Deterministic bucket in [0, 100) from hex digits [lo, lo+15) of
    sha2-256(key) — 60 unbiased-enough bits; slices at different ``lo``
    are independent streams of the same single digest."""
    digest = F.sha2(key.cast("string"), 256)
    return (
        F.conv(F.substring(digest, lo, 15), 16, 10).cast("long") % 100
    )


def hash_split_col(
    key: Column, train_pct: int = 90, val_pct: int = 5
) -> Column:
    """'train' / 'validation' / 'test' from the key hash alone."""
    b = hash_bucket_col(key, lo=1)
    return (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("validation"))
        .otherwise(F.lit("test"))
    )


def term_frequencies(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(term, doc, tf): the shared tokenize -> explode -> per-(term,doc)
    pre-aggregation (map-side combinable) under the postings and TF-IDF
    families. One definition so the tokenizer can't drift between them
    (the oracle SQL twins share the same regex literal)."""
    term = F.explode(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(r"[a-z0-9]+"), F.lit(0)
        )
    ).alias("term")
    return (
        docs.select(F.col(id_col).alias("doc"), term)
        .groupBy("term", "doc")
        .agg(F.count("*").alias("tf"))
    )


def salted_partial_topk(
    tf: DataFrame, k: int, n_salts: int = 32
) -> DataFrame:
    """Phase 1 of the two-phase top-k (exposed for plan assertions):
    rank (term, doc, tf) rows inside (term, salt) window partitions —
    salt = pmod(xxhash64(doc), n_salts) — and keep <= k survivors per
    salt, each carrying its salt's partial posting count in ``_pdf``.
    A hot term's rows spread over ``n_salts`` tasks; the survivor frame
    is <= n_salts * k rows per term regardless of corpus size."""
    from pyspark.sql import Window

    w1 = Window.partitionBy("term", "_salt").orderBy(
        F.col("tf").desc(), F.col("doc").asc()
    )
    return (
        tf.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("doc")), F.lit(n_salts))
        )
        .select(
            "term",
            "doc",
            "tf",
            F.row_number().over(w1).alias("_rk"),
            F.count("*")
            .over(Window.partitionBy("term", "_salt"))
            .alias("_pdf"),
        )
        .filter(F.col("_rk") <= k)
    )


def inverted_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_df: int = 2,
    n_salts: int = 32,
) -> DataFrame:
    """Inverted index build: (term, df, postings) where postings is the
    top-``k`` documents by term frequency (ties -> lower doc id), serialized
    "doc:tf,doc:tf,..." — a string because the driver canonicalizer can't
    hash LIST columns.

    Scale shape (round-4: the hot-term window is GONE): tokenization is
    native regexp_extract_all + explode (codegen); the (term, doc)
    pre-aggregation is the map-side-combinable first shuffle, so the
    per-term pass sees one row per POSTING, not per token occurrence.
    Top-k is TWO-PHASE: phase 1 ranks inside (term, salt) partitions —
    salt = pmod(xxhash64(doc), n_salts), so a stopword-scale term spreads
    over ``n_salts`` tasks instead of funneling its whole postings list
    through one window partition (windows have no map-side partial) —
    and keeps <= k survivors per salt plus that salt's partial df count.
    The survivors (<= n_salts*k rows per term, corpus-size-independent)
    are localCheckpointed ONCE (they feed both the exact df sum and the
    final ranking; Spark never CSEs multi-consumer subtrees), then the
    final window ranks the tiny survivor set and the summed partial
    counts give the exact df. Results are identical to the one-window
    form: every global top-k posting is top-k within its own salt, and
    df is a sum of disjoint partial counts."""
    from pyspark.sql import Window

    tf = term_frequencies(docs, text_col=text_col, id_col=id_col)
    partial = salted_partial_topk(tf, k=k, n_salts=n_salts).localCheckpoint()
    df_counts = (
        partial.filter(F.col("_rk") == 1)
        .groupBy("term")
        .agg(F.sum("_pdf").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    w2 = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc").asc()
    )
    r = (
        partial.select("term", "doc", "tf")
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .join(df_counts, "term")
    )
    posting = F.concat_ws(
        ":", F.col("doc").cast("string"), F.col("tf").cast("string")
    )
    return (
        r.groupBy("term", "df")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("rk"), posting.alias("p")))
                    ),
                    lambda s: s["p"],
                ),
            ).alias("postings")
        )
        .select("term", F.col("df").cast("long").alias("df"), "postings")
    )


def domain_mix(
    docs: DataFrame,
    weight_of,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Domain MIXING (round 3): deterministically downsample each source
    so the surviving corpus matches target mixture weights — the
    web/books/code rebalancing step of every training-data recipe.

    ``weight_of``: Column -> Column mapping the source to its target
    weight (integer-valued). Only downsampling is possible, so the
    feasible total is set by the BINDING source (min n_s / w_s, one
    exact IEEE division — cross-engine stable); every source then keeps
    ``floor(1e6 * w_s * T / n_s)`` per-million of its docs, selected by
    the same sha2-keyed bucket as hash_split_col — a pure function of
    the key, so resume/reshard lands identical samples.

    Scale shape: one groupBy(source) count (dimension-sized), the 1-row
    feasible-total frame and the per-source thresholds broadcast back,
    and the keep decision is a native per-row expression — no second
    pass over the corpus.

    Output: docs + (w_s, thr, kept).
    """
    from pyspark.sql import Window

    counts = docs.groupBy(source_col).agg(F.count("*").alias("n_s"))
    counts = counts.withColumn(
        "w_s", weight_of(F.col(source_col)).cast("long")
    )
    # feasible total as a GLOBAL window min, not agg + crossJoin back:
    # Spark re-executes multi-consumer subtrees, so the agg/join shape
    # scans the corpus twice; the single-partition window is free on a
    # dimension-sized frame and keeps the corpus scan single-pass
    thr = (
        counts.withColumn(
            "_t",
            F.min(F.col("n_s") / F.col("w_s")).over(Window.partitionBy()),
        )
        .withColumn(
            "thr",
            F.floor(
                F.lit(1000000.0) * F.col("w_s") * F.col("_t") / F.col("n_s")
            ).cast("long"),
        )
        .drop("_t", "n_s")
    )
    digest = F.sha2(F.col(id_col).cast("string"), 256)
    bucket = F.conv(F.substring(digest, 1, 15), 16, 10).cast("long") % 1000000
    return docs.join(F.broadcast(thr), source_col).withColumn(
        "kept", bucket < F.col("thr")
    )


def remove_duplicate_lines(
    docs: DataFrame,
    sep: str = ". ",
    min_occurrences: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style LINE-level dedup with text reconstruction: any line that
    appears in >= ``min_occurrences`` places across the corpus (cookie
    banners, nav boilerplate, license footers) is dropped from every
    document, and the surviving lines are stitched back in original
    order.

    Scale shape (round-4: the hot-line window is GONE): posexplode keeps
    (id, pos, line), localCheckpointed ONCE — it feeds both the dup-line
    count and the anti-join back, and Spark never CSEs multi-consumer
    subtrees. The occurrence count is a plain groupBy(line): hash
    aggregation DOES map-side partial combine, so a cookie-banner line
    in 10^8 documents sends one partial row per map task to its reducer
    — not 10^8 rows to one window partition (windows have no partial;
    the round-3 shape was exactly that hot-key funnel). The filtered dup
    set (corpus-wide boilerplate only) then anti-joins the lines back
    out: small dup sets broadcast (AQE converts at runtime from the
    checkpointed stats), large ones plan shuffled where AQE's skew-join
    split divides a hot line key across tasks — a rebalancing no window
    shape can get. Reconstruction is one groupBy(id) with an ordered
    rebuild: array_sort(collect_list(struct(pos, line))) -> transform ->
    concat_ws — per-doc line lists, bounded by document size.
    """
    # escape ONLY regex metachars (escaping a letter would change its
    # meaning in Java regex, e.g. \\n); Spark split takes a regex
    esc = "".join(
        "\\" + c if c in ".\\^$|?*+()[]{}" else c for c in sep
    )
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), esc)).alias("pos", "line"),
    ).localCheckpoint()
    dup = (
        lines.groupBy("line")
        .agg(F.count("*").alias("_tot"))
        .filter(F.col("_tot") >= min_occurrences)
        .select("line")
    )
    kept = lines.join(dup, "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text")
    )
    return docs.join(rebuilt, id_col, "left").withColumn(
        "clean_text", F.coalesce(F.col("clean_text"), F.lit(""))
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = " ",
) -> DataFrame:
    """Gopher-style within-document repetition signals, shuffle-free.

    Per document: duplicate-word fraction (1 - distinct/total words),
    top-bigram fraction (occurrences of the most frequent word bigram /
    total bigrams) and duplicate-bigram fraction — the "repetitious
    document" filters from Rae et al. 2021 §A1.3.

    Plan shape (round-8 rewrite, guide §2.4 "remove shuffles outright" +
    §4.2): ZERO shuffles — all three fractions are per-document, so the
    bigram frequency table never needed to leave the row, yet rounds 3-7
    exploded one row per bigram STRING and ran two corpus-wide groupBys
    (~15M exploded strings at sf1.0; 5.9 s). Default path (``sep=" "``):
    ONE zero-copy Arrow kernel (functions.tokens) tokenizes split(" ")-
    exact, hashes words and bigrams in ~k vectorized passes, and derives
    the per-doc stats from lexsorted runs (n_distinct = run count,
    top_bigram_n = max run length); the only Python stage in the plan,
    no shuffle at all. Counts are hash-based, so a within-document
    64-bit collision could in principle merge two runs; output verified
    row-exact vs the exploding string plan at sf0.01/0.1/1.0 and against
    the DuckDB string-longhand oracle (tools/check_oracle.py). Non-space
    separators keep a native staged-HOF plan (same shape, interpreted
    per-element) because ``sep`` is a regex there. Fractions are emitted
    as exact micro-unit BIGINTs (single-division IEEE order mirrored by
    the oracle).
    """
    per_doc = (
        _repetition_per_doc_arrow(docs, id_col, text_col)
        if sep == " "
        else _repetition_per_doc_native(docs, id_col, text_col, sep)
    )

    def _micro_frac(num: Column, den: Column) -> Column:
        frac = num.cast("double") / den.cast("double")
        return F.when(
            den > 0, F.round(frac * F.lit(1000000.0)).cast("long")
        ).otherwise(F.lit(0).cast("long"))

    return per_doc.select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        _micro_frac(
            F.col("n_words") - F.col("n_distinct_words"), F.col("n_words")
        ).alias("dup_word_micro"),
        _micro_frac(F.col("top_bigram_n"), F.col("n_bigrams")).alias(
            "top_bigram_micro"
        ),
        _micro_frac(
            F.col("n_bigrams") - F.col("n_distinct_bigrams"),
            F.col("n_bigrams"),
        ).alias("dup_bigram_micro"),
    )


def _repetition_per_doc_arrow(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, n_words, n_distinct_words, n_bigrams, top_bigram_n,
    n_distinct_bigrams) per document from one Arrow pass. A null text
    yields n_words NULL (matching split(NULL)) — the only per-doc value
    that reaches the output for such rows, since every micro fraction
    guards on its denominator."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions import tokens as T

    src = docs.select(id_col, text_col)
    schema = StructType(
        [
            src.schema[0],
            StructField("n_words", LongType(), True),
            StructField("n_distinct_words", LongType(), False),
            StructField("n_bigrams", LongType(), False),
            StructField("top_bigram_n", LongType(), False),
            StructField("n_distinct_bigrams", LongType(), False),
        ]
    )

    def _stats(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids, texts = batch.column(0), batch.column(1)
            offs, data = T.string_buffers(texts)
            tok_doc, starts, lens, n_tok = T.space_token_arrays(offs, data)
            wh = T.hash_tokens(data, starts, lens)
            n_docs = len(offs) - 1
            order, runs = T.distinct_runs(tok_doc, wh)
            ndw = np.bincount(tok_doc[order[runs]], minlength=n_docs)
            gdoc, gh = T.gram_hashes(wh, tok_doc, 2)
            nb = np.bincount(gdoc, minlength=n_docs)
            top = np.zeros(n_docs, dtype=np.int64)
            order, runs = T.distinct_runs(gdoc, gh)
            rdoc = gdoc[order[runs]]
            ndb = np.bincount(rdoc, minlength=n_docs)
            if len(runs):
                rlen = np.diff(np.append(runs, len(gh)))
                pres, fidx = np.unique(rdoc, return_index=True)
                top[pres] = np.maximum.reduceat(rlen, fidx)
            nulls = texts.is_null().to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(n_tok, mask=nulls),
                    pa.array(ndw.astype(np.int64)),
                    pa.array(nb.astype(np.int64)),
                    pa.array(top),
                    pa.array(ndb.astype(np.int64)),
                ],
                names=[
                    id_col,
                    "n_words",
                    "n_distinct_words",
                    "n_bigrams",
                    "top_bigram_n",
                    "n_distinct_bigrams",
                ],
            )

    return src.mapInArrow(_stats, schema)


def _repetition_per_doc_native(
    docs: DataFrame, id_col: str, text_col: str, sep: str
) -> DataFrame:
    """Native staged-HOF fallback for regex separators: hash bigrams
    in-row (one xxhash64 per word, xxhash64 over the word-hash pair),
    array_sort, and read the frequency stats off the sorted runs. Each
    derived array gets its own .select() stage: CollapseProject keeps
    multi-use non-cheap aliases staged (the with_hilbert lesson), so
    the sort runs once per row, not once per consumer."""
    words = F.split(F.col(text_col), sep)
    nw = F.size(words)
    wh = F.transform(words, lambda w: F.xxhash64(w))
    base = docs.select(
        F.col(id_col),
        nw.alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.when(
            nw >= 2,
            F.zip_with(
                F.slice(wh, 1, nw - 1),
                F.slice(wh, 2, nw - 1),
                lambda a, b: F.xxhash64(a, b),
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("_bh"),
    )
    srt = base.select(
        id_col,
        "n_words",
        "n_distinct_words",
        F.size("_bh").alias("n_bigrams"),
        F.array_sort("_bh").alias("_s"),
    )
    nb = F.col("n_bigrams")
    s = F.col("_s")
    # run starts in the sorted hash array (0-based; F.get returns NULL
    # out of range, and TRUE OR NULL short-circuits the j=0 edge)
    starts = F.filter(
        F.sequence(F.lit(0), nb - 1),
        lambda j: (j == 0) | (F.get(s, j) != F.get(s, j - 1)),
    )
    runs_stage = srt.select(
        id_col,
        "n_words",
        "n_distinct_words",
        "n_bigrams",
        F.when(nb >= 1, starts)
        .otherwise(F.array().cast("array<int>"))
        .alias("_starts"),
    )
    st = F.col("_starts")
    run_len = F.zip_with(
        st,
        F.concat(
            F.slice(st, 2, F.greatest(F.size(st) - 1, F.lit(0))),
            F.array(nb),
        ),
        lambda a, b: b - a,
    )
    return runs_stage.select(
        id_col,
        "n_words",
        "n_distinct_words",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.coalesce(F.array_max(run_len), F.lit(0))
        .cast("long")
        .alias("top_bigram_n"),
        F.size(st).cast("long").alias("n_distinct_bigrams"),
    )
