"""EP1: the full production DAG (SURVEY.md §3.2, §7.2 minimum slice).

pages -> validity/lang/coord prefilters (native, BEFORE any UDF so
pushdown reaches the scan) -> E1 extract -> E2 mine+explode -> E3
bilingual -> E6/E7 serialization -> G1 cell encode (native) -> G4
broadcast-R-tree PIP -> G7 tile assign (native) -> normalized records.

The reference runs the same semantics as one sequential per-record loop
([REF? harvest_hnap.py], SURVEY §3.1); here the whole thing is one
declarative DataFrame DAG — Catalyst owns ordering, AQE owns shuffle
sizing, and the only Python is one fused mapInArrow stage (E1, E2, G4).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as _text
from ..geo import cells as _cells
from ..geo import tiles as _tiles
from ..operators import extract as E
from ..operators import geo as G

# fused-stage output: page passthroughs + payload fields + PIP match.
# extracted_text is optional: it weighs ~page-text bytes PER PAYLOAD ROW
# through the Arrow boundary and downstream shuffles, and aggregate
# consumers (tile summaries) never read it — keep_text=False drops it at
# the source, which is the only place a MapInArrow column can be pruned.
def _fused_schema(keep_text: bool) -> str:
    text_part = "extracted_text string, " if keep_text else ""
    return (
        f"url string, warc_ts timestamp, lang string, {text_part}"
        "payload_idx int, kind string, lat double, lon double, "
        "west double, south double, east double, north double, "
        "pt_lat double, pt_lon double, polygon_id string"
    )


def _fused_mine_match(bidx, keep_text: bool = True):
    """extract -> mine -> explode -> exact PIP, in ONE Arrow-native pass.

    Every ArrowEvalPython/MapInArrow node costs a Python worker per task
    plus an Arrow round trip; at wide parallelism those fixed costs — not
    kernels — dominate (measured: worker-pool creation is serialized
    JVM-side). One fused stage keeps the whole Python portion of the
    pipeline to a single worker per task.

    ``mapInArrow`` kernel: only ``text`` becomes Python strings (the
    miner's regex input). Every output column is a ``take`` of an input
    column or of a payload array by ONE index array: matched (payload,
    polygon) pairs in match order, then unmatched payloads with a null
    ``polygon_id`` (a masked take). No pandas frame is built.
    """
    out_cols = [f.split()[0] for f in _fused_schema(keep_text).split(", ")]

    def fn(batches):
        import pyarrow as pa

        index = bidx.value
        polygon_ids = pa.array(index.polygon_ids, pa.string())
        kinds = pa.array(["bbox", "point"], pa.string())
        for batch in batches:
            if batch.num_rows == 0:
                continue
            text = batch.column("text")
            texts = text.to_pylist()
            if text.null_count:
                # extraction fallback is inherently per-element (stdlib
                # HTML parser) but runs only on rows missing text: html
                # is null wherever text is not
                texts = [
                    _text.extract_text(h) if t is None else t
                    for t, h in zip(texts, batch.column("html").to_pylist())
                ]
                text = pa.array(texts, pa.string())
            # vectorized miner: flat arrays, zero per-row Python (the
            # round-1 per-row dict loop was the measured scaling bottleneck)
            rows_i, pidx, kind, lat, lon, west, south, east, north = (
                _text.mine_payloads_flat(texts)
            )
            if len(rows_i) == 0:
                continue
            is_pt = kind == "point"
            pt_lat = np.where(is_pt, lat, (south + north) / 2.0)
            # wrap-aware center: west > east = antimeridian bbox
            pt_lon = np.where(is_pt, lon, _cells.bbox_center_lon(west, east))
            # left-join semantics identical to operators.geo.pip_join_native:
            # one row per (payload, polygon) match; unmatched keep null
            pts_i, polys_i = index.match_points(pt_lon, pt_lat)
            unmatched = np.ones(len(rows_i), dtype=bool)
            unmatched[pts_i] = False
            sel = np.concatenate([pts_i, np.flatnonzero(unmatched)])
            src = pa.array(rows_i[sel])
            poly = np.zeros(len(sel), dtype=np.int64)
            poly[: len(pts_i)] = polys_i
            no_match = np.arange(len(sel)) >= len(pts_i)
            cols = [batch.column(c).take(src) for c in ("url", "warc_ts", "lang")]
            if keep_text:
                cols.append(text.take(src))
            cols += [
                pa.array(pidx[sel].astype(np.int32)),
                kinds.take(pa.array(is_pt[sel].astype(np.int8))),
                # NaN (= no value for this payload kind) -> SQL NULL
                *(
                    pa.array(a[sel], pa.float64(), from_pandas=True)
                    for a in (lat, lon, west, south, east, north, pt_lat, pt_lon)
                ),
                polygon_ids.take(pa.array(poly, mask=no_match)),
            ]
            yield pa.RecordBatch.from_arrays(cols, names=out_cols)

    return fn


def mine_records(
    spark: SparkSession,
    pages: DataFrame,
    polygons_pdf,
    cell_level: int = _cells.DEFAULT_LEVEL,
    tile_z: int = _tiles.DEFAULT_TILE_Z,
    keep_text: bool = True,
    engine: str = "fused",
) -> DataFrame:
    """pages + polygons -> normalized records (FIXTURES.md §3 core fields).

    `keep_text=True` keeps the E1 text (`extracted_text`: the page's
    `text`, or `extract_text(html)` when `text` is null) and the fields
    derived from it; `keep_text=False` drops them at the source, so
    aggregate consumers never move page text through the plan.

    `engine` selects the payload+PIP stage (round 3; output is
    record-identical, asserted in tests/test_native_pipeline.py); any
    other value raises ValueError:
      - "fused": ONE mapInArrow stage (extract -> mine -> explode ->
        R-tree PIP, see _fused_mine_match). The only choice for
        html-only corpora.
      - "native": rows that carry text run a ZERO-Python plan — the
        JVM miner (operators.extract.with_payloads) and exact PIP as a
        broadcast join + higher-order ray cast (pip_join_native);
        html-only rows still route through the fused Python stage and
        union back in. It is also the twin the fused engine's output is
        checked against (perfbench's flagship digest).

    History (round 3, 2M pages, local[32], a 32-core host, when the
    fused stage was a pandas map): steady-state fused won (1.9-2.4 s vs
    native 2.6-3.0 s), cold-start native won (5.3 s vs 8.3 s, no
    worker-spawn storm). Those numbers are not comparators for the
    mapInArrow stage; perfbench/ (`flagship` workload) is the same-host
    measure. Default stays "fused" for long-running batch; "native" is
    the better shape for short jobs / micro-batches and for clusters
    where Python workers contend with executors for memory.
    """
    if engine not in ("fused", "native"):
        raise ValueError(f"engine must be 'fused' or 'native', not {engine!r}")
    valid, _quarantine = E.split_valid(pages)
    df = valid.filter(F.col("lang").isin("en", "fr"))

    if engine == "native":
        # round-3 zero-Python plan for text-bearing rows: native regex
        # miner (codegen) + broadcast higher-order PIP; html-only rows
        # fall back to the fused Python stage and union in
        base_cols = ["url", "warc_ts", "lang"] + (
            ["extracted_text"] if keep_text else []
        )
        pay = E.with_payloads(df, "text").withColumnRenamed(
            "text", "extracted_text"
        )
        nat = G.pip_join_native(
            spark, pay, polygons_pdf, lon_col="pt_lon", lat_col="pt_lat",
            how="left",
        ).select(
            *base_cols,
            "payload_idx", "kind", "lat", "lon", "west", "south", "east",
            "north", "pt_lat", "pt_lon", "polygon_id",
        )
        idx = G.build_polygon_index(polygons_pdf)
        bidx = spark.sparkContext.broadcast(idx)
        html_rows = df.filter(F.col("text").isNull()).select(
            "url", "warc_ts", "lang", "text", "html"
        )
        fallback = html_rows.mapInArrow(
            _fused_mine_match(bidx, keep_text=keep_text),
            _fused_schema(keep_text),
        )
        df = nat.unionByName(fallback)
    else:
        # hot path: extract -> mine -> explode -> exact PIP fused into ONE
        # Python stage (see _fused_mine_match); the native prefilter keeps
        # non-minable rows off the Arrow boundary, and nulling html keeps
        # already-extracted pages' bytes off it
        idx = G.build_polygon_index(polygons_pdf)
        bidx = spark.sparkContext.broadcast(idx)
        # lower() keeps the prefilter a strict SUPERSET of BBOX_RE's
        # case-insensitive matches ("WEST: ..." pages must not be dropped);
        # the OR short-circuits so lower() only runs on comma-free rows
        prefilter = (
            F.col("text").isNull()
            | F.col("text").contains(",")
            | F.lower(F.col("text")).contains("west:")
        )
        narrow = df.filter(prefilter).select(
            "url",
            "warc_ts",
            "lang",
            "text",
            F.when(F.col("text").isNull(), F.col("html")).alias("html"),
        )
        df = narrow.mapInArrow(
            _fused_mine_match(bidx, keep_text=keep_text),
            _fused_schema(keep_text),
        )

    # everything below is native (whole-stage codegen): bilingual pairing,
    # title/keywords derivation, vocab mapping, temporal normalization,
    # cell encode, tile assign, record id, GeoJSON serialization
    if keep_text:
        df = E.with_bilingual(df, "extracted_text", "notes")
        words = F.split(F.col("extracted_text"), " ")
        # title stands in for the reference's dataset title ([REF?
        # harvest_hnap.py]): leading 4 words of the canonical text —
        # deterministic and bilingual-paired like every HNAP free-text
        df = df.withColumn("title", F.concat_ws(" ", F.slice(words, 1, 4)))
        df = E.with_bilingual(df, "title", "title")
        df = df.withColumn(
            "keywords", F.array_sort(F.array_distinct(F.slice(words, 1, 12)))
        )
        # E4: mined vocab codes -> canonical labels via native map literals
        df = df.withColumn(
            "topic_category",
            E.vocab_map_col(
                E.TOPIC_CATEGORIES,
                F.regexp_extract(F.col("extracted_text"), r"topic:\s*(\w+)", 1),
            ),
        ).withColumn(
            "frequency",
            E.vocab_map_col(
                E.FREQUENCIES,
                F.regexp_extract(
                    F.col("extracted_text"), r"frequency:\s*(\w+)", 1
                ),
            ),
        )
    # E5: temporal normalization (crawl_date) in both branches — native
    df = E.with_temporal(df)
    df = df.withColumn(
        "cell_id", G.cell_encode_col(F.col("pt_lon"), F.col("pt_lat"), cell_level)
    )
    tx, ty = G.tile_cols(F.col("pt_lon"), F.col("pt_lat"), tile_z)
    df = (
        df.withColumn("tile_z", F.lit(tile_z).cast("int"))
        .withColumn("tile_x", tx)
        .withColumn("tile_y", ty)
    )
    # payload ordinal comes from the miner's array position — stable,
    # deterministic, and no window shuffle (E7)
    df = df.withColumn("record_id", E.record_id_col(F.col("url"), F.col("payload_idx")))
    df = df.withColumn(
        "spatial",
        F.when(
            F.col("kind") == "bbox",
            E.geojson_bbox_col(
                F.col("west"), F.col("south"), F.col("east"), F.col("north")
            ),
        ),
    )
    out_cols = [
        "record_id", "url", "warc_ts", "crawl_date",
        *(
            [
                "title_en", "title_fr", "notes_en", "notes_fr",
                "keywords", "topic_category", "frequency",
            ]
            if keep_text
            else []
        ),
        "spatial", "kind", "lat", "lon", "west", "south", "east", "north",
        "cell_id", "polygon_id", "tile_z", "tile_x", "tile_y",
        *(["extracted_text"] if keep_text else []),
    ]
    return df.select(*out_cols)


def tile_summary(records: DataFrame) -> DataFrame:
    """A1/O1: matched records per (tile, polygon) — the flagship answer."""
    return (
        records.filter(F.col("polygon_id").isNotNull())
        .groupBy("tile_z", "tile_x", "tile_y", "polygon_id")
        .agg(
            F.count("*").alias("n_records"),
            F.countDistinct("url").alias("n_urls"),
        )
        .orderBy("tile_z", "tile_x", "tile_y", "polygon_id")
    )
