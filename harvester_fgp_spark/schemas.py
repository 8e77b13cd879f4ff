"""Fixed, explicit schemas (SURVEY.md §1.2).

The reference harvester uses dynamic dict-of-values records with
mandatory-field validation only (SURVEY §1.1); this engine replaces that
with declared StructType constants. Every Parquet read of an input the
engine did not write carries one: the pages table (`read_pages`, Parquet
branch) and the ten driver fixture tables (`read_testdata`, which
`__spark_entry__` and `plans.derived` read through). A Parquet read
without a schema runs a footer-merge Spark job (~75-100 ms at sf0.1);
with one it runs none. Only tests infer a fixture schema, to check these
constants against the files (`tests/test_schemas.py`): a declared field
the file lacks would read as an all-null column instead of failing.

Schema inference remains only where the engine reads back files it wrote
itself, which carry the schema they were written with: the date-partitioned
pages layout, checkpoint records and lineage, the MinHash store, a
persisted IVF index and the streaming dedup text store.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# Primary input — exact shape mandated by BASELINE.json:15.
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# One mined geo-payload (E2 output element). kind: 'point' | 'bbox'.
PAYLOAD_STRUCT = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
        StructField("west", DoubleType(), True),
        StructField("south", DoubleType(), True),
        StructField("east", DoubleType(), True),
        StructField("north", DoubleType(), True),
    ]
)

PAYLOADS_TYPE = ArrayType(PAYLOAD_STRUCT)

# FGP-collection-style join dimension (FIXTURES.md §2) — broadcast side.
RING_POINT = StructType(
    [StructField("x", DoubleType(), False), StructField("y", DoubleType(), False)]
)

POLYGONS_SCHEMA = StructType(
    [
        StructField("polygon_id", StringType(), False),
        StructField("name_en", StringType(), False),
        StructField("name_fr", StringType(), False),
        StructField("ring", ArrayType(RING_POINT), False),
        StructField("minx", DoubleType(), False),
        StructField("miny", DoubleType(), False),
        StructField("maxx", DoubleType(), False),
        StructField("maxy", DoubleType(), False),
    ]
)

# Normalized-record output (FIXTURES.md §3) — field-for-field reconstruction
# of the reference harvester's CKAN-ish record (SURVEY §1.1, [REF?]-grade).
RECORD_SCHEMA = StructType(
    [
        StructField("record_id", StringType(), False),
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("title_en", StringType(), True),
        StructField("title_fr", StringType(), True),
        StructField("notes_en", StringType(), True),
        StructField("notes_fr", StringType(), True),
        StructField("keywords", ArrayType(StringType()), True),
        StructField("topic_category", StringType(), True),
        StructField("frequency", StringType(), True),
        StructField("spatial", StringType(), True),
        StructField("kind", StringType(), False),
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
        StructField("west", DoubleType(), True),
        StructField("south", DoubleType(), True),
        StructField("east", DoubleType(), True),
        StructField("north", DoubleType(), True),
        StructField("cell_id", LongType(), True),
        StructField("polygon_id", StringType(), True),
        StructField("tile_z", IntegerType(), True),
        StructField("tile_x", IntegerType(), True),
        StructField("tile_y", IntegerType(), True),
        StructField("extracted_text", StringType(), True),
    ]
)

# Checkpoint / lineage table (FIXTURES.md §4, BASELINE.json:14).
CHECKPOINT_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("tile_id", LongType(), False),
        StructField("row_count", LongType(), False),
        StructField("input_fingerprint", StringType(), False),
        StructField("completed_at", TimestampType(), False),
    ]
)


def _nullable(*fields: tuple[str, object]) -> StructType:
    # a file source reads every column as nullable, declared or inferred
    return StructType([StructField(n, t, True) for n, t in fields])


_I, _L, _D, _S = IntegerType(), LongType(), DoubleType(), StringType()
# pyarrow's timestamp("us") (no time zone) is Parquet's TIMESTAMP without
# UTC adjustment, which Spark infers as timestamp_ntz; declaring it
# TimestampType would change what date_format and casts print
_NTZ = TimestampNTZType()

# Driver-provided oracle tables (TESTDATA.md), in the column order of the
# files. Pinned equal to the inferred schemas at sf0.001/0.01/0.1 and to
# the perfbench twin's by tests/test_schemas.py.
TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": _nullable(("r_regionkey", _I), ("r_name", _S)),
    "nation": _nullable(("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)),
    "customer": _nullable(
        ("c_custkey", _L),
        ("c_name", _S),
        ("c_nationkey", _I),
        ("c_acctbal", _D),
        ("c_mktsegment", _S),
    ),
    "supplier": _nullable(
        ("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I), ("s_acctbal", _D)
    ),
    "part": _nullable(
        ("p_partkey", _L),
        ("p_name", _S),
        ("p_brand", _S),
        ("p_type", _S),
        ("p_size", _I),
        ("p_retailprice", _D),
    ),
    "orders": _nullable(
        ("o_orderkey", _L),
        ("o_custkey", _L),
        ("o_orderstatus", _S),
        ("o_totalprice", _D),
        ("o_orderdate", _NTZ),
        ("o_orderpriority", _S),
    ),
    "lineitem": _nullable(
        ("l_orderkey", _L),
        ("l_partkey", _L),
        ("l_suppkey", _L),
        ("l_linenumber", _I),
        ("l_quantity", _D),
        ("l_extendedprice", _D),
        ("l_discount", _D),
        ("l_tax", _D),
        ("l_returnflag", _S),
        ("l_linestatus", _S),
        ("l_shipdate", _NTZ),
    ),
    "events": _nullable(
        ("event_id", _L),
        ("ts", _NTZ),
        ("user_id", _L),
        ("event_type", _S),
        ("value", _D),
        ("props", _S),
    ),
    "documents": _nullable(
        ("doc_id", _L), ("text", _S), ("lang", _S), ("source", _S), ("n_chars", _L)
    ),
    "embeddings": _nullable(
        ("vec_id", _L), ("embedding", ArrayType(FloatType())), ("label", _I)
    ),
}
