"""Explicit schemas for every table the engine touches.

The reference infers its fact-table schema at load time
(``inferSchema=True`` — Dataset.py:77), which requires a full extra pass
over the data; at 100 TB that is an unacceptable double scan. Every
reader in this engine takes one of these hand-declared ``StructType``s.

Two schema families:

1. ``TESTDATA_SCHEMAS`` — the driver-generated synthetic star schema +
   events/documents/embeddings tables (see ``/root/repo/TESTDATA.md``).
2. ``CRIMES_RAW_SCHEMA`` / ``CRIMES_CLEAN_SCHEMA`` — the reference's
   Chicago-crimes fact table, pre- and post-cleaning
   (column inventory: SURVEY.md §1.2; Dataset.py:77-145).
"""

from __future__ import annotations

from pyspark.sql import types as T


def _st(fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


REGION_SCHEMA = _st([("r_regionkey", T.IntegerType()), ("r_name", T.StringType())])

NATION_SCHEMA = _st(
    [
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER_SCHEMA = _st(
    [
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER_SCHEMA = _st(
    [
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ]
)

PART_SCHEMA = _st(
    [
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ]
)

ORDERS_SCHEMA = _st(
    [
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        ("o_orderdate", T.TimestampType()),
        ("o_orderpriority", T.StringType()),
    ]
)

LINEITEM_SCHEMA = _st(
    [
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampType()),
    ]
)

# The physical encoding of events.ts has CHANGED across testdata
# generations: TIMESTAMP(NANOS) (which Spark's reader rejects outright,
# [PARQUET_TYPE_ILLEGAL] — read as raw INT64 ns instead) in older ones,
# TIMESTAMP(MICROS)/ntz in newer ones. Readers must NOT assume one:
# ``sources.readers.adaptive_read_schema`` peeks the parquet footer and
# picks the matching read schema, and ``normalize_temporals`` branches
# on the LOADED dtype. tests/test_data_contract.py pins the end result.
def events_schema_with_ts(ts_type: T.DataType) -> T.StructType:
    """EVENTS schema with ``ts`` declared as ``ts_type`` — the read-time
    schema for whichever physical encoding the footer reports."""
    return _st(
        [
            ("event_id", T.LongType()),
            ("ts", ts_type),
            ("user_id", T.LongType()),
            ("event_type", T.StringType()),
            ("value", T.DoubleType()),
            ("props", T.StringType()),  # JSON string; parsed via from_json on demand
        ]
    )


# Read schema for the INT64-nanos encoding (raw bigint, exact DIV-1000
# conversion downstream). Kept as a named constant because streaming
# fixture tests write this encoding deliberately.
EVENTS_RAW_SCHEMA = events_schema_with_ts(T.LongType())

# Logical schema after loading (what queries see).
EVENTS_SCHEMA = _st(
    [
        ("event_id", T.LongType()),
        ("ts", T.TimestampType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ]
)

DOCUMENTS_SCHEMA = _st(
    [
        ("doc_id", T.LongType()),
        ("text", T.StringType()),
        ("lang", T.StringType()),
        ("source", T.StringType()),
        ("n_chars", T.LongType()),
    ]
)

# the embeddings table's vector dimension — ONE source of truth (a
# drifted copy would let zip_with pad the shorter side with nulls and
# silently degrade LSH signatures, with lake and probe disagreeing)
EMB_DIM = 64

EMBEDDINGS_SCHEMA = _st(
    [
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", T.IntegerType()),
    ]
)

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION_SCHEMA,
    "nation": NATION_SCHEMA,
    "customer": CUSTOMER_SCHEMA,
    "supplier": SUPPLIER_SCHEMA,
    "part": PART_SCHEMA,
    "orders": ORDERS_SCHEMA,
    "lineitem": LINEITEM_SCHEMA,
    "events": EVENTS_SCHEMA,
    "documents": DOCUMENTS_SCHEMA,
    "embeddings": EMBEDDINGS_SCHEMA,
}

TABLE_NAMES = tuple(TESTDATA_SCHEMAS)


# --- Chicago-crimes fact table (reference data model, SURVEY.md §1.2) ------

# Raw CSV shape (public Chicago data portal schema referenced by name at
# Dataset.py:77-114). Declared instead of inferred.
CRIMES_RAW_SCHEMA = _st(
    [
        ("ID", T.LongType()),
        ("Case Number", T.StringType()),
        ("Date", T.StringType()),  # "MM/dd/yyyy hh:mm:ss a" — parsed in cleaning
        ("Block", T.StringType()),
        ("IUCR", T.StringType()),
        ("Primary Type", T.StringType()),
        ("Description", T.StringType()),
        ("Location Description", T.StringType()),
        ("Arrest", T.BooleanType()),
        ("Domestic", T.BooleanType()),
        ("Beat", T.IntegerType()),
        ("District", T.IntegerType()),
        ("Ward", T.IntegerType()),
        ("Community Area", T.IntegerType()),
        ("FBI Code", T.StringType()),
        ("X Coordinate", T.DoubleType()),
        ("Y Coordinate", T.DoubleType()),
        ("Year", T.IntegerType()),
        ("Updated On", T.StringType()),
        ("Latitude", T.DoubleType()),
        ("Longitude", T.DoubleType()),
        ("Location", T.StringType()),
    ]
)

# Post-cleaning shape produced by operators.cleaning.clean_crimes
# (mirrors the reference's df_cleaned, Dataset.py:83-145, bugs fixed),
# in output order. The derived ``year`` takes the raw ``Year``'s place:
# Spark matches column names without case, so withColumn("year", ...)
# replaces it.
CRIMES_CLEAN_COLUMNS = [
    "ID",
    "Case Number",
    "Primary Type",
    "Description",
    "Location Description",
    "Arrest",
    "Domestic",
    "District",
    "Community Area",
    "FBI Code",
    "year",
    "Updated On",
    "Latitude",
    "Longitude",
    "month",
    "day",
    "hour",
    "dayofweek",
]
