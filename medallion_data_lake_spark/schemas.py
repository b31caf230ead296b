"""Explicit schemas for every table the engine touches.

The reference infers bronze schemas on every read (``spark.read.json`` with
no schema — reference ``sakila-data-lake/bronze_to_silver.py:62``), which
double-scans the data and is unaffordable at 100 TB (SURVEY.md §4.3.3).
We declare everything up front; inference is allowed only in exploratory
tooling, never in the pipeline.

Two schema families:

1. The driver's star schema + stream/document/embedding fixtures at
   /root/testdata (TESTDATA.md) — the correctness/bench surface.
2. The medallion envelope + silver schemas mirroring the reference's
   cleaning semantics (reference ``sakila-data-lake/mysql_to_kafka.py:68-73``
   envelope; ``bronze_to_silver.py:73-120`` casts), used by the
   bronze→silver→gold library and its tests.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# 1. Star-schema fixtures (driver-generated; see TESTDATA.md)
# ---------------------------------------------------------------------------

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),  # JSON payload, parsed on demand
    ]
)

# Schema of the parsed `props` JSON (from_json target) — explicit, never inferred.
EVENT_PROPS = T.StructType([T.StructField("k", T.LongType())])

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

STAR_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

# ---------------------------------------------------------------------------
# 2. Medallion envelope + silver schemas (reference-shaped)
# ---------------------------------------------------------------------------

def envelope_schema(payload: T.StructType) -> T.StructType:
    """Bronze record envelope.

    Mirrors the reference's Kafka message shape (reference
    ``sakila-data-lake/mysql_to_kafka.py:68-73``): every row travels as
    ``{table, operation, timestamp, data}`` with the payload nested under
    ``data``. All payload scalars may arrive stringly-typed
    (``json.dumps(default=str)``, reference ``mysql_to_kafka.py:27``); the
    silver conform step re-casts (operators/cleaning.py).
    """
    return T.StructType(
        [
            T.StructField("table", T.StringType()),
            T.StructField("operation", T.StringType()),  # INSERT | UPDATE | DELETE
            T.StructField("timestamp", T.StringType()),  # ISO-8601 producer time
            T.StructField("data", payload),
        ]
    )


def _string_payload(*names: str) -> T.StructType:
    """Bronze payloads are permissively stringly-typed; silver re-casts."""
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


# Payload field lists follow the reference's silver projections
# (reference ``sakila-data-lake/bronze_to_silver.py:73-120``).
BRONZE_CUSTOMER_PAYLOAD = _string_payload(
    "customer_id", "store_id", "first_name", "last_name", "email",
    "address_id", "active", "create_date", "last_update",
)
BRONZE_FILM_PAYLOAD = _string_payload(
    "film_id", "title", "description", "release_year", "language_id",
    "rental_duration", "rental_rate", "length", "replacement_cost",
    "rating", "special_features", "last_update",
)
BRONZE_PAYMENT_PAYLOAD = _string_payload(
    "payment_id", "customer_id", "staff_id", "rental_id", "amount",
    "payment_date", "last_update",
)
BRONZE_RENTAL_PAYLOAD = _string_payload(
    "rental_id", "rental_date", "inventory_id", "customer_id",
    "return_date", "staff_id", "last_update",
)
BRONZE_INVENTORY_PAYLOAD = _string_payload(
    "inventory_id", "film_id", "store_id", "last_update",
)

BRONZE_PAYLOADS: dict[str, T.StructType] = {
    "customer": BRONZE_CUSTOMER_PAYLOAD,
    "film": BRONZE_FILM_PAYLOAD,
    "payment": BRONZE_PAYMENT_PAYLOAD,
    "rental": BRONZE_RENTAL_PAYLOAD,
    "inventory": BRONZE_INVENTORY_PAYLOAD,
}

# ---------------------------------------------------------------------------
# 3. Multimodal column convention (north-star; SURVEY.md §7.2 M4)
# ---------------------------------------------------------------------------

# An opaque media blob plus typed metadata. The binary payload is never
# interpreted JVM-side; decode/feature-extraction runs in Arrow-batched
# pandas UDFs (operators/multimodal.py).
MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                    T.StructField("format", T.StringType()),
                ]
            ),
        ),
    ]
)
