"""Engine schemas (StructTypes), declared once and enforced at the source.

The reference declares its row schema in Flink DDL strings
(``extractor/flink_kafka_extractor.py:71-77``); here the same contract is a
typed ``StructType`` applied by ``spark.read``/``readStream`` so every
downstream operator is schema-checked at plan time.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Primary input per BASELINE.json input_hint: Common-Crawl-style web pages.
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# Documents replay stream (fixtures/docs_stream.py): the driver's
# `documents` corpus with a deterministic ingest time per doc.
DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("ingest_ts", TimestampType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# Per-host enrichment stream (right side of the stateful join).
HOST_ENRICHMENT_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("ts", TimestampType(), False),
        StructField("category", StringType(), True),
        StructField("score", DoubleType(), True),
    ]
)

# Reference-parity log event schema (extractor/flink_kafka_extractor.py:71-77).
LOG_EVENTS_SCHEMA = StructType(
    [
        StructField("timestamp", StringType(), True),
        StructField("serviceName", StringType(), True),
        StructField("severityText", StringType(), True),
        StructField("attributes", MapType(StringType(), StringType()), True),
        StructField("resources", MapType(StringType(), StringType()), True),
        StructField("body", StringType(), True),
    ]
)

# Enriched/promoted output schema (reference sink/flink_optimized_parquet_sink.py:67-95).
ENRICHED_LOG_SCHEMA = StructType(
    list(LOG_EVENTS_SCHEMA.fields)
    + [
        StructField("msg", StringType(), True),
        StructField("url", StringType(), True),
        StructField("mobile", StringType(), True),
        StructField("is_valid_json", LongType(), True),
        StructField("has_data_mobile", LongType(), True),
        StructField("is_getotp_url", LongType(), True),
        StructField("log_date", StringType(), True),
        StructField("log_hour", LongType(), True),
        StructField("resources_json", StringType(), True),
        StructField("proc_ts", TimestampType(), True),
    ]
)
