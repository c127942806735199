"""Declared StructTypes for every table in the pipeline — the one place a
table's columns are declared; every reader, writer, UDF and empty-table
constructor takes its schema from here.

The reference (Early-Modern-OCR/emop-controller) is schemaless JSON-over-HTTP
(emop/lib/emop_payload.py, emop/lib/models/*.py); here every table has one
fixed, declared schema so Catalyst can prune/push down and the Arrow channel
has a stable layout.

Tables
------
pages      : the input (BASELINE.json input_hint — exact shape, do not change)
extracted  : per-url extraction output (FIXTURES.md §2)
retry      : extracted rows re-extracted by a retry attempt (+ attempt)
lineage    : per-partition per-stage commit rows (FIXTURES.md §3)

A run's partition status lives in its manifest.json (engine/manifest.py),
a JSON snapshot, not a table.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Nullability is uniformly True: this schema is produced by the Python
# extract UDF (mapInArrow), whose declared output is nullable on the JVM side.
SPAN_SCHEMA = T.StructType(
    [
        T.StructField("node_path", T.StringType(), True),
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA), True),
        T.StructField("n_chars", T.LongType(), True),
        T.StructField("link_density", T.DoubleType(), True),
        T.StructField("boiler_ratio", T.DoubleType(), True),
        T.StructField("quality", T.DoubleType(), True),
        T.StructField("extractor_version", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# extracted + the partition id the row was committed under (resume unit);
# nullable like every column the extract UDF and parquet reads produce.
EXTRACTED_PARTITIONED_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields + [T.StructField("partition_id", T.IntegerType(), True)]
)

# the retry overlay: extracted + the retry attempt that wrote the row, in
# the column order its files hold (partition_id is the directory key).
# Built as a new StructType: StructType.add mutates in place, so calling it
# on a shared constant changes every later reader and writer of that table.
EXTRACTED_RETRY_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields
    + [
        T.StructField("attempt", T.IntegerType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
    ]
)

# nullable: lineage is read back from parquet files, which Spark always
# reads as nullable
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("stage", T.StringType(), True),
        T.StructField("doc_count", T.LongType(), True),
        T.StructField("byte_count", T.LongType(), True),
        T.StructField("extractor_version", T.StringType(), True),
        T.StructField("checksum", T.StringType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)


def extracted_arrow_schema():
    """pyarrow schema of EXTRACTED_SCHEMA — for the mapInArrow extract
    body (assembling RecordBatches without a pandas hop)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(EXTRACTED_SCHEMA)
