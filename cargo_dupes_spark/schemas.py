"""Declared StructType schemas for the pipeline's tables.

The reference's schema is fixed at compile time (Rust structs,
``dupes-core/src/code_unit.rs:41-55``). Here a schema is declared where code
builds a table from rows or needs an empty frame of the right shape: the
web_pages input, the driver-side metrics and lineage appends, the ignore
list, and the memberships shape the report tests build frames of. Stage
outputs are not checked against these declarations: ``Catalog.read`` lets
Spark infer each committed table's schema from its parquet files.

  web_pages       — input (BASELINE.json input_hint shape)
  memberships     — normalized group membership (scales past collect_list)
  metrics         — per-stage run metrics, long format
  lineage         — per-stage per-partition row accounting (north_rule)
  ignore          — IgnoreFile analog (ignore.rs:12-29)
"""

from __future__ import annotations

from pyspark.sql import types as T

WEB_PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# the minimal membership shape; the pipeline's committed memberships table
# additionally denormalizes n_tokens (8 B/row) so stats/report aggregates
# never join back to the corpus-sized fingerprints table (operators/stats.py
# _with_tokens — frames without the column keep the join)
MEMBERSHIPS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("group_fp", T.LongType(), False),
        T.StructField("tier", T.StringType(), False),
        T.StructField("similarity", T.DoubleType(), True),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("config_hash", T.StringType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("n_in", T.LongType(), True),
        T.StructField("n_out", T.LongType(), True),
        T.StructField("n_failed", T.LongType(), True),
        T.StructField("error_sample", T.StringType(), True),
    ]
)

IGNORE = T.StructType(
    [
        T.StructField("fingerprint", T.LongType(), False),
        T.StructField("reason", T.StringType(), True),
    ]
)

# fingerprint_bits=128 variant: fingerprints are 32-char lowercase hex
# strings (functions/fingerprint.py); the fp columns of the fingerprints
# and memberships tables widen to StringType the same way, but their width
# is cfg-driven at the column builders, so only the ignore table needs a
# second declared schema for empty-frame creation
IGNORE_WIDE = T.StructType(
    [
        T.StructField("fingerprint", T.StringType(), False),
        T.StructField("reason", T.StringType(), True),
    ]
)
