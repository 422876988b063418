"""Canonical element-row schema (SURVEY §1.5, FIXTURES.md F2).

The reference's IR is a Python list of per-element dicts
(/root/reference/xml_handler.py:93-104).  Here it is one fixed-schema
DataFrame — the spine of the whole engine.  Attributes stay in a
``MAP<STRING,STRING>`` column (lossless) and are pivoted to physical
columns only at sink time, which replaces the reference's per-element
``ALTER TABLE`` churn (/root/reference/main_ingest.py:252-271) with one
schema pass per tag.

Extra columns beyond the reference's 10 fields:

* ``path``          — root-to-element sanitized path; the reference stores it
                      as the PG table comment (/root/reference/main_ingest.py:235-239)
* ``depth``         — tree depth; gives the topological write order so parent
                      tables land before children (FK safety at scale)
* ``pre_order_idx`` — document preorder position; makes hierarchical
                      fill-down and document reconstruction order-stable
* ``file``          — source file path (lineage + per-file idempotency)
"""

from __future__ import annotations

from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

ELEMENT_SCHEMA = StructType(
    [
        StructField("element_id", StringType(), False),
        StructField("parent_element_id", StringType(), True),
        StructField("element_tag", StringType(), False),
        StructField("full_xmlns_tag", StringType(), False),
        StructField("table_name", StringType(), False),
        StructField("attributes", MapType(StringType(), StringType()), True),
        StructField("value", StringType(), True),
        StructField("pcr_uuid", StringType(), True),
        StructField("parent_table_name", StringType(), True),
        StructField("path", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("pre_order_idx", LongType(), False),
        StructField("file", StringType(), True),
    ]
)

FILES_PROCESSED_SCHEMA = StructType(
    [
        StructField("processed_file_id", StringType(), False),
        StructField("original_file_name", StringType(), False),
        StructField("md5_hash", StringType(), True),
        StructField("processing_timestamp", StringType(), False),
        StructField("status", StringType(), False),
        StructField("schema_version", StringType(), True),
    ]
)

# Status vocabulary parity (/root/reference/main_ingest.py:366,379,393,653,669,684)
STATUS_OK = "Staged_Dynamic_Spark_V1"
STATUS_SKIPPED = "Skipped_MD5_Seen"
STATUS_ERROR_MD5 = "Error_MD5"
STATUS_ERROR_NOT_FOUND = "Error_FileNotFound"
STATUS_ERROR_PARSE = "Error_Parsing_Empty"
STATUS_ERROR_TX = "Error_Staging_Tx"
STATUS_ERROR_UNEXPECTED = "Error_Unexpected"

INGESTION_LOGIC_VERSION = "1.0.0-spark-dynamic-ingestor-v1"
