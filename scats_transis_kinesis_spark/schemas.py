"""Explicit schemas for every record family in the engine.

The reference infers schema from the first row at runtime
(reference: transis_response_models.py:119-120, 200-209). Here every
schema is an explicit ``StructType`` — required for streaming sources,
for parquet pushdown, and for stable oracle comparison.

Type-system fidelity (SURVEY.md §1.2): everything at the XML edge is a
string — ``region``, ``site_id``, detector ids and counts stay strings
(reference: transis_response_models.py:36-43); the only typed conversions
are the ISO-8601→epoch timestamp (reference: utils.py:21-31) and the
``300`` interval literal (reference: transis_response_models.py:35).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- detector-count fact stream -------------------------------------------
# Grain: one row per (site, 5-minute window).  The raw pre-pivot form keeps
# the Detector children as an array of structs (reference:
# transis_response_models.py:40-43); the projected form carries the
# map<string,string> produced by to_dict() (reference:
# transis_response_models.py:27-44).

DETECTOR_STRUCT = T.StructType(
    [
        T.StructField("Did", T.StringType(), True),
        T.StructField("count", T.StringType(), True),
    ]
)

# Raw per-site message as parsed from XML: attributes of
# <DetectorCountMessage> plus its <Detectors><Detector/>*</Detectors>
# children (reference: transis_response_models.py:15-50).
DETECTOR_COUNT_MESSAGE = T.StructType(
    [
        T.StructField("reg", T.StringType(), True),
        T.StructField("Sid", T.StringType(), True),
        T.StructField("date", T.StringType(), True),  # ISO-8601 with offset
        T.StructField("detectors", T.ArrayType(DETECTOR_STRUCT), True),
    ]
)

# One network snapshot document (TransisResponse carrying
# DetectorCountMessages; reference: transis_response_models.py:54-77).
TRANSIS_RESPONSE = T.StructType(
    [
        T.StructField("error", T.StringType(), True),
        T.StructField("error_msg", T.StringType(), True),
        T.StructField("messages", T.ArrayType(DETECTOR_COUNT_MESSAGE), True),
        T.StructField("response_received_ts", T.StringType(), True),
    ]
)

# Projected flat record — shape of DetectorCountMessage.to_dict()
# (reference: transis_response_models.py:27-44) with engine-side snake_case.
DETECTOR_COUNT_RECORD = T.StructType(
    [
        T.StructField("region", T.StringType(), True),
        T.StructField("site_id", T.StringType(), True),
        T.StructField("collection_interval_secs", T.IntegerType(), False),
        T.StructField("collection_end_ts_plus_3m", T.LongType(), True),  # epoch s
        T.StructField("detector_counts", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# --- topology dimensions ---------------------------------------------------
# SiteLayouts → five child collections per site (reference:
# transis_response_models.py:129-268); denormalized with parent sId on
# every child row (reference: transis_response_models.py:175-198).

ARM_STRUCT = T.StructType(
    [
        T.StructField("aId", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
    ]
)
DETECTOR_DIM_STRUCT = T.StructType(
    [
        T.StructField("dId", T.StringType(), True),
        T.StructField("arm", T.StringType(), True),
    ]
)
STREET_STRUCT = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("suburb", T.StringType(), True),
    ]
)
SG_STRUCT = T.StructType(
    [
        T.StructField("sgNo", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
    ]
)
# Phases nest twice: phase × SGNos (reference: transis_response_models.py:194-197).
PHASE_STRUCT = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("sgNos", T.ArrayType(T.StringType()), True),
    ]
)

SITE_LAYOUT = T.StructType(
    [
        T.StructField("sId", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("arms", T.ArrayType(ARM_STRUCT), True),
        T.StructField("detectors", T.ArrayType(DETECTOR_DIM_STRUCT), True),
        T.StructField("streets", T.ArrayType(STREET_STRUCT), True),
        T.StructField("sgs", T.ArrayType(SG_STRUCT), True),
        T.StructField("phases", T.ArrayType(PHASE_STRUCT), True),
    ]
)

# --- driver-provided synthetic tables (TESTDATA.md) ------------------------

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

TESTDATA_TABLES = (
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
