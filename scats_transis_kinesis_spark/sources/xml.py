"""Null-delimited Transis XML ingestion (SURVEY.md §2.1 S1-S3).

The reference accumulates a byte stream and splits documents on
``b'\\x00'`` (reference: transis_consumer.py:123-139), then parses each
document with ElementTree (reference: transis_response_models.py:288-292).
Here:

- S2 tokenizing = the text source's ``lineSep`` option (splitting happens
  in the scan, vectorized, parallel per file split), or
  ``split + explode`` when documents arrive pre-batched in a column.
- S3 parsing = the built-in ``from_xml`` against the explicit response
  schema — one JVM-side, codegen'd expression, no Python parser.

Semantics preserved (SURVEY.md §1.4): empty ``DetectorCountMessages``
containers → NULL, malformed ``Detector`` children dropped, ``error``
attribute carried through for the fail-stop assert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NULL_DELIM = "\x00"


def read_null_delimited(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2 — one row per null-terminated XML document.

    ``lineSep='\\x00'`` makes the text scan itself the tokenizer; empty
    fragments after a trailing delimiter are dropped like the
    reference's ``if response != b''`` filter (reference:
    transis_consumer.py:89).
    """
    docs = spark.read.option("lineSep", NULL_DELIM).text(path)
    return docs.where(F.length(F.trim(F.col("value"))) > 0)


def read_null_delimited_stream(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2 streaming form — the unbounded twin of
    :func:`read_null_delimited`; in production the same option set goes
    on a Kinesis/Kafka source and ``split_documents`` handles blobs."""
    docs = spark.readStream.option("lineSep", NULL_DELIM).text(path)
    return docs.where(F.length(F.trim(F.col("value"))) > 0)


def split_documents(col_df: DataFrame, column: str = "value") -> DataFrame:
    """S2 (column form) — split a pre-batched blob column on the null
    delimiter and explode to one row per document."""
    return (
        col_df.select(F.explode(F.split(F.col(column), NULL_DELIM)).alias("value"))
        .where(F.length(F.trim("value")) > 0)
    )


# from_xml schema for a <TransisResponse> document: attributes carry the
# default "_" prefix; repeated children live under their container element.
TRANSIS_XML_SCHEMA = (
    "struct<"
    "_error:string, "
    "Errors:struct<Error:array<struct<_msg:string>>>, "
    "DetectorCountMessages:struct<DetectorCountMessage:array<struct<"
    "_reg:string, _Sid:string, _date:string, "
    "Detectors:struct<Detector:array<struct<_Did:string, _count:string>>>"
    ">>>"
    ">"
)


def parse_transis_documents(docs: DataFrame, column: str = "value") -> DataFrame:
    """S3 — XML document text → typed ``TRANSIS_RESPONSE`` rows through
    the built-in ``from_xml`` expression (JVM-side, codegen'd — the
    100 TB path).  A schema or analysis error raises."""
    parsed = docs.select(F.from_xml(F.col(column), TRANSIS_XML_SCHEMA).alias("r"))
    messages = F.transform(
        F.col("r.DetectorCountMessages.DetectorCountMessage"),
        lambda m: F.struct(
            m["_reg"].alias("reg"),
            m["_Sid"].alias("Sid"),
            m["_date"].alias("date"),
            F.transform(
                m["Detectors"]["Detector"],
                lambda d: F.struct(d["_Did"].alias("Did"), d["_count"].alias("count")),
            ).alias("detectors"),
        ),
    )
    return parsed.select(
        F.col("r._error").alias("error"),
        F.col("r.Errors.Error")[0]["_msg"].alias("error_msg"),
        messages.alias("messages"),
        F.lit(None).cast("string").alias("response_received_ts"),
    )


# from_xml schema for a topology <TransisResponse> carrying SiteLayouts
# (reference: transis_response_models.py:129-268; attributes prefixed
# "_", repeated children under their container element, SGNo as element
# text).
TOPOLOGY_XML_SCHEMA = (
    "struct<_error:string, SiteLayouts:struct<SiteLayout:array<struct<"
    "_sId:string, _region:string, "
    "Arms:struct<Arm:array<struct<_aId:string,_name:string>>>, "
    "Detectors:struct<Detector:array<struct<_dId:string,_arm:string>>>, "
    "Streets:struct<Street:array<struct<_name:string,_suburb:string>>>, "
    "SGs:struct<SG:array<struct<_sgNo:string,_type:string>>>, "
    "Phases:struct<Phase:array<struct<_name:string, SGNos:struct<SGNo:array<string>>>>>"
    ">>>>"
)


def parse_site_layouts(docs: DataFrame, column: str = "value") -> DataFrame:
    """S4/§3.2 — topology XML documents → one row per site in the
    ``schemas.SITE_LAYOUT`` shape (sId, region + five child-collection
    arrays), ready for the F3/F4 unnest joins and the K6 CSV sink.

    Empty child containers parse as NULL arrays — matching the
    reference's ElementTree truthiness semantics (empty container ==
    absent, reference: transis_response_models.py:139-152; SURVEY.md
    §1.4)."""
    parsed = docs.select(F.from_xml(F.col(column), TOPOLOGY_XML_SCHEMA).alias("r"))
    site = F.explode(F.col("r.SiteLayouts.SiteLayout")).alias("s")
    return parsed.select(site).select(
        F.col("s._sId").alias("sId"),
        F.col("s._region").alias("region"),
        F.transform(
            "s.Arms.Arm",
            lambda a: F.struct(a["_aId"].alias("aId"), a["_name"].alias("name")),
        ).alias("arms"),
        F.transform(
            "s.Detectors.Detector",
            lambda d: F.struct(d["_dId"].alias("dId"), d["_arm"].alias("arm")),
        ).alias("detectors"),
        F.transform(
            "s.Streets.Street",
            lambda st: F.struct(st["_name"].alias("name"), st["_suburb"].alias("suburb")),
        ).alias("streets"),
        F.transform(
            "s.SGs.SG",
            lambda g: F.struct(g["_sgNo"].alias("sgNo"), g["_type"].alias("type")),
        ).alias("sgs"),
        F.transform(
            "s.Phases.Phase",
            lambda p: F.struct(p["_name"].alias("name"), p["SGNos"]["SGNo"].alias("sgNos")),
        ).alias("phases"),
    )


def pretty_xml_string(xml: str) -> str:
    """Reference ``TransisResponse.to_file`` formatting (reference:
    transis_response_models.py:319-322): minidom pretty-print with a
    3-space indent.  Kept as a plain function so the executor-side sink
    and tests share one formatter."""
    from xml.dom import minidom

    return minidom.parseString(xml).toprettyxml(indent="   ")


def write_pretty_xml_files(
    df: DataFrame, out_dir: str, column: str = "value", id_col: str = "doc_id"
) -> None:
    """K5 — the indented-XML file sink (reference
    transis_response_models.py:319-322 ``to_file``): one ``<id>.xml``
    file per document row, pretty-printed with minidom at 3-space
    indent exactly like the reference.

    Executed with ``foreachPartition`` so each EXECUTOR writes its own
    partition's files directly (out_dir must be a shared/locally-valid
    path — on a cluster, a mounted or object-store-backed FUSE path);
    nothing is collected to the driver.  Formatting is a per-row string
    transform, so the sink scales with partition count like any other
    write."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def write_partition(rows) -> None:
        import os as _os

        _os.makedirs(out_dir, exist_ok=True)
        for row in rows:
            with open(
                _os.path.join(out_dir, f"{row[id_col]}.xml"), "w", encoding="utf-8"
            ) as f:
                f.write(pretty_xml_string(row[column]))

    df.select(id_col, column).foreachPartition(write_partition)
