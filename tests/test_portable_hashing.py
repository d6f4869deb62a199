"""Property-based cross-engine tests: the portable hash family and the
timestamp conversions must agree bit-for-bit between Spark and DuckDB on
*arbitrary* inputs — every dedup/fingerprint oracle rests on this.
Hypothesis drives the inputs; each property runs one batched Spark job
and one batched DuckDB query (not per-example sessions)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from scats_transis_kinesis_spark.functions.hashing import (
    MINHASH_P,
    duckdb_hash32_sql,
    duckdb_hash64_sql,
    minhash_value,
    minhash_value_sql,
    portable_hash32,
    portable_hash64,
)

# Printable unicode without surrogates; includes '', whitespace, quotes.
TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    max_size=80,
)


def _spark_hashes(spark, values, make_col):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r["h"] for r in df.select(make_col("s").alias("h")).collect()]


def _duck_hashes(values, sql_of):
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(values)))
    return [r[0] for r in con.execute(f"SELECT {sql_of('s')} FROM t ORDER BY i").fetchall()]


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(TEXT, min_size=1, max_size=25))
def test_hash64_matches_duckdb(spark, values):
    assert _spark_hashes(spark, values, portable_hash64) == _duck_hashes(
        values, duckdb_hash64_sql
    )


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(TEXT, min_size=1, max_size=25))
def test_hash32_matches_duckdb(spark, values):
    assert _spark_hashes(spark, values, portable_hash32) == _duck_hashes(
        values, duckdb_hash32_sql
    )


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(TEXT, min_size=1, max_size=10),
    st.integers(min_value=1, max_value=(1 << 30) - 1),
    st.integers(min_value=0, max_value=(1 << 30) - 1),
)
def test_minhash_permutation_matches_duckdb(spark, values, a, b):
    a |= 1  # odd multiplier, as the operators use
    got = _spark_hashes(
        spark, values, lambda c: minhash_value(portable_hash32(c), a, b)
    )
    want = _duck_hashes(
        values, lambda e: minhash_value_sql(duckdb_hash32_sql(e), a, b)
    )
    assert got == want
    assert all(0 <= v < MINHASH_P for v in got)


@pytest.mark.parametrize(
    "iso,epoch",
    [
        ("2019-10-03T15:43:00+10:00", 1570081380),  # reference golden
        ("2019-10-03T15:43:00+11:00", 1570077780),  # Sydney DST offset
        ("1970-01-01T00:00:00+00:00", 0),
        ("2038-01-19T03:14:08+00:00", 2147483648),  # past int32
    ],
)
def test_epoch_conversion_fixed_points(spark, iso, epoch):
    from scats_transis_kinesis_spark.functions.timestamps import epoch_from_iso8601

    df = spark.createDataFrame([(iso,)], "s string")
    [row] = df.select(epoch_from_iso8601("s").alias("e")).collect()
    assert row["e"] == epoch


# --- XML parser-path equivalence ------------------------------------------
# parse_transis_documents (the JVM from_xml expression) must emit the
# rows an ElementTree reading of the same document gives — the
# reference's own parser (transis_response_models.py:288-312), with its
# truthiness rule that an empty container equals an absent one.


def _parse_with_elementtree(docs, column):
    """Reference parser: Arrow-batched ElementTree over ``mapInPandas``,
    emitting the ``TRANSIS_RESPONSE`` schema."""
    import pandas as pd

    from scats_transis_kinesis_spark import schemas

    def parse_batch(batches):
        import xml.etree.ElementTree as ET

        for pdf in batches:
            rows = []
            for raw in pdf[column]:
                try:
                    root = ET.fromstring(raw)
                except ET.ParseError:
                    rows.append({"error": "true", "error_msg": "parse error",
                                 "messages": None, "response_received_ts": None})
                    continue
                err = root.attrib.get("error")
                err_msg = None
                errors = root.find("Errors")
                # ElementTree truthiness: empty container == absent
                # (reference: transis_response_models.py:296-301,312-317).
                if errors is not None and len(errors):
                    err_msg = errors[0].attrib.get("msg")
                dcm = root.find("DetectorCountMessages")
                messages = None
                if dcm is not None and len(dcm):
                    messages = []
                    for m in dcm:
                        dets = m.find("Detectors")
                        children = None
                        if dets is not None and len(dets):
                            children = [
                                {"Did": d.attrib.get("Did"), "count": d.attrib.get("count")}
                                for d in dets
                            ]
                        messages.append(
                            {
                                "reg": m.attrib.get("reg"),
                                "Sid": m.attrib.get("Sid"),
                                "date": m.attrib.get("date"),
                                "detectors": children,
                            }
                        )
                rows.append({"error": err, "error_msg": err_msg,
                             "messages": messages, "response_received_ts": None})
            yield pd.DataFrame(rows)

    return docs.mapInPandas(parse_batch, schema=schemas.TRANSIS_RESPONSE)


SITE_ID = st.integers(min_value=0, max_value=99999)
COUNT = st.one_of(st.none(), st.integers(min_value=0, max_value=500))


@st.composite
def transis_doc(draw):
    n_sites = draw(st.integers(min_value=0, max_value=4))
    sites = []
    for _ in range(n_sites):
        dets = draw(st.lists(st.tuples(SITE_ID, COUNT), max_size=5))
        det_xml = "".join(
            f'<Detector Did="{d}"' + (f' count="{c}"' if c is not None else "") + "/>"
            for d, c in dets
        )
        sid = draw(SITE_ID)
        sites.append(
            f'<DetectorCountMessage reg="R{sid % 7}" Sid="{sid}" '
            f'date="2019-10-03T15:43:00+10:00">'
            f"<Detectors>{det_xml}</Detectors></DetectorCountMessage>"
        )
    body = f'<DetectorCountMessages>{"".join(sites)}</DetectorCountMessages>' if sites else ""
    return f'<TransisResponse error="false">{body}</TransisResponse>'


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(transis_doc(), min_size=1, max_size=4))
def test_xml_parser_paths_agree(spark, docs):
    from scats_transis_kinesis_spark.sources.xml import parse_transis_documents

    df = spark.createDataFrame([(d,) for d in docs], "value string")

    def rows(parsed):
        out = []
        for r in parsed.collect():
            msgs = r["messages"]
            out.append(
                (
                    r["error"],
                    r["error_msg"],
                    None
                    if msgs is None
                    else tuple(
                        (
                            m["reg"],
                            m["Sid"],
                            m["date"],
                            None
                            if m["detectors"] is None
                            else tuple((d["Did"], d["count"]) for d in m["detectors"]),
                        )
                        for m in msgs
                    ),
                )
            )
        return sorted(out, key=repr)

    assert rows(parse_transis_documents(df)) == rows(_parse_with_elementtree(df, "value"))
