"""Property-based tests (hypothesis) for pure-Python protocol pieces.

The Spark-side operators are pinned by the oracle gate; these cover the
protocol code whose input space is adversarial byte streams — chunk
boundaries and disconnect placement are exactly where example-based
tests under-sample.
"""

from __future__ import annotations

import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st

from scats_transis_kinesis_spark.sources.datasource import (
    LiveStreamConsumer,
    TransisXMLBatchWriter,
    TransisXMLLiveStreamReader,
    TransisXMLStreamWriter,
    _list_captures,
    _split_file,
)

# Documents: non-empty, no NUL (the delimiter), valid UTF-8 by
# construction (text strategy).
_doc = st.text(
    alphabet=st.characters(blacklist_characters="\x00", max_codepoint=0x2FF),
    min_size=1,
    max_size=40,
)


@settings(max_examples=200, deadline=None)
@given(docs=st.lists(_doc, min_size=0, max_size=8), data=st.data())
def test_live_consumer_chunking_invariance(docs, data):
    """However the transport chops the byte stream, the consumer yields
    exactly the NUL-delimited documents, in order."""
    payload = b"".join(d.encode("utf-8") + b"\x00" for d in docs)
    chunks = []
    i = 0
    while i < len(payload):
        step = data.draw(st.integers(min_value=1, max_value=len(payload) - i))
        chunks.append(payload[i : i + step])
        i += step
    out = list(LiveStreamConsumer(lambda: iter(chunks)).documents())
    assert out == docs


@settings(max_examples=100, deadline=None)
@given(
    connections=st.lists(
        st.lists(_doc, min_size=1, max_size=4), min_size=1, max_size=5
    )
)
def test_live_consumer_survives_isolated_drops(connections):
    """A drop after every data-delivering connection never exhausts a
    budget of 1: delivery resets the reconnect budget (the reference's
    reset-on-data), so only CONSECUTIVE failures can kill the stream."""
    script = iter(connections)

    def transport():
        steps = next(script, None)
        if steps is None:
            return iter(())  # clean end after the last connection
        def conn(docs_in_conn=steps):
            for d in docs_in_conn:
                yield d.encode("utf-8") + b"\x00"
            raise ConnectionError("drop after delivering")
        return conn()

    out = list(LiveStreamConsumer(transport, max_reconnects=1).documents())
    assert out == [d for conn_docs in connections for d in conn_docs]


@settings(max_examples=50, deadline=None)
@given(n_failures=st.integers(min_value=0, max_value=6), budget=st.integers(min_value=0, max_value=5))
def test_live_consumer_budget_is_exact(n_failures, budget):
    """The stream survives exactly `budget` leading failures; one more
    raises — the bound is tight in both directions."""
    calls = {"n": 0}

    def transport():
        calls["n"] += 1
        if calls["n"] <= n_failures:
            raise ConnectionError("refused")
        return iter([b"<ok/>\x00"])

    consumer = LiveStreamConsumer(transport, max_reconnects=budget)
    if n_failures <= budget:
        assert list(consumer.documents()) == ["<ok/>"]
    else:
        try:
            list(consumer.documents())
            raise AssertionError("expected RuntimeError")
        except RuntimeError:
            pass
        assert calls["n"] == budget + 1  # initial + budget retries, no more


# Any non-empty document without NUL, multi-byte UTF-8 (2-4 bytes per
# code point) included.
_utf8_doc = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    min_size=1,
    max_size=20,
)


@settings(max_examples=100, deadline=None)
@given(docs=st.lists(_utf8_doc, max_size=8))
def test_writers_round_trip_through_split_file(docs):
    """Both DataSource writers write capture files that ``_split_file``
    reads back as the written documents."""
    rows = [(d,) for d in docs]
    with tempfile.TemporaryDirectory() as out:
        batch = TransisXMLBatchWriter({"path": out}, overwrite=False)
        batch.commit([batch.write(iter(rows))])
        stream = TransisXMLStreamWriter({"path": out})
        stream.commit([stream.write(iter(rows))], 0)
        files = _list_captures(out)
        assert len(files) == (2 if docs else 0)
        for path in files:
            assert [d for (d,) in _split_file(path)] == docs


@settings(max_examples=100, deadline=None)
@given(
    docs=st.lists(_utf8_doc, min_size=1, max_size=8),
    start=st.integers(min_value=0, max_value=10**6),
    data=st.data(),
)
def test_spool_journal_round_trips_documents_and_offsets(docs, start, data):
    """Documents journaled by ``_spool_write`` (split over two batches)
    replay through ``readBetweenOffsets`` unchanged, each at the offset
    it was written under."""
    cut = data.draw(st.integers(min_value=0, max_value=len(docs)))
    end = start + len(docs)
    with tempfile.TemporaryDirectory() as spool:
        # The spec only has to resolve: the pump never starts because
        # read() is never called.
        reader = TransisXMLLiveStreamReader(
            {"transport": "builtins:iter", "spooldir": spool}
        )
        for lo, part in ((start, docs[:cut]), (start + cut, docs[cut:])):
            if part:
                reader._spool_write(lo, [(d,) for d in part])
        replayed = reader.readBetweenOffsets({"n_docs": start}, {"n_docs": end})
        assert [d for (d,) in replayed] == docs
        assert list(reader._journal(start)) == list(enumerate(docs, start))
