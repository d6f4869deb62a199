"""``format("transis_xml")`` — the reference's push-stream source as a
first-class Spark data source (Python DataSource API, Spark 4).

The reference consumes a long-lived HTTP stream, accumulates bytes, and
splits records on the NUL byte (transis_consumer.py:115-151, delimiter
split :123-139; batch variant :82-89).  This module gives that protocol
a native Spark surface instead of a driver-side loop:

- **batch**: ``spark.read.format("transis_xml").load(dir)`` — one input
  partition PER FILE, so a directory of captured stream dumps scans in
  parallel across executors; each task streams its file and splits on
  ``\\x00`` exactly like the reference's tokenizer.
- **streaming**: ``spark.readStream.format("transis_xml").load(dir)`` —
  a file-arrival offset log (sorted directory listing), so each
  micro-batch picks up newly landed stream captures; offsets make
  replay deterministic (``readBetweenOffsets``), which is the
  checkpoint-recovery story the reference's recursive reconnect loop
  (transis_consumer.py:141-148) lacks.
- **live streaming**: ``spark.readStream.format("transis_xml")
  .option("transport", "mypkg.http:open_stream").load()`` — micro-
  batches drain an INJECTED long-lived byte stream (a chunked HTTP GET
  body in production, a mock in tests) through
  :class:`LiveStreamConsumer`, which carries the reference's full live
  protocol: NUL-delimited record split at arbitrary chunk boundaries
  and the bounded, reset-on-data reconnect budget of
  transis_consumer.py:141-148.

The same source writes, too: ``df.write`` / ``writeStream
.format("transis_xml")`` stage NUL-terminated capture files and rename
them into place on commit, so written output reads back through the
readers above.  Every path shares one codec — :func:`_split_docs` to
read, :func:`_write_docs` to write.

Rows are ``value: string`` — one XML document per row, undecoded.
Parsing stays in ``sources/xml.py`` (S3), so the source composes with
the existing pipeline operators unchanged.  Option keys are read in
lower case: Spark hands a DataSource its options as a case-insensitive
map with lower-cased keys.
"""

from __future__ import annotations

import glob
import os
import uuid
from itertools import islice
from typing import Iterable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StringType, StructField, StructType

RECORD_DELIMITER = b"\x00"  # reference: transis_consumer.py:133

SCHEMA = StructType([StructField("value", StringType(), True)])


def _split_docs(data: bytes) -> Iterator[str]:
    """Split NUL-delimited bytes into decoded documents, dropping empty
    fragments (reference keeps the same guard,
    transis_consumer.py:137-138).  Lazy: one document is decoded at a
    time."""
    for doc in data.split(RECORD_DELIMITER):
        if doc:
            yield doc.decode("utf-8")


def _write_docs(f, docs: Iterable[str]) -> int:
    """Write each document followed by NUL; returns how many."""
    n = 0
    for doc in docs:
        f.write(doc.encode("utf-8"))
        f.write(RECORD_DELIMITER)
        n += 1
    return n


def _split_file(path: str) -> Iterator[tuple[str]]:
    """One capture file as ``(document,)`` rows."""
    with open(path, "rb") as f:
        data = f.read()
    for doc in _split_docs(data):
        yield (doc,)


def _positive_int(options, key: str) -> int | None:
    """An optional integer option that must be ``>= 1`` when set."""
    value = options.get(key.lower())
    if not value:
        return None
    n = int(value)
    if n < 1:
        raise ValueError(f"transis_xml: {key} must be >= 1")
    return n


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


def _list_captures(path: str) -> list[str]:
    """Deterministic capture listing: every regular file under ``path``
    (or the single file itself), sorted by name."""
    if os.path.isdir(path):
        return sorted(
            p
            for p in glob.glob(os.path.join(path, "*"))
            if os.path.isfile(p)
        )
    return sorted(glob.glob(path))


class TransisXMLBatchReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("transis_xml: .load(path) is required")

    def partitions(self) -> list[InputPartition]:
        # One split per capture file: parallelism == number of files,
        # the natural unit for dumped stream segments.
        return [_FilePartition(p) for p in _list_captures(self.path)]

    def read(self, partition: _FilePartition) -> Iterator[tuple[str]]:
        yield from _split_file(partition.path)


class TransisXMLStreamReader(SimpleDataSourceStreamReader):
    """File-arrival streaming: the offset is the count of consumed
    files from the sorted capture listing.  New files land at the end
    of the listing (writers name captures monotonically — e.g.
    zero-padded sequence numbers or timestamps), so ``read`` consumes
    the suffix and advances the offset."""

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("transis_xml: .load(path) is required")
        # Backpressure: cap how many newly landed captures one
        # micro-batch consumes (same contract as the file source's
        # maxFilesPerTrigger).  Unset = consume everything available,
        # the reference's drain-the-stream behavior.
        self.max_files = _positive_int(options, "maxFilesPerTrigger")

    def initialOffset(self) -> dict:
        return {"n_files": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple[str]], dict]:
        files = _list_captures(self.path)
        consumed = start["n_files"]
        new = files[consumed:][: self.max_files]
        rows = [row for p in new for row in _split_file(p)]
        return iter(rows), {"n_files": consumed + len(new)}

    def readBetweenOffsets(
        self, start: dict, end: dict
    ) -> Iterator[tuple[str]]:
        # Deterministic replay for checkpoint recovery: re-split the
        # exact file range [start, end).
        files = _list_captures(self.path)[start["n_files"] : end["n_files"]]
        for p in files:
            yield from _split_file(p)


DEFAULT_MAX_RECONNECTS = 3  # reference: transis_consumer.py __max_reconnects


class LiveStreamConsumer:
    """The reference's live-stream protocol over an INJECTED transport
    (transis_consumer.py:115-151): accumulate raw chunks from a
    long-lived byte stream, split records on the NUL delimiter, and
    survive transient disconnects with a bounded reconnect budget.

    ``transport_factory`` is any zero-arg callable returning an iterator
    of ``bytes`` chunks — a ``requests`` chunked-GET body in production,
    a list of byte slices in tests.  Chunks may split documents at any
    byte position; unlike the reference's ``chunk_size=1`` loop
    (transis_consumer.py:127) the accumulator handles arbitrary chunk
    sizes, so a production transport can hand over whole socket reads.

    Reconnect semantics mirror transis_consumer.py:141-148 exactly,
    iteratively instead of recursively: a ``ConnectionError`` from the
    transport consumes one attempt and re-invokes the factory; any
    successfully delivered document resets the budget
    (``__reset_connection_attempt_counts`` in the reference); an
    exhausted budget raises.  End-of-stream (the iterator finishing
    normally) ends consumption — only errors burn attempts.
    """

    def __init__(
        self,
        transport_factory,
        max_reconnects: int = DEFAULT_MAX_RECONNECTS,
    ) -> None:
        self._factory = transport_factory
        self._max_reconnects = max_reconnects
        self._attempts_remaining = max_reconnects
        self._buffer = b""

    def documents(self) -> Iterator[str]:
        """Yield complete NUL-delimited documents until the stream ends
        or the reconnect budget is exhausted."""
        while True:
            try:
                for chunk in self._factory():
                    if not chunk:
                        continue
                    self._buffer += chunk
                    if RECORD_DELIMITER not in chunk:
                        continue
                    complete, _, self._buffer = self._buffer.rpartition(
                        RECORD_DELIMITER
                    )
                    for doc in _split_docs(complete):
                        self._attempts_remaining = self._max_reconnects
                        yield doc
                return  # clean end of stream; a trailing partial doc
                # (no NUL yet) is never yielded — reference behavior
            except ConnectionError:
                if self._attempts_remaining <= 0:
                    raise RuntimeError(
                        f"{self._max_reconnects} attempts to reconnect to the "
                        "stream were made without success."
                    )
                self._attempts_remaining -= 1
                # The reference's recursive retry re-enters with a fresh
                # accumulator (transis_consumer.py:123,144-146): a
                # reconnected stream restarts at a document boundary, so
                # partial bytes from the dead connection are garbage.
                self._buffer = b""


def _resolve_transport(spec: str):
    """Resolve a transport spec into the transport factory.

    DataSource options are strings, so the live reader takes its
    transport as a late-bound reference — the same seam the Kinesis
    writer uses for its client; no network code lives in this repo.
    Two spec forms:

    - ``"module:callable"`` — importlib path; production passes e.g.
      ``"mypkg.transis_http:open_detector_stream"``.
    - ``"/abs/path/to/file.py:callable"`` — the file is executed with
      ``runpy``; works regardless of the Python worker's ``sys.path``
      (tests and ad-hoc ops tooling).
    """
    mod_name, _, attr = spec.rpartition(":")
    if not mod_name or not attr:
        raise ValueError(
            "transis_xml: transport must be 'module:callable' or "
            f"'/path.py:callable', got {spec!r}"
        )
    if mod_name.endswith(".py"):
        import runpy

        ns = runpy.run_path(mod_name)
        try:
            return ns[attr]
        except KeyError:
            raise ValueError(
                f"transis_xml: {mod_name} defines no {attr!r}"
            ) from None
    import importlib

    return getattr(importlib.import_module(mod_name), attr)


class TransisXMLLiveStreamReader(SimpleDataSourceStreamReader):
    """Live-transport streaming mode: micro-batches drain whatever the
    injected byte stream has produced since the last trigger.

    The stream is consumed by a background pump thread feeding a queue;
    ``read`` drains the queue WITHOUT blocking on the socket — a live
    feed that pauses mid-document stalls only the pump, never the
    trigger loop (each trigger waits at most ``pollTimeoutMs``,
    default 500, for data before committing what it has, possibly an
    empty batch).  A transport error that exhausts the reconnect budget
    surfaces as a raise on the next ``read`` — fail-stop, like the
    reference consumer.

    The offset is the count of documents consumed from the live stream.
    A live socket cannot seek, so WITHIN a run exact replay comes from
    the SimpleDataSourceStreamReader wrapper's prefetch cache (Spark
    retains the entries it handed out until the batch commits).  ACROSS
    a restart that cache is gone — recovery calls
    ``readBetweenOffsets`` — so the reader journals every delivered
    document to a spool directory (option ``spoolDir``): ``read``
    appends an offset-named NUL-delimited file per non-empty batch,
    ``readBetweenOffsets`` replays any offset range from the journal,
    and ``commit`` prunes files entirely below the committed offset so
    the spool stays bounded by one uncommitted batch.  Restarting from
    a checkpoint therefore resumes exactly where the offset log stopped
    (at-least-once, batch-replay-exact) — the reference's recursive
    reconnect loop (transis_consumer.py:141-148) has no recovery marker
    at all and drops everything in flight.  Without ``spoolDir`` the
    live path still runs, but a restart that must replay raises with
    an actionable message instead of silently losing the batch."""

    def __init__(self, options: dict) -> None:
        spec = options.get("transport")
        if not spec:
            raise ValueError("transis_xml: option 'transport' is required")
        self.spec = spec
        self.max_reconnects = int(
            options.get("maxreconnects") or DEFAULT_MAX_RECONNECTS
        )
        self.max_docs = _positive_int(options, "maxDocsPerTrigger")
        self.poll_timeout_s = int(options.get("polltimeoutms") or 500) / 1000.0
        # Backpressure bound for the pump queue: a producer faster than
        # the trigger drain rate blocks on put() instead of growing
        # driver memory without bound.  Default: a few triggers' worth
        # when maxDocsPerTrigger is set, else a fixed cap.
        self.max_buffered = _positive_int(options, "maxBufferedDocs") or (
            4 * self.max_docs if self.max_docs else 10_000
        )
        self.spool_dir = options.get("spooldir")
        _resolve_transport(spec)  # fail fast on a bad spec
        self._pump = None  # background consumer, started on first read

    # Spark pickles the reader into the read task; a live socket (and
    # the pump thread draining it) can't cross process boundaries.  Only
    # the spec travels — the revived copy would lazily reopen the
    # transport, and the normal data path never needs it to (the
    # simple-reader wrapper ships the driver-prefetched rows to
    # executors).
    def __getstate__(self) -> dict:
        state = dict(self.__dict__)
        state["_pump"] = None
        return state

    def _ensure_pump(self):
        if self._pump is None:
            import queue
            import threading

            pump = {
                # Bounded: put() blocks when the trigger loop falls
                # behind the transport, backpressuring consumption to
                # the drain rate instead of buffering without bound.
                "queue": queue.Queue(maxsize=self.max_buffered),
                "done": False,
                "error": None,
            }
            consumer = LiveStreamConsumer(
                _resolve_transport(self.spec), self.max_reconnects
            )

            def run() -> None:
                try:
                    for doc in consumer.documents():
                        pump["queue"].put(doc)
                except BaseException as e:  # noqa: BLE001 - surfaced on read
                    pump["error"] = e
                finally:
                    pump["done"] = True

            thread = threading.Thread(
                target=run, daemon=True, name="transis-live-pump"
            )
            pump["thread"] = thread
            self._pump = pump
            thread.start()
        return self._pump

    def initialOffset(self) -> dict:
        return {"n_docs": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple[str]], dict]:
        import queue as _queue
        import time as _time

        start_off = start["n_docs"]
        # REPLAY-FIRST: any journaled documents at or past `start` were
        # consumed from the transport by a previous instance whose batch
        # never reached Spark's offset log (crash between the spool
        # write and the offset commit).  A live socket cannot re-deliver
        # them — the journal is their only copy — so they form the head
        # of this batch instead of being discarded.
        rows = [(doc,) for _, doc in islice(self._journal(start_off), self.max_docs)]
        n_replayed = len(rows)
        pump = self._ensure_pump()
        deadline = _time.monotonic() + self.poll_timeout_s
        while self.max_docs is None or len(rows) < self.max_docs:
            try:
                rows.append((pump["queue"].get_nowait(),))
                continue
            except _queue.Empty:
                pass
            if pump["done"] or _time.monotonic() >= deadline:
                break
            _time.sleep(0.01)
        if (
            not rows
            and pump["done"]
            and pump["queue"].empty()
            and pump["error"] is not None
        ):
            raise pump["error"]
        # Journal only the FRESH tail — the replayed head is already on
        # disk, and fresh offsets start exactly at the journal's end, so
        # spool files never overlap.
        fresh = rows[n_replayed:]
        if self.spool_dir and fresh:
            self._spool_write(start_off + n_replayed, fresh)
        return iter(rows), {"n_docs": start_off + len(rows)}

    # --- replay journal -------------------------------------------------
    # One NUL-delimited file per non-empty micro-batch, named by its
    # half-open offset range.  Written atomically (tmp + rename) so a
    # crash mid-write never leaves a torn file for recovery to trust.

    def _spool_write(self, start_off: int, rows: list[tuple[str]]) -> None:
        os.makedirs(self.spool_dir, exist_ok=True)
        end_off = start_off + len(rows)
        # Overlaps cannot arise in normal operation: read() replays the
        # journaled suffix FIRST and journals only the fresh tail, so
        # every write starts at the journal's end.  The delete below is
        # defense-in-depth for a mis-behaving transport that rewinds and
        # re-delivers (at-least-once double delivery): the newest write
        # for an offset range wins, and recovery never sees two files
        # claiming the same offsets (which would replay one and then
        # fail on the gap).
        for f_lo, f_hi, old_path in self._spool_files():
            if f_lo < end_off and f_hi > start_off:
                os.remove(old_path)
        path = os.path.join(
            self.spool_dir, f"{start_off:012d}-{end_off:012d}.spool"
        )
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            _write_docs(f, (doc for (doc,) in rows))
        os.replace(tmp, path)

    def _spool_files(self) -> list[tuple[int, int, str]]:
        if not self.spool_dir or not os.path.isdir(self.spool_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.spool_dir)):
            if not name.endswith(".spool"):
                continue
            lo, _, hi = name[: -len(".spool")].partition("-")
            out.append((int(lo), int(hi), os.path.join(self.spool_dir, name)))
        return out

    def _journal(self, lo: int, hi: int | None = None) -> Iterator[tuple[int, str]]:
        """``(offset, document)`` for every journaled document in
        ``[lo, hi)`` (``hi=None``: to the journal's end), in offset
        order.  Journal files never hold an empty document —
        ``LiveStreamConsumer`` drops empty fragments before they reach
        ``_spool_write`` — so ``_split_docs`` dropping empties keeps
        each file's i-th document at offset ``f_lo + i``."""
        for f_lo, f_hi, path in self._spool_files():
            if f_hi <= lo or (hi is not None and f_lo >= hi):
                continue
            with open(path, "rb") as f:
                data = f.read()
            for off, doc in enumerate(_split_docs(data), f_lo):
                if off >= lo and (hi is None or off < hi):
                    yield off, doc

    def readBetweenOffsets(self, start: dict, end: dict):
        lo, hi = start["n_docs"], end["n_docs"]
        if lo >= hi:
            return iter([])
        if not self.spool_dir:
            raise ValueError(
                "transis_xml: restart recovery needs to replay documents "
                f"[{lo}, {hi}) from a previous run, but no 'spoolDir' "
                "option was set — configure spoolDir so the live reader "
                "journals delivered documents for exact replay."
            )
        rows: list[tuple[str]] = []
        for off, doc in self._journal(lo, hi):
            if off == lo + len(rows):  # a gap fails below
                rows.append((doc,))
        expected = lo + len(rows)
        if expected != hi:
            raise RuntimeError(
                f"transis_xml: spool {self.spool_dir} cannot replay "
                f"[{lo}, {hi}): documents [{expected}, {hi}) are missing "
                "(spool pruned beyond the committed offset, or a foreign "
                "checkpoint was pointed at this spool)."
            )
        return iter(rows)

    def commit(self, end: dict) -> None:
        # Bounded journal: a file is prunable once every offset in it is
        # at or below the committed watermark — replay can only ever ask
        # for [committed, planned).  The NEWEST fully-committed file is
        # retained anyway: deleting the latest commit-log entry to force
        # one batch to reprocess is a standard Structured Streaming ops
        # move, and keeping one extra batch of documents makes it work
        # for this non-seekable source too.
        committed = end["n_docs"]
        prunable = [
            path
            for _f_lo, f_hi, path in self._spool_files()
            if f_hi <= committed
        ]
        for path in prunable[:-1]:
            try:
                os.remove(path)
            except OSError:
                pass  # best-effort GC; an undeleted file stays correct


class _Staged(WriterCommitMessage):
    """One task's staged capture file (``""`` when the partition had no
    documents) and the partition it belongs to."""

    def __init__(self, staged: str, pid: int) -> None:
        self.staged = staged
        self.pid = pid


def _stage(path: str, iterator, name: str) -> _Staged:
    """Executor half of both writers' two-phase commit: write the
    partition's non-null documents as one NUL-terminated file under the
    hidden ``path/_staging`` subdirectory (the readers list regular
    files of ``path`` only, so staged or leaked files are invisible to
    batch scans and to the streaming offset log)."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx else 0
    # Stage under the task ATTEMPT id, not the worker pid: a retried or
    # speculative attempt of the same partition can land on the same
    # reused Python worker process, and a pid-keyed name would let the
    # two attempts interleave writes into one staged file and commit a
    # corrupt capture.  Attempt ids are unique per attempt by contract;
    # uuid covers the no-TaskContext case.
    attempt = f"a{ctx.taskAttemptId()}" if ctx else f"u{uuid.uuid4().hex[:12]}"
    staging_dir = os.path.join(path, "_staging")
    os.makedirs(staging_dir, exist_ok=True)
    staged = os.path.join(staging_dir, f"{name}-{pid:05d}.{attempt}.tmp")
    with open(staged, "wb") as f:
        n = _write_docs(f, (row[0] for row in iterator if row[0] is not None))
    if n == 0:
        os.remove(staged)
        return _Staged("", pid)
    return _Staged(staged, pid)


def _discard(messages) -> None:
    """Remove the staged files of an aborted job (failed tasks report
    ``None``)."""
    for m in messages:
        if getattr(m, "staged", ""):
            try:
                os.remove(m.staged)
            except OSError:
                pass


class TransisXMLBatchWriter(DataSourceWriter):
    """Batch write path: each partition renders its rows as one
    NUL-delimited capture file (the reference's wire format, so a
    written directory reads back through the same source).

    Two-phase commit: executors stage (:func:`_stage`); the driver
    renames the staged set into place (and, for overwrite, clears prior
    captures) only after EVERY task succeeded — a failed/aborted job
    leaves the target untouched.  Final names carry a per-JOB unique
    token, so append mode never collides with the capture files of a
    previous write (deterministic ``part-00000`` names would silently
    clobber them).  On a local filesystem the rename is atomic; an
    object-store deployment swaps this for a manifest commit, the same
    contract every file sink uses."""

    def __init__(self, options, overwrite: bool) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("transis_xml write needs a 'path' option")
        self.path = path
        self.overwrite = overwrite
        # Generated once on the driver; the pickled writer carries it to
        # every task, so all of one job's files share the token and two
        # jobs never share a name.
        self.job_token = uuid.uuid4().hex[:12]

    def write(self, iterator) -> _Staged:
        return _stage(self.path, iterator, f"part-{self.job_token}")

    def commit(self, messages) -> None:
        if self.overwrite:
            for name in os.listdir(self.path):
                if name.endswith(".xml0"):
                    os.remove(os.path.join(self.path, name))
        for m in messages:
            if m.staged:
                final = f"part-{self.job_token}-{m.pid:05d}.xml0"
                os.replace(m.staged, os.path.join(self.path, final))
        self._gc_staging()

    def abort(self, messages) -> None:
        _discard(messages)
        self._gc_staging()

    def _gc_staging(self) -> None:
        # Best-effort: drop anything this job leaked (a task that died
        # mid-write never reported its staged file in a commit message).
        staging_dir = os.path.join(self.path, "_staging")
        if not os.path.isdir(staging_dir):
            return
        for name in os.listdir(staging_dir):
            if self.job_token in name:
                try:
                    os.remove(os.path.join(staging_dir, name))
                except OSError:
                    pass
        try:
            os.rmdir(staging_dir)  # succeeds only when empty
        except OSError:
            pass


class TransisXMLStreamWriter(DataSourceStreamWriter):
    """Streaming write path (``writeStream.format("transis_xml")``):
    each micro-batch lands as one NUL-delimited capture file per
    non-empty partition, final-named by (batchId, partitionId) — so a
    micro-batch REPLAYED after restart (the sink-committed-but-offset-
    uncommitted crash window) overwrites its own files byte-for-byte
    instead of duplicating records: idempotent-by-batchId, the same
    exactly-once story as the Kinesis sink's foreachBatch writer, and
    the reason the final name cannot carry a random token like the
    batch writer's.

    Executors stage (:func:`_stage`); the driver renames the batch's
    staged set into place only in ``commit``, when every task of the
    micro-batch has succeeded.  A task that dies mid-write can leak its
    attempt file in ``_staging`` — harmless to readers, the usual
    file-sink trade without a manifest."""

    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("transis_xml stream write needs a 'path' option")
        self.path = path

    def write(self, iterator) -> _Staged:
        return _stage(self.path, iterator, "stream")

    def commit(self, messages, batchId: int) -> None:
        for m in messages:
            if m and m.staged:
                final = f"part-b{batchId:010d}-{m.pid:05d}.xml0"
                os.replace(m.staged, os.path.join(self.path, final))

    def abort(self, messages, batchId: int) -> None:
        _discard(messages)


class TransisXMLDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "transis_xml"

    def schema(self) -> StructType:
        return SCHEMA

    def reader(self, schema: StructType) -> TransisXMLBatchReader:
        return TransisXMLBatchReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> TransisXMLBatchWriter:
        return TransisXMLBatchWriter(self.options, overwrite)

    def simpleStreamReader(
        self, schema: StructType
    ) -> SimpleDataSourceStreamReader:
        if self.options.get("transport"):
            return TransisXMLLiveStreamReader(self.options)
        return TransisXMLStreamReader(self.options)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> TransisXMLStreamWriter:
        return TransisXMLStreamWriter(self.options)


def register_transis_datasource(spark) -> None:
    """Idempotently register ``format("transis_xml")`` on a session."""
    spark.dataSource.register(TransisXMLDataSource)
