"""Custom Python DataSource: MongoDB extended-JSON dump reader.

The reference's production source is a live MongoDB collection handle
(reference streamlit_app.py:19-22: ``MongoClient(uri)[db][collection]``).
Its offline twin — and the standard migration artifact — is a
``mongoexport`` dump: one MongoDB Extended-JSON document per line.
This module makes that dump format a first-class Spark table via the
Spark 4 Python DataSource API (``pyspark.sql.datasource``), so a user
of the reference can point the engine at an exported collection and run
every query without a server.

Scale design (100 TB dump directory):
- ``partitions()`` returns one ``InputPartition`` per dump file — the
  natural split unit for line-delimited JSON (files are typically
  sharded by the exporter). 1000 executors each open only their own
  files; nothing is centralized except the file listing.
- ``pushFilters()`` accepts top-level ``EqualTo`` filters (the only
  predicate shape the reference's facet queries emit — SURVEY.md
  A4-A6) and applies them inside the scan *before* building rows, so a
  ``tipo = 'x'`` facet over a 100 TB dump deserializes every line but
  materializes only matching rows into Arrow batches. Remaining
  filters stay with Spark (we return only what we fully handle).
- Schema is caller-declared (``.schema(...)``); we never infer by
  pre-scanning the data (an extra full pass at scale).

Lifecycle caveat (pinned in tests/test_modern.py): the Python
DataSource runtime caches the planned reader — including its pushed
filters — per loaded relation, so deriving several differently-filtered
queries from ONE ``.load()`` reuses the first query's pushdown;
``pushFilters`` resets its state on entry for that reason. The engine
facade loads a dump once per snapshot version and persists it, so its
requests read the cached relation and never plan a pushdown.

Extended-JSON type wrappers are unwrapped per the BSON spec:
``{"$oid": s}`` -> string, ``{"$numberInt"|"$numberLong": s}`` -> int,
``{"$numberDouble": s}`` -> float, ``{"$date": iso-or-millis}`` ->
datetime. Unknown wrappers pass through as their inner value.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "mongodump"


def _unwrap(v):
    """Unwrap one MongoDB Extended-JSON value into a plain Python value."""
    if isinstance(v, dict) and len(v) == 1:
        (k, inner), = v.items()
        if k == "$oid":
            return str(inner)
        if k in ("$numberInt", "$numberLong"):
            return int(inner)
        if k == "$numberDouble":
            return float(inner)
        if k == "$date":
            import datetime as _dt

            if isinstance(inner, dict) and "$numberLong" in inner:
                ms = int(inner["$numberLong"])
                return _dt.datetime.fromtimestamp(ms / 1000, tz=_dt.timezone.utc).replace(
                    tzinfo=None
                )
            return _dt.datetime.fromisoformat(str(inner).rstrip("Z"))
        if k.startswith("$"):
            return inner
    return v


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _list_dump_files(path: str) -> list[str]:
    """Deterministic (sorted) dump-file listing — the shared unit of
    batch partitioning AND streaming offsets."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith((".json", ".jsonl", ".txt")) and not f.startswith(("_", "."))
        )
    return [path]


def _iter_dump_lines(path: str, fields: list[str], eqs=()):
    """Yield schema-ordered row tuples from one Extended-JSON dump file."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            doc = json.loads(line)
            row = {k: _unwrap(v) for k, v in doc.items()}
            if any(row.get(col) != val for col, val in eqs):
                continue
            yield tuple(row.get(f) for f in fields)


class MongoDumpReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_fields = [f.name for f in schema.fields]
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mongodump source requires a path")
        self.eq_filters: list[tuple[str, object]] = []

    def pushFilters(self, filters: Sequence[Filter]) -> Iterator[Filter]:
        """Keep top-level EqualTo filters (the reference's facet
        predicates, SURVEY.md A4-A6); everything else stays in Spark.

        Resets pushed state on entry: Spark reuses ONE reader instance
        across every query planned from the same loaded DataFrame, so
        appending without reset leaks one query's filters into the
        next (each planning pass pickles the reader's state into its
        own physical plan, so per-planning reset is safe)."""
        self.eq_filters = []
        for f in filters:
            if isinstance(f, EqualTo) and len(f.attribute) == 1:
                self.eq_filters.append((f.attribute[0], f.value))
            else:
                yield f

    def partitions(self):
        return [_FilePartition(p) for p in _list_dump_files(self.path)]

    def read(self, partition: _FilePartition):
        yield from _iter_dump_lines(partition.path, self.schema_fields, self.eq_filters)


class MongoDumpStreamReader(SimpleDataSourceStreamReader):
    """Streaming twin of the batch reader: the dump directory as an
    append-only SPOOL (the shape a `mongoexport --collection` cron or
    a CDC-to-file relay produces). The offset is "how many files of
    the sorted listing have been consumed" PLUS the basename of the
    last consumed file: new files are expected to sort after consumed
    ones (exporters write monotonic part names), and the recorded
    basename makes that assumption CHECKED instead of silent — a file
    that sorts into the consumed prefix (classic unpadded numeric
    suffix: 'part-10' < 'part-9') would shift every index, re-reading
    consumed files and permanently skipping the newcomer; the prefix
    check raises loudly instead, preserving the exactly-once /
    deterministic-replay contract.

    ``readBetweenOffsets`` re-reads exactly the files in [start, end)
    — dump files are immutable once written, so replay after a
    failure is deterministic and the source is exactly-once-capable
    under a checkpointed sink. ``initialOffset`` starts at 0 so a
    fresh query replays the whole spool (batch/stream parity: the
    drained stream equals the batch read — pinned in tests).

    Scale note: the simple-stream-reader API reads on the DRIVER and
    is the right tool for control-plane-sized spools; a 100 TB bulk
    dump belongs to the batch reader (one InputPartition per file on
    executors), with the stream consuming only the incremental tail.
    """

    def __init__(self, schema: StructType, options: dict):
        self.fields = [f.name for f in schema.fields]
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mongodump stream source requires a path")

    def initialOffset(self) -> dict:
        return {"n_files": 0, "last": ""}

    @staticmethod
    def _check_prefix(files: list[str], offset: dict) -> None:
        """The first n_files of the current listing must still end at
        the recorded last-consumed basename — else a new file sorted
        INTO the consumed prefix and every count-based slice is off by
        one or more. (Offsets from pre-round-5 checkpoints carry no
        'last' and skip the check.)"""
        n, last = int(offset["n_files"]), offset.get("last", "")
        if not last or n == 0:
            return
        got = os.path.basename(files[n - 1]) if n <= len(files) else None
        if got != last:
            raise ValueError(
                f"mongodump spool is not append-only: consumed prefix ended at "
                f"{last!r} but listing[{n - 1}] is now {got!r} — a new file "
                f"sorts before already-consumed names (unpadded suffix?); "
                f"refusing to silently re-read/skip"
            )

    def read(self, start: dict):
        files = _list_dump_files(self.path)
        self._check_prefix(files, start)
        # a spool must be append-only; if files vanished, hold the
        # offset (never rewind — the runtime treats offsets as monotone)
        n0, n1 = int(start["n_files"]), max(len(files), int(start["n_files"]))
        # a LIST, not a generator: the runtime pickles the prefetched
        # batch into its offset cache for failure replay
        rows = [
            row for p in files[n0:n1] for row in _iter_dump_lines(p, self.fields)
        ]
        last = os.path.basename(files[n1 - 1]) if 0 < n1 <= len(files) else start.get("last", "")
        return rows, {"n_files": n1, "last": last}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = _list_dump_files(self.path)
        self._check_prefix(files, start)
        self._check_prefix(files, end)
        for p in files[int(start["n_files"]) : int(end["n_files"])]:
            yield from _iter_dump_lines(p, self.fields)

    def commit(self, end: dict) -> None:
        pass  # files are immutable; nothing to clean up


class _WrittenFile(WriterCommitMessage):
    """One staged file per task; the driver's commit publishes them."""

    def __init__(self, staged: str, final: str):
        self.staged = staged
        self.final = final


def _wrap_value(v, dtype):
    """Inverse of ``_unwrap``: plain Python value -> Extended-JSON
    wrapper chosen by the DECLARED field type (the reader unwraps the
    same wrappers, so write -> read is identity on the typed view)."""
    from pyspark.sql import types as T

    if v is None:
        return None
    if isinstance(dtype, T.LongType):
        return {"$numberLong": str(int(v))}
    if isinstance(dtype, T.IntegerType):
        return {"$numberInt": str(int(v))}
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return {"$numberDouble": repr(float(v))}
    if isinstance(dtype, T.TimestampType):
        return {"$date": v.isoformat()}
    return v


class MongoDumpWriter(DataSourceWriter):
    """Batch write path of the mongodump format (Spark 4 Python
    DataSource writer API) — the dump directory becomes a SINK, not
    just a source, with the standard two-phase commit:

    1. each task serializes its partition to a STAGED file
       (``_staging/part-<pid>-<uuid>``) and returns a commit message;
    2. the driver's ``commit`` — which runs only if every task
       succeeded — atomically renames staged files into place (and in
       overwrite mode clears prior part files first); ``abort``
       deletes the stage. A crashed job therefore never leaves a
       half-written dump visible to readers, the same contract
       FileOutputCommitter gives parquet.

    The path must be shared storage on a real cluster (same
    requirement as every file sink). Serialization wraps values by the
    DECLARED schema type (``_wrap_value``), so a write->read round
    trip through the reader's ``_unwrap`` is the identity."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mongodump writer needs a path")
        self.schema = schema
        self.overwrite = overwrite

    def write(self, iterator):
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        stage_dir = os.path.join(self.path, "_staging")
        os.makedirs(stage_dir, exist_ok=True)
        name = f"part-{pid:05d}-{uuid.uuid4().hex}.json"
        staged = os.path.join(stage_dir, name)
        fields = [(f.name, f.dataType) for f in self.schema.fields]
        with open(staged, "w", encoding="utf-8") as fh:
            for row in iterator:
                doc = {n: _wrap_value(row[n], t) for n, t in fields}
                fh.write(json.dumps(doc, separators=(",", ":")) + "\n")
        return _WrittenFile(staged, os.path.join(self.path, name))

    def commit(self, messages):
        if self.overwrite:
            for f in _list_dump_files(self.path):
                os.remove(f)
        for m in messages:
            os.replace(m.staged, m.final)
        stage_dir = os.path.join(self.path, "_staging")
        if os.path.isdir(stage_dir) and not os.listdir(stage_dir):
            os.rmdir(stage_dir)

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)


class MongoDumpStreamWriter(DataSourceStreamWriter):
    """STREAMING write path (round 6) — the last quadrant of the
    custom-format matrix (batch read/write and stream read exist
    above): ``writeStream.format("mongodump")`` lands each micro-batch
    as dump part files with an exactly-once per-batch commit.

    Protocol (the foreachBatch-free, engine-managed form):

    1. every task stages its rows to ``_staging/`` and returns a
       commit message — same as the batch writer;
    2. ``commit(messages, batchId)`` renames staged files to
       ``part-b<batchId>-<task>.json`` and then atomically publishes a
       ``_committed_b<batchId>`` marker (os.replace of a staged
       marker). Replayed batches (restart after the sink committed but
       before the checkpoint advanced) find the marker, DISCARD their
       freshly staged files and do nothing — idempotence without a
       sidecar log, the same (lineage, batch) high-water idea as the
       versioned upsert sink;
    3. ``abort`` deletes the stage. A crash mid-commit leaves either
       no marker (batch replays fully; leftover renamed part files are
       overwritten by the replay's identical renames) or the marker
       (replay no-ops) — readers only ever see whole batches once the
       marker exists... and part files are never half-written because
       rename is atomic.

    Scale note: one marker + O(tasks) renames per batch, no data
    rewrite; the dump dir remains readable by the batch reader at any
    point (SURVEY §2.4 file-formats row)."""

    def __init__(self, schema: StructType, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mongodump stream writer needs a path")
        self.schema = schema

    def write(self, iterator):
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        stage_dir = os.path.join(self.path, "_staging")
        os.makedirs(stage_dir, exist_ok=True)
        staged = os.path.join(stage_dir, f"task-{pid:05d}-{uuid.uuid4().hex}.json")
        fields = [(f.name, f.dataType) for f in self.schema.fields]
        with open(staged, "w", encoding="utf-8") as fh:
            for row in iterator:
                doc = {n: _wrap_value(row[n], t) for n, t in fields}
                fh.write(json.dumps(doc, separators=(",", ":")) + "\n")
        return _WrittenFile(staged, staged)  # final name decided at commit

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.path, f"_committed_b{batch_id:06d}")

    def commit(self, messages, batchId: int) -> None:
        if os.path.exists(self._marker(batchId)):
            # replayed batch: already published — discard the re-staged files
            for m in messages:
                if m is not None and os.path.exists(m.staged):
                    os.remove(m.staged)
            return
        # A replay may stage FEWER part files than a partially-committed
        # earlier attempt renamed into place — clear any part files of
        # this batch first so the replay fully supersedes the partial
        # attempt (otherwise higher-numbered leftovers would read as
        # duplicate committed data once the marker lands).
        import glob as _glob

        for stale in _glob.glob(
            os.path.join(self.path, f"part-b{batchId:06d}-*.json")
        ):
            os.remove(stale)
        live = [m for m in messages if m is not None]
        for i, m in enumerate(live):
            final = os.path.join(self.path, f"part-b{batchId:06d}-{i:05d}.json")
            os.replace(m.staged, final)
        marker_tmp = os.path.join(self.path, "_staging", f"marker-{batchId}")
        os.makedirs(os.path.dirname(marker_tmp), exist_ok=True)
        with open(marker_tmp, "w") as fh:
            fh.write(str(len(live)))
        os.replace(marker_tmp, self._marker(batchId))

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)


class MongoDumpDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        # Default schema = the reference collection's pinned shape
        # (SURVEY.md §1.1 / FIXTURES.md mapping); callers with other
        # collections pass .schema(...) explicitly.
        return "_id string, providencia string, tipo string, anio int, texto string"

    def reader(self, schema: StructType) -> MongoDumpReader:
        return MongoDumpReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType) -> MongoDumpStreamReader:
        return MongoDumpStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> MongoDumpWriter:
        return MongoDumpWriter(schema, self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> MongoDumpStreamWriter:
        return MongoDumpStreamWriter(schema, self.options)


def register(spark: SparkSession) -> None:
    """Idempotently register the mongodump format on this session.

    Also enables Python-datasource filter pushdown (off by default in
    Spark 4.1) so ``pushFilters`` participates in planning.
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(MongoDumpDataSource)


# ---- export helper (builds dumps; also used to stage test fixtures) ----

def export_mongodump(docs: DataFrame, out_dir: str, n_files: int = 4) -> None:
    """Write the rulings view as a mongoexport-style Extended-JSON dump.

    Pure Spark sink: each row becomes one Extended-JSON line via
    ``to_json`` over a struct whose field names carry the BSON type
    wrappers; no driver-side loop, so the export itself scales. The
    ``_id`` is a deterministic 24-hex string derived from ``doc_id``
    (a real dump's ObjectId is opaque; determinism keeps the oracle
    comparable).
    """
    line = F.to_json(
        F.struct(
            F.struct(
                F.lpad(F.lower(F.hex(F.col("doc_id"))), 24, "0").alias("$oid")
            ).alias("_id"),
            F.col("providencia"),
            F.col("tipo"),
            F.struct(F.col("anio").cast("string").alias("$numberInt")).alias("anio"),
            F.col("texto"),
        )
    )
    docs.select(line.alias("value")).repartition(n_files).write.mode("overwrite").text(
        out_dir
    )
