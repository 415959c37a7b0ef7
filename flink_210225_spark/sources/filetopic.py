"""An embedded file-backed topic broker as a custom Python DataSource —
the runtime stand-in for Kafka in this broker-less container (SURVEY §2.2
K1/K2; reference producer surface ``MyKafkaUtils.java:24-65``).

``format("file_topic")`` gives both halves of the contract the Kafka
builders in ``sources/kafka.py`` target, with REAL streaming machinery on
each side:

- **Sink** (``writeStream.format("file_topic").option("path", broker)``):
  consumes the same ``(topic, value)`` rows ``shape_for_topic`` /
  ``shape_dynamic_topic`` produce for the Kafka writer — including K2's
  per-row dynamic topic routing. Executors stage one file per (task,
  topic) under ``<topic>/staged/``; the driver-side ``commit(messages,
  batchId)`` publishes them into the append-only ``<topic>/log/`` under
  batch-prefixed names. Publish is idempotent per batch (a replayed batch
  first clears its own prefix), which is exactly the transactional
  producer's effective guarantee (``MyKafkaUtils.java:31-40``): a batch's
  rows appear in the log once no matter how many times the batch runs.

- **Source** (``readStream.format("file_topic").option("topic", t)``):
  replays one topic's committed log in offset order with a file-index
  cursor — the (partition, offset) bookkeeping of a Kafka consumer in one
  dimension. Restart from a checkpoint resumes at the cursor: no rows
  re-delivered, none skipped. Log files are immutable after publish, so
  ``readBetweenOffsets`` replay is deterministic.

Scale: staged writes are per-executor (no driver data path); the driver
commit renames file handles only. The file-index offset serves from the
driver like ``SimpleDataSourceStreamReader`` prescribes — the
partition-planning ``DataSourceStreamReader`` is the drop-in upgrade once
per-executor read fan-out matters, same note as ``pyds.py``.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from flink_210225_spark.io import _scratch

TOPIC_SCHEMA = "value string"


@dataclass
class _StagedFiles(WriterCommitMessage):
    files: list  # [(topic, staged_path), ...]


class _TopicStreamWriter(DataSourceStreamWriter):
    """Per-query stream writer. ``producer_id`` (option) is the
    transactional-producer analog: batch file names are prefixed
    ``<producer_id>-b<batchId>`` so a REPLAYED batch from the same producer
    republishes idempotently (its old files and sequence entries are
    cleared first), while distinct producers never collide. Without an
    explicit producer_id a random one is drawn per query start —
    at-least-once across checkpoint restarts, exactly Kafka's
    non-transactional producer posture."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.producer_id = options.get("producer_id") or f"p{uuid.uuid4().hex[:8]}"

    def write(self, iterator):
        by_topic: dict[str, list[str]] = {}
        for row in iterator:
            by_topic.setdefault(row.topic, []).append(
                "" if row.value is None else str(row.value)
            )
        staged = []
        for topic, values in by_topic.items():
            sdir = os.path.join(self.path, topic, "staged")
            os.makedirs(sdir, exist_ok=True)
            fpath = os.path.join(sdir, f"t{uuid.uuid4().hex}.log")
            with open(fpath, "w") as f:
                f.write("\n".join(values) + "\n")
            staged.append((topic, fpath))
        return _StagedFiles(files=staged)

    def commit(self, messages, batchId: int) -> None:
        prefix = f"{self.producer_id}-b{batchId:012d}"
        staged = sorted(
            (t, p) for m in messages if m is not None for (t, p) in m.files
        )
        # Publish = rename into log/ + record ONE slot per (producer,
        # batchId) in the topic's _seq index: each line is "<prefix>
        # <n_files>". The reader's offset axis is (slot, ordinal-in-slot),
        # so a REPLAYED batch replaces its own slot IN PLACE — every later
        # slot keeps its position even if the replay stages a different
        # number of files (task repartitioning after restart), which a flat
        # per-file index could not guarantee. The index rewrite is a
        # temp+atomic-replace; concurrent producers on ONE topic could
        # interleave here — the embedded broker models
        # single-writer-per-topic, the usual CDC layout (real Kafka's
        # broker serializes this).
        per_topic: dict[str, list[str]] = {}
        for i, (topic, fpath) in enumerate(staged):
            per_topic.setdefault(topic, []).append(fpath)
        for topic, files in per_topic.items():
            ldir = os.path.join(self.path, topic, "log")
            os.makedirs(ldir, exist_ok=True)
            for f in os.listdir(ldir):
                if f.startswith(prefix):
                    os.remove(os.path.join(ldir, f))
            for i, fpath in enumerate(files):
                os.replace(fpath, os.path.join(ldir, f"{prefix}-{i:06d}.log"))
            seq_path = os.path.join(self.path, topic, "_seq")
            entries = []
            if os.path.exists(seq_path):
                with open(seq_path) as f:
                    entries = [ln.split() for ln in f.read().splitlines() if ln]
            slot = next((i for i, e in enumerate(entries) if e[0] == prefix), None)
            entry = [prefix, str(len(files))]
            if slot is None:
                entries.append(entry)
            else:
                entries[slot] = entry
            tmp_seq = seq_path + f".tmp_{uuid.uuid4().hex}"
            with open(tmp_seq, "w") as f:
                f.write("\n".join(" ".join(e) for e in entries) + "\n")
            os.replace(tmp_seq, seq_path)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is None:
                continue
            for _topic, fpath in m.files:
                try:
                    os.remove(fpath)
                except OSError:
                    pass


class _LogFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _log_slots(path: str, topic: str) -> list[tuple[str, int]]:
    """Committed (batch-prefix, n_files) slots in PUBLISH order — the
    reader's offset axis. Slot positions are replay-stable: a republished
    batch updates its own slot in place, so a committed (slot, ordinal)
    cursor never shifts under later commits or replays."""
    seq_path = os.path.join(path, topic, "_seq")
    if not os.path.exists(seq_path):
        return []
    with open(seq_path) as f:
        return [
            (parts[0], int(parts[1]))
            for ln in f.read().splitlines()
            if ln
            for parts in [ln.split()]
        ]


def _slot_files(path: str, topic: str, prefix: str, nfiles: int) -> list[str]:
    ldir = os.path.join(path, topic, "log")
    return [os.path.join(ldir, f"{prefix}-{i:06d}.log") for i in range(nfiles)]


def _log_files(path: str, topic: str) -> list[str]:
    """All committed log files flattened in publish order (batch reads)."""
    return [
        p
        for prefix, n in _log_slots(path, topic)
        for p in _slot_files(path, topic, prefix, n)
    ]


def _read_lines(fpath: str):
    with open(fpath) as f:
        for line in f.read().splitlines():
            yield (line,)


class _TopicBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.topic = options["topic"]

    def partitions(self):
        return [_LogFilePartition(p) for p in _log_files(self.path, self.topic)]

    def read(self, partition: _LogFilePartition):
        yield from _read_lines(partition.path)


class _TopicStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.topic = options["topic"]
        self.max_files = int(options.get("max_files_per_batch", "1"))

    def initialOffset(self):
        return {"slot": 0, "ordinal": 0}

    def _files_from(self, start: dict, limit: int) -> tuple[list, dict]:
        """Walk up to ``limit`` files forward of the (slot, ordinal) cursor.
        Ordinals past a slot's current file count are clamped forward (a
        replayed batch may have re-partitioned into fewer files — the row
        set is identical, only boundaries moved), so a committed cursor
        always resolves."""
        slots = _log_slots(self.path, self.topic)
        slot, ordinal = start["slot"], start["ordinal"]
        picked = []
        while slot < len(slots) and len(picked) < limit:
            prefix, n = slots[slot]
            if ordinal >= n:
                slot, ordinal = slot + 1, 0
                continue
            picked.append(_slot_files(self.path, self.topic, prefix, n)[ordinal])
            ordinal += 1
            if ordinal >= n:
                slot, ordinal = slot + 1, 0
        return picked, {"slot": slot, "ordinal": ordinal}

    def read(self, start: dict):
        files, end = self._files_from(start, self.max_files)
        return iter([r for f in files for r in _read_lines(f)]), end

    def readBetweenOffsets(self, start: dict, end: dict):
        # Walk from the start cursor, stopping at the end cursor — same
        # clamp-forward rule as read(), so replay after a re-partitioned
        # republish still resolves deterministically.
        slots = _log_slots(self.path, self.topic)
        out = []
        slot, ordinal = start["slot"], start["ordinal"]
        while slot < len(slots):
            if (slot, ordinal) >= (end["slot"], end["ordinal"]):
                break
            prefix, n = slots[slot]
            if ordinal >= n:
                slot, ordinal = slot + 1, 0
                continue
            out.extend(_read_lines(_slot_files(self.path, self.topic, prefix, n)[ordinal]))
            ordinal += 1
            if ordinal >= n:
                slot, ordinal = slot + 1, 0
        return iter(out)

    def commit(self, end: dict):
        pass


class FileTopicSource(DataSource):
    """``format("file_topic")``: options ``path`` (broker dir), ``topic``
    (reader side), ``max_files_per_batch`` (reader micro-batch size)."""

    @classmethod
    def name(cls) -> str:
        return "file_topic"

    def schema(self) -> str:
        return TOPIC_SCHEMA

    def reader(self, schema):
        return _TopicBatchReader(self.options)

    def simpleStreamReader(self, schema):
        return _TopicStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool):
        return _TopicStreamWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(FileTopicSource)


def topic_roundtrip_lang_counts(tables):
    """Driver-gated K1/K2 capstone: the documents fixture streams through
    the FULL producer→broker→consumer loop — rows shaped to (topic, value)
    with a PER-ROW DYNAMIC TOPIC (one topic per language, the reference's
    sinkTable routing, BaseDbApp.java:83-89), stream-written into the
    file_topic broker via staged-files + driver commit, then every topic
    read back through the broker's log, JSON-parsed, and aggregated. The
    oracle aggregates the fixture directly, so a row lost or duplicated
    anywhere in the sink's commit protocol or the reader's log walk breaks
    the count/hash gate.

    Scale: the broker write is executor-parallel (one staged file per
    task×topic); the read-back fans out one task per log file. The
    per-language topic list is collected driver-side but is vocabulary-
    sized (≤ tens), the same boundedness argument as run_router_stream's
    table-name collect."""
    import os

    from pyspark.sql import functions as F

    from flink_210225_spark.streaming.pipelines import _stage_fixture

    docs = tables["documents"]
    spark = docs.sparkSession
    register(spark)
    broker = _scratch(prefix="file_topic_broker_")
    cp = _scratch(prefix="file_topic_wcp_")
    srcdir = _scratch(prefix="file_topic_src_")
    _stage_fixture(docs, srcdir, "docs")
    stream = spark.readStream.schema(docs.schema).parquet(srcdir)
    shaped = stream.select(
        F.concat(F.lit("docs_"), F.col("lang")).alias("topic"),
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("value"),
    )
    q = (
        shaped.writeStream.format("file_topic")
        .option("path", broker)
        .option("producer_id", "roundtrip")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    topics = sorted(
        d for d in os.listdir(broker) if os.path.isdir(os.path.join(broker, d))
    )
    reads = None
    for t in topics:
        r = spark.read.format("file_topic").option("path", broker).option("topic", t).load()
        reads = r if reads is None else reads.unionByName(r)
    parsed = reads.select(
        F.from_json("value", "doc_id bigint, lang string, n_chars bigint").alias("j")
    ).select("j.*")
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("char_total"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


QUERIES = {"stream_topic_roundtrip": topic_roundtrip_lang_counts}

ORACLES = {
    "stream_topic_roundtrip": """
        SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS char_total,
               min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id
        FROM documents GROUP BY lang
    """,
}
