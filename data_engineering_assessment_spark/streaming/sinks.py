"""Streaming sinks beyond the built-ins.

``start_upsert_sink`` wires Structured Streaming to the batch upsert
(sources/upsert.py) via foreachBatch: each micro-batch MERGEs into a
keyed parquet target instead of blind-appending.  With the batch
first deduped on the key, replayed micro-batches (checkpoint
recovery) converge to the same target state — the standard
idempotent-sink recipe for exactly-once-to-storage on plain parquet.
A batch whose write fails leaves the target as the previous batch
published it (the unpartitioned upsert publishes a versioned sibling
with one symlink flip), so the replay merges onto the full table.

Scale: each micro-batch's merge cost is bounded by the batch size
plus the touched partitions (partition-scoped rewrite), never the
whole target.

State shards: a stateful operator keeps one state store per shuffle
partition and loads and commits every one of them in every
micro-batch, so each shard is a fixed cost per batch, paid whatever
the batch holds.  A commit creates four files (delta, checksum and
their ``.crc`` files) through Hadoop's local filesystem; it takes a
median 8 ms on 4 vCPU with the in-process filesystem
``session.get_spark`` binds, 61 ms where Hadoop forks ``chmod`` per
file and ``readlink`` per rename.  The count
is fixed when a query first starts (``spark.sql.shuffle.partitions``
at that moment) and the checkpoint keeps it: a restart restores it
from the offset log whatever the session says.  Every stream started
here (both sinks and :func:`drain_to_memory`) is sized by one rule,
:func:`state_shards` over the bytes its file sources hold at first
start — one shard per 8 MB, at least 1, at most 200 — and a stream
with any other source keeps the session default.

No-data micro-batches: after a data batch moves the watermark, Spark
by default schedules a second micro-batch with no input rows, only
to apply the new watermark to state.  Both sinks skip it when the
stream's analyzed plan shows it could only EVICT state — the plan has
exactly one stateful node and it is a ``Deduplicate`` /
``DeduplicateWithinWatermark`` (any output mode) or an ``Aggregate``
in update mode — because such a batch writes nothing new, yet costs a
full foreachBatch call (a whole-target upsert rewrite, an empty
tablelog version) plus one state-store commit per shard.  The no-data
batch is kept whenever it can emit rows: an ``Aggregate`` or stream
``Join`` in append mode (windows and outer rows close on the
watermark) and every ``*WithState*`` node (timeouts and timers); it is
also kept for plans with several stateful nodes.  A stateless stream
never gets no-data batches, so it is left alone.

Skipping is output-preserving because the next data batch runs under
the watermark the skipped batch would have used, evicts the same keys
(one trigger later; state holds them until then) and drops the same
late rows.  The last part needs care: with multiple stateful
operators allowed (Spark >= 3.4's default), late rows are filtered by
the PREVIOUS batch's watermark, which without the no-data batch is one
trigger older, so rows late by less than one trigger would be
accepted.  The skipping query therefore also starts with
``spark.sql.streaming.statefulOperator.allowMultiple=false``, under
which late rows are filtered by the batch's own watermark; that is
why only single-operator plans skip.  The one remaining difference is
a repeat of a ``DeduplicateWithinWatermark`` key arriving more than
the watermark delay after the first copy, once that key has expired:
it is dropped instead of re-emitted, a case
``dropDuplicatesWithinWatermark`` leaves unspecified.
"""

from __future__ import annotations

import glob
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..session import scoped_conf
from ..sources.upsert import upsert_parquet

# stateful nodes whose no-data batch only evicts state, per output mode
_EVICT_ONLY_ANY_MODE = frozenset({"Deduplicate", "DeduplicateWithinWatermark"})
_EVICT_ONLY_UPDATE = frozenset({"Aggregate", "Distinct"})
# stateful nodes whose no-data batch can emit rows in append mode
_EMIT_ON_WATERMARK_APPEND = frozenset({"Aggregate", "Distinct", "Join"})
# names a file source does not read
_HIDDEN = (".", "_")


def _streaming_nodes(stream: DataFrame) -> list:
    """JVM nodes of the streaming part of ``stream``'s analyzed plan
    (static subtrees, such as a stream-static join's table side, are
    skipped: they hold no state and are not stream input)."""
    nodes, todo = [], [stream._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if not node.isStreaming():
            continue
        nodes.append(node)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return nodes


def state_shards(nbytes: int) -> int:
    """State shards (``spark.sql.shuffle.partitions``) for a stateful
    stream over ``nbytes`` of input: one per 8 MB, at least 1, at most
    200.

    Every stateful operator loads and commits one state store per
    shard per micro-batch (a stream-stream join: four), whatever the
    batch holds, so on a small input the shard count is fixed cost,
    not parallelism.  Measured on 4 vCPU: with 8 shards a 4k-row
    landed batch ran each state stage as 8 tasks of ~230 ms, ~35 ms of
    them CPU, and one shard cut the batch's latency by about 40%; on
    the stream-stream left outer join key at sf0.1, 32 → 8 shards cut
    its build from 5.5 s to 2.2 s.  The same rule grows the count with
    the input for real volumes."""
    return max(1, min(200, -(-nbytes // (8 << 20))))


def _local_bytes(path: str) -> int | None:
    """Bytes of the data files a file source at ``path`` (a file, a
    directory or a glob) reads; hidden (``.``/``_``) names are
    skipped, as Spark skips them.  None for a non-local path."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    total = 0
    for root in glob.glob(url.path):
        if os.path.isfile(root):
            total += os.path.getsize(root)
        for d, dirs, files in os.walk(root):
            dirs[:] = [x for x in dirs if not x.startswith(_HIDDEN)]
            total += sum(
                os.path.getsize(os.path.join(d, f)) for f in files if not f.startswith(_HIDDEN)
            )
    return total


def state_shard_conf(stream: DataFrame) -> dict[str, object]:
    """``{"spark.sql.shuffle.partitions": state_shards(input bytes)}``
    for a stream whose every source is a local file source, else
    ``{}`` (the session default stands)."""
    jvm = stream.sparkSession._jvm
    file_format = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.datasources.FileFormat"
    )
    total = 0
    for node in _streaming_nodes(stream):
        if node.children().size():
            continue
        if node.nodeName() != "StreamingRelation":
            return {}
        source = node.dataSource()
        path = source.options().get("path")
        if not (path.isDefined() and file_format.isInstance(source.providingInstance())):
            return {}
        nbytes = _local_bytes(path.get())
        if nbytes is None:
            return {}
        total += nbytes
    return {"spark.sql.shuffle.partitions": state_shards(total)}


def _no_data_batch_evicts_only(stream: DataFrame, output_mode: str) -> bool:
    """True when a no-data micro-batch of ``stream`` in ``output_mode``
    could only evict state: exactly one evict-only stateful node and
    none that may emit rows when the watermark moves."""
    names = [node.nodeName() for node in _streaming_nodes(stream)]
    evict_only = _EVICT_ONLY_ANY_MODE | (
        _EVICT_ONLY_UPDATE if output_mode == "update" else frozenset()
    )
    may_emit = _EMIT_ON_WATERMARK_APPEND if output_mode == "append" else frozenset()
    return sum(n in evict_only for n in names) == 1 and not any(
        n in may_emit or "WithState" in n for n in names
    )


def _start(
    stream: DataFrame, batch_fn, checkpoint: str, output_mode: str, available_now: bool
) -> StreamingQuery:
    """Start ``stream`` into foreachBatch ``batch_fn`` with its state
    sharded by :func:`state_shard_conf`, with no-data micro-batches
    disabled for this query when they could only evict state, and late
    rows filtered by each batch's own watermark (the confs are read
    once, at start; the session's own values are restored right
    after)."""
    writer = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    conf = state_shard_conf(stream)
    if _no_data_batch_evicts_only(stream, output_mode):
        conf["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
        conf["spark.sql.streaming.statefulOperator.allowMultiple"] = "false"
    with scoped_conf(stream.sparkSession, conf):
        return writer.start()


def drain_to_memory(stream: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run ``stream`` to completion (``Trigger.AvailableNow``) into the
    in-memory table ``name``, with its state sharded by
    :func:`state_shard_conf`; return that table."""
    spark = stream.sparkSession
    with scoped_conf(spark, state_shard_conf(stream)):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return spark.table(name)


def start_upsert_sink(
    stream: DataFrame,
    target_path: str,
    key: str | list[str],
    checkpoint: str,
    partition_by: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Run a stream into a keyed parquet target via MERGE-per-batch."""
    keys = [key] if isinstance(key, str) else key

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # one row per key; dropDuplicates keeps an arbitrary one, so a
        # batch must not carry two different rows for the same key
        deduped = batch.dropDuplicates(keys)
        upsert_parquet(spark, deduped, target_path, keys, partition_by=partition_by)

    return _start(stream, merge_batch, checkpoint, "update", available_now)


def start_tablelog_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream into a tablelog table with EXACTLY-ONCE commits.

    Each micro-batch appends one table version whose manifest records
    the batch id — the manifest commit IS the transaction log.  On
    checkpoint replay (crash between sink commit and checkpoint
    write) the batch id is already present, so the batch is skipped;
    a crash BEFORE the manifest claim leaves only unreferenced
    staging files, which readers never see.  That is stronger than
    the idempotent-MERGE recipe: no key column is needed, blind
    appends are safe.

    Scale: commit cost is O(batch files) + one manifest write; the
    already-landed check is O(versions) manifest reads (a head-side
    cache or meta index removes even that at very long histories)."""
    from ..sources import tablelog

    def commit_batch(batch: DataFrame, batch_id: int) -> None:
        if not tablelog.versions(table_path):
            files = tablelog._write_commit_data(batch, table_path, 0)
            tablelog._commit(table_path, 0, files, "create", {"batch_id": batch_id})
            return
        if batch_id in tablelog.committed_meta_values(table_path, "batch_id"):
            return  # replayed batch — already durably committed
        tablelog.append(batch, table_path, meta={"batch_id": batch_id})

    return _start(stream, commit_batch, checkpoint, "append", available_now)
