"""foreachBatch sinks: replication append, keyed checkpoint upsert, and
the one commit protocol for versioned foreachBatch state.

Delivery contract (SURVEY §2 op 9, §2.1): Structured Streaming's
``checkpointLocation`` WAL replays whole micro-batches after failure —
the Spark analog of Lambda's retry-from-failed-sequence-number.  Both
sinks therefore must tolerate replays:

* replication sink — append-only ⇒ at-least-once, exactly like the
  reference's PutRecord retries (README accepts target-stream dups);
  downstream readers dedup on (streamName, sequenceNumber).
* checkpoint sink — **idempotent keyed upsert** taking the per-stream
  MAX commit timestamp merged with the existing table: replaying an old
  batch can never move a checkpoint backwards (monotone, matching
  last-writer-wins-in-sequence-order of Handler.java:85).

Versioned state: ``commit_version`` fills a private ``_tmp-<uuid>``
directory and renames it to ``v{N}``; a POSIX rename onto a non-empty
directory fails, so a commit is atomic and exclusive.  The checkpoint
table (the DynamoDB Global Table stand-in) counts its versions; the
states in ``streaming/job.py`` name theirs by ``batch_id``, so a WAL
replay of batch N finds its own ``v{N}`` (SIGMOD 2018's exactly-once
foreachBatch rule).  At scale: Delta/Iceberg MERGE, or DynamoDB writes.
"""

from __future__ import annotations

import errno
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _by_sequence(batch_df: DataFrame) -> DataFrame:
    """Op 6: sort within partitions on sequenceNumber.  ``df[name]`` is
    one direct JVM call; a string key or ``F.col`` goes through Py4J
    reflection over Spark's ``functions`` class, about a dozen round
    trips, on every micro-batch."""
    return batch_df.sortWithinPartitions(batch_df["sequenceNumber"])


def append_replicated(batch_df: DataFrame, out_dir: str) -> None:
    """Replication sink: per-shard order preserved by sorting within
    partitions on sequenceNumber before the write (op 6)."""
    _by_sequence(batch_df).write.mode("append").parquet(out_dir)


def replicated_exactly_once(batch_df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Exactly-once variant for idempotent-capable targets: each
    micro-batch overwrites its own ``batch_id=N`` partition, so a WAL
    replay rewrites the identical data instead of appending duplicates.
    (The reference's Kinesis target can't do this — PutRecord is
    append-only, hence its documented at-least-once; a file/table target
    can, and this is the standard foreachBatch idempotency pattern.)"""
    _by_sequence(batch_df).write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch_id={batch_id}")
    )


def _versions(table_dir: str) -> list[int]:
    names = os.listdir(table_dir) if os.path.isdir(table_dir) else []
    return sorted(int(n[1:]) for n in names if n[:1] == "v" and n[1:].isdigit())


def version_path(table_dir: str, v: int) -> str:
    return os.path.join(table_dir, f"v{v}")


def latest_version(table_dir: str, below: int | None = None) -> int | None:
    """Newest committed version, or the newest below ``below``.

    A batch-keyed state reads ``below=batch_id``: the version its batch
    folds into, the same one on a replay.  For ``below > 0`` a missing
    version raises — the state before that batch was committed and is
    now lost, and starting over from empty would silently drop it."""
    vs = [v for v in _versions(table_dir) if below is None or v < below]
    if vs:
        return vs[-1]
    if below:
        raise FileNotFoundError(
            f"no committed state version below {below} in {table_dir}: it "
            "is lost; restore it, or start over with fresh state and WAL"
        )
    return None


def _collect(table_dir: str) -> None:
    """Garbage collection: keep the newest two committed versions."""
    for v in _versions(table_dir)[:-2]:
        shutil.rmtree(version_path(table_dir, v), ignore_errors=True)


def commit_version(
    table_dir: str, v: int, write: Callable[[str], None]
) -> bool:
    """``write(tmp)`` fills the empty directory ``tmp``, which is then
    renamed to ``v{v}``.  Returns False, keeping what is there, when
    ``v{v}`` is already committed.  The temp directory is always
    removed (a killed process may leave one, which no reader lists)."""
    os.makedirs(table_dir, exist_ok=True)
    tmp = os.path.join(table_dir, f"_tmp-{uuid.uuid4().hex}")
    os.mkdir(tmp)
    path = version_path(table_dir, v)
    try:
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError as e:
            if e.errno in (errno.EEXIST, errno.ENOTEMPTY):
                return False
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # GC frees a name only once two newer versions exist, so a slow
    # writer that re-took a freed name is not the newest.
    newest = latest_version(table_dir) == v
    _collect(table_dir)
    return newest


def _read_checkpoint_rows(table_dir: str) -> tuple[int | None, dict[str, str]]:
    """(version, rows) of the newest checkpoint — pyarrow, no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    while True:
        v = latest_version(table_dir)
        if v is None:
            return None, {}
        try:
            # one open file: a collected and re-taken v{v} cannot swap
            # the bytes under the reader
            with pa.OSFile(os.path.join(version_path(table_dir, v), "data.parquet")) as f:
                t = pq.read_table(f)
        except FileNotFoundError:
            if latest_version(table_dir) == v:
                raise
            continue  # a concurrent commit collected v after the listing
        if latest_version(table_dir) != v:
            continue  # v may have been collected and re-taken: read again
        return v, dict(
            zip(
                t.column("streamName").to_pylist(),
                t.column("lastReplicatedCommitTimestamp").to_pylist(),
            )
        )


def read_checkpoint_table(spark: SparkSession, table_dir: str) -> DataFrame:
    _, rows = _read_checkpoint_rows(table_dir)
    if not rows:
        return spark.createDataFrame(
            [], schema="streamName string, lastReplicatedCommitTimestamp string"
        )
    values = ", ".join(
        "('{}', '{}')".format(s.replace("'", "''"), t.replace("'", "''"))
        for s, t in sorted(rows.items())
    )
    return spark.sql(
        f"SELECT * FROM VALUES {values} "
        "AS t(streamName, lastReplicatedCommitTimestamp)"
    )


def upsert_checkpoint_rows(incoming: dict[str, str], table_dir: str) -> None:
    """Idempotent monotone upsert: new value = max(existing, incoming).

    ``incoming`` maps stream → max commit timestamp of one micro-batch.
    The distributed part — reducing a micro-batch to those maxes —
    happens in the caller's Spark plan (the streaming job observes them
    on its replication write); what arrives here is control-plane
    metadata bounded by the STREAM COUNT, so the merge+write is
    driver-side pyarrow and costs zero Spark jobs.

    Read the newest version, merge, ``commit_version`` the next one.  A
    crash leaves the previous version readable, and two writers (regions
    overlapping in a failover) lose no update: the loser of a race
    retries, and the max merge is monotone.  Versions are counted, not
    batch-named, because streams with separate WALs share the table.
    A merge that moves no mark (a batch with no gated rows, a replay of
    an older batch) commits nothing: later versions only grow.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    while True:
        v, old = _read_checkpoint_rows(table_dir)
        rows = {**old, **{s: max(t, old.get(s, t)) for s, t in incoming.items()}}
        if rows == old:
            return
        rows = dict(sorted(rows.items()))
        table = pa.table(
            {
                "streamName": list(rows),
                "lastReplicatedCommitTimestamp": list(rows.values()),
            }
        )
        if commit_version(
            table_dir,
            0 if v is None else v + 1,
            lambda tmp: pq.write_table(table, os.path.join(tmp, "data.parquet")),
        ):
            return
