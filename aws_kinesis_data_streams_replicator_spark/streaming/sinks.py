"""foreachBatch sinks: replication append + keyed checkpoint upsert.

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

The checkpoint "table" is a tiny parquet key-value table (one row per
stream) — the DynamoDB Global Table stand-in.  At scale this would be
Delta/Iceberg MERGE or an actual DynamoDB writer; the upsert semantics
are identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def append_replicated(batch_df: DataFrame, out_dir: str) -> None:
    """Replication sink: per-shard order preserved by sorting within
    partitions on sequenceNumber before the write (op 6)."""
    (
        batch_df.sortWithinPartitions("sequenceNumber")
        .write.mode("append")
        .parquet(out_dir)
    )


def replicated_exactly_once(batch_df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Exactly-once variant for idempotent-capable targets: each
    micro-batch overwrites its own ``batch_id=N`` partition, so a WAL
    replay rewrites the identical data instead of appending duplicates.
    (The reference's Kinesis target can't do this — PutRecord is
    append-only, hence its documented at-least-once; a file/table target
    can, and this is the standard foreachBatch idempotency pattern.)"""
    (
        batch_df.sortWithinPartitions("sequenceNumber")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, f"batch_id={batch_id}"))
    )


_PTR = "CURRENT"


def _current_version_dir(table_dir: str) -> str | None:
    ptr = os.path.join(table_dir, _PTR)
    if not os.path.isfile(ptr):
        return None
    with open(ptr) as f:
        v = f.read().strip()
    vdir = os.path.join(table_dir, v)
    return vdir if os.path.isdir(vdir) else None


def _read_checkpoint_rows(table_dir: str) -> dict[str, str]:
    """Current checkpoint as a dict — pyarrow, no Spark job (the table is
    control-plane metadata: one row per stream)."""
    vdir = _current_version_dir(table_dir)
    if vdir is None:
        return {}
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(vdir, "data.parquet"))
    return dict(
        zip(
            t.column("streamName").to_pylist(),
            t.column("lastReplicatedCommitTimestamp").to_pylist(),
        )
    )


def read_checkpoint_table(spark: SparkSession, table_dir: str) -> DataFrame:
    rows = _read_checkpoint_rows(table_dir)
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

    Durability: versioned directories + an atomically-replaced pointer
    file (``os.replace`` is atomic on POSIX).  A crash at ANY step
    leaves the previous version intact and readable — there is no window
    where the table is missing (a naive delete-then-rename swap has
    one).  Old versions beyond the last two are garbage-collected.
    At scale this becomes Delta/Iceberg MERGE (same log-plus-snapshot
    idea) or a DynamoDB conditional write.
    """
    merged = _read_checkpoint_rows(table_dir)
    for s, t in incoming.items():
        if s not in merged or t > merged[s]:
            merged[s] = t

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(table_dir, exist_ok=True)
    cur = _current_version_dir(table_dir)
    next_v = 0 if cur is None else int(os.path.basename(cur).lstrip("v")) + 1
    vdir = os.path.join(table_dir, f"v{next_v}")
    os.makedirs(vdir, exist_ok=True)
    items = sorted(merged.items())
    pq.write_table(
        pa.table(
            {
                "streamName": [s for s, _ in items],
                "lastReplicatedCommitTimestamp": [t for _, t in items],
            }
        ),
        os.path.join(vdir, "data.parquet"),
    )
    ptr_tmp = os.path.join(table_dir, _PTR + ".tmp")
    with open(ptr_tmp, "w") as f:
        f.write(f"v{next_v}")
    os.replace(ptr_tmp, os.path.join(table_dir, _PTR))  # atomic commit
    # GC: keep current + previous
    import shutil

    for name in os.listdir(table_dir):
        if name.startswith("v") and name not in (f"v{next_v}", f"v{next_v - 1}"):
            shutil.rmtree(os.path.join(table_dir, name), ignore_errors=True)
