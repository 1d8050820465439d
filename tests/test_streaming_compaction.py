"""Streaming compaction maintenance (the r8-verdict ask-8a leg):
operators/layout.py compaction_step + streaming/job.py
streaming_compaction_maintenance.

What must hold: closed bins pack key-contiguous file runs with
globally contiguous ids; bytes are conserved between emitted bins and
the carried open tail; a single flushed step reproduces the batch
planner's bins; and the e2e job survives a WAL restart without
duplicating or re-numbering bins."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_kinesis_data_streams_replicator_spark.operators.layout import (
    compaction_plan,
    compaction_step,
)
from aws_kinesis_data_streams_replicator_spark.streaming.job import (
    streaming_compaction_maintenance,
)


def _files(spark, rows):
    return spark.sql(
        "SELECT CAST(k AS BIGINT) AS file_key, CAST(s AS BIGINT) AS size_bytes "
        "FROM (VALUES "
        + ", ".join(f"({k}, {s})" for k, s in rows)
        + ") t(k, s)"
    )


def test_step_emits_closed_bins_and_carries_open_tail(spark):
    # target 100: files 60+60 close bin 0 (120), 30 stays open
    closed, pending = compaction_step(
        None, _files(spark, [(1, 60), (2, 60), (3, 30)]),
        "file_key", "size_bytes", 100,
    )
    (b,) = closed.collect()
    assert (b["bin"], b["n_files"], b["total_bytes"]) == (0, 2, 120)
    assert (b["first_key"], b["last_key"]) == (1, 2)
    assert [r["file_key"] for r in pending.collect()] == [3]


def test_step_conserves_bytes_and_continues_ids(spark):
    closed1, pend1 = compaction_step(
        None, _files(spark, [(1, 60), (2, 60), (3, 30)]),
        "file_key", "size_bytes", 100,
    )
    n1 = closed1.count()
    closed2, pend2 = compaction_step(
        pend1, _files(spark, [(4, 80), (5, 95), (6, 10)]),
        "file_key", "size_bytes", 100, bins_emitted=n1,
    )
    rows = sorted(closed2.collect(), key=lambda r: r["bin"])
    # 30(pending)+80 closes bin 1 (110); 95 closes bin 2; 10 stays open
    assert [(r["bin"], r["total_bytes"]) for r in rows] == [(1, 110), (2, 95)]
    assert [(r["first_key"], r["last_key"]) for r in rows] == [(3, 4), (5, 5)]
    assert [r["file_key"] for r in pend2.collect()] == [6]
    total = (
        closed1.agg(F.sum("total_bytes")).first()[0]
        + closed2.agg(F.sum("total_bytes")).first()[0]
        + pend2.agg(F.sum("size_bytes")).first()[0]
    )
    assert total == 60 + 60 + 30 + 80 + 95 + 10


def test_flushed_single_step_matches_batch_planner(spark):
    rows = [(k, 25 + (k * 37) % 90) for k in range(1, 40)]
    inv = _files(spark, rows)
    closed, pending = compaction_step(
        None, inv, "file_key", "size_bytes", 200, flush=True
    )
    assert pending.count() == 0
    got = sorted(
        (r["n_files"], r["total_bytes"], r["first_key"], r["last_key"])
        for r in closed.collect()
    )
    want = sorted(
        (r["n_files"], r["total_bytes"], r["first_key"], r["last_key"])
        for r in compaction_plan(inv, "file_key", "size_bytes", 200).collect()
    )
    assert got == want
    # dense renumbering: ids are 0..m-1 even if an oversized file
    # skipped a local DIV bin
    assert sorted(r["bin"] for r in closed.collect()) == list(
        range(len(want))
    )


def test_oversized_file_keeps_ids_contiguous(spark):
    closed, pending = compaction_step(
        None, _files(spark, [(1, 350), (2, 40), (3, 500), (4, 10)]),
        "file_key", "size_bytes", 100,
    )
    rows = sorted(closed.collect(), key=lambda r: r["bin"])
    # DIV bins: 350→bin 0; 40 and 500 at prefixes 350/390→bin 3;
    # 10 at prefix 890→bin 8 (open).  Closed local ids {0, 3} must be
    # renumbered to the contiguous global ids 0, 1.
    assert [r["bin"] for r in rows] == [0, 1]
    assert [r["total_bytes"] for r in rows] == [350, 540]
    assert [r["file_key"] for r in pending.collect()] == [4]


def _stage_batch(spark, stage, name, rows):
    _files(spark, rows).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(stage, name)
    )


def test_e2e_maintenance_with_wal_restart(spark, tmp_path):
    stage = str(tmp_path / "stage")
    work = str(tmp_path / "work")
    wal = str(tmp_path / "wal")
    schema = "file_key BIGINT, size_bytes BIGINT"
    _stage_batch(spark, stage, "b1", [(1, 60), (2, 60), (3, 30)])

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage + "/*")
        )
        return streaming_compaction_maintenance(
            stream, work, target_bytes=100, checkpoint_dir=wal
        )

    q = run()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    bins = spark.read.parquet(f"{work}/bins")
    assert [
        (r["bin"], r["total_bytes"]) for r in bins.collect()
    ] == [(0, 120)]

    # second ingest epoch: pending 30 + 80 closes, 95 closes, 10 open
    _stage_batch(spark, stage, "b2", [(4, 80), (5, 95), (6, 10)])
    q = run()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    bins = sorted(
        spark.read.parquet(f"{work}/bins").collect(), key=lambda r: r["bin"]
    )
    assert [(r["bin"], r["total_bytes"]) for r in bins] == [
        (0, 120), (1, 110), (2, 95),
    ]
    assert [(r["first_key"], r["last_key"]) for r in bins] == [
        (1, 2), (3, 4), (5, 5),
    ]

    # restart with no new files: nothing reprocessed, nothing renumbered
    q = run()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    again = sorted(
        spark.read.parquet(f"{work}/bins").collect(), key=lambda r: r["bin"]
    )
    assert [(r["bin"], r["total_bytes"]) for r in again] == [
        (0, 120), (1, 110), (2, 95),
    ]


def test_execute_compaction_bins_end_to_end(spark, tmp_path):
    """The full physical-layout loop: plan bins over a daily inventory,
    execute the rewrite, and verify one key-sorted file per bin whose
    key span is exactly the bin's [first_key, last_key]."""
    from aws_kinesis_data_streams_replicator_spark.operators.layout import (
        execute_compaction_bins,
    )

    # table: 30 'days' of rows, sizes proportional to rows-per-day
    table = spark.sql(
        "SELECT CAST(id % 30 AS BIGINT) AS day, id AS payload "
        "FROM range(3000)"
    )
    inv = table.groupBy("day").agg(
        (F.count(F.lit(1)) * 10).cast("long").alias("size_bytes")
    )
    closed, pending = compaction_step(
        None, inv, "day", "size_bytes", 2500, flush=True
    )
    assert pending.count() == 0
    bins = {r["bin"]: r for r in closed.collect()}
    out = str(tmp_path / "compacted")
    execute_compaction_bins(table, closed, "day", out)
    back = spark.read.parquet(out)
    # every row survived, assigned to the right bin's range
    assert back.count() == 3000
    got = back.groupBy("bin").agg(
        F.min("day").alias("lo"),
        F.max("day").alias("hi"),
        F.countDistinct(F.col("_metadata.file_path")).alias("n_files"),
    )
    for r in got.collect():
        want = bins[r["bin"]]
        assert (r["lo"], r["hi"]) == (want["first_key"], want["last_key"])
        assert r["n_files"] == 1, "one rewritten file per bin"
    # file count collapsed from 30 ingest days to |bins|
    n_files_total = back.select(
        F.countDistinct(F.col("_metadata.file_path"))
    ).first()[0]
    assert n_files_total == len(bins) < 30


def test_legacy_two_column_state_fails_loudly(spark, tmp_path):
    """Pre-r10 state persisted only (key_col, size_col); the layout now
    carries EVERY inventory column.  Resuming a legacy work_dir with a
    wider inventory must fail with the migration ValueError, not a
    missing-column AnalysisException deep inside compaction_step."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    stage = str(tmp_path / "stage")
    work = str(tmp_path / "work")
    wal = str(tmp_path / "wal")

    def run(schema):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage + "/*")
        )
        return streaming_compaction_maintenance(
            stream, work, target_bytes=100, checkpoint_dir=wal
        )

    # epoch 0 under the legacy two-column inventory: file 1 stays pending
    spark.sql(
        "SELECT CAST(1 AS BIGINT) AS file_key, CAST(30 AS BIGINT) AS size_bytes"
    ).coalesce(1).write.parquet(stage + "/b0")
    q = run("file_key BIGINT, size_bytes BIGINT")
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)

    # restart the same WAL with a 'path' column: epoch 1 reads the
    # legacy pending state
    spark.sql(
        "SELECT CAST(2 AS BIGINT) AS file_key, CAST(40 AS BIGINT) AS size_bytes, "
        "'f2.parquet' AS path"
    ).coalesce(1).write.parquet(stage + "/b1")
    q = run("file_key BIGINT, size_bytes BIGINT, path STRING")
    with pytest.raises(StreamingQueryException, match="legacy layout"):
        q.processAllAvailable()
    q.stop()
