"""Structured Streaming wrap: end-to-end replication, restart/resume
(op 9), idempotent checkpoint upsert, dead-lettering, per-batch metrics,
one Spark job per trigger, streaming dedup."""

from __future__ import annotations

import logging
import os
import re
import threading

import pytest

from pyspark.sql import functions as F

from aws_kinesis_data_streams_replicator_spark.operators import replication
from aws_kinesis_data_streams_replicator_spark.sources.envelope import envelope_from_events
from aws_kinesis_data_streams_replicator_spark.sources.tables import load_table
from aws_kinesis_data_streams_replicator_spark.streaming.sinks import (
    latest_version,
    upsert_checkpoint_rows,
)
from aws_kinesis_data_streams_replicator_spark.streaming.source import (
    read_envelope_stream,
    stage_envelope_files,
)
from aws_kinesis_data_streams_replicator_spark.streaming.job import (
    read_checkpoint_table,
    run_replication_stream,
    streaming_dedup,
)

CONFIG = [
    ("kds-click", "us-east-1"),
    ("kds-view", "US-EAST-1"),
    ("kds-purchase", "eu-west-1"),
]


def _config_df(spark):
    vals = ", ".join(f"('{s}', '{r}')" for s, r in CONFIG)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t(streamName, activeRegion)")


@pytest.fixture(scope="module")
def envelope(spark, sf_dir):
    return envelope_from_events(load_table(spark, sf_dir, "events"))


def _run_to_completion(spark, stage_dir, out, cfg):
    stream = read_envelope_stream(spark, stage_dir, max_batches_per_trigger=1)
    q = run_replication_stream(
        stream,
        cfg,
        "us-east-1",
        replicated_dir=os.path.join(out, "replicated"),
        checkpoint_table_dir=os.path.join(out, "checkpoint_table"),
        stream_checkpoint_dir=os.path.join(out, "wal"),
        dead_letter_dir=os.path.join(out, "dead_letter"),
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return q


_SUMMARY = re.compile(r"Total Batch Size: (\d+), Successfully Processed: (\d+)")


def _batch_summaries(caplog) -> list[tuple[int, int]]:
    """(total, processed) of every per-batch summary line the job logged."""
    return [
        (int(m[1]), int(m[2]))
        for r in caplog.records
        if r.name == "akr.replication"
        and (m := _SUMMARY.fullmatch(r.getMessage()))
    ]


def test_stream_matches_batch_pipeline(spark, envelope, tmp_path, caplog):
    """The incremental run must produce exactly the batch-mode answer."""
    out = str(tmp_path / "out")
    stage = str(tmp_path / "stage")
    caplog.set_level(logging.INFO, logger="akr.replication")
    stage_envelope_files(envelope, stage, n_files=4)
    _run_to_completion(spark, stage, out, _config_df(spark))

    got = spark.read.parquet(os.path.join(out, "replicated"))
    want = replication.replicated_records(
        replication.gate_active_region(
            replication.with_decoded(envelope), _config_df(spark), "us-east-1"
        )
    )
    assert got.count() == want.count()
    assert got.select("sequenceNumber").subtract(want.select("sequenceNumber")).count() == 0

    cp = {
        r.streamName: r.lastReplicatedCommitTimestamp
        for r in read_checkpoint_table(spark, os.path.join(out, "checkpoint_table")).collect()
    }
    want_cp = {
        r.streamName: r.lastReplicatedCommitTimestamp
        for r in replication.checkpoint(
            replication.gate_active_region(
                replication.with_decoded(envelope), _config_df(spark), "us-east-1"
            )
        ).collect()
    }
    assert cp == want_cp
    # the reference's summary line, one per micro-batch: the total is
    # counted before the gate, the processed count after it
    summaries = _batch_summaries(caplog)
    assert len(summaries) == 4
    assert sum(t for t, _ in summaries) == envelope.count()
    assert sum(m for _, m in summaries) == want.count()
    per_stream = [
        r.getMessage()
        for r in caplog.records
        if r.getMessage().startswith("StreamName: ")
    ]
    assert {m.split(",")[0] for m in per_stream} == {
        f"StreamName: {s}" for s in want_cp
    }
    assert all("ReplicationLagSeconds: " in m for m in per_stream)


def test_one_spark_job_per_trigger(spark, envelope, tmp_path):
    """The at-least-once hot path: each data-bearing trigger runs exactly
    one Spark job, the replication write.  The config is resolved on the
    driver and the checkpoint marks and metrics ride the write as
    Observation aggregates."""
    out = str(tmp_path / "out")
    stage = str(tmp_path / "stage")
    stage_envelope_files(envelope, stage, n_files=3)
    q = run_replication_stream(
        read_envelope_stream(spark, stage, max_batches_per_trigger=1),
        _config_df(spark),
        "us-east-1",
        replicated_dir=os.path.join(out, "replicated"),
        checkpoint_table_dir=os.path.join(out, "checkpoint_table"),
        stream_checkpoint_dir=os.path.join(out, "wal"),
    )
    try:
        q.processAllAvailable()
        triggers = [p for p in q.recentProgress if p.numInputRows]
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    finally:
        q.stop()
        q.awaitTermination(30)
    assert len(triggers) == 3
    assert len(jobs) == len(triggers)


def test_trigger_py4j_budget(spark, envelope, tmp_path, monkeypatch):
    """The foreachBatch glue builds its gate, Observation aggregates and
    output projection once per active-stream set: every data trigger
    after the first issues at most 60 Python→JVM commands on the thread
    that runs it (about 400 when each batch rebuilt them).  py4j's
    ``m`` (release) commands are left out: they free objects dropped
    earlier, in bursts that follow Python's garbage collector."""
    from aws_kinesis_data_streams_replicator_spark.streaming import job as job_mod

    out = str(tmp_path / "out")
    stage = str(tmp_path / "stage")
    stage_envelope_files(envelope, stage, n_files=4)
    client = spark.sparkContext._gateway._gateway_client
    real_send, real_upsert = client.send_command, job_mod.upsert_checkpoint_rows
    sent: list[tuple[int, str]] = []
    ends: list[tuple[int, int]] = []  # (thread, commands sent) per batch end

    def send_command(command, *args, **kwargs):
        sent.append((threading.get_ident(), command))
        return real_send(command, *args, **kwargs)

    def upsert(incoming, table_dir):
        ends.append((threading.get_ident(), len(sent)))
        return real_upsert(incoming, table_dir)

    monkeypatch.setattr(client, "send_command", send_command)
    monkeypatch.setattr(job_mod, "upsert_checkpoint_rows", upsert)
    q = run_replication_stream(
        read_envelope_stream(spark, stage, max_batches_per_trigger=1),
        _config_df(spark),
        "us-east-1",
        replicated_dir=os.path.join(out, "replicated"),
        checkpoint_table_dir=os.path.join(out, "checkpoint_table"),
        stream_checkpoint_dir=os.path.join(out, "wal"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
        monkeypatch.undo()
    per_trigger = [
        sum(1 for t, c in sent[a:b] if t == thread and not c.startswith("m\n"))
        for (_, a), (thread, b) in zip(ends, ends[1:])
    ]
    assert len(per_trigger) == 3
    assert max(per_trigger) <= 60, per_trigger


def test_batch_without_gated_rows_commits_no_checkpoint_version(
    spark, envelope, tmp_path, caplog
):
    """A micro-batch with no row of an active stream moves no
    checkpoint mark, so it commits no new checkpoint version."""
    caplog.set_level(logging.INFO, logger="akr.replication")
    out = str(tmp_path / "out")
    src = str(tmp_path / "src")
    decoded = replication.with_decoded(envelope)
    inactive = decoded.where(~F.col("streamName").isin("kds-click", "kds-view"))
    assert inactive.count() > 0
    (first,) = stage_envelope_files(envelope.limit(300), str(tmp_path / "s0"), 1)
    (second,) = stage_envelope_files(
        inactive.select(*envelope.columns), str(tmp_path / "s1"), 1
    )
    os.makedirs(src)
    os.rename(first, os.path.join(src, "batch_00000.parquet"))
    table = os.path.join(out, "checkpoint_table")
    q = run_replication_stream(
        read_envelope_stream(spark, src, max_batches_per_trigger=1),
        _config_df(spark),
        "us-east-1",
        replicated_dir=os.path.join(out, "replicated"),
        checkpoint_table_dir=table,
        stream_checkpoint_dir=os.path.join(out, "wal"),
    )
    try:
        q.processAllAvailable()
        before = latest_version(table)
        marks = read_checkpoint_table(spark, table).collect()
        os.rename(second, os.path.join(src, "batch_00001.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    assert before == 0
    assert _batch_summaries(caplog)[-1] == (inactive.count(), 0)
    assert latest_version(table) == before
    assert read_checkpoint_table(spark, table).collect() == marks


def test_restart_resumes_without_loss_or_dup(spark, envelope, tmp_path):
    """Kill-and-restart from checkpointLocation (op 9): prefix processed
    before the stop is not reprocessed; everything arrives exactly once
    in the file-source case (at-least-once in general)."""
    out = str(tmp_path / "out")
    stage = str(tmp_path / "stage")
    half = envelope.limit(400)
    stage_envelope_files(half, stage, n_files=2)
    _run_to_completion(spark, stage, out, _config_df(spark))
    n_first = spark.read.parquet(os.path.join(out, "replicated")).count()
    assert n_first > 0

    # new envelope files arrive while the query is down
    rest = envelope.subtract(half)
    import glob

    existing = len(glob.glob(os.path.join(stage, "batch_*.parquet")))
    more = stage_envelope_files(rest, str(tmp_path / "stage2"), n_files=2)
    for i, p in enumerate(more):
        os.rename(p, os.path.join(stage, f"batch_{existing + i:05d}.parquet"))

    _run_to_completion(spark, stage, out, _config_df(spark))
    got = spark.read.parquet(os.path.join(out, "replicated"))
    want = replication.replicated_records(
        replication.gate_active_region(
            replication.with_decoded(envelope), _config_df(spark), "us-east-1"
        )
    )
    # exactly-once for the file source: no loss, no duplicates
    assert got.count() == want.count()
    assert got.select("sequenceNumber").distinct().count() == got.count()


def test_checkpoint_upsert_is_idempotent_and_monotone(spark, tmp_path):
    table = str(tmp_path / "cp")

    upsert_checkpoint_rows({"s1": "2024-01-01T00:00:05Z"}, table)
    upsert_checkpoint_rows(
        {"s1": "2024-01-01T00:00:09Z", "s2": "2024-01-01T00:00:01Z"}, table
    )
    # replay of an OLD batch (Lambda-style retry) must not move s1
    # backwards, and commits no version
    upsert_checkpoint_rows({"s1": "2024-01-01T00:00:05Z"}, table)
    assert latest_version(table) == 1
    got = {
        r.streamName: r.lastReplicatedCommitTimestamp
        for r in read_checkpoint_table(spark, table).collect()
    }
    assert got == {"s1": "2024-01-01T00:00:09Z", "s2": "2024-01-01T00:00:01Z"}


def test_checkpoint_crash_leaves_previous_version_readable(
    spark, tmp_path, monkeypatch
):
    """Kill between data write and the commit's rename: the table must
    still read as the PREVIOUS state (no missing-table window)."""
    table = str(tmp_path / "cp")

    upsert_checkpoint_rows({"s1": "2024-01-01T00:00:05Z"}, table)
    # a crashed upsert: the new version's data is written, the rename
    # that commits it never happens
    def crash(src, dst):
        raise RuntimeError("injected crash: before rename")

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert_checkpoint_rows({"s1": "2024-01-01T00:00:06Z"}, table)
    monkeypatch.undo()
    got = {
        r.streamName: r.lastReplicatedCommitTimestamp
        for r in read_checkpoint_table(spark, table).collect()
    }
    assert got == {"s1": "2024-01-01T00:00:05Z"}
    # recovery: the next successful upsert proceeds normally
    upsert_checkpoint_rows({"s1": "2024-01-01T00:00:07Z"}, table)
    got2 = {
        r.streamName: r.lastReplicatedCommitTimestamp
        for r in read_checkpoint_table(spark, table).collect()
    }
    assert got2 == {"s1": "2024-01-01T00:00:07Z"}


def test_malformed_payload_goes_to_dead_letter(spark, tmp_path, caplog):
    caplog.set_level(logging.INFO, logger="akr.replication")
    out = str(tmp_path / "out")
    stage = str(tmp_path / "stage")
    env = spark.sql(
        """
        SELECT * FROM VALUES
        ('arn:aws:kinesis:us-east-1:1:stream/kds-click/consumer/c:1', '1', '001',
         TIMESTAMP '2024-01-01 00:00:00', encode('{"key":1,"commitTimestamp":"2024-01-01T00:00:00Z"}', 'UTF-8')),
        ('arn:aws:kinesis:us-east-1:1:stream/kds-click/consumer/c:1', '2', '002',
         TIMESTAMP '2024-01-01 00:00:01', encode('corrupted-not-json', 'UTF-8'))
        AS t(eventSourceARN, partitionKey, sequenceNumber, approximateArrivalTimestamp, data)
        """
    )
    stage_envelope_files(env, stage, n_files=1)
    _run_to_completion(spark, stage, out, _config_df(spark))
    assert spark.read.parquet(os.path.join(out, "replicated")).count() == 1
    dl = spark.read.parquet(os.path.join(out, "dead_letter"))
    assert [r.sequenceNumber for r in dl.collect()] == ["002"]
    cp = read_checkpoint_table(spark, os.path.join(out, "checkpoint_table"))
    assert cp.first().lastReplicatedCommitTimestamp == "2024-01-01T00:00:00Z"
    # the dead-lettered record is not counted as processed
    assert _batch_summaries(caplog) == [(2, 1)]


def test_exactly_once_replay_does_not_duplicate_dead_letters(
    spark, tmp_path, monkeypatch
):
    """Under exactly_once the dead letters take the batch_id-keyed sink
    too: a batch replayed after a crash rewrites its dead letters
    instead of appending them a second time."""
    from aws_kinesis_data_streams_replicator_spark.streaming import job as job_mod

    out = str(tmp_path / "out")
    stage = str(tmp_path / "stage")
    env = spark.sql(
        """
        SELECT * FROM VALUES
        ('arn:aws:kinesis:us-east-1:1:stream/kds-click/consumer/c:1', '1', '001',
         TIMESTAMP '2024-01-01 00:00:00', encode('{"key":1,"commitTimestamp":"2024-01-01T00:00:00Z"}', 'UTF-8')),
        ('arn:aws:kinesis:us-east-1:1:stream/kds-click/consumer/c:1', '2', '002',
         TIMESTAMP '2024-01-01 00:00:01', encode('corrupted-not-json', 'UTF-8')),
        ('arn:aws:kinesis:us-east-1:1:stream/kds-view/consumer/c:1', '3', '003',
         TIMESTAMP '2024-01-01 00:00:02', encode('{"key":3}', 'UTF-8'))
        AS t(eventSourceARN, partitionKey, sequenceNumber, approximateArrivalTimestamp, data)
        """
    )
    stage_envelope_files(env, stage, n_files=1)
    real_upsert = job_mod.upsert_checkpoint_rows
    calls = {"n": 0}

    def crash_once(incoming, table_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash: after the writes, before upsert")
        real_upsert(incoming, table_dir)

    monkeypatch.setattr(job_mod, "upsert_checkpoint_rows", crash_once)

    def run():
        q = run_replication_stream(
            read_envelope_stream(spark, stage, max_batches_per_trigger=1),
            _config_df(spark),
            "us-east-1",
            replicated_dir=os.path.join(out, "replicated"),
            checkpoint_table_dir=os.path.join(out, "checkpoint_table"),
            stream_checkpoint_dir=os.path.join(out, "wal"),
            dead_letter_dir=os.path.join(out, "dead_letter"),
            exactly_once=True,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)

    with pytest.raises(Exception, match="injected crash"):
        run()
    run()
    assert calls["n"] == 2
    dl = spark.read.parquet(os.path.join(out, "dead_letter"))
    assert sorted(r.sequenceNumber for r in dl.collect()) == ["002", "003"]
    assert spark.read.parquet(os.path.join(out, "replicated")).count() == 1


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark over a replayed events stream: a
    single micro-batch dedups fully → equals batch-mode distinct."""
    events = load_table(spark, sf_dir, "events")
    # duplicate every event once to force real dedup work
    doubled = events.unionAll(events)
    stage = str(tmp_path / "events_stage")
    from pyspark.sql.types import StructType

    stage_df = doubled.select(
        F.col("event_id"), F.col("ts"), F.col("user_id"), F.col("event_type"),
        F.col("value"), F.col("props"),
    )
    import glob as _glob
    import shutil, tempfile

    tmp = tempfile.mkdtemp()
    stage_df.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.makedirs(stage, exist_ok=True)
    (src,) = _glob.glob(os.path.join(tmp, "part-*.parquet"))
    shutil.move(src, os.path.join(stage, "all.parquet"))

    stream = spark.readStream.schema(stage_df.schema).parquet(stage)
    deduped = streaming_dedup(stream, ["event_id"], watermark_col="ts", delay="90 days")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "wal"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    n = spark.sql("SELECT count(*) c FROM dedup_out").first().c
    assert n == events.count()


def test_union_of_two_stream_sources_matches_batch(spark, envelope, tmp_path):
    """Multi-stream ingestion: two independent staged sources (as a real
    deployment has one Kinesis stream per event family) unioned into ONE
    streaming query with a single WAL.  The union must replicate exactly
    the batch answer over the combined input — offsets for both sources
    are tracked in the same checkpoint."""
    out = str(tmp_path / "out")
    stage_a, stage_b = str(tmp_path / "sa"), str(tmp_path / "sb")
    part_a = envelope.where(F.col("eventSourceARN").contains("kds-click"))
    part_b = envelope.where(~F.col("eventSourceARN").contains("kds-click"))
    stage_envelope_files(part_a, stage_a, n_files=2)
    stage_envelope_files(part_b, stage_b, n_files=3)

    sa = read_envelope_stream(spark, stage_a, max_batches_per_trigger=1)
    sb = read_envelope_stream(spark, stage_b, max_batches_per_trigger=1)
    q = run_replication_stream(
        sa.unionByName(sb),
        _config_df(spark),
        "us-east-1",
        replicated_dir=os.path.join(out, "replicated"),
        checkpoint_table_dir=os.path.join(out, "checkpoint_table"),
        stream_checkpoint_dir=os.path.join(out, "wal"),
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)

    got = spark.read.parquet(os.path.join(out, "replicated"))
    want = replication.replicated_records(
        replication.gate_active_region(
            replication.with_decoded(envelope), _config_df(spark), "us-east-1"
        )
    )
    assert got.count() == want.count()
    assert (
        got.select("sequenceNumber")
        .subtract(want.select("sequenceNumber"))
        .count()
        == 0
    )
