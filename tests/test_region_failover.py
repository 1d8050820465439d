"""Active-region failover — the reference's core operational scenario
(README.md:~51-56 runbook: flip ``activeRegion`` in the config table and
the other region takes over replication).

Modeled twice: drain phase 1 under config A, update the config, resume
the SAME stream (same WAL) under config B; and flip the config between
two triggers of one running query.  Records arriving after the flip
are gated by the new config; nothing already replicated is lost or
duplicated.  (The job re-reads the config at the start of every
micro-batch, matching the reference's one DynamoDB Query per batch.)
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader

from aws_kinesis_data_streams_replicator_spark.operators import replication
from aws_kinesis_data_streams_replicator_spark.sources.envelope import envelope_from_events
from aws_kinesis_data_streams_replicator_spark.sources.tables import load_table
from aws_kinesis_data_streams_replicator_spark.streaming.job import (
    read_checkpoint_table,
    run_replication_stream,
)
from aws_kinesis_data_streams_replicator_spark.streaming.source import (
    read_envelope_stream,
    stage_envelope_files,
)


class _ConfigTable(DataSource):
    """DynamoDB stand-in: every execution of a plan over it reads the
    JSON file named by ``path`` again, as the reference queries its
    config table once per invocation (Handler.java:65)."""

    @classmethod
    def name(cls):
        return "akr_test_config_table"

    def schema(self):
        return "streamName string, activeRegion string"

    def reader(self, schema):
        return _ConfigReader(self.options["path"])


class _ConfigReader(DataSourceReader):
    def __init__(self, path):
        self.path = path

    def read(self, partition):
        with open(self.path) as f:
            yield from (tuple(row) for row in json.load(f))


def _cfg(spark, rows):
    vals = ", ".join(f"('{s}', '{r}')" for s, r in rows)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t(streamName, activeRegion)")


def test_active_region_failover_flips_gating(spark, sf_dir, tmp_path):
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    first, second = env.limit(400), env.subtract(env.limit(400))
    stage = str(tmp_path / "stage")
    out = str(tmp_path / "out")

    def run(cfg):
        q = run_replication_stream(
            read_envelope_stream(spark, stage),
            cfg,
            "us-east-1",
            replicated_dir=os.path.join(out, "repl"),
            checkpoint_table_dir=os.path.join(out, "cp"),
            stream_checkpoint_dir=os.path.join(out, "wal"),
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    # phase 1: kds-click is ours, kds-view belongs to eu-west-1
    stage_envelope_files(first, stage, n_files=2)
    run(_cfg(spark, [("kds-click", "us-east-1"), ("kds-view", "eu-west-1")]))
    p1 = spark.read.parquet(os.path.join(out, "repl"))
    assert {r.streamName for r in p1.select("streamName").distinct().collect()} == {
        "kds-click"
    }
    n1 = p1.count()

    # FAILOVER: kds-click moves away, kds-view moves to us (mixed case)
    more = stage_envelope_files(second, str(tmp_path / "s2"), n_files=2)
    existing = len(glob.glob(os.path.join(stage, "batch_*.parquet")))
    for i, p in enumerate(more):
        os.rename(p, os.path.join(stage, f"batch_{existing + i:05d}.parquet"))
    run(_cfg(spark, [("kds-click", "eu-west-1"), ("kds-view", "US-EAST-1")]))

    got = spark.read.parquet(os.path.join(out, "repl"))
    # phase-1 click records intact, no re-delivery
    assert got.where(F.col("streamName") == "kds-click").count() == n1
    # phase-2 records are view-only, matching a batch run of phase 2
    want_view = replication.gate_active_region(
        replication.with_decoded(second),
        _cfg(spark, [("kds-view", "US-EAST-1")]),
        "us-east-1",
    ).count()
    assert got.where(F.col("streamName") == "kds-view").count() == want_view > 0
    assert got.select("sequenceNumber").distinct().count() == got.count()

    # checkpoint holds BOTH streams' high-water marks across the flip
    cp = {
        r.streamName
        for r in read_checkpoint_table(spark, os.path.join(out, "cp")).collect()
    }
    assert cp == {"kds-click", "kds-view"}


def test_midbatch_crash_between_append_and_checkpoint(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Partial-write window inside ONE micro-batch: the foreachBatch body
    appends to the replication sink and THEN upserts the checkpoint
    table, so a crash between the two leaves replicated records whose
    checkpoint was never advanced — exactly the window the reference
    lives in between a successful PutRecord and the DynamoDB checkpoint
    write (Handler.java:85-93 prefix-success contract).  Convergence
    requirement after restart: the WAL replays the whole batch, the
    append duplicates it (at-least-once, duplicates allowed, nothing
    lost), and the idempotent monotone upsert lands the same per-stream
    high-water marks a crash-free run produces."""
    from aws_kinesis_data_streams_replicator_spark.streaming import job as job_mod

    real_upsert = job_mod.upsert_checkpoint_rows

    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    stage = str(tmp_path / "stage")
    out = str(tmp_path / "out")
    files = stage_envelope_files(env, stage, n_files=3)
    cfg = _cfg(spark, [("kds-click", "us-east-1"), ("kds-view", "us-east-1")])

    def gated(df):
        return replication.gate_active_region(
            replication.with_decoded(df), cfg, "us-east-1"
        )

    def gated_count(df):
        return gated(df).count()

    def checkpoint_of(df):
        return {
            r.streamName: r.lastReplicatedCommitTimestamp
            for r in replication.checkpoint(
                gated(df).where(F.col("commitTimestamp").isNotNull())
            ).collect()
        }

    n_all = gated_count(env)
    n_batch1 = gated_count(spark.read.parquet(files[1]))
    assert n_batch1 > 0

    calls = {"n": 0}

    def crashing_upsert(incoming, table_dir):
        calls["n"] += 1
        if calls["n"] == 2:
            # the append for THIS batch already ran one statement earlier
            raise RuntimeError("injected crash: after append, before upsert")
        real_upsert(incoming, table_dir)

    monkeypatch.setattr(job_mod, "upsert_checkpoint_rows", crashing_upsert)

    def run():
        q = run_replication_stream(
            read_envelope_stream(spark, stage),
            cfg,
            "us-east-1",
            replicated_dir=os.path.join(out, "repl"),
            checkpoint_table_dir=os.path.join(out, "cp"),
            stream_checkpoint_dir=os.path.join(out, "wal"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)

    import pytest

    with pytest.raises(Exception, match="injected crash"):
        run()

    # mid-crash state: batch 1's records ARE in the sink (the partial
    # write), but the checkpoint table still holds only batch 0's marks
    repl_mid = spark.read.parquet(os.path.join(out, "repl"))
    assert repl_mid.count() >= n_batch1
    assert calls["n"] == 2
    cp_mid = {
        r.streamName: r.lastReplicatedCommitTimestamp
        for r in read_checkpoint_table(spark, os.path.join(out, "cp")).collect()
    }
    assert cp_mid == checkpoint_of(spark.read.parquet(files[0]))

    # restart WITHOUT the fault: the WAL replays the failed batch
    monkeypatch.setattr(job_mod, "upsert_checkpoint_rows", real_upsert)
    run()

    got = spark.read.parquet(os.path.join(out, "repl"))
    distinct = got.select("streamName", "sequenceNumber").distinct().count()
    # nothing lost: every gated record delivered at least once
    assert distinct == n_all
    # at-least-once, not exactly-once: the replayed batch appended again
    assert got.count() == n_all + n_batch1
    # checkpoint converges to the crash-free high-water marks, and never
    # moved backwards through the replay
    expected_cp = checkpoint_of(env)
    cp_final = {
        r.streamName: r.lastReplicatedCommitTimestamp
        for r in read_checkpoint_table(spark, os.path.join(out, "cp")).collect()
    }
    assert cp_final == expected_cp
    for s, t in cp_mid.items():
        assert cp_final[s] >= t


@pytest.mark.parametrize(
    "shape",
    [
        pytest.param(lambda c: c, id="scan"),
        # an exchange in the config plan: a re-run must not reuse the
        # first batch's shuffle output
        pytest.param(lambda c: c.dropDuplicates(), id="shuffle"),
    ],
)
def test_config_flip_mid_run(spark, sf_dir, tmp_path, shape):
    """Flip ``activeRegion`` between two triggers of ONE running query:
    the next micro-batch is gated by the new config, with no restart.
    The job builds its config projection once and collects it per batch,
    so this holds only if each collect plans and reads the config again:
    collecting one Dataset twice would reuse its executed plan, and with
    a shuffle in it, the first batch's rows."""
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    first, second = env.limit(400), env.subtract(env.limit(400))
    (f0,) = stage_envelope_files(first, str(tmp_path / "s0"), n_files=1)
    (f1,) = stage_envelope_files(second, str(tmp_path / "s1"), n_files=1)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    path = str(tmp_path / "config.json")
    rows_a = [("kds-click", "us-east-1"), ("kds-view", "eu-west-1")]
    rows_b = [("kds-click", "eu-west-1"), ("kds-view", "US-EAST-1")]
    with open(path, "w") as f:
        json.dump(rows_a, f)
    # the Python worker cannot import this test module: ship it by value
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    try:
        spark.dataSource.register(_ConfigTable)
        config = shape(
            spark.read.format(_ConfigTable.name()).option("path", path).load()
        )
        os.rename(f0, os.path.join(src, "batch_00000.parquet"))
        q = run_replication_stream(
            read_envelope_stream(spark, src),
            config,
            "us-east-1",
            replicated_dir=os.path.join(out, "repl"),
            checkpoint_table_dir=os.path.join(out, "cp"),
            stream_checkpoint_dir=os.path.join(out, "wal"),
        )
        try:
            q.processAllAvailable()
            with open(path, "w") as f:
                json.dump(rows_b, f)  # FAILOVER, while the query runs
            os.rename(f1, os.path.join(src, "batch_00001.parquet"))
            q.processAllAvailable()
            assert q.isActive
            triggers = [p for p in q.recentProgress if p.numInputRows]
        finally:
            q.stop()
            q.awaitTermination(30)
    finally:
        cloudpickle.unregister_pickle_by_value(sys.modules[__name__])

    assert len(triggers) == 2
    assert len({p.runId for p in triggers}) == 1

    def pairs(df):
        return {(r.streamName, r.sequenceNumber) for r in df.collect()}

    def gated(batch, rows):
        return replication.gate_active_region(
            replication.with_decoded(batch), _cfg(spark, rows), "us-east-1"
        ).select("streamName", "sequenceNumber")

    got = pairs(spark.read.parquet(os.path.join(out, "repl")))
    want_a, want_b = pairs(gated(first, rows_a)), pairs(gated(second, rows_b))
    assert {s for s, _ in want_a} == {"kds-click"}
    assert {s for s, _ in want_b} == {"kds-view"}
    assert got == want_a | want_b
    cp = {
        r.streamName
        for r in read_checkpoint_table(spark, os.path.join(out, "cp")).collect()
    }
    assert cp == {"kds-click", "kds-view"}
