"""Batch replication pipeline semantics (SURVEY §2 ops 2-8, 10; §2.1)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from aws_kinesis_data_streams_replicator_spark.operators import replication
from aws_kinesis_data_streams_replicator_spark.sources.envelope import (
    ARN_PREFIX,
    ARN_SUFFIX,
    envelope_from_events,
)


def _mk_envelope(spark, rows):
    """rows: (stream, partitionKey, seq, arrival_ts_str, payload_json)"""
    vals = ", ".join(
        f"('{ARN_PREFIX}{s}{ARN_SUFFIX}', '{pk}', '{seq}', "
        f"TIMESTAMP '{ts}', encode('{payload}', 'UTF-8'))"
        for s, pk, seq, ts, payload in rows
    )
    return spark.sql(
        f"SELECT * FROM VALUES {vals} AS t(eventSourceARN, partitionKey, "
        "sequenceNumber, approximateArrivalTimestamp, data)"
    )


def _mk_config(spark, rows):
    vals = ", ".join(f"('{s}', '{r}')" for s, r in rows)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t(streamName, activeRegion)")


ROWS = [
    ("s-active", "1", "001", "2024-01-01 00:00:00", '{"key": 1, "commitTimestamp": "2024-01-01T00:00:00Z"}'),
    ("s-active", "2", "002", "2024-01-01 00:00:05", '{"key": 2, "commitTimestamp": "2024-01-01T00:00:05Z"}'),
    ("s-mixed", "3", "003", "2024-01-01 00:00:10", '{"key": 3, "commitTimestamp": "2024-01-01T00:00:10Z"}'),
    ("s-inactive", "4", "004", "2024-01-01 00:00:15", '{"key": 4, "commitTimestamp": "2024-01-01T00:00:15Z"}'),
    ("s-unconfigured", "5", "005", "2024-01-01 00:00:20", '{"key": 5}'),
    ("s-dup-config", "6", "006", "2024-01-01 00:00:25", '{"key": 6, "commitTimestamp": "2024-01-01T00:00:25Z"}'),
]

CONFIG = [
    ("s-active", "us-east-1"),
    ("s-mixed", "US-EAST-1"),       # case-insensitive match (Handler.java:161)
    ("s-inactive", "eu-west-1"),
    ("s-dup-config", "us-east-1"),  # >1 row → dropped (Handler.java:156-159)
    ("s-dup-config", "eu-west-1"),
]


@pytest.fixture(scope="module")
def outputs(spark):
    env = _mk_envelope(spark, ROWS)
    cfg = _mk_config(spark, CONFIG)
    return replication.replicate_batch(
        env, cfg, "us-east-1", now_expr=F.to_timestamp(F.lit("2024-01-01 00:01:00"))
    )


def test_gate_keeps_only_active_streams(outputs):
    streams = {r.streamName for r in outputs["replicated"].select("streamName").distinct().collect()}
    assert streams == {"s-active", "s-mixed"}


def test_replicated_payload_passthrough(outputs):
    rows = {r.sequenceNumber: r for r in outputs["replicated"].collect()}
    assert rows["001"].payload == '{"key": 1, "commitTimestamp": "2024-01-01T00:00:00Z"}'
    assert bytes(rows["001"].data).decode() == rows["001"].payload
    assert rows["002"].partitionKey == "2"


def test_checkpoint_is_last_commit_ts_per_stream(outputs):
    cp = {r.streamName: r.lastReplicatedCommitTimestamp for r in outputs["checkpoint"].collect()}
    assert cp == {
        "s-active": "2024-01-01T00:00:05Z",
        "s-mixed": "2024-01-01T00:00:10Z",
    }


def test_metrics_throughput_and_lag(outputs):
    m = {r.streamName: r for r in outputs["metrics"].collect()}
    assert m["s-active"].throughput == 2
    # now=00:01:00, last arrival 00:00:05 → 55s lag (Handler.java:97 semantics)
    assert m["s-active"].replicationLagSeconds == 55
    assert m["s-mixed"].replicationLagSeconds == 50


def test_empty_batch_is_fine(spark):
    """The reference NPEs on empty batches (Handler.java:63); we must not."""
    env = _mk_envelope(spark, ROWS[:1]).where(F.lit(False))
    cfg = _mk_config(spark, CONFIG)
    out = replication.replicate_batch(env, cfg, "us-east-1")
    assert out["replicated"].count() == 0
    assert out["checkpoint"].count() == 0


def test_envelope_from_events_schema(spark, sf_dir):
    from aws_kinesis_data_streams_replicator_spark.sources.tables import load_table

    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    assert [f.name for f in env.schema.fields] == [
        "eventSourceARN",
        "partitionKey",
        "sequenceNumber",
        "approximateArrivalTimestamp",
        "data",
    ]
    row = env.first()
    assert row.eventSourceARN.startswith("arn:aws:kinesis:")
    assert isinstance(row.data, (bytes, bytearray))


def test_malformed_payload_yields_null_commit_ts(spark):
    """Schema-on-read: malformed JSON → NULL commitTimestamp, not a crash
    (the reference fails the batch; the engine isolates the bad record —
    the streaming layer routes these to a dead-letter sink)."""
    rows = [("s-active", "9", "009", "2024-01-01 00:00:00", "not-json")]
    env = _mk_envelope(spark, rows)
    cfg = _mk_config(spark, CONFIG)
    gated = replication.gate_active_region(
        replication.with_decoded(env), cfg, "us-east-1"
    )
    assert gated.first().commitTimestamp is None


def test_gate_matches_broadcast_join_plan(spark):
    """The driver-resolved gate keeps exactly the rows the former
    stream-static plan kept: config collapsed to streams with one row,
    broadcast inner join, case-insensitive region filter.  The config
    covers every edge the two could disagree on."""
    rows = ROWS + [
        ("s-dup-same", "7", "007", "2024-01-01 00:00:30", '{"key": 7, "commitTimestamp": "2024-01-01T00:00:30Z"}'),
        ("s-null-region", "8", "008", "2024-01-01 00:00:35", '{"key": 8, "commitTimestamp": "2024-01-01T00:00:35Z"}'),
        ("s-null-and-set", "9", "009", "2024-01-01 00:00:40", '{"key": 9, "commitTimestamp": "2024-01-01T00:00:40Z"}'),
    ]
    env = replication.with_decoded(_mk_envelope(spark, rows))
    cfg = spark.sql(
        "SELECT * FROM VALUES "
        "('s-active', 'us-east-1'), ('s-mixed', 'Us-East-1'), "
        "('s-inactive', 'eu-west-1'), "
        "('s-dup-config', 'us-east-1'), ('s-dup-config', 'eu-west-1'), "
        "('s-dup-same', 'us-east-1'), ('s-dup-same', 'us-east-1'), "
        "('s-null-region', NULL), "
        "('s-null-and-set', NULL), ('s-null-and-set', 'us-east-1'), "
        "(NULL, 'us-east-1') "
        "AS t(streamName, activeRegion)"
    )
    # the former plan, inline: prepare_config + broadcast join + filter
    one_row = (
        cfg.groupBy("streamName")
        .agg(F.count(F.lit(1)).alias("n_cfg"), F.min("activeRegion").alias("activeRegion"))
        .where(F.col("n_cfg") == 1)
        .drop("n_cfg")
    )
    joined = (
        env.join(F.broadcast(one_row), "streamName", "inner")
        .where(F.lower(F.col("activeRegion")) == F.lit("us-east-1"))
        .drop("activeRegion")
    )
    cols = sorted(env.columns)
    want = sorted(joined.select(cols).collect())
    got = sorted(replication.gate_active_region(env, cfg, "us-east-1").select(cols).collect())
    assert got == want
    assert {r.streamName for r in got} == {"s-active", "s-mixed"}
    assert replication.active_streams(cfg, "US-EAST-1") == ["s-active", "s-mixed"]
