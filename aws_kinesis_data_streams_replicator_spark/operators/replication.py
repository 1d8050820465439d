"""The replication pipeline — SURVEY §2 ops 2-8 + 10 as pure DataFrame
transforms.

Reference behavior being reproduced (file:line cites into
/root/reference):

* op 2  stream-name from ARN           Handler.java:63,169-171
* op 3  UTF-8 payload decode           Handler.java:74
* op 4  JSON pointer /commitTimestamp  Handler.java:86
* op 5  active-region gate             Handler.java:65,139-167
* op 6  per-shard sequence order       Handler.java:72-89
* op 7  replication projection         Handler.java:79-84
* op 8  checkpoint = last commit ts
        per stream (in sequence order) Handler.java:85,129-137
* op 10 batch metrics (count, lag)     Handler.java:94-98

Design notes
------------
The reference gates **once per batch** on the first record's stream
(Handler.java:63); a Lambda event-source mapping only ever carries one
stream, so per-batch == per-stream.  We gate per-row — strictly more
general, identical result on single-stream input, and it handles empty
batches (the reference NPEs on those).

Gate semantics (Handler.java:139-167): no config row → drop + warn;
multiple config rows → drop (error); case-insensitive region compare.
The config is control-plane metadata (one row per stream), so
``active_streams`` collects it on the driver and ``streams_active_in``
applies these rules in Python, the way the reference applies them to
its one DynamoDB Query result (Handler.java:65).  The gate is then a
plain ``isin`` filter on the data side: no join, no config-side job.

Checkpoint: the reference putItems per record, so the surviving value is
the LAST in sequence order per stream.  Commit timestamps are monotone
per stream (CDC premise, README.md:9) and ISO-8601 strings compare
lexicographically, so ``max(commitTimestamp)`` is the faithful —
and order-independent, hence distributable — translation (SURVEY §7d).

Scale notes (100 TB): the config is KB-sized and collected on the
driver; a ``VALUES`` config collects without a Spark job.  The gate is a
narrow filter on the stream side (no shuffle, no broadcast).  The only
shuffle in the whole pipeline is the per-stream checkpoint aggregation,
whose key cardinality equals the stream count (tiny); partial
aggregation map-side reduces it to one row per (task, stream) before the
exchange.  Everything else is narrow and whole-stage-codegen'd.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F

from ..functions.arn import stream_name_from_arn
from ..functions.json_payload import decode_payload, extract_commit_timestamp

CONFIG_COLUMNS = ("streamName", "activeRegion")
# op 7: the columns that land in the target stream
REPLICATED_COLUMNS = ("streamName", "partitionKey", "sequenceNumber", "data", "payload")


def with_decoded(envelope: DataFrame) -> DataFrame:
    """Ops 2-4: stream name, payload string, commitTimestamp columns."""
    return envelope.withColumns(
        {
            "streamName": stream_name_from_arn(F.col("eventSourceARN")),
            "payload": decode_payload(F.col("data")),
        }
    ).withColumn("commitTimestamp", extract_commit_timestamp(F.col("payload")))


def active_streams(config: DataFrame, current_region: str) -> list[str]:
    """Op 5 rule applied to the config: see ``streams_active_in``."""
    return streams_active_in(config.select(*CONFIG_COLUMNS).collect(), current_region)


def streams_active_in(rows: list, current_region: str) -> list[str]:
    """Op 5 rule: the streams replicated from ``current_region``, given
    the collected ``(streamName, activeRegion)`` config rows.

    A stream needs EXACTLY one config row (none → dropped with a warning,
    more than one → dropped with an error; Handler.java:152-159), and
    that row's region must equal ``current_region`` ignoring case
    (Handler.java:160-161, equalsIgnoreCase).  A NULL stream name or
    region never matches.
    """
    n_rows = Counter(r[0] for r in rows)
    region = current_region.lower()
    return sorted(
        s
        for s, r in rows
        if s is not None and n_rows[s] == 1 and r is not None and r.lower() == region
    )


def gate_active_region(
    decoded: DataFrame, config: DataFrame, current_region: str
) -> DataFrame:
    """Op 5: keep the rows of the streams active in ``current_region``."""
    return decoded.where(
        F.col("streamName").isin(active_streams(config, current_region))
    )


def replicated_records(gated: DataFrame) -> DataFrame:
    """Op 7: what lands in the target stream — same stream name, same
    partition key, byte-faithful payload (Handler.java:79-84)."""
    return gated.select(*REPLICATED_COLUMNS)


def checkpoint(gated: DataFrame) -> DataFrame:
    """Op 8: per-stream last replicated commit timestamp."""
    return gated.groupBy("streamName").agg(
        F.max("commitTimestamp").alias("lastReplicatedCommitTimestamp")
    )


def batch_metrics(gated: DataFrame, now_expr=None) -> DataFrame:
    """Op 10: ThroughPut + ReplicationLagSeconds per stream.

    The reference computes lag against wall-clock *now* (Handler.java:97);
    for deterministic tests callers pass ``now_expr`` (a timestamp
    Column), defaulting to ``current_timestamp()`` in production.
    """
    now = now_expr if now_expr is not None else F.current_timestamp()
    return gated.groupBy("streamName").agg(
        F.count(F.lit(1)).alias("throughput"),
        F.max("approximateArrivalTimestamp").alias("lastArrival"),
        (
            now.cast("long") - F.max("approximateArrivalTimestamp").cast("long")
        ).alias("replicationLagSeconds"),
    )


def replicate_batch(
    envelope: DataFrame,
    config: DataFrame,
    current_region: str,
    now_expr=None,
) -> dict[str, DataFrame]:
    """Phase-1 end-to-end slice: envelope batch + config → the three
    outputs of one reference invocation (SURVEY §7 phase 1)."""
    gated = gate_active_region(with_decoded(envelope), config, current_region)
    return {
        "replicated": replicated_records(gated),
        "checkpoint": checkpoint(gated),
        "metrics": batch_metrics(gated, now_expr=now_expr),
    }
