"""Seeded Kinesis-envelope files for the streaming workloads.

Files are written with pyarrow, so staging runs no Spark job and the
engine only ever sees parquet files in its source directory.  Each
record carries the envelope the replicator reads: a consumer ARN naming
one of five streams, a partition key, a zero-padded sequence number that
grows across files, a microsecond UTC arrival timestamp and a CDC JSON
payload whose ``commitTimestamp`` grows with the sequence number.

Timestamps are written as ``timestamp[us, UTC]``: the engine's session
sets ``spark.sql.legacy.parquet.nanosAsLong``, under which pyarrow's
default nanosecond timestamps no longer read as TIMESTAMP.

The expected output of the active-region gate is computed here from the
generated records and the engine's gate configuration, independently of
the engine.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STREAMS = ("kds-click", "kds-view", "kds-purchase", "kds-signup", "kds-error")
ARN_PREFIX = "arn:aws:kinesis:us-east-1:100000000000:stream/"
ARN_SUFFIX = "/consumer/kds-replicator:843564834"
# 2024-01-01T00:00:00Z in microseconds
BASE_US = 1_704_067_200_000_000
STEP_US = 1_000  # one record per millisecond of event time

SCHEMA = pa.schema(
    [
        ("eventSourceARN", pa.string()),
        ("partitionKey", pa.string()),
        ("sequenceNumber", pa.string()),
        ("approximateArrivalTimestamp", pa.timestamp("us", tz="UTC")),
        ("data", pa.binary()),
    ]
)


def active_streams(config_rows, current_region: str) -> frozenset[str]:
    """Streams the gate admits: exactly one config row whose region
    matches ``current_region`` case-insensitively."""
    rows: dict[str, list[str]] = {}
    for stream, region in config_rows:
        rows.setdefault(stream, []).append(region)
    return frozenset(
        s
        for s, regions in rows.items()
        if len(regions) == 1 and regions[0].lower() == current_region.lower()
    )


@dataclass
class EnvelopeFile:
    """One staged file and what the gate must make of it."""

    path: str
    n_records: int
    gated: pa.Table  # (streamName, sequenceNumber) of admitted records
    max_commit: dict[str, str]  # per admitted stream: max commitTimestamp


def _iso(us: np.ndarray) -> pa.Array:
    """ISO-8601 UTC with microseconds, as the engine's payloads carry."""
    day, tod = np.divmod(us, 86_400_000_000)
    days, inverse = np.unique(day, return_inverse=True)
    dates = [
        (datetime(1970, 1, 1) + timedelta(days=int(d))).strftime("%Y-%m-%dT")
        for d in days
    ]

    def pad(values: np.ndarray, width: int) -> pa.Array:
        return pc.utf8_lpad(pa.array(values).cast(pa.string()), width, "0")

    hh, rest = np.divmod(tod, 3_600_000_000)
    mm, rest = np.divmod(rest, 60_000_000)
    ss, frac = np.divmod(rest, 1_000_000)
    return pc.binary_join_element_wise(
        pa.array(np.asarray(dates, dtype=object)[inverse], pa.string()),
        pad(hh, 2), ":", pad(mm, 2), ":", pad(ss, 2), ".", pad(frac, 6), "Z",
        "",
    )


def envelope_table(seed: int, file_index: int, start: int, n: int) -> tuple[pa.Table, pa.Array, pa.Array]:
    """Records ``start .. start+n-1``; returns (table, stream, commitTs)."""
    rng = np.random.default_rng([seed, file_index])
    seq = np.arange(start, start + n, dtype=np.int64)
    stream_idx = rng.integers(0, len(STREAMS), n)
    keys = rng.integers(0, 10_000_000_000, n, dtype=np.int64)
    props = rng.integers(0, 100, n)
    us = BASE_US + seq * STEP_US + rng.integers(0, STEP_US, n)
    stream = pa.array(np.asarray(STREAMS, dtype=object)[stream_idx], pa.string())
    commit = _iso(us)
    key_s = pa.array(keys).cast(pa.string())
    payload = pc.binary_join_element_wise(
        '{"key": ',
        key_s,
        ', "commitTimestamp": "',
        commit,
        '", "props": {"k": ',
        pa.array(props).cast(pa.string()),
        "}}",
        "",
    )
    table = pa.table(
        {
            "eventSourceARN": pc.binary_join_element_wise(
                ARN_PREFIX, stream, ARN_SUFFIX, ""
            ),
            "partitionKey": pa.array(keys % 1000).cast(pa.string()),
            "sequenceNumber": pc.utf8_lpad(
                pa.array(seq).cast(pa.string()), 20, "0"
            ),
            "approximateArrivalTimestamp": pa.array(us, pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            ),
            "data": payload.cast(pa.binary()),
        },
        schema=SCHEMA,
    )
    return table, stream, commit


def write_envelope_file(
    path: str, seed: int, file_index: int, start: int, n: int, active: frozenset[str]
) -> EnvelopeFile:
    table, stream, commit = envelope_table(seed, file_index, start, n)
    pq.write_table(table, path)
    keep = pc.is_in(stream, pa.array(sorted(active), pa.string()))
    gated = pa.table(
        {"streamName": stream, "sequenceNumber": table["sequenceNumber"]}
    ).filter(keep)
    per_stream = (
        pa.table({"s": stream, "c": commit})
        .filter(keep)
        .group_by("s")
        .aggregate([("c", "max")])
    )
    return EnvelopeFile(
        path,
        n,
        gated,
        dict(zip(per_stream["s"].to_pylist(), per_stream["c_max"].to_pylist())),
    )
