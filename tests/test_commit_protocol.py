"""The one commit protocol for foreachBatch state
(streaming/sinks.py: ``latest_version`` / ``version_path`` /
``commit_version``) and its four users: the checkpoint table and the
three batch-keyed states of streaming/job.py.

What must hold: concurrent writers on the checkpoint table lose no
update and leave it readable; a crash at any commit step leaves the previous
version readable, and a re-run reaches the crash-free result without
rebuilding a state that is already committed; a batch-keyed state that
finds its prior version missing fails the query instead of starting over
from empty."""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import threading

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException

from aws_kinesis_data_streams_replicator_spark.streaming import job as job_mod
from aws_kinesis_data_streams_replicator_spark.streaming import sinks
from aws_kinesis_data_streams_replicator_spark.streaming.sinks import (
    latest_version,
    read_checkpoint_table,
    upsert_checkpoint_rows,
    version_path,
)


def _ts(i: int) -> str:
    return f"2024-01-01T{i // 3600:02d}:{i // 60 % 60:02d}:{i % 60:02d}Z"


def _checkpoint(spark, table: str) -> dict:
    return {
        r.streamName: r.lastReplicatedCommitTimestamp
        for r in read_checkpoint_table(spark, table).collect()
    }


def test_concurrent_writers_lose_no_update(spark, tmp_path):
    """Regions overlapping in a failover, each advancing its own stream
    on the one checkpoint table: more writers than cores, with a short
    thread switch interval so that their commits interleave."""
    table = str(tmp_path / "cp")
    streams = [f"kds-{i}" for i in range((os.cpu_count() or 2) + 1)]
    n = 60
    errors: list[Exception] = []

    def writer(stream: str) -> None:
        try:
            for i in range(n):
                upsert_checkpoint_rows({stream: _ts(i)}, table)
        except Exception as e:  # reported below, not lost in the thread
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(s,)) for s in streams]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert _checkpoint(spark, table) == {s: _ts(n - 1) for s in streams}


# --------------------------------------------------------------------------
# The four users, each driven over two batches
# --------------------------------------------------------------------------

_CHECKPOINT_BATCHES = [
    {"s1": "2024-01-01T00:00:05Z", "s2": "2024-01-01T00:00:01Z"},
    {"s1": "2024-01-01T00:00:09Z", "s3": "2024-01-01T00:00:02Z"},
]


class _Checkpoint:
    """The checkpoint table: each staged batch is one upsert; a re-run
    applies every staged batch again, as a WAL replay re-delivers the
    failed one."""

    def state_dir(self, work):
        return f"{work}/cp"

    def stage(self, spark, stage, i):
        os.makedirs(stage, exist_ok=True)
        with open(f"{stage}/b{i}.json", "w") as f:
            json.dump(_CHECKPOINT_BATCHES[i], f)

    def run(self, spark, work, stage):
        for name in sorted(os.listdir(stage)):
            with open(f"{stage}/{name}") as f:
                upsert_checkpoint_rows(json.load(f), self.state_dir(work))

    def state(self, spark, work):
        return _checkpoint(spark, self.state_dir(work))

    def outputs(self, spark, work):
        return None


class _Streamed:
    """A batch-keyed state user fed by a parquet stream, one staged
    directory per micro-batch."""

    def __init__(self, schema, batches, start, state_dir, state, outputs):
        self.schema, self.batches = schema, batches
        self._start, self.state_dir = start, state_dir
        self._state, self._outputs = state, outputs

    def stage(self, spark, stage, i):
        spark.sql(self.batches[i]).coalesce(1).write.parquet(f"{stage}/b{i}")

    def run(self, spark, work, stage):
        stream = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage + "/*")
        )
        q = self._start(stream, work, f"{work}/wal")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)

    def state(self, spark, work):
        d = self.state_dir(work)
        return self._state(spark, version_path(d, latest_version(d)))

    def outputs(self, spark, work):
        return self._outputs(spark, work)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _epochs(spark, path) -> list[tuple]:
    return _rows(spark.read.parquet(path)) if os.path.isdir(path) else []


_USERS = {
    "checkpoint": _Checkpoint(),
    "rollup": _Streamed(
        "event_type STRING, value DOUBLE",
        [
            "SELECT * FROM VALUES ('a', 1.5), ('b', 2.25), ('a', 3.0) "
            "AS t(event_type, value)",
            "SELECT * FROM VALUES ('b', 4.0), ('c', 0.5) AS t(event_type, value)",
        ],
        lambda s, work, wal: job_mod.streaming_rollup_maintenance(
            s, f"{work}/rollup", wal
        ),
        lambda work: f"{work}/rollup",
        lambda spark, v: _rows(spark.read.parquet(v)),
        lambda spark, work: None,
    ),
    "compaction": _Streamed(
        "file_key BIGINT, size_bytes BIGINT",
        [
            "SELECT CAST(k AS BIGINT) AS file_key, CAST(s AS BIGINT) AS size_bytes "
            f"FROM VALUES {rows} AS t(k, s)"
            for rows in ("(1, 60), (2, 60), (3, 30)", "(4, 80), (5, 95), (6, 10)")
        ],
        lambda s, work, wal: job_mod.streaming_compaction_maintenance(
            s, work, wal, target_bytes=100
        ),
        lambda work: f"{work}/state",
        lambda spark, v: (
            _rows(spark.read.parquet(f"{v}/pending")),
            _rows(spark.read.parquet(f"{v}/meta")),
        ),
        lambda spark, work: (
            _epochs(spark, f"{work}/bins"),
            _epochs(spark, f"{work}/files"),
        ),
    ),
    "corpus": _Streamed(
        "doc_id BIGINT, text STRING",
        [
            "SELECT CAST(d AS BIGINT) AS doc_id, t AS text FROM VALUES "
            "(1, 'the quick brown fox jumps over the lazy dog'), "
            "(2, 'the quick brown fox jumps over the lazy dog'), "
            "(3, 'a completely different sentence about streams'), "
            "(4, 'kinesis records replicate across two regions'), "
            "(6, 'a completely different sentence about streams') AS t(d, t)",
            "SELECT CAST(d AS BIGINT) AS doc_id, t AS text FROM VALUES "
            "(7, 'kinesis records replicate across two regions'), "
            "(8, 'yet another unrelated line of text here'), "
            "(9, 'the quick brown fox jumps over the lazy dog') AS t(d, t)",
        ],
        lambda s, work, wal: job_mod.streaming_corpus_refresh(s, work, wal),
        lambda work: f"{work}/state",
        lambda spark, v: tuple(
            _rows(spark.read.parquet(f"{v}/{t}")) for t in ("docs", "bands", "cc", "pub")
        ),
        lambda spark, work: (
            _epochs(spark, f"{work}/changes"),
            _epochs(spark, f"{work}/manifest"),
        ),
    ),
}

_STREAMED = [u for u, impl in _USERS.items() if isinstance(impl, _Streamed)]


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """Crash-free results of a user, computed once per module: (state
    after batch 0, state after batch 1, outputs after batch 1)."""
    done: dict[str, tuple] = {}

    def of(name: str) -> tuple:
        if name not in done:
            user = _USERS[name]
            work = str(tmp_path_factory.mktemp(f"ref-{name}"))
            stage = f"{work}/stage"
            user.stage(spark, stage, 0)
            user.run(spark, work, stage)
            after0 = user.state(spark, work)
            user.stage(spark, stage, 1)
            user.run(spark, work, stage)
            done[name] = (after0, user.state(spark, work), user.outputs(spark, work))
        return done[name]

    return of


def _inject(monkeypatch, step: str) -> dict:
    """Crash the SECOND commit (batch 1's) once, at ``step``: the
    payload write raises after filling the temp directory, the rename
    raises, or the process dies after the rename and before GC."""
    real_commit, real_rename, real_collect = (
        sinks.commit_version,
        os.rename,
        sinks._collect,
    )
    fault = {"commits": 0, "fired": 0}

    def armed(s: str) -> bool:
        return step == s and fault["commits"] == 2 and not fault["fired"]

    def fire(what: str):
        fault["fired"] += 1
        raise RuntimeError(f"injected crash: {what}")

    def commit(table_dir, v, write):
        fault["commits"] += 1

        def crashing_write(tmp):
            write(tmp)
            if armed("write"):
                fire("payload write")

        return real_commit(table_dir, v, crashing_write)

    def rename(src, dst):
        if armed("rename") and os.path.basename(src).startswith("_tmp-"):
            fire("rename")
        real_rename(src, dst)

    def collect(table_dir):
        if armed("gc"):
            fire("after rename, before GC")
        real_collect(table_dir)

    monkeypatch.setattr(sinks, "commit_version", commit)
    monkeypatch.setattr(job_mod, "commit_version", commit)
    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(sinks, "_collect", collect)
    return fault


@pytest.mark.parametrize("step", ["write", "rename", "gc"])
@pytest.mark.parametrize("name", list(_USERS))
def test_crash_at_commit_step_keeps_previous_version(
    spark, tmp_path, reference, monkeypatch, name, step
):
    after0, after1, outputs = reference(name)
    user = _USERS[name]
    work = str(tmp_path / "work")
    stage = f"{work}/stage"
    user.stage(spark, stage, 0)
    user.stage(spark, stage, 1)
    fault = _inject(monkeypatch, step)

    with pytest.raises(Exception, match="injected crash"):
        user.run(spark, work, stage)
    assert fault["fired"] == 1
    state_dir = user.state_dir(work)
    assert not [n for n in os.listdir(state_dir) if n.startswith("_tmp-")]
    if step == "gc":  # batch 1's version landed before the crash
        assert latest_version(state_dir) == 1
        assert user.state(spark, work) == after1
    else:  # the previous version is still the newest, and readable
        assert latest_version(state_dir) == 0
        assert user.state(spark, work) == after0

    rebuilt, commit = [], job_mod.commit_version
    if step == "gc":  # the re-run replays batch 1, whose state is committed
        monkeypatch.setattr(
            job_mod, "commit_version", lambda d, v, w: rebuilt.append(v) or commit(d, v, w)
        )
    user.run(spark, work, stage)
    assert rebuilt == []
    assert user.state(spark, work) == after1
    assert user.outputs(spark, work) == outputs


@pytest.mark.parametrize("name", _STREAMED)
def test_lost_state_fails_the_next_batch(spark, tmp_path, name):
    """Prior state that was committed and is now gone must fail the
    query, naming the state directory — never restart from empty."""
    user = _USERS[name]
    work = str(tmp_path / "work")
    stage = f"{work}/stage"
    user.stage(spark, stage, 0)
    user.run(spark, work, stage)
    state_dir = user.state_dir(work)
    assert latest_version(state_dir) == 0
    shutil.rmtree(state_dir)

    user.stage(spark, stage, 1)
    with pytest.raises(StreamingQueryException, match=re.escape(state_dir)):
        user.run(spark, work, stage)
