"""The two streaming workloads: ``replicate_burst`` and ``replicate_trickle``.

Both drive ``streaming.job.run_replication_stream`` over
``streaming.source.read_envelope_stream`` on a directory the benchmark
fills with seeded envelope files (``envelopes.py``).  Commit times come
from Spark's own ``StreamingQueryProgress``: a trigger is committed at
its start plus ``durationMs.triggerExecution``, which covers the sink
writes, the checkpoint-table upsert and the WAL commit.

* burst (closed loop): a backlog of large files is staged before timing
  and the source directory is kept ``AHEAD`` files ahead of the commits,
  so the job never waits for input.  After a fixed warm-up of
  ``WARM_TRIGGERS`` triggers, the drain is measured for ``seconds``.
  It is run by ``report.py`` but not gated: each trigger is one task on
  one core, so its drain rate follows the host's single-core speed.  On
  the 4-vCPU box it was sized on, five 20-second runs of the same code
  drained 42.6k-64.4k records/s (quartile spread 0.33 of the median),
  and a 10-second run gives only ten commit intervals for its tail.
* trickle (open loop): after a closed-loop warm-up of full triggers,
  a generator thread moves small files into the source directory every
  ``TRICKLE_INTERVAL_S`` whatever the job does.  Latency is timed per
  file from its due time to the commit of the trigger that covers it.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

from . import envelopes
from .stats import median, tail

BURST_RECORDS = 50_000
BURST_WARM_TRIGGERS = 12
BURST_AHEAD = 3
BURST_MAX_RATE = 75_000  # records/s the staged backlog is sized for

TRICKLE_RECORDS = 200
TRICKLE_INTERVAL_S = 0.08
TRICKLE_MAX_FILES = 20  # files one trigger may take
TRICKLE_WARM_TRIGGERS = 14  # closed-loop triggers of TRICKLE_MAX_FILES files
TRICKLE_LATE_BOUND_S = 0.25  # generator lateness beyond which a run is invalid

DRAIN_DEADLINE_S = 60.0
GENERATOR_THREADS = 4


class ProgressLog(StreamingQueryListener):
    """Keeps every progress report of every query, as parsed JSON."""

    def __init__(self) -> None:
        self.reports: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        report = json.loads(event.progress.json)
        with self._lock:
            self.reports.append(report)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def triggers(self, run_id: str) -> list[dict]:
        """Data-bearing triggers of one run, in batch order, with their
        start and commit (end) times in epoch seconds."""
        with self._lock:
            reports = [r for r in self.reports if r["runId"] == run_id]
        out = []
        for r in sorted(reports, key=lambda r: r["batchId"]):
            if not r["numInputRows"]:
                continue
            start = datetime.fromisoformat(r["timestamp"].replace("Z", "+00:00"))
            start_s = start.timestamp()
            d = r["durationMs"]
            out.append(
                {
                    "batch": r["batchId"],
                    "rows": r["numInputRows"],
                    "start": start_s,
                    "end": start_s + d["triggerExecution"] / 1000.0,
                    "durations": d,
                }
            )
        return out


@dataclass
class StreamRun:
    """What one streaming run produced, for metrics and checks."""

    files: list[envelopes.EnvelopeFile]
    moved: list[float]  # actual move time per file, in move order
    due: list[float]  # due time per file (trickle) or move time (burst)
    triggers: list[dict]
    window: tuple[float, float]
    run_id: str
    out_dir: str
    checkpoint_dir: str
    setup_end: float
    generate_s: float
    lateness: list[float] = field(default_factory=list)
    capacity: float = 0.0  # trickle: records/s of full triggers after warm-up


def _stage(ctx, n_files: int, n_records: int) -> list[envelopes.EnvelopeFile]:
    from aws_kinesis_data_streams_replicator_spark.plans.queries import (
        CONFIG_ROWS,
        CURRENT_REGION,
    )

    active = envelopes.active_streams(CONFIG_ROWS, CURRENT_REGION)
    stage = os.path.join(ctx.work, "stage")
    os.makedirs(stage, exist_ok=True)

    def write(i: int) -> envelopes.EnvelopeFile:
        return envelopes.write_envelope_file(
            os.path.join(stage, f"part-{i:06d}.parquet"),
            ctx.seed,
            i,
            i * n_records,
            n_records,
            active,
        )

    # pyarrow releases the GIL in its kernels and writers
    with ThreadPoolExecutor(GENERATOR_THREADS) as pool:
        files = list(pool.map(write, range(n_files)))
    t_mtime = time.time()
    for i, f in enumerate(files):
        # the file source takes files oldest first: make the order explicit
        t = t_mtime + i * 0.01
        os.utime(f.path, (t, t))
    return files


def _start_query(ctx, max_files: int):
    from aws_kinesis_data_streams_replicator_spark.plans.queries import (
        CURRENT_REGION,
        _config_df,
    )
    from aws_kinesis_data_streams_replicator_spark.streaming.job import (
        run_replication_stream,
    )
    from aws_kinesis_data_streams_replicator_spark.streaming.source import (
        read_envelope_stream,
    )

    src = os.path.join(ctx.work, "src")
    os.makedirs(src, exist_ok=True)
    out_dir = os.path.join(ctx.work, "replicated")
    cp_dir = os.path.join(ctx.work, "checkpoint_table")
    q = run_replication_stream(
        read_envelope_stream(ctx.spark, src, max_batches_per_trigger=max_files),
        _config_df(ctx.spark),
        CURRENT_REGION,
        replicated_dir=out_dir,
        checkpoint_table_dir=cp_dir,
        stream_checkpoint_dir=os.path.join(ctx.work, "wal"),
    )
    return q, src, out_dir, cp_dir


def _move(f: envelopes.EnvelopeFile, src: str) -> None:
    dst = os.path.join(src, os.path.basename(f.path))
    os.rename(f.path, dst)
    f.path = dst


def _committed_rows(log: ProgressLog, run_id: str) -> int:
    return sum(t["rows"] for t in log.triggers(run_id))


def _drain(q, log: ProgressLog, run_id: str, offered_rows: int) -> None:
    deadline = time.time() + DRAIN_DEADLINE_S
    while _committed_rows(log, run_id) < offered_rows and time.time() < deadline:
        if q.exception() is not None:
            break
        time.sleep(0.02)


def _closed_loop(q, log, run_id, files, src, moved, ahead, stop) -> list[dict]:
    """Move files into the source so that ``ahead`` of them always wait
    uncommitted, until ``stop(triggers)`` holds or the files run out."""
    per_file = files[0].n_records
    while True:
        trig = log.triggers(run_id)
        done = sum(t["rows"] for t in trig) // per_file
        if stop(trig) or q.exception() is not None:
            return trig
        if len(moved) < len(files) and len(moved) - done < ahead:
            _move(files[len(moved)], src)
            moved.append(time.time())
            continue
        if len(moved) == len(files) and done == len(moved):
            return trig
        time.sleep(0.005)


def run_burst(ctx, seconds: float) -> StreamRun:
    n_files = (
        BURST_WARM_TRIGGERS
        + math.ceil(seconds * BURST_MAX_RATE / BURST_RECORDS)
        + BURST_AHEAD
    )
    t = time.time()
    files = _stage(ctx, n_files, BURST_RECORDS)
    generate_s = time.time() - t

    log = ProgressLog()
    ctx.spark.streams.addListener(log)
    q, src, out_dir, cp_dir = _start_query(ctx, max_files=1)
    ctx.on_query_start(q)
    run_id = str(q.runId)
    moved: list[float] = []
    w = BURST_WARM_TRIGGERS

    def measured_enough(trig) -> bool:
        if len(trig) < w:
            return False
        if "window_start" not in ctx.marks:
            ctx.mark("window_start")
        return time.time() >= trig[w - 1]["end"] + seconds

    try:
        _closed_loop(q, log, run_id, files, src, moved, BURST_AHEAD, measured_enough)
        ctx.mark("window_end")
        offered = files[: len(moved)]
        _drain(q, log, run_id, sum(f.n_records for f in offered))
    finally:
        q.stop()
        ctx.spark.streams.removeListener(log)
    trig = log.triggers(run_id)
    t0 = trig[min(w, len(trig)) - 1]["end"] if trig else time.time()
    in_window = [x for x in trig if t0 < x["end"] <= t0 + seconds]
    t_end = in_window[-1]["end"] if in_window else t0
    return StreamRun(
        files=offered,
        moved=moved,
        due=moved,
        triggers=trig,
        window=(t0, t_end),
        run_id=run_id,
        out_dir=out_dir,
        checkpoint_dir=cp_dir,
        setup_end=t0,
        generate_s=generate_s,
    )


def run_trickle(ctx, seconds: float) -> StreamRun:
    n_warm = TRICKLE_WARM_TRIGGERS * TRICKLE_MAX_FILES
    n_sched = math.ceil(seconds / TRICKLE_INTERVAL_S)
    t = time.time()
    files = _stage(ctx, n_warm + n_sched, TRICKLE_RECORDS)
    generate_s = time.time() - t

    log = ProgressLog()
    ctx.spark.streams.addListener(log)
    q, src, out_dir, cp_dir = _start_query(ctx, max_files=TRICKLE_MAX_FILES)
    ctx.on_query_start(q)
    run_id = str(q.runId)
    moved: list[float] = []
    sched = files[n_warm:]
    due: list[float] = []

    def generate() -> None:
        for f, d in zip(sched, due):
            pause = d - time.time()
            if pause > 0:
                time.sleep(pause)
            _move(f, src)
            moved.append(time.time())

    try:
        # warm-up: full triggers, closed loop, then let the job go idle
        _closed_loop(
            q, log, run_id, files[:n_warm], src, moved, 2 * TRICKLE_MAX_FILES,
            lambda trig: len(trig) >= TRICKLE_WARM_TRIGGERS,
        )
        _drain(q, log, run_id, len(moved) * TRICKLE_RECORDS)
        warm = log.triggers(run_id)
        t_sched = time.time() + 0.2
        due = [t_sched + k * TRICKLE_INTERVAL_S for k in range(n_sched)]
        gen = threading.Thread(target=generate, name="trickle-generator", daemon=True)
        ctx.mark("window_start")
        gen.start()
        gen.join()
        ctx.mark("window_end")
        _drain(q, log, run_id, len(moved) * TRICKLE_RECORDS)
    finally:
        q.stop()
        ctx.spark.streams.removeListener(log)
    # capacity: records per second over the last warm-up triggers
    tail_warm = warm[-5:]
    capacity = sum(t["rows"] for t in tail_warm) / sum(
        t["end"] - t["start"] for t in tail_warm
    )
    return StreamRun(
        files=files[: len(moved)],
        moved=moved,
        due=moved[:n_warm] + due,
        triggers=log.triggers(run_id),
        window=(t_sched, t_sched + seconds),
        run_id=run_id,
        out_dir=out_dir,
        checkpoint_dir=cp_dir,
        setup_end=t_sched,
        generate_s=generate_s,
        lateness=[m - d for m, d in zip(moved[n_warm:], due)],
        capacity=capacity,
    )


def file_commits(run: StreamRun) -> list[float | None]:
    """Commit time of each offered file: the file source takes files in
    order, so file k is covered by the first trigger whose cumulative row
    count reaches the rows of files 0..k."""
    out: list[float | None] = []
    cum_files, ti, cum_rows = 0, 0, 0
    for f in run.files:
        cum_files += f.n_records
        while ti < len(run.triggers) and cum_rows < cum_files:
            cum_rows += run.triggers[ti]["rows"]
            ti += 1
        out.append(run.triggers[ti - 1]["end"] if cum_rows >= cum_files and ti else None)
    return out


def end_to_end(workload: str, run: StreamRun, seconds: float) -> tuple[dict, dict]:
    """(metrics, sample info) for one streaming run."""
    w0, w1 = run.window
    if workload == "replicate_burst":
        trig = [t for t in run.triggers if w0 < t["end"] <= w1]
        ends = [w0] + [t["end"] for t in trig]
        samples = [b - a for a, b in zip(ends, ends[1:])]
        rate = sum(t["rows"] for t in trig) / (w1 - w0) if w1 > w0 else 0.0
    else:
        commits = file_commits(run)
        idx = [k for k, d in enumerate(run.due) if w0 <= d < w1]
        samples = [commits[k] - run.due[k] for k in idx if commits[k] is not None]
        trig = [t for t in run.triggers if w0 < t["end"] <= w1]
        # commit rate between the first and the last commit of the window:
        # the offered rate while the job keeps up
        rate = (
            sum(t["rows"] for t in trig[1:]) / (trig[-1]["end"] - trig[0]["end"])
            if len(trig) > 1
            else 0.0
        )
    value, pct, n = tail(samples)
    return (
        {
            "throughput_per_s": rate,
            "latency_p50_s": median(samples),
            "latency_tail_s": value,
        },
        {"tail_percentile": pct, "samples": n},
    )


def check(ctx, run: StreamRun) -> dict:
    """Replicated (streamName, sequenceNumber) pairs and the checkpoint
    table against the gate applied to the generated input."""
    from aws_kinesis_data_streams_replicator_spark.streaming.sinks import (
        read_checkpoint_table,
    )

    commits = file_commits(run)
    uncommitted = sum(1 for c in commits if c is None)
    expected = pa.concat_tables([f.gated for f in run.files])
    pairs = ["streamName", "sequenceNumber"]
    got = pq.read_table(run.out_dir, columns=pairs) if os.path.isdir(run.out_dir) else expected.slice(0, 0)
    distinct = got.group_by(pairs).aggregate([])
    same_pairs = distinct.num_rows == expected.num_rows and distinct.sort_by(
        [(c, "ascending") for c in pairs]
    ).select(pairs).equals(expected.sort_by([(c, "ascending") for c in pairs]))
    want_cp: dict[str, str] = {}
    for f in run.files:
        for s, c in f.max_commit.items():
            if s not in want_cp or c > want_cp[s]:
                want_cp[s] = c
    got_cp = {
        r["streamName"]: r["lastReplicatedCommitTimestamp"]
        for r in read_checkpoint_table(ctx.spark, run.checkpoint_dir).collect()
    }
    offered = sum(f.n_records for f in run.files)
    return {
        "pairs_equal_gated": bool(same_pairs),
        "checkpoint_equal_gated": got_cp == want_cp,
        "files_uncommitted": uncommitted,
        "duplicates": got.num_rows - distinct.num_rows,
        "offered_rows": offered,
        "replicated_rows": got.num_rows,
        "gated_rows": expected.num_rows,
        "replicated_ratio": got.num_rows / offered if offered else 0.0,
    }


def output_sizes(out_dir: str) -> tuple[int, int]:
    """(bytes, files) of parquet data files under the replication sink."""
    n_bytes = n_files = 0
    for root, _dirs, names in os.walk(out_dir):
        for n in names:
            if n.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(root, n))
                n_files += 1
    return n_bytes, n_files


def per_layer(ctx, run: StreamRun, checks: dict) -> dict:
    """Layer metrics of one traced streaming run (medians over the
    triggers committed inside the measured window, plus totals)."""
    tracer = ctx.tracer
    w0, w1 = run.window
    trig = [t for t in run.triggers if w0 < t["end"] <= w1]
    by_batch: dict[int, dict] = {t["batch"]: {} for t in trig}
    all_trig = run.triggers
    for name in ("sinks.write", "sinks.checkpoint_commit"):
        for s in tracer.named(name):
            owner = next(
                (t for t in all_trig if t["start"] - 0.002 <= s["start"] and s["end"] <= t["end"] + 0.002),
                None,
            )
            if owner is None:
                continue
            s["trigger"] = owner["batch"]
            if owner["batch"] in by_batch:
                by_batch[owner["batch"]].setdefault(name, []).append(s["end"] - s["start"])
    for t in all_trig:
        rec = tracer.add(
            "job.trigger",
            t["start"],
            t["end"],
            trigger=t["batch"],
            rows=t["rows"],
            durations=t["durations"],
        )
        for s in tracer.spans:
            if s.get("trigger") == t["batch"] and s["name"].startswith("sinks."):
                s["parent"] = rec["id"]

    def dur(key: str) -> float:
        return median(t["durations"].get(key, 0) for t in trig)

    write_ms = [1000 * sum(by_batch[t["batch"]].get("sinks.write", [])) for t in trig]
    cp_ms = [1000 * sum(by_batch[t["batch"]].get("sinks.checkpoint_commit", [])) for t in trig]
    other_ms = [
        t["durations"].get("addBatch", 0) - w - c for t, w, c in zip(trig, write_ms, cp_ms)
    ]
    jobs = ctx.trigger_jobs(run.run_id, [t["batch"] for t in trig])
    n_bytes, n_files = output_sizes(run.out_dir)
    n_trig_all = max(1, len(all_trig))
    commits = file_commits(run)
    backlog = [
        sum(1 for m in run.moved if m <= d) - sum(1 for c in commits if c is not None and c <= d)
        for d in run.due
        if w0 <= d < w1
    ]
    return {
        "source.latest_offset_ms": dur("latestOffset"),
        "source.get_batch_ms": dur("getBatch"),
        "source.backlog_files_max": max(backlog, default=0),
        "job.trigger_ms": dur("triggerExecution"),
        "job.add_batch_ms": dur("addBatch"),
        "job.wal_commit_ms": dur("walCommit"),
        "job.commit_offsets_ms": dur("commitOffsets"),
        "job.query_planning_ms": dur("queryPlanning"),
        "job.process_other_ms": median(other_ms),
        "job.triggers": len(trig),
        "job.spark_jobs_per_trigger": median(j["jobs"] for j in jobs),
        "job.stages_per_trigger": median(j["stages"] for j in jobs),
        "job.tasks_per_trigger": median(j["tasks"] for j in jobs),
        "job.records_per_trigger": median(t["rows"] for t in trig),
        "sinks.write_ms": median(write_ms),
        "sinks.checkpoint_commit_ms": median(cp_ms),
        "sinks.write_spans_per_trigger": median(len(by_batch[t["batch"]].get("sinks.write", [])) for t in trig),
        "sinks.checkpoint_spans_per_trigger": median(
            len(by_batch[t["batch"]].get("sinks.checkpoint_commit", [])) for t in trig
        ),
        "sinks.bytes_written": n_bytes / n_trig_all,
        "sinks.files_written": n_files / n_trig_all,
        "replication.replicated_ratio": checks["replicated_ratio"],
    }
