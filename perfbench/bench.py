"""Benchmark entry point: one workload per invocation, one JSON result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root.  Workloads:

* ``replicate_trickle`` open loop; per-file commit latency at a fixed rate
* ``query_refresh``     closed loop, one client; a fixed query set, repeated

``replicate_burst`` (closed loop; drain rate of a backlog of large files)
also runs, but it is not among the gated workloads of ``BENCHMARK.json``:
its figures follow the host's single-core speed too closely to gate on
(see ``streaming.py``).  ``report.py`` runs it for the single-threaded
baseline.

Each run starts one Spark session (``session.get_spark``) at
``local[SPARK_THREADS]``, generates its seeded inputs, warms up with a
fixed amount of work, measures for ``--seconds`` and checks the engine's
outputs outside the timed window (the streams after it; the queries just
before it, where the check is the last warm-up pass).  The figures are the
engine's as measured; ``probe.py`` measures the host's CPU speed
alongside, and a run on a host outside the probe's band is invalid.
Every metric is printed by name and unit; the last line of standard
output is the JSON result.
With ``--trace 1`` the engine's layer boundaries are wrapped from outside
(``spans.py``), the result carries the per-layer metrics, and the spans
are written to ``perfbench/out/``.  The exit code is non-zero when a
correctness check fails, the open-loop generator ran late or the host
ran outside the probe's band.

Everything the run writes stays under ``perfbench/.work/`` (removed at the
end) and ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("replicate_trickle", "query_refresh")  # gated, as in BENCHMARK.json
REPORT_WORKLOADS = ("replicate_burst",)  # run by report.py only
# Spark task threads.  Fixed, so runs on any host are comparable; on the
# 4-vCPU box the benchmark was sized on it leaves one CPU for the JVM's
# JIT and GC threads, the Python driver, the probe and the trickle
# generator, which at local[4] competed with the tasks (trickle p50 read
# 0.95-1.24 s over five seeds at local[3], 0.97-1.63 s over ten at local[4])
SPARK_THREADS = 3

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}


STREAM_LAYERS = (
    "source.latest_offset_ms",
    "source.get_batch_ms",
    "source.backlog_files_max",
    "job.trigger_ms",
    "job.add_batch_ms",
    "job.wal_commit_ms",
    "job.commit_offsets_ms",
    "job.query_planning_ms",
    "job.process_other_ms",
    "job.triggers",
    "job.spark_jobs_per_trigger",
    "job.stages_per_trigger",
    "job.tasks_per_trigger",
    "job.records_per_trigger",
    "sinks.write_ms",
    "sinks.checkpoint_commit_ms",
    "sinks.write_spans_per_trigger",
    "sinks.checkpoint_spans_per_trigger",
    "sinks.bytes_written",
    "sinks.files_written",
    "replication.replicated_ratio",
)
QUERY_LAYERS = (
    "queries.build_s",
    "queries.build_jobs",
    "queries.exec_s",
    "queries.exec_jobs",
    "queries.stages",
    "queries.tasks",
    "queries.shuffle_read_bytes",
    "queries.shuffle_write_bytes",
    "queries.spill_bytes",
    "queries.executor_run_s",
)
SETUP_LAYERS = ("session.start_s", "setup.generate_s", "setup.warmup_s")


def layer_metrics() -> tuple[str, ...]:
    """Every per-layer metric name, in output order.  A traced run reports
    all of them; a layer the workload does not run reads 0."""
    from .refresh import QUERY_SET
    from .spans import OPERATOR_MODULES

    return (
        STREAM_LAYERS
        + QUERY_LAYERS
        + tuple(f"queries.{q}.{k}" for q in QUERY_SET for k in ("build_s", "exec_s", "jobs"))
        + tuple(f"operators.{m}.{k}" for m in OPERATOR_MODULES for k in ("s", "calls"))
        + SETUP_LAYERS
    )


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes") or name == "sinks.bytes_written":
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


class Context:
    """Session, seed, working directory and (optionally) the tracer of one run."""

    def __init__(self, spark, seed: int, work: str, tracer=None) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self._tracker = spark.sparkContext.statusTracker()
        self.marks: dict[str, dict] = {}

    def mark(self, name: str) -> None:
        """Note the Spark JVM's cumulative GC and JIT-compile time, so a run
        can show whether collection or compilation ran inside its window."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        self.marks[name] = {
            "gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()),
            "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        }

    # -- streaming ---------------------------------------------------------
    def on_query_start(self, q) -> None:
        """When tracing, note after each checkpoint commit the newest job
        of the query's job group, so jobs can be split by trigger."""
        if self.tracer is None:
            return
        run_id = str(q.runId)
        tracker = self._tracker

        def note_jobs(rec: dict) -> None:
            rec["last_job"] = max(tracker.getJobIdsForGroup(run_id), default=-1)

        self.tracer.after["sinks.checkpoint_commit"] = note_jobs

    def trigger_jobs(self, run_id: str, batches: list[int]) -> list[dict]:
        ids = sorted(self._tracker.getJobIdsForGroup(run_id))
        marks = {
            s["trigger"]: s["last_job"]
            for s in self.tracer.named("sinks.checkpoint_commit")
            if "trigger" in s and "last_job" in s
        }
        out, prev = [], -1
        for b in sorted(marks):
            jobs = [j for j in ids if prev < j <= marks[b]]
            prev = marks[b]
            if b in batches:
                out.append({"batch": b, **self._work(jobs)})
        return out

    # -- queries -------------------------------------------------------------
    @contextmanager
    def query_scope(self, name: str, pass_no: int):
        if self.tracer is None:
            yield
            return
        with self.tracer.context(query=name, refresh=pass_no), self.tracer.span("queries.query"):
            yield

    @contextmanager
    def job_group(self, phase: str, name: str, pass_no: int):
        if self.tracer is None:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench:{phase}:{name}:{pass_no}", phase)
        try:
            with self.tracer.span(f"queries.{phase}"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def group_work(self, phase: str, name: str, pass_no: int) -> dict:
        return self._work(
            self._tracker.getJobIdsForGroup(f"perfbench:{phase}:{name}:{pass_no}")
        )

    def _work(self, job_ids) -> dict:
        """Jobs, stages, tasks, shuffle bytes, spill and executor run time
        of the given jobs, from the status store (works with the UI off)."""
        from py4j.protocol import Py4JJavaError

        store = self.spark.sparkContext._jsc.sc().statusStore()
        out = {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "executor_run_s": 0.0,
        }
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            out["jobs"] += 1
            if info is None:
                continue
            for sid in list(info.stageIds):
                stage = self._tracker.getStageInfo(sid)
                if stage is None or stage.numTasks == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numTasks
                try:
                    data = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the store
                    continue
                out["shuffle_read_bytes"] += data.shuffleReadBytes()
                out["shuffle_write_bytes"] += data.shuffleWriteBytes()
                out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
                out["executor_run_s"] += data.executorRunTime() / 1000.0
        return out


def _prepare_environment(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def _start_session(work: str, threads: int):
    from aws_kinesis_data_streams_replicator_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=threads,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _install_wrappers(tracer) -> None:
    import importlib

    from aws_kinesis_data_streams_replicator_spark.streaming import job

    from .spans import OPERATOR_MODULES

    tracer.wrap(job, "append_replicated", "sinks.write")
    tracer.wrap(job, "replicated_exactly_once", "sinks.write")
    tracer.wrap(job, "upsert_checkpoint_rows", "sinks.checkpoint_commit")
    for m in OPERATOR_MODULES:
        module = importlib.import_module(f"aws_kinesis_data_streams_replicator_spark.operators.{m}")
        tracer.wrap_module_functions(module, f"operators.{m}")


def _operator_metrics(spans: list[dict], n_units: int) -> dict:
    """Seconds and calls of each operator module per refresh (or trigger)."""
    from .spans import OPERATOR_MODULES, outermost

    out = {}
    for m in OPERATOR_MODULES:
        name = f"operators.{m}"
        top = outermost(spans, name)
        calls = [s for s in spans if s["name"] == name]
        out[f"{name}.s"] = sum(s["end"] - s["start"] for s in top) / max(1, n_units)
        out[f"{name}.calls"] = len(calls) / max(1, n_units)
    return out


@contextmanager
def _tracing(tracer):
    if tracer is None:
        yield
        return
    with tracer:
        _install_wrappers(tracer)
        yield


def _run_refresh(ctx, seconds: float) -> dict:
    from . import refresh

    with _tracing(ctx.tracer):
        r = refresh.run_refresh(ctx, seconds)
        layers = None
        if ctx.tracer is not None:
            layers = refresh.per_layer(ctx, r)
            measured = [s for s in ctx.tracer.spans if s.get("refresh", -1) >= 0]
            layers.update(_operator_metrics(measured, len(r["passes"])))
    checks = r["checks"]
    e2e, sample = refresh.end_to_end(r)
    mismatched = sum(1 for c in checks.values() if not c["ok"])
    return {
        "setup_end": r["setup_end"],
        "generate_s": r["generate_s"],
        "e2e": e2e,
        "sample": sample,
        "attempted": r["attempted"] + len(checks),
        "failed": r["failed"] + mismatched,
        "correct": r["failed"] == 0 and mismatched == 0,
        "checks": checks,
        "layers": layers,
        "stamp": {},
        "window": r["window"],
        "curve": [round(p["end"] - p["start"], 3) for p in r["warm"] + r["passes"]],
    }


def _run_stream(ctx, workload: str, seconds: float) -> dict:
    from . import streaming

    fn = streaming.run_burst if workload == "replicate_burst" else streaming.run_trickle
    with _tracing(ctx.tracer):
        sr = fn(ctx, seconds)
    checks = streaming.check(ctx, sr)
    e2e, sample = streaming.end_to_end(workload, sr, seconds)
    correct = (
        checks["pairs_equal_gated"]
        and checks["checkpoint_equal_gated"]
        and checks["replicated_rows"] == checks["gated_rows"]
        and checks["files_uncommitted"] == 0
    )
    layers = None
    if ctx.tracer is not None:
        layers = streaming.per_layer(ctx, sr, checks)
        w0, w1 = sr.window
        measured = [s for s in ctx.tracer.spans if w0 < s["start"] <= w1]
        layers.update(_operator_metrics(measured, layers["job.triggers"]))
    stamp = {}
    if sr.lateness:
        late = sorted(sr.lateness)
        stamp = {
            "generator_late_max_s": late[-1],
            "generator_late_p50_s": late[len(late) // 2],
            "generator_late_bound_s": streaming.TRICKLE_LATE_BOUND_S,
            "offered_per_s": streaming.TRICKLE_RECORDS / streaming.TRICKLE_INTERVAL_S,
            "capacity_per_s": sr.capacity,
            "valid": late[-1] <= streaming.TRICKLE_LATE_BOUND_S,
        }
    return {
        "setup_end": sr.setup_end,
        "generate_s": sr.generate_s,
        "e2e": e2e,
        "sample": sample,
        "attempted": len(sr.files),
        "failed": checks["files_uncommitted"] + (0 if correct else 1),
        "correct": correct,
        "checks": checks,
        "layers": layers,
        "stamp": stamp,
        "window": sr.window,
        "curve": [round(t["end"] - t["start"], 3) for t in sr.triggers],
    }


def run(
    workload: str, seed: int, seconds: float, trace: bool, process_start: float, threads: int
) -> int:
    from .probe import VALID_SLOWDOWN, HostProbe
    from .spans import Tracer, self_times

    work = os.path.join(BENCH_DIR, ".work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_environment(work)
    load_start = os.getloadavg()
    probe = HostProbe(os.path.join(work, "probe.log"))
    try:
        t = time.time()
        spark = _start_session(work, threads)
    except BaseException:
        probe.stop()
        raise
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t

    ctx = Context(spark, seed, work, Tracer() if trace else None)
    stamp: dict = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "nproc": os.cpu_count(),
        "spark_threads": threads,
        "spark_version": spark.version,
        "python_version": platform.python_version(),
        "load_avg_start": load_start,
        "valid": True,
    }
    res = None
    try:
        if workload == "query_refresh":
            res = _run_refresh(ctx, seconds)
        else:
            res = _run_stream(ctx, workload, seconds)
    finally:
        _stop_session(spark)
        probe.stop()
        if res is None:
            shutil.rmtree(work, ignore_errors=True)
    e2e, sample = res["e2e"], res["sample"]
    e2e["setup_s"] = res["setup_end"] - process_start
    stamp.update(res["stamp"])
    invalid = []
    if not stamp["valid"]:
        invalid.append(
            f"the generator ran {stamp['generator_late_max_s']:.3f} s late "
            f"(bound {stamp['generator_late_bound_s']} s)"
        )
    # the probe stamps the run valid or not; it never rescales a figure,
    # since its reading also moves with the engine's own use of the cores
    phases = {"setup": (process_start, res["setup_end"]), "window": res["window"]}
    for phase, (t0, t1) in phases.items():
        slow = stamp[f"host_slowdown_{phase}"] = probe.slowdown(t0, t1)
        if not VALID_SLOWDOWN[0] <= slow <= VALID_SLOWDOWN[1]:
            invalid.append(
                f"the host ran {slow:.2f}x the reference CPU time in the {phase} "
                f"(band {VALID_SLOWDOWN[0]}-{VALID_SLOWDOWN[1]})"
            )
    stamp["valid"] = not invalid
    stamp["window_start"], stamp["window_end"] = res["window"]
    if {"window_start", "window_end"} <= set(ctx.marks):
        a, b = ctx.marks["window_start"], ctx.marks["window_end"]
        stamp["jvm_gc_ms_in_window"] = b["gc_ms"] - a["gc_ms"]
        stamp["jvm_jit_ms_in_window"] = b["jit_ms"] - a["jit_ms"]
    stamp["load_avg_end"] = os.getloadavg()
    stamp.update({f"latency_tail_{k}": v for k, v in sample.items()})

    print("# stamp " + json.dumps(stamp))
    print("# checks " + json.dumps(res["checks"], default=str))
    print("# curve_s " + json.dumps(res["curve"]))
    for k, unit in E2E_UNITS.items():
        extra = ""
        if k == "latency_tail_s":
            extra = f"  (p{sample['tail_percentile']}, n={sample['samples']})"
        print(f"{workload}.{k} = {e2e[k]:.6g} {unit}{extra}")
    print(f"{workload}.attempted = {res['attempted']}  failed = {res['failed']}")
    if ctx.tracer is not None:
        layers = res["layers"]
        layers.update(
            {
                "session.start_s": session_s,
                "setup.generate_s": res["generate_s"],
                "setup.warmup_s": e2e["setup_s"] - session_s - res["generate_s"],
            }
        )
        unknown = set(layers) - set(layer_metrics())
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from layer_metrics(): {unknown}")
        layers = {k: float(layers.get(k, 0.0)) for k in layer_metrics()}
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
        self_s = self_times(ctx.tracer.spans)
        ctx.tracer.dump(
            os.path.join(BENCH_DIR, "out", f"spans-{workload}-seed{seed}.json"),
            {"stamp": stamp, "end_to_end": e2e, "per_layer": layers, "self_s": self_s},
        )
        for k, v in layers.items():
            print(f"{k} = {v:.6g} {layer_unit(k)}")
        for k, v in sorted(self_s.items()):
            print(f"self.{k} = {v:.6g} s")
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    shutil.rmtree(work, ignore_errors=True)
    if invalid:
        print("invalid run: " + "; ".join(invalid), file=sys.stderr)
        return 3
    result = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if res["correct"] else 1


def main(process_start: float, argv=None) -> int:
    ap = argparse.ArgumentParser(description="Replication-engine benchmark, one workload per run.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + REPORT_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # only for the single-threaded baseline of report.py; not gated
    ap.add_argument("--threads", type=int, default=SPARK_THREADS, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    # fail fast, before any set-up, when the engine is not importable
    import aws_kinesis_data_streams_replicator_spark  # noqa: F401

    return run(
        args.workload, args.seed, args.seconds, bool(args.trace), process_start, args.threads
    )
