"""Traced-run report: per-layer self time, tracing overhead, warm-up curve
and the single-threaded burst baseline.

    python3 perfbench/report.py [--seed N] [--seconds S] [--workloads a,b]

For each workload it runs the benchmark once untraced and once traced
(``--trace 1``), then prints and writes to ``perfbench/out/report.json``:

* the end-to-end metrics of both runs and their difference, the tracing
  overhead;
* the self time of every span name in the traced run;
* the warm-up curve: every trigger (or refresh) of the traced run in
  order, warm-up included, which is what the fixed warm-ups were sized
  from;
* on ``replicate_trickle``: the medians of the write span, the checkpoint
  span and ``job.process_other_ms`` against ``job.add_batch_ms``, with
  the quartile spread of ``addBatch`` over the run's triggers.

By default it also runs ``replicate_burst``, which is not gated, and
drains it once more at ``local[1]`` (traced), as a baseline for shard
parallelism.  The baseline is reported, not gated.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench.bench import REPORT_WORKLOADS, WORKLOADS  # noqa: E402


def _invoke(workload: str, seed: int, seconds: float, trace: int, threads: int | None = None) -> dict:
    cmd = [
        sys.executable,
        os.path.join(BENCH_DIR, "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
    ]
    if threads is not None:
        cmd += ["--threads", str(threads)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _spans_file(workload: str, seed: int) -> dict:
    with open(os.path.join(BENCH_DIR, "out", f"spans-{workload}-seed{seed}.json")) as fh:
        return json.load(fh)


def _warmup_curve(spans: list[dict]) -> list[float]:
    triggers = sorted(
        (s for s in spans if s["name"] == "job.trigger"), key=lambda s: s["trigger"]
    )
    if triggers:
        return [round(s["end"] - s["start"], 3) for s in triggers]
    passes: dict[int, float] = {}
    for s in spans:
        if s["name"] == "queries.query":
            passes[s["refresh"]] = passes.get(s["refresh"], 0.0) + s["end"] - s["start"]
    return [round(passes[k], 3) for k in sorted(passes)]


def _add_batch_split(traced: dict) -> dict:
    layers = traced["per_layer"]
    w0 = traced["stamp"].get("window_start")
    add = [
        s["durations"].get("addBatch", 0)
        for s in traced["spans"]
        if s["name"] == "job.trigger" and (w0 is None or s["start"] >= w0)
    ]
    q = statistics.quantiles(add, n=4) if len(add) >= 2 else [0, 0, 0]
    parts = layers["sinks.write_ms"] + layers["sinks.checkpoint_commit_ms"] + layers["job.process_other_ms"]
    return {
        "sinks.write_ms": layers["sinks.write_ms"],
        "sinks.checkpoint_commit_ms": layers["sinks.checkpoint_commit_ms"],
        "job.process_other_ms": layers["job.process_other_ms"],
        "sum_ms": parts,
        "job.add_batch_ms": layers["job.add_batch_ms"],
        "add_batch_iqr_ms": q[2] - q[0],
        "within_spread": abs(parts - layers["job.add_batch_ms"]) <= q[2] - q[0],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Traced-run report of the benchmark.")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--workloads", default=",".join(WORKLOADS + REPORT_WORKLOADS))
    args = ap.parse_args()

    report: dict = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for workload in args.workloads.split(","):
        untraced = _invoke(workload, args.seed, args.seconds, 0)["metrics"]
        _invoke(workload, args.seed, args.seconds, 1)
        traced = _spans_file(workload, args.seed)
        e2e = {
            k: {
                "untraced": untraced[k]["value"],
                "traced": v,
                "overhead": v - untraced[k]["value"],
                "overhead_share": (v - untraced[k]["value"]) / untraced[k]["value"],
            }
            for k, v in traced["end_to_end"].items()
        }
        entry = {
            "end_to_end": e2e,
            "per_layer": traced["per_layer"],
            "self_s": traced["self_s"],
            "warmup_curve_s": _warmup_curve(traced["spans"]),
            "stamp": traced["stamp"],
        }
        if workload == "replicate_trickle":
            entry["add_batch_split"] = _add_batch_split(traced)
        report["workloads"][workload] = entry
        print(f"== {workload}")
        for k, v in e2e.items():
            print(
                f"  {k}: untraced {v['untraced']:.4g}  traced {v['traced']:.4g}  "
                f"overhead {v['overhead']:+.4g} ({100 * v['overhead_share']:+.1f} %)"
            )
        for k, v in sorted(traced["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"  self {k}: {v:.3f} s")
        print(f"  warm-up curve (s): {entry['warmup_curve_s']}")
        if "add_batch_split" in entry:
            print(f"  addBatch split: {entry['add_batch_split']}")

    if "replicate_burst" in args.workloads.split(","):
        _invoke("replicate_burst", args.seed, args.seconds, 1, threads=1)
        single = _spans_file("replicate_burst", args.seed)
        four = report["workloads"]["replicate_burst"]
        report["burst_local1"] = {
            "end_to_end": single["end_to_end"],
            "per_layer": single["per_layer"],
            "speedup_vs_local1": four["end_to_end"]["throughput_per_s"]["traced"]
            / single["end_to_end"]["throughput_per_s"],
        }
        print(
            f"== replicate_burst at local[1]: {single['end_to_end']['throughput_per_s']:.0f} rec/s; "
            f"local[{four['stamp']['spark_threads']}] / local[1] = "
            f"{report['burst_local1']['speedup_vs_local1']:.2f}"
        )
    out = os.path.join(BENCH_DIR, "out", "report.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
