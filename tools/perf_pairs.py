"""Paired before/after benchmark runs: a git revision against the
working tree, on the same host, in alternating order.

    python tools/perf_pairs.py --base <rev> --workload <name> \\
        --seeds 921-924,931-934 [--out PAIRS.json]

Both sides are exported the same way into one temp directory: the base
is a ``git archive`` of ``<rev>``, the change a ``git archive`` of
``git stash create`` (the tracked files of the working tree, staged or
not; untracked files are left out), or of ``HEAD`` when the tree is
clean.  So neither side runs with the other's caches or leftover
``perfbench`` state.  For each seed both sides run ``perfbench/run.py
--workload <name> --seed <seed> --seconds <run_seconds> --trace 0`` in
their own tree, one after the other, with ``run_seconds`` read from
``BENCHMARK.json``; even-numbered pairs run the base first, odd-numbered
pairs the change first, so a slow stretch of the host does not always
land on the same side.  Only pairs in which both runs exit 0 (a valid,
correct run) enter the statistics; a pair with an incorrect run
(perfbench exit 1), an invalid one (exit 3: late generator, host out of
the probe band) or no result is kept in the output and counted per side.

For every end-to-end metric ``BENCHMARK.json`` declares, it prints and
writes each side's median and quartiles, the change's median relative
to the base's, and in how many pairs the change was better (in the
metric's declared direction).  Every run's metrics, correctness and
failed-operation count are kept in the JSON, so the spread can be
checked against the artifact alone.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    """``"921-924,931"`` → ``[921, 922, 923, 924, 931]``."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(lower quartile, median, upper quartile); inclusive method."""
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout.strip()


def export_revision(sha: str, tree: str) -> None:
    """Extract ``git archive <sha>`` into the directory ``tree``."""
    archive = tree + ".tar"
    with open(archive, "wb") as fh:
        subprocess.run(["git", "archive", sha], cwd=ROOT, check=True, stdout=fh)
    with tarfile.open(archive) as tar:
        tar.extractall(tree, filter="data")
    os.remove(archive)


def run_side(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in ``tree``: exit code, wall time and,
    when it printed one, its JSON result (the last line of stdout)."""
    cmd = [
        sys.executable, "perfbench/run.py",
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", "0",
    ]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    out = {"exit": proc.returncode, "wall_s": round(time.time() - t0, 1)}
    lines = proc.stdout.strip().splitlines()
    try:
        out["result"] = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        out["result"] = None
    if proc.returncode != 0:
        out["stderr_tail"] = proc.stderr.strip().splitlines()[-3:]
    return out


def usable(run: dict) -> bool:
    return run["exit"] == 0 and run.get("result") is not None


def left_out(pairs: list[dict]) -> dict:
    """Per side, the runs kept out of the statistics: incorrect ones
    (exit 1) and any other failure."""
    return {
        side: {
            "incorrect": sum(1 for p in pairs if p[side]["exit"] == 1),
            "other": sum(
                1 for p in pairs if p[side]["exit"] != 1 and not usable(p[side])
            ),
        }
        for side in ("base", "change")
    }


def summarize(pairs: list[dict], metrics: list[dict]) -> dict:
    kept = [p for p in pairs if usable(p["base"]) and usable(p["change"])]
    summary = {}
    for m in metrics:
        name = m["name"]
        lower = m["better"] == "lower"
        base = [p["base"]["result"]["metrics"][name]["value"] for p in kept]
        change = [p["change"]["result"]["metrics"][name]["value"] for p in kept]
        wins = sum(1 for b, c in zip(base, change) if (c < b if lower else c > b))
        bq, cq = quartiles(base), quartiles(change)
        summary[name] = {
            "unit": m["unit"],
            "better": m["better"],
            "base": {"q1": bq[0], "median": bq[1], "q3": bq[2]},
            "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
            "median_change_rel": (cq[1] - bq[1]) / bq[1] if bq[1] else None,
            "change_better_pairs": wins,
            "pairs": len(kept),
            "median_gap_over_base_iqr": (
                abs(cq[1] - bq[1]) / (bq[2] - bq[0]) if bq[2] > bq[0] else None
            ),
        }
    return summary


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 921-924,931-934")
    ap.add_argument("--out", help="write the JSON artifact here")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    seeds = parse_seeds(args.seeds)
    shas = {
        "base": git("rev-parse", "--verify", f"{args.base}^{{commit}}"),
        "change": git("stash", "create") or git("rev-parse", "HEAD"),
    }
    work = tempfile.mkdtemp(prefix="perf-pairs-")
    try:
        trees = {side: os.path.join(work, side) for side in shas}
        for side, sha in shas.items():
            export_revision(sha, trees[side])
        pairs = []
        for i, seed in enumerate(seeds):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_side(trees[side], args.workload, seed, seconds)
            pairs.append(pair)
            print(
                f"seed {seed} ({order[0]} first): "
                + "  ".join(
                    f"{side} exit {pair[side]['exit']} in {pair[side]['wall_s']} s"
                    for side in ("base", "change")
                ),
                flush=True,
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary, dropped = summarize(pairs, metrics), left_out(pairs)
    print(f"runs left out of the statistics: {dropped}")
    for name, s in summary.items():
        b, c = s["base"], s["change"]
        rel = s["median_change_rel"]
        print(
            f"{args.workload}/{name}: base {b['median']:.4g} ({b['q1']:.4g}-{b['q3']:.4g})"
            f" -> change {c['median']:.4g} ({c['q1']:.4g}-{c['q3']:.4g}) {s['unit']}"
            + (f", {rel:+.1%}" if rel is not None else "")
            + f", change better in {s['change_better_pairs']}/{s['pairs']} pairs"
        )
    if args.out:
        artifact = {
            "workload": args.workload,
            "base": {"rev": args.base, "sha": shas["base"]},
            "change": {"rev": "working tree", "sha": shas["change"]},
            "seconds": seconds,
            "seeds": seeds,
            "host": {"nproc": os.cpu_count(), "python": platform.python_version()},
            "left_out": dropped,
            "summary": summary,
            "pairs": pairs,
        }
        with open(args.out, "w") as fh:
            json.dump(artifact, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
