"""The ``query_refresh`` workload: one client refreshes a fixed set of
registry queries back to back (closed loop).

A refresh builds each query's frame with ``plans.queries.QUERIES[name]``
and executes it into the ``noop`` format.  The set mixes queries whose
time goes to eager jobs while the frame is built with queries whose time
goes to executing the final plan.  The warm-up is one cold refresh and
then the oracle check, which builds and collects every query once more.
"""

from __future__ import annotations

import os
import time
import traceback

from .stats import median, tail

# build-bound first (eager jobs while the frame is built), then
# execute-bound.  Between them the queries call every operator module
# the benchmark traces (``spans.OPERATOR_MODULES``): dedup and clustering
# (doc_neardup_clusters), similarity, text, replication, windows and
# multimodal.  The layout module is left untraced because no query
# reaches it cheaply enough: its queries (files_zorder_pruning,
# files_lifecycle) cost 2-6 s a refresh even at this scale, and a run
# repeats the set at least four times (cold pass, oracle check, two or
# more measured refreshes).  For the same reason the set leaves out
# pipeline_corpus_curation_v8 and emb_ann_ivf_kmeans_topk, and a
# pandas-UDF query, which would add the Python workers' start to every
# run's set-up.
QUERY_SET = (
    "doc_neardup_clusters",
    "emb_group_centroids",
    "text_quality_stats",
    "tpch_q1_pricing_summary",
    "kr_replicated_records",
    "evt_tumbling_hourly",
    "mm_binary_meta",
)
SCALE = 0.01  # lineitem = 60,000 rows
WARM_PASSES = 1  # cold refreshes before the oracle check
MIN_PASSES = 2


def run_refresh(ctx, seconds: float) -> dict:
    from aws_kinesis_data_streams_replicator_spark.plans.queries import QUERIES

    from . import tables

    sf_dir = os.path.join(ctx.work, "tables")
    t = time.time()
    tables.write_tables(sf_dir, ctx.seed, SCALE)
    generate_s = time.time() - t

    passes: list[dict] = []
    failed = 0
    attempted = 0

    def refresh(pass_no: int) -> dict:
        nonlocal failed, attempted
        per_query = {}
        t_pass = time.time()
        for name in QUERY_SET:
            attempted += 1
            with ctx.query_scope(name, pass_no):
                t0 = time.time()
                try:
                    with ctx.job_group("build", name, pass_no):
                        df = QUERIES[name](ctx.spark, sf_dir)
                    t1 = time.time()
                    with ctx.job_group("exec", name, pass_no):
                        df.write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 - a failing query is a failed operation
                    traceback.print_exc()
                    failed += 1
                    continue
                t2 = time.time()
            per_query[name] = {"build_s": t1 - t0, "exec_s": t2 - t1}
        return {"pass": pass_no, "start": t_pass, "end": time.time(), "queries": per_query}

    warm = [refresh(-WARM_PASSES + i) for i in range(WARM_PASSES)]
    # the oracle check builds and collects every query once more, so it is
    # also the last warm-up pass; it runs before the timed window
    t = time.time()
    checks = check(ctx, sf_dir)
    warm.append({"pass": None, "start": t, "end": time.time(), "queries": {}})
    ctx.mark("window_start")
    w0 = time.time()
    while len(passes) < MIN_PASSES or time.time() < w0 + seconds:
        passes.append(refresh(len(passes)))
    ctx.mark("window_end")
    w1 = passes[-1]["end"]
    return {
        "checks": checks,
        "passes": passes,
        "warm": warm,
        "window": (w0, w1),
        "setup_end": w0,
        "generate_s": generate_s,
        "attempted": attempted,
        "failed": failed,
    }


def end_to_end(run: dict) -> tuple[dict, dict]:
    w0, w1 = run["window"]
    samples = [p["end"] - p["start"] for p in run["passes"]]
    done = sum(len(p["queries"]) for p in run["passes"])
    value, pct, n = tail(samples)
    return (
        {
            "throughput_per_s": done / (w1 - w0),
            "latency_p50_s": median(samples),
            "latency_tail_s": value,
        },
        {"tail_percentile": pct, "samples": n},
    )


def check(ctx, sf_dir: str) -> dict:
    """Each query once against its DuckDB oracle (``tools/parity``)."""
    from tools.parity import compare_query, duck_connection

    con = duck_connection(sf_dir)
    results = {}
    try:
        for name in QUERY_SET:
            try:
                ok, detail = compare_query(ctx.spark, con, name, sf_dir)
            except Exception as exc:  # noqa: BLE001 - reported as a mismatch
                ok, detail = False, f"raised {type(exc).__name__}: {exc}"
            results[name] = {"ok": bool(ok), "detail": detail}
    finally:
        con.close()
    return results


def per_layer(ctx, run: dict) -> dict:
    """Per-refresh medians of the build/execute split and of the Spark work
    each query ran, in total and per query."""
    totals: dict[str, list[float]] = {}
    per_query: dict[str, dict[str, list[float]]] = {n: {} for n in QUERY_SET}
    for p in run["passes"]:
        pass_sum: dict[str, float] = {}
        for name, q in p["queries"].items():
            work = {
                "build_s": q["build_s"],
                "exec_s": q["exec_s"],
                **{f"build_{k}": v for k, v in ctx.group_work("build", name, p["pass"]).items()},
                **{f"exec_{k}": v for k, v in ctx.group_work("exec", name, p["pass"]).items()},
            }
            for k, v in work.items():
                pass_sum[k] = pass_sum.get(k, 0.0) + v
                per_query[name].setdefault(k, []).append(v)
        for k, v in pass_sum.items():
            totals.setdefault(k, []).append(v)

    def tot(key: str) -> float:
        return median(totals.get(key, []))

    def both(key: str) -> float:
        return tot(f"build_{key}") + tot(f"exec_{key}")

    out = {
        "queries.build_s": tot("build_s"),
        "queries.build_jobs": tot("build_jobs"),
        "queries.exec_s": tot("exec_s"),
        "queries.exec_jobs": tot("exec_jobs"),
        "queries.stages": both("stages"),
        "queries.tasks": both("tasks"),
        "queries.shuffle_read_bytes": both("shuffle_read_bytes"),
        "queries.shuffle_write_bytes": both("shuffle_write_bytes"),
        "queries.spill_bytes": both("spill_bytes"),
        "queries.executor_run_s": both("executor_run_s"),
    }
    for name, vals in per_query.items():
        out[f"queries.{name}.build_s"] = median(vals.get("build_s", []))
        out[f"queries.{name}.exec_s"] = median(vals.get("exec_s", []))
        out[f"queries.{name}.jobs"] = median(
            a + b for a, b in zip(vals.get("build_jobs", []), vals.get("exec_jobs", []))
        )
    return out
