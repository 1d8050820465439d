"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench/test_perfbench.py -q

The last two tests start a Spark session and run a short stream and the
refresh query set at a small scale (about a minute together).
"""

from __future__ import annotations

import inspect
import os
import re
import sys
from datetime import timezone

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import envelopes, spans, stats  # noqa: E402


def test_benchmark_json_names_what_the_runs_report():
    import json

    from perfbench import bench

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.E2E_UNITS
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (n, bench.layer_unit(n)) for n in bench.layer_metrics()
    ]


def test_tail_keeps_ten_samples_beyond():
    for n in (40, 41, 57, 100, 150, 250, 1000):
        xs = list(range(n))
        value, pct, count = stats.tail(xs)
        assert count == n
        assert sum(1 for x in xs if x > value) >= 10
        assert pct >= 75
    assert stats.tail(list(range(250)))[:2] == (239.0, 96)


def test_tail_of_a_short_closed_loop_keeps_a_quarter_beyond():
    for n in range(4, 40):
        xs = list(range(n))
        value, pct, _ = stats.tail(xs)
        assert sum(1 for x in xs if x > value) >= n // 4
        assert pct >= 75
    assert stats.tail([5.0, 4.0, 6.0, 9.0]) == (6.0, 75, 4)
    assert stats.tail([5.0, 4.0, 6.0, 9.0, 7.0]) == (7.0, 80, 5)
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)


def test_envelope_file_is_seeded_and_microsecond_utc(tmp_path):
    active = envelopes.active_streams(
        [("kds-click", "us-east-1"), ("kds-view", "US-EAST-1"), ("kds-signup", "us-east-1"),
         ("kds-signup", "eu-west-1"), ("kds-purchase", "eu-west-1")],
        "us-east-1",
    )
    assert active == {"kds-click", "kds-view"}
    a = envelopes.write_envelope_file(str(tmp_path / "a.parquet"), 7, 3, 1000, 500, active)
    b = envelopes.write_envelope_file(str(tmp_path / "b.parquet"), 7, 3, 1000, 500, active)
    ta, tb = pq.read_table(a.path), pq.read_table(b.path)
    assert ta.equals(tb)
    ts_type = ta.schema.field("approximateArrivalTimestamp").type
    assert ts_type.unit == "us" and ts_type.tz == "UTC"
    rows = ta.to_pylist()
    assert [r["sequenceNumber"] for r in rows] == [f"{i:020d}" for i in range(1000, 1500)]
    for r in rows[:50]:
        commit = re.search(rb'"commitTimestamp": "([^"]+)"', r["data"]).group(1).decode()
        arrival = r["approximateArrivalTimestamp"].astimezone(timezone.utc)
        assert commit == arrival.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    streams = [r["eventSourceARN"].split(":")[5].split("/")[1] for r in rows]
    assert a.gated.num_rows == sum(1 for s in streams if s in active)
    for s in active:
        commits = [
            re.search(rb'"commitTimestamp": "([^"]+)"', r["data"]).group(1).decode()
            for r, st in zip(rows, streams)
            if st == s
        ]
        assert a.max_commit[s] == max(commits)


def test_wrapper_patches_the_looked_up_name_and_restores():
    import types

    mod = types.ModuleType("fake_ops")

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    inner.__module__ = outer.__module__ = "fake_ops"
    mod.inner, mod.outer = inner, outer
    with spans.Tracer() as tracer:
        assert sorted(tracer.wrap_module_functions(mod, "operators.fake")) == ["inner", "outer"]
        assert mod.outer(1) == 4
        names = [(s["name"], s["fn"]) for s in tracer.spans]
        assert names == [("operators.fake", "outer"), ("operators.fake", "inner")]
        assert tracer.spans[1]["parent"] == tracer.spans[0]["id"]
        assert len(spans.outermost(tracer.spans, "operators.fake")) == 1
    assert mod.inner is inner and mod.outer is outer
    assert spans.ACTIVE is None


def test_self_time_subtracts_children():
    rows = [
        {"id": 0, "name": "a", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "b", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "b", "start": 3.0, "end": 6.0, "parent": 0},
    ]
    assert spans.self_times(rows) == {"a": 5.0, "b": 6.0}


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    from perfbench import bench

    work = str(tmp_path_factory.mktemp("perfbench"))
    bench._prepare_environment(work)
    spark = bench._start_session(work, 2)
    yield bench.Context(spark, 11, work, spans.Tracer())
    bench._stop_session(spark)


def test_one_write_and_one_checkpoint_span_per_trigger(ctx, monkeypatch):
    from perfbench import bench, streaming

    monkeypatch.setattr(streaming, "BURST_RECORDS", 2000)
    monkeypatch.setattr(streaming, "BURST_WARM_TRIGGERS", 2)
    monkeypatch.setattr(streaming, "BURST_MAX_RATE", 2000)
    with bench._tracing(ctx.tracer):
        run = streaming.run_burst(ctx, seconds=2)
    checks = streaming.check(ctx, run)
    assert checks["pairs_equal_gated"] and checks["checkpoint_equal_gated"]
    layers = streaming.per_layer(ctx, run, checks)
    assert layers["job.triggers"] >= 1
    writes = ctx.tracer.named("sinks.write")
    commits = ctx.tracer.named("sinks.checkpoint_commit")
    assert len(writes) == len(commits) == len(run.triggers)
    for t in run.triggers:
        assert sum(1 for s in writes if s.get("trigger") == t["batch"]) == 1
        assert sum(1 for s in commits if s.get("trigger") == t["batch"]) == 1
    assert layers["job.spark_jobs_per_trigger"] >= 1


def _operator_modules_used(fn, namespace) -> set[str]:
    """Operator modules a query callable (or a private helper it calls)
    names in its code."""
    seen, used, todo = set(), set(), [fn]
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        code_names = set(f.__code__.co_names)
        for const in f.__code__.co_consts:
            if inspect.iscode(const):
                code_names |= set(const.co_names)
        used |= code_names & set(spans.OPERATOR_MODULES)
        todo += [
            namespace[n]
            for n in code_names
            if n.startswith("_") and inspect.isfunction(namespace.get(n))
        ]
    return used


def test_operator_wrappers_fire_for_every_query_in_the_set(ctx):
    from aws_kinesis_data_streams_replicator_spark.plans import queries

    from perfbench import bench, refresh, tables

    sf_dir = os.path.join(ctx.work, "tables")
    tables.write_tables(sf_dir, ctx.seed, 0.001)
    tracer = spans.Tracer()
    with bench._tracing(tracer):
        for name in refresh.QUERY_SET:
            with tracer.context(query=name):
                queries.QUERIES[name](ctx.spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
    covered = set()
    for name in refresh.QUERY_SET:
        expected = _operator_modules_used(queries.QUERIES[name], vars(queries))
        fired = {
            s["name"].split(".")[1]
            for s in tracer.spans
            if s.get("query") == name and s["name"].startswith("operators.")
        }
        assert fired == expected, name
        covered |= fired
    # no operator metric reads 0 on every run
    assert covered == set(spans.OPERATOR_MODULES)
