"""Property-based tests (hypothesis): operator semantics vs brute-force
Python references on adversarial small inputs.

The reference repo has zero randomized testing (SURVEY §5); these pin
the engine's trickiest semantics — as-of matching, checkpoint
monotonicity under arbitrary replay, salted-aggregation equivalence —
against oracles that are obviously correct.
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from aws_kinesis_data_streams_replicator_spark.operators.joins import as_of_join
from aws_kinesis_data_streams_replicator_spark.streaming.sinks import (
    read_checkpoint_table,
    upsert_checkpoint_rows,
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

ts_strategy = st.integers(min_value=0, max_value=3600)
key_strategy = st.integers(min_value=0, max_value=3)


@st.composite
def asof_case(draw):
    left = draw(
        st.lists(st.tuples(key_strategy, ts_strategy), min_size=1, max_size=12)
    )
    right = draw(
        st.lists(st.tuples(key_strategy, ts_strategy), min_size=0, max_size=12)
    )
    return left, right


@given(asof_case())
@SLOW
def test_asof_join_matches_bruteforce(spark, case):
    left, right = case
    lvals = ", ".join(
        f"({i}, {k}, TIMESTAMP '2024-01-01 00:00:00' + INTERVAL {t} SECOND)"
        for i, (k, t) in enumerate(left)
    )
    ldf = spark.sql(f"SELECT * FROM VALUES {lvals} AS t(lid, k, ts)")
    if right:
        rvals = ", ".join(
            f"({i}, {k}, TIMESTAMP '2024-01-01 00:00:00' + INTERVAL {t} SECOND)"
            for i, (k, t) in enumerate(right)
        )
        rdf = spark.sql(f"SELECT * FROM VALUES {rvals} AS t(rid, k, rts)")
    else:
        rdf = spark.sql(
            "SELECT * FROM VALUES (0, 0, TIMESTAMP '2024-01-01') AS t(rid, k, rts)"
        ).where(F.lit(False))

    out = {
        r.lid: r.asof_rid
        for r in as_of_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="rts",
            right_payload=["rid"], tie_break="rid",
        ).collect()
    }

    for i, (k, t) in enumerate(left):
        cands = [(rt, ri) for ri, (rk, rt) in enumerate(right) if rk == k and rt <= t]
        # engine tie-break: latest ts, then LARGEST rid at that ts (window
        # ordering is ts asc, rid asc → last() sees the largest rid last)
        want = max(cands)[1] if cands else None
        assert out[i] == want, f"left row {i} (k={k}, t={t}): {out[i]} != {want}"


@given(
    st.lists(
        st.lists(
            st.tuples(st.sampled_from(["s1", "s2", "s3"]), st.integers(0, 99)),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=5,
    )
)
@SLOW
def test_checkpoint_monotone_under_any_replay_order(spark, tmp_path_factory, batches):
    """Applying batches in ANY order (including duplicates) must leave
    each stream's checkpoint at its global max commit timestamp."""
    table = str(tmp_path_factory.mktemp("cp") / "cp")

    def ts(t):
        return f"2024-01-01T00:00:{t:02d}.{t:06d}Z"

    def maxes_of(batch):
        # one micro-batch's per-stream maxes, as the streaming job
        # observes them on its replication write
        out: dict[str, str] = {}
        for s, t in batch:
            out[s] = max(out.get(s, ts(t)), ts(t))
        return out

    for b in batches:
        upsert_checkpoint_rows(maxes_of(b), table)
    for b in reversed(batches):  # replay everything backwards
        upsert_checkpoint_rows(maxes_of(b), table)

    got = {
        r.streamName: r.lastReplicatedCommitTimestamp
        for r in read_checkpoint_table(spark, table).collect()
    }
    want: dict[str, str] = {}
    for b in batches:
        for s, t in b:
            want[s] = max(want.get(s, ts(t)), ts(t))
    assert got == want


@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(-1000, 1000)),
        min_size=1,
        max_size=30,
    )
)
@SLOW
def test_salted_agg_equals_plain_groupby(spark, rows):
    from aws_kinesis_data_streams_replicator_spark.operators.util import (
        salted_aggregate,
    )

    vals = ", ".join(f"('{k}', {v})" for k, v in rows)
    df = spark.sql(f"SELECT * FROM VALUES {vals} AS t(k, v)")
    got = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in salted_aggregate(
            df,
            keys=["k"],
            aggs={"n": ("count", "v"), "s": ("sum", "v"),
                  "mn": ("min", "v"), "mx": ("max", "v")},
            n_salt=4,
        ).collect()
    }
    import collections

    want = collections.defaultdict(list)
    for k, v in rows:
        want[k].append(v)
    for k, vs in want.items():
        assert got[k] == (len(vs), sum(vs), min(vs), max(vs))


# --------------------------------------------------------------------------
# Round-4 operators vs brute force
# --------------------------------------------------------------------------

edge_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8), st.integers(min_value=0, max_value=8)
    ),
    min_size=0,
    max_size=24,
)


@given(edge_strategy)
@SLOW
def test_triangle_counts_match_bruteforce(spark, edges):
    from itertools import combinations

    from aws_kinesis_data_streams_replicator_spark.operators.graph import (
        triangle_counts,
    )

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    expected: dict[int, int] = {}
    for x, y, z in combinations(sorted({v for e in und for v in e}), 3):
        if {(x, y), (x, z), (y, z)} <= und:
            for v in (x, y, z):
                expected[v] = expected.get(v, 0) + 1
    df = spark.createDataFrame(
        list(edges) or [(0, 0)], "src long, dst long"
    )
    got = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == expected


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.sampled_from(["a", "b", "c", "d"]),
        ),
        min_size=0,
        max_size=25,
    )
)
@SLOW
def test_cooccurrence_matches_bruteforce(spark, rows):
    from itertools import combinations

    from aws_kinesis_data_streams_replicator_spark.operators.stats import (
        cooccurrence_pairs,
    )

    baskets: dict[int, set[str]] = {}
    for g, item in rows:
        baskets.setdefault(g, set()).add(item)
    expected: dict[tuple[str, str], int] = {}
    for items in baskets.values():
        for a, b in combinations(sorted(items), 2):
            expected[(a, b)] = expected.get((a, b), 0) + 1
    expected = {k: v for k, v in expected.items() if v >= 2}
    df = spark.createDataFrame(
        list(rows) or [(0, "a")], "g long, item string"
    )
    got = {
        (r.item_a, r.item_b): r.n_groups
        for r in cooccurrence_pairs(df, "g", "item", min_support=2).collect()
    }
    if not rows:
        got = {}  # the placeholder row can't reach support 2
    assert got == expected


# ---- shingle containment vs brute-force set arithmetic ----

word_strategy = st.sampled_from(["a", "b", "c", "d", "e"])


@st.composite
def containment_corpus(draw):
    n_docs = draw(st.integers(min_value=2, max_value=6))
    return [
        (i, " ".join(draw(st.lists(word_strategy, min_size=3, max_size=10))))
        for i in range(n_docs)
    ]


@given(containment_corpus())
@SLOW
def test_containment_pairs_match_bruteforce(spark, corpus):
    from aws_kinesis_data_streams_replicator_spark.operators.dedup import (
        shingle_containment_pairs,
    )

    def shingles(text):
        t = text.split(" ")
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    sets = {d: shingles(t) for d, t in corpus}
    # brute-force reference: every unordered pair, max-direction
    # containment in basis points, threshold 5000, no DF cap effects
    # (cap=50 never binds at ≤6 docs)
    want = {}
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(sets[a] & sets[b])
            na, nb = len(sets[a]), len(sets[b])
            if inter and inter * 10000 >= 5000 * min(na, nb):
                want[(a, b)] = (
                    inter,
                    na,
                    nb,
                    inter * 10000 // na,
                    inter * 10000 // nb,
                )
    vals = ", ".join(f"({d}, '{t}')" for d, t in corpus)
    docs = spark.sql(f"SELECT * FROM VALUES {vals} AS t(doc_id, text)")
    got = {
        (r.doc_a, r.doc_b): (r.n_inter, r.n_a, r.n_b, r.cont_a_bp, r.cont_b_bp)
        for r in shingle_containment_pairs(
            docs, threshold_bp=5000, max_shingle_df=50
        ).collect()
    }
    assert got == want
