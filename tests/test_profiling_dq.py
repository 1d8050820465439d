"""Planted-fixture semantics for the profiler / expectation checker."""

from __future__ import annotations

from aws_kinesis_data_streams_replicator_spark.operators.profiling import (
    check_referential,
    check_referential_multi,
    check_rules,
    profile_table,
)


def _df(spark):
    return spark.sql(
        """
        SELECT * FROM VALUES
          (1L, 'x', 10.0D), (2L, 'y', -5.0D),
          (3L, CAST(NULL AS STRING), 7.0D), (3L, 'x', 0.0D)
        AS t(id, tag, amount)
        """
    )


def test_profile_counts_nulls_distincts_and_native_minmax(spark):
    out = {r.column_name: r for r in profile_table(_df(spark)).collect()}
    assert out["id"].n_rows == 4
    assert out["id"].n_nulls == 0
    assert out["id"].n_distinct == 3
    assert (out["id"].min_s, out["id"].max_s) == ("1", "3")
    assert out["tag"].n_nulls == 1
    assert out["tag"].n_distinct == 2  # distinct ignores null
    # native numeric ordering, not lexicographic: -5.0 < 10.0
    assert out["amount"].min_s == "-5.0"


def test_rules_single_pass_violation_counts(spark):
    out = {
        r.rule_name: (r.n_violations, r.passed)
        for r in check_rules(
            _df(spark),
            {"amount_pos": "amount > 0", "tag_not_null": "tag IS NOT NULL"},
        ).collect()
    }
    assert out["amount_pos"] == (2, 0)  # -5.0 and 0.0
    assert out["tag_not_null"] == (1, 0)
    # all-pass rule yields passed=1
    ok = check_rules(_df(spark), {"id_pos": "id > 0"}).collect()[0]
    assert (ok.n_violations, ok.passed) == (0, 1)


def test_referential_orphans_counted(spark):
    dim = spark.sql("SELECT * FROM VALUES (1L), (2L) AS d(k)")
    out = check_referential(_df(spark), "id", dim, "k", "fk").collect()[0]
    assert (out.n_rows, out.n_violations, out.passed) == (4, 2, 0)  # two id=3 rows


def test_rule_names_are_sql_literals_not_identifiers(spark):
    """A quote, a space or a trailing backslash in a rule name comes back
    unchanged from both stack() builders."""
    names = ["it's", "a b", "ends\\"]
    rules = check_rules(_df(spark), {n: "amount > 0" for n in names})
    assert sorted((r.rule_name, r.n_violations) for r in rules.collect()) == sorted(
        (n, 2) for n in names
    )
    dim = spark.sql("SELECT * FROM VALUES (1L), (2L) AS d(k)")
    multi = check_referential_multi(_df(spark), [("id", dim, "k", n) for n in names])
    assert sorted((r.rule_name, r.n_violations) for r in multi.collect()) == sorted(
        (n, 2) for n in names
    )


def test_column_names_are_sql_literals_not_identifiers(spark):
    """A space, a quote or a trailing backslash in a column name comes
    back unchanged from profile_table's stack()."""
    names = ["a b", "it's", "ends\\"]
    df = spark.sql(
        "SELECT * FROM VALUES (1L, 'x', 2.0D), (3L, NULL, 2.0D) AS t(p, q, r)"
    ).toDF(*names)
    out = {r.column_name: r for r in profile_table(df).collect()}
    assert sorted(out) == sorted(names)
    assert (out["a b"].n_rows, out["a b"].min_s, out["a b"].max_s) == (2, "1", "3")
    assert (out["it's"].n_nulls, out["it's"].n_distinct) == (1, 1)
    assert (out["ends\\"].n_nulls, out["ends\\"].n_distinct) == (0, 1)
