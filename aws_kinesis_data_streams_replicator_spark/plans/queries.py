"""Named query registry + DuckDB oracle SQL — the correctness gate.

Every operator the engine claims (SURVEY §2 inventory + the LLM-pipeline
extensions) appears here twice: a Spark callable ``(spark, sf_dir) →
DataFrame`` in ``QUERIES`` and an equivalent ANSI-SQL string in
``ORACLE_SQL`` that DuckDB runs over the same parquet tables.  The
driver hash-compares the two at sf0.01, so every output is built from
**engine-portable arithmetic**: exact DECIMAL sums cast to DOUBLE at the
end, integer counts, md5 hex hashing, and string-formatted timestamps —
never raw float accumulation or engine-specific hash functions.

Replication queries (kr_*) run over a deterministic Kinesis-envelope
derivation of the ``events`` table (sources/envelope.py), with an inline
active-region config table exercising every gate path of
Handler.java:139-167: active (exact + mixed-case region), inactive
region, duplicate config rows, missing config.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.tables import load_table
from ..sources.envelope import envelope_from_events
from ..operators import (
    clustering,
    dedup,
    layout,
    multimodal,
    replication,
    similarity,
    text,
    windows,
)
from ..operators.prefix import (
    with_global_ntile,
    with_global_prefix,
    with_global_prefix_max,
)
from ..operators.util import spread

# --------------------------------------------------------------------------
# Shared fixtures: gate config (all Handler.java:139-167 paths) + region.
# --------------------------------------------------------------------------

CURRENT_REGION = "us-east-1"
CONFIG_ROWS = [
    ("kds-click", "us-east-1"),     # active, exact-case match
    ("kds-view", "US-EAST-1"),      # active, mixed case (equalsIgnoreCase)
    ("kds-purchase", "eu-west-1"),  # configured but inactive here
    ("kds-signup", "us-east-1"),    # duplicate config rows → dropped
    ("kds-signup", "eu-west-1"),
    # kds-error: absent from config → dropped with warning
]


def _config_df(spark: SparkSession) -> DataFrame:
    # Inline VALUES relation (pure JVM) — createDataFrame over a Python
    # list would materialize through pickled-RDD Python workers.
    values = ", ".join(f"('{s}', '{r}')" for s, r in CONFIG_ROWS)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t(streamName, activeRegion)")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = envelope_from_events(_t(spark, sf_dir, "events"))
    return replication.gate_active_region(
        replication.with_decoded(env), _config_df(spark), CURRENT_REGION
    )


# SQL mirror of sources/envelope.py + the config fixture.  ``arrival`` is
# CAST(ts AS TIMESTAMP): DuckDB truncates ns→µs exactly like the loader.
_ENV_CTE = """
env AS (
    SELECT
        'arn:aws:kinesis:us-east-1:100000000000:stream/kds-' || event_type
            || '/consumer/kds-replicator:843564834' AS eventSourceARN,
        CAST(user_id AS VARCHAR) AS partitionKey,
        lpad(CAST(event_id AS VARCHAR), 20, '0') AS sequenceNumber,
        CAST(ts AS TIMESTAMP) AS arrival,
        '{"key": ' || CAST(user_id AS VARCHAR)
            || ', "commitTimestamp": "'
            || strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S.%fZ')
            || '", "props": ' || props || '}' AS payload
    FROM events
)
"""

_CFG_CTE = """
cfgsrc(streamName, activeRegion) AS (
    VALUES ('kds-click','us-east-1'), ('kds-view','US-EAST-1'),
           ('kds-purchase','eu-west-1'), ('kds-signup','us-east-1'),
           ('kds-signup','eu-west-1')
),
cfg AS (
    SELECT streamName, min(activeRegion) AS activeRegion
    FROM cfgsrc GROUP BY streamName HAVING count(*) = 1
)
"""

_GATED_CTE = (
    _ENV_CTE
    + ","
    + _CFG_CTE
    + """,
decoded AS (
    SELECT e.*,
           split_part(split_part(e.eventSourceARN, ':', 6), '/', 2) AS streamName,
           json_extract_string(e.payload, '$.commitTimestamp') AS commitTimestamp
    FROM env e
),
gated AS (
    SELECT d.* FROM decoded d
    JOIN cfg c ON d.streamName = c.streamName
    WHERE lower(c.activeRegion) = 'us-east-1'
)
"""
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# kr_*: the reference's replication pipeline (SURVEY §2 ops 2-8, 10)
# --------------------------------------------------------------------------


@_q(
    "kr_stream_name_extract",
    f"WITH {_ENV_CTE.strip()} "
    "SELECT split_part(split_part(eventSourceARN, ':', 6), '/', 2) AS streamName, "
    "count(*) AS n_records FROM env GROUP BY 1",
)
def kr_stream_name_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 2 (Handler.java:169-171): ARN → stream name, counted per stream."""
    env = envelope_from_events(_t(spark, sf_dir, "events"))
    from ..functions.arn import stream_name_from_arn

    return env.groupBy(
        stream_name_from_arn(F.col("eventSourceARN")).alias("streamName")
    ).agg(F.count(F.lit(1)).alias("n_records"))


@_q(
    "kr_payload_decode",
    f"WITH {_ENV_CTE.strip()} "
    "SELECT CAST(sequenceNumber AS VARCHAR) AS sequenceNumber, "
    "CAST(json_extract_string(payload, '$.key') AS BIGINT) AS cdc_key, "
    "json_extract_string(payload, '$.commitTimestamp') AS commitTimestamp, "
    "CAST(json_extract_string(payload, '$.props.k') AS BIGINT) AS prop_k "
    "FROM env",
)
def kr_payload_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 3+4 (Handler.java:74,86): UTF-8 decode + schema-on-read JSON
    probes, including a nested extra field the reference would ignore.
    Three get_json_object probes, matching the reference's JSON-pointer
    formulation.  (Measured: a single partial-schema from_json parse is
    NOT faster here — Spark's json-expression optimization prunes and
    splits per-field from_json anyway, and get_json_object's streaming
    matcher wins slightly at this payload size — so the simpler
    pointer form stays.)  spread() before the envelope derivation
    parallelizes to_json + the probes past the single-file fixture scan
    (2.5× measured; no-op on real multi-partition input)."""
    env = envelope_from_events(spread(_t(spark, sf_dir, "events")))
    from ..functions.json_payload import decode_payload

    payload = decode_payload(F.col("data"))
    return env.select(
        "sequenceNumber",
        F.get_json_object(payload, "$.key").cast("long").alias("cdc_key"),
        F.get_json_object(payload, "$.commitTimestamp").alias("commitTimestamp"),
        F.get_json_object(payload, "$.props.k").cast("long").alias("prop_k"),
    )


@_q(
    "kr_active_region_gate",
    f"WITH {_GATED_CTE.strip()} "
    "SELECT streamName, count(*) AS n_replicated FROM gated GROUP BY streamName",
)
def kr_active_region_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 5 (Handler.java:139-167): driver-resolved IN-filter gate; exercises
    active / mixed-case / inactive / duplicate-config / missing-config."""
    return _gated(spark, sf_dir).groupBy("streamName").agg(
        F.count(F.lit(1)).alias("n_replicated")
    )


@_q(
    "kr_replicated_records",
    f"WITH {_GATED_CTE.strip()} "
    "SELECT streamName, partitionKey, sequenceNumber, payload, commitTimestamp "
    "FROM gated",
)
def kr_replicated_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 7 (Handler.java:79-84): the replicated stream — byte-faithful
    payload + partition key passthrough.  The engine's flagship query."""
    return _gated(spark, sf_dir).select(
        "streamName", "partitionKey", "sequenceNumber", "payload", "commitTimestamp"
    )


@_q(
    "kr_checkpoint",
    f"WITH {_GATED_CTE.strip()} "
    "SELECT streamName, max(commitTimestamp) AS lastReplicatedCommitTimestamp "
    "FROM gated GROUP BY streamName",
)
def kr_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 8 (Handler.java:85,129-137): per-stream last replicated commit
    timestamp (max == last-in-sequence under CDC monotonicity)."""
    return replication.checkpoint(_gated(spark, sf_dir))


@_q(
    "kr_batch_metrics",
    f"WITH {_GATED_CTE.strip()} "
    "SELECT streamName, count(*) AS throughput, "
    "strftime(max(arrival), '%Y-%m-%d %H:%M:%S.%f') AS last_arrival, "
    "CAST(epoch_us(TIMESTAMP '2024-02-01 00:00:00') // 1000000 "
    "  - epoch_us(max(arrival)) // 1000000 AS BIGINT) AS replicationLagSeconds "
    "FROM gated GROUP BY streamName",
)
def kr_batch_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 10 (Handler.java:94-98): ThroughPut + ReplicationLagSeconds per
    stream, against a fixed 'now' for determinism."""
    m = replication.batch_metrics(
        _gated(spark, sf_dir),
        now_expr=F.to_timestamp(F.lit("2024-02-01 00:00:00")),
    )
    return m.select(
        "streamName",
        "throughput",
        F.date_format("lastArrival", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_arrival"
        ),
        "replicationLagSeconds",
    )


# --------------------------------------------------------------------------
# tpch_*: relational core — scan/filter/join/agg/sort/limit
# --------------------------------------------------------------------------


@_q(
    "tpch_q1_pricing_summary",
    """
    -- decimal->double goes through VARCHAR: DuckDB's direct cast
    -- divides the scaled int128 by 10^scale in floating point, which
    -- double-rounds once the scaled integer exceeds 2^53 (sum_charge
    -- at the sf1 rung: ...941590 -> ...941593, a 1-ulp hash fail);
    -- the string parse is correctly rounded, matching Spark's
    -- BigDecimal.doubleValue()
    SELECT l_returnflag, l_linestatus,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
            AS DOUBLE) AS sum_qty,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
            AS DOUBLE) AS sum_base_price,
        CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) AS sum_disc_price,
        CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))
            * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(18,2)))), 2)
            AS DOUBLE) AS sum_charge,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
            AS DOUBLE) / count(*) AS avg_qty,
        CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR)
            AS DOUBLE) / count(*) AS avg_disc,
        count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single-pass scan + hash aggregate.  All sums in
    exact DECIMAL (order-independent ⇒ safe under any partitioning)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.where(F.col("l_shipdate") <= F.expr("TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(ep).cast("double").alias("sum_base_price"),
            # ROUND to scale 2 BEFORE the double cast: a scale-4/6
            # decimal sum over q1's huge groups has an unscaled value
            # past 2^53 at sf1, where Spark's BigDecimal.doubleValue()
            # double-rounds (long→double then ÷10^scale) while DuckDB
            # parses correctly-rounded — a last-ULP hash divergence.
            # At scale 2 the unscaled value is exactly representable,
            # so BOTH engines' casts are exact (r11 sf1 red).
            F.round(F.sum(ep * (one - disc)), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(ep * (one - disc) * (one + tax)), 2)
            .cast("double")
            .alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(disc).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_q(
    "tpch_q3_top_orders",
    """
    SELECT l.l_orderkey AS o_orderkey,
        CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
            AS revenue,
        strftime(min(o.o_orderdate), '%Y-%m-%d') AS o_orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus <> 'F'
    GROUP BY l.l_orderkey
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join → agg → global top-k.
    Customer side broadcasts; deterministic tie-break on order key."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") != "F")
    li = _t(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(li.l_orderkey.alias("o_orderkey"))
        .agg(
            F.sum(ep * (one - disc)).cast("double").alias("revenue"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("o_orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@_q(
    "tpch_q5_revenue_by_nation",
    """
    SELECT n.n_name,
        CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
            AS revenue,
        count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def tpch_q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with local-supplier condition; all dim
    sides broadcast, lineitem never shuffles until the final tiny agg."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name").isin("ASIA", "EUROPE"))
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(ep * (one - disc)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@_q(
    "tpch_q6_revenue_delta",
    """
    SELECT
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure pushed-down filter + scalar aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(18,2)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@_q(
    "tpch_q4_order_priority",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join, then a
    tiny aggregation."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@_q(
    "tpch_q13_custdist",
    """
    WITH c_orders AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join preserving zero-order customers, then
    a distribution-of-counts second aggregation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_q(
    "tpch_q14_promo_revenue",
    """
    SELECT
        CAST(100.0 AS DOUBLE)
          * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
          / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
                 AS DOUBLE)
            AS promo_revenue_pct,
        count(*) AS n_rows
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (exact decimal sums,
    one correctly-rounded double division at the end)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1997-07-01 00:00:00'"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@_q(
    "tpch_q16_supplier_variety",
    """
    SELECT p.p_brand, p.p_type,
           count(DISTINCT l.l_suppkey) AS supplier_cnt,
           count(*) AS n_lineitems
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size >= 10
    GROUP BY p.p_brand, p.p_type
    """,
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: count(DISTINCT) per group (expand-then-aggregate
    under the hood — two-phase distinct aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_size") >= 10)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@_q(
    "tpch_q18_large_orders",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    SELECT c.c_name, o.o_orderkey, o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on an aggregate, joined back to dims,
    deterministic top-k."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq"))
        .where(F.col("sq") > 250)
        .select("l_orderkey", F.col("sq").cast("double").alias("sum_qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@_q(
    "win_top_customers_per_nation",
    """
    SELECT * FROM (
        SELECT n.n_name, c.c_custkey, c.c_name, c.c_acctbal,
            row_number() OVER (PARTITION BY n.n_name
                               ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS rk
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ) WHERE rk <= 3
    """,
)
def win_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window function: per-group top-k (generalized op-8 'latest
    per key').  Nation broadcasts; one shuffle on the window key."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "c_custkey", "c_name", "c_acctbal")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
    )


@_q(
    "agg_rollup_nation_acctbal",
    """
    SELECT r.r_name, n.n_name,
        grouping(r.r_name) AS g_region, grouping(n.n_name) AS g_nation,
        count(*) AS n_customers,
        CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def agg_rollup_nation_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (grand total → region → nation)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").alias("g_region"),
            F.grouping("n_name").alias("g_nation"),
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
        .select("r_name", "n_name", "g_region", "g_nation", "n_customers", "sum_acctbal")
    )


@_q(
    "set_ops_customer_cohorts",
    """
    SELECT 'open_and_final' AS cohort, c_custkey FROM (
        SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'open_not_final' AS cohort, c_custkey FROM (
        SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def set_ops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: INTERSECT / EXCEPT cohorts tagged and unioned."""
    o = _t(spark, sf_dir, "orders")
    open_ = o.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    final = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    # intersect == SQL INTERSECT (distinct); subtract == SQL EXCEPT (distinct)
    both = open_.intersect(final).select(
        F.lit("open_and_final").alias("cohort"), "c_custkey"
    )
    only_open = open_.subtract(final).select(
        F.lit("open_not_final").alias("cohort"), "c_custkey"
    )
    return both.unionAll(only_open)


@_q(
    "join_anti_semi",
    """
    SELECT 'customer_without_orders' AS tag, c_custkey AS key FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'nation_with_suppliers' AS tag, CAST(n_nationkey AS BIGINT) AS key
    FROM nation n
    WHERE EXISTS (SELECT 1 FROM supplier s WHERE s.s_nationkey = n.n_nationkey)
    """,
)
def join_anti_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti + semi joins (existence predicates)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.lit("customer_without_orders").alias("tag"), F.col("c_custkey").alias("key")
    )
    semi = n.join(s, n.n_nationkey == s.s_nationkey, "left_semi").select(
        F.lit("nation_with_suppliers").alias("tag"),
        F.col("n_nationkey").cast("long").alias("key"),
    )
    return anti.unionAll(semi)


@_q(
    "join_salted_skew_rollup",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def join_salted_skew_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient SALTED shuffle join (operators/util.py:
    salted_join, force_shuffle=True): the events fact side salts on
    xxhash64(event_id) pmod 16 and the customer dim replicates ×16, so
    the skew fixture's hot key (one user holding 50% of events)
    spreads over 16 tasks instead of serializing one — while the
    RESULT is provably identical to the plain join, which is exactly
    what the oracle (unsalted SQL) asserts.  The deterministic
    fallback for the shuffle-hash-join regime AQE's skew handling
    does not cover; when the dim broadcasts, broadcast instead.

    Scale notes: one shuffle each side keyed (join_key, salt); dim
    grows ×n_salt (dims are small by definition — a 1M-row dim at
    salt 16 is 16M rows, still tiny next to the fact); no windows, no
    driver actions.  Decimal sum → double per the portable-arithmetic
    doctrine."""
    from ..operators.util import salted_join

    ev = _t(spark, sf_dir, "events").withColumn(
        "cust_id", F.col("user_id")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"), "c_mktsegment"
    )
    j = salted_join(
        ev, cust, "cust_id", n_salt=16, salt_source="event_id",
        force_shuffle=True,
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )


@_q(
    "win_running_totals",
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
           lead(o_orderkey) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey)
               AS next_orderkey,
           ntile(4) OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS quartile
    FROM orders
    """,
)
def win_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed window functions: running decimal sum, lead, ntile."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(wf)
        .cast("double")
        .alias("running_spend"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.ntile(4).over(w).alias("quartile"),
    )


@_q(
    "fn_collection_suite",
    """
    SELECT p_partkey,
           len(string_split(p_type, ' ')) AS n_type_words,
           array_to_string(list_sort(string_split(p_type, ' ')), '|')
               AS type_sorted,
           array_to_string(string_split(p_type, ' ')[1:2], '|') AS type_first2,
           list_contains(string_split(p_type, ' '), 'BRUSHED') AS has_brushed,
           array_to_string(list_distinct(string_split(lower(p_name), ' ')), '')
               IS NOT NULL AS distinct_ok,
           len(list_filter(string_split(p_name, ' '), w -> len(w) > 5))
               AS n_long_name_words
    FROM part
    """,
)
def fn_collection_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/collection function parity: split, sort, slice, contains,
    distinct, lambda filter."""
    p = _t(spark, sf_dir, "part")
    tw = F.split(F.col("p_type"), " ")
    nw = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        F.size(tw).alias("n_type_words"),
        F.array_join(F.sort_array(tw), "|").alias("type_sorted"),
        F.array_join(F.slice(tw, 1, 2), "|").alias("type_first2"),
        F.array_contains(tw, "BRUSHED").alias("has_brushed"),
        F.array_join(F.array_distinct(F.split(F.lower(F.col("p_name")), " ")), "")
        .isNotNull()
        .alias("distinct_ok"),
        F.size(F.filter(nw, lambda w: F.length(w) > 5)).alias("n_long_name_words"),
    )


@_q(
    "agg_collect_sorted",
    """
    SELECT n.n_name,
           count(*) AS n_customers,
           array_to_string(list_sort(list(c.c_name)), ',') AS customer_names
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list aggregation made deterministic by sorting the
    collected array before joining to a string."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(F.sort_array(F.collect_list("c_name")), ",").alias(
                "customer_names"
            ),
        )
    )


_EVT_TYPES = ["click", "view", "purchase", "signup", "error"]


@_q(
    "agg_pivot_event_types",
    "SELECT user_id, "
    + ", ".join(
        f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}"
        for t in _EVT_TYPES
    )
    + " FROM events GROUP BY user_id",
)
def agg_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list (deterministic columns)."""
    e = _t(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", _EVT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    out = out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVT_TYPES],
    )
    return out


@_q(
    "agg_unpivot_lineitem",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
           l_quantity AS value FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def agg_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) wide metric columns into (metric, value) rows."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        [
            F.col("l_quantity").alias("quantity"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
        ],
        "metric",
        "value",
    )


@_q(
    "win_rank_suite",
    """
    SELECT c.c_custkey, n.n_name,
           rank() OVER w AS rk,
           dense_rank() OVER w AS drk,
           CAST(percent_rank() OVER w AS DOUBLE) AS prk,
           CAST(cume_dist() OVER w AS DOUBLE) AS cd
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WINDOW w AS (PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey)
    """,
)
def win_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-family parity: rank / dense_rank / percent_rank /
    cume_dist (identical (rank-1)/(n-1)-style formulas both engines)."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "n_name", "c_acctbal")
        .withColumn("rk", F.rank().over(w))
        .withColumn("drk", F.dense_rank().over(w))
        .withColumn("prk", F.percent_rank().over(w).cast("double"))
        .withColumn("cd", F.cume_dist().over(w).cast("double"))
        .drop("c_acctbal")
    )


@_q(
    "text_pii_scrub",
    """
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
               '[a-z]{9,}', '<LONG>', 'g') AS scrubbed,
           len(regexp_extract_all(text, '[0-9]+')) AS n_num_spans
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrubbing/normalization pass (the PII-redaction shape): digit
    runs and long tokens replaced by placeholder tags, span counts kept
    for audit.  Pure regexp_replace — codegen'd, no Python."""
    docs = _t(spark, sf_dir, "documents")
    scrub = F.regexp_replace(
        F.regexp_replace(F.col("text"), "[0-9]+", "<NUM>"), "[a-z]{9,}", "<LONG>"
    )
    return docs.select(
        "doc_id",
        scrub.alias("scrubbed"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)).alias(
            "n_num_spans"
        ),
    )


@_q(
    "fn_posexplode",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
               FROM documents WHERE doc_id < 20),
    x AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM t)
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, l[i] AS tok FROM x
    """,
)
def fn_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: array → (position, element) rows."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    return d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )


@_q(
    "fn_explode_outer",
    """
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), w -> len(w) > 6) AS l
               FROM documents WHERE doc_id < 50)
    SELECT doc_id, NULL AS tok FROM t WHERE len(l) = 0
    UNION ALL
    SELECT doc_id, unnest(l) AS tok FROM t WHERE len(l) > 0
    """,
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows preserved (as NULL) for empty arrays."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = F.filter(
        F.split(F.col("text"), " "), lambda w: F.length(w) > 6
    )
    return d.select("doc_id", F.explode_outer(toks).alias("tok"))


@_q(
    "agg_value_histogram",
    """
    SELECT event_type,
           least(greatest(CAST(floor(value / 20) AS INT), 0), 9) AS bucket,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram bucketing with an explicit clamped-floor formula
    (width_bucket is missing in DuckDB 1.0 — same math spelled out)."""
    e = _t(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 20).cast("int"), F.lit(0)), F.lit(9)
    )
    return e.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


@_q(
    "sql_interface_region_revenue",
    """
    SELECT r.r_name,
        CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
            AS revenue,
        count(DISTINCT o.o_custkey) AS n_customers
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def sql_interface_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL-text interface: tables registered as views, the
    query submitted as Spark SQL verbatim — Catalyst plans it exactly
    like the DataFrame API (dims still auto-broadcast)."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ["lineitem", "orders", "customer", "nation", "region"])
    return spark.sql(
        """
        SELECT r.r_name,
            CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
            count(DISTINCT o.o_custkey) AS n_customers
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


@_q(
    "fn_null_semantics",
    """
    SELECT o_orderstatus,
           count(*) AS n_rows,
           count(nullif(o_orderstatus, 'P')) AS n_nonnull,
           max(coalesce(nullif(o_orderstatus, 'P'), 'was_null')) AS coalesced,
           bool_and(nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM
                    nullif(o_orderstatus, 'P')) AS nsafe_self,
           sum(CASE WHEN o_orderstatus = 'P' THEN NULL ELSE 1 END)
               AS sum_skips_null
    FROM orders GROUP BY o_orderstatus
    """,
)
def fn_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling parity: nullif, count(col) vs count(*), coalesce,
    null-safe equality (<=>), aggregate NULL skipping."""
    o = _t(spark, sf_dir, "orders")
    nn = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(nn).alias("n_nonnull"),
        F.max(F.coalesce(nn, F.lit("was_null"))).alias("coalesced"),
        F.bool_and(nn.eqNullSafe(nn)).alias("nsafe_self"),
        F.sum(
            F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(F.lit(1))
        ).alias("sum_skips_null"),
    )


# --------------------------------------------------------------------------
# evt_*: event-time windows + sequence analytics over `events`
# --------------------------------------------------------------------------


@_q(
    "evt_tumbling_hourly",
    """
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def evt_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (1h) per event type."""
    return windows.tumbling(_t(spark, sf_dir, "events"), "1 hour")


@_q(
    "evt_sliding_1h_30m",
    """
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    x AS (
        SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000
                              - k * 1800000000) AS wstart, ts, value
        FROM e CROSS JOIN (VALUES (0), (1)) t(k)
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(wstart + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM x GROUP BY wstart
    """,
)
def evt_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (size 1h, slide 30m) — each event lands in 2 windows."""
    return windows.sliding(_t(spark, sf_dir, "events"), "1 hour", "30 minutes")


@_q(
    "evt_session_windows",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    m AS (
        SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                       THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    g AS (
        SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess
        FROM m
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM g GROUP BY user_id, sess
    """,
)
def evt_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows, 10-minute inactivity gap."""
    return windows.sessionize(_t(spark, sf_dir, "events"), "10 minutes")


@_q(
    "evt_user_lag_deltas",
    """
    SELECT event_id, user_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           event_type,
           lag(event_type) OVER w AS prev_type,
           epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
             - lag(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) OVER w
             AS secs_since_prev,
           row_number() OVER w AS event_seq
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def evt_user_lag_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag()/row_number() sequence analytics per user."""
    return windows.user_event_deltas(_t(spark, sf_dir, "events"))


@_q(
    "evt_sessionize_batch",
    """
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    f AS (SELECT user_id, event_id, ts,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                           > 30 * 60 * 1000000
                      THEN 1 ELSE 0 END AS new_session
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts,
                 CAST(sum(new_session) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS session_seq
          FROM f)
    SELECT user_id, session_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_s,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_s,
           CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
               AS duration_secs
    FROM s GROUP BY user_id, session_seq
    """,
)
def evt_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min inactivity) — batch twin
    of the streaming session_window op (operators/windows.py)."""
    return windows.sessionize_batch(_t(spark, sf_dir, "events"), 30)


@_q(
    "cdc_scd2_intervals",
    """
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type FROM events),
    c AS (SELECT user_id, event_id, ts, event_type AS state,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_state
          FROM e)
    SELECT user_id, state,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           coalesce(strftime(lead(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id),
                             '%Y-%m-%d %H:%M:%S.%f'),
                    '9999-12-31 00:00:00.000000') AS valid_to
    FROM c WHERE prev_state IS NULL OR state <> prev_state
    """,
)
def cdc_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 validity intervals from the event-type change stream
    (operators/windows.py scd2_intervals)."""
    return windows.scd2_intervals(_t(spark, sf_dir, "events"))


@_q(
    "evt_funnel_ordered",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
               FROM events),
    s1 AS (SELECT user_id,
                  min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
           FROM e GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2
           FROM e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts >= s1.t1
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3
           FROM e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
           GROUP BY e.user_id)
    SELECT s1.user_id,
           strftime(s1.t1, '%Y-%m-%d %H:%M:%S.%f') AS signup_s,
           strftime(s2.t2, '%Y-%m-%d %H:%M:%S.%f') AS click_s,
           strftime(s3.t3, '%Y-%m-%d %H:%M:%S.%f') AS purchase_s,
           CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                     WHEN s2.t2 IS NOT NULL THEN 2
                     WHEN s1.t1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS funnel_stage
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
)
def evt_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → click → purchase: each stage's
    timestamp is the earliest occurrence AT OR AFTER the previous stage
    (sequential dependency = three chained aggregations, each joined on
    the shrinking surviving-user set — at scale each stage's join input
    only shrinks, and all three shuffles share the user_id key)."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s1 = (
        e.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
                "t1"
            )
        )
        .where(F.col("t1").isNotNull())
    )
    s2 = (
        e.join(s1, "user_id")
        .where((F.col("event_type") == "click") & (F.col("ts") >= F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.join(s2, "user_id")
        .where(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t2"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    base = (
        e.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
                "t1"
            )
        )
    )
    out = base.join(s2, "user_id", "left").join(s3, "user_id", "left")
    return out.select(
        "user_id",
        F.date_format("t1", _TS_US_FMT).alias("signup_s"),
        F.date_format("t2", _TS_US_FMT).alias("click_s"),
        F.date_format("t3", _TS_US_FMT).alias("purchase_s"),
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("funnel_stage"),
    )


@_q(
    "evt_retention_cohorts",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    c AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
          FROM e GROUP BY user_id),
    a AS (SELECT DISTINCT e.user_id,
                 date_trunc('week', e.ts) AS active_week
          FROM e),
    j AS (SELECT c.user_id,
                 strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week_s,
                 CAST(date_diff('day', c.cohort_week, a.active_week) // 7
                      AS BIGINT) AS week_offset
          FROM c JOIN a USING (user_id))
    SELECT cohort_week_s, week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
    FROM j GROUP BY cohort_week_s, week_offset
    """,
)
def evt_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    counted per active-week offset — the cohort-retention matrix in
    long form."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    c = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    a = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    j = c.join(a, "user_id").select(
        "user_id",
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week_s"),
        F.expr(
            "CAST(datediff(active_week, cohort_week) DIV 7 AS BIGINT)"
        ).alias("week_offset"),
    )
    return j.groupBy("cohort_week_s", "week_offset").agg(
        F.count_distinct(F.col("user_id")).cast("long").alias("n_active")
    )


@_q(
    "evt_dedup_exact",
    """
    SELECT user_id, event_type, props,
           min(event_id) AS first_event_id, count(*) AS n_dups
    FROM events GROUP BY user_id, event_type, props
    """,
)
def evt_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact event dedup on (user, type, payload) with deterministic keeper."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type", "props")
        .agg(F.min("event_id").alias("first_event_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# --------------------------------------------------------------------------
# doc_* / text_*: LLM-pipeline dedup + text analysis over `documents`
# --------------------------------------------------------------------------

_SHINGLE_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
shraw AS (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
               AS shingle
    FROM toks
),
sh AS (SELECT DISTINCT doc_id, shingle FROM shraw)
"""


@_q(
    "doc_dedup_exact",
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup clusters by content hash (deterministic keeper)."""
    return dedup.exact_dedup_clusters(_t(spark, sf_dir, "documents"))


_MINHASH_SIG = ", ".join(
    f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(8)
)
_MINHASH_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, h{2*b} || h{2*b+1} AS bucket FROM sig"
    for b in range(4)
)


@_q(
    "doc_minhash_lsh_pairs",
    f"""
    WITH {_SHINGLE_CTE.strip()},
    sig AS (SELECT doc_id, {_MINHASH_SIG} FROM sh GROUP BY doc_id),
    bands AS ({_MINHASH_BANDS})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
)
def doc_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4 bands×2 rows) near-dup candidate pairs."""
    return dedup.minhash_lsh_candidate_pairs(
        _t(spark, sf_dir, "documents"), k_shingle=3, n_hashes=8, n_bands=4
    )


@_q(
    "doc_ngram_jaccard_pairs",
    f"""
    WITH {_SHINGLE_CTE.strip()},
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 50),
    shc AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_inter,
           sa.n_sh + sb.n_sh - n_inter AS n_union,
           (n_inter * 1000) // (sa.n_sh + sb.n_sh - n_inter) AS jaccard_milli
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter * 1000 >= 100 * (sa.n_sh + sb.n_sh - n_inter)
    """,
)
def doc_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.1 via inverted-index self-join (integer
    arithmetic end-to-end).  The hot-shingle cap (document frequency > 50
    dropped before the self-join) bounds every posting list, so the join
    cost is Σ df² with df ≤ cap — the skew guard that keeps the plan
    alive at 100 TB; the oracle mirrors the same filter."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k_shingle=3, threshold=0.1, max_shingle_df=50
    )


_SIMHASH_BITS_SQL = " || ".join(
    f"CASE WHEN len(list_filter(hs, h -> substr(h, {p+1}, 1) >= '8')) * 2 "
    f"> len(hs) THEN '1' ELSE '0' END"
    for p in range(32)
)


@_q(
    "doc_simhash",
    f"""
    WITH h AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '), t -> md5(t)) AS hs
        FROM documents
    )
    SELECT doc_id, {_SIMHASH_BITS_SQL} AS simhash FROM h
    """,
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (majority high-bit per hex nibble)."""
    return dedup.simhash_fingerprints(_t(spark, sf_dir, "documents"))


@_q(
    "doc_fingerprint",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    shl AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS sh
        FROM toks
    )
    SELECT doc_id,
           list_min(list_transform(sh, s -> md5('0|' || s))) AS fingerprint,
           len(sh) AS n_shingles
    FROM shl WHERE len(sh) > 0
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-shingle-hash document fingerprint (winnowing, window=doc)."""
    return text.fingerprints(_t(spark, sf_dir, "documents")).where(
        F.col("n_shingles") > 0
    )


@_q(
    "text_quality_stats",
    """
    WITH q AS (
        SELECT doc_id, lang, source,
               len(text) AS n_chars_m,
               len(string_split(text, ' ')) AS n_words,
               len(list_distinct(string_split(text, ' '))) AS n_distinct_words,
               len(list_filter(string_split(text, ' '), t -> len(t) >= 6))
                   AS n_long_words
        FROM documents
    )
    SELECT *,
           CASE WHEN n_words < 20 THEN 'too_short'
                WHEN n_distinct_words * 4 < n_words THEN 'repetitive'
                ELSE 'ok' END AS quality_label
    FROM q
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + label (integer arithmetic only)."""
    return text.quality_stats(_t(spark, sf_dir, "documents"))


@_q(
    "text_token_counts",
    """
    SELECT source, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
                AS BIGINT) AS bpe_tokens
    FROM documents GROUP BY source
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per source."""
    return text.token_counts(_t(spark, sf_dir, "documents"))


@_q(
    "doc_quality_quantile_norm",
    """
    WITH d AS (SELECT doc_id, source, n_chars AS score FROM documents),
    r AS (SELECT doc_id, source, score,
                 rank() OVER (PARTITION BY source ORDER BY score) AS rk,
                 count(*) OVER (PARTITION BY source) AS n
          FROM d)
    SELECT doc_id, source, CAST(score AS BIGINT) AS score,
           CAST((rk - 1) * 10000 // greatest(n - 1, 1) AS BIGINT)
               AS pct_rank_bp
    FROM r
    """,
)
def doc_quality_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of a quality score — the
    cross-source comparability step before mixing corpora: raw scores
    (here ``n_chars``) are incomparable across sources with different
    scales, so each doc gets its PERCENT RANK within its own source
    (×10⁴; ties share the min rank, the SQL ``percent_rank``
    convention) and a single threshold then means the same thing in
    every source.

    The oracle is the window form; the ENGINE plan is the groupwise
    decomposition that survives a source with 10¹⁰ docs (where a
    window PARTITIONED BY source is one straggler task per source):
    rollup to (source, score) counts, ONE distributed global prefix
    sum ordered by (source, score) (``with_global_prefix`` — range
    shuffle + ≤P-row offset rollup), per-source offsets off the
    bounded |sources| rollup, then count-of-smaller = global_cum −
    cnt − source_offset joins back by (source, score).  Values are
    window-identical.

    Scale notes (100 TB): two hash aggs + the prefix machinery + one
    equi-join back; no per-source serialization point anywhere."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").alias("score")
    )
    r1 = d.groupBy("source", "score").agg(F.count(F.lit(1)).alias("cnt"))
    r2 = with_global_prefix(
        r1,
        [F.col("source"), F.col("score")],
        rn_col="_rn",
        cum_cols=["cnt"],
    )
    off = r2.groupBy("source").agg(
        F.min(F.col("cnt_cum") - F.col("cnt")).alias("src_off"),
        F.sum("cnt").alias("n_src"),
    )
    m = r2.join(F.broadcast(off), "source").select(
        "source",
        "score",
        (F.col("cnt_cum") - F.col("cnt") - F.col("src_off")).alias(
            "cum_smaller"
        ),
        "n_src",
    )
    return d.join(m, ["source", "score"]).select(
        "doc_id",
        "source",
        F.col("score").cast("long").alias("score"),
        F.expr(
            "CAST(cum_smaller * 10000 DIV greatest(n_src - 1, 1) "
            "AS BIGINT)"
        ).alias("pct_rank_bp"),
    )


@_q(
    "text_tokenizer_fertility",
    """
    WITH d AS (SELECT doc_id, lang, length(text) AS n_chars,
                      len(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS ws,
                      regexp_extract_all(text,
                          '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks
               FROM documents),
    pl AS (SELECT lang, count(*) AS n_docs,
                  sum(n_chars) AS n_chars,
                  sum(ws) AS ws_tokens,
                  sum(len(toks)) AS bpe_tokens
           FROM d GROUP BY lang),
    ty AS (SELECT lang, count(DISTINCT tok) AS bpe_types
           FROM (SELECT lang, unnest(toks) AS tok FROM d)
           GROUP BY lang)
    SELECT pl.lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(ws_tokens AS BIGINT) AS ws_tokens,
           CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
           CAST(bpe_types AS BIGINT) AS bpe_types,
           CAST(bpe_tokens * 10000 // greatest(ws_tokens, 1) AS BIGINT)
               AS fertility_bp,
           CAST(n_chars * 100 // greatest(bpe_tokens, 1) AS BIGINT)
               AS chars_per_bpe_x100,
           CAST(bpe_types * 10000 // greatest(bpe_tokens, 1) AS BIGINT)
               AS type_token_ratio_bp
    FROM pl JOIN ty USING (lang)
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language — the numbers that size a
    vocabulary budget and a per-language token price before training:
    subword fertility (BPE-ish tokens per whitespace word, ×10⁴ — the
    metric multilingual-tokenizer papers report), characters per token
    (×10², the compression the tokenizer achieves), and the per-lang
    type/token ratio (×10⁴ — vocabulary pressure: high means the
    language's surface forms are diverse relative to its volume).
    Integer-exact throughout (Spark DIV ↔ DuckDB //).

    Scale notes (100 TB): one projection computes all doc-level counts
    in a single pass; the per-lang rollup is map-side-combinable; the
    type count is one distinct over (lang, token) — the only shuffle
    that grows with vocabulary, keyed well (token-sharded).  No
    windows, no joins beyond the bounded |langs| merge."""
    d = spread(_t(spark, sf_dir, "documents")).select(
        "lang",
        F.length("text").alias("n_chars"),
        F.size(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("ws"),
        F.expr(
            "regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"
        ).alias("toks"),
    )
    pl = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("ws").alias("ws_tokens"),
        F.sum(F.size("toks")).alias("bpe_tokens"),
    )
    ty = (
        d.select("lang", F.explode("toks").alias("tok"))
        .groupBy("lang")
        .agg(F.count_distinct("tok").alias("bpe_types"))
    )
    return pl.join(ty, "lang").select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
        F.col("bpe_types").cast("long").alias("bpe_types"),
        F.expr(
            "CAST(bpe_tokens * 10000 DIV greatest(ws_tokens, 1) AS BIGINT)"
        ).alias("fertility_bp"),
        F.expr(
            "CAST(n_chars * 100 DIV greatest(bpe_tokens, 1) AS BIGINT)"
        ).alias("chars_per_bpe_x100"),
        F.expr(
            "CAST(bpe_types * 10000 DIV greatest(bpe_tokens, 1) AS BIGINT)"
        ).alias("type_token_ratio_bp"),
    )


@_q(
    "text_lang_stats",
    """
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup per (lang, source)."""
    return text.lang_source_stats(_t(spark, sf_dir, "documents"))


_LANG_SCORES_SQL = ", ".join(
    f"(len(text) - len(replace(text, '{m}', ''))) // {len(m)} AS s_{lang}"
    for lang, m in text.LANG_MARKERS.items()
)
_LANG_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in sorted(text.LANG_MARKERS)
    )
    + " ELSE 'und' END"
)


@_q(
    "text_lang_id",
    f"""
    WITH s AS (SELECT doc_id, lang AS labeled_lang, {_LANG_SCORES_SQL} FROM documents),
    b AS (SELECT *, greatest({", ".join("s_" + lang for lang in text.LANG_MARKERS)})
                    AS best FROM s)
    SELECT doc_id, labeled_lang, {_LANG_CASE_SQL} AS predicted_lang FROM b
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-count argmax language ID (deterministic tie-break)."""
    return text.lang_id(_t(spark, sf_dir, "documents"))


@_q(
    "pipeline_corpus_curation",
    f"""
    WITH {_SHINGLE_CTE.strip()},
    q AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' ')) AS n_words,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents
    ),
    quality AS (
        SELECT doc_id, lang, text FROM q
        WHERE n_words >= 20 AND n_distinct * 4 >= n_words
    ),
    exact_kept AS (
        SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
    ),
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 50),
    shc AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
    near_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    near_dropped AS (
        SELECT DISTINCT doc_b AS doc_id FROM near_pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_inter * 1000 >= 300 * (sa.n_sh + sb.n_sh - n_inter)
    ),
    kept AS (
        SELECT k.doc_id FROM exact_kept k
        WHERE k.doc_id NOT IN (SELECT doc_id FROM near_dropped)
    )
    SELECT d.lang, count(*) AS n_docs,
           CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens,
           min(d.doc_id) AS first_doc
    FROM kept JOIN documents d ON d.doc_id = kept.doc_id
    GROUP BY d.lang
    """,
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-data-pipeline composition, end-to-end in ONE plan:
    quality filter → exact dedup (deterministic keeper) → near-dup
    removal (Jaccard ≥ 0.3 drops the larger doc_id) → per-language
    token accounting.  Every stage is one of the engine's operators;
    the point is that they compose as DataFrames with no materialization
    between stages."""
    docs = _t(spark, sf_dir, "documents")
    q = text.quality_stats(docs).where(F.col("quality_label") == "ok").select("doc_id")
    quality = docs.join(q, "doc_id", "left_semi")
    exact_kept = quality.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    near = dedup.ngram_jaccard_pairs(docs, k_shingle=3, threshold=0.3, max_shingle_df=50)
    dropped = near.select(F.col("doc_b").alias("doc_id")).distinct()
    kept = exact_kept.select("doc_id").join(dropped, "doc_id", "left_anti")
    return (
        kept.join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@_q(
    "udf_cogrouped_counts",
    """
    WITH e AS (SELECT user_id, count(*) AS n_events FROM events
               WHERE user_id < 200 GROUP BY user_id),
    o AS (SELECT o_custkey AS user_id, count(*) AS n_orders FROM orders
          WHERE o_custkey < 200 GROUP BY o_custkey)
    SELECT coalesce(e.user_id, o.user_id) AS user_id,
           coalesce(e.n_events, 0) AS n_events,
           coalesce(o.n_orders, 0) AS n_orders
    FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
    """,
)
def udf_cogrouped_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas: events and orders cogrouped per key, one
    pandas frame pair per key — the two-sided custom-merge escape hatch.

    Key domain bounded (< 200): applyInPandas pays Python overhead PER
    GROUP, so thousands of near-empty groups is exactly the shape NOT to
    use it on — the point here is the API semantics, demonstrated on a
    group count where the pattern is appropriate."""
    import pandas as pd

    e = _t(spark, sf_dir, "events").select("user_id").where(F.col("user_id") < 200)
    o = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("user_id"))
        .where(F.col("user_id") < 200)
    )

    def merge(key, le: "pd.DataFrame", ro: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame(
            {"user_id": [key[0]], "n_events": [len(le)], "n_orders": [len(ro)]}
        )

    return (
        e.groupBy("user_id")
        .cogroup(o.groupBy("user_id"))
        .applyInPandas(merge, schema="user_id long, n_events long, n_orders long")
    )


# --------------------------------------------------------------------------
# emb_*: similarity search over `embeddings`
# --------------------------------------------------------------------------

_QUANT_SQL = (
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
)


@_q(
    "emb_ann_topk",
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, {_QUANT_SQL} AS qe
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    c AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    s AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, len(q.qe) + 1),
                                            i -> q.qe[i] * c.qe[i])) AS BIGINT)
                   AS dot_q
        FROM q, c WHERE c.vec_id <> q.query_id
    ),
    r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY dot_q DESC, neighbor_id ASC) AS INTEGER) AS rank
          FROM s)
    SELECT query_id, neighbor_id, dot_q, rank FROM r WHERE rank <= 10
    """,
)
def emb_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-10 neighbors (quantized int dot product) for
    every 50th vector as query."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return similarity.brute_force_topk(emb, queries, k=10)


@_q(
    "emb_neardup_pairs",
    f"""
    WITH c AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(list_sum(list_transform(range(1, len(a.qe) + 1),
                                            i -> a.qe[i] * b.qe[i])) AS BIGINT)
                   AS dot_q
        FROM c a, c b WHERE a.vec_id < b.vec_id
    )
    SELECT * FROM p WHERE dot_q >= 950000000000
    """,
)
def emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine ≥ 0.95 (quantized dot ≥ 9.5e11
    for unit vectors): banded sign-LSH candidate generation (bucket
    equi-join, never N²) + exact quantized-dot verify, so every emitted
    pair is exact.  The DuckDB oracle is the brute-force ground truth;
    at cos 0.95 with 8 bands × 8 planes the candidate stage's per-pair
    miss probability is ~1%, and the fixtures' random unit vectors top
    out near cos 0.6, so oracle equality is exact here.  (The
    brute-force variant remains in operators/dedup.py as the library
    baseline; a planted-near-dup unit test proves LSH == brute force.)"""
    return dedup.embedding_neardup_pairs_lsh(
        _t(spark, sf_dir, "embeddings"), min_dot_q=950_000_000_000
    )


@_q(
    "emb_semantic_dedup",
    f"""
    WITH e AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    seeds AS (SELECT vec_id AS cell, qe AS c_qe FROM e ORDER BY vec_id LIMIT 16),
    d1 AS (
        SELECT e.vec_id, s.cell, e.qe,
               CAST(list_sum(list_transform(range(1, len(e.qe) + 1),
                    i -> (e.qe[i] - s.c_qe[i]) * (e.qe[i] - s.c_qe[i])))
                    AS BIGINT) AS dist
        FROM e CROSS JOIN seeds s
    ),
    a1 AS (
        SELECT vec_id, cell, qe FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cell) AS rn
            FROM d1
        ) WHERE rn = 1
    ),
    m AS (
        SELECT cell, pos, CAST(sum(qe[pos]) AS BIGINT) // count(*) AS mq
        FROM (SELECT cell, qe, unnest(generate_series(1, len(qe))) AS pos
              FROM a1)
        GROUP BY cell, pos
    ),
    c1 AS (SELECT cell, list(mq ORDER BY pos) AS c_qe FROM m GROUP BY cell),
    d2 AS (
        SELECT e.vec_id, c.cell, e.qe,
               CAST(list_sum(list_transform(range(1, len(e.qe) + 1),
                    i -> (e.qe[i] - c.c_qe[i]) * (e.qe[i] - c.c_qe[i])))
                    AS BIGINT) AS dist
        FROM e CROSS JOIN c1 c
    ),
    a2 AS (
        SELECT vec_id, cell, qe FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cell) AS rn
            FROM d2
        ) WHERE rn = 1
    ),
    p AS (
        SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(list_sum(list_transform(range(1, len(a.qe) + 1),
                    i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot_q,
               CAST(list_sum(list_transform(range(1, len(a.qe) + 1),
                    i -> a.qe[i] * a.qe[i])) AS BIGINT) AS na,
               CAST(list_sum(list_transform(range(1, len(b.qe) + 1),
                    i -> b.qe[i] * b.qe[i])) AS BIGINT) AS nb
        FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
    )
    SELECT cell, vec_a, vec_b, dot_q FROM p
    WHERE dot_q > 0
      AND (dot_q // 100000) * (dot_q // 100000)
          >= 160000 * (((na // 100000) * (nb // 100000)) // 1000000)
    """,
)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic near-dup (operators/dedup.py
    semantic_dedup_pairs): deterministic integer k-means (seeded by the
    16 lowest vec_ids, one Lloyd round) buckets the space, then
    cosine ≥ 0.4 pairs are emitted within clusters only — the oracle
    replays the identical integer arithmetic, so equality is exact."""
    return dedup.semantic_dedup_pairs(
        _t(spark, sf_dir, "embeddings"), n_cells=16, threshold_milli=400
    )


# --------------------------------------------------------------------------
# mm_*: multimodal binary-column plumbing
# --------------------------------------------------------------------------


@_q(
    "emb_group_centroids",
    f"""
    WITH e AS (SELECT label, {_QUANT_SQL} AS qe FROM embeddings),
    x AS (SELECT label, unnest(generate_series(1, len(qe))) AS pos, qe
          FROM e)
    SELECT label, CAST(pos AS BIGINT) AS pos,
           CAST(sum(qe[pos]) AS BIGINT) AS sum_q,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM x GROUP BY label, pos
    """,
)
def emb_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid as exact quantized component sums
    (operators/similarity.py group_centroids)."""
    return similarity.group_centroids(_t(spark, sf_dir, "embeddings"), "label")


@_q(
    "mm_binary_meta",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END
               AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum
    FROM documents
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media column + typed metadata (decode stays a stub;
    see operators/multimodal.py)."""
    return multimodal.media_from_documents(_t(spark, sf_dir, "documents")).select(
        "doc_id", "media_type", "n_bytes", "checksum"
    )


@_q(
    "agg_exact_median_2x",
    """
    WITH c AS (SELECT o_orderstatus,
                      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                          AS cents
               FROM orders),
    r AS (SELECT o_orderstatus, cents,
                 row_number() OVER (PARTITION BY o_orderstatus
                                    ORDER BY cents) AS rn,
                 count(*) OVER (PARTITION BY o_orderstatus) AS n
          FROM c)
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN n % 2 = 1 AND rn = (n + 1) // 2 THEN 2 * cents
                         WHEN n % 2 = 0 AND rn IN (n // 2, n // 2 + 1)
                             THEN cents END) AS BIGINT) AS median_2x_cents,
           CAST(max(n) AS BIGINT) AS n_orders
    FROM r GROUP BY o_orderstatus
    """,
)
def agg_exact_median_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped median without floats: prices as integer cents,
    median emitted as 2×median (sum of the two middle elements — equal
    when n is odd) so even-n interpolation never divides.  One sort
    window per group + one aggregation; the float-free trick that makes
    an exact median oracle-checkable."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    cents = (
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    c = o.select("o_orderstatus", cents)
    w = Window.partitionBy("o_orderstatus").orderBy("cents")
    wn = Window.partitionBy("o_orderstatus")
    r = c.select(
        "o_orderstatus",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = (
        F.when(
            (F.col("n") % 2 == 1) & (F.col("rn") == F.expr("(n + 1) DIV 2")),
            2 * F.col("cents"),
        )
        .when(
            (F.col("n") % 2 == 0)
            & (
                (F.col("rn") == F.expr("n DIV 2"))
                | (F.col("rn") == F.expr("n DIV 2 + 1"))
            ),
            F.col("cents"),
        )
    )
    return r.groupBy("o_orderstatus").agg(
        F.sum(mid).cast("long").alias("median_2x_cents"),
        F.max("n").cast("long").alias("n_orders"),
    )


@_q(
    "fn_datetime_suite",
    """
    WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
               FROM orders WHERE o_orderkey % 7 = 0)
    SELECT o_orderkey,
           strftime(d + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
           strftime(last_day(d), '%Y-%m-%d') AS month_end,
           strftime(date_trunc('week', d), '%Y-%m-%d') AS week_start,
           strftime(date_trunc('quarter', d), '%Y-%m-%d') AS quarter_start,
           CAST(date_diff('day', d, DATE '1998-12-31') AS BIGINT)
               AS days_to_eoy
    FROM o
    """,
)
def fn_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-function family: add_months (month-end clamped),
    last_day, Monday week / quarter truncation, day difference — all
    emitted as formatted strings / exact ints for engine parity."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 7 == 0)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus3m"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_trunc("week", d), "yyyy-MM-dd").alias(
            "week_start"
        ),
        F.date_format(F.date_trunc("quarter", d), "yyyy-MM-dd").alias(
            "quarter_start"
        ),
        F.datediff(F.lit("1998-12-31").cast("date"), d)
        .cast("long")
        .alias("days_to_eoy"),
    )


@_q(
    "doc_curriculum_phases",
    """
    WITH q AS (SELECT doc_id, lang,
                      len(string_split(text, ' ')) AS n_words,
                      len(list_distinct(string_split(text, ' ')))
                          AS n_distinct
               FROM documents),
    s AS (SELECT doc_id, lang, n_words,
                 (n_distinct * 1000) // n_words AS diversity_pm
          FROM q)
    SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words,
           CAST(diversity_pm AS BIGINT) AS diversity_pm,
           CAST(ntile(4) OVER (PARTITION BY lang
                               ORDER BY diversity_pm, doc_id) AS BIGINT)
               AS phase
    FROM s
    """,
)
def doc_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: rank documents by a lexical-diversity score
    (distinct/total words, per-mille) and cut each language into 4
    training phases with ntile — easy→hard scheduling, deterministic
    tie-break by doc_id."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    from ..functions.hashing import word_tokens

    toks = word_tokens(F.col("text"))
    q = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    s = q.select(
        "doc_id",
        "lang",
        "n_words",
        F.expr("(n_distinct * 1000) DIV n_words").alias("diversity_pm"),
    )
    w = Window.partitionBy("lang").orderBy("diversity_pm", "doc_id")
    return s.select(
        "doc_id",
        "lang",
        "n_words",
        "diversity_pm",
        F.ntile(4).over(w).cast("long").alias("phase"),
    )


@_q(
    "set_ops_all_quantifiers",
    """
    SELECT 'both' AS tag, o_orderpriority FROM (
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
        INTERSECT ALL
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'only_open' AS tag, o_orderpriority FROM (
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
        EXCEPT ALL
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def set_ops_all_quantifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations: INTERSECT ALL / EXCEPT ALL preserve
    duplicate counts (min/difference of multiplicities) — the quantified
    complement to the distinct set-ops query."""
    o = _t(spark, sf_dir, "orders")
    open_ = o.where(F.col("o_orderstatus") == "O").select("o_orderpriority")
    final = o.where(F.col("o_orderstatus") == "F").select("o_orderpriority")
    both = open_.intersectAll(final).select(
        F.lit("both").alias("tag"), "o_orderpriority"
    )
    only = open_.exceptAll(final).select(
        F.lit("only_open").alias("tag"), "o_orderpriority"
    )
    return both.unionAll(only)


@_q(
    "win_value_functions",
    """
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type FROM events WHERE user_id < 200)
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           first_value(event_id) OVER w1 AS first_id,
           last_value(nullif(event_type, 'click') IGNORE NULLS) OVER w1
               AS last_nonclick,
           nth_value(event_type, 3) OVER w2 AS third_type,
           lead(event_id, 1, -1) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS next_id
    FROM e
    WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window value-function family: first_value, last_value IGNORE
    NULLS (last non-click event so far), nth_value over the full frame,
    and lead with an explicit default — deterministic via the unique
    (ts, event_id) ordering."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 200)
    order = [F.col("ts"), F.col("event_id")]
    w1 = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wl = Window.partitionBy("user_id").orderBy(*order)
    return e.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_US_FMT).alias("ts_s"),
        F.first("event_id").over(w1).alias("first_id"),
        F.last(F.expr("nullif(event_type, 'click')"), ignorenulls=True)
        .over(w1)
        .alias("last_nonclick"),
        F.nth_value("event_type", 3).over(w2).alias("third_type"),
        F.lead("event_id", 1, -1).over(wl).alias("next_id"),
    )


@_q(
    "text_vocab_oov",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    v AS (SELECT term FROM df WHERE df >= 5),
    tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens
            FROM tf GROUP BY 1),
    inv AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_inv
            FROM tf JOIN v USING (term) GROUP BY 1)
    SELECT tot.doc_id, tot.n_tokens,
           tot.n_tokens - coalesce(inv.n_inv, 0) AS n_oov,
           ((tot.n_tokens - coalesce(inv.n_inv, 0)) * 1000) // tot.n_tokens
               AS oov_pm
    FROM tot LEFT JOIN inv USING (doc_id)
    """,
)
def text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary (df ≥ 5) coverage: per-doc OOV counts and per-mille
    rate — see operators/text.py vocab_oov."""
    from ..operators.text import vocab_oov

    return vocab_oov(_t(spark, sf_dir, "documents"), min_df=5)


@_q(
    "text_pmi_collocations",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    ucnt AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
             FROM (SELECT unnest(t) AS term FROM toks) GROUP BY 1),
    nu AS (SELECT CAST(sum(cnt) AS BIGINT) AS nu FROM ucnt),
    bcnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS cooc
             FROM (SELECT unnest(list_transform(
                              range(1, greatest(len(t) - 1, 0) + 1),
                              i -> t[i] || ' ' || t[i+1])) AS bg
                   FROM toks)
             GROUP BY 1 HAVING count(*) >= 5),
    s AS (SELECT b.bg, b.cooc,
                 (b.cooc * nu.nu * 1000) // (a.cnt * c.cnt) AS score_q
          FROM bcnt b
          JOIN ucnt a ON a.term = string_split(b.bg, ' ')[1]
          JOIN ucnt c ON c.term = string_split(b.bg, ' ')[2]
          CROSS JOIN nu),
    r AS (SELECT *, row_number() OVER (ORDER BY score_q DESC, bg) AS rnk
          FROM s)
    SELECT bg, cooc, CAST(score_q AS BIGINT) AS score_q,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 50
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-word collocations by integer-exact PMI surrogate
    (operators/text.py pmi_collocations)."""
    from ..operators.text import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"), min_cooc=5, k=50)


@_q(
    "text_bigram_lm_score",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(
                      range(1, greatest(len(t) - 1, 0) + 1),
                      i -> t[i] || ' ' || t[i+1])) AS bg
           FROM toks),
    c12 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
            FROM bg GROUP BY 1),
    c1 AS (SELECT string_split(bg, ' ')[1] AS w1,
                  CAST(sum(c12) AS BIGINT) AS c1
           FROM c12 GROUP BY 1),
    sc AS (SELECT b.doc_id,
                  length(to_base(c1.c1, 2)) - length(to_base(c12.c12, 2))
                      AS bits
           FROM bg b
           JOIN c12 USING (bg)
           JOIN c1 ON c1.w1 = string_split(b.bg, ' ')[1])
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(bits) AS BIGINT) AS total_bits,
           CAST(sum(bits) * 100 // count(*) AS BIGINT) AS avg_centibits
    FROM sc GROUP BY doc_id
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram LM scoring per document — the
    perplexity-style curation signal, integer-exact (see
    operators/text.py bigram_lm_score: surprisal =
    ⌊log2 c(w1)⌋ − ⌊log2 c(w1,w2)⌋ via binary digit counts, no
    floating log).  Low average bits = boilerplate, high = rare
    constructions; both tails are what a quality gate clips."""
    from ..operators.text import bigram_lm_score

    return bigram_lm_score(_t(spark, sf_dir, "documents"))


@_q(
    "text_kneser_ney_bigrams",
    """
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    bg AS (SELECT t[i] AS w1, t[i + 1] AS w2
           FROM toks,
                unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)),
    c12 AS MATERIALIZED (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                         FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1plus_fwd
           FROM c12 GROUP BY 1),
    nbwd AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1plus_bwd
             FROM c12 GROUP BY 1),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS nb_types FROM c12),
    ctx AS (SELECT w1, c1, n1plus_fwd FROM c1
            ORDER BY c1 DESC, w1 ASC LIMIT 20),
    cand AS (SELECT c.w1, c.w2, c.c12, x.c1, x.n1plus_fwd, n.n1plus_bwd,
                    greatest(4 * c.c12 - 3, 0) * 1000000 // (4 * x.c1)
                        AS main_micro,
                    3 * x.n1plus_fwd * n.n1plus_bwd * 1000000
                        // (4 * x.c1 * b.nb_types) AS backoff_micro
             FROM c12 c
             JOIN ctx x ON x.w1 = c.w1
             JOIN nbwd n ON n.w2 = c.w2, nb b),
    r AS (SELECT *,
                 CAST(row_number() OVER (
                     PARTITION BY w1
                     ORDER BY main_micro + backoff_micro DESC, w2 ASC)
                 AS INTEGER) AS rank
          FROM cand)
    SELECT w1, w2, c12, c1, n1plus_fwd, n1plus_bwd,
           CAST(main_micro + backoff_micro AS BIGINT) AS p_kn_micro, rank
    FROM r WHERE rank <= 3
    """,
)
def text_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram LM table (operators/text.py
    kneser_ney_bigram_table) — the smoothing behind CCNet-style LM
    quality filters, integer-exact: discount 3/4, continuation counts
    N1+(w1.)/N1+(.w2), both probability terms emitted as floored
    micro-probabilities so the oracle replays the SMOOTHED estimate
    bit-for-bit (the raw-count cousin is text_bigram_lm_score).  Top-3
    continuations for the 20 most frequent contexts."""
    from ..operators.text import kneser_ney_bigram_table

    return kneser_ney_bigram_table(
        _t(spark, sf_dir, "documents"), top_contexts=20, top_k=3
    )


@_q(
    "doc_tfidf_top_terms",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (SELECT tf.doc_id, tf.term, tf.tf,
                      tf.tf * ((n.n * 1000000) // df.df) AS score
               FROM tf JOIN df USING (term) CROSS JOIN n),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS rnk
          FROM scored)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           CAST(score AS BIGINT) AS score, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by integer-scaled TF-IDF
    (rational idf surrogate — see operators/retrieval.py)."""
    from ..operators.retrieval import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@_q(
    "doc_bm25_search",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    q AS (SELECT unnest(['data', 'spark', 'table']) AS term),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
    s AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
    scored AS (
        SELECT tf.doc_id,
               sum((((2*s.n - 2*df.df + 1) * 1000) // (2*df.df + 1))
                   * (44*tf.tf*s.sdl)
                   // (20*tf.tf*s.sdl + 6*s.sdl + 18*dl.dl*s.n)) AS score
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN s
        GROUP BY tf.doc_id),
    r AS (SELECT doc_id, score,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
          FROM scored)
    SELECT doc_id, CAST(score AS BIGINT) AS score, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 20
    """,
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a 3-term query, integer-exact scoring (k1=1.2,
    b=0.75 multiplied through — see operators/retrieval.py)."""
    from ..operators.retrieval import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), ["data", "spark", "table"], k=20
    )


@_q(
    "mm_resize",
    """
    WITH m AS (SELECT doc_id,
                      CASE WHEN doc_id % 2 = 0 THEN 'image/png'
                           ELSE 'audio/wav' END AS media_type,
                      hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS n
               FROM documents),
    r AS (SELECT doc_id, media_type,
                 substr(repeat(hx, CAST(48 // greatest(1, n) + 1 AS INTEGER)),
                        1, 96) AS out_hx
          FROM m)
    SELECT doc_id, media_type,
           md5(out_hx) AS payload_md5,
           CAST(length(out_hx) // 2 AS BIGINT) AS n_bytes,
           CAST(64 AS BIGINT) AS target_w,
           CAST(48 AS BIGINT) AS target_h
    FROM r
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media resize (stubbed decode): output payload is a
    deterministic function of the input bytes, so the DuckDB oracle can
    reproduce it with hex-space tiling (repeat + substr on the hex
    string = byte-level tile + truncate).  md5 over hex compresses the
    binary for the value-hash; see operators/multimodal.py."""
    media = multimodal.media_from_documents(_t(spark, sf_dir, "documents"))
    out = multimodal.resize_media(media, w=64, h=48)
    return out.select(
        "doc_id",
        "media_type",
        F.md5(F.hex("payload")).alias("payload_md5"),
        "n_bytes",
        "target_w",
        "target_h",
    )


@_q(
    "mm_frame_sample",
    """
    WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS n
               FROM documents),
    f AS (SELECT doc_id, hx, n,
                 unnest(generate_series(0, 3)) AS frame_idx
          FROM m)
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           md5(substr(hx, 2 * ((n * frame_idx) // 4) + 1, 512)) AS frame_md5
    FROM f
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling: 4 fixed-offset 256-byte windows per
    payload, fanned out inside the pandas batch (one Arrow crossing per
    input batch).  Oracle slices the same windows in hex space
    (2 hex chars per byte); see operators/multimodal.py."""
    media = multimodal.media_from_documents(_t(spark, sf_dir, "documents"))
    out = multimodal.sample_frames(media, n_frames=4, frame_bytes=256)
    return out.select(
        "doc_id",
        "frame_idx",
        F.md5(F.hex("frame_bytes")).alias("frame_md5"),
    )


@_q(
    "mm_keyframe_select",
    """
    WITH m AS (SELECT doc_id, text, octet_length(encode(text)) AS n
               FROM documents),
    f AS (SELECT doc_id, text, n, unnest(range(0, 8)) AS i FROM m),
    g AS (SELECT doc_id, text, n, CAST(i AS BIGINT) AS i,
                 (n * i) // 8 AS o1, (n * (i - 1)) // 8 AS o0,
                 least(128, n - (n * i) // 8) AS l1,
                 least(128, n - (n * (i - 1)) // 8) AS l0
          FROM f),
    ds AS (SELECT doc_id, i,
                  sum(abs(ascii(substr(text, CAST(o1 + j.j + 1 AS INTEGER), 1))
                          - ascii(substr(text, CAST(o0 + j.j + 1 AS INTEGER), 1))))
                  + 255 * abs(min(l1) - min(l0)) AS frame_delta
           FROM g, unnest(range(0, least(l1, l0))) AS j(j)
           WHERE i > 0
           GROUP BY doc_id, i),
    d AS (SELECT doc_id, CAST(0 AS BIGINT) AS frame_idx,
                 CAST(0 AS BIGINT) AS frame_delta
          FROM m
          UNION ALL
          SELECT doc_id, i, CAST(frame_delta AS BIGINT) FROM ds),
    r AS (SELECT doc_id, frame_idx, frame_delta,
                 row_number() OVER (
                     PARTITION BY doc_id
                     ORDER BY CASE WHEN frame_idx > 0 THEN frame_delta
                                   ELSE -1 END DESC, frame_idx) AS rk
          FROM d)
    SELECT doc_id, frame_idx, frame_delta,
           (frame_idx = 0 OR rk <= 2) AS is_keyframe
    FROM r
    """,
)
def mm_keyframe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe selection over sampled video frames — the shot-change
    detector of a multimodal ingest pipeline: 8 fixed-offset frames
    per payload (the ``sample_frames`` offset rule), each scored by
    its exact integer L1 delta to the previous frame
    (``multimodal.keyframe_deltas`` — computed INSIDE the pandas batch
    where the frame bytes live, so only (doc, idx, delta) triples ever
    leave the stage), then per doc: frame 0 plus the top-2 highest-
    delta frames are flagged keyframes (ties to the lower index).  The
    oracle replays the byte windows and the L1 arithmetic in char
    space and must match the flag bit-for-bit.

    Precondition (like the BPE sentinel): payloads are nonempty —
    a 0-byte payload would emit 8 zero-delta frames here but only
    frame 0 in the oracle (its position ranges are empty), so a
    corpus with empty docs must filter them first (the fixtures
    guarantee nonempty text).

    Scale notes (100 TB): one Arrow crossing for the scoring, one
    window PARTITIONED by doc_id (≤ 8 rows per key) for the top-2 —
    no frame payload shuffle, no global window."""
    media = multimodal.media_from_documents(_t(spark, sf_dir, "documents"))
    kd = multimodal.keyframe_deltas(media, n_frames=8, frame_bytes=128)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(
            F.when(F.col("frame_idx") > 0, F.col("frame_delta")).otherwise(
                -1
            )
        ),
        F.asc("frame_idx"),
    )
    return kd.withColumn("rk", F.row_number().over(w)).select(
        "doc_id",
        "frame_idx",
        "frame_delta",
        ((F.col("frame_idx") == 0) | (F.col("rk") <= 2)).alias(
            "is_keyframe"
        ),
    )


# --------------------------------------------------------------------------
# Temporal joins (as-of / bounded range) + cube + the pandas-UDF surface
# --------------------------------------------------------------------------

_TS_US_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@_q(
    "evt_asof_join_signup",
    """
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type FROM events),
    p AS (SELECT * FROM e WHERE event_type = 'purchase'),
    s AS (SELECT * FROM e WHERE event_type = 'signup')
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           s.event_id AS asof_event_id,
           strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS asof_ts_s
    FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def evt_asof_join_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase paired with the user's most recent
    prior (or simultaneous) signup.  Implemented union+window (one
    shuffle, no pair explosion) — see operators/joins.py; oracle uses
    DuckDB's native ASOF JOIN."""
    from ..operators.joins import as_of_join

    e = _t(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    s = e.where(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("s_event_id")
    )
    out = as_of_join(
        p, s, on="user_id", left_ts="ts", right_ts="ts",
        right_payload=["s_event_id", "ts"], tie_break="s_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_US_FMT).alias("ts_s"),
        F.col("asof_s_event_id").alias("asof_event_id"),
        F.date_format("asof_ts", _TS_US_FMT).alias("asof_ts_s"),
    )


@_q(
    "evt_range_count_5m",
    """
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type FROM events),
    err AS (SELECT * FROM e WHERE event_type = 'error'),
    clk AS (SELECT * FROM e WHERE event_type = 'click')
    SELECT err.event_id, err.user_id, count(clk.event_id) AS n_prior_clicks
    FROM err LEFT JOIN clk
      ON clk.user_id = err.user_id
     AND clk.ts < err.ts AND clk.ts >= err.ts - INTERVAL 5 MINUTE
    GROUP BY err.event_id, err.user_id
    """,
)
def evt_range_count_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: per error event, clicks by the same user in
    the preceding 5 minutes.  Bucketed equi-join (operators/joins.py) —
    never a theta/nested-loop join."""
    from ..operators.joins import range_count_join

    e = _t(spark, sf_dir, "events")
    err = e.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clk = e.where(F.col("event_type") == "click").select("user_id", "ts")
    out = range_count_join(
        err, clk, on="user_id", left_ts="ts", right_ts="ts",
        range_micros=5 * 60 * 1_000_000, count_alias="n_prior_clicks",
    )
    return out.select("event_id", "user_id", "n_prior_clicks")


@_q(
    "agg_cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           grouping(o_orderstatus) AS g_status,
           grouping(o_orderpriority) AS g_priority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over order status × priority."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_totalprice"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "g_status", "g_priority",
            "n_orders", "sum_totalprice",
        )
    )


@_q(
    "udf_pandas_distinct_words",
    """
    SELECT doc_id, len(list_distinct(string_split(text, ' ')))
               AS n_distinct_words
    FROM documents
    """,
)
def udf_pandas_distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar @pandas_udf (Arrow-vectorized) with an integer-exact oracle
    — the sanctioned Python escape hatch, proven equivalent."""
    from ..operators.udfs import distinct_words_pandas

    return distinct_words_pandas(_t(spark, sf_dir, "documents"))


@_q(
    "udf_grouped_user_stats",
    """
    WITH e AS (SELECT user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
               WHERE user_id % 5 = 0),
    d AS (SELECT user_id, event_type,
                 us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS g
          FROM e)
    SELECT user_id, count(*) AS n_events,
           count(DISTINCT event_type) AS n_types,
           max(g) AS max_gap_us
    FROM d GROUP BY user_id
    """,
)
def udf_grouped_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas custom aggregation (exact integer µs),
    held to a BOUNDED deterministic slice (user_id % 5 = 0): the demo
    exists to exercise the grouped-map surface, and a grouped-map that
    materializes whole user groups in pandas must never be pointed at an
    unbounded corpus (one hot key = one executor OOM — udfs.py module
    header).  The full-corpus production formulation of the same output
    is ``evt_user_activity_stats`` below (pure JVM window + agg)."""
    from ..operators.udfs import user_activity_stats

    return user_activity_stats(
        _t(spark, sf_dir, "events").where(F.col("user_id") % 5 == 0)
    )


@_q(
    "evt_user_activity_stats",
    """
    WITH e AS (SELECT user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
    d AS (SELECT user_id, event_type,
                 us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS g
          FROM e)
    SELECT user_id, count(*) AS n_events,
           count(DISTINCT event_type) AS n_types,
           max(g) AS max_gap_us
    FROM d GROUP BY user_id
    """,
)
def evt_user_activity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity stats, production path: same semantics as
    ``udf_grouped_user_stats`` (count, distinct types, max inter-event
    gap in exact µs) but pure JVM — lag window + one map-side-combined
    aggregation instead of materializing whole user groups in pandas.
    See operators/udfs.py user_activity_stats_jvm for the scale
    rationale."""
    from ..operators.udfs import user_activity_stats_jvm

    return user_activity_stats_jvm(_t(spark, sf_dir, "events"))


@_q(
    "evt_multires_rollup",
    """
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
                      CAST(value AS DECIMAL(18,2)) AS v FROM events),
    m AS (SELECT date_trunc('minute', ts) AS bucket, event_type,
                 count(*) AS n_events, sum(v) AS sv FROM e GROUP BY 1, 2),
    h AS (SELECT date_trunc('hour', bucket) AS bucket, event_type,
                 CAST(sum(n_events) AS BIGINT) AS n_events, sum(sv) AS sv
          FROM m GROUP BY 1, 2),
    d AS (SELECT date_trunc('day', bucket) AS bucket, event_type,
                 CAST(sum(n_events) AS BIGINT) AS n_events, sum(sv) AS sv
          FROM h GROUP BY 1, 2)
    SELECT 'minute' AS resolution, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type, n_events, CAST(sv AS DOUBLE) AS sum_value FROM m
    UNION ALL
    SELECT 'hour', strftime(bucket, '%Y-%m-%d %H:%M:%S'), event_type,
           n_events, CAST(sv AS DOUBLE) FROM h
    UNION ALL
    SELECT 'day', strftime(bucket, '%Y-%m-%d %H:%M:%S'), event_type,
           n_events, CAST(sv AS DOUBLE) FROM d
    """,
)
def evt_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style minute→hour→day continuous-aggregate rollup
    (coarser levels re-aggregate finer ones; raw scanned once)."""
    return windows.multires_rollup(_t(spark, sf_dir, "events"))


@_q(
    "agg_salted_event_type",
    """
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           min(event_id) AS min_event_id, max(event_id) AS max_event_id
    FROM events GROUP BY event_type
    """,
)
def agg_salted_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted two-stage aggregation — must produce exactly the
    plain groupBy answer (the oracle IS the plain groupBy)."""
    from ..operators.util import salted_aggregate

    e = _t(spark, sf_dir, "events").withColumn(
        "value_d", F.col("value").cast("decimal(18,2)")
    )
    out = salted_aggregate(
        e,
        keys=["event_type"],
        aggs={
            "n_events": ("count", "event_id"),
            "sum_value_d": ("sum", "value_d"),
            "min_event_id": ("min", "event_id"),
            "max_event_id": ("max", "event_id"),
        },
        n_salt=16,
        salt_source="event_id",
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("sum_value_d").cast("double").alias("sum_value"),
        "min_event_id",
        "max_event_id",
    )


@_q(
    "fn_scalar_suite",
    """
    SELECT p_partkey,
           upper(p_name) AS name_u,
           lower(p_brand) AS brand_l,
           substr(p_type, 1, 5) AS type_5,
           len(p_name) AS name_len,
           reverse(p_brand) AS brand_rev,
           concat(p_brand, '::', p_type) AS brand_type,
           strpos(p_name, 'a') AS first_a,
           abs(p_size - 25) AS size_dist,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           CAST(round(CAST(p_retailprice AS DECIMAL(18,2)), 1) AS DOUBLE)
               AS price_r1,
           coalesce(nullif(p_brand, 'Brand#1'), 'sentinel') AS brand_nn,
           CASE WHEN p_size BETWEEN 10 AND 20 THEN 'mid'
                WHEN p_size < 10 THEN 'small' ELSE 'large' END AS size_class
    FROM part
    """,
)
def fn_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function library parity sweep (string/math/conditional)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_u"),
        F.lower("p_brand").alias("brand_l"),
        F.substring("p_type", 1, 5).alias("type_5"),
        F.length("p_name").alias("name_len"),
        F.reverse("p_brand").alias("brand_rev"),
        F.concat(F.col("p_brand"), F.lit("::"), F.col("p_type")).alias("brand_type"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        F.ceil("p_retailprice").cast("long").alias("price_ceil"),
        F.floor("p_retailprice").cast("long").alias("price_floor"),
        F.round(F.col("p_retailprice").cast("decimal(18,2)"), 1)
        .cast("double")
        .alias("price_r1"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#1")), F.lit("sentinel")).alias(
            "brand_nn"
        ),
        F.when(F.col("p_size").between(10, 20), F.lit("mid"))
        .when(F.col("p_size") < 10, F.lit("small"))
        .otherwise(F.lit("large"))
        .alias("size_class"),
    )


@_q(
    "fn_date_parts",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS y,
           month(o_orderdate) AS m,
           day(o_orderdate) AS d,
           quarter(o_orderdate) AS q,
           isodow(o_orderdate) - 1 AS wd,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               AS days_since_95
    FROM orders
    """,
)
def fn_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-function parity sweep (extraction, arithmetic, diffs)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.weekday("o_orderdate").alias("wd"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_add(F.col("o_orderdate"), 30), "yyyy-MM-dd").alias(
            "plus_30d"
        ),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
    )


@_q(
    "udf_pandas_agg_median",
    """
    SELECT event_type, median(event_id) AS median_event_id,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def udf_pandas_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF (vectorized UDAF) vs DuckDB's median."""
    from ..operators.udfs import event_id_median_by_type

    return event_id_median_by_type(_t(spark, sf_dir, "events"))


@_q(
    "udtf_bigrams",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    x AS (SELECT doc_id, t,
                 unnest(range(1, least(5, len(t) - 1) + 1)) AS pos
          FROM toks)
    SELECT doc_id, CAST(pos AS INT) AS pos,
           t[pos] || ' ' || t[pos + 1] AS bigram
    FROM x
    """,
)
def udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL join — the table-function API surface."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from ..operators.udfs import BigramUDTF

    # explicit StructType: a DDL string would be parsed on the executor,
    # where no SparkSession exists (SESSION_OR_CONTEXT_NOT_EXISTS)
    fn = udtf(
        BigramUDTF,
        returnType=StructType(
            [StructField("pos", IntegerType()), StructField("bigram", StringType())]
        ),
    )
    spark.udtf.register("bigram_udtf", fn)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("_docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.bigram "
        "FROM _docs_udtf d, LATERAL bigram_udtf(d.text) t"
    )


@_q(
    "udtf_analyze_top_tokens",
    """
    WITH t AS (SELECT doc_id,
                      list_sort(list_distinct(string_split(text, ' '))) AS l
               FROM documents)
    SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
           l[1] AS tok_1, l[2] AS tok_2, l[3] AS tok_3
    FROM t
    """,
)
def udtf_analyze_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic UDTF: ``analyze()`` expands the constant k=3 into
    output columns tok_1..tok_3 at plan time (operators/udfs.py)."""
    from pyspark.sql.functions import udtf

    from ..operators.udfs import TopTokensUDTF

    # no returnType: schema comes from TopTokensUDTF.analyze
    spark.udtf.register("top_tokens_udtf", udtf(TopTokensUDTF))
    _t(spark, sf_dir, "documents").createOrReplaceTempView("_docs_udtf2")
    return spark.sql(
        "SELECT d.doc_id, t.n_tokens, t.tok_1, t.tok_2, t.tok_3 "
        "FROM _docs_udtf2 d, LATERAL top_tokens_udtf(d.text, 3) t"
    )


@_q(
    "agg_percentiles_disc",
    """
    WITH r AS (
        SELECT o_orderstatus, o_totalprice,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderstatus) AS n
        FROM orders
    )
    SELECT o_orderstatus, max(n) AS n_orders,
           max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                    THEN o_totalprice END) AS p50_totalprice,
           max(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
                    THEN o_totalprice END) AS p90_totalprice
    FROM r GROUP BY o_orderstatus
    """,
)
def agg_percentiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles via deterministic rank selection (identical
    index formula both engines; value passthrough, no interpolation)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wp = Window.partitionBy("o_orderstatus")
    r = o.select(
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )

    def pick(q: float):
        idx = F.floor(F.lit(q) * (F.col("n") - 1)).cast("long") + 1
        return F.max(F.when(F.col("rn") == idx, F.col("o_totalprice")))

    return r.groupBy("o_orderstatus").agg(
        F.max("n").alias("n_orders"),
        pick(0.5).alias("p50_totalprice"),
        pick(0.9).alias("p90_totalprice"),
    )


@_q(
    "corr_subquery_cheapest_item",
    """
    WITH r AS (
        SELECT l_orderkey, l_extendedprice, l_linenumber,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_extendedprice, l_linenumber) AS rn
        FROM lineitem
    )
    SELECT l_orderkey AS o_orderkey, l_extendedprice AS cheapest_price,
           l_linenumber AS cheapest_linenumber
    FROM r WHERE rn = 1
    """,
)
def corr_subquery_cheapest_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Cheapest lineitem per order' — the correlated-scalar-subquery
    shape, decorrelated into one ranking window pass (single shuffle)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_extendedprice", "l_linenumber")
    return (
        li.select("l_orderkey", "l_extendedprice", "l_linenumber")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.col("l_extendedprice").alias("cheapest_price"),
            F.col("l_linenumber").alias("cheapest_linenumber"),
        )
    )


_MINHASH_PAIRS_CTES = f"""
    WITH {_SHINGLE_CTE.strip()},
    sig AS (SELECT doc_id, {_MINHASH_SIG} FROM sh GROUP BY doc_id),
    bands AS ({_MINHASH_BANDS}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    )
"""


@_q(
    "doc_lsh_levenshtein_verify",
    _MINHASH_PAIRS_CTES
    + """
    SELECT p.doc_a, p.doc_b,
           levenshtein(substr(da.text, 1, 60), substr(db.text, 1, 60))
               AS edit_distance_60
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    """,
)
def doc_lsh_levenshtein_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-then-verify composition: LSH candidates re-scored with
    exact edit distance on a 60-char prefix.  Levenshtein is O(L²) per
    pair — affordable precisely BECAUSE the LSH stage bounded the pairs."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidate_pairs(docs, k_shingle=3, n_hashes=8, n_bands=4)
    da = docs.select(F.col("doc_id").alias("doc_a"), F.substring("text", 1, 60).alias("ta"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.substring("text", 1, 60).alias("tb"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("ta"), F.col("tb")).alias("edit_distance_60"),
        )
    )


# --------------------------------------------------------------------------
# ANN / connector / layout queries — every one deterministic by
# construction, so each gets a full value oracle.  The ANN variants are
# *approximate nearest neighbor* but NOT nondeterministic: sign-LSH
# planes are md5-derived (similarity.sign_lsh_bucket) and IVF centroids
# are either the n_cells lowest-id vectors or integer-Lloyd-refined —
# the oracle replays the identical integer arithmetic, so the driver
# hash-checks the whole candidate-generation + rerank pipeline, not
# just the rerank.  Recall-vs-brute-force properties live in pytest
# (tests/test_scale_patterns.py).
# --------------------------------------------------------------------------


def _lsh_signs_list(p: int, dim: int = 64) -> str:
    """The ±1 plane-p sign row of similarity.sign_lsh_bucket, as a
    DuckDB list literal — baked into the oracle so both engines use the
    byte-identical hyperplanes."""
    import hashlib

    return (
        "["
        + ",".join(
            "1"
            if hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0] >= "8"
            else "-1"
            for d in range(dim)
        )
        + "]"
    )


def _lsh_band_rows_sql(
    src: str, n_bands: int = 8, band_planes: int = 8
) -> str:
    """(vec_id, band_id, bucket) banded sign-LSH rows in DuckDB — the
    byte-identical twin of operators/udfs.sign_lsh_all_bands_udf (band
    b concatenates the sign bits of planes b*band_planes ..
    b*band_planes+band_planes-1 of the shared md5 plane family), so an
    oracle can replay the engine's candidate generation instead of the
    N^2 brute-force scan (which exhausted DuckDB temp disk at the sf1
    rung inside the v8 composition)."""
    selects = []
    for band in range(n_bands):
        bits = ", ".join(
            f"CASE WHEN list_sum(list_transform(range(1, 65), "
            f"i -> qe[i] * ({_lsh_signs_list(band * band_planes + p)})[i]"
            f")) >= 0 THEN '1' ELSE '0' END"
            for p in range(band_planes)
        )
        selects.append(
            f"SELECT vec_id, {band} AS band_id, concat({bits}) AS bucket "
            f"FROM {src}"
        )
    return " UNION ALL ".join(selects)


def _ann_rerank_sql(cand_join: str, k: int = 10) -> str:
    """Shared exact-rerank tail: score candidate pairs with the int64
    quantized dot, per-query row_number top-k, ties → lowest id."""
    return f"""
s AS (
    SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(range(1, 65),
                                        i -> q.q_qe[i] * c.qe[i])) AS BIGINT)
               AS dot_q
    FROM {cand_join} WHERE c.vec_id <> q.query_id
),
rr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY dot_q DESC, neighbor_id ASC) AS INTEGER) AS rank
       FROM s)
SELECT query_id, neighbor_id, dot_q, rank FROM rr WHERE rank <= {k}"""


_LSH_BITS_SQL = ",\n           ".join(
    f"CASE WHEN list_sum(list_transform(range(1, 65), "
    f"i -> qe[i] * ({_lsh_signs_list(p)})[i])) >= 0 THEN '1' ELSE '0' END"
    for p in range(4)
)


@_q(
    "emb_ann_lsh_topk",
    f"""
    WITH e AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    b AS (SELECT vec_id, qe, concat({_LSH_BITS_SQL}) AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, qe AS q_qe, bucket FROM b
          WHERE vec_id % 50 = 0),
    {_ann_rerank_sql("q JOIN b c USING (bucket)")}
    """,
)
def emb_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN — the 100 TB candidate-generation path.
    Deterministic end-to-end (md5-derived hyperplanes, exact int
    rerank), so the oracle replays buckets + rerank exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return similarity.lsh_bucketed_topk(emb, queries, k=10, n_planes=4)


def _ivf_assign_sql(cent_cte: str, n_probe: int = 4) -> str:
    """Shared IVF assignment: score every vector against the (tiny)
    centroid set, rank by dot desc / cell asc — candidates keep rank 1,
    queries probe the top n_probe cells."""
    return f"""
fa AS (SELECT e.vec_id, e.qe, c.cell,
       CAST(list_sum(list_transform(range(1, 65),
                                    i -> e.qe[i] * c.c_qe[i])) AS BIGINT) AS cd
       FROM e, {cent_cte} c),
far AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                  ORDER BY cd DESC, cell ASC) AS r FROM fa),
cand AS (SELECT vec_id, qe, cell FROM far WHERE r = 1),
qs AS (SELECT vec_id AS query_id, qe AS q_qe, cell FROM far
       WHERE r <= {n_probe} AND vec_id % 50 = 0)"""


@_q(
    "emb_ann_ivf_topk",
    f"""
    WITH e AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    cent AS (SELECT vec_id AS cell, qe AS c_qe FROM e ORDER BY vec_id LIMIT 16),
    {_ivf_assign_sql("cent")},
    {_ann_rerank_sql("qs q JOIN cand c USING (cell)")}
    """,
)
def emb_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN (coarse quantize + multi-probe).  Centroids are the
    16 lowest-id vectors — deterministic, so the oracle replays
    assignment, probing, and rerank in exact integer arithmetic."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return similarity.ivf_topk(emb, queries, k=10, n_cells=16, n_probe=4)


def _lloyd_iter_sql(it: int, prev: str) -> str:
    """One unrolled integer-Lloyd round (mirror of
    similarity.lloyd_centroids): assign to max-dot centroid, new
    centroid component = sum DIV count, empty cells keep the old one."""
    return f"""
a{it} AS (SELECT e.vec_id, e.qe, c.cell,
          CAST(list_sum(list_transform(range(1, 65),
                        i -> e.qe[i] * c.c_qe[i])) AS BIGINT) AS cd
          FROM e, {prev} c),
ar{it} AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                     ORDER BY cd DESC, cell ASC) AS r FROM a{it}),
m{it} AS (SELECT cell, t.i AS pos, qe[t.i] AS q
          FROM ar{it}, unnest(range(1, 65)) AS t(i) WHERE r = 1),
g{it} AS (SELECT cell, pos, CAST(sum(q) // count(*) AS BIGINT) AS m
          FROM m{it} GROUP BY cell, pos),
n{it} AS (SELECT cell, list(m ORDER BY pos) AS c_qe FROM g{it} GROUP BY cell),
c{it} AS (SELECT p.cell, coalesce(n.c_qe, p.c_qe) AS c_qe
          FROM {prev} p LEFT JOIN n{it} n USING (cell))"""


@_q(
    "emb_ann_ivf_kmeans_topk",
    f"""
    WITH e AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    c0 AS (SELECT vec_id AS cell, qe AS c_qe FROM e ORDER BY vec_id LIMIT 16),
    {_lloyd_iter_sql(1, "c0")},
    {_lloyd_iter_sql(2, "c1")},
    {_ivf_assign_sql("c2")},
    {_ann_rerank_sql("qs q JOIN cand c USING (cell)")}
    """,
)
def emb_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with Lloyd-TRAINED centroids — similarity.lloyd_centroids
    runs 2 distributed refinement rounds in exact int64 arithmetic
    (assign = max quantized dot, update = component-wise sum DIV count),
    so unlike RNG-seeded k-means the training itself is oracle-checkable:
    the DuckDB SQL unrolls both rounds and must reproduce every
    centroid, cell assignment, and reranked neighbor bit-for-bit.
    (The driver-sampled numpy k-means++ path stays available as
    similarity.kmeans_centroids for comparison in pytest.)"""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    cent = similarity.lloyd_centroids(emb, n_cells=16, n_iters=2)
    return similarity.ivf_topk(emb, queries, k=10, n_probe=4, centroids=cent)


@_q(
    "files_layout_lineitem",
    """
    WITH f AS (SELECT file_name, CAST(num_rows AS BIGINT) AS n_rows
               FROM parquet_file_metadata(
                   '/root/testdata/sf0.01/lineitem.parquet')),
    b AS (SELECT filename AS file_name, CAST(size AS BIGINT) AS file_size
          FROM read_blob('/root/testdata/sf0.01/lineitem.parquet'))
    SELECT CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(f.n_rows) AS BIGINT) AS total_rows,
           CAST(min(f.n_rows) AS BIGINT) AS min_file_rows,
           CAST(max(f.n_rows) AS BIGINT) AS max_file_rows,
           CAST(sum(CASE WHEN b.file_size < 67108864 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_small_files
    FROM f JOIN b USING (file_name)
    """,
)
def files_layout_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-layout health report from the scan's ``_metadata`` column —
    see operators/util.py layout_report.  The oracle reads the same
    file boundaries via DuckDB's parquet_file_metadata + read_blob;
    those take literal paths, so the oracle pins the driver's
    correctness SF (sf0.01) — run tools/parity.py at sf0.01 for this
    one (every other oracle is SF-agnostic)."""
    from ..operators.util import layout_report

    return layout_report(_t(spark, sf_dir, "lineitem"))


@_q(
    "files_zorder_pruning",
    f"""
    WITH li AS (SELECT l_partkey % 65536 AS x, l_suppkey % 65536 AS y,
                       l_orderkey AS ok
                FROM lineitem),
    z AS (SELECT x, y, ok,
                 {layout.zvalue_sql("x", "y", div="//")} AS zv
          FROM li),
    s AS (SELECT max(zv) + 1 AS mz, max(ok) + 1 AS mo,
                 max(x) - min(x) + 1 AS dom_partkey,
                 max(y) - min(y) + 1 AS dom_suppkey
          FROM z),
    e AS (SELECT x, y,
                 {layout.range_bucket_sql("zv", "s.mz", 256, div="//")}
                     AS fz,
                 {layout.range_bucket_sql("ok", "s.mo", 256, div="//")}
                     AS fn
          FROM z, s),
    st AS (
      SELECT 'zorder' AS layout, 'partkey' AS dim, fz AS file_id,
             x AS val FROM e
      UNION ALL SELECT 'zorder', 'suppkey', fz, y FROM e
      UNION ALL SELECT 'orderkey_range', 'partkey', fn, x FROM e
      UNION ALL SELECT 'orderkey_range', 'suppkey', fn, y FROM e),
    pf AS (SELECT layout, dim, file_id, min(val) AS lo, max(val) AS hi
           FROM st GROUP BY 1, 2, 3),
    pl AS (SELECT layout, dim, CAST(count(*) AS BIGINT) AS n_files,
                  CAST(sum(hi - lo + 1) AS BIGINT) AS span_sum
           FROM pf GROUP BY 1, 2)
    SELECT layout, dim, n_files, span_sum,
           CAST(span_sum * 10000 // (CASE WHEN dim = 'partkey'
                THEN s.dom_partkey ELSE s.dom_suppkey END) AS BIGINT)
               AS expected_files_hit_bp
    FROM pl, s
    """,
)
def files_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout vs ingestion-order layout, judged by the exact
    min-max pruning arithmetic a reader uses (operators/layout.py).
    lineitem's (partkey, suppkey) bits are Morton-interleaved into one
    z-value; files are 256 contiguous range buckets of z (vs the
    baseline's orderkey ranges — ingestion order).  For every (layout,
    dimension): per-file [min, max] spans and ``span_sum``, whose
    ratio to the dimension's domain is the expected number of files a
    uniform point predicate touches (×10⁴ = ``expected_files_hit_bp``)
    — the number that says "a filter on EITHER interleaved column
    skips most files" for Z-order while the ingestion layout scans
    everything on both.

    Everything is div/mod integer arithmetic (no bit intrinsics), so
    the identical construction runs in DuckDB and a drift in the
    interleave, the bucket rule, or the span accounting hash-fails.

    Scale notes: one explode + two hash aggregations over (layout,
    dim, file) — ≤ 4·256 groups after the first — plus one 1-row
    scalar broadcast for the bucket denominators; no windows, no
    global sort.  At 100 TB the same z-expression IS the
    repartitionByRange + sortWithinPartitions write key; this query
    is the advisor that quantifies what that rewrite buys before
    anyone pays for it."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.expr("l_partkey % 65536").alias("x"),
        F.expr("l_suppkey % 65536").alias("y"),
        F.col("l_orderkey").alias("ok"),
    )
    z = li.withColumn("zv", layout.zvalue("x", "y"))
    s = z.agg(
        (F.max("zv") + 1).alias("mz"),
        (F.max("ok") + 1).alias("mo"),
    )
    e = z.crossJoin(F.broadcast(s)).select(
        "x",
        "y",
        F.expr(layout.range_bucket_sql("zv", "mz", 256)).alias("fz"),
        F.expr(layout.range_bucket_sql("ok", "mo", 256)).alias("fn"),
    )
    return layout.layout_pruning_stats(
        e,
        assignments=[
            ("zorder", "partkey", F.col("fz"), F.col("x")),
            ("zorder", "suppkey", F.col("fz"), F.col("y")),
            ("orderkey_range", "partkey", F.col("fn"), F.col("x")),
            ("orderkey_range", "suppkey", F.col("fn"), F.col("y")),
        ],
        domains=["partkey", "suppkey"],
    )


def _hilbert_pruning_ctes() -> str:
    """Shared CTE chain of the Hilbert/Z-order/ingestion span audit —
    everything through ``hpl`` (per layout × dim: n_files, span_sum)
    and ``hd`` (dimension domains).  Shared by the standalone pruning
    advisor and the workload-weighted layout chooser so the two cannot
    drift."""
    hb_ctes, hb_final = layout.hilbert_ctes(
        "SELECT x, y, ok, x AS hx, y AS hy FROM hli", bits=8
    )
    return f"""hli AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y,
                        l_orderkey AS ok
                 FROM lineitem),
    {", ".join(hb_ctes)},
    hz AS (SELECT x, y, ok, hv,
                  {layout.zvalue_sql("x", "y", bits=8, div="//")} AS zv
           FROM {hb_final}),
    hs AS (SELECT max(ok) + 1 AS mo FROM hz),
    he AS (SELECT x, y,
                  hv * 48 // 65536 AS fh,
                  zv * 48 // 65536 AS fz,
                  {layout.range_bucket_sql("ok", "hs.mo", 48, div="//")}
                      AS fn
           FROM hz, hs),
    hst AS (
      SELECT 'hilbert' AS layout, 'partkey' AS dim, fh AS file_id,
             x AS val FROM he
      UNION ALL SELECT 'hilbert', 'suppkey', fh, y FROM he
      UNION ALL SELECT 'zorder', 'partkey', fz, x FROM he
      UNION ALL SELECT 'zorder', 'suppkey', fz, y FROM he
      UNION ALL SELECT 'ingestion', 'partkey', fn, x FROM he
      UNION ALL SELECT 'ingestion', 'suppkey', fn, y FROM he),
    hd AS (SELECT max(x) - min(x) + 1 AS dom_partkey,
                  max(y) - min(y) + 1 AS dom_suppkey
           FROM he),
    hpf AS (SELECT layout, dim, file_id, min(val) AS lo, max(val) AS hi
            FROM hst GROUP BY 1, 2, 3),
    hpl AS (SELECT layout, dim, CAST(count(*) AS BIGINT) AS n_files,
                   CAST(sum(hi - lo + 1) AS BIGINT) AS span_sum
            FROM hpf GROUP BY 1, 2)"""


def _hilbert_pruning_oracle() -> str:
    return f"""
    WITH {_hilbert_pruning_ctes()}
    SELECT layout, dim, n_files, span_sum,
           CAST(span_sum * 10000 // (CASE WHEN dim = 'partkey'
                THEN hd.dom_partkey ELSE hd.dom_suppkey END) AS BIGINT)
               AS expected_files_hit_bp
    FROM hpl, hd
    """


@_q("files_hilbert_pruning", _hilbert_pruning_oracle())
def files_hilbert_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout vs Z-order vs ingestion order, judged by
    the same exact min-max pruning arithmetic as files_zorder_pruning:
    lineitem's (partkey, suppkey) folded to 8-bit coords, indexed by
    BOTH space-filling curves (Morton = bit interleave; Hilbert =
    operators/layout.with_hilbert, the canonical rotate-and-flip
    recursion unrolled to 8 div/mod/CASE rounds — no bit intrinsics,
    so the identical construction runs in DuckDB and a drift in any
    round hash-fails), 48 range-bucket files per layout (deliberately
    NOT a power of 4, so Hilbert and Morton bucket spans genuinely
    differ — see tests/test_hilbert_layout.py), per-file
    [min, max] spans per dimension.  The number this advisor exists
    for: Hilbert's every-step-adjacent locality yields tighter per-file
    spans than Morton's quadrant jumps on the SAME data and file
    count — the reason Iceberg/Delta offer hilbert-order alongside
    z-order — while both crush ingestion order.

    Scale notes (100 TB): the curve index is pure per-row projection
    fused by codegen (one stage, no shuffle, no UDF); the span audit
    is one explode + two hash aggs over ≤ 6·64 groups; one 1-row
    scalar cross for the ingestion bucket denominator (allowlisted
    BNLJ — shared with the zorder advisor's entry).  At scale the same
    hv expression IS the repartitionByRange write key."""
    return _hilbert_layout_stats(spark, sf_dir)


@_q(
    "files_overlap_depth",
    f"""
    WITH {{ctes}},
    od AS (SELECT layout, dim, lo AS p, 1 AS dl FROM hpf
           UNION ALL SELECT layout, dim, hi + 1, -1 FROM hpf),
    og AS (SELECT layout, dim, p, sum(dl) AS d FROM od GROUP BY 1, 2, 3),
    oc AS (SELECT layout, dim,
                  sum(d) OVER (PARTITION BY layout, dim ORDER BY p)
                      AS depth
           FROM og),
    omx AS (SELECT layout, dim, CAST(max(depth) AS BIGINT)
                       AS max_overlap_depth
            FROM oc GROUP BY 1, 2),
    onf AS (SELECT layout, dim, CAST(count(*) AS BIGINT) AS n_files
            FROM hpf GROUP BY 1, 2)
    SELECT omx.layout, omx.dim, onf.n_files, omx.max_overlap_depth
    FROM omx JOIN onf ON onf.layout = omx.layout AND onf.dim = omx.dim
    """,
)
def files_overlap_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth audit — the WORST-CASE companion to the span
    advisors (span_sum prices the AVERAGE point lookup;
    ``max_overlap_depth`` is the most files any single point predicate
    can hit, the metric Delta-style clustering health checks report):
    per (layout, dimension), sweep every file's [min, max] key span as
    (+1 at lo, −1 at hi+1) deltas and take the running-sum maximum —
    the interval-stabbing depth of the file set, exactly (the
    evt_peak_concurrency sweep applied to file METADATA instead of
    session intervals).

    Scale notes (100 TB): the fact side pays the same one-pass
    explode/agg as the span audit; the sweep itself runs on ≤
    |files|·2 metadata rows per (layout, dim), window-partitioned by
    (layout, dim) — never global over data rows."""
    e = _hilbert_layout_frame(spark, sf_dir)
    stacked = e.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(layout_name).alias("layout"),
                        F.lit(dim).alias("dim"),
                        fcol.cast("long").alias("file_id"),
                        vcol.cast("long").alias("val"),
                    )
                    for layout_name, dim, fcol, vcol in [
                        ("hilbert", "partkey", F.col("fh"), F.col("x")),
                        ("hilbert", "suppkey", F.col("fh"), F.col("y")),
                        ("zorder", "partkey", F.col("fz"), F.col("x")),
                        ("zorder", "suppkey", F.col("fz"), F.col("y")),
                        ("ingestion", "partkey", F.col("fn"), F.col("x")),
                        ("ingestion", "suppkey", F.col("fn"), F.col("y")),
                    ]
                ]
            )
        ).alias("t")
    ).select("t.*")
    per_file = stacked.groupBy("layout", "dim", "file_id").agg(
        F.min("val").alias("lo"), F.max("val").alias("hi")
    ).localCheckpoint(eager=False)  # feeds the sweep AND the file count
    deltas = per_file.select(
        "layout",
        "dim",
        F.explode(
            F.array(
                F.struct(F.col("lo").alias("p"), F.lit(1).alias("dl")),
                F.struct(
                    (F.col("hi") + 1).alias("p"), F.lit(-1).alias("dl")
                ),
            )
        ).alias("t"),
    ).select("layout", "dim", "t.p", "t.dl")
    grouped = deltas.groupBy("layout", "dim", "p").agg(
        F.sum("dl").alias("d")
    )
    w = Window.partitionBy("layout", "dim").orderBy("p")
    depth = grouped.select(
        "layout", "dim", F.sum("d").over(w).alias("depth")
    )
    mx = depth.groupBy("layout", "dim").agg(
        F.max("depth").cast("long").alias("max_overlap_depth")
    )
    nf = per_file.groupBy("layout", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_files")
    )
    return mx.join(nf, ["layout", "dim"]).select(
        "layout", "dim", "n_files", "max_overlap_depth"
    )


ORACLE_SQL["files_overlap_depth"] = ORACLE_SQL["files_overlap_depth"].format(
    ctes=_hilbert_pruning_ctes()
)


def _hilbert_layout_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared per-row layout frame: (x, y) coordinates plus the
    row's file id under each of the three layouts (fh = hilbert,
    fz = z-order, fn = ingestion) — the engine twin of the
    ``_hilbert_pruning_ctes`` ``he`` CTE."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.expr("l_partkey % 256").alias("x"),
        F.expr("l_suppkey % 256").alias("y"),
        F.col("l_orderkey").alias("ok"),
    )
    h = layout.with_hilbert(li, "x", "y", out="hv", bits=8)
    z = h.withColumn("zv", layout.zvalue("x", "y", bits=8))
    s = z.agg((F.max("ok") + 1).alias("mo"))
    return z.crossJoin(F.broadcast(s)).select(
        "x",
        "y",
        F.expr("CAST(hv * 48 DIV 65536 AS BIGINT)").alias("fh"),
        F.expr("CAST(zv * 48 DIV 65536 AS BIGINT)").alias("fz"),
        F.expr(layout.range_bucket_sql("ok", "mo", 48)).alias("fn"),
    )


def _hilbert_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine half of the shared span audit (``_hilbert_pruning_ctes``
    twin): per (layout ∈ hilbert/zorder/ingestion, dim ∈ partkey/
    suppkey) file counts, span sums, and expected-files-hit bp."""
    e = _hilbert_layout_frame(spark, sf_dir)
    return layout.layout_pruning_stats(
        e,
        assignments=[
            ("hilbert", "partkey", F.col("fh"), F.col("x")),
            ("hilbert", "suppkey", F.col("fh"), F.col("y")),
            ("zorder", "partkey", F.col("fz"), F.col("x")),
            ("zorder", "suppkey", F.col("fz"), F.col("y")),
            ("ingestion", "partkey", F.col("fn"), F.col("x")),
            ("ingestion", "suppkey", F.col("fn"), F.col("y")),
        ],
        domains=["partkey", "suppkey"],
    )


@_q(
    "files_workload_layout_advisor",
    f"""
    WITH {_hilbert_pruning_ctes()},
    hbp AS (SELECT layout, dim,
                   span_sum * 10000 // (CASE WHEN dim = 'partkey'
                       THEN hd.dom_partkey ELSE hd.dom_suppkey END) AS bp
            FROM hpl, hd),
    hpv AS (SELECT layout,
                   max(CASE WHEN dim = 'partkey' THEN bp END) AS bp_part,
                   max(CASE WHEN dim = 'suppkey' THEN bp END) AS bp_supp
            FROM hbp GROUP BY layout),
    hct AS (SELECT layout, bp_part, bp_supp,
                   (70 * bp_part + 30 * bp_supp) // 100 AS total
            FROM hpv),
    hmn AS (SELECT layout AS m_layout, total AS m_total FROM hct
            ORDER BY total, layout LIMIT 1)
    SELECT layout,
           CAST(bp_part AS BIGINT) AS bp_partkey,
           CAST(bp_supp AS BIGINT) AS bp_suppkey,
           CAST(total AS BIGINT) AS total_cost_bp,
           total = m_total AND layout = m_layout AS chosen
    FROM hct, hmn
    """,
)
def files_workload_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORKLOAD-AWARE layout choice — the decision layer on top of the
    span audits: given the measured expected-files-hit bp per (layout,
    dimension) from the shared Hilbert/Z-order/ingestion audit
    (`files_hilbert_pruning` machinery, same builder on both engines)
    and a predicate-mix workload (70% partkey lookups / 30% suppkey —
    the weights a query-log profiler would supply), price each layout
    as the weighted expected scan fraction and CHOOSE the argmin
    (ties → layout name).  This is the advisor a nightly OPTIMIZE job
    actually consults: not "which curve is prettier" but "which
    physical order minimizes this table's real scan bill".

    Scale notes (100 TB): inherits the audit's one-pass shape (curve
    indexes are fused projections + one explode/agg); the weighting
    and argmin run on the ≤|layouts|-row rollup — a 1-row min-struct
    broadcast, no windows."""
    st = _hilbert_layout_stats(spark, sf_dir)
    pv = st.groupBy("layout").agg(
        F.max(
            F.when(F.col("dim") == "partkey", F.col("expected_files_hit_bp"))
        ).alias("bp_part"),
        F.max(
            F.when(F.col("dim") == "suppkey", F.col("expected_files_hit_bp"))
        ).alias("bp_supp"),
    )
    ct = pv.withColumn(
        "total", F.expr("(70 * bp_part + 30 * bp_supp) DIV 100")
    )
    mn = ct.agg(
        F.min(F.struct(F.col("total"), F.col("layout"))).alias("m")
    ).select(
        F.col("m.total").alias("m_total"), F.col("m.layout").alias("m_layout")
    )
    return ct.crossJoin(F.broadcast(mn)).select(
        "layout",
        F.col("bp_part").cast("long").alias("bp_partkey"),
        F.col("bp_supp").cast("long").alias("bp_suppkey"),
        F.col("total").cast("long").alias("total_cost_bp"),
        (
            (F.col("total") == F.col("m_total"))
            & (F.col("layout") == F.col("m_layout"))
        ).alias("chosen"),
    )


@_q(
    "mm_feature_extract",
    """
    WITH m AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS BIGINT) AS width,
             CAST(4 + (doc_id * 7) % 11 AS BIGINT) AS height,
             CASE WHEN doc_id % 2 = 0 THEN 'image/bmp'
                  ELSE 'image/x-portable-pixmap' END AS media_type
      FROM documents
    )
    SELECT m.doc_id, m.media_type, m.width, m.height,
           CAST(sum(CASE WHEN g.j % 3 = 0
                    THEN (m.doc_id*73 + (g.j//3)*7) % 256 END)
                AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN g.j % 3 = 1
                    THEN (m.doc_id*73 + (g.j//3)*7 + 151) % 256 END)
                AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN g.j % 3 = 2
                    THEN (m.doc_id*73 + (g.j//3)*7 + 302) % 256 END)
                AS BIGINT) AS sum_b,
           CAST(sum(((m.doc_id*73 + (g.j//3)*7 + (g.j%3)*151) % 256)
                    * (g.j+1)) AS BIGINT) AS weighted_checksum
    FROM m JOIN generate_series(0, 16*14*3 - 1) AS g(j)
      ON g.j < m.width * m.height * 3
    GROUP BY m.doc_id, m.media_type, m.width, m.height
    """,
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode inside the engine (round-6: the former
    byte-length stub is retired).  media_with_images encodes one
    actual image per document — uncompressed 24-bit BMP for even
    doc_ids, binary P6 PPM for odd — then extract_image_features
    parses the headers, normalizes bottom-up BGR padded BMP rows and
    top-down PPM rows to one (h, w, 3) RGB contract, and reduces the
    true pixel buffers to per-channel sums plus a position-weighted
    checksum sum(byte_j*(j+1)) that a row-order, channel-order, or
    padding bug cannot fake.  The pixel pattern is closed-form per
    byte, so DuckDB reproduces every feature WITHOUT any decoder: a
    Spark-side codec regression hash-fails this row.  The whole
    encode+decode pipeline is two Arrow crossings per batch
    (mapInPandas), vectorized numpy inside — the plumbing a PIL/vips
    decode drops into unchanged."""
    media = multimodal.media_with_images(_t(spark, sf_dir, "documents"))
    return multimodal.extract_image_features(media)


@_q(
    "mm_audio_features",
    """
    WITH m AS (SELECT doc_id,
                      CAST(256 + (doc_id * 13) % 512 AS BIGINT) AS n
               FROM documents),
    s AS (SELECT m.doc_id, m.n, g.i,
                 ((m.doc_id * 37 + g.i * 11) % 4001) - 2000 AS v
          FROM m JOIN generate_series(0, 766) AS g(i) ON g.i < m.n),
    w AS (SELECT *, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
          FROM s)
    SELECT doc_id,
           'audio/wav' AS media_type,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(max(n) AS BIGINT) AS n_samples,
           CAST(max(n) * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
           CAST(sum(v * v) AS BIGINT) AS energy,
           CAST(sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_crossings,
           CAST(sum(CASE WHEN abs(v) < 200 THEN 1 ELSE 0 END) * 10000
                // max(n) AS BIGINT) AS silence_bp
    FROM w GROUP BY doc_id
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode inside the engine — the audio leg of the
    multimodal family (images got their real codecs in round 6).
    media_with_audio encodes one actual PCM16 mono WAV per document
    (RIFF container, fmt+data chunks); extract_audio_features walks
    the chunk list, validates the profile, and reduces the true int16
    sample buffer to integer-exact curation features: duration, Σ|s|,
    energy Σs², strict-sign-flip zero crossings, and the silence
    ratio in basis points — the voice-activity and quality gates an
    audio pipeline filters on.  The waveform is closed-form per
    sample, so DuckDB reproduces every feature WITHOUT a decoder: a
    chunk-walk or byte-order regression in the Spark codec hash-fails
    this row.  Two Arrow crossings per batch (encode, decode+reduce),
    vectorized numpy inside — a soundfile/librosa call drops into the
    identical contract."""
    media = multimodal.media_with_audio(_t(spark, sf_dir, "documents"))
    return multimodal.extract_audio_features(media)


@_q(
    "gen_replicate_pipeline",
    """
    WITH r AS (SELECT CAST(i AS BIGINT) AS i,
                      md5('42|' || CAST(i AS VARCHAR)) AS h
               FROM range(0, 2000) t(i)),
    d AS (SELECT i,
            ((strpos('0123456789abcdef', h[1]) - 1) * 4096
             + (strpos('0123456789abcdef', h[2]) - 1) * 256
             + (strpos('0123456789abcdef', h[3]) - 1) * 16
             + (strpos('0123456789abcdef', h[4]) - 1)) AS v,
            strftime(TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 SECOND,
                     '%Y-%m-%dT%H:%M:%SZ') AS commit
          FROM r),
    g AS (SELECT ['kds-click','kds-view','kds-purchase','kds-signup',
                  'kds-error'][v % 5 + 1] AS streamName, commit FROM d)
    SELECT streamName, max(commit) AS lastReplicatedCommitTimestamp
    FROM g WHERE streamName IN ('kds-click', 'kds-view')
    GROUP BY streamName
    """,
)
def gen_replicate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication pipeline over the kds_generator custom Python
    DataSource (ignores sf_dir — the source is synthetic).  The
    generator is seed-deterministic (record #i is a pure md5 function
    of (seed, i) — sources/generator.py), so the oracle regenerates the
    stream in SQL from range(2000), replays the active-region gate
    (kds-click + kds-view active in us-east-1, kds-signup dropped as a
    duplicate config, kds-error unconfigured) and checks the per-stream
    checkpoint — end-to-end coverage of the DataSource + gate +
    checkpoint pipeline."""
    from ..sources.generator import register

    register(spark)
    env = (
        spark.read.format("kds_generator")
        .option("rows", 2000)
        .option("seed", 42)
        .load()
    )
    gated = replication.gate_active_region(
        replication.with_decoded(env), _config_df(spark), CURRENT_REGION
    )
    return replication.checkpoint(gated)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's smoke-check query: full replication pipeline."""
    return kr_replicated_records(spark, sf_dir)


@_q(
    "udf_broadcast_lookup",
    """
    SELECT n.n_name AS nation, count(*) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def udf_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-variable lookup inside an Arrow-batched pandas UDF: the
    nation dim is collected once, broadcast to executors, and mapped
    per-batch with pandas Series.map — the pattern for side-table lookups
    too irregular for a join (feature stores, tokenizer vocabs).  The
    oracle is the equivalent JOIN, proving the two formulations agree.
    (For a plain key→name map a broadcast JOIN is still preferred —
    see the scale note in the UDF body.)"""
    from ..operators.udfs import broadcast_map_udf

    n = _t(spark, sf_dir, "nation")
    mapping = {r.n_nationkey: r.n_name for r in n.collect()}  # O(|nation|)=25
    nation_name = broadcast_map_udf(spark.sparkContext.broadcast(mapping))
    c = _t(spark, sf_dir, "customer")
    return (
        c.withColumn("nation", nation_name(F.col("c_nationkey")))
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# Map-type functions + approximate distinct
# --------------------------------------------------------------------------


@_q(
    "fn_map_suite",
    """
    WITH g AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events WHERE user_id < 500 GROUP BY user_id, event_type
    )
    SELECT user_id,
           count(*) AS n_types,
           string_agg(event_type, ',' ORDER BY event_type) AS keys_csv,
           CAST(sum(n) AS BIGINT) AS total_events,
           coalesce(string_agg(CASE WHEN n >= 3 THEN event_type END, ','
                               ORDER BY event_type), '') AS frequent_csv,
           CAST(max(n * 2) AS BIGINT) AS doubled_max
    FROM g GROUP BY user_id
    """,
)
def fn_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type function surface: per user, build map<event_type, count>
    with map_from_entries, then size, sorted map_keys, aggregate over
    map_values, map_filter, and transform_values — every output flattened
    to engine-portable scalars (the oracle reproduces the semantics with
    ordered string_agg, proving the map ops compute the same facts).
    All map ops used are entry-order-insensitive, so the nondeterministic
    collect_list order is safe."""
    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 500)
    g = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = F.map_from_entries(F.collect_list(F.struct("event_type", "n")))
    return (
        g.groupBy("user_id")
        .agg(m.alias("m"))
        .select(
            "user_id",
            F.size("m").alias("n_types"),
            F.concat_ws(",", F.array_sort(F.map_keys("m"))).alias("keys_csv"),
            F.aggregate(
                F.map_values("m"), F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("total_events"),
            F.concat_ws(
                ",",
                F.array_sort(
                    F.map_keys(F.map_filter("m", lambda _k, v: v >= 3))
                ),
            ).alias("frequent_csv"),
            F.array_max(
                F.map_values(F.transform_values("m", lambda _k, v: v * 2))
            ).alias("doubled_max"),
        )
    )


@_q(
    "agg_approx_distinct",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           count(*) AS n_rows,
           true AS approx_users_within_5pct,
           true AS approx_events_within_5pct
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) next to the exact counts.
    An HLL estimate is engine-specific, so the raw sketch value can
    never hash-match a DuckDB oracle; instead the query emits the
    tolerance CLAIM as a boolean fact — |approx − exact| ≤ 5% of exact,
    at rsd=0.02 — and the oracle asserts it must be true for every
    group.  Spark's HLL is deterministic for a given dataset, so this
    is a stable, driver-checkable contract, and the exact counts in the
    same row keep the hash sensitive to the grouping itself."""
    e = _t(spark, sf_dir, "events")
    # Exact distincts and HLL sketches are aggregated SEPARATELY and
    # joined on the |event_type|-row result: mixing countDistinct with
    # approx_count_distinct in one agg forces Catalyst's Expand plan
    # (one projection per distinct key), which measured 3.1s at sf0.1
    # where the two clean aggregations + 5-row broadcast join run ~1s.
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_id").alias("exact_events"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    approx = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("au"),
        F.approx_count_distinct("event_id", rsd=0.02).alias("ae"),
    )
    return exact.join(F.broadcast(approx), "event_type").select(
        "event_type",
        "exact_users",
        "n_rows",
        (
            F.abs(F.col("au") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        ).alias("approx_users_within_5pct"),
        (
            F.abs(F.col("ae") - F.col("exact_events"))
            <= F.col("exact_events") * F.lit(0.05)
        ).alias("approx_events_within_5pct"),
    )


# --------------------------------------------------------------------------
# TPC-H Q2 / Q7 / Q9 shapes (adapted: no partsupp table in the fixture —
# lineitem is the part↔supplier bridge, p_retailprice the cost proxy)
# --------------------------------------------------------------------------


@_q(
    "tpch_q2_min_cost_supplier",
    """
    WITH eur AS (
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    costs AS (
        SELECT l.l_partkey, l.l_suppkey,
               min(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS supp_cost
        FROM lineitem l JOIN eur e ON e.s_suppkey = l.l_suppkey
        GROUP BY l.l_partkey, l.l_suppkey
    ),
    best AS (SELECT l_partkey, min(supp_cost) AS min_cost
             FROM costs GROUP BY l_partkey)
    SELECT p.p_partkey, p.p_name, e.s_name, e.n_name AS supp_nation,
           e.s_acctbal, CAST(c.supp_cost AS DOUBLE) AS supp_cost
    FROM part p
    JOIN best b ON b.l_partkey = p.p_partkey
    JOIN costs c ON c.l_partkey = p.p_partkey AND c.supp_cost = b.min_cost
    JOIN eur e ON e.s_suppkey = c.l_suppkey
    WHERE p.p_size <= 10 AND p.p_type = 'STANDARD'
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part argmin over a joined+filtered fact —
    the correlated-subquery-on-min pattern, decorrelated the way Catalyst
    would: an aggregate computing the per-part min joined back on
    (part, min).  Region-filtered supplier dim broadcasts; the min is an
    exact DECIMAL so the equality join key is engine-portable.

    The lineitem ⋈ eur join is planned by the SKETCH CATALOG
    (costmodel.plan_equijoin_from_catalog): Catalyst's static size
    estimator over-costs the supplier⋈nation⋈region build side, so the
    unhinted plan sort-merged (shuffling the whole fact) until AQE
    re-planned mid-query — the r6–r8 bench debt.  The catalog sketch
    PROVES |eur| ≤ |supplier| small, so the broadcast hint lands at
    static planning time; at a scale where |supplier| outgrows the
    threshold the same evidence withholds the hint and the SMJ fallback
    is correct.  The catalog is a per-sf scratch dir (cache-on-miss:
    first construction builds both grids once; afterwards planning
    costs two ≤4096-cell reads + a 1-row stats job — the fact is
    touched only by the join itself).  Stats are a HINT only: the
    joined values are identical under either strategy, so a stale
    sketch can never corrupt results."""
    import os
    import re as _re
    import tempfile

    from ..operators import costmodel

    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    )
    li = _t(spark, sf_dir, "lineitem")
    eur = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    catalog = os.path.join(
        tempfile.gettempdir(),
        "akr-sketch-catalog",
        _re.sub(r"\W+", "_", sf_dir.rstrip("/")),
    )
    planned, _stats = costmodel.plan_equijoin_from_catalog(
        eur.select("s_suppkey"),
        li,
        "s_suppkey",
        "l_suppkey",
        catalog,
        "supplier_europe",
        "lineitem",
    )
    costs = planned.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("supp_cost")
    )
    best = costs.groupBy("l_partkey").agg(F.min("supp_cost").alias("min_cost"))
    return (
        p.join(costs, p.p_partkey == costs.l_partkey)
        .join(
            best,
            (costs.l_partkey == best.l_partkey)
            & (costs.supp_cost == best.min_cost),
        )
        .join(eur, costs.l_suppkey == eur.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("n_name").alias("supp_nation"),
            "s_acctbal",
            F.col("supp_cost").cast("double").alias("supp_cost"),
        )
    )


@_q(
    "tpch_q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
               AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2')
      AND n2.n_name IN ('NATION_1', 'NATION_2')
      AND n1.n_name <> n2.n_name
      AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 6-way join with TWO roles for the nation dim and a
    cross-pair predicate — join-reordering pressure.  Both nation sides
    are pre-filtered to the two names BEFORE the join (the pushdown that
    matters at scale: the fact tables are then semi-filtered through two
    2-row broadcasts)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1995-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1998-01-01 00:00:00'"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(ep * (one - disc)).cast("double").alias("revenue"))
    )


@_q(
    "tpch_q9_product_profit",
    """
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
                    - CAST(p.p_retailprice AS DECIMAL(18,2))
                      * CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: 5-way join (two fact-sized sides: lineitem AND
    orders) + string filter on part + two-level group.  Profit uses
    p_retailprice·quantity as the supplycost stand-in (no partsupp
    fixture); all arithmetic in exact DECIMAL, one cast to DOUBLE after
    the sum."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    pr = F.col("p_retailprice").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(ep * (one - disc) - pr * qty).cast("double").alias("profit"))
    )


@_q(
    "tpch_q8_market_share",
    """
    WITH flat AS (
        SELECT year(o.o_orderdate) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(3,2))
                      - CAST(l.l_discount AS DECIMAL(18,2))) AS rev,
               ns.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = nc.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'AMERICA'
    )
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(sum(rev) AS DOUBLE) AS mkt_share
    FROM flat GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 7-way join with nation in two roles feeding a
    conditional-share ratio per year.  Exact decimal sums on both sides
    of ONE double division (the only float op, order-independent)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(3,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    rev = ep * (one - disc)
    flat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), c.c_nationkey == F.col("nc_key"))
        .join(F.broadcast(r), F.col("nc_region") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("ns_key"))
    )
    return (
        flat.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(zero)
                ).cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
    )


@_q(
    "tpch_q20_excess_shippers",
    """
    WITH shipped AS (
        SELECT l.l_suppkey,
               sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS q
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE '%red%' AND year(l.l_shipdate) = 1996
        GROUP BY l.l_suppkey
    ),
    tot AS (SELECT sum(q) AS total, count(*) AS n FROM shipped)
    SELECT s.s_name, s.s_acctbal, CAST(sh.q AS DOUBLE) AS shipped_qty
    FROM supplier s
    JOIN shipped sh ON sh.l_suppkey = s.s_suppkey
    CROSS JOIN tot
    WHERE sh.q * tot.n > tot.total
    """,
)
def tpch_q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: semi-join against an aggregated subquery with a
    scalar-aggregate threshold (above-average shippers of red parts in
    1996).  The comparison is cross-multiplied (q·n > Σq) so it stays in
    exact decimal/integer arithmetic — no float boundary flakiness."""
    li = _t(spark, sf_dir, "lineitem").where(F.year("l_shipdate") == 1996)
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    shipped = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
    )
    tot = shipped.agg(
        F.sum("q").alias("total"), F.count(F.lit(1)).alias("n")
    )
    return (
        s.join(shipped, s.s_suppkey == F.col("l_suppkey"))
        .join(F.broadcast(tot))
        .where(F.col("q") * F.col("n") > F.col("total"))
        .select(
            "s_name", "s_acctbal", F.col("q").cast("double").alias("shipped_qty")
        )
    )


# --------------------------------------------------------------------------
# Near-dup clustering: connected components over the candidate-pair graph
# --------------------------------------------------------------------------


@_q(
    "doc_neardup_clusters",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE.strip()},
    sig AS (SELECT doc_id, {_MINHASH_SIG} FROM sh GROUP BY doc_id),
    bands AS ({_MINHASH_BANDS}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.u
    )
    SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u
    """,
)
def doc_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH candidate-pair graph:
    (doc_id, cluster_id) for every doc in ≥1 pair, cluster id = min doc
    id in the component.  Spark side is iterative min-label propagation
    (operators/clustering.py); the oracle is DuckDB's recursive CTE
    flooding labels over the same edges."""
    pairs = dedup.minhash_lsh_candidate_pairs(
        _t(spark, sf_dir, "documents"), k_shingle=3, n_hashes=8, n_bands=4
    )
    return clustering.connected_components(pairs)


ORACLE_SQL["doc_dedup_keep_best"] = """
    WITH comp AS ({clusters}),
    q AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                 CAST(len(list_distinct(string_split(text, ' ')))
                      AS BIGINT) AS n_distinct_words
          FROM documents),
    lab AS (SELECT doc_id, n_words, n_distinct_words,
                   CASE WHEN n_words < 20 THEN 2
                        WHEN n_distinct_words * 4 < n_words THEN 1
                        ELSE 0 END AS label_rank
            FROM q),
    m AS (SELECT c.cluster_id, c.doc_id, l.label_rank,
                 l.n_distinct_words,
                 row_number() OVER (PARTITION BY c.cluster_id
                     ORDER BY l.label_rank ASC, l.n_distinct_words DESC,
                              c.doc_id ASC) AS r,
                 count(*) OVER (PARTITION BY c.cluster_id)
                     AS cluster_size
          FROM comp c JOIN lab l USING (doc_id))
    SELECT cluster_id, doc_id AS keeper_doc_id,
           CASE label_rank WHEN 0 THEN 'ok' WHEN 1 THEN 'repetitive'
                ELSE 'too_short' END AS keeper_label,
           CAST(n_distinct_words AS BIGINT) AS keeper_distinct_words,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(cluster_size - 1 AS BIGINT) AS n_dropped
    FROM m WHERE r = 1
    """.format(clusters=ORACLE_SQL["doc_neardup_clusters"])


def doc_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware KEEPER POLICY over near-dup clusters: instead of
    the min-id representative, each MinHash-LSH component keeps its
    highest-QUALITY member (quality_stats label rank ok < repetitive <
    too_short, then distinct-word count desc, then doc_id for a total
    order) — the policy real curation uses, since near-dup groups
    usually contain one clean original and N degraded copies.  Output
    is the per-cluster keeper + how many members drop.

    Scale notes: components from the band-bucketed pair graph (never
    all-pairs); quality features are one corpus map; the keeper pick
    is a cluster-partitioned window over |cluster| rows each — no
    global sort, no driver loop."""
    from ..operators.text import quality_stats

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidate_pairs(
        docs, k_shingle=3, n_hashes=8, n_bands=4
    )
    comp = clustering.connected_components(pairs)
    lab = quality_stats(docs).select(
        "doc_id",
        "n_distinct_words",
        F.when(F.col("quality_label") == "too_short", F.lit(2))
        .when(F.col("quality_label") == "repetitive", F.lit(1))
        .otherwise(F.lit(0))
        .alias("label_rank"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.asc("label_rank"), F.desc("n_distinct_words"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        comp.join(lab, "doc_id")
        .withColumn("r", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .where(F.col("r") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_doc_id"),
            F.when(F.col("label_rank") == 0, "ok")
            .when(F.col("label_rank") == 1, "repetitive")
            .otherwise("too_short")
            .alias("keeper_label"),
            F.col("n_distinct_words").cast("long").alias(
                "keeper_distinct_words"
            ),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            (F.col("cluster_size") - 1).cast("long").alias("n_dropped"),
        )
    )


QUERIES["doc_dedup_keep_best"] = doc_dedup_keep_best


@_q(
    "doc_holdout_leakage_rate",
    f"""
    WITH {_SHINGLE_CTE.strip()},
    sig AS (SELECT doc_id, {_MINHASH_SIG} FROM sh GROUP BY doc_id),
    bands AS ({_MINHASH_BANDS}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ),
    sp AS (SELECT doc_id, doc_id % 5 = 0 AS is_test FROM documents),
    lab AS (SELECT p.doc_a, p.doc_b, sa.is_test AS ta, sb.is_test AS tb
            FROM pairs p
            JOIN sp sa ON sa.doc_id = p.doc_a
            JOIN sp sb ON sb.doc_id = p.doc_b),
    leaked AS (SELECT DISTINCT CASE WHEN ta THEN doc_a ELSE doc_b END
                   AS doc_id
               FROM lab WHERE ta <> tb),
    tot AS (SELECT count(*) AS n_docs,
                   sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS n_test
            FROM sp),
    pcnt AS (SELECT count(*) AS n_neardup_pairs,
                    sum(CASE WHEN ta <> tb THEN 1 ELSE 0 END)
                        AS n_cross_split_pairs
             FROM lab),
    lcnt AS (SELECT count(*) AS n_leaked_test_docs FROM leaked)
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_test AS BIGINT) AS n_test,
           CAST(n_neardup_pairs AS BIGINT) AS n_neardup_pairs,
           CAST(n_cross_split_pairs AS BIGINT) AS n_cross_split_pairs,
           CAST(n_leaked_test_docs AS BIGINT) AS n_leaked_test_docs,
           CAST(n_leaked_test_docs * 10000 // greatest(n_test, 1)
                AS BIGINT) AS test_leak_rate_bp
    FROM tot, pcnt, lcnt
    """,
)
def doc_holdout_leakage_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout leakage RATE — the doc-level complement to
    doc_split_leakage_audit (which reports pair counts per fold pair):
    a random (hash/modulus) split ignores near-duplicates, so a test
    doc whose near-twin sits in train leaks the answer.  The split
    here is ``doc_id % 5 == 0`` → test; candidate near-dup pairs come
    from the SAME MinHash-LSH machinery as doc_neardup_clusters
    (shared CTE constants keep this oracle in lockstep by
    construction); the audit reports cross-split near-dup pairs AND
    the number that gates a release: distinct test docs with ≥1 train
    near-twin, as a rate in bp ("re-split along cluster boundaries"
    when it's nonzero — doc_neardup_clusters gives the boundaries).

    Scale notes (100 TB): band-bucket equi-join candidates only (never
    all-pairs); the split labels ride two hash joins on doc_id; the
    three 1-row summary aggregates cross-combine (allowlisted scalar
    BNLJ).  No windows."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidate_pairs(
        docs, k_shingle=3, n_hashes=8, n_bands=4
    )
    sp = docs.select(
        "doc_id", (F.col("doc_id") % 5 == 0).alias("is_test")
    )
    lab = (
        pairs.join(
            sp.select(
                F.col("doc_id").alias("doc_a"), F.col("is_test").alias("ta")
            ),
            "doc_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("doc_b"), F.col("is_test").alias("tb")
            ),
            "doc_b",
        )
        # labeled candidate pairs (4 skinny cols, band-bucket scale —
        # the doc_neardup_rate_by_source pin class) feed BOTH the leaked
        # set and the pair counts; unpinned, the whole MinHash-LSH pair
        # generation runs twice
        .localCheckpoint(eager=False)
    )
    leaked = (
        lab.where(F.col("ta") != F.col("tb"))
        .select(
            F.when(F.col("ta"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id")
        )
        .distinct()
    )
    tot = sp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("is_test"), 1).otherwise(0)).alias("n_test"),
    )
    pcnt = lab.agg(
        F.count(F.lit(1)).alias("n_neardup_pairs"),
        F.sum(F.when(F.col("ta") != F.col("tb"), 1).otherwise(0)).alias(
            "n_cross_split_pairs"
        ),
    )
    lcnt = leaked.agg(F.count(F.lit(1)).alias("n_leaked_test_docs"))
    return (
        tot.crossJoin(pcnt)
        .crossJoin(lcnt)
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_test").cast("long").alias("n_test"),
            F.col("n_neardup_pairs").cast("long").alias("n_neardup_pairs"),
            F.col("n_cross_split_pairs")
            .cast("long")
            .alias("n_cross_split_pairs"),
            F.col("n_leaked_test_docs")
            .cast("long")
            .alias("n_leaked_test_docs"),
            F.expr(
                "CAST(n_leaked_test_docs * 10000 DIV greatest(n_test, 1) "
                "AS BIGINT)"
            ).alias("test_leak_rate_bp"),
        )
    )


def cdc_neardup_cluster_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental maintenance of the near-dup cluster labeling
    (clustering.fold_components): the base corpus (doc_id mod 10 < 8)
    is clustered once; the delta shard's signatures then PROBE the
    stored band index (delta bands ⋈ all bands — only pairs touching a
    delta doc are generated, the historical corpus is never re-paired),
    and the new edges fold into the old labels through the contracted
    star graph.  The oracle computes from-scratch CC over the FULL
    candidate-pair graph — pinning fold == scratch under the value
    hash, including the hard case where one delta doc bridges two old
    components and both must re-canonicalize to the global min id.

    Scale notes: the delta probe is an equi-join on (band, bucket)
    keyed by the delta side; the fold re-enters history as |nodes|
    star edges of diameter ≤ 2, so convergence is bounded by the NEW
    chain length, not the historical graph."""
    docs = _t(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % 10 >= 8
    base_pairs = dedup.minhash_lsh_candidate_pairs(
        docs.where(~is_delta), k_shingle=3, n_hashes=8, n_bands=4
    )
    base_cc = clustering.connected_components(base_pairs)
    # the stored index: band rows for the whole corpus (base rows were
    # written at base time; delta rows appended by the delta scan)
    sig = dedup.minhash_signatures(docs, k_shingle=3, n_hashes=8)
    sig = sig.localCheckpoint(eager=False)
    all_bands = dedup.minhash_band_buckets(
        signatures=sig, n_hashes=8, n_bands=4
    )
    delta_bands = all_bands.where(is_delta)
    a, b = delta_bands.alias("a"), all_bands.alias("b")
    delta_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    return clustering.fold_components(base_cc, delta_pairs)


QUERIES["cdc_neardup_cluster_maintenance"] = cdc_neardup_cluster_maintenance
# fold == from-scratch: the oracle is the full-graph recursive-CTE CC,
# byte-identical to doc_neardup_clusters' (shared text, not a copy)
ORACLE_SQL["cdc_neardup_cluster_maintenance"] = ORACLE_SQL[
    "doc_neardup_clusters"
]


@_q(
    "cdc_corpus_refresh_delta",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE.strip()},
    sig AS (SELECT doc_id, {_MINHASH_SIG} FROM sh GROUP BY doc_id),
    bands AS MATERIALIZED ({_MINHASH_BANDS}),
    pairs AS MATERIALIZED (
        -- MATERIALIZED (and on every edge CTE below): inlining would
        -- recompute the shingle->minhash->band self-join chain once per
        -- REFERENCE and once per recursive-CC iteration -- measured 78GB
        -- of DuckDB temp spill at the sf1 rung before these hints
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ),
    bpairs AS (SELECT doc_a, doc_b FROM pairs
               WHERE doc_a % 10 < 8 AND doc_b % 10 < 8),
    dpairs AS (SELECT doc_a, doc_b FROM pairs
               WHERE doc_a % 10 >= 8 OR doc_b % 10 >= 8),
    bedges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM bpairs
               UNION SELECT doc_b, doc_a FROM bpairs),
    breach(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM bedges) n
        UNION
        SELECT e.v, r.lbl FROM breach r JOIN bedges e ON e.u = r.u
    ),
    bcc AS (SELECT u AS doc_id, min(lbl) AS cluster_id
            FROM breach GROUP BY u),
    aedges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
               UNION SELECT doc_b, doc_a FROM pairs),
    areach(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM aedges) n
        UNION
        SELECT e.v, r.lbl FROM areach r JOIN aedges e ON e.u = r.u
    ),
    acc AS (SELECT u AS doc_id, min(lbl) AS cluster_id
            FROM areach GROUP BY u),
    blab AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS lbl
             FROM documents d LEFT JOIN bcc c ON c.doc_id = d.doc_id
             WHERE d.doc_id % 10 < 8),
    alab AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS lbl
             FROM documents d LEFT JOIN acc c ON c.doc_id = d.doc_id),
    pb AS (SELECT lbl, min(doc_id) AS doc_id FROM blab
           WHERE doc_id % 5 <> 0 GROUP BY lbl),
    pa AS (SELECT lbl, min(doc_id) AS doc_id FROM alab
           WHERE doc_id % 5 <> 0 GROUP BY lbl),
    added AS (SELECT a.doc_id, a.lbl FROM pa a
              LEFT JOIN pb b ON b.doc_id = a.doc_id
              WHERE b.doc_id IS NULL),
    retr AS (SELECT b.doc_id, b.lbl FROM pb b
             LEFT JOIN pa a ON a.doc_id = b.doc_id
             WHERE a.doc_id IS NULL),
    delta AS (SELECT doc_id, 'added' AS change, lbl AS cluster_id
              FROM added
              UNION ALL
              SELECT doc_id, 'retracted', lbl FROM retr),
    summ AS (SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM pb) AS n_published_before,
        (SELECT CAST(count(*) AS BIGINT) FROM pa) AS n_published_after,
        (SELECT CAST(count(*) AS BIGINT) FROM added) AS n_added,
        (SELECT CAST(count(*) AS BIGINT) FROM retr) AS n_retracted,
        (SELECT CAST(count(*) AS BIGINT) FROM documents
         WHERE doc_id % 10 >= 8) AS n_delta_docs,
        (SELECT CAST(count(*) AS BIGINT) FROM dpairs) AS n_delta_pairs)
    SELECT d.doc_id, d.change, d.cluster_id,
           s.n_published_before, s.n_published_after, s.n_added,
           s.n_retracted, s.n_delta_docs, s.n_delta_pairs
    FROM delta d CROSS JOIN summ s
    """,
)
def cdc_corpus_refresh_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CORPUS REFRESH — the nightly "what changed" job
    (the r10 verdict ask #8) composing the CDC cluster-maintenance
    fold with a re-publication delta: the delta shard (doc_id mod 10
    ≥ 8) probes the stored MinHash band index
    (cdc_neardup_cluster_maintenance's probe — only pairs touching a
    delta doc are generated), the new edges fold into the base
    labeling (clustering.fold_components), and publication — one doc
    per near-dup cluster: the min non-test member (test = doc_id mod
    5 = 0, the holdout convention) — is recomputed on the folded
    labels and DIFFED against the base publication.  Output = one row
    per publication change ('added' docs newly published — delta docs
    accepted, or base docs promoted when the fold re-shapes a cluster
    — and 'retracted' docs a delta near-twin dethroned; cluster_id is
    the after-label for added rows, the before-label for retracted),
    crossed with the refresh manifest (published before/after, adds,
    retracts, delta size, probe-pair count).  The oracle recomputes
    both labelings from scratch (two recursive-CTE CC passes), so the
    hash pins fold == scratch AND the diff logic.

    Scale notes (100 TB): signatures + band index computed ONCE and
    shared by the base-pair derivation and the delta probe (per-doc
    signatures are corpus-independent, so base pairs = band collisions
    among base docs); both CC passes run on candidate pairs (band
    equi-joins, never all-pairs), the fold re-enters history as
    |nodes| star edges; publication is one hash-agg per labeling and
    the diff two anti-joins on doc_id.  The manifest cross is the
    allowlisted 1-row scalar broadcast."""
    docs = _t(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % 10 >= 8
    sig = dedup.minhash_signatures(
        docs, k_shingle=3, n_hashes=8
    ).localCheckpoint(eager=False)
    bands = dedup.minhash_band_buckets(
        signatures=sig, n_hashes=8, n_bands=4
    ).localCheckpoint(eager=False)  # shared: base pairs + delta probe
    bb = bands.where(~is_delta)
    a, b = bb.alias("a"), bb.alias("b")
    base_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    da, ab = bands.where(is_delta).alias("a"), bands.alias("b")
    delta_pairs = (
        da.join(
            ab,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds the fold AND the manifest
    )
    base_cc = clustering.connected_components(base_pairs)
    folded = clustering.fold_components(base_cc, delta_pairs)
    blab = (
        docs.where(~is_delta)
        .select("doc_id")
        .join(base_cc, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_id", "doc_id").alias("lbl")
        )
    )
    alab = (
        docs.select("doc_id")
        .join(folded, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_id", "doc_id").alias("lbl")
        )
    )
    pb = (
        blab.where(F.col("doc_id") % 5 != 0)
        .groupBy("lbl")
        .agg(F.min("doc_id").alias("doc_id"))
        .localCheckpoint(eager=False)  # feeds diff + manifest count
    )
    pa = (
        alab.where(F.col("doc_id") % 5 != 0)
        .groupBy("lbl")
        .agg(F.min("doc_id").alias("doc_id"))
        .localCheckpoint(eager=False)
    )
    added = pa.join(pb.select("doc_id"), "doc_id", "left_anti")
    retr = pb.join(pa.select("doc_id"), "doc_id", "left_anti")
    added = added.localCheckpoint(eager=False)
    retr = retr.localCheckpoint(eager=False)
    delta = added.select(
        "doc_id", F.lit("added").alias("change"), F.col("lbl").alias("cluster_id")
    ).unionByName(
        retr.select(
            "doc_id",
            F.lit("retracted").alias("change"),
            F.col("lbl").alias("cluster_id"),
        )
    )
    summary = (
        pb.agg(F.count(F.lit(1)).cast("long").alias("n_published_before"))
        .crossJoin(
            pa.agg(
                F.count(F.lit(1)).cast("long").alias("n_published_after")
            )
        )
        .crossJoin(added.agg(F.count(F.lit(1)).cast("long").alias("n_added")))
        .crossJoin(
            retr.agg(F.count(F.lit(1)).cast("long").alias("n_retracted"))
        )
        .crossJoin(
            docs.where(is_delta).agg(
                F.count(F.lit(1)).cast("long").alias("n_delta_docs")
            )
        )
        .crossJoin(
            delta_pairs.agg(
                F.count(F.lit(1)).cast("long").alias("n_delta_pairs")
            )
        )
    )
    return delta.crossJoin(F.broadcast(summary))


@_q(
    "pipeline_corpus_curation_v2",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE.strip()},
    q AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' ')) AS n_words,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents
    ),
    quality AS (
        SELECT doc_id, lang, text FROM q
        WHERE n_words >= 20 AND n_distinct * 4 >= n_words
    ),
    exact_kept AS (
        SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
    ),
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 50),
    shc AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
    near_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    edges_raw AS (
        SELECT doc_a, doc_b FROM near_pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_inter * 1000 >= 300 * (sa.n_sh + sb.n_sh - n_inter)
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM edges_raw
        UNION SELECT doc_b, doc_a FROM edges_raw
    ),
    reach(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.u
    ),
    cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u),
    dropped AS (SELECT doc_id FROM cc WHERE doc_id <> cluster_id),
    kept AS (
        SELECT k.doc_id FROM exact_kept k
        WHERE k.doc_id NOT IN (SELECT doc_id FROM dropped)
    )
    SELECT d.lang, count(*) AS n_docs,
           CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens,
           min(d.doc_id) AS first_doc
    FROM kept JOIN documents d ON d.doc_id = kept.doc_id
    GROUP BY d.lang
    """,
)
def pipeline_corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v1 upgraded with CLUSTER-based near-dup removal: quality
    filter → exact dedup → capped n-gram Jaccard (≥0.3) pair graph →
    connected components → keep only each component's min-doc_id
    representative → per-language token accounting.  Unlike v1's
    drop-every-doc_b rule, clustering is transitive: in a star
    a—c, b—c (a<b<c) it drops b AND c, not just c."""
    docs = _t(spark, sf_dir, "documents")
    ok = (
        text.quality_stats(docs).where(F.col("quality_label") == "ok").select("doc_id")
    )
    quality = docs.join(ok, "doc_id", "left_semi")
    exact_kept = quality.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    edges = dedup.ngram_jaccard_pairs(
        docs, k_shingle=3, threshold=0.3, max_shingle_df=50
    )
    cc = clustering.connected_components(edges)
    dropped = cc.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    kept = exact_kept.select("doc_id").join(dropped, "doc_id", "left_anti")
    return (
        kept.join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H batch 3 (round 2): Q10/Q12/Q15/Q17/Q19/Q21/Q22 shapes.  The
# fixture schema is a reduced TPC-H (no partsupp; no l_shipmode /
# l_commitdate / l_receiptdate / c_phone / p_container), so each query
# keeps the REFERENCE SHAPE — the join/subquery/predicate structure the
# optimizer must handle — with documented stand-in columns.
# --------------------------------------------------------------------------


@_q(
    "tpch_q10_returned_items",
    """
    WITH rev AS (
        SELECT o.o_custkey,
               sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev_dec
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= DATE '1996-01-01'
          AND o.o_orderdate < DATE '1996-04-01'
        GROUP BY o.o_custkey
    )
    SELECT c.c_custkey, c.c_name, CAST(r.rev_dec AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM rev r
    JOIN customer c ON c.c_custkey = r.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    QUALIFY row_number() OVER (ORDER BY r.rev_dec DESC, c.c_custkey) <= 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer over one
    quarter, top 20.  The top-20 cut is ``orderBy().limit(20)`` —
    Catalyst plans it as TakeOrderedAndProject (per-partition partial
    top-20, merge at the driver), so no single-partition sort of the
    full per-customer agg ever materializes; the tie-break on
    c_custkey + exact DECIMAL revenue keeps the cut deterministic in
    both engines."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(ep * (F.lit(1) - disc)).alias("rev_dec"))
    )
    return (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .orderBy(F.desc("rev_dec"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("rev_dec").cast("double").alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


@_q(
    "tpch_q12_late_priority",
    """
    SELECT l.l_linestatus AS ship_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= DATE '1997-01-01'
      AND l.l_shipdate < DATE '1998-01-01'
    GROUP BY l.l_linestatus
    """,
)
def tpch_q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + conditional aggregation (the
    CASE-inside-SUM pivot on order priority).  l_linestatus stands in for
    the absent l_shipmode; the shipdate year filter prunes the lineitem
    scan before the join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


@_q(
    "tpch_q15_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
    FROM supplier s
    JOIN rev r ON r.l_suppkey = s.s_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate-as-view + scalar-max subquery over the
    same view.  The quarter revenue aggregate is computed once and
    self-referenced: Spark joins it against its own 1-row max (broadcast),
    exactly how Catalyst decorrelates the scalar subquery.  Exact DECIMAL
    revenue makes the max-equality engine-portable."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(ep * (F.lit(1) - disc)).alias("total_rev")
    )
    best = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(best), rev.total_rev == best.max_rev)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_rev"),
        )
    )


@_q(
    "tpch_q17_small_qty_revenue",
    """
    WITH pt AS (
        SELECT p_partkey FROM part WHERE p_brand = 'Brand#23' AND p_size <= 5
    ),
    stats AS (
        SELECT l.l_partkey,
               sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS sum_qty,
               count(*) AS n_li
        FROM lineitem l JOIN pt ON pt.p_partkey = l.l_partkey
        GROUP BY l.l_partkey
    )
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
               AS avg_yearly
    FROM lineitem l
    JOIN pt ON pt.p_partkey = l.l_partkey
    JOIN stats st ON st.l_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * st.n_li < st.sum_qty
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated avg-quantity subquery (qty < 0.2 ·
    avg per part), decorrelated into a per-part aggregate joined back to
    the fact.  The 0.2·avg comparison is done in exact integer/decimal
    cross-multiplied form (qty·5·n < Σqty) — no float division on the
    filter path.  p_size stands in for the absent p_container."""
    pt = (
        _t(spark, sf_dir, "part")
        .where((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 5))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    fact = li.join(pt, li.l_partkey == pt.p_partkey)
    stats = fact.groupBy(F.col("l_partkey").alias("sk")).agg(
        F.sum(qty).alias("sum_qty"), F.count(F.lit(1)).alias("n_li")
    )
    return (
        fact.join(stats, fact.l_partkey == stats.sk)
        .where(qty * 5 * F.col("n_li") < F.col("sum_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / 7.0
            ).alias("avg_yearly")
        )
    )


@_q(
    "tpch_q19_bracket_revenue",
    """
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive (OR-of-brackets) join predicate mixing
    columns from both sides.  Catalyst splits the common p_partkey
    equi-key out of the OR so the join stays hash-based, and pushes the
    per-side residuals (brand/size; quantity) below the join — the
    pattern Q19 exists to test.  p_size/l_quantity stand in for the
    absent container/shipmode legs."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(bracket)
        .agg(F.sum(ep * (F.lit(1) - disc)).cast("double").alias("revenue"))
    )


@_q(
    "tpch_q21_waiting_supplier",
    """
    WITH fo AS (
        SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
    ),
    lif AS (
        SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, fo.o_orderdate
        FROM lineitem l JOIN fo ON fo.o_orderkey = l.l_orderkey
    ),
    late AS (
        SELECT * FROM lif WHERE l_shipdate > o_orderdate + INTERVAL 365 DAY
    ),
    per_order AS (
        SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp
        FROM lif GROUP BY l_orderkey
    ),
    late_per_order AS (
        SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_late_supp
        FROM late GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late
    JOIN per_order po ON po.l_orderkey = late.l_orderkey AND po.n_supp > 1
    JOIN late_per_order lp
         ON lp.l_orderkey = late.l_orderkey AND lp.n_late_supp = 1
    JOIN supplier s ON s.s_suppkey = late.l_suppkey
    GROUP BY s.s_name
    """,
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    multi-supplier finished order.  The classic EXISTS (another supplier)
    / NOT EXISTS (another late supplier) pair is decorrelated into ONE
    pass over the fact: aggregate late-row counts per (order, supplier),
    roll up per order (supplier count, late-supplier count, and — via a
    conditional struct-max — the identity and row count of the lone late
    supplier), filter, and broadcast-join the supplier dim.  Lineitem is
    scanned once (the previous formulation scanned it three times: the
    late rows plus both per-order aggregates) and the only shuffled data
    is the (order, supplier)-grouped rollup, not fact rows.  "Late" is
    l_shipdate > o_orderdate + 365d (no l_commitdate/l_receiptdate in
    the fixture)."""
    fo = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    lif = li.join(fo, li.l_orderkey == fo.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")
        ).alias("is_late"),
    )
    per_os = lif.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.col("is_late").cast("long")).alias("n_late_rows")
    )
    # n_late_supp == 1 below guarantees the struct-max picks THE late
    # supplier, so no second join back to the fact is needed
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum((F.col("n_late_rows") > 0).cast("long")).alias("n_late_supp"),
        F.max(
            F.when(
                F.col("n_late_rows") > 0,
                F.struct("l_suppkey", "n_late_rows"),
            )
        ).alias("late"),
    )
    return (
        per_order.where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .select(F.col("late.l_suppkey"), F.col("late.n_late_rows"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").cast("bigint").alias("numwait"))
    )


@_q(
    "tpch_q22_global_sales_opportunity",
    """
    WITH sel AS (
        SELECT substr(c_name, 17, 1) AS cntrycode, c_custkey, c_acctbal
        FROM customer
        WHERE substr(c_name, 17, 1) IN ('1', '2', '3', '4', '6', '8')
    ),
    posavg AS (
        SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum,
               count(*) AS bal_n
        FROM sel WHERE c_acctbal > 0
    )
    SELECT s.cntrycode, CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(s.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM sel s, posavg a
    WHERE CAST(s.c_acctbal AS DECIMAL(18,2)) * a.bal_n > a.bal_sum
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = s.c_custkey
            AND o.o_orderdate >= DATE '2000-01-01'
      )
    GROUP BY s.cntrycode
    """,
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-avg subquery + anti-join on recent orders,
    grouped by country code.  The code is a digit of the zero-padded
    customer number (no c_phone in the fixture); "above average" is the
    exact cross-multiplied form bal·n > Σbal (no float division on the
    filter path); customers with orders since 2000-01-01 are removed with
    a left-anti join — Catalyst's NOT EXISTS plan."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= "2000-01-01")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    sel = c.select(
        F.substring("c_name", 17, 1).alias("cntrycode"), "c_custkey", "c_acctbal"
    ).where(F.col("cntrycode").isin("1", "2", "3", "4", "6", "8"))
    posavg = sel.where(F.col("c_acctbal") > 0).agg(
        F.sum(bal).alias("bal_sum"), F.count(F.lit(1)).alias("bal_n")
    )
    return (
        sel.crossJoin(F.broadcast(posavg))
        .where(bal * F.col("bal_n") > F.col("bal_sum"))
        .join(o, sel.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# Training-data pipeline (round 2): deterministic sampling, sequence
# packing, benchmark decontamination, SimHash hamming near-dup.
# --------------------------------------------------------------------------


@_q(
    "doc_stratified_sample",
    """
    SELECT doc_id, lang, source FROM documents
    WHERE substr(md5(text), 1, 4) <
          CASE lang WHEN 'en' THEN '4000' WHEN 'zh' THEN '8000'
                    ELSE 'ffff' END
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus rebalancing: downsample dominant
    languages (en→25%, zh→50%) by comparing an md5 prefix of the TEXT
    against a per-stratum hex threshold.  Pure map-side filter — no
    shuffle, no RNG state, stable under re-runs and repartitioning;
    identical texts sample identically.  (The ≈1.0 'ffff' default drops
    1/65536 of rows — the price of the portable string compare.)"""
    from ..operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, {"en": 0.25, "zh": 0.5}).select(
        "doc_id", "lang", "source"
    )


@_q(
    "doc_reservoir_sample",
    """
    WITH r AS (SELECT doc_id, lang, md5(text) AS h,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY md5(text), doc_id)
                          AS sample_rank
               FROM documents)
    SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM r WHERE sample_rank <= 20
    """,
)
def doc_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per language via bottom-k content
    hashes — the deterministic, mergeable distributed equivalent of a
    reservoir sample (operators/sampling.py).  doc_id breaks hash ties
    so duplicate texts rank identically in both engines (the r9 skew
    finding)."""
    from ..operators.sampling import bottom_k_sample

    docs = _t(spark, sf_dir, "documents")
    return bottom_k_sample(docs, k=20, stratum_col="lang").select(
        "doc_id", "lang", "sample_rank"
    )


@_q(
    "doc_weighted_sample",
    """
    WITH p AS (SELECT doc_id, n_chars,
                      CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
                      // greatest(1, n_chars) AS priority,
                      text
               FROM documents),
    r AS (SELECT doc_id, n_chars, priority,
                 row_number() OVER (ORDER BY priority, text) AS sample_rank
          FROM p)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(priority AS BIGINT) AS priority,
           CAST(sample_rank AS BIGINT) AS sample_rank
    FROM r WHERE sample_rank <= 100
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic sample without replacement:
    priority = hash₆₀(text) div n_chars, keep the 100 smallest —
    integer-exact A-ES analogue; plan is map-side priority +
    TakeOrderedAndProject (operators/sampling.py)."""
    from ..operators.sampling import weighted_priority_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_priority_sample(
        docs, k=100, weight_col="n_chars"
    ).select("doc_id", "n_chars", "priority", "sample_rank")


@_q(
    "doc_kfold_assign",
    """
    SELECT doc_id,
           CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 5 AS fold
    FROM documents
    """,
)
def doc_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold split: fold = content-hash mod k.  Pure
    map-side, reproducible, duplicate texts land in the same fold (so
    leakage-free CV even pre-dedup)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT) % 5"
        ).alias("fold"),
    )


@_q(
    "doc_pack_sequences",
    """
    WITH t AS (
        SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT lang, doc_id, n_tokens,
               CAST(COALESCE(sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM t
    )
    SELECT lang, cum_before // 512 AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY lang, cum_before // 512
    """,
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: documents fill 512-token training
    bins greedily in doc_id order within each language.  One integer
    prefix-sum window per stratum; bin assignment is a deterministic
    function of (lang, doc_id) so packing is reproducible/restartable.
    Returns per-bin accounting."""
    from ..operators.sampling import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), token_budget=512)


@_q(
    "doc_contamination_check",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    shraw AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 3, 0) + 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
                   AS shingle
        FROM toks
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM shraw),
    bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0),
    tsh AS (SELECT * FROM sh WHERE doc_id % 37 <> 0),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM tsh GROUP BY doc_id),
    hits AS (
        SELECT doc_id, count(*) AS n_matched FROM tsh
        WHERE shingle IN (SELECT shingle FROM bsh) GROUP BY doc_id
    )
    SELECT h.doc_id, CAST(h.n_matched AS BIGINT) AS n_matched,
           CAST(s.n_sh AS BIGINT) AS n_sh,
           (h.n_matched * 1000) // s.n_sh AS contamination_milli
    FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
    """,
)
def doc_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    4-gram with the held-out benchmark slice (doc_id ≡ 0 mod 37 stands in
    for an eval set).  The benchmark shingle set broadcasts, so the scan
    side never shuffles — the 100 TB plan is a map-side semi-join + one
    per-doc count.  Production would use longer n-grams (8-13); k=4 keeps
    the 500-doc fixture signal non-trivial."""
    from ..operators.dedup import benchmark_contamination

    docs = _t(spark, sf_dir, "documents")
    return benchmark_contamination(
        docs.where(F.col("doc_id") % 37 != 0),
        docs.where(F.col("doc_id") % 37 == 0),
        k_shingle=4,
    )


_SIMHASH64_BITS_SQL = " || ".join(
    f"CASE WHEN len(list_filter({arr}, h -> substr(h, {p+1}, 1) >= '8')) * 2 "
    f"> len({arr}) THEN '1' ELSE '0' END"
    for arr in ("hs0", "hs1")
    for p in range(32)
)

_HAMMING64_SQL = " + ".join(
    f"CASE WHEN substr(sa, {p+1}, 1) <> substr(sb, {p+1}, 1) THEN 1 ELSE 0 END"
    for p in range(64)
)

@_q(
    "doc_simhash_neardup_pairs",
    f"""
    WITH h AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '), t -> md5(t)) AS hs0,
               list_transform(string_split(text, ' '), t -> md5('1|' || t)) AS hs1
        FROM documents
    ),
    f AS (SELECT doc_id, {_SIMHASH64_BITS_SQL} AS simhash FROM h),
    bands AS (
        SELECT doc_id, simhash, b.band_id,
               substr(simhash, b.band_id * 16 + 1, 16) AS bucket
        FROM f, (VALUES (0), (1), (2), (3)) b(band_id)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sa, b.simhash AS sb
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.bucket = b.bucket
                     AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST({_HAMMING64_SQL} AS INTEGER) AS hamming
    FROM cand WHERE {_HAMMING64_SQL} <= 3
    """,
)
def doc_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs at Hamming distance ≤ 3 (the Manku
    et al. WWW'07 configuration), found via 4-band pigeonhole buckets:
    any pair within distance 3 must agree on one of the four 16-bit
    bands, so the band equi-join has EXACT recall (unlike probabilistic
    LSH) and cost Σ bucket², never N²."""
    from ..operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(
        _t(spark, sf_dir, "documents"), n_bands=4, max_hamming=3
    )


@_q(
    "tpch_q11_important_stock",
    """
    WITH val AS (
        SELECT l.l_partkey,
               sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * CAST(l.l_quantity AS DECIMAL(18,2))) AS part_value
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_7'
        GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
    FROM val
    WHERE part_value * 1000 > (SELECT sum(part_value) FROM val)
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value share vs a scalar total over the
    SAME aggregate (HAVING against a fraction-of-total subquery).  The
    per-part aggregate is computed once; its grand total (1 row)
    broadcasts back as the threshold.  lineitem price·qty stands in for
    partsupp supplycost·availqty (no partsupp fixture); the exact
    DECIMAL cross-multiply (value·1000 > total) avoids float division
    on the filter path."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    val = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_quantity").cast("decimal(18,2)")
            ).alias("part_value")
        )
    )
    total = val.agg(F.sum("part_value").alias("grand_total"))
    return (
        val.crossJoin(F.broadcast(total))
        .where(F.col("part_value") * 1000 > F.col("grand_total"))
        .select(
            "l_partkey", F.col("part_value").cast("double").alias("part_value")
        )
    )


@_q(
    "pipeline_corpus_curation_v3",
    """
    WITH q AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' ')) AS n_words,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents WHERE doc_id % 37 <> 0
    ),
    quality AS (
        SELECT doc_id, lang, text FROM q
        WHERE n_words >= 20 AND n_distinct * 4 >= n_words
    ),
    btoks AS (
        SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 37 = 0
    ),
    bsh AS (
        SELECT DISTINCT unnest(list_transform(
            range(1, greatest(len(t) - 3, 0) + 1),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
            AS shingle
        FROM btoks
    ),
    ttoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM quality),
    tshraw AS (
        SELECT doc_id, unnest(list_transform(
            range(1, greatest(len(t) - 3, 0) + 1),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
            AS shingle
        FROM ttoks
    ),
    tsh AS (SELECT DISTINCT doc_id, shingle FROM tshraw),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM tsh GROUP BY doc_id),
    hits AS (
        SELECT doc_id, count(*) AS n_matched FROM tsh
        WHERE shingle IN (SELECT shingle FROM bsh) GROUP BY doc_id
    ),
    contaminated AS (
        SELECT h.doc_id FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
        WHERE (h.n_matched * 1000) // s.n_sh >= 100
    ),
    clean AS (
        SELECT * FROM quality
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    sampled AS (
        SELECT * FROM clean
        WHERE substr(md5(text), 1, 4) <
              CASE lang WHEN 'en' THEN '8000' ELSE 'ffff' END
    ),
    tk AS (
        SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM sampled
    ),
    c AS (
        SELECT lang, doc_id, n_tokens,
               CAST(COALESCE(sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM tk
    ),
    b AS (
        SELECT lang, cum_before // 512 AS bin_id,
               count(*) AS n_docs, sum(n_tokens) AS bin_tokens
        FROM c GROUP BY lang, cum_before // 512
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
           CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens
    FROM b GROUP BY lang
    """,
)
def pipeline_corpus_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data flow as ONE composed DataFrame plan:
    quality gate → benchmark decontamination (drop docs ≥10% 4-gram
    overlap with the held-out slice) → deterministic stratified
    downsampling (en→50%) → 512-token sequence packing → per-language
    bin accounting.  No materialization between stages; the only
    shuffles are the contamination count, the packing window, and the
    final aggregate — everything else is map-side."""
    from ..operators.dedup import benchmark_contamination
    from ..operators.sampling import pack_sequences, stratified_sample

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    train = docs.where(F.col("doc_id") % 37 != 0)
    ok = (
        text.quality_stats(train)
        .where(F.col("quality_label") == "ok")
        .select("doc_id")
    )
    quality = train.join(ok, "doc_id", "left_semi")
    contaminated = (
        benchmark_contamination(quality, bench, k_shingle=4)
        .where(F.col("contamination_milli") >= 100)
        .select("doc_id")
    )
    clean = quality.join(contaminated, "doc_id", "left_anti")
    sampled = stratified_sample(clean, {"en": 0.5})
    bins = pack_sequences(sampled, token_budget=512)
    return bins.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("bin_tokens").cast("bigint").alias("total_tokens"),
        F.max("bin_tokens").cast("bigint").alias("max_bin_tokens"),
    )


@_q(
    "doc_balanced_sample",
    """
    WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT min(n) AS mn FROM cnt),
    thr AS (
        SELECT lang, printf('%04x', least(65535, (m.mn * 65536) // n)) AS t
        FROM cnt, m
    )
    SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           min(d.doc_id) AS first_doc, max(d.doc_id) AS last_doc
    FROM documents d JOIN thr ON thr.lang = d.lang
    WHERE substr(md5(d.text), 1, 4) < thr.t
    GROUP BY d.lang
    """,
)
def doc_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain rebalancing: every language downsampled to ≈ the minority
    language's count, with the per-stratum rate DERIVED IN-PLAN from the
    count aggregate (exact integer floor → %04x hex threshold → md5
    prefix compare).  No driver collect, no RNG — the mixture is a pure
    function of the corpus."""
    from ..operators.sampling import balanced_sample

    return (
        balanced_sample(_t(spark, sf_dir, "documents"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@_q(
    "evt_gapfill_hourly",
    """
    WITH b AS (
        SELECT event_type, date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events GROUP BY event_type
    ),
    s AS (
        SELECT event_type,
               unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        FROM b
    ),
    c AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    )
    SELECT s.event_type, strftime(s.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
    FROM s LEFT JOIN c ON c.event_type = s.event_type AND c.bucket = s.bucket
    """,
)
def evt_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (the hypertable ``time_bucket_gapfill``
    shape): per event type, generate the full hourly bucket series
    between its first and last event with ``sequence()`` + explode, then
    left-join the real counts and zero-fill the holes.  The series
    generator is driven by a tiny per-type bounds aggregate, so the
    explode is |types| × |hours| — never a scan blowup."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    series = bounds.select(
        "event_type",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        series.join(counts, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


@_q(
    "evt_sliding_distinct_users",
    """
    WITH e AS (SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                          // 3600000000 AS eh,
                      user_id
               FROM events),
    x AS (SELECT DISTINCT eh + o.o AS h, user_id
          FROM e, unnest(range(0, 6)) AS o(o)),
    sl AS (SELECT h, count(*) AS sliding_users_6h FROM x GROUP BY h),
    base AS (SELECT eh, count(DISTINCT user_id) AS hourly_users
             FROM e GROUP BY eh)
    SELECT base.eh AS epoch_hour,
           CAST(hourly_users AS BIGINT) AS hourly_users,
           CAST(sliding_users_6h AS BIGINT) AS sliding_users_6h
    FROM base JOIN sl ON sl.h = base.eh
    """,
)
def evt_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT sliding-window distinct count — per hour, the distinct
    users active in the 6-hour window ENDING at that hour, alongside
    the plain hourly distinct.  Distinct-over-overlapping-windows
    cannot be rolled up from per-hour distincts (users repeat), so the
    engine rewrite is the canonical one Structured Streaming uses for
    sliding windows: each event replicates to every window it belongs
    to (a BOUNDED ×6 fanout), then one DISTINCT + count per window —
    never a per-window rescan, never a window function.  Emitted only
    for hours that themselves have events (trailing ghost windows
    dropped via the equi-join with the hourly rollup).

    Scale notes (100 TB): fanout is windows-per-event = 6 (constant);
    the DISTINCT is one shuffle keyed (window, user) — the same key
    the count then folds map-side.  For wide windows where ×W fanout
    hurts, the HLL-merge path (agg_hll_sketch_union) is the documented
    approximate alternative; this is the exact one."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) DIV 3600000000").alias("eh"), "user_id"
    )
    x = (
        e.select(
            F.explode(
                F.sequence(F.col("eh"), F.col("eh") + 5)
            ).alias("h"),
            "user_id",
        )
        .distinct()
    )
    sl = x.groupBy("h").agg(
        F.count(F.lit(1)).alias("sliding_users_6h")
    )
    base = e.groupBy("eh").agg(
        F.count_distinct("user_id").alias("hourly_users")
    )
    return base.join(sl, base.eh == sl.h).select(
        F.col("eh").alias("epoch_hour"),
        F.col("hourly_users").cast("long").alias("hourly_users"),
        F.col("sliding_users_6h").cast("long").alias("sliding_users_6h"),
    )


@_q(
    "fn_string_agg",
    """
    SELECT c.c_nationkey,
           array_to_string(list_sort(list_distinct(list(c.c_mktsegment))), ',')
               AS segments,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c GROUP BY c.c_nationkey
    """,
)
def fn_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg shape): the
    engine-portable form is collect_set → sort_array → array_join, which
    is deterministic regardless of row arrival order — the property a
    naive string_agg lacks under distributed execution."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
            "segments"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
    )


@_q(
    "evt_range_frame_sum",
    """
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           CAST(count(*) OVER w AS BIGINT) AS n_10m,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_10m
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        RANGE BETWEEN 600 PRECEDING AND CURRENT ROW
    )
    """,
)
def evt_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window over event time: per user, rolling 10-minute
    count and exact-decimal sum.  The frame is keyed on epoch SECONDS
    (floor) in both engines — Spark's rangeBetween needs a numeric
    ordering key, and flooring keeps the two engines' frame boundaries
    bit-identical (DuckDB's native INTERVAL frame would include
    microseconds)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_10m"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("sum_10m"),
    )


@_q(
    "cdc_merge_upsert",
    """
    WITH tgt AS (
        SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer
    ),
    src AS (
        SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2))
               + CAST(100 AS DECIMAL(18,2)) AS bal
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 100000, CAST(99.99 AS DECIMAL(18,2))
        FROM customer WHERE c_custkey % 100 = 0
    )
    SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
           CAST(COALESCE(s.bal, t.bal) AS DOUBLE) AS bal,
           CASE WHEN s.c_custkey IS NULL THEN 'kept'
                WHEN t.c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_action
    FROM tgt t FULL OUTER JOIN src s ON s.c_custkey = t.c_custkey
    """,
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE INTO (CDC upsert): a deterministic change set (+100
    balance updates for every 10th customer, synthetic inserts for every
    100th) merged into the customer snapshot — update-when-matched,
    insert-when-not-matched, keep the rest, with the per-row MERGE
    verdict.  One full-outer shuffle on the merge key, exactly the plan
    Delta/Iceberg compile MERGE into."""
    from ..operators.merge import merge_upsert

    c = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    tgt = c.select("c_custkey", bal.alias("bal"))
    src = (
        c.where(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey", (bal + F.lit(100).cast("decimal(18,2)")).alias("bal")
        )
        .unionAll(
            c.where(F.col("c_custkey") % 100 == 0).select(
                (F.col("c_custkey") + 100000).alias("c_custkey"),
                F.lit("99.99").cast("decimal(18,2)").alias("bal"),
            )
        )
    )
    return merge_upsert(tgt, src, "c_custkey", with_action=True).select(
        "c_custkey", F.col("bal").cast("double").alias("bal"), "merge_action"
    )


@_q(
    "graph_pagerank",
    """
    WITH e AS (SELECT DISTINCT l_orderkey % 1000 AS src,
                               l_partkey % 1000 AS dst
               FROM lineitem WHERE l_orderkey % 1000 <> l_partkey % 1000),
    nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
    nn AS (SELECT count(*) AS n FROM nodes),
    od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    b AS (SELECT id, (1000000000000 // nn.n) AS base_r
          FROM nodes CROSS JOIN nn),
    r0 AS (SELECT id, base_r AS r FROM b),
    c1 AS (SELECT e.dst AS id, sum(r0.r // od.outdeg) AS c
           FROM e JOIN r0 ON e.src = r0.id JOIN od ON e.src = od.src
           GROUP BY e.dst),
    r1 AS (SELECT b.id,
                  ((15 * b.base_r) // 100) + ((85 * coalesce(c1.c, 0)) // 100)
                      AS r
           FROM b LEFT JOIN c1 USING (id)),
    c2 AS (SELECT e.dst AS id, sum(r1.r // od.outdeg) AS c
           FROM e JOIN r1 ON e.src = r1.id JOIN od ON e.src = od.src
           GROUP BY e.dst),
    r2 AS (SELECT b.id,
                  ((15 * b.base_r) // 100) + ((85 * coalesce(c2.c, 0)) // 100)
                      AS r
           FROM b LEFT JOIN c2 USING (id)),
    c3 AS (SELECT e.dst AS id, sum(r2.r // od.outdeg) AS c
           FROM e JOIN r2 ON e.src = r2.id JOIN od ON e.src = od.src
           GROUP BY e.dst),
    r3 AS (SELECT b.id,
                  ((15 * b.base_r) // 100) + ((85 * coalesce(c3.c, 0)) // 100)
                      AS r
           FROM b LEFT JOIN c3 USING (id))
    SELECT id, CAST(r AS BIGINT) AS rank_q FROM r3
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (3 rounds, d=0.85) over a derived
    order→part graph — the iterative-join algorithm shape; oracle is the
    same recurrence unrolled as chained CTEs (operators/graph.py)."""
    from ..operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 1000).alias("src"),
        (F.col("l_partkey") % 1000).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return pagerank(edges, n_iter=3)


@_q(
    "cdc_position_deletes",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_live,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM orders WHERE o_orderkey % 97 <> 0
    GROUP BY o_orderstatus
    """,
)
def cdc_position_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read soft delete via position deletion vectors: the
    delete set is recorded as (file_path, row_index) — the Delta/Iceberg
    DV shape — and the read survives rows by broadcast anti-join on
    position, never rewriting the base files.  Oracle expresses the same
    survivors at the key level."""
    from ..operators.merge import position_deletes, read_with_deletes

    o = _t(spark, sf_dir, "orders")
    dv = position_deletes(o, F.col("o_orderkey") % 97 == 0)
    live = read_with_deletes(o, dv)
    return live.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@_q(
    "agg_grouping_sets",
    """
    SELECT coalesce(o_orderpriority, '(all)') AS priority,
           coalesce(o_orderstatus, '(all)') AS status,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (disjoint per-dimension marginals + grand
    total in one pass) with grouping() disambiguation — the multi-
    grouping shape rollup/cube don't cover.  Expressed through the SQL
    interface, like a BI tool would issue it."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("akr_gs_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderpriority, '(all)') AS priority,
               coalesce(o_orderstatus, '(all)') AS status,
               CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                    AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM akr_gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


# --------------------------------------------------------------------------
# Function-library widening (round 2): JSON, regexp, bitwise suites.
# --------------------------------------------------------------------------


@_q(
    "fn_json_suite",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           json_extract_string(props, '$.missing') AS k_missing,
           coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), -1)
               AS k_or_default,
           to_json(struct_pack(event_id := event_id,
                               k := CAST(json_extract_string(props, '$.k')
                                         AS BIGINT))) AS rewrapped
    FROM events
    """,
)
def fn_json_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON function sweep over the events ``props``
    column: path extraction (string + cast), missing-path null
    semantics, defaulting, and re-serialization (from_json → struct →
    to_json round trip; Spark and DuckDB agree on compact encoding)."""
    ev = _t(spark, sf_dir, "events")
    k_int = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        k_int.alias("k_int"),
        F.get_json_object("props", "$.missing").alias("k_missing"),
        F.coalesce(k_int, F.lit(-1)).alias("k_or_default"),
        F.to_json(F.struct(F.col("event_id"), k_int.alias("k"))).alias("rewrapped"),
    )


@_q(
    "fn_regexp_suite",
    """
    SELECT event_id,
           regexp_extract(props, '([0-9]+)', 1) AS first_num,
           regexp_extract(props, '(zzz-never)', 1) AS no_match,
           regexp_replace(props, '[0-9]', '#', 'g') AS masked,
           regexp_matches(props, '"k": [0-9]+') AS has_k,
           len(regexp_extract_all(event_type, '[aeiou]')) AS n_vowels
    FROM events
    """,
)
def fn_regexp_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp function sweep: group extraction, no-match → empty string
    (both engines), replace-all (Spark's default == DuckDB's 'g' flag),
    boolean match, and match counting via extract_all."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", r"([0-9]+)", 1).alias("first_num"),
        F.regexp_extract("props", r"(zzz-never)", 1).alias("no_match"),
        F.regexp_replace("props", "[0-9]", "#").alias("masked"),
        F.col("props").rlike('"k": [0-9]+').alias("has_k"),
        F.size(F.regexp_extract_all("event_type", F.lit("[aeiou]"), 0)).alias(
            "n_vowels"
        ),
    )


@_q(
    "fn_bitwise_suite",
    """
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id | 7 AS or7,
           xor(event_id, user_id) AS ux,
           CAST(user_id << 3 AS BIGINT) AS shl3,
           event_id >> 2 AS shr2,
           bit_count(event_id) AS pop,
           ~user_id AS neg
    FROM events
    """,
)
def fn_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator sweep (and/or/xor/shifts/popcount/not) — the
    primitives behind the engine's own hash-partition, bloom, and
    simhash arithmetic."""
    ev = _t(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    return ev.select(
        "event_id",
        eid.bitwiseAND(F.lit(255)).alias("low_byte"),
        eid.bitwiseOR(F.lit(7)).alias("or7"),
        eid.bitwiseXOR(uid).alias("ux"),
        F.shiftleft(uid, 3).cast("bigint").alias("shl3"),
        F.shiftright(eid, 2).alias("shr2"),
        F.bit_count(eid).alias("pop"),
        F.bitwise_not(uid).alias("neg"),
    )


_DQ_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


@_q(
    "dq_profile_orders",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_s,
           CAST(max({c}) AS VARCHAR) AS max_s
    FROM orders
    """
        for c in _DQ_PROFILE_COLS
    ),
)
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profiler (operators/profiling.py:profile_table):
    per-column completeness, exact cardinality, and min/max — one wide
    aggregation + stack, never a scan per column."""
    from ..operators.profiling import profile_table

    return profile_table(_t(spark, sf_dir, "orders"), _DQ_PROFILE_COLS)


@_q(
    "dq_check_orders",
    """
    WITH w AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END)
                    AS BIGINT) AS v_price,
               CAST(sum(CASE WHEN NOT (o_orderstatus IN ('O','F','P'))
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
               CAST(sum(CASE WHEN NOT (o_custkey IS NOT NULL)
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_custkey,
               CAST(sum(CASE WHEN NOT
                        (o_orderdate >= TIMESTAMP '1990-01-01')
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_date
        FROM orders
    )
    SELECT t.rule_name, w.n_rows, t.n_violations,
           CAST(CASE WHEN t.n_violations = 0 THEN 1 ELSE 0 END AS INTEGER)
               AS passed
    FROM w, LATERAL (VALUES
        ('positive_price', v_price), ('status_domain', v_status),
        ('custkey_not_null', v_custkey), ('date_in_range', v_date))
        t(rule_name, n_violations)
    """,
)
def dq_check_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style expectation suite (operators/profiling.py:check_rules):
    four boolean rules over orders evaluated as summed flags in ONE scan,
    emitted one row per rule with violation counts."""
    from ..operators.profiling import check_rules

    return check_rules(
        _t(spark, sf_dir, "orders"),
        {
            "positive_price": "o_totalprice > 0",
            "status_domain": "o_orderstatus IN ('O','F','P')",
            "custkey_not_null": "o_custkey IS NOT NULL",
            "date_in_range": "o_orderdate >= TIMESTAMP '1990-01-01'",
        },
    )


@_q(
    "dq_referential_orders_customer",
    """
    SELECT 'orders_custkey_in_customer' AS rule_name,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS n_violations,
           CAST(CASE WHEN (SELECT count(*) FROM orders o
                           WHERE NOT EXISTS (SELECT 1 FROM customer c
                                             WHERE c.c_custkey = o.o_custkey))
                          = 0
                THEN 1 ELSE 0 END AS INTEGER) AS passed
    """,
)
def dq_referential_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity expectation
    (operators/profiling.py:check_referential): orphaned orders.o_custkey
    counted with a broadcast LEFT ANTI join against the distinct
    dimension keys."""
    from ..operators.profiling import check_referential

    return check_referential(
        _t(spark, sf_dir, "orders"),
        "o_custkey",
        _t(spark, sf_dir, "customer"),
        "c_custkey",
        "orders_custkey_in_customer",
    )


@_q(
    "udf_arrow_byte_stats",
    """
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(len(text) AS BIGINT) AS n_chars,
           CAST(len(text) - len(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
           CAST(len(text) - len(replace(text, 'a', '')) AS BIGINT) AS n_a
    FROM documents
    """,
)
def udf_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow byte accounting (operators/udfs.py:arrow_byte_stats):
    RecordBatch → pyarrow kernels → RecordBatch, no pandas round-trip —
    the fourth Python-crossing shape next to scalar/grouped/cogrouped
    pandas UDFs."""
    from ..operators.udfs import arrow_byte_stats

    return arrow_byte_stats(_t(spark, sf_dir, "documents"))


@_q(
    "fn_variant_suite",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS v_k,
           json_extract_string(props, '$.k') AS v_k_str,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS v_missing,
           CAST(json_extract('{"arr":[' || json_extract_string(props, '$.k')
                    || ',' || CAST(CAST(json_extract_string(props, '$.k')
                                        AS BIGINT) * 2 AS VARCHAR) || ']}',
                '$.arr[1]') AS BIGINT) AS v_arr_1
    FROM events
    """,
)
def fn_variant_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type over schema-on-read JSON: ``parse_json`` once,
    then typed ``variant_get`` path extraction (scalar, string, missing
    path → null, nested array index).  VARIANT keeps the parsed binary
    form across the projection — one parse per row versus one per
    ``get_json_object`` call, the Spark-4 upgrade path for the JSON
    suite.  Oracle mirrors with DuckDB JSON extraction (same typed
    results; VARIANT is Spark-side representation, not semantics)."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "long")
    arr = F.parse_json(
        F.concat(
            F.lit('{"arr":['),
            k.cast("string"),
            F.lit(","),
            (k * 2).cast("string"),
            F.lit("]}"),
        )
    )
    return ev.select(
        "event_id",
        k.alias("v_k"),
        F.try_variant_get(v, "$.k", "string").alias("v_k_str"),
        F.try_variant_get(v, "$.missing", "long").alias("v_missing"),
        F.try_variant_get(arr, "$.arr[1]", "long").alias("v_arr_1"),
    )


@_q(
    "fn_try_errors",
    """
    WITH e AS (
        SELECT event_id, value,
               json_extract_string(props, '$.k') AS k_str,
               event_id % 3 AS d3, event_id % 2 AS d2
        FROM events
    )
    SELECT event_id,
           CASE WHEN d3 = 0 THEN NULL ELSE value / d3 END AS safe_div,
           TRY_CAST(CASE WHEN d2 = 0 THEN k_str ELSE k_str || 'x' END
                    AS BIGINT) AS safe_cast,
           CASE WHEN d2 = 1 THEN NULL
                ELSE 9223372036854775807 END AS safe_add_max,
           coalesce(TRY_CAST(k_str AS BIGINT), -1) AS cast_or_default
    FROM e
    """,
)
def fn_try_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe function family: ``try_divide`` (÷0 → null),
    ``try_cast`` (malformed → null), ``try_add`` (int64 overflow → null)
    — the functions that keep a 100 TB job from dying on one bad row
    while ANSI SQL mode stays on.  Oracle mirrors each null-production
    rule with explicit CASE (DuckDB's TRY_CAST matches; its ÷0 and
    overflow raise, so the CASE spells out when Spark yields null).
    spread() parallelizes the per-row JSON probes past the single-file
    fixture scan (3.3× measured; no-op on real multi-file data)."""
    ev = spread(_t(spark, sf_dir, "events"))
    k_str = F.get_json_object("props", "$.k")
    d3 = F.col("event_id") % 3
    d2 = F.col("event_id") % 2
    return ev.select(
        "event_id",
        F.try_divide(F.col("value"), d3).alias("safe_div"),
        F.when(d2 == 0, k_str)
        .otherwise(F.concat(k_str, F.lit("x")))
        .try_cast("bigint")
        .alias("safe_cast"),
        F.try_add(F.lit(9223372036854775807), d2).alias("safe_add_max"),
        F.coalesce(k_str.try_cast("bigint"), F.lit(-1)).alias("cast_or_default"),
    )


@_q(
    "corr_lateral_topn",
    """
    SELECT n.n_name, t.c_name, t.c_acctbal_c
    FROM nation n,
    LATERAL (SELECT c_name,
                    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                        AS c_acctbal_c
             FROM customer c WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal_c DESC, c_name LIMIT 2) t
    """,
)
def corr_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-outer-row ORDER BY/LIMIT —
    top-2 customers per nation through the lateral-join planner path
    (DecorrelateInnerQuery), not a window function.  Submitted as SQL
    text like sql_interface_region_revenue; Catalyst rewrites the
    correlation to a ranked join under the hood."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ["nation", "customer"])
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal_c
        FROM nation n,
        LATERAL (SELECT c_name,
                        CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                            AS c_acctbal_c
                 FROM customer c WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal_c DESC, c_name LIMIT 2) t
        """
    )


@_q(
    "evt_anomaly_sigma",
    """
    WITH ev AS (
        SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    st AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(sum(cents * cents) AS BIGINT) AS q
        FROM ev GROUP BY event_type
    )
    SELECT ev.event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN
                    (CAST(n AS HUGEINT) * CAST(cents AS HUGEINT)
                        - CAST(s AS HUGEINT))
                  * (CAST(n AS HUGEINT) * CAST(cents AS HUGEINT)
                        - CAST(s AS HUGEINT))
                  > 9 * (CAST(n AS HUGEINT) * CAST(q AS HUGEINT)
                         - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(max(s) AS BIGINT) AS sum_cents,
           CAST(max(s) AS BIGINT) // CAST(max(n) AS BIGINT) AS mean_cents
    FROM ev JOIN st USING (event_type)
    GROUP BY ev.event_type
    """,
)
def evt_anomaly_sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3σ anomaly counts per event type with denominators cleared so the
    whole comparison is exact integer arithmetic
    (operators/stats.py:sigma_outlier_counts) — DECIMAL(38,0) vs HUGEINT
    for the ~10²¹ squares."""
    from ..operators.stats import sigma_outlier_counts

    return sigma_outlier_counts(_t(spark, sf_dir, "events"))


@_q(
    "text_gopher_rules",
    """
    WITH w AS (
        SELECT doc_id, lang, source, string_split(text, ' ') AS words
        FROM documents
    ),
    b AS (
        SELECT doc_id, lang, source,
               CAST(len(words) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(words, t -> len(t))) AS BIGINT)
                   AS sum_wlen,
               CAST(len(list_filter(words,
                        t -> regexp_matches(t, '^[a-z]+$'))) AS BIGINT)
                   AS n_alpha_words,
               CAST(len(list_filter(words,
                        t -> t IN ('the','a','of','to','and','in'))) AS BIGINT)
                   AS n_stopwords
        FROM w
    )
    SELECT doc_id, lang, source, n_words, sum_wlen, n_alpha_words,
           n_stopwords,
           (sum_wlen * 100) // n_words AS mean_wlen_x100,
           CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                      AND (sum_wlen * 100) // n_words BETWEEN 300 AND 1000
                      AND n_alpha_words * 100 >= n_words * 80
                      AND n_stopwords >= 2
                THEN 1 ELSE 0 END AS INTEGER) AS gopher_pass
    FROM b
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule filter signals + pass flag
    (operators/text.py:gopher_quality) — integer-exact heuristics from
    Rae et al. 2021 over one materialized token array."""
    return text.gopher_quality(_t(spark, sf_dir, "documents"))


@_q(
    "text_char_bigram_score",
    """
    WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) >= 2),
    e AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(text) - 1),
                                     i -> substr(text, i, 2))) AS bg
        FROM d
    ),
    c AS (SELECT bg, CAST(count(*) AS BIGINT) AS bg_count FROM e GROUP BY bg)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(bg_count) AS BIGINT) AS familiarity,
           CAST(sum(bg_count) AS BIGINT) // CAST(count(*) AS BIGINT)
               AS familiarity_per_bigram
    FROM e JOIN c USING (bg)
    GROUP BY doc_id
    """,
)
def text_char_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained char-bigram familiarity scoring
    (operators/text.py:char_bigram_scores) — the frequency stand-in for
    LM-perplexity quality filtering; train agg → broadcast → score."""
    return text.char_bigram_scores(_t(spark, sf_dir, "documents"))


@_q(
    "doc_mixture_weights",
    """
    WITH g AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n_docs,
           CAST(sum(n_docs) OVER () AS BIGINT) AS total_docs,
           CAST(count(*) OVER () AS BIGINT) AS n_strata,
           (CAST(sum(n_docs) OVER () AS BIGINT) * 1000000)
               // (CAST(count(*) OVER () AS BIGINT) * n_docs) AS weight_ppm
    FROM g
    """,
)
def doc_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weight table (operators/sampling.py:mixture_weights):
    ppm resampling weight per (lang, source) stratum toward a uniform
    target mixture; the unpartitioned window runs over |strata| rows
    only, never the corpus."""
    from ..operators.sampling import mixture_weights

    return mixture_weights(_t(spark, sf_dir, "documents"))


@_q(
    "emb_int8_quantize",
    """
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    m AS (
        SELECT vec_id, label, qv,
               greatest(list_max(list_transform(qv, x -> abs(x))),
                        CAST(1 AS BIGINT)) AS maxabs
        FROM q
    ),
    c AS (
        SELECT vec_id, label, maxabs,
               list_transform(qv,
                   x -> (CASE WHEN x < 0 THEN -1 ELSE 1 END)
                        * ((abs(x) * 127) // maxabs)) AS q8
        FROM m
    )
    SELECT vec_id, label, CAST(maxabs AS BIGINT) AS maxabs_q,
           CAST(list_sum(q8) AS BIGINT) AS q8_sum,
           CAST(list_min(q8) AS BIGINT) AS q8_min,
           CAST(list_max(q8) AS BIGINT) AS q8_max,
           md5(array_to_string(q8, ',')) AS q8_md5
    FROM c
    """,
)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (functions/vectors.py:quantize_int8):
    per-vector max-abs scale, sign-split integer math so Spark and DuckDB
    floor identically; output is the code vector's md5 plus summary
    stats.  Narrow per-row map — no shuffle; at 100 TB this is the
    compression pass before ANN index build (4× smaller than float32)."""
    from ..functions.vectors import quantize_embedding, quantize_int8

    e = _t(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id", "label", quantize_embedding(F.col("embedding")).alias("qv")
    )
    m = q.select(
        "vec_id",
        "label",
        "qv",
        F.greatest(
            F.array_max(F.transform("qv", F.abs)), F.lit(1).cast("long")
        ).alias("maxabs"),
    )
    c = m.select(
        "vec_id",
        "label",
        "maxabs",
        quantize_int8(F.col("qv"), F.col("maxabs")).alias("q8"),
    )
    return c.select(
        "vec_id",
        "label",
        F.col("maxabs").alias("maxabs_q"),
        F.aggregate("q8", F.lit(0).cast("long"), lambda a, x: a + x).alias("q8_sum"),
        F.array_min("q8").alias("q8_min"),
        F.array_max("q8").alias("q8_max"),
        F.md5(
            F.array_join(F.transform("q8", lambda x: x.cast("string")), ",")
        ).alias("q8_md5"),
    )


_SPAN8_MD5_SQL = (
    "md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || "
    "t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])"
)


@_q(
    "doc_dup_spans",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sp AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 7, 0) + 1),
                   i -> {_SPAN8_MD5_SQL})) AS span_hash
        FROM toks
    )
    SELECT span_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           min(doc_id) AS first_doc
    FROM sp GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2
    """,
)
def doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate spans (operators/dedup.py:duplicate_spans):
    8-token windows repeated across ≥2 documents — the span-dedup signal
    (boilerplate/templates) that document-level dedup misses.  One
    explode + one map-side-combinable hash aggregation; no pairwise
    join, so a million-doc-frequency span is still one output row."""
    from ..operators.dedup import duplicate_spans

    return duplicate_spans(_t(spark, sf_dir, "documents"), k_tokens=8)


@_q(
    "doc_dup_span_fraction",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sp AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 7, 0) + 1),
                   i -> {_SPAN8_MD5_SQL})) AS span_hash
        FROM toks
    ),
    dfc AS (
        SELECT span_hash, count(DISTINCT doc_id) AS span_df
        FROM sp GROUP BY span_hash
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN span_df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
           CAST((sum(CASE WHEN span_df >= 2 THEN 1 ELSE 0 END) * 1000)
               // count(*) AS BIGINT) AS dup_milli
    FROM sp JOIN dfc USING (span_hash)
    GROUP BY doc_id
    """,
)
def doc_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction
    (operators/dedup.py:span_dup_fraction) — the curation gate built on
    doc_dup_spans: spans exploded once, corpus span-DF aggregated, joined
    back on the span hash (shuffle reused), one per-doc aggregate;
    integer-exact milli ratio."""
    from ..operators.dedup import span_dup_fraction

    return span_dup_fraction(_t(spark, sf_dir, "documents"), k_tokens=8)


@_q(
    "doc_chunk_overlap",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
        SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 32)) AS st
        FROM t
    )
    SELECT doc_id,
           CAST((st - 1) // 32 AS BIGINT) AS chunk_id,
           CAST(len(list_slice(toks, st, st + 63)) AS BIGINT) AS n_tokens,
           md5(array_to_string(list_slice(toks, st, st + 63), ' '))
               AS chunk_hash
    FROM s
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/text.py:chunk_documents):
    64-token chunks every 32 tokens via sequence+explode+slice — narrow,
    JVM-only, shuffle-free; chunk ids are a pure function of the input
    (idempotent re-chunking)."""
    from ..operators.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=64, stride=32
    )


@_q(
    "doc_domain_cap",
    """
    WITH r AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id
               ) AS group_rank
        FROM documents
    )
    SELECT doc_id, source, n_chars, CAST(group_rank AS BIGINT) AS group_rank
    FROM r WHERE group_rank <= 50
    """,
)
def doc_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (operators/sampling.py:cap_per_group):
    keep the 50 largest docs per source with a deterministic doc_id
    tiebreak — the C4/RefinedWeb-style per-domain cap that stops one
    mega-site from dominating the mixture.  One shuffle on source + a
    streaming rank window."""
    from ..operators.sampling import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    return cap_per_group(
        docs, group_col="source", order_col="n_chars", id_col="doc_id", cap=50
    ).select("doc_id", "source", "n_chars", "group_rank")


@_q(
    "text_repetition_stats",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
    bi AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                   i -> t[i] || ' ' || t[i+1])) AS g
        FROM toks
    ),
    ut AS (
        SELECT doc_id, g, cnt, n_grams,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY cnt DESC, g
               ) AS rn
        FROM (SELECT doc_id, g, count(*) AS cnt,
                     sum(count(*)) OVER (PARTITION BY doc_id) AS n_grams
              FROM uni GROUP BY doc_id, g)
    ),
    bt AS (
        SELECT doc_id, g, cnt, n_grams,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY cnt DESC, g
               ) AS rn
        FROM (SELECT doc_id, g, count(*) AS cnt,
                     sum(count(*)) OVER (PARTITION BY doc_id) AS n_grams
              FROM bi GROUP BY doc_id, g)
    )
    SELECT u.doc_id,
           u.g AS top_term,
           CAST(u.cnt AS BIGINT) AS top_term_cnt,
           CAST((u.cnt * 1000) // u.n_grams AS BIGINT) AS top_term_milli,
           CAST(u.n_grams AS BIGINT) AS n_terms,
           b.g AS top_bigram,
           CAST(b.cnt AS BIGINT) AS top_bigram_cnt,
           CAST((b.cnt * 1000) // b.n_grams AS BIGINT) AS top_bigram_milli,
           CAST(b.n_grams AS BIGINT) AS n_bigrams
    FROM ut u JOIN bt b USING (doc_id)
    WHERE u.rn = 1 AND b.rn = 1
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-repetition signals (operators/text.py:repetition_stats):
    per-doc most-frequent unigram/bigram with deterministic lexicographic
    tiebreak and integer-exact milli domination fractions.  Explode →
    map-side-combined counts → streaming rank window; no joins on the
    gram axis."""
    from ..operators.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


@_q(
    "doc_dedup_normalized",
    """
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash,
           min(doc_id) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_variants
    FROM documents GROUP BY 1
    """,
)
def doc_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup (operators/text.py:dedup_normalized):
    lowercase + punctuation-strip + whitespace-squeeze, md5, one hash
    aggregation with deterministic min-doc_id keeper — catches the
    case/punct/spacing variants byte-exact dedup misses, same
    single-shuffle 100 TB shape as doc_dedup_exact."""
    from ..operators.text import dedup_normalized

    return dedup_normalized(_t(spark, sf_dir, "documents"))


@_q(
    "evt_rolling_7d_active_users",
    """
    WITH du AS (
        SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                        user_id
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS active_7d
    FROM days d JOIN du u
      ON u.day <= d.day AND u.day > d.day - INTERVAL 7 DAY
    GROUP BY d.day
    """,
)
def evt_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the windowed
    distinct that plain window frames cannot express (COUNT(DISTINCT)
    over a moving range).  Exact formulation: dedup to (day, user),
    then each (day, user) row is exploded to the 7 window-end days it
    credits and aggregated on an EQUI key — 7× the deduped rows through
    one shuffle, no inequality join anywhere.  At warehouse scale you'd swap the exact
    distinct for an HLL sketch union (agg_approx_distinct's shape);
    this is the exact baseline the sketch is judged against."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    # equi-form, not an inequality join: each (day, user) credits the 7
    # windows ending on day..day+6 via a sequence explode, then one
    # shuffle-keyed aggregation — no nested-loop, 7x the deduped rows.
    # Windows with no events at all produce no row; restrict to
    # observed days to match the containment-join formulation.
    contrib = du.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d"),
        "user_id",
    )
    days = du.select("day").distinct().select(F.col("day").alias("d"))
    return (
        contrib.join(days, "d", "left_semi")
        .groupBy("d")
        .agg(F.count_distinct("user_id").cast("long").alias("active_7d"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "active_7d")
    )


@_q(
    "doc_neardup_rate_by_source",
    f"""
    WITH {_SHINGLE_CTE.strip()},
    postings AS (
        SELECT shingle, list_sort(list(DISTINCT doc_id)) AS docs
        FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) <= 50
    ),
    sizes AS (SELECT unnest(docs) AS doc_id, 1 AS x FROM postings),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM sizes GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM (SELECT unnest(docs) AS doc_id, shingle FROM postings) a
        JOIN (SELECT unnest(docs) AS doc_id, shingle FROM postings) b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    dup_docs AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM pairs
            JOIN sz za ON za.doc_id = doc_a JOIN sz zb ON zb.doc_id = doc_b
            WHERE n_inter * 1000 >= 300 * (za.n_sh + zb.n_sh - n_inter)
            UNION ALL
            SELECT doc_b FROM pairs
            JOIN sz za ON za.doc_id = doc_a JOIN sz zb ON zb.doc_id = doc_b
            WHERE n_inter * 1000 >= 300 * (za.n_sh + zb.n_sh - n_inter)
        )
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(dd.doc_id) AS BIGINT) AS n_in_dup_pair,
           CAST((count(dd.doc_id) * 1000) // count(*) AS BIGINT)
               AS dup_rate_milli
    FROM documents d LEFT JOIN dup_docs dd ON dd.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def doc_neardup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplication rate per source (share of docs in ≥1 Jaccard-0.3
    pair, integer milli) — the per-domain contamination dashboard that
    decides which sources need aggressive dedup.  Reuses the capped
    posting-list pair generator; the rate join is deliberately UNHINTED:
    |dup_docs| scales with the duplicate count (can approach |docs| in a
    crawl-heavy corpus), so we let AQE pick broadcast vs shuffle from the
    runtime size instead of forcing a driver-side collect of an unbounded
    set."""
    docs = _t(spark, sf_dir, "documents")
    # both union legs read the pair set — pinned so the capped
    # posting-list pair generation runs once (r12, guide §5)
    pairs = dedup.ngram_jaccard_pairs(
        docs, k_shingle=3, threshold=0.3, max_shingle_df=50
    ).localCheckpoint(eager=False)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        docs.join(dup_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("is_dup").cast("long").alias("n_in_dup_pair"),
            F.expr("(count(is_dup) * 1000) DIV count(1)").alias(
                "dup_rate_milli"
            ),
        )
    )


@_q(
    "evt_first_touch_attribution",
    """
    WITH ft AS (
        SELECT user_id,
               min_by(event_type,
                      strftime(CAST(ts AS TIMESTAMP),
                               '%Y-%m-%d %H:%M:%S.%f')
                      || lpad(CAST(event_id AS VARCHAR), 20, '0'))
                   AS first_touch
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT user_id, count(*) AS n_purchases
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT ft.first_touch,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(conv.user_id) AS BIGINT) AS n_converted,
           CAST(coalesce(sum(conv.n_purchases), 0) AS BIGINT) AS n_purchases,
           CAST((count(conv.user_id) * 1000) // count(*) AS BIGINT)
               AS conversion_milli
    FROM ft LEFT JOIN conv ON conv.user_id = ft.user_id
    GROUP BY ft.first_touch
    """,
)
def evt_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each user's FIRST event type (min_by on
    a fixed-width (ts, event_id) string key — lexicographic == temporal
    order, and DuckDB's min_by has no composite-value form) credited with
    their later purchases; per-channel user counts, conversion rate
    (integer milli), purchase totals.  Two aggregations + one join on
    user_id."""
    ev = _t(spark, sf_dir, "events")
    order_key = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )
    ft = ev.groupBy("user_id").agg(
        F.min_by("event_type", order_key).alias("first_touch")
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return (
        ft.join(conv, "user_id", "left")
        .groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.count("n_purchases").cast("long").alias("n_converted"),
            F.coalesce(F.sum("n_purchases"), F.lit(0))
            .cast("long")
            .alias("n_purchases"),
            F.expr("(count(n_purchases) * 1000) DIV count(1)").alias(
                "conversion_milli"
            ),
        )
    )


@_q(
    "doc_length_percentiles",
    """
    WITH l AS (SELECT lang,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
               FROM documents),
    r AS (SELECT lang, n_words,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY n_words, lang) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM l)
    SELECT lang,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN n_words END) AS BIGINT)
               AS p50,
           CAST(max(CASE WHEN rn = (n * 9 + 9) // 10 THEN n_words END)
               AS BIGINT) AS p90,
           CAST(max(CASE WHEN rn = n THEN n_words END) AS BIGINT) AS p100,
           CAST(max(n) AS BIGINT) AS n_docs
    FROM r GROUP BY lang
    """,
)
def doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language document-length percentiles (p50/p90/max) via
    deterministic rank selection — the length-distribution table behind
    truncation and packing budget decisions.  One window pass + one
    aggregation; no float percentile interpolation, so engines agree
    bit-for-bit."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    l = docs.select(
        "lang", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words")
    )
    w = Window.partitionBy("lang").orderBy("n_words", "lang")
    r = l.select(
        "lang",
        "n_words",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    pick = lambda cond: F.max(F.when(cond, F.col("n_words"))).cast("long")  # noqa: E731
    return r.groupBy("lang").agg(
        pick(F.col("rn") == F.expr("(n + 1) DIV 2")).alias("p50"),
        pick(F.col("rn") == F.expr("(n * 9 + 9) DIV 10")).alias("p90"),
        pick(F.col("rn") == F.col("n")).alias("p100"),
        F.max("n").cast("long").alias("n_docs"),
    )


@_q(
    "cdc_snapshot_at_time",
    """
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type FROM events),
    c AS (SELECT user_id, event_id, ts, event_type AS state,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_state
          FROM e),
    iv AS (SELECT user_id, state, ts AS valid_from,
                  coalesce(lead(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id),
                           TIMESTAMP '9999-12-31 00:00:00') AS valid_to
           FROM c WHERE prev_state IS NULL OR state <> prev_state)
    SELECT user_id, state,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS since
    FROM iv
    WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
      AND valid_to   >  TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def cdc_snapshot_at_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconstruction: the full dimension state AS OF a fixed
    instant, read straight off the SCD-2 intervals with an interval-
    containment filter — the time-travel read a change stream enables.
    One window pass builds intervals; the snapshot itself is a pure
    filter (no join at all)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.col("event_type").alias("state"),
        F.lag("event_type").over(w).alias("prev_state"),
    ).where(F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state")))
    iv = c.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.coalesce(
            F.lead("ts").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
            F.lit("9999-12-31 00:00:00").cast("timestamp"),
        ).alias("valid_to"),
    )
    at = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return iv.where((F.col("valid_from") <= at) & (F.col("valid_to") > at)).select(
        "user_id",
        "state",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("since"),
    )


@_q(
    "evt_dau_wau_stickiness",
    """
    WITH d AS (
        SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk,
               date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
               user_id
        FROM events
    ),
    dau AS (SELECT wk, day, count(DISTINCT user_id) AS n_dau
            FROM d GROUP BY 1, 2),
    wau AS (SELECT wk, count(DISTINCT user_id) AS n_wau FROM d GROUP BY 1),
    avg_dau AS (SELECT wk, CAST(sum(n_dau) AS BIGINT) AS sum_dau,
                       count(*) AS n_days
                FROM dau GROUP BY wk)
    SELECT strftime(a.wk, '%Y-%m-%d') AS week_start,
           CAST(a.sum_dau AS BIGINT) AS sum_dau,
           CAST(a.n_days AS BIGINT) AS n_days,
           CAST(w.n_wau AS BIGINT) AS n_wau,
           CAST((a.sum_dau * 1000) // (a.n_days * w.n_wau) AS BIGINT)
               AS stickiness_milli
    FROM avg_dau a JOIN wau w ON w.wk = a.wk
    """,
)
def evt_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per week (integer-milli avg-DAU ÷ WAU): the
    product-analytics engagement ratio.  Two exact distinct-count
    aggregations over one derivation; week totals join on the tiny week
    key set."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.date_trunc("week", F.col("ts")).alias("wk"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        "user_id",
    )
    dau = d.groupBy("wk", "day").agg(F.count_distinct("user_id").alias("n_dau"))
    wau = d.groupBy("wk").agg(F.count_distinct("user_id").alias("n_wau"))
    avg_dau = dau.groupBy("wk").agg(
        F.sum("n_dau").cast("long").alias("sum_dau"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return avg_dau.join(wau, "wk").select(
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
        "sum_dau",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n_wau").cast("long").alias("n_wau"),
        F.expr("(sum_dau * 1000) DIV (n_days * n_wau)").alias("stickiness_milli"),
    )


@_q(
    "evt_hour_type_heatmap",
    """
    SELECT CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def evt_hour_type_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × event-type activity heatmap (counts + distinct
    users): 24×|types| output, one aggregation."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.hour("ts").cast("long").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


@_q(
    "emb_knn_label_classify",
    f"""
    WITH e AS (SELECT vec_id, label, {_QUANT_SQL} AS qe FROM embeddings),
    q AS (SELECT vec_id AS query_id, qe AS q_qe FROM e WHERE vec_id % 50 = 0),
    s AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
               CAST(list_sum(list_transform(range(1, len(e.qe) + 1),
                    i -> q.q_qe[i] * e.qe[i])) AS BIGINT) AS dot_q
        FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
    ),
    topk AS (
        SELECT query_id, neighbor_id, label FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY dot_q DESC, neighbor_id ASC) AS rn
            FROM s
        ) WHERE rn <= 15
    ),
    votes AS (SELECT query_id, label, count(*) AS n_votes
              FROM topk GROUP BY 1, 2)
    SELECT query_id, CAST(label AS BIGINT) AS predicted_label,
           CAST(n_votes AS BIGINT) AS n_votes
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY n_votes DESC, label ASC) AS rn
          FROM votes)
    WHERE rn = 1
    """,
)
def emb_knn_label_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label classification (k=15 majority vote, ties → lowest
    label): the label-propagation / weak-supervision primitive over the
    embedding space — exact top-k then a two-key vote aggregation;
    deterministic end-to-end."""
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    topk = similarity.brute_force_topk(emb, queries, k=15)
    labeled = topk.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    )
    votes = labeled.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("label").cast("long").alias("predicted_label"),
            F.col("n_votes").cast("long").alias("n_votes"),
        )
    )


@_q(
    "emb_hard_negative_mining",
    f"""
    WITH e AS (SELECT vec_id, label, {_QUANT_SQL} AS qe FROM embeddings),
    b AS (SELECT vec_id, label, qe, concat({_LSH_BITS_SQL}) AS bucket FROM e),
    a AS (SELECT vec_id AS anchor_id, label AS a_label, qe AS a_qe, bucket
          FROM b WHERE vec_id % 50 = 0),
    s AS (SELECT a.anchor_id, a.a_label, c.vec_id AS cand_id,
                 c.label AS c_label,
                 CAST(list_sum(list_transform(range(1, 65),
                      i -> a.a_qe[i] * c.qe[i])) AS BIGINT) AS dot_q
          FROM a JOIN b c USING (bucket) WHERE c.vec_id <> a.anchor_id),
    pos AS (SELECT anchor_id, cand_id AS pos_id, dot_q AS pos_dot FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
                      ORDER BY dot_q DESC, cand_id ASC) AS rn
            FROM s WHERE c_label = a_label) WHERE rn = 1),
    neg AS (SELECT anchor_id, cand_id AS neg_id, dot_q AS neg_dot FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
                      ORDER BY dot_q DESC, cand_id ASC) AS rn
            FROM s WHERE c_label <> a_label) WHERE rn = 1)
    SELECT p.anchor_id, pos_id, pos_dot, neg_id, neg_dot,
           CAST(pos_dot - neg_dot AS BIGINT) AS margin_q
    FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
    """,
)
def emb_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-triplet mining for embedding training: per anchor,
    the nearest SAME-label bucketmate (positive) and the nearest
    DIFFERENT-label bucketmate (hard negative — close in embedding
    space but semantically wrong, the pair that actually moves a
    contrastive loss), plus the margin between them.  Candidates come
    from the anchor's sign-LSH bucket, which is the honest 100-TB
    shape: hard negatives are by definition nearby, and nearby vectors
    share buckets — no all-pairs stage, ever.  Anchors whose bucket
    lacks either a positive or a negative drop (inner join), exactly
    like a curriculum builder would skip them.

    Deterministic end-to-end (md5 hyperplanes, exact int64 dots, ties
    → lowest candidate id), so the oracle replays bucketing, scoring,
    and both argmaxes.

    Scale notes: one equi-join on the bucket key; the per-anchor
    positive/negative argmaxes fold in ONE map-side-combinable
    aggregation (max over conditional structs), so the bucket-join
    output reduces before the shuffle."""
    from ..functions.vectors import dot_q, quantize_embedding

    emb = _t(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id",
        "label",
        quantize_embedding(F.col("embedding")).alias("qe"),
    ).withColumn("bucket", similarity.sign_lsh_bucket(F.col("qe"), n_planes=4))
    anchors = b.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("qe").alias("a_qe"),
        "bucket",
    )
    cands = (
        anchors.join(b, "bucket")
        .where(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "a_label",
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("c_label"),
            dot_q(F.col("a_qe"), F.col("qe")).alias("dot_q"),
        )
    )
    pick = F.struct(F.col("dot_q").alias("d"), (-F.col("cand_id")).alias("nc"))
    best = cands.groupBy("anchor_id").agg(
        F.max(F.when(F.col("c_label") == F.col("a_label"), pick)).alias("p"),
        F.max(F.when(F.col("c_label") != F.col("a_label"), pick)).alias("n"),
    )
    return (
        best.where(F.col("p").isNotNull() & F.col("n").isNotNull())
        .select(
            "anchor_id",
            (-F.col("p.nc")).cast("long").alias("pos_id"),
            F.col("p.d").cast("long").alias("pos_dot"),
            (-F.col("n.nc")).cast("long").alias("neg_id"),
            F.col("n.d").cast("long").alias("neg_dot"),
            (F.col("p.d") - F.col("n.d")).cast("long").alias("margin_q"),
        )
    )


@_q(
    "doc_source_mix_report",
    """
    WITH q AS (
        SELECT doc_id, source, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS n_distinct
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_words) AS BIGINT) AS total_tokens,
           CAST(count(*) FILTER (WHERE n_words >= 20
                                   AND n_distinct * 4 >= n_words) AS BIGINT)
               AS n_quality_ok,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM q GROUP BY source
    """,
)
def doc_source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus mix report: doc/token totals, language spread,
    quality pass-rate numerator — the table a data-mixture decision
    reads (domain weighting is per-source).  One scan, one aggregation;
    output is |sources| rows."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    q = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(toks).cast("long").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    return q.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.sum("n_words").cast("long").alias("total_tokens"),
        F.count_if(
            (F.col("n_words") >= 20)
            & (F.col("n_distinct") * 4 >= F.col("n_words"))
        )
        .cast("long")
        .alias("n_quality_ok"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


@_q(
    "fn_higher_order_suite",
    """
    WITH t AS (SELECT p_partkey, string_split(p_name, ' ') AS nw
               FROM part)
    SELECT p_partkey,
           len(list_filter(nw, w -> len(w) > 4)) > 0 AS has_long,
           len(list_filter(nw, w -> len(w) > 2)) = len(nw) AS all_gt2,
           CAST(list_sum(list_transform(nw, w -> len(w))) AS BIGINT)
               AS total_chars,
           array_to_string(list_transform(nw, w -> upper(w)), '|') AS upper_joined,
           CAST(list_sum(list_transform(range(1, len(nw) + 1),
                i -> i * len(nw[i]))) AS BIGINT) AS pos_weighted
    FROM t
    """,
)
def fn_higher_order_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function parity: exists / forall / transform /
    aggregate / index-aware transform — the lambda family every
    array-heavy pipeline leans on, all JVM-side."""
    p = _t(spark, sf_dir, "part")
    nw_src = F.split(F.col("p_name"), " ")
    t = p.select("p_partkey", nw_src.alias("nw"))
    nw = F.col("nw")
    return t.select(
        "p_partkey",
        F.exists(nw, lambda w: F.length(w) > 4).alias("has_long"),
        F.forall(nw, lambda w: F.length(w) > 2).alias("all_gt2"),
        F.aggregate(
            F.transform(nw, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("total_chars"),
        F.array_join(F.transform(nw, lambda w: F.upper(w)), "|").alias(
            "upper_joined"
        ),
        F.aggregate(
            F.transform(
                nw, lambda w, i: ((i + 1) * F.length(w)).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("pos_weighted"),
    )


@_q(
    "text_classifier_histogram",
    """
    WITH cls AS (
        SELECT doc_id, lang,
               CAST(list_sum(list_transform(string_split(text, ' '),
                    t -> ('0x' || substr(md5(t), 1, 4))::BIGINT - 32768))
                    AS BIGINT) AS score,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT lang,
           CAST((score // n_tokens) // 50 * 50 AS BIGINT) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM cls GROUP BY 1, 2
    """,
)
def text_classifier_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language histogram of classifier score-per-token (bucket
    width 50) — the distribution you inspect before picking a quality
    threshold.  Composes the hashed classifier into a two-key
    aggregation; output is |langs|×|buckets|, N-independent."""
    from ..operators.text import quality_classifier_scores

    cls = quality_classifier_scores(_t(spark, sf_dir, "documents"))
    return cls.groupBy(
        "lang",
        F.expr("(score DIV n_tokens) DIV 50 * 50").alias("bucket_lo"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


@_q(
    "pipeline_corpus_curation_v4",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE.strip()},
    cls AS (
        SELECT doc_id, lang,
               CAST(list_sum(list_transform(string_split(text, ' '),
                    t -> ('0x' || substr(md5(t), 1, 4))::BIGINT - 32768))
                    AS BIGINT) AS score,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    keepq AS (SELECT doc_id, lang, score, n_tokens FROM cls
              WHERE score // n_tokens >= -60),
    normkept AS (
        SELECT min(d.doc_id) AS doc_id
        FROM keepq k JOIN documents d ON d.doc_id = k.doc_id
        GROUP BY md5(trim(regexp_replace(regexp_replace(lower(d.text),
                 '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
    ),
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 50),
    shc AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
    near_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges_raw AS (
        SELECT doc_a, doc_b FROM near_pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_inter * 1000 >= 300 * (sa.n_sh + sb.n_sh - n_inter)
    ),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM edges_raw
              UNION SELECT doc_b, doc_a FROM edges_raw),
    reach(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.u
    ),
    cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u),
    reps AS (
        SELECT cluster_id, doc_id FROM (
            SELECT c.cluster_id, c.doc_id,
                   row_number() OVER (PARTITION BY c.cluster_id
                       ORDER BY k.score DESC, c.doc_id ASC) AS rn
            FROM cc c JOIN keepq k ON k.doc_id = c.doc_id
        ) WHERE rn = 1
    ),
    clustered_kept AS (SELECT doc_id FROM reps),
    clustered_all AS (SELECT doc_id FROM cc),
    final AS (
        SELECT n.doc_id FROM normkept n
        WHERE n.doc_id NOT IN (SELECT doc_id FROM clustered_all)
        UNION ALL
        SELECT r.doc_id FROM clustered_kept r
        WHERE r.doc_id IN (SELECT doc_id FROM normkept)
    )
    SELECT k.lang, count(*) AS n_docs,
           CAST(sum(k.n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(k.score) AS BIGINT) AS total_score,
           min(f.doc_id) AS first_doc
    FROM final f JOIN keepq k ON k.doc_id = f.doc_id
    GROUP BY k.lang
    """,
)
def pipeline_corpus_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v4 — the round-3 operator set composed into ONE plan:
    hashed-classifier quality gate (score/token ≥ −60) → normalized
    exact dedup (case/punct/space-insensitive, min-id keeper) → capped
    n-gram-Jaccard near-dup clustering with a QUALITY-BASED
    representative (max classifier score per cluster, not min id — keep
    the best duplicate, the production keeper rule) → per-language
    token & score accounting.  Docs in no cluster pass through; cluster
    members survive only as their cluster's representative (and only if
    normalized-dedup also kept them)."""
    from ..operators.text import dedup_normalized, quality_classifier_scores

    docs = _t(spark, sf_dir, "documents")
    cls = quality_classifier_scores(docs).select(
        "doc_id", "lang", "score", "n_tokens"
    )
    # keepq feeds three branches (gate, rep selection, final accounting);
    # without a barrier the per-token md5 scoring runs three times
    keepq = cls.where(F.expr("score DIV n_tokens") >= -60).localCheckpoint(
        eager=False
    )
    # keeper-id pin (r12, guide §5): normkept feeds the unclustered
    # anti-join AND the representative semi-join — unpinned, the
    # normalization md5 + keeper rollup ran twice; one long per kept doc
    normkept = (
        dedup_normalized(docs.join(keepq.select("doc_id"), "doc_id", "left_semi"))
        .select(F.col("keep_doc_id").alias("doc_id"))
        .localCheckpoint(eager=False)
    )
    edges = dedup.ngram_jaccard_pairs(
        docs, k_shingle=3, threshold=0.3, max_shingle_df=50
    )
    cc = clustering.connected_components(edges)
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    reps = (
        cc.join(keepq.select("doc_id", "score"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id")
    )
    unclustered = normkept.join(cc.select("doc_id"), "doc_id", "left_anti")
    final = unclustered.unionByName(
        reps.join(normkept, "doc_id", "left_semi")
    )
    return (
        final.join(keepq, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("score").cast("long").alias("total_score"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def _markov_stationary_oracle(rounds: int = 8, scale: int = 10**12) -> str:
    """DuckDB mirror of evt_markov_stationary: the power iteration
    unrolled (bounded |types|, the BPE/kcenter chain convention) with
    per-term floor division — both engines floor identically, so the
    iterate is bit-exact."""
    ctes = [
        """ms_s AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events)""",
        """ms_t AS (SELECT event_type AS f, next_type AS t, count(*) AS n
          FROM ms_s WHERE next_type IS NOT NULL GROUP BY 1, 2)""",
        "ms_r AS (SELECT f, sum(n) AS rn FROM ms_t GROUP BY 1)",
        "ms_k AS (SELECT count(*) AS nt FROM ms_r)",
        f"ms_v0 AS (SELECT f AS ty, {scale} // nt AS v FROM ms_r, ms_k)",
    ]
    for j in range(1, rounds + 1):
        ctes.append(
            f"""ms_v{j} AS (
            SELECT ms_t.t AS ty,
                   sum(CAST(ms_v{j - 1}.v AS HUGEINT) * ms_t.n // ms_r.rn)
                       AS v
            FROM ms_v{j - 1}
            JOIN ms_t ON ms_t.f = ms_v{j - 1}.ty
            JOIN ms_r ON ms_r.f = ms_v{j - 1}.ty
            GROUP BY 1)"""
        )
    ctes.append(
        f"ms_sum AS (SELECT sum(v) AS sv FROM ms_v{rounds})"
    )
    ctes.append(
        f"""ms_prev AS (SELECT ty, v AS v_prev FROM ms_v{rounds - 1})"""
    )
    return (
        "WITH " + ", ".join(ctes)
        + f""" SELECT ms_v{rounds}.ty AS event_type,
               CAST(ms_v{rounds}.v AS BIGINT) AS v_scaled,
               CAST(ms_v{rounds}.v * 1000000 // ms_sum.sv AS BIGINT)
                   AS stationary_ppm,
               CAST(abs(ms_v{rounds}.v - ms_prev.v_prev) AS BIGINT)
                   AS delta_last_round
        FROM ms_v{rounds}
        JOIN ms_prev ON ms_prev.ty = ms_v{rounds}.ty
        CROSS JOIN ms_sum"""
    )


@_q("evt_markov_stationary", _markov_stationary_oracle())
def evt_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain — the
    long-run fraction of time a session spends in each event type,
    i.e. PageRank on the behavior graph: 8 power-iteration rounds of
    v·P over the evt_markov_transitions matrix, entirely in integers
    (iterate scaled to 10¹², per-term ``v·c DIV rowsum`` floors
    identically in both engines, so even the rounding is bit-exact).
    Emits the scaled iterate, the ppm-normalized stationary share, and
    the last-round L1 delta per type — the convergence witness that
    says 8 rounds sufficed (oracle-checked, so it cannot silently go
    stale).

    Scale notes (100 TB): ONE windowed pass over events builds the
    |types|² transition matrix (bounded domain); the matrix is then a
    documented bounded collect (≤|types|² rows regardless of corpus
    size) and the 8 iteration rounds run driver-side in exact Python
    ints — the bounded-domain sibling of the iterative PageRank
    operator (graph.py) which must shuffle real vertex sets."""
    ROUNDS, SCALE = 8, 10**12
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        # event_type NULL-guard (r12 ADVICE): the SQL form drops NULL
        # source types via join equality; the driver loop must not
        # treat None as a joinable key.  Fixture has zero NULLs, so
        # results are unchanged — this pins the join semantics.
        .where(
            F.col("next_type").isNotNull() & F.col("event_type").isNotNull()
        )
    )
    t = s.groupBy(
        F.col("event_type").alias("f"), F.col("next_type").alias("t")
    ).agg(F.count(F.lit(1)).alias("n"))
    # The distributed part ends at the |types|²-row transition matrix
    # (event_type is a closed enum domain — the 25-row nation-map
    # bounded-collect convention).  The 8 power-iteration rounds used
    # to run as 8 chained join+agg stages over ≤|types|-row frames:
    # ~33 tiny shuffles of pure orchestration.  The matrix is collected
    # once and the rounds run driver-side in arbitrary-precision Python
    # ints — per-term v·n DIV rn floors identically to the SQL form's
    # DECIMAL(38,0) product (all terms non-negative), so the iterate is
    # bit-exact against the unrolled oracle (the emb_mmr_diversified
    # driver-side precedent, guide §5's dual: a bounded loop is DRIVER
    # work, not cluster work).
    mat = t.collect()  # ≤ |types|² rows
    rn: dict = {}
    for row in mat:
        rn[row["f"]] = rn.get(row["f"], 0) + row["n"]
    nt = len(rn)
    v = {f: SCALE // nt for f in rn} if nt else {}
    prev = v
    for _ in range(ROUNDS):
        prev = v
        nxt: dict = {}
        for row in mat:
            f = row["f"]
            if f in v:
                nxt[row["t"]] = (
                    nxt.get(row["t"], 0) + (v[f] * row["n"]) // rn[f]
                )
        v = nxt
    sv = sum(v.values())
    out = [
        (ty, v[ty], v[ty] * 1_000_000 // sv, abs(v[ty] - prev[ty]))
        for ty in sorted(v)
        if ty in prev  # the SQL form's inner join against v_{rounds-1}
    ]
    # inline VALUES, not createDataFrame(list): parallelizing a local
    # list spawns Python workers per partition (the repo's recorded
    # pathology); a VALUES relation is pure JVM
    if not out:
        return spark.sql(
            "SELECT CAST(NULL AS STRING) AS event_type, "
            "CAST(NULL AS BIGINT) AS v_scaled, "
            "CAST(NULL AS BIGINT) AS stationary_ppm, "
            "CAST(NULL AS BIGINT) AS delta_last_round WHERE false"
        )
    rows = ", ".join(
        # escape backslashes BEFORE quotes (r12 ADVICE): Spark string
        # literals interpret backslash escapes by default
        "('{}', {}L, {}L, {}L)".format(
            ty.replace("\\", "\\\\").replace("'", "''"), a, b, c
        )
        for ty, a, b, c in out
    )
    return spark.sql(
        f"SELECT * FROM VALUES {rows} AS "
        "t(event_type, v_scaled, stationary_ppm, delta_last_round)"
    )


@_q(
    "evt_markov_transitions",
    """
    WITH s AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    t AS (SELECT event_type AS from_type, next_type AS to_type,
                 count(*) AS n
          FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT from_type, sum(n) AS n_from FROM t GROUP BY 1)
    SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
           CAST((t.n * 1000) // tot.n_from AS BIGINT) AS p_milli
    FROM t JOIN tot ON tot.from_type = t.from_type
    """,
)
def evt_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (from, to) event-type pair, the transition count
    and integer-milli probability — the session-behavior fingerprint
    behind funnel debugging and bot detection.  One window pass (lead)
    + two small aggregations; the shuffle is keyed by user for the
    sequence, then by the 5×5 type pairs — N-independent output."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    t = s.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = t.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return t.join(tot, "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        F.expr("(n * 1000) DIV n_from").alias("p_milli"),
    )


@_q(
    "agg_countif_maxby",
    """
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT)
               AS n_big,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS n_finished,
           max_by(o_orderstatus, o_orderkey) AS status_of_last,
           min_by(o_orderstatus, o_orderkey) AS status_of_first,
           CAST(max_by(o_custkey, o_orderkey) AS BIGINT) AS cust_of_last
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_countif_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-count + argmin/argmax aggregate family: count_if and
    max_by/min_by KEYED ON THE UNIQUE o_orderkey (ties on a non-unique
    ordering key would make max_by nondeterministic — the trap this
    query's shape documents)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 100000).cast("long").alias("n_big"),
        F.count_if(F.col("o_orderstatus") == "F").cast("long").alias("n_finished"),
        F.max_by("o_orderstatus", "o_orderkey").alias("status_of_last"),
        F.min_by("o_orderstatus", "o_orderkey").alias("status_of_first"),
        F.max_by("o_custkey", "o_orderkey").cast("long").alias("cust_of_last"),
    )


@_q(
    "emb_matryoshka_staged_topk",
    f"""
    WITH e AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    q AS (SELECT vec_id AS query_id, qe AS q_qe FROM e WHERE vec_id % 50 = 0),
    pre AS (
        SELECT q.query_id, e.vec_id,
               CAST(list_sum(list_transform(range(1, 17),
                    i -> q.q_qe[i] * e.qe[i])) AS BIGINT) AS pre_dot
        FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
    ),
    shortlist AS (
        SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY pre_dot DESC, vec_id ASC) AS rn
            FROM pre
        ) WHERE rn <= 50
    ),
    rescored AS (
        SELECT s.query_id, s.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, len(e.qe) + 1),
                    i -> q.q_qe[i] * e.qe[i])) AS BIGINT) AS dot_q
        FROM shortlist s JOIN e ON e.vec_id = s.vec_id
                         JOIN q ON q.query_id = s.query_id
    )
    SELECT query_id, neighbor_id, dot_q,
           CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY dot_q DESC, neighbor_id ASC) AS rnk
          FROM rescored)
    WHERE rnk <= 10
    """,
)
def emb_matryoshka_staged_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka staged retrieval (operators/similarity.py
    matryoshka_staged_topk): 16-dim prefix dots shortlist 50 candidates
    per query, full 64-dim dots rerank — the coarse-to-fine funnel for
    MRL-trained embeddings; both stages exact integer ⇒ full oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return similarity.matryoshka_staged_topk(
        emb, queries, k=10, prefix_dim=16, n_candidates=50
    )


_MINHASH_AGREE = " + ".join(f"(sa.h{i} = sb.h{i})::INT" for i in range(8))


@_q(
    "doc_minhash_jaccard_estimate",
    f"""
    WITH {_SHINGLE_CTE.strip()},
    sig AS (SELECT doc_id, {_MINHASH_SIG} FROM sh GROUP BY doc_id),
    bands AS ({_MINHASH_BANDS}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ),
    agr AS (
        SELECT p.doc_a, p.doc_b,
               ({_MINHASH_AGREE}) * 125 AS est_milli
        FROM pairs p JOIN sig sa ON sa.doc_id = p.doc_a
                     JOIN sig sb ON sb.doc_id = p.doc_b
    ),
    i AS (
        SELECT p.doc_a, p.doc_b, count(*) AS n_inter
        FROM pairs p JOIN sh a ON a.doc_id = p.doc_a
                     JOIN sh b ON b.doc_id = p.doc_b
                                AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
    SELECT g.doc_a, g.doc_b,
           CAST(g.est_milli AS BIGINT) AS est_milli,
           CAST((i.n_inter * 1000) // (za.n + zb.n - i.n_inter) AS BIGINT)
               AS exact_milli
    FROM agr g JOIN i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
               JOIN sz za ON za.doc_id = g.doc_a
               JOIN sz zb ON zb.doc_id = g.doc_b
    """,
)
def doc_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality join: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (fraction of agreeing signature components, ×1000)
    next to the EXACT shingle Jaccard — the calibration query you run
    before trusting the sketch at corpus scale.  Exact intersection is
    computed only for the (few) candidate pairs via a broadcast of the
    pair list into the shingle table — never all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    from ..functions.hashing import shingles_of_tokens, word_tokens

    # the signature table feeds BOTH the band self-join (candidate
    # generation) and the per-pair agreement count; materialize it ONCE
    # instead of re-shingling the corpus per reference (was 2 signature
    # builds: one here, one inside minhash_lsh_candidate_pairs)
    sig = dedup.minhash_signatures(docs, 3, 8).localCheckpoint(eager=False)
    bands = dedup.minhash_band_buckets(signatures=sig, n_hashes=8, n_bands=4)
    ba, bb = bands.alias("a"), bands.alias("b")
    pairs = (
        ba.join(
            bb,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        # the candidate list is read 3× (estimate join ×2 sides via
        # est, exact-intersection broadcast) — pin so the band
        # self-join + distinct runs once (r12, guide §5)
        .localCheckpoint(eager=False)
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(8)]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(8)]
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(8)
    )
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", (agree * 125).cast("long").alias("est_milli"))
    )
    # the shingle table feeds the two exact-intersection joins plus the
    # size rollup — one lazy barrier replaces three tokenize+explode runs
    sh = (
        spread(docs)
        .select("doc_id", word_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id", F.explode(shingles_of_tokens(F.col("toks"), 3)).alias("shingle")
        )
        .dropDuplicates(["doc_id", "shingle"])
        .localCheckpoint(eager=False)
    )
    inter = (
        F.broadcast(pairs)
        .join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"]
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=False)  # per-doc sizes, joined twice
    za = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    zb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        est.join(inter, ["doc_a", "doc_b"])
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_milli",
            F.expr("(n_inter * 1000) DIV (n_a + n_b - n_inter)").alias("exact_milli"),
        )
    )


@_q(
    "fn_recursive_date_spine",
    """
    WITH RECURSIVE b AS (
        SELECT date_trunc('month', min(o_orderdate)) AS lo,
               date_trunc('month', max(o_orderdate)) AS hi
        FROM orders
    ),
    spine(m, hi) AS (
        SELECT lo, hi FROM b
        UNION ALL
        SELECT m + INTERVAL 1 MONTH, hi FROM spine WHERE m < hi
    ),
    per_month AS (
        SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n
        FROM orders GROUP BY 1
    )
    SELECT strftime(CAST(s.m AS TIMESTAMP), '%Y-%m') AS month,
           CAST(coalesce(p.n, 0) AS BIGINT) AS n_orders
    FROM spine s LEFT JOIN per_month p ON p.m = s.m
    """,
)
def fn_recursive_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark ≥4.0 WITH RECURSIVE): generate the complete
    month spine between the first and last order date, then gap-fill
    monthly order counts — months with no orders appear as 0, which a
    plain GROUP BY can never produce.  Submitted as SQL text; the
    recursion is acyclic and bounded by the date range (UNION ALL, no
    cycle risk — Spark doesn't yet support UNION-distinct recursion).
    The range bound rides along as a COLUMN of the recursion: a
    correlated ``(SELECT hi FROM b)`` in the step would re-run the
    bounds aggregation on every iteration (measured: 62s → 2s)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        WITH RECURSIVE b AS (
            SELECT date_trunc('month', min(o_orderdate)) AS lo,
                   date_trunc('month', max(o_orderdate)) AS hi
            FROM orders_v
        ),
        spine(m, hi) AS (
            SELECT lo, hi FROM b
            UNION ALL
            SELECT m + INTERVAL 1 MONTH, hi FROM spine WHERE m < hi
        ),
        per_month AS (
            SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n
            FROM orders_v GROUP BY 1
        )
        SELECT date_format(s.m, 'yyyy-MM') AS month,
               CAST(coalesce(p.n, 0) AS BIGINT) AS n_orders
        FROM spine s LEFT JOIN per_month p ON p.m = s.m
        """
    )


@_q(
    "emb_ann_pq_topk",
    f"""
    WITH e AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    subsp AS (SELECT unnest(range(0, 8)) AS sub),
    seeds AS (SELECT qe, row_number() OVER (ORDER BY vec_id) - 1 AS code
              FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
    cb AS (SELECT s.sub, seeds.code,
                  list_transform(range(1, 9),
                                 i -> seeds.qe[s.sub * 8 + i]) AS c_sub
           FROM seeds CROSS JOIN subsp s),
    subs AS (SELECT e.vec_id, s.sub,
                    list_transform(range(1, 9),
                                   i -> e.qe[s.sub * 8 + i]) AS v_sub
             FROM e CROSS JOIN subsp s),
    enc AS (SELECT vec_id, sub, code FROM (
              SELECT subs.vec_id, subs.sub, cb.code,
                     row_number() OVER (PARTITION BY subs.vec_id, subs.sub
                       ORDER BY CAST(list_sum(list_transform(range(1, 9),
                         i -> (subs.v_sub[i] - cb.c_sub[i])
                              * (subs.v_sub[i] - cb.c_sub[i]))) AS BIGINT)
                         ASC, cb.code ASC) AS rn
              FROM subs JOIN cb ON cb.sub = subs.sub)
            WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, qe FROM e WHERE vec_id % 50 = 0),
    qsubs AS (SELECT query_id, s.sub,
                     list_transform(range(1, 9),
                                    i -> q.qe[s.sub * 8 + i]) AS q_sub
              FROM q CROSS JOIN subsp s),
    lut AS (SELECT query_id, qsubs.sub, cb.code,
                   CAST(list_sum(list_transform(range(1, 9),
                        i -> qsubs.q_sub[i] * cb.c_sub[i])) AS BIGINT)
                       AS dot_part
            FROM qsubs JOIN cb ON cb.sub = qsubs.sub),
    sc AS (SELECT l.query_id, enc.vec_id,
                  CAST(sum(l.dot_part) AS BIGINT) AS adc_dot_q
           FROM enc JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
           WHERE enc.vec_id <> l.query_id
           GROUP BY 1, 2),
    r AS (SELECT query_id, vec_id AS neighbor_id, adc_dot_q,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY adc_dot_q DESC, vec_id ASC) AS INTEGER) AS rank
          FROM sc)
    SELECT query_id, neighbor_id, adc_dot_q, rank FROM r WHERE rank <= 10
    """,
)
def emb_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/similarity.py
    pq_codebooks/pq_encode/pq_adc_topk): 8 subspaces × 16 centroids,
    candidates scored by lookup-table sums only — the memory-bound ANN
    index shape (codes ≪ raw vectors).  Deterministic integer arithmetic
    ⇒ full value oracle despite being an approximate-ANN method."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return similarity.pq_adc_topk(emb, queries, k=10, n_sub=8, n_cent=16)


@_q(
    "cdc_point_in_time_join",
    """
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type FROM events),
    c AS (SELECT user_id, event_id, ts, event_type AS state,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_state
          FROM e),
    iv AS (SELECT user_id, state,
                  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from
           FROM c WHERE prev_state IS NULL OR state <> prev_state),
    probe AS (SELECT user_id, event_id,
                     strftime(ts - INTERVAL 1 HOUR,
                              '%Y-%m-%d %H:%M:%S.%f') AS pit
              FROM e WHERE event_id % 97 = 0),
    m AS (SELECT p.user_id, p.event_id, p.pit, i.state,
                 row_number() OVER (PARTITION BY p.user_id, p.event_id
                                    ORDER BY i.valid_from DESC, i.state DESC)
                     AS rn
          FROM probe p JOIN iv i
            ON i.user_id = p.user_id AND i.valid_from <= p.pit)
    SELECT p.user_id, p.event_id, p.pit, m.state AS state_asof
    FROM probe p LEFT JOIN m
      ON m.user_id = p.user_id AND m.event_id = p.event_id AND m.rn = 1
    """,
)
def cdc_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: probe rows ask "what was this
    user's SCD-2 state an hour before this event?" — the feature-store /
    training-label join that must never leak the future.  Composes
    windows.scd2_intervals with joins.as_of_join (union + running
    window, no inequality-join pair explosion); ties at identical
    valid_from resolve to the max state, mirrored in the oracle's
    row_number ordering."""
    from ..operators.joins import as_of_join

    ev = _t(spark, sf_dir, "events")
    iv = windows.scd2_intervals(ev).select("user_id", "state", "valid_from")
    probe = ev.where(F.col("event_id") % 97 == 0).select(
        "user_id",
        "event_id",
        F.date_format(
            F.col("ts") - F.expr("INTERVAL 1 HOUR"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
        ).alias("pit"),
    )
    out = as_of_join(
        probe,
        iv,
        on="user_id",
        left_ts="pit",
        right_ts="valid_from",
        right_payload=["state"],
        tie_break="state",
    )
    return out.select(
        "user_id", "event_id", "pit", F.col("asof_state").alias("state_asof")
    )


@_q(
    "agg_pivot_events",
    """
    SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS n_click,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT)
               AS n_view,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT)
               AS n_signup,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
               AS n_error
    FROM events GROUP BY 1
    """,
)
def agg_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long→wide per-cohort event-type counts.  The explicit value
    list matters at scale — without it Spark runs an extra distinct job
    over the pivot column to discover values; with it the pivot is a
    single hash aggregation, exactly the CASE/FILTER plan of the SQL."""
    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).cast("long").alias("cohort"), "event_type"
    )
    types = ["click", "view", "purchase", "signup", "error"]
    p = ev.groupBy("cohort").pivot("event_type", types).count()
    return p.select(
        "cohort",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in types
        ],
    )


@_q(
    "text_quality_classifier",
    """
    WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
                  FROM documents),
    s AS (SELECT doc_id, lang,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(list_sum(list_transform(toks,
                      t -> ('0x' || substr(md5(t), 1, 4))::BIGINT - 32768))
                      AS BIGINT) AS score
          FROM toks)
    SELECT doc_id, lang, n_tokens, score,
           score // n_tokens AS score_per_token,
           CASE WHEN score // n_tokens >= 0 THEN 'keep' ELSE 'drop' END
               AS label
    FROM s
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier (operators/text.py
    quality_classifier_scores): fasttext-style hashed bag-of-words dot
    weight-vector scoring with md5-derived deterministic weights, pure
    JVM expressions."""
    from ..operators.text import quality_classifier_scores

    return quality_classifier_scores(_t(spark, sf_dir, "documents"))


@_q(
    "doc_hybrid_rrf",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    q AS (SELECT unnest(['data', 'spark', 'table']) AS term),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
    s AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
    scored AS (
        SELECT tf.doc_id,
               sum((((2*s.n - 2*df.df + 1) * 1000) // (2*df.df + 1))
                   * (44*tf.tf*s.sdl)
                   // (20*tf.tf*s.sdl + 6*s.sdl + 18*dl.dl*s.n)) AS score
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN s
        GROUP BY tf.doc_id),
    tr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
                      AS rnk_t
           FROM scored QUALIFY rnk_t <= 20),
    e AS (SELECT vec_id,
                 list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                     AS qe
          FROM embeddings),
    qv AS (SELECT qe FROM e WHERE vec_id = 0),
    vs AS (SELECT e.vec_id AS doc_id,
                  CAST(list_sum(list_transform(range(1, len(e.qe) + 1),
                       i -> e.qe[i] * qv.qe[i])) AS BIGINT) AS dot_q
           FROM e CROSS JOIN qv WHERE e.vec_id <> 0),
    vtop AS (SELECT doc_id,
                    row_number() OVER (ORDER BY dot_q DESC, doc_id) AS rnk_v
             FROM vs QUALIFY rnk_v <= 20),
    fused AS (
        SELECT coalesce(tr.doc_id, vtop.doc_id) AS doc_id,
               CAST(coalesce(1000000 // (60 + tr.rnk_t), 0)
                    + coalesce(1000000 // (60 + vtop.rnk_v), 0) AS BIGINT)
                   AS rrf_micro
        FROM tr FULL OUTER JOIN vtop ON tr.doc_id = vtop.doc_id),
    r AS (SELECT doc_id, rrf_micro,
                 row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rnk
          FROM fused)
    SELECT doc_id, rrf_micro, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 10
    """,
)
def doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval fused by Reciprocal Rank Fusion
    (operators/retrieval.py hybrid_rrf_topk): BM25 top-20 for a 3-term
    query + exact embedding top-20 around vec_id 0, RRF-merged with
    integer arithmetic."""
    from ..operators.retrieval import hybrid_rrf_topk

    return hybrid_rrf_topk(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        ["data", "spark", "table"],
        query_vec_id=0,
        k=10,
        k_each=20,
    )


# --------------------------------------------------------------------------
# Round 4: graph/association analytics, BPE statistics, covariance,
# CDC diff, conversion analytics, replication reconciliation
# --------------------------------------------------------------------------


def _graph_kcore_oracle(k: int = 3, rounds: int = 8) -> str:
    """DuckDB mirror of graph.kcore_membership: the peeling rounds
    unrolled (each survivor set MATERIALIZED — referenced twice by the
    next round's degree join, the _kcenter_ctes inlining lesson)."""
    ctes = [
        """gke AS (SELECT DISTINCT
               least(l_orderkey % 250, l_partkey % 250) AS u,
               greatest(l_orderkey % 250, l_partkey % 250) AS v
           FROM lineitem
           WHERE l_quantity > 45
             AND l_orderkey % 250 <> l_partkey % 250)""",
        "gks AS MATERIALIZED (SELECT u AS node, v AS nbr FROM gke "
        "UNION ALL SELECT v, u FROM gke)",
        "gka0 AS MATERIALIZED (SELECT DISTINCT node FROM gks)",
    ]
    for j in range(1, rounds + 1):
        ctes.append(
            f"""gka{j} AS MATERIALIZED (
            SELECT s.node FROM gks s
            JOIN gka{j - 1} x ON x.node = s.node
            JOIN gka{j - 1} y ON y.node = s.nbr
            GROUP BY s.node HAVING count(*) >= {k})"""
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f""",
    gkd AS (SELECT s.node, CAST(count(*) AS BIGINT) AS deg_in_core
            FROM gks s
            JOIN gka{rounds} x ON x.node = s.node
            JOIN gka{rounds} y ON y.node = s.nbr
            GROUP BY s.node),
    gkc AS (SELECT (SELECT count(*) FROM gka{rounds - 1})
                 = (SELECT count(*) FROM gka{rounds}) AS converged)
    SELECT node, deg_in_core, converged FROM gkd, gkc"""
    )


@_q("graph_kcore_membership", _graph_kcore_oracle())
def graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the derived order↔part graph —
    the density filter between raw graph and the community/quality
    stages (peripheral tree-like nodes leave; the mutually-dense core
    stays): 8 rounds of iterative peeling via graph.kcore_membership,
    each round dropping every node with fewer than k surviving
    neighbors.  Survivors carry their core-restricted degree plus the
    oracle-checked ``converged`` witness (survivor sets only shrink,
    so the last-two-rounds count equality IS set equality — the
    evt_markov_stationary fixed-rounds convention).

    Scale notes (100 TB): per round two node-keyed hash joins + one
    map-side-combined degree agg (the PageRank shuffle shape,
    bucketing co-locates it); lazily checkpointed survivor frames keep
    lineage O(1) per round; the witness is a 1-row count cross
    (allowlisted scalar broadcast)."""
    from ..operators.graph import kcore_membership

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    edges = li.select(
        (F.col("l_orderkey") % 250).alias("src"),
        (F.col("l_partkey") % 250).alias("dst"),
    )
    return kcore_membership(edges, k=3, rounds=8)


@_q(
    "graph_triangle_count",
    """
    WITH base AS (
        SELECT DISTINCT least(l_orderkey % 2000, l_partkey % 2000) AS u,
                        greatest(l_orderkey % 2000, l_partkey % 2000) AS v
        FROM lineitem
        WHERE l_quantity > 45 AND l_orderkey % 2000 <> l_partkey % 2000
    ),
    tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM base e1
        JOIN base e2 ON e2.u = e1.v
        JOIN base e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    nodes AS (SELECT x AS id FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri)
    SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY id
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over a derived order↔part graph
    (operators/graph.py triangle_counts): degree-ordered wedge
    enumeration, the skew-proof distributed triangle algorithm.  The
    oracle enumerates each triangle once through canonical u<v edges —
    orientation schemes differ, per-node counts cannot."""
    from ..operators.graph import triangle_counts

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    edges = li.select(
        (F.col("l_orderkey") % 2000).alias("src"),
        (F.col("l_partkey") % 2000).alias("dst"),
    )
    return triangle_counts(edges)


@_q(
    "part_cooccurrence_pairs",
    """
    WITH b AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
               FROM lineitem)
    SELECT a.item AS item_a, c.item AS item_b,
           CAST(count(*) AS BIGINT) AS n_groups
    FROM b a JOIN b c ON a.g = c.g AND a.item < c.item
    GROUP BY a.item, c.item
    HAVING count(*) >= 2
    """,
)
def part_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence support counts (operators/stats.py
    cooccurrence_pairs): parts appearing together in ≥2 orders.  The
    association-mining support pass — per-basket self-join bounded by
    basket size, map-side-combined support filter."""
    from ..operators.stats import cooccurrence_pairs

    return cooccurrence_pairs(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", min_support=2
    )


@_q(
    "evt_path_trigrams",
    """
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type FROM events),
    t AS (SELECT event_type AS s1,
                 lead(event_type, 1) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS s2,
                 lead(event_type, 2) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS s3
          FROM e)
    SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n_paths
    FROM t WHERE s2 IS NOT NULL AND s3 IS NOT NULL
    GROUP BY s1, s2, s3
    """,
)
def evt_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path analysis: frequency of every consecutive
    3-step event-type sequence per user (lead-window trigrams — the
    clickstream path-mining primitive).  One shuffle keyed by user_id
    for the window, then a bounded-cardinality (≤|types|³) count."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"),
    )
    return (
        t.where(F.col("s2").isNotNull() & F.col("s3").isNotNull())
        .groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
    )


@_q(
    "agg_approx_percentile",
    """
    WITH e AS (SELECT event_type,
                      CAST(floor(value * 100) AS BIGINT) AS cents
               FROM events),
    r AS (SELECT event_type, cents,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY cents) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM e)
    SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
           max(CASE WHEN rn = ((n - 1) // 4) + 1 THEN cents END)
               AS p25_cents,
           max(CASE WHEN rn = ((n - 1) // 2) + 1 THEN cents END)
               AS p50_cents,
           max(CASE WHEN rn = ((3 * (n - 1)) // 4) + 1 THEN cents END)
               AS p75_cents,
           true AS approx_in_iqr
    FROM r GROUP BY event_type
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) audited against exact
    order statistics: per event type, the exact discrete p25/p50/p75
    (rank-select over integer cents — deterministic regardless of tie
    order) plus the CLAIM that the sketch median lands inside the exact
    IQR, emitted as a boolean the oracle asserts — the same
    sketch-vs-exact contract shape as agg_approx_distinct."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    r = e.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    pick = lambda idx: F.max(F.when(F.col("rn") == F.expr(idx), F.col("cents")))  # noqa: E731
    g = r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        pick("((n - 1) DIV 4) + 1").alias("p25_cents"),
        pick("((n - 1) DIV 2) + 1").alias("p50_cents"),
        pick("((3 * (n - 1)) DIV 4) + 1").alias("p75_cents"),
        F.expr("approx_percentile(cents, 0.5, 10000)").alias("approx_p50"),
    )
    return g.select(
        "event_type",
        "n_events",
        "p25_cents",
        "p50_cents",
        "p75_cents",
        F.col("approx_p50")
        .between(F.col("p25_cents"), F.col("p75_cents"))
        .alias("approx_in_iqr"),
    )


@_q(
    "text_bpe_pair_counts",
    r"""
    WITH w AS (SELECT unnest(string_split_regex(text, '\s+')) AS word
               FROM documents),
    v AS (SELECT word, count(*) AS n_word FROM w WHERE word <> ''
          GROUP BY word),
    p AS (SELECT n_word, substr(word, CAST(t.i AS INTEGER), 1) AS sym_a,
                 substr(word, CAST(t.i AS INTEGER) + 1, 1) AS sym_b
          FROM v, unnest(range(1, length(word))) AS t(i)
          WHERE length(word) >= 2)
    SELECT sym_a, sym_b, CAST(sum(n_word) AS BIGINT) AS n_pairs
    FROM p GROUP BY sym_a, sym_b
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE first-merge statistics (operators/text.py bpe_pair_counts):
    adjacent character-pair frequencies weighted by word frequency.
    Pair extraction runs over the DISTINCT-word vocabulary, not the raw
    corpus — the compression that keeps tokenizer training tractable at
    100 TB."""
    return text.bpe_pair_counts(_t(spark, sf_dir, "documents"))


@_q(
    "emb_dim_covariance",
    f"""
    WITH e AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    p AS (SELECT CAST(ti.i AS INTEGER) AS i, CAST(tj.j AS INTEGER) AS j,
                 qe[CAST(ti.i AS INTEGER)] * qe[CAST(tj.j AS INTEGER)] AS prod
          FROM e, unnest(range(1, 65)) AS ti(i), unnest(range(1, 65)) AS tj(j)
          WHERE ti.i <= tj.j)
    SELECT i, j, CAST(sum(prod) AS BIGINT) AS sum_prod
    FROM p GROUP BY i, j
    """,
)
def emb_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram matrix Σ XᵀX over quantized embeddings
    (operators/similarity.py gram_matrix): one numpy matmul per Arrow
    batch, dim² partial rows per batch, map-side-combined final sum —
    the distributed-covariance building block for PCA/whitening.  The
    oracle unnests the 64×64 upper triangle per vector and must match
    every int64 cell."""
    return similarity.gram_matrix(_t(spark, sf_dir, "embeddings"))


@_q(
    "cdc_snapshot_diff",
    """
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type FROM events),
    s1 AS (SELECT user_id, event_type AS state_t1,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM e WHERE ts <= TIMESTAMP '2024-01-10 00:00:00'),
    s2 AS (SELECT user_id, event_type AS state_t2,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM e WHERE ts <= TIMESTAMP '2024-01-20 00:00:00')
    SELECT user_id, s1.state_t1, s2.state_t2,
           CASE WHEN s1.user_id IS NULL THEN 'insert'
                WHEN s1.state_t1 <> s2.state_t2 THEN 'update'
                ELSE 'unchanged' END AS change
    FROM (SELECT * FROM s2 WHERE rn = 1) s2
    LEFT JOIN (SELECT * FROM s1 WHERE rn = 1) s1 USING (user_id)
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot changefeed: diff the per-user state at T1 vs T2 into
    insert/update/unchanged rows — the CDC-diff that turns two batch
    snapshots back into a change stream.  ONE scan and one aggregation:
    both as-of states come from conditional struct-max (ts, event_id
    orders it deterministically), not two window passes."""
    e = _t(spark, sf_dir, "events")
    st = lambda cutoff: F.max(  # noqa: E731
        F.when(
            F.col("ts") <= F.lit(cutoff).cast("timestamp_ntz"),
            F.struct("ts", "event_id", "event_type"),
        )
    )
    g = (
        e.groupBy("user_id")
        .agg(
            st("2024-01-10 00:00:00").alias("s1"),
            st("2024-01-20 00:00:00").alias("s2"),
        )
        .where(F.col("s2").isNotNull())
    )
    return g.select(
        "user_id",
        F.col("s1.event_type").alias("state_t1"),
        F.col("s2.event_type").alias("state_t2"),
        F.when(F.col("s1").isNull(), "insert")
        .when(F.col("s1.event_type") != F.col("s2.event_type"), "update")
        .otherwise("unchanged")
        .alias("change"),
    )


@_q(
    "evt_conversion_time_stats",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
               FROM events),
    su AS (SELECT user_id, min(ts) AS signup_ts FROM e
           WHERE event_type = 'signup' GROUP BY user_id),
    c AS (SELECT su.user_id, su.signup_ts,
                 min(CASE WHEN p.ts > su.signup_ts THEN p.ts END)
                     AS purchase_ts
          FROM su LEFT JOIN e p
            ON p.user_id = su.user_id AND p.event_type = 'purchase'
          GROUP BY su.user_id, su.signup_ts)
    SELECT strftime(date_trunc('day', signup_ts), '%Y-%m-%d')
               AS signup_day,
           CAST(count(*) AS BIGINT) AS n_signup_users,
           CAST(count(purchase_ts) AS BIGINT) AS n_converted,
           CAST(sum((epoch_us(purchase_ts) - epoch_us(signup_ts))
                    // 1000000) AS BIGINT) AS sum_conv_sec,
           CAST(min((epoch_us(purchase_ts) - epoch_us(signup_ts))
                    // 1000000) AS BIGINT) AS min_conv_sec,
           CAST(max((epoch_us(purchase_ts) - epoch_us(signup_ts))
                    // 1000000) AS BIGINT) AS max_conv_sec
    FROM c GROUP BY signup_day
    """,
)
def evt_conversion_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert analytics: per signup-day cohort, how many
    first-signup users later purchased and the integer-second
    distribution of the first conversion delay.  Purchase side is
    pre-filtered before the join (predicate pushdown to the scan), the
    per-user min is map-side-combined, and all durations are exact
    epoch-microsecond arithmetic floor-divided to seconds."""
    e = _t(spark, sf_dir, "events")
    su = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    c = (
        su.join(p, "user_id", "left")
        .groupBy("user_id", "signup_ts")
        .agg(
            F.min(F.when(F.col("p_ts") > F.col("signup_ts"), F.col("p_ts"))).alias(
                "purchase_ts"
            )
        )
    )
    conv_sec = F.expr(
        "(unix_micros(CAST(purchase_ts AS TIMESTAMP)) "
        "- unix_micros(CAST(signup_ts AS TIMESTAMP))) DIV 1000000"
    )
    return (
        c.select(
            F.date_format(F.date_trunc("day", "signup_ts"), "yyyy-MM-dd").alias(
                "signup_day"
            ),
            "purchase_ts",
            conv_sec.alias("conv_sec"),
        )
        .groupBy("signup_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_signup_users"),
            F.count("purchase_ts").cast("long").alias("n_converted"),
            F.sum("conv_sec").cast("long").alias("sum_conv_sec"),
            F.min("conv_sec").cast("long").alias("min_conv_sec"),
            F.max("conv_sec").cast("long").alias("max_conv_sec"),
        )
    )


@_q(
    "kr_replication_reconcile",
    f"""
    WITH {_GATED_CTE.strip()},
    ps AS (SELECT streamName, CAST(count(*) AS BIGINT) AS n_source
           FROM decoded GROUP BY streamName),
    pr AS (SELECT g.streamName, CAST(count(*) AS BIGINT) AS n_replicated,
                  CAST(sum(CASE WHEN g.payload = d.payload
                                THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_payload_match
           FROM gated g JOIN decoded d
             ON d.sequenceNumber = g.sequenceNumber
           GROUP BY g.streamName)
    SELECT ps.streamName, ps.n_source,
           coalesce(pr.n_replicated, 0) AS n_replicated,
           coalesce(pr.n_payload_match, 0) AS n_payload_match,
           CASE WHEN coalesce(pr.n_replicated, 0) = 0 THEN 'inactive'
                WHEN pr.n_replicated = ps.n_source THEN 'complete'
                ELSE 'partial' END AS status
    FROM ps LEFT JOIN pr ON pr.streamName = ps.streamName
    """,
)
def kr_replication_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication reconciliation — the validation procedure the
    reference README (README.md:118-151) walks through manually
    (generate → replicate → compare both streams), as one query: source
    vs replicated record counts per stream plus byte-fidelity of every
    replicated payload (joined back on sequenceNumber), classified
    complete / partial / inactive.  The anti-entropy audit any
    cross-region replicator needs on a schedule.  spread() parallelizes
    the envelope derivation + decode feeding both join sides (1.6×
    measured; no-op on real multi-partition input)."""
    env = envelope_from_events(spread(_t(spark, sf_dir, "events")))
    src = replication.with_decoded(env)
    rep = replication.gate_active_region(src, _config_df(spark), CURRENT_REGION)
    ps = src.groupBy("streamName").agg(
        F.count(F.lit(1)).cast("long").alias("n_source")
    )
    pr = (
        rep.select("streamName", "sequenceNumber", "payload")
        .join(
            src.select(
                "sequenceNumber", F.col("payload").alias("src_payload")
            ),
            "sequenceNumber",
        )
        .groupBy("streamName")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_replicated"),
            F.sum((F.col("payload") == F.col("src_payload")).cast("long"))
            .cast("long")
            .alias("n_payload_match"),
        )
    )
    return ps.join(pr, "streamName", "left").select(
        "streamName",
        "n_source",
        F.coalesce("n_replicated", F.lit(0)).cast("long").alias("n_replicated"),
        F.coalesce("n_payload_match", F.lit(0))
        .cast("long")
        .alias("n_payload_match"),
        F.when(F.coalesce("n_replicated", F.lit(0)) == 0, "inactive")
        .when(F.col("n_replicated") == F.col("n_source"), "complete")
        .otherwise("partial")
        .alias("status"),
    )


@_q(
    "evt_cumulative_new_users",
    """
    WITH f AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_ts
               FROM events GROUP BY user_id),
    d AS (SELECT strftime(date_trunc('hour', first_ts),
                          '%Y-%m-%d %H:00') AS hour,
                 CAST(count(*) AS BIGINT) AS n_new
          FROM f GROUP BY 1)
    SELECT hour, n_new,
           CAST(sum(n_new) OVER (ORDER BY hour ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cumulative
    FROM d
    """,
)
def evt_cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users over time via the first-seen rewrite:
    a windowed COUNT(DISTINCT) is unbounded-state and unshardable, but
    min-first-seen per user + a running sum over daily new-user counts
    is two map-side-combined aggregations and a window over ~|days|
    rows — the scalable formulation of "unique users to date"."""
    e = _t(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    d = (
        f.select(
            F.date_format(
                F.date_trunc("hour", "first_ts"), "yyyy-MM-dd HH:00"
            ).alias("hour")
        )
        .groupBy("hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    w = (
        Window.orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select(
        "hour", "n_new", F.sum("n_new").over(w).cast("long").alias("n_cumulative")
    )


@_q(
    "files_schema_evolution",
    """
    SELECT coalesce(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
                    'MISSING') AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM orders GROUP BY priority
    """,
)
def files_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: generation 1 files lack a column that
    generation 2 adds (the unavoidable state of any long-lived 100 TB
    dataset), and ``mergeSchema`` reconciles both under one scan schema
    with NULLs for the missing column — no rewrite of old files.  The
    query writes the two generations from a deterministic split of
    ``orders`` (even keys = old schema, odd = new), reads them merged,
    and aggregates; the oracle replays the split logically.  Scale note:
    mergeSchema costs a footer read per file at planning time — pin the
    merged schema explicitly (``.schema(...)``) once it stabilizes."""
    import shutil
    import tempfile

    o = _t(spark, sf_dir, "orders")
    work = tempfile.mkdtemp(prefix="akr-schema-evo-")
    try:
        gen1 = o.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        gen2 = o.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        gen1.write.mode("overwrite").parquet(work + "/gen=1")
        gen2.write.mode("overwrite").parquet(work + "/gen=2")
        merged = spark.read.option("mergeSchema", "true").parquet(
            work + "/gen=1", work + "/gen=2"
        )
        out = (
            merged.groupBy(
                F.coalesce("o_orderpriority", F.lit("MISSING")).alias("priority")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_price"),
            )
        )
        # materialize before the temp dir disappears
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


@_q(
    "evt_sliding_hll_users",
    """
    WITH e AS (SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                          // 3600000000 AS eh,
                      user_id
               FROM events),
    hrs AS (SELECT DISTINCT eh FROM e),
    x AS (SELECT DISTINCT eh + o.o AS h, user_id
          FROM e, unnest(range(0, 6)) AS o(o)),
    ex AS (SELECT h, count(*) AS n_exact_users FROM x GROUP BY h),
    nh AS (SELECT hrs.eh + o.o AS h, count(*) AS n_hours_merged
           FROM hrs, unnest(range(0, 6)) AS o(o) GROUP BY 1)
    SELECT hrs.eh AS epoch_hour,
           CAST(nh.n_hours_merged AS BIGINT) AS n_hours_merged,
           CAST(ex.n_exact_users AS BIGINT) AS n_exact_users,
           true AS est_within_12pct,
           true AS mean_err_within_3pct
    FROM hrs
    JOIN nh ON nh.h = hrs.eh
    JOIN ex ON ex.h = hrs.eh
    """,
)
def evt_sliding_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct via SKETCH ROLLUP — the scale path
    evt_sliding_distinct_users documents as its wide-window
    alternative: one HLL sketch per hour (DataSketches hll_sketch_agg,
    the agg_hll_sketch_union machinery), then each 6-hour window is a
    UNION OF 6 HOURLY SKETCHES — the ×W replication happens on the
    few-KB-per-hour rollup, never on the raw events, so a 30-day
    window over a year of 100 TB telemetry merges 720 sketches per
    window instead of replicating every event 720×.  Estimates are
    engine-specific, so (the established convention) each window
    emits a tolerance claim as a boolean the oracle asserts, alongside
    the exact count and the window's merged-hour arity that keep the
    hash sensitive to the windowing itself.  The bound is 12%, not the
    ~1.6% lgK=12 standard error: a per-window hard assertion must
    survive the worst window of every future rung, so it is set at
    ≈7.5σ where a single-window excursion is effectively impossible
    (small windows are exact — HLL sparse mode — so only the gaussian
    large-window regime matters).

    Sub-band drift signal (r11 verdict ask #8): a second hash-checked
    claim, `mean_err_within_3pct`, asserts the MEAN relative error
    across ALL windows ≤ 3%.  A tighter PER-WINDOW band would flake
    (6% ≈ 3.7σ → a worst-window excursion is expected somewhere
    across thousands of sf1 windows), but the suite mean concentrates
    as 1/√N, so 3% vs the ~1.6% healthy per-window σ can never flake
    — yet a sketch misconfiguration drifting in-band error to ~8%
    flips parity RED instead of only failing the accuracy pytest.
    The 1-row mean enters as the allowlisted scalar broadcast cross.

    Scale notes: events are touched ONCE (hourly sketch agg,
    map-side combinable); the window explode is |hours| × 6 rollup
    rows; the exact side is the EVAL leg, dropped in production."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) DIV 3600000000").alias("eh"), "user_id"
    )
    hourly = e.groupBy("eh").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk")
    )
    wins = hourly.select(
        F.explode(F.sequence(F.col("eh"), F.col("eh") + 5)).alias("h"),
        "sk",
    )
    est = wins.groupBy("h").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
        F.count(F.lit(1)).alias("n_hours_merged"),
    )
    exact = (
        e.select(
            F.explode(
                F.sequence(F.col("eh"), F.col("eh") + 5)
            ).alias("h"),
            "user_id",
        )
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_exact_users"))
    )
    joined = (
        hourly.select("eh")
        .join(est, est.h == F.col("eh"))
        .drop("h")
        .join(exact, exact.h == F.col("eh"))
        .select(
            F.col("eh").alias("epoch_hour"),
            F.col("n_hours_merged").cast("long").alias("n_hours_merged"),
            F.col("n_exact_users").cast("long").alias("n_exact_users"),
            (
                F.abs(F.col("est") - F.col("n_exact_users"))
                <= F.col("n_exact_users") * F.lit(0.12)
            ).alias("est_within_12pct"),
            (
                F.abs(F.col("est") - F.col("n_exact_users"))
                / F.col("n_exact_users")
            ).alias("_rel_err"),
        )
    )
    # suite mean via a global window over the |hours|-row SUMMARY —
    # domain-bounded (calendar span), so the single partition holds
    # thousands of rows at any corpus size; avoids a second pass over
    # the events subtree that a scalar-agg crossJoin would re-plan
    return joined.withColumn(
        "mean_err_within_3pct",
        F.avg("_rel_err").over(Window.partitionBy()) <= F.lit(0.03),
    ).drop("_rel_err")


@_q(
    "evt_incident_session_overlap",
    """
    WITH iu AS (SELECT user_id,
                       min(epoch_us(CAST(ts AS TIMESTAMP))) AS ls,
                       max(epoch_us(CAST(ts AS TIMESTAMP))) AS le
                FROM events
                GROUP BY user_id,
                         date_trunc('day', CAST(ts AS TIMESTAMP))),
    ii AS (SELECT event_type,
                  min(epoch_us(CAST(ts AS TIMESTAMP))) AS rs,
                  min(epoch_us(CAST(ts AS TIMESTAMP))) + 7200000000 AS re
           FROM events
           GROUP BY event_type,
                    date_trunc('day', CAST(ts AS TIMESTAMP))),
    ov AS (SELECT ii.event_type, iu.user_id
           FROM iu JOIN ii ON iu.ls <= ii.re AND ii.rs <= iu.le)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM ov GROUP BY event_type
    """,
)
def evt_incident_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval–interval OVERLAP join (operators/joins.py
    interval_overlap_join) — the temporal join class the as-of and
    bounded-range joins don't cover: which user activity spans (per
    user per day, [first event, last event]) overlapped which incident
    windows (per event type per day, [first occurrence, +2h])?  The
    raw predicate is a theta join; the operator turns it into a hash
    equi-join by exploding both interval sets to 1-hour cells, meeting
    on the cell id, exact-filtering, and de-duplicating multi-cell
    matches — counted per incident type in overlapping pairs and
    distinct affected users.

    Scale notes (100 TB): replication factor = interval length / cell
    width on the per-day ROLLUPS (never raw events — both sides are
    pre-aggregated); the incident side is tiny (types × days) and
    broadcasts; the exact predicate keeps any width choice correct,
    width only tunes cost.  The oracle runs the direct theta join."""
    from ..operators.joins import interval_overlap_join

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr("date_trunc('day', ts)").alias("d"),
    )
    iu = ev.groupBy("user_id", "d").agg(
        F.min("us").alias("ls"), F.max("us").alias("le")
    ).drop("d")
    ii = (
        ev.groupBy("event_type", "d")
        .agg(F.min("us").alias("rs"))
        .withColumn("re", F.col("rs") + F.lit(7_200_000_000))
        .drop("d")
    )
    ov = interval_overlap_join(
        iu, ii, "ls", "le", "rs", "re", bucket_width=3_600_000_000
    )
    return ov.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@_q(
    "evt_sliding_value_quantiles",
    """
    WITH qe AS (SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                           // 3600000000 AS eh,
                       CAST(floor(value * 100) AS BIGINT) AS cents,
                       event_id
                FROM events),
    qr AS (SELECT eh, cents, event_id,
                  row_number() OVER (PARTITION BY eh
                                     ORDER BY cents, event_id) AS rn,
                  count(*) OVER (PARTITION BY eh) AS n_h
           FROM qe),
    qb AS (SELECT eh, cents, rn FROM qr
           WHERE (32 * rn) // n_h > (32 * (rn - 1)) // n_h),
    qp AS (SELECT eh, cents AS v,
                  rn - coalesce(lag(rn) OVER (PARTITION BY eh
                                              ORDER BY rn), 0) AS w
           FROM qb),
    qw AS (SELECT eh + o.o AS h, v, w
           FROM qp, unnest(range(0, 6)) AS o(o)),
    qv AS (SELECT h, v, CAST(sum(w) AS BIGINT) AS w FROM qw GROUP BY 1, 2),
    qc AS (SELECT h, v,
                  sum(w) OVER (PARTITION BY h ORDER BY v) AS cumw,
                  sum(w) OVER (PARTITION BY h) AS totw
           FROM qv),
    qest AS (SELECT h,
                    CAST(min(CASE WHEN 100 * cumw >= 50 * totw THEN v END)
                         AS BIGINT) AS p50_est,
                    CAST(min(CASE WHEN 100 * cumw >= 95 * totw THEN v END)
                         AS BIGINT) AS p95_est,
                    CAST(max(totw) AS BIGINT) AS n_events
             FROM qc GROUP BY h),
    qnh AS (SELECT eh2 + o.o AS h, count(*) AS n_hours_merged
            FROM (SELECT DISTINCT eh AS eh2 FROM qe),
                 unnest(range(0, 6)) AS o(o)
            GROUP BY 1),
    qx AS (SELECT eh + o.o AS h, cents, event_id
           FROM qe, unnest(range(0, 6)) AS o(o)),
    qxr AS (SELECT h, cents,
                   row_number() OVER (PARTITION BY h
                                      ORDER BY cents, event_id) AS rn,
                   count(*) OVER (PARTITION BY h) AS n
            FROM qx),
    qex AS (SELECT h,
                   CAST(min(CASE WHEN 100 * rn >= 50 * n THEN cents END)
                        AS BIGINT) AS p50_exact,
                   CAST(min(CASE WHEN 100 * rn >= 95 * n THEN cents END)
                        AS BIGINT) AS p95_exact
            FROM qxr GROUP BY h)
    SELECT hrs.eh AS epoch_hour,
           CAST(qnh.n_hours_merged AS BIGINT) AS n_hours_merged,
           qest.n_events,
           qex.p50_exact, qex.p95_exact, qest.p50_est, qest.p95_est
    FROM (SELECT DISTINCT eh FROM qe) hrs
    JOIN qnh ON qnh.h = hrs.eh
    JOIN qest ON qest.h = hrs.eh
    JOIN qex ON qex.h = hrs.eh
    """,
)
def evt_sliding_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window QUANTILES via equi-depth summary rollup — the
    quantile sibling of evt_sliding_hll_users (sliding distinct) and
    the SLO-latency shape every ops dashboard runs: p50/p95 of event
    value over a trailing 6-hour window, per hour.  Each hour is
    summarized ONCE into a ≤32-point weighted equi-depth summary (the
    agg_quantile_sketch_merge machinery keyed by hour instead of
    shard); each window then merges 6 summaries — the ×W replication
    happens on the ≤32-row-per-hour rollup, never on the raw events,
    so a 30-day window over a year of 100 TB telemetry merges 720
    summaries instead of replicating every event 720×.

    Unlike the HLL sibling there is NO tolerance boolean: the summary
    is relationally defined (boundary ranks + rank-gap weights), so
    the oracle replays the ESTIMATE bit-for-bit — both the exact and
    the estimated percentiles ride the value hash, and the estimate's
    rank error is bounded by W·n_h/32 by construction.

    Scale notes: events are touched once per leg (hourly summary agg;
    the exact side is the EVAL leg, dropped in production — its ×6
    event replication is the documented bounded-window rewrite);
    every window function is hour-partitioned, never global."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) DIV 3600000000").alias("eh"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        "event_id",
    )
    w_rn = Window.partitionBy("eh").orderBy("cents", "event_id")
    w_n = Window.partitionBy("eh")
    r = e.select(
        "eh",
        "cents",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n_h"),
    )
    b = r.where(
        F.expr("(32 * rn) DIV n_h > (32 * (rn - 1)) DIV n_h")
    )
    w_lag = Window.partitionBy("eh").orderBy("rn")
    pts = b.select(
        "eh",
        F.col("cents").alias("v"),
        (F.col("rn") - F.coalesce(F.lag("rn").over(w_lag), F.lit(0))).alias(
            "w"
        ),
    )
    wins = pts.select(
        F.explode(F.sequence(F.col("eh"), F.col("eh") + 5)).alias("h"),
        "v",
        "w",
    )
    pv = wins.groupBy("h", "v").agg(F.sum("w").alias("w"))
    w_cum = Window.partitionBy("h").orderBy("v")
    w_tot = Window.partitionBy("h")
    cum = pv.select(
        "h",
        "v",
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_tot).alias("totw"),
    )
    est = cum.groupBy("h").agg(
        F.min(F.when(100 * F.col("cumw") >= 50 * F.col("totw"), F.col("v")))
        .cast("long")
        .alias("p50_est"),
        F.min(F.when(100 * F.col("cumw") >= 95 * F.col("totw"), F.col("v")))
        .cast("long")
        .alias("p95_est"),
        F.max("totw").cast("long").alias("n_events"),
    )
    nh = (
        e.select("eh")
        .distinct()
        .select(
            F.explode(F.sequence(F.col("eh"), F.col("eh") + 5)).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_hours_merged"))
    )
    ex = e.select(
        F.explode(F.sequence(F.col("eh"), F.col("eh") + 5)).alias("h"),
        "cents",
        "event_id",
    )
    w_xrn = Window.partitionBy("h").orderBy("cents", "event_id")
    w_xn = Window.partitionBy("h")
    xr = ex.select(
        "h",
        "cents",
        F.row_number().over(w_xrn).alias("rn"),
        F.count(F.lit(1)).over(w_xn).alias("n"),
    )
    exq = xr.groupBy("h").agg(
        F.min(F.when(100 * F.col("rn") >= 50 * F.col("n"), F.col("cents")))
        .cast("long")
        .alias("p50_exact"),
        F.min(F.when(100 * F.col("rn") >= 95 * F.col("n"), F.col("cents")))
        .cast("long")
        .alias("p95_exact"),
    )
    hrs = e.select("eh").distinct()
    return (
        hrs.join(nh, nh.h == F.col("eh"))
        .drop("h")
        .join(est, est.h == F.col("eh"))
        .drop("h")
        .join(exq, exq.h == F.col("eh"))
        .select(
            F.col("eh").alias("epoch_hour"),
            F.col("n_hours_merged").cast("long").alias("n_hours_merged"),
            "n_events",
            "p50_exact",
            "p95_exact",
            "p50_est",
            "p95_est",
        )
    )


@_q(
    "evt_sliding_loghist_quantiles",
    """
    WITH e AS (SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                          // 3600000000 AS eh,
                      greatest(CAST(floor(value * 100) AS BIGINT), 0) AS v
               FROM events),
    b AS (SELECT eh,
                 CASE WHEN v < 8 THEN v
                      ELSE 4 * length(bin(v))
                           + ((v >> (length(bin(v)) - 3)) & 3)
                 END AS bid
          FROM e),
    hourly AS (SELECT eh, bid, count(*) AS cnt FROM b GROUP BY 1, 2),
    hrs AS (SELECT DISTINCT eh FROM e),
    wins AS (SELECT eh + o.o AS h, bid, cnt
             FROM hourly, unnest(range(0, 6)) AS o(o)),
    hb AS (SELECT h, bid, sum(cnt) AS cnt FROM wins GROUP BY 1, 2),
    cum AS (SELECT h, bid,
                   sum(cnt) OVER (PARTITION BY h ORDER BY bid) AS cumc,
                   sum(cnt) OVER (PARTITION BY h) AS tot
            FROM hb),
    est AS (SELECT h,
                   min(CASE WHEN 100 * cumc >= 50 * tot THEN bid END)
                       AS p50_bid,
                   min(CASE WHEN 100 * cumc >= 95 * tot THEN bid END)
                       AS p95_bid,
                   CAST(max(tot) AS BIGINT) AS n_events
            FROM cum GROUP BY 1),
    nh AS (SELECT h2.eh + o.o AS h, count(*) AS n_hours_merged
           FROM hrs h2, unnest(range(0, 6)) AS o(o) GROUP BY 1)
    SELECT hrs.eh AS epoch_hour,
           CAST(nh.n_hours_merged AS BIGINT) AS n_hours_merged,
           est.n_events,
           CAST(CASE WHEN p50_bid < 8 THEN p50_bid
                     ELSE (4 + p50_bid % 4) << ((p50_bid // 4) - 3)
                END AS BIGINT) AS p50_hist,
           CAST(CASE WHEN p95_bid < 8 THEN p95_bid
                     ELSE (4 + p95_bid % 4) << ((p95_bid // 4) - 3)
                END AS BIGINT) AS p95_hist
    FROM hrs
    JOIN nh ON nh.h = hrs.eh
    JOIN est ON est.h = hrs.eh
    """,
)
def evt_sliding_loghist_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding-window p50/p95 via BOUNDED LOG-BUCKET HISTOGRAM rollup —
    the batch twin of streaming/stateful.py
    ``streaming_sliding_value_quantiles`` and the constant-state
    variant of ``evt_sliding_value_quantiles``: each hour folds to a
    ≤256-bucket integer histogram (identity below 8, then
    exponent + 2-bit mantissa — ≤25% relative bucket width), each
    6-hour window is a COUNT-MERGE of 6 hourly histograms, and the
    reported percentile is the lower bound of the first bucket whose
    cumulative count crosses the rank.  Every step is integer-exact
    and order-independent, so (a) DuckDB replays the estimate
    bit-for-bit — full value oracle, no tolerance boolean — and (b)
    the streaming twin emits the IDENTICAL row per window regardless
    of micro-batch boundaries, which tests/test_streaming_sliding_
    quantiles.py asserts directly against this query.

    Scale notes: events are touched ONCE (hour+bucket hash agg,
    map-side combinable); the window explode replicates only the
    ≤256-row hourly histograms — a 30-day window over a year of
    100 TB telemetry merges 720 tiny histograms per window, and the
    per-hour state a streaming job carries is a constant few KB.
    Window functions are hour-partitioned, never global."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) DIV 3600000000").alias("eh"),
        F.expr(
            "greatest(CAST(floor(value * 100) AS BIGINT), CAST(0 AS BIGINT))"
        ).alias("v"),
    )
    b = e.select(
        "eh",
        F.expr(
            "CASE WHEN v < 8 THEN v ELSE 4 * length(bin(v)) "
            "+ (shiftright(v, length(bin(v)) - 3) & 3) END"
        ).alias("bid"),
    )
    hourly = b.groupBy("eh", "bid").agg(F.count(F.lit(1)).alias("cnt"))
    wins = hourly.select(
        F.explode(F.sequence(F.col("eh"), F.col("eh") + 5)).alias("h"),
        "bid",
        "cnt",
    )
    hb = wins.groupBy("h", "bid").agg(F.sum("cnt").alias("cnt"))
    w_cum = Window.partitionBy("h").orderBy("bid")
    w_tot = Window.partitionBy("h")
    cum = hb.select(
        "h",
        "bid",
        F.sum("cnt").over(w_cum).alias("cumc"),
        F.sum("cnt").over(w_tot).alias("tot"),
    )
    def _lo(c: str) -> str:
        return (
            f"CAST(CASE WHEN {c} < 8 THEN {c} "
            f"ELSE shiftleft(4 + {c} % 4, CAST({c} DIV 4 AS INT) - 3) "
            f"END AS BIGINT)"
        )
    est = cum.groupBy("h").agg(
        F.min(
            F.when(100 * F.col("cumc") >= 50 * F.col("tot"), F.col("bid"))
        ).alias("p50_bid"),
        F.min(
            F.when(100 * F.col("cumc") >= 95 * F.col("tot"), F.col("bid"))
        ).alias("p95_bid"),
        F.max("tot").cast("long").alias("n_events"),
    )
    nh = (
        e.select("eh")
        .distinct()
        .select(
            F.explode(F.sequence(F.col("eh"), F.col("eh") + 5)).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_hours_merged"))
    )
    hrs = e.select("eh").distinct()
    return (
        hrs.join(nh, nh.h == F.col("eh"))
        .drop("h")
        .join(est, est.h == F.col("eh"))
        .select(
            F.col("eh").alias("epoch_hour"),
            F.col("n_hours_merged").cast("long").alias("n_hours_merged"),
            "n_events",
            F.expr(_lo("p50_bid")).alias("p50_hist"),
            F.expr(_lo("p95_bid")).alias("p95_hist"),
        )
    )


@_q(
    "evt_type_value_profile",
    """
    WITH e AS (SELECT event_type,
                      greatest(CAST(floor(value * 100) AS BIGINT), 0) AS v
               FROM events),
    b AS (SELECT event_type,
                 CASE WHEN v < 8 THEN v
                      ELSE 4 * length(bin(v))
                           + ((v >> (length(bin(v)) - 3)) & 3)
                 END AS bid
          FROM e),
    h AS (SELECT event_type, bid, count(*) AS cnt FROM b GROUP BY 1, 2),
    cum AS (SELECT event_type, bid,
                   sum(cnt) OVER (PARTITION BY event_type
                                  ORDER BY bid) AS cumc,
                   sum(cnt) OVER (PARTITION BY event_type) AS tot
            FROM h),
    prof AS (SELECT event_type,
                    min(CASE WHEN 100 * cumc >= 50 * tot THEN bid END)
                        AS p50_bid,
                    min(CASE WHEN 100 * cumc >= 90 * tot THEN bid END)
                        AS p90_bid,
                    min(CASE WHEN 100 * cumc >= 99 * tot THEN bid END)
                        AS p99_bid,
                    CAST(max(tot) AS BIGINT) AS n_events
             FROM cum GROUP BY 1)
    SELECT event_type, n_events,
           CAST(CASE WHEN p50_bid < 8 THEN p50_bid
                     ELSE (4 + p50_bid % 4) << ((p50_bid // 4) - 3)
                END AS BIGINT) AS p50_hist,
           CAST(CASE WHEN p90_bid < 8 THEN p90_bid
                     ELSE (4 + p90_bid % 4) << ((p90_bid // 4) - 3)
                END AS BIGINT) AS p90_hist,
           CAST(CASE WHEN p99_bid < 8 THEN p99_bid
                     ELSE (4 + p99_bid % 4) << ((p99_bid // 4) - 3)
                END AS BIGINT) AS p99_hist
    FROM prof
    """,
)
def evt_type_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group p50/p90/p99 PROFILE via the log-bucket histogram
    (the evt_sliding_loghist_quantiles machinery regrouped by entity
    instead of time window) — the per-endpoint / per-event-type SLO
    scorecard: one hash-agg collapses the fact table to (group,
    bucket) counts, and the percentile readoff runs entirely on the
    <=256-row-per-group histogram.  Integer-exact bucket math, so the
    oracle replays the whole estimate bit-for-bit.

    Scale notes (100 TB): events touched ONCE (group+bucket hash agg,
    map-side combinable); every window is group-partitioned over the
    bounded histogram, never over raw events; adding p999 or more
    groups costs nothing new.  This is the rollup a streaming job
    would maintain incrementally (count-merge, same as the sliding
    twin's state)."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "greatest(CAST(floor(value * 100) AS BIGINT), CAST(0 AS BIGINT))"
        ).alias("v"),
    )
    b = e.select(
        "event_type",
        F.expr(
            "CASE WHEN v < 8 THEN v ELSE 4 * length(bin(v)) "
            "+ (shiftright(v, length(bin(v)) - 3) & 3) END"
        ).alias("bid"),
    )
    h = b.groupBy("event_type", "bid").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.partitionBy("event_type").orderBy("bid")
    w_tot = Window.partitionBy("event_type")
    cum = h.select(
        "event_type",
        "bid",
        F.sum("cnt").over(w_cum).alias("cumc"),
        F.sum("cnt").over(w_tot).alias("tot"),
    )

    def _pick(pct: int, out: str):
        return F.min(
            F.when(100 * F.col("cumc") >= pct * F.col("tot"), F.col("bid"))
        ).alias(out)

    def _lo(c: str) -> str:
        return (
            f"CAST(CASE WHEN {c} < 8 THEN {c} "
            f"ELSE shiftleft(4 + {c} % 4, CAST({c} DIV 4 AS INT) - 3) "
            f"END AS BIGINT)"
        )

    prof = cum.groupBy("event_type").agg(
        _pick(50, "p50_bid"),
        _pick(90, "p90_bid"),
        _pick(99, "p99_bid"),
        F.max("tot").cast("long").alias("n_events"),
    )
    return prof.select(
        "event_type",
        "n_events",
        F.expr(_lo("p50_bid")).alias("p50_hist"),
        F.expr(_lo("p90_bid")).alias("p90_hist"),
        F.expr(_lo("p99_bid")).alias("p99_hist"),
    )


# 12 md5 hex digits as a BIGINT: the KMV hash (48 bits -- (k-1)*2^48
# stays far inside int64, so every estimate below is pure integer
# division, bit-equal across engines)
_KMV_HEX12_DUCK = (
    "(strpos('0123456789abcdef', md5(CAST(user_id AS VARCHAR))[1]) - 1) * 17592186044416 + (strpos('0123456789abcdef', md5(CAST(user_id AS VARCHAR))[2]) - 1) * 1099511627776 + (strpos('0123456789abcdef', md5(CAST(user_id AS VARCHAR))[3]) - 1) * 68719476736 + (strpos('0123456789abcdef', md5(CAST(user_id AS VARCHAR))[4]) - 1) * 4294967296 + (strpos('0123456789abcdef', md5(CAST(user_id AS VARCHAR))[5]) - 1) * 268435456 + (strpos('0123456789abcdef', md5(CAST(user_id AS VARCHAR))[6]) - 1) * 16777216 + (strpos('0123456789abcdef', md5(CAST(user_id AS VARCHAR))[7]) - 1) * 1048576 + (strpos('0123456789abcdef', md5(CAST(user_id AS VARCHAR))[8]) - 1) * 65536 + (strpos('0123456789abcdef', md5(CAST(user_id AS VARCHAR))[9]) - 1) * 4096 + (strpos('0123456789abcdef', md5(CAST(user_id AS VARCHAR))[10]) - 1) * 256 + (strpos('0123456789abcdef', md5(CAST(user_id AS VARCHAR))[11]) - 1) * 16 + (strpos('0123456789abcdef', md5(CAST(user_id AS VARCHAR))[12]) - 1) * 1"
)
_KMV_K = 64
_KMV_DOM = 1 << 48


@_q(
    "agg_kmv_set_operations",
    f"""
    WITH u AS (SELECT DISTINCT event_type, user_id FROM events
               WHERE event_type IN ('click', 'view')),
    h AS (SELECT event_type, user_id,
                 CAST({_KMV_HEX12_DUCK} AS BIGINT) AS h
          FROM u),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY h, user_id) AS rn
          FROM h),
    mk AS (SELECT event_type, user_id, h FROM r WHERE rn <= {_KMV_K}),
    per AS (SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_exact,
                   CAST(max(CASE WHEN rn <= {_KMV_K} THEN h END) AS BIGINT)
                       AS kth
            FROM r GROUP BY event_type),
    pe AS (SELECT event_type, n_exact,
                  CASE WHEN n_exact <= {_KMV_K} THEN n_exact
                       ELSE ({_KMV_K - 1} * CAST({_KMV_DOM} AS BIGINT))
                            // greatest(kth, 1)
                  END AS n_est
           FROM per),
    um AS (SELECT user_id, min(h) AS h FROM mk GROUP BY user_id),
    ur AS (SELECT *, row_number() OVER (ORDER BY h, user_id) AS rn FROM um),
    umk AS (SELECT user_id, h FROM ur WHERE rn <= {_KMV_K}),
    ust AS (SELECT CAST(count(*) AS BIGINT) AS n_members,
                   CAST(max(h) AS BIGINT) AS kth
            FROM umk),
    uest AS (SELECT CASE WHEN n_members < {_KMV_K} THEN n_members
                         ELSE ({_KMV_K - 1} * CAST({_KMV_DOM} AS BIGINT))
                              // greatest(kth, 1)
                    END AS n_union_est
             FROM ust),
    bth AS (SELECT CAST(count(*) AS BIGINT) AS n_both FROM umk m
            WHERE EXISTS (SELECT 1 FROM u
                          WHERE u.event_type = 'click'
                            AND u.user_id = m.user_id)
              AND EXISTS (SELECT 1 FROM u
                          WHERE u.event_type = 'view'
                            AND u.user_id = m.user_id)),
    ex AS (SELECT
        (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM u)
            AS n_union_exact,
        (SELECT CAST(count(*) AS BIGINT) FROM
            (SELECT user_id FROM u GROUP BY user_id HAVING count(*) = 2) t)
            AS n_inter_exact)
    SELECT a.n_exact AS n_a_exact, a.n_est AS n_a_est,
           b.n_exact AS n_b_exact, b.n_est AS n_b_est,
           ex.n_union_exact, uest.n_union_est,
           ex.n_inter_exact,
           CAST(bth.n_both * uest.n_union_est
                // least({_KMV_K}, ust.n_members) AS BIGINT) AS n_inter_est
    FROM (SELECT * FROM pe WHERE event_type = 'click') a,
         (SELECT * FROM pe WHERE event_type = 'view') b,
         ex, uest, bth, ust
    """,
)
def agg_kmv_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketch SET OPERATIONS — the
    sketch family HLL cannot give you: distinct estimates for UNION
    and INTERSECTION of two cohorts from tiny mergeable summaries.
    Unlike HLL (engine-specific registers -> tolerance booleans, see
    evt_sliding_hll_users), a KMV sketch is RELATIONALLY DEFINED — the
    k smallest 48-bit md5 hashes of the member set — so every estimate
    here is pure integer arithmetic the oracle replays bit-for-bit:
    n-hat = (k-1)*2^48 DIV kth_hash, union sketch = k smallest of the
    merged member sets, intersection via the standard KMV estimator
    rho*n-hat_union with rho = |union-sketch members in BOTH sets|/k.
    Exact counts ride alongside (n<=k short-circuits to exact).

    Scale notes (100 TB): the engine computes each cohort's bottom-k
    TWO-LEVEL — per (cohort, hash-bucket) top-k first, then top-k of
    the <=256*k survivors — so no executor ever sorts a full cohort
    (min-k of bucket-wise min-k IS the global min-k); sketch merges
    touch only k-row summaries.  Window functions partition by cohort
    / run on <=256*k rows.  The standard-error is ~1/sqrt(k-1) (~13%
    at k=64); the estimator itself is deterministic, so parity is
    exact regardless."""
    k = _KMV_K
    u = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "view"))
        .select("event_type", "user_id")
        .distinct()
    )
    h = u.select(
        "event_type",
        "user_id",
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 12), "
            "16, 10) AS BIGINT)"
        ).alias("h"),
    ).localCheckpoint(eager=False)  # feeds sketches + membership probes
    # two-level bottom-k: per (cohort, 256-way hash bucket) first
    w_b = Window.partitionBy("event_type", "bkt").orderBy("h", "user_id")
    lvl1 = (
        h.withColumn("bkt", F.pmod(F.col("user_id"), F.lit(256)))
        .withColumn("rn", F.row_number().over(w_b))
        .where(F.col("rn") <= k)
        .drop("rn", "bkt")
    )
    w_t = Window.partitionBy("event_type").orderBy("h", "user_id")
    r = lvl1.withColumn("rn", F.row_number().over(w_t))
    mk = r.where(F.col("rn") <= k).localCheckpoint(eager=False)
    exact = u.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    per = (
        exact.join(
            mk.groupBy("event_type").agg(F.max("h").alias("kth")),
            "event_type",
        )
        .select(
            "event_type",
            "n_exact",
            F.when(F.col("n_exact") <= k, F.col("n_exact"))
            .otherwise(
                F.expr(f"CAST({k - 1} * {_KMV_DOM}L DIV greatest(kth, 1) "
                       "AS BIGINT)")
            )
            .alias("n_est"),
        )
    )
    um = mk.groupBy("user_id").agg(F.min("h").alias("h"))
    umk = (
        um.orderBy("h", "user_id")
        .limit(k)
        .localCheckpoint(eager=False)  # union sketch: feeds est + rho
    )
    ust = umk.agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("h").alias("kth"),
    )
    uest = ust.select(
        F.when(F.col("n_members") < k, F.col("n_members"))
        .otherwise(
            F.expr(f"CAST({k - 1} * {_KMV_DOM}L DIV greatest(kth, 1) "
                   "AS BIGINT)")
        )
        .alias("n_union_est"),
        "n_members",
    )
    in_a = u.where(F.col("event_type") == "click").select("user_id")
    in_b = u.where(F.col("event_type") == "view").select("user_id")
    bth = (
        umk.join(in_a, "user_id", "left_semi")
        .join(in_b, "user_id", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    per_user_n = u.groupBy("user_id").count()
    # keyless 1-row aggregate of the rollup -- THIS is what broadcasts,
    # never the per-user rollup itself
    ex_tot = per_user_n.agg(
        F.count(F.lit(1)).cast("long").alias("n_union_exact"),
        F.sum((F.col("count") == 2).cast("long"))
        .cast("long")
        .alias("n_inter_exact"),
    )
    pa = per.where(F.col("event_type") == "click").select(
        F.col("n_exact").alias("n_a_exact"), F.col("n_est").alias("n_a_est")
    )
    pb = per.where(F.col("event_type") == "view").select(
        F.col("n_exact").alias("n_b_exact"), F.col("n_est").alias("n_b_est")
    )
    return (
        pa.crossJoin(F.broadcast(pb))
        .crossJoin(F.broadcast(ex_tot))
        .crossJoin(F.broadcast(uest))
        .crossJoin(F.broadcast(bth))
        .select(
            "n_a_exact",
            "n_a_est",
            "n_b_exact",
            "n_b_est",
            "n_union_exact",
            "n_union_est",
            "n_inter_exact",
            # rho's denominator is the sketch SIZE: below k members the
            # sketch is the exact member set and the estimate collapses
            # to the exact intersection
            F.expr(
                f"CAST(n_both * n_union_est DIV least({k}L, n_members) "
                "AS BIGINT)"
            ).alias("n_inter_est"),
        )
    )


@_q(
    "agg_hll_sketch_union",
    """
    WITH e AS (SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
                               '%Y-%m-%d') AS day, user_id
               FROM events),
    d AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT)
                          AS n_exact_users
          FROM e GROUP BY day)
    SELECT day, n_exact_users, true AS est_within_5pct FROM d
    UNION ALL
    SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT), true FROM e
    """,
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting (Apache DataSketches HLL via
    hll_sketch_agg / hll_union_agg / hll_sketch_estimate): per-day user
    sketches, then the month total from UNIONING THE SKETCHES — never
    re-touching raw data.  This mergeability is the whole 100 TB story:
    daily rollups keep a few-KB sketch each, and any date-range distinct
    is a sketch union, not a re-scan.  Estimates are engine-specific, so
    (as with agg_approx_distinct) each row emits the ≤5% tolerance claim
    as a boolean the oracle asserts, alongside exact counts that keep
    the hash sensitive to the grouping."""
    e = _t(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "user_id",
    )
    daily = e.groupBy("day").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk"),
        F.countDistinct("user_id").cast("long").alias("n_exact_users"),
    )
    claim = (
        F.abs(F.expr("hll_sketch_estimate(sk)") - F.col("n_exact_users"))
        <= F.col("n_exact_users") * F.lit(0.05)
    ).alias("est_within_5pct")
    per_day = daily.select("day", "n_exact_users", claim)
    total_exact = e.agg(
        F.countDistinct("user_id").cast("long").alias("n_exact_users")
    )
    union_est = daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    total = total_exact.crossJoin(F.broadcast(union_est)).select(
        F.lit("ALL").alias("day"),
        "n_exact_users",
        (
            F.abs(F.col("est") - F.col("n_exact_users"))
            <= F.col("n_exact_users") * F.lit(0.05)
        ).alias("est_within_5pct"),
    )
    return per_day.unionByName(total)


@_q(
    "fn_url_suite",
    """
    SELECT doc_id,
           'https' AS proto,
           source || '.example.com' AS host,
           '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) AS path,
           'ref=' || source || '&p=' || CAST(n_chars AS VARCHAR)
               AS query_str,
           source AS ref_param
    FROM documents
    """,
)
def fn_url_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL function surface: ``parse_url`` PROTOCOL/HOST/PATH/QUERY and
    keyed-QUERY extraction over deterministically synthesized URLs.  The
    oracle reconstructs every component from the source columns, so
    parse_url must invert the construction exactly — the log-processing
    primitive (referrer/utm parsing) done JVM-side, no regex UDF."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref="),
        F.col("source"),
        F.lit("&p="),
        F.col("n_chars").cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query_str"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
    )


@_q(
    "fn_sql_udf_suite",
    """
    WITH b AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) // 500000 AS bucket
        FROM orders
    )
    SELECT CASE WHEN bucket >= 30 THEN 'high'
                ELSE 'b' || CAST(bucket AS VARCHAR) END AS price_label,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM b GROUP BY price_label
    """,
)
def fn_sql_udf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDFs (CREATE FUNCTION ... RETURN expr, Spark 4):
    three composed scalar functions — cents quantizer, $5000 bucketer,
    label mapper — defined in SQL and INLINED by Catalyst into the
    calling plan, so unlike Python UDFs they cost nothing at 100 TB
    (constant-folded, pushed down, codegen'd like any expression).  The
    oracle applies the expanded expressions directly."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ["orders"])
    for ddl in (
        "CREATE OR REPLACE TEMPORARY FUNCTION akr_price_cents(p DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(p * 100) AS BIGINT)",
        "CREATE OR REPLACE TEMPORARY FUNCTION akr_bucket5k(c BIGINT) "
        "RETURNS BIGINT RETURN c DIV 500000",
        "CREATE OR REPLACE TEMPORARY FUNCTION akr_price_label(b BIGINT) "
        "RETURNS STRING RETURN CASE WHEN b >= 30 THEN 'high' "
        "ELSE concat('b', CAST(b AS STRING)) END",
    ):
        spark.sql(ddl)
    return spark.sql(
        """
        SELECT akr_price_label(akr_bucket5k(akr_price_cents(o_totalprice)))
                   AS price_label,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY price_label
        """
    )


@_q(
    "sql_parameterized_query",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM orders
    WHERE o_totalprice >= 150000 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named-marker binding, Spark 4 ``spark.sql(...,
    args=...)``): the injection-safe API surface for templated
    analytics.  Parameters bind as literals BEFORE optimization, so
    predicate pushdown and partition pruning see the concrete values —
    confirmed by the pushed-filter scan in PLANS.md."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE o_totalprice >= :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000, "status": "O"},
    )


@_q(
    "fn_xml_suite",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_parsed,
           event_type AS type_parsed,
           true AS roundtrip_ok
    FROM events WHERE event_id % 5 = 0
    """,
)
def fn_xml_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion surface (from_xml + xpath_long, Spark 4): events
    re-serialized as XML documents, schema-parsed back to typed columns,
    with the xpath extraction cross-checked against the struct path in
    the same row.  The oracle reproduces the payload from the original
    columns — parsing must invert serialization exactly."""
    # every row costs TWO full XML parses (from_xml + xpath); a fifth
    # of the table exercises the surface at a fifth of the bench cost,
    # and spread() fans the parses out past the single-file fixture
    # scan (4× measured; no-op on real multi-partition input)
    e = spread(
        _t(spark, sf_dir, "events").where(F.col("event_id") % 5 == 0)
    )
    xml = F.concat(
        F.lit("<e><k>"),
        F.get_json_object("props", "$.k"),
        F.lit("</k><t>"),
        F.col("event_type"),
        F.lit("</t></e>"),
    )
    x = e.select("event_id", xml.alias("xml"))
    parsed = x.select(
        "event_id",
        F.from_xml("xml", "k BIGINT, t STRING").alias("p"),
        F.expr("xpath_long(xml, '/e/k')").alias("k_xpath"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k_parsed"),
        F.col("p.t").alias("type_parsed"),
        (F.col("p.k") == F.col("k_xpath")).alias("roundtrip_ok"),
    )


@_q(
    "fn_collation_suite",
    """
    WITH m AS (SELECT doc_id,
                      CASE WHEN doc_id % 2 = 0 THEN upper(source)
                           ELSE source END AS src_mixed
               FROM documents)
    SELECT lower(src_mixed) AS src_ci,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT src_mixed) AS BIGINT) AS n_variants_cs,
           CAST(count(DISTINCT lower(src_mixed)) AS BIGINT) AS n_variants_ci,
           CAST(sum(CASE WHEN lower(src_mixed) = 'src1' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_eq_src1_ci
    FROM m GROUP BY src_ci
    """,
)
def fn_collation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): UTF8_LCASE comparison semantics in
    GROUP BY, DISTINCT, and equality — the engine-level alternative to
    sprinkling lower() through every predicate.  A deterministic
    mixed-case derivation gives 2 case variants per source; grouping on
    the collated value folds them (n_variants_cs = 2 vs n_variants_ci =
    1 proves the collation, not data luck).  Output keys are explicit
    lower() so the hash never depends on which variant the group
    representative happens to be."""
    d = _t(spark, sf_dir, "documents")
    mixed = F.when(
        F.col("doc_id") % 2 == 0, F.upper("source")
    ).otherwise(F.col("source"))
    ci = F.collate(mixed, "UTF8_LCASE")
    return (
        d.select(mixed.alias("src_mixed"), ci.alias("src_coll"))
        .groupBy(F.lower("src_coll").cast("string").alias("src_ci"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct(F.collate(F.col("src_mixed"), "UTF8_BINARY"))
            .cast("long")
            .alias("n_variants_cs"),
            F.countDistinct("src_coll").cast("long").alias("n_variants_ci"),
            F.sum(
                (F.col("src_coll") == F.lit("src1")).cast("long")
            )
            .cast("long")
            .alias("n_eq_src1_ci"),
        )
    )


@_q(
    "evt_session_window_native",
    """
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    f AS (SELECT user_id, ts, event_id,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                           > 30 * 60 * 1000000
                      THEN 1 ELSE 0 END AS new_session
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS session_seq
          FROM f)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, session_seq
    """,
)
def evt_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` in BATCH aggregation (the same operator
    Structured Streaming uses for stateful sessions): dynamic-gap
    session assignment inside the aggregation itself — no
    gaps-and-islands window prepass.  The oracle IS the gaps-and-islands
    rewrite (evt_sessionize_batch's formulation), proving the native
    operator and the manual rewrite agree island-for-island, including
    the end = last-event + gap convention."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )


@_q(
    "cdc_incremental_agg_maintenance",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(max(floor(value * 100)) AS BIGINT) AS max_cents
    FROM events GROUP BY event_type
    """,
)
def cdc_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a materialized per-type rollup
    is updated from a delta batch by MERGING partial aggregates (count +
    count, sum + sum, max ∨ max) — never rescanning the base facts.
    This is the algebraic-aggregate property that makes 100 TB rollups
    maintainable: base (ts < Jan 20) and delta (ts ≥ Jan 20) are
    aggregated independently and combined with one |groups|-sized merge;
    the oracle aggregates the full table in one pass, so the merge must
    be exactly lossless.  (COUNT DISTINCT is NOT algebraic — the
    maintained form keeps the per-(type,user) support set, the standard
    IVM decomposition, and counts it at merge time.)"""
    cut = F.lit("2024-01-20 00:00:00").cast("timestamp_ntz")
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        (F.col("ts") < cut).alias("is_base"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
    )

    def partial(df: DataFrame) -> DataFrame:
        # per-(type,user) support set + algebraic partials
        return df.groupBy("event_type", "user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.max("cents").alias("mx"),
        )

    base = partial(e.where(F.col("is_base")))
    delta = partial(e.where(~F.col("is_base")))
    # merge step: union of partials, re-combined per (type, user) then
    # rolled up — the only data touched is |type × user| partial rows
    merged = (
        base.unionByName(delta)
        .groupBy("event_type", "user_id")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.max("mx").alias("mx"),
        )
    )
    return merged.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("s").cast("long").alias("sum_cents"),
        F.max("mx").cast("long").alias("max_cents"),
    )


@_q(
    "agg_equidepth_histogram",
    """
    WITH e AS (SELECT event_type,
                      CAST(floor(value * 100) AS BIGINT) AS cents,
                      event_id
               FROM events),
    r AS (SELECT event_type, cents,
                 ntile(10) OVER (PARTITION BY event_type
                                 ORDER BY cents, event_id) AS bucket
          FROM e)
    SELECT event_type, CAST(bucket AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(cents) AS lo_cents, max(cents) AS hi_cents
    FROM r GROUP BY event_type, bucket
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (ntile deciles): per event type, 10 buckets
    of equal row count with their value ranges — the quantile-sketch
    shape optimizers and drift monitors want (the existing
    agg_value_histogram is equi-WIDTH).  ntile ties are broken by
    event_id so bucket assignment is total-order deterministic in both
    engines."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    return (
        e.select("event_type", "cents", F.ntile(10).over(w).alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


@_q(
    "evt_late_arrival_profile",
    """
    WITH e AS (SELECT user_id, md5(CAST(event_id AS VARCHAR)) AS arrival,
                      CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    m AS (SELECT user_id, ts,
                 max(ts) OVER (PARTITION BY user_id ORDER BY arrival
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS hwm
          FROM e),
    l AS (SELECT CASE
               WHEN hwm IS NULL OR ts >= hwm THEN 0
               WHEN epoch_us(hwm) - epoch_us(ts) <= 60000000 THEN 1
               WHEN epoch_us(hwm) - epoch_us(ts) <= 600000000 THEN 10
               WHEN epoch_us(hwm) - epoch_us(ts) <= 3600000000 THEN 60
               ELSE 61 END AS late_bucket_min
          FROM m)
    SELECT CAST(late_bucket_min AS INTEGER) AS late_bucket_min,
           CAST(count(*) AS BIGINT) AS n_events
    FROM l GROUP BY late_bucket_min
    """,
)
def evt_late_arrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning profile: per user, compare each event's time to
    the running high-water mark in ARRIVAL order (event_id) and bucket
    the lateness (on-time / ≤1 min / ≤10 min / ≤1 h / worse) — this
    histogram is literally the answer to "what withWatermark delay
    keeps 99% of events" before committing a streaming job's state
    budget.  The running max is one window pass, partitioned by the
    same key the stream would shard on.  The fixture carries no arrival
    column (events are stored in event-time order), so arrival is
    simulated by a deterministic hash permutation of event_id — same
    jitter in both engines."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", F.md5(F.col("event_id").cast("string")).alias("arrival")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = e.select("ts", F.max("ts").over(w).alias("hwm"))
    lag_us = F.expr(
        "unix_micros(CAST(hwm AS TIMESTAMP)) - unix_micros(CAST(ts AS TIMESTAMP))"
    )
    bucket = (
        F.when(F.col("hwm").isNull() | (F.col("ts") >= F.col("hwm")), 0)
        .when(lag_us <= 60_000_000, 1)
        .when(lag_us <= 600_000_000, 10)
        .when(lag_us <= 3_600_000_000, 60)
        .otherwise(61)
    )
    return (
        m.select(bucket.cast("int").alias("late_bucket_min"))
        .groupBy("late_bucket_min")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


@_q(
    "agg_winsorized_mean",
    """
    WITH e AS (SELECT event_type,
                      CAST(floor(value * 100) AS BIGINT) AS cents
               FROM events),
    r AS (SELECT event_type, cents,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY cents) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM e),
    b AS (SELECT event_type,
                 max(CASE WHEN rn = ((n - 1) // 20) + 1 THEN cents END)
                     AS p05,
                 max(CASE WHEN rn = ((19 * (n - 1)) // 20) + 1 THEN cents END)
                     AS p95
          FROM r GROUP BY event_type)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(least(greatest(e.cents, b.p05), b.p95)) AS BIGINT)
               AS sum_winsorized_cents,
           CAST(sum(least(greatest(e.cents, b.p05), b.p95))
                // count(*) AS BIGINT) AS mean_winsorized_cents,
           b.p05 AS p05_cents, b.p95 AS p95_cents
    FROM e JOIN b ON b.event_type = e.event_type
    GROUP BY e.event_type, b.p05, b.p95
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clipped) mean per event type: exact p5/p95 by
    rank-select, values clamped into [p5, p95], integer mean — the
    outlier-robust aggregate for metrics pipelines where a single bad
    sensor row would poison a plain mean.  Two passes: rank-select
    boundaries (windowed), then a broadcast join of the 5-row boundary
    table back over the scan — no second wide shuffle."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    r = e.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    b = r.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("((n - 1) DIV 20) + 1"), F.col("cents"))
        ).alias("p05"),
        F.max(
            F.when(
                F.col("rn") == F.expr("((19 * (n - 1)) DIV 20) + 1"),
                F.col("cents"),
            )
        ).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("cents"), F.col("p05")), F.col("p95"))
    return (
        e.join(F.broadcast(b), "event_type")
        .groupBy("event_type", "p05", "p95")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(clipped).cast("long").alias("sum_winsorized_cents"),
        )
        .select(
            "event_type",
            "n_events",
            "sum_winsorized_cents",
            F.expr("sum_winsorized_cents DIV n_events")
            .cast("long")
            .alias("mean_winsorized_cents"),
            F.col("p05").alias("p05_cents"),
            F.col("p95").alias("p95_cents"),
        )
    )


@_q(
    "evt_type_overlap",
    """
    WITH b AS (SELECT DISTINCT user_id AS g, event_type AS item FROM events)
    SELECT a.item AS item_a, c.item AS item_b,
           CAST(count(*) AS BIGINT) AS n_groups
    FROM b a JOIN b c ON a.g = c.g AND a.item < c.item
    GROUP BY a.item, c.item
    HAVING count(*) >= 2
    """,
)
def evt_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: |users(A) ∩ users(B)| for every pair of
    event types — the same co-occurrence operator as the market-basket
    query with (user, event-type) baskets, reused as segment-overlap
    analytics (the "how many clickers also purchase" table)."""
    from ..operators.stats import cooccurrence_pairs

    return cooccurrence_pairs(
        _t(spark, sf_dir, "events"), "user_id", "event_type", min_support=2
    )


@_q(
    "tpch_fulfillment_latency",
    """
    WITH d AS (SELECT o.o_orderkey, o.o_orderstatus,
                      date_diff('day', CAST(o.o_orderdate AS TIMESTAMP),
                                max(CAST(l.l_shipdate AS TIMESTAMP)))
                          AS latency_days
               FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
               GROUP BY o.o_orderkey, o.o_orderstatus, o.o_orderdate)
    SELECT o_orderstatus,
           CAST(latency_days // 7 AS BIGINT) AS latency_week,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(latency_days) AS BIGINT) AS min_days,
           CAST(max(latency_days) AS BIGINT) AS max_days
    FROM d GROUP BY o_orderstatus, latency_week
    """,
)
def tpch_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-last-shipment latency distribution, bucketed by week and
    order status — the operational-latency histogram shape (order date
    from the dim side, max ship date aggregated off the fact side; one
    shuffle keyed by orderkey, then a bounded-cardinality rollup)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    d = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderstatus", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            "o_orderstatus",
            F.datediff(
                F.col("last_ship").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("latency_days"),
        )
    )
    return (
        d.groupBy(
            "o_orderstatus",
            F.expr("latency_days DIV 7").cast("long").alias("latency_week"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("latency_days").cast("long").alias("min_days"),
            F.max("latency_days").cast("long").alias("max_days"),
        )
    )


@_q(
    "win_ratio_to_report",
    """
    WITH rev AS (
        SELECT n.n_name AS nation, r.r_name AS region,
               sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS nat_rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name, r.r_name
    )
    SELECT nation, region,
           CAST(nat_rev AS DOUBLE) AS nation_revenue,
           CAST(CAST(nat_rev * 100 AS BIGINT) * 10000
               // sum(CAST(nat_rev * 100 AS BIGINT)) OVER (PARTITION BY region)
               AS BIGINT) AS share_bp
    FROM rev
    """,
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue in
    basis points — the two-level percent-of-total computed with a window
    sum over the ALREADY-AGGREGATED rollup (25 rows), not a rescan or a
    self-join.  Share arithmetic converts the exact DECIMAL sums to
    integer cents first: BIGINT floor-division truncates identically in
    both engines, where DECIMAL division rounds the quotient to scale
    before flooring in DuckDB (measured: ±1 bp on a third of rows)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("nat_rev")
        )
    )
    w = Window.partitionBy("region")
    return (
        rev.select(
            "nation",
            "region",
            F.col("nat_rev").cast("double").alias("nation_revenue"),
            (F.col("nat_rev") * 100).cast("bigint").alias("_cents"),
        )
        .select(
            "nation",
            "region",
            "nation_revenue",
            (F.col("_cents") * 10000).alias("_scaled"),
            F.sum("_cents").over(w).alias("_tot"),
        )
        .select(
            "nation",
            "region",
            "nation_revenue",
            F.expr("_scaled DIV _tot").cast("long").alias("share_bp"),
        )
    )


@_q(
    "agg_mad_outliers",
    """
    WITH e AS (SELECT event_type,
                      CAST(floor(value * 100) AS BIGINT) AS cents,
                      event_id
               FROM events),
    r AS (SELECT event_type, cents,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY cents) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM e),
    med AS (SELECT event_type,
                   max(CASE WHEN rn = ((n - 1) // 2) + 1 THEN cents END)
                       AS med_cents
            FROM r GROUP BY event_type),
    dev AS (SELECT e.event_type, e.cents,
                   abs(e.cents - m.med_cents) AS adev
            FROM e JOIN med m ON m.event_type = e.event_type),
    rd AS (SELECT event_type, cents, adev,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY adev) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM dev),
    mad AS (SELECT event_type,
                   max(CASE WHEN rn = ((n - 1) // 2) + 1 THEN adev END)
                       AS mad_cents
            FROM rd GROUP BY event_type)
    SELECT d.event_type, m2.mad_cents,
           max(m.med_cents) AS med_cents,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN d.adev > 3 * m2.mad_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d
    JOIN med m ON m.event_type = d.event_type
    JOIN mad m2 ON m2.event_type = d.event_type
    GROUP BY d.event_type, m2.mad_cents
    """,
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection: the robust
    complement to the 3σ rule (evt_anomaly_sigma) — a contaminated
    tail can't drag MAD the way it inflates σ.  Median and MAD are
    exact rank-selects (deterministic under ties); the deviation pass
    reuses the broadcast |types|-row median table, so the raw table is
    scanned twice and shuffled narrowly twice — the unavoidable
    two-pass shape of any exact order-statistic-of-order-statistic."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
    )

    def rank_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col)
        r = df.select(
            "event_type",
            F.col(col),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
        )
        return r.groupBy("event_type").agg(
            F.max(
                F.when(F.col("rn") == F.expr("((n - 1) DIV 2) + 1"), F.col(col))
            ).alias(out)
        )

    med = rank_median(e, "cents", "med_cents")
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "cents",
        F.abs(F.col("cents") - F.col("med_cents")).alias("adev"),
    )
    mad = rank_median(dev, "adev", "mad_cents")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .join(F.broadcast(med), "event_type")
        .groupBy("event_type", "mad_cents")
        .agg(
            F.max("med_cents").alias("med_cents"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                (F.col("adev") > 3 * F.col("mad_cents")).cast("long")
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@_q(
    "dq_functional_dependencies",
    """
    WITH fdc AS (
      SELECT 'li_pk_part' AS fd,
             concat_ws(chr(1), CAST(l_orderkey AS VARCHAR),
                       CAST(l_linenumber AS VARCHAR)) AS lhs_key,
             CAST(l_partkey AS VARCHAR) AS rhs_val
      FROM lineitem
      UNION ALL SELECT 'li_order_flag', CAST(l_orderkey AS VARCHAR),
                       l_returnflag FROM lineitem
      UNION ALL SELECT 'li_part_supp', CAST(l_partkey AS VARCHAR),
                       CAST(l_suppkey AS VARCHAR) FROM lineitem
      UNION ALL SELECT 'ord_pk_date', CAST(o_orderkey AS VARCHAR),
                       CAST(o_orderdate AS VARCHAR) FROM orders
      UNION ALL SELECT 'ord_cust_priority', CAST(o_custkey AS VARCHAR),
                       o_orderpriority FROM orders
      UNION ALL SELECT 'ord_date_status', CAST(o_orderdate AS VARCHAR),
                       o_orderstatus FROM orders
    ),
    g AS (SELECT fd, lhs_key, count(DISTINCT rhs_val) AS cd,
                 count(*) AS n
          FROM fdc GROUP BY 1, 2)
    SELECT fd,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN cd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
           CAST(max(cd) AS BIGINT) AS max_distinct_rhs,
           CAST(sum(CASE WHEN cd > 1 THEN n ELSE 0 END) AS BIGINT)
               AS n_violating_rows,
           sum(CASE WHEN cd > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM g GROUP BY fd
    """,
)
def dq_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency MINING — profiling's schema-discovery
    half (dq_check/dq_profile validate values; this validates
    STRUCTURE): six candidate FDs over lineitem and orders, each
    scored by exact violation counts (groups with >1 distinct RHS,
    rows inside them, worst-case RHS multiplicity) and a ``holds``
    verdict.  The fixture set mixes true dependencies (the two primary
    keys) with violated ones (order→returnflag, part→supplier,
    customer→priority, date→status), so a counting drift in either
    direction hash-fails.

    The grouping keys are injective encodings and never appear in the
    output, so cross-engine formatting cannot matter — only
    group/distinct CARDINALITIES do.  r12 optimization (guide §2.3,
    narrower types): the keys shuffle as NATIVE long columns
    (k1, k2; dates via unix_micros — injective) and the RHS as a
    (long, string) pair instead of chr(1)-joined strings — the two
    wide exchanges carry 8-byte integers in place of formatted
    strings and skip the per-row concat/cast CPU.  Cardinalities are
    unchanged (the long encodings are injective exactly where the
    string encodings were), and the distinct argument is NULLed when
    the RHS value is null so countDistinct's skip-null semantics are
    preserved bit-for-bit.  A/B at sf0.1: 4.27 s → 3.13 s, identical
    rows.

    Scale notes (100 TB): one scan per table exploding each row into
    its candidate rows, one (fd, lhs)-keyed hash agg (single-distinct,
    no Expand rewrite), one ≤|fd|-group rollup.  No windows, no
    joins."""

    def cands(df, specs):
        arr = []
        for fd, lhs, rhs_long, rhs_str in specs:
            k1 = lhs[0]
            k2 = lhs[1] if len(lhs) > 1 else F.lit(None)
            arr.append(
                F.struct(
                    F.lit(fd).alias("fd"),
                    k1.cast("long").alias("k1"),
                    k2.cast("long").alias("k2"),
                    (
                        rhs_long if rhs_long is not None else F.lit(None)
                    ).cast("long").alias("rl"),
                    (
                        rhs_str if rhs_str is not None else F.lit(None)
                    ).cast("string").alias("rs"),
                )
            )
        return df.select(F.explode(F.array(*arr)).alias("t")).select("t.*")

    li = cands(
        _t(spark, sf_dir, "lineitem"),
        [
            (
                "li_pk_part",
                [F.col("l_orderkey"), F.col("l_linenumber")],
                F.col("l_partkey"),
                None,
            ),
            ("li_order_flag", [F.col("l_orderkey")], None, F.col("l_returnflag")),
            ("li_part_supp", [F.col("l_partkey")], F.col("l_suppkey"), None),
        ],
    )
    o = cands(
        _t(spark, sf_dir, "orders"),
        [
            (
                "ord_pk_date",
                [F.col("o_orderkey")],
                F.unix_micros(F.col("o_orderdate")),
                None,
            ),
            (
                "ord_cust_priority",
                [F.col("o_custkey")],
                None,
                F.col("o_orderpriority"),
            ),
            (
                "ord_date_status",
                [F.unix_micros(F.col("o_orderdate"))],
                None,
                F.col("o_orderstatus"),
            ),
        ],
    )
    g = (
        li.unionByName(o)
        .groupBy("fd", "k1", "k2")
        .agg(
            F.countDistinct(
                # null RHS must stay invisible to the distinct count
                # (countDistinct skips nulls; a bare struct would be
                # non-null even over null fields)
                F.when(
                    F.col("rl").isNotNull() | F.col("rs").isNotNull(),
                    F.struct("rl", "rs"),
                )
            ).alias("cd"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return g.groupBy("fd").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("cd") > 1).cast("long"))
        .cast("long")
        .alias("n_violating_groups"),
        F.max("cd").cast("long").alias("max_distinct_rhs"),
        F.sum(F.when(F.col("cd") > 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_violating_rows"),
        (F.sum((F.col("cd") > 1).cast("long")) == 0).alias("holds"),
    )


@_q(
    "dq_skew_profile",
    """
    WITH b AS (SELECT CAST((strpos('0123456789abcdef',
                     md5(CAST(user_id AS VARCHAR))[1]) - 1) * 16
                   + (strpos('0123456789abcdef',
                     md5(CAST(user_id AS VARCHAR))[2]) - 1) AS BIGINT)
                   % 32 AS bucket
               FROM events),
    c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows
          FROM b GROUP BY bucket)
    SELECT bucket, n_rows,
           CAST(max(n_rows) OVER () AS BIGINT) AS max_bucket_rows,
           CAST(sum(n_rows) OVER () // count(*) OVER () AS BIGINT)
               AS avg_bucket_rows,
           CAST(max(n_rows) OVER () * 100 // (sum(n_rows) OVER ()
                // count(*) OVER ()) AS BIGINT) AS skew_pct_of_avg
    FROM c
    """,
)
def dq_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew diagnostic: hash user_id into 32 buckets (first
    md5 byte — the same family a shuffle partitioner draws from) and
    report per-bucket row counts plus the max/avg ratio — the number
    that decides whether a key needs salting or AQE skew-join handling
    BEFORE a 100 TB shuffle discovers it the hard way.  One map-side-
    combined count + a window over 32 rows."""
    e = _t(spark, sf_dir, "events")
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 2), 16, 10) "
        "AS BIGINT) % 32"
    )
    c = (
        e.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    w = Window.partitionBy()
    return c.select(
        "bucket",
        "n_rows",
        F.max("n_rows").over(w).cast("long").alias("max_bucket_rows"),
        F.expr(
            "CAST(sum(n_rows) OVER () DIV count(*) OVER () AS BIGINT)"
        ).alias("avg_bucket_rows"),
        F.expr(
            "CAST(max(n_rows) OVER () * 100 DIV (sum(n_rows) OVER () "
            "DIV count(*) OVER ()) AS BIGINT)"
        ).alias("skew_pct_of_avg"),
    )


def _hex5_sql(col_sql: str, start: int) -> str:
    """DuckDB BIGINT from 5 hex digits of md5(col) starting at
    1-based ``start`` (mirror of Spark's conv(substring(md5(..)),16,10))."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', md5(CAST({col_sql} AS VARCHAR))"
        f"[{start + i}]) - 1) * {16 ** (4 - i)}"
        for i in range(5)
    )
    return f"CAST({terms} AS BIGINT)"


@_q(
    "geo_grid_distance_join",
    f"""
    WITH p AS (SELECT c_custkey AS id,
                      {_hex5_sql('c_custkey', 1)} % 100000 AS x,
                      {_hex5_sql('c_custkey', 6)} % 100000 AS y
               FROM customer)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
    FROM p a JOIN p b ON a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 250000
    """,
)
def geo_grid_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial distance self-join via grid bucketing
    (operators/joins.py grid_distance_join): all customer-point pairs
    within 500 units on a 100k×100k integer plane (coordinates are md5
    digits of the key, so points scatter uniformly — a multiplicative
    congruence would lattice them with no close pairs at all).  The
    Spark side tiles the plane into radius cells and joins 3×3
    neighborhoods — per-cell work, never N² — while the oracle
    brute-forces all pairs at the gate SF, so every candidate the grid
    finds AND none it misses must survive the exact dist² check."""
    from ..operators.joins import grid_distance_join

    def hex5(start: int):
        return F.expr(
            "CAST(conv(substring(md5(CAST(c_custkey AS STRING)), "
            f"{start}, 5), 16, 10) AS BIGINT) % 100000"
        )

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        hex5(1).alias("x"),
        hex5(6).alias("y"),
    )
    return grid_distance_join(pts, radius=500)


@_q(
    "evt_funnel_within_7d",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
               FROM events),
    v AS (SELECT user_id, min(ts) AS t1 FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT v.user_id, v.t1, min(e.ts) AS t2
          FROM v JOIN e ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1
          GROUP BY v.user_id, v.t1),
    p AS (SELECT c.user_id, c.t1, c.t2, min(e.ts) AS t3
          FROM c JOIN e ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
          GROUP BY c.user_id, c.t1, c.t2)
    SELECT CAST(count(*) AS BIGINT) AS n_entered,
           CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clicked,
           CAST(sum(CASE WHEN t3 IS NOT NULL
                          AND t3 <= t1 + INTERVAL 7 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_7d
    FROM (SELECT v.user_id, v.t1, c.t2, p.t3
          FROM v LEFT JOIN c ON c.user_id = v.user_id
                 LEFT JOIN p ON p.user_id = v.user_id)
    """,
)
def evt_funnel_within_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained ordered funnel (view → later click → later
    purchase, converting only if the purchase lands within 7 days of
    the FIRST view) — the product-analytics funnel with a conversion
    window, which plain ordered-stage counting (evt_funnel_ordered)
    cannot express.  Three chained conditional-min aggregations, each a
    narrow per-user pass; no window sort of the raw stream."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        v.join(e.where(F.col("event_type") == "click"), "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        c.join(e.where(F.col("event_type") == "purchase"), "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id", "t1", "t2")
        .agg(F.min("ts").alias("t3"))
    )
    funnel = (
        v.join(c.select("user_id", "t2"), "user_id", "left")
        .join(p.select("user_id", "t3"), "user_id", "left")
    )
    return funnel.agg(
        F.count(F.lit(1)).cast("long").alias("n_entered"),
        F.sum(F.col("t2").isNotNull().cast("long"))
        .cast("long")
        .alias("n_clicked"),
        F.sum(
            (
                F.col("t3").isNotNull()
                & (F.col("t3") <= F.col("t1") + F.expr("INTERVAL 7 DAYS"))
            ).cast("long")
        )
        .cast("long")
        .alias("n_converted_7d"),
    )


@_q(
    "tpch_running_backlog",
    """
    WITH opened AS (SELECT strftime(date_trunc('day',
                        CAST(o_orderdate AS TIMESTAMP)), '%Y-%m-%d') AS day,
                           CAST(count(*) AS BIGINT) AS delta
                    FROM orders GROUP BY day),
    shipped AS (SELECT strftime(date_trunc('day', last_ship), '%Y-%m-%d')
                           AS day,
                       CAST(-count(*) AS BIGINT) AS delta
                FROM (SELECT l_orderkey,
                             max(CAST(l_shipdate AS TIMESTAMP)) AS last_ship
                      FROM lineitem GROUP BY l_orderkey)
                GROUP BY day),
    deltas AS (SELECT day, CAST(sum(delta) AS BIGINT) AS net
               FROM (SELECT * FROM opened UNION ALL SELECT * FROM shipped)
               GROUP BY day)
    SELECT day, net,
           CAST(sum(net) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS open_backlog
    FROM deltas
    """,
)
def tpch_running_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog curve: +1 on order date, −1 on the order's
    last ship date, daily net deltas, running sum — the interval-
    to-timeline rewrite (turn [start, end] spans into ±deltas, then one
    prefix sum over |days| rows) that replaces the quadratic "count
    intervals covering each day" join.  The same shape prices concurrent
    sessions, active subscriptions, and warehouse occupancy."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    day = lambda col: F.date_format(F.date_trunc("day", col), "yyyy-MM-dd")  # noqa: E731
    opened = o.groupBy(day(F.col("o_orderdate")).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("delta")
    )
    shipped = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .groupBy(day(F.col("last_ship")).alias("day"))
        .agg((-F.count(F.lit(1))).cast("long").alias("delta"))
    )
    deltas = (
        opened.unionByName(shipped)
        .groupBy("day")
        .agg(F.sum("delta").cast("long").alias("net"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return deltas.select(
        "day", "net", F.sum("net").over(w).cast("long").alias("open_backlog")
    )


@_q(
    "text_lang_confusion_matrix",
    f"""
    WITH s AS (SELECT doc_id, lang AS labeled_lang, {{lang_scores}} FROM documents),
    b AS (SELECT *, greatest({{best_expr}}) AS best FROM s),
    p AS (SELECT labeled_lang, {{lang_case}} AS predicted_lang FROM b)
    SELECT labeled_lang, predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM p GROUP BY labeled_lang, predicted_lang
    """.format(
        lang_scores=_LANG_SCORES_SQL,
        best_expr=", ".join("s_" + lang for lang in text.LANG_MARKERS),
        lang_case=_LANG_CASE_SQL,
    ),
)
def text_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-quality cross-tab: declared language vs the marker
    heuristic's prediction, counted per (labeled, predicted) cell — the
    confusion matrix any lang-ID gate should be audited with before
    filtering a 100 TB corpus on its say-so.  Composes text.lang_id and
    one bounded-cardinality (≤|langs|²) aggregation."""
    pred = text.lang_id(_t(spark, sf_dir, "documents"))
    return pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@_q(
    "text_vocab_coverage_curve",
    r"""
    WITH w AS (SELECT unnest(string_split_regex(text, '\s+')) AS word
               FROM documents),
    v AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w
          WHERE word <> '' GROUP BY word),
    r AS (SELECT word, n,
                 row_number() OVER (ORDER BY n DESC, word) AS rnk,
                 sum(n) OVER () AS total,
                 sum(n) OVER (ORDER BY n DESC, word ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS cum
          FROM v)
    SELECT CAST(k AS BIGINT) AS vocab_size,
           CAST(max(CASE WHEN rnk = k THEN cum END) AS BIGINT)
               AS tokens_covered,
           CAST(max(total) AS BIGINT) AS tokens_total,
           CAST(max(CASE WHEN rnk = k THEN cum END) * 10000
                // max(total) AS BIGINT) AS coverage_bp
    FROM r CROSS JOIN (SELECT unnest([5, 10, 20, 30, 40]) AS k)
    WHERE rnk = k
    GROUP BY k
    """,
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary truncation analysis: corpus token coverage of the
    top-k most frequent words, at several k — the curve that sizes a
    tokenizer vocabulary (how much of the stream the top-N symbols
    absorb).  The curve only evaluates k ≤ 40, so the vocabulary is
    cut to its top 40 rows FIRST (TakeOrderedAndProject — partial
    per-partition top-k) and the rank/cumulative window runs over just
    those 40; the corpus total rides in as a broadcast scalar agg, not
    a partition-less sum window.  Basis-point shares in exact integer
    division."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    v = words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("n"))
    v = v.localCheckpoint(eager=False)
    tot = v.agg(F.sum("n").alias("total"))
    top = v.orderBy(F.col("n").desc(), "word").limit(40)
    w_rank = Window.orderBy(F.col("n").desc(), "word")
    r = top.select(
        "n",
        F.row_number().over(w_rank).alias("rnk"),
        F.sum("n")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    ).crossJoin(F.broadcast(tot))
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in (5, 10, 20, 30, 40)])).alias("k")
    )
    return (
        r.join(F.broadcast(ks), r.rnk == ks.k)
        .groupBy("k")
        .agg(
            F.max("cum").alias("tokens_covered"),
            F.max("total").alias("tokens_total"),
        )
        .select(
            F.col("k").cast("long").alias("vocab_size"),
            F.col("tokens_covered").cast("long"),
            F.col("tokens_total").cast("long"),
            F.expr("tokens_covered * 10000 DIV tokens_total")
            .cast("long")
            .alias("coverage_bp"),
        )
    )


@_q(
    "udf_arrow_grouped_stats",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(floor(value * 100)) AS BIGINT) AS min_cents,
           CAST(max(floor(value * 100)) AS BIGINT) AS max_cents,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events GROUP BY event_type
    """,
)
def udf_arrow_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ``applyInArrow`` (Spark 4): one pyarrow.Table per group,
    zero pandas conversion — the lowest-overhead grouped-Python surface
    (columnar end-to-end; pandas' block manager never materializes).
    The stats themselves are JVM-expressible — like the applyInPandas
    twin (udf_grouped_user_stats) this is the API-surface demo, held to
    the same oracle exactness as any JVM query.  Per-group compute is
    pyarrow.compute kernels (C++), not Python loops."""
    import pyarrow as pa
    import pyarrow.compute as pc

    e = _t(spark, sf_dir, "events").select("event_type", "value")

    def stats(t: pa.Table) -> pa.Table:
        cents = pc.cast(pc.floor(pc.multiply(t["value"], pa.scalar(100.0))), pa.int64())
        return pa.table(
            {
                "event_type": [t["event_type"][0].as_py()],
                "n_rows": [t.num_rows],
                "min_cents": [pc.min(cents).as_py()],
                "max_cents": [pc.max(cents).as_py()],
                "sum_cents": [pc.sum(cents).as_py()],
            }
        )

    return e.groupBy("event_type").applyInArrow(
        stats,
        schema="event_type string, n_rows long, min_cents long, "
        "max_cents long, sum_cents long",
    )


@_q(
    "agg_exact_mode",
    """
    WITH c AS (SELECT event_type, user_id, count(*) AS n
               FROM events GROUP BY event_type, user_id),
    r AS (SELECT event_type, user_id, n,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY n DESC, user_id) AS rnk
          FROM c)
    SELECT event_type, user_id AS mode_user,
           CAST(n AS BIGINT) AS mode_count
    FROM r WHERE rnk = 1
    """,
)
def agg_exact_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode with a DETERMINISTIC tie-break (highest
    count, then lowest value) — Spark's built-in mode() is free to pick
    any tied value, which can never hash-match an oracle; the
    count-then-rank formulation is the portable (and at 100 TB, the
    map-side-combinable) way to ask "most frequent"."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "user_id")
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("user_id").alias("mode_user"),
            F.col("n").cast("long").alias("mode_count"),
        )
    )


@_q(
    "agg_exact_covariance",
    """
    WITH b AS (SELECT l_returnflag,
                      CAST(l_quantity AS BIGINT) AS q,
                      CAST(floor(l_extendedprice * 100) AS BIGINT) AS p
               FROM lineitem)
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(q) AS BIGINT) AS sum_q,
           CAST(sum(p) AS BIGINT) AS sum_p,
           CAST(sum(CAST(q AS DECIMAL(38,0)) * CAST(p AS DECIMAL(38,0)))
                AS VARCHAR) AS sum_qp,
           CAST(CAST(count(*) AS DECIMAL(38,0))
                * sum(CAST(q AS DECIMAL(38,0)) * CAST(p AS DECIMAL(38,0)))
                - CAST(sum(q) AS DECIMAL(38,0))
                * CAST(sum(p) AS DECIMAL(38,0)) AS VARCHAR) AS cov_numer
    FROM b GROUP BY l_returnflag
    """,
)
def agg_exact_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance via cleared denominators (the stats.py 3σ
    technique applied to a SECOND moment across two columns):
    cov = (n·Σqp − Σq·Σp)/n², so the numerator n·Σqp − Σq·Σp is the
    engine-portable fact — exact DECIMAL(38) products serialized as
    strings (they pass 2⁶³), no float accumulation anywhere.  One
    map-side-combined aggregation; covar_pop/corr float forms exist in
    both engines but can never hash-match."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("q"),
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("p"),
    )
    qd = F.col("q").cast("decimal(38,0)")
    pd_ = F.col("p").cast("decimal(38,0)")
    g = b.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("sum_q"),
        F.sum("p").cast("long").alias("sum_p"),
        F.sum(qd * pd_).alias("_sum_qp"),
    )
    return g.select(
        "l_returnflag",
        "n",
        "sum_q",
        "sum_p",
        F.col("_sum_qp").cast("string").alias("sum_qp"),
        (
            F.col("n").cast("decimal(38,0)") * F.col("_sum_qp")
            - F.col("sum_q").cast("decimal(38,0)")
            * F.col("sum_p").cast("decimal(38,0)")
        )
        .cast("string")
        .alias("cov_numer"),
    )


@_q(
    "evt_user_rfm_segments",
    """
    WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS corpus_max FROM events),
    u AS (SELECT user_id,
                 date_diff('day', max(CAST(ts AS TIMESTAMP)),
                           (SELECT corpus_max FROM mx)) AS recency_days,
                 count(*) AS frequency,
                 sum(CAST(floor(value * 100) AS BIGINT)) AS monetary_cents
          FROM events GROUP BY user_id),
    q AS (SELECT user_id,
                 ntile(5) OVER (ORDER BY recency_days, user_id) AS r,
                 ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f,
                 ntile(5) OVER (ORDER BY monetary_cents DESC, user_id) AS m
          FROM u)
    SELECT CAST(r AS INTEGER) AS r, CAST(f AS INTEGER) AS f,
           CAST(m AS INTEGER) AS m,
           CAST(count(*) AS BIGINT) AS n_users
    FROM q GROUP BY r, f, m
    """,
)
def evt_user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: users quintiled on Recency (days since last
    event, 1 = most recent), Frequency, and Monetary value, counted per
    (r, f, m) cell — the marketing-analytics workhorse.  All three
    ntiles ride ONE |users|-row aggregate (the raw table is scanned
    once); quintile ties break on user_id so assignment is total-order
    deterministic in both engines.  Each quintile is
    ``with_global_ntile`` — ntile-identical values from a range
    shuffle + partition offsets, never a single-partition window over
    the unbounded user rollup."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)")).alias(
            "monetary_cents"
        ),
    )
    mx = e.agg(F.max("ts").alias("corpus_max"))
    u = u.crossJoin(F.broadcast(mx)).withColumn(
        "recency_days",
        F.datediff(F.col("corpus_max").cast("date"), F.col("last_ts").cast("date")),
    )
    u = u.select(
        "user_id", "recency_days", "frequency", "monetary_cents"
    ).localCheckpoint(eager=False)
    q = with_global_ntile(
        u, [F.col("recency_days"), F.col("user_id")], 5, "r"
    )
    q = with_global_ntile(
        q, [F.col("frequency").desc(), F.col("user_id")], 5, "f"
    )
    q = with_global_ntile(
        q, [F.col("monetary_cents").desc(), F.col("user_id")], 5, "m"
    )
    return q.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


@_q(
    "tpch_repeat_purchase_cohorts",
    """
    WITH c AS (SELECT o_custkey,
                      strftime(date_trunc('month',
                               min(CAST(o_orderdate AS TIMESTAMP))),
                               '%Y-%m') AS cohort_month,
                      count(*) AS n_orders
               FROM orders GROUP BY o_custkey)
    SELECT cohort_month,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeat,
           CAST(sum(n_orders) AS BIGINT) AS n_orders_total
    FROM c GROUP BY cohort_month
    """,
)
def tpch_repeat_purchase_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate by first-order month cohort — acquisition-
    quality analytics over the orders fact: one per-customer rollup
    (first order month + lifetime order count), one bounded cohort
    aggregation."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.date_format(F.date_trunc("month", F.min("o_orderdate")), "yyyy-MM").alias(
            "cohort_month"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return c.groupBy("cohort_month").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum((F.col("n_orders") >= 2).cast("long")).cast("long").alias("n_repeat"),
        F.sum("n_orders").cast("long").alias("n_orders_total"),
    )


# Self-evaluation of the approximate ANN paths: embed the exact, LSH,
# and IVF oracles (already proven individually) as subqueries, measure
# micro-averaged recall@10 per method, and ASSERT a floor.  Floors are
# DERIVED from each method's own chance baseline rather than
# hand-calibrated to one fixture, so they stay meaningful at any scale
# factor or after a fixture-generator change (the r5 ADVICE item):
#
# * sign-LSH with p planes hashes into 2^p buckets, so a BROKEN index
#   (random bucketing) recalls ~10000/2^p bp of true neighbors;
# * IVF probing n_probe of n_cells scans that fraction of the corpus,
#   so broken cell assignment recalls ~10000·n_probe/n_cells bp.
#
# The floor is chance × a margin chosen below every measured working
# value (LSH-4p measured 1000-1100 bp vs 625 chance; IVF-4/16 measured
# 5000-5700 bp vs 2500 chance on random synthetic embeddings, whose
# near-uniform pairwise similarity makes these ceilings low).  A real
# regression — bucketing bug, probe-order bug, quantizer drift —
# collapses recall TO chance, far below chance × margin, flipping the
# boolean and hash-failing the driver row.
def _ann_recall_floor_bp(chance_bp: float, margin: float) -> int:
    return int(chance_bp * margin)


_RECALL_FLOORS = {
    "lsh_p4": _ann_recall_floor_bp(10000 / 2**4, margin=1.28),  # 800
    "ivf_np4": _ann_recall_floor_bp(10000 * 4 / 16, margin=1.6),  # 4000
}

ORACLE_SQL["emb_ann_recall_eval"] = f"""
    WITH exact AS ({{exact}}),
    lsh AS ({{lsh}}),
    ivf AS ({{ivf}}),
    m AS (
        SELECT 'lsh_p4' AS method, {_RECALL_FLOORS["lsh_p4"]} AS floor_bp,
               count(*) AS n_expected, count(a.neighbor_id) AS n_hits
        FROM exact e LEFT JOIN lsh a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        UNION ALL
        SELECT 'ivf_np4', {_RECALL_FLOORS["ivf_np4"]},
               count(*), count(a.neighbor_id)
        FROM exact e LEFT JOIN ivf a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    )
    SELECT method,
           CAST(n_expected AS BIGINT) AS n_expected,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits * 10000 // n_expected AS BIGINT)
               AS micro_recall_bp,
           CAST(floor_bp AS BIGINT) AS floor_bp,
           n_hits * 10000 // n_expected >= floor_bp AS meets_floor
    FROM m
    """.format(
    exact=ORACLE_SQL["emb_ann_topk"],
    lsh=ORACLE_SQL["emb_ann_lsh_topk"],
    ivf=ORACLE_SQL["emb_ann_ivf_topk"],
)


def emb_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality self-evaluation turned ASSERTION: micro-averaged
    recall@10 of the sign-LSH and IVF ANN paths against the exact
    brute-force ranking, each checked against a calibrated floor (see
    _RECALL_FLOORS) — the eval loop an embedding store must run before
    trusting an approximate index at 100 TB.  Because both engines
    compute meets_floor from their OWN index output, a quality
    regression in similarity.py flips Spark's boolean while the frozen
    oracle replication stays true — a driver hash mismatch, not just a
    drifting number someone has to read."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = similarity.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    exact = exact.localCheckpoint(eager=False)
    rows = []
    for method, approx in (
        (
            "lsh_p4",
            similarity.lsh_bucketed_topk(emb, queries, k=10, n_planes=4),
        ),
        (
            "ivf_np4",
            similarity.ivf_topk(emb, queries, k=10, n_cells=16, n_probe=4),
        ),
    ):
        a = approx.select(
            "query_id", F.col("neighbor_id").alias("a_neighbor")
        )
        j = exact.join(
            a,
            (exact.query_id == a.query_id)
            & (exact.neighbor_id == a.a_neighbor),
            "left",
        )
        rows.append(
            j.agg(
                F.count(F.lit(1)).alias("n_expected"),
                F.count("a_neighbor").alias("n_hits"),
            ).select(
                F.lit(method).alias("method"),
                F.col("n_expected").cast("long").alias("n_expected"),
                F.col("n_hits").cast("long").alias("n_hits"),
                F.expr(
                    "CAST(n_hits * 10000 DIV n_expected AS BIGINT)"
                ).alias("micro_recall_bp"),
                F.lit(_RECALL_FLOORS[method]).cast("long").alias("floor_bp"),
                F.expr(
                    f"n_hits * 10000 DIV n_expected "
                    f">= {_RECALL_FLOORS[method]}"
                ).alias("meets_floor"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


QUERIES["emb_ann_recall_eval"] = emb_ann_recall_eval


# Train/test leakage audit: near-dup candidate pairs crossing fold
# boundaries.  Composes the minhash-LSH pair oracle with the kfold hash.
ORACLE_SQL["doc_split_leakage_audit"] = f"""
    WITH pairs AS ({{pairs}}),
    folds AS (SELECT doc_id,
                     CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 5
                         AS fold
              FROM documents)
    SELECT least(fa.fold, fb.fold) AS fold_lo,
           greatest(fa.fold, fb.fold) AS fold_hi,
           CAST(count(*) AS BIGINT) AS n_pairs,
           fa.fold <> fb.fold AS is_leaky
    FROM pairs p
    JOIN folds fa ON fa.doc_id = p.doc_a
    JOIN folds fb ON fb.doc_id = p.doc_b
    GROUP BY fold_lo, fold_hi, is_leaky
    """.format(pairs=ORACLE_SQL["doc_minhash_lsh_pairs"])


def doc_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: MinHash-LSH near-dup candidate
    pairs bucketed by the fold pair they straddle — any `is_leaky` row
    is a near-duplicate crossing a CV split, i.e. eval contamination
    the content-hash kfold alone cannot see (near-dups hash apart).
    Composes two registered operators; both deterministic, so the audit
    itself is oracle-checked."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidate_pairs(
        docs, k_shingle=3, n_hashes=8, n_bands=4
    )
    folds = docs.select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT) % 5"
        ).alias("fold"),
    )
    fa = folds.withColumnsRenamed({"doc_id": "doc_a", "fold": "fold_a"})
    fb = folds.withColumnsRenamed({"doc_id": "doc_b", "fold": "fold_b"})
    return (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .groupBy(
            F.least("fold_a", "fold_b").alias("fold_lo"),
            F.greatest("fold_a", "fold_b").alias("fold_hi"),
            (F.col("fold_a") != F.col("fold_b")).alias("is_leaky"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select("fold_lo", "fold_hi", "n_pairs", "is_leaky")
    )


QUERIES["doc_split_leakage_audit"] = doc_split_leakage_audit


ORACLE_SQL["doc_neardup_cluster_size_hist"] = """
    WITH comp AS ({clusters})
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters
    FROM (SELECT cluster_id, count(*) AS cluster_size
          FROM comp GROUP BY cluster_id)
    GROUP BY cluster_size
    """.format(clusters=ORACLE_SQL["doc_neardup_clusters"])


def doc_neardup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution: how many components of each
    size the LSH pair graph produces — the first thing to look at
    before choosing a keeper policy (a corpus with thousand-doc
    components needs different handling than one of pairs).  Composes
    the connected-components operator with two bounded aggregations."""
    from ..operators.clustering import connected_components

    pairs = dedup.minhash_lsh_candidate_pairs(
        _t(spark, sf_dir, "documents"), k_shingle=3, n_hashes=8, n_bands=4
    )
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    return (
        comp.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(F.col("cluster_size").cast("long"), "n_clusters")
    )


QUERIES["doc_neardup_cluster_size_hist"] = doc_neardup_cluster_size_hist


@_q(
    "evt_bounce_rate_by_entry",
    """
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type FROM events),
    f AS (SELECT user_id, event_id, ts, event_type,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                           > 30 * 60 * 1000000
                      THEN 1 ELSE 0 END AS new_session
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts, event_id, event_type,
                 sum(new_session) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS session_seq
          FROM f),
    g AS (SELECT user_id, session_seq,
                 min(struct_pack(ts := ts, event_id := event_id,
                                 event_type := event_type)).event_type
                     AS entry_type,
                 count(*) AS n_events
          FROM s GROUP BY user_id, session_seq)
    SELECT entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS bounce_bp
    FROM g GROUP BY entry_type
    """,
)
def evt_bounce_rate_by_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session entry event: sessions that end after one
    event, grouped by what started them — the landing-page quality
    metric, here over 30-min inactivity sessions.  Entry selection is a
    struct-min (ts, event_id orders it deterministically) inside the
    same aggregation that counts the session, so sessionize → entry →
    rate is two window passes and two aggregations total."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag(F.col("ts").cast("timestamp")).over(w)
    )
    f = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(gap_us > 30 * 60 * 1_000_000, 1).otherwise(0).alias("new_session"),
    )
    s = f.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_seq"),
    )
    g = s.groupBy("user_id", "session_seq").agg(
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "entry_type"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    return g.groupBy("entry_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("long"))
        .cast("long")
        .alias("n_bounces"),
        F.expr(
            "CAST(sum(CAST(n_events = 1 AS BIGINT)) * 10000 "
            "DIV count(*) AS BIGINT)"
        ).alias("bounce_bp"),
    )


ORACLE_SQL["doc_lsh_precision_eval"] = f"""
    WITH {{shingles}},
    pairs AS ({{pairs}}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
              FROM pairs p
              JOIN sh a ON a.doc_id = p.doc_a
              JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
              GROUP BY p.doc_a, p.doc_b),
    v AS (SELECT p.doc_a, p.doc_b,
                 coalesce(i.n_inter, 0) AS n_inter,
                 sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0) AS n_union
          FROM pairs p
          JOIN sizes sa ON sa.doc_id = p.doc_a
          JOIN sizes sb ON sb.doc_id = p.doc_b
          LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b)
    , per AS (
        SELECT CAST(doc_a % 10 AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN n_inter * 3 >= n_union THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_true_neardups,
               CAST(sum(CASE WHEN n_inter * 3 >= n_union THEN 1 ELSE 0 END)
                    * 10000 // count(*) AS BIGINT) AS precision_bp
        FROM v GROUP BY bucket)
    SELECT bucket, n_candidates, n_true_neardups, precision_bp,
           CAST(sum(n_true_neardups) OVER () * 10000
                // sum(n_candidates) OVER () AS BIGINT)
               AS overall_precision_bp,
           sum(n_true_neardups) OVER () * 10000
               // sum(n_candidates) OVER () >= 5000 AS meets_floor
    FROM per
    """.format(
    shingles=_SHINGLE_CTE.strip(), pairs=ORACLE_SQL["doc_minhash_lsh_pairs"]
)


def doc_lsh_precision_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-precision evaluation of the MinHash-LSH blocking: what
    fraction of emitted candidate pairs are TRUE near-dups (exact
    shingle Jaccard ≥ 1/3), per doc bucket — the complement of
    emb_ann_recall_eval: recall says what the index finds, precision
    says how much verify work each candidate costs.  Exact set
    arithmetic (3·|∩| ≥ |∪| avoids division) over the candidate set
    only — never all pairs.  ASSERTS an overall-precision floor of
    5000 bp (measured: 8600-8750 bp at sf0.001/sf0.01; a broken
    banding emits near-random candidates at ~0 precision), computed
    by each engine from its OWN candidate set so a blocking
    regression hash-fails the driver row.  Unlike the ANN recall
    floors there is no closed-form chance baseline here (precision
    depends on the corpus dup-rate, not just banding parameters), so
    the floor is empirical BY DESIGN and its recalibration protocol is
    the per-SF parity artifacts: every new scale factor added to the
    parity ladder re-measures this query, and a floor that no longer
    clears by ≥1.5x at a new SF gets recalibrated in the same commit
    that adds the artifact."""
    from ..functions.hashing import shingles_of_tokens, word_tokens
    from ..operators.util import spread

    docs = _t(spark, sf_dir, "documents")
    # shared-subtree pins (r12, guide §5): the candidate set feeds the
    # intersection AND the verify join; the distinct shingle table
    # feeds 3 consumers (sizes + both intersection sides) — unpinned,
    # each replayed the tokenize/shingle explode (40-Exchange plan)
    pairs = dedup.minhash_lsh_candidate_pairs(
        docs, k_shingle=3, n_hashes=8, n_bands=4
    ).localCheckpoint(eager=False)
    sh = (
        spread(docs)
        .select("doc_id", word_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), 3)).alias("shingle"),
        )
        .dropDuplicates(["doc_id", "shingle"])
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh")
    ).localCheckpoint(eager=False)
    inter = (
        pairs.join(sh.withColumnsRenamed({"doc_id": "doc_a"}), "doc_a")
        .join(
            sh.withColumnsRenamed({"doc_id": "doc_b", "shingle": "shingle_b"}),
            "doc_b",
        )
        .where(F.col("shingle") == F.col("shingle_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    v = (
        pairs.join(
            sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "n_a"}), "doc_a"
        )
        .join(
            sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "n_b"}), "doc_b"
        )
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
            (
                F.col("n_a") + F.col("n_b") - F.coalesce("n_inter", F.lit(0))
            ).alias("n_union"),
        )
    )
    per = v.groupBy((F.col("doc_a") % 10).cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum((F.col("n_inter") * 3 >= F.col("n_union")).cast("long"))
        .cast("long")
        .alias("n_true_neardups"),
        F.expr(
            "CAST(sum(CAST(n_inter * 3 >= n_union AS BIGINT)) * 10000 "
            "DIV count(*) AS BIGINT)"
        ).alias("precision_bp"),
    )
    return per.select(
        "bucket",
        "n_candidates",
        "n_true_neardups",
        "precision_bp",
        F.expr(
            "CAST(sum(n_true_neardups) OVER () * 10000 "
            "DIV sum(n_candidates) OVER () AS BIGINT)"
        ).alias("overall_precision_bp"),
        F.expr(
            "sum(n_true_neardups) OVER () * 10000 "
            "DIV sum(n_candidates) OVER () >= 5000"
        ).alias("meets_floor"),
    )


QUERIES["doc_lsh_precision_eval"] = doc_lsh_precision_eval


@_q(
    "agg_bitmap_distinct",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via roaring-style bitmaps
    (bitmap_bit_position / bitmap_construct_agg / bitmap_count, Spark
    3.5+): ids are bucketed into 32k-bit bitmap segments, each segment
    aggregates to a small binary, and the distinct count is the sum of
    segment popcounts.  Unlike countDistinct this is fully mergeable
    partial state of BOUNDED size per bucket — the materialized-rollup
    answer to exact distinct at 100 TB (store the bitmaps, union them
    per range query), sitting between exact countDistinct (unmergeable)
    and HLL (approximate).  The oracle is plain COUNT(DISTINCT): the
    bitmap path must reproduce it exactly."""
    e = _t(spark, sf_dir, "events")
    seg = e.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bucket")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"),
        F.count(F.lit(1)).alias("n"),
    )
    return seg.groupBy("event_type").agg(
        F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias(
            "n_distinct_users"
        ),
        F.sum("n").cast("long").alias("n_rows"),
    )


@_q(
    "fn_aes_roundtrip",
    """
    SELECT doc_id, md5(text) AS content_md5,
           true AS roundtrip_ok, true AS cipher_differs
    FROM documents
    """,
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface (aes_encrypt/aes_decrypt, ECB for
    determinism): the crypto-shredding / tokenization primitive for PII
    columns.  Ciphertext is engine-specific so the oracle asserts the
    CONTRACT — decrypt(encrypt(x)) == x and ciphertext != plaintext —
    as boolean claims beside a plaintext md5 that keeps the hash
    row-sensitive (same shape as the HLL tolerance oracles).  Real
    deployments use GCM (random IV, non-deterministic) — ECB here only
    because the correctness gate needs run-to-run stability."""
    d = _t(spark, sf_dir, "documents")
    key = "0123456789abcdef"
    enc = F.expr(f"aes_encrypt(text, '{key}', 'ECB')")
    dec = F.expr(
        f"CAST(aes_decrypt(aes_encrypt(text, '{key}', 'ECB'), "
        f"'{key}', 'ECB') AS STRING)"
    )
    return d.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        (dec == F.col("text")).alias("roundtrip_ok"),
        (F.base64(enc) != F.col("text")).alias("cipher_differs"),
    )


ORACLE_SQL["doc_quality_dup_crosstab"] = """
    WITH g AS ({gopher}),
    dup AS (SELECT doc_id, count(*) OVER (PARTITION BY content_hash) > 1
                       AS is_dup
            FROM (SELECT doc_id, md5(text) AS content_hash FROM documents))
    SELECT CAST(g.gopher_pass AS INTEGER) AS gopher_pass, dup.is_dup,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM g JOIN dup ON dup.doc_id = g.doc_id
    GROUP BY g.gopher_pass, dup.is_dup
    """.format(gopher=ORACLE_SQL["text_gopher_rules"])


def doc_quality_dup_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diagnostics cross-tab: Gopher quality pass/fail × exact-
    duplicate membership — answers "are my duplicates disproportionately
    low-quality?", which decides whether dedup-before-filter or
    filter-before-dedup wastes less compute in a curation pipeline.
    Composes two registered operators with one window and one bounded
    aggregation."""
    docs = _t(spark, sf_dir, "documents")
    g = text.gopher_quality(docs).select("doc_id", "gopher_pass")
    dup = docs.select(
        "doc_id",
        (
            F.count(F.lit(1)).over(Window.partitionBy(F.md5("text"))) > 1
        ).alias("is_dup"),
    )
    return (
        g.join(dup, "doc_id")
        .groupBy("gopher_pass", "is_dup")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


QUERIES["doc_quality_dup_crosstab"] = doc_quality_dup_crosstab


@_q(
    "part_abc_pareto",
    """
    WITH pr AS (SELECT l_partkey,
                       sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                           AS rev_c
                FROM lineitem GROUP BY l_partkey),
    r AS (SELECT l_partkey, rev_c,
                 sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum_c,
                 sum(rev_c) OVER () AS tot_c
          FROM pr),
    cl AS (SELECT l_partkey, rev_c,
                  CASE WHEN cum_c * 10000 <= tot_c * 8000 THEN 'A'
                       WHEN cum_c * 10000 <= tot_c * 9500 THEN 'B'
                       ELSE 'C' END AS abc_class
           FROM r)
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_c) AS BIGINT) AS revenue_cents
    FROM cl GROUP BY abc_class
    """,
)
def part_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto analysis: parts classified by cumulative revenue
    share (A ≤ 80%, B ≤ 95%, C the tail) — the inventory-concentration
    query.  Runs on the |parts|-row rollup, not the fact table: one
    fact aggregation, one RANGE-PARTITIONED prefix sum
    (``with_global_prefix``: per-partition running sums + broadcast
    partition offsets — no single-partition window) with the grand
    total read off the same ≤P-row partition rollup (``totals=True`` —
    no second scan); integer cross-multiplied thresholds (cum·10000 ≤
    tot·8000 avoids division entirely)."""
    li = _t(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).alias(
            "rev_c"
        )
    )
    r = with_global_prefix(
        pr,
        [F.col("rev_c").desc(), F.col("l_partkey")],
        rn_col="_rn",
        cum_cols=["rev_c"],
        totals=True,
    ).select(
        "l_partkey",
        "rev_c",
        F.col("rev_c_cum").alias("cum_c"),
        F.col("_tot_rev_c").alias("tot_c"),
    )
    cl = r.select(
        "rev_c",
        F.when(F.col("cum_c") * 10000 <= F.col("tot_c") * 8000, "A")
        .when(F.col("cum_c") * 10000 <= F.col("tot_c") * 9500, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return cl.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev_c").cast("long").alias("revenue_cents"),
    )


@_q(
    "part_skyline_pareto_front",
    """
    WITH pr AS (SELECT p_partkey,
                       CAST(floor(p_retailprice * 100) AS BIGINT) AS cents,
                       p_size
                FROM part),
    r AS (SELECT cents, max(p_size) AS pmax FROM pr GROUP BY cents),
    m AS (SELECT cents, pmax,
                 max(pmax) OVER (ORDER BY cents
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS m_lt
          FROM r)
    SELECT pr.p_partkey, pr.cents AS price_cents,
           CAST(pr.p_size AS BIGINT) AS p_size
    FROM pr JOIN m USING (cents)
    WHERE pr.p_size = m.pmax AND (m.m_lt IS NULL OR pr.p_size > m.m_lt)
    """,
)
def part_skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto-dominance) query: the parts no other part
    dominates on (cheaper price, larger size) — the multi-criteria
    shortlist operator ("best tradeoffs only") classic OLAP engines
    ship as SKYLINE OF.  A part survives iff nothing strictly cheaper
    has ≥ its size and nothing equally cheap has > its size, i.e.
    ``size == max(size | same price)`` AND ``size > max(size | cheaper
    price)`` — so dominance needs only a per-price rollup plus the
    EXCLUSIVE running max over ascending price
    (``with_global_prefix_max``: range shuffle + per-partition local
    max + ≤P-row offset rollup, never a single-partition window, and
    never the naive all-pairs anti-join).  Equal (price, size)
    co-optima all survive, per standard skyline semantics.

    Scale notes (100 TB): one hash agg to the |distinct prices| rollup,
    the distributed prefix max over it, one equi-join back on price.
    The O(N²) dominance pair-join never exists at any scale."""
    pr = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr("CAST(floor(p_retailprice * 100) AS BIGINT)").alias("cents"),
        "p_size",
    )
    r = pr.groupBy("cents").agg(F.max("p_size").alias("pmax"))
    m = with_global_prefix_max(r, [F.col("cents")], "pmax", "m_lt")
    return (
        pr.join(m, "cents")
        .where(
            (F.col("p_size") == F.col("pmax"))
            & (F.col("m_lt").isNull() | (F.col("p_size") > F.col("m_lt")))
        )
        .select(
            "p_partkey",
            F.col("cents").alias("price_cents"),
            F.col("p_size").cast("long").alias("p_size"),
        )
    )


@_q(
    "evt_user_concentration_gini",
    """
    WITH u AS (SELECT event_type, user_id, count(*) AS x
               FROM events GROUP BY event_type, user_id),
    r AS (SELECT event_type, x,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY x, user_id) AS i,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM u)
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_users,
           CAST(sum(x) AS BIGINT) AS n_events,
           CAST(sum((2 * i - n - 1) * x) AS BIGINT) AS gini_numer,
           CAST(sum((2 * i - n - 1) * x) * 10000
                // (max(n) * sum(x)) AS BIGINT) AS gini_bp
    FROM r GROUP BY event_type
    """,
)
def evt_user_concentration_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity (how concentrated is each
    event type among its users) — the inequality measure behind "do 1%
    of users generate 90% of the load", which is the same fact that
    predicts shuffle skew.  Exact integer Mean-Difference form:
    G·n·Σx = Σ(2i−n−1)·xᵢ over ranked counts, ties broken by user_id;
    no floats until never."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    r = u.select(
        "event_type",
        "x",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("n_events"),
        F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("x"))
        .cast("long")
        .alias("gini_numer"),
        F.expr(
            "CAST(sum((2 * i - n - 1) * x) * 10000 "
            "DIV (max(n) * sum(x)) AS BIGINT)"
        ).alias("gini_bp"),
    )


@_q(
    "doc_shingle_containment_pairs",
    f"""
    WITH {_SHINGLE_CTE.strip()},
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 50),
    shc AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
           CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
           CAST(n_inter * 10000 // sa.n_sh AS BIGINT) AS cont_a_bp,
           CAST(n_inter * 10000 // sb.n_sh AS BIGINT) AS cont_b_bp
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter * 10000 >= 5000 * least(sa.n_sh, sb.n_sh)
    """,
)
def doc_shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (|A∩B|/|A|) pairs at ≥ 0.5 in
    either direction (operators/dedup.py:shingle_containment_pairs) —
    catches a short document embedded inside a much longer one, which
    symmetric Jaccard scores near zero.  Same capped posting-list plan
    shape as doc_ngram_jaccard_pairs: no all-pairs join, per-shingle
    work bounded by the DF cap."""
    return dedup.shingle_containment_pairs(
        _t(spark, sf_dir, "documents"),
        k_shingle=3,
        threshold_bp=5000,
        max_shingle_df=50,
    )


@_q(
    "text_stopword_discovery",
    """
    WITH w AS (SELECT DISTINCT doc_id, word FROM (
                   SELECT doc_id, unnest(string_split(text, ' ')) AS word
                   FROM documents) WHERE word <> ''),
    d AS (SELECT word, count(*) AS df FROM w GROUP BY word),
    t AS (SELECT count(*) AS n_docs FROM documents)
    SELECT word, CAST(df AS BIGINT) AS df,
           CAST(df * 10000 // n_docs AS BIGINT) AS df_ratio_bp,
           CAST(row_number() OVER (ORDER BY df DESC, word) AS BIGINT)
               AS df_rank
    FROM d, t WHERE df * 10000 >= 6000 * n_docs
    """,
)
def text_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven stopword discovery (operators/text.py:
    stopword_candidates): words present in ≥ 60% of documents, ranked
    by document frequency — the per-language stopword list derived from
    the corpus itself rather than a fixed English list."""
    return text.stopword_candidates(
        _t(spark, sf_dir, "documents"), min_df_ratio_bp=6000
    )


@_q(
    "text_bpe_merge_step",
    """
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents),
    v AS (SELECT word, count(*) AS n_word FROM w WHERE word <> ''
          GROUP BY word),
    p1 AS (SELECT n_word, substr(word, CAST(t.i AS INTEGER), 1) AS sym_a,
                  substr(word, CAST(t.i AS INTEGER) + 1, 1) AS sym_b
           FROM v, unnest(range(1, length(word))) AS t(i)
           WHERE length(word) >= 2),
    c1 AS (SELECT sym_a, sym_b, sum(n_word) AS n_pairs FROM p1
           GROUP BY sym_a, sym_b),
    win AS (SELECT sym_a || sym_b AS merged FROM c1
            ORDER BY n_pairs DESC, sym_a, sym_b LIMIT 1),
    mv AS (SELECT replace(word, merged, chr(1)) AS word, n_word, merged
           FROM v, win),
    p2 AS (SELECT merged, n_word,
                  substr(word, CAST(t.i AS INTEGER), 1) AS sym_a,
                  substr(word, CAST(t.i AS INTEGER) + 1, 1) AS sym_b
           FROM mv, unnest(range(1, length(word))) AS t(i)
           WHERE length(word) >= 2),
    c2 AS (SELECT merged, sym_a, sym_b, sum(n_word) AS n_pairs FROM p2
           GROUP BY merged, sym_a, sym_b),
    r AS (SELECT merged, sym_a, sym_b, n_pairs,
                 row_number() OVER (ORDER BY n_pairs DESC, sym_a, sym_b)
                     AS rnk
          FROM c2)
    SELECT merged AS merged_pair,
           CASE WHEN sym_a = chr(1) THEN merged ELSE sym_a END AS sym_a,
           CASE WHEN sym_b = chr(1) THEN merged ELSE sym_b END AS sym_b,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(rnk AS BIGINT) AS pair_rank
    FROM r WHERE rnk <= 20
    """,
)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE training iteration (operators/text.py:
    bpe_merge_step): pick the top adjacent pair, APPLY the merge to the
    vocabulary via left-to-right non-overlapping replace (= greedy BPE),
    recount, return the post-merge top-20 — the loop body of a
    distributed tokenizer trainer, all on the bounded vocabulary
    rollup."""
    return text.bpe_merge_step(_t(spark, sf_dir, "documents"), top_k=20)


@_q(
    "agg_exact_regression",
    """
    WITH b AS (SELECT l_returnflag,
                      CAST(l_quantity AS BIGINT) AS q,
                      CAST(floor(l_extendedprice * 100) AS BIGINT) AS p
               FROM lineitem),
    g AS (SELECT l_returnflag, count(*) AS n, sum(q) AS sq, sum(p) AS sp,
                 sum(CAST(q AS HUGEINT) * CAST(p AS HUGEINT)) AS sqp,
                 sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS sqq,
                 sum(CAST(p AS HUGEINT) * CAST(p AS HUGEINT)) AS spp
          FROM b GROUP BY l_returnflag)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(sq AS BIGINT) AS sum_q, CAST(sp AS BIGINT) AS sum_p,
           CAST(CAST(n AS HUGEINT) * sqp
                - CAST(sq AS HUGEINT) * CAST(sp AS HUGEINT)
                AS VARCHAR) AS sxy,
           CAST(CAST(n AS HUGEINT) * sqq
                - CAST(sq AS HUGEINT) * CAST(sq AS HUGEINT)
                AS VARCHAR) AS sxx,
           CAST(CAST(n AS HUGEINT) * spp
                - CAST(sp AS HUGEINT) * CAST(sp AS HUGEINT)
                AS VARCHAR) AS syy
    FROM g
    """,
)
def agg_exact_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group OLS sufficient statistics via cleared denominators
    (the agg_exact_covariance technique extended to the full regression
    triple): sxy = n·Σqp − Σq·Σp, sxx = n·Σq² − (Σq)², syy analogous —
    slope = sxy/sxx, intercept = (Σp·Σq² − Σq·Σqp)/(n·sxx/n), and
    r² = sxy²/(sxx·syy) all derive from these three DECIMAL(38) strings
    with zero float accumulation.  ONE map-side-combined aggregation;
    regr_slope/regr_r2 float forms exist in both engines but can never
    hash-match."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("q"),
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("p"),
    )
    qd = F.col("q").cast("decimal(38,0)")
    pd_ = F.col("p").cast("decimal(38,0)")
    g = b.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("sum_q"),
        F.sum("p").cast("long").alias("sum_p"),
        F.sum(qd * pd_).alias("_sqp"),
        F.sum(qd * qd).alias("_sqq"),
        F.sum(pd_ * pd_).alias("_spp"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    sqd = F.col("sum_q").cast("decimal(38,0)")
    spd = F.col("sum_p").cast("decimal(38,0)")
    return g.select(
        "l_returnflag",
        "n",
        "sum_q",
        "sum_p",
        (nd * F.col("_sqp") - sqd * spd).cast("string").alias("sxy"),
        (nd * F.col("_sqq") - sqd * sqd).cast("string").alias("sxx"),
        (nd * F.col("_spp") - spd * spd).cast("string").alias("syy"),
    )


@_q(
    "evt_activity_streaks",
    """
    WITH d AS (SELECT DISTINCT user_id,
                      date_diff('day', DATE '2024-01-01',
                                CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS idx
               FROM events),
    r AS (SELECT user_id, idx,
                 idx - row_number() OVER (PARTITION BY user_id
                                          ORDER BY idx) AS grp
          FROM d),
    s AS (SELECT user_id, count(*) AS len FROM r GROUP BY user_id, grp),
    m AS (SELECT user_id, max(len) AS max_streak FROM s GROUP BY user_id)
    SELECT CAST(max_streak AS BIGINT) AS streak_days,
           CAST(count(*) AS BIGINT) AS n_users
    FROM m GROUP BY max_streak
    """,
)
def evt_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, histogrammed —
    the engagement metric behind "7-day streak" product features.
    Gaps-and-islands on the per-user distinct-day index (idx −
    row_number is constant within a run); two user-keyed aggregations
    ride the same shuffle partitioning, the final histogram is over
    ≤ max-streak rows."""
    e = _t(spark, sf_dir, "events")
    d = e.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "idx"
        ),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("idx")
    r = d.select(
        "user_id", "idx", (F.col("idx") - F.row_number().over(w)).alias("grp")
    )
    s = r.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    m = s.groupBy("user_id").agg(F.max("len").alias("max_streak"))
    return m.groupBy(F.col("max_streak").cast("long").alias("streak_days")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


@_q(
    "tpch_revenue_mom_growth",
    """
    WITH m AS (SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m')
                          AS month,
                      sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                          AS rev_c
               FROM orders GROUP BY 1),
    l AS (SELECT month, rev_c,
                 lag(rev_c) OVER (ORDER BY month) AS prev_c
          FROM m)
    SELECT month, CAST(rev_c AS BIGINT) AS rev_cents,
           CAST(prev_c AS BIGINT) AS prev_cents,
           CAST((rev_c - prev_c) * 10000 // prev_c AS BIGINT) AS growth_bp
    FROM l
    """,
)
def tpch_revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth in basis points (lag window over
    the monthly rollup) — the time-series KPI query.  The global-order
    lag window runs on the |months|-row rollup, never the fact table;
    truncating integer division (DIV ↔ DuckDB //) keeps negative growth
    months portable."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month")).agg(
        F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).alias(
            "rev_c"
        )
    )
    l = m.select(
        "month",
        "rev_c",
        F.lag("rev_c").over(Window.orderBy("month")).alias("prev_c"),
    )
    return l.select(
        "month",
        F.col("rev_c").cast("long").alias("rev_cents"),
        F.col("prev_c").cast("long").alias("prev_cents"),
        F.expr("CAST((rev_c - prev_c) * 10000 DIV prev_c AS BIGINT)").alias(
            "growth_bp"
        ),
    )


@_q(
    "agg_hll_overlap_estimate",
    """
    WITH e AS (SELECT DISTINCT event_type, user_id FROM events),
    n AS (SELECT event_type, count(*) AS n FROM e GROUP BY event_type),
    ov AS (SELECT a.event_type AS ta, b.event_type AS tb,
                  count(*) AS n_overlap
           FROM e a JOIN e b
             ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY a.event_type, b.event_type)
    SELECT ta AS type_a, tb AS type_b,
           CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
           CAST(n_overlap AS BIGINT) AS exact_overlap,
           true AS est_ok
    FROM ov
    JOIN n na ON na.event_type = ta
    JOIN n nb ON nb.event_type = tb
    """,
)
def agg_hll_overlap_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based audience-overlap estimation: |A∩B| from HLL sketches
    via inclusion-exclusion est(A)+est(B)−est(A∪B) — the privacy-size
    trade every ad-tech / analytics overlap product makes, because
    sketches union mergeably while exact intersection needs raw IDs.
    Emits the exact overlap (hash-sensitive ground truth) plus the claim
    that the sketch estimate lands within 5% of the UNION-SCALE terms
    (|est−exact| ≤ 0.05·(n_a+n_b): inclusion-exclusion error is
    proportional to the set sizes, not the overlap, so that is the
    honest bound; lgK=14 keeps per-sketch error ≈ 0.8%).  One distinct
    pass builds both sketches and exact sets; the pair join is over the
    |event_types|-row sketch rollup."""
    e = _t(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    e = e.localCheckpoint(eager=False)
    per = e.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a = per.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("n").alias("n_a"),
    )
    b = per.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("n").alias("n_b"),
    )
    est = a.join(b, F.col("type_a") < F.col("type_b")).select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        (
            F.expr("hll_sketch_estimate(sk_a)")
            + F.expr("hll_sketch_estimate(sk_b)")
            - F.expr("hll_sketch_estimate(hll_union(sk_a, sk_b))")
        ).alias("est_overlap"),
    )
    exact = (
        e.alias("x")
        .join(
            e.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    return exact.join(est, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "exact_overlap",
        (
            F.abs(F.col("est_overlap") - F.col("exact_overlap"))
            <= (F.col("n_a") + F.col("n_b")) * F.lit(0.05)
        ).alias("est_ok"),
    )


@_q(
    "graph_degree_histogram",
    """
    WITH b AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
               FROM lineitem),
    d AS (SELECT x.item AS item, count(DISTINCT y.item) AS degree
          FROM b x JOIN b y ON x.g = y.g AND x.item <> y.item
          GROUP BY x.item)
    SELECT CAST(floor(log2(degree)) AS INTEGER) AS deg_bucket,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(degree) AS BIGINT) AS sum_degree,
           CAST(min(degree) AS BIGINT) AS min_degree,
           CAST(max(degree) AS BIGINT) AS max_degree
    FROM d GROUP BY deg_bucket
    """,
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph, log2-bucketed —
    the first diagnostic run on any large graph (power-law tail ⇒ skew
    risk for every downstream self-join).  Pair generation is the same
    Σ basket² co-occurrence shape as part_cooccurrence_pairs (baskets
    ≤ 7 items in TPC-H; cap pathological baskets at scale); floor(log2)
    of an int64 is exact in IEEE double in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    # both sides of the self-join read this — pinned so the scan +
    # wide distinct runs once (r12, guide §5)
    b = li.select(
        F.col("l_orderkey").alias("g"), F.col("l_partkey").alias("item")
    ).distinct().localCheckpoint(eager=False)
    x, y = b.alias("x"), b.alias("y")
    d = (
        x.join(
            y,
            (F.col("x.g") == F.col("y.g"))
            & (F.col("x.item") != F.col("y.item")),
        )
        .groupBy(F.col("x.item").alias("item"))
        .agg(F.countDistinct(F.col("y.item")).alias("degree"))
    )
    return d.groupBy(
        F.floor(F.log2("degree")).cast("int").alias("deg_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("degree").cast("long").alias("sum_degree"),
        F.min("degree").cast("long").alias("min_degree"),
        F.max("degree").cast("long").alias("max_degree"),
    )


@_q(
    "fn_interval_arithmetic",
    """
    SELECT o_orderkey,
           strftime(CAST(CAST(o_orderdate AS TIMESTAMP)
                         + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d')
               AS plus_3_months,
           strftime(CAST(CAST(o_orderdate AS TIMESTAMP)
                         - INTERVAL 90 DAY AS DATE), '%Y-%m-%d')
               AS minus_90_days,
           strftime(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 36 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS plus_36_hours,
           CAST((year(CAST(o_orderdate AS TIMESTAMP)) - 1995) * 12
                + month(CAST(o_orderdate AS TIMESTAMP)) - 6 AS BIGINT)
               AS months_from_199506,
           CAST(date_diff('hour', TIMESTAMP '1995-06-01 00:00:00',
                          CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
               AS hours_from_199506
    FROM orders
    """,
)
def fn_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI interval arithmetic surface: year-month interval addition
    (with end-of-month clamping, identical in both engines), day-time
    interval addition on dates and timestamps, calendar-month distance
    (exact integer year·12+month arithmetic — months_between's float is
    unportable), and whole-hour timestamp distance (timestampdiff ↔
    DuckDB date_diff).  Pure per-row JVM expressions."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(
            F.expr("CAST(o_orderdate + INTERVAL '3' MONTH AS DATE)"),
            "yyyy-MM-dd",
        ).alias("plus_3_months"),
        F.date_format(
            F.expr("CAST(o_orderdate - INTERVAL '90' DAY AS DATE)"),
            "yyyy-MM-dd",
        ).alias("minus_90_days"),
        F.date_format(
            F.expr("o_orderdate + INTERVAL '36' HOUR"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("plus_36_hours"),
        F.expr(
            "CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 6 "
            "AS BIGINT)"
        ).alias("months_from_199506"),
        F.expr(
            "CAST(timestampdiff(HOUR, TIMESTAMP '1995-06-01 00:00:00', "
            "o_orderdate) AS BIGINT)"
        ).alias("hours_from_199506"),
    )


@_q(
    "evt_peak_concurrency",
    """
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    f AS (SELECT user_id, ts, event_id,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                           > 30 * 60 * 1000000
                      THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id,
                 sum(new_session) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS seq,
                 epoch_us(ts) AS us
          FROM f),
    iv AS (SELECT min(us) AS s_us, max(us) AS e_us FROM s
           GROUP BY user_id, seq),
    delta AS (SELECT s_us AS t, 1 AS d FROM iv
              UNION ALL SELECT e_us + 1, -1 FROM iv),
    per_t AS (SELECT t, sum(d) AS d FROM delta GROUP BY t),
    run AS (SELECT t, sum(d) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
            FROM per_t)
    SELECT CAST(DATE '1970-01-01' + CAST(t // 86400000000 AS INTEGER)
                AS VARCHAR) AS day,
           CAST(max(conc) AS BIGINT) AS peak_concurrent
    FROM run GROUP BY 1
    """,
)
def evt_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — capacity planning's headline
    number — via the interval→timeline rewrite: sessionize (30-min
    gaps), emit ±1 deltas at session start / end+1µs, COLLAPSE deltas
    per instant (so simultaneous start+end resolves atomically), one
    running sum, max per day.  The ordered prefix window runs over the
    ≤ 2·|sessions| collapsed delta rollup, never raw events; days derive
    from integer epoch-µs division, no timezone round-trip.  Both the
    new_session lag and the prefix-sum seq window order by
    (ts, event_id) — an us-only ordering would make session assignment
    order-dependent when a user has duplicate timestamps at a session
    boundary (engines could legally disagree)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    f = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.when(
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
            > 30 * 60 * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    ).withColumn(
        "seq",
        F.sum("new_session").over(
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    iv = f.groupBy("user_id", "seq").agg(
        F.min("us").alias("s_us"), F.max("us").alias("e_us")
    )
    delta = iv.select(F.col("s_us").alias("t"), F.lit(1).alias("d")).unionByName(
        iv.select((F.col("e_us") + 1).alias("t"), F.lit(-1).alias("d"))
    )
    per_t = delta.groupBy("t").agg(F.sum("d").alias("d")).withColumn(
        "day_n", (F.col("t") / F.lit(86_400_000_000)).cast("int")
    )
    per_t = per_t.localCheckpoint(eager=False)
    # TWO-PHASE distributed prefix sum: a global ORDER BY t running sum
    # would funnel the ~2·|sessions| delta rollup through ONE partition
    # (WindowExec with no PARTITION BY) — the single-machine sort that
    # caps at executor memory.  Instead: (1) within-day prefix sums run
    # partitioned by day; (2) the day-level offsets are a prefix over
    # the |days|-row daily rollup — the only global window left is over
    # a calendar-bounded frame, and the offset join back is broadcast
    # on the same bounded key.  conc(t) = prior-days total + within-day
    # prefix, exactly the global running sum.
    daily = per_t.groupBy("day_n").agg(F.sum("d").alias("day_sum"))
    offs = daily.select(
        "day_n",
        F.coalesce(
            F.sum("day_sum").over(
                Window.orderBy("day_n").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("prior_days"),
    )
    run = (
        per_t.withColumn(
            "within",
            F.sum("d").over(
                Window.partitionBy("day_n")
                .orderBy("t")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .join(F.broadcast(offs), "day_n")
        .withColumn("conc", F.col("within") + F.col("prior_days"))
    )
    return run.groupBy(
        F.date_add(F.lit("1970-01-01").cast("date"), F.col("day_n"))
        .cast("string")
        .alias("day")
    ).agg(F.max("conc").cast("long").alias("peak_concurrent"))


@_q(
    "text_zipf_curve",
    """
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents),
    c AS (SELECT word, count(*) AS cnt FROM w WHERE word <> ''
          GROUP BY word),
    r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rnk
          FROM c)
    SELECT CAST(floor(log2(rnk)) AS INTEGER) AS rank_bucket,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(cnt) AS BIGINT) AS sum_count,
           CAST(max(cnt) AS BIGINT) AS max_count,
           CAST(min(cnt) AS BIGINT) AS min_count
    FROM r GROUP BY rank_bucket
    """,
)
def text_zipf_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency curve, log2-rank-bucketed: total token mass
    per frequency-rank octave — the corpus-statistics plot that decides
    vocabulary size and stopword cut-offs (a healthy natural corpus is
    near-linear in log-log; synthetic or boilerplate-heavy corpora bend).
    The global rank is ``with_global_prefix`` over the vocabulary
    rollup — range shuffle + partition offsets, identical values to
    the partition-less row_number window without its single-partition
    sort; deterministic ties via (count desc, word)."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.hashing import word_tokens as _wt
    from ..operators.util import spread as _spread

    c = (
        _spread(d)
        .select(F.explode(_wt(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    r = with_global_prefix(
        c, [F.col("cnt").desc(), F.col("word")], rn_col="rnk"
    ).select("cnt", "rnk")
    return r.groupBy(
        F.floor(F.log2("rnk")).cast("int").alias("rank_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("cnt").cast("long").alias("sum_count"),
        F.max("cnt").cast("long").alias("max_count"),
        F.min("cnt").cast("long").alias("min_count"),
    )


@_q(
    "evt_multitouch_attribution",
    """
    WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
    pt AS (SELECT p.event_id AS p_id, t.event_id AS t_id,
                  t.event_type AS t_type, t.us AS t_us
           FROM e p JOIN e t
             ON p.user_id = t.user_id
            AND t.us < p.us
            AND p.us - t.us <= CAST(7 AS BIGINT) * 86400 * 1000000
           WHERE p.event_type = 'purchase' AND t.event_type <> 'purchase'),
    c AS (SELECT p_id, t_type,
                 count(*) OVER (PARTITION BY p_id) AS n,
                 row_number() OVER (PARTITION BY p_id
                                    ORDER BY t_us DESC, t_id DESC) AS rn
          FROM pt),
    credit AS (SELECT t_type,
                      1000 // n + CASE WHEN rn = 1
                                       THEN 1000 - n * (1000 // n)
                                       ELSE 0 END AS milli
               FROM c)
    SELECT t_type AS event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(milli) AS BIGINT) AS credit_milli
    FROM credit GROUP BY t_type
    """,
)
def evt_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits 1000 milli
    of credit equally across the user's non-purchase touches in the
    prior 7 days, integer remainder to the touch CLOSEST to conversion
    (deterministic: ts desc, event_id desc) — so total credit is exactly
    1000·|purchases with ≥1 touch|, auditable to the milli.  The
    purchase×touch pair join is per-user time-range-bounded (the
    evt_funnel_within_7d shape); at 100 TB pre-bucket by (user, week) so
    each pair task touches two adjacent buckets, never a user's full
    history."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("u"),
        F.col("us").alias("p_us"),
    )
    t = e.where(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t_type"),
        F.col("us").alias("t_us"),
    )
    pt = p.join(t, "u").where(
        (F.col("t_us") < F.col("p_us"))
        & (F.col("p_us") - F.col("t_us") <= 7 * 86400 * 1_000_000)
    )
    c = pt.select(
        "p_id",
        "t_type",
        F.count(F.lit(1)).over(Window.partitionBy("p_id")).alias("n"),
        F.row_number()
        .over(
            Window.partitionBy("p_id").orderBy(
                F.col("t_us").desc(), F.col("t_id").desc()
            )
        )
        .alias("rn"),
    )
    credit = c.select(
        "t_type",
        (
            F.expr("1000 DIV n")
            + F.when(
                F.col("rn") == 1, F.lit(1000) - F.col("n") * F.expr("1000 DIV n")
            ).otherwise(0)
        ).alias("milli"),
    )
    return credit.groupBy(F.col("t_type").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum("milli").cast("long").alias("credit_milli"),
    )


@_q(
    "agg_weighted_median",
    """
    WITH b AS (SELECT l_returnflag,
                      CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
                      CAST(l_quantity AS BIGINT) AS w
               FROM lineitem),
    g AS (SELECT l_returnflag, cents, sum(w) AS w FROM b
          GROUP BY l_returnflag, cents),
    r AS (SELECT l_returnflag, cents, w,
                 sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cw,
                 sum(w) OVER (PARTITION BY l_returnflag) AS tw
          FROM g)
    SELECT l_returnflag,
           CAST(min(CASE WHEN 2 * cw >= tw THEN cents END) AS BIGINT)
               AS weighted_median_cents,
           CAST(max(tw) AS BIGINT) AS total_weight
    FROM r GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median (lower weighted median: first value whose
    cumulative weight reaches half the total) — the robust center for
    quantity-weighted price, where the plain median over-counts small
    lots.  Pre-aggregating to distinct (group, value) rows first bounds
    the ranked window to the value-domain size, not the fact-table size;
    integer cumulative-weight comparison (2·cw ≥ tw) avoids division
    entirely."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        "l_returnflag",
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    g = b.groupBy("l_returnflag", "cents").agg(F.sum("w").alias("w"))
    r = g.select(
        "l_returnflag",
        "cents",
        "w",
        F.sum("w")
        .over(
            Window.partitionBy("l_returnflag")
            .orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cw"),
        F.sum("w").over(Window.partitionBy("l_returnflag")).alias("tw"),
    )
    return r.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("weighted_median_cents"),
        F.max("tw").cast("long").alias("total_weight"),
    )


def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the k-anonymity complement: a group of ≥k
    identical quasi-identifiers is still re-identifiable when everyone
    in it shares the SAME sensitive value (homogeneity attack), so each
    (nation × market segment) equivalence class must carry ≥l distinct
    sensitive values (the balance band here).  Output is the
    equivalence-class distribution by diversity level with the
    below-l=3 flag — two map-side-combined aggregations, the second
    over the class rollup."""
    c = _t(spark, sf_dir, "customer")
    q = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_band"),
    )
    g = q.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.count_distinct("bal_band").alias("diversity"),
    )
    return (
        g.groupBy(F.col("diversity").cast("long").alias("diversity"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("group_size").cast("long").alias("n_customers"),
        )
        .withColumn("below_l3", F.col("diversity") < 3)
    )


QUERIES["dq_l_diversity"] = dq_l_diversity
ORACLE_SQL["dq_l_diversity"] = """
    WITH q AS (SELECT c_nationkey, c_mktsegment,
                      CASE WHEN c_acctbal < 0 THEN 'neg'
                           WHEN c_acctbal < 5000 THEN 'low'
                           ELSE 'high' END AS bal_band
               FROM customer),
    g AS (SELECT c_nationkey, c_mktsegment,
                 count(*) AS group_size,
                 count(DISTINCT bal_band) AS diversity
          FROM q GROUP BY c_nationkey, c_mktsegment)
    SELECT CAST(diversity AS BIGINT) AS diversity,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(group_size) AS BIGINT) AS n_customers,
           diversity < 3 AS below_l3
    FROM g GROUP BY diversity
    """


@_q(
    "dq_t_closeness",
    """
    WITH q AS (SELECT c_nationkey, c_mktsegment,
                      CASE WHEN c_acctbal < 0 THEN 0
                           WHEN c_acctbal < 5000 THEN 1
                           ELSE 2 END AS band
               FROM customer),
    g AS (SELECT c_nationkey, c_mktsegment,
                 count(*) AS n,
                 sum(CASE WHEN band <= 0 THEN 1 ELSE 0 END) AS cum0,
                 sum(CASE WHEN band <= 1 THEN 1 ELSE 0 END) AS cum1
          FROM q GROUP BY c_nationkey, c_mktsegment),
    t AS (SELECT count(*) AS big_n,
                 sum(CASE WHEN band <= 0 THEN 1 ELSE 0 END) AS g0,
                 sum(CASE WHEN band <= 1 THEN 1 ELSE 0 END) AS g1
          FROM q),
    d AS (SELECT g.c_nationkey, g.c_mktsegment, g.n,
                 (abs(CAST(g.cum0 AS HUGEINT) * t.big_n
                      - CAST(t.g0 AS HUGEINT) * g.n)
                  + abs(CAST(g.cum1 AS HUGEINT) * t.big_n
                        - CAST(t.g1 AS HUGEINT) * g.n)) * 10000
                 // (CAST(g.n AS HUGEINT) * t.big_n * 2) AS t_emd_bp
          FROM g, t)
    SELECT c_nationkey, c_mktsegment,
           CAST(n AS BIGINT) AS group_size,
           CAST(t_emd_bp AS BIGINT) AS t_emd_bp,
           t_emd_bp > 2000 AS above_t20
    FROM d
    """,
)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third leg of the privacy triad
    (k-anonymity: classes big enough; l-diversity: classes varied
    enough; t-closeness: classes DISTRIBUTED like the whole table, so
    membership in a class leaks no skew about the sensitive value).
    Per (nation × market segment) equivalence class, the Earth Mover's
    Distance between the class's ordered sensitive distribution
    (balance band neg < low < high) and the global one, with ordinal
    ground distance: EMD = Σ_j |cumP_j − cumQ_j| / (m−1).  Computed in
    cleared-denominator integers — per-class cumulative counts
    cross-multiplied against the global cumulative counts in
    DECIMAL(38,0) (Spark DIV ↔ DuckDB HUGEINT //, the _IW_RATIO_SQL
    convention; int64 would wrap near N ≈ 3·10⁹ rows) — emitting
    ``t_emd_bp`` (×10⁴) and the above-t=0.2 disclosure flag.

    Scale notes (100 TB): one map-side-combined aggregation to the
    bounded |nations|×|segments| class rollup, one 1-row global
    aggregate broadcast into it (deliberate scalar BNLJ, allowlisted)
    — no windows, no shuffle beyond the two aggs."""
    c = _t(spark, sf_dir, "customer")
    q = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, 0)
        .when(F.col("c_acctbal") < 5000, 1)
        .otherwise(2)
        .alias("band"),
    )
    le = lambda j: F.sum(  # noqa: E731
        F.when(F.col("band") <= j, 1).otherwise(0)
    )
    g = q.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        le(0).alias("cum0"),
        le(1).alias("cum1"),
    )
    tot = q.agg(
        F.count(F.lit(1)).alias("big_n"),
        le(0).alias("g0"),
        le(1).alias("g1"),
    )
    d = g.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        F.expr(
            "(abs(CAST(cum0 AS DECIMAL(38,0)) * big_n"
            "     - CAST(g0 AS DECIMAL(38,0)) * n)"
            " + abs(CAST(cum1 AS DECIMAL(38,0)) * big_n"
            "       - CAST(g1 AS DECIMAL(38,0)) * n)) * 10000"
            " DIV (CAST(n AS DECIMAL(38,0)) * big_n * 2)"
        ).alias("t_emd_bp"),
    )
    return d.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("n").cast("long").alias("group_size"),
        F.col("t_emd_bp").cast("long").alias("t_emd_bp"),
        (F.col("t_emd_bp") > 2000).alias("above_t20"),
    )


@_q(
    "dq_k_anonymity",
    """
    WITH q AS (SELECT c_custkey, c_nationkey, c_mktsegment,
                      CASE WHEN c_acctbal < 0 THEN 'neg'
                           WHEN c_acctbal < 5000 THEN 'low'
                           ELSE 'high' END AS bal_band
               FROM customer),
    g AS (SELECT c_nationkey, c_mktsegment, bal_band,
                 count(*) AS group_size
          FROM q GROUP BY c_nationkey, c_mktsegment, bal_band)
    SELECT CAST(group_size AS BIGINT) AS group_size,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(group_size) AS BIGINT) AS n_customers,
           group_size < 5 AS below_k5
    FROM g GROUP BY group_size
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (nation × market segment
    × balance band): the distribution of equivalence-class sizes, with
    the below-k=5 re-identification-risk flag — the privacy check run
    before releasing or training on quasi-identifiable records.  Two
    map-side-combined aggregations; the second runs on the equivalence-
    class rollup."""
    c = _t(spark, sf_dir, "customer")
    q = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_band"),
    )
    g = q.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return (
        g.groupBy(F.col("group_size").cast("long").alias("group_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("group_size").cast("long").alias("n_customers"),
        )
        .select("*", (F.col("group_size") < 5).alias("below_k5"))
    )


@_q(
    "evt_pattern_match_cep",
    """
    WITH s AS (SELECT user_id,
                      string_agg(substr(event_type, 1, 1), ''
                                 ORDER BY ts, event_id) AS seq
               FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'c[vse]*p')) AS BIGINT)
               AS n_journeys
    FROM s
    """,
)
def evt_pattern_match_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match (MATCH_RECOGNIZE-lite):
    per user, fold the time-ordered event-type sequence into an initials
    string and count non-overlapping 'c[vse]*p' journeys — click, any
    non-click non-purchase activity, purchase.  The string-fold rewrite
    turns sequence-pattern matching into ONE aggregation + a per-row
    regex (linear scan, no backtracking risk: the class excludes the
    anchors, so matches are unique under both leftmost-first and
    leftmost-longest semantics — Spark's Java regex and DuckDB's RE2
    agree).  Portable ordering: array_sort over (ts, event_id) structs
    ↔ string_agg ORDER BY."""
    e = _t(spark, sf_dir, "events")
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.substring("event_type", 1, 1).alias("ini"),
            )
        )
    )
    s = e.groupBy("user_id").agg(
        F.array_join(F.transform(arr, lambda x: x["ini"]), "").alias("seq")
    )
    return s.select(
        "user_id",
        F.length("seq").cast("long").alias("seq_len"),
        F.size(F.regexp_extract_all("seq", F.lit("c[vse]*p"), F.lit(0)))
        .cast("long")
        .alias("n_journeys"),
    )


@_q(
    "doc_phrase_search",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    pos AS (SELECT doc_id, CAST(i.i AS INTEGER) AS pos,
                   t[CAST(i.i AS INTEGER)] AS word
            FROM toks, unnest(range(1, len(t) + 1)) AS i(i)),
    p AS (SELECT * FROM pos WHERE word IN ('slow', 'hash', 'batch'))
    SELECT p1.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM p p1
    JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
    JOIN p p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
    WHERE p1.word = 'slow' AND p2.word = 'hash' AND p3.word = 'batch'
    GROUP BY p1.doc_id
    """,
)
def doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search: exact occurrence counts of the
    phrase "slow hash batch" via position-list adjacency joins — the
    phrase-query leg of an inverted index, where a LIKE scan would
    re-read every document.  The postings are filtered to the three
    phrase terms BEFORE any join (predicate pushdown does this at the
    scan), so join input is per-term posting lists, not the corpus;
    at 100 TB the posting table is the materialized index and the same
    three-way adjacency join runs against it unchanged."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.hashing import word_tokens as _wt

    pos = d.select(
        "doc_id",
        F.posexplode(_wt(F.col("text"))).alias("pos0", "word"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    p = pos.where(F.col("word").isin("slow", "hash", "batch")).localCheckpoint(
        eager=False
    )
    p1 = p.where(F.col("word") == "slow").select("doc_id", "pos")
    p2 = p.where(F.col("word") == "hash").select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    p3 = p.where(F.col("word") == "batch").select(
        "doc_id", (F.col("pos") - 2).alias("pos")
    )
    return (
        p1.join(p2, ["doc_id", "pos"])
        .join(p3, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )


@_q(
    "evt_ab_test_chisq",
    """
    WITH u AS (SELECT user_id,
                      CAST(user_id % 2 AS INTEGER) AS cohort,
                      max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                          END) AS converted
               FROM events GROUP BY user_id),
    c AS (SELECT
              sum(CASE WHEN cohort = 0 AND converted = 1 THEN 1 ELSE 0 END) AS a,
              sum(CASE WHEN cohort = 0 AND converted = 0 THEN 1 ELSE 0 END) AS b,
              sum(CASE WHEN cohort = 1 AND converted = 1 THEN 1 ELSE 0 END) AS c_,
              sum(CASE WHEN cohort = 1 AND converted = 0 THEN 1 ELSE 0 END) AS d
          FROM u)
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c_ AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
           CAST((a + b + c_ + d)
                * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c_)
                * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c_)
                AS VARCHAR) AS chisq_numer,
           CAST(CAST(a + b AS HUGEINT) * (c_ + d) * (a + c_) * (b + d)
                AS VARCHAR) AS chisq_denom,
           (a + b + c_ + d)
               * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c_)
               * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c_) * 1000
               > 3841 * CAST(a + b AS HUGEINT) * (c_ + d) * (a + c_) * (b + d)
               AS significant_95
    FROM c
    """,
)
def evt_ab_test_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with an EXACT chi-square test: cohorts by
    user-id parity, outcome = converted-to-purchase, 2×2 contingency
    counts plus the chi-square statistic as cleared-denominator
    DECIMAL(38) strings (χ² = n·(ad−bc)²/((a+b)(c+d)(a+c)(b+d))) and the
    5%-level verdict via integer cross-multiplication against the 3.841
    critical value — no float anywhere, so the significance decision is
    bit-reproducible.  One user rollup, one 1-row contingency
    aggregation."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select((F.col("user_id") % 2).cast("int").alias("cohort"), "converted")
    cell = lambda co, cv: F.sum(  # noqa: E731
        F.when((F.col("cohort") == co) & (F.col("converted") == cv), 1).otherwise(
            0
        )
    )
    c = u.agg(
        cell(0, 1).cast("long").alias("a"),
        cell(0, 0).cast("long").alias("b"),
        cell(1, 1).cast("long").alias("c"),
        cell(1, 0).cast("long").alias("d"),
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    adbc = dec("a") * dec("d") - dec("b") * dec("c")
    n = dec("a") + dec("b") + dec("c") + dec("d")
    denom = (
        (dec("a") + dec("b"))
        * (dec("c") + dec("d"))
        * (dec("a") + dec("c"))
        * (dec("b") + dec("d"))
    )
    return c.select(
        "a",
        "b",
        "c",
        "d",
        (n * adbc * adbc).cast("string").alias("chisq_numer"),
        denom.cast("string").alias("chisq_denom"),
        (n * adbc * adbc * 1000 > denom * 3841).alias("significant_95"),
    )


_SWEEP_CONFIGS = [(2, 4), (4, 2), (8, 1)]  # (n_bands, rows_per_band), 8 hashes
_SWEEP_BANDS_SQL = " UNION ALL ".join(
    " UNION ALL ".join(
        f"SELECT '{b}x{r}' AS config, doc_id, {band} AS band_id, "
        + " || ".join(f"h{band * r + j}" for j in range(r))
        + " AS bucket FROM sig"
        for band in range(b)
    )
    for b, r in _SWEEP_CONFIGS
)


@_q(
    "doc_lsh_band_sweep",
    f"""
    WITH {_SHINGLE_CTE.strip()},
    sig AS (SELECT doc_id, {_MINHASH_SIG} FROM sh GROUP BY doc_id),
    bands AS ({_SWEEP_BANDS_SQL}),
    cand AS (SELECT DISTINCT a.config, a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.config = b.config AND a.band_id = b.band_id
              AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    dup AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM (SELECT doc_id, md5(text) AS h FROM documents) x
            JOIN (SELECT doc_id, md5(text) AS h FROM documents) y
              ON x.h = y.h AND x.doc_id < y.doc_id)
    , agg AS (
        SELECT config,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN dup.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact_dup_candidates
        FROM cand
        LEFT JOIN dup ON dup.doc_a = cand.doc_a AND dup.doc_b = cand.doc_b
        GROUP BY config)
    SELECT config, n_candidates, n_exact_dup_candidates,
           coalesce(n_candidates >= lag(n_candidates) OVER (
                ORDER BY CAST(string_split(config, 'x')[1] AS INTEGER)),
                TRUE) AS superset_monotone
    FROM agg
    """,
)
def doc_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding hyper-parameter sweep: for (bands × rows) in
    {2×4, 4×2, 8×1} over the SAME 8 minhashes, the candidate-pair
    count and how many candidates are exact duplicates — the
    selectivity-vs-recall curve (P(candidate) = 1−(1−j^r)^b) measured
    on the corpus before committing a config to a 100 TB run.  The
    signature table is built ONCE (lazy localCheckpoint) and re-banded
    per config; candidates come from per-config bucket equi-joins,
    never all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, 3, 8).localCheckpoint(eager=False)
    sweeps = []
    for b, r in _SWEEP_CONFIGS:
        bands = dedup.minhash_band_buckets(
            signatures=sig, n_hashes=8, n_bands=b
        )
        x, y = bands.alias("a"), bands.alias("b")
        sweeps.append(
            x.join(
                y,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.lit(f"{b}x{r}").alias("config"),
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    cand = sweeps[0]
    for s in sweeps[1:]:
        cand = cand.unionByName(s)
    h = docs.select("doc_id", F.md5("text").alias("h"))
    dup = (
        h.alias("x")
        .join(
            h.alias("y"),
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1).alias("is_dup"),
        )
    )
    agg = (
        cand.join(dup, ["doc_a", "doc_b"], "left")
        .groupBy("config")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
            .cast("long")
            .alias("n_exact_dup_candidates"),
        )
    )
    # banding theory ASSERTION: from the same 8 minhashes, a pair that
    # collides in any r-row band collides in every 1-row sub-band, so
    # the candidate sets are strict supersets as bands go 2x4 → 4x2 →
    # 8x1 and the counts must be non-decreasing.  Both engines compute
    # the boolean from their own sweep, so a banding bug (wrong slice
    # bounds, hash drift) hash-fails the driver row instead of bending
    # a curve nobody re-reads.
    wband = Window.orderBy(
        F.split(F.col("config"), "x").getItem(0).cast("int")
    )
    return agg.select(
        "config",
        "n_candidates",
        "n_exact_dup_candidates",
        F.coalesce(
            F.col("n_candidates") >= F.lag("n_candidates").over(wband),
            F.lit(True),
        ).alias("superset_monotone"),
    )


@_q(
    "evt_rolling_corr",
    """
    WITH d AS (SELECT date_diff('day', DATE '2024-01-01',
                                CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
                      sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                          AS x,
                      sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                          END) AS y
               FROM events GROUP BY day),
    r AS (SELECT day, x, y,
                 count(*) OVER w AS n,
                 sum(x) OVER w AS sx, sum(y) OVER w AS sy,
                 sum(x * y) OVER w AS sxy,
                 sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
          FROM d
          WINDOW w AS (ORDER BY day
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n_days,
           CAST(n * sxy - sx * sy AS BIGINT) AS corr_numer,
           CAST(n * sxx - sx * sx AS BIGINT) AS var_x_numer,
           CAST(n * syy - sy * sy AS BIGINT) AS var_y_numer
    FROM r
    """,
)
def evt_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day click↔purchase correlation, exact integer form:
    the windowed sufficient statistics (n·Σxy−ΣxΣy and both variance
    numerators — corr² = numer²/(varx·vary)) over the daily count
    series.  The rolling window runs on the |days|-row rollup, never
    raw events; counts are small ints so everything stays in int64."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "day"
        )
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "x"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    r = d.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    return r.select(
        F.col("day").cast("long").alias("day"),
        F.col("n").cast("long").alias("n_days"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long")
        .alias("corr_numer"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("long")
        .alias("var_x_numer"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("long")
        .alias("var_y_numer"),
    )


@_q(
    "doc_epochs_to_budget",
    """
    WITH s AS (SELECT source,
                      count(*) AS n_docs,
                      sum(len(string_split(text, ' '))) AS ws_tokens
               FROM documents GROUP BY source),
    t AS (SELECT sum(ws_tokens) AS total, count(*) AS n_sources FROM s)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(ws_tokens AS BIGINT) AS ws_tokens,
           CAST((10 * total) // n_sources AS BIGINT) AS draw_tokens,
           CAST(((10 * total) // n_sources) * 1000 // ws_tokens AS BIGINT)
               AS epochs_milli
    FROM s, t
    """,
)
def doc_epochs_to_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained training budget projection: at a 10×-corpus
    token budget drawn UNIFORMLY across sources, how many epochs of
    each source get consumed (epochs > 1000 milli ⇒ that source repeats
    — the data-constrained-scaling regime where repeated tokens decay
    in value).  The sizing arithmetic every mixture plan runs before a
    100 TB training job; corpus totals ride a broadcast 1-row cross
    join."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.hashing import word_tokens as _wt

    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(_wt(F.col("text")))).cast("long").alias("ws_tokens"),
    )
    t = s.agg(
        F.sum("ws_tokens").alias("total"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "ws_tokens",
        F.expr("CAST((10 * total) DIV n_sources AS BIGINT)").alias(
            "draw_tokens"
        ),
        F.expr(
            "CAST(((10 * total) DIV n_sources) * 1000 DIV ws_tokens "
            "AS BIGINT)"
        ).alias("epochs_milli"),
    )


@_q(
    "emb_between_class_scatter",
    f"""
    WITH e AS (SELECT label, {_QUANT_SQL} AS qe FROM embeddings),
    p AS (SELECT label, CAST(t.i AS INTEGER) AS pos,
                 qe[CAST(t.i AS INTEGER)] AS q
          FROM e, unnest(range(1, 65)) AS t(i)),
    g AS (SELECT label, pos, sum(q) AS sq, count(*) AS n
          FROM p GROUP BY label, pos),
    tot AS (SELECT pos, sum(sq) AS tsq, sum(n) AS tn FROM g GROUP BY pos),
    d AS (SELECT label, n,
                 (g.sq // g.n - tot.tsq // tot.tn)
                 * (g.sq // g.n - tot.tsq // tot.tn) AS dsq
          FROM g JOIN tot USING (pos))
    SELECT CAST(label AS INTEGER) AS label,
           CAST(max(n) AS BIGINT) AS n_vecs,
           CAST(sum(dsq) AS BIGINT) AS dist_sq,
           CAST(max(n) * sum(dsq) AS BIGINT) AS weighted_scatter
    FROM d GROUP BY label
    """,
)
def emb_between_class_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Between-class scatter of the embedding space: squared distance of
    each label's centroid from the global centroid (quantized integer
    means, truncating DIV in both engines), n-weighted — the trace of
    the between-class scatter matrix, i.e. "are my labels separated at
    all" measured before training a probe on the embeddings.  Runs
    entirely on the (label × dim) centroid rollup from ONE posexplode
    aggregation; the global centroid derives from the same rollup, no
    second corpus pass."""
    emb = _t(spark, sf_dir, "embeddings")
    g = similarity.group_centroids(emb, "label").select(
        "label", "pos", F.col("sum_q").alias("sq"), F.col("n_vecs").alias("n")
    )
    g = g.localCheckpoint(eager=False)
    tot = g.groupBy("pos").agg(
        F.sum("sq").alias("tsq"), F.sum("n").alias("tn")
    )
    d = g.join(tot, "pos").select(
        "label",
        "n",
        (
            (F.expr("sq DIV n") - F.expr("tsq DIV tn"))
            * (F.expr("sq DIV n") - F.expr("tsq DIV tn"))
        ).alias("dsq"),
    )
    return d.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.sum("dsq").cast("long").alias("dist_sq"),
        (F.max("n") * F.sum("dsq")).cast("long").alias("weighted_scatter"),
    )


@_q(
    "emb_power_iteration_matvec",
    f"""
    WITH e AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    p AS (SELECT CAST(ti.i AS INTEGER) AS i, CAST(tj.j AS INTEGER) AS j,
                 qe[CAST(ti.i AS INTEGER)] * qe[CAST(tj.j AS INTEGER)]
                     AS prod
          FROM e, unnest(range(1, 65)) AS ti(i),
               unnest(range(1, 65)) AS tj(j)),
    g AS (SELECT i, j, sum(prod) AS v FROM p GROUP BY i, j),
    x1 AS (SELECT i AS pos, sum(v) AS x1 FROM g GROUP BY i),
    x2 AS (SELECT g.i AS pos, sum(CAST(g.v AS HUGEINT) * x1.x1) AS x2
           FROM g JOIN x1 ON x1.pos = g.j GROUP BY g.i)
    SELECT x1.pos, CAST(x1.x1 AS BIGINT) AS x1,
           CAST(x2.x2 AS VARCHAR) AS x2
    FROM x1 JOIN x2 ON x2.pos = x1.pos
    """,
)
def emb_power_iteration_matvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled power-iteration matvecs on the exact Gram matrix:
    x1 = G·1, x2 = G·x1 — after two multiplies x2 already points along
    the dominant principal direction (normalize offline; sqrt is not
    engine-portable, the DIRECTION is the exact fact).  Iterative linear
    algebra as join-aggregate plans: G comes from the one-matmul-per-
    Arrow-batch gram_matrix operator (dim² rollup rows, never N·dim²),
    both matvecs run on that 64×64 rollup, x2 in DECIMAL(38) since
    entries pass 2⁶³.  The PCA-without-a-solver building block for
    whitening and spectral diagnostics at corpus scale."""
    emb = _t(spark, sf_dir, "embeddings")
    # barrier on the TRIANGLE, before the mirror union — the union
    # references g twice, and both matvecs reference the union again;
    # without this the Arrow-batch matmul subtree runs 4×
    g = similarity.gram_matrix(emb).localCheckpoint(eager=False)
    full = g.unionByName(
        g.where(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "sum_prod"
        )
    ).localCheckpoint(eager=False)
    x1 = full.groupBy(F.col("i").alias("pos")).agg(
        F.sum("sum_prod").alias("x1")
    )
    x2 = (
        full.join(x1.select(F.col("pos").alias("j"), "x1"), "j")
        .groupBy(F.col("i").alias("pos"))
        .agg(
            F.sum(
                F.col("sum_prod").cast("decimal(38,0)")
                * F.col("x1").cast("decimal(38,0)")
            ).alias("x2")
        )
    )
    return x1.join(x2, "pos").select(
        F.col("pos").cast("int").alias("pos"),
        F.col("x1").cast("long").alias("x1"),
        F.col("x2").cast("string").alias("x2"),
    )


@_q(
    "dq_referential_suite",
    """
    SELECT 'orders.o_custkey->customer' AS rule_name,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
                 (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                 (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                 (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                 (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST((SELECT count(*) FROM customer) AS BIGINT),
           CAST((SELECT count(*) FROM customer c WHERE NOT EXISTS
                 (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT)
    """,
)
def dq_referential_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema referential-integrity suite: every foreign key of
    the star schema audited in one result (operators/profiling.py).
    The pre-ingest gate for a 100 TB warehouse load.  The three
    INDEPENDENT lineitem edges share ONE fact scan
    (check_referential_multi: three broadcast probes over the same
    rows + one aggregate) — probing the fact once per edge would cost
    two extra corpus scans for identical output."""
    from ..operators.profiling import check_referential, check_referential_multi

    li = check_referential_multi(
        _t(spark, sf_dir, "lineitem"),
        [
            (
                "l_orderkey",
                _t(spark, sf_dir, "orders"),
                "o_orderkey",
                "lineitem.l_orderkey->orders",
            ),
            (
                "l_partkey",
                _t(spark, sf_dir, "part"),
                "p_partkey",
                "lineitem.l_partkey->part",
            ),
            (
                "l_suppkey",
                _t(spark, sf_dir, "supplier"),
                "s_suppkey",
                "lineitem.l_suppkey->supplier",
            ),
        ],
    )
    parts = [
        check_referential(
            _t(spark, sf_dir, "orders"),
            "o_custkey",
            _t(spark, sf_dir, "customer"),
            "c_custkey",
            "orders.o_custkey->customer",
        ),
        li,
        check_referential(
            _t(spark, sf_dir, "customer"),
            "c_nationkey",
            _t(spark, sf_dir, "nation"),
            "n_nationkey",
            "customer.c_nationkey->nation",
        ),
    ]
    out = parts[0].select("rule_name", "n_rows", "n_violations")
    for p in parts[1:]:
        out = out.unionByName(p.select("rule_name", "n_rows", "n_violations"))
    return out


@_q(
    "files_partitioned_write_layout",
    """
    SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d')
               AS day,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files
    FROM events GROUP BY day
    """,
)
def files_partitioned_write_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-write layout audit: events written
    ``partitionBy(day)`` after a ``repartition(day)`` — hash
    partitioning routes each day to exactly one task, so each partition
    directory holds EXACTLY one file (the small-files guarantee a naive
    partitioned write of 32 tasks × 30 days = 960 files destroys).  The
    audit reads the result back through partition discovery and counts
    files per partition via the `_metadata` column; the oracle asserts
    both the per-day row counts and the one-file-per-partition claim."""
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    work = tempfile.mkdtemp(prefix="akr-partwrite-")
    try:
        e.repartition(F.col("day")).write.mode("overwrite").partitionBy(
            "day"
        ).parquet(work)
        back = spark.read.parquet(work)
        out = (
            back.select("day", F.col("_metadata.file_path").alias("fp"))
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct("fp").cast("long").alias("n_files"),
            )
        )
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


@_q(
    "evt_timeseries_similarity",
    """
    WITH s AS (SELECT user_id,
                      date_diff('day', DATE '2024-01-01',
                                CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
                      count(*) AS c
               FROM events GROUP BY user_id, day),
    q AS (SELECT min(user_id) AS qid FROM events),
    qs AS (SELECT day, c AS qc FROM s, q WHERE s.user_id = q.qid),
    norms AS (SELECT user_id, sum(c * c) AS norm2 FROM s GROUP BY user_id),
    qnorm AS (SELECT sum(qc * qc) AS qnorm2 FROM qs),
    cross_t AS (SELECT s.user_id, sum(s.c * qs.qc) AS cross_term
                FROM s JOIN qs ON qs.day = s.day GROUP BY s.user_id),
    d AS (SELECT n.user_id,
                 n.norm2 + qn.qnorm2
                     - 2 * coalesce(ct.cross_term, 0) AS dist2
          FROM norms n
          LEFT JOIN cross_t ct ON ct.user_id = n.user_id
          CROSS JOIN qnorm qn, q
          WHERE n.user_id <> q.qid),
    r AS (SELECT user_id, dist2,
                 row_number() OVER (ORDER BY dist2, user_id) AS rank
          FROM d)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(dist2 AS BIGINT) AS dist2,
           CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 10
    """,
)
def evt_timeseries_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity time-series similarity search: the 10 users whose daily
    event-count profile is closest (squared Euclidean) to the min-id
    query user — cohort matching / look-alike audiences over behavioral
    series.  SPARSE formulation: ‖u−q‖² = ‖u‖² + ‖q‖² − 2·u·q, so the
    only join is the cross term keyed on day (≤ |days| keys, never a
    dense |users|×|days| pivot) and users sharing no active day with the
    query still get exact distances via the LEFT join.  Integer counts
    end-to-end; top-k over the |users|-row distance rollup."""
    e = _t(spark, sf_dir, "events")
    s = e.groupBy(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).alias("c"))
    s = s.localCheckpoint(eager=False)
    q = s.groupBy().agg(F.min("user_id").alias("qid"))
    qs = s.crossJoin(F.broadcast(q)).where(
        F.col("user_id") == F.col("qid")
    ).select("day", F.col("c").alias("qc"))
    norms = s.groupBy("user_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("norm2")
    )
    qnorm = qs.agg(F.sum(F.col("qc") * F.col("qc")).alias("qnorm2"))
    cross_t = (
        s.join(F.broadcast(qs), "day")
        .groupBy("user_id")
        .agg(F.sum(F.col("c") * F.col("qc")).alias("cross_term"))
    )
    d = (
        norms.join(cross_t, "user_id", "left")
        .crossJoin(F.broadcast(qnorm))
        .crossJoin(F.broadcast(q))
        .where(F.col("user_id") != F.col("qid"))
        .select(
            "user_id",
            (
                F.col("norm2")
                + F.col("qnorm2")
                - 2 * F.coalesce(F.col("cross_term"), F.lit(0))
            ).alias("dist2"),
        )
    )
    # top-k FIRST (TakeOrderedAndProject — per-partition partial top-10,
    # no single-partition sort of the |users|-row distance rollup), then
    # rank only the 10 bounded survivors
    top = d.orderBy("dist2", "user_id").limit(10)
    return top.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("dist2").cast("long").alias("dist2"),
        F.row_number()
        .over(Window.orderBy("dist2", "user_id"))
        .cast("long")
        .alias("rank"),
    )


@_q(
    "emb_incremental_topk_maintenance",
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, {_QUANT_SQL} AS qe
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    c AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    s AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, len(q.qe) + 1),
                                            i -> q.qe[i] * c.qe[i]))
                    AS BIGINT) AS dot_q
        FROM q, c WHERE c.vec_id <> q.query_id
    ),
    r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY dot_q DESC, neighbor_id ASC) AS INTEGER)
                        AS rank
          FROM s)
    SELECT query_id, neighbor_id, dot_q, rank FROM r WHERE rank <= 10
    """,
)
def emb_incremental_topk_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (IVM for similarity search): the
    corpus arrives as a BASE half plus a DELTA batch; each side's exact
    top-10 is computed independently, and the merged answer re-ranks
    only the ≤ 2k kept candidates per query — the maintenance identity
    topk(A ∪ B) = topk(topk(A) ∪ topk(B)) for exact scores, so the
    base's per-query top-10 is the ONLY state a growing index needs (no
    corpus rescan when a delta lands).  The oracle recomputes from the
    full corpus, proving the incremental merge reproduces the
    from-scratch answer bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    mid = emb.agg(
        F.expr("percentile_approx(vec_id, 0.5, 1000000)").alias("m")
    )
    base = emb.crossJoin(F.broadcast(mid)).where(
        F.col("vec_id") <= F.col("m")
    ).select(*emb.columns)
    delta = emb.crossJoin(F.broadcast(mid)).where(
        F.col("vec_id") > F.col("m")
    ).select(*emb.columns)
    tk_base = similarity.brute_force_topk(base, queries, k=10)
    tk_delta = similarity.brute_force_topk(delta, queries, k=10)
    merged = tk_base.unionByName(tk_delta).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        merged.select("query_id", "neighbor_id", "dot_q")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
    )


@_q(
    "evt_survival_risk_table",
    """
    WITH u AS (SELECT user_id,
                      max(date_diff('day', DATE '2024-01-01',
                                    CAST(CAST(ts AS TIMESTAMP) AS DATE)))
                          AS last_day
               FROM events GROUP BY user_id),
    t AS (SELECT CAST(i.i AS INTEGER) AS day
          FROM unnest(range(0, 30)) AS i(i)),
    r AS (SELECT t.day,
                 (SELECT count(*) FROM u WHERE u.last_day >= t.day)
                     AS n_at_risk,
                 (SELECT count(*) FROM u
                  WHERE u.last_day = t.day AND t.day < 29) AS n_churned
          FROM t)
    SELECT CAST(day AS INTEGER) AS day,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(n_churned AS BIGINT) AS n_churned
    FROM r WHERE n_at_risk > 0
    """,
)
def evt_survival_risk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival-analysis risk table (the exact-integer input to a
    Kaplan-Meier curve): per day, users still at risk (last activity on
    or after the day) and users whose last-ever activity falls on the
    day (churn events; the final observation day is censored, not
    churn).  S(t) = Π(1 − dᵢ/nᵢ) is a float product, so the ENGINE
    emits the exact (nᵢ, dᵢ) table and the caller multiplies at
    whatever precision it wants.  One user rollup + a broadcast join
    against the 30-row day spine with a ≥ predicate — at 100 TB the
    spine side stays tiny, so the 'correlated count' shape is a
    broadcast range probe, not a subquery per row."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        ).alias("last_day")
    )
    days = spark.range(0, 30).select(F.col("id").cast("int").alias("day"))
    r = (
        u.join(F.broadcast(days), F.col("last_day") >= F.col("day"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_at_risk"),
            F.sum(
                F.when(
                    (F.col("last_day") == F.col("day")) & (F.col("day") < 29),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_churned"),
        )
    )
    return r.select(F.col("day").cast("int").alias("day"), "n_at_risk", "n_churned")


@_q(
    "dq_distribution_drift",
    """
    WITH b AS (SELECT event_type,
                      CASE WHEN CAST(ts AS TIMESTAMP)
                                < TIMESTAMP '2024-01-16 00:00:00'
                           THEN 1 ELSE 2 END AS half,
                      least(CAST(floor(value / 10) AS INTEGER), 9) AS bin
               FROM events),
    c AS (SELECT event_type, bin,
                 sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1,
                 sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS c2
          FROM b GROUP BY event_type, bin),
    n AS (SELECT event_type, sum(c1) AS n1, sum(c2) AS n2 FROM c
          GROUP BY event_type)
    SELECT c.event_type,
           CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
           CAST(sum(abs(c.c1 * n.n2 - c.c2 * n.n1)) AS BIGINT)
               AS tvd_numer,
           CAST(sum(abs(c.c1 * n.n2 - c.c2 * n.n1)) * 1000
                // (2 * n.n1 * n.n2) AS BIGINT) AS tvd_milli
    FROM c JOIN n ON n.event_type = c.event_type
    GROUP BY c.event_type, n.n1, n.n2
    """,
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: total variation distance between the
    first and second half-month's value histograms, per event type —
    the input-drift alarm run before retraining or trusting a model in
    production.  Exact integer form: TV = ½Σ|p−q| cross-multiplies to
    Σ|c1·n2 − c2·n1| / (2·n1·n2), so the drift score is
    bit-reproducible.  One scan builds both halves' histograms
    (conditional sums, map-side combined); the final join is on the
    |event_types|-row margins rollup."""
    e = _t(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 1
        )
        .otherwise(2)
        .alias("half"),
        F.least(
            F.floor(F.col("value") / 10).cast("int"), F.lit(9)
        ).alias("bin"),
    )
    c = b.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0)).alias("c2"),
    )
    n = c.groupBy("event_type").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    return (
        c.join(n, "event_type")
        .groupBy("event_type", "n1", "n2")
        .agg(
            F.sum(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            ).alias("_tv")
        )
        .select(
            "event_type",
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.col("_tv").cast("long").alias("tvd_numer"),
            F.expr("CAST(_tv * 1000 DIV (2 * n1 * n2) AS BIGINT)").alias(
                "tvd_milli"
            ),
        )
    )


@_q(
    "udtf_table_arg_user_summary",
    """
    WITH e AS (SELECT user_id, event_type,
                      row_number() OVER w AS rn,
                      count(*) OVER (PARTITION BY user_id) AS n
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
           max(CASE WHEN rn = 1 THEN event_type END) AS first_type,
           max(CASE WHEN rn = n THEN event_type END) AS last_type
    FROM e GROUP BY user_id
    """,
)
def udtf_table_arg_user_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE-argument UDTF (operators/udfs.py:UserSummaryUDTF): the SQL
    polymorphic-table-function surface — ``PARTITION BY user_id ORDER BY
    ts, event_id`` routes each user's ordered rows through one UDTF
    instance, terminate() emits the summary.  Oracle = the JVM
    window+aggregate formulation of the same output, which doubles as
    the documented production path."""
    from pyspark.sql.functions import udtf

    from ..operators.udfs import UserSummaryUDTF

    spark.udtf.register(
        "user_summary_udtf",
        udtf(
            UserSummaryUDTF,
            returnType="user_id bigint, n_events bigint, "
            "first_type string, last_type string",
        ),
    )
    _t(spark, sf_dir, "events").createOrReplaceTempView("_evt_udtf_ta")
    return spark.sql(
        "SELECT * FROM user_summary_udtf("
        "TABLE(SELECT user_id, event_type, ts, event_id FROM _evt_udtf_ta) "
        "PARTITION BY user_id ORDER BY (ts, event_id))"
    )


@_q(
    "pipeline_event_analytics",
    """
    WITH e AS (SELECT user_id, event_id, event_type,
                      CAST(ts AS TIMESTAMP) AS ts FROM events),
    f AS (SELECT user_id, event_id, event_type, ts,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                           > 30 * 60 * 1000000
                      THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, event_type, ts,
                 sum(new_session) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS seq
          FROM f),
    sess AS (SELECT user_id, seq,
                    min(ts) AS start_ts,
                    count(*) AS n_events,
                    CAST((epoch_us(max(ts)) - epoch_us(min(ts)))
                         // 1000000 AS BIGINT) AS dur_secs,
                    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS converted
             FROM s GROUP BY user_id, seq)
    SELECT strftime(date_trunc('day', start_ts), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS bounce_bp,
           CAST(sum(converted) * 10000 // count(*) AS BIGINT)
               AS conversion_bp,
           CAST(sum(dur_secs) AS BIGINT) AS total_session_secs
    FROM sess GROUP BY day
    """,
)
def pipeline_event_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed event-analytics pipeline — the events-side flagship
    mirroring the corpus-curation pipelines: sessionize (30-min gaps) →
    per-session rollup (length, duration, conversion) → daily KPI board
    (sessions, bounce rate, conversion rate, engaged time) in ONE plan.
    The session rollup is computed once and feeds every KPI; both
    window passes and the rollup share the user_id shuffle key, so the
    whole pipeline is two shuffles (user, then day) regardless of KPI
    count — integer basis-point rates throughout."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    f = e.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.when(
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
            > 30 * 60 * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    ).withColumn(
        "seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sess = f.groupBy("user_id", "seq").agg(
        F.min("ts").alias("start_ts"),
        F.count(F.lit(1)).alias("n_events"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1_000_000)
        )
        .cast("long")
        .alias("dur_secs"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return sess.groupBy(
        F.date_format(F.date_trunc("day", "start_ts"), "yyyy-MM-dd").alias(
            "day"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.expr(
            "CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000 "
            "DIV count(1) AS BIGINT)"
        ).alias("bounce_bp"),
        F.expr(
            "CAST(sum(converted) * 10000 DIV count(1) AS BIGINT)"
        ).alias("conversion_bp"),
        F.sum("dur_secs").cast("long").alias("total_session_secs"),
    )


@_q(
    "text_typo_variant_pairs",
    """
    WITH w AS (SELECT word, count(*) AS n FROM (
                   SELECT unnest(string_split(text, ' ')) AS word
                   FROM documents) WHERE length(word) >= 3
               GROUP BY word),
    a AS (SELECT word, n, length(word) + CAST(t.d AS INTEGER) AS tgt
          FROM w, unnest(range(-2, 3)) AS t(d)),
    p AS (SELECT a.word AS word_a, c.word AS word_b,
                 a.n AS n_a, c.n AS n_b,
                 levenshtein(a.word, c.word) AS dist
          FROM a JOIN w c
            ON a.tgt = length(c.word) AND a.word < c.word)
    SELECT word_a, word_b, CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(dist AS INTEGER) AS dist
    FROM p WHERE dist <= 2
    """,
)
def text_typo_variant_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spelling-variant / typo pair detection over the corpus
    vocabulary: words (len ≥ 3) within Levenshtein distance 2, candidate
    pairs generated by LENGTH-DIFFERENCE BLOCKING — |len(a)−len(b)| ≤ d
    is a true lower bound on edit distance, so unlike prefix blocking
    this loses ZERO recall while cutting the all-pairs product to
    same-length-band bands (the entity-resolution blocking pattern
    applied to vocab normalization; at real vocab scale add a character
    n-gram count filter as a second sound lower bound).  Each unordered
    pair joins exactly once: the lexicographically smaller word fans out
    to its ±2 length band and probes the other side by exact length."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.hashing import word_tokens as _wt
    from ..operators.util import spread as _spread

    w = (
        _spread(d)
        .select(F.explode(_wt(F.col("text"))).alias("word"))
        .where(F.length("word") >= 3)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    a = w.select(
        "word",
        "n",
        F.explode(
            F.sequence(F.length("word") - 2, F.length("word") + 2)
        ).alias("tgt"),
    )
    c = w.select(
        F.col("word").alias("word_b"),
        F.col("n").alias("n_b"),
        F.length("word").alias("blen"),
    )
    return (
        a.join(
            c,
            (F.col("tgt") == F.col("blen"))
            & (F.col("word") < F.col("word_b")),
        )
        .withColumn("dist", F.levenshtein(F.col("word"), F.col("word_b")))
        .where(F.col("dist") <= 2)
        .select(
            F.col("word").alias("word_a"),
            "word_b",
            F.col("n").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


@_q(
    "fn_str_to_map_suite",
    """
    SELECT doc_id,
           lang AS kv_lang,
           source AS kv_source,
           CAST(n_chars AS BIGINT) AS kv_chars,
           CAST(3 AS INTEGER) AS n_keys
    FROM documents
    """,
)
def fn_str_to_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited key-value log parsing: a synthesized
    ``lang=..&source=..&chars=..`` string is torn apart with
    ``str_to_map`` (the log/qs-parsing workhorse that avoids three
    regexes and three scans) and the extracted values must round-trip
    to the source columns exactly — the oracle reconstructs them
    directly, so any parse divergence hash-fails.  Pure JVM per-row
    expressions; map_keys size proves no key is silently dropped."""
    d = _t(spark, sf_dir, "documents")
    m = F.expr(
        "str_to_map(concat('lang=', lang, '&source=', source, "
        "'&chars=', CAST(n_chars AS STRING)), '&', '=')"
    )
    return d.select(
        "doc_id",
        m.getItem("lang").alias("kv_lang"),
        m.getItem("source").alias("kv_source"),
        m.getItem("chars").cast("long").alias("kv_chars"),
        F.size(F.map_keys(m)).cast("int").alias("n_keys"),
    )


@_q(
    "evt_channel_ltv",
    """
    WITH u AS (SELECT user_id,
                      min({'ts': CAST(ts AS TIMESTAMP), 'eid': event_id,
                           'etype': event_type}) AS first_evt,
                      sum(CASE WHEN event_type = 'purchase'
                               THEN CAST(floor(value * 100) AS BIGINT)
                               ELSE 0 END) AS ltv_c
               FROM events GROUP BY user_id),
    f AS (SELECT user_id, first_evt.etype AS channel, ltv_c FROM u)
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(ltv_c) AS BIGINT) AS total_ltv_cents,
           CAST(sum(ltv_c) // count(*) AS BIGINT) AS avg_ltv_cents
    FROM f GROUP BY channel
    """,
)
def evt_channel_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime value by acquisition channel: each user's FIRST-ever
    event type (deterministic struct-min over (ts, event_id)) is the
    channel; LTV = total purchase cents — the marketing query that
    decides channel spend.  ONE user rollup computes both the first
    touch and the LTV (conditional sum), so the fact table is scanned
    once; the channel aggregate runs on the |users| rollup."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min(
            F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
        ).alias("first_evt"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.expr("CAST(floor(value * 100) AS BIGINT)"),
            ).otherwise(0)
        ).alias("ltv_c"),
    )
    f = u.select(F.col("first_evt.event_type").alias("channel"), "ltv_c")
    return f.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("ltv_c").cast("long").alias("total_ltv_cents"),
        F.expr("CAST(sum(ltv_c) DIV count(1) AS BIGINT)").alias(
            "avg_ltv_cents"
        ),
    )


@_q(
    "evt_path_to_purchase_length",
    """
    WITH fp AS (SELECT user_id,
                       min(ROW(CAST(ts AS TIMESTAMP), event_id)) AS first_p
                FROM events WHERE event_type = 'purchase'
                GROUP BY user_id),
    n AS (SELECT e.user_id, count(*) AS path_len
          FROM events e JOIN fp ON fp.user_id = e.user_id
          WHERE ROW(CAST(e.ts AS TIMESTAMP), e.event_id) < fp.first_p
          GROUP BY e.user_id)
    SELECT CAST(path_len AS BIGINT) AS path_len,
           CAST(count(*) AS BIGINT) AS n_users
    FROM n GROUP BY path_len
    """,
)
def evt_path_to_purchase_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-to-purchase length distribution: events each user generates
    strictly BEFORE their first purchase, histogrammed — how much
    consideration precedes conversion.  First purchase is a struct-min
    per user (deterministic (ts, event_id) order); the before-count
    joins that |purchasers|-row rollup back onto the fact scan with a
    tuple comparison — no window pass over raw events.  The join is
    deliberately UNHINTED: |purchasers| grows with |users|, so a forced
    broadcast is a driver OOM at 100×; both sides hash-partition on
    user_id and AQE picks broadcast only when the rollup is actually
    small."""
    e = _t(spark, sf_dir, "events")
    fp = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct(F.col("ts"), F.col("event_id"))).alias("first_p"))
    )
    n = (
        e.join(fp, "user_id")
        .where(
            F.struct(F.col("ts"), F.col("event_id")) < F.col("first_p")
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("path_len"))
    )
    return n.groupBy(F.col("path_len").cast("long").alias("path_len")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


@_q(
    "emb_filtered_ann_topk",
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS q_label, {_QUANT_SQL} AS qe
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    c AS (SELECT vec_id, label, {_QUANT_SQL} AS qe FROM embeddings),
    s AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, len(q.qe) + 1),
                                            i -> q.qe[i] * c.qe[i]))
                    AS BIGINT) AS dot_q
        FROM q JOIN c ON c.label = q.q_label AND c.vec_id <> q.query_id
    ),
    r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY dot_q DESC, neighbor_id ASC) AS INTEGER)
                        AS rank
          FROM s)
    SELECT query_id, neighbor_id, dot_q, rank FROM r WHERE rank <= 5
    """,
)
def emb_filtered_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: top-5 neighbors restricted to vectors
    sharing the query's label — the metadata-predicate-plus-ANN shape
    every production vector store must answer.  This is the PRE-filter
    formulation (predicate applied before scoring, exact top-k among
    survivors); the post-filter alternative (score first, filter the
    top-k) silently returns < k rows when the predicate is selective —
    the classic filtered-ANN bug this query's semantics pin down.  The
    label predicate joins before any dot product, so scoring cost is
    |Q|·|matching partition|, and at scale the label becomes the IVF
    partition key so the filter prunes cells."""
    emb = _t(spark, sf_dir, "embeddings")
    from ..functions.vectors import quantize_embedding

    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        quantize_embedding(F.col("embedding")).alias("q_qe"),
    )
    c = emb.select(
        "vec_id", "label", quantize_embedding(F.col("embedding")).alias("qe")
    )
    from ..operators.similarity import dot_q as _dq

    s = (
        c.join(
            F.broadcast(q),
            (F.col("label") == F.col("q_label"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _dq(F.col("q_qe"), F.col("qe")).alias("dot_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        s.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "dot_q", "rank")
    )


@_q(
    "evt_seasonal_naive_backtest",
    """
    WITH d AS (SELECT event_type,
                      date_diff('day', DATE '2024-01-01',
                                CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
                      count(*) AS c
               FROM events GROUP BY event_type, day),
    j AS (SELECT a.event_type, a.day, a.c AS actual, p.c AS predicted
          FROM d a JOIN d p
            ON p.event_type = a.event_type AND p.day = a.day - 7
          WHERE a.day >= 16)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs(actual - predicted)) AS BIGINT) AS mae_numer,
           CAST(sum(actual) AS BIGINT) AS actual_total,
           CAST(sum(abs(actual - predicted)) * 10000 // sum(actual)
                AS BIGINT) AS wape_bp
    FROM j GROUP BY event_type
    """,
)
def evt_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest harness on the seasonal-naive baseline
    (predict day d with day d−7): per event type, exact integer MAE
    numerator and WAPE basis points over the final two weeks — the
    sanity bar every fancier forecaster must beat, and the backtest
    join shape (series self-join at lag k) any model evaluation reuses.
    Runs entirely on the (type × day) rollup; the lag join is an
    equi-join on (type, day−7), not a window, so backtesting horizon
    h costs h equi-joins of rollup-sized inputs at any corpus scale."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).alias("c"))
    d = d.localCheckpoint(eager=False)
    a = d.select("event_type", "day", F.col("c").alias("actual"))
    p = d.select(
        "event_type",
        (F.col("day") + 7).alias("day"),
        F.col("c").alias("predicted"),
    )
    j = a.join(p, ["event_type", "day"]).where(F.col("day") >= 16)
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.abs(F.col("actual") - F.col("predicted")))
        .cast("long")
        .alias("mae_numer"),
        F.sum("actual").cast("long").alias("actual_total"),
        F.expr(
            "CAST(sum(abs(actual - predicted)) * 10000 DIV sum(actual) "
            "AS BIGINT)"
        ).alias("wape_bp"),
    )


@_q(
    "kr_ops_dashboard",
    f"""
    WITH {_GATED_CTE.strip()}
    SELECT streamName,
           CAST(count(*) AS BIGINT) AS n_replicated,
           max(commitTimestamp) AS last_commit_ts,
           CAST(count(DISTINCT partitionKey) AS BIGINT) AS n_partition_keys,
           CAST(epoch_us(max(arrival)) - epoch_us(min(arrival)) AS BIGINT)
               AS arrival_span_us,
           min(sequenceNumber) AS first_seq,
           max(sequenceNumber) AS last_seq
    FROM gated GROUP BY streamName
    """,
)
def kr_ops_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication operations dashboard: the kr_* surface composed into
    the one per-stream status row an operator actually watches —
    replicated count, checkpoint value (max commit ts), partition-key
    fan-out, arrival span, and the sequence-number range that brackets
    the replicated prefix (Handler.java ops 2-8+10 as observability).
    One aggregation over the gated stream; every column is either the
    checkpoint rule itself or a distinct-count/extreme that merges
    map-side."""
    g = _gated(spark, sf_dir)
    return g.groupBy("streamName").agg(
        F.count(F.lit(1)).cast("long").alias("n_replicated"),
        F.max("commitTimestamp").alias("last_commit_ts"),
        F.countDistinct("partitionKey").cast("long").alias("n_partition_keys"),
        (
            F.unix_micros(F.max("approximateArrivalTimestamp"))
            - F.unix_micros(F.min("approximateArrivalTimestamp"))
        )
        .cast("long")
        .alias("arrival_span_us"),
        F.min("sequenceNumber").alias("first_seq"),
        F.max("sequenceNumber").alias("last_seq"),
    )


@_q(
    "doc_winnowing_fingerprints",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    sh AS (SELECT doc_id, CAST(i.i AS INTEGER) AS pos,
                  md5(t[CAST(i.i AS INTEGER)] || ' '
                      || t[CAST(i.i AS INTEGER) + 1] || ' '
                      || t[CAST(i.i AS INTEGER) + 2]) AS h
           FROM toks, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i(i)),
    w AS (SELECT doc_id, pos, h,
                 min({{'h': h, 'pos': pos}}) OVER (
                     PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
          FROM sh),
    f AS (SELECT DISTINCT doc_id, sel.h AS fp, sel.pos AS fp_pos
          FROM w
          WHERE pos + 3 <= (SELECT max(pos) FROM sh s2
                            WHERE s2.doc_id = w.doc_id))
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
           min(fp) AS min_fp
    FROM f GROUP BY doc_id
    """,
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE winnowing fingerprints (Schleimer-Wilkerson-Aiken, the MOSS
    algorithm): per document, every window of 4 consecutive 3-gram
    hashes selects its minimum (ties → leftmost position), and the
    distinct selected (hash, pos) set is the fingerprint — guaranteed
    to catch any shared run ≥ window+k−1 tokens, with ~2/(w+1) density
    instead of all shingles.  One codegen'd window pass over the
    per-doc shingle stream (ROWS frame, bounded lookahead); only FULL
    windows select, matching the canonical definition.  The per-doc
    max position is a second frame (unbounded ROWS max) over the SAME
    (doc_id, pos) window partitioning, so Catalyst fuses it into the
    one WindowExec — no per-doc rollup join at all (a |docs|-sized
    broadcast would be a driver OOM at scale).  The per-doc
    fingerprint COUNT and min hash are the checked output — compact but
    sensitive to any selection divergence."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.hashing import shingles_of_tokens, word_tokens

    sh = (
        spread(d)
        .select("doc_id", word_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.posexplode(shingles_of_tokens(F.col("toks"), 3)).alias(
                "pos0", "shingle"
            ),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.md5("shingle").alias("h"),
        )
    )
    wspec = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    )
    wall = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w = sh.select(
        "doc_id",
        "pos",
        F.min(F.struct(F.col("h").alias("h"), F.col("pos").alias("pos")))
        .over(wspec)
        .alias("sel"),
        F.max("pos").over(wall).alias("max_pos"),
    )
    f = (
        w.where(F.col("pos") + 3 <= F.col("max_pos"))
        .select("doc_id", F.col("sel.h").alias("fp"), F.col("sel.pos"))
        .distinct()
    )
    return f.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
    )


@_q(
    "evt_transition_conformance",
    """
    WITH allowed(prev_t, next_t) AS (VALUES
        ('signup', 'click'), ('click', 'view'), ('view', 'view'),
        ('view', 'click'), ('click', 'click'), ('view', 'purchase'),
        ('click', 'purchase'), ('purchase', 'click'),
        ('purchase', 'view')),
    t AS (SELECT user_id, event_type AS next_t,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_t
          FROM events),
    j AS (SELECT t.prev_t, t.next_t,
                 CASE WHEN a.prev_t IS NULL THEN 0 ELSE 1 END AS ok
          FROM t LEFT JOIN allowed a
            ON a.prev_t = t.prev_t AND a.next_t = t.next_t
          WHERE t.prev_t IS NOT NULL)
    SELECT prev_t, next_t,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(max(ok) AS INTEGER) AS is_allowed
    FROM j GROUP BY prev_t, next_t
    """,
)
def evt_transition_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-mining conformance check: observed per-user event
    transitions audited against an allowed-transition model (broadcast
    VALUES relation), every (prev, next) pair counted and flagged — the
    state-machine validation run on instrumentation data to find
    impossible flows (errors firing before signup, purchases from
    nowhere).  One lag window per user + a broadcast left join against
    the model."""
    e = _t(spark, sf_dir, "events")
    allowed = spark.sql(
        "SELECT * FROM VALUES "
        "('signup','click'), ('click','view'), ('view','view'), "
        "('view','click'), ('click','click'), ('view','purchase'), "
        "('click','purchase'), ('purchase','click'), ('purchase','view') "
        "AS a(prev_t, next_t)"
    ).withColumn("ok", F.lit(1))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        F.lag("event_type").over(w).alias("prev_t"),
        F.col("event_type").alias("next_t"),
    ).where(F.col("prev_t").isNotNull())
    return (
        t.join(F.broadcast(allowed), ["prev_t", "next_t"], "left")
        .groupBy("prev_t", "next_t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.max(F.coalesce(F.col("ok"), F.lit(0)))
            .cast("int")
            .alias("is_allowed"),
        )
    )


@_q(
    "doc_winnowing_overlap_pairs",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    sh AS (SELECT doc_id, CAST(i.i AS INTEGER) AS pos,
                  md5(t[CAST(i.i AS INTEGER)] || ' '
                      || t[CAST(i.i AS INTEGER) + 1] || ' '
                      || t[CAST(i.i AS INTEGER) + 2]) AS h
           FROM toks, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i(i)),
    w AS (SELECT doc_id, pos,
                 min({{'h': h, 'pos': pos}}) OVER (
                     PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
          FROM sh),
    f AS (SELECT DISTINCT doc_id, sel.h AS fp
          FROM w
          WHERE pos + 3 <= (SELECT max(pos) FROM sh s2
                            WHERE s2.doc_id = w.doc_id)),
    hot AS (SELECT fp FROM f GROUP BY fp HAVING count(*) > 50),
    fc AS (SELECT * FROM f WHERE fp NOT IN (SELECT fp FROM hot))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_fps
    FROM fc a JOIN fc b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 3
    """,
)
def doc_winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS pipeline completed: winnowed fingerprints inverted into
    an index, documents paired by shared-fingerprint count (≥ 3) — the
    plagiarism/mirror-detection query, at winnowed density instead of
    full-shingle cost.  Hot fingerprints (boilerplate selected by > 50
    docs) are dropped before the self-join, the same DF-cap skew guard
    as ngram_jaccard_pairs; candidate generation is a fingerprint
    equi-join, never all-pairs.  The full-window validity test uses a
    fused second frame (unbounded ROWS max(pos)) in the same WindowExec
    rather than a per-doc rollup join — a |docs|-sized broadcast build
    would OOM the driver at scale."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.hashing import shingles_of_tokens, word_tokens

    sh = (
        spread(d)
        .select("doc_id", word_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.posexplode(shingles_of_tokens(F.col("toks"), 3)).alias(
                "pos0", "shingle"
            ),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.md5("shingle").alias("h"),
        )
    )
    wspec = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    wall = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    f = (
        sh.select(
            "doc_id",
            "pos",
            F.min(
                F.struct(F.col("h").alias("h"), F.col("pos").alias("pos"))
            )
            .over(wspec)
            .alias("sel"),
            F.max("pos").over(wall).alias("max_pos"),
        )
        .where(F.col("pos") + 3 <= F.col("max_pos"))
        .select("doc_id", F.col("sel.h").alias("fp"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hot = f.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") > 50
    )
    fc = f.join(hot.select("fp"), "fp", "left_anti")
    a, b = fc.alias("a"), fc.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
        .where(F.col("n_shared_fps") >= 3)
    )


@_q(
    "emb_centroid_distance_profile",
    f"""
    WITH e AS (SELECT vec_id, label, {_QUANT_SQL} AS qe FROM embeddings),
    p AS (SELECT label, CAST(t.i AS INTEGER) AS pos,
                 qe[CAST(t.i AS INTEGER)] AS q, vec_id
          FROM e, unnest(range(1, 65)) AS t(i)),
    c AS (SELECT label, pos, sum(q) // count(*) AS m FROM p
          GROUP BY label, pos),
    d AS (SELECT p.vec_id, p.label,
                 sum((p.q - c.m) * (p.q - c.m)) AS dist2
          FROM p JOIN c ON c.label = p.label AND c.pos = p.pos
          GROUP BY p.vec_id, p.label),
    r AS (SELECT label, dist2,
                 row_number() OVER (PARTITION BY label
                                    ORDER BY dist2, vec_id) AS rn,
                 count(*) OVER (PARTITION BY label) AS n
          FROM d)
    SELECT label,
           CAST(max(n) AS BIGINT) AS n_vecs,
           CAST(max(CASE WHEN rn = ((n - 1) // 2) + 1 THEN dist2 END)
                AS BIGINT) AS p50_dist2,
           CAST(max(CASE WHEN rn = ((19 * (n - 1)) // 20) + 1 THEN dist2
                    END) AS BIGINT) AS p95_dist2,
           CAST(max(dist2) AS BIGINT) AS max_dist2
    FROM r GROUP BY label
    """,
)
def emb_centroid_distance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class compactness profile: exact p50/p95/max squared distance
    of each label's members to their own (integer-mean) centroid — the
    calibration table behind centroid-distance OOD scoring ("flag
    vectors beyond the class's p95").  Centroids come from one
    (label × dim) rollup; per-vector distances from a broadcast join of
    that rollup back onto the exploded components; percentiles by exact
    rank selection, deterministic ties on vec_id."""
    emb = _t(spark, sf_dir, "embeddings")
    from ..functions.vectors import quantize_embedding

    p = emb.select(
        "vec_id",
        "label",
        F.posexplode(quantize_embedding(F.col("embedding"))).alias(
            "pos0", "q"
        ),
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "q")
    p = p.localCheckpoint(eager=False)
    c = p.groupBy("label", "pos").agg(
        F.expr("sum(q) DIV count(1)").alias("m")
    )
    d = (
        p.join(F.broadcast(c), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("q") - F.col("m")) * (F.col("q") - F.col("m"))).alias(
                "dist2"
            )
        )
    )
    w = Window.partitionBy("label").orderBy("dist2", "vec_id")
    r = d.select(
        "label",
        "dist2",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias("n"),
    )
    pick = lambda idx: F.max(  # noqa: E731
        F.when(F.col("rn") == F.expr(idx), F.col("dist2"))
    )
    return r.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        pick("((n - 1) DIV 2) + 1").cast("long").alias("p50_dist2"),
        pick("((19 * (n - 1)) DIV 20) + 1").cast("long").alias("p95_dist2"),
        F.max("dist2").cast("long").alias("max_dist2"),
    )


@_q(
    "evt_interarrival_profile",
    """
    WITH t AS (SELECT event_type,
                      epoch_us(CAST(ts AS TIMESTAMP))
                        - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                            PARTITION BY event_type
                            ORDER BY ts, event_id) AS gap_us
               FROM events),
    g AS (SELECT event_type,
                 CAST(floor(log2(greatest(gap_us // 1000, 1)))
                      AS INTEGER) AS gap_bucket_log2ms
          FROM t WHERE gap_us IS NOT NULL)
    SELECT event_type, gap_bucket_log2ms,
           CAST(count(*) AS BIGINT) AS n_gaps
    FROM g GROUP BY event_type, gap_bucket_log2ms
    """,
)
def evt_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type, log2-millisecond
    octaves — the point-process burstiness profile (a Poisson stream is
    geometric across octaves; heavy spikes at low octaves mean bursts,
    the thing that sizes stream buffers and micro-batch triggers).  One
    lag window per type over the time-ordered stream + a map-side-
    combined histogram; floor(log2(int)) is exact IEEE in both
    engines."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = e.select(
        "event_type",
        (
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    g = t.select(
        "event_type",
        F.floor(
            F.log2(F.greatest(F.expr("gap_us DIV 1000"), F.lit(1)))
        )
        .cast("int")
        .alias("gap_bucket_log2ms"),
    )
    return g.groupBy("event_type", "gap_bucket_log2ms").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps")
    )


@_q(
    "tpch_supplier_scorecard",
    """
    WITH li AS (SELECT l.l_suppkey, l.l_partkey,
                       CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                  * 100) AS BIGINT) AS rev_c,
                       CASE WHEN CAST(l.l_shipdate AS TIMESTAMP)
                                 <= CAST(o.o_orderdate AS TIMESTAMP)
                                    + INTERVAL 30 DAY
                            THEN 1 ELSE 0 END AS on_time,
                       l.l_orderkey
                FROM lineitem l JOIN orders o
                  ON o.o_orderkey = l.l_orderkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(count(DISTINCT li.l_orderkey) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT li.l_partkey) AS BIGINT) AS n_parts,
           CAST(sum(li.rev_c) AS BIGINT) AS revenue_cents,
           CAST(sum(li.on_time) * 10000 // count(*) AS BIGINT)
               AS on_time_bp
    FROM li JOIN supplier s ON s.s_suppkey = li.l_suppkey
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def tpch_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier scorecard: discounted revenue, order/part fan-out, and a
    30-day ship-latency on-time rate per supplier — the vendor-review
    composite.  Decomposed around two measured Catalyst facts: (1)
    mixing MULTIPLE count(DISTINCT) columns in one aggregation forces
    the expand rewrite (3× rows through the shuffle; Spark plans a
    SINGLE distinct without Expand), and (2) of the five metrics only
    on_time needs the orders join — revenue and both fan-out counts are
    lineitem-local.  So: one narrow lineitem rollup carrying the plain
    aggs + the n_orders distinct, one distinct-only rollup for n_parts,
    and the lineitem→orders join reduced to a 3-column projection (both
    fact-sized; at 100 TB bucket both by orderkey to make it
    co-located).  Each branch scans parquet with its own pruned column
    set — cheaper than materializing the joined fact for reuse.  The
    per-supplier rollups re-join unhinted (|suppliers| grows with SF;
    AQE broadcasts when small); the supplier NAME dim broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    base = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_li"),
        F.sum(
            F.expr(
                "CAST(floor(l_extendedprice * (1 - l_discount) * 100) "
                "AS BIGINT)"
            )
        ).alias("rev_c"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    npart = li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts")
    )
    ontime = (
        li.select("l_suppkey", "l_orderkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.when(
                    F.col("l_shipdate")
                    <= F.expr("o_orderdate + INTERVAL '30' DAY"),
                    1,
                ).otherwise(0)
            ).alias("n_on_time")
        )
    )
    return (
        base.join(npart, "l_suppkey")
        .join(ontime, "l_suppkey")
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_li").cast("long").alias("n_lineitems"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("n_parts").cast("long").alias("n_parts"),
            F.col("rev_c").cast("long").alias("revenue_cents"),
            F.expr(
                "CAST(n_on_time * 10000 DIV n_li AS BIGINT)"
            ).alias("on_time_bp"),
        )
    )


@_q(
    "text_word_bigram_familiarity",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    bg AS (SELECT doc_id,
                  t[CAST(i.i AS INTEGER)] || ' '
                      || t[CAST(i.i AS INTEGER) + 1] AS bigram
           FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i(i)),
    cnt AS (SELECT bigram, count(*) AS n FROM bg GROUP BY bigram),
    common AS (SELECT bigram FROM cnt WHERE n >= 5),
    sc AS (SELECT bg.doc_id,
                  count(*) AS n_bigrams,
                  sum(CASE WHEN c.bigram IS NOT NULL THEN 1 ELSE 0 END)
                      AS n_common
           FROM bg LEFT JOIN common c ON c.bigram = bg.bigram
           GROUP BY bg.doc_id)
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 10000 // n_bigrams AS BIGINT)
               AS familiarity_bp
    FROM sc WHERE n_bigrams > 0
    """,
)
def text_word_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORD-bigram familiarity score: the fraction of each document's
    adjacent word pairs that are corpus-common (seen ≥ 5 times) — the
    log-free fluency proxy next to the char-bigram LM
    (text_char_bigram_score): low familiarity flags scrambled or
    machine-mangled text whose unigrams all look fine.  One bigram
    explode feeds both the corpus count and the per-doc score (lazy
    barrier); the membership join is a shuffle equi-join on bigram."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.hashing import shingles_of_tokens, word_tokens

    bg = (
        d.select("doc_id", word_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), 2)).alias("bigram"),
        )
        .localCheckpoint(eager=False)
    )
    common = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 5)
        .select("bigram", F.lit(1).alias("is_common"))
    )
    sc = (
        bg.join(common, "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("is_common"), F.lit(0))).alias("n_common"),
        )
    )
    return sc.where(F.col("n_bigrams") > 0).select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_common").cast("long").alias("n_common"),
        F.expr("CAST(n_common * 10000 DIV n_bigrams AS BIGINT)").alias(
            "familiarity_bp"
        ),
    )


@_q(
    "emb_exact_dup_groups",
    f"""
    WITH e AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    h AS (SELECT vec_id,
                 md5(list_aggregate(list_transform(qe,
                     x -> CAST(x AS VARCHAR)), 'string_agg', ','))
                     AS vec_hash
          FROM e)
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(DISTINCT vec_hash) AS BIGINT) AS n_distinct,
           CAST(count(*) - count(DISTINCT vec_hash) AS BIGINT)
               AS n_dup_copies,
           min(vec_hash) AS min_hash,
           max(vec_hash) AS max_hash
    FROM h
    """,
)
def emb_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-duplicate accounting: vectors identical after
    µ-quantization collapse to one hash of the component string — the
    cheap first pass every vector-corpus dedup runs before any LSH,
    catching re-ingested and re-encoded copies with one hash
    aggregation.  The fixture corpus is dup-free, so the checked output
    is the accounting row (total vs distinct, plus min/max hash — any
    quantization or serialization divergence flips those hashes);
    planted-duplicate behavior is pinned in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    from ..functions.vectors import quantize_embedding

    h = emb.select(
        "vec_id",
        F.md5(
            F.array_join(
                F.transform(
                    quantize_embedding(F.col("embedding")),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("vec_hash"),
    )
    return h.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.countDistinct("vec_hash").cast("long").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("vec_hash"))
        .cast("long")
        .alias("n_dup_copies"),
        F.min("vec_hash").alias("min_hash"),
        F.max("vec_hash").alias("max_hash"),
    )


@_q(
    "evt_error_budget_burn",
    """
    WITH d AS (SELECT date_diff('day', DATE '2024-01-01',
                                CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day,
                      count(*) AS n,
                      sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                          AS errs
               FROM events GROUP BY day),
    c AS (SELECT day, n, errs,
                 sum(n) OVER w AS cum_n, sum(errs) OVER w AS cum_errs
          FROM d
          WINDOW w AS (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT CAST(day AS BIGINT) AS day,
           CAST(errs AS BIGINT) AS errors,
           CAST(errs * 10000 // n AS BIGINT) AS day_error_bp,
           CAST(cum_errs AS BIGINT) AS cum_errors,
           CAST(cum_errs * 1000000 // (cum_n * 100) AS BIGINT)
               AS budget_burn_pm,
           cum_errs * 100 > cum_n AS budget_exhausted
    FROM c
    """,
)
def evt_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn-down against a 1% SLO: daily error rate,
    cumulative errors vs the cumulative 1%-of-traffic budget, burn
    expressed per-mille of budget consumed, and the exhaustion flag —
    all exact integer cross-multiplication (cum_errs·100 > cum_n IS
    "error rate above 1%").  Runs on the |days|-row rollup; the
    cumulative window never touches raw events."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "day"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "errs"
        ),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.select(
        "day",
        "n",
        "errs",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("errs").over(w).alias("cum_errs"),
    )
    return c.select(
        F.col("day").cast("long").alias("day"),
        F.col("errs").cast("long").alias("errors"),
        F.expr("CAST(errs * 10000 DIV n AS BIGINT)").alias("day_error_bp"),
        F.col("cum_errs").cast("long").alias("cum_errors"),
        F.expr(
            "CAST(cum_errs * 1000000 DIV (cum_n * 100) AS BIGINT)"
        ).alias("budget_burn_pm"),
        (F.col("cum_errs") * 100 > F.col("cum_n")).alias("budget_exhausted"),
    )


@_q(
    "evt_decile_lift_table",
    """
    WITH u AS (SELECT user_id, count(*) AS activity,
                      max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                          END) AS converted
               FROM events GROUP BY user_id),
    q AS (SELECT user_id, converted,
                 ntile(10) OVER (ORDER BY activity DESC, user_id) AS decile
          FROM u),
    t AS (SELECT sum(converted) AS tot_conv, count(*) AS tot_n FROM q)
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST(sum(converted) * 10000 // count(*) AS BIGINT)
               AS conv_bp,
           CAST((sum(converted) * t.tot_n * 1000)
                // (count(*) * t.tot_conv) AS BIGINT) AS lift_milli
    FROM q, t GROUP BY decile, t.tot_conv, t.tot_n
    """,
)
def evt_decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table — the campaign-targeting evaluation: users
    ranked into activity deciles (deterministic ntile ties on user_id),
    per-decile conversion rate and LIFT vs the population rate
    (cross-multiplied to exact milli: (conv_d/n_d)/(conv/n) =
    conv_d·n·1000 // (n_d·conv)).  If the top decile's lift ≈ 1000 the
    score is useless — the one-table answer to "is activity worth
    targeting on".  Runs on the |users| rollup; totals broadcast; the
    decile is ``with_global_ntile`` (ntile-identical values, range
    shuffle + partition offsets — no single-partition window over the
    unbounded user rollup)."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("activity"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    ).localCheckpoint(eager=False)
    q = with_global_ntile(
        u, [F.col("activity").desc(), F.col("user_id")], 10, "decile"
    ).select("converted", "decile")
    t = q.agg(
        F.sum("converted").alias("tot_conv"), F.count(F.lit(1)).alias("tot_n")
    )
    return (
        q.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").alias("n_converted"),
        )
        .crossJoin(F.broadcast(t))
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_converted").cast("long").alias("n_converted"),
            F.expr(
                "CAST(n_converted * 10000 DIV n_users AS BIGINT)"
            ).alias("conv_bp"),
            F.expr(
                "CAST((n_converted * tot_n * 1000) DIV (n_users * tot_conv) "
                "AS BIGINT)"
            ).alias("lift_milli"),
        )
    )


@_q(
    "text_classifier_calibration",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents),
    s AS (SELECT doc_id,
                 CAST(list_sum(list_transform(toks,
                      t -> ('0x' || substr(md5(t), 1, 4))::BIGINT - 32768))
                      AS BIGINT) // CAST(len(toks) AS BIGINT) AS spt
          FROM toks),
    g AS (SELECT doc_id,
                 CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 200
                       AND length(text)
                           >= 3 * len(string_split(text, ' '))
                      THEN 1 ELSE 0 END AS gopher_pass
          FROM documents),
    q AS (SELECT s.doc_id, s.spt, g.gopher_pass,
                 ntile(10) OVER (ORDER BY s.spt, s.doc_id) AS bin
          FROM s JOIN g ON g.doc_id = s.doc_id)
    SELECT CAST(bin AS INTEGER) AS score_bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(spt) AS BIGINT) AS min_score,
           CAST(max(spt) AS BIGINT) AS max_score,
           CAST(sum(gopher_pass) * 10000 // count(*) AS BIGINT)
               AS gopher_pass_bp
    FROM q GROUP BY bin
    """,
)
def text_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-vs-rules calibration: the hashed linear classifier's
    per-token score binned into deciles, with the Gopher-rule pass rate
    per bin — monotone pass rate across bins means the cheap classifier
    ranks quality consistently with the rules and can gate at scale; a
    flat curve means it is noise.  Composes two registered operators on
    ONE documents scan; the rank bin rides the |docs| score rollup.
    NOTE: the oracle inlines a simplified two-rule gopher gate (token
    count in [10, 200] and mean word length ≥ 3) matching the Spark
    side below — calibration shape, not the full rule set."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.hashing import word_tokens

    toks = word_tokens(F.col("text"))
    s = d.select(
        "doc_id",
        F.expr(
            "CAST(aggregate(transform(split(text, ' '), "
            "t -> conv(substring(md5(t), 1, 4), 16, 10) - 32768), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + CAST(x AS BIGINT)) "
            "AS BIGINT) DIV CAST(size(split(text, ' ')) AS BIGINT)"
        ).alias("spt"),
        F.when(
            F.size(toks).between(10, 200)
            & (F.length("text") >= 3 * F.size(toks)),
            1,
        )
        .otherwise(0)
        .alias("gopher_pass"),
    )
    # decile bins via with_global_ntile: ntile-identical, but a range
    # shuffle + partition offsets instead of a single-partition window
    # over the |docs| score rollup
    q = with_global_ntile(
        s.localCheckpoint(eager=False),
        [F.col("spt"), F.col("doc_id")],
        10,
        "bin",
    ).select("spt", "gopher_pass", "bin")
    return q.groupBy(F.col("bin").cast("int").alias("score_bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("spt").cast("long").alias("min_score"),
        F.max("spt").cast("long").alias("max_score"),
        F.expr(
            "CAST(sum(gopher_pass) * 10000 DIV count(1) AS BIGINT)"
        ).alias("gopher_pass_bp"),
    )


@_q(
    "doc_source_overlap_matrix",
    f"""
    WITH docsrc AS (SELECT doc_id, source FROM documents),
    {_SHINGLE_CTE.strip()},
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 50),
    shc AS (SELECT sh.doc_id, d.source, sh.shingle
            FROM sh JOIN docsrc d ON d.doc_id = sh.doc_id
            WHERE shingle NOT IN (SELECT shingle FROM hot)),
    pairs AS (SELECT DISTINCT a.source AS source_a, b.source AS source_b,
                     a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM shc a JOIN shc b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               AND a.source < b.source)
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_candidate_pairs
    FROM pairs GROUP BY source_a, source_b
    """,
)
def doc_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup matrix: for every source pair, the count of
    cross-source document pairs sharing ≥ 1 (DF-capped) 3-shingle — the
    provenance diagnostic that finds mirror sites and re-crawls BEFORE
    corpus-wide dedup decides which copy to keep (once mirrors are
    known, keeper policy can prefer the canonical source over min
    doc_id).  Same capped inverted-index join as the dedup family, with
    the source inequality pushed into the pair join so same-source
    pairs never materialize."""
    d = _t(spark, sf_dir, "documents")
    from ..functions.hashing import shingles_of_tokens, word_tokens

    sh = (
        spread(d)
        .select(
            "doc_id", "source", word_tokens(F.col("text")).alias("toks")
        )
        .select(
            "doc_id",
            "source",
            F.explode(shingles_of_tokens(F.col("toks"), 3)).alias("shingle"),
        )
        .dropDuplicates(["doc_id", "shingle"])
        .localCheckpoint(eager=False)
    )
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > 50)
        .select("shingle")
    )
    shc = sh.join(hot, "shingle", "left_anti")
    a, b = shc.alias("a"), shc.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
    )


@_q(
    "dq_unreferenced_dims",
    """
    SELECT 'customer_without_orders' AS dim_check,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_dim_rows,
           CAST((SELECT count(*) FROM customer c WHERE NOT EXISTS
                 (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
                AS BIGINT) AS n_unreferenced
    UNION ALL
    SELECT 'part_never_ordered',
           CAST((SELECT count(*) FROM part) AS BIGINT),
           CAST((SELECT count(*) FROM part p WHERE NOT EXISTS
                 (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey))
                AS BIGINT)
    UNION ALL
    SELECT 'supplier_never_used',
           CAST((SELECT count(*) FROM supplier) AS BIGINT),
           CAST((SELECT count(*) FROM supplier s WHERE NOT EXISTS
                 (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey))
                AS BIGINT)
    """,
)
def dq_unreferenced_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-dimension report — the REVERSE of referential integrity:
    dimension rows no fact ever references (inactive customers, parts
    never ordered, idle suppliers).  Each check is one LEFT ANTI join
    counting the dim side against the fact's distinct keys; the fact
    scan prunes to the single key column.  Together with
    dq_referential_suite this closes both directions of the FK audit."""
    checks = [
        ("customer_without_orders", "customer", "c_custkey", "orders", "o_custkey"),
        ("part_never_ordered", "part", "p_partkey", "lineitem", "l_partkey"),
        ("supplier_never_used", "supplier", "s_suppkey", "lineitem", "l_suppkey"),
    ]
    outs = []
    for name, dim, dk, fact, fk in checks:
        dimdf = _t(spark, sf_dir, dim)
        keys = _t(spark, sf_dir, fact).select(F.col(fk).alias(dk)).distinct()
        n_dim = dimdf.agg(F.count(F.lit(1)).alias("n_dim_rows"))
        n_unref = (
            dimdf.join(keys, dk, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_unreferenced"))
        )
        outs.append(
            n_dim.crossJoin(F.broadcast(n_unref)).select(
                F.lit(name).alias("dim_check"),
                F.col("n_dim_rows").cast("long").alias("n_dim_rows"),
                F.col("n_unreferenced").cast("long").alias("n_unreferenced"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@_q(
    "emb_ivf_probe_sweep",
    f"""
    WITH e AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings),
    cent AS (SELECT vec_id AS cell, qe AS c_qe FROM e
             ORDER BY vec_id LIMIT 16),
    fa AS (SELECT e.vec_id, e.qe, c.cell,
           CAST(list_sum(list_transform(range(1, 65),
                         i -> e.qe[i] * c.c_qe[i])) AS BIGINT) AS cd
           FROM e, cent c),
    far AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY cd DESC, cell ASC) AS r FROM fa),
    cand AS (SELECT vec_id, qe, cell FROM far WHERE r = 1),
    probes(p) AS (VALUES (1), (2), (4)),
    qsx AS (SELECT pr.p, vec_id AS query_id, qe AS q_qe, cell
            FROM far, probes pr
            WHERE far.r <= pr.p AND vec_id % 50 = 0),
    s AS (SELECT DISTINCT q.p, q.query_id, c.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(range(1, 65),
                      i -> q.q_qe[i] * c.qe[i])) AS BIGINT) AS dot_q
          FROM qsx q JOIN cand c USING (cell)
          WHERE c.vec_id <> q.query_id),
    rr AS (SELECT *, row_number() OVER (PARTITION BY p, query_id
                     ORDER BY dot_q DESC, neighbor_id ASC) AS rank
           FROM s),
    ivf_k AS (SELECT p, query_id, neighbor_id FROM rr WHERE rank <= 10),
    exq AS (SELECT vec_id AS query_id, qe AS q_qe FROM e
            WHERE vec_id % 50 = 0),
    exs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                   CAST(list_sum(list_transform(range(1, 65),
                        i -> q.q_qe[i] * c.qe[i])) AS BIGINT) AS dot_q
            FROM exq q, e c WHERE c.vec_id <> q.query_id),
    exr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY dot_q DESC, neighbor_id ASC) AS rank
            FROM exs),
    exact_k AS (SELECT query_id, neighbor_id FROM exr WHERE rank <= 10),
    nq AS (SELECT count(*) AS n FROM exq)
    SELECT CAST(i.p AS INTEGER) AS n_probe,
           CAST(nq.n AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(count(*) * 10000 // (10 * nq.n) AS BIGINT) AS recall_bp
    FROM ivf_k i JOIN exact_k x USING (query_id, neighbor_id), nq
    GROUP BY i.p, nq.n
    """,
)
def emb_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF n_probe tuning curve: recall@10 against the exact baseline
    for n_probe ∈ {1, 2, 4} — the accuracy-vs-cost sweep run before
    fixing a probe count for a 100 TB serving index (recall must be
    monotone in probes; where it plateaus is the budget).  The cell
    assignment is computed ONCE and re-probed per config; the exact
    baseline (bounded |Q|·N, the emb_ann_topk rationale) is computed
    once behind a lazy barrier and joined against each config's
    top-10."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = (
        similarity.brute_force_topk(emb, queries, k=10)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    nq = queries.agg(F.count(F.lit(1)).alias("n"))
    # the database-side cell assignment is n_probe-independent: compute
    # it once behind a lazy barrier and share it across all three sweep
    # points (it is the N·n_cells dot-product stage — the sweep's cost
    # would otherwise triple it)
    cells = similarity.ivf_assign_cells(emb, n_cells=16).localCheckpoint(
        eager=False
    )
    # one candidate pass for all three sweep points (r12, guide §2.4):
    # similarity.ivf_probe_sweep_topk scores the p=4 superset once with
    # the probe rank carried, then filters rank <= p per point —
    # bit-identical to the per-p ivf_topk union this replaces
    allp = similarity.ivf_probe_sweep_topk(
        emb,
        queries,
        k=10,
        n_cells=16,
        probes=(1, 2, 4),
        assigned_cells=cells,
    ).select("n_probe", "query_id", "neighbor_id")
    return (
        allp.join(exact, ["query_id", "neighbor_id"])
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("n_probe").cast("int").alias("n_probe"),
            F.col("n").cast("long").alias("n_queries"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.expr(
                "CAST(n_hits * 10000 DIV (10 * n) AS BIGINT)"
            ).alias("recall_bp"),
        )
    )


@_q(
    "evt_cohort_ltv_triangle",
    """
    WITH f AS (SELECT user_id,
                      min(date_diff('day', DATE '2024-01-01',
                                    CAST(CAST(ts AS TIMESTAMP) AS DATE)))
                          AS cohort_wk
               FROM events GROUP BY user_id),
    r AS (SELECT e.user_id, f.cohort_wk,
                 date_diff('day', DATE '2024-01-01',
                           CAST(CAST(e.ts AS TIMESTAMP) AS DATE))
                     - f.cohort_wk AS wk_since,
                 CASE WHEN e.event_type = 'purchase'
                      THEN CAST(floor(e.value * 100) AS BIGINT)
                      ELSE 0 END AS rev_c
          FROM events e JOIN f ON f.user_id = e.user_id),
    cell AS (SELECT cohort_wk, wk_since, sum(rev_c) AS rev_c
             FROM r GROUP BY cohort_wk, wk_since),
    sz AS (SELECT cohort_wk, count(*) AS n_users FROM f
           GROUP BY cohort_wk)
    SELECT CAST(c.cohort_wk AS INTEGER) AS cohort_day,
           CAST(c.wk_since AS INTEGER) AS day_since,
           CAST(s.n_users AS BIGINT) AS n_users,
           CAST(sum(c.rev_c) OVER (PARTITION BY c.cohort_wk
                ORDER BY c.wk_since
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_rev_cents,
           CAST(sum(c.rev_c) OVER (PARTITION BY c.cohort_wk
                ORDER BY c.wk_since
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                // s.n_users AS BIGINT) AS cum_ltv_per_user_cents
    FROM cell c JOIN sz s ON s.cohort_wk = c.cohort_wk
    """,
)
def evt_cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: users bucketed by first-seen day, purchase
    revenue accumulated by days-since-acquisition — the growth-
    accounting table behind payback-period and LTV-projection decisions
    (each row of the triangle is one cohort's revenue curve; newer
    cohorts have fewer filled cells, hence 'triangle').  cohort_wk is
    min(day) OVER (PARTITION BY user_id) — ONE hash exchange on
    user_id, no per-user rollup join (a |users|-sized broadcast build
    is a driver OOM at 100×); cohort sizes reuse the same partitioning
    (per-user distinct partial-aggregates map-side), then one
    (cohort × day) cell aggregation and a cumulative window over the
    bounded triangle.  The only broadcast left is sz, keyed by
    cohort day — bounded by the calendar, never by |users|."""
    e = _t(spark, sf_dir, "events")
    wk_expr = F.expr(
        "CAST(datediff(to_date(ts), DATE '2024-01-01') AS INT)"
    )
    wuser = Window.partitionBy("user_id")
    r = e.select(
        "user_id",
        wk_expr.alias("wk"),
        F.when(
            F.col("event_type") == "purchase",
            F.expr("CAST(floor(value * 100) AS BIGINT)"),
        )
        .otherwise(0)
        .alias("rev_c"),
    ).select(
        "user_id",
        F.min("wk").over(wuser).alias("cohort_wk"),
        "wk",
        "rev_c",
    )
    r = r.localCheckpoint(eager=False)
    cell = r.select(
        "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("wk_since"), "rev_c"
    ).groupBy("cohort_wk", "wk_since").agg(F.sum("rev_c").alias("rev_c"))
    sz = (
        r.select("user_id", "cohort_wk")
        .distinct()
        .groupBy("cohort_wk")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    w = (
        Window.partitionBy("cohort_wk")
        .orderBy("wk_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cell.join(F.broadcast(sz), "cohort_wk")
        .select(
            F.col("cohort_wk").cast("int").alias("cohort_day"),
            F.col("wk_since").cast("int").alias("day_since"),
            F.col("n_users").cast("long").alias("n_users"),
            F.sum("rev_c").over(w).cast("long").alias("cum_rev_cents"),
            F.expr(
                "CAST(sum(rev_c) OVER (PARTITION BY cohort_wk "
                "ORDER BY wk_since ROWS BETWEEN UNBOUNDED PRECEDING AND "
                "CURRENT ROW) DIV n_users AS BIGINT)"
            ).alias("cum_ltv_per_user_cents"),
        )
    )


@_q(
    "evt_training_set_assembly",
    """
    WITH w AS (SELECT user_id, event_id, event_type,
                      CAST(ts AS TIMESTAMP) AS ts,
                      row_number() OVER win - 1 AS prior_n,
                      lag(event_type) OVER win AS last_type,
                      epoch_us(CAST(ts AS TIMESTAMP))
                        - first_value(epoch_us(CAST(ts AS TIMESTAMP)))
                          OVER win AS us_since_first
               FROM events
               WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_id AS label_event_id, user_id,
           CAST(prior_n AS BIGINT) AS f_prior_events,
           coalesce(last_type, 'NONE') AS f_last_type,
           CAST(us_since_first // 1000000 AS BIGINT) AS f_secs_since_first
    FROM w WHERE event_type = 'purchase'
    """,
)
def evt_training_set_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free training-set assembly: one row per label event
    (purchase) with features computed ONLY from the user's strictly
    earlier history — prior event count, previous event type, seconds
    since first seen.  The feature-store point-in-time contract encoded
    directly in window frames (row_number/lag/first_value all end at
    the current row's predecessors), so future leakage is impossible by
    construction instead of by discipline; one window pass per user,
    label filter applied after."""
    e = _t(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = e.select(
        "event_id",
        "user_id",
        "event_type",
        (F.row_number().over(win) - 1).alias("prior_n"),
        F.lag("event_type").over(win).alias("last_type"),
        (
            F.unix_micros(F.col("ts"))
            - F.first(F.unix_micros(F.col("ts"))).over(win)
        ).alias("us_since_first"),
    )
    return w.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_event_id"),
        "user_id",
        F.col("prior_n").cast("long").alias("f_prior_events"),
        F.coalesce(F.col("last_type"), F.lit("NONE")).alias("f_last_type"),
        F.expr("CAST(us_since_first DIV 1000000 AS BIGINT)").alias(
            "f_secs_since_first"
        ),
    )


# --------------------------------------------------------------------------
# Round-6 additions (staged r7 candidates from NOTES_r7_staging.md)
# --------------------------------------------------------------------------


@_q(
    "doc_chargram_dup_coverage",
    """
    WITH pos AS (
        SELECT doc_id, length(text) AS n_chars, CAST(t.i AS BIGINT) AS pos,
               md5(substr(text, CAST(t.i AS INTEGER), 20)) AS h
        FROM documents, unnest(range(1, length(text) - 20 + 2, 4)) AS t(i)
        WHERE length(text) >= 20),
    dfc AS (SELECT h FROM pos GROUP BY h
            HAVING count(DISTINCT doc_id) >= 2),
    dup AS (SELECT p.doc_id, p.pos FROM pos p JOIN dfc USING (h)),
    cov AS (SELECT doc_id,
                   CASE WHEN lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) IS NULL THEN 20
                        ELSE least(20, pos - lag(pos)
                                       OVER (PARTITION BY doc_id
                                             ORDER BY pos)) END AS add_c
            FROM dup),
    pd AS (SELECT doc_id, count(*) AS n_dup, sum(add_c) AS covered
           FROM cov GROUP BY doc_id),
    tot AS (SELECT doc_id, max(n_chars) AS n_chars, count(*) AS n_grams
            FROM pos GROUP BY doc_id)
    SELECT tot.doc_id, CAST(tot.n_chars AS BIGINT) AS n_chars,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_grams,
           CAST(coalesce(covered, 0) AS BIGINT) AS covered_chars,
           CAST(coalesce(covered, 0) * 10000 // tot.n_chars AS BIGINT)
               AS dup_cover_bp
    FROM tot LEFT JOIN pd USING (doc_id)
    """,
)
def doc_chargram_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level exact-duplication coverage
    (operators/dedup.py:chargram_dup_coverage): strided 20-char window
    hashes, corpus-wide gram document frequency, per-doc interval union
    → exact covered-character counts.  The char-granularity companion
    to doc_dup_spans (token spans) — the span-removal signal of Lee et
    al. 2022 at byte offsets."""
    return dedup.chargram_dup_coverage(_t(spark, sf_dir, "documents"))


# Deterministic messy-URL fixture: each doc_id yields ONE crawl-style
# URL exercising every canonicalization rule — scheme/host case, an
# explicit :80 (default for http, REAL for https), trailing slash,
# utm_* tracking params, param order, fragment.  Portable SQL (runs
# verbatim in Spark AND DuckDB), mirroring the _ENV_CTE pattern.
_URL_RAW_SQL = """
CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https' ELSE 'http' END
|| '://'
|| CASE doc_id % 2 WHEN 0 THEN 'CDN' ELSE 'cdn' END
|| CAST(doc_id % 4 AS STRING) || '.Example.COM'
|| CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END
|| '/p/' || CAST(doc_id % 3 AS STRING)
|| CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END
|| CASE WHEN doc_id % 2 = 0
        THEN '?id=' || CAST(doc_id % 2 AS STRING)
             || '&utm_source=feed&ref=' || CAST(doc_id % 3 AS STRING)
        ELSE '?ref=' || CAST(doc_id % 3 AS STRING) || '&id='
             || CAST(doc_id % 2 AS STRING) || '&utm_campaign=x' END
|| CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END
""".strip()


@_q(
    "doc_url_canonical_dedup",
    f"""
    WITH u AS (
        SELECT doc_id, {_URL_RAW_SQL} AS raw_url,
               CASE WHEN doc_id % 3 = 1 THEN 'https' ELSE 'http' END
               || '://cdn' || CAST(doc_id % 4 AS STRING) || '.example.com'
               || CASE WHEN doc_id % 5 = 0 AND doc_id % 3 = 1
                       THEN ':80' ELSE '' END
               || '/p/' || CAST(doc_id % 3 AS STRING)
               || '?id=' || CAST(doc_id % 2 AS STRING)
               || '&ref=' || CAST(doc_id % 3 AS STRING) AS canonical_url
        FROM documents)
    SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_variants,
           CAST(min(doc_id) AS BIGINT) AS first_id
    FROM u GROUP BY canonical_url
    """,
)
def doc_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup (functions/url.py:canonical_url):
    crawl-style URL variants collapse to one canonical key — lowercased
    scheme/host, default port stripped (https://…:80 KEPT — a real
    non-default port), trailing slash off, utm_* params dropped,
    remaining params sorted, fragment gone.  The Spark side PARSES with
    try_parse_url; the oracle derives the canonical form independently
    from the generative model — the two agreeing checks the parser
    path, not just the group-by."""
    from ..functions.url import url_dedup_groups

    raw = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_RAW_SQL).alias("raw_url")
    )
    return url_dedup_groups(raw)


def _bpe_apply_oracle(n_merges: int = 4, top_k: int = 30) -> str:
    """DuckDB mirror of operators/text.py:bpe_apply — the same chained
    merge rounds the Spark loop builds, one CTE trio per round."""
    ctes = [
        "w AS (SELECT unnest(string_split(text, ' ')) AS word "
        "FROM documents)",
        "v0 AS (SELECT word, count(*) AS n_word FROM w "
        "WHERE word <> '' GROUP BY word)",
    ]
    for j in range(1, n_merges + 1):
        ctes += [
            f"p{j} AS (SELECT n_word, "
            f"substr(word, CAST(t.i AS INTEGER), 1) AS a, "
            f"substr(word, CAST(t.i AS INTEGER) + 1, 1) AS b "
            f"FROM v{j - 1}, unnest(range(1, length(word))) AS t(i) "
            f"WHERE length(word) >= 2)",
            f"c{j} AS (SELECT a, b, sum(n_word) AS n FROM p{j} "
            f"GROUP BY a, b)",
            f"w{j} AS (SELECT a || b AS m{j} FROM c{j} "
            f"ORDER BY n DESC, a, b LIMIT 1)",
            f"v{j} AS (SELECT replace(word, m{j}, chr({j})) AS word, "
            f"n_word FROM v{j - 1}, w{j})",
        ]
    unmap = "sym"
    for j in range(n_merges, 0, -1):
        unmap = f"replace({unmap}, chr({j}), m{j})"
    ctes += [
        f"sy AS (SELECT n_word, substr(word, CAST(t.i AS INTEGER), 1) "
        f"AS sym FROM v{n_merges}, "
        f"unnest(range(1, length(word) + 1)) AS t(i))",
        "m AS (SELECT * FROM "
        + ", ".join(f"w{j}" for j in range(1, n_merges + 1))
        + ")",
        f"tok AS (SELECT {unmap} AS token, sum(n_word) AS n_tokens "
        f"FROM sy, m GROUP BY token)",
        "r AS (SELECT token, n_tokens, row_number() OVER "
        "(ORDER BY n_tokens DESC, token) AS rnk FROM tok)",
    ]
    return (
        "WITH " + ", ".join(ctes) + " SELECT token, "
        "CAST(length(token) AS BIGINT) AS token_len, "
        "CAST(n_tokens AS BIGINT) AS n_tokens, "
        f"CAST(rnk AS BIGINT) AS token_rank FROM r WHERE rnk <= {top_k}"
    )


@_q(
    "agg_quantile_sketch_merge",
    """
    WITH e AS (SELECT event_type, event_id,
                      CAST(floor(value * 100) AS BIGINT) AS cents,
                      event_id % 16 AS shard
               FROM events),
    r AS (SELECT event_type, shard, cents,
                 row_number() OVER (PARTITION BY event_type, shard
                                    ORDER BY cents, event_id) AS rn,
                 count(*) OVER (PARTITION BY event_type, shard) AS n_s
          FROM e),
    b AS (SELECT event_type, shard, cents, rn FROM r
          WHERE (32 * rn) // n_s > (32 * (rn - 1)) // n_s),
    pts AS (SELECT event_type, cents AS v,
                   rn - coalesce(lag(rn) OVER (PARTITION BY event_type,
                                               shard ORDER BY rn), 0)
                       AS w
            FROM b),
    pv AS (SELECT event_type, v, sum(w) AS w FROM pts
           GROUP BY event_type, v),
    cum AS (SELECT event_type, v,
                   sum(w) OVER (PARTITION BY event_type ORDER BY v)
                       AS cumw
            FROM pv),
    tot AS (SELECT event_type, count(*) AS n FROM e GROUP BY event_type),
    est AS (SELECT cum.event_type,
                   min(CASE WHEN 100 * cumw >= 25 * n THEN v END) AS e25,
                   min(CASE WHEN 100 * cumw >= 50 * n THEN v END) AS e50,
                   min(CASE WHEN 100 * cumw >= 75 * n THEN v END) AS e75
            FROM cum JOIN tot USING (event_type)
            GROUP BY cum.event_type),
    x AS (SELECT event_type, cents,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY cents, event_id) AS rn
          FROM e),
    ex AS (SELECT x.event_type,
                  min(CASE WHEN 100 * rn >= 25 * n THEN cents END) AS x25,
                  min(CASE WHEN 100 * rn >= 50 * n THEN cents END) AS x50,
                  min(CASE WHEN 100 * rn >= 75 * n THEN cents END) AS x75
           FROM x JOIN tot USING (event_type)
           GROUP BY x.event_type),
    rk AS (SELECT e.event_type,
                  sum(CASE WHEN cents <  e25 THEN 1 ELSE 0 END) AS lt25,
                  sum(CASE WHEN cents <= e25 THEN 1 ELSE 0 END) AS le25,
                  sum(CASE WHEN cents <  e50 THEN 1 ELSE 0 END) AS lt50,
                  sum(CASE WHEN cents <= e50 THEN 1 ELSE 0 END) AS le50,
                  sum(CASE WHEN cents <  e75 THEN 1 ELSE 0 END) AS lt75,
                  sum(CASE WHEN cents <= e75 THEN 1 ELSE 0 END) AS le75
           FROM e JOIN est USING (event_type)
           GROUP BY e.event_type)
    SELECT t.event_type, CAST(n AS BIGINT) AS n_events,
           CAST(e25 AS BIGINT) AS est_p25_cents,
           CAST(e50 AS BIGINT) AS est_p50_cents,
           CAST(e75 AS BIGINT) AS est_p75_cents,
           CAST(x25 AS BIGINT) AS exact_p25_cents,
           CAST(x50 AS BIGINT) AS exact_p50_cents,
           CAST(x75 AS BIGINT) AS exact_p75_cents,
           CAST(n // 32 + 17 AS BIGINT) AS rank_err_bound,
           ((25 * n + 99) // 100 <= le25 + (n // 32 + 17)
            AND (25 * n + 99) // 100 >= lt25 + 1 - (n // 32 + 17))
               AS within_p25,
           ((50 * n + 99) // 100 <= le50 + (n // 32 + 17)
            AND (50 * n + 99) // 100 >= lt50 + 1 - (n // 32 + 17))
               AS within_p50,
           ((75 * n + 99) // 100 <= le75 + (n // 32 + 17)
            AND (75 * n + 99) // 100 >= lt75 + 1 - (n // 32 + 17))
               AS within_p75
    FROM tot t JOIN est ON t.event_type = est.event_type
               JOIN ex ON t.event_type = ex.event_type
               JOIN rk ON t.event_type = rk.event_type
    """,
)
def agg_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distributed quantile sketch, end-to-end in relational
    algebra: each of 16 shards compresses its sorted values to a ≤32-
    point equi-depth summary (value, weight), summaries MERGE by simple
    weighted union — the KLL/t-digest mergeability contract without the
    opaque blob — and quantiles are read off the merged cumulative
    weights.  The estimates ride next to the exact rank-selects plus a
    PROVEN rank-error bound (Σ per-shard gaps ≤ n/32 + one per shard),
    asserted as within_* booleans the oracle recomputes — a quality
    regression hash-fails the row, the agg_approx_percentile contract
    shape.

    Scale notes (100 TB): the raw-data passes are per-(type, shard)
    windows — shard count scales the summary work out while each
    summary stays ≤32 rows, so the merge input is |types|·shards·32
    rows, trivially one partition per type; nothing ever sorts a whole
    event type globally except the EVAL-ONLY exact-rank pass (drop it
    in production and the sketch is the answer).  The per-type
    estimate frame re-joins the raw scan through a broadcast on the
    bounded event_type key."""
    C, SHARDS = 32, 16
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        (F.col("event_id") % SHARDS).alias("shard"),
    )
    w1 = Window.partitionBy("event_type", "shard").orderBy("cents", "event_id")
    r = e.select(
        "event_type",
        "shard",
        "cents",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type", "shard"))
        .alias("n_s"),
    )
    # rn is a summary boundary iff some k ≤ C has ceil(k·n_s/C) = rn —
    # equivalently the integer ratio C·rn/n_s advances at rn
    b = r.where(F.expr(f"({C} * rn) DIV n_s > ({C} * (rn - 1)) DIV n_s"))
    w2 = Window.partitionBy("event_type", "shard").orderBy("rn")
    pts = b.select(
        "event_type",
        F.col("cents").alias("v"),
        (
            F.col("rn") - F.coalesce(F.lag("rn").over(w2), F.lit(0))
        ).alias("w"),
    )
    pv = pts.groupBy("event_type", "v").agg(F.sum("w").alias("w"))
    w3 = Window.partitionBy("event_type").orderBy("v")
    cum = pv.select("event_type", "v", F.sum("w").over(w3).alias("cumw"))
    tot = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    pick = lambda p: F.min(  # noqa: E731
        F.when(F.lit(100) * F.col("cumw") >= F.lit(p) * F.col("n"), F.col("v"))
    )
    est = (
        cum.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(pick(25).alias("e25"), pick(50).alias("e50"), pick(75).alias("e75"))
    )
    w4 = Window.partitionBy("event_type").orderBy("cents", "event_id")
    xpick = lambda p: F.min(  # noqa: E731
        F.when(
            F.lit(100) * F.col("rn") >= F.lit(p) * F.col("n"), F.col("cents")
        )
    )
    ex = (
        e.select("event_type", "cents", F.row_number().over(w4).alias("rn"))
        .join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(xpick(25).alias("x25"), xpick(50).alias("x50"), xpick(75).alias("x75"))
    )
    cnt = lambda cmp, col: F.sum(F.when(cmp(F.col("cents"), F.col(col)), 1).otherwise(0))  # noqa: E731
    rk = (
        e.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            cnt(lambda a, b_: a < b_, "e25").alias("lt25"),
            cnt(lambda a, b_: a <= b_, "e25").alias("le25"),
            cnt(lambda a, b_: a < b_, "e50").alias("lt50"),
            cnt(lambda a, b_: a <= b_, "e50").alias("le50"),
            cnt(lambda a, b_: a < b_, "e75").alias("lt75"),
            cnt(lambda a, b_: a <= b_, "e75").alias("le75"),
        )
    )
    bound = F.expr("n DIV 32 + 17")
    target = lambda p: F.expr(f"({p} * n + 99) DIV 100")  # noqa: E731
    within = lambda p, le, lt: (  # noqa: E731
        (target(p) <= F.col(le) + bound)
        & (target(p) >= F.col(lt) + F.lit(1) - bound)
    )
    return (
        tot.join(est, "event_type")
        .join(ex, "event_type")
        .join(rk, "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            F.col("e25").cast("long").alias("est_p25_cents"),
            F.col("e50").cast("long").alias("est_p50_cents"),
            F.col("e75").cast("long").alias("est_p75_cents"),
            F.col("x25").cast("long").alias("exact_p25_cents"),
            F.col("x50").cast("long").alias("exact_p50_cents"),
            F.col("x75").cast("long").alias("exact_p75_cents"),
            bound.cast("long").alias("rank_err_bound"),
            within(25, "le25", "lt25").alias("within_p25"),
            within(50, "le50", "lt50").alias("within_p50"),
            within(75, "le75", "lt75").alias("within_p75"),
        )
    )


@_q(
    "text_heavy_hitters_bounds",
    """
    WITH w AS (SELECT doc_id % 8 AS shard,
                      unnest(string_split(text, ' ')) AS word
               FROM documents),
    ww AS (SELECT shard, word FROM w WHERE word <> ''),
    swc AS (SELECT shard, word, count(*) AS cnt FROM ww
            GROUP BY shard, word),
    rkd AS (SELECT shard, word, cnt,
                   row_number() OVER (PARTITION BY shard
                                      ORDER BY cnt DESC, word) AS rn
            FROM swc),
    kept AS (SELECT shard, word, cnt FROM rkd WHERE rn <= 64),
    eps AS (SELECT shard, cnt AS eps_s FROM rkd WHERE rn = 65),
    teps AS (SELECT coalesce(sum(eps_s), 0) AS total_eps FROM eps),
    m AS (SELECT word, sum(cnt) AS lower_b,
                 coalesce(sum(eps_s), 0) AS eps_covered
          FROM kept LEFT JOIN eps USING (shard)
          GROUP BY word),
    ex AS (SELECT word, count(*) AS exact_n FROM ww GROUP BY word),
    top AS (SELECT word, exact_n,
                   row_number() OVER (ORDER BY exact_n DESC, word)
                       AS hh_rank
            FROM ex)
    SELECT t.word, CAST(hh_rank AS BIGINT) AS hh_rank,
           CAST(exact_n AS BIGINT) AS exact_n,
           CAST(lower_b AS BIGINT) AS lower_bound,
           CAST(lower_b + total_eps - eps_covered AS BIGINT)
               AS upper_bound,
           (lower_b <= exact_n
            AND exact_n <= lower_b + total_eps - eps_covered)
               AS bounds_hold
    FROM top t JOIN m USING (word), teps
    WHERE hh_rank <= 10
    """,
)
def text_heavy_hitters_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed frequent-items (heavy hitters) with DETERMINISTIC
    error bounds — the SpaceSaving/Misra-Gries merge contract in
    relational algebra: each of 8 data shards keeps only its top-64
    (word, count) rows; a dropped word's count is bounded by the
    shard's rank-65 count (eps_s), so the merged summary brackets every
    word's true count in [Σ kept counts, that + Σ eps_s over shards
    where the word was truncated].  The exact top-10 (the EVAL side)
    rides along with a bounds_hold boolean the oracle recomputes — a
    mathematically guaranteed TRUE, so any arithmetic slip hash-fails.
    Summary plumbing: operators/text.py:heavy_hitters_bounds.

    Scale notes (100 TB): the full (shard, word) rollup is one
    map-side-combinable aggregation; everything after the per-shard
    rank truncation is ≤ shards·64 rows + one 1-row total-eps
    broadcast.  In production the exact-count leg is dropped and the
    summary IS the answer — that leg exists to assert the bound, the
    emb_ann_recall_eval contract shape."""
    return text.heavy_hitters_bounds(
        _t(spark, sf_dir, "documents"), n_shards=8, capacity=64, top_n=10
    )


@_q(
    "doc_url_host_profile",
    f"""
    WITH u AS (
        SELECT doc_id, {_URL_RAW_SQL} AS raw_url,
               'cdn' || CAST(doc_id % 4 AS STRING) || '.example.com'
                   AS host,
               (CASE WHEN doc_id % 3 = 1 THEN 'https' ELSE 'http' END)
               || '://cdn' || CAST(doc_id % 4 AS STRING) || '.example.com'
               || CASE WHEN doc_id % 5 = 0 AND doc_id % 3 = 1
                       THEN ':80' ELSE '' END
               || '/p/' || CAST(doc_id % 3 AS STRING)
               || '?id=' || CAST(doc_id % 2 AS STRING)
               || '&ref=' || CAST(doc_id % 3 AS STRING) AS canon
        FROM documents),
    g AS (SELECT host, canon, count(*) AS n FROM u
          GROUP BY host, canon)
    SELECT host, CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_canonical_urls,
           CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
               AS n_docs_in_dup_groups,
           CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) * 10000
                // sum(n) AS BIGINT) AS dup_rate_bp
    FROM g GROUP BY host
    """,
)
def doc_url_host_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl profile: canonical-URL dedup pressure aggregated
    to the host — the per-domain dashboard a crawl scheduler
    prioritizes by (hosts serving mostly duplicate canonical URLs get
    throttled).  Host comes from the PARSED lowercased authority
    (functions/url.py rules); dup pressure is canonical-group sizes
    rolled up twice (host+canon, then host) — two map-side-combinable
    aggregations, no joins, no skew (hosts are the output rows)."""
    from ..functions.url import canonical_url

    u = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_RAW_SQL).alias("raw_url")
    )
    auth = F.try_parse_url(F.col("raw_url"), F.lit("AUTHORITY"))
    c = u.select(
        F.lower(F.substring_index(auth, ":", 1)).alias("host"),
        canonical_url(F.col("raw_url")).alias("canon"),
    )
    g = c.groupBy("host", "canon").agg(F.count(F.lit(1)).alias("n"))
    dup_n = F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
    return g.groupBy("host").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_canonical_urls"),
        dup_n.cast("long").alias("n_docs_in_dup_groups"),
        F.expr(
            "CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) * 10000 "
            "DIV sum(n) AS BIGINT)"
        ).alias("dup_rate_bp"),
    )


def _cms_bucket_sql(row: int, col_sql: str, width: int) -> str:
    """DuckDB bucket id for count-min row ``row``: 5 md5 hex digits of
    the seeded word → BIGINT % width (the _hex5_sql arithmetic over the
    md5_seeded family)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', md5('{row}|' || {col_sql})"
        f"[{1 + i}]) - 1) * {16 ** (4 - i)}"
        for i in range(5)
    )
    return f"(CAST({terms} AS BIGINT) % {width})"


@_q(
    "text_count_min_estimate",
    f"""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents),
    ww AS (SELECT word FROM w WHERE word <> ''),
    cells AS (
        SELECT r, bucket, count(*) AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {r} AS r, {_cms_bucket_sql(r, 'word', 1024)} "
                f"AS bucket FROM ww" for r in range(4)
            )}
        ) GROUP BY r, bucket),
    ex AS (SELECT word, count(*) AS exact_n FROM ww GROUP BY word),
    top AS (SELECT word, exact_n,
                   row_number() OVER (ORDER BY exact_n DESC, word)
                       AS hh_rank
            FROM ex),
    probes AS (SELECT word, exact_n, hh_rank FROM top
               WHERE hh_rank <= 10),
    pb AS (
        {" UNION ALL ".join(
            f"SELECT word, exact_n, hh_rank, {r} AS r, "
            f"{_cms_bucket_sql(r, 'word', 1024)} AS bucket FROM probes"
            for r in range(4)
        )}),
    est AS (SELECT word, min(exact_n) AS exact_n, min(hh_rank) AS hh_rank,
                   min(cnt) AS cms_est
            FROM pb JOIN cells USING (r, bucket)
            GROUP BY word)
    SELECT word, CAST(hh_rank AS BIGINT) AS hh_rank,
           CAST(exact_n AS BIGINT) AS exact_n,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - exact_n AS BIGINT) AS overcount,
           cms_est >= exact_n AS never_underestimates
    FROM est
    """,
)
def text_count_min_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point estimates audited against exact counts:
    a 4×1024 counter grid (seeded md5 buckets — the repo's portable
    hash family), point estimate = min over the 4 rows — with the CMS
    one-sided guarantee (never an underestimate) emitted as an
    oracle-asserted boolean and the actual overcount quantified
    exactly.  Completes the mergeable-summary family (HLL, equi-depth
    quantiles, heavy hitters, CMS): counter grids merge by cell-wise
    ADDITION, so per-partition grids combine associatively — exactly
    what groupBy(r, bucket) computes distributed.

    Scale notes (100 TB): the grid build is one map-side-combinable
    aggregation over 4·|tokens| rows into ≤4096 cells; probes join the
    bounded cell table.  The exact-count leg is the EVAL side, dropped
    in production."""
    D, W = 4, 1024
    ww = (
        spread(_t(spark, sf_dir, "documents"))
        .select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
    )
    bucket = lambda r: F.expr(  # noqa: E731
        f"CAST(conv(substring(md5(concat('{r}|', word)), 1, 5), 16, 10) "
        f"AS BIGINT) % {W}"
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"), bucket(r).alias("bucket")
                )
                for r in range(D)
            ]
        )
    ).alias("rb")
    cells = (
        ww.select(rows)
        .select("rb.r", "rb.bucket")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ex = ww.groupBy("word").agg(F.count(F.lit(1)).alias("exact_n"))
    # two-phase top-k (TakeOrderedAndProject) + rank within an explicit
    # constant partition over the bounded 10-row result — never a
    # single-partition sort of the full vocabulary (r6 verdict ask #7).
    # pmod(exact_n, 1) ≡ 0 but is non-foldable: a bare lit(1) partition
    # key is stripped by FoldablePropagation, which would re-empty the
    # spec and re-trigger the WindowExec global-window warning.
    wt = Window.partitionBy(F.pmod(F.col("exact_n"), F.lit(1))).orderBy(
        F.col("exact_n").desc(), "word"
    )
    probes = (
        ex.orderBy(F.col("exact_n").desc(), "word")
        .limit(10)
        .select("word", "exact_n", F.row_number().over(wt).alias("hh_rank"))
    )
    pb = probes.select("word", "exact_n", "hh_rank", rows).select(
        "word", "exact_n", "hh_rank", "rb.r", "rb.bucket"
    )
    est = (
        pb.join(cells, ["r", "bucket"])
        .groupBy("word")
        .agg(
            F.min("exact_n").alias("exact_n"),
            F.min("hh_rank").alias("hh_rank"),
            F.min("cnt").alias("cms_est"),
        )
    )
    return est.select(
        "word",
        F.col("hh_rank").cast("long").alias("hh_rank"),
        F.col("exact_n").cast("long").alias("exact_n"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_n")).cast("long").alias("overcount"),
        (F.col("cms_est") >= F.col("exact_n")).alias("never_underestimates"),
    )


@_q(
    "text_bloom_membership",
    f"""
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents),
    ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
    corp AS (SELECT DISTINCT word FROM ww WHERE doc_id % 2 = 0),
    probe AS (SELECT DISTINCT word FROM ww WHERE doc_id % 2 = 1
              UNION
              SELECT DISTINCT 'zz' || CAST(doc_id AS STRING)
              FROM documents),
    bits AS (
        SELECT DISTINCT bit FROM (
            {" UNION ALL ".join(
                f"SELECT {_cms_bucket_sql(r, 'word', 256)} AS bit "
                f"FROM corp" for r in range(3)
            )})),
    pb AS (
        {" UNION ALL ".join(
            f"SELECT word, {_cms_bucket_sql(r, 'word', 256)} AS bit "
            f"FROM probe" for r in range(3)
        )}),
    hits AS (SELECT pb.word, count(b.bit) AS n_set
             FROM pb LEFT JOIN bits b USING (bit)
             GROUP BY pb.word),
    lab AS (SELECT h.word, n_set = 3 AS predicted,
                   c.word IS NOT NULL AS is_member
            FROM hits h LEFT JOIN corp c ON h.word = c.word)
    SELECT CAST(count(*) AS BIGINT) AS n_probe_words,
           CAST(sum(CASE WHEN predicted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_predicted,
           CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_members,
           CAST(sum(CASE WHEN predicted AND NOT is_member
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_positives,
           CAST(sum(CASE WHEN predicted AND NOT is_member
                         THEN 1 ELSE 0 END) * 10000
                // greatest(sum(CASE WHEN NOT is_member THEN 1 ELSE 0
                                END), 1) AS BIGINT) AS fp_rate_bp,
           bool_and(NOT is_member OR predicted) AS no_false_negatives
    FROM lab
    """,
)
def text_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational Bloom-filter membership: the even-doc vocabulary sets
    3 seeded md5 bits in a 256-bit space (deliberately small relative
    to the fixture vocabulary so the measured false-positive half is
    NONZERO, not vacuous) (the DISTINCT bit table IS
    the filter — mergeable by union, exactly how per-partition filters
    combine); the odd-doc vocabulary probes it.  The Bloom contract is
    split into its two halves: no_false_negatives is the guaranteed
    side (oracle-asserted TRUE), and the false-positive rate is
    measured exactly against ground-truth membership — the
    cross-corpus "have we seen this token/URL/hash before" primitive
    at the heart of incremental dedup.

    Scale notes (100 TB): filter build = one distinct over ≤ m rows;
    probes join the ≤ m-row bit table (broadcastable at any corpus
    size since m is a constant); ground truth rides a word-keyed
    equi-join — the EVAL side, dropped in production."""
    M, K = 256, 3
    ww = (
        spread(_t(spark, sf_dir, "documents"))
        .select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .where(F.col("word") != "")
    )
    corp = (
        ww.where(F.col("doc_id") % 2 == 0).select("word").distinct()
    )
    # odd-doc vocabulary + guaranteed NON-members ('zz<doc_id>' never
    # tokenizes out of the corpus) so the false-positive half of the
    # contract is actually measured, not vacuously zero
    probe = (
        ww.where(F.col("doc_id") % 2 == 1)
        .select("word")
        .union(
            _t(spark, sf_dir, "documents").select(
                F.concat(
                    F.lit("zz"), F.col("doc_id").cast("string")
                ).alias("word")
            )
        )
        .distinct()
    )
    bit = lambda r: F.expr(  # noqa: E731
        f"CAST(conv(substring(md5(concat('{r}|', word)), 1, 5), 16, 10) "
        f"AS BIGINT) % {M}"
    )
    kbits = lambda df: df.select(  # noqa: E731
        "word",
        F.explode(F.array(*[bit(r) for r in range(K)])).alias("bit"),
    )
    bits = kbits(corp).select("bit").distinct()
    hits = (
        kbits(probe)
        .join(bits.withColumn("_set", F.lit(1)), "bit", "left")
        .groupBy("word")
        .agg(F.count("_set").alias("n_set"))
    )
    lab = hits.join(
        corp.withColumn("_m", F.lit(1)), "word", "left"
    ).select(
        (F.col("n_set") == K).alias("predicted"),
        F.col("_m").isNotNull().alias("is_member"),
    )
    pred_np = F.sum(
        F.when(F.col("predicted") & ~F.col("is_member"), 1).otherwise(0)
    )
    return lab.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe_words"),
        F.sum(F.when(F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("n_predicted"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_members"),
        pred_np.cast("long").alias("n_false_positives"),
        F.expr(
            "CAST(sum(CASE WHEN predicted AND NOT is_member THEN 1 "
            "ELSE 0 END) * 10000 DIV greatest(sum(CASE WHEN NOT "
            "is_member THEN 1 ELSE 0 END), 1) AS BIGINT)"
        ).alias("fp_rate_bp"),
        F.bool_and(~F.col("is_member") | F.col("predicted")).alias(
            "no_false_negatives"
        ),
    )


_FBP_M, _FBP_K, _FBP_FILES = 4096, 3, 64


@_q(
    "files_bloom_pruning",
    f"""
    WITH li AS (SELECT l_partkey AS k, l_orderkey AS ok FROM lineitem),
    s AS (SELECT max(ok) + 1 AS mo, max(k) + 1 AS mk FROM li),
    fk AS (
      SELECT 'ingestion' AS layout,
             {layout.range_bucket_sql("ok", "s.mo", _FBP_FILES, div="//")}
                 AS file_id, k
      FROM li, s
      UNION ALL
      SELECT 'key_range',
             {layout.range_bucket_sql("k", "s.mk", _FBP_FILES, div="//")}, k
      FROM li, s),
    fkd AS (SELECT DISTINCT layout, file_id, k FROM fk),
    nf AS (SELECT layout, count(DISTINCT file_id) AS n_files
           FROM fkd GROUP BY layout),
    bloom AS (SELECT DISTINCT layout, file_id, bit FROM (
        {" UNION ALL ".join(
            f"SELECT layout, file_id, "
            f"{_cms_bucket_sql(r, 'CAST(k AS VARCHAR)', _FBP_M)} AS bit "
            f"FROM fkd" for r in range(_FBP_K)
        )})),
    pk AS (SELECT p_partkey AS k FROM part WHERE p_partkey % 29 = 0
           UNION ALL
           SELECT p_partkey + 100000000 FROM part WHERE p_partkey % 29 = 0),
    member AS (SELECT DISTINCT k FROM li),
    probe AS (SELECT pk.k, member.k IS NOT NULL AS is_present
              FROM pk LEFT JOIN member USING (k)),
    pb AS (SELECT DISTINCT k, bit FROM (
        {" UNION ALL ".join(
            f"SELECT k, {_cms_bucket_sql(r, 'CAST(k AS VARCHAR)', _FBP_M)}"
            f" AS bit FROM probe" for r in range(_FBP_K)
        )})),
    kb AS (SELECT k, count(*) AS n_bits FROM pb GROUP BY k),
    adm AS (SELECT b.layout, b.file_id, pb.k
            FROM pb JOIN bloom b USING (bit)
            GROUP BY b.layout, b.file_id, pb.k
            HAVING count(DISTINCT b.bit)
                   = (SELECT n_bits FROM kb WHERE kb.k = pb.k)),
    act AS (SELECT fkd.layout, fkd.file_id, fkd.k
            FROM fkd JOIN probe USING (k)),
    pairs AS (
      SELECT coalesce(a.layout, c.layout) AS layout,
             coalesce(a.k, c.k) AS k,
             a.k IS NOT NULL AS admitted,
             c.k IS NOT NULL AS actual
      FROM adm a FULL OUTER JOIN act c
        ON a.layout = c.layout AND a.file_id = c.file_id AND a.k = c.k),
    per_key AS (
      SELECT layout, k,
             sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS adm_files,
             sum(CASE WHEN actual THEN 1 ELSE 0 END) AS act_files,
             sum(CASE WHEN admitted AND NOT actual THEN 1 ELSE 0 END)
                 AS fp_files,
             sum(CASE WHEN actual AND NOT admitted THEN 1 ELSE 0 END)
                 AS fn_files
      FROM pairs GROUP BY layout, k),
    lk AS (
      SELECT nf.layout, probe.k, probe.is_present, nf.n_files,
             coalesce(pkx.adm_files, 0) AS adm_files,
             coalesce(pkx.act_files, 0) AS act_files,
             coalesce(pkx.fp_files, 0) AS fp_files,
             coalesce(pkx.fn_files, 0) AS fn_files
      FROM probe CROSS JOIN nf
      LEFT JOIN per_key pkx
        ON pkx.layout = nf.layout AND pkx.k = probe.k)
    SELECT layout,
           CASE WHEN is_present THEN 'present' ELSE 'absent' END
               AS probe_class,
           CAST(count(*) AS BIGINT) AS n_probe_keys,
           CAST(sum(n_files) AS BIGINT) AS total_file_probes,
           CAST(sum(adm_files) AS BIGINT) AS admitted_file_probes,
           CAST(sum(act_files) AS BIGINT) AS actual_file_probes,
           CAST(sum(fp_files) AS BIGINT) AS false_positive_probes,
           CAST(sum(fp_files) * 10000
                // greatest(sum(n_files) - sum(act_files), 1) AS BIGINT)
               AS fp_rate_bp,
           CAST(sum(adm_files) * 10000 // sum(n_files) AS BIGINT)
               AS admit_ratio_bp,
           bool_and(fn_files = 0) AS no_false_negatives
    FROM lk GROUP BY layout, is_present
    """,
)
def files_bloom_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level Bloom-filter skipping advisor — the point-lookup
    complement to ``files_zorder_pruning``'s min-max spans (min-max
    prunes ranges; Blooms prune needle lookups that min-max can't,
    because a scattered key is inside almost every file's [min, max]).
    lineitem is laid out twice — 64 ingestion-order files (orderkey
    ranges) vs 64 partkey-range files — and every file publishes a
    3-hash/4096-bit Bloom (``_FBP_K``/``_FBP_M``) over its distinct
    partkeys
    (relational: the DISTINCT (file, bit) table IS the filter,
    mergeable by union).  Probes are real part keys (% 29) plus
    guaranteed-absent synthetics (+10⁸), classified by ground-truth
    membership, and per (layout, class) the output carries exact
    admitted/actual/false-positive file-probe counts, the measured
    ``fp_rate_bp``, the scan-fraction ``admit_ratio_bp``, and the
    oracle-asserted ``no_false_negatives`` guarantee.  The lesson it
    quantifies: Blooms alone make ABSENT lookups skip ~everything in
    any layout, but PRESENT lookups only skip when the layout also
    clusters the key (key_range admit ratio « ingestion admit ratio).

    Scale notes (100 TB): the filter build is one distinct over
    (files × M) ≤ 64·4096 rows per layout — constant-bounded and
    broadcastable at any table size; probes join the bit table then
    aggregate per (key, file); ground truth rides the key equi-join
    (the EVAL side, dropped in production).  One 1-row domain-scalar
    broadcast (allowlisted BNLJ), no windows.

    Saturation is sf-honest: per-file distinct-key load grows with sf,
    so fp_rate_bp rises at big sf while no_false_negatives holds — the
    advisor reports exactly when the 4096-bit budget stops paying."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("k"), F.col("l_orderkey").alias("ok")
    )
    s = li.agg(
        (F.max("ok") + 1).alias("mo"), (F.max("k") + 1).alias("mk")
    )
    base = li.crossJoin(F.broadcast(s))
    # one scan: both layouts' file assignments explode from the same
    # row (a UNION of two selects would scan lineitem twice)
    fkd = (
        base.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("ingestion").alias("layout"),
                        F.expr(
                            layout.range_bucket_sql("ok", "mo", _FBP_FILES)
                        ).alias("file_id"),
                    ),
                    F.struct(
                        F.lit("key_range").alias("layout"),
                        F.expr(
                            layout.range_bucket_sql("k", "mk", _FBP_FILES)
                        ).alias("file_id"),
                    ),
                )
            ).alias("lf"),
            "k",
        )
        .select("lf.layout", "lf.file_id", "k")
        .distinct()
        # pinned (r12, guide §5): 3 consumers (file counts, the Bloom
        # build, ground-truth actuals) each replayed the fact scan +
        # 2-layout explode + the wide distinct; the pinned frame is the
        # per-file distinct-key table — the advisor's working set
        .localCheckpoint(eager=False)
    )
    nf = fkd.groupBy("layout").agg(
        F.count_distinct("file_id").alias("n_files")
    )
    bit = lambda r, col: F.expr(  # noqa: E731
        f"CAST(conv(substring(md5(concat('{r}|', CAST({col} AS STRING))),"
        f" 1, 5), 16, 10) AS BIGINT) % {_FBP_M}"
    )
    bloom = (
        fkd.select(
            "layout",
            "file_id",
            F.explode(
                F.array(*[bit(r, "k") for r in range(_FBP_K)])
            ).alias("bit"),
        )
        .distinct()
        # ≤ |layouts|·64·4096 rows by construction — the broadcastable
        # filter table itself; pinned so the probe join doesn't rebuild
        # the 3-hash md5 explode
        .localCheckpoint(eager=False)
    )
    part = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 29 == 0)
    pk = part.select(F.col("p_partkey").alias("k")).union(
        part.select(F.col("p_partkey") + 100000000)
    )
    member = li.select("k").distinct().withColumn("_m", F.lit(1))
    # probe keys with ground-truth membership: |probe| rows, read by
    # the bit explode, the actuals join, and the final rollup — pinned
    # so each doesn't redo the distinct-member anti-classification
    probe = pk.join(member, "k", "left").select(
        "k", F.col("_m").isNotNull().alias("is_present")
    ).localCheckpoint(eager=False)
    pb = (
        probe.select(
            "k",
            F.explode(
                F.array(*[bit(r, "k") for r in range(_FBP_K)])
            ).alias("bit"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # |probe|×K bits, 2 consumers
    )
    kb = pb.groupBy("k").agg(F.count(F.lit(1)).alias("n_bits"))
    adm = (
        pb.join(bloom, "bit")
        .groupBy("layout", "file_id", "k")
        .agg(F.count_distinct("bit").alias("n_match"))
        .join(kb, "k")
        .where(F.col("n_match") == F.col("n_bits"))
        .select("layout", "file_id", "k")
    )
    act = fkd.join(probe.select("k"), "k").select("layout", "file_id", "k")
    pairs = adm.withColumn("_a", F.lit(1)).join(
        act.withColumn("_c", F.lit(1)),
        ["layout", "file_id", "k"],
        "full_outer",
    )
    per_key = pairs.groupBy("layout", "k").agg(
        F.sum(F.when(F.col("_a").isNotNull(), 1).otherwise(0)).alias(
            "adm_files"
        ),
        F.sum(F.when(F.col("_c").isNotNull(), 1).otherwise(0)).alias(
            "act_files"
        ),
        F.sum(
            F.when(F.col("_a").isNotNull() & F.col("_c").isNull(), 1)
            .otherwise(0)
        ).alias("fp_files"),
        F.sum(
            F.when(F.col("_c").isNotNull() & F.col("_a").isNull(), 1)
            .otherwise(0)
        ).alias("fn_files"),
    )
    lk = (
        probe.crossJoin(F.broadcast(nf))
        .join(per_key, ["layout", "k"], "left")
        .fillna(0, ["adm_files", "act_files", "fp_files", "fn_files"])
    )
    return lk.groupBy(
        "layout",
        F.when(F.col("is_present"), "present")
        .otherwise("absent")
        .alias("probe_class"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_probe_keys"),
        F.sum("n_files").cast("long").alias("total_file_probes"),
        F.sum("adm_files").cast("long").alias("admitted_file_probes"),
        F.sum("act_files").cast("long").alias("actual_file_probes"),
        F.sum("fp_files").cast("long").alias("false_positive_probes"),
        F.expr(
            "CAST(sum(fp_files) * 10000 DIV greatest(sum(n_files) "
            "- sum(act_files), 1) AS BIGINT)"
        ).alias("fp_rate_bp"),
        F.expr(
            "CAST(sum(adm_files) * 10000 DIV sum(n_files) AS BIGINT)"
        ).alias("admit_ratio_bp"),
        F.bool_and(F.col("fn_files") == 0).alias("no_false_negatives"),
    )


from ..operators.text import CHUNK_S as _DCW_S  # noqa: E402
from ..operators.text import CHUNK_W as _DCW_W  # noqa: E402
from ..operators.text import chunk_rows as _chunk_rows  # noqa: E402


def _chunk_ctes(source: str = "documents") -> list[str]:
    """CTE chain of the sliding token-window chunker, ending in
    ``cw_e`` = one row per (doc, chunk) carrying (toks, n, chunk_idx,
    start_tok).  ``source`` must yield (doc_id, text).  Shared by the
    standalone doc_chunk_windows oracle and the curation-v7
    composition, so both stay in lockstep by construction."""
    return [
        f"""cw_t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '),
                                  x -> x <> '') AS toks
               FROM {source})""",
        "cw_n AS (SELECT doc_id, toks, len(toks) AS n FROM cw_t "
        "WHERE len(toks) > 0)",
        f"""cw_c AS (SELECT doc_id, toks, n,
                 CASE WHEN n <= {_DCW_W} THEN 1
                      ELSE (n - {_DCW_W} + {_DCW_S} - 1) // {_DCW_S} + 1
                 END AS nc
          FROM cw_n)""",
        f"""cw_e AS (SELECT doc_id, toks, n,
                 CAST(i.i AS BIGINT) AS chunk_idx,
                 CAST(i.i * {_DCW_S} AS BIGINT) AS start_tok
          FROM cw_c, unnest(range(0, nc)) AS i(i))""",
    ]


@_q(
    "doc_chunk_windows",
    f"""
    WITH {", ".join(_chunk_ctes())},
    s AS (SELECT doc_id, chunk_idx, start_tok, n,
                 array_to_string(
                     list_slice(toks, CAST(start_tok + 1 AS INTEGER),
                                CAST(start_tok + {_DCW_W} AS INTEGER)),
                     ' ') AS chunk_text
          FROM cw_e)
    SELECT doc_id, chunk_idx, start_tok,
           CAST(least({_DCW_W}, n - start_tok) AS BIGINT)
               AS n_chunk_tokens,
           CAST(CASE WHEN chunk_idx = 0 THEN 0
                ELSE greatest(0, least((chunk_idx - 1) * {_DCW_S}
                                       + {_DCW_W}, n) - start_tok)
                END AS BIGINT) AS overlap_tokens,
           CAST(length(chunk_text) AS BIGINT) AS n_chunk_chars,
           md5(chunk_text) AS chunk_hash
    FROM s
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking — the retrieval/context-packing
    primitive that turns documents into overlapping {_DCW_W}-token
    chunks at stride {_DCW_S} (8-token overlap so no answer span is
    ever split without a copy).  Chunk count is closed-form
    ``max(1, ⌈(n−W)/S⌉+1)`` — the last window always reaches the end
    of the doc and a degenerate fully-contained tail is never emitted.
    Per chunk: 0-based index, token offset, exact token/char lengths,
    the arithmetic overlap with the previous chunk, and the md5 of the
    reassembled chunk text (both engines hash the identical string, so
    a drift in tokenization, slicing, or joining hash-fails).

    Scale notes (100 TB): embarrassingly parallel — one projection per
    doc (split → closed-form chunk count → sequence + posexplode →
    slice), zero shuffles, zero joins, zero windows; chunk explosion
    is bounded by n/S per doc.  WholeStageCodegen end-to-end."""
    W, S = _DCW_W, _DCW_S
    s = _chunk_rows(_t(spark, sf_dir, "documents"))
    return s.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.least(F.lit(W), F.col("n") - F.col("start_tok"))
        .cast("long")
        .alias("n_chunk_tokens"),
        F.when(F.col("chunk_idx") == 0, F.lit(0))
        .otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    (F.col("chunk_idx") - 1) * S + W, F.col("n")
                )
                - F.col("start_tok"),
            )
        )
        .cast("long")
        .alias("overlap_tokens"),
        F.length("chunk_text").cast("long").alias("n_chunk_chars"),
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_hash"),
    )


def _bpe_encode_ctes(n_merges: int = 4) -> list[str]:
    """CTE list shared by _bpe_encode_oracle and the curation-v5
    composition: the orig-carrying merge chain ending in per-doc token
    counts at CTE ``g``."""
    ctes = [
        "w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word "
        "FROM documents)",
        "v0 AS (SELECT word AS orig, word, count(*) AS n_word FROM w "
        "WHERE word <> '' GROUP BY word)",
    ]
    for j in range(1, n_merges + 1):
        ctes += [
            f"p{j} AS (SELECT n_word, "
            f"substr(word, CAST(t.i AS INTEGER), 1) AS a, "
            f"substr(word, CAST(t.i AS INTEGER) + 1, 1) AS b "
            f"FROM v{j - 1}, unnest(range(1, length(word))) AS t(i) "
            f"WHERE length(word) >= 2)",
            f"c{j} AS (SELECT a, b, sum(n_word) AS n FROM p{j} "
            f"GROUP BY a, b)",
            f"w{j} AS (SELECT a || b AS m{j} FROM c{j} "
            f"ORDER BY n DESC, a, b LIMIT 1)",
            f"v{j} AS (SELECT orig, replace(word, m{j}, chr({j})) AS word, "
            f"n_word FROM v{j - 1}, w{j})",
        ]
    ctes += [
        f"enc AS (SELECT orig, length(word) AS n_toks FROM v{n_merges})",
        "g AS (SELECT doc_id, count(*) AS n_words, "
        "sum(length(word)) AS n_word_chars, sum(n_toks) AS n_bpe "
        "FROM w JOIN enc ON w.word = enc.orig GROUP BY doc_id)",
    ]
    return ctes


def _bpe_encode_oracle(n_merges: int = 4) -> str:
    """DuckDB mirror of operators/text.py:bpe_encode_stats — the same
    merge chain as _bpe_apply_oracle but carrying the surface form
    through, then re-joining the corpus words to per-word token
    counts."""
    ctes = _bpe_encode_ctes(n_merges)
    return (
        "WITH " + ", ".join(ctes) + " SELECT doc_id, "
        "CAST(n_words AS BIGINT) AS n_words, "
        "CAST(n_word_chars AS BIGINT) AS n_word_chars, "
        "CAST(n_bpe AS BIGINT) AS n_bpe_tokens, "
        "CAST(n_bpe * 100 // n_word_chars AS BIGINT) "
        "AS tokens_per_100_chars FROM g"
    )


@_q("text_bpe_encode_stats", _bpe_encode_oracle())
def text_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BPE encode statistics (operators/text.py:bpe_encode_stats):
    per-document token counts under the frozen 4-merge table — the
    tokens-per-doc number that prices training runs — via one
    corpus-side explode + one word-keyed equi-join against the merged
    vocabulary, no token strings materialized."""
    return text.bpe_encode_stats(_t(spark, sf_dir, "documents"))


def _curation_v5_oracle() -> str:
    """Composition oracle: the chargram-coverage, canonical-URL, and
    BPE-encode CTE families joined into the v5 curation labeling."""
    ctes = _bpe_encode_ctes(4)
    ctes += [
        """pos AS (
        SELECT doc_id, length(text) AS n_chars, CAST(t.i AS BIGINT) AS pos,
               md5(substr(text, CAST(t.i AS INTEGER), 20)) AS h
        FROM documents, unnest(range(1, length(text) - 20 + 2, 4)) AS t(i)
        WHERE length(text) >= 20)""",
        """dfc AS (SELECT h FROM pos GROUP BY h
            HAVING count(DISTINCT doc_id) >= 2)""",
        """dup AS (SELECT p.doc_id, p.pos FROM pos p JOIN dfc USING (h))""",
        """cov AS (SELECT doc_id,
                   CASE WHEN lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) IS NULL THEN 20
                        ELSE least(20, pos - lag(pos)
                                       OVER (PARTITION BY doc_id
                                             ORDER BY pos)) END AS add_c
            FROM dup)""",
        """pd AS (SELECT doc_id, sum(add_c) AS covered
           FROM cov GROUP BY doc_id)""",
        """tot AS (SELECT doc_id, max(n_chars) AS n_chars
            FROM pos GROUP BY doc_id)""",
        """spanbp AS (SELECT tot.doc_id,
                   coalesce(covered, 0) * 10000 // tot.n_chars AS bp
            FROM tot LEFT JOIN pd USING (doc_id))""",
        f"""u AS (SELECT doc_id,
               (CASE WHEN doc_id % 3 = 1 THEN 'https' ELSE 'http' END)
               || '://cdn' || CAST(doc_id % 4 AS STRING) || '.example.com'
               || CASE WHEN doc_id % 5 = 0 AND doc_id % 3 = 1
                       THEN ':80' ELSE '' END
               || '/p/' || CAST(doc_id % 3 AS STRING)
               || '?id=' || CAST(doc_id % 2 AS STRING)
               || '&ref=' || CAST(doc_id % 3 AS STRING) AS canon
        FROM documents)""",
        """k AS (SELECT canon, min(doc_id) AS keep_id FROM u
           GROUP BY canon)""",
        """lab AS (SELECT d.source,
                  CASE WHEN d.doc_id <> k.keep_id THEN 'dup_url'
                       WHEN coalesce(sb.bp, 0) >= 5000 THEN 'dup_span'
                       ELSE 'kept' END AS status,
                  coalesce(g.n_bpe, 0) AS toks
           FROM documents d
           JOIN u ON d.doc_id = u.doc_id
           JOIN k ON u.canon = k.canon
           LEFT JOIN spanbp sb ON d.doc_id = sb.doc_id
           LEFT JOIN g ON d.doc_id = g.doc_id)""",
    ]
    return (
        "WITH " + ", ".join(ctes) + " SELECT source, status, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(toks) AS BIGINT) AS sum_bpe_tokens "
        "FROM lab GROUP BY source, status"
    )


@_q("pipeline_corpus_curation_v5", _curation_v5_oracle())
def pipeline_corpus_curation_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v5 — the late-round-6 operator set composed into ONE
    labeling plan: canonical-URL dedup (crawl-variant collapse, min-id
    keeper) → character-level duplicated-span gate (≥50% exactly-
    duplicated chars ⇒ boilerplate, dropped) → BPE token pricing of
    whatever survives.  Every doc gets a status (dup_url beats
    dup_span beats kept — a doc failing both is billed to the earlier
    stage, the production dashboard convention) and the per-source
    rollup prices each source's KEPT token contribution — the number a
    mixture-weight planner consumes.

    Scale notes (100 TB): three independent per-doc signal pipelines
    (canon key, span coverage, token counts) each already scale-audited
    in their standalone queries, joined back on doc_id (co-partitioned
    equi-joins) and rolled up to |sources|×3 rows.  The merge-chain
    subtree is the bounded-vocabulary loop; nothing here adds a new
    shuffle class."""
    from ..functions.url import canonical_url

    docs = _t(spark, sf_dir, "documents")
    # (doc_id, canon) pin (r12, guide §5): the canonical-URL projection
    # (regex-heavy) feeds BOTH the keeper rollup and the label join —
    # unpinned it re-ran per consumer; two skinny columns per doc,
    # strictly smaller than the documents input
    canon = docs.select(
        "doc_id",
        canonical_url(F.expr(_URL_RAW_SQL)).alias("canon"),
    ).localCheckpoint(eager=False)
    keeper = canon.groupBy("canon").agg(F.min("doc_id").alias("keep_id"))
    url_lab = canon.join(keeper, "canon").select("doc_id", "keep_id")
    span = dedup.chargram_dup_coverage(docs).select(
        "doc_id", F.col("dup_cover_bp").alias("bp")
    )
    enc = text.bpe_encode_stats(docs).select(
        "doc_id", F.col("n_bpe_tokens").alias("toks")
    )
    lab = (
        docs.select("doc_id", "source")
        .join(url_lab, "doc_id")
        .join(span, "doc_id", "left")
        .join(enc, "doc_id", "left")
        .select(
            "source",
            F.when(F.col("doc_id") != F.col("keep_id"), "dup_url")
            .when(F.coalesce(F.col("bp"), F.lit(0)) >= 5000, "dup_span")
            .otherwise("kept")
            .alias("status"),
            F.coalesce(F.col("toks"), F.lit(0)).alias("toks"),
        )
    )
    return lab.groupBy("source", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("sum_bpe_tokens"),
    )


@_q("text_bpe_apply", _bpe_apply_oracle())
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE train + apply (operators/text.py:bpe_apply): 4 merge
    rounds frozen into a merge table on the bounded vocabulary rollup,
    greedily applied via sentinel replace (later merges may consume
    earlier ones), final token inventory top-30.  Completes the BPE
    family: pair counts → one merge step → apply."""
    return text.bpe_apply(_t(spark, sf_dir, "documents"))


# Two record systems derived deterministically from customer (the
# in-query fixture pattern of _URL_RAW_SQL): A is the clean CRM view,
# B a lossy billing view — case-mangled name, balance rounded down to
# the dollar, market segment lost for every 7th entity.  The +100000
# shift keeps the bucket argument POSITIVE: Spark's DIV truncates
# toward zero while DuckDB's // floors, so negative acctbal cents
# would bucket differently between the engines.
_LINK_CENTS_SQL = "CAST(floor(c_acctbal * 100) AS BIGINT)"
_LINK_CENTS_B_SQL = f"({_LINK_CENTS_SQL} - {_LINK_CENTS_SQL} % 100)"

# Shared CTE prefix for every linkage-family oracle: the two record
# systems plus the per-side block caps (kept in ONE string so the
# derivations cannot drift between the linkage queries).  TWO blocking
# passes (multi-pass blocking, the production MDM shape): a coarse
# $1000 balance bucket and a fine $10 bucket.  With no cap pressure
# fine ⊆ coarse (same DIV-1000 bucket implies same DIV-100000 bucket),
# so the union adds nothing at small SFs; when scale pushes the COARSE
# blocks over the per-side cap (the sf1 regime: ~545 records/block),
# the fine pass is what keeps true pairs reachable — single-pass
# blocking collapsed to zero candidates there.
_LINK_SIDES_CTE = f"""
    a AS (
        SELECT c_custkey AS entity,
               lower(c_name) AS name_norm,
               {_LINK_CENTS_SQL} AS acct_cents,
               c_mktsegment AS seg,
               CAST(c_nationkey AS BIGINT) * 1000
                   + ({_LINK_CENTS_SQL} + 100000) // 100000 AS block,
               CAST(c_nationkey AS BIGINT) * 100000
                   + ({_LINK_CENTS_SQL} + 100000) // 1000 AS block_f
        FROM customer),
    b AS (
        SELECT c_custkey AS entity,
               lower(upper(c_name)) AS name_norm,
               {_LINK_CENTS_B_SQL} AS acct_cents,
               CASE WHEN c_custkey % 7 = 0 THEN 'UNKNOWN'
                    ELSE c_mktsegment END AS seg,
               CAST(c_nationkey AS BIGINT) * 1000
                   + ({_LINK_CENTS_B_SQL} + 100000) // 100000 AS block,
               CAST(c_nationkey AS BIGINT) * 100000
                   + ({_LINK_CENTS_B_SQL} + 100000) // 1000 AS block_f
        FROM customer),
    ka AS (SELECT block FROM a GROUP BY block HAVING count(*) <= 64),
    kb AS (SELECT block FROM b GROUP BY block HAVING count(*) <= 64),
    kaf AS (SELECT block_f FROM a GROUP BY block_f
            HAVING count(*) <= 64),
    kbf AS (SELECT block_f FROM b GROUP BY block_f
            HAVING count(*) <= 64),
    cand AS (
        SELECT a.entity AS ea, b.entity AS eb,
               a.name_norm AS name_a, b.name_norm AS name_b,
               a.acct_cents AS cents_a, b.acct_cents AS cents_b,
               a.seg AS seg_a, b.seg AS seg_b
        FROM a JOIN b USING (block)
        WHERE block IN (SELECT block FROM ka)
          AND block IN (SELECT block FROM kb)
        UNION
        SELECT a.entity, b.entity, a.name_norm, b.name_norm,
               a.acct_cents, b.acct_cents, a.seg, b.seg
        FROM a JOIN b USING (block_f)
        WHERE block_f IN (SELECT block_f FROM kaf)
          AND block_f IN (SELECT block_f FROM kbf))
""".strip()


def _linkage_sides(spark: SparkSession, sf_dir: str):
    """The two derived record systems of the linkage family — the
    Python twin of ``_LINK_SIDES_CTE`` (same expressions, kept
    adjacent so the two representations cannot drift)."""
    c = _t(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("entity"),
        F.lower("c_name").alias("name_norm"),
        F.expr(_LINK_CENTS_SQL).alias("acct_cents"),
        F.col("c_mktsegment").alias("seg"),
        (
            F.col("c_nationkey").cast("long") * 1000
            + F.expr(f"({_LINK_CENTS_SQL} + 100000) DIV 100000")
        ).alias("block"),
        (
            F.col("c_nationkey").cast("long") * 100000
            + F.expr(f"({_LINK_CENTS_SQL} + 100000) DIV 1000")
        ).alias("block_f"),
    )
    b = c.select(
        F.col("c_custkey").alias("entity"),
        F.lower(F.upper("c_name")).alias("name_norm"),
        F.expr(_LINK_CENTS_B_SQL).alias("acct_cents"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        (
            F.col("c_nationkey").cast("long") * 1000
            + F.expr(f"({_LINK_CENTS_B_SQL} + 100000) DIV 100000")
        ).alias("block"),
        (
            F.col("c_nationkey").cast("long") * 100000
            + F.expr(f"({_LINK_CENTS_B_SQL} + 100000) DIV 1000")
        ).alias("block_f"),
    )
    return c, a, b


def _linkage_candidates(spark: SparkSession, sf_dir: str):
    """Multi-pass blocked candidate pairs — the Python twin of the
    ``cand`` CTE: union of the coarse ($1000-bucket) and fine
    ($10-bucket) passes, each with the 64-per-side cap, deduped on the
    entity pair (payload is functionally dependent on the entities, so
    pair-key dedup equals the oracle's full-row UNION).  Fine ⊆ coarse
    when no cap binds, so the union is free at small SFs; at scale the
    fine pass is what keeps true pairs reachable after the coarse
    blocks get capped away."""
    from ..operators import linkage

    c, a, b = _linkage_sides(spark, sf_dir)
    payload = ["entity", "name_norm", "acct_cents", "seg"]
    passes = []
    for blk in ("block", "block_f"):
        p = linkage.blocked_candidate_pairs(
            a.select(blk, *payload),
            b.select(blk, *payload),
            blk,
            max_block_size=64,
        ).drop(blk)
        passes.append(p)
    pairs = passes[0].unionByName(passes[1]).dropDuplicates(
        ["entity_a", "entity_b"]
    )
    return c, pairs


@_q(
    "dq_record_linkage",
    f"""
    WITH {_LINK_SIDES_CTE},
    p AS (
        SELECT ea, eb,
               (CASE WHEN name_a = name_b THEN 50 ELSE 0 END
                + CASE WHEN abs(cents_a - cents_b) < 100
                       THEN 25 ELSE 0 END
                + CASE WHEN seg_a = seg_b THEN 10 ELSE 0 END) AS score
        FROM cand),
    d AS (
        SELECT CASE WHEN score >= 75 THEN 'match'
                    WHEN score >= 35 THEN 'possible'
                    ELSE 'non_match' END AS decision,
               count(*) AS n_pairs,
               sum(CASE WHEN ea = eb THEN 1 ELSE 0 END) AS n_true
        FROM p GROUP BY 1),
    n AS (SELECT count(*) AS n_cust FROM customer)
    SELECT decision,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_true AS BIGINT) AS n_true_entity,
           CAST(n_true * 10000 // n_pairs AS BIGINT) AS precision_bp,
           CAST(n_true * 10000 // n_cust AS BIGINT) AS recall_bp
    FROM d, n
    UNION ALL
    SELECT 'ALL',
           CAST(sum(n_pairs) AS BIGINT),
           CAST(sum(n_true) AS BIGINT),
           CAST(sum(n_true) * 10000 // sum(n_pairs) AS BIGINT),
           CAST(sum(n_true) * 10000 // max(n_cust) AS BIGINT)
    FROM d, n
    """,
)
def dq_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution (operators/linkage.py):
    blocked candidate generation + Fellegi-Sunter integer agreement
    scoring + threshold classification, evaluated against ground truth.

    Two record systems are derived deterministically from ``customer``
    (clean CRM vs lossy billing: case-mangled names, dollar-rounded
    balances, segment lost for every 7th entity); MULTI-PASS blocking
    (a coarse nation+$1000-balance bucket and a fine $10 bucket, each
    capped at 64 records per side — the skew cap) makes pair
    generation quadratic only within a block, and three codegen
    agreement predicates score each pair.  Ground truth (same entity
    key) rides along, so the output is the full linkage-quality
    report: per-decision pair counts, precision, and recall against
    the entity universe — all integer, hash-stable.

    Scale notes (100 TB): one shuffle per side per blocking pass; the
    per-side cap bounds pair fan-out at cap² per block; scoring and
    classification are map-side expressions.  The passes are the scale
    story: at 10x (sf1) every COARSE block exceeds the cap and is
    dropped — single-pass blocking collapses to zero candidates there
    — while the fine pass keeps true pairs reachable; with no cap
    pressure fine ⊆ coarse and the union adds nothing.  Residual
    recall loss at fine-bucket boundaries is the documented blocking
    tradeoff the recall_bp row quantifies.
    """
    from ..operators import linkage

    c, pairs = _linkage_candidates(spark, sf_dir)
    scored = linkage.score_pairs(
        pairs,
        [
            ("name", F.col("name_norm_a") == F.col("name_norm_b"), 50),
            (
                "acct",
                F.abs(F.col("acct_cents_a") - F.col("acct_cents_b")) < 100,
                25,
            ),
            ("seg", F.col("seg_a") == F.col("seg_b"), 10),
        ],
    )
    dec = linkage.classify(scored, match_threshold=75, possible_threshold=35)
    # ≤3-row decision rollup, read by BOTH the per-decision report and
    # the ALL summary — pinned (r12, guide §5) so the second consumer
    # doesn't replay the 2-pass blocking + scoring chain
    d = dec.groupBy("decision").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("entity_a") == F.col("entity_b")).cast("long")).alias(
            "n_true"
        ),
    ).localCheckpoint(eager=False)
    n_cust = c.agg(F.count(F.lit(1)).alias("n_cust"))
    per = d.crossJoin(F.broadcast(n_cust)).select(
        "decision",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_true").cast("long").alias("n_true_entity"),
        F.expr("CAST(n_true * 10000 DIV n_pairs AS BIGINT)").alias(
            "precision_bp"
        ),
        F.expr("CAST(n_true * 10000 DIV n_cust AS BIGINT)").alias("recall_bp"),
    )
    allr = (
        d.agg(
            F.sum("n_pairs").alias("sp"),
            F.sum("n_true").alias("st"),
        )
        .crossJoin(F.broadcast(n_cust))
        .select(
            F.lit("ALL").alias("decision"),
            F.col("sp").cast("long").alias("n_pairs"),
            F.col("st").cast("long").alias("n_true_entity"),
            F.expr("CAST(st * 10000 DIV sp AS BIGINT)").alias("precision_bp"),
            F.expr("CAST(st * 10000 DIV n_cust AS BIGINT)").alias("recall_bp"),
        )
    )
    return per.unionByName(allr)


@_q(
    "cdc_join_view_maintenance",
    """
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def cdc_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance by delta rule: for the
    materialized view V = γ_nation(orders ⋈ customer), an insert batch
    Δorders maintains V as ``merge(V_old, γ(Δorders ⋈ customer))`` —
    the classic ΔV = γ(ΔF ⋈ D) rule for insert-only facts with an
    additive aggregate.  The query SPLITS orders deterministically
    (every 5th key is the delta batch), computes the old view and the
    delta view separately, and MERGES them with a second bounded
    rollup; the oracle is the naive full recompute, so the driver's
    hash equality IS the maintenance-correctness proof.

    Complements ``cdc_incremental_agg_maintenance`` (no join in its
    delta) and the streaming rollup maintenance: this is the batch
    delta rule a warehouse applies nightly without re-touching the
    base fact.

    Scale notes (100 TB): the delta leg scans ONLY Δ rows and
    broadcast-joins the dim; the merge is a rollup keyed by nation
    (bounded, 25 rows) — at production scale V_old is read from its
    materialized store rather than recomputed, and the merge cost is
    O(|ΔV| + |V|), independent of the base fact.  Insert-only here;
    deletes generalize via count-negation (Z-relation) rows through
    the same merge."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def view(part: DataFrame) -> DataFrame:
        return (
            part.join(c, part["o_custkey"] == c["c_custkey"])
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_price_cents"),
            )
        )

    v_old = view(o.where(F.col("o_orderkey") % 5 != 0))
    dv = view(o.where(F.col("o_orderkey") % 5 == 0))
    merged = (
        v_old.unionByName(dv)
        .groupBy("c_nationkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_price_cents").alias("sum_price_cents"),
        )
    )
    return merged.join(
        F.broadcast(n), merged["c_nationkey"] == n["n_nationkey"]
    ).select(
        "n_name",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("sum_price_cents").cast("long").alias("sum_price_cents"),
    )


@_q(
    "evt_selfjoin_size_estimate",
    f"""
    WITH k AS (SELECT CAST(user_id AS STRING) AS k FROM events),
    cells AS (
        SELECT r, bucket, count(*) AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {r} AS r, {_cms_bucket_sql(r, 'k', 1024)} AS bucket "
                f"FROM k" for r in range(4)
            )})
        GROUP BY r, bucket),
    est AS (SELECT min(s) AS cms_est
            FROM (SELECT r, sum(cnt * cnt) AS s FROM cells GROUP BY r)),
    ex AS (SELECT sum(n * n) AS f2
           FROM (SELECT count(*) AS n FROM k GROUP BY k))
    SELECT CAST(f2 AS BIGINT) AS exact_f2,
           CAST(cms_est AS BIGINT) AS cms_est,
           cms_est >= f2 AS never_underestimates,
           CAST((cms_est - f2) * 10000 // f2 AS BIGINT) AS overcount_bp
    FROM ex, est
    """,
)
def evt_selfjoin_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join size (second frequency moment F2) estimation from the
    count-min grid: est = min over rows of Σ_b cnt[r,b]² — the CMS
    inner-product estimator, whose one-sided guarantee (never an
    underestimate of Σ_u n_u²) ships as an oracle-asserted boolean with
    the actual overcount quantified.  THE cardinality primitive a cost
    model needs before committing to a join order at 100 TB: join size
    |A ⋈ B| is the same inner product between two grids, and grids
    merge by cell-wise addition, so per-partition sketches of a 100 TB
    fact combine without a second scan.  Evaluated on the honest hard
    case — a self-join over the skewed user_id frequency vector, where
    F2 is dominated by the heavy hitters.

    Same 4×1024 seeded-md5 grid as ``text_count_min_estimate`` (the
    repo's portable hash family), so the two sketches are one physical
    structure serving point counts AND join sizes."""
    D, W = 4, 1024
    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    bucket = lambda r: F.expr(  # noqa: E731
        f"CAST(conv(substring(md5(concat('{r}|', k)), 1, 5), 16, 10) "
        f"AS BIGINT) % {W}"
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(F.lit(r).alias("r"), bucket(r).alias("bucket"))
                for r in range(D)
            ]
        )
    ).alias("rb")
    cells = (
        e.select(rows)
        .select("rb.r", "rb.bucket")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    est = (
        cells.groupBy("r")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("s"))
        .agg(F.min("s").alias("cms_est"))
    )
    exact = (
        e.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).alias("f2"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        F.col("f2").cast("long").alias("exact_f2"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") >= F.col("f2")).alias("never_underestimates"),
        F.expr("CAST((cms_est - f2) * 10000 DIV f2 AS BIGINT)").alias(
            "overcount_bp"
        ),
    )


@_q(
    "cdc_join_view_zset_deletes",
    """
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderkey % 7 <> 0
    GROUP BY n.n_name
    """,
)
def cdc_join_view_zset_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-set (weighted-relation) view maintenance with DELETES: the
    insert-only delta rule of ``cdc_join_view_maintenance`` generalizes
    to deletions by carrying a weight column — inserts are +1 rows,
    deletes are -1 rows, and the SAME merge (sum the weighted counts
    and weighted measures) maintains the view through both.  Here the
    view is built from the full orders fact, then every 7th order
    arrives as a -1 retraction batch; the maintained result must equal
    the view over the never-deleted subset, which is exactly what the
    oracle computes from scratch.  The DBSP/differential-dataflow
    formulation in five DataFrame operators — no special delete path,
    no tombstone table, one shared merge.

    Scale notes (100 TB): identical shape to the insert-only rule —
    the retraction leg scans only the delete batch and broadcast-joins
    the dim; the merge stays a bounded nation-keyed rollup.  Weighted
    counts also make the view RE-DELETABLE: a group whose weight sum
    reaches zero drops out (filtered here, asserting no phantom
    groups)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def view(part: DataFrame, weight: int) -> DataFrame:
        return (
            part.join(c, part["o_custkey"] == c["c_custkey"])
            .groupBy("c_nationkey")
            .agg(
                (F.count(F.lit(1)) * weight).alias("w_orders"),
                (F.sum("cents") * weight).alias("w_cents"),
            )
        )

    base = view(o, +1)  # the full fact, as initially materialized
    retract = view(o.where(F.col("o_orderkey") % 7 == 0), -1)
    merged = (
        base.unionByName(retract)
        .groupBy("c_nationkey")
        .agg(
            F.sum("w_orders").alias("n_orders"),
            F.sum("w_cents").alias("sum_price_cents"),
        )
        .where(F.col("n_orders") > 0)  # zero-weight groups drop out
    )
    return merged.join(
        F.broadcast(n), merged["c_nationkey"] == n["n_nationkey"]
    ).select(
        "n_name",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("sum_price_cents").cast("long").alias("sum_price_cents"),
    )


@_q(
    "agg_join_size_estimate",
    f"""
    WITH ko AS (SELECT CAST(o_custkey AS STRING) AS k FROM orders),
    kc AS (SELECT CAST(c_custkey AS STRING) AS k
           FROM customer WHERE c_acctbal > 0),
    co AS (
        SELECT r, bucket, count(*) AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {r} AS r, {_cms_bucket_sql(r, 'k', 1024)} AS bucket "
                f"FROM ko" for r in range(4)
            )})
        GROUP BY r, bucket),
    cc AS (
        SELECT r, bucket, count(*) AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {r} AS r, {_cms_bucket_sql(r, 'k', 1024)} AS bucket "
                f"FROM kc" for r in range(4)
            )})
        GROUP BY r, bucket),
    est AS (SELECT min(s) AS cms_est FROM (
        SELECT co.r, sum(co.cnt * cc.cnt) AS s
        FROM co JOIN cc ON co.r = cc.r AND co.bucket = cc.bucket
        GROUP BY co.r)),
    ex AS (SELECT count(*) AS true_size
           FROM ko JOIN kc USING (k))
    SELECT CAST(true_size AS BIGINT) AS true_join_size,
           CAST(cms_est AS BIGINT) AS cms_est,
           cms_est >= true_size AS never_underestimates,
           CAST((cms_est - true_size) * 10000 // true_size AS BIGINT)
               AS overcount_bp
    FROM ex, est
    """,
)
def agg_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation between TWO relations from their count-min
    grids: |A ⋈_k B| is bounded above by min over rows of the
    inner product Σ_b cntA[r,b]·cntB[r,b] — the estimate a cost model
    reads BEFORE choosing a join strategy, computed from two
    independently-buildable, cell-wise-addable sketches without
    touching either fact again.  Evaluated against the exact join size
    (orders ⋈ positive-balance customers on custkey), with the
    one-sided guarantee asserted and the overcount quantified.

    Generalizes ``evt_selfjoin_size_estimate`` (A = B) and shares its
    4×1024 seeded-md5 grid; the two sketches join on (row, bucket) —
    ≤ 4096 cells a side, a broadcast-scale join however big the
    facts."""
    D, W = 4, 1024

    def grid(df: DataFrame) -> DataFrame:
        bucket = lambda r: F.expr(  # noqa: B023, E731
            f"CAST(conv(substring(md5(concat('{r}|', k)), 1, 5), 16, 10) "
            f"AS BIGINT) % {W}"
        )
        rows = F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), bucket(r).alias("bucket"))
                    for r in range(D)
                ]
            )
        ).alias("rb")
        return (
            df.select(rows)
            .select("rb.r", "rb.bucket")
            .groupBy("r", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    ko = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("k")
    )
    kc = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").cast("string").alias("k"))
    )
    co, cc = grid(ko), grid(kc)
    est = (
        co.join(
            cc.withColumnsRenamed({"cnt": "cnt_b"}), ["r", "bucket"]
        )
        .groupBy("r")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("s"))
        .agg(F.min("s").alias("cms_est"))
    )
    exact = ko.join(kc, "k").agg(F.count(F.lit(1)).alias("true_size"))
    return exact.crossJoin(F.broadcast(est)).select(
        F.col("true_size").cast("long").alias("true_join_size"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") >= F.col("true_size")).alias("never_underestimates"),
        F.expr(
            "CAST((cms_est - true_size) * 10000 DIV true_size AS BIGINT)"
        ).alias("overcount_bp"),
    )


@_q(
    "agg_weighted_join_size_estimate",
    f"""
    WITH wa AS (SELECT CAST(o_custkey AS STRING) AS k, count(*) AS w
                FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
    wb AS (SELECT CAST(o_custkey AS STRING) AS k, count(*) AS w
           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
    ga AS (
        SELECT r, bucket, sum(w) AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {r} AS r, {_cms_bucket_sql(r, 'k', 1024)} AS bucket, "
                f"w FROM wa" for r in range(4)
            )})
        GROUP BY r, bucket),
    gb AS (
        SELECT r, bucket, sum(w) AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {r} AS r, {_cms_bucket_sql(r, 'k', 1024)} AS bucket, "
                f"w FROM wb" for r in range(4)
            )})
        GROUP BY r, bucket),
    est AS (SELECT min(s) AS cms_est FROM (
        SELECT ga.r, sum(ga.cnt * gb.cnt) AS s
        FROM ga JOIN gb ON ga.r = gb.r AND ga.bucket = gb.bucket
        GROUP BY ga.r)),
    ex AS (SELECT coalesce(sum(wa.w * wb.w), 0) AS true_size
           FROM wa JOIN wb USING (k))
    SELECT CAST(true_size AS BIGINT) AS true_join_size,
           CAST(cms_est AS BIGINT) AS cms_est,
           cms_est >= true_size AS never_underestimates,
           CAST((cms_est - true_size) * 10000
                // greatest(true_size, 1) AS BIGINT) AS overcount_bp
    FROM ex, est
    """,
)
def agg_weighted_join_size_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Join-size bound for PRE-AGGREGATED relations: the count-min
    grids carry Σw per cell instead of row counts, so the sketch can
    be built from a (key, weight) rollup — catalog statistics, a
    partial aggregate, a retained summary — without ever unrolling
    back to fact rows.  The inner-product bound survives unchanged:
    with every weight ≥ 0, min over rows of Σ_b wA[r,b]·wB[r,b] ≥
    Σ_k wA(k)·wB(k), the exact output size of the UNROLLED equi-join
    (collisions only ever add cross terms).

    Evaluated here on open ⋈ fulfilled orders by customer: each side
    is the per-custkey order count under one status filter, the true
    size Σ cA(k)·cB(k) is the number of (open, fulfilled) same-
    customer order pairs, and the one-sided guarantee is asserted
    in-query.  Generalizes ``agg_join_size_estimate`` (all weights 1)
    on the same 4×1024 seeded-md5 grid — the three grid families
    (unweighted batch, weighted batch, streaming monitor) stay
    cell-wise mergeable.

    Scale notes: the weighted rollup is one map-side-combinable
    aggregation per side; grids are ≤4096 cells regardless of fact or
    rollup size; the exact leg exists only for evaluation."""
    D, W = 4, 1024

    def grid(df: DataFrame) -> DataFrame:
        rows = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.expr(
                            f"CAST(conv(substring(md5(concat('{r}|', k)), "
                            f"1, 5), 16, 10) AS BIGINT) % {W}"
                        ).alias("bucket"),
                    )
                    for r in range(D)
                ]
            )
        ).alias("rb")
        return (
            df.select(rows, "w")
            .select("rb.r", "rb.bucket", "w")
            .groupBy("r", "bucket")
            .agg(F.sum("w").alias("cnt"))
        )

    o = _t(spark, sf_dir, "orders")

    def side(status: str) -> DataFrame:
        return (
            o.where(F.col("o_orderstatus") == status)
            .groupBy(F.col("o_custkey").cast("string").alias("k"))
            .agg(F.count(F.lit(1)).alias("w"))
        )

    wa, wb = side("O"), side("F")
    ga, gb = grid(wa), grid(wb)
    est = (
        ga.join(
            gb.withColumnsRenamed({"cnt": "cnt_b"}), ["r", "bucket"]
        )
        .groupBy("r")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("s"))
        .agg(F.min("s").alias("cms_est"))
    )
    exact = (
        wa.join(wb.withColumnsRenamed({"w": "w_b"}), "k")
        .agg(
            F.coalesce(F.sum(F.col("w") * F.col("w_b")), F.lit(0)).alias(
                "true_size"
            )
        )
    )
    return exact.crossJoin(F.broadcast(est)).select(
        F.col("true_size").cast("long").alias("true_join_size"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") >= F.col("true_size")).alias("never_underestimates"),
        F.expr(
            "CAST((cms_est - true_size) * 10000 "
            "DIV greatest(true_size, 1) AS BIGINT)"
        ).alias("overcount_bp"),
    )


@_q(
    "dq_linkage_blocking_eval",
    f"""
    WITH {_LINK_SIDES_CTE},
    -- aggregate WITHOUT a group key: an empty candidate set (every
    -- block of every pass over the cap) must still yield ONE row
    -- with zeros, matching the Spark global agg + coalesce
    pa AS (SELECT count(*) AS n_pairs,
                  coalesce(sum(CASE WHEN ea = eb THEN 1 ELSE 0 END), 0)
                      AS n_true
           FROM cand),
    n AS (SELECT count(*) AS n_cust FROM customer)
    SELECT CAST(n_pairs AS BIGINT) AS n_candidate_pairs,
           CAST(n_true AS BIGINT) AS n_true_blocked,
           CAST(n_cust AS BIGINT) AS n_entities,
           CAST(10000 - n_pairs * 10000 // (n_cust * n_cust) AS BIGINT)
               AS reduction_ratio_bp,
           CAST(n_true * 10000 // n_cust AS BIGINT)
               AS pair_completeness_bp
    FROM pa, n
    """,
)
def dq_linkage_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality evaluation for the linkage family — the two IR
    metrics every blocking scheme is judged by, computed BEFORE any
    scoring: **reduction ratio** (how much of the |A|x|B| comparison
    space the blocks eliminate — here vs the nation+balance-bucket
    blocks with the 64-per-side cap) and **pair completeness** (what
    fraction of TRUE entity pairs share a block — the recall ceiling no
    scorer can exceed, eroded by rounding pushing a B record across a
    bucket edge or by the skew cap dropping a block).  The twin of
    ``doc_lsh_precision_eval`` for record linkage: candidates-only set
    arithmetic, never all-pairs — the |A|x|B| denominator is computed
    arithmetically from the side counts, not materialized.

    Scale notes (100 TB): the same multi-pass blocked equi-joins as
    ``dq_record_linkage`` minus the scoring projection; both metrics
    are one aggregation over the candidate pairs plus a 1-row entity
    count broadcast."""
    c, pairs = _linkage_candidates(spark, sf_dir)
    # coalesce: with EVERY block of every pass over the cap the
    # candidate set is empty and sum() is null — the blocking report
    # must still read (0 pairs, 0 true, reduction 10000 bp)
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(
            F.sum((F.col("entity_a") == F.col("entity_b")).cast("long")),
            F.lit(0),
        ).alias("n_true"),
    )
    n_cust = c.agg(F.count(F.lit(1)).alias("n_cust"))
    return agg.crossJoin(F.broadcast(n_cust)).select(
        F.col("n_pairs").cast("long").alias("n_candidate_pairs"),
        F.col("n_true").cast("long").alias("n_true_blocked"),
        F.col("n_cust").cast("long").alias("n_entities"),
        F.expr(
            "CAST(10000 - n_pairs * 10000 DIV (n_cust * n_cust) AS BIGINT)"
        ).alias("reduction_ratio_bp"),
        F.expr("CAST(n_true * 10000 DIV n_cust AS BIGINT)").alias(
            "pair_completeness_bp"
        ),
    )


@_q(
    "evt_count_min_deletes",
    f"""
    WITH k AS (
        -- insert-then-retract: EVERY event inserts with w=+1, and the
        -- retracted subset (event_id mod 3 = 0) folds in AGAIN with
        -- w=-1, so deletions cancel prior insertions cell-wise and the
        -- merged grid equals grid(survivors) exactly
        SELECT event_id, CAST(user_id AS STRING) AS k, 1 AS w FROM events
        UNION ALL
        SELECT event_id, CAST(user_id AS STRING) AS k, -1 AS w
        FROM events WHERE event_id % 3 = 0),
    cells AS (
        SELECT r, bucket, sum(w) AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {r} AS r, {_cms_bucket_sql(r, 'k', 1024)} AS bucket,"
                f" w FROM k" for r in range(4)
            )})
        GROUP BY r, bucket),
    live AS (SELECT CAST(user_id AS STRING) AS k FROM events
             WHERE event_id % 3 <> 0),
    ex AS (SELECT k, count(*) AS exact_n FROM live GROUP BY k),
    top AS (SELECT k, exact_n FROM ex
            ORDER BY exact_n DESC, k LIMIT 10),
    pb AS (
        {" UNION ALL ".join(
            f"SELECT k, exact_n, {r} AS r,"
            f" {_cms_bucket_sql(r, 'k', 1024)} AS bucket FROM top"
            for r in range(4)
        )}),
    est AS (SELECT pb.k, min(pb.exact_n) AS exact_n,
                   min(c.cnt) AS cms_est
            FROM pb JOIN cells c USING (r, bucket)
            GROUP BY pb.k)
    SELECT k AS user_key,
           CAST(exact_n AS BIGINT) AS exact_n,
           CAST(cms_est AS BIGINT) AS cms_est,
           cms_est >= exact_n AS never_underestimates,
           CAST(cms_est - exact_n AS BIGINT) AS overcount
    FROM est
    """,
)
def evt_count_min_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETABLE count-min sketch: the Z-set idea pushed into the grid
    itself — insertions add +1 to each row's cell, retractions add -1,
    and because a cell is a SUM, the merged grid after true deletions
    is exactly the grid of the surviving multiset.  The one-sided
    guarantee survives deletion (every colliding key contributes a
    net-nonnegative count), asserted per probe against exact counts of
    the survivors.  Here every 3rd event retracts; probes are the
    top-10 surviving users.

    Completes the deletable-structure story: views delete through the
    Z-set merge (``cdc_join_view_zset_deletes``), counting sketches
    delete through the same weighted-sum cells — one convention, no
    tombstones anywhere.

    Scale notes (100 TB): identical shape to
    ``text_count_min_estimate`` — one weighted map-side-combinable
    rollup into ≤4096 cells; retraction batches are just more rows
    with w=-1, so a CDC stream folds into the grid without a special
    path."""
    D, W = 4, 1024
    base = _t(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").cast("string").alias("k")
    )
    # insert-then-retract: every event folds in with w=+1; the
    # retracted subset folds in AGAIN with w=-1, cancelling its own
    # prior insertion so cells = grid(survivors) and the one-sided
    # guarantee holds (ADVICE r7: the old CASE form skipped the +1
    # insertion and produced grid(survivors) - grid(retracted))
    e = base.withColumn("w", F.lit(1)).unionAll(
        base.where(F.col("event_id") % 3 == 0).withColumn("w", F.lit(-1))
    )
    bucket = lambda r: F.expr(  # noqa: E731
        f"CAST(conv(substring(md5(concat('{r}|', k)), 1, 5), 16, 10) "
        f"AS BIGINT) % {W}"
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(F.lit(r).alias("r"), bucket(r).alias("bucket"))
                for r in range(D)
            ]
        )
    ).alias("rb")
    cells = (
        e.select("w", rows)
        .select("w", "rb.r", "rb.bucket")
        .groupBy("r", "bucket")
        .agg(F.sum("w").alias("cnt"))
    )
    live = base.where(F.col("event_id") % 3 != 0)
    ex = live.groupBy("k").agg(F.count(F.lit(1)).alias("exact_n"))
    top = ex.orderBy(F.col("exact_n").desc(), "k").limit(10)
    pb = top.select("k", "exact_n", rows).select(
        "k", "exact_n", "rb.r", "rb.bucket"
    )
    est = (
        pb.join(cells, ["r", "bucket"])
        .groupBy("k")
        .agg(
            F.min("exact_n").alias("exact_n"),
            F.min("cnt").alias("cms_est"),
        )
    )
    return est.select(
        F.col("k").alias("user_key"),
        F.col("exact_n").cast("long").alias("exact_n"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") >= F.col("exact_n")).alias("never_underestimates"),
        (F.col("cms_est") - F.col("exact_n")).cast("long").alias("overcount"),
    )


@_q(
    "plan_join_strategy_hook",
    f"""
    WITH ko AS (SELECT CAST(o_custkey AS STRING) AS k FROM orders),
    kc AS (SELECT CAST(c_custkey AS STRING) AS k
           FROM customer WHERE c_acctbal > 0),
    ga AS (
        SELECT r, bucket, count(*) AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {r} AS r, {_cms_bucket_sql(r, 'k', 1024)} AS bucket "
                f"FROM ko" for r in range(4)
            )}) GROUP BY r, bucket),
    gb AS (
        SELECT r, bucket, count(*) AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {r} AS r, {_cms_bucket_sql(r, 'k', 1024)} AS bucket "
                f"FROM kc" for r in range(4)
            )}) GROUP BY r, bucket),
    na AS (SELECT sum(cnt) AS rows_a FROM ga WHERE r = 0),
    nb AS (SELECT sum(cnt) AS rows_b FROM gb WHERE r = 0),
    est AS (SELECT min(s) AS join_size_bound FROM (
        SELECT ga.r, sum(ga.cnt * gb.cnt) AS s
        FROM ga JOIN gb USING (r, bucket) GROUP BY ga.r))
    SELECT CAST(coalesce(rows_a, 0) AS BIGINT) AS rows_a,
           CAST(coalesce(rows_b, 0) AS BIGINT) AS rows_b,
           CAST(coalesce(join_size_bound, 0) AS BIGINT) AS join_size_bound,
           CAST(5000 AS BIGINT) AS broadcast_threshold_rows,
           least(coalesce(rows_a, 0), coalesce(rows_b, 0)) <= 5000
               AS broadcast_smaller,
           CASE WHEN coalesce(rows_a, 0) <= coalesce(rows_b, 0)
                THEN 'a' ELSE 'b' END AS smaller_side
    FROM na, nb, est
    """,
)
def plan_join_strategy_hook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-size-estimation family consumed as a COST MODEL
    (operators/costmodel.py): the 1-row planning record a sketch-driven
    planner reads before choosing broadcast vs shuffle for
    orders ⋈ positive-balance customers — exact side cardinalities off
    the grids (each key adds 1 to every row, so one row's cnt-sum is
    |side|), the CMS upper bound on the join output, and the decision
    under a 5000-row broadcast threshold.  The eager twin
    (``costmodel.plan_equijoin``) applies the decision as an actual
    ``broadcast()`` hint — pytest asserts the resulting physical plans;
    this registered form keeps the arithmetic itself under the value
    oracle.

    Scale notes (100 TB): two one-pass map-side-combined grid builds
    (≤4096 cells a side), one broadcast-scale cell join, three 1-row
    aggregates — the facts are each scanned once, never joined."""
    from ..operators import costmodel

    ga = costmodel.key_cms_grid(
        _t(spark, sf_dir, "orders"), "o_custkey"
    )
    gb = costmodel.key_cms_grid(
        _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 0),
        "c_custkey",
    )
    return costmodel.join_plan_stats(ga, gb, broadcast_threshold_rows=5000)


def _cms_grid_ctes(name: str, source: str) -> str:
    """DuckDB CTE text for a 4×1024 count-min key grid over ``source``
    (must yield a string column ``k``) — the key_cms_grid twin."""
    legs = " UNION ALL ".join(
        f"SELECT {r} AS r, {_cms_bucket_sql(r, 'k', 1024)} AS bucket "
        f"FROM {source}"
        for r in range(4)
    )
    return (
        f"{name} AS (SELECT r, bucket, count(*) AS cnt FROM ({legs}) "
        f"GROUP BY r, bucket)"
    )


@_q(
    "plan_join_order_3way",
    f"""
    WITH kc AS (SELECT CAST(c_custkey AS STRING) AS k FROM customer
                WHERE c_acctbal > 5000),
    ko1 AS (SELECT CAST(o_custkey AS STRING) AS k FROM orders),
    ko2 AS (SELECT CAST(o_orderkey AS STRING) AS k FROM orders),
    kl AS (SELECT CAST(l_orderkey AS STRING) AS k FROM lineitem
           WHERE year(l_shipdate) = 1996),
    {_cms_grid_ctes("gc", "kc")},
    {_cms_grid_ctes("go1", "ko1")},
    {_cms_grid_ctes("go2", "ko2")},
    {_cms_grid_ctes("gl", "kl")},
    eco AS (SELECT min(s) AS est_co FROM (
        SELECT gc.r, sum(gc.cnt * go1.cnt) AS s
        FROM gc JOIN go1 ON go1.r = gc.r AND go1.bucket = gc.bucket
        GROUP BY gc.r)),
    eol AS (SELECT min(s) AS est_ol FROM (
        SELECT go2.r, sum(go2.cnt * gl.cnt) AS s
        FROM go2 JOIN gl ON gl.r = go2.r AND gl.bucket = go2.bucket
        GROUP BY go2.r)),
    xco AS (SELECT count(*) AS ex_co
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
            WHERE c.c_acctbal > 5000),
    xol AS (SELECT count(*) AS ex_ol
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE year(l.l_shipdate) = 1996),
    fin AS (SELECT count(*) AS final_size
            FROM customer c
            JOIN orders o ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_acctbal > 5000 AND year(l.l_shipdate) = 1996)
    SELECT join_order,
           CAST(est_intermediate AS BIGINT) AS est_intermediate,
           CAST(exact_intermediate AS BIGINT) AS exact_intermediate,
           est_intermediate >= exact_intermediate AS bound_holds,
           chosen,
           CAST(final_size AS BIGINT) AS final_size
    FROM (
      SELECT 'c_join_o_first' AS join_order, est_co AS est_intermediate,
             ex_co AS exact_intermediate, est_co <= est_ol AS chosen,
             final_size
      FROM eco, eol, xco, fin
      UNION ALL
      SELECT 'o_join_l_first', est_ol, ex_ol, est_ol < est_co, final_size
      FROM eco, eol, xol, fin)
    """,
)
def plan_join_order_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven JOIN-ORDER enumeration — the step after
    plan_join_strategy_hook's broadcast-vs-shuffle choice: for the
    3-relation chain  customer(filtered) ⋈ orders ⋈ lineitem(filtered)
    both left-deep orders are costed by their intermediate-result
    upper bound (``costmodel.cms_join_bound`` — min-of-inner-products
    over the key grids, one per candidate), the smaller bound wins
    (tie → first), and the oracle checks the one-sided guarantee
    against BOTH exact intermediates plus the (order-invariant) final
    size.  This is the classical Selinger enumeration with sketch
    cardinalities instead of table stats — the decision a 100-TB
    optimizer must make before any byte shuffles, here auditable
    because every estimate is deterministic integer arithmetic.

    Scale notes: four ≤4096-cell grids (one map-side rollup each),
    bounds are grid⋈grid inner products; the exact legs are the EVAL
    side (dropped in production, where the chosen order just runs).
    1-row crosses are the allowlisted scalar-broadcast shape."""
    from ..operators import costmodel

    c = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000)
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.year("l_shipdate") == 1996)
    gc = costmodel.key_cms_grid(c, "c_custkey")
    go1 = costmodel.key_cms_grid(o, "o_custkey")
    go2 = costmodel.key_cms_grid(o, "o_orderkey")
    gl = costmodel.key_cms_grid(li, "l_orderkey")
    est_co = costmodel.cms_join_bound(gc, go1).withColumnRenamed(
        "est", "est_co"
    )
    est_ol = costmodel.cms_join_bound(go2, gl).withColumnRenamed(
        "est", "est_ol"
    )
    ex_co = c.join(o, c.c_custkey == o.o_custkey).agg(
        F.count(F.lit(1)).alias("ex_co")
    )
    ex_ol = o.join(li, o.o_orderkey == li.l_orderkey).agg(
        F.count(F.lit(1)).alias("ex_ol")
    )
    fin = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .agg(F.count(F.lit(1)).alias("final_size"))
    )
    one = (
        est_co.crossJoin(F.broadcast(est_ol))
        .crossJoin(F.broadcast(ex_co))
        .crossJoin(F.broadcast(ex_ol))
        .crossJoin(F.broadcast(fin))
    )
    rows = one.select(
        F.expr(
            "inline(array("
            "struct('c_join_o_first' AS join_order, "
            "       est_co AS est_intermediate, "
            "       ex_co AS exact_intermediate, "
            "       est_co <= est_ol AS chosen), "
            "struct('o_join_l_first' AS join_order, "
            "       est_ol AS est_intermediate, "
            "       ex_ol AS exact_intermediate, "
            "       est_ol < est_co AS chosen)))"
        ),
        "final_size",
    )
    return rows.select(
        "join_order",
        F.col("est_intermediate").cast("long").alias("est_intermediate"),
        F.col("exact_intermediate")
        .cast("long")
        .alias("exact_intermediate"),
        (F.col("est_intermediate") >= F.col("exact_intermediate")).alias(
            "bound_holds"
        ),
        "chosen",
        F.col("final_size").cast("long").alias("final_size"),
    )


@_q(
    "files_compaction_plan",
    """
    WITH f AS (SELECT o_orderdate AS d,
                      CAST(count(*) * 120 AS BIGINT) AS size_bytes
               FROM orders GROUP BY 1),
    c AS (SELECT d, size_bytes,
                 CAST(coalesce(sum(size_bytes) OVER (
                     ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS before
          FROM f)
    SELECT CAST(before // 4096 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           strftime(min(d), '%Y-%m-%d') AS first_day,
           strftime(max(d), '%Y-%m-%d') AS last_day
    FROM c GROUP BY 1
    """,
)
def files_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (operators/layout.py
    ``compaction_plan``): daily micro-batch ingest leaves one file per
    order date (~120 bytes/row); the planner walks the inventory in
    date order and first-fits adjacent files into ~4 KiB bins —
    ``bin = exclusive_prefix_bytes DIV target`` — so each bin merges a
    CONTIGUOUS date range and the table's time clustering survives the
    rewrite.  Output is the per-bin work list (file count, bytes, date
    span) a rewrite job executes.

    Scale notes: the inventory is one row per FILE, but the prefix sum
    still runs the distributed range-shuffle decomposition
    (operators/prefix.py) — no single-partition window even on a 10⁸-
    file inventory; the rollup is a hash aggregation on the bin key."""
    files = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg((F.count(F.lit(1)) * 120).cast("long").alias("size_bytes"))
    )
    plan = layout.compaction_plan(files, "d", "size_bytes", 4096)
    return plan.select(
        "bin",
        "n_files",
        "total_bytes",
        F.date_format("first_key", "yyyy-MM-dd").alias("first_day"),
        F.date_format("last_key", "yyyy-MM-dd").alias("last_day"),
    )


@_q(
    "files_compaction_incremental",
    """
    WITH f AS (SELECT o_orderdate AS d,
                      CAST(count(*) * 120 AS BIGINT) AS size_bytes
               FROM orders GROUP BY 1),
    e1 AS (SELECT d, size_bytes,
                  CAST(coalesce(sum(size_bytes) OVER (
                      ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) // 4096 AS BIGINT) AS lbin
           FROM f WHERE d < DATE '1996-01-01'),
    e1top AS (SELECT max(lbin) AS open1 FROM e1),
    c1 AS (SELECT lbin, CAST(count(*) AS BIGINT) AS n_files,
                  CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
                  min(d) AS dmin, max(d) AS dmax
           FROM e1, e1top WHERE lbin < open1 GROUP BY lbin),
    c1n AS (SELECT CAST(dense_rank() OVER (ORDER BY lbin) - 1 AS BIGINT)
                       AS bin, n_files, total_bytes, dmin, dmax
            FROM c1),
    n1 AS (SELECT CAST(count(*) AS BIGINT) AS emitted FROM c1n),
    pend AS (SELECT d, size_bytes FROM e1, e1top WHERE lbin = open1),
    u2 AS (SELECT d, size_bytes FROM pend
           UNION ALL
           SELECT d, size_bytes FROM f WHERE d >= DATE '1996-01-01'),
    e2 AS (SELECT d, size_bytes,
                  CAST(coalesce(sum(size_bytes) OVER (
                      ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) // 4096 AS BIGINT) AS lbin
           FROM u2),
    e2top AS (SELECT max(lbin) AS open2 FROM e2),
    c2 AS (SELECT lbin, CAST(count(*) AS BIGINT) AS n_files,
                  CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
                  min(d) AS dmin, max(d) AS dmax
           FROM e2, e2top WHERE lbin < open2 GROUP BY lbin),
    c2n AS (SELECT CAST(dense_rank() OVER (ORDER BY lbin) - 1 AS BIGINT)
                       + (SELECT emitted FROM n1) AS bin,
                   n_files, total_bytes, dmin, dmax
            FROM c2),
    tail AS (SELECT (SELECT emitted FROM n1)
                        + (SELECT CAST(count(*) AS BIGINT) FROM c2n)
                        AS bin,
                    CAST(count(*) AS BIGINT) AS n_files,
                    CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
                    min(d) AS dmin, max(d) AS dmax
             FROM e2, e2top WHERE lbin = open2)
    SELECT CAST(1 AS INTEGER) AS epoch, 'closed' AS status, bin, n_files,
           total_bytes, strftime(dmin, '%Y-%m-%d') AS first_day,
           strftime(dmax, '%Y-%m-%d') AS last_day
    FROM c1n
    UNION ALL
    SELECT CAST(2 AS INTEGER), 'closed', bin, n_files, total_bytes,
           strftime(dmin, '%Y-%m-%d'), strftime(dmax, '%Y-%m-%d')
    FROM c2n
    UNION ALL
    SELECT CAST(2 AS INTEGER), 'open', bin, n_files, total_bytes,
           strftime(dmin, '%Y-%m-%d'), strftime(dmax, '%Y-%m-%d')
    FROM tail
    """,
)
def files_compaction_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL compaction maintenance made driver-checkable: the
    daily-orders file inventory splits into two ingest epochs (dates
    before / from 1996), each folded through ``layout.compaction_step``
    — the exact arithmetic the streaming maintenance job
    (streaming/job.py streaming_compaction_maintenance) runs per
    micro-batch: epoch 1 closes every bin but its open tail, epoch 2
    folds that tail in front of its own inventory and continues the
    GLOBAL bin numbering; the final open tail is reported as the one
    'open' row so byte conservation is visible in the result.

    The oracle replays both epochs' prefix sums, the open-tail split,
    the dense renumbering, and the id continuation — pinning the
    streaming leg's state-fold semantics under the value hash, not
    just pytest.

    Scale notes: inventories are metadata rows; both epochs use the
    distributed prefix decomposition (operators/prefix.py); splits are
    1-row max crosses; rollups are hash aggregations."""
    f = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg((F.count(F.lit(1)) * 120).cast("long").alias("size_bytes"))
        .localCheckpoint(eager=False)
    )
    cut = F.col("d") < F.lit("1996-01-01").cast("timestamp")
    closed1, pend1 = layout.compaction_step(
        None, f.where(cut), "d", "size_bytes", 4096
    )
    closed1 = closed1.localCheckpoint(eager=False)
    closed2, pend2 = layout.compaction_step(
        pend1, f.where(~cut), "d", "size_bytes", 4096
    )
    n1 = closed1.agg(F.count(F.lit(1)).cast("long").alias("_n1"))
    n2 = closed2.agg(F.count(F.lit(1)).cast("long").alias("_n2"))

    def fmt(df, epoch, status):
        return df.select(
            F.lit(epoch).cast("int").alias("epoch"),
            F.lit(status).alias("status"),
            F.col("bin"),
            "n_files",
            "total_bytes",
            F.date_format("first_key", "yyyy-MM-dd").alias("first_day"),
            F.date_format("last_key", "yyyy-MM-dd").alias("last_day"),
        )

    tail = pend2.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("size_bytes").cast("long").alias("total_bytes"),
        F.min("d").alias("first_key"),
        F.max("d").alias("last_key"),
    )
    out1 = fmt(closed1, 1, "closed")
    out2 = fmt(
        closed2.crossJoin(F.broadcast(n1)).withColumn(
            "bin", F.col("bin") + F.col("_n1")
        ),
        2,
        "closed",
    )
    out3 = fmt(
        tail.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .withColumn("bin", F.col("_n1") + F.col("_n2")),
        2,
        "open",
    )
    return out1.unionByName(out2).unionByName(out3)


def _lifecycle_oracle() -> str:
    """Composition oracle for files_lifecycle: the hilbert CTE chain
    (shared builder), the two-epoch incremental-compaction fold (the
    files_compaction_incremental arithmetic re-keyed on the curve
    value), and the min-max span audit over BOTH physical generations."""
    hb_ctes, hb_final = layout.hilbert_ctes(
        "SELECT x, y, epoch, x AS hx, y AS hy FROM flsrc", bits=8
    )
    return f"""
    WITH flsrc AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y,
                          l_orderkey % 2 AS epoch
                   FROM lineitem),
    {", ".join(hb_ctes)},
    flr AS (SELECT x, y, epoch, hv,
                   CAST(hv * 48 // 65536 AS BIGINT) AS fh
            FROM {hb_final}),
    flf AS (SELECT epoch, fh,
                   CAST(count(*) * 100 AS BIGINT) AS size_bytes,
                   min(hv) * 2 + epoch AS k
            FROM flr GROUP BY 1, 2),
    fle1 AS (SELECT *, CAST(coalesce(sum(size_bytes) OVER (
                 ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) // 1048576 AS BIGINT) AS lbin
             FROM flf WHERE epoch = 0),
    fle1t AS (SELECT max(lbin) AS open1 FROM fle1),
    flc1 AS (SELECT epoch, fh,
                    CAST(dense_rank() OVER (ORDER BY lbin) - 1 AS BIGINT)
                        AS gbin
             FROM fle1, fle1t WHERE lbin < open1),
    fln1 AS (SELECT CAST(count(DISTINCT gbin) AS BIGINT) AS emitted
             FROM flc1),
    flu2 AS (SELECT epoch, fh, size_bytes, k FROM fle1, fle1t
             WHERE lbin = open1
             UNION ALL
             SELECT epoch, fh, size_bytes, k FROM flf WHERE epoch = 1),
    fle2 AS (SELECT *, CAST(coalesce(sum(size_bytes) OVER (
                 ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) // 1048576 AS BIGINT) AS lbin
             FROM flu2),
    fle2t AS (SELECT max(lbin) AS open2 FROM fle2),
    flc2 AS (SELECT epoch, fh,
                    CAST(dense_rank() OVER (ORDER BY lbin) - 1 AS BIGINT)
                        + (SELECT emitted FROM fln1) AS gbin
             FROM fle2, fle2t WHERE lbin < open2),
    fltl AS (SELECT epoch, fh,
                    (SELECT emitted FROM fln1)
                        + (SELECT CAST(count(DISTINCT gbin) AS BIGINT)
                           FROM flc2) AS gbin
             FROM fle2, fle2t WHERE lbin = open2),
    flfb AS (SELECT * FROM flc1 UNION ALL SELECT * FROM flc2
             UNION ALL SELECT * FROM fltl),
    flasg AS (SELECT r.x, r.y, r.epoch * 48 + r.fh AS sfile, fb.gbin
              FROM flr r JOIN flfb fb
                ON fb.epoch = r.epoch AND fb.fh = r.fh),
    flst AS (
      SELECT 'ingest_small' AS layout, 'partkey' AS dim,
             sfile AS file_id, x AS val FROM flasg
      UNION ALL SELECT 'ingest_small', 'suppkey', sfile, y FROM flasg
      UNION ALL SELECT 'compacted', 'partkey', gbin, x FROM flasg
      UNION ALL SELECT 'compacted', 'suppkey', gbin, y FROM flasg),
    fldom AS (SELECT max(x) - min(x) + 1 AS dom_partkey,
                     max(y) - min(y) + 1 AS dom_suppkey FROM flasg),
    flpf AS (SELECT layout, dim, file_id, min(val) AS lo, max(val) AS hi,
                    count(*) AS nr
             FROM flst GROUP BY 1, 2, 3)
    SELECT layout, dim, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(hi - lo + 1) AS BIGINT) AS span_sum,
           CAST(sum(hi - lo + 1) * 10000 // (CASE WHEN dim = 'partkey'
                THEN fldom.dom_partkey ELSE fldom.dom_suppkey END)
                AS BIGINT) AS expected_files_hit_bp,
           CAST(sum(nr) AS BIGINT) AS n_rows
    FROM flpf, fldom
    GROUP BY layout, dim, fldom.dom_partkey, fldom.dom_suppkey
    """


@_q("files_lifecycle", _lifecycle_oracle())
def files_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PHYSICAL-LAYOUT LIFECYCLE a 100-TB table runs nightly,
    composed end-to-end from the round-9 pieces (the r9 verdict ask):
    two micro-batch ingest epochs land Hilbert-ordered small files
    (operators/layout.with_hilbert — the broadcast-lookup curve index,
    48 hv-range files per epoch, exactly what write_hilbert_ordered
    materializes), the incremental compaction maintenance job folds
    them through ``layout.compaction_step_detail`` (epoch 1 closes
    every ~1 MiB bin but its open tail; epoch 2 folds that tail in
    front of its own inventory and continues the global bin
    numbering; the final open tail becomes the last file), and the
    min-max pruning advisor then prices BOTH physical generations —
    the 96 pre-compaction small files vs the compacted bins — per
    dimension, with ``n_rows`` as the cross-generation conservation
    witness (compaction must account for every row; so must the
    Hilbert join — the left-join regression guard).

    The hash pins the whole lifecycle: the curve index (a hv drift
    moves file spans), the first-fit fold (a bin-boundary drift moves
    n_files), the global renumbering, the open-tail carry, and the
    span arithmetic.

    Scale notes (100 TB): the fact side pays one broadcast-lookup
    hash join (curve index) + one hash agg (file inventory) + one
    metadata broadcast join (file→bin map, ≤96 rows here, ≤ files-
    per-maintenance-cycle in production) + one explode/agg span
    audit; the compaction fold itself runs entirely on METADATA rows
    through the distributed prefix decomposition (operators/
    prefix.py).  1-row count crosses are the allowlisted scalar-
    broadcast convention.  No windows on fact rows, no collects."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.expr("l_partkey % 256").alias("x"),
        F.expr("l_suppkey % 256").alias("y"),
        F.expr("CAST(l_orderkey % 2 AS BIGINT)").alias("epoch"),
    )
    h = layout.with_hilbert(li, "x", "y", out="hv", bits=8)
    r = h.withColumn(
        "fh", F.expr("CAST(hv * 48 DIV 65536 AS BIGINT)")
    ).localCheckpoint(eager=False)  # feeds inventory AND span audit
    inv = (
        r.groupBy("epoch", "fh")
        .agg(
            (F.count(F.lit(1)) * 100).cast("long").alias("size_bytes"),
            F.min("hv").alias("_mh"),
        )
        .withColumn("k", (F.col("_mh") * 2 + F.col("epoch")).cast("long"))
        .drop("_mh")
        .localCheckpoint(eager=False)
    )
    _c1, files1, pend1 = layout.compaction_step_detail(
        None, inv.where(F.col("epoch") == 0), "k", "size_bytes", 1 << 20
    )
    _c1 = _c1.localCheckpoint(eager=False)
    _c2, files2, pend2 = layout.compaction_step_detail(
        pend1, inv.where(F.col("epoch") == 1), "k", "size_bytes", 1 << 20
    )
    n1 = _c1.agg(F.count(F.lit(1)).cast("long").alias("_n1"))
    n2 = _c2.agg(F.count(F.lit(1)).cast("long").alias("_n2"))
    g1 = files1.select("epoch", "fh", F.col("bin").alias("gbin"))
    g2 = (
        files2.crossJoin(F.broadcast(n1))
        .select("epoch", "fh", (F.col("bin") + F.col("_n1")).alias("gbin"))
    )
    gt = (
        pend2.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select("epoch", "fh", (F.col("_n1") + F.col("_n2")).alias("gbin"))
    )
    filebin = g1.unionByName(g2).unionByName(gt)
    asg = r.join(F.broadcast(filebin), ["epoch", "fh"])
    return layout.layout_pruning_stats(
        asg,
        assignments=[
            (
                "ingest_small",
                "partkey",
                F.col("epoch") * 48 + F.col("fh"),
                F.col("x"),
            ),
            (
                "ingest_small",
                "suppkey",
                F.col("epoch") * 48 + F.col("fh"),
                F.col("y"),
            ),
            ("compacted", "partkey", F.col("gbin"), F.col("x")),
            ("compacted", "suppkey", F.col("gbin"), F.col("y")),
        ],
        domains=["partkey", "suppkey"],
        include_rows=True,
    )


def _phash_ctes() -> list[str]:
    """CTE list shared by the mm_image_phash_groups oracle and the
    curation-v6 composition: the closed-form variant-pixel corpus
    reduced to a per-document perceptual hash at CTE ``ph``
    (doc_id, width, height, checksum, phash) — kept in ONE builder so
    the standalone query and the composed pipeline cannot drift."""
    return [
        """m AS (SELECT doc_id, doc_id % 64 AS cls,
                      CAST(8 + (doc_id % 64) % 9 AS BIGINT) AS w,
                      CAST(8 + ((doc_id % 64) * 5) % 7 AS BIGINT) AS h
               FROM documents)""",
        """b AS (SELECT m.doc_id, m.w, m.h, g.j,
                 ((g.j // 3) // m.w) * 4 // m.h AS gi,
                 ((g.j // 3) % m.w) * 4 // m.w AS gj,
                 CASE WHEN (((g.j // 3) // m.w) * 4 // m.h
                            + ((g.j // 3) % m.w) * 4 // m.w
                            + m.cls) % 2 = 0 THEN 200 ELSE 40 END
                 + (m.doc_id * 31 + (g.j // 3) * 11 + (g.j % 3) * 13) % 7
                 - 3 AS byte
          FROM m JOIN generate_series(0, 16*14*3 - 1) AS g(j)
            ON g.j < m.w * m.h * 3)""",
        """cell AS (SELECT doc_id, w, h, gi, gj,
                    CAST(sum(byte) AS BIGINT) AS cell_sum,
                    CAST(count(*) // 3 AS BIGINT) AS cell_pix
             FROM b GROUP BY doc_id, w, h, gi, gj)""",
        """tot AS (SELECT doc_id, CAST(sum(byte) AS BIGINT) AS total_sum,
                   CAST(sum(byte * (j + 1)) AS BIGINT) AS checksum
            FROM b GROUP BY doc_id)""",
        """ph AS (SELECT c.doc_id, c.w AS width, c.h AS height, t.checksum,
                  CAST(sum(CASE WHEN c.cell_sum * c.w * c.h >
                                     t.total_sum * c.cell_pix
                           THEN 1 << CAST(c.gi * 4 + c.gj AS INTEGER)
                           ELSE 0 END) AS BIGINT) AS phash
           FROM cell c JOIN tot t USING (doc_id)
           GROUP BY c.doc_id, c.w, c.h, t.checksum)""",
    ]


def _phash_oracle() -> str:
    return (
        "WITH " + ", ".join(_phash_ctes()) + " SELECT width, height, "
        "phash, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(count(DISTINCT checksum) AS BIGINT) AS n_variants, "
        "CAST(min(doc_id) AS BIGINT) AS min_doc_id "
        "FROM ph GROUP BY width, height, phash"
    )


def _importance_ctes() -> list[str]:
    """CTE list shared by the doc_importance_weights oracle and the
    curation-v6 composition, ending in the per-document weight rollup
    at CTE ``iw`` (doc_id, n_tokens, sum_ratio_bp, avg_ratio_bp).
    Names are iw_-prefixed so the family composes with any other CTE
    chain without collision."""
    return [
        """iw_t AS (SELECT doc_id, lang = 'en' AS is_tgt,
                         unnest(string_split(text, ' ')) AS tok
                  FROM documents)""",
        """iw_b AS (SELECT doc_id, is_tgt,
                 CAST((strpos('0123456789abcdef', md5('97|' || tok)[1]) - 1)
                      * 16
                    + (strpos('0123456789abcdef', md5('97|' || tok)[2]) - 1)
                    AS BIGINT) AS bucket
          FROM iw_t)""",
        """iw_src AS (SELECT bucket, CAST(count(*) AS BIGINT) AS src_cnt
            FROM iw_b GROUP BY 1)""",
        """iw_tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tgt_cnt
            FROM iw_b WHERE is_tgt GROUP BY 1)""",
        """iw_s AS (SELECT CAST(count(*) AS BIGINT) AS src_tot,
                 CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT)
                     AS tgt_tot
          FROM iw_b)""",
        """iw_sc AS (SELECT iw_b.doc_id,
                  CAST((coalesce(iw_tgt.tgt_cnt, 0) * 256 + iw_s.tgt_tot)
                       * iw_s.src_tot * 10000
                       // ((coalesce(iw_src.src_cnt, 0) * 256
                            + iw_s.src_tot) * iw_s.tgt_tot) AS BIGINT)
                      AS ratio_bp
           FROM iw_b JOIN iw_src USING (bucket)
           LEFT JOIN iw_tgt USING (bucket) CROSS JOIN iw_s)""",
        """iw AS (SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(ratio_bp) AS BIGINT) AS sum_ratio_bp,
                 CAST(sum(ratio_bp) // count(*) AS BIGINT) AS avg_ratio_bp
          FROM iw_sc GROUP BY doc_id)""",
    ]


def _importance_oracle() -> str:
    return (
        "WITH " + ", ".join(_importance_ctes())
        + " SELECT doc_id, n_tokens, sum_ratio_bp, avg_ratio_bp FROM iw"
    )


@_q("mm_image_phash_groups", _phash_oracle())
def mm_image_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (average-hash) image dedup over REAL decoded pixels
    — the multimodal leg of near-duplicate detection.  The corpus
    (multimodal.media_with_image_variants) gives documents in the same
    class identical low-frequency content with per-document pixel
    noise, i.e. re-encoded/retouched duplicates; extract_image_phash
    decodes each BMP/PPM, pools luminance into a 4x4 block grid, and
    sets bit k iff that block outshines the image mean —
    integer-exact via cross-multiplication, so the oracle reproduces
    the hash from the closed-form byte pattern without any decoder.
    Groups on (width, height, phash) collapse the near-dups with
    ``n_variants`` distinct checksums proving exact dedup would have
    missed them.

    Scale notes: hashing is one Arrow crossing per batch; grouping is
    a plain hash aggregation — NO pairwise comparison at any scale
    (the banded-LSH property, delivered here by the hash itself)."""
    media = multimodal.media_with_image_variants(
        _t(spark, sf_dir, "documents")
    )
    return multimodal.phash_dup_groups(media)


@_q("doc_importance_weights", _importance_oracle())
def doc_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-targeted data selection by hashed importance weights
    (operators/text.py importance_weights — the DSIR recipe, Xie et
    al. 2023): score every document by the integer-exact log-ratio of
    its hashed-unigram likelihood under the TARGET domain (here the
    ``lang = 'en'`` slice) vs the raw corpus.  High scores = looks
    like the target; a curation pipeline resamples by these weights
    to shift a 100-TB crawl toward a domain with only two bounded
    count models.

    Scale notes: one tokenized scan; the two count models are ≤256-row
    broadcast tables plus a 1-row totals cross; per-doc rollup is a
    hash aggregation.  No windows, no collects."""
    from ..operators.text import importance_weights

    return importance_weights(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )


def _curation_v6_oracle() -> str:
    """Composition oracle: the perceptual-hash and importance-weight
    CTE families joined into the v6 multimodal curation labeling."""
    ctes = _phash_ctes() + _importance_ctes() + [
        """pk AS (SELECT width, height, phash, min(doc_id) AS keep_id
           FROM ph GROUP BY width, height, phash)""",
        """lab6 AS (SELECT d.source,
                  CASE WHEN p.doc_id <> pk.keep_id THEN 'dup_image'
                       WHEN coalesce(iw.avg_ratio_bp, 0) < 10000
                           THEN 'off_domain'
                       ELSE 'kept' END AS status,
                  coalesce(iw.n_tokens, 0) AS toks
           FROM documents d
           JOIN ph p ON d.doc_id = p.doc_id
           JOIN pk ON p.width = pk.width AND p.height = pk.height
                  AND p.phash = pk.phash
           LEFT JOIN iw ON d.doc_id = iw.doc_id)""",
    ]
    return (
        "WITH " + ", ".join(ctes) + " SELECT source, status, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(toks) AS BIGINT) AS sum_tokens "
        "FROM lab6 GROUP BY source, status"
    )


@_q("pipeline_corpus_curation_v6", _curation_v6_oracle())
def pipeline_corpus_curation_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v6 — the late-round-8 operator set composed into ONE
    multimodal labeling plan: perceptual-hash image dedup (byte-
    distinct re-encodes collapse to their group keeper, min-doc-id
    convention) → DSIR importance gate (documents whose hashed-unigram
    weight falls below the 10000 bp corpus-even line are off-domain)
    → per-source token pricing of each status bucket.  dup_image beats
    off_domain (a doc failing both bills to the earlier stage — the
    v5 dashboard convention), and the rollup is what a mixture-weight
    planner consumes for a multimodal corpus.

    Scale notes (100 TB): the image leg is one Arrow crossing + a
    keeper hash-agg joined back on the (w, h, phash) group key; the
    text leg is the two bounded 256-row count models; the label join
    is doc_id-co-partitioned.  No windows, no pairwise stages — the
    composition inherits each family's audited plan shape."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.media_with_image_variants(docs)
    # lazy checkpoint: the hash feeds both the keeper rollup and the
    # label join — without it the Arrow decode stage runs twice
    ph = multimodal.extract_image_phash(media).localCheckpoint(eager=False)
    keeper = ph.groupBy("width", "height", "phash").agg(
        F.min("doc_id").alias("keep_id")
    )
    img = ph.join(keeper, ["width", "height", "phash"]).select(
        "doc_id", "keep_id"
    )
    iw = text.importance_weights(docs, F.col("lang") == "en")
    lab = (
        docs.select("doc_id", "source")
        .join(img, "doc_id")
        .join(
            iw.select("doc_id", "n_tokens", "avg_ratio_bp"),
            "doc_id",
            "left",
        )
        .select(
            "source",
            F.when(F.col("doc_id") != F.col("keep_id"), "dup_image")
            .when(
                F.coalesce(F.col("avg_ratio_bp"), F.lit(0)) < 10000,
                "off_domain",
            )
            .otherwise("kept")
            .alias("status"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("toks"),
        )
    )
    return lab.groupBy("source", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("sum_tokens"),
    )


def _curation_v7_oracle() -> str:
    """Composition oracle: the MinHash-LSH pair family (shared
    constants), the holdout-split labeling, and the chunking CTEs
    (shared builder) joined into the v7 publication rollup."""
    ctes = [
        _SHINGLE_CTE.strip(),
        f"sig AS (SELECT doc_id, {_MINHASH_SIG} FROM sh GROUP BY doc_id)",
        f"bands AS MATERIALIZED ({_MINHASH_BANDS})",
        """pairs AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id)""",
        """v7_sp AS (SELECT doc_id, lang, doc_id % 5 = 0 AS is_test
           FROM documents)""",
        "v7_dup AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)",
        """v7_leak AS (SELECT DISTINCT CASE WHEN sa.is_test THEN p.doc_a
                                    ELSE p.doc_b END AS doc_id
            FROM pairs p
            JOIN v7_sp sa ON sa.doc_id = p.doc_a
            JOIN v7_sp sb ON sb.doc_id = p.doc_b
            WHERE sa.is_test <> sb.is_test)""",
        """v7_lab AS (SELECT d.doc_id, d.text, sp.lang, sp.is_test,
                  CASE WHEN sp.is_test AND lk.doc_id IS NOT NULL
                           THEN 'leaked_holdout'
                       WHEN du.doc_id IS NOT NULL THEN 'near_dup'
                       ELSE 'kept' END AS status
           FROM documents d
           JOIN v7_sp sp USING (doc_id)
           LEFT JOIN v7_leak lk ON lk.doc_id = d.doc_id
           LEFT JOIN v7_dup du ON du.doc_id = d.doc_id)""",
        "v7_kept AS (SELECT doc_id, text FROM v7_lab "
        "WHERE status = 'kept')",
        *_chunk_ctes(source="v7_kept"),
        f"""v7_ch AS (SELECT doc_id, count(*) AS n_chunks,
                  sum(least({_DCW_W}, n - start_tok)) AS n_chunk_tokens
           FROM cw_e GROUP BY doc_id)""",
    ]
    return (
        "WITH " + ", ".join(ctes)
        + """ SELECT CASE WHEN is_test THEN 'test' ELSE 'train' END
                 AS split,
             lang, status,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(coalesce(n_chunks, 0)) AS BIGINT) AS n_chunks,
             CAST(sum(coalesce(n_chunk_tokens, 0)) AS BIGINT)
                 AS n_chunk_tokens
         FROM v7_lab LEFT JOIN v7_ch USING (doc_id)
         GROUP BY 1, 2, 3"""
    )


@_q("pipeline_corpus_curation_v7", _curation_v7_oracle())
def pipeline_corpus_curation_v7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v7 — the late-round-9 operators composed into ONE
    holdout-safe publication plan: MinHash-LSH near-dup pairs drive
    BOTH the dedup rule (a doc with a smaller-id near-twin is
    'near_dup' — the pair-minimum convention, no CC pass needed in the
    composed plan) AND the evaluation-integrity rule (a held-out test
    doc with a train near-twin is 'leaked_holdout', the
    doc_holdout_leakage_rate gate; leak beats dup on the test side —
    a leaked doc must NOT silently re-enter via dedup bookkeeping);
    the surviving 'kept' docs are then chunked by the shared sliding-
    window builder (doc_chunk_windows machinery) and the rollup prices
    each (split, lang, status) cell in docs, chunks, and chunk tokens
    — what a retrieval-corpus publisher ships alongside the data.

    Scale notes (100 TB): band-bucket equi-join pairs (never
    all-pairs, one lazy-checkpointed build feeding both rules),
    doc_id-keyed label joins, embarrassingly-parallel chunking of the
    kept slice only, one final hash aggregation.  No windows."""
    docs = _t(spark, sf_dir, "documents")
    # one pair build feeds both the dedup and the leakage rule
    pairs = dedup.minhash_lsh_candidate_pairs(
        docs, k_shingle=3, n_hashes=8, n_bands=4
    ).localCheckpoint(eager=False)
    sp = docs.select(
        "doc_id", "lang", (F.col("doc_id") % 5 == 0).alias("is_test")
    )
    dup = (
        pairs.select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    leak = (
        pairs.join(
            sp.select(
                F.col("doc_id").alias("doc_a"), F.col("is_test").alias("ta")
            ),
            "doc_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("doc_b"), F.col("is_test").alias("tb")
            ),
            "doc_b",
        )
        .where(F.col("ta") != F.col("tb"))
        .select(
            F.when(F.col("ta"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("_l", F.lit(1))
    )
    lab = (
        docs.select("doc_id", "text")
        .join(sp, "doc_id")
        .join(leak, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "text",
            "lang",
            "is_test",
            F.when(
                F.col("is_test") & F.col("_l").isNotNull(),
                "leaked_holdout",
            )
            .when(F.col("_d").isNotNull(), "near_dup")
            .otherwise("kept")
            .alias("status"),
        )
    )
    ch = (
        _chunk_rows(
            lab.where(F.col("status") == "kept").select("doc_id", "text")
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.least(F.lit(_DCW_W), F.col("n") - F.col("start_tok"))
            ).alias("n_chunk_tokens"),
        )
    )
    return (
        lab.join(ch, "doc_id", "left")
        .groupBy(
            F.when(F.col("is_test"), "test").otherwise("train").alias(
                "split"
            ),
            "lang",
            "status",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("n_chunks"), F.lit(0)))
            .cast("long")
            .alias("n_chunks"),
            F.sum(F.coalesce(F.col("n_chunk_tokens"), F.lit(0)))
            .cast("long")
            .alias("n_chunk_tokens"),
        )
    )


def _importance_model_oracle() -> str:
    """DuckDB mirror of the DENSE full-corpus importance count model —
    what the shard-merge must reproduce exactly."""
    ctes = _importance_ctes()[:2] + [
        """iw_cnt AS (SELECT bucket,
                 CAST(count(*) AS BIGINT) AS src_cnt,
                 CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT)
                     AS tgt_cnt
          FROM iw_b GROUP BY 1)""",
        """iw_s AS (SELECT CAST(count(*) AS BIGINT) AS src_tot,
                 CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT)
                     AS tgt_tot
          FROM iw_b)""",
        """iw_grid AS (SELECT CAST(i AS BIGINT) AS bucket
           FROM range(0, 256) t(i))""",
    ]
    return (
        "WITH " + ", ".join(ctes) + " SELECT g.bucket, "
        "coalesce(iw_cnt.src_cnt, 0) AS src_cnt, "
        "coalesce(iw_cnt.tgt_cnt, 0) AS tgt_cnt, "
        "iw_s.src_tot, iw_s.tgt_tot "
        "FROM iw_grid g LEFT JOIN iw_cnt USING (bucket) CROSS JOIN iw_s"
    )


@_q("cdc_importance_model_maintenance", _importance_model_oracle())
def cdc_importance_model_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental maintenance of the importance count model: train on
    the BASE shard (doc_id mod 10 < 7) and the DELTA shard separately,
    fold with ``text.merge_importance_models`` — and the oracle checks
    the fold against the model of the FULL corpus, pinning the
    cell-wise-addability claim under the value oracle (the property
    that lets a 100-TB catalog model absorb a new shard by scanning
    only the new documents).

    Scale notes: two bounded model builds (each one tokenized scan of
    its shard), one 256-row join — the historical corpus is never
    re-read."""
    from ..operators.text import (
        importance_count_model,
        merge_importance_models,
    )

    docs = _t(spark, sf_dir, "documents")
    tgt = F.col("lang") == "en"
    base = importance_count_model(docs.where(F.col("doc_id") % 10 < 7), tgt)
    delta = importance_count_model(docs.where(F.col("doc_id") % 10 >= 7), tgt)
    return merge_importance_models(base, delta)


def _kcenter_l2(a: str, b: str) -> str:
    """Exact int64 squared L2 between two DuckDB integer lists."""
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


def _list_dot(a: str, b: str) -> str:
    """Exact int64 dot product between two DuckDB integer lists."""
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> {a}[i] * {b}[i])) AS BIGINT)"
    )


def _mmr_ctes(
    k: int, pool: int, cand_source: str, prefix: str = ""
) -> list[str]:
    """CTE chain of the DuckDB MMR mirror (greedy rounds unrolled to
    bounded k — the kcenter/BPE chain convention), parameterized over
    the candidate source so the standalone query and the composed v8
    retrieval leg stay in lockstep by construction.  ``cand_source``
    must yield (vec_id, qe, rel); the chain exposes ``{p}sel`` with
    one row per pick (pick_round, vec_id, rel_q, max_sim_sel_q,
    mmr_score2x_q).  Each m_j is MATERIALIZED because it feeds both
    the next argmax and the next fold (the _kcenter_ctes lesson —
    inlining doubles the chain per round)."""
    p = prefix
    dot = _list_dot
    ctes = [
        f"{p}cand AS MATERIALIZED (SELECT vec_id, qe, rel "
        f"FROM ({cand_source}) ORDER BY rel DESC, vec_id LIMIT {pool})",
        f"{p}c1 AS (SELECT vec_id, qe, rel FROM {p}cand "
        "ORDER BY rel DESC, vec_id LIMIT 1)",
        f"{p}m1 AS MATERIALIZED (SELECT c.vec_id, c.qe, c.rel, "
        f"{dot('c.qe', f'{p}c1.qe')} AS maxsim, "
        f"c.vec_id = {p}c1.vec_id AS picked FROM {p}cand c, {p}c1)",
    ]
    sels = [
        "SELECT CAST(1 AS INTEGER) AS pick_round, vec_id, "
        "CAST(rel AS BIGINT) AS rel_q, CAST(0 AS BIGINT) AS max_sim_sel_q, "
        f"CAST(rel AS BIGINT) AS mmr_score2x_q FROM {p}c1"
    ]
    for j in range(2, k + 1):
        ctes.append(
            f"{p}c{j} AS (SELECT vec_id, qe, rel, maxsim FROM {p}m{j - 1} "
            f"WHERE NOT picked ORDER BY rel - maxsim DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"{p}m{j} AS MATERIALIZED (SELECT m.vec_id, m.qe, m.rel, "
            f"greatest(m.maxsim, {dot('m.qe', f'{p}c{j}.qe')}) AS maxsim, "
            f"m.picked OR m.vec_id = {p}c{j}.vec_id AS picked "
            f"FROM {p}m{j - 1} m, {p}c{j})"
        )
        sels.append(
            f"SELECT CAST({j} AS INTEGER), vec_id, CAST(rel AS BIGINT), "
            f"CAST(maxsim AS BIGINT), CAST(rel - maxsim AS BIGINT) "
            f"FROM {p}c{j}"
        )
    ctes.append(f"{p}sel AS (" + " UNION ALL ".join(sels) + ")")
    return ctes


def _mmr_oracle(k: int = 10, pool: int = 50, qid: int = 0) -> str:
    """DuckDB mirror of similarity.mmr_topk over the full embedding
    corpus (the standalone query's shape), built on the shared
    ``_mmr_ctes`` chain."""
    dot = _list_dot
    head = [
        f"e AS (SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings)",
        f"q AS (SELECT qe AS q_qe FROM e WHERE vec_id = {qid})",
    ]
    cand_source = (
        f"SELECT e.vec_id, e.qe, {dot('e.qe', 'q.q_qe')} AS rel "
        f"FROM e, q WHERE e.vec_id <> {qid}"
    )
    return (
        "WITH "
        + ", ".join(head + _mmr_ctes(k, pool, cand_source))
        + " SELECT * FROM sel"
    )


@_q("emb_mmr_diversified_topk", _mmr_oracle())
def emb_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified retrieval
    (similarity.mmr_topk): the 50-candidate shortlist most relevant to
    the query vector (vec_id 0), greedily reranked so each of the 10
    picks maximizes λ·relevance − (1−λ)·max-similarity-to-selected at
    λ = ½ — the standard redundancy filter between ANN retrieval and a
    context window, and the relevance-weighted sibling of the k-center
    coreset (kcenter maximizes spread alone; MMR trades spread against
    query affinity).

    Scale notes: one TakeOrdered(pool) corpus pass, then k bounded
    rounds on the pinned 50-row frame — per-round argmax is a
    TakeOrdered(1) broadcast back as a 1-row cross; no windows, no
    driver collect, no pairwise corpus stage."""
    return similarity.mmr_topk(
        _t(spark, sf_dir, "embeddings"), query_vec_id=0, k=10, pool=50
    )


def _kcenter_ctes(k: int = 8, prefix: str = "", source: str | None = None) -> list[str]:
    """CTE chain of the DuckDB kcenter mirror (greedy farthest-first
    unrolled to k rounds — bounded k, like the BPE merge chain):
    ``{p}e`` (quantized universe), ``{p}sel`` (the k picks), ``{p}rad``
    (coverage radius).  Shared by the standalone coreset oracle, the
    coreset-seeded IVF oracles, and — via ``prefix``/``source`` — the
    cross-shard fold oracle, which runs THREE chains in one query (two
    shards + the fold over their 2k union), so every consumer stays in
    lockstep by construction.  ``source`` must yield (vec_id, qe)."""
    p = prefix
    l2 = _kcenter_l2
    if source is None:
        source = f"SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings"
    # AS MATERIALIZED: each m_j is referenced twice (next pick + next
    # fold), so an inlining planner would expand the chain 2^k times —
    # the fold oracle's three chains exhausted file handles without it
    ctes = [
        f"{p}e AS MATERIALIZED ({source})",
        f"{p}c1 AS (SELECT vec_id, qe FROM {p}e ORDER BY vec_id LIMIT 1)",
        f"{p}m1 AS MATERIALIZED (SELECT {p}e.vec_id, {p}e.qe, "
        f"{l2(f'{p}e.qe', f'{p}c1.qe')} AS mind FROM {p}e, {p}c1)",
    ]
    sels = [
        "SELECT CAST(1 AS INTEGER) AS pick_round, vec_id, "
        f"CAST(0 AS BIGINT) AS sel_dist_q FROM {p}c1"
    ]
    for j in range(2, k + 1):
        ctes.append(
            f"{p}c{j} AS (SELECT vec_id, qe, mind FROM {p}m{j - 1} "
            "ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"{p}m{j} AS MATERIALIZED (SELECT m.vec_id, m.qe, "
            f"least(m.mind, {l2('m.qe', f'{p}c{j}.qe')}) AS mind "
            f"FROM {p}m{j - 1} m, {p}c{j})"
        )
        sels.append(
            f"SELECT CAST({j} AS INTEGER), vec_id, CAST(mind AS BIGINT) "
            f"FROM {p}c{j}"
        )
    ctes.append(
        f"{p}rad AS (SELECT CAST(max(mind) AS BIGINT) AS radius_q "
        f"FROM {p}m{k})"
    )
    ctes.append(f"{p}sel AS (" + " UNION ALL ".join(sels) + ")")
    return ctes


def _kcenter_oracle(k: int = 8) -> str:
    """DuckDB mirror of similarity.kcenter_coreset."""
    return (
        "WITH " + ", ".join(_kcenter_ctes(k))
        + " SELECT pick_round, vec_id, sel_dist_q, radius_q "
        "FROM sel CROSS JOIN rad"
    )


@_q("emb_kcenter_coreset", _kcenter_oracle())
def emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse-subset (coreset) selection by greedy farthest-first
    k-center (similarity.kcenter_coreset): 8 picks over the embedding
    corpus, each round's pick the vector farthest from every previous
    pick (exact int64 squared L2 on quantized vectors, deterministic
    tie-break), plus the final coverage radius — the Gonzalez
    2-approximation every active-learning / prototype-selection
    pipeline starts from.

    Scale notes: k bounded corpus passes; the per-round argmax is a
    TakeOrdered(1) broadcast back as a 1-row cross (no driver
    collect), and the running min-distance folds with ``least`` — no
    windows, no pairwise stage."""
    coreset = similarity.kcenter_coreset(
        _t(spark, sf_dir, "embeddings"), k=8
    )
    return coreset.select(
        F.col("round").cast("int").alias("pick_round"),
        "vec_id",
        "sel_dist_q",
        "radius_q",
    )


@_q(
    "emb_ann_ivf_coreset_topk",
    f"""
    WITH {", ".join(_kcenter_ctes(8))},
    cseed AS (SELECT e.vec_id AS cell, e.qe AS c_qe
              FROM e JOIN sel ON sel.vec_id = e.vec_id),
    {_ivf_assign_sql("cseed", n_probe=2)},
    {_ann_rerank_sql("qs q JOIN cand c USING (cell)")}
    """,
)
def emb_ann_ivf_coreset_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN seeded from the greedy k-center CORESET
    (similarity.coreset_centroids): the 8 farthest-first picks become
    the coarse-quantizer cells — the index-MAINTENANCE path the r8
    verdict asked for: coresets are k-row summaries, so per-shard
    coresets ship/fold without touching shard data, and the 2-approx
    coverage radius bounds every vector's distance to its cell (the
    guarantee first-k or RNG seeding cannot give).  Deterministic
    end-to-end, so the oracle replays seeding, assignment, probing,
    and rerank in exact integer arithmetic.

    Scale notes: seeding is k bounded corpus passes (kcenter), then
    the standard IVF shape — tiny centroid broadcast, cell-equi-join
    candidates, never all-pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    cent = similarity.coreset_centroids(emb, k=8)
    return similarity.ivf_topk(
        emb, queries, k=10, n_cells=8, n_probe=2, centroids=cent
    )


# chance for 2-of-8 probing = 2500 bp; measured working recall
# 4200-4700 bp at sf0.001/sf0.01 — floor = chance x 1.4 stays below
# every measured value while a broken index (random cells) collapses
# to ~chance, far under it (same derivation as _RECALL_FLOORS)
_CORESET_IVF_FLOOR_BP = _ann_recall_floor_bp(10000 * 2 / 8, margin=1.4)


@_q(
    "emb_coreset_ivf_recall_eval",
    f"""
    WITH exact AS ({{exact}}),
    approx AS ({{approx}}),
    m AS (
        SELECT count(*) AS n_expected, count(a.neighbor_id) AS n_hits
        FROM exact e LEFT JOIN approx a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    )
    SELECT 'ivf_coreset_np2' AS method,
           CAST(n_expected AS BIGINT) AS n_expected,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits * 10000 // n_expected AS BIGINT) AS micro_recall_bp,
           CAST({_CORESET_IVF_FLOOR_BP} AS BIGINT) AS floor_bp,
           n_hits * 10000 // n_expected >= {_CORESET_IVF_FLOOR_BP}
               AS meets_floor
    FROM m
    """,
)
def emb_coreset_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the coreset-seeded IVF path vs the exact ranking,
    asserted against its chance-derived floor (emb_ann_recall_eval
    rationale: both engines compute meets_floor from their OWN index
    output, so a seeding/probing quality regression flips Spark's
    boolean while the frozen oracle stays true — a driver hash
    mismatch, not a drifting number)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = similarity.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    ).localCheckpoint(eager=False)
    cent = similarity.coreset_centroids(emb, k=8)
    a = similarity.ivf_topk(
        emb, queries, k=10, n_cells=8, n_probe=2, centroids=cent
    ).select("query_id", F.col("neighbor_id").alias("a_neighbor"))
    j = exact.join(
        a,
        (exact.query_id == a.query_id)
        & (exact.neighbor_id == a.a_neighbor),
        "left",
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_expected"),
        F.count("a_neighbor").alias("n_hits"),
    ).select(
        F.lit("ivf_coreset_np2").alias("method"),
        F.col("n_expected").cast("long").alias("n_expected"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.expr("CAST(n_hits * 10000 DIV n_expected AS BIGINT)").alias(
            "micro_recall_bp"
        ),
        F.lit(_CORESET_IVF_FLOOR_BP).cast("long").alias("floor_bp"),
        F.expr(
            f"n_hits * 10000 DIV n_expected >= {_CORESET_IVF_FLOOR_BP}"
        ).alias("meets_floor"),
    )


# splice the already-registered exact and coreset-IVF oracles into the
# recall template (the emb_ann_recall_eval composition pattern)
ORACLE_SQL["emb_coreset_ivf_recall_eval"] = ORACLE_SQL[
    "emb_coreset_ivf_recall_eval"
].format(
    exact=ORACLE_SQL["emb_ann_topk"],
    approx=ORACLE_SQL["emb_ann_ivf_coreset_topk"],
)


def _v8_gate_ctes() -> list[str]:
    """The publication GATE's CTE chain (shingle→minhash→band pairs,
    holdout split, leakage set, embedding near-dup, status labels,
    published slice, chunking) — shared by the v8 composition oracle
    AND the publication-audit oracle, so the audit provably verifies
    the SAME gate the pipeline ships."""
    return [
        _SHINGLE_CTE.strip(),
        f"sig AS (SELECT doc_id, {_MINHASH_SIG} FROM sh GROUP BY doc_id)",
        f"bands AS MATERIALIZED ({_MINHASH_BANDS})",
        """pairs AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id)""",
        "v8_sp AS (SELECT doc_id, doc_id % 5 = 0 AS is_test "
        "FROM documents)",
        "v8_dupt AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)",
        """v8_leak AS (SELECT DISTINCT CASE WHEN sa.is_test THEN p.doc_a
                                    ELSE p.doc_b END AS doc_id
            FROM pairs p
            JOIN v8_sp sa ON sa.doc_id = p.doc_a
            JOIN v8_sp sb ON sb.doc_id = p.doc_b
            WHERE sa.is_test <> sb.is_test)""",
        f"v8_eq AS MATERIALIZED (SELECT vec_id, {_QUANT_SQL} AS qe "
        "FROM embeddings)",
        # engine-twin banded sign-LSH candidates + exact verify (the
        # emb_ann_* oracle convention): the brute-force all-pairs leg
        # this replaces exhausted DuckDB temp disk at the sf1 rung
        f"v8_eb AS MATERIALIZED ({_lsh_band_rows_sql('v8_eq')})",
        """v8_ec AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
            FROM v8_eb a JOIN v8_eb b
              ON a.band_id = b.band_id AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id)""",
        # verify with native list_inner_product: EXACT here (integer
        # dots <= ~2^40, far inside double's 2^53 integer range) and
        # ~100x faster than the interpreted list_transform lambda over
        # the ~7M sf1 candidates (which spilled 40+ GB and timed out)
        """v8_dupe AS (SELECT DISTINCT c.vb AS doc_id
            FROM v8_ec c
            JOIN v8_eq a ON a.vec_id = c.va
            JOIN v8_eq b ON b.vec_id = c.vb
            WHERE CAST(list_inner_product(a.qe, b.qe) AS BIGINT)
                  >= 950000000000)""",
        """v8_lab AS MATERIALIZED (SELECT d.doc_id, sp.is_test,
                  CASE WHEN sp.is_test AND lk.doc_id IS NOT NULL
                           THEN 'leaked_holdout'
                       WHEN dt.doc_id IS NOT NULL THEN 'near_dup_text'
                       WHEN de.doc_id IS NOT NULL THEN 'near_dup_emb'
                       ELSE 'kept' END AS status
           FROM documents d
           JOIN v8_sp sp USING (doc_id)
           LEFT JOIN v8_leak lk ON lk.doc_id = d.doc_id
           LEFT JOIN v8_dupt dt ON dt.doc_id = d.doc_id
           LEFT JOIN v8_dupe de ON de.doc_id = d.doc_id)""",
        "v8_pub AS MATERIALIZED (SELECT doc_id FROM v8_lab "
        "WHERE NOT is_test AND status = 'kept')",
        "v8_pd AS (SELECT d.doc_id, d.text FROM documents d "
        "JOIN v8_pub USING (doc_id))",
        *_chunk_ctes(source="v8_pd"),
    ]


def _curation_v8_oracle() -> str:
    """Composition oracle for pipeline_corpus_curation_v8: the shared
    gate chain (_v8_gate_ctes), then the k-center/IVF retrieval chain
    and the MMR rerank — every leg from its SHARED builder so the
    composed pipeline cannot drift from the standalone queries."""
    dot = _list_dot
    head = _v8_gate_ctes() + [
        f"""v8_sum AS (SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM v8_pub)
                AS n_published_docs,
            (SELECT CAST(count(*) AS BIGINT) FROM cw_e)
                AS n_published_chunks,
            (SELECT CAST(coalesce(sum(least({_DCW_W}, n - start_tok)), 0)
                    AS BIGINT) FROM cw_e) AS n_chunk_tokens,
            (SELECT CAST(count(*) AS BIGINT) FROM v8_lab
             WHERE status = 'near_dup_text') AS n_dropped_text_dup,
            (SELECT CAST(count(*) AS BIGINT) FROM v8_lab
             WHERE status = 'near_dup_emb') AS n_dropped_emb_dup,
            (SELECT CAST(count(*) AS BIGINT) FROM v8_lab
             WHERE status = 'leaked_holdout') AS n_leaked_holdout)""",
        *_kcenter_ctes(
            8,
            prefix="v8",
            source="SELECT e.vec_id, e.qe FROM v8_eq e "
            "JOIN v8_pub p ON p.doc_id = e.vec_id",
        ),
        "v8_cs AS (SELECT e.vec_id AS cell, e.qe AS c_qe FROM v8e e "
        "JOIN v8sel s ON s.vec_id = e.vec_id)",
        f"v8_fa AS (SELECT e.vec_id, e.qe, c.cell, "
        f"{dot('e.qe', 'c.c_qe')} AS cd FROM v8e e, v8_cs c)",
        "v8_far AS (SELECT *, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY cd DESC, cell ASC) AS r FROM v8_fa)",
        "v8_cand AS (SELECT vec_id, qe, cell FROM v8_far WHERE r = 1)",
        f"v8_q AS (SELECT vec_id AS query_id, {_QUANT_SQL} AS q_qe "
        "FROM embeddings WHERE vec_id = 0)",
        f"""v8_qa AS (SELECT q.query_id, q.q_qe, c.cell,
            row_number() OVER (ORDER BY {dot('q.q_qe', 'c.c_qe')} DESC,
                               c.cell ASC) AS r
            FROM v8_q q, v8_cs c)""",
        "v8_qc AS (SELECT query_id, q_qe, cell FROM v8_qa WHERE r <= 2)",
        f"""v8_sc AS (SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
            {dot('q.q_qe', 'c.qe')} AS dot_q
            FROM v8_qc q JOIN v8_cand c USING (cell)
            WHERE c.vec_id <> q.query_id)""",
        "v8_sl AS (SELECT neighbor_id FROM v8_sc "
        "ORDER BY dot_q DESC, neighbor_id ASC LIMIT 20)",
        *_mmr_ctes(
            5,
            20,
            f"SELECT e.vec_id, e.qe, {dot('e.qe', 'q.q_qe')} AS rel "
            "FROM v8e e JOIN v8_sl s ON s.neighbor_id = e.vec_id, v8_q q",
            prefix="v8r",
        ),
    ]
    return (
        "WITH "
        + ", ".join(head)
        + """ SELECT s.pick_round, s.vec_id, s.rel_q, s.max_sim_sel_q,
                 s.mmr_score2x_q,
                 m.n_published_docs, m.n_published_chunks,
                 m.n_chunk_tokens, m.n_dropped_text_dup,
                 m.n_dropped_emb_dup, m.n_leaked_holdout
          FROM v8rsel s CROSS JOIN v8_sum m"""
    )


@_q("pipeline_corpus_curation_v8", _curation_v8_oracle())
def pipeline_corpus_curation_v8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v8 — RAG PUBLICATION (the r9 verdict ask): every
    late-r9 retrieval operator composed into ONE plan.  Documents gate
    through the v7 rules (MinHash-LSH near-dup pairs drive both the
    pair-minimum text dedup and the holdout leakage gate; leak beats
    dup on the test side) PLUS the embedding near-dup gate
    (sign-LSH-bucketed exact cosine ≥ 0.95, the emb_neardup_pairs
    machinery — text dup beats embedding dup, a doc failing both
    bills to the earlier stage); the published slice (train ∧ kept)
    is chunked by the shared sliding-window builder, and the retrieval
    leg then runs a held-out query (vec 0 — doc 0 is test by the %5
    split, exactly the eval-time shape) against ONLY the published
    corpus: greedy k-center coreset seeds the IVF cells
    (emb_ann_ivf_coreset_topk path), 2-of-8 probing shortlists 20
    candidates, and MMR (λ=½) reranks them into 5 diversified picks.
    Output = the 5 picks × the publication manifest (docs/chunks/
    tokens published, drops per gate) — one row set whose hash pins
    every stage: a drift in ANY gate changes the manifest counts, a
    drift in seeding/probing/rerank changes the picks.

    Scale notes (100 TB): band-bucket equi-joins for text pairs,
    bucketed sign-LSH for embedding pairs (never all-pairs — the
    brute-force legs live only in the oracle), doc_id-keyed label
    joins, chunking over the published slice only, k bounded corpus
    passes for the coreset, tiny-centroid broadcast + cell equi-join
    for IVF, k bounded rounds on the pinned 20-row frame for MMR.
    The two 1-row summary crosses are the allowlisted scalar-
    broadcast convention."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    pairs = dedup.minhash_lsh_candidate_pairs(
        docs, k_shingle=3, n_hashes=8, n_bands=4
    ).localCheckpoint(eager=False)
    sp = docs.select(
        "doc_id", (F.col("doc_id") % 5 == 0).alias("is_test")
    )
    dupt = (
        pairs.select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_dt", F.lit(1))
    )
    leak = (
        pairs.join(
            sp.select(
                F.col("doc_id").alias("doc_a"), F.col("is_test").alias("ta")
            ),
            "doc_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("doc_b"), F.col("is_test").alias("tb")
            ),
            "doc_b",
        )
        .where(F.col("ta") != F.col("tb"))
        .select(
            F.when(F.col("ta"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("_l", F.lit(1))
    )
    dupe = (
        dedup.embedding_neardup_pairs_lsh(emb, min_dot_q=950_000_000_000)
        .select(F.col("vec_b").alias("doc_id"))
        .distinct()
        .withColumn("_de", F.lit(1))
    )
    lab = (
        docs.select("doc_id")
        .join(sp, "doc_id")
        .join(leak, "doc_id", "left")
        .join(dupt, "doc_id", "left")
        .join(dupe, "doc_id", "left")
        .select(
            "doc_id",
            "is_test",
            F.when(
                F.col("is_test") & F.col("_l").isNotNull(),
                "leaked_holdout",
            )
            .when(F.col("_dt").isNotNull(), "near_dup_text")
            .when(F.col("_de").isNotNull(), "near_dup_emb")
            .otherwise("kept")
            .alias("status"),
        )
        .localCheckpoint(eager=False)  # feeds manifest AND published slice
    )
    pub = lab.where(~F.col("is_test") & (F.col("status") == "kept")).select(
        "doc_id"
    )
    ch = _chunk_rows(docs.join(pub, "doc_id").select("doc_id", "text"))
    s_docs = lab.agg(
        F.sum(
            (~F.col("is_test") & (F.col("status") == "kept")).cast("long")
        ).alias("n_published_docs"),
        F.sum((F.col("status") == "near_dup_text").cast("long")).alias(
            "n_dropped_text_dup"
        ),
        F.sum((F.col("status") == "near_dup_emb").cast("long")).alias(
            "n_dropped_emb_dup"
        ),
        F.sum((F.col("status") == "leaked_holdout").cast("long")).alias(
            "n_leaked_holdout"
        ),
    )
    s_chunks = ch.agg(
        F.count(F.lit(1)).cast("long").alias("n_published_chunks"),
        F.coalesce(
            F.sum(F.least(F.lit(_DCW_W), F.col("n") - F.col("start_tok"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_chunk_tokens"),
    )
    summary = s_docs.crossJoin(F.broadcast(s_chunks))
    pub_emb = emb.join(
        pub.select(F.col("doc_id").alias("vec_id")), "vec_id"
    ).localCheckpoint(eager=False)  # feeds coreset, IVF corpus, MMR vectors
    cent = similarity.coreset_centroids(pub_emb, k=8)
    shortlist = similarity.ivf_topk(
        pub_emb,
        emb.where(F.col("vec_id") == 0),
        k=20,
        n_cells=8,
        n_probe=2,
        centroids=cent,
    ).select(F.col("neighbor_id").alias("vec_id"))
    universe = (
        emb.join(shortlist, "vec_id")
        .unionByName(emb.where(F.col("vec_id") == 0))
        # lazy pin: the 21-row universe feeds BOTH the MMR query-vector
        # extraction and the candidate pool — without it each consumer
        # re-runs the whole coreset→IVF shortlist chain
        .localCheckpoint(eager=False)
    )
    picks = similarity.mmr_topk(universe, query_vec_id=0, k=5, pool=20)
    return picks.crossJoin(F.broadcast(summary)).select(
        "pick_round",
        "vec_id",
        "rel_q",
        "max_sim_sel_q",
        "mmr_score2x_q",
        "n_published_docs",
        "n_published_chunks",
        "n_chunk_tokens",
        "n_dropped_text_dup",
        "n_dropped_emb_dup",
        "n_leaked_holdout",
    )


def _publication_audit_oracle() -> str:
    """Audit oracle: the SHARED v8 gate chain (_v8_gate_ctes), then
    pure verification legs — residual-pair semi-joins, leakage and
    chunk-coverage checks, source-mix drift in integer basis points."""
    head = _v8_gate_ctes() + [
        """aud_rt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pairs p
            JOIN v8_pub a ON a.doc_id = p.doc_a
            JOIN v8_pub b ON b.doc_id = p.doc_b)""",
        """aud_ep AS (SELECT DISTINCT c.va, c.vb FROM v8_ec c
            JOIN v8_eq a ON a.vec_id = c.va
            JOIN v8_eq b ON b.vec_id = c.vb
            WHERE CAST(list_inner_product(a.qe, b.qe) AS BIGINT)
                  >= 950000000000)""",
        """aud_re AS (SELECT CAST(count(*) AS BIGINT) AS n FROM aud_ep d
            JOIN v8_pub pa ON pa.doc_id = d.va
            JOIN v8_pub pb ON pb.doc_id = d.vb)""",
        """aud_lp AS (SELECT CAST(count(*) AS BIGINT) AS n
            FROM v8_leak l JOIN v8_pub p USING (doc_id))""",
        """aud_uc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v8_pub p
            LEFT JOIN (SELECT DISTINCT doc_id FROM cw_e) c USING (doc_id)
            WHERE c.doc_id IS NULL)""",
        "aud_tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all "
        "FROM documents)",
        "aud_pt AS (SELECT CAST(count(*) AS BIGINT) AS n_pub FROM v8_pub)",
        """aud_mix AS (SELECT d.source,
            sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS n_pub_s,
            count(*) AS n_all_s
            FROM documents d LEFT JOIN v8_pub p USING (doc_id)
            GROUP BY 1)""",
        """aud_dr AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
            CAST(max(abs(n_pub_s * 10000 // n_pub
                         - n_all_s * 10000 // n_all)) AS BIGINT)
                AS max_source_drift_bp
            FROM aud_mix CROSS JOIN aud_tot CROSS JOIN aud_pt)""",
    ]
    return (
        "WITH "
        + ", ".join(head)
        + """ SELECT aud_pt.n_pub AS n_published_docs,
                 aud_rt.n AS n_residual_text_pairs,
                 aud_re.n AS n_residual_emb_pairs,
                 aud_lp.n AS n_leaked_published,
                 aud_uc.n AS n_unchunked_docs,
                 aud_dr.n_sources,
                 aud_dr.max_source_drift_bp,
                 aud_rt.n = 0 AND aud_re.n = 0 AND aud_lp.n = 0
                     AND aud_uc.n = 0 AS all_gates_pass
          FROM aud_pt, aud_rt, aud_re, aud_lp, aud_uc, aud_dr"""
    )


@_q("pipeline_publication_audit", _publication_audit_oracle())
def pipeline_publication_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publication AUDIT — the data-quality gate a training pipeline
    runs on the PUBLISHED corpus before any tokens are spent: rebuild
    the v8 gate (same shared builders: MinHash-LSH pairs, holdout
    split, leakage set, embedding near-dup, chunking) and then VERIFY
    its invariants with independent semi-joins rather than trusting
    the labels:

      * n_residual_text_pairs — LSH candidate pairs with BOTH
        endpoints published (must be 0: every pair's doc_b drops);
      * n_residual_emb_pairs — verified cosine≥0.95 embedding pairs
        with both endpoints published (must be 0);
      * n_leaked_published — leakage-set docs that got published
        (must be 0: leak beats every other status on the train side
        only via doc_b drops — the audit proves the interaction);
      * n_unchunked_docs — published docs the chunker missed
        (must be 0: every non-empty doc emits ≥1 window);
      * max_source_drift_bp — worst |published-share − corpus-share|
        over sources, integer basis points: dedup gates must not
        silently skew the source mixture;
      * all_gates_pass — the single boolean a scheduler gates on.

    Scale notes (100 TB): every verification leg is a doc_id-keyed
    hash semi-join against the published set (band-bucket pair tables,
    never all-pairs); the mixture drift is one per-source rollup with
    two 1-row scalar crosses; the report is the allowlisted 1-row ×
    1-row summary cross chain.  Cites the reference's gate semantics
    (Handler.java:65,139-167 active-region drop discipline) only in
    spirit — this is the extended-engine curation surface."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    pairs = dedup.minhash_lsh_candidate_pairs(
        docs, k_shingle=3, n_hashes=8, n_bands=4
    ).localCheckpoint(eager=False)
    sp = docs.select(
        "doc_id", (F.col("doc_id") % 5 == 0).alias("is_test")
    )
    dupt = (
        pairs.select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_dt", F.lit(1))
    )
    leak = (
        pairs.join(
            sp.select(
                F.col("doc_id").alias("doc_a"), F.col("is_test").alias("ta")
            ),
            "doc_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("doc_b"), F.col("is_test").alias("tb")
            ),
            "doc_b",
        )
        .where(F.col("ta") != F.col("tb"))
        .select(
            F.when(F.col("ta"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id")
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds labels AND the leak audit
    )
    epairs = dedup.embedding_neardup_pairs_lsh(
        emb, min_dot_q=950_000_000_000
    ).localCheckpoint(eager=False)  # feeds labels AND the residual audit
    dupe = (
        epairs.select(F.col("vec_b").alias("doc_id"))
        .distinct()
        .withColumn("_de", F.lit(1))
    )
    lab = (
        docs.select("doc_id")
        .join(sp, "doc_id")
        .join(leak.withColumn("_l", F.lit(1)), "doc_id", "left")
        .join(dupt, "doc_id", "left")
        .join(dupe, "doc_id", "left")
        .select(
            "doc_id",
            "is_test",
            F.when(
                F.col("is_test") & F.col("_l").isNotNull(),
                "leaked_holdout",
            )
            .when(F.col("_dt").isNotNull(), "near_dup_text")
            .when(F.col("_de").isNotNull(), "near_dup_emb")
            .otherwise("kept")
            .alias("status"),
        )
    )
    pub = (
        lab.where(~F.col("is_test") & (F.col("status") == "kept"))
        .select("doc_id")
        .localCheckpoint(eager=False)  # probed by every audit leg
    )
    resid_t = (
        pairs.join(pub.select(F.col("doc_id").alias("doc_a")), "doc_a")
        .join(pub.select(F.col("doc_id").alias("doc_b")), "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_residual_text_pairs"))
    )
    resid_e = (
        epairs.join(pub.select(F.col("doc_id").alias("vec_a")), "vec_a")
        .join(pub.select(F.col("doc_id").alias("vec_b")), "vec_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_residual_emb_pairs"))
    )
    leak_pub = leak.join(pub, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_leaked_published")
    )
    chunk_docs = _chunk_rows(
        docs.join(pub, "doc_id").select("doc_id", "text")
    ).select("doc_id").distinct()
    unchunked = pub.join(chunk_docs, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("n_unchunked_docs")
    )
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    pt = pub.agg(F.count(F.lit(1)).cast("long").alias("n_pub"))
    mix = (
        docs.select("doc_id", "source")
        .join(pub.withColumn("_p", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.sum(F.col("_p").isNotNull().cast("long")).alias("n_pub_s"),
            F.count(F.lit(1)).alias("n_all_s"),
        )
    )
    drift = (
        mix.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pt))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.max(
                F.abs(
                    F.expr("n_pub_s * 10000 DIV n_pub")
                    - F.expr("n_all_s * 10000 DIV n_all")
                )
            )
            .cast("long")
            .alias("max_source_drift_bp"),
        )
    )
    return (
        pt.select(F.col("n_pub").alias("n_published_docs"))
        .crossJoin(F.broadcast(resid_t))
        .crossJoin(F.broadcast(resid_e))
        .crossJoin(F.broadcast(leak_pub))
        .crossJoin(F.broadcast(unchunked))
        .crossJoin(F.broadcast(drift))
        .withColumn(
            "all_gates_pass",
            (F.col("n_residual_text_pairs") == 0)
            & (F.col("n_residual_emb_pairs") == 0)
            & (F.col("n_leaked_published") == 0)
            & (F.col("n_unchunked_docs") == 0),
        )
        .select(
            "n_published_docs",
            "n_residual_text_pairs",
            "n_residual_emb_pairs",
            "n_leaked_published",
            "n_unchunked_docs",
            "n_sources",
            "max_source_drift_bp",
            "all_gates_pass",
        )
    )


@_q(
    "emb_cluster_mixture_report",
    f"""
    WITH {", ".join(_kcenter_ctes(8))},
    cseed AS (SELECT e.vec_id AS cell, e.qe AS c_qe
              FROM e JOIN sel ON sel.vec_id = e.vec_id),
    {_ivf_assign_sql("cseed", n_probe=1)},
    src AS (SELECT d.doc_id AS vec_id, d.source FROM documents d),
    mem AS (SELECT c.cell, s.source FROM cand c JOIN src s USING (vec_id)),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM mem),
    gmix AS (SELECT source, CAST(count(*) AS BIGINT) AS n_g
             FROM mem GROUP BY 1),
    cmix AS (SELECT cell, source, CAST(count(*) AS BIGINT) AS n_cs
             FROM mem GROUP BY 1, 2),
    csz AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members
            FROM mem GROUP BY 1),
    top AS (SELECT cell, source AS top_source, n_cs,
                   row_number() OVER (PARTITION BY cell
                       ORDER BY n_cs DESC, source ASC) AS r
            FROM cmix),
    grid AS (SELECT z.cell, z.n_members, g.source, g.n_g,
                    coalesce(c.n_cs, 0) AS n_cs
             FROM csz z CROSS JOIN gmix g
             LEFT JOIN cmix c ON c.cell = z.cell AND c.source = g.source),
    drift AS (SELECT cell,
                     CAST(sum(abs(n_cs * 10000 // n_members
                                  - n_g * 10000 // t.n_all)) // 2
                          AS BIGINT) AS mix_drift_bp,
                     CAST(sum(CASE WHEN n_cs > 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_sources
              FROM grid CROSS JOIN tot t GROUP BY cell)
    SELECT z.cell, z.n_members, d.n_sources,
           t.top_source,
           CAST(t.n_cs * 10000 // z.n_members AS BIGINT)
               AS top_share_bp,
           d.mix_drift_bp
    FROM csz z
    JOIN top t ON t.cell = z.cell AND t.r = 1
    JOIN drift d ON d.cell = z.cell
    """,
)
def emb_cluster_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balance audit of the embedding space: every vector is
    assigned to its nearest k-center cell (the deterministic coreset
    seeding of emb_ann_ivf_coreset_topk — clusters a SQL oracle can
    replay), each cell joined to its documents' sources, and each
    cluster reports its member count, source diversity, dominant
    source with share, and total-variation drift from the corpus mix
    (integer basis points).  The question this answers for a training
    pipeline: did embedding-space clustering collapse onto single
    sources (topic islands a mixture law must rebalance), or is each
    region source-diverse?

    Scale notes: k bounded corpus passes for the coreset; assignment
    is the tiny-centroid broadcast cross (vectors × 8) the IVF
    allowlist documents; everything after operates on |cells| and
    |cells|×|sources| DOMAIN-bounded rollups (the csz×gmix grid is
    8×|sources| rows — the one deliberate bounded cross)."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    cent = similarity.coreset_centroids(emb, k=8)
    cells = similarity.ivf_assign_cells(emb, centroids=cent)
    # (cell, source) membership pairs: 4 rollups below read this frame
    # — unpinned, EACH replayed the coreset seeding + the vectors×8
    # assignment cross + the docs join (the ~130-Exchange before-plan);
    # the pin stores 2 small columns per vector, the §8 "decide on a
    # lightweight proxy" shape (r12, guide §5/§8)
    mem = cells.join(
        docs.select(F.col("doc_id").alias("vec_id"), "source"), "vec_id"
    ).select("cell", "source").localCheckpoint(eager=False)
    tot = mem.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    gmix = mem.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_g")
    )
    # domain-bounded rollups (≤8×|sources| / ≤8 rows) with 2 consumers
    # each — pinned so re-reads don't re-aggregate the membership pass
    cmix = mem.groupBy("cell", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_cs")
    ).localCheckpoint(eager=False)
    csz = mem.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("cell").orderBy(F.desc("n_cs"), F.asc("source"))
    top = (
        cmix.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("cell", F.col("source").alias("top_source"),
                F.col("n_cs").alias("top_cs"))
    )
    grid = (
        csz.crossJoin(F.broadcast(gmix))
        .join(cmix, ["cell", "source"], "left")
        .withColumn("n_cs", F.coalesce(F.col("n_cs"), F.lit(0)))
    )
    drift = (
        grid.crossJoin(F.broadcast(tot))
        .groupBy("cell")
        .agg(
            (
                F.sum(
                    F.abs(
                        F.expr("n_cs * 10000 DIV n_members")
                        - F.expr("n_g * 10000 DIV n_all")
                    )
                )
                / F.lit(2)
            )
            .cast("long")
            .alias("mix_drift_bp"),
            F.sum((F.col("n_cs") > 0).cast("long"))
            .cast("long")
            .alias("n_sources"),
        )
    )
    return (
        csz.join(top, "cell")
        .join(drift, "cell")
        .select(
            "cell",
            "n_members",
            "n_sources",
            "top_source",
            F.expr("top_cs * 10000 DIV n_members")
            .cast("long")
            .alias("top_share_bp"),
            "mix_drift_bp",
        )
    )


def _coreset_fold_oracle(k: int = 8) -> str:
    """Cross-shard fold: two per-shard kcenter chains, a third chain
    over the union of their picks, and the full-corpus coverage audit
    of the folded picks — plus the triangle-inequality bound in squared
    form (d(x,F) ≤ d(x,s)+d(s,F) ⇒ d² ≤ 2·r_shard² + 2·r_fold²)."""
    src = f"SELECT vec_id, {_QUANT_SQL} AS qe FROM embeddings"
    ctes = (
        _kcenter_ctes(k, "a", src + " WHERE vec_id % 2 = 0")
        + _kcenter_ctes(k, "b", src + " WHERE vec_id % 2 = 1")
        + _kcenter_ctes(
            k,
            "f",
            "SELECT vec_id, qe FROM ae WHERE vec_id IN "
            "(SELECT vec_id FROM asel) UNION ALL "
            "SELECT vec_id, qe FROM be WHERE vec_id IN "
            "(SELECT vec_id FROM bsel)",
        )
        + [
            f"ce AS ({src})",
            "fp AS (SELECT vec_id, qe FROM fe WHERE vec_id IN "
            "(SELECT vec_id FROM fsel))",
            "cov AS (SELECT CAST(max(m) AS BIGINT) AS cover_q FROM ("
            "SELECT c.vec_id, min("
            + _kcenter_l2("c.qe", "p.qe")
            + ") AS m FROM ce c, fp p GROUP BY c.vec_id) t)",
        ]
    )
    return (
        "WITH " + ", ".join(ctes) + " SELECT "
        "(SELECT radius_q FROM arad) AS shard_a_radius_q, "
        "(SELECT radius_q FROM brad) AS shard_b_radius_q, "
        "(SELECT radius_q FROM frad) AS fold_radius_q, "
        "cover_q, "
        "CAST(2 * greatest((SELECT radius_q FROM arad), "
        "(SELECT radius_q FROM brad)) "
        "+ 2 * (SELECT radius_q FROM frad) AS BIGINT) AS bound_q, "
        "cover_q <= 2 * greatest((SELECT radius_q FROM arad), "
        "(SELECT radius_q FROM brad)) "
        "+ 2 * (SELECT radius_q FROM frad) AS meets_bound "
        "FROM cov"
    )


@_q("emb_coreset_fold_maintenance", _coreset_fold_oracle())
def emb_coreset_fold_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard coreset MAINTENANCE: each shard (vec_id parity)
    computes its own k-center coreset; the folded index re-coresets the
    2k-row union of picks WITHOUT touching shard data — the shippable
    k-row summary path for a 100-TB embedding store — and the full
    corpus is audited against the folded picks
    (similarity.coverage_radius).  The triangle inequality gives the
    integer bound cover_q ≤ 2·max(r_a, r_b) + 2·r_fold (squared form
    via (x+y)² ≤ 2x²+2y²); both engines compute meets_bound from their
    OWN picks, so a fold-quality regression flips Spark's boolean
    against the frozen oracle — a driver hash mismatch.

    Scale notes: shard coresets = k bounded passes per shard; the fold
    runs over 2k ROWS; the audit is one corpus pass against an 8-row
    broadcast.  Shard data crosses the wire only as k-row summaries."""
    emb = _t(spark, sf_dir, "embeddings")
    a = similarity.kcenter_coreset(emb.where(F.col("vec_id") % 2 == 0), k=8)
    b = similarity.kcenter_coreset(emb.where(F.col("vec_id") % 2 == 1), k=8)
    pick_ids = a.select("vec_id").unionByName(b.select("vec_id"))
    folded = similarity.kcenter_coreset(
        emb.join(pick_ids, "vec_id", "semi"), k=8
    )
    cover = similarity.coverage_radius(emb, folded.select("vec_id"))
    ra = a.agg(F.max("radius_q").cast("long").alias("shard_a_radius_q"))
    rb = b.agg(F.max("radius_q").cast("long").alias("shard_b_radius_q"))
    rf = folded.agg(F.max("radius_q").cast("long").alias("fold_radius_q"))
    return (
        ra.crossJoin(F.broadcast(rb))
        .crossJoin(F.broadcast(rf))
        .crossJoin(F.broadcast(cover))
        .select(
            "shard_a_radius_q",
            "shard_b_radius_q",
            "fold_radius_q",
            "cover_q",
            (
                2 * F.greatest("shard_a_radius_q", "shard_b_radius_q")
                + 2 * F.col("fold_radius_q")
            ).cast("long").alias("bound_q"),
            (
                F.col("cover_q")
                <= 2 * F.greatest("shard_a_radius_q", "shard_b_radius_q")
                + 2 * F.col("fold_radius_q")
            ).alias("meets_bound"),
        )
    )


@_q(
    "evt_autocorrelation_lags",
    """
    WITH hr AS (
        SELECT date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                         date_trunc('hour', CAST(ts AS TIMESTAMP))) AS h,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    lags(lag_hours) AS (VALUES (1), (24), (168)),
    pr AS (
        SELECT l.lag_hours, a.x AS x, b.x AS y
        FROM hr a JOIN lags l ON true
        JOIN hr b ON b.h = a.h + l.lag_hours
    ),
    st AS (
        SELECT lag_hours,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM pr GROUP BY lag_hours
    )
    SELECT CAST(lag_hours AS BIGINT) AS lag_hours,
           n AS n_pairs,
           CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1
                     WHEN n * sxy - sx * sy < 0 THEN -1
                     ELSE 0 END AS INTEGER) AS sign_r,
           CAST(CAST(n * sxy - sx * sy AS HUGEINT)
                * CAST(n * sxy - sx * sy AS HUGEINT) * 10000
                // (CAST(n * sxx - sx * sx AS HUGEINT)
                    * CAST(n * syy - sy * sy AS HUGEINT)) AS BIGINT)
               AS r2_bp
    FROM st
    """,
)
def evt_autocorrelation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodicity detection: Pearson autocorrelation of the hourly
    event-count series at the hour/day/week lags (1, 24, 168) — the
    seasonality probe a forecasting pipeline runs before choosing its
    model.  Pairs are co-observed hours (both endpoints present), the
    Pearson ratio is kept integer-exact by clearing denominators (the
    evt_anomaly_sigma pattern: DECIMAL(38,0) vs HUGEINT for the ~10^24
    squares) and emitting sign(r) + r² in basis points — no float, no
    sqrt.

    Scale notes: one hour-bucket rollup (map-side combined), one
    3-row lag cross, one self equi-join on the shifted hour index
    (co-partitioned on h), one ≤3-group rollup.  The series length is
    calendar-bounded — at 100 TB the hourly rollup is still thousands
    of rows."""
    ev = _t(spark, sf_dir, "events")
    hr = (
        ev.groupBy(
            F.expr(
                "CAST(unix_timestamp(date_trunc('hour', ts)) DIV 3600 "
                "AS BIGINT)"
            ).alias("h")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    a = hr.select(
        "h", "x", F.explode(F.array(F.lit(1), F.lit(24), F.lit(168))).alias("lag_hours")
    )
    b = hr.select(F.col("h").alias("hb"), F.col("x").alias("y"))
    pr = a.join(b, a.h + a.lag_hours == b.hb)
    st = pr.groupBy("lag_hours").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    dec = "DECIMAL(38,0)"
    return st.select(
        F.col("lag_hours").cast("long").alias("lag_hours"),
        F.col("n").alias("n_pairs"),
        F.expr(
            "CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1 "
            "WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INT)"
        ).alias("sign_r"),
        F.expr(
            f"CAST(CAST(n * sxy - sx * sy AS {dec}) "
            f"* CAST(n * sxy - sx * sy AS {dec}) * 10000 "
            f"DIV (CAST(n * sxx - sx * sx AS {dec}) "
            f"* CAST(n * syy - sy * sy AS {dec})) AS BIGINT)"
        ).alias("r2_bp"),
    )


# Benford first-digit expectation, ppm of log10(1 + 1/d) — identical
# constants on both engines (the FORMULA is floating, the CONTRACT is
# these fixed integers).
_BENFORD_PPM = [(1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757)]


@_q(
    "dq_benford_first_digit",
    """
    WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders WHERE o_totalprice > 0),
    d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                 AS digit FROM c),
    obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
            FROM d GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    bf(digit, exp_ppm) AS (VALUES (1, 301030) , (2, 176091) , (3, 124939) , (4, 96910) , (5, 79181) , (6, 66947) , (7, 57992) , (8, 51153) , (9, 45757) )
    SELECT CAST(bf.digit AS BIGINT) AS digit,
           CAST(coalesce(obs.n_obs, 0) AS BIGINT) AS n_obs,
           CAST(coalesce(obs.n_obs, 0) * 1000000 // tot.n AS BIGINT)
               AS obs_ppm,
           CAST(bf.exp_ppm AS BIGINT) AS exp_ppm,
           CAST(CAST(coalesce(obs.n_obs, 0) * 1000000
                     - tot.n * bf.exp_ppm AS HUGEINT)
                * CAST(coalesce(obs.n_obs, 0) * 1000000
                       - tot.n * bf.exp_ppm AS HUGEINT) * 1000
                // (CAST(1000000 AS HUGEINT) * tot.n * bf.exp_ppm)
                AS BIGINT) AS chi_term_x1000
    FROM bf LEFT JOIN obs USING (digit) CROSS JOIN tot
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals — the
    fabricated-data / unit-mix smell test a data-quality suite runs on
    any money column.  Observed first-digit shares vs the Benford
    expectation (fixed ppm constants — the integer CONTRACT both
    engines share) with a per-digit chi-square term, integer-exact via
    cleared denominators (DECIMAL(38,0) vs HUGEINT for the ~10^22
    squared deviations; every division has a nonnegative numerator).

    Scale notes: one digit rollup (map-side combined, ≤9 groups), a
    9-row expectation table, a 1-row total cross.  The synthetic
    uniform-ish price fixture deliberately FAILS Benford — large
    chi terms are the expected, honest output here."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    d = o.select(
        F.expr(
            "CAST(substring(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) "
            "AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    obs = d.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    bf = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"({dd}, {pp})" for dd, pp in _BENFORD_PPM)
        + " AS t(digit, exp_ppm)"
    )
    dec = "DECIMAL(38,0)"
    return (
        bf.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("digit").cast("long").alias("digit"),
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            F.expr(
                "CAST(coalesce(n_obs, 0) * 1000000 DIV n AS BIGINT)"
            ).alias("obs_ppm"),
            F.col("exp_ppm").cast("long").alias("exp_ppm"),
            F.expr(
                f"CAST(CAST(coalesce(n_obs, 0) * 1000000 - n * exp_ppm "
                f"AS {dec}) * CAST(coalesce(n_obs, 0) * 1000000 "
                f"- n * exp_ppm AS {dec}) * 1000 "
                f"DIV (CAST(1000000 AS {dec}) * n * exp_ppm) AS BIGINT)"
            ).alias("chi_term_x1000"),
        )
    )


@_q(
    "part_association_rules",
    """
    WITH b AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
               FROM lineitem),
    marg AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
             FROM b GROUP BY 1),
    tot AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n_baskets FROM b),
    pr AS (SELECT a.item AS item_a, c.item AS item_b,
                  CAST(count(*) AS BIGINT) AS n_both
           FROM b a JOIN b c ON a.g = c.g AND a.item < c.item
           GROUP BY 1, 2 HAVING count(*) >= 2),
    rules AS (SELECT item_a AS antecedent, item_b AS consequent, n_both
              FROM pr
              UNION ALL
              SELECT item_b, item_a, n_both FROM pr)
    SELECT r.antecedent, r.consequent, r.n_both,
           ma.n_item AS n_antecedent, mc.n_item AS n_consequent,
           CAST(r.n_both * 10000 // ma.n_item AS BIGINT) AS confidence_bp,
           CAST(r.n_both * tot.n_baskets * 1000
                // (ma.n_item * mc.n_item) AS BIGINT) AS lift_x1000
    FROM rules r
    JOIN marg ma ON ma.item = r.antecedent
    JOIN marg mc ON mc.item = r.consequent
    CROSS JOIN tot
    """,
)
def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full market-basket association mining (operators/stats.py
    association_rules): directional rules A→B over co-purchased parts
    with integer-exact confidence (bp) and lift (×1000) — the
    recommendation / affinity primitive the support-only
    part_cooccurrence_pairs feeds.

    Scale notes: pair generation inherits the Σ basket_size² bound of
    the support pass; marginals are one bounded rollup joined back;
    the basket total is a 1-row broadcast."""
    from ..operators.stats import association_rules

    return association_rules(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
        min_support=2,
    )


@_q(
    "part_copurchase_topk",
    """
    WITH b AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
               FROM lineitem),
    marg AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
             FROM b GROUP BY 1),
    pr AS (SELECT a.item AS item_a, c.item AS item_b,
                  CAST(count(*) AS BIGINT) AS n_both
           FROM b a JOIN b c ON a.g = c.g AND a.item < c.item
           GROUP BY 1, 2 HAVING count(*) >= 2),
    sym AS (SELECT item_a AS item, item_b AS neighbor, n_both FROM pr
            UNION ALL
            SELECT item_b, item_a, n_both FROM pr),
    sc AS (SELECT s.item, s.neighbor, s.n_both,
                  mi.n_item AS n_item, mn.n_item AS n_neighbor,
                  CAST(s.n_both * 10000
                       // (mi.n_item + mn.n_item - s.n_both) AS BIGINT)
                      AS jaccard_bp
           FROM sym s
           JOIN marg mi ON mi.item = s.item
           JOIN marg mn ON mn.item = s.neighbor),
    rk AS (SELECT *, row_number() OVER (
               PARTITION BY item
               ORDER BY jaccard_bp DESC, n_both DESC, neighbor) AS rnk
           FROM sc)
    SELECT item, neighbor, CAST(rnk AS BIGINT) AS rnk,
           n_both, jaccard_bp
    FROM rk WHERE rnk <= 3
    """,
)
def part_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: the top-3 most-similar parts
    per part by basket Jaccard (co-orders / orders-with-either, ×10⁴)
    — the "customers also bought" primitive, and the NORMALIZED
    complement to part_association_rules' directional confidence/lift
    (Jaccard is symmetric and popularity-damped: a part co-occurring
    with everything scores low against every specific neighbor).
    Support floor ≥ 2 co-orders; ties break by co-count then smaller
    neighbor id.

    Scale notes (100 TB): pair generation inherits the Σ basket²
    bound of the association pass (baskets are order-sized, bounded);
    marginals are one item rollup joined back; the per-item top-3 is a
    window PARTITIONED by item over its co-item rows — never global.
    At catalog scale the pair rollup is the classic item-item
    co-occurrence matrix build."""
    # distinct basket-item pairs: 3 consumers (marginals + both sides
    # of the self-join) each replayed the fact scan + wide distinct —
    # pinned, 2 long columns per row (r12, guide §5)
    b = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("g"), F.col("l_partkey").alias("item"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # |items|-row marginals, joined twice (item + neighbor side)
    marg = b.groupBy("item").agg(
        F.count(F.lit(1)).alias("n_item")
    ).localCheckpoint(eager=False)
    a, c = b.alias("a"), b.alias("c")
    # the co-occurrence matrix: both legs of the symmetrization read
    # it — unpinned, the Σ basket² pair-generation join ran twice
    pr = (
        a.join(
            c,
            (F.col("a.g") == F.col("c.g"))
            & (F.col("a.item") < F.col("c.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("c.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= 2)
        .localCheckpoint(eager=False)
    )
    sym = pr.select(
        F.col("item_a").alias("item"),
        F.col("item_b").alias("neighbor"),
        "n_both",
    ).unionByName(
        pr.select(
            F.col("item_b").alias("item"),
            F.col("item_a").alias("neighbor"),
            "n_both",
        )
    )
    sc = (
        sym.join(marg.withColumnRenamed("n_item", "n_i"), "item")
        .join(
            marg.select(
                F.col("item").alias("neighbor"),
                F.col("n_item").alias("n_n"),
            ),
            "neighbor",
        )
        .select(
            "item",
            "neighbor",
            "n_both",
            F.expr(
                "CAST(n_both * 10000 DIV (n_i + n_n - n_both) AS BIGINT)"
            ).alias("jaccard_bp"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("jaccard_bp"), F.desc("n_both"), F.asc("neighbor")
    )
    return (
        sc.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "item",
            "neighbor",
            F.col("rnk").cast("long").alias("rnk"),
            F.col("n_both").cast("long").alias("n_both"),
            "jaccard_bp",
        )
    )


@_q(
    "evt_touch_attribution",
    """
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type,
                      CAST(floor(value * 100) AS BIGINT) AS cents
               FROM events),
    p AS (SELECT event_id, user_id, ts, cents FROM e
          WHERE event_type = 'purchase'),
    c AS (SELECT event_id, user_id, ts FROM e
          WHERE event_type = 'click'),
    lt AS (SELECT p.event_id, p.cents,
                  CAST(epoch_us(c.ts) AS BIGINT) // 3600000000
                      AS click_eh
           FROM p ASOF LEFT JOIN c
             ON p.user_id = c.user_id AND p.ts >= c.ts),
    fc AS (SELECT user_id, min(ts) AS first_ts FROM c GROUP BY 1),
    ft AS (SELECT p.event_id, p.cents,
                  CASE WHEN fc.first_ts IS NOT NULL
                            AND fc.first_ts <= p.ts
                       THEN CAST(epoch_us(fc.first_ts) AS BIGINT)
                            // 3600000000 END AS click_eh
           FROM p LEFT JOIN fc ON fc.user_id = p.user_id),
    lab AS (SELECT 'last_touch' AS model, click_eh, cents FROM lt
            UNION ALL
            SELECT 'first_touch', click_eh, cents FROM ft)
    SELECT model, click_eh,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM lab GROUP BY model, click_eh
    """,
)
def evt_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing touch attribution, both canonical models side by
    side: every purchase's revenue attributed to the user's LAST
    prior-or-simultaneous click (the as-of join —
    operators/joins.as_of_join, union+window, no pair explosion) and
    to their FIRST-ever click if it precedes the purchase (one
    per-user min rollup + equi-join — first-touch needs no as-of).
    Rolled up per (model, click hour); purchases with no prior click
    land in the NULL-hour bucket, so the two models account for
    identical totals by construction — the dashboard that shows how
    much credit moves between acquisition and conversion channels
    when the attribution rule changes.

    Scale notes (100 TB): last-touch is the as-of union+window
    (partitioned per user — bounded per-key rows); first-touch is a
    hash rollup + equi-join; the final rollup is map-side-combinable.
    Tie-break on equal timestamps: the as-of takes the latest click
    with ts ≤ purchase, matching DuckDB's ASOF (>=) exactly."""
    from ..operators.joins import as_of_join

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "cents"
    )
    c = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("c_event_id")
    )
    lt = as_of_join(
        p,
        c,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["ts"],
        tie_break="c_event_id",
    ).select(
        F.lit("last_touch").alias("model"),
        F.expr("unix_micros(asof_ts) DIV 3600000000").alias("click_eh"),
        "cents",
    )
    fc = c.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    ft = p.join(fc, "user_id", "left").select(
        F.lit("first_touch").alias("model"),
        F.when(
            F.col("first_ts").isNotNull()
            & (F.col("first_ts") <= F.col("ts")),
            F.expr("unix_micros(first_ts) DIV 3600000000"),
        ).alias("click_eh"),
        "cents",
    )
    return (
        lt.unionByName(ft)
        .groupBy("model", "click_eh")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


@_q(
    "evt_changepoint_cusum",
    """
    WITH hr AS (
        SELECT date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                         date_trunc('hour', CAST(ts AS TIMESTAMP))) AS h,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS s FROM hr),
    c AS (SELECT hr.h, hr.x, st.n, st.s,
                 CAST(sum(st.n * hr.x - st.s) OVER (
                     ORDER BY hr.h ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS BIGINT) AS cum
          FROM hr CROSS JOIN st),
    cp AS (SELECT h AS h_star, abs(cum) AS max_abs_cusum, n, s
           FROM c ORDER BY abs(cum) DESC, h LIMIT 1)
    SELECT CAST(cp.h_star AS BIGINT) AS changepoint_epoch_hour,
           CAST(cp.n AS BIGINT) AS n_hours,
           CAST(cp.max_abs_cusum AS BIGINT) AS max_abs_cusum,
           CAST(sum(CASE WHEN hr.h <= cp.h_star THEN hr.x ELSE 0 END)
                * 1000
                // sum(CASE WHEN hr.h <= cp.h_star THEN 1 ELSE 0 END)
                AS BIGINT) AS pre_mean_x1000,
           CAST(sum(CASE WHEN hr.h > cp.h_star THEN hr.x ELSE 0 END)
                * 1000
                // sum(CASE WHEN hr.h > cp.h_star THEN 1 ELSE 0 END)
                AS BIGINT) AS post_mean_x1000
    FROM hr CROSS JOIN cp
    GROUP BY cp.h_star, cp.n, cp.max_abs_cusum
    """,
)
def evt_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch changepoint detection on the hourly event-rate series —
    the offline leg of the streaming CUSUM drift detector
    (streaming/stateful.py): the split point is the argmax of the
    |cumulative deviation| with denominators cleared (d_t = n·x_t − S,
    so no float mean ever runs), with the pre/post level means (×1000)
    that quantify the shift.  Deterministic argmax tie-break to the
    earliest hour.

    Scale notes: the hourly rollup is calendar-bounded (thousands of
    rows at ANY corpus size), so the ordered cumulative window runs
    over a bounded summary (the evt_cumulative_new_users allowlist
    class); the argmax is TakeOrdered(1) and the level means are one
    conditional rollup against the 1-row changepoint broadcast."""
    ev = _t(spark, sf_dir, "events")
    hr = (
        ev.groupBy(
            F.expr(
                "CAST(unix_timestamp(date_trunc('hour', ts)) DIV 3600 "
                "AS BIGINT)"
            ).alias("h")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    st = hr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    c = (
        hr.crossJoin(F.broadcast(st))
        .withColumn(
            "cum",
            F.sum(F.col("n") * F.col("x") - F.col("s")).over(w).cast("long"),
        )
    )
    cp = (
        c.orderBy(F.abs(F.col("cum")).desc(), F.col("h").asc())
        .limit(1)
        .select(
            F.col("h").alias("h_star"),
            F.abs(F.col("cum")).cast("long").alias("max_abs_cusum"),
            "n",
        )
    )
    return (
        hr.crossJoin(F.broadcast(cp))
        .groupBy("h_star", "n", "max_abs_cusum")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN h <= h_star THEN x ELSE 0 END) * 1000 "
                "DIV sum(CASE WHEN h <= h_star THEN 1 ELSE 0 END) "
                "AS BIGINT)"
            ).alias("pre_mean_x1000"),
            F.expr(
                "CAST(sum(CASE WHEN h > h_star THEN x ELSE 0 END) * 1000 "
                "DIV sum(CASE WHEN h > h_star THEN 1 ELSE 0 END) "
                "AS BIGINT)"
            ).alias("post_mean_x1000"),
        )
        .select(
            F.col("h_star").cast("long").alias("changepoint_epoch_hour"),
            F.col("n").cast("long").alias("n_hours"),
            "max_abs_cusum",
            "pre_mean_x1000",
            "post_mean_x1000",
        )
    )


@_q(
    "emb_quantization_error_audit",
    """
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    m AS (
        SELECT vec_id, label, qv,
               greatest(list_max(list_transform(qv, x -> abs(x))),
                        CAST(1 AS BIGINT)) AS maxabs
        FROM q
    ),
    c AS (
        SELECT vec_id, label, qv, maxabs,
               list_transform(qv,
                   x -> (CASE WHEN x < 0 THEN -1 ELSE 1 END)
                        * ((abs(x) * 127) // maxabs)) AS q8
        FROM m
    ),
    r AS (
        SELECT vec_id, label, qv, maxabs,
               list_transform(q8,
                   cc -> CASE WHEN cc < 0
                              THEN -((-cc) * maxabs // 127)
                              ELSE (cc * maxabs) // 127 END) AS recon
        FROM c
    ),
    e AS (
        SELECT vec_id, label, maxabs,
               list_transform(range(1, len(qv) + 1),
                              i -> abs(qv[i] - recon[i])) AS err,
               len(qv) AS dim
        FROM r
    )
    SELECT vec_id, label,
           CAST(maxabs AS BIGINT) AS maxabs_q,
           CAST(list_max(err) AS BIGINT) AS max_abs_err_q,
           CAST(list_sum(err) * 1000 // dim AS BIGINT)
               AS mean_abs_err_x1000,
           CAST(list_max(err) * 10000 // maxabs AS BIGINT) AS max_err_bp
    FROM e
    """,
)
def emb_quantization_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization ERROR audit — the calibration check run
    before an ANN index is served from int8 codes: round-trip every
    vector through quantize→dequantize (functions/vectors.py
    quantize_int8 / dequantize_int8, both sign-split so two engines
    floor identically) and report the per-vector max / mean absolute
    reconstruction error in µ-units plus the max error relative to
    the vector's own scale in basis points (bounded by construction:
    one int8 step is maxabs/127 ≈ 79 bp).

    Scale notes: pure per-row array arithmetic inside codegen — no
    shuffle, no joins; the audit costs one narrow map over however
    many vectors exist."""
    from ..functions.vectors import (
        dequantize_int8,
        quantize_embedding,
        quantize_int8,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id", "label", quantize_embedding(F.col("embedding")).alias("qv")
    )
    m = q.select(
        "vec_id",
        "label",
        "qv",
        F.greatest(
            F.array_max(F.transform("qv", F.abs)), F.lit(1).cast("long")
        ).alias("maxabs"),
    )
    r = m.select(
        "vec_id",
        "label",
        "qv",
        "maxabs",
        dequantize_int8(
            quantize_int8(F.col("qv"), F.col("maxabs")), F.col("maxabs")
        ).alias("recon"),
    )
    err = r.select(
        "vec_id",
        "label",
        "maxabs",
        F.zip_with("qv", "recon", lambda a, b: F.abs(a - b)).alias("err"),
        F.size("qv").alias("dim"),
    )
    return err.select(
        "vec_id",
        "label",
        F.col("maxabs").cast("long").alias("maxabs_q"),
        F.array_max("err").cast("long").alias("max_abs_err_q"),
        F.expr(
            "CAST(aggregate(err, 0L, (acc, x) -> acc + x) * 1000 "
            "DIV dim AS BIGINT)"
        ).alias("mean_abs_err_x1000"),
        F.expr(
            "CAST(array_max(err) * 10000 DIV maxabs AS BIGINT)"
        ).alias("max_err_bp"),
    )


@_q(
    "text_ngram_novelty",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(
                      range(1, greatest(len(t) - 2, 0) + 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                      AS shingle
           FROM toks),
    df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
           FROM sh GROUP BY 1)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS novelty_bp
    FROM sh JOIN df USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring — the inverse of the duplication signal:
    the fraction of a document's distinct 3-word shingles that appear
    in NO other document (document frequency 1), in basis points.
    High novelty = fresh content worth keeping; near-zero = the doc is
    assembled from corpus boilerplate — the complementary gate to the
    dup-span and containment families.

    Scale notes: one tokenized scan → per-doc distinct shingles
    (map-side combined), one shingle-keyed document-frequency rollup,
    one shuffle equi-join back on shingle (both sides pruned to
    distinct shingles), one per-doc rollup.  No windows, no pairwise
    stage — novelty needs only the df table, never shingle pairs."""
    from ..functions.hashing import shingles_of_tokens, word_tokens

    sh = (
        spread(_t(spark, sf_dir, "documents"))
        .select("doc_id", word_tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("t"), 3)).alias("shingle"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    df = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    return (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
            F.expr(
                "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 10000 "
                "DIV count(1) AS BIGINT)"
            ).alias("novelty_bp"),
        )
    )


@_q(
    "evt_seasonal_strength_anova",
    """
    WITH hr AS (
        SELECT date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                         date_trunc('hour', CAST(ts AS TIMESTAMP))) AS h,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    g AS (SELECT dim, CASE WHEN dim = 'hour_of_day' THEN h % 24
                           ELSE (h // 24 + 4) % 7 END AS grp, x
          FROM hr CROSS JOIN (SELECT unnest(['hour_of_day',
                                             'day_of_week']) AS dim)),
    st AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS s,
                  CAST(sum(x * x) AS BIGINT) AS q
           FROM g GROUP BY dim),
    gs AS (SELECT g.dim, g.grp, CAST(count(*) AS BIGINT) AS ng,
                  CAST(sum(g.x) AS BIGINT) AS sg
           FROM g GROUP BY g.dim, g.grp),
    ssb AS (SELECT gs.dim,
                   CAST(sum((st.n * gs.sg - gs.ng * st.s)
                            * (st.n * gs.sg - gs.ng * st.s) // gs.ng)
                        AS BIGINT) AS num,
                   CAST(count(*) AS BIGINT) AS n_groups
            FROM gs JOIN st USING (dim) GROUP BY gs.dim)
    SELECT ssb.dim AS dimension, st.n AS n_hours, ssb.n_groups,
           CAST(CAST(ssb.num AS HUGEINT) * 10000
                // (CAST(st.n AS HUGEINT)
                    * (st.n * st.q - st.s * st.s)) AS BIGINT)
               AS seasonal_strength_bp
    FROM ssb JOIN st USING (dim)
    """,
)
def evt_seasonal_strength_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-strength decomposition of the hourly event series: the
    one-way-ANOVA R² of the hour-of-day and day-of-week profiles —
    what fraction of hourly variance (in basis points) the calendar
    profile explains, the statistic that decides whether a forecast
    needs a seasonal term (complementing evt_autocorrelation_lags'
    lag view).  Integer-exact by clearing denominators:
    SSbetween·n² = Σ_g (n·S_g − n_g·S)²/n_g with the per-group
    division floored identically on both engines (nonnegative
    numerators), the final ratio in DECIMAL(38,0)/HUGEINT.  Day
    grouping anchors epoch day 0 = Thursday (+4 mod 7 = standard
    weekday numbering).

    Scale notes: one calendar-bounded hourly rollup, a 2-row dimension
    cross, two bounded (≤24/≤7 group) rollups and a ≤2-row join — no
    windows at all."""
    ev = _t(spark, sf_dir, "events")
    hr = (
        ev.groupBy(
            F.expr(
                "CAST(unix_timestamp(date_trunc('hour', ts)) DIV 3600 "
                "AS BIGINT)"
            ).alias("h")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    g = hr.crossJoin(
        F.broadcast(
            spark.sql(
                "SELECT explode(array('hour_of_day', 'day_of_week')) AS dim"
            )
        )
    ).select(
        "dim",
        F.expr(
            "CASE WHEN dim = 'hour_of_day' THEN h % 24 "
            "ELSE (h DIV 24 + 4) % 7 END"
        ).alias("grp"),
        "x",
    )
    st = g.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    gs = g.groupBy("dim", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("x").cast("long").alias("sg"),
    )
    ssb = (
        gs.join(F.broadcast(st), "dim")
        .groupBy("dim")
        .agg(
            F.expr(
                "CAST(sum((n * sg - ng * s) * (n * sg - ng * s) DIV ng) "
                "AS BIGINT)"
            ).alias("num"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
        )
    )
    dec = "DECIMAL(38,0)"
    return ssb.join(F.broadcast(st), "dim").select(
        F.col("dim").alias("dimension"),
        F.col("n").alias("n_hours"),
        "n_groups",
        F.expr(
            f"CAST(CAST(num AS {dec}) * 10000 "
            f"DIV (CAST(n AS {dec}) * (n * q - s * s)) AS BIGINT)"
        ).alias("seasonal_strength_bp"),
    )


def _budget_alloc_oracle() -> str:
    """Greedy token-budget allocation oracle: importance-scored strata
    walked best-first until 40% of corpus tokens are allocated."""
    ctes = _importance_ctes() + [
        """bstr AS (SELECT d.lang, d.source,
                  CAST(sum(iw.n_tokens) AS BIGINT) AS tokens_available,
                  CAST(sum(iw.sum_ratio_bp) // sum(iw.n_tokens) AS BIGINT)
                      AS score_bp
           FROM documents d JOIN iw ON d.doc_id = iw.doc_id
           GROUP BY d.lang, d.source)""",
        """btot AS (SELECT CAST(sum(tokens_available) * 4 // 10 AS BIGINT)
                   AS budget FROM bstr)""",
        """bcum AS (SELECT lang, source, tokens_available, score_bp,
                  CAST(coalesce(sum(tokens_available) OVER (
                      ORDER BY score_bp DESC, lang, source
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS cum_before
           FROM bstr)""",
    ]
    return (
        "WITH " + ", ".join(ctes) + """
    SELECT lang, source, score_bp, tokens_available,
           CAST(least(tokens_available,
                      greatest(btot.budget - cum_before, 0)) AS BIGINT)
               AS tokens_allocated,
           CASE WHEN btot.budget - cum_before >= tokens_available
                THEN 'full'
                WHEN btot.budget - cum_before > 0 THEN 'partial'
                ELSE 'excluded' END AS status
    FROM bcum CROSS JOIN btot"""
    )


@_q("doc_token_budget_allocation", _budget_alloc_oracle())
def doc_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained mixture planning: rank (lang, source) strata
    by token-weighted importance score (the DSIR weights rolled up per
    stratum) and allocate a 40%-of-corpus token budget greedily —
    best strata fully, the straddling stratum partially, the rest
    excluded.  The greedy walk is the LP-relaxation optimum of the
    budget-knapsack a mixture builder solves before a training run.

    Scale notes: the per-doc scoring is the audited importance plan;
    strata are a BOUNDED |lang|x|source| rollup, so the cumulative
    window runs over dozens of rows (the doc_mixture_weights
    bounded-domain class), and the budget is a 1-row cross."""
    from ..operators.text import importance_weights

    docs = _t(spark, sf_dir, "documents")
    iw = importance_weights(docs, F.col("lang") == "en")
    bstr = (
        docs.select("doc_id", "lang", "source")
        .join(iw, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.sum("n_tokens").cast("long").alias("tokens_available"),
            F.expr(
                "CAST(sum(sum_ratio_bp) DIV sum(n_tokens) AS BIGINT)"
            ).alias("score_bp"),
        )
        # bounded |lang|×|source| rollup read by BOTH the budget total
        # and the cumulative walk — without the pin each consumer
        # replays the whole per-doc importance chain (2 corpus passes)
        .localCheckpoint(eager=False)
    )
    btot = bstr.agg(
        F.expr(
            "CAST(sum(tokens_available) * 4 DIV 10 AS BIGINT)"
        ).alias("budget")
    )
    w = Window.orderBy(
        F.col("score_bp").desc(), F.col("lang"), F.col("source")
    ).rowsBetween(Window.unboundedPreceding, -1)
    bcum = bstr.withColumn(
        "cum_before",
        F.coalesce(F.sum("tokens_available").over(w), F.lit(0)).cast("long"),
    )
    return bcum.crossJoin(F.broadcast(btot)).select(
        "lang",
        "source",
        "score_bp",
        "tokens_available",
        F.least(
            F.col("tokens_available"),
            F.greatest(F.col("budget") - F.col("cum_before"), F.lit(0)),
        )
        .cast("long")
        .alias("tokens_allocated"),
        F.when(
            F.col("budget") - F.col("cum_before") >= F.col("tokens_available"),
            "full",
        )
        .when(F.col("budget") - F.col("cum_before") > 0, "partial")
        .otherwise("excluded")
        .alias("status"),
    )


@_q(
    "geo_grid_dbscan",
    f"""
    WITH RECURSIVE p AS (SELECT c_custkey AS id,
                      {_hex5_sql('c_custkey', 1)} % 100000 AS x,
                      {_hex5_sql('c_custkey', 6)} % 100000 AS y
               FROM customer),
    d AS (SELECT x // 10000 AS cx, y // 10000 AS cy,
                 CAST(count(*) AS BIGINT) AS n
          FROM p GROUP BY 1, 2 HAVING count(*) >= 3),
    c AS (SELECT cx, cy, CAST(cx * 1024 + cy AS BIGINT) AS cid, n FROM d),
    e0 AS (SELECT a.cid AS u, b.cid AS v
           FROM c a JOIN c b
             ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
            AND a.cid <> b.cid),
    reach(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM e0) n
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN e0 e ON e.u = r.u
    ),
    lab AS (SELECT u AS cid, min(lbl) AS cluster_id FROM reach GROUP BY u),
    f AS (SELECT c.cid, c.n, coalesce(lab.cluster_id, c.cid) AS cluster_id
          FROM c LEFT JOIN lab USING (cid))
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(n) AS BIGINT) AS n_points
    FROM f GROUP BY cluster_id
    """,
)
def geo_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density spatial clustering (the scalable DBSCAN core):
    tile the md5-scattered customer plane into eps-cells, keep cells
    with ≥ minpts points (density core), and merge 8-neighbor-adjacent
    dense cells into clusters via the same iterative min-label
    connected components the dedup family uses
    (operators/clustering.py) — isolated dense cells cluster alone.
    The oracle floods the identical adjacency graph with a recursive
    CTE.

    Scale notes: one grid rollup (map-side combined, ≤100 cells on
    this plane — the grid resolution also bounds the dense-graph
    diameter, keeping min-label propagation within its iteration
    budget even when every cell is dense); adjacency is an 8-offset
    explode + equi-join on cell coordinates — per-cell work, never
    point-pairs; components propagate over the BOUNDED dense-cell
    graph, not the points.  The grid rollup is the step that makes
    density clustering run at 10^11 points."""
    def hex5(start: int):
        return F.expr(
            "CAST(conv(substring(md5(CAST(c_custkey AS STRING)), "
            f"{start}, 5), 16, 10) AS BIGINT) % 100000"
        )

    pts = _t(spark, sf_dir, "customer").select(
        hex5(1).alias("x"), hex5(6).alias("y")
    )
    cells = (
        pts.groupBy(
            F.expr("x DIV 10000").alias("cx"),
            F.expr("y DIV 10000").alias("cy"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") >= 3)
        .withColumn("cid", F.expr("CAST(cx * 1024 + cy AS BIGINT)"))
        .localCheckpoint(eager=False)
    )
    nb = cells.select(
        "cid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + dx).alias("nx"),
                        (F.col("cy") + dy).alias("ny"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                    if not (dx == 0 and dy == 0)
                ]
            )
        ).alias("nb"),
    ).select("cid", "nb.nx", "nb.ny")
    edges = (
        nb.join(
            cells.select(
                F.col("cx").alias("nx"),
                F.col("cy").alias("ny"),
                F.col("cid").alias("cid_b"),
            ),
            ["nx", "ny"],
        )
        .where(F.col("cid") < F.col("cid_b"))
        .select(F.col("cid").alias("cell_a"), F.col("cid_b").alias("cell_b"))
    )
    cc = clustering.connected_components(
        edges, src="cell_a", dst="cell_b", out_id="cid", out_label="cluster_id"
    )
    labeled = cells.join(cc, "cid", "left").select(
        "n", F.coalesce(F.col("cluster_id"), F.col("cid")).alias("cluster_id")
    )
    return labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("n_points"),
    )


@_q(
    "doc_retrieval_ranking_eval",
    """
    WITH q(qid, term) AS (VALUES
        ('q1','data'),('q1','spark'),('q1','table'),
        ('q2','join'),('q2','hash'),('q2','merge'),
        ('q3','vector'),('q3','stream'),('q3','window'),
        ('q4','query'),('q4','scan'),('q4','filter')),
    w(rnk, disc_w) AS (VALUES
        (1,1000000),(2,630930),(3,500000),(4,430677),(5,386853),
        (6,356207),(7,333333),(8,315465),(9,301030),(10,289065)),
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
    tf AS (SELECT q.qid, t.doc_id, t.term, count(*) AS tf
           FROM toks t JOIN q ON t.term = q.term GROUP BY 1, 2, 3),
    df AS (SELECT qid, term, count(*) AS df FROM tf GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
    s AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
    scored AS (SELECT tf.qid, tf.doc_id,
                      sum((((2*s.n - 2*df.df + 1) * 1000) // (2*df.df + 1))
                          * (44*tf.tf*s.sdl)
                          // (20*tf.tf*s.sdl + 6*s.sdl + 18*dl.dl*s.n))
                          AS score
               FROM tf JOIN df USING (qid, term) JOIN dl USING (doc_id)
               CROSS JOIN s
               GROUP BY 1, 2),
    rel AS (SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS rel
            FROM tf GROUP BY 1, 2),
    ranked AS (SELECT qid, doc_id,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY score DESC, doc_id) AS rnk
               FROM scored),
    topk AS (SELECT r.qid, r.doc_id, r.rnk, coalesce(rel.rel, 0) AS rel
             FROM ranked r LEFT JOIN rel USING (qid, doc_id)
             WHERE r.rnk <= 10),
    retr AS (SELECT qid, count(*) AS n_retrieved,
                    sum(rel * w.disc_w) AS dcg_micro,
                    sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS p_at_k,
                    min(CASE WHEN rel > 0 THEN rnk END) AS first_hit
             FROM topk JOIN w USING (rnk) GROUP BY qid),
    irank AS (SELECT qid, doc_id, rel,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY rel DESC, doc_id) AS irnk
              FROM rel),
    ideal AS (SELECT qid, sum(rel * w.disc_w) AS idcg_micro
              FROM irank JOIN w ON w.rnk = irank.irnk
              WHERE irnk <= 10 GROUP BY qid)
    SELECT r.qid,
           CAST(r.n_retrieved AS BIGINT) AS n_retrieved,
           CAST(r.p_at_k AS BIGINT) AS p_at_k,
           CAST(coalesce(1000000 // r.first_hit, 0) AS BIGINT) AS mrr_micro,
           CAST(r.dcg_micro AS BIGINT) AS dcg_micro,
           CAST(i.idcg_micro AS BIGINT) AS idcg_micro,
           CAST(CASE WHEN i.idcg_micro > 0
                THEN (r.dcg_micro * 1000000) // i.idcg_micro
                ELSE 0 END AS BIGINT) AS ndcg_micro
    FROM retr r JOIN ideal i USING (qid)
    ORDER BY qid
    """,
)
def doc_retrieval_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality eval harness (nDCG@10 / MRR / P@10) for the BM25
    stack over a fixed 4-query set — the eval loop a retrieval-backed
    curation pipeline runs after every index rebuild (operators/
    retrieval.py:retrieval_ranking_eval).  Graded relevance is derived
    (rel = #query terms present), the 1/log2(i+1) discount enters as a
    shared integer literal table, and every metric is int64 — so the
    oracle replays nDCG bit-for-bit.  One corpus pass serves all
    queries; per-query ranking windows touch only matched docs."""
    from ..operators.retrieval import retrieval_ranking_eval

    return retrieval_ranking_eval(
        _t(spark, sf_dir, "documents"),
        [
            ("q1", ["data", "spark", "table"]),
            ("q2", ["join", "hash", "merge"]),
            ("q3", ["vector", "stream", "window"]),
            ("q4", ["query", "scan", "filter"]),
        ],
        k=10,
    )


# --------------------------------------------------------------------------
# Registry ordering: the driver's correctness gate checks the FIRST 50
# registered queries, so registration order is risk order.  Queries with
# no CORRECTNESS_r01 row (the driver stopped at 50), queries changed this
# round, and new queries go first; long-green unchanged queries last.
# --------------------------------------------------------------------------

_CHECK_FIRST = [
    # ---- round-12 window: queries NEW in round 12 go FIRST (extend
    # here at registration time), then the staleness ladder below ----
    "doc_retrieval_ranking_eval",
    "pipeline_publication_audit",
    "doc_dedup_keep_best",
    "join_salted_skew_rollup",
    "emb_cluster_mixture_report",
    # ---- last driver-green r4 ----
    "part_cooccurrence_pairs",
    "pipeline_corpus_curation_v4",
    "text_classifier_histogram",
    "text_quality_classifier",
    # ---- last driver-green r5 ----
    "agg_bitmap_distinct",
    "agg_equidepth_histogram",
    "agg_exact_covariance",
    "agg_exact_mode",
    "agg_exact_regression",
    "agg_hll_overlap_estimate",
    "agg_mad_outliers",
    "agg_winsorized_mean",
    "cdc_incremental_agg_maintenance",
    "doc_lsh_band_sweep",
    "doc_lsh_precision_eval",
    "doc_neardup_cluster_size_hist",
    "doc_quality_dup_crosstab",
    "doc_shingle_containment_pairs",
    "doc_split_leakage_audit",
    "doc_winnowing_fingerprints",
    "doc_winnowing_overlap_pairs",
    "dq_skew_profile",
    "emb_ann_recall_eval",
    "evt_activity_streaks",
    "evt_bounce_rate_by_entry",
    "evt_cohort_ltv_triangle",
    "evt_funnel_within_7d",
    "evt_late_arrival_profile",
    "evt_path_to_purchase_length",
    "evt_pattern_match_cep",
    "evt_peak_concurrency",
    "evt_session_window_native",
    "evt_type_overlap",
    "evt_user_concentration_gini",
    "fn_aes_roundtrip",
    "fn_collation_suite",
    "fn_sql_udf_suite",
    "fn_xml_suite",
    "geo_grid_distance_join",
    "sql_parameterized_query",
    "text_lang_confusion_matrix",
    "text_stopword_discovery",
    "text_typo_variant_pairs",
    "tpch_fulfillment_latency",
    "tpch_repeat_purchase_cohorts",
    "tpch_revenue_mom_growth",
    "tpch_running_backlog",
    "udf_arrow_grouped_stats",
    "win_ratio_to_report",
    # ---- last driver-green r6 ----
    "agg_weighted_median",
    "doc_epochs_to_budget",
    "doc_neardup_rate_by_source",
    "doc_phrase_search",
    "doc_source_overlap_matrix",
    "dq_distribution_drift",
    "dq_k_anonymity",
    "dq_referential_suite",
    "dq_unreferenced_dims",
    "emb_between_class_scatter",
    "emb_centroid_distance_profile",
    "emb_exact_dup_groups",
    "emb_filtered_ann_topk",
    "emb_incremental_topk_maintenance",
    "emb_ivf_probe_sweep",
    "emb_power_iteration_matvec",
    "evt_ab_test_chisq",
    "evt_channel_ltv",
    "evt_error_budget_burn",
    "evt_interarrival_profile",
    "evt_multitouch_attribution",
    "evt_rolling_corr",
    "evt_seasonal_naive_backtest",
    "evt_survival_risk_table",
    "evt_training_set_assembly",
    "evt_transition_conformance",
    "files_partitioned_write_layout",
    "fn_interval_arithmetic",
    "fn_str_to_map_suite",
    "graph_degree_histogram",
    "kr_ops_dashboard",
    "pipeline_event_analytics",
    "text_bpe_pair_counts",
    "text_word_bigram_familiarity",
    "tpch_q11_important_stock",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_variety",
    "tpch_q17_small_qty_revenue",
    "tpch_q20_excess_shippers",
    "tpch_q21_waiting_supplier",
    "tpch_q5_revenue_by_nation",
    "tpch_q9_product_profit",
    "tpch_supplier_scorecard",
    "udtf_table_arg_user_summary",
    # ---- last driver-green r7 ----
    "agg_collect_sorted",
    "agg_cube_orders",
    "agg_percentiles_disc",
    "agg_pivot_event_types",
    "agg_quantile_sketch_merge",
    "agg_rollup_nation_acctbal",
    "agg_unpivot_lineitem",
    "agg_value_histogram",
    "doc_chargram_dup_coverage",
    "doc_dedup_exact",
    "doc_fingerprint",
    "doc_minhash_lsh_pairs",
    "doc_simhash",
    "doc_url_canonical_dedup",
    "doc_url_host_profile",
    "emb_ann_topk",
    "evt_dedup_exact",
    "evt_session_windows",
    "evt_sliding_1h_30m",
    "evt_tumbling_hourly",
    "evt_user_lag_deltas",
    "fn_collection_suite",
    "fn_explode_outer",
    "fn_null_semantics",
    "fn_posexplode",
    "join_anti_semi",
    "mm_binary_meta",
    "mm_feature_extract",
    "set_ops_customer_cohorts",
    "sql_interface_region_revenue",
    "text_bloom_membership",
    "text_count_min_estimate",
    "text_heavy_hitters_bounds",
    "text_lang_id",
    "text_pii_scrub",
    "text_quality_stats",
    "tpch_q13_custdist",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_bracket_revenue",
    "tpch_q3_top_orders",
    "tpch_q4_order_priority",
    "tpch_q6_revenue_delta",
    "udf_cogrouped_counts",
    "win_rank_suite",
    "win_running_totals",
    "win_top_customers_per_nation",
    # ---- last driver-green r8 ----
    "agg_join_size_estimate",
    "agg_salted_event_type",
    "cdc_join_view_maintenance",
    "cdc_join_view_zset_deletes",
    "corr_subquery_cheapest_item",
    "doc_bm25_search",
    "doc_contamination_check",
    "doc_hybrid_rrf",
    "doc_lsh_levenshtein_verify",
    "doc_neardup_clusters",
    "doc_ngram_jaccard_pairs",
    "doc_stratified_sample",
    "dq_linkage_blocking_eval",
    "dq_record_linkage",
    "emb_neardup_pairs",
    "evt_asof_join_signup",
    "evt_count_min_deletes",
    "evt_decile_lift_table",
    "evt_multires_rollup",
    "evt_selfjoin_size_estimate",
    "evt_timeseries_similarity",
    "evt_user_rfm_segments",
    "fn_date_parts",
    "fn_map_suite",
    "fn_scalar_suite",
    "kr_active_region_gate",
    "kr_checkpoint",
    "kr_payload_decode",
    "kr_replicated_records",
    "kr_stream_name_extract",
    "part_abc_pareto",
    "pipeline_corpus_curation",
    "pipeline_corpus_curation_v2",
    "pipeline_corpus_curation_v5",
    "text_bpe_apply",
    "text_bpe_encode_stats",
    "text_bpe_merge_step",
    "text_classifier_calibration",
    "text_lang_stats",
    "text_token_counts",
    "text_vocab_coverage_curve",
    "text_zipf_curve",
    "tpch_q10_returned_items",
    "tpch_q12_late_priority",
    "tpch_q1_pricing_summary",
    "tpch_q22_global_sales_opportunity",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "udf_broadcast_lookup",
    "udf_grouped_user_stats",
    # ---- last driver-green r9 ----
    "agg_exact_median_2x",
    "agg_grouping_sets",
    "agg_weighted_join_size_estimate",
    "cdc_importance_model_maintenance",
    "cdc_merge_upsert",
    "cdc_position_deletes",
    "cdc_scd2_intervals",
    "corr_lateral_topn",
    "doc_balanced_sample",
    "doc_curriculum_phases",
    "doc_dup_spans",
    "doc_importance_weights",
    "doc_kfold_assign",
    "doc_mixture_weights",
    "doc_pack_sequences",
    "doc_reservoir_sample",
    "doc_simhash_neardup_pairs",
    "doc_tfidf_top_terms",
    "doc_token_budget_allocation",
    "doc_weighted_sample",
    "dq_benford_first_digit",
    "dq_check_orders",
    "dq_profile_orders",
    "dq_referential_orders_customer",
    "emb_group_centroids",
    "emb_int8_quantize",
    "emb_kcenter_coreset",
    "emb_quantization_error_audit",
    "evt_anomaly_sigma",
    "evt_autocorrelation_lags",
    "evt_changepoint_cusum",
    "evt_funnel_ordered",
    "evt_gapfill_hourly",
    "evt_range_frame_sum",
    "evt_retention_cohorts",
    "evt_seasonal_strength_anova",
    "files_compaction_plan",
    "files_zorder_pruning",
    "geo_grid_dbscan",
    "mm_audio_features",
    "mm_image_phash_groups",
    "part_association_rules",
    "pipeline_corpus_curation_v6",
    "plan_join_strategy_hook",
    "text_bigram_lm_score",
    "text_ngram_novelty",
    "tpch_q2_min_cost_supplier",
    "udf_pandas_agg_median",
    "udf_pandas_distinct_words",
    "udtf_bigrams",
    # ---- last driver-green r10 ----
    "cdc_neardup_cluster_maintenance",
    "doc_chunk_windows",
    "doc_holdout_leakage_rate",
    "doc_quality_quantile_norm",
    "dq_functional_dependencies",
    "dq_l_diversity",
    "dq_t_closeness",
    "emb_ann_ivf_coreset_topk",
    "emb_coreset_fold_maintenance",
    "emb_coreset_ivf_recall_eval",
    "emb_hard_negative_mining",
    "emb_mmr_diversified_topk",
    "evt_markov_stationary",
    "evt_sessionize_batch",
    "evt_sliding_distinct_users",
    "evt_sliding_hll_users",
    "evt_touch_attribution",
    "files_bloom_pruning",
    "files_compaction_incremental",
    "files_hilbert_pruning",
    "files_lifecycle",
    "files_workload_layout_advisor",
    "fn_datetime_suite",
    "fn_json_suite",
    "fn_regexp_suite",
    "fn_string_agg",
    "fn_try_errors",
    "fn_variant_suite",
    "graph_kcore_membership",
    "graph_pagerank",
    "kr_batch_metrics",
    "mm_frame_sample",
    "mm_keyframe_select",
    "mm_resize",
    "part_copurchase_topk",
    "part_skyline_pareto_front",
    "pipeline_corpus_curation_v3",
    "pipeline_corpus_curation_v7",
    "pipeline_corpus_curation_v8",
    "plan_join_order_3way",
    "set_ops_all_quantifiers",
    "text_char_bigram_score",
    "text_gopher_rules",
    "text_pmi_collocations",
    "text_repetition_stats",
    "text_tokenizer_fertility",
    "text_vocab_oov",
    "udf_arrow_byte_stats",
    "udtf_analyze_top_tokens",
    "win_value_functions",
    # ---- last driver-green r11 ----
    "agg_approx_distinct",
    "agg_approx_percentile",
    "agg_countif_maxby",
    "agg_hll_sketch_union",
    "agg_kmv_set_operations",
    "agg_pivot_events",
    "cdc_corpus_refresh_delta",
    "cdc_point_in_time_join",
    "cdc_snapshot_at_time",
    "cdc_snapshot_diff",
    "doc_chunk_overlap",
    "doc_dedup_normalized",
    "doc_domain_cap",
    "doc_dup_span_fraction",
    "doc_length_percentiles",
    "doc_minhash_jaccard_estimate",
    "doc_source_mix_report",
    "emb_ann_ivf_kmeans_topk",
    "emb_ann_ivf_topk",
    "emb_ann_lsh_topk",
    "emb_ann_pq_topk",
    "emb_dim_covariance",
    "emb_knn_label_classify",
    "emb_matryoshka_staged_topk",
    "emb_semantic_dedup",
    "evt_conversion_time_stats",
    "evt_cumulative_new_users",
    "evt_dau_wau_stickiness",
    "evt_first_touch_attribution",
    "evt_hour_type_heatmap",
    "evt_incident_session_overlap",
    "evt_markov_transitions",
    "evt_path_trigrams",
    "evt_range_count_5m",
    "evt_rolling_7d_active_users",
    "evt_sliding_loghist_quantiles",
    "evt_sliding_value_quantiles",
    "evt_type_value_profile",
    "evt_user_activity_stats",
    "files_layout_lineitem",
    "files_overlap_depth",
    "files_schema_evolution",
    "fn_bitwise_suite",
    "fn_higher_order_suite",
    "fn_recursive_date_spine",
    "fn_url_suite",
    "gen_replicate_pipeline",
    "graph_triangle_count",
    "kr_replication_reconcile",
    "text_kneser_ney_bigrams",
]


def _risk_ordered(d: dict) -> dict:
    head = {k: d[k] for k in _CHECK_FIRST if k in d}
    head.update({k: v for k, v in d.items() if k not in head})
    return head


QUERIES = _risk_ordered(QUERIES)
ORACLE_SQL = _risk_ordered(ORACLE_SQL)


# Queries whose CONSTRUCTION runs Spark jobs (iterative connected
# components, eager localCheckpoints): building their final frame is
# expensive and the resulting plan text covers only the last iteration,
# so plan lint / fingerprint tooling skips them — their plan discipline
# is asserted by their own dedicated tests.
PLAN_BUILD_RUNS_JOBS = frozenset(
    {
        "doc_neardup_clusters",
        "doc_dedup_keep_best",
        "cdc_neardup_cluster_maintenance",
        "cdc_corpus_refresh_delta",
        "geo_grid_dbscan",
        "pipeline_corpus_curation_v2",
        "pipeline_corpus_curation_v4",
        "graph_pagerank",
        # r12 optimization: the MMR greedy rerank runs driver-side on
        # the bounded ≤pool-row shortlist (one bounded collect, the
        # kmeans_centroids pattern; A/B: 2.0 s → 0.4 s standalone) —
        # construction therefore runs the shortlist job; plan
        # discipline is asserted by test_mmr and the oracle parity
        # rows.  (The k-center loop was A/B'd the same way and kept
        # on the broadcast form — see kcenter_coreset's docstring.)
        "emb_mmr_diversified_topk",
        "pipeline_corpus_curation_v8",
        # r12 optimization: the 8 power-iteration rounds run driver-side
        # on the collected ≤|types|²-row transition matrix (bounded enum
        # domain — the nation-map collect convention); construction runs
        # the matrix job.  Was 33 shuffles / 29 scans of orchestration
        # for ≤|types|-row frames.
        "evt_markov_stationary",
    }
)
