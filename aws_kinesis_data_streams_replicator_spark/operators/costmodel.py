"""Sketch-driven join planning: the count-min join-size estimation
family (``agg_join_size_estimate`` / ``evt_selfjoin_size_estimate``)
consumed as a COST MODEL — pick broadcast vs shuffle for an equi-join
from two ≤4096-cell key sketches, without scanning either fact twice.

Why this exists: AQE only sees runtime sizes AFTER a stage
materializes; a catalog cost model needs ANSI statistics nobody
maintains.  A CMS key grid is buildable in one map-side-combinable
pass per relation, is cell-wise addable (partitioned/incremental
builds fold together — the same property the streaming join-size
monitor leans on), and yields two numbers a join planner wants:

* exact side cardinality — each key contributes exactly 1 to every
  row of its grid, so ``sum(cnt)`` over any single row r is |side|;
* an UPPER BOUND on the equi-join output — min over rows of the
  inner product Σ_b cntA[r,b]·cntB[r,b] (one-sided by the same
  argument as the point-estimate CMS: collisions only ever add).

The decision rule is deliberately conservative in the direction that
matters at 100 TB: broadcast only when the BUILD side's exact
cardinality clears the threshold — a hot-key join (the skew fixture's
90%-one-custkey orders) inflates the output bound, which flags the
join as shuffle-heavy but never tricks the planner into broadcasting
a big side.

Bucket convention: the seeded-md5 grid of the batch estimation
queries and the streaming monitor (``'{r}|' + key`` prefix, first 5
hex digits, mod W) — grids built here merge cell-wise with both.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F

CMS_DEPTH = 4
CMS_WIDTH = 1024


def key_cms_grid(
    df: DataFrame,
    key: str | Column,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    weight: str | Column | None = None,
) -> DataFrame:
    """(r, bucket, cnt) count-min grid of a relation's join key — ONE
    map-side-combinable rollup into ≤ depth·width cells, any corpus
    size.  Same seeded-md5 bucket convention as the batch estimation
    queries and the streaming join-size monitor, so grids from the
    three paths are cell-wise mergeable.

    ``weight`` switches the cells from row counts to Σweight — build
    the grid from a PRE-AGGREGATED (key, weight) rollup (catalog
    stats, partial aggregate) instead of fact rows; with nonnegative
    weights every downstream bound (side cardinality = unrolled rows,
    inner-product join-size bound) holds for the unrolled relation
    unchanged (the ``agg_weighted_join_size_estimate`` invariant).

    NULL keys are dropped before sketching: they can never match an
    equi-join, so counting them would overstate the 'exact side
    cardinality' — on a NULL-heavy side that can flip ``smaller_side``
    and suppress an otherwise valid broadcast."""
    k = F.col(key).cast("string") if isinstance(key, str) else key.cast("string")
    df = df.where(k.isNotNull())
    w = (
        F.lit(1)
        if weight is None
        else (F.col(weight) if isinstance(weight, str) else weight)
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    F.expr(
                        f"CAST(conv(substring(md5(concat('{r}|', _cms_k)), "
                        f"1, 5), 16, 10) AS BIGINT) % {width}"
                    ).alias("bucket"),
                )
                for r in range(depth)
            ]
        )
    ).alias("rb")
    return (
        df.select(k.alias("_cms_k"), w.alias("_cms_w"))
        .select(rows, "_cms_w")
        .select("rb.r", "rb.bucket", "_cms_w")
        .groupBy("r", "bucket")
        .agg(F.sum("_cms_w").alias("cnt"))
    )


def cms_join_bound(grid_a: DataFrame, grid_b: DataFrame) -> DataFrame:
    """ONE-ROW upper bound on |A ⋈_k B| from two key grids: min over
    sketch rows of the bucket-wise inner product Σ_b cntA·cntB — the
    agg_join_size_estimate arithmetic as a reusable planning
    primitive (join-order enumeration calls it once per candidate
    intermediate).  ≤ depth·width cells a side, any fact size."""
    return (
        grid_a.join(
            grid_b.withColumnRenamed("cnt", "cnt_b"), ["r", "bucket"]
        )
        .groupBy("r")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("s"))
        .agg(F.min("s").alias("est"))
    )


def join_plan_stats(
    grid_a: DataFrame, grid_b: DataFrame, broadcast_threshold_rows: int
) -> DataFrame:
    """ONE-ROW planning statistics for A ⋈ B from the two key grids:
    exact side cardinalities, the CMS upper bound on the join output,
    and the strategy decision — all lazy DataFrame algebra over ≤4096
    cells a side (broadcast-scale regardless of fact size), so the
    stats are themselves plannable/cacheable like any other frame.

    Decision rule: ``broadcast_smaller`` iff min(|A|, |B|) ≤
    threshold; the output bound is reported for shuffle sizing but
    deliberately does NOT gate the broadcast choice (a hot key
    inflates the bound without growing the build side)."""
    na = grid_a.where(F.col("r") == 0).agg(F.sum("cnt").alias("rows_a"))
    nb = grid_b.where(F.col("r") == 0).agg(F.sum("cnt").alias("rows_b"))
    est = (
        grid_a.join(
            grid_b.withColumnRenamed("cnt", "cnt_b"), ["r", "bucket"]
        )
        .groupBy("r")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("s"))
        .agg(F.min("s").alias("join_size_bound"))
    )
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(est))
        .select(
            F.coalesce(F.col("rows_a"), F.lit(0)).cast("long").alias("rows_a"),
            F.coalesce(F.col("rows_b"), F.lit(0)).cast("long").alias("rows_b"),
            F.coalesce(F.col("join_size_bound"), F.lit(0))
            .cast("long")
            .alias("join_size_bound"),
            F.lit(int(broadcast_threshold_rows))
            .cast("long")
            .alias("broadcast_threshold_rows"),
            (
                F.least(
                    F.coalesce(F.col("rows_a"), F.lit(0)),
                    F.coalesce(F.col("rows_b"), F.lit(0)),
                )
                <= F.lit(int(broadcast_threshold_rows))
            ).alias("broadcast_smaller"),
            F.when(
                F.coalesce(F.col("rows_a"), F.lit(0))
                <= F.coalesce(F.col("rows_b"), F.lit(0)),
                F.lit("a"),
            )
            .otherwise(F.lit("b"))
            .alias("smaller_side"),
        )
    )


def sketch_path(catalog_dir: str, relation: str, key: str) -> str:
    """Catalog location of a relation's key sketch: one parquet
    directory per (relation, key) pair."""
    return f"{catalog_dir}/{relation}__{key}.cms.parquet"


def write_key_sketch(
    df: DataFrame,
    key: str,
    catalog_dir: str,
    relation: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    mode: str = "overwrite",
    weight: str | None = None,
) -> None:
    """Persist the key grid of ``df`` into a sketch catalog — the
    layout-metadata pattern: statistics computed ONCE per relation (or
    per appended partition) and stored next to the data, so join
    planning never re-scans a fact for numbers the catalog already
    knows.  Rows are self-describing (relation/key/depth/width
    constants alongside the cells) so a reader can reject a
    convention mismatch instead of silently merging incompatible
    grids.

    Incremental maintenance is ``mode="append"``: grids are cell-wise
    ADDABLE, so appending the grid of only the NEW rows (one pass over
    the fresh partition, never the historical fact) keeps the catalog
    sketch exact — ``read_key_sketch`` folds base + deltas with one
    ≤4096-group rollup at read time."""
    grid = key_cms_grid(df, key, depth, width, weight=weight)
    (
        grid.withColumn("relation", F.lit(relation))
        .withColumn("key", F.lit(key))
        .withColumn("depth", F.lit(depth))
        .withColumn("width", F.lit(width))
        .write.mode(mode)
        .parquet(sketch_path(catalog_dir, relation, key))
    )
    # a write (fresh or delta) changes what planning would read —
    # drop this catalog's memoized stats (out-of-process writers are
    # out of scope: call invalidate_catalog_plan_cache yourself)
    invalidate_catalog_plan_cache(catalog_dir)


def read_key_sketch(
    spark,
    catalog_dir: str,
    relation: str,
    key: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Load a catalog sketch back as a (r, bucket, cnt) grid, folding
    any appended delta grids cell-wise (the read-side half of the
    incremental-maintenance contract).  Raises if the stored
    depth/width convention differs from the requested one — a grid
    under a different convention is not mergeable and must not be
    silently consumed."""
    raw = spark.read.parquet(sketch_path(catalog_dir, relation, key))
    bad = raw.where(
        (F.col("depth") != depth) | (F.col("width") != width)
    ).limit(1)
    if bad.count():
        row = bad.first()
        raise ValueError(
            f"sketch convention mismatch for {relation}.{key}: stored "
            f"{row['depth']}x{row['width']}, requested {depth}x{width}"
        )
    return raw.groupBy("r", "bucket").agg(F.sum("cnt").alias("cnt"))


# per-process memo of catalog planning stats: a sketch catalog entry is
# immutable once written (appends create NEW delta files, which a
# session that wrote them invalidates explicitly), so re-planning the
# same (catalog, relations, convention) join re-reads nothing — the
# 1-row stats job runs once per session instead of once per query
# construction.  Keyed by every input that affects the decision.
_CATALOG_PLAN_CACHE: dict[tuple, object] = {}


def invalidate_catalog_plan_cache(catalog_dir: str | None = None) -> None:
    """Drop memoized planning stats — call after appending delta grids
    to a catalog this session (pass its dir) or to flush everything."""
    if catalog_dir is None:
        _CATALOG_PLAN_CACHE.clear()
        return
    for k in [k for k in _CATALOG_PLAN_CACHE if k[0] == catalog_dir]:
        del _CATALOG_PLAN_CACHE[k]


def plan_equijoin_from_catalog(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    catalog_dir: str,
    left_relation: str,
    right_relation: str,
    broadcast_threshold_rows: int = 1_000_000,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
):
    """``plan_equijoin`` planning from CATALOG sketches: read each
    side's persisted grid; on a catalog miss, build it from the
    relation ONCE and persist before planning (cache-on-miss), so the
    per-query cost after warmup is two ≤4096-cell parquet reads and a
    1-row stats collect — memoized per process (the catalog is
    immutable per path), so repeated plannings of the same join in one
    session cost a dict lookup.  The fact tables are touched only by
    the join itself.  Returns ``(joined_df, stats_row)`` exactly like
    ``plan_equijoin``."""
    def load_or_build(df: DataFrame, key: str, relation: str) -> DataFrame:
        if not os.path.exists(sketch_path(catalog_dir, relation, key)):
            write_key_sketch(df, key, catalog_dir, relation, depth, width)
        return read_key_sketch(
            df.sparkSession, catalog_dir, relation, key, depth, width
        )

    memo_key = (
        catalog_dir,
        left_relation,
        left_key,
        right_relation,
        right_key,
        int(broadcast_threshold_rows),
        depth,
        width,
    )
    stats = _CATALOG_PLAN_CACHE.get(memo_key)
    if stats is None:
        ga = load_or_build(left, left_key, left_relation)
        gb = load_or_build(right, right_key, right_relation)
        stats = join_plan_stats(ga, gb, broadcast_threshold_rows).first()
        _CATALOG_PLAN_CACHE[memo_key] = stats
    cond = left[left_key] == right[right_key]
    if stats["broadcast_smaller"]:
        if stats["smaller_side"] == "a":
            joined = F.broadcast(left).join(right, cond)
        else:
            joined = left.join(F.broadcast(right), cond)
    else:
        joined = left.join(right, cond)
    return joined, stats


def plan_equijoin(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    broadcast_threshold_rows: int = 1_000_000,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
):
    """Sketch-planned equi-join: build the two key grids, read the
    1-row planning stats (the ONLY eager step — a bounded single-row
    first(), the cost-model analog of AQE's runtime stat read), and
    construct ``left.join(right)`` with an explicit ``broadcast()``
    hint on the smaller side when its EXACT sketch cardinality clears
    the threshold — otherwise an unhinted join (AQE still free to
    pick better at runtime).

    Returns ``(joined_df, stats_row)`` where stats_row is the decision
    record (rows_a/rows_b/join_size_bound/broadcast_smaller/
    smaller_side) for audit logging.

    Scale notes (100 TB): two one-pass grid builds (map-side combined
    into ≤ depth·width cells), one broadcast-scale cell join, one
    1-row collect.  The hint can only ever pin a side PROVEN small by
    its exact grid cardinality — the unbounded-broadcast lint class
    cannot re-enter through this path."""
    ga = key_cms_grid(left, left_key, depth, width)
    gb = key_cms_grid(right, right_key, depth, width)
    stats = join_plan_stats(ga, gb, broadcast_threshold_rows).first()
    cond = left[left_key] == right[right_key]
    if stats["broadcast_smaller"]:
        if stats["smaller_side"] == "a":
            joined = F.broadcast(left).join(right, cond)
        else:
            joined = left.join(F.broadcast(right), cond)
    else:
        joined = left.join(right, cond)
    return joined, stats
