"""The streaming replication job: the reference's hot path (SURVEY §3.1)
as one incremental DataFrame graph.

    envelope stream → decode (ops 2-4)
      → foreachBatch:
            active-region gate, resolved on   [op 5]
              the driver from the config
            observe(checkpoint + metrics)     [ops 8, 10]
            sort within partitions by seq     [op 6]
            append to replication sink        [op 7]
            per-stream max(commitTs) upsert   [op 8]
            log batch + per-stream metrics    [op 10]
      checkpointLocation WAL                  [op 9 — retry/resume]

Config note: the config is re-read at the start of every micro-batch,
exactly matching the reference's one DynamoDB Query per batch
(Handler.java:65), so a flipped ``activeRegion`` takes effect on the
next batch without restarting the query.

Driver glue: each ``F.*`` call, string column name or Python list
handed to the JVM is a Py4J round trip, and rebuilding every expression
per batch cost about 400 of them per trigger.  So the config projection
is built once per query (each batch collects a fresh alias of it, which
Spark plans and runs again), and the gate, the ``Observation``
aggregates and the output projection are Column objects built once per
distinct active-stream set; a batch then issues about 50 commands.
"""

from __future__ import annotations

import logging
import os
import time
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import replication
from .sinks import (  # noqa: F401
    append_replicated,
    commit_version,
    latest_version,
    read_checkpoint_table,
    replicated_exactly_once,
    upsert_checkpoint_rows,
    version_path,
)

log = logging.getLogger("akr.replication")


class _StreamSetColumns(NamedTuple):
    """The Column objects a micro-batch of one active-stream set needs."""

    streams: tuple[str, ...]
    keep: Column  # active stream and, with dead letters, well-formed payload
    dead: Column  # active stream, malformed payload (dead-letter mode only)
    aggs: list[Column]  # n_in, then n_i, arrival_i, cts_i per stream i
    projection: list[Column]  # op 7's columns


def _stream_set_columns(
    streams: tuple[str, ...], dead_letters: bool
) -> _StreamSetColumns:
    stream = F.col("streamName")
    cts = F.col("commitTimestamp")
    arrival = F.col("approximateArrivalTimestamp").cast("double")
    active = stream.isin(list(streams))
    # Malformed payloads: the reference aborts the batch and retries
    # forever (Handler.java:90-93); a poison message would wedge the
    # stream, so in dead-letter mode the engine dead-letters it instead
    # (documented deviation).
    well_formed = cts.isNotNull() if dead_letters else F.lit(True)
    aggs = [F.count(F.lit(1)).alias("n_in")]
    for i, s in enumerate(streams):
        mine = (stream == s) & well_formed
        aggs += [
            F.count(F.when(mine, 1)).alias(f"n_{i}"),
            F.max(F.when(mine, arrival)).alias(f"arrival_{i}"),
            F.max(F.when(mine, cts)).alias(f"cts_{i}"),
        ]
    return _StreamSetColumns(
        streams,
        active & well_formed,
        active & cts.isNull(),
        aggs,
        [F.col(c) for c in replication.REPLICATED_COLUMNS],
    )


def run_replication_stream(
    envelope_stream: DataFrame,
    config: DataFrame,
    current_region: str,
    replicated_dir: str,
    checkpoint_table_dir: str,
    stream_checkpoint_dir: str,
    dead_letter_dir: str | None = None,
    exactly_once: bool = False,
) -> StreamingQuery:
    """``exactly_once=True`` writes each micro-batch (and its dead
    letters) into its own ``batch_id=N`` partition (idempotent under
    WAL replay) — available because the file target can overwrite; the
    default append mode mirrors the reference's at-least-once Kinesis
    PutRecord contract.

    Per-trigger cost (the hot path at any scale): ONE Spark job, the
    replication write.  Each micro-batch resolves the active streams on
    the driver (``replication.streams_active_in`` over the collected
    config: a ``VALUES`` config collects without a job; a file-backed
    one costs one scan) and gates with a plain filter.  Everything else
    the batch needs rides that write as ``Observation`` aggregates over
    the un-gated batch: the batch size, and per active stream the
    replicated count, the last arrival and the ``max(commitTimestamp)``
    checkpoint mark.

    What is built when:

    * once per query: the ``(streamName, activeRegion)`` projection of
      ``config``;
    * once per distinct active-stream set (rebuilt only when a config
      change alters the set): the gate, the dead-letter filter, the
      ``Observation`` aggregates and the output projection, as Column
      objects.  A Column is an unresolved JVM expression, so one object
      serves every batch, while building one costs Py4J round trips;
    * every batch: the config collect, a new ``Observation``, the
      writes and the checkpoint upsert.  The collect goes through a new
      alias of the projection (one JVM call), so Spark plans and runs it
      again and the config is read once per batch as in Handler.java:65;
      collecting the same Dataset twice would reuse its executed plan,
      and a config plan with a shuffle would return the first batch's
      rows.

    Each batch logs the reference's summary line on ``akr.replication``
    (``Total Batch Size: N, Successfully Processed: M``, README.md:136-137;
    N before the gate, M written to the replication sink) and, per
    replicated stream, ``ThroughPut`` and ``ReplicationLagSeconds``
    (Handler.java:94-122)."""
    config_rows = config.select(*replication.CONFIG_COLUMNS)
    two_writes = dead_letter_dir is not None
    cols: _StreamSetColumns | None = None

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal cols

        def write(df: DataFrame, out_dir: str) -> None:
            if exactly_once:
                replicated_exactly_once(df, out_dir, batch_id)
            else:
                append_replicated(df, out_dir)

        streams = tuple(
            replication.streams_active_in(
                config_rows.alias("config").collect(), current_region
            )
        )
        if cols is None or cols.streams != streams:
            cols = _stream_set_columns(streams, two_writes)
        if two_writes:
            # dead-letter mode consumes the batch twice (bad + good
            # writes) — the persist still pays for itself there
            batch_df = batch_df.persist()
        try:
            if two_writes:
                # Dead letters go through the same sink as the good rows,
                # so a replay under exactly_once rewrites them instead of
                # duplicating them.
                write(batch_df.where(cols.dead), dead_letter_dir)
            obs = Observation()
            out = batch_df.observe(obs, *cols.aggs).where(cols.keep)
            write(out.select(*cols.projection), replicated_dir)
            got = obs.get  # no wait: the write action above finished
            upsert_checkpoint_rows(
                {
                    s: got[f"cts_{i}"]
                    for i, s in enumerate(streams)
                    if got[f"cts_{i}"] is not None
                },
                checkpoint_table_dir,
            )
            _log_batch_metrics(got, streams)
        finally:
            if two_writes:
                batch_df.unpersist()

    return (
        replication.with_decoded(envelope_stream)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", stream_checkpoint_dir)
        .outputMode("update")
        .start()
    )


def _log_batch_metrics(got: dict, streams: tuple[str, ...]) -> None:
    """The reference's per-batch log line and per-stream metrics, from
    the values observed on the replication write (no Spark job)."""
    now = time.time()
    log.info(
        "Total Batch Size: %d, Successfully Processed: %d",
        got["n_in"],
        sum(got[f"n_{i}"] for i in range(len(streams))),
    )
    for i, s in enumerate(streams):
        if got[f"n_{i}"]:
            arrival = got[f"arrival_{i}"]
            log.info(
                "StreamName: %s, ThroughPut: %d, ReplicationLagSeconds: %s",
                s,
                got[f"n_{i}"],
                None if arrival is None else round(now - arrival, 3),
            )


def streaming_dedup(
    events_stream: DataFrame,
    keys: list[str],
    watermark_col: str = "ts",
    delay: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes — the state-size-safe dedup at 100 TB/day rates."""
    return events_stream.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        keys
    )


def streaming_interval_join(
    trigger_stream: DataFrame,
    outcome_stream: DataFrame,
    key: str = "user_id",
    trigger_ts: str = "ts",
    outcome_ts: str = "ts",
    max_delay: str = "15 minutes",
    watermark_delay: str = "30 minutes",
    join_type: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream INTERVAL join — the attribution
    primitive: match each outcome event (click, purchase, conversion)
    to every trigger event (impression, send, exposure) for the same
    key whose timestamp precedes it by at most ``max_delay``.  Emits
    one row per (trigger, outcome) pair: key, both event ids, both
    event times, the lag in seconds, and a ``matched`` flag.

    ``join_type="left_outer"`` additionally emits every UNMATCHED
    trigger exactly once — with null outcome fields and
    ``matched=false`` — but only after the outcome-side watermark has
    passed the end of its match window (the runtime must prove no
    qualifying outcome can still arrive before declaring the miss).
    That is the send-without-conversion / impression-without-click
    row an attribution report needs, and the delay is the price of
    its correctness: outer results trail live time by up to
    ``watermark_delay`` + one trigger interval.

    The two Structured Streaming requirements for BOUNDED join state
    are both encoded here: a watermark on EACH input and a time-RANGE
    join condition (outcome.ts ∈ [trigger.ts, trigger.ts+max_delay]).
    Together they let the runtime evict a buffered trigger row as soon
    as the outcome-side watermark passes its match window — without
    them an inner stream-stream join buffers both sides forever.
    Inner matches emit eagerly (no watermark wait); rows later than
    ``watermark_delay`` drop deterministically on both sides.

    Scale notes: the join state is hash-partitioned by key across
    executors; per-key state is bounded by the event rate within one
    ``max_delay`` window plus the watermark slack, independent of
    stream length.  Keep ``max_delay`` ≪ ``watermark_delay`` headroom
    honest: widening the delay widens every executor's buffered
    window linearly.  First-touch/last-touch attribution is a
    downstream dedup over the emitted pairs (min/max lag per
    outcome), composable with ``streaming_dedup`` or a foreachBatch
    rollup rather than baked in here."""
    t = trigger_stream.select(
        F.col(key).alias("k"),
        F.col(trigger_ts).alias("trigger_ts"),
        F.col("event_id").alias("trigger_event_id"),
    ).withWatermark("trigger_ts", watermark_delay)
    o = outcome_stream.select(
        F.col(key).alias("k_o"),
        F.col(outcome_ts).alias("outcome_ts"),
        F.col("event_id").alias("outcome_event_id"),
    ).withWatermark("outcome_ts", watermark_delay)
    joined = t.join(
        o,
        (F.col("k") == F.col("k_o"))
        & (F.col("outcome_ts") >= F.col("trigger_ts"))
        & (
            F.col("outcome_ts")
            <= F.col("trigger_ts") + F.expr(f"INTERVAL {max_delay}")
        ),
        join_type,
    )
    return joined.select(
        F.col("k").alias(key),
        "trigger_event_id",
        "outcome_event_id",
        "trigger_ts",
        "outcome_ts",
        (
            F.unix_timestamp("outcome_ts") - F.unix_timestamp("trigger_ts")
        ).alias("lag_seconds"),
        F.col("outcome_event_id").isNotNull().alias("matched"),
    )


def topk_users_per_window_stream(
    events_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 3,
    watermark_delay: str = "30 minutes",
    size: str = "1 hour",
):
    """Streaming top-k per event-time window (the Q18 shape on a
    stream).  Ranking windows aren't allowed inside a streaming
    aggregation, so the production recipe is: watermarked windowed agg
    (update mode) → ``foreachBatch`` ranks the CHANGED windows and
    overwrite-upserts each window's top-k partition.  State is the
    windowed agg's (bounded by the watermark); the rank runs per batch
    over only the updated windows' rows.
    """
    agg = (
        events_stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window(F.col("ts"), size).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "user_id",
            "n_events",
        )
    )

    def rank_and_upsert(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        if not batch_df.head(1):
            return
        # update mode emits only CHANGED (window, user) rows.  Merging
        # them with the previously-written top-k is sufficient: counts
        # are monotone, so a user absent from both the update and the
        # old top-k was below the bar and the bar only rises.
        spark = batch_df.sparkSession
        merged = batch_df
        try:
            prior = (
                spark.read.parquet(out_dir)
                .drop("rnk")
                .join(
                    F.broadcast(batch_df.select("window_start").distinct()),
                    "window_start",
                )
            )
            merged = batch_df.unionByName(prior)
        except Exception:
            pass  # first batch: nothing written yet
        latest = merged.groupBy("window_start", "user_id").agg(
            F.max("n_events").alias("n_events")
        )
        rw = Window.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.asc("user_id")
        )
        top = latest.withColumn("rnk", F.row_number().over(rw)).where(
            F.col("rnk") <= k
        )
        # dynamic partition overwrite rewrites exactly the changed
        # windows' top-k files, nothing else
        (
            top.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_start")
            .parquet(out_dir)
        )

    return (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(rank_and_upsert)
        .start()
    )


def windowed_counts_stream(
    events_stream: DataFrame,
    watermark_delay: str = "30 minutes",
    size: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming twin of
    operators/windows.tumbling; late data beyond the watermark is
    dropped (late-data handling the reference lacks entirely)."""
    return (
        events_stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window(F.col("ts"), size).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_d"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            F.col("sum_value_d").cast("double").alias("sum_value"),
        )
    )


def streaming_neardup_filter(
    docs_stream: DataFrame,
    corpus_index: DataFrame,
    k_shingle: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """Incremental corpus dedup: drop streaming documents that LSH-match
    the EXISTING corpus — the "dedup tonight's crawl against 100 TB
    already ingested" pattern, without re-pairing the corpus with
    itself.

    ``corpus_index`` is the precomputed static band-bucket table from
    ``operators.dedup.minhash_band_buckets`` (one row per (doc, band,
    bucket) — built once per corpus snapshot).  Band buckets for NEW
    docs are computed with the shuffle-free narrow signature path
    (array_min transforms, streaming-safe), then each band is checked
    with a stream-static LEFT join against that band's DISTINCT bucket
    set (distinct ⇒ at most one match ⇒ no row duplication); a doc
    survives only if every band missed.  Stream-stream joins and
    stateful aggregation are structurally avoided — the only state is
    the source offsets.  Per batch the static side re-resolves, so a
    refreshed index parquet is picked up automatically.

    New-vs-new duplicates (within or across micro-batches) are NOT
    paired here — they fall to the next corpus-index rebuild, the
    standard eventual-consistency tradeoff of snapshot indexes; layer
    ``streaming_dedup`` upstream for exact-key new-vs-new within the
    watermark.

    Scale notes: n_bands stream-static equi-joins, each shuffling on a
    distinct bucket-string key (broadcast the per-band set instead when
    the corpus index fits); short docs (< k tokens) carry NULL buckets,
    never match, and pass through.
    """
    from ..functions.hashing import md5_seeded, shingles_of_tokens, word_tokens

    r = n_hashes // n_bands
    cols = docs_stream.columns
    enriched = docs_stream.withColumn(
        "_toks", word_tokens(F.col("text"))
    ).withColumn("_shs", shingles_of_tokens(F.col("_toks"), k_shingle))
    # single-arg lambda only: F.transform dispatches on the lambda's
    # arity — any second parameter (even defaulted) would receive the
    # ELEMENT INDEX, not a bound seed.  The factory closes over the seed;
    # the lambda is evaluated eagerly at expression-build time.
    def _min_hash(seed: int):
        return F.array_min(
            F.transform(F.col("_shs"), lambda s: md5_seeded(s, seed))
        )

    for i in range(n_hashes):
        enriched = enriched.withColumn(f"_h{i}", _min_hash(i))
    out = enriched
    for b in range(n_bands):
        out = out.withColumn(
            f"_b{b}", F.concat(*[F.col(f"_h{b * r + j}") for j in range(r)])
        )
        idx_b = (
            corpus_index.where(F.col("band_id") == b)
            .select(F.col("bucket").alias(f"_b{b}"))
            .distinct()
            .withColumn(f"_m{b}", F.lit(1))
        )
        out = out.join(idx_b, f"_b{b}", "left")
    keep = None
    for b in range(n_bands):
        c = F.col(f"_m{b}").isNull()
        keep = c if keep is None else (keep & c)
    return out.where(keep).select(*cols)


def chained_window_rollup_stream(
    events_stream: DataFrame,
    watermark_delay: str = "30 minutes",
    fine: str = "5 minutes",
    coarse: str = "1 hour",
) -> DataFrame:
    """TWO stateful windowed aggregations chained in one streaming query
    (Spark ≥3.4 multi-stateful-operator support): fine-grained counts
    roll up into coarse windows without a second job or an intermediate
    sink — the streaming twin of the batch multi-resolution rollup
    (operators/windows.py multires_rollup).

    ``window_time()`` re-derives an event-time column (with its
    watermark) from the first aggregation's window so the second
    windowed groupBy remains a legal stateful operator.  State: fine
    windows live until the watermark passes; coarse windows aggregate
    only CLOSED fine windows — the append-mode output is final, never
    retracted.  Shuffle per stage is keyed on (window, event_type) —
    the same partitioning story as the batch rollup.
    """
    fine_counts = (
        events_stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window(F.col("ts"), fine).alias("w5"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_fine"))
    )
    return (
        fine_counts.groupBy(
            F.window(F.window_time(F.col("w5")), coarse).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.sum("n_fine").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_fine_windows"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_fine_windows",
        )
    )


def streaming_neardup_with_index_maintenance(
    docs_stream: DataFrame,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    k_shingle: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> StreamingQuery:
    """Self-maintaining incremental dedup: each micro-batch is filtered
    against the band-bucket index built by ALL PREVIOUS batches, then
    the survivors' buckets are appended to that index — so new-vs-new
    duplicates across batches are caught as soon as the original's
    batch commits, not at the next offline rebuild (closing the gap
    ``streaming_neardup_filter`` documents).

    foreachBatch runs in BATCH mode, so the candidate check is a plain
    left-anti join against the parquet index; the index append is
    at-least-once under WAL replay — duplicate index rows only make the
    filter stricter, never wrong (the dedup twin of the reference's
    duplicate-tolerant sink contract, SURVEY §2.1).  Index layout:
    parquet partitioned by band_id, so the per-band probe prunes to one
    partition directory.
    """
    from ..operators.dedup import minhash_band_buckets, minhash_signatures_narrow

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.head(1):
            return
        buckets = minhash_band_buckets(
            signatures=minhash_signatures_narrow(batch_df, k_shingle, n_hashes),
            n_hashes=n_hashes,
            n_bands=n_bands,
        ).persist()
        try:
            # Only a missing index means "first batch": failing to read
            # an existing one (schema drift, corrupt footer) fails the
            # batch so the WAL retries it, instead of silently appending
            # undetected duplicates to both out_dir and the index.
            kept = batch_df
            if os.path.isdir(index_dir):
                idx = spark.read.parquet(index_dir).select("band_id", "bucket")
                hit = (
                    buckets.join(idx, ["band_id", "bucket"], "left_semi")
                    .select("doc_id")
                    .distinct()
                )
                kept = batch_df.join(hit, "doc_id", "left_anti")
            kept = kept.persist()
            kept.write.mode("append").parquet(out_dir)
            (
                buckets.join(kept.select("doc_id"), "doc_id", "left_semi")
                .write.mode("append")
                .partitionBy("band_id")
                .parquet(index_dir)
            )
            kept.unpersist()
        finally:
            buckets.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


# --------------------------------------------------------------------------
# Incremental rollup maintenance (streaming IVM)
# --------------------------------------------------------------------------


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame | None:
    """Current committed rollup version, or None before the first batch."""
    v = latest_version(rollup_dir)
    return None if v is None else spark.read.parquet(version_path(rollup_dir, v))


def streaming_rollup_maintenance(
    events_stream: DataFrame,
    rollup_dir: str,
    stream_checkpoint_dir: str,
    key_col: str = "event_type",
    cents_expr: str = "CAST(floor(value * 100) AS BIGINT)",
) -> StreamingQuery:
    """Maintain a materialized per-key rollup (count / sum / max) from
    the stream by merging ALGEBRAIC PARTIALS — the streaming face of
    cdc_incremental_agg_maintenance (plans/queries.py): each micro-batch
    is aggregated down to |keys| partial rows, merged with the previous
    rollup version, and committed as a new version.  Base facts are
    never rescanned; per-batch work is O(batch) + O(|keys|).

    Exactly-once under WAL replay WITHOUT idempotent-append tricks: the
    rollup is ``sinks.commit_version`` state NAMED BY batch_id, and the
    merge reads the newest version STRICTLY BELOW batch_id (never
    "latest"), so a replayed batch N merges into the same v{N-1} — no
    double counting — and one whose v{N} is already committed returns
    before it builds anything.

    Scale notes: the merge is a Spark job over |keys| + |batch keys|
    rows keyed by ``key_col`` — map-side combined, no wide shuffle; the
    rollup read is a single small parquet scan.  At warehouse scale the
    version commit becomes a Delta/Iceberg transactional MERGE (same
    log-plus-snapshot idea)."""
    agg_cols = [
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.max("cents").cast("long").alias("max_cents"),
    ]
    merge_cols = [
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("sum_cents").cast("long").alias("sum_cents"),
        F.max("max_cents").cast("long").alias("max_cents"),
    ]

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.isdir(version_path(rollup_dir, batch_id)):
            return  # a replay of a batch whose state is committed
        spark = batch_df.sparkSession
        partial = (
            batch_df.select(F.col(key_col).alias("key"), F.expr(cents_expr).alias("cents"))
            .groupBy("key")
            .agg(*agg_cols)
        )
        prev = latest_version(rollup_dir, below=batch_id)
        if prev is not None:
            prev_df = spark.read.parquet(version_path(rollup_dir, prev))
            partial = prev_df.unionByName(partial).groupBy("key").agg(*merge_cols)
        commit_version(
            rollup_dir,
            batch_id,
            lambda tmp: partial.write.mode("overwrite").parquet(tmp),
        )

    return (
        events_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", stream_checkpoint_dir)
        .start()
    )


def streaming_retrieval_index_maintenance(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incrementally maintained inverted index: each micro-batch of
    documents appends its (doc_id, term, tf) postings and (doc_id, dl)
    lengths under ``index_dir``, after which BM25 queries run against
    the INDEX alone (operators/retrieval.py:bm25_topk_from_index) and
    return exactly what a from-scratch index over all ingested docs
    would — the streaming-ingest → searchable-corpus loop of a
    production retrieval stack, with no rebuild step.

    Idempotent under WAL replay: every batch writes into its OWN
    ``batch_id=N`` subdirectories with overwrite mode, so a replayed
    batch replaces its previous (possibly partial) output instead of
    double-counting term frequencies — the same exactly-once file-sink
    pattern as sinks.replicated_exactly_once.  A doc_id RE-INGESTED in
    a later batch (document update) leaves both versions on disk; the
    query side (bm25_topk_from_index) resolves this last-write-wins by
    taking each doc's postings + length from its max batch_id, so N and
    Σdl never inflate.  At 100 TB, partition the
    postings by a term hash so query-term probes prune to a few
    directories; df/N statistics stay query-time aggregations, so no
    global state needs transactional maintenance.
    """
    from ..functions.hashing import word_tokens
    from ..operators.retrieval import term_postings

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        batch_df = batch_df.persist()
        try:
            term_postings(batch_df).write.mode("overwrite").parquet(
                f"{index_dir}/postings/batch_id={batch_id}"
            )
            batch_df.select(
                "doc_id",
                F.size(word_tokens(F.col("text"))).cast("long").alias("dl"),
            ).write.mode("overwrite").parquet(
                f"{index_dir}/doclen/batch_id={batch_id}"
            )
        finally:
            batch_df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def streaming_semantic_neardup_filter(
    vec_stream: DataFrame,
    corpus_bands: DataFrame,
    n_bands: int = 8,
    band_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Incremental SEMANTIC dedup: drop streaming embedding rows whose
    banded sign-LSH bucket matches the existing corpus in ANY band —
    the embedding twin of :func:`streaming_neardup_filter` (minhash),
    sharing its stream-static join shape and the batch band family of
    ``operators.dedup.embedding_neardup_pairs_lsh``.

    ``corpus_bands`` is the static (vec_id, band_id, bucket) index from
    ``operators.dedup.embedding_band_buckets`` — built once per corpus
    snapshot, re-resolved per micro-batch so a refreshed index parquet
    is picked up automatically.  Incoming vectors get all band buckets
    from ONE Arrow-batched numpy matmul (the measured fast path —
    operators/udfs.py), then each band does a stream-static LEFT join
    against that band's DISTINCT bucket set (distinct ⇒ at most one
    match ⇒ no row duplication); a vector survives only if every band
    missed.  No stateful operator anywhere — the only state is source
    offsets, so the gate restarts from the WAL with zero rebuild.

    This is a candidate-level gate: a band hit means "collides with
    SOME corpus vector under an 8-plane projection", which at the
    near-dup regime (cos ≥ 0.95, r=8 b=8 ⇒ per-pair miss ≈1.2%) is the
    drop-tonight's-near-copies semantics.  For verified-exact dedup,
    route the dropped rows to a dead-letter sink and re-verify offline
    with the exact dot product (dedup.embedding_neardup_pairs_lsh's
    verify stage).

    Scale notes: n_bands stream-static equi-joins, each shuffling the
    micro-batch on a distinct bucket key (broadcast the per-band set
    when the corpus index fits); the corpus side is a bucket-DISTINCT
    rollup, so a mega-cluster of near-identical corpus vectors is ONE
    row per band, never a fan-out.
    """
    from ..functions.vectors import quantize_embedding
    from ..operators.udfs import sign_lsh_all_bands_udf

    cols = vec_stream.columns
    all_buckets = sign_lsh_all_bands_udf(n_bands, band_planes, dim)
    out = vec_stream.withColumn(
        "_bk", all_buckets(quantize_embedding(F.col("embedding")))
    )
    for b in range(n_bands):
        out = out.withColumn(f"_b{b}", F.element_at(F.col("_bk"), b + 1))
        idx_b = (
            corpus_bands.where(F.col("band_id") == b)
            .select(F.col("bucket").alias(f"_b{b}"))
            .distinct()
            .withColumn(f"_m{b}", F.lit(1))
        )
        out = out.join(idx_b, f"_b{b}", "left")
    keep = None
    for b in range(n_bands):
        c = F.col(f"_m{b}").isNull()
        keep = c if keep is None else (keep & c)
    return out.where(keep).select(*cols)


def streaming_linkage_gate(
    records_stream: DataFrame,
    entity_index: DataFrame,
    agreements: list,
    match_threshold: int,
    block_col: str = "block",
) -> DataFrame:
    """Streaming record-linkage gate: classify each incoming record
    against a STATIC entity index via the batch linkage operators
    (operators/linkage.py) — blocked stream-static equi-join, integer
    agreement scoring, threshold decision.

    INPUT CONTRACT: both ``records_stream`` and ``entity_index`` must
    carry a NUMERIC ``entity`` id column (the record id on the stream
    side, the golden-entity id on the index side) plus ``block_col``;
    any other columns exist only to be referenced by the agreement
    predicates.  OUTPUT is id + decision ONLY — one row per stream
    record: (entity, score, matched_entity, matched).  Callers needing
    record payload downstream re-join on ``entity`` (the id is the
    key; carrying wide payloads through the best-match rollup would
    just re-shuffle them).

    The streaming shape of a production MDM ingest: new records arrive
    continuously, the golden-entity index is a slowly-refreshed batch
    snapshot (re-resolved per micro-batch, like the semantic near-dup
    gate's corpus index), and downstream routing keys on the decision
    — matched records enrich an existing entity, unmatched ones open a
    new-entity case.

    ``agreements`` is the same [(name, predicate, weight)] list
    ``linkage.score_pairs`` takes, with predicates over the ``_a``
    (stream) / ``_b`` (index) suffixed columns.  One best match per
    record (max score; ties broken to the SMALLEST entity_b, which is
    why the id must be numeric — the rollup negates it inside the max
    struct) keeps the gate's output cardinality equal to its input: no
    stateful operator, no row fan-out — the only streaming state is
    source offsets, so the gate restarts from the WAL with zero
    rebuild.

    Scale notes: one stream-static equi-join on the block key per
    micro-batch (broadcast the index when it fits); the per-record
    best-match rollup is keyed on the stream's record id, bounded by
    the micro-batch; the per-side block cap belongs in the INDEX build
    (``linkage.blocked_candidate_pairs``'s cap rationale) — apply it
    when materializing the index snapshot."""
    from ..operators import linkage

    rec_cols = [c for c in records_stream.columns if c != block_col]
    a = records_stream.select(
        block_col,
        *[F.col(c).alias(c + "_a") for c in rec_cols],
    )
    b = entity_index.select(
        block_col,
        *[
            F.col(c).alias(c + "_b")
            for c in entity_index.columns
            if c != block_col
        ],
    )
    scored = linkage.score_pairs(a.join(b, block_col, "left"), agreements)
    # best match per record: aggregation keyed on the record id — on a
    # foreachBatch micro-batch DF this is a plain bounded batch rollup.
    # The struct max negates entity_b so score ties break to the
    # SMALLEST entity id (the documented contract); a join-miss row
    # (entity_b null → neg null) sorts below any real candidate at the
    # same score, so a null can never beat a match.
    best = scored.groupBy("entity_a").agg(
        F.max(
            F.struct(
                "score", (-F.col("entity_b")).alias("neg_entity")
            )
        ).alias("m")
    )
    return best.select(
        F.col("entity_a").alias("entity"),
        F.col("m.score").alias("score"),
        F.when(F.col("m.score") >= match_threshold, -F.col("m.neg_entity"))
        .otherwise(F.lit(None))
        .alias("matched_entity"),
        (F.col("m.score") >= match_threshold).alias("matched"),
    )


def streaming_importance_gate(
    docs_batch: DataFrame,
    model: DataFrame,
    keep_threshold_bp: int = 10000,
    buckets_seed: int = 97,
) -> DataFrame:
    """Streaming domain-importance gate: score incoming documents
    against a TRAINED hashed count model (operators/text.py
    ``importance_count_model``) and emit a keep/drop decision — the
    deployment split of the DSIR importance family (train once on a
    corpus snapshot, gate the crawl stream forever).

    Run inside ``foreachBatch`` like the linkage gate: the per-doc
    rollup is keyed on the stream's doc_id, bounded by the micro-batch,
    and the model is a dense 256-row broadcast — no stateful operator,
    no row fan-out; the only streaming state is source offsets, so the
    gate restarts from the WAL with zero rebuild.  Tokens hashing to
    buckets the training corpus never saw score exactly 10000
    (neutral), so novel vocabulary neither sinks nor rescues a
    document — the property that keeps the gate stable as the stream
    drifts away from the training snapshot.

    OUTPUT is id + decision only (doc_id, n_tokens, avg_ratio_bp,
    keep); callers needing the payload downstream re-join on doc_id
    (the linkage-gate contract)."""
    from ..operators.text import score_against_importance_model

    scored = score_against_importance_model(
        docs_batch, model, buckets_seed=buckets_seed
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "avg_ratio_bp",
        (F.col("avg_ratio_bp") >= F.lit(int(keep_threshold_bp))).alias(
            "keep"
        ),
    )


def streaming_phash_gate(
    media_batch: DataFrame, phash_index: DataFrame
) -> DataFrame:
    """Streaming perceptual-image dedup gate: decode each incoming
    image, compute its average hash (operators/multimodal.py
    ``extract_image_phash``), and drop rows whose (width, height,
    phash) already exists in the static corpus index — the image twin
    of the minhash/semantic near-dup gates, catching re-encoded and
    lightly-retouched duplicates that byte-level dedup misses.

    ``phash_index`` is the corpus snapshot's (width, height, phash)
    set — e.g. ``phash_dup_groups`` output or its distinct projection
    — re-resolved per micro-batch like the other gates' indexes.  The
    join is a stream-static LEFT join against the DISTINCT index (at
    most one match, no fan-out); survivors keep their full media row.
    No stateful operator — offsets-only WAL restart.

    Scale notes: one Arrow decode crossing per micro-batch; one
    equi-join on the 3-column hash key (broadcast when the index
    fits).  A mega-cluster of near-identical corpus images is ONE
    index row, never a fan-out."""
    from ..operators.multimodal import extract_image_phash

    cols = media_batch.columns
    hashed = extract_image_phash(media_batch).select(
        "doc_id", "width", "height", "phash"
    )
    idx = (
        phash_index.select("width", "height", "phash")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    gated = (
        media_batch.join(hashed, "doc_id")
        .join(idx, ["width", "height", "phash"], "left")
        .where(F.col("_hit").isNull())
    )
    return gated.select(*cols)


def streaming_chunk_gate(
    docs_batch: DataFrame, chunk_hash_index: DataFrame
) -> DataFrame:
    """Streaming chunker + chunk-level dedup gate: split each incoming
    document into the standard sliding token windows
    (operators/text.py ``chunk_rows`` — the doc_chunk_windows
    machinery, W=32/S=24) and drop chunks whose text hash already
    exists in the static corpus index — the retrieval-ingest path
    that keeps re-crawled boilerplate from re-entering a chunk store
    while NEW passages of a known document still land.

    ``chunk_hash_index`` is the corpus snapshot's chunk-hash set
    (e.g. doc_chunk_windows' ``chunk_hash`` projection), re-resolved
    per micro-batch like the phash/linkage gates.  Stateless: the
    chunk fan-out is a bounded per-row explode, the dedup is one
    LEFT join against the DISTINCT index (at most one match, no
    fan-out) — offsets-only WAL restart.

    OUTPUT is one row per SURVIVING chunk (doc_id, chunk_idx,
    start_tok, chunk_hash, chunk_text) — the unit a retrieval store
    ingests."""
    from ..operators.text import chunk_rows

    chunks = chunk_rows(docs_batch.select("doc_id", "text")).select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_hash"),
        "chunk_text",
    )
    idx = (
        chunk_hash_index.select("chunk_hash")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        chunks.join(idx, "chunk_hash", "left")
        .where(F.col("_hit").isNull())
        .select(
            "doc_id", "chunk_idx", "start_tok", "chunk_hash", "chunk_text"
        )
    )


def streaming_compaction_maintenance(
    files_stream: DataFrame,
    work_dir: str,
    checkpoint_dir: str,
    key_col: str = "file_key",
    size_col: str = "size_bytes",
    target_bytes: int = 1 << 20,
) -> StreamingQuery:
    """Continuous compaction maintenance — the streaming leg of
    operators/layout.py ``compaction_plan``: micro-batch ingest leaves
    one small file per trigger, and instead of re-planning the whole
    table, every trigger folds the new inventory rows into the carried
    open tail (``compaction_step``) and appends the bins it CLOSED to
    a work-list table a rewrite job consumes.

    Exactly-once effective under WAL replay with no stateful operator:

    * per-epoch state — the open tail's files plus a 1-row
      (bins_emitted) meta — is one ``sinks.commit_version`` version of
      ``work_dir/state`` named by batch_id; a replayed batch N whose
      version is committed returns at once (its bins and files were
      written before the commit), any other re-reads the version below N;
    * closed bins land at ``work_dir/bins/epoch=<batch_id>`` via full
      directory overwrite, so the replay rewrites byte-identical
      output instead of duplicating it;
    * the per-FILE assignments of the same closed bins land at
      ``work_dir/files/epoch=<batch_id>`` (every inventory column +
      the global ``bin``) — the exact-membership work list
      ``execute_compaction_filelist`` consumes; key ranges of bins
      from different epochs may overlap, so the rewrite must go by
      file, not by key range.

    Scale notes: inventories are metadata (a few rows per trigger);
    state reads/writes are one tiny parquet each; the only per-trigger
    Spark work is the bounded compaction_step plan."""
    from ..operators.layout import compaction_step_detail

    state = f"{work_dir}/state"

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.isdir(version_path(state, batch_id)):
            return  # a replay of a committed batch; its bins/files exist
        spark = batch_df.sparkSession
        pending = None
        bins_emitted = 0
        v = latest_version(state, below=batch_id)
        if v is not None:
            prev = version_path(state, v)
            pending = spark.read.parquet(f"{prev}/pending")
            bins_emitted = int(
                spark.read.parquet(f"{prev}/meta").first()["bins_emitted"]
            )
            # state-layout guard: before r10 the pending state carried
            # only (key_col, size_col); it now persists EVERY inventory
            # column so the files/ work list is exact-membership.
            # Resuming a legacy work_dir would make compaction_step's
            # unionByName raise deep inside a plan — fail loudly here
            # with a migration hint instead.
            missing = [c for c in batch_df.columns if c not in pending.columns]
            if missing:
                raise ValueError(
                    "streaming_compaction_maintenance: state at "
                    f"{prev}/pending is a legacy layout missing columns "
                    f"{missing}; the state format changed to persist "
                    "all inventory columns. Start a fresh work_dir (and "
                    "checkpoint_dir), or backfill the missing columns "
                    "into the pending parquet before resuming."
                )
        closed, closed_files, new_pending = compaction_step_detail(
            pending,
            batch_df,
            key_col,
            size_col,
            target_bytes,
            bins_emitted=bins_emitted,
        )
        closed = closed.localCheckpoint(eager=True)  # plan once: count + write
        n_closed = closed.count()
        closed.write.mode("overwrite").parquet(
            f"{work_dir}/bins/epoch={batch_id}"
        )
        closed_files.write.mode("overwrite").parquet(
            f"{work_dir}/files/epoch={batch_id}"
        )

        def write_state(tmp: str) -> None:
            new_pending.write.parquet(f"{tmp}/pending")
            spark.sql(
                f"SELECT CAST({bins_emitted + n_closed} AS BIGINT) "
                "AS bins_emitted"
            ).write.parquet(f"{tmp}/meta")

        commit_version(state, batch_id, write_state)

    return (
        files_stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_corpus_refresh(
    docs_stream: DataFrame,
    work_dir: str,
    checkpoint_dir: str,
    k_shingle: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
    test_mod: int = 5,
) -> StreamingQuery:
    """Continuous corpus refresh — the streaming form of the batch
    composition ``plans/queries.py:cdc_corpus_refresh_delta`` (the
    nightly "what changed in the corpus" job): every micro-batch of
    new documents probes the STORED MinHash band index (only pairs
    touching a new doc are generated — the historical corpus is never
    re-paired), the new edges fold into the carried cluster labeling
    (``clustering.fold_components``), publication — the min non-test
    member per near-dup cluster — is recomputed on the folded labels,
    and the per-epoch DIFF ('added' / 'retracted' docs) lands in an
    append-only change log a downstream publisher consumes.

    Exactly-once effective under WAL replay with no stateful operator
    (the streaming_compaction_maintenance state discipline):

    * per-epoch state — the doc inventory, the band index, the cluster
      labels, and the published set — is one ``sinks.commit_version``
      version of ``work_dir/state`` named by batch_id; a replayed batch
      N whose version is committed returns at once (its changes and
      manifest were written before the commit), any other re-reads the
      version below N;
    * the epoch's publication changes land at
      ``work_dir/changes/epoch=<batch_id>`` (columns doc_id / change /
      cluster_id — after-label for added, before-label for retracted)
      and its 1-row manifest at ``work_dir/manifest/epoch=<batch_id>``,
      both via full directory overwrite so a replay rewrites
      byte-identical output instead of duplicating it;
    * a doc_id already in the inventory is skipped (documents are
      immutable content here), so re-delivered docs cannot re-pair.

    Streamed two epochs split base/delta on the batch composition's
    doc_id mod-10 rule, epoch 1's change log and manifest equal the
    batch query's rows exactly — tests/test_streaming_corpus_refresh.py
    asserts that, plus a WAL-restart replay.

    Scale notes (100 TB corpus): per trigger the only corpus-sized
    touch is ONE equi-join of the new docs' band rows against the
    stored index (partition the index by band_id in a real deployment
    — the ``streaming_neardup_with_index_maintenance`` layout); the
    fold re-enters history as |nodes| star edges; publication is one
    hash-agg over the label table and the diff two anti-joins on
    doc_id.  State grows with the corpus (it IS the corpus index), not
    with time."""
    from ..operators import clustering
    from ..operators.dedup import minhash_band_buckets, minhash_signatures

    state = f"{work_dir}/state"
    # the state's tables, with the columns they start empty with
    tables = {
        "docs": "CAST(NULL AS BIGINT) AS doc_id",
        "bands": "CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INT) AS band_id, "
        "CAST(NULL AS STRING) AS bucket",
        "cc": "CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS cluster_id",
        "pub": "CAST(NULL AS BIGINT) AS lbl, CAST(NULL AS BIGINT) AS doc_id",
    }

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.isdir(version_path(state, batch_id)):
            return  # a replay of a committed batch; its changes/manifest exist
        spark = batch_df.sparkSession
        v = latest_version(state, below=batch_id)
        prev_docs, prev_bands, prev_cc, prev_pub = (
            spark.sql(f"SELECT {cols} WHERE false")
            if v is None
            else spark.read.parquet(f"{version_path(state, v)}/{name}")
            for name, cols in tables.items()
        )
        new_docs = (
            batch_df.select("doc_id", "text")
            .dropDuplicates(["doc_id"])
            .join(prev_docs.select("doc_id"), "doc_id", "left_anti")
            .localCheckpoint(eager=True)  # feeds bands + inventory
        )
        new_bands = minhash_band_buckets(
            signatures=minhash_signatures(new_docs, k_shingle, n_hashes),
            n_hashes=n_hashes,
            n_bands=n_bands,
        ).localCheckpoint(eager=True)  # feeds probe + index append
        all_bands = prev_bands.unionByName(
            new_bands.select(prev_bands.columns)
        )
        a, b = new_bands.alias("a"), all_bands.alias("b")
        delta_pairs = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias(
                    "doc_b"
                ),
            )
            .distinct()
            .localCheckpoint(eager=True)  # feeds fold + manifest count
        )
        folded = clustering.fold_components(prev_cc, delta_pairs)
        inventory = prev_docs.select("doc_id").unionByName(
            new_docs.select("doc_id")
        )
        labels = (
            inventory.join(folded, "doc_id", "left")
            .select(
                "doc_id", F.coalesce("cluster_id", "doc_id").alias("lbl")
            )
        )
        pub = (
            labels.where(F.col("doc_id") % test_mod != 0)
            .groupBy("lbl")
            .agg(F.min("doc_id").alias("doc_id"))
            .localCheckpoint(eager=True)  # feeds diff + state write
        )
        added = pub.join(prev_pub.select("doc_id"), "doc_id", "left_anti")
        retr = prev_pub.join(pub.select("doc_id"), "doc_id", "left_anti")
        changes = added.select(
            "doc_id",
            F.lit("added").alias("change"),
            F.col("lbl").alias("cluster_id"),
        ).unionByName(
            retr.select(
                "doc_id",
                F.lit("retracted").alias("change"),
                F.col("lbl").alias("cluster_id"),
            )
        )
        changes = changes.localCheckpoint(eager=True)
        changes.write.mode("overwrite").parquet(
            f"{work_dir}/changes/epoch={batch_id}"
        )
        n_added = changes.where(F.col("change") == "added").count()
        n_retr = changes.where(F.col("change") == "retracted").count()
        n_pub_prev = prev_pub.count()
        n_pub = pub.count()
        n_new = new_docs.count()
        n_pairs = delta_pairs.count()
        spark.sql(
            f"SELECT CAST({n_pub_prev} AS BIGINT) AS n_published_before, "
            f"CAST({n_pub} AS BIGINT) AS n_published_after, "
            f"CAST({n_added} AS BIGINT) AS n_added, "
            f"CAST({n_retr} AS BIGINT) AS n_retracted, "
            f"CAST({n_new} AS BIGINT) AS n_delta_docs, "
            f"CAST({n_pairs} AS BIGINT) AS n_delta_pairs"
        ).write.mode("overwrite").parquet(
            f"{work_dir}/manifest/epoch={batch_id}"
        )

        def write_state(tmp: str) -> None:
            for name, df in zip(tables, (inventory, all_bands, folded, pub)):
                df.write.parquet(f"{tmp}/{name}")

        commit_version(state, batch_id, write_state)

    return (
        docs_stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
