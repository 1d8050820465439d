"""Streaming corpus refresh (streaming/job.py:streaming_corpus_refresh):
streamed two epochs split on the batch composition's doc_id mod-10
base/delta rule, epoch 1's change log and manifest must equal the rows
of plans/queries.py:cdc_corpus_refresh_delta exactly; a WAL restart
must neither re-pair nor re-diff; and re-delivered doc_ids are skipped
(immutable-content contract)."""

from __future__ import annotations

import glob
import os
import shutil

from conftest import SF_SMOKE

from aws_kinesis_data_streams_replicator_spark.plans.queries import QUERIES
from aws_kinesis_data_streams_replicator_spark.streaming.job import (
    streaming_corpus_refresh,
)
from aws_kinesis_data_streams_replicator_spark.streaming.sinks import (
    latest_version,
    version_path,
)


def _stage(spark, df, stage, name):
    import tempfile

    tmp = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.makedirs(stage, exist_ok=True)
    (src,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    shutil.move(src, os.path.join(stage, name))
    shutil.rmtree(tmp, ignore_errors=True)


def _run(spark, stage, wal, work):
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = streaming_corpus_refresh(stream, work, checkpoint_dir=wal)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)


def test_epoch1_matches_batch_composition(spark, tmp_path):
    stage = str(tmp_path / "stage")
    work = str(tmp_path / "work")
    wal = str(tmp_path / "wal")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    _stage(spark, docs.where(docs.doc_id % 10 < 8), stage, "b0.parquet")
    _stage(spark, docs.where(docs.doc_id % 10 >= 8), stage, "b1.parquet")
    _run(spark, stage, wal, work)

    batch_rows = QUERIES["cdc_corpus_refresh_delta"](spark, SF_SMOKE).collect()
    want_changes = sorted(
        (r.doc_id, r.change, r.cluster_id) for r in batch_rows
    )
    want_manifest = (
        batch_rows[0].n_published_before,
        batch_rows[0].n_published_after,
        batch_rows[0].n_added,
        batch_rows[0].n_retracted,
        batch_rows[0].n_delta_docs,
        batch_rows[0].n_delta_pairs,
    )

    got_changes = sorted(
        (r.doc_id, r.change, r.cluster_id)
        for r in spark.read.parquet(f"{work}/changes/epoch=1").collect()
    )
    (m,) = spark.read.parquet(f"{work}/manifest/epoch=1").collect()
    got_manifest = (
        m.n_published_before,
        m.n_published_after,
        m.n_added,
        m.n_retracted,
        m.n_delta_docs,
        m.n_delta_pairs,
    )
    assert got_changes == want_changes
    assert got_manifest == want_manifest


def test_wal_restart_and_redelivery(spark, tmp_path):
    stage = str(tmp_path / "stage")
    work = str(tmp_path / "work")
    wal = str(tmp_path / "wal")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    first = docs.where(docs.doc_id % 10 < 8)
    _stage(spark, first, stage, "b0.parquet")
    _run(spark, stage, wal, work)
    state = f"{work}/state"
    pub0 = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{version_path(state, 0)}/pub").collect()
    )
    assert pub0, "epoch 0 published nothing"
    # epoch 0's changes are all 'added' (empty base)
    ch0 = spark.read.parquet(f"{work}/changes/epoch=0")
    assert ch0.where(ch0.change == "retracted").count() == 0
    assert sorted(r.doc_id for r in ch0.collect()) == pub0

    # restart with NO new files: no new epoch directories appear
    _run(spark, stage, wal, work)
    assert not os.path.isdir(f"{work}/changes/epoch=1")

    # re-deliver the SAME docs plus the delta shard: the re-delivered
    # ids must be skipped (manifest counts only the genuinely new docs)
    _stage(spark, docs, stage, "b1.parquet")
    _run(spark, stage, wal, work)
    (m,) = spark.read.parquet(f"{work}/manifest/epoch=1").collect()
    n_delta = docs.where(docs.doc_id % 10 >= 8).count()
    assert m.n_delta_docs == n_delta
    # state pruning: only the two most recent epochs remain
    assert latest_version(state) == 1
    assert latest_version(state, below=1) == 0
    assert len(os.listdir(state)) == 2
