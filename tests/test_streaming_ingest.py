"""Streaming index ingestion: micro-batches of new doc files maintain
the index incrementally; final state matches a one-shot batch build,
and replayed input is a no-op (fingerprint idempotence)."""

import os

import pytest
from pyspark.sql import functions as F

from gxdindexer_spark.operators.index_build import IndexBuilder, read_ledger
from gxdindexer_spark.operators.query import IndexQueryEngine
from gxdindexer_spark.snapshot import Snapshot
from gxdindexer_spark.sources.synth import generate_corpus
from gxdindexer_spark.sources.tables import prepare_docs
from gxdindexer_spark.streaming import ingest


def _builder():
    return IndexBuilder(
        fields={"content": "code"},
        docs_per_shard=100,
        salt_range=64,
        block_size=16,
    )


@pytest.fixture(scope="module")
def corpus_docs(spark):
    corpus = generate_corpus(spark, 400, seed=31, partitions=4)
    docs = prepare_docs(corpus, docs_per_shard=100, partitions=4).cache()
    docs.count()
    return docs


def test_streaming_ingest_matches_batch_build(spark, corpus_docs, tmp_path):
    docs_dir = str(tmp_path / "incoming")
    idx = str(tmp_path / "sidx")
    ckpt = str(tmp_path / "ckpt")
    cols = ["doc_id", "content", "content_sha256", "shard"]

    def drain():
        q = ingest.ingest_stream(
            spark, docs_dir, idx, _builder(), ckpt,
            schema=ingest.INGEST_DOCS,
        )
        q.awaitTermination(120)
        assert not q.isActive

    # micro-batch 1: shards 0-1 arrive
    corpus_docs.filter(F.col("shard") < 2).select(*cols).write.mode(
        "append"
    ).parquet(docs_dir)
    drain()
    eng1 = IndexQueryEngine(spark, idx)
    assert set(read_ledger(idx)) == {0, 1}
    assert eng1.topk("getIndexList if", k=5).count() > 0

    # micro-batch 2: shards 2-3 arrive -> index must now equal a
    # one-shot batch build over the full corpus
    corpus_docs.filter(F.col("shard") >= 2).select(*cols).write.mode(
        "append"
    ).parquet(docs_dir)
    drain()
    assert set(read_ledger(idx)) == {0, 1, 2, 3}

    ref = str(tmp_path / "ref")
    _builder().build(corpus_docs.select(*cols), ref, resume=False)
    a = (
        Snapshot.load(idx).read(spark, "dictionary")
        .orderBy("field", "term")
        .toPandas()
    )
    b = (
        Snapshot.load(ref).read(spark, "dictionary")
        .orderBy("field", "term")
        .toPandas()
    )
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)
    q = "getIndexList if return"
    r1 = IndexQueryEngine(spark, idx).topk(q, 10).collect()
    r2 = IndexQueryEngine(spark, ref).topk(q, 10).collect()
    assert [r["doc_id"] for r in r1] == [r["doc_id"] for r in r2]
    for x, y in zip(r1, r2):
        assert x["score"] == pytest.approx(y["score"], rel=1e-12)

    # replay: wiping the checkpoint re-delivers every file; shard
    # fingerprints make the rebuild a no-op (exactly-once commits)
    import shutil

    shutil.rmtree(ckpt)
    snap_before = read_ledger(idx)
    drain()
    assert read_ledger(idx) == snap_before
    assert os.path.isfile(f"{idx}/manifest.json")


def test_ingest_compact_every_policy(spark, corpus_docs, tmp_path):
    """compact_every=N (VERDICT r4 #7): after N EFFECTIVE append
    batches the stream runs compact_index exactly once (persisted
    counter in .ingest_state.json — survives restarts, replay no-ops
    don't count), and query results are unchanged across the
    compaction."""
    docs_dir = str(tmp_path / "incoming")
    idx = str(tmp_path / "cidx")
    ckpt = str(tmp_path / "ckpt")
    cols = ["doc_id", "content", "content_sha256", "shard"]
    compact_log: list = []

    def drain():
        q = ingest.ingest_stream(
            spark, docs_dir, idx, _builder(), ckpt,
            schema=ingest.INGEST_DOCS,
            compact_every=2, compact_log=compact_log,
        )
        q.awaitTermination(120)
        assert not q.isActive

    # batch 1 (effective): counter -> 1, no compaction yet
    corpus_docs.filter(F.col("shard") < 2).select(*cols).write.mode(
        "append"
    ).parquet(docs_dir)
    drain()
    assert compact_log == []
    import json as _json

    state = _json.load(open(f"{idx}/.ingest_state.json"))
    assert state["appends_since_compact"] == 1

    # batch 2 (effective): threshold reached -> exactly one compaction,
    # counter resets
    corpus_docs.filter(F.col("shard") >= 2).select(*cols).write.mode(
        "append"
    ).parquet(docs_dir)
    q_before = None  # results compared after compaction below
    drain()
    assert len(compact_log) == 1
    assert _json.load(
        open(f"{idx}/.ingest_state.json")
    )["appends_since_compact"] == 0
    # compaction really coalesced: postings now one file per shard
    n_files = sum(
        1
        for path in Snapshot.load(idx).shards("postings").values()
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    assert n_files == len(read_ledger(idx))

    # results equal a one-shot batch build (compaction is content-
    # preserving)
    ref = str(tmp_path / "ref")
    _builder().build(corpus_docs.select(*cols), ref, resume=False)
    q = "getIndexList if return"
    r1 = IndexQueryEngine(spark, idx).topk(q, 10).collect()
    r2 = IndexQueryEngine(spark, ref).topk(q, 10).collect()
    assert [r["doc_id"] for r in r1] == [r["doc_id"] for r in r2]

    # replay (wiped checkpoint): fingerprint no-ops must NOT advance
    # the counter or trigger another compaction
    import shutil

    shutil.rmtree(ckpt)
    drain()
    assert len(compact_log) == 1
    assert _json.load(
        open(f"{idx}/.ingest_state.json")
    )["appends_since_compact"] == 0
