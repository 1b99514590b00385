"""Round-6 third-pass optimization internals:

* ``_shard_metrics`` gained a driver-side pyarrow twin — it must be
  value-identical to the Spark aggregation it replaces and fall back
  cleanly when the size guard trips;
* full-mode finalize on a FRESH build now aggregates the in-memory
  dict-parts lineage instead of re-reading the artifact — the
  dictionary artifact must be identical either way;
* point mutations precompute the shard fingerprint concurrently with
  their own scan (``_build_locked(precomputed_fp=...)``) — the gate
  must behave exactly as the builder's own fingerprint job;
* the ANN per-bucket file salt is scale-adaptive — small inputs write
  one file per bucket, the cap stays at the old ``_FILE_SALT``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gxdindexer_spark.operators import ann, index_build
from gxdindexer_spark.operators.index_build import IndexBuilder, _Commit
from gxdindexer_spark.snapshot import Snapshot
from gxdindexer_spark.sources.synth import generate_corpus
from gxdindexer_spark.sources.tables import prepare_docs


def _docs(spark, n=120, dps=30):
    corpus = generate_corpus(spark, n, seed=5, partitions=2)
    return prepare_docs(corpus, docs_per_shard=dps, partitions=2)


def _builder(dps=30):
    return IndexBuilder(
        fields={"content": "simple"}, docs_per_shard=dps,
        salt_range=16, block_size=8,
    )


def test_shard_metrics_arrow_matches_spark(spark, tmpdir_idx, monkeypatch):
    docs = _docs(spark)
    b = _builder()
    b.build(docs, tmpdir_idx, resume=False)
    snap = Snapshot.load(tmpdir_idx)
    shards = sorted(snap.shards("postings"))
    via_arrow = b._shard_metrics_arrow(snap, shards)
    assert via_arrow is not None and set(via_arrow) == set(shards)
    # force the Spark path through the size guard and compare
    monkeypatch.setattr(index_build, "ARROW_METRICS_MAX", 0)
    assert b._shard_metrics_arrow(snap, shards) is None
    via_spark = b._shard_metrics(spark, snap, shards)
    assert via_arrow == via_spark
    # and the ledger recorded the same values at build time
    from gxdindexer_spark.operators.index_build import read_ledger

    led = read_ledger(tmpdir_idx)
    for s in shards:
        assert led[s]["n_postings"] == via_arrow[s]["n_postings"]
        assert led[s]["bytes_compressed"] == via_arrow[s]["bytes"]
        assert led[s]["n_docs"] == via_arrow[s]["n_docs"]


def test_fresh_full_finalize_dictionary_identical(spark, tmpdir_idx):
    """A fresh build's dictionary (aggregated from the in-memory
    dict-parts lineage) must equal a dictionary re-derived from the
    written dict_parts artifact (the old full-mode input)."""
    docs = _docs(spark)
    b = _builder()
    b.build(docs, tmpdir_idx, resume=False)
    snap = Snapshot.load(tmpdir_idx)
    from_artifact = (
        snap.read(spark, "dict_parts")
        .groupBy("field", "term", "term_id")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    written = snap.read(spark, "dictionary").select(
        "field", "term", "term_id", "df", "cf"
    )
    assert written.count() == from_artifact.count()
    assert (
        written.exceptAll(
            from_artifact.select("field", "term", "term_id", "df", "cf")
        ).count()
        == 0
    )


def test_precomputed_fp_matches_gate(spark, tmpdir_idx):
    """_fp_map precomputed by a mutation caller must be exactly what
    the builder's own fingerprint job would compute — a rebuild with
    precomputed_fp of UNCHANGED input is a full fingerprint no-op."""
    docs = _docs(spark).localCheckpoint()
    b = _builder()
    m1 = b.build(docs, tmpdir_idx, resume=False)
    assert m1["shards_built"] > 0
    pre = b._fp_map(docs)
    with _Commit(tmpdir_idx) as commit:
        m2 = b._build_locked(
            commit, docs, resume=True, append=True, precomputed_fp=pre
        )
    assert m2["shards_built"] == 0
    assert m2["shards_skipped"] == m1["shards_built"]


def test_adaptive_salt_file_layout(spark, tmp_path):
    """Small ANN builds write one file per bucket dir; the salt cap
    (_FILE_SALT) is preserved for large per-bucket row counts."""
    # unit check of the salt formula via the produced layout
    import pandas as pd

    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(300),
                "embedding": [
                    [float((i * 7 + j) % 13) / 13 for j in range(8)]
                    for i in range(300)
                ],
            }
        )
    )
    d = str(tmp_path / "annsmall")
    ann.build_ann_index(emb, d, n_planes=3, n_centroids=2, resume=False)
    import json

    with open(f"{d}/meta.json") as fh:
        meta = json.load(fh)
    lsh = f"{d}/{meta['lsh_dir']}"
    for bdir in os.listdir(lsh):
        if not bdir.startswith("bucket="):
            continue
        files = [
            f
            for f in os.listdir(f"{lsh}/{bdir}")
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (bdir, files)
    # formula: large per-bucket volumes keep the old 8-way salt
    from gxdindexer_spark.operators.ann import _FILE_SALT, _salted

    big = _salted(emb, "vec_id", n_rows=64 * 4096 * _FILE_SALT,
                  n_buckets=64)
    # repartition expression carries the salt literal; assert via plan
    import re

    plan = big._jdf.queryExecution().logical().toString()
    assert re.search(rf"pmod\('?vec_id, {_FILE_SALT}\)", plan), plan
    # skew guard: a large-but-lean-mean input keeps the full salt too
    # (mean rows/bucket can't see a skew-hot bucket)
    lean = _salted(emb, "vec_id",
                   n_rows=_FILE_SALT * 4096 + 1, n_buckets=1024)
    plan2 = lean._jdf.queryExecution().logical().toString()
    assert re.search(rf"pmod\('?vec_id, {_FILE_SALT}\)", plan2), plan2


def test_mutation_overlap_results_unchanged(spark, tmpdir_idx):
    """delete_docs/update_docs with the concurrent scan+snapshot+fp
    produce the same metrics and the same served results as before."""
    from gxdindexer_spark.operators.index_build import (
        delete_docs,
        update_docs,
    )
    from gxdindexer_spark.operators.query import IndexQueryEngine

    docs = _docs(spark)
    b = _builder()
    b.build(docs, tmpdir_idx, resume=False)
    m = delete_docs(spark, tmpdir_idx, b, [3, 31], assume_dense_shards=True)
    assert m["docs_deleted"] == 2 and m["shards_rebuilt"] == 2
    eng = IndexQueryEngine(spark, tmpdir_idx)
    got = {int(r["doc_id"]) for r in eng.topk("the", k=50).collect()}
    assert not got & {3, 31}
    m2 = update_docs(
        spark, tmpdir_idx, b,
        {5: {"content": "zzyzx zzyzx unique"}},
        assume_dense_shards=True,
    )
    assert m2["docs_updated"] == 1 and m2["shards_rebuilt"] == 1
    # engines are snapshot readers — re-open after a commit
    eng = IndexQueryEngine(spark, tmpdir_idx)
    hits = [int(r["doc_id"]) for r in eng.topk("zzyzx", k=5).collect()]
    assert hits == [5]
    # replay stays a fingerprint no-op (the semantic the overlap must
    # not break)
    m3 = update_docs(
        spark, tmpdir_idx, b,
        {5: {"content": "zzyzx zzyzx unique"}},
        assume_dense_shards=True,
    )
    assert m3.get("shards_built") == 0
