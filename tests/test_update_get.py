"""Atomic document update (Solr atomic update / Lucene
updateDocValues) and real-time get (Solr /get) — index_build.
update_docs and query.get_docs.

Invariants: a content update re-ranks exactly as a corpus whose text
was patched (df/dl/avgdl all refresh); an attr-only update rewrites
ONLY doc-store partitions (postings byte-identical, scores unchanged)
yet serves the new attrs through get/sort/facet paths; replays are
no-ops; a backup copies only the live snapshot.
"""

from __future__ import annotations

import glob
import math
import os

import pytest
from pyspark.sql import functions as F

from gxdindexer_spark.operators.index_build import (
    IndexBuilder,
    delete_docs,
    update_docs,
)
from gxdindexer_spark.operators.query import IndexQueryEngine
from gxdindexer_spark.snapshot import Snapshot
from gxdindexer_spark.sources.synth import generate_corpus
from gxdindexer_spark.sources.tables import prepare_docs

from tests.test_grouping_facets import _oracle_scores

N_DOCS = 150
Q = "getIndexList if return"


def _build(spark, tmp_path, name):
    idx = str(tmp_path / name)
    corpus = generate_corpus(spark, N_DOCS, seed=31, partitions=4)
    docs = (
        prepare_docs(corpus, docs_per_shard=30, partitions=4)
        .withColumn("n_chars", F.length("content"))
        .cache()
    )
    builder = IndexBuilder(docs_per_shard=30, salt_range=64, block_size=16)
    builder.build(docs, idx, resume=False)
    pdocs = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    return idx, builder, docs, pdocs


NEW_TEXT = "def getIndexList(self): return getIndexList if if if"


def test_update_content_matches_patched_oracle(spark, tmp_path):
    idx, builder, docs, pdocs = _build(spark, tmp_path, "upd")
    target = 7
    m = update_docs(
        spark, idx, builder, {target: {"content": NEW_TEXT}},
        assume_dense_shards=True,
    )
    assert m["docs_updated"] == 1 and m["shards_rebuilt"] == 1
    patched = pdocs.copy()
    patched.loc[patched["doc_id"] == target, "content"] = NEW_TEXT
    # the oracle reads 'content' via the analyzer map used by _build
    want = sorted(
        _oracle_scores(
            patched.assign(
                path=patched["path"], lang=patched["lang"]
            ), Q
        ).items(),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    got = IndexQueryEngine(spark, idx).topk(Q, k=10, mode="taat").collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_d, s) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9)
    # the new content is served back by real-time get
    row = IndexQueryEngine(spark, idx).get_docs([target]).collect()
    assert len(row) == 1 and row[0]["content"] == NEW_TEXT
    # replay is a no-op (fingerprints match the already-updated state)
    m2 = update_docs(
        spark, idx, builder, {target: {"content": NEW_TEXT}},
        assume_dense_shards=True,
    )
    assert m2.get("shards_built", 0) == 0


def test_update_attrs_docvalues_path(spark, tmp_path):
    """Stored-only attr update: postings bytes untouched, scores
    unchanged, new attr served."""
    idx, builder, docs, pdocs = _build(spark, tmp_path, "updattr")
    eng = IndexQueryEngine(spark, idx)
    before = eng.topk(Q, k=10, mode="taat").collect()

    def postings_sig():
        return sorted(
            (os.path.relpath(p, idx), os.path.getsize(p), os.path.getmtime(p))
            for p in glob.glob(f"{idx}/postings/**/*.parquet", recursive=True)
        )

    sig0 = postings_sig()
    m = update_docs(
        spark, idx, builder,
        {3: {"n_chars": 999_999}, 64: {"n_chars": 888_888}},
        assume_dense_shards=True,
    )
    assert m["docs_updated"] == 2 and m["shards_rebuilt"] == 2
    assert postings_sig() == sig0  # docvalues path: postings untouched
    eng2 = IndexQueryEngine(spark, idx)
    got = {
        r["doc_id"]: r["n_chars"]
        for r in eng2.get_docs([3, 64], columns=("n_chars",)).collect()
    }
    assert got == {3: 999_999, 64: 888_888}
    after = eng2.topk(Q, k=10, mode="taat").collect()
    assert [(r["doc_id"], r["score"]) for r in after] == [
        (r["doc_id"], r["score"]) for r in before
    ]
    # the updated rank column drives sorted_matches immediately
    top = eng2.sorted_matches(Q, by="n_chars", k=2, ascending=False).collect()
    assert [r["doc_id"] for r in top] == [3, 64] or top[0]["n_chars"] >= 888_888


def test_update_guards(spark, tmp_path):
    idx, builder, docs, _ = _build(spark, tmp_path, "updg")
    with pytest.raises(ValueError, match="identity columns"):
        update_docs(spark, idx, builder, {1: {"doc_id": 9}})
    with pytest.raises(ValueError, match="not in the doc store"):
        update_docs(spark, idx, builder, {1: {"nope": 9}})
    assert update_docs(spark, idx, builder, {}) == {
        "docs_updated": 0, "shards_rebuilt": 0,
    }
    # absent ids: ignored like delete_docs
    m = update_docs(
        spark, idx, builder, {10**9: {"n_chars": 1}},
        assume_dense_shards=True,
    )
    assert m == {"docs_updated": 0, "shards_rebuilt": 0}


def test_backup_restore_roundtrip(spark, tmp_path):
    """Backup is a consistent committed snapshot: mutations to the
    original after the backup don't leak in, the restored index
    serves the pre-mutation results, and the original keeps its
    post-mutation state. Guards: non-empty destinations and
    non-backup sources are refused; the writer lock file is not
    copied."""
    from gxdindexer_spark.operators.index_build import (
        backup_index,
        restore_index,
    )

    idx, builder, docs, _ = _build(spark, tmp_path, "bak")
    eng = IndexQueryEngine(spark, idx)
    before = [(r["doc_id"], r["score"]) for r in eng.topk(Q, k=10).collect()]
    bak = str(tmp_path / "bak_snapshot")
    m = backup_index(idx, bak)
    assert m["files"] > 0 and m["bytes"] > 0
    assert not os.path.exists(f"{bak}/_writer.lock")
    # mutate the original AFTER the backup
    victim = before[0][0]
    delete_docs(spark, idx, builder, [victim], assume_dense_shards=True)
    after = [
        (r["doc_id"], r["score"])
        for r in IndexQueryEngine(spark, idx).topk(Q, k=10).collect()
    ]
    assert after != before and victim not in {d for d, _s in after}
    # the original now retains its previous snapshot: a backup copies
    # only the live paths, and restores to the live results
    snap = Snapshot.load(idx)
    assert snap.retained
    bak2 = str(tmp_path / "bak_live")
    backup_index(idx, bak2)

    def files(root, rels):
        return {
            os.path.relpath(os.path.join(r, f), root)
            for rel in rels
            for r, _d, fs in os.walk(f"{root}/{rel}")
            for f in fs
        }

    assert files(bak2, [""]) == {"manifest.json"} | files(
        idx, snap.live()
    )
    restore_index(bak2, str(tmp_path / "restored_live"))
    assert [
        (r["doc_id"], r["score"])
        for r in IndexQueryEngine(spark, str(tmp_path / "restored_live"))
        .topk(Q, k=10)
        .collect()
    ] == after
    # restore serves the pre-mutation snapshot
    rest = str(tmp_path / "restored")
    restore_index(bak, rest)
    got = [
        (r["doc_id"], r["score"])
        for r in IndexQueryEngine(spark, rest).topk(Q, k=10).collect()
    ]
    assert got == before
    # the restored index is writable (fresh lock state)
    delete_docs(spark, rest, builder, [victim], assume_dense_shards=True)
    assert [
        (r["doc_id"], r["score"])
        for r in IndexQueryEngine(spark, rest).topk(Q, k=10).collect()
    ] == after
    with pytest.raises(ValueError, match="not empty"):
        backup_index(idx, bak)
    with pytest.raises(ValueError, match="not an index backup"):
        restore_index(str(tmp_path), str(tmp_path / "nope"))


def test_attach_stored_column_rank_serving(spark, tmp_path):
    """Bulk docvalues attach (the R_BY_* precomputed-rank pattern):
    compute a rank column with a Spark window job, attach it, and
    sorted_matches serves it immediately — postings untouched; docs
    absent from the values get NULL; replacing an existing column
    works; malformed inputs raise."""
    from pyspark.sql import Window

    from gxdindexer_spark.operators.index_build import (
        attach_stored_column,
    )

    idx, builder, docs, pdocs = _build(spark, tmp_path, "attach")

    def postings_sig():
        return sorted(
            (os.path.relpath(p, idx), os.path.getsize(p))
            for p in glob.glob(f"{idx}/postings/**/*.parquet", recursive=True)
        )

    sig0 = postings_sig()
    # rank docs by length within lang — a window job, like the
    # reference's sort-rank tables — but only for even doc_ids so the
    # NULL (missing docvalue) path is exercised
    ranks = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.partitionBy("lang").orderBy("n_chars", "doc_id"))
            .alias("r_by_len"),
        )
    )
    m = attach_stored_column(spark, idx, ranks, "r_by_len")
    assert m["docs_with_value"] == ranks.count()
    assert postings_sig() == sig0
    eng = IndexQueryEngine(spark, idx)
    got = eng.sorted_matches(Q, by="r_by_len", k=5).collect()
    want_ranks = {
        int(r["doc_id"]): int(r["r_by_len"]) for r in ranks.collect()
    }
    match = {r["doc_id"] for r in eng.matching_docs(Q).collect()}
    want = sorted(
        ((want_ranks[d], d) for d in match if d in want_ranks),
    )[:5]
    assert [(r["r_by_len"], r["doc_id"]) for r in got] == want
    # odd ids carry NULL
    nulls = eng.get_docs([1, 3], columns=("r_by_len",)).collect()
    assert all(r["r_by_len"] is None for r in nulls)
    # replace: re-attach with shifted values overwrites
    attach_stored_column(
        spark, idx,
        ranks.select("doc_id", (F.col("r_by_len") + 100).alias("r_by_len")),
        "r_by_len",
    )
    eng2 = IndexQueryEngine(spark, idx)
    assert (
        eng2.get_docs([0], columns=("r_by_len",)).collect()[0]["r_by_len"]
        == want_ranks[0] + 100
    )
    with pytest.raises(ValueError, match="exactly"):
        attach_stored_column(spark, idx, docs.select("doc_id"), "x")
    with pytest.raises(ValueError, match="duplicate"):
        attach_stored_column(
            spark, idx,
            ranks.unionByName(ranks).select("doc_id", "r_by_len"),
            "r_by_len",
        )
    with pytest.raises(ValueError, match="identity"):
        attach_stored_column(
            spark, idx, ranks.withColumnRenamed("r_by_len", "shard"),
            "shard",
        )


def test_get_docs_partition_pruned_plan(spark, tmp_path):
    idx, builder, docs, pdocs = _build(spark, tmp_path, "get")
    eng = IndexQueryEngine(spark, idx)
    out = eng.get_docs([5, 31], columns=("content",))
    rows = out.collect()
    want = {
        int(r.doc_id): r.content
        for r in pdocs[pdocs["doc_id"].isin([5, 31])].itertuples()
    }
    assert {r["doc_id"]: r["content"] for r in rows} == want
    assert [r["doc_id"] for r in rows] == [5, 31]
    # partition pruning reaches the scan: shard dirs 0 and 1 only
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    with pytest.raises(ValueError, match="not in the doc store"):
        eng.get_docs([1], columns=("nope",))
    assert eng.get_docs([]).collect() == []
    # update+delete compose with get: deleted doc vanishes from get
    delete_docs(spark, idx, builder, [5], assume_dense_shards=True)
    eng2 = IndexQueryEngine(spark, idx)
    assert [r["doc_id"] for r in eng2.get_docs([5, 31]).collect()] == [31]
