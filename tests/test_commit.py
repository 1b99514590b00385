"""Writer commits: compute into staging, publish once (index_build._Commit).

Invariants: a crash at any step of an incremental build or a delete,
on either commit backend, resumes to exactly the index the uncrashed
commit leaves; a reader
opened before publish sees the pre-commit index; a failed commit
releases its threads and cached blocks; a half-done publish is
replayed only by a holder of the writer lock.
"""

from __future__ import annotations

import json
import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from gxdindexer_spark.operators import index_build
from gxdindexer_spark.operators.index_build import (
    ConcurrentWriteError,
    IndexBuilder,
    _WriterLock,
    delete_docs,
    read_ledger,
    update_docs,
)
from gxdindexer_spark.operators.query import IndexQueryEngine
from gxdindexer_spark.sources.synth import generate_corpus
from gxdindexer_spark.sources.tables import prepare_docs

from tests.test_commit_backends import use_commit_backend

DPS = 30
Q = "getIndexList if return"


def _builder():
    return IndexBuilder(docs_per_shard=DPS, salt_range=64, block_size=16)


@pytest.fixture(scope="module")
def corpus(spark):
    """180 docs (shards 0-5) as pandas, so each use is a fresh local
    relation with nothing persisted behind it."""
    raw = generate_corpus(spark, 6 * DPS, seed=17, partitions=4)
    return prepare_docs(raw, docs_per_shard=DPS, partitions=4).toPandas()


@pytest.fixture(scope="module")
def base(corpus, spark, tmp_path_factory):
    """Index of shards 0-4 (doc_id < 150)."""
    idx = str(tmp_path_factory.mktemp("commit") / "base")
    docs = spark.createDataFrame(corpus[corpus["doc_id"] < 5 * DPS])
    _builder().build(docs, idx, resume=False)
    return idx


def _grown(corpus, spark):
    """Incremental input: shards 1 and 2 edited, shard 5 new."""
    pdf = corpus.copy()
    edit = pdf["shard"].isin([1, 2])
    pdf.loc[edit, "content"] = pdf.loc[edit, "content"] + " return merged"
    docs = spark.createDataFrame(pdf)
    return docs.withColumn(
        "content_sha256", F.sha2(F.coalesce("content", F.lit("")), 256)
    )


def _ops(corpus, spark):
    # deletes: 3 docs in shard 0, 2 in shard 3, every doc of shard 4
    gone = [1, 5, 7, 95, 99] + list(range(4 * DPS, 5 * DPS))
    return {
        "build": lambda idx: _builder().build(
            _grown(corpus, spark), idx, resume=True
        ),
        "delete": lambda idx: delete_docs(
            spark, idx, _builder(), gone, assume_dense_shards=True
        ),
    }


def _state(spark, idx):
    def rows(art, keys):
        return spark.read.parquet(f"{idx}/{art}").orderBy(*keys).collect()

    ledger = {
        s: {k: v for k, v in e.items() if k not in ("wall_ms", "snapshot_id")}
        for s, e in read_ledger(idx).items()
    }
    return {
        "postings": rows("postings", ["shard", "field", "term_id"]),
        "dictionary": rows("dictionary", ["field", "term"]),
        "docs": rows("docs", ["doc_id"]),
        "ledger": ledger,
    }


def _results(spark, idx):
    eng = IndexQueryEngine(spark, idx)
    hits = [(r["doc_id"], r["score"]) for r in eng.topk(Q, 10).collect()]
    return hits, eng.count_matches("return").collect()


def _crash_at(monkeypatch, step):
    """Make ``step`` of the next commit raise."""
    boom = RuntimeError(f"injected crash: {step}")

    def fail(*_a, **_k):
        raise boom

    if step == "postings_write":
        monkeypatch.setattr(IndexBuilder, "postings_df", fail)
    elif step == "finalize":
        monkeypatch.setattr(IndexBuilder, "_finalize_stats", fail)
    else:
        swap = index_build._swap_dir_commit
        seen = []

        def gated(index_dir, rel, drop=False):
            if "shard=" in rel:
                seen.append(rel)
            if (
                (step == "between_shard_swaps" and len(seen) == 2)
                or (step == "before_dictionary" and rel == "dictionary")
                or (step == "before_ledger" and rel == "ledger.json")
            ):
                raise boom
            swap(index_dir, rel, drop)

        monkeypatch.setattr(index_build, "_swap_dir_commit", gated)
    return boom


@pytest.mark.parametrize(
    "op,backend",
    [
        ("build", "local"),
        ("delete", "local"),
        ("build", "spark"),
        ("delete", "spark"),
    ],
    ids=["build", "delete", "build-spark", "delete-spark"],
)
def test_crash_at_each_commit_step_resumes_to_clean_commit(
    op, backend, corpus, base, spark, tmp_path, monkeypatch
):
    use_commit_backend(monkeypatch, backend)
    run = _ops(corpus, spark)[op]
    pre_results = _results(spark, base)
    pre_ledger = read_ledger(base)

    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    seen_before_publish = []
    publish = index_build._Commit._publish

    def paused(commit):
        # the commit has computed everything; nothing is published yet
        seen_before_publish.append(_results(spark, commit.index_dir))
        publish(commit)

    with monkeypatch.context() as m:
        m.setattr(index_build._Commit, "_publish", paused)
        run(clean)
    assert seen_before_publish == [pre_results]
    want = _state(spark, clean)
    assert want["ledger"] != {
        s: {k: v for k, v in e.items() if k not in ("wall_ms", "snapshot_id")}
        for s, e in pre_ledger.items()
    }

    for step in (
        "postings_write",
        "finalize",
        "between_shard_swaps",
        "before_dictionary",
        "before_ledger",
    ):
        idx = str(tmp_path / step)
        shutil.copytree(base, idx)
        with monkeypatch.context() as m:
            boom = _crash_at(m, step)
            with pytest.raises(RuntimeError) as err:
                run(idx)
            assert err.value is boom
        if step in ("postings_write", "finalize"):
            # failed before publish: the live index is untouched
            assert read_ledger(idx) == pre_ledger
            assert not os.path.exists(f"{idx}/{index_build.STAGING}")
        else:
            assert os.path.isfile(f"{idx}/{index_build.JOURNAL}")
        run(idx)  # resume
        assert not os.path.exists(f"{idx}/{index_build.JOURNAL}")
        got = _state(spark, idx)
        for key in want:
            assert got[key] == want[key], (step, key)
        assert _results(spark, idx) == _results(spark, clean)


def _tree(idx):
    """Every file under ``idx`` (the lock file aside) with its bytes."""
    out = {}
    for root, _dirs, files in os.walk(idx):
        for name in files:
            path = os.path.join(root, name)
            if name != "_writer.lock":
                with open(path, "rb") as fh:
                    out[os.path.relpath(path, idx)] = fh.read()
    return out


@pytest.mark.parametrize("legacy", ["no_field_stats", "no_dictionary"])
def test_unreadable_kept_shards_are_rejected_before_staging(
    legacy, corpus, base, spark, tmp_path
):
    """A kept shard whose ledger entry has no field_stats, or kept
    shards with no dictionary to merge into (an index an older builder
    wrote), fail an incremental build with a ValueError naming the
    fix, before anything is staged; the rebuild it names succeeds."""
    idx = str(tmp_path / "idx")
    shutil.copytree(base, idx)
    if legacy == "no_field_stats":
        ledger = read_ledger(idx)
        del ledger[0]["field_stats"]
        with open(f"{idx}/ledger.json", "w") as fh:
            json.dump({str(s): e for s, e in ledger.items()}, fh)
    else:
        shutil.rmtree(f"{idx}/dictionary")
    before = _tree(idx)
    with pytest.raises(ValueError, match=r"resume=False"):
        _builder().build(_grown(corpus, spark), idx, resume=True)
    assert _tree(idx) == before
    m = _builder().build(_grown(corpus, spark), idx, resume=False)
    assert m["shards_built"] == 6 and m["finalize_mode"] == "full"
    assert _results(spark, idx)[0]


def test_failed_build_releases_threads_and_cached_blocks(
    corpus, spark, tmpdir_idx, monkeypatch
):
    docs = spark.createDataFrame(corpus)
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    postings_df = IndexBuilder.postings_df

    def failing(self, tf, avgdl):
        # fails inside the write's tasks, while finalize runs beside it
        out = postings_df(self, tf, avgdl)
        return out.filter(F.assert_true(F.col("df") < 0).isNull())

    with monkeypatch.context() as m:
        m.setattr(IndexBuilder, "postings_df", failing)
        with pytest.raises(Exception):
            _builder().build(docs, tmpdir_idx, resume=False)
    assert jsc.getPersistentRDDs().size() == persisted
    assert not [
        t for t in threading.enumerate() if t.name.startswith("gxdidx-commit")
    ]
    assert not os.path.exists(f"{tmpdir_idx}/{index_build.STAGING}")
    assert not os.path.exists(f"{tmpdir_idx}/manifest.json")
    m = _builder().build(docs, tmpdir_idx, resume=True)
    assert m["shards_built"] == 6
    assert jsc.getPersistentRDDs().size() == persisted
    assert IndexQueryEngine(spark, tmpdir_idx).topk(Q, 5).count() == 5


@pytest.mark.parametrize("layout", ["journal", "swap_marker"])
def test_half_done_publish_replays_only_under_the_writer_lock(
    layout, corpus, base, spark, tmp_path
):
    """A publish mid-flight (its plan recorded, nothing renamed yet)
    belongs to the writer holding the lock: an engine open must not
    replay it, and a second writer must fail before touching it."""
    idx = str(tmp_path / "idx")
    shutil.copytree(base, idx)
    src = f"{idx}/docs/shard=0"
    if layout == "journal":
        marker = f"{idx}/{index_build.JOURNAL}"
        tmp = f"{idx}/{index_build.STAGING}/docs/shard=0"
        plan = '{"remove": [], "replace": ["docs/shard=0"]}'
    else:
        marker = f"{idx}/.docs__shard=0_swap.marker"
        tmp = f"{idx}/.docs__shard=0_compact_tmp"
        plan = "docs/shard=0"
    staged = {}

    def snapshot():
        return {
            p: sorted(os.listdir(p)) if os.path.isdir(p) else open(p).read()
            for p in (src, tmp, marker)
        }

    with _WriterLock(idx):
        shutil.copytree(src, tmp)
        with open(marker, "w") as fh:
            fh.write(plan)
        staged = snapshot()
        IndexQueryEngine(spark, idx)
        assert snapshot() == staged
        with pytest.raises(ConcurrentWriteError):
            update_docs(
                spark, idx, _builder(), {3: {"content": "x"}},
                assume_dense_shards=True,
            )
        assert snapshot() == staged
    # lock released: the next open finishes the publish
    eng = IndexQueryEngine(spark, idx)
    assert not os.path.exists(marker) and not os.path.exists(tmp)
    assert sorted(os.listdir(src)) == staged[src]
    assert eng.get_docs([3]).count() == 1
