"""The two commit backends of ``index_build``.

A commit that re-indexes or rewrites at most ``LOCAL_MAX_COMMIT_DOCS``
docs runs in the driver on pandas + pyarrow; a larger one, and every
fresh build, runs on Spark. Both must
leave row-identical artifacts, identical ledger entries and identical
query results; the tests move the guard with monkeypatch.
"""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gxdindexer_spark.operators import index_build
from gxdindexer_spark.operators.index_build import (
    IndexBuilder,
    compact_index,
    delete_docs,
    read_ledger,
    update_docs,
)
from gxdindexer_spark.operators.query import IndexQueryEngine
from gxdindexer_spark.snapshot import Snapshot
from gxdindexer_spark.sources.synth import generate_corpus
from gxdindexer_spark.sources.tables import prepare_docs

BACKENDS = {"local": 1 << 30, "spark": -1}
DPS = 30
Q = "getIndexList if return"
ARTIFACTS = {
    "postings": ("shard", "field", "term_id"),
    "docs": ("doc_id",),
    "doc_stats": ("doc_id", "field"),
    "dict_parts": ("shard", "field", "term"),
    "dictionary": ("field", "term"),
    "dictionary_rev": ("field", "term"),
    "dictionary_ngrams": ("field", "gram", "term"),
    "corpus_stats": ("field",),
}


def use_commit_backend(monkeypatch, backend: str) -> None:
    """Route every following commit to ``backend`` ("local"/"spark")."""
    monkeypatch.setattr(
        index_build, "LOCAL_MAX_COMMIT_DOCS", BACKENDS[backend]
    )


def spark_jobs(spark, fn):
    """-> (fn(), Spark jobs it started)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def _builder():
    return IndexBuilder(docs_per_shard=DPS, block_size=16, with_positions=True)


@pytest.fixture(scope="module")
def corpus(spark):
    """150 docs (shards 0-4) as pandas, with a stored-only column."""
    raw = generate_corpus(spark, 5 * DPS, seed=23, partitions=4)
    docs = prepare_docs(raw, docs_per_shard=DPS, partitions=4).withColumn(
        "n_chars", F.length("content").cast("long")
    )
    return docs.toPandas()


@pytest.fixture(scope="module")
def base(corpus, spark, tmp_path_factory):
    """Spark-built (fresh build) index of shards 0-3."""
    idx = str(tmp_path_factory.mktemp("backends") / "base")
    m = _builder().build(
        spark.createDataFrame(corpus[corpus["shard"] < 4]), idx, resume=False
    )
    assert m["backend"] == "spark"
    return idx


def _state(spark, idx):
    out = {
        art: [
            r.asDict()
            for r in Snapshot.load(idx).read(spark, art)
            .orderBy(*keys)
            .collect()
        ]
        for art, keys in ARTIFACTS.items()
    }
    out["ledger"] = {
        s: {k: v for k, v in e.items() if k != "wall_ms"}
        for s, e in read_ledger(idx).items()
    }
    eng = IndexQueryEngine(spark, idx)
    out["topk"] = [
        (r["doc_id"], r["score"]) for r in eng.topk(Q, 10).collect()
    ]
    out["count"] = eng.count_matches("return").collect()
    return out


def _comparable(metrics):
    """Metrics minus timings, the backend tag and compaction's input
    file counts (a Spark point write leaves a file per task in a
    partition, the local backend one)."""
    drop = {"wall_sec", "docs_per_sec", "postings_per_sec", "backend"}
    return {
        k: (
            {"files_after": v["files_after"]}
            if isinstance(v, dict) and "files_before" in v
            else v
        )
        for k, v in metrics.items()
        if k not in drop
    }


def _script(corpus, spark):
    return [
        (
            "append",
            lambda idx: _builder().build(
                spark.createDataFrame(corpus[corpus["shard"] == 4]),
                idx, append=True,
            ),
        ),
        # 2 docs of shard 0, every doc of shard 3 (an emptied shard)
        (
            "delete",
            lambda idx: delete_docs(
                spark, idx, _builder(), [1, 7] + list(range(90, 120)),
                assume_dense_shards=True,
            ),
        ),
        (
            "update_content",
            lambda idx: update_docs(
                spark, idx, _builder(),
                {35: {"content": "def getIndexList(): return ünïcode"},
                 36: {"content": ""}},
                assume_dense_shards=True,
            ),
        ),
        # without assume_dense_shards: every shard is a candidate; an
        # id already deleted (7) and one absent from the index (10**6)
        # are ignored
        (
            "delete_any_shard",
            lambda idx: delete_docs(
                spark, idx, _builder(), [7, 12, 125, 10**6],
            ),
        ),
        (
            "update_content_any_shard",
            lambda idx: update_docs(
                spark, idx, _builder(),
                {50: {"content": "return getIndexList if"},
                 131: {"content": "if if if"}},
            ),
        ),
        (
            "update_attrs",
            lambda idx: update_docs(
                spark, idx, _builder(), {3: {"n_chars": 999_999}},
            ),
        ),
        (
            "update_attrs_dense",
            lambda idx: update_docs(
                spark, idx, _builder(),
                {8: {"n_chars": 7}, 61: {"n_chars": None},
                 10**6: {"n_chars": 1}},
                assume_dense_shards=True,
            ),
        ),
        # values of another type, cast by Spark's rule on both
        # backends: a float into a long column truncates, a numeric
        # string parses
        (
            "update_attrs_float",
            lambda idx: update_docs(
                spark, idx, _builder(),
                {4: {"n_chars": 1.5}, 5: {"n_chars": None}},
            ),
        ),
        (
            "update_attrs_str",
            lambda idx: update_docs(
                spark, idx, _builder(), {6: {"n_chars": "42"}},
            ),
        ),
        (
            "empty_delta",
            lambda idx: _builder().build(
                spark.createDataFrame(corpus).limit(0), idx, append=True
            ),
        ),
        ("compact", lambda idx: compact_index(spark, idx)),
    ]


def test_backends_leave_identical_indexes(
    corpus, base, spark, tmp_path, monkeypatch
):
    """Each step of an append / delete (one emptying a shard) / content
    update / attr update (each with and without assume_dense_shards) /
    empty delta / compaction script, committed
    on each backend from the same index, leaves the same rows in every
    artifact, the same ledger, metrics and query results; the local
    backend starts no Spark job for a delete, update or compaction,
    and at most two (fingerprint, delta collect) for a build input."""
    dirs = {}
    for backend in BACKENDS:
        dirs[backend] = str(tmp_path / backend)
        shutil.copytree(base, dirs[backend])
    for kind, run in _script(corpus, spark):
        got = {}
        for backend, idx in dirs.items():
            with monkeypatch.context() as m:
                use_commit_backend(m, backend)
                metrics, jobs = spark_jobs(spark, lambda: run(idx))
            if isinstance(metrics, dict) and "backend" in metrics:
                assert metrics["backend"] == backend, kind
            if backend == "local":
                # a build input pays its fingerprint and delta collect
                build = kind in ("append", "empty_delta")
                assert jobs <= (2 if build else 0), (kind, jobs)
            got[backend] = (_comparable(metrics), _state(spark, idx))
        assert got["local"][0] == got["spark"][0], kind
        for key, want in got["spark"][1].items():
            assert got["local"][1][key] == want, (kind, key)


def test_engine_preloads_dictionary_after_local_commit(
    corpus, base, spark, tmp_path, monkeypatch
):
    idx = str(tmp_path / "idx")
    shutil.copytree(base, idx)
    use_commit_backend(monkeypatch, "local")
    delete_docs(spark, idx, _builder(), [1, 2], assume_dense_shards=True)
    eng = IndexQueryEngine(spark, idx)
    assert eng._dict_cache
    assert len(eng._dict_cache) == Snapshot.load(idx).read(
        spark, "dictionary"
    ).count()


def test_local_fingerprint_matches_spark(spark):
    """The driver-local fingerprint twin gives the Spark strings on
    non-ASCII text, empty strings and None in non-content fields."""
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5],
            "shard": pd.array([0, 0, 1, 1, 2, 2], dtype="int32"),
            "content": ["größe ∑ 漢字", "", None, "x", "y", "z"],
            "path": ["a/ü.py", "", None, "p", None, "日本/語.go"],
            "lang": [None, "py", "", "ÿ", None, ""],
        }
    )
    docs = spark.createDataFrame(pdf).withColumn(
        "content_sha256",
        F.when(
            F.col("doc_id") != 4,
            F.sha2(F.coalesce("content", F.lit("")), 256),
        ),
    )
    b = IndexBuilder(docs_per_shard=2)
    assert b._fp_map_local(docs.toPandas()) == b._fp_map(docs)


def test_driver_collects_only_inputs_under_the_guard(
    corpus, spark, tmp_path, monkeypatch
):
    """A local relation is brought to the driver only when its commit
    can run there: never for a fresh build, and at most guard + 1 rows
    for an append over the guard, which then commits on Spark."""
    collected = []
    frame = type(spark.range(1))
    to_arrow = frame.toArrow

    def recording(self):
        t = to_arrow(self)
        collected.append(t.num_rows)
        return t

    monkeypatch.setattr(frame, "toArrow", recording)
    idx = str(tmp_path / "idx")
    m = _builder().build(
        spark.createDataFrame(corpus[corpus["shard"] < 2]), idx, resume=False
    )
    assert m["backend"] == "spark" and collected == []
    monkeypatch.setattr(index_build, "LOCAL_MAX_COMMIT_DOCS", 10)
    m = _builder().build(
        spark.createDataFrame(corpus[corpus["shard"] == 2]), idx, append=True
    )
    assert m["backend"] == "spark" and m["shards_built"] == 1
    assert collected == [11]


@pytest.mark.parametrize("first", ["local", "spark"])
def test_mutation_replayed_on_other_backend_is_a_noop(
    first, corpus, base, spark, tmp_path, monkeypatch
):
    """A delete and an update committed on one backend, replayed with
    the guard forced to the other, rebuild nothing."""
    other = "spark" if first == "local" else "local"
    idx = str(tmp_path / "idx")
    shutil.copytree(base, idx)
    upd = {40: {"content": "return getIndexList twice"}}
    for backend, want_built in ((first, 1), (other, 0)):
        with monkeypatch.context() as m:
            use_commit_backend(m, backend)
            d = delete_docs(
                spark, idx, _builder(), [2, 3], assume_dense_shards=True
            )
            u = update_docs(spark, idx, _builder(), upd)
        assert d.get("shards_built", 0) == want_built
        assert u.get("shards_built", 0) == want_built
