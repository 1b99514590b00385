"""Writer commits: compute into staging, publish by one manifest
replace (index_build._Commit, gxdindexer_spark.snapshot).

Invariants: a crash at any step of an incremental build, a delete, a
content update or a compaction, on either commit backend, resumes to
exactly the index the uncrashed commit leaves, and a crash before the
manifest replace leaves the ledger and every reader on the whole old
snapshot; an engine keeps serving the snapshot it opened across every
kind of commit; a failed commit releases its threads and cached
blocks; an index an older builder wrote is refused until rebuilt; a
commit's cleanup never touches a file the builder does not own.
"""

from __future__ import annotations

import json
import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from gxdindexer_spark import snapshot
from gxdindexer_spark.operators.index_build import (
    IndexBuilder,
    backup_index,
    compact_index,
    delete_docs,
    read_ledger,
    restore_index,
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
    # content updates of shards 1 and 3, found without assume_dense_shards
    # (the delete above takes the dense shape)
    edits = {
        35: {"content": "return merged return"},
        100: {"content": "def getIndexList(): if"},
    }
    return {
        "build": lambda idx: _builder().build(
            _grown(corpus, spark), idx, resume=True
        ),
        "delete": lambda idx: delete_docs(
            spark, idx, _builder(), gone, assume_dense_shards=True
        ),
        "update_content": lambda idx: update_docs(
            spark, idx, _builder(), edits
        ),
        "compact": lambda idx: compact_index(spark, idx),
    }


def _state(spark, idx):
    def rows(art, keys):
        snap = snapshot.Snapshot.load(idx)
        return snap.read(spark, art).orderBy(*keys).collect()

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


def _unnamed(idx):
    """Files under ``idx`` that no path of the committed snapshot (live
    or retained) holds, the manifest and writer lock aside."""
    snap = snapshot.Snapshot.load(idx)
    keep = snap.live() | set(snap.retained)
    out = []
    for root, _dirs, files in os.walk(idx):
        for name in files:
            rel = os.path.relpath(os.path.join(root, name), idx)
            if rel in (snapshot.MANIFEST, snapshot.LOCK):
                continue
            if not any(rel.startswith(f"{k}/") for k in keep):
                out.append(rel)
    return out


def _on_manifest_replace(monkeypatch, hook):
    """Run ``hook()`` inside the next commits, just before each replaces
    the manifest (every staged path already moved in)."""
    replace = snapshot.replace_json

    def paused(path, obj, tmp=None):
        if path.endswith(snapshot.MANIFEST):
            hook()
        replace(path, obj, tmp)

    monkeypatch.setattr(snapshot, "replace_json", paused)


CRASH_STEPS = (
    "postings_write",
    "finalize",
    "between_moves",
    "before_replace",
    "after_replace",
)


def _crash_at(monkeypatch, step):
    """Make ``step`` of the next commit raise."""
    boom = RuntimeError(f"injected crash: {step}")

    def fail(*_a, **_k):
        raise boom

    if step == "postings_write":
        monkeypatch.setattr(IndexBuilder, "postings_df", fail)
    elif step == "finalize":
        monkeypatch.setattr(IndexBuilder, "_finalize_stats", fail)
    elif step == "between_moves":
        install, seen = snapshot.install, []

        def second_fails(*args):
            seen.append(args)
            if len(seen) == 2:
                raise boom
            install(*args)

        monkeypatch.setattr(snapshot, "install", second_fails)
    elif step == "before_replace":
        _on_manifest_replace(monkeypatch, fail)
    else:  # the manifest is replaced, the prior retained paths not gone
        monkeypatch.setattr(snapshot, "drop", fail)
    return boom


@pytest.mark.parametrize(
    "op,backend",
    [
        ("build", "local"),
        ("delete", "local"),
        ("update_content", "local"),
        ("compact", "local"),
        ("build", "spark"),
        ("delete", "spark"),
        ("update_content", "spark"),
        ("compact", "spark"),
    ],
    ids=[
        "build", "delete", "update_content", "compact",
        "build-spark", "delete-spark", "update_content-spark",
        "compact-spark",
    ],
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
    with monkeypatch.context() as m:
        # the commit has moved everything in; nothing is published yet
        _on_manifest_replace(
            m, lambda: seen_before_publish.append(_results(spark, clean))
        )
        run(clean)
    assert seen_before_publish == [pre_results]
    want = _state(spark, clean)
    if op != "compact":
        assert want["ledger"] != {
            s: {
                k: v for k, v in e.items()
                if k not in ("wall_ms", "snapshot_id")
            }
            for s, e in pre_ledger.items()
        }

    steps = CRASH_STEPS if op != "compact" else CRASH_STEPS[2:]
    for step in steps:
        idx = str(tmp_path / step)
        shutil.copytree(base, idx)
        with monkeypatch.context() as m:
            boom = _crash_at(m, step)
            with pytest.raises(RuntimeError) as err:
                run(idx)
            assert err.value is boom
        if step != "after_replace":
            # failed before the commit point: the ledger and every
            # reader stay on the whole old snapshot
            assert read_ledger(idx) == pre_ledger
            assert _results(spark, idx) == pre_results
        # a failed body cleans its staging root; a crash in the
        # publish leaves it for the next commit to sweep
        staged = os.path.exists(f"{idx}/{snapshot.STAGING}")
        assert staged == (step not in ("postings_write", "finalize"))
        run(idx)  # resume
        assert not os.path.exists(f"{idx}/{snapshot.STAGING}")
        assert _unnamed(idx) == []
        got = _state(spark, idx)
        for key in want:
            assert got[key] == want[key], (step, key)
        assert _results(spark, idx) == _results(spark, clean)


def _view(eng):
    """What an engine serves: ranked hits, a match count, and stored
    fields of a few docs (one per shard the commits touch)."""
    hits = [(r["doc_id"], r["score"]) for r in eng.topk(Q, 10).collect()]
    stored = sorted(
        tuple(r) for r in eng.get_docs(
            [3, 35, 95, 100, 160], columns=("repo", "content")
        ).collect()
    )
    return hits, eng.count_matches("return").collect(), stored


@pytest.mark.parametrize(
    "kind",
    ["append", "delete", "update_content", "update_attrs", "compact"],
)
def test_open_engine_keeps_its_snapshot_across_each_commit(
    kind, corpus, base, spark, tmp_path, monkeypatch
):
    """An engine opened before a commit returns, after it, exactly what
    it returned before; an engine opened while the commit is paused
    just before its manifest replace sees the whole old snapshot; a
    fresh engine sees the new one."""
    idx = str(tmp_path / "idx")
    shutil.copytree(base, idx)
    held = IndexQueryEngine(spark, idx)
    before = _view(held)
    b = _builder()
    commit = {
        "append": lambda: b.build(
            spark.createDataFrame(corpus[corpus["shard"] == 5]), idx,
            append=True,
        ),
        "delete": lambda: delete_docs(
            spark, idx, b, [3, 95], assume_dense_shards=True
        ),
        "update_content": lambda: update_docs(
            spark, idx, b, {35: {"content": "return merged return"}},
            assume_dense_shards=True,
        ),
        "update_attrs": lambda: update_docs(
            spark, idx, b, {100: {"repo": "org9/moved"}},
            assume_dense_shards=True,
        ),
        "compact": lambda: compact_index(spark, idx),
    }[kind]
    paused = []
    with monkeypatch.context() as m:
        _on_manifest_replace(
            m, lambda: paused.append(_view(IndexQueryEngine(spark, idx)))
        )
        commit()
    assert paused == [before]
    assert _view(held) == before
    after = _view(IndexQueryEngine(spark, idx))
    assert (after == before) == (kind == "compact")


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
    with open(f"{idx}/{snapshot.MANIFEST}") as fh:
        manifest = json.load(fh)
    if legacy == "no_field_stats":
        del manifest["ledger"]["0"]["field_stats"]
    else:
        shutil.rmtree(f"{idx}/{manifest['paths'].pop('dictionary')}")
    snapshot.replace_json(f"{idx}/{snapshot.MANIFEST}", manifest)
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
    assert not os.path.exists(f"{tmpdir_idx}/{snapshot.STAGING}")
    assert not os.path.exists(f"{tmpdir_idx}/manifest.json")
    m = _builder().build(docs, tmpdir_idx, resume=True)
    assert m["shards_built"] == 6
    assert jsc.getPersistentRDDs().size() == persisted
    assert IndexQueryEngine(spark, tmpdir_idx).topk(Q, 5).count() == 5


def _to_older_layout(idx):
    """Rewrite ``idx`` in the layout an older builder left: each
    artifact's files directly in its directory (a shard's in
    ``<art>/shard=S``), the ledger in a file of its own, a manifest
    with no paths, and the state a half-done publish of that builder
    left (its journal, a moved-aside shard, a swap marker with its
    replacement)."""
    with open(f"{idx}/{snapshot.MANIFEST}") as fh:
        manifest = json.load(fh)
    for slot, rel in manifest.pop("paths").items():
        for name in os.listdir(f"{idx}/{rel}"):
            os.rename(f"{idx}/{rel}/{name}", f"{idx}/{slot}/{name}")
        os.rmdir(f"{idx}/{rel}")
    ledger = manifest.pop("ledger")
    manifest.pop("retained", None)
    snapshot.replace_json(f"{idx}/ledger.json", ledger)
    snapshot.replace_json(f"{idx}/{snapshot.MANIFEST}", manifest)
    snapshot.replace_json(
        f"{idx}/.publish.json", {"remove": [], "replace": ["docs"]}
    )
    shutil.copytree(f"{idx}/postings/shard=0", f"{idx}/.postings__shard=0_old")
    open(f"{idx}/.dictionary_swap.marker", "w").close()
    shutil.copytree(f"{idx}/dictionary", f"{idx}/.dictionary_compact_tmp")


def test_index_of_an_older_builder_is_refused_until_rebuilt(
    corpus, base, spark, tmp_path
):
    """Readers and writers refuse an index in the older layout with a
    ValueError naming the rebuild; that rebuild leaves none of its
    files behind."""
    idx = str(tmp_path / "idx")
    shutil.copytree(base, idx)
    _to_older_layout(idx)
    fix = r"build\(docs, index_dir, resume=False\)"
    with pytest.raises(ValueError, match=fix):
        IndexQueryEngine(spark, idx)
    with pytest.raises(ValueError, match=fix):
        _builder().build(_grown(corpus, spark), idx, resume=True)
    with pytest.raises(ValueError, match=fix):
        delete_docs(spark, idx, _builder(), [1], assume_dense_shards=True)
    foreign = _add_foreign_files(idx, corpus)
    m = _builder().build(_grown(corpus, spark), idx, resume=False)
    assert m["shards_built"] == 6
    snap = snapshot.Snapshot.load(idx)
    assert not snap.retained
    tops = {p.split("/")[0] for p in snap.live()}
    assert sorted(os.listdir(idx)) == sorted(
        tops | {snapshot.MANIFEST, snapshot.LOCK} | set(foreign)
    )
    _check_and_remove_foreign_files(idx, foreign)
    assert _unnamed(idx) == []
    assert _results(spark, idx)[0]


def _add_foreign_files(idx, corpus):
    """Files the builder does not own, put into ``idx``: an input
    corpus, a dot file, an ANN index's older temp dir. Returns their
    names with the bytes of each file under them."""
    corpus.to_parquet(f"{idx}/corpus.parquet")
    with open(f"{idx}/.notes", "w") as fh:
        fh.write("kept")
    os.makedirs(f"{idx}/.lsh_old")
    with open(f"{idx}/.lsh_old/part-0.parquet", "wb") as fh:
        fh.write(b"lsh")
    return {
        name: _contents(idx, name)
        for name in ("corpus.parquet", ".notes", ".lsh_old")
    }


def _contents(idx, name):
    """{path relative to ``idx``: bytes} of each file under ``name``."""
    if os.path.isfile(f"{idx}/{name}"):
        rels = [name]
    else:
        rels = [
            os.path.relpath(os.path.join(root, f), idx)
            for root, _dirs, files in os.walk(f"{idx}/{name}")
            for f in files
        ]
    out = {}
    for rel in rels:
        with open(f"{idx}/{rel}", "rb") as fh:
            out[rel] = fh.read()
    return out


def _check_and_remove_foreign_files(idx, foreign):
    """Assert each file of ``foreign`` is there unchanged, then remove
    them all."""
    for name, files in foreign.items():
        assert _contents(idx, name) == files
        if os.path.isdir(f"{idx}/{name}"):
            shutil.rmtree(f"{idx}/{name}")
        else:
            os.remove(f"{idx}/{name}")


def test_fresh_build_leaves_foreign_files_in_place(corpus, spark, tmp_path):
    """A ``resume=False`` build into a directory that holds no index
    but other files, and the staging root of a crashed commit, sweeps
    only the staging root: the other files stay as they were."""
    idx = str(tmp_path / "idx")
    os.makedirs(f"{idx}/{snapshot.STAGING}/postings/shard=0")
    foreign = _add_foreign_files(idx, corpus)
    _builder().build(spark.createDataFrame(corpus), idx, resume=False)
    snap = snapshot.Snapshot.load(idx)
    tops = {p.split("/")[0] for p in snap.live()}
    assert sorted(os.listdir(idx)) == sorted(
        tops | {snapshot.MANIFEST, snapshot.LOCK} | set(foreign)
    )
    _check_and_remove_foreign_files(idx, foreign)
    assert _unnamed(idx) == []


def test_fresh_build_reads_the_same_through_artifact_dirs(base):
    """Right after a fresh build into an empty directory, a pyarrow
    dataset over an artifact directory (as perfbench/layers.py reads
    docs/, postings/ and dictionary/) holds exactly the snapshot's
    rows: the one snapshot is all there is on disk."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    snap = snapshot.Snapshot.load(base)
    for art, keys in (
        ("docs", ["doc_id"]),
        ("postings", ["shard", "field", "term_id"]),
        ("dictionary", ["field", "term"]),
    ):
        if art == "dictionary":
            got = ds.dataset(f"{base}/{art}", format="parquet").to_table()
            want = pq.read_table(snap.path(art))
        else:
            got = ds.dataset(
                f"{base}/{art}", format="parquet", partitioning="hive"
            ).to_table()
            want = snap.table(art, sorted(snap.shards(art)))
        order = [(k, "ascending") for k in keys]
        assert got.sort_by(order).to_pylist() == (
            want.sort_by(order).to_pylist()
        ), art


def test_index_dir_with_a_url_scheme_is_refused(
    corpus, base, spark, tmp_path, monkeypatch
):
    """An index directory (or a backup's source or destination) given
    as a URL is refused with a ValueError by every writer and reader
    before anything touches a path: nothing lands under the URL's
    path, nor under the working directory (where ``open`` and
    ``os.makedirs`` would read ``file:/...`` as a relative path)."""
    from gxdindexer_spark.operators import ann

    monkeypatch.chdir(tmp_path)
    docs = spark.createDataFrame(corpus[corpus["shard"] == 0])
    for scheme in ("file://", "file:", "hdfs://nn", "s3a://bucket"):
        url = f"{scheme}{tmp_path}/xidx"
        for call in (
            lambda: _builder().build(docs, url, resume=False),
            lambda: _builder().build(docs, url, append=True),
            lambda: delete_docs(spark, url, _builder(), [1]),
            lambda: update_docs(spark, url, _builder(), {1: {"repo": "r"}}),
            lambda: compact_index(spark, url),
            lambda: backup_index(base, url),
            lambda: restore_index(base, url),
            lambda: IndexQueryEngine(spark, url),
            lambda: IndexQueryEngine(spark, f"{scheme}{base}"),
            lambda: ann.build_ann_index(docs, url),
            lambda: ann.append_ann_index(docs, url),
            lambda: ann.compact_ann_index(spark, url),
            lambda: ann.AnnIndex(spark, url),
        ):
            with pytest.raises(ValueError, match="is a URL"):
                call()
        assert os.listdir(tmp_path) == [], scheme
