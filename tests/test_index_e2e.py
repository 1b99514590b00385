"""Golden end-to-end rank-identity + invariant tests (SURVEY.md §5.2/5.3).

Deterministic synthetic corpus -> build index -> query; compare
top-k (doc_id, score) against the independent pure-python brute-force
oracle (at small scale brute force IS the spec), and check the
build invariants: sha256 round-trip, sum(tf)==cf, df==posting length,
resume idempotency.
"""

import math
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gxdindexer_spark.functions import analyze, bm25
from gxdindexer_spark.operators.index_build import IndexBuilder
from gxdindexer_spark.operators.query import IndexQueryEngine, brute_force_bm25_df
from gxdindexer_spark.sources.synth import generate_corpus
from gxdindexer_spark.sources.tables import prepare_docs

N_DOCS = 400
QUERIES = [
    "getIndexList if return",
    "parseTokenMap salt_count",
    "the import mergeShardStats",
    "byte_offset skew_bound scanQueryBatch",
    "if",
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx"))
    corpus = generate_corpus(spark, N_DOCS, seed=7, partitions=6)
    docs = prepare_docs(corpus, docs_per_shard=100, partitions=6)
    docs = docs.cache()
    builder = IndexBuilder(docs_per_shard=100, salt_range=64, block_size=16)
    metrics = builder.build(docs, idx, resume=False)
    pdocs = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    return idx, docs, pdocs, metrics


def _oracle_topk(pdocs: pd.DataFrame, query: str, k: int):
    """Pure-python/numpy oracle: multi-field weighted Lucene BM25."""
    weights = bm25.field_weights()
    fields = {"content": "code", "path": "path", "lang": "lang"}
    total: dict[int, float] = {}
    for field, tokenizer in fields.items():
        toks_series = analyze.TOKENIZERS[tokenizer](pdocs[field])
        docs_tokens = {
            int(d): t
            for d, t in zip(pdocs["doc_id"], toks_series)
            if len(t)
        }
        dl_series = analyze.original_token_counts(pdocs[field], tokenizer)
        dls = {
            int(d): int(n)
            for d, n in zip(pdocs["doc_id"], dl_series)
            if d in docs_tokens
        }
        q = analyze.tokenize_query(query, tokenizer)
        for doc, s in bm25.brute_force_topk(
            docs_tokens, q, k=len(pdocs), dls=dls
        ):
            total[doc] = total.get(doc, 0.0) + weights[field] * s
    ranked = sorted(total.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


def test_doc_id_assignment_dense_unique_at_scale(spark):
    """Regression: repartitionByRange re-samples per action; without the
    localCheckpoint pin the count/assign passes disagree and ids
    duplicate (seen at 100k docs / 64 partitions)."""
    corpus = generate_corpus(spark, 20000, seed=3, partitions=16)
    docs = prepare_docs(corpus, docs_per_shard=5000, partitions=16)
    row = docs.agg(
        F.count("*").alias("n"),
        F.count_distinct("doc_id").alias("nd"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).first()
    assert (row["n"], row["nd"], row["lo"], row["hi"]) == (
        20000, 20000, 0, 19999,
    )


def test_build_metrics(built):
    _idx, _docs, pdocs, metrics = built
    assert metrics["n_docs"] == N_DOCS
    assert metrics["shards_built"] == math.ceil(N_DOCS / 100)
    assert metrics["n_postings"] > 0
    assert metrics["bytes_compressed"] > 0


def test_sha256_invariant(built, spark):
    """input_hint: per-row content sha256 equality source -> docs store."""
    idx, docs, _pdocs, _m = built
    stored = spark.read.parquet(f"{idx}/docs")
    bad = (
        stored.withColumn(
            "expect", F.sha2(F.coalesce("content", F.lit("")), 256)
        )
        .filter(F.col("expect") != F.col("content_sha256"))
        .count()
    )
    assert bad == 0
    assert stored.count() == N_DOCS
    # and the docs DF ids are dense 0..N-1
    assert docs.agg(F.min("doc_id"), F.max("doc_id")).first() == (0, N_DOCS - 1)


def test_dictionary_invariants(built, spark):
    """sum tf per term == cf; df == decoded posting length (SURVEY §5.3)."""
    idx, _docs, pdocs, _m = built
    dictionary = spark.read.parquet(f"{idx}/dictionary")
    # recompute tf from the tokenizer directly (independent path)
    tf = analyze.term_freqs(pdocs["doc_id"], pdocs["content"], "code")
    expect = tf.groupby("term").agg(df=("doc_id", "nunique"), cf=("tf", "sum"))
    got = (
        dictionary.filter(F.col("field") == "content")
        .toPandas()
        .set_index("term")[["df", "cf"]]
        .sort_index()
    )
    expect = expect.sort_index()
    assert list(got.index) == list(expect.index)
    assert (got["df"].to_numpy() == expect["df"].to_numpy()).all()
    assert (got["cf"].to_numpy() == expect["cf"].to_numpy()).all()
    # doc_stats: sum of dl == total ORIGINAL token positions (word-part
    # expansions share positions and don't lengthen the doc)
    ds = spark.read.parquet(f"{idx}/doc_stats").filter(F.col("field") == "content")
    assert ds.agg(F.sum("dl")).first()[0] == int(
        analyze.original_token_counts(pdocs["content"], "code").sum()
    )


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("mode", ["taat", "wand"])
def test_rank_identity_vs_oracle(built, spark, query, mode):
    idx, _docs, pdocs, _m = built
    k = 12
    eng = IndexQueryEngine(spark, idx)
    got = eng.topk(query, k=k, mode=mode).collect()
    expect = _oracle_topk(pdocs, query, k)
    assert [r["doc_id"] for r in got] == [d for d, _ in expect]
    for r, (_, s) in zip(got, expect):
        assert r["score"] == pytest.approx(s, rel=1e-9)


def test_content_only_equals_unweighted_lucene(built, spark):
    """content weight is exactly 1.0 -> single-field query reproduces
    unweighted Lucene BM25 (and the Catalyst brute-force plan)."""
    idx, docs, pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    q = "mergeBlockCache scan if"
    got = eng.topk(q, k=10, fields=["content"], mode="wand").collect()
    toks = {
        int(d): t
        for d, t in zip(pdocs["doc_id"], analyze.code_tokens(pdocs["content"]))
    }
    dls = {
        int(d): int(n)
        for d, n in zip(
            pdocs["doc_id"],
            analyze.original_token_counts(pdocs["content"], "code"),
        )
    }
    expect = bm25.brute_force_topk(
        toks, analyze.tokenize_query(q, "code"), 10, dls=dls
    )
    assert [(r["doc_id"], pytest.approx(r["score"], rel=1e-9)) for r in got] == [
        (d, s) for d, s in expect
    ]


def test_brute_force_df_matches_python_oracle(built, spark):
    """The Catalyst-only scorer (simple tokenizer) vs python oracle."""
    _idx, docs, pdocs, _m = built
    q = "if return the import"
    got = brute_force_bm25_df(docs, q, k=10, tokenizer="simple").collect()
    toks = {
        int(d): t
        for d, t in zip(pdocs["doc_id"], analyze.simple_tokens(pdocs["content"]))
    }
    expect = bm25.brute_force_topk(toks, analyze.tokenize_query(q, "simple"), 10)
    assert [r["doc_id"] for r in got] == [d for d, _ in expect]
    for r, (_, s) in zip(got, expect):
        assert r["score"] == pytest.approx(s, rel=1e-9)


def test_resume_skips_done_shards(built, spark, tmpdir_idx):
    """Kill/resume semantics: second build with same input is a no-op;
    artifacts stay byte-identical in content (SURVEY §5.3)."""
    _idx, docs, _pdocs, _m = built
    builder = IndexBuilder(docs_per_shard=100, salt_range=64, block_size=16)
    m1 = builder.build(docs, tmpdir_idx, resume=True)
    before = (
        spark.read.parquet(f"{tmpdir_idx}/dictionary")
        .orderBy("field", "term")
        .toPandas()
    )
    m2 = builder.build(docs, tmpdir_idx, resume=True)
    assert m2["shards_built"] == 0
    assert m2["shards_skipped"] == m1["shards_built"] + m1["shards_skipped"]
    after = (
        spark.read.parquet(f"{tmpdir_idx}/dictionary")
        .orderBy("field", "term")
        .toPandas()
    )
    pd.testing.assert_frame_equal(before, after)


def test_partial_build_resume(built, spark, tmpdir_idx):
    """Simulate a crashed run: build only half the shards, then resume
    with the full corpus — final artifacts equal a from-scratch build."""
    _idx, docs, _pdocs, _m = built
    builder = IndexBuilder(docs_per_shard=100, salt_range=64, block_size=16)
    half = docs.filter(F.col("shard") < 2)
    builder.build(half, tmpdir_idx, resume=True)
    m = builder.build(docs, tmpdir_idx, resume=True)
    assert m["shards_skipped"] == 2
    # full rebuild elsewhere for comparison
    import tempfile, shutil

    ref_dir = tempfile.mkdtemp(prefix="gxdidx_ref_")
    try:
        builder.build(docs, ref_dir, resume=False)
        a = (
            spark.read.parquet(f"{tmpdir_idx}/dictionary")
            .orderBy("field", "term")
            .toPandas()
        )
        b = (
            spark.read.parquet(f"{ref_dir}/dictionary")
            .orderBy("field", "term")
            .toPandas()
        )
        pd.testing.assert_frame_equal(a, b)
        # query results identical too
        e1 = IndexQueryEngine(spark, tmpdir_idx)
        e2 = IndexQueryEngine(spark, ref_dir)
        # incremental build shifted global avgdl after shards 0-1 were
        # written -> their block-max metadata is stale -> the engine
        # must detect it and fall back to exact TAAT under mode="wand"
        assert e1.blockmax_safe is False
        assert e2.blockmax_safe is True
        q = "getPostingBuffer import"
        # e1 runs exact TAAT (stale block-max), e2 runs pruned wand:
        # ranks identical, scores equal up to summation-order ulps
        r1 = e1.topk(q, 10).collect()
        r2 = e2.topk(q, 10).collect()
        assert [r["doc_id"] for r in r1] == [r["doc_id"] for r in r2]
        for a_row, b_row in zip(r1, r2):
            assert a_row["score"] == pytest.approx(b_row["score"], rel=1e-12)
    finally:
        shutil.rmtree(ref_dir, ignore_errors=True)


def test_boolean_query_semantics(built, spark):
    """+must / -must_not clauses vs set algebra over the oracle corpus
    (content field only; multi-field alternatives covered implicitly)."""
    idx, _docs, pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    toks = {
        int(d): set(t)
        for d, t in zip(pdocs["doc_id"], analyze.code_tokens(pdocs["content"]))
    }
    got = eng.topk("+if -return import", k=400, fields=["content"]).collect()
    got_ids = {r["doc_id"] for r in got}
    # every hit must contain 'if' and not 'return'
    assert got_ids
    assert all("if" in toks[d] and "return" not in toks[d] for d in got_ids)
    # and every qualifying doc that matches a scoring term is present
    expect = {
        d
        for d, ts in toks.items()
        if "if" in ts and "return" not in ts and ({"if", "import"} & ts)
    }
    assert got_ids == expect


def test_wildcard_expansion_and_count(built, spark):
    idx, _docs, pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    exp = eng.expand_prefix("content", "merge")
    assert exp and all(t.startswith("merge") for t in exp)
    toks = {
        int(d): set(t)
        for d, t in zip(pdocs["doc_id"], analyze.code_tokens(pdocs["content"]))
    }
    n = eng.count_matches("merge*", fields=["content"]).first()["n_matches"]
    expect = sum(
        1 for ts in toks.values() if any(t.startswith("merge") for t in ts)
    )
    assert n == expect
    # wildcard top-k scores only docs with matching terms
    hits = eng.topk("merge*", k=5, fields=["content"]).collect()
    assert hits and all(
        any(t.startswith("merge") for t in toks[r["doc_id"]]) for r in hits
    )


def test_phrase_query_matches_python_oracle(spark, tmp_path):
    """Positional index + exact phrase (slop=0), Lucene PhraseQuery
    semantics: tf = phrase freq, idf = sum of term idfs, dl = position
    count. Verified against a from-scratch python oracle."""
    idx = str(tmp_path / "pidx")
    corpus = generate_corpus(spark, 250, seed=13, partitions=4)
    docs = prepare_docs(corpus, docs_per_shard=80, partitions=4).cache()
    IndexBuilder(
        docs_per_shard=80, salt_range=64, block_size=16, with_positions=True
    ).build(docs, idx, resume=False)
    pdocs = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    eng = IndexQueryEngine(spark, idx)

    # pick a phrase that actually occurs: first two tokens of doc 0
    originals = {
        int(r.doc_id): analyze.phrase_tokens(r.content, "code")
        for r in pdocs.itertuples()
    }
    t1, t2 = originals[0][0], originals[0][1]
    phrase = f"{t1} {t2}"

    got = eng.phrase_topk(phrase, k=15, field="content").collect()

    # python oracle
    N = len(originals)
    full_tokens = {
        d: analyze.code_tokens(pd.Series([c])).iloc[0]
        for d, c in zip(pdocs["doc_id"], pdocs["content"])
    }
    dls = {d: len(t) for d, t in originals.items()}
    avgdl = sum(dls.values()) / N
    idf_sum = sum(
        float(bm25.idf(N, sum(1 for t in full_tokens.values() if q in t)))
        for q in (t1, t2)
    )
    scores = {}
    for d, toks in originals.items():
        pf = sum(
            1
            for i in range(len(toks) - 1)
            if toks[i] == t1 and toks[i + 1] == t2
        )
        if pf:
            scores[d] = idf_sum * float(
                bm25.tf_norm(pf, dls[d], avgdl)
            )
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    assert [r["doc_id"] for r in got] == [d for d, _ in expect]
    for r, (_, s) in zip(got, expect):
        assert r["score"] == pytest.approx(s, rel=1e-9)
    assert len(got) > 0

    # phrase requires ADJACENCY: reversed phrase must not match the
    # same docs unless it genuinely occurs reversed
    rev = eng.phrase_topk(f"{t2} {t1}", k=15, field="content").collect()
    rev_expect = {
        d
        for d, toks in originals.items()
        if any(
            toks[i] == t2 and toks[i + 1] == t1
            for i in range(len(toks) - 1)
        )
    }
    assert {r["doc_id"] for r in rev} == set(
        sorted(rev_expect)[: 15 if len(rev_expect) > 15 else None][:15]
    ) or {r["doc_id"] for r in rev} <= rev_expect

    # non-positional index refuses phrase queries with a clear error
    with pytest.raises(ValueError, match="without positions"):
        idx2 = str(tmp_path / "nopos")
        IndexBuilder(docs_per_shard=80, salt_range=64, block_size=16).build(
            docs, idx2, resume=False
        )
        IndexQueryEngine(spark, idx2).phrase_topk("a b")


def test_compact_index_preserves_results(built, spark, tmpdir_idx):
    """S7 `optimize` analog: compaction shrinks file count, query
    results stay byte-identical."""
    from gxdindexer_spark.operators.index_build import compact_index

    _idx, docs, _pdocs, _m = built
    builder = IndexBuilder(docs_per_shard=100, salt_range=64, block_size=16)
    builder.build(docs, tmpdir_idx, resume=False)
    q = "getIndexList if return"
    before = IndexQueryEngine(spark, tmpdir_idx).topk(q, 10).collect()
    stats = compact_index(spark, tmpdir_idx)
    assert stats["postings"]["files_after"] <= stats["postings"]["files_before"]
    after = IndexQueryEngine(spark, tmpdir_idx).topk(q, 10).collect()
    assert before == after
    # resume still recognizes the shards as done after compaction
    m = builder.build(docs, tmpdir_idx, resume=True)
    assert m["shards_built"] == 0


def test_resume_rebuilds_on_param_change(built, spark, tmpdir_idx):
    """Build params are folded into the shard fingerprint: a resume
    with different scoring/layout params must rebuild every shard, not
    silently reuse postings built under the old config."""
    _idx, docs, _pdocs, _m = built
    b1 = IndexBuilder(docs_per_shard=100, salt_range=64, block_size=16)
    m1 = b1.build(docs, tmpdir_idx, resume=True)
    assert m1["shards_built"] > 0
    # same params -> no-op
    assert b1.build(docs, tmpdir_idx, resume=True)["shards_built"] == 0
    # different k1 -> full rebuild (block-max metadata depends on it)
    b2 = IndexBuilder(
        docs_per_shard=100, salt_range=64, block_size=16, k1=0.9
    )
    m2 = b2.build(docs, tmpdir_idx, resume=True)
    assert m2["shards_built"] == m1["shards_built"]
    eng = IndexQueryEngine(spark, tmpdir_idx)
    assert eng.manifest["k1"] == 0.9
    assert eng.topk("if return", k=5).count() > 0


def test_orphan_shards_removed_on_shrunk_corpus(built, spark, tmpdir_idx):
    """A rebuild over a shrunk corpus must delete shards absent from
    the new input — stale docs must stop matching and global stats
    must reflect only the surviving shards."""
    _idx, docs, _pdocs, _m = built
    builder = IndexBuilder(docs_per_shard=100, salt_range=64, block_size=16)
    builder.build(docs, tmpdir_idx, resume=True)
    sub = docs.filter(F.col("shard") < 2)
    m = builder.build(sub, tmpdir_idx, resume=True)
    assert m["shards_total"] == 2
    # artifacts for shards >= 2 are gone
    assert not os.path.isdir(f"{tmpdir_idx}/postings/shard=2")
    assert not os.path.isdir(f"{tmpdir_idx}/docs/shard=3")
    # global stats equal a fresh build of the subset
    import shutil as _sh
    import tempfile as _tmp

    ref = _tmp.mkdtemp(prefix="gxdidx_ref_")
    try:
        builder.build(sub, ref, resume=False)
        a = (
            spark.read.parquet(f"{tmpdir_idx}/dictionary")
            .orderBy("field", "term")
            .toPandas()
        )
        b = (
            spark.read.parquet(f"{ref}/dictionary")
            .orderBy("field", "term")
            .toPandas()
        )
        pd.testing.assert_frame_equal(a, b)
        q = "getIndexList if return"
        # shrunk index is blockmax-stale (TAAT fallback) vs fresh wand:
        # ranks identical, scores equal up to summation-order ulps
        r1 = IndexQueryEngine(spark, tmpdir_idx).topk(q, 10).collect()
        r2 = IndexQueryEngine(spark, ref).topk(q, 10).collect()
        assert [r["doc_id"] for r in r1] == [r["doc_id"] for r in r2]
        for a_row, b_row in zip(r1, r2):
            assert a_row["score"] == pytest.approx(b_row["score"], rel=1e-12)
    finally:
        _sh.rmtree(ref, ignore_errors=True)


def test_compaction_crash_recovery(built, spark, tmpdir_idx):
    """A crash inside the compaction swap window (src renamed away,
    replacement not yet in place) is replayed on the next open."""
    import json as _json

    from gxdindexer_spark.operators.index_build import _recover_compaction

    _idx, docs, _pdocs, _m = built
    builder = IndexBuilder(docs_per_shard=100, salt_range=64, block_size=16)
    builder.build(docs, tmpdir_idx, resume=False)
    q = "getIndexList if return"
    before = IndexQueryEngine(spark, tmpdir_idx).topk(q, 10).collect()

    # simulate: crash right after `rename(src, old)` — marker present,
    # src missing, old holds the only copy
    os.rename(f"{tmpdir_idx}/postings", f"{tmpdir_idx}/.postings_old")
    with open(f"{tmpdir_idx}/.postings_swap.marker", "w") as fh:
        _json.dump({"artifact": "postings"}, fh)
    _recover_compaction(tmpdir_idx)
    assert os.path.isdir(f"{tmpdir_idx}/postings")
    assert not os.path.exists(f"{tmpdir_idx}/.postings_swap.marker")
    assert IndexQueryEngine(spark, tmpdir_idx).topk(q, 10).collect() == before

    # simulate: crash after tmp fully written, src renamed away — the
    # NEW data (tmp) must win
    os.rename(f"{tmpdir_idx}/doc_stats", f"{tmpdir_idx}/.doc_stats_compact_tmp")
    with open(f"{tmpdir_idx}/.doc_stats_swap.marker", "w") as fh:
        _json.dump({"artifact": "doc_stats"}, fh)
    # engine init itself must recover (ADVICE: recovery logic on open)
    eng = IndexQueryEngine(spark, tmpdir_idx)
    assert os.path.isdir(f"{tmpdir_idx}/doc_stats")
    assert eng.topk(q, 10).collect() == before


def test_wildcard_expansion_is_bounded(built, spark):
    """Adversarial 1-char prefix: expansion is capped (Lucene
    maxBooleanClauses analog), highest-df terms survive, and a bare
    '*' is rejected outright."""
    idx, _docs, pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    full = eng.expand_prefix("content", "s", max_expansions=None)
    capped = eng.expand_prefix("content", "s", max_expansions=5)
    assert len(capped) == min(5, len(full))
    assert set(capped) <= set(full)
    # the survivors are the df-heaviest
    dfs = {
        t: df
        for (f, t), df in eng._dict_cache.items()
        if f == "content" and t.startswith("s")
    }
    expect = sorted(sorted(dfs, key=lambda t: (-dfs[t], t))[:5])
    assert capped == expect
    # uncached path (pushed range predicate + distributed top-k) agrees
    eng2 = IndexQueryEngine(spark, idx, preload_dictionary=0)
    assert eng2.expand_prefix("content", "s", max_expansions=5) == capped
    assert eng2.expand_prefix("content", "s", max_expansions=None) == full
    # default cap is in force
    assert len(eng.expand_prefix("content", "s")) <= eng.MAX_EXPANSIONS
    with pytest.raises(ValueError, match="empty wildcard"):
        eng.expand_prefix("content", "")
    with pytest.raises(ValueError, match="empty wildcard"):
        eng.parse_query("foo *")


def test_sloppy_phrase_matches_python_oracle(spark, tmp_path):
    """slop>0 phrase: in-order matches with total gap <= slop, each
    weighted 1/(1+gap); slop=0 path must equal the exact phrase."""
    idx = str(tmp_path / "sidx")
    corpus = generate_corpus(spark, 150, seed=21, partitions=4)
    docs = prepare_docs(corpus, docs_per_shard=60, partitions=4).cache()
    IndexBuilder(
        docs_per_shard=60, salt_range=64, block_size=16, with_positions=True
    ).build(docs, idx, resume=False)
    pdocs = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    eng = IndexQueryEngine(spark, idx)

    originals = {
        int(r.doc_id): analyze.phrase_tokens(r.content, "code")
        for r in pdocs.itertuples()
    }
    t1, t2 = originals[0][0], originals[0][1]
    phrase, slop = f"{t1} {t2}", 3

    got = eng.phrase_topk(phrase, k=20, field="content", slop=slop).collect()

    N = len(originals)
    full_tokens = {
        d: analyze.code_tokens(pd.Series([c])).iloc[0]
        for d, c in zip(pdocs["doc_id"], pdocs["content"])
    }
    dls = {d: len(t) for d, t in originals.items()}
    avgdl = sum(dls.values()) / N
    idf_sum = sum(
        float(bm25.idf(N, sum(1 for t in full_tokens.values() if q in t)))
        for q in (t1, t2)
    )
    scores = {}
    for d, toks in originals.items():
        p1 = [i for i, t in enumerate(toks) if t == t1]
        p2 = [i for i, t in enumerate(toks) if t == t2]
        pf = sum(
            1.0 / (b - a)
            for a in p1
            for b in p2
            if b > a and (b - a - 1) <= slop
        )
        if pf > 0:
            scores[d] = idf_sum * float(bm25.tf_norm(pf, dls[d], avgdl))
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [r["doc_id"] for r in got] == [d for d, _ in expect]
    for r, (_, s) in zip(got, expect):
        assert r["score"] == pytest.approx(s, rel=1e-9)
    # slop widening is monotone: every slop=0 match still matches
    exact_ids = {
        r["doc_id"] for r in eng.phrase_topk(phrase, k=200).collect()
    }
    sloppy_ids = {
        r["doc_id"]
        for r in eng.phrase_topk(phrase, k=200, slop=slop).collect()
    }
    assert exact_ids <= sloppy_ids


def test_facet_counts_match_set_algebra(built, spark):
    """facet_counts == group-by over the brute-force match set."""
    idx, _docs, pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    facets = spark.createDataFrame(
        pdocs[["doc_id", "lang"]].rename(columns={"lang": "facet"})
    )
    got = {
        r["facet"]: r["n_docs"]
        for r in eng.facet_counts(
            "merge* if", facets, by="facet", fields=["content"]
        ).collect()
    }
    toks = {
        int(d): set(t)
        for d, t in zip(pdocs["doc_id"], analyze.code_tokens(pdocs["content"]))
    }
    langs = dict(zip(pdocs["doc_id"].astype(int), pdocs["lang"]))
    expect: dict = {}
    for d, ts in toks.items():
        if "if" in ts or any(t.startswith("merge") for t in ts):
            expect[langs[d]] = expect.get(langs[d], 0) + 1
    assert got == expect and got


def test_writer_lock_and_snapshot_lineage(built, spark, tmpdir_idx):
    """Single-writer guard: a live flock holder raises
    ConcurrentWriteError; a crashed holder's lock releases with its fd
    (kernel-owned — no stale-lock steal, no TOCTOU); every
    content-changing build commits a new monotonic snapshot_id with a
    parent pointer."""
    import json as _json

    from gxdindexer_spark.operators.index_build import (
        ConcurrentWriteError,
        _WriterLock,
    )

    _idx, docs, _pdocs, _m = built
    builder = IndexBuilder(docs_per_shard=100, salt_range=64, block_size=16)
    builder.build(docs, tmpdir_idx, resume=True)
    with open(f"{tmpdir_idx}/manifest.json") as fh:
        m1 = _json.load(fh)
    assert m1["snapshot_id"] == 1 and m1["parent_snapshot_id"] is None

    # live holder (separate open file description, so same-process
    # works for the test) blocks a second writer
    holder = _WriterLock(tmpdir_idx)
    holder.__enter__()
    with pytest.raises(ConcurrentWriteError):
        builder.build(docs, tmpdir_idx, resume=True)
    # simulated crash: fd closes WITHOUT a clean unlock path — the
    # kernel releases the flock and the next writer proceeds
    os.close(holder._fd)
    holder._fd = None
    builder.build(docs, tmpdir_idx, resume=True)  # no-op resume
    with open(f"{tmpdir_idx}/manifest.json") as fh:
        m2 = _json.load(fh)
    # no-op resume re-asserts the same snapshot
    assert m2["snapshot_id"] == 1

    # content change -> new snapshot with parent pointer + ledger tag
    sub = docs.filter(F.col("shard") < 2)
    builder.build(sub, tmpdir_idx, resume=True)
    with open(f"{tmpdir_idx}/manifest.json") as fh:
        m3 = _json.load(fh)
    assert m3["snapshot_id"] == 2 and m3["parent_snapshot_id"] == 1
    assert [s["snapshot_id"] for s in m3["snapshots"]] == [1, 2]
    assert m3["snapshots"][-1]["orphans_removed"] == 2
    from gxdindexer_spark.operators.index_build import read_ledger

    # surviving shards were BUILT under snapshot 1 and skipped since —
    # their lineage keeps the producing snapshot
    assert all(
        e["snapshot_id"] == 1 for e in read_ledger(tmpdir_idx).values()
    )


def test_topk_many_equals_per_query(built, spark):
    """Batched retrieval returns exactly the per-query results (incl.
    a boolean query, which falls back to exact TAAT inside the same
    batch)."""
    idx, _docs, _pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    queries = {
        "a": QUERIES[0],
        "b": QUERIES[1],
        "c": "+if -return import",
    }
    for batch_mode in ("wand", "auto"):
        batch = eng.topk_many(queries, k=8, mode=batch_mode).collect()
        by_q: dict = {}
        for r in batch:
            by_q.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"])
            )
        assert set(by_q) == set(queries)
        for qid, q in queries.items():
            single = [
                (r["doc_id"], r["score"])
                for r in eng.topk(q, k=8).collect()
            ]
            assert [d for d, _s in by_q[qid]] == [d for d, _s in single]
            for (_, sa), (_, sb) in zip(by_q[qid], single):
                assert sa == pytest.approx(sb, rel=1e-12)


def test_fetch_topk_hydrates_with_pruned_store_scan(built, spark):
    """fetch_topk returns hits + stored columns in rank order, and the
    doc-store read is partition-pruned to the hit shards."""
    import contextlib
    import io

    idx, _docs, pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    q = QUERIES[0]
    out = eng.fetch_topk(q, k=6, columns=("content", "path"))
    rows = out.collect()
    plain = eng.topk(q, k=6).collect()
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in plain]
    content = dict(zip(pdocs["doc_id"], pdocs["content"]))
    assert all(r["content"] == content[r["doc_id"]] for r in rows)
    # the store scan carries a literal shard IN-list partition filter
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    pf = [
        ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln
    ]
    assert any("shard" in ln and " IN " in ln for ln in pf)


def test_highlight_topk_matches_python_oracle(spark, tmp_path):
    """Highlighting (Solr hl analog): per hit, the window-token span
    with the most query-term occurrences, earliest on ties — verified
    against a brute-force python sweep over token positions."""
    idx = str(tmp_path / "hidx")
    corpus = generate_corpus(spark, 150, seed=43, partitions=4)
    docs = prepare_docs(corpus, docs_per_shard=60, partitions=4).cache()
    IndexBuilder(
        docs_per_shard=60, salt_range=64, block_size=16, with_positions=True
    ).build(docs, idx, resume=False)
    pdocs = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    eng = IndexQueryEngine(spark, idx)
    q, window = "if return import", 12
    got = eng.highlight_topk(q, k=8, field="content", window=window).collect()
    assert got
    plain = eng.topk(q, k=8, fields=["content"]).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in plain]

    terms = set(analyze.tokenize_query(q, "code"))
    pos_of = {}
    for r in pdocs.itertuples():
        pairs = analyze.tokens_with_positions(
            pd.Series([r.content]), "code"
        ).iloc[0]
        pos_of[int(r.doc_id)] = sorted(
            {p for t, p in pairs if t in terms}
        )
    for r in got:
        merged = pos_of[r["doc_id"]]
        best = (1, merged[0], merged[0])
        lo = 0
        for hi in range(len(merged)):
            while merged[hi] - merged[lo] >= window:
                lo += 1
            n = hi - lo + 1
            if n > best[0]:
                best = (n, merged[lo], merged[hi])
        assert (r["n_hits"], r["start_pos"], r["end_pos"]) == best

    # render=True attaches the actual text slice (Solr hl snippet):
    # the snippet is exactly text[char(start_pos) : char_end(end_pos)]
    # and its first/last raw tokens are the window's boundary tokens
    rendered = eng.highlight_topk(
        q, k=8, field="content", window=window, render=True
    ).collect()
    assert [r["doc_id"] for r in rendered] == [r["doc_id"] for r in got]
    content_of = dict(zip(pdocs["doc_id"], pdocs["content"]))
    for r in rendered:
        text = content_of[r["doc_id"]]
        spans = analyze.token_char_spans(text, "code")
        s, e = r["start_pos"], r["end_pos"]
        assert r["snippet"] == text[spans[s][0]:spans[e][1]]
        raw = analyze.RAW_TOKEN_RE.findall(r["snippet"])
        full = analyze.RAW_TOKEN_RE.findall(text)
        assert raw[0] == full[s] and raw[-1] == full[e]
    with pytest.raises(ValueError, match="cannot map back"):
        analyze.token_char_spans("a/b", "path")


def test_auto_mode_planner(built, spark):
    """mode="auto": uniform common terms -> taat; one dominant rare
    term -> wand; results identical to both explicit modes either way."""
    from gxdindexer_spark.operators.wand import QuerySpec

    idx, _docs, _pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    uniform = QuerySpec(
        term_weights={("content", i): 1.0 for i in range(4)},
        avgdl={"content": 10.0},
    )
    assert eng.choose_mode(uniform) == "taat"
    skewed = QuerySpec(
        term_weights={("content", 1): 5.0, ("content", 2): 1.0},
        avgdl={"content": 10.0},
    )
    assert eng.choose_mode(skewed) == "wand"
    # real corpus: a dominant rare term plans to wand
    assert (
        eng.choose_mode(
            eng.make_spec("mergeShardStats the", fields=["content"])
        )
        == "wand"
    )
    for q in ("if return the import", "mergeShardStats the"):
        auto = eng.topk(q, k=8, fields=["content"], mode="auto").collect()
        wand = eng.topk(q, k=8, fields=["content"], mode="wand").collect()
        assert [r["doc_id"] for r in auto] == [r["doc_id"] for r in wand]
        for x, y in zip(auto, wand):
            assert x["score"] == pytest.approx(y["score"], rel=1e-12)


def test_facet_counts_plan_prunes_columns(built, spark, monkeypatch):
    """The facet attribute scan must read ONLY (doc_id, facet col) —
    a facet query over a wide doc table must not drag every column
    through the join."""
    from gxdindexer_spark.operators import query
    from gxdindexer_spark.plans import explain

    idx, docs, _pdocs, _m = built
    facets = docs.select("doc_id", "lang")
    eng = IndexQueryEngine(spark, idx)
    # the Spark scatter backend scans the postings; the driver-local
    # one hands the join a local relation and scans nothing
    for guard, scans in ((-1, True), (query.LOCAL_MAX_POSTINGS, False)):
        monkeypatch.setattr(query, "LOCAL_MAX_POSTINGS", guard)
        out = eng.facet_counts(
            "merge* if", facets, by="lang", fields=["content"]
        )
        # postings scan pushes term_id/field; no scan reads doc content
        schemas = explain.read_schemas(out)
        assert bool(schemas) == scans, schemas
        assert not any("content" in s for s in schemas)


def test_incremental_finalize_matches_full(built, spark, tmpdir_idx):
    """North-rule scale contract: committing a delta must not re-read
    the whole index. The finalize merges the changed shards'
    dict_parts into the existing dictionary (old contributions
    subtracted, new added) and derives corpus_stats from per-shard
    sums in the ledger — asserted via metrics['finalize_mode'] — and
    the merged artifacts are value-identical to a from-scratch build
    in all three mutation shapes: append a new shard, rebuild a
    changed shard, remove an orphaned shard."""
    import tempfile

    _idx, docs, _pdocs, _m = built
    builder = IndexBuilder(docs_per_shard=100, salt_range=64, block_size=16)

    def snap(d):
        dic = (
            spark.read.parquet(f"{d}/dictionary")
            .orderBy("field", "term")
            .toPandas()
        )
        cs = (
            spark.read.parquet(f"{d}/corpus_stats")
            .orderBy("field")
            .toPandas()
        )
        return dic, cs

    def assert_matches_scratch(current_docs):
        ref = tempfile.mkdtemp(prefix="gxdidx_incref_")
        builder.build(current_docs, ref, resume=False)
        a_dic, a_cs = snap(tmpdir_idx)
        b_dic, b_cs = snap(ref)
        pd.testing.assert_frame_equal(a_dic, b_dic)
        pd.testing.assert_frame_equal(a_cs, b_cs)

    # fresh build of shards 0-2: full finalize (nothing to merge into)
    m0 = builder.build(docs.filter(F.col("shard") < 3), tmpdir_idx)
    assert m0["finalize_mode"] == "full"

    # 1) APPEND shard 3 as a delta -> incremental merge
    m1 = builder.build(
        docs.filter(F.col("shard") == 3), tmpdir_idx, append=True
    )
    assert m1["finalize_mode"] == "incremental"
    assert m1["shards_built"] == 1
    assert_matches_scratch(docs)

    # 2) REBUILD a changed shard in place (old contributions subtract)
    changed = docs.filter(
        ~((F.col("shard") == 2) & (F.col("doc_id") % 2 == 0))
    )
    m2 = builder.build(changed, tmpdir_idx, resume=True)
    assert m2["finalize_mode"] == "incremental"
    assert m2["shards_built"] == 1 and m2["shards_skipped"] == 3
    assert_matches_scratch(changed)

    # 3) ORPHAN removal (full mode, shard 3 absent from input)
    shrunk = changed.filter(F.col("shard") < 3)
    m3 = builder.build(shrunk, tmpdir_idx, resume=True)
    assert m3["finalize_mode"] == "incremental"
    assert m3["shards_built"] == 0
    assert_matches_scratch(shrunk)

    # no-op resume still skips finalize entirely
    m4 = builder.build(shrunk, tmpdir_idx, resume=True)
    assert m4["finalize_mode"] == "skipped"

    # queries over the incrementally-maintained index match the
    # brute-force oracle (end-to-end sanity on top of artifact equality)
    eng = IndexQueryEngine(spark, tmpdir_idx)
    got = eng.topk("getIndexList if return", k=10, mode="taat").collect()
    assert len(got) > 0


def test_sorted_matches_pages_by_stored_field(built, spark):
    """sorted_matches (VERDICT r4 #3): the match set ordered by a
    STORED doc-store column with offset/limit paging — the reference's
    R_BY_* serving contract (GxdResultIndexer.java:1234-1239). Checked
    against a python oracle over the full match set; per-shard workers
    only emit their local top-(offset+k)."""
    idx, _docs, pdocs, _metrics = built
    eng = IndexQueryEngine(spark, idx)
    q = "getIndexList if return"
    match = sorted(
        r["doc_id"] for r in eng.matching_docs(q).collect()
    )
    assert match
    path_of = dict(zip(pdocs["doc_id"], pdocs["path"]))
    expect_all = sorted(
        ((path_of[d], d) for d in match),
        key=lambda t: (t[0], t[1]),
    )
    # desc by key, doc_id STILL asc within ties: stable double sort
    expect_desc = sorted(
        sorted(expect_all, key=lambda t: t[1]),
        key=lambda t: t[0],
        reverse=True,
    )
    for offset, k, asc in ((0, 7, True), (5, 10, True), (3, 4, False)):
        ordered = expect_all if asc else expect_desc
        got = eng.sorted_matches(
            q, by="path", k=k, offset=offset, ascending=asc
        ).collect()
        want = ordered[offset:offset + k]
        assert [(r["path"], r["doc_id"]) for r in got] == want
    # requested extra columns hydrate from the same shard-local read
    got = eng.sorted_matches(q, by="path", k=3, columns=("lang",)).collect()
    lang_of = dict(zip(pdocs["doc_id"], pdocs["lang"]))
    assert all(r["lang"] == lang_of[r["doc_id"]] for r in got)
    with pytest.raises(ValueError, match="not in the doc store"):
        eng.sorted_matches(q, by="no_such_col")
    # cursor paging (search_after): walking pages by cursor visits the
    # FULL ordered match set exactly once, each page a constant-cost
    # shards x k gather (no offset scan)
    pages, cursor = [], None
    while True:
        rows = eng.sorted_matches(
            q, by="path", k=7, after=cursor
        ).collect()
        if not rows:
            break
        pages.extend((r["path"], r["doc_id"]) for r in rows)
        cursor = (rows[-1]["path"], rows[-1]["doc_id"])
    assert pages == expect_all
    with pytest.raises(ValueError, match="not both"):
        eng.sorted_matches(q, by="path", k=3, offset=2, after=("x", 1))


def test_facet_counts_stored_shard_local(built, spark, monkeypatch):
    """facet_counts_stored: same counts as the join-based path and the
    python match-set oracle, with exactly ONE Spark file scan (the
    postings) in the Spark-backend plan and none in the driver-local
    one — the facet table never enters a Spark scan or exchange;
    per-shard workers count against direct columnar reads of their own
    doc-store partition and the counts sum."""
    import contextlib
    import io

    from gxdindexer_spark.operators import query

    idx, _docs, pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    res = eng.facet_counts_stored("merge* if", by="lang", fields=["content"])
    got = {r["lang"]: r["n_docs"] for r in res.collect()}
    toks = {
        int(d): set(t)
        for d, t in zip(pdocs["doc_id"], analyze.code_tokens(pdocs["content"]))
    }
    langs = dict(zip(pdocs["doc_id"].astype(int), pdocs["lang"]))
    expect: dict = {}
    for d, ts in toks.items():
        if "if" in ts or any(t.startswith("merge") for t in ts):
            expect[langs[d]] = expect.get(langs[d], 0) + 1
    assert got == expect and got
    # join-based path agrees
    facets = spark.createDataFrame(pdocs[["doc_id", "lang"]])
    joined = {
        r["lang"]: r["n_docs"]
        for r in eng.facet_counts(
            "merge* if", facets, by="lang", fields=["content"]
        ).collect()
    }
    assert got == joined
    # plan shape: one parquet scan total (postings); no facet-side scan
    # (AQE prints the tree twice + node details -> count in the final
    # tree only, and assert the doc store path is absent everywhere)
    for guard, n_scans in ((query.LOCAL_MAX_POSTINGS, 0), (-1, 1)):
        monkeypatch.setattr(query, "LOCAL_MAX_POSTINGS", guard)
        res = eng.facet_counts_stored(
            "merge* if", by="lang", fields=["content"]
        )
        assert {r["lang"]: r["n_docs"] for r in res.collect()} == got
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            res.explain("formatted")
        plan = buf.getvalue()
        final_tree = plan.split("== Initial Plan ==")[0]
        assert final_tree.count("Scan parquet") == n_scans, plan
        locations = [ln for ln in plan.splitlines() if "Location" in ln]
        assert len(locations) >= n_scans, plan
        assert all("postings" in ln for ln in locations), plan


def test_doc_level_delete(built, spark, tmpdir_idx):
    """Tombstone-driven delete: only the shards holding deleted docs
    rebuild; a fully-emptied shard drops through the orphan path; the
    dictionary/corpus stats merge incrementally; queries exclude the
    deleted docs and match a from-scratch build of the survivors;
    replayed deletes are no-ops."""
    import tempfile

    from gxdindexer_spark.operators.index_build import delete_docs

    _idx, docs, pdocs, _m = built
    builder = IndexBuilder(docs_per_shard=100, salt_range=64, block_size=16)
    builder.build(docs, tmpdir_idx, resume=True)

    # deleted: a few docs from shards 0/1 + ALL of shard 3
    ids = [5, 150, 151] + list(range(300, 400))
    m = delete_docs(
        spark, tmpdir_idx, builder, ids, assume_dense_shards=True
    )
    assert m["docs_deleted"] == len(ids)
    assert m["shards_rebuilt"] == 2 and m["shards_dropped"] == 1
    assert m["finalize_mode"] == "incremental"
    assert not os.path.isdir(f"{tmpdir_idx}/postings/shard=3")

    survivors = docs.filter(~F.col("doc_id").isin(ids))
    ref = tempfile.mkdtemp(prefix="gxdidx_delref_")
    builder.build(survivors, ref, resume=False)
    for art in ("dictionary", "corpus_stats"):
        a = (
            spark.read.parquet(f"{tmpdir_idx}/{art}")
            .orderBy(*spark.read.parquet(f"{ref}/{art}").columns[:2])
            .toPandas()
        )
        b = (
            spark.read.parquet(f"{ref}/{art}")
            .orderBy(*spark.read.parquet(f"{ref}/{art}").columns[:2])
            .toPandas()
        )
        pd.testing.assert_frame_equal(a, b)

    # queries: identical results, deleted docs absent
    e1 = IndexQueryEngine(spark, tmpdir_idx)
    e2 = IndexQueryEngine(spark, ref)
    for q in QUERIES[:3]:
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in e1.topk(q, k=15, mode="taat").collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in e2.topk(q, k=15, mode="taat").collect()
        ]
        assert got == want
        assert not {d for d, _s in got} & set(ids)

    # replayed delete: nothing to do
    m2 = delete_docs(
        spark, tmpdir_idx, builder, ids, assume_dense_shards=True
    )
    assert m2["docs_deleted"] == 0
    assert m2["shards_rebuilt"] == 0 and m2["shards_dropped"] == 0


def test_leading_wildcard_expansion_and_ranking(built, spark):
    """Leading wildcard (*fix): served by the reversed-term dictionary
    with the SAME pushed-down range predicate the forward prefix uses
    (PushedFilters on rev_term, never a full-dictionary regex scan);
    ranking equals an explicit OR over the expanded terms."""
    import contextlib
    import io

    idx, _docs, pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    # python truth: all content terms ending in 'ost' / 'turn' etc.
    suffix = "t"
    full = eng.expand_suffix("content", suffix, max_expansions=None)
    truth = sorted(
        {
            t
            for (f, t) in eng._dict_cache
            if f == "content" and t.endswith(suffix)
        }
    )
    assert full == truth and truth
    # bounded: df-heaviest survive
    dfs = {
        t: df
        for (f, t), df in eng._dict_cache.items()
        if f == "content" and t.endswith(suffix)
    }
    capped = eng.expand_suffix("content", suffix, max_expansions=5)
    assert capped == sorted(sorted(dfs, key=lambda t: (-dfs[t], t))[:5])
    # uncached path: reversed-dictionary range scan, pushed down
    eng2 = IndexQueryEngine(spark, idx, preload_dictionary=0)
    assert eng2.expand_suffix("content", suffix, max_expansions=5) == capped
    rev = suffix[::-1]
    d = eng2._dictionary_rev.filter(
        (F.col("field") == "content")
        & (F.col("rev_term") >= rev)
        & (F.col("rev_term") < rev + chr(0x10FFFF))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        d.explain("formatted")
    pushed = [
        ln for ln in buf.getvalue().splitlines() if "PushedFilters" in ln
    ]
    assert pushed and "rev_term" in pushed[0]

    # e2e: '*<suffix> if' ranks exactly like the explicit OR expansion
    got = eng.topk(f"*turn if", k=10, mode="taat", fields=["content"])
    expansion = eng.expand_suffix("content", "turn", max_expansions=None)
    explicit = eng.topk(
        " ".join(expansion + ["if"]), k=10, mode="taat", fields=["content"]
    )
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == [
        (r["doc_id"], r["score"]) for r in explicit.collect()
    ]

    # leading+trailing double wildcard stays rejected
    with pytest.raises(ValueError, match="double wildcard"):
        eng.parse_query("*mid*")


def test_infix_wildcard_expansion_and_ranking(built, spark):
    """Infix wildcard (pre*suf): terms starting with ``pre`` AND
    ending with ``suf`` with no overlap (SQL LIKE 'pre%suf'); served
    by ONE pushed-down dictionary range scan on the longer literal
    side (query.expand_infix); ranking equals the explicit OR."""
    idx, _docs, _pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    vocab = {t for (f, t) in eng._dict_cache if f == "content"}
    # pick a term long enough that pre*suf has a real interior star
    seed = sorted(t for t in vocab if len(t) >= 5)[0]
    pre, suf = seed[:2], seed[-2:]
    truth = sorted(
        t
        for t in vocab
        if len(t) >= len(pre) + len(suf)
        and t.startswith(pre)
        and t.endswith(suf)
    )
    assert seed in truth
    full = eng.expand_infix("content", pre, suf, max_expansions=None)
    assert full == truth
    # uncached path (pushed-down range scan + residual) agrees
    eng2 = IndexQueryEngine(spark, idx, preload_dictionary=0)
    assert (
        eng2.expand_infix("content", pre, suf, max_expansions=None) == truth
    )
    # overlap is NOT a match: 'ab*ba' must not match the term 'aba'
    assert "aba" not in eng.expand_infix("content", "a", "a") or all(
        len(t) >= 2 for t in eng.expand_infix("content", "a", "a")
    )
    # e2e rank identity vs the explicit OR expansion
    got = eng.topk(f"{pre}*{suf} if", k=10, mode="taat", fields=["content"])
    explicit = eng.topk(
        " ".join(truth + ["if"]), k=10, mode="taat", fields=["content"]
    )
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == [
        (r["doc_id"], r["score"]) for r in explicit.collect()
    ]
    with pytest.raises(ValueError, match="multiple wildcards"):
        eng.parse_query("a*b*c")
    # edge star + interior star must raise too, not silently expand a
    # mangled base via the prefix/suffix branch (ADVICE r4 low)
    with pytest.raises(ValueError, match="multiple wildcards"):
        eng.parse_query("foo*bar*")
    with pytest.raises(ValueError, match="multiple wildcards"):
        eng.parse_query("*foo*bar")


def test_fuzzy_expansion_and_ranking(built, spark):
    """Fuzzy term (term~N): dictionary terms within unrestricted
    Damerau-Levenshtein distance N (query._dl_distance, the metric of
    DuckDB's damerau_levenshtein), rewritten to the same
    scoring-boolean as wildcards; cached and scan paths agree; e2e
    ranking equals the explicit OR expansion."""
    from gxdindexer_spark.operators.query import _dl_distance

    idx, _docs, _pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    vocab = {t for (f, t) in eng._dict_cache if f == "content"}
    seed = sorted(t for t in vocab if len(t) >= 5)[0]
    typo = seed[1] + seed[0] + seed[2:]  # transpose first two chars
    for d in (1, 2):
        truth = sorted(
            t for t in vocab if _dl_distance(typo, t, d) <= d
        )
        assert seed in truth  # transposition costs ONE edit
        got = eng.expand_fuzzy("content", typo, d, max_expansions=None)
        assert got == truth
        eng2 = IndexQueryEngine(spark, idx, preload_dictionary=0)
        assert (
            eng2.expand_fuzzy("content", typo, d, max_expansions=None)
            == truth
        )
    # bounded: df-heaviest survive
    dfs = {
        t: df
        for (f, t), df in eng._dict_cache.items()
        if f == "content" and _dl_distance(typo, t, 2) <= 2
    }
    capped = eng.expand_fuzzy("content", typo, 2, max_expansions=3)
    assert capped == sorted(sorted(dfs, key=lambda t: (-dfs[t], t))[:3])
    # e2e rank identity vs the explicit OR expansion
    full = sorted(dfs)
    got = eng.topk(f"{typo}~2 if", k=10, mode="taat", fields=["content"])
    explicit = eng.topk(
        " ".join(full + ["if"]), k=10, mode="taat", fields=["content"]
    )
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == [
        (r["doc_id"], r["score"]) for r in explicit.collect()
    ]
    # bare '~' = 2 edits (Lucene default); '~0' behaves like the term
    assert eng.parse_query("tok~")[0][3] == 2
    assert eng.parse_query("tok~0")[0][3] == 0
    with pytest.raises(ValueError, match="fuzzy on a wildcard"):
        eng.parse_query("to*k~1")
    # distances > 2 refuse loudly (Lucene's FuzzyQuery bound) instead
    # of letting the analyzer silently strip the '~'
    with pytest.raises(ValueError, match="unsupported fuzzy distance"):
        eng.parse_query("tok~3")
    # a non-numeric '~' tail is NOT fuzzy syntax — passes through
    assert eng.parse_query("a~b")[0] == ("a~b", "should", "", 0, "")


def test_fuzzy_ngram_tier_matches_band_tier(built, spark):
    """The dictionary_ngrams candidate prune (VERDICT r4 #6) is a pure
    superset filter: for a term long enough to clear the q-gram
    threshold, the gram tier, the length-band tier and the cached path
    produce the IDENTICAL expansion set; the artifact exists and its
    layout serves a gram IN-list."""
    from gxdindexer_spark.operators.query import _dl_distance

    idx, _docs, _pdocs, _m = built
    assert os.path.isdir(f"{idx}/dictionary_ngrams")
    eng = IndexQueryEngine(spark, idx)
    vocab = {t for (f, t) in eng._dict_cache if f == "content"}
    # longest terms clear min_shared >= 1 even at d=2 (len >= 11)
    long_terms = sorted(
        (t for t in vocab if len(t) >= 11), key=lambda t: (-len(t), t)
    )
    assert long_terms, "fixture vocab has no long terms"
    seed = long_terms[0]
    typo = seed[1] + seed[0] + seed[2:-1]  # transpose + drop last char
    eng2 = IndexQueryEngine(spark, idx, preload_dictionary=0)
    assert eng2._dict_ngrams is not None
    for d in (1, 2):
        truth = sorted(
            t for t in vocab if _dl_distance(typo, t, d) <= d
        )
        qgrams = {typo[i:i + 3] for i in range(len(typo) - 2)}
        assert len(qgrams) - 4 * d >= 1  # the gram tier engages
        got_gram = eng2.expand_fuzzy(
            "content", typo, d, max_expansions=None
        )
        # force the band tier and compare
        saved, eng2._dict_ngrams = eng2._dict_ngrams, None
        got_band = eng2.expand_fuzzy(
            "content", typo, d, max_expansions=None
        )
        eng2._dict_ngrams = saved
        assert got_gram == got_band == truth
        if d == 1:
            assert seed in truth or _dl_distance(typo, seed, 2) == 2


def test_field_scoped_queries(built, spark):
    """Solr field scoping (field:token): the token matches in ONE
    field with that field's analyzer/boost/idf; composes with +/-,
    wildcards and fuzzy. An unknown scope name is plain text (code
    corpora contain 'foo:bar' tokens) — never a silent zero-match —
    except scoped wildcard/fuzzy, which raise (clear intent, unknown
    field)."""
    idx, _docs, _pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    # scoped token == restricting that token's fields explicitly
    got = eng.topk("lang:py", k=8, mode="taat").collect()
    explicit = eng.topk("py", k=8, fields=["lang"], mode="taat").collect()
    assert got == explicit and got
    # mixed: scoped lang term + unscoped content term scores BOTH
    # (the unscoped term still searches all fields)
    mixed = eng.topk("lang:py if", k=8, mode="taat").collect()
    assert mixed
    spec = eng.make_spec("lang:py if")
    scoped_only = eng.make_spec("py", fields=["lang"])
    assert set(scoped_only.term_weights) <= set(spec.term_weights)
    # composes with must + wildcard: '+path:mod*' scopes the prefix
    # expansion to path-field terms only
    spec_w = eng.make_spec("+path:mod*")
    assert spec_w.term_weights
    assert all(f == "path" for f, _t in spec_w.term_weights)
    # unknown scope falls back to analyzer-split plain text
    a = eng.topk("foo:if", k=8, mode="taat").collect()
    b = eng.topk("foo if", k=8, mode="taat").collect()
    assert a == b
    # unknown scope on a wildcard/fuzzy token refuses loudly
    with pytest.raises(ValueError, match="unknown field"):
        eng.make_spec("foo:ut*")
    with pytest.raises(ValueError, match="unknown field"):
        eng.make_spec("foo:util~1")


def test_no_match_results_are_empty_and_cheap(spark, built):
    """Unknown terms return an EMPTY frame with the hits schema, from
    every query surface. The empty frame is a JVM-side range(0)
    projection (query._empty_df) — a python-list createDataFrame
    spawns a python worker per partition and costs seconds per miss."""
    idx, _docs, _pdocs, _metrics = built
    eng = IndexQueryEngine(spark, idx)
    for mode in ("taat", "wand", "auto"):
        rows = eng.topk("zzzznotaterm", k=5, mode=mode).collect()
        assert rows == []
    df = eng.topk("zzzznotaterm", k=5)
    assert [f.name for f in df.schema.fields] == ["doc_id", "score"]
    # no python stage in the plan: the miss never launches workers
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Scan parquet" not in plan
    assert "Python" not in plan
    # boolean must-clause with an unknown term: also empty
    assert eng.topk("+zzzznotaterm if", k=5).collect() == []
    # batched: unknown query key yields no rows for that key
    many = eng.topk_many(
        {"hit": "if", "miss": "zzzznotaterm"}, k=3
    ).collect()
    keys = {r["query_id"] for r in many}
    assert "hit" in keys and "miss" not in keys
    # count_matches of a no-term query: one Arrow-built local row, not
    # a python-list frame (Scan ExistingRDD, workers spawned per action)
    cm = eng.count_matches("zzzznotaterm")
    assert cm.collect()[0]["n_matches"] == 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cm.explain("formatted")
    plan = buf.getvalue()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert "Scan parquet" not in plan and "Python" not in plan, plan


def test_suggest_matches_python_oracle(built, spark):
    """Spell-suggest (query.suggest, Lucene DirectSpellChecker
    ranking): (distance asc, df desc, term asc) against the full
    dictionary; cached and scan candidate tiers agree; exact
    dictionary hits surface at distance 0."""
    from gxdindexer_spark.operators.query import _dl_distance

    idx, _docs, _pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    vocab = {
        t: df for (f, t), df in eng._dict_cache.items() if f == "content"
    }
    seed = sorted(t for t in vocab if len(t) >= 5)[0]
    typo = seed[1] + seed[0] + seed[2:]  # transpose first two chars
    truth = sorted(
        (
            (t, _dl_distance(typo, t, 2), df)
            for t, df in vocab.items()
            if _dl_distance(typo, t, 2) <= 2
        ),
        key=lambda c: (c[1], -c[2], c[0]),
    )
    assert truth, "fixture vocab yields no suggestions"
    got = [
        (r["term"], r["distance"], r["df"])
        for r in eng.suggest(typo, "content", k=5).collect()
    ]
    assert got == truth[:5]
    # uncached (scan-tier) candidate generation returns the same list
    eng2 = IndexQueryEngine(spark, idx, preload_dictionary=0)
    got2 = [
        (r["term"], r["distance"], r["df"])
        for r in eng2.suggest(typo, "content", k=5).collect()
    ]
    assert got2 == got
    # an exact dictionary hit ranks first at distance 0
    top = eng.suggest(seed, "content", k=1).collect()[0]
    assert (top["term"], top["distance"]) == (seed, 0)
    # schema is stable even when nothing is within distance
    empty = eng.suggest("qqqqqqqqqqqqqqqqqqqq", "content", k=5)
    assert [f.name for f in empty.schema.fields] == [
        "term", "distance", "df",
    ]
    assert empty.collect() == []


def test_more_like_this_matches_explicit_query(built, spark):
    """MLT (query.more_like_this): term selection equals the
    python-side tf x idf ranking over the source doc's re-analyzed
    stored text, the result equals the explicit OR query with the
    source doc excluded, and a missing doc_id yields an empty frame."""
    from collections import Counter

    idx, _docs, pdocs, _m = built
    eng = IndexQueryEngine(spark, idx)
    src = int(pdocs["doc_id"].iloc[10])
    text = pdocs.loc[pdocs["doc_id"] == src, "content"].iloc[0]
    tf = Counter(analyze.TOKENIZERS["code"](pd.Series([text]))[0])
    nd = eng.n_docs["content"]
    ranked = sorted(
        (
            (tf[t] * float(bm25.idf(nd, eng._dict_cache[("content", t)])), t)
            for t in tf
            if ("content", t) in eng._dict_cache
        ),
        key=lambda p: (-p[0], p[1]),
    )
    terms = [t for _s, t in ranked[:8]]
    assert terms, "fixture doc has no indexed terms"
    unfiltered = eng.topk(
        " ".join(terms), k=11, fields=["content"], mode="taat"
    ).collect()
    # the source doc matches its own terms -> exclusion is observable
    assert src in {int(r["doc_id"]) for r in unfiltered}
    expected = [
        (int(r["doc_id"]), r["score"])
        for r in unfiltered
        if int(r["doc_id"]) != src
    ][:10]
    got = [
        (int(r["doc_id"]), r["score"])
        for r in eng.more_like_this(
            src, "content", k=10, max_terms=8, mode="taat"
        ).collect()
    ]
    assert got == expected
    # unknown doc_id -> empty, stable schema
    miss = eng.more_like_this(10**9, "content", k=5)
    assert [f.name for f in miss.schema.fields] == ["doc_id", "score"]
    assert miss.collect() == []


def test_index_time_synonyms(spark, tmp_path):
    """Index-time synonym expansion (IndexBuilder(synonyms=...), the
    reference's marker/structure-synonym indexing pattern,
    GxdResultIndexer.java:388-416): a synonym term scores exactly like
    its base (same postings, same positions), dl/avgdl are untouched
    (position-increment 0 / discountOverlaps), phrases match through
    the synonym, and the params fingerprint forces a rebuild when the
    map changes."""
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "shard": [0, 0, 1, 1],
            "content": [
                "fast merge sort",
                "slow fast fast scan",
                "merge scan order",
                "fast order",
            ],
        }
    )
    sdf = spark.createDataFrame(docs).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256)
    )
    syn = {"fast": ["quick", "rapid"], "merge": ["blend"]}
    params = dict(
        fields={"content": "simple"},
        docs_per_shard=2,
        salt_range=4,
        block_size=4,
        with_positions=True,
    )
    plain_dir = str(tmp_path / "plain")
    syn_dir = str(tmp_path / "syn")
    IndexBuilder(**params).build(sdf, plain_dir, resume=False)
    IndexBuilder(**params, synonyms=syn).build(sdf, syn_dir, resume=False)
    plain = IndexQueryEngine(spark, plain_dir)
    eng = IndexQueryEngine(spark, syn_dir)
    # synonym == base, exactly (same tf, df, dl)
    base_hits = [
        (r["doc_id"], r["score"])
        for r in eng.topk("fast", k=10, mode="taat").collect()
    ]
    for alias in ("quick", "rapid"):
        got = [
            (r["doc_id"], r["score"])
            for r in eng.topk(alias, k=10, mode="taat").collect()
        ]
        assert got == base_hits
    # dl/avgdl untouched by the expansion (discountOverlaps)
    assert eng.avgdl == plain.avgdl
    # the base term's own ranking is unchanged vs the plain index
    assert base_hits == [
        (r["doc_id"], r["score"])
        for r in plain.topk("fast", k=10, mode="taat").collect()
    ]
    # synonyms inherit the base position: phrases match through them
    ph = {
        r["doc_id"]
        for r in eng.phrase_topk("quick merge", k=10).collect()
    }
    assert ph == {0}  # "fast merge sort" only
    assert {
        r["doc_id"] for r in eng.phrase_topk("quick blend", k=10).collect()
    } == {0}
    # absent from the plain index entirely
    assert plain.topk("quick", k=10, mode="taat").collect() == []
    # a changed map changes the params fingerprint (resume rebuilds)
    fp = IndexBuilder(**params, synonyms=syn)._params_fp()
    assert fp != IndexBuilder(**params)._params_fp()
    assert fp != IndexBuilder(
        **params, synonyms={"fast": ["quick"]}
    )._params_fp()
    # canonicalization: order/dupes/self-maps don't change the fp
    assert fp == IndexBuilder(
        **params,
        synonyms={"merge": ["blend", "blend", "merge"],
                  "fast": ["rapid", "quick"]},
    )._params_fp()
