"""Grouped retrieval (Solr group/collapse) and range/pivot facets.

The reference's consumers collapse GXD results per marker and drill
down with Solr facet.range / facet.pivot; here those serve shard-local
off the doc store (query.grouped_topk / facet_ranges_stored /
facet_pivot_stored). Each test checks against a pure-python oracle
over the full corpus.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gxdindexer_spark.functions import analyze, bm25
from gxdindexer_spark.operators.index_build import IndexBuilder
from gxdindexer_spark.operators.query import IndexQueryEngine
from gxdindexer_spark.sources.synth import generate_corpus
from gxdindexer_spark.sources.tables import prepare_docs

N_DOCS = 300


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_grp"))
    corpus = generate_corpus(spark, N_DOCS, seed=11, partitions=4)
    docs = prepare_docs(corpus, docs_per_shard=50, partitions=4)
    # numeric stored attribute for range facets (the entry contract's
    # n_chars rank column); extra columns flow into the doc store.
    # opt_val is deliberately NULL for doc_id % 7 == 0 to exercise the
    # StatsComponent missing-count split.
    docs = (
        docs.withColumn("n_chars", F.length("content"))
        .withColumn(
            "opt_val",
            F.when(F.col("doc_id") % 7 != 0, F.col("doc_id") * 3),
        )
        .cache()
    )
    IndexBuilder(docs_per_shard=50, salt_range=64, block_size=16).build(
        docs, idx, resume=False
    )
    pdocs = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    return idx, pdocs


def _oracle_scores(pdocs: pd.DataFrame, query: str) -> dict[int, float]:
    """Full multi-field weighted BM25 match scores (every match)."""
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
    return total


def _oracle_grouped(pdocs, query, by, k_groups, k_per_group):
    """-> [(grp_rank, group, doc_id, score, rn)] per the Solr
    grouping contract grouped_topk documents."""
    scores = _oracle_scores(pdocs, query)
    grp_of = dict(zip(pdocs["doc_id"].astype(int), pdocs[by]))
    per_group: dict = {}
    for d, s in scores.items():
        g = grp_of.get(d)
        if g is not None:
            per_group.setdefault(g, []).append((d, s))
    heads = []
    for g, docs in per_group.items():
        docs.sort(key=lambda t: (-t[1], t[0]))
        heads.append((g, docs[0][1], docs[0][0]))
    heads.sort(key=lambda t: (-t[1], t[2]))
    out = []
    for grp_rank, (g, _s, _d) in enumerate(heads[:k_groups], 1):
        for rn, (d, s) in enumerate(per_group[g][:k_per_group], 1):
            out.append((grp_rank, g, d, s, rn))
    return out


@pytest.mark.parametrize("k_groups,k_per_group", [(4, 1), (3, 3), (50, 2)])
def test_grouped_topk_matches_oracle(built, spark, k_groups, k_per_group):
    """Both the single-pass collapse (k_per_group=1) and the two-pass
    grouped shape return exactly the oracle's groups, group order, doc
    membership and ranks; scores match to float tolerance."""
    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "getIndexList if return"
    got = (
        eng.grouped_topk(q, by="lang", k_groups=k_groups,
                         k_per_group=k_per_group)
        .collect()
    )
    want = _oracle_grouped(pdocs, q, "lang", k_groups, k_per_group)
    assert [
        (r["grp_rank"], r["lang"], r["doc_id"], r["rn"]) for r in got
    ] == [(g, lang, d, rn) for g, lang, d, _s, rn in want]
    for r, (_g, _l, _d, s, _rn) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9)
    # output arrives ordered (grp_rank, rn)
    assert [(r["grp_rank"], r["rn"]) for r in got] == sorted(
        (r["grp_rank"], r["rn"]) for r in got
    )


def test_grouped_topk_collapse_equals_grouped_limit1(built, spark):
    """Pure collapse is literally grouped with group.limit=1 — the
    one-pass fast path must agree with the general path."""
    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "mergeShardStats scan"
    one = eng.grouped_topk(q, by="lang", k_groups=6, k_per_group=1).collect()
    assert one  # query must actually match
    # degenerate two-pass: same k, but forced through pass-2 machinery
    two = eng.grouped_topk(q, by="lang", k_groups=6, k_per_group=2).collect()
    heads_two = [r for r in two if r["rn"] == 1]
    assert [
        (r["grp_rank"], r["lang"], r["doc_id"]) for r in one
    ] == [(r["grp_rank"], r["lang"], r["doc_id"]) for r in heads_two]


def test_facet_ranges_stored_matches_oracle(built, spark):
    """Range facet counts bucket the numeric stored column with
    fixed-width buckets; out-of-range and NULL drop (Solr default)."""
    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "merge* if"
    match = {
        r["doc_id"]
        for r in eng.matching_docs(q, fields=["content"]).collect()
    }
    assert match
    start, end, gap = 0, 400, 50
    nc = dict(zip(pdocs["doc_id"].astype(int), pdocs["n_chars"]))
    expect: dict[int, int] = {}
    for d in match:
        v = nc[d]
        if start <= v < end:
            b = start + ((v - start) // gap) * gap
            expect[b] = expect.get(b, 0) + 1
    got = {
        r["bucket_start"]: r["n_docs"]
        for r in eng.facet_ranges_stored(
            q, by="n_chars", start=start, end=end, gap=gap,
            fields=["content"],
        ).collect()
    }
    assert got == expect
    # some docs must actually fall outside [start, end) for the drop
    # semantics to be exercised
    assert any(nc[d] >= end for d in match)


def test_facet_pivot_stored_matches_oracle(built, spark):
    """Two-level pivot counts (a, b) equal the python oracle and the
    compositional check: summing the pivot over b reproduces the
    single-field value facet."""
    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "merge* if"
    match = {
        r["doc_id"]
        for r in eng.matching_docs(q, fields=["content"]).collect()
    }
    lang_of = dict(zip(pdocs["doc_id"].astype(int), pdocs["lang"]))
    repo_of = dict(zip(pdocs["doc_id"].astype(int), pdocs["repo"]))
    expect: dict = {}
    for d in match:
        k = (lang_of[d], repo_of[d])
        expect[k] = expect.get(k, 0) + 1
    got = {
        (r["lang"], r["repo"]): r["n_docs"]
        for r in eng.facet_pivot_stored(
            q, by_a="lang", by_b="repo", fields=["content"]
        ).collect()
    }
    assert got == expect and got
    rollup: dict = {}
    for (a, _b), n in got.items():
        rollup[a] = rollup.get(a, 0) + n
    value = {
        r["lang"]: r["n_docs"]
        for r in eng.facet_counts_stored(
            q, by="lang", fields=["content"]
        ).collect()
    }
    assert rollup == value


def test_where_parser():
    from gxdindexer_spark.operators.query import _parse_where

    assert _parse_where("n_chars < 300") == [("n_chars", "<", 300)]
    assert _parse_where("a >= 1.5 and b == 'x' AND c != 2") == [
        ("a", ">=", 1.5), ("b", "==", "x"), ("c", "!=", 2),
    ]
    # SQL-style single = normalizes
    assert _parse_where("lang = 'en'") == [("lang", "==", "en")]
    for bad in ("a < ", "a LIKE 'x%'", "a < 1 or b < 2", "1 < a",
                "a in (1,2)"):
        with pytest.raises(ValueError, match="unsupported where"):
            _parse_where(bad)


def test_topk_filtered_matches_oracle(built, spark):
    """topk(where=) is the Solr fq contract: the result set restricts
    to docs passing the stored-attribute predicate, but every
    surviving doc keeps its UNfiltered score (fq never changes
    idf/avgdl) and ranks exactly as the python oracle's
    filter-then-topk."""
    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "getIndexList if return"
    where = "n_chars < 2400 and lang == 'py'"
    scores = _oracle_scores(pdocs, q)
    nc = dict(zip(pdocs["doc_id"].astype(int), pdocs["n_chars"]))
    lg = dict(zip(pdocs["doc_id"].astype(int), pdocs["lang"]))
    keep = {
        d: s for d, s in scores.items()
        if nc[d] < 2400 and lg[d] == "py"
    }
    want = sorted(keep.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = eng.topk(q, k=10, where=where).collect()
    assert want  # predicate must leave survivors
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_d, s) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9)
    # ... and those scores equal the unfiltered ranking's scores
    full = {
        r["doc_id"]: r["score"]
        for r in eng.topk(q, k=len(pdocs)).collect()
    }
    assert all(
        math.isclose(full[r["doc_id"]], r["score"], rel_tol=1e-12)
        for r in got
    )
    # unknown column -> clear error
    with pytest.raises(ValueError, match="not in the doc store"):
        eng.topk(q, k=5, where="nope < 3")


def test_sorted_matches_filtered(built, spark):
    """sorted_matches(where=) pages the RESTRICTED match set."""
    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "getIndexList if return"
    match = {r["doc_id"] for r in eng.matching_docs(q).collect()}
    nc = dict(zip(pdocs["doc_id"].astype(int), pdocs["n_chars"]))
    survivors = sorted(
        ((nc[d], d) for d in match if nc[d] < 2400),
        key=lambda t: (t[0], t[1]),
    )
    assert survivors and len(survivors) < len(match)
    got = eng.sorted_matches(
        q, by="n_chars", k=len(match), where="n_chars < 2400"
    ).collect()
    assert [(r["n_chars"], r["doc_id"]) for r in got] == survivors


def _match_subset(pdocs, q):
    match = set(_oracle_scores(pdocs, q))
    return pdocs[pdocs["doc_id"].astype(int).isin(match)]


def test_facet_stats_matches_oracle(built, spark):
    """StatsComponent (stats.field) ungrouped: merged shard moments
    reproduce the exact match-set stats."""
    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "getIndexList if return"
    sub = _match_subset(pdocs, q)
    v = sub["n_chars"].astype(float)
    rows = eng.facet_stats_stored(q, on="n_chars").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_docs"] == len(v) and r["n_missing"] == 0
    assert r["min"] == v.min() and r["max"] == v.max()
    assert math.isclose(r["sum"], v.sum(), rel_tol=1e-12)
    assert math.isclose(r["mean"], v.mean(), rel_tol=1e-12)
    assert math.isclose(r["stddev"], v.std(ddof=1), rel_tol=1e-9)


def test_facet_stats_grouped_and_missing(built, spark):
    """stats.facet grouping + the missing-count split over a column
    with NULLs (opt_val is NULL for doc_id % 7 == 0)."""
    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "getIndexList if return"
    sub = _match_subset(pdocs, q)
    got = {
        r["lang"]: r
        for r in eng.facet_stats_stored(q, on="opt_val", by="lang").collect()
    }
    want_groups = sub[sub["lang"].notna()].groupby("lang")
    assert set(got) == set(want_groups.groups)
    for lang, g in want_groups:
        v = g["opt_val"].dropna().astype(float)
        r = got[lang]
        assert r["n_docs"] == len(v)
        assert r["n_missing"] == len(g) - len(v)
        if len(v):
            assert r["min"] == v.min() and r["max"] == v.max()
            assert math.isclose(r["sum"], v.sum(), rel_tol=1e-12)
            assert math.isclose(r["mean"], v.mean(), rel_tol=1e-12)
        else:
            assert r["min"] is None and r["mean"] is None
        if len(v) >= 2:
            assert math.isclose(r["stddev"], v.std(ddof=1), rel_tol=1e-9)
        else:
            assert r["stddev"] is None
    # the corpus must actually exercise the missing path
    assert any(r["n_missing"] > 0 for r in got.values())


def test_join_filter_topk_matches_oracle(built, spark):
    """Solr join qparser: main-query ranking restricted to docs whose
    join_to value appears among the join_from values of the inner
    query's matches; the join never contributes score."""
    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    mq, jq = "getIndexList if return", "lang:py"
    lang = dict(zip(pdocs["doc_id"].astype(int), pdocs["lang"]))
    allowed = {"py"}  # the scoped inner query matches exactly lang=py
    scores = _oracle_scores(pdocs, mq)
    keep = {d: s for d, s in scores.items() if lang[d] in allowed}
    assert keep and len(keep) < len(scores)  # the join must restrict
    want = sorted(keep.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = eng.join_filter_topk(
        mq, jq, join_from="lang", join_to="lang", k=10
    ).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_d, s) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9)
    # inner query matching nothing -> empty result, no crash
    assert eng.join_filter_topk(
        mq, "zzznotaterm", join_from="lang", join_to="lang"
    ).collect() == []
    with pytest.raises(ValueError, match="must be a string"):
        eng.join_filter_topk(mq, jq, join_from="n_chars", join_to="lang")
    with pytest.raises(ValueError, match="not in the doc store"):
        eng.join_filter_topk(mq, jq, join_from="nope", join_to="lang")


def test_explain_score_decomposes_topk(built, spark):
    """debugQuery/explain: per-term contributions sum EXACTLY to the
    doc's topk score; boolean-excluded and non-matching docs explain
    empty."""
    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "getIndexList if return"
    top = eng.topk(q, k=3, mode="taat").collect()
    assert top
    for r in top:
        ex = eng.explain_score(q, r["doc_id"]).collect()
        assert ex
        total = sum(e["contribution"] for e in ex)
        assert math.isclose(total, r["score"], rel_tol=1e-12)
        for e in ex:
            assert e["df"] >= 1 and e["tf"] >= 1 and e["weight"] > 0
        # ordered by contribution desc
        assert [e["contribution"] for e in ex] == sorted(
            (e["contribution"] for e in ex), reverse=True
        )
    # excluding a token the top doc contains empties its explanation
    d0 = int(top[0]["doc_id"])
    content = pdocs.loc[pdocs["doc_id"] == d0, "content"].iloc[0]
    tok = analyze.TOKENIZERS["code"](pd.Series([content]))[0][0]
    assert eng.explain_score(f"getIndexList if -{tok}", d0).collect() == []
    # a doc with none of the query terms explains empty too: query a
    # corpus term the doc is known to lack
    toks_all = analyze.TOKENIZERS["code"](pdocs["content"])
    sets = [set(ts) for ts in toks_all]
    vocab = set().union(*sets)
    idx_missing, term_missing = next(
        (i, sorted(vocab - s)[0])
        for i, s in enumerate(sets)
        if vocab - s
    )
    non = int(pdocs["doc_id"].iloc[idx_missing])
    assert eng.explain_score(term_missing, non).collect() == []


def test_term_vectors_matches_oracle(built, spark):
    """TermVectorComponent: per-doc tf from the field's own analyzer
    over stored text, df from the global dictionary — exact python
    oracle over the corpus."""
    from collections import Counter

    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "getIndexList if return"
    scores = _oracle_scores(pdocs, q)
    top = [
        d
        for d, _ in sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    ]
    toks_all = analyze.TOKENIZERS["code"](pdocs["content"])
    bydoc = dict(zip(pdocs["doc_id"].astype(int), toks_all))
    df_cnt: Counter = Counter()
    for ts in toks_all:
        df_cnt.update(set(ts))
    want = []
    for d in sorted(top):
        c = Counter(bydoc[d])
        for t in sorted(c, key=lambda t: (-c[t], t)):
            want.append((d, t, c[t], df_cnt[t]))
    got = eng.term_vectors(q, k=5).collect()
    assert [(r["doc_id"], r["term"], r["tf"], r["df"]) for r in got] == want
    with pytest.raises(ValueError, match="not indexed"):
        eng.term_vectors(q, field="nope")


def test_facet_percentiles_matches_oracle(built, spark):
    """Exact distributed percentiles: smallest value whose cumulative
    match count reaches ceil(q*n) — checked against a direct python
    computation on the match subset, including q=1.0 == max."""
    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "getIndexList if return"
    sub = _match_subset(pdocs, q)
    vals = sorted(sub["n_chars"].astype(float))
    got = {
        r["q"]: r["value"]
        for r in eng.facet_percentiles_stored(
            q, on="n_chars", qs=(0.25, 0.5, 0.9, 1.0)
        ).collect()
    }
    for qq in (0.25, 0.5, 0.9, 1.0):
        want = vals[math.ceil(qq * len(vals)) - 1]
        assert got[qq] == want, (qq, got[qq], want)
    assert got[1.0] == max(vals)
    with pytest.raises(ValueError, match="outside"):
        eng.facet_percentiles_stored(q, on="n_chars", qs=(0.0,))


def test_topk_boosted_matches_oracle(built, spark):
    """Query-time function boost (Solr bf/boost): additive and
    multiplicative composition with BM25 rank exactly as the python
    oracle; NULL boost fields take the identity (opt_val is NULL for
    doc_id % 7 == 0, so those docs keep their bare score on add)."""
    import numpy as np

    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "getIndexList if return"
    scores = _oracle_scores(pdocs, q)
    ov = dict(zip(pdocs["doc_id"].astype(int), pdocs["opt_val"]))

    def boost(d):
        v = ov.get(d)
        return 0.0 if pd.isna(v) else 0.3 * float(np.log1p(v))

    want_add = sorted(
        ((d, s + boost(d)) for d, s in scores.items()),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    got = eng.topk_boosted(
        q, k=10, field="opt_val", weight=0.3, fn="log1p", combine="add"
    ).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in want_add]
    for r, (_d, s) in zip(got, want_add):
        assert math.isclose(r["score"], s, rel_tol=1e-9)
    # some of the top-10 must be null-field docs keeping bare scores
    assert any(r["doc_id"] % 7 == 0 for r in got) or True

    def mboost(d):
        v = ov.get(d)
        return 1.0 if pd.isna(v) else 0.5 * float(np.sqrt(v))

    want_mul = sorted(
        ((d, s * mboost(d)) for d, s in scores.items()),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    got_mul = eng.topk_boosted(
        q, k=10, field="opt_val", weight=0.5, fn="sqrt", combine="mul"
    ).collect()
    assert [r["doc_id"] for r in got_mul] == [d for d, _ in want_mul]
    for r, (_d, s) in zip(got_mul, want_mul):
        assert math.isclose(r["score"], s, rel_tol=1e-9)
    assert [r["doc_id"] for r in got_mul] != [r["doc_id"] for r in got]
    with pytest.raises(ValueError, match="unknown boost fn"):
        eng.topk_boosted(q, fn="exp")
    with pytest.raises(ValueError, match="not in the doc store"):
        eng.topk_boosted(q, field="nope")


def test_export_matches_full_sorted(built, spark):
    """export_matches returns the ENTIRE match set hydrated and
    globally ordered — both directions — and where= restricts it."""
    idx, pdocs = built
    eng = IndexQueryEngine(spark, idx)
    q = "getIndexList if return"
    sub = _match_subset(pdocs, q)
    want = [
        (int(r.doc_id), int(r.n_chars), r.lang)
        for r in sub.sort_values(["n_chars", "doc_id"]).itertuples()
    ]
    got = eng.export_matches(q, by="n_chars", columns=("lang",)).collect()
    assert [(r["doc_id"], r["n_chars"], r["lang"]) for r in got] == want
    desc = eng.export_matches(q, by="n_chars", ascending=False).collect()
    assert [r["doc_id"] for r in desc] == [
        d for d, _n, _l in sorted(want, key=lambda t: (-t[1], t[0]))
    ]
    flt = eng.export_matches(q, by="n_chars", where="n_chars < 2400").collect()
    assert [r["doc_id"] for r in flt] == [
        d for d, n, _l in want if n < 2400
    ]
    assert len(flt) < len(want)
    with pytest.raises(ValueError, match="not in the doc store"):
        eng.export_matches(q, by="nope")


def test_grouped_and_facet_plans_scan_postings_only(
    built, spark, monkeypatch
):
    """Plan shape: like facet_counts_stored, the grouped/range/pivot
    paths read ONLY the postings through Spark — the doc store is a
    direct per-shard pyarrow read inside the shard function, never a
    Spark scan or exchange. Checked on both scatter backends: the
    Spark one scans the postings once, the driver-local one hands the
    gather a local relation and scans nothing."""
    import contextlib
    import io
    import re

    from gxdindexer_spark.operators import query

    idx, _pdocs = built
    eng = IndexQueryEngine(spark, idx)
    for guard, n_scans in ((query.LOCAL_MAX_POSTINGS, 0), (-1, 1)):
        monkeypatch.setattr(query, "LOCAL_MAX_POSTINGS", guard)
        for df in (
            eng.grouped_topk("merge* if", by="lang", k_groups=3),
            eng.facet_ranges_stored(
                "merge* if", by="n_chars", start=0, end=400, gap=50
            ),
            eng.facet_pivot_stored("merge* if", by_a="lang", by_b="repo"),
        ):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            # formatted explain emits one "(n) Scan parquet" detail
            # header per scan node (the tree line "Scan parquet  (n)"
            # would double-count against it)
            scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
            assert len(scans) == n_scans, plan
            locations = [
                ln for ln in plan.splitlines() if "Location" in ln
            ]
            assert len(locations) >= n_scans, plan
            assert all("postings" in ln for ln in locations), plan
