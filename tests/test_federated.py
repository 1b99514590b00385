"""Federated retrieval over partitioned indexes (operators/federated).

The flagship invariant: N indexes built from disjoint corpus slices,
queried through FederatedQueryEngine with exact-global-stats merge,
rank BIT-IDENTICALLY to one index built from the whole corpus — for
plain, boolean, wildcard and fuzzy queries (expansions below the
truncation cap). This is Solr distributed search with ExactStatsCache
semantics (reference runs one Solr per index class; SURVEY §2 S8).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gxdindexer_spark.operators.federated import FederatedQueryEngine
from gxdindexer_spark.operators.index_build import IndexBuilder
from gxdindexer_spark.operators.query import IndexQueryEngine
from gxdindexer_spark.sources.synth import generate_corpus
from gxdindexer_spark.sources.tables import prepare_docs

N_DOCS = 240


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """Full index + 2-way and 3-way disjoint slices of one corpus."""
    root = tmp_path_factory.mktemp("fed")
    corpus = generate_corpus(spark, N_DOCS, seed=23, partitions=4)
    docs = prepare_docs(corpus, docs_per_shard=40, partitions=4).cache()
    builder = IndexBuilder(docs_per_shard=40, salt_range=64, block_size=16)
    dirs = {}
    slices = {
        "full": docs,
        "h0": docs.filter(F.col("doc_id") % 2 == 0),
        "h1": docs.filter(F.col("doc_id") % 2 == 1),
        "t0": docs.filter(F.col("doc_id") % 3 == 0),
        "t1": docs.filter(F.col("doc_id") % 3 == 1),
        "t2": docs.filter(F.col("doc_id") % 3 == 2),
    }
    for name, sl in slices.items():
        d = str(root / name)
        # slices keep the full corpus's doc_id (globally unique by
        # construction — the federation contract) and shard columns;
        # member shards simply hold fewer docs
        builder.build(sl, d, resume=False)
        dirs[name] = d
    return dirs


def _ranks(rows):
    return [r["doc_id"] for r in rows]


QUERIES = [
    "getIndexList if return",
    "+getIndexList -merge parse",
    "get* index",
    "retrun~1 if",
]


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("members", [("h0", "h1"), ("t0", "t1", "t2")])
def test_federated_equals_single_index(built, spark, query, members):
    single = IndexQueryEngine(spark, built["full"])
    fed = FederatedQueryEngine(spark, [built[m] for m in members])
    want = single.topk(query, k=15, mode="taat").collect()
    got = fed.topk(query, k=15).collect()
    assert want, query
    assert _ranks(got) == _ranks(want)
    for g, w in zip(got, want):
        assert math.isclose(g["score"], w["score"], rel_tol=1e-9)


def test_federated_global_stats_differ_from_local(built, spark):
    """The merge is load-bearing: scoring each member with its OWN
    stats and merging (Solr's default per-shard scoring) must NOT
    equal the single-index ranking for at least the scores — i.e.
    the ExactStatsCache path is doing real work."""
    single = IndexQueryEngine(spark, built["full"])
    q = "getIndexList if return"
    want = single.topk(q, k=15, mode="taat").collect()
    naive = []
    for m in ("h0", "h1"):
        naive += IndexQueryEngine(spark, built[m]).topk(
            q, k=15, mode="taat"
        ).collect()
    naive.sort(key=lambda r: (-r["score"], r["doc_id"]))
    naive = naive[:15]
    assert any(
        n["doc_id"] != w["doc_id"]
        or not math.isclose(n["score"], w["score"], rel_tol=1e-9)
        for n, w in zip(naive, want)
    )


def test_federated_count_matches(built, spark):
    single = IndexQueryEngine(spark, built["full"])
    fed = FederatedQueryEngine(spark, [built["h0"], built["h1"]])
    q = "get* index"
    want = single.count_matches(q).collect()[0]["n_matches"]
    got = fed.count_matches(q).collect()[0]["n_matches"]
    assert got == want > 0


def test_federated_serving_surfaces_equal_single(built, spark):
    """Stats-free surfaces (facets, sorted paging, get, export)
    federate by plain merge and must equal the single merged index
    exactly."""
    single = IndexQueryEngine(spark, built["full"])
    fed = FederatedQueryEngine(spark, [built["h0"], built["h1"]])
    q = "get* index"
    fw = {
        (r["lang"], r["n_docs"])
        for r in single.facet_counts_stored(q, by="lang").collect()
    }
    fg = {
        (r["lang"], r["n_docs"])
        for r in fed.facet_counts_stored(q, by="lang").collect()
    }
    assert fg == fw and fw
    sw = [
        (r["doc_id"], r["path"])
        for r in single.sorted_matches(q, by="path", k=7, offset=3).collect()
    ]
    sg = [
        (r["doc_id"], r["path"])
        for r in fed.sorted_matches(q, by="path", k=7, offset=3).collect()
    ]
    assert sg == sw and len(sw) == 7
    ids = [2, 3, 5, 8]
    gw = {
        r["doc_id"]: r["lang"]
        for r in single.get_docs(ids, columns=("lang",)).collect()
    }
    gg = {
        r["doc_id"]: r["lang"]
        for r in fed.get_docs(ids, columns=("lang",)).collect()
    }
    assert gg == gw and set(gw) == set(ids)
    ew = [
        (r["doc_id"], r["path"])
        for r in single.export_matches(q, by="path").collect()
    ]
    eg = [
        (r["doc_id"], r["path"])
        for r in fed.export_matches(q, by="path").collect()
    ]
    assert eg == ew and len(ew) > 7
    # range + pivot facets sum like value facets
    rw = {
        (r["bucket_start"], r["n_docs"])
        for r in single.facet_ranges_stored(
            q, by="doc_id", start=0, end=240, gap=60
        ).collect()
    }
    rg = {
        (r["bucket_start"], r["n_docs"])
        for r in fed.facet_ranges_stored(
            q, by="doc_id", start=0, end=240, gap=60
        ).collect()
    }
    assert rg == rw and rw
    pw = {
        (r["lang"], r["repo"], r["n_docs"])
        for r in single.facet_pivot_stored(q, "lang", "repo").collect()
    }
    pg = {
        (r["lang"], r["repo"], r["n_docs"])
        for r in fed.facet_pivot_stored(q, "lang", "repo").collect()
    }
    assert pg == pw and pw


def test_federated_rejects_mismatched_params(built, spark, tmp_path):
    other = str(tmp_path / "other_k1")
    corpus = generate_corpus(spark, 40, seed=5, partitions=2)
    docs = prepare_docs(corpus, docs_per_shard=20, partitions=2)
    IndexBuilder(
        docs_per_shard=20, salt_range=16, block_size=16, k1=0.9
    ).build(docs, other, resume=False)
    with pytest.raises(ValueError, match="k1/b"):
        FederatedQueryEngine(spark, [built["h0"], other])
    with pytest.raises(ValueError, match="at least one"):
        FederatedQueryEngine(spark, [])


def test_federated_empty_query(built, spark):
    fed = FederatedQueryEngine(spark, [built["h0"], built["h1"]])
    assert fed.topk("zzzznotaterm", k=5).collect() == []


def test_federated_members_size_scan_by_own_df(
    built, spark, monkeypatch
):
    """A merged-stats spec carries federation-wide df sums; each member
    picks its scatter backend from ITS OWN postings estimate, so a
    federation whose member scans each fit under the guard runs every
    member on the driver-local backend."""
    from gxdindexer_spark.operators import query

    fed = FederatedQueryEngine(spark, [built["h0"], built["h1"]])
    q = "getIndexList if return"
    want = fed.topk(q, k=15).collect()
    own = max(
        sum(e._scan_keys(e.make_spec(q)).values()) for e in fed.engines
    )
    merged = sum(IndexQueryEngine._scan_keys(fed.make_spec(q)).values())
    assert merged > own
    monkeypatch.setattr(query, "LOCAL_MAX_POSTINGS", own)
    df = fed.topk(q, k=15)
    assert "FlatMapGroupsInPandas" not in df._jdf.queryExecution().toString()
    assert df.collect() == want
    monkeypatch.setattr(query, "LOCAL_MAX_POSTINGS", own - 1)
    df = fed.topk(q, k=15)
    assert "FlatMapGroupsInPandas" in df._jdf.queryExecution().toString()
    assert df.collect() == want
