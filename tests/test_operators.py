"""Unit tests for dedup / similarity / textstats / multimodal /
streaming operators and plan-shape assertions (SURVEY.md §5.1)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gxdindexer_spark.operators import (
    dedup,
    multimodal,
    similarity,
    textstats,
)
from gxdindexer_spark.plans import explain
from gxdindexer_spark.streaming import events as streaming_events


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # dup of 0
        (2, "the quick brown fox jumps over a lazy cat", "en"),  # near-dup
        (3, "der hund und die katze sind nicht da", "de"),
        (4, "completely unrelated text about spark engines", "en"),
        (5, "", "und"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_dedup_exact(spark, docs_df):
    out = {
        r["doc_id"]: (r["canonical_id"], r["n_copies"])
        for r in dedup.dedup_exact(docs_df).collect()
    }
    assert out[0] == (0, 2)
    assert out[1] == (0, 2)
    assert out[2][1] == 1


def test_minhash_identical_docs_equal_sigs(spark, docs_df):
    sigs = {r["doc_id"]: [r[f"h{i}"] for i in range(8)]
            for r in dedup.minhash_signatures(docs_df).collect()}
    assert sigs[0] == sigs[1]  # identical docs -> identical signatures
    # near-dup shares most mins; unrelated shares few
    sim_near = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    sim_far = sum(a == b for a, b in zip(sigs[0], sigs[4]))
    assert sim_near > sim_far


def test_minhash_lsh_finds_exact_dup(spark, docs_df):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs_df).collect()
    }
    assert (0, 1) in pairs


def test_ngram_jaccard_exact_dup_is_1(spark, docs_df):
    rows = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_df, threshold=0.1).collect()
    }
    assert rows[(0, 1)] == pytest.approx(1.0)
    assert rows[(0, 2)] < 1.0


def test_simhash_dup_equal_neardup_close(spark, docs_df):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs_df).collect()}
    assert sh[0] == sh[1]
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[4]).count("1")
    assert ham_near <= ham_far


def test_cosine_topk_self_first(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = similarity.cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cos"] == pytest.approx(1.0)


def test_lsh_topk_subset_of_exact(spark):
    rng = np.random.default_rng(0)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(200)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    q = rows[7][1]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.lsh_bucket_topk(emb, q, k=5, n_planes=4, probes=4).collect()
    ]
    assert exact[0] == 7  # self
    assert 7 in approx  # ANN finds the exact match's bucket
    assert set(approx) & set(exact)  # meaningful recall


def test_quality_and_counts(spark, docs_df):
    q = {r["doc_id"]: r for r in
         textstats.with_quality_score(docs_df).collect()}
    assert q[5]["n_tokens"] == 0 and q[5]["quality_score"] == 0.0
    assert q[0]["stopword_ratio"] > 0
    t = {r["doc_id"]: r for r in
         textstats.with_token_counts(docs_df).collect()}
    assert t[0]["ws_tokens"] == 9
    assert t[5]["ws_tokens"] == 0


def test_lang_id(spark, docs_df):
    p = {r["doc_id"]: r["lang_pred"] for r in
         textstats.with_lang_id(docs_df).collect()}
    assert p[0] == "en"
    assert p[3] == "de"
    assert p[5] == "und"


# ------------------------------------------------------------ multimodal


def test_multimodal_plumbing(spark, docs_df):
    media = multimodal.media_from_documents(docs_df)
    rows = {r["doc_id"]: r for r in media.collect()}
    assert bytes(rows[0]["media"]).decode() == (
        "the quick brown fox jumps over the lazy dog"
    )
    assert rows[0]["meta"]["n_bytes"] == len(
        "the quick brown fox jumps over the lazy dog"
    )
    feats = {r["doc_id"]: r["features"] for r in
             multimodal.extract_features(media, dim=8).collect()}
    assert len(feats[0]) == 8
    assert feats[0] == feats[1]  # deterministic
    assert np.isclose(np.linalg.norm(feats[0]), 1.0)
    assert all(v == 0.0 for v in feats[5])  # empty media -> zero vector
    frames = multimodal.frame_sample(media, every_n_bytes=10)
    f0 = frames.filter(F.col("doc_id") == 0).collect()
    joined = b"".join(bytes(r["frame"]) for r in
                      sorted(f0, key=lambda r: r["frame_no"]))
    assert joined.decode() == "the quick brown fox jumps over the lazy dog"


def test_decode_media_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"xx", "png")


# ------------------------------------------------------------- streaming


def test_streaming_windowed_counts_matches_batch(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events_dir = str(tmp_path / "ev")
    ev.repartition(3).write.parquet(events_dir)
    stream = streaming_events.read_events_stream(spark, events_dir)
    sdf = streaming_events.windowed_counts(stream)
    # complete mode: every window (incl. still-open) -> exact batch match
    q = streaming_events.run_stream_to_memory(sdf, "win_counts", "complete")
    q.awaitTermination(120)
    got = (
        spark.table("win_counts")
        .orderBy("window_start", "event_type")
        .collect()
    )
    expect = (
        streaming_events.windowed_counts(
            spark.read.parquet(events_dir)
        )
        .orderBy("window_start", "event_type")
        .collect()
    )
    assert len(got) > 0

    def rows_match(a, b):  # float sums differ in partial-agg order
        return (
            a["window_start"] == b["window_start"]
            and a["event_type"] == b["event_type"]
            and a["n"] == b["n"]
            and a["sum_value"] == pytest.approx(b["sum_value"], rel=1e-9)
        )

    assert len(got) == len(expect)
    assert all(rows_match(a, b) for a, b in zip(got, expect))

    # append mode: watermark admits only CLOSED windows — the emitted
    # subset must still agree row-for-row with the batch result
    q2 = streaming_events.run_stream_to_memory(
        streaming_events.windowed_counts(
            streaming_events.read_events_stream(spark, events_dir)
        ),
        "win_counts_append",
        "append",
    )
    q2.awaitTermination(120)
    exp_map = {(r["window_start"], r["event_type"]): r for r in expect}
    emitted = spark.table("win_counts_append").collect()
    # events are unordered across trigger files, so the watermark DROPS
    # genuinely-late rows — emitted windows are a subset with n <= batch
    assert all(
        (r["window_start"], r["event_type"]) in exp_map
        and r["n"] <= exp_map[(r["window_start"], r["event_type"])]["n"]
        for r in emitted
    )


def test_stateful_sessionize_closed_sessions_match_batch(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events_dir = str(tmp_path / "ev2")
    # single file => single trigger => all closed sessions except tails
    ev.coalesce(1).write.parquet(events_dir)
    stream = streaming_events.read_events_stream(spark, events_dir)
    sdf = streaming_events.sessionize_stream(stream)
    q = streaming_events.run_stream_to_memory(sdf, "sessions", "append")
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start_us"]): (r["n_events"], r["duration_us"])
        for r in spark.table("sessions").collect()
    }
    batch = {
        (r["user_id"], r["session_start_us"]): (r["n_events"], r["duration_us"])
        for r in streaming_events.sessionize_batch(ev).collect()
    }
    # stream emits only CLOSED sessions; each must match the batch twin
    assert len(got) > 0
    for k, v in got.items():
        assert batch[k] == v


# ------------------------------------------------------------ plan shape


def test_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    pf = explain.pushed_filters(q)
    assert any("l_quantity" in f for f in pf)
    rs = explain.read_schemas(q)
    assert rs and all("l_extendedprice" not in s for s in rs)


def test_broadcast_join_for_small_dim(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    assert explain.has_broadcast_join(j)


def test_nested_struct_collect_and_json(spark):
    """Reference A5 (genotype->{marker->{symbol,name}} nested map,
    GxdResultIndexer.java:460-522) and F11 (JSON meta field)."""
    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    rolled = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("c_custkey", "c_mktsegment"))
            ).alias("customers")
        )
        .withColumn("as_json", F.to_json(F.struct("n_name", "customers")))
    )
    row = rolled.orderBy("n_name").first()
    assert row["customers"][0]["c_custkey"] is not None
    import json as _json

    parsed = _json.loads(row["as_json"])
    assert parsed["n_name"] == row["n_name"]
    assert len(parsed["customers"]) == len(row["customers"])


def test_q1_plan_single_exchange_and_pushdown(spark):
    """TPC-H Q1 shape: one shuffle (partial+final agg), filter pushed
    to the parquet scan, only needed columns read."""
    import __spark_entry__ as entry

    q = entry.q1_pricing_summary(spark, "/root/testdata/sf0.001")
    # <=2 exchanges: the agg shuffle (+ the orderBy range exchange)
    assert explain.count_exchanges(q) <= 2
    assert any("l_shipdate" in f for f in explain.pushed_filters(q))
    rs = explain.read_schemas(q)
    assert rs and all("l_orderkey" not in s for s in rs)  # pruned


def test_multiway_join_broadcasts_dims(spark):
    import __spark_entry__ as entry

    q = entry.join_multiway_revenue(spark, "/root/testdata/sf0.001")
    assert explain.has_broadcast_join(q)
    # region filter is pushed down to the region scan
    assert any("r_name" in f for f in explain.pushed_filters(q))


def test_postings_scan_pushes_term_id(spark, tmp_path):
    """Query-path scan must push term_id/field filters into parquet."""
    from gxdindexer_spark.operators.index_build import IndexBuilder
    from gxdindexer_spark.sources.synth import generate_corpus
    from gxdindexer_spark.sources.tables import prepare_docs

    idx = str(tmp_path / "idx")
    corpus = generate_corpus(spark, 60, seed=11, partitions=2)
    docs = prepare_docs(corpus, docs_per_shard=30, partitions=2)
    IndexBuilder(docs_per_shard=30, salt_range=16, block_size=8).build(
        docs, idx, resume=False
    )
    scan = spark.read.parquet(f"{idx}/postings").filter(
        (F.col("term_id") == 12345) & (F.col("field") == "content")
    )
    pf = explain.pushed_filters(scan)
    assert any("term_id" in f for f in pf)
    assert any("field" in f for f in pf)


def test_ivf_topk_finds_self_and_overlaps_exact(spark):
    rng = np.random.default_rng(1)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    q = rows[42][1]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.ivf_topk(
            emb, q, k=5, n_centroids=8, nprobe=3
        ).collect()
    ]
    assert exact[0] == 42
    assert 42 in approx  # self lands in a probed bucket
    assert set(approx) & set(exact)
    # full probe == exact (nprobe = n_centroids scans everything)
    allp = [
        r["vec_id"]
        for r in similarity.ivf_topk(
            emb, q, k=5, n_centroids=8, nprobe=8
        ).collect()
    ]
    assert allp == exact


def test_neardup_components_chains_and_singletons(spark):
    """Connected components over the pair graph: chains collapse to
    their min id, singletons map to themselves; multi-hop chains need
    several propagation rounds, and a call leaves at most its result
    checkpointed."""
    from gxdindexer_spark.operators import dedup

    ids = spark.createDataFrame(
        [(i,) for i in range(10)] + [(20,), (21,), (22,), (23,), (24,)],
        "doc_id long",
    )
    pairs = spark.createDataFrame(
        # triangle {1,2,3}, pair {5,6}, 5-hop chain 20-24
        [(1, 2), (2, 3), (1, 3), (5, 6),
         (20, 21), (21, 22), (22, 23), (23, 24)],
        "doc_a long, doc_b long",
    )
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.neardup_components(ids, pairs).collect()
    }
    # each superseded round's checkpoint is freed: only the returned
    # labels' checkpoint stays
    assert jsc.getPersistentRDDs().size() <= persisted + 1
    expect = {i: i for i in (0, 4, 7, 8, 9)}
    expect.update({1: 1, 2: 1, 3: 1, 5: 5, 6: 5})
    expect.update({n: 20 for n in (20, 21, 22, 23, 24)})
    assert got == expect
    # keep-rule: canonical docs are exactly the component minima
    keep = sorted(d for d, c in got.items() if d == c)
    assert keep == [0, 1, 4, 5, 7, 8, 9, 20]


def test_rrf_fuse_ranks_and_missing_leg_convention(spark):
    """RRF (Cormack et al. SIGIR'09): score = sum 1/(60+rank); a doc
    missing from a leg contributes 0 for it. Doc in both legs at
    mid-rank must outrank a doc that tops one leg only; ties break
    id-asc; ranks derive from (score desc, id asc)."""
    import pandas as pd

    from gxdindexer_spark.operators import fusion

    lex = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "score": [9.0, 8.0, 7.0]})
    )
    vec = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2, 3, 4], "cos": [0.9, 0.8, 0.7]})
    )
    got = fusion.rrf_fuse(
        [(lex, "score"), (vec, "cos")], k=4
    ).collect()
    # expected: doc2 = 1/62+1/61, doc3 = 1/63+1/62, doc1 = 1/61,
    # doc4 = 1/63
    exp = {
        1: round(1 / 61, 6),
        2: round(1 / 62 + 1 / 61, 6),
        3: round(1 / 63 + 1 / 62, 6),
        4: round(1 / 63, 6),
    }
    assert [(r["doc_id"], r["rrf"]) for r in got] == [
        (2, exp[2]), (3, exp[3]), (1, exp[1]), (4, exp[4])
    ]
    # score ties rank id-asc: equal scores -> lower id gets rank 1
    tied = spark.createDataFrame(
        pd.DataFrame({"doc_id": [7, 5], "score": [1.0, 1.0]})
    )
    got2 = fusion.rrf_fuse([(tied, "score")], k=2).collect()
    assert [r["doc_id"] for r in got2] == [5, 7]
    assert got2[0]["rrf"] == round(1 / 61, 6)


def test_dl_distance_matches_duckdb_damerau():
    """query._dl_distance is the oracle's metric BY CONSTRUCTION:
    property-pinned to DuckDB's damerau_levenshtein (unrestricted
    Damerau-Levenshtein — NOT OSA, which diverges on cases like
    'ca'->'abc'), plus the capped early-exit contract."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gxdindexer_spark.operators.query import _dl_distance

    con = duckdb.connect()

    @settings(max_examples=300, deadline=None)
    @given(
        st.text(alphabet="abcde", max_size=9),
        st.text(alphabet="abcde", max_size=9),
    )
    def check(a, b):
        want = con.execute(
            "SELECT damerau_levenshtein(?, ?)", [a, b]
        ).fetchone()[0]
        got = _dl_distance(a, b)
        assert got == want
        for cap in (1, 2):
            capped = _dl_distance(a, b, cap)
            if want <= cap:
                assert capped == want
            else:
                assert capped > cap

    check()
    # the OSA-divergent canonical case stays pinned
    assert _dl_distance("ca", "abc") == 2
