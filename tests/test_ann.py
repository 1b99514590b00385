"""Materialized ANN index: partition pruning, parity with the inline
operators, and resume semantics."""

import os

import pytest
from pyspark.sql import functions as F

from gxdindexer_spark.operators import ann, similarity

SF_DIR = "/root/testdata/sf0.001"
N_PLANES = 5
N_CENTROIDS = 6


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    return [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]


@pytest.fixture(scope="module")
def built(spark, emb, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ann"))
    meta = ann.build_ann_index(
        emb, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=False
    )
    return d, meta


def _partition_filters(df) -> str:
    """The scan node's PartitionFilters line from the formatted plan."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    lines = [
        ln.strip()
        for ln in buf.getvalue().splitlines()
        if "PartitionFilters" in ln
    ]
    assert lines, "no FileSourceScan PartitionFilters in plan"
    return lines[0]


def _observed_buckets(df, part_col: str) -> set[int]:
    """Partition values of files that actually produced rows."""
    rows = (
        df.select(F.input_file_name().alias("f")).distinct().collect()
    )
    return {
        int(part.split("=")[1])
        for r in rows
        for part in r["f"].split("/")
        if part.startswith(f"{part_col}=")
    }


def test_lsh_query_scans_only_probed_partitions(spark, built, qvec):
    """The whole point of materializing: the candidate scan must be
    partition-pruned to the probed bucket= directories — the bucket
    IN-list must appear as a scan PartitionFilter (pruned at file
    listing, before any I/O), and runtime rows come only from probed
    partitions."""
    d, _meta = built
    idx = ann.AnnIndex(spark, d)
    cand = idx.lsh_candidates(qvec, probes=3)
    buckets = set(idx.lsh_buckets(qvec, probes=3))
    pf = _partition_filters(cand)
    assert "bucket" in pf and " IN " in pf
    for b in buckets:
        assert str(b) in pf
    assert _observed_buckets(cand, "bucket") <= buckets
    # and pruning is real: the index holds more buckets than probed
    all_buckets = {
        int(n.split("=")[1])
        for n in os.listdir(f"{d}/lsh")
        if n.startswith("bucket=")
    }
    assert len(all_buckets) > len(buckets)


def test_ivf_query_scans_only_probed_partitions(spark, built, qvec):
    d, _meta = built
    idx = ann.AnnIndex(spark, d)
    cand = idx.ivf_candidates(qvec, nprobe=2)
    probes = set(idx.ivf_probes(qvec, nprobe=2))
    pf = _partition_filters(cand)
    assert "ivf_bucket" in pf and " IN " in pf
    assert _observed_buckets(cand, "ivf_bucket") <= probes
    all_buckets = {
        int(n.split("=")[1])
        for n in os.listdir(f"{d}/ivf")
        if n.startswith("ivf_bucket=")
    }
    assert len(all_buckets) > len(probes)


def test_lsh_topk_matches_inline_operator(spark, built, emb, qvec):
    """Same planes/probes -> the persisted path returns exactly what
    the inline full-scan operator returns."""
    d, _meta = built
    idx = ann.AnnIndex(spark, d)
    got = idx.lsh_topk(qvec, k=10, probes=3).collect()
    expect = similarity.lsh_bucket_topk(
        emb, qvec, k=10, n_planes=N_PLANES, probes=3
    ).collect()
    assert got == expect


def test_ivf_topk_matches_inline_operator(spark, built, emb, qvec):
    d, meta = built
    idx = ann.AnnIndex(spark, d)
    got = idx.ivf_topk(qvec, k=10, nprobe=2).collect()
    expect = similarity.ivf_topk(
        emb, qvec, k=10, nprobe=2, centroids=meta["centroids"]
    ).collect()
    assert got == expect


def test_neardup_matches_inline_operator(spark, built, emb):
    d, _meta = built
    idx = ann.AnnIndex(spark, d)
    got = sorted(
        (r["id_a"], r["id_b"], r["cos"])
        for r in idx.lsh_neardup_pairs(threshold=0.3).collect()
    )
    expect = sorted(
        (r["id_a"], r["id_b"], r["cos"])
        for r in similarity.embedding_neardup_pairs(
            emb, threshold=0.3, n_planes=N_PLANES
        ).collect()
    )
    assert got == expect and got


def test_build_resume_skips_unchanged_input(spark, built, emb):
    d, meta = built
    mtime = os.path.getmtime(f"{d}/meta.json")
    again = ann.build_ann_index(
        emb, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=True
    )
    assert again == meta
    assert os.path.getmtime(f"{d}/meta.json") == mtime
    # param change -> rebuild
    rebuilt = ann.build_ann_index(
        emb, d, n_planes=N_PLANES - 1, n_centroids=N_CENTROIDS, resume=True
    )
    assert rebuilt["n_planes"] == N_PLANES - 1
    assert len(ann.AnnIndex(spark, d).planes) == N_PLANES - 1


def test_kmeans_training_reduces_quantization_distortion(spark, emb):
    """Spherical k-means: cosine distortion (1 - cos to the assigned
    centroid) is non-increasing vs the strided init, and recall@10 of
    the trained IVF stays useful."""
    import numpy as np

    V = np.stack(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.select("embedding").collect()
        ]
    )
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)

    def distortion(cents):
        C = np.asarray(cents, dtype=np.float64)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        return float(np.mean(1.0 - (Vn @ Cn.T).max(axis=1)))

    c0 = similarity.sample_centroids(emb, N_CENTROIDS)
    c4 = similarity.train_centroids_kmeans(emb, N_CENTROIDS, iters=4)
    assert distortion(c4) <= distortion(c0) + 1e-12

    # trained IVF end-to-end: recall@10 vs exact brute force
    qvec = [float(x) for x in V[0]]
    exact = {
        r["vec_id"]
        for r in similarity.cosine_topk(emb, qvec, k=10).collect()
    }
    approx = {
        r["vec_id"]
        for r in similarity.ivf_topk(
            emb, qvec, k=10, nprobe=3, centroids=c4
        ).collect()
    }
    assert len(exact & approx) / 10 >= 0.5


def test_build_ann_index_with_kmeans(spark, emb, tmp_path):
    d = str(tmp_path / "annk")
    meta = ann.build_ann_index(
        emb, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS,
        kmeans_iters=3, resume=False,
    )
    assert meta["kmeans_iters"] == 3
    idx = ann.AnnIndex(spark, d)
    qvec = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0)
        .select("embedding").first()[0]
    ]
    got = idx.ivf_topk(qvec, k=10, nprobe=2).collect()
    assert len(got) == 10
    # resume honors the kmeans param
    again = ann.build_ann_index(
        emb, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS,
        kmeans_iters=3, resume=True,
    )
    assert again == meta


def test_append_ann_index_matches_full_build(spark, emb, tmp_path):
    """Build on half the vectors, append the rest: LSH queries equal a
    full build (planes are input-independent); IVF candidates equal
    inline assignment with the index's centroids; a REPLAYED delta is
    a no-op (exactly-once commit via the applied-delta fingerprint
    log); compaction folds deltas into the base, results unchanged."""
    d = str(tmp_path / "annapp")
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    meta1 = ann.build_ann_index(
        half1, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=False
    )
    meta2 = ann.append_ann_index(half2, d)
    assert meta2["n_vectors"] == emb.count()
    assert len(meta2["applied_deltas"]) == 1
    idx = ann.AnnIndex(spark, d)
    qvec = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0)
        .select("embedding").first()[0]
    ]
    # LSH: identical to the inline operator over the FULL corpus
    got = idx.lsh_topk(qvec, k=10, probes=3).collect()
    expect = similarity.lsh_bucket_topk(
        emb, qvec, k=10, n_planes=N_PLANES, probes=3
    ).collect()
    assert got == expect
    # IVF: identical to inline assignment with the index's centroids
    got_ivf = idx.ivf_topk(qvec, k=10, nprobe=3).collect()
    expect_ivf = similarity.ivf_topk(
        emb, qvec, k=10, nprobe=3, centroids=meta1["centroids"]
    ).collect()
    assert got_ivf == expect_ivf
    # replayed delta (at-least-once delivery) is a committed no-op:
    # no duplicate rows, applied-delta log unchanged
    meta3 = ann.append_ann_index(half2, d)
    assert meta3["applied_deltas"] == meta2["applied_deltas"]
    assert meta3["n_vectors"] == meta2["n_vectors"]
    assert ann.AnnIndex(spark, d)._lsh.count() == emb.count()
    # compaction folds deltas into the base; queries unchanged
    ann.compact_ann_index(spark, d)
    idx2 = ann.AnnIndex(spark, d)
    assert idx2.meta["applied_deltas"] == []
    assert idx2.lsh_topk(qvec, k=10, probes=3).collect() == got
    assert idx2._lsh.count() == emb.count()


def test_append_crash_before_commit_is_invisible_and_retryable(
    spark, emb, tmp_path
):
    """A delta staged but not committed (crash between the artifact
    write and the meta replace) is invisible to readers; the retried
    append overwrites the staging dir and commits exactly once."""
    import json as _json

    d = str(tmp_path / "anncrash")
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    ann.build_ann_index(
        half1, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=False
    )
    meta2 = ann.append_ann_index(half2, d)
    # simulate the crash window: roll meta back to the pre-commit state
    meta_rb = dict(meta2)
    meta_rb["applied_deltas"] = []
    meta_rb["n_vectors"] = half1.count()
    with open(f"{d}/meta.json", "w") as fh:
        _json.dump(meta_rb, fh)
    # reader sees ONLY the base (staged rows uncommitted)
    assert ann.AnnIndex(spark, d)._lsh.count() == half1.count()
    # retry re-stages (overwrite) and commits; no duplicates
    meta3 = ann.append_ann_index(half2, d)
    assert len(meta3["applied_deltas"]) == 1
    assert ann.AnnIndex(spark, d)._lsh.count() == emb.count()


def test_build_sweeps_what_a_crashed_append_left(spark, emb, tmp_path):
    """A delta staged by an append that crashed before its meta commit
    is removed by the next build, even one that resumes as a no-op."""
    import json as _json

    d = str(tmp_path / "annsweep")
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    meta = ann.build_ann_index(
        half1, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=False
    )
    ann.append_ann_index(emb.filter(F.col("vec_id") % 2 == 1), d)
    # the crash: the delta is staged, the meta replace never happened
    with open(f"{d}/meta.json", "w") as fh:
        _json.dump(meta, fh)
    assert os.listdir(f"{d}/deltas")
    again = ann.build_ann_index(
        half1, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=True
    )
    assert again["version"] == meta["version"]
    assert again["applied_deltas"] == []
    assert not os.path.exists(f"{d}/deltas")
    assert ann.AnnIndex(spark, d)._lsh.count() == half1.count()


def test_build_fingerprint_is_content_sensitive(spark, emb, tmp_path):
    """Changed embedding VALUES under unchanged ids must invalidate a
    resume (the fingerprint folds in a crc over the vector content)."""
    d = str(tmp_path / "anncontent")
    meta = ann.build_ann_index(
        emb, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=False
    )
    mutated = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: (x * F.lit(2.0)).cast("float")
        ).alias("embedding"),
    )
    again = ann.build_ann_index(
        mutated, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=True
    )
    assert again["fingerprint"] != meta["fingerprint"]


def test_lsh_probe_order_is_total_margin_ascending(built, qvec):
    """Perturbation-set multiprobe (Lv et al.): probes are subsets of
    <= 3 plane flips ordered by total margin, so the probe most
    likely to recover split-off neighbors comes first and pairs of
    near-zero margins outrank a distant single."""
    import itertools

    _d, meta = built
    planes = meta["planes"]
    dots = []
    for p in planes:
        acc = 0.0
        for a, b in zip(qvec, p):
            acc += a * b
        dots.append(acc)
    qsig = sum(2**i for i, d in enumerate(dots) if d > 0)
    # independent reimplementation of the subset ordering
    margins = [abs(d) for d in dots]
    n = len(planes)
    subs = []
    for r in range(1, 4):
        for comb in itertools.combinations(range(n), r):
            total = margins[comb[0]]
            for i in comb[1:]:
                total = total + margins[i]
            subs.append(
                (total, comb + (n,) * (3 - len(comb)), comb)
            )
    subs.sort(key=lambda t: (t[0], t[1]))
    from gxdindexer_spark.operators.similarity import lsh_probe_buckets

    got = lsh_probe_buckets(qvec, planes, probes=8)
    want = [qsig]
    for _, _, comb in subs[:7]:
        m = qsig
        for i in comb:
            m ^= 1 << i
        want.append(m)
    assert got == want
    # first flip is always the single closest plane
    m0 = min(range(n), key=lambda i: (margins[i], i))
    assert got[1] == qsig ^ (1 << m0)
    # margins genuinely differ, so the order is informative
    assert len({round(abs(d), 12) for d in dots}) == len(dots)


def test_lsh_probe_pairs_outrank_distant_singles():
    """Constructed margins where |m0|+|m1| < |m2|: the {0,1} pair
    probe must precede the single-bit flip of plane 2 — the property
    single-bit multiprobe cannot express (it plateaus at n_planes
    probes; subsets keep recall climbing)."""
    from gxdindexer_spark.operators.similarity import lsh_probe_buckets

    # 2-d planes chosen so q=(1,0) has dots 0.01, 0.02, 1.0, -2.0
    planes = [[0.01, 1.0], [0.02, 1.0], [1.0, 0.5], [-2.0, 0.1]]
    q = [1.0, 0.0]
    qsig = 0b0111  # positive dots on planes 0,1,2
    got = lsh_probe_buckets(q, planes, probes=8)
    assert got[0] == qsig
    flip = [b ^ qsig for b in got[1:]]
    # singles {0},{1}, then the pair {0,1} (0.03) before single {2} (1.0)
    assert flip[:4] == [0b0001, 0b0010, 0b0011, 0b0100]
    # 8 probes stay distinct
    assert len(set(got)) == len(got)


def _synth_emb(spark, n=1500, dim=16, n_dups=60, seed=7):
    """Deterministic random unit vectors + planted near-dup pairs
    (tiny perturbation -> cos ~ 0.999)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    V = rng.standard_normal((n, dim))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    dup_src = rng.choice(n, size=n_dups, replace=False)
    D = V[dup_src] + 0.02 * rng.standard_normal((n_dups, dim))
    D /= np.linalg.norm(D, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in V[i]]) for i in range(n)]
    rows += [
        (int(n + j), [float(x) for x in D[j]]) for j in range(n_dups)
    ]
    planted = {(int(s), int(n + j)) for j, s in enumerate(dup_src)}
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("float")).alias(
            "embedding"
        ),
    )
    return df, planted


def test_banded_neardup_bounds_fanin_and_keeps_recall(spark, tmp_path):
    """The scale defect of the single-bucket self-join: candidate
    pairs ~ n^2/2^n_planes, and shrinking buckets (more planes) kills
    recall because a pair must agree on ALL bits. Banding over a
    LARGER persisted signature (agree on ANY rows_per_band-bit slice)
    cuts candidates by orders of magnitude at EQUAL-or-better recall."""
    import itertools

    from collections import Counter

    emb, planted = _synth_emb(spark)

    def candidate_count(buckets, shift_mask_pairs):
        """Exact candidate-pair count for a banded self-join."""
        total = 0
        seen = set()
        for shift, mask in shift_mask_pairs:
            c = Counter((b >> shift) & mask for b in buckets.values())
            total += sum(v * (v - 1) // 2 for v in c.values())
        return total

    # config A: the old shape — 6 planes, one full-signature bucket
    da = str(tmp_path / "a")
    ann.build_ann_index(emb, da, n_planes=6, n_centroids=4, resume=False)
    ia = ann.AnnIndex(spark, da)
    buckets_a = {
        r["vec_id"]: r["bucket"]
        for r in ia._lsh.select("vec_id", "bucket").collect()
    }
    cand_a = candidate_count(buckets_a, [(0, (1 << 6) - 1)])
    pairs_a = {
        (r["id_a"], r["id_b"])
        for r in ia.lsh_neardup_pairs(threshold=0.95).collect()
    }

    # config B: 24 persisted planes, 2 bands x 12 bits
    db = str(tmp_path / "b")
    ann.build_ann_index(emb, db, n_planes=24, n_centroids=4, resume=False)
    ib = ann.AnnIndex(spark, db)
    buckets_b = {
        r["vec_id"]: r["bucket"]
        for r in ib._lsh.select("vec_id", "bucket").collect()
    }
    cand_b = candidate_count(
        buckets_b, [(0, (1 << 12) - 1), (12, (1 << 12) - 1)]
    )
    pairs_b = {
        (r["id_a"], r["id_b"])
        for r in ib.lsh_neardup_pairs_banded(
            threshold=0.95, bands=2, rows_per_band=12
        ).collect()
    }

    # fan-in: an order of magnitude fewer candidate comparisons
    assert cand_b < cand_a / 5
    # recall on the planted near-dup pairs: banded >= single-bucket
    rec_a = len(pairs_a & planted) / len(planted)
    rec_b = len(pairs_b & planted) / len(planted)
    assert rec_b >= rec_a
    assert rec_b >= 0.5
    # every reported pair is a true near-dup and pairs are distinct
    rows = ib.lsh_neardup_pairs_banded(
        threshold=0.95, bands=2, rows_per_band=12
    ).collect()
    assert all(r["cos"] >= 0.95 for r in rows)
    assert len(rows) == len({(r["id_a"], r["id_b"]) for r in rows})


def test_compact_crash_before_meta_commit_leaves_index_consistent(
    spark, emb, tmp_path, monkeypatch
):
    """Compaction writes folded artifacts to NEW versioned dirs and
    the meta replace is the single commit point: a crash after both
    artifact writes but before the meta commit leaves the old meta
    referencing the old, untouched base + delta — readers see exactly
    the pre-compact rows, and the retried compaction commits once
    with no duplicates (ADVICE r3: the in-place swap lost this)."""
    d = str(tmp_path / "anncompcrash")
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    ann.build_ann_index(
        half1, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=False
    )
    ann.append_ann_index(half2, d)
    n_total = emb.count()

    boom = RuntimeError("crash before meta commit")
    real_commit = ann._commit_meta

    def crashing_commit(index_dir, meta):
        raise boom

    monkeypatch.setattr(ann, "_commit_meta", crashing_commit)
    with pytest.raises(RuntimeError, match="crash before meta commit"):
        ann.compact_ann_index(spark, d)
    monkeypatch.setattr(ann, "_commit_meta", real_commit)

    # old meta still references old dirs + delta: reader is whole
    idx = ann.AnnIndex(spark, d)
    assert len(idx.meta["applied_deltas"]) == 1
    assert idx._lsh.count() == n_total
    assert idx._ivf.count() == n_total
    # retry folds exactly once and gc's the orphaned versioned dirs;
    # the PRE-compact snapshot (base dirs + its delta) is RETAINED for
    # one version so in-flight readers finish (ADVICE r4 low)
    meta = ann.compact_ann_index(spark, d)
    assert meta["applied_deltas"] == []
    idx2 = ann.AnnIndex(spark, d)
    assert idx2._lsh.count() == n_total
    assert idx2._ivf.count() == n_total
    live = {meta["lsh_dir"], meta["ivf_dir"]} | set(meta["prev_dirs"])
    on_disk = {
        n
        for n in os.listdir(d)
        if n.startswith(("lsh", "ivf")) and os.path.isdir(f"{d}/{n}")
    }
    assert on_disk == live


def test_replay_of_compacted_delta_is_noop(spark, emb, tmp_path):
    """Exactly-once must survive compaction: a redelivered delta whose
    fingerprint was folded into the base (meta.compacted_deltas) is a
    replay no-op, not a second append (ADVICE r3 low)."""
    d = str(tmp_path / "annreplay")
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    ann.build_ann_index(
        half1, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=False
    )
    ann.append_ann_index(half2, d)
    ann.compact_ann_index(spark, d)
    meta = ann.append_ann_index(half2, d)  # at-least-once redelivery
    assert meta["applied_deltas"] == []
    assert len(meta["compacted_deltas"]) == 1
    assert meta["n_vectors"] == emb.count()
    assert ann.AnnIndex(spark, d)._lsh.count() == emb.count()


def test_ann_writers_hold_the_writer_lock(spark, emb, tmp_path):
    """append/compact/build take the same flock writer lock the text
    index uses: with the lock held (a live concurrent writer), every
    mutating entry point refuses instead of interleaving its
    read-modify-write of meta.json (ADVICE r3 medium)."""
    from gxdindexer_spark.operators.index_build import (
        ConcurrentWriteError,
        _WriterLock,
    )

    d = str(tmp_path / "annlock")
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    ann.build_ann_index(
        half1, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=False
    )
    with _WriterLock(d):
        with pytest.raises(ConcurrentWriteError):
            ann.append_ann_index(half2, d)
        with pytest.raises(ConcurrentWriteError):
            ann.compact_ann_index(spark, d)
        with pytest.raises(ConcurrentWriteError):
            ann.build_ann_index(
                half2, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS,
                resume=False,
            )
    # lock released -> append proceeds
    meta = ann.append_ann_index(half2, d)
    assert len(meta["applied_deltas"]) == 1


def test_ivf_drift_trigger_and_retrain(spark, emb, tmp_path):
    """Appends that pile into one frozen cell trip ivf_drift;
    retrain_if_drifted rebuilds with trained centroids and recall on
    the retrained index is >= the drifted index's recall for a query
    inside the appended cluster."""
    import pandas as pd
    import numpy as np

    d = str(tmp_path / "anndrift")
    dim = len(emb.select("embedding").first()[0])
    meta0 = ann.build_ann_index(
        emb, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=False
    )
    assert not ann.ivf_drift(meta0)["drifted"]

    # a tight off-distribution cluster, larger than the base corpus
    n_base = emb.count()
    rng = np.random.RandomState(7)
    center = rng.randn(dim)
    vecs = center + 0.01 * rng.randn(2 * n_base, dim)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(10_000, 10_000 + len(vecs)),
            "embedding": [
                [float(x) for x in v.astype(np.float32)] for v in vecs
            ],
        }
    )
    delta = spark.createDataFrame(pdf).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    meta1 = ann.append_ann_index(delta, d)
    drift = ann.ivf_drift(meta1)
    assert drift["appended_frac"] > 0.5
    assert drift["drifted"]

    full = emb.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    ).unionByName(delta)
    qvec = [float(x) for x in (center + 0.01 * rng.randn(dim))]
    exact = {
        r["vec_id"] for r in similarity.cosine_topk(full, qvec, k=10).collect()
    }
    drifted_hits = {
        r["vec_id"]
        for r in ann.AnnIndex(spark, d).ivf_topk(qvec, k=10, nprobe=2).collect()
    }
    meta2, retrained = ann.retrain_if_drifted(full, d, kmeans_iters=3)
    assert retrained
    assert not ann.ivf_drift(meta2)["drifted"]
    retrained_hits = {
        r["vec_id"]
        for r in ann.AnnIndex(spark, d).ivf_topk(qvec, k=10, nprobe=2).collect()
    }
    assert len(retrained_hits & exact) >= len(drifted_hits & exact)
    # a second call is a no-op (fresh build counts, nothing appended)
    _, again = ann.retrain_if_drifted(full, d, kmeans_iters=3)
    assert not again


def test_append_dedup_ids_drops_overlap_and_prunes_partitions(
    spark, emb, tmp_path
):
    """``dedup_ids=True`` (the streaming-ingest guard, VERDICT r4 #1 +
    ADVICE r4 medium): a delta overlapping already-indexed vec_ids
    appends only the fresh rows; a fully-redelivered (re-batched)
    delta is a no-op with NO meta commit; and the guard's existing-ids
    scan is partition-pruned to the batch's own buckets — never a full
    index scan."""
    import json as _json

    d = str(tmp_path / "anndedup")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    rest = emb.filter(F.col("vec_id") % 3 != 0)
    ann.build_ann_index(
        base, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=False
    )
    # overlap: the delta re-delivers half the base plus all fresh rows
    overlap = base.filter(F.col("vec_id") % 2 == 0)
    meta = ann.append_ann_index(
        overlap.unionByName(rest), d, dedup_ids=True
    )
    assert meta["n_vectors"] == emb.count()  # only fresh rows added
    assert ann.AnnIndex(spark, d)._lsh.count() == emb.count()
    # full redelivery (re-batched: ONE delta holding every row) is a
    # no-op that commits nothing
    before = _json.load(open(f"{d}/meta.json"))
    meta2 = ann.append_ann_index(emb, d, dedup_ids=True)
    after = _json.load(open(f"{d}/meta.json"))
    assert before == after == meta2
    assert ann.AnnIndex(spark, d)._lsh.count() == emb.count()
    # guard plan: the existing-ids side carries a bucket partition
    # IN-list (pruned at file listing), so the per-batch cost is
    # O(collision buckets) not O(index)
    batch_buckets = sorted(
        int(r["bucket"])
        for r in ann.AnnIndex(spark, d)
        ._lsh.filter(F.col("vec_id") % 7 == 0)
        .select("bucket")
        .distinct()
        .collect()
    )[:2]
    guard = ann._existing_ids_for_buckets(spark, d, after, batch_buckets)
    pf = _partition_filters(guard)
    assert "bucket" in pf and " IN " in pf
    for b in batch_buckets:
        assert str(b) in pf
    assert _observed_buckets(guard, "bucket") <= set(batch_buckets)


def test_compaction_retains_previous_snapshot_for_readers(
    spark, emb, tmp_path
):
    """Snapshot retention (ADVICE r4 low): an AnnIndex opened BEFORE a
    compaction keeps working after it (the replaced dirs + the delta
    dirs it unions survive one version); the NEXT maintenance commit
    sweeps them."""
    d = str(tmp_path / "anngrace")
    third0 = emb.filter(F.col("vec_id") % 3 == 0)
    third1 = emb.filter(F.col("vec_id") % 3 == 1)
    third2 = emb.filter(F.col("vec_id") % 3 == 2)
    ann.build_ann_index(
        third0, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS, resume=False
    )
    ann.append_ann_index(third1, d)
    reader = ann.AnnIndex(spark, d)  # holds base v0 + delta plans
    n_pre = third0.count() + third1.count()
    meta_c1 = ann.compact_ann_index(spark, d)
    # pre-compact reader's lazy plans still evaluate (old dirs retained)
    assert reader._lsh.count() == n_pre
    assert set(meta_c1["prev_dirs"]) == {"lsh", "ivf"}
    assert os.path.isdir(f"{d}/lsh") and os.path.isdir(f"{d}/ivf")
    assert os.path.isdir(f"{d}/deltas")  # the folded delta's staging dir
    # second maintenance cycle: append + compact again -> v0 swept
    ann.append_ann_index(third2, d)
    meta_c2 = ann.compact_ann_index(spark, d)
    assert not os.path.isdir(f"{d}/lsh") and not os.path.isdir(f"{d}/ivf")
    live = {meta_c2["lsh_dir"], meta_c2["ivf_dir"]} | set(
        meta_c2["prev_dirs"]
    )
    on_disk = {
        n
        for n in os.listdir(d)
        if n.startswith(("lsh", "ivf")) and os.path.isdir(f"{d}/{n}")
    }
    assert on_disk == live
    # fresh reader sees everything exactly once
    assert ann.AnnIndex(spark, d)._lsh.count() == emb.count()


def test_filtered_ann_pushes_predicate_into_pruned_scan(
    spark, emb, tmp_path
):
    """Filtered vector search (VERDICT r4 #5): attributes stored in
    the index rows (build_ann_index(attr_cols=...)) let a metadata
    predicate ride the SAME partition-pruned bucket scan — the plan
    keeps the bucket PartitionFilters AND pushes the attr comparison
    into the parquet source; results equal brute-force filtered
    cosine over the probed candidates."""
    import contextlib
    import io

    full = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    d = str(tmp_path / "annattr")
    ann.build_ann_index(
        full, d, n_planes=N_PLANES, n_centroids=N_CENTROIDS,
        resume=False, attr_cols=("label",),
    )
    idx = ann.AnnIndex(spark, d)
    qvec = [
        float(v)
        for v in full.filter(F.col("vec_id") == 0)
        .select("embedding").first()[0]
    ]
    out = idx.lsh_topk(qvec, k=10, probes=4, where="label < 5")
    got = out.collect()
    # oracle: same candidates (probed buckets via the inline operator's
    # signature), filtered, exact cosine
    cand = idx.lsh_candidates(qvec, probes=4).filter(F.col("label") < 5)
    expect = similarity.cosine_topk(cand, qvec, k=10).collect()
    assert got == expect and got
    labels = {
        r["label"] for r in full.filter(
            F.col("vec_id").isin([int(x["vec_id"]) for x in got])
        ).select("label").collect()
    }
    assert labels and all(lb < 5 for lb in labels)
    # plan: partition pruning retained + attr predicate pushed to scan
    pf = _partition_filters(out)
    assert "bucket" in pf and " IN " in pf
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    pushed = [
        ln for ln in buf.getvalue().splitlines() if "PushedFilters" in ln
    ]
    assert any("label" in ln and "LessThan" in ln for ln in pushed)
    # IVF artifact carries the attrs too: same where= contract
    got_ivf = idx.ivf_topk(qvec, k=10, nprobe=3, where="label < 5").collect()
    cand_ivf = idx.ivf_candidates(qvec, nprobe=3).filter(F.col("label") < 5)
    assert got_ivf == similarity.cosine_topk(cand_ivf, qvec, k=10).collect()
    assert got_ivf
    # appends must carry the stored attr columns
    with pytest.raises(ValueError, match="attr columns"):
        ann.append_ann_index(
            full.select("vec_id", "embedding").limit(5), d
        )
