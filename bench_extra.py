"""Targeted micro-benchmarks for optimization work (guide §1.4) —
bench.py is FROZEN for the driver's measurement; everything here is
extra evidence cited in OPTIMIZATION_r06.md.

Each subcommand isolates one operator family at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf1.0 — the driver's measured scale) using the
SAME actions bench.py times (count()/collect()), labelled via
setJobDescription, min-of-reps where re-running doesn't mutate state.

Usage: python bench_extra.py <subcmd> [...]   (prints one JSON line)
Subcommands: neardup, dedup, textstats, entry <name...>, serving,
ann_build, builder, commit_crossover

``commit_crossover`` needs no $SPARK_GRAFT_SF_DIR: it builds its own
corpus with sources/synth.py and writes BENCH/commit_crossover.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from gxdindexer_spark.session import get_spark  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _timed(timings: dict, name: str, fn, reps: int = 2) -> None:
    best = None
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    timings[name] = round(best, 3)


def _emit(sub: str, timings: dict) -> None:
    print(
        json.dumps(
            {
                "bench_extra": sub,
                "sf_dir": SF_DIR,
                "cpus": int(CPUS),
                "loadavg": round(os.getloadavg()[0], 2),
                "timings": timings,
            }
        )
    )


def cmd_neardup(spark) -> dict:
    """The bench.py ANN/near-dup block shape, isolated."""
    from gxdindexer_spark.operators import ann

    emb = entrymod._t(spark, SF_DIR, "embeddings")
    ann_dir = f"/tmp/gxdann_bx_{os.path.basename(os.path.normpath(SF_DIR))}"
    t: dict = {}
    shutil.rmtree(ann_dir, ignore_errors=True)
    t0 = time.monotonic()
    ann.build_ann_index(emb, ann_dir, n_planes=6, n_centroids=8,
                        resume=False, attr_cols=("label",))
    t["ann_index_build"] = round(time.monotonic() - t0, 3)
    aidx = ann.AnnIndex(spark, ann_dir)
    spark.sparkContext.setJobDescription("neardup lsh 2x3")
    _timed(t, "embedding_neardup_lsh",
           lambda: aidx.lsh_neardup_pairs_banded(
               threshold=0.3, bands=2, rows_per_band=3).count())
    spark.sparkContext.setJobDescription("neardup banded 3x2")
    _timed(t, "embedding_neardup_banded",
           lambda: aidx.lsh_neardup_pairs_banded(
               threshold=0.3, bands=3, rows_per_band=2).count())
    spark.sparkContext.setJobDescription(None)
    return t


def cmd_dedup(spark) -> dict:
    qs = entrymod.queries()
    t: dict = {}
    for name in ("dedup_fingerprint", "doc_signatures", "minhash_lsh_pairs",
                 "textstats_composite", "lang_id", "tokenize_tf_top50",
                 "hybrid_rrf_topk"):
        fn = qs[name]
        spark.sparkContext.setJobDescription(name)
        _timed(t, name, lambda fn=fn: fn(spark, SF_DIR).count())
    spark.sparkContext.setJobDescription(None)
    return t


def cmd_entry(spark, names: list[str]) -> dict:
    qs = entrymod.queries()
    t: dict = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(name)
        _timed(t, name, lambda fn=fn: fn(spark, SF_DIR).count())
    spark.sparkContext.setJobDescription(None)
    return t


def cmd_serving(spark) -> dict:
    """bench.py's BM25 serving block, isolated (index resumed from the
    bench dir if present, else built)."""
    from gxdindexer_spark.operators.index_build import IndexBuilder
    from gxdindexer_spark.operators.query import IndexQueryEngine

    idx = f"/tmp/gxdidx_bx_{os.path.basename(os.path.normpath(SF_DIR))}"
    IndexBuilder(
        fields={"content": "simple"}, docs_per_shard=1000,
        salt_range=512, block_size=128,
    ).build(entrymod._docs_for_index(spark, SF_DIR), idx, resume=True)
    eng = IndexQueryEngine(spark, idx)
    t: dict = {}
    q = "spark join table group"
    eng.topk(q, k=20, mode="taat").collect()  # warm
    for name, fn in (
        ("bm25_taat", lambda: eng.topk(q, k=20, mode="taat").collect()),
        ("bm25_wand", lambda: eng.topk(q, k=20, mode="wand").collect()),
        ("bm25_wildcard", lambda: eng.topk("st* join", k=20, mode="taat").collect()),
        ("bm25_filtered", lambda: eng.topk(
            q, k=20, where=entrymod.FILTER_WHERE).collect()),
        ("bm25_sorted", lambda: eng.sorted_matches(
            q, by="n_chars", k=15, offset=5, ascending=False).collect()),
        ("facet_counts_stored", lambda: eng.facet_counts_stored(
            "st* join", by="source").collect()),
        ("facet_stats", lambda: eng.facet_stats_stored(
            "st* join", on="n_chars", by="lang").collect()),
        ("export_matches", lambda: eng.export_matches(
            q, by="n_chars").count()),
        ("bm25_grouped", lambda: eng.grouped_topk(
            q, by="source", k_groups=4, k_per_group=3).collect()),
    ):
        spark.sparkContext.setJobDescription(name)
        _timed(t, name, fn, reps=3)
    spark.sparkContext.setJobDescription(None)
    return t


def cmd_builder(spark) -> dict:
    """Cold index build + positional build, the bench.py shape
    (1-shot each; ``perfbench/run.py --trace 1`` reports the per-layer
    breakdown of a build)."""
    from gxdindexer_spark.operators.index_build import IndexBuilder

    t: dict = {}
    for tag, pos in (("plain", False), ("pos", True)):
        idx = f"/tmp/gxdidx_bxbuild_{tag}"
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.monotonic()
        IndexBuilder(
            fields={"content": "simple"}, docs_per_shard=1000,
            salt_range=512, block_size=128, with_positions=pos,
        ).build(entrymod._docs_for_index(spark, SF_DIR), idx, resume=False)
        t[f"index_build_{tag}"] = round(time.monotonic() - t0, 3)
    return t


def cmd_ann_build(spark) -> dict:
    from gxdindexer_spark.operators import ann

    emb = entrymod._t(spark, SF_DIR, "embeddings")
    ann_dir = "/tmp/gxdann_bxbuild"
    t: dict = {}
    shutil.rmtree(ann_dir, ignore_errors=True)
    t0 = time.monotonic()
    ann.build_ann_index(emb, ann_dir, n_planes=6, n_centroids=8,
                        resume=False, attr_cols=("label",))
    t["ann_index_build"] = round(time.monotonic() - t0, 3)
    aidx = ann.AnnIndex(spark, ann_dir)
    qvec = entrymod._query_vec(spark, SF_DIR)
    _timed(t, "ann_lsh_topk", lambda: aidx.lsh_topk(qvec, k=10, probes=3).collect())
    _timed(t, "ann_ivf_topk", lambda: aidx.ivf_topk(qvec, k=10, nprobe=3).collect())
    return t


def cmd_mutate(spark) -> dict:
    """bench.py's federated + incremental-maintenance tail, isolated
    (1-shot mutations on a fresh build, same params as bench.py)."""
    from gxdindexer_spark.operators.federated import FederatedQueryEngine
    from gxdindexer_spark.operators.index_build import (
        IndexBuilder, delete_docs, update_docs,
    )

    t: dict = {}
    idx = "/tmp/gxdidx_bxmut"
    builder = IndexBuilder(
        fields={"content": "simple"}, docs_per_shard=1000,
        salt_range=512, block_size=128,
    )
    shutil.rmtree(idx, ignore_errors=True)
    t0 = time.monotonic()
    m = builder.build(entrymod._docs_for_index(spark, SF_DIR), idx,
                      resume=False)
    t["index_build"] = round(time.monotonic() - t0, 3)
    fed_dirs = []
    t0 = time.monotonic()
    for tag, par in (("_fedA", 0), ("_fedB", 1)):
        shutil.rmtree(idx + tag, ignore_errors=True)
        IndexBuilder(
            fields={"content": "simple"}, docs_per_shard=1000,
            salt_range=512, block_size=128,
        ).build(
            entrymod._docs_for_index(spark, SF_DIR).filter(
                F.col("doc_id") % 2 == par
            ),
            idx + tag, resume=True,
        )
        fed_dirs.append(idx + tag)
    t["fed_build_2members"] = round(time.monotonic() - t0, 3)
    fed = FederatedQueryEngine(spark, fed_dirs)
    _timed(t, "bm25_federated",
           lambda: fed.topk("spark join table group", k=20).collect())
    n_sh = m["shards_total"]
    delta = (
        entrymod._docs_for_index(spark, SF_DIR)
        .filter(F.col("shard") == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(n_sh * 1000))
        .withColumn("shard", (F.col("doc_id") / 1000).cast("int"))
    )
    t0 = time.monotonic()
    m_app = builder.build(delta, idx, resume=True, append=True)
    t["index_append_1shard"] = round(time.monotonic() - t0, 3)
    assert m_app["finalize_mode"] == "incremental", m_app
    t0 = time.monotonic()
    delete_docs(spark, idx, builder, [10, 11, 1500],
                assume_dense_shards=True)
    t["delete_docs_2shards"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    update_docs(spark, idx, builder,
                {20: {"content": "spark table join group window merge"}},
                assume_dense_shards=True)
    t["update_content_1shard"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    update_docs(spark, idx, builder,
                {21: {"n_chars": 123456}, 2200: {"n_chars": 654321}},
                assume_dense_shards=True)
    t["update_attrs_docvalues"] = round(time.monotonic() - t0, 3)
    return t


def cmd_commit_crossover(spark) -> dict:
    """Local vs Spark commit backend, per commit kind, over the docs a
    commit re-indexes or rewrites (the quantity the guard
    ``index_build.LOCAL_MAX_COMMIT_DOCS`` bounds): appends of new
    shards, deletes (2 docs a shard), content updates and stored-
    attribute updates (1 doc a shard) over ``shards`` dense shards,
    and compaction of the whole index, on bases with about 0.9k, 5.5k
    and 20k dictionary rows. Each cell times the commit on a fresh copy
    of the base on each backend (median of 5 after one warm-up) and
    writes BENCH/commit_crossover.json."""
    import statistics

    import pyarrow.parquet as pq

    from gxdindexer_spark.operators import index_build
    from gxdindexer_spark.operators.index_build import IndexBuilder
    from gxdindexer_spark.snapshot import Snapshot
    from gxdindexer_spark.sources.synth import generate_corpus
    from gxdindexer_spark.sources.tables import prepare_docs

    dps, reps = 80, 5
    # base docs -> (kind, shards touched, docs appended) cells
    plan = {
        240: [("append", 1, 80), ("append", 4, 320), ("compact", 0, 0)],
        4800: [
            *[("append", k, k * dps) for k in (1, 4, 8, 16, 32)],
            # 16 shards' worth of docs in 4 shards: fewer posting lists
            ("append", 4, 16 * dps),
            *[("delete", k, 0) for k in (1, 4, 8, 16)],
            *[("update", k, 0) for k in (1, 4, 8, 16)],
            *[("attrs", k, 0) for k in (1, 16, 60)],
            ("compact", 0, 0),
        ],
        19200: [
            ("append", 1, 80), ("append", 8, 8 * dps), ("delete", 8, 0),
            ("compact", 0, 0),
        ],
    }
    work = "/tmp/gxdidx_bxcross"
    shutil.rmtree(work, ignore_errors=True)
    builder = IndexBuilder(docs_per_shard=dps, with_positions=True)
    n_max = max(plan) + max(n for cells in plan.values() for *_, n in cells)
    docs = (
        prepare_docs(generate_corpus(spark, n_max, seed=5), docs_per_shard=dps)
        .withColumn("n_chars", F.length("content").cast("long"))
        .toPandas()
    )
    schema = spark.createDataFrame(docs.head(1)).schema

    def commit(kind: str, idx: str, n_base: int, k: int, n_app: int):
        """-> (the commit to time, the docs it re-indexes or rewrites)."""
        first = [s * dps for s in range(k)]
        if kind == "append":
            delta = docs[
                (docs["doc_id"] >= n_base) & (docs["doc_id"] < n_base + n_app)
            ].copy()
            delta["shard"] = (
                n_base // dps + (delta["doc_id"] - n_base) % k
            ).astype("int32")
            df = spark.createDataFrame(delta, schema)
            return lambda: builder.build(df, idx, append=True), n_app
        if kind == "delete":
            ids = [d + j for d in first for j in (1, 2)]
            return lambda: index_build.delete_docs(
                spark, idx, builder, ids, assume_dense_shards=True
            ), k * dps
        if kind in ("update", "attrs"):
            upd = {
                d + 3: (
                    {"content": f"def getIndexList{d}(): return {d}"}
                    if kind == "update"
                    else {"n_chars": d}
                )
                for d in first
            }
            return lambda: index_build.update_docs(
                spark, idx, builder, upd, assume_dense_shards=True
            ), k * dps
        return lambda: index_build.compact_index(spark, idx), n_base

    cells = []
    for n_base, todo in plan.items():
        base = f"{work}/base{n_base}"
        builder.build(
            spark.createDataFrame(docs[docs["doc_id"] < n_base], schema),
            base, resume=False,
        )
        dict_rows = pq.read_table(
            Snapshot.load(base).path("dictionary"), columns=["term_id"]
        ).num_rows
        for kind, k, n_app in todo:
            cell = {"kind": kind, "base_docs": n_base, "dict_rows": dict_rows,
                    "shards": k}
            for backend, guard in (("local", 1 << 30), ("spark", -1)):
                index_build.LOCAL_MAX_COMMIT_DOCS = guard
                runs = []
                for _ in range(reps + 1):
                    idx = f"{work}/run"
                    shutil.rmtree(idx, ignore_errors=True)
                    shutil.copytree(base, idx)
                    fn, cell["docs"] = commit(kind, idx, n_base, k, n_app)
                    t0 = time.monotonic()
                    m = fn()
                    runs.append(time.monotonic() - t0)
                    assert m.get("backend", backend) == backend, m
                cell[f"{backend}_s"] = round(statistics.median(runs[1:]), 3)
            cell["local_wins"] = cell["local_s"] < cell["spark_s"]
            print(json.dumps(cell), file=sys.stderr, flush=True)
            cells.append(cell)
    shutil.rmtree(work, ignore_errors=True)
    out = {
        "what": "commit wall time, local vs Spark backend, by commit kind "
        "and docs re-indexed or rewritten",
        "docs_per_shard": dps, "reps": f"median of {reps} after 1 warm-up",
        "local": f"local[{spark.sparkContext.defaultParallelism}]",
        "cells": cells,
    }
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    with open(f"{path}/commit_crossover.json", "w") as fh:
        json.dump(out, fh, indent=1)
    return {
        f"{c['kind']}_{c['base_docs']}b_{c['docs']}d_{c['shards']}s": [
            c["local_s"], c["spark_s"]
        ]
        for c in cells
    }


def main() -> int:
    sub = sys.argv[1]
    spark = get_spark(app_name=f"bench-extra-{sub}", master=f"local[{CPUS}]")
    spark.range(1000).selectExpr("sum(id)").collect()  # warm
    if sub == "commit_crossover":
        _emit(sub, cmd_commit_crossover(spark))
        spark.stop()
        return 0
    entrymod._t(spark, SF_DIR, "documents").count()
    if sub == "neardup":
        t = cmd_neardup(spark)
    elif sub == "dedup":
        t = cmd_dedup(spark)
    elif sub == "entry":
        t = cmd_entry(spark, sys.argv[2:])
    elif sub == "serving":
        t = cmd_serving(spark)
    elif sub == "builder":
        t = cmd_builder(spark)
    elif sub == "ann_build":
        t = cmd_ann_build(spark)
    elif sub == "mutate":
        t = cmd_mutate(spark)
    else:
        raise SystemExit(f"unknown subcommand {sub!r}")
    _emit(sub, t)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
