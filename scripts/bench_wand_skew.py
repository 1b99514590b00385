"""Skewed-corpus pruning evidence: a rare needle term + stopword lists.

The vectorized block-max MaxScore path (operators/wand.py) wins when
term frequencies are skewed: the rare high-idf term drives theta up,
the long stopword lists land non-essential, and most of their blocks
are bounded via skip pointers instead of decoded.

Corpus: n docs of ~30 stopword tokens; every 2000th doc also contains
``needletoken`` (df = n/2000). Query = needle + three stopwords.
Reports BOTH end-to-end Spark p50 (dominated by scan+shuffle of the
stopword payloads, identical for both modes) and per-shard COMPUTE
latency (the part pruning actually changes), to BENCH/wand_skew.json.

Usage: python scripts/bench_wand_skew.py [n_docs] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gxdindexer_spark.operators.index_build import IndexBuilder  # noqa: E402
from gxdindexer_spark.operators.query import IndexQueryEngine  # noqa: E402
from gxdindexer_spark.session import get_spark  # noqa: E402

STOPS = (
    "the of and to in is that for a it on as are with be this have from "
    "or by not at but was were which"
).split()
QUERY = "needletoken the if return"
REPS = 5


def make_docs(spark, n: int, docs_per_shard: int):
    """Deterministic needle corpus, pure Spark expressions."""
    base = " ".join(STOPS)
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(base + " if return value "),
            # vary dl a little so tf-norms differ
            F.repeat(F.lit("data row "), (F.col("id") % 7).cast("int")),
            F.when(F.col("id") % 200 == 0, F.lit(" needletoken")).otherwise(
                F.lit("")
            ),
        ).alias("content"),
    ).select(
        "doc_id",
        "content",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        (F.col("doc_id") / docs_per_shard).cast("int").alias("shard"),
    )


def compute_only(idx: str, n_docs: int) -> dict:
    """Per-shard scoring latency, no Spark: load shard 0's query-term
    postings and time taat vs wand directly."""
    import duckdb

    from gxdindexer_spark.functions import bm25, hashing
    from gxdindexer_spark.operators import wand as W
    from gxdindexer_spark.snapshot import Snapshot

    snap = Snapshot.load(idx)
    dict_p, cs_p = snap.path("dictionary"), snap.path("corpus_stats")
    post0 = snap.shards("postings")[0]
    con = duckdb.connect()
    terms = QUERY.split()
    tids = {t: hashing.term_id(t) for t in terms}
    in_list = ",".join(f"'{t}'" for t in terms)
    d = con.sql(
        f"SELECT term, term_id, df FROM '{dict_p}/*.parquet' "
        f"WHERE term IN ({in_list})"
    ).df()
    cs = con.sql(f"SELECT * FROM '{cs_p}/*.parquet'").df()
    n_total, avgdl = float(cs.n_docs[0]), float(cs.avgdl[0])
    tid_list = ",".join(str(v) for v in tids.values())
    pdf = con.sql(
        f"SELECT * FROM '{post0}/*.parquet' "
        f"WHERE term_id IN ({tid_list})"
    ).df()
    pdf["field"] = "content"
    pdf["shard"] = 0
    weights = {
        ("content", int(r.term_id)): float(bm25.idf(n_total, r.df))
        for r in d.itertuples()
    }
    spec = W.QuerySpec(term_weights=weights, avgdl={"content": avgdl})
    out = {}
    ids_by_mode = {}
    for fn, name in ((W.taat, "taat"), (W.wand, "wand")):
        fn(pdf, spec, 20)  # warm
        t0 = time.perf_counter()
        for _ in range(20):
            ids, _sc = fn(pdf, spec, 20)
        out[f"{name}_compute_ms"] = round(
            (time.perf_counter() - t0) / 20 * 1000, 3
        )
        ids_by_mode[name] = ids.tolist()
    assert ids_by_mode["taat"] == ids_by_mode["wand"], "rank mismatch"
    out["compute_speedup"] = round(
        out["taat_compute_ms"] / out["wand_compute_ms"], 3
    )
    return out


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH/wand_skew.json"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="wand-skew", master=f"local[{cpus}]")
    idx = f"/tmp/gxdidx_needle_{n_docs}"
    shutil.rmtree(idx, ignore_errors=True)
    docs_per_shard = n_docs // 4
    docs = make_docs(spark, n_docs, docs_per_shard)
    t0 = time.monotonic()
    IndexBuilder(
        fields={"content": "simple"},
        docs_per_shard=docs_per_shard,
        salt_range=4096,
        block_size=128,
    ).build(docs, idx, resume=False)
    result: dict = {
        "n_docs": n_docs,
        "needle_df": n_docs // 200,
        "build_sec": round(time.monotonic() - t0, 3),
        "cpus": int(cpus),
        "query": QUERY,
    }
    eng = IndexQueryEngine(spark, idx)
    for mode in ("taat", "wand"):
        lats = []
        for _ in range(REPS):
            t0 = time.monotonic()
            eng.topk(QUERY, k=20, mode=mode, fields=["content"]).collect()
            lats.append(time.monotonic() - t0)
        lats.sort()
        result[f"{mode}_e2e_p50"] = round(lats[len(lats) // 2], 3)
        result[f"{mode}_e2e_min"] = round(lats[0], 3)
    spark.stop()
    result.update(compute_only(idx, n_docs))
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=2)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
