"""Common-token phrase evidence: the batched frontier expansion keeps
PhraseQuery in numpy when the candidate set is ~the whole shard.

Round 2's phrase scorer looped `for doc in common:` calling a
vectorized-per-doc sloppy-pf — the same defect class round-1 WAND had
(interpreter-bound on a 100k-doc shard when the phrase terms are
common). Round 3 lifts the frontier expansion ACROSS docs
(wand._phrase_freqs_batch): one searchsorted pair per term serves all
candidate docs at once.

Corpus: n docs, every doc contains the phrase tokens "if return" (both
adjacent and gapped occurrences), so the candidate intersection is the
FULL shard — the worst case. Reports per-shard COMPUTE latency for:
  * taat          — the 2 terms scored as a plain OR (the floor: what
                    any scorer must pay to touch the postings),
  * phrase_batch  — the shipped vectorized phrase scorer,
  * phrase_perdoc — the round-2 per-doc loop, re-created inline, as
                    the before/after evidence,
plus end-to-end Spark p50s for the phrase query. -> BENCH/phrase_skew.json

Usage: python scripts/bench_phrase_skew.py [n_docs] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from gxdindexer_spark.operators.index_build import IndexBuilder  # noqa: E402
from gxdindexer_spark.operators.query import IndexQueryEngine  # noqa: E402
from gxdindexer_spark.session import get_spark  # noqa: E402

PHRASE = "if return"
SLOP = 2
REPS = 5


def make_docs(spark, n: int, docs_per_shard: int):
    """Every doc holds adjacent AND gapped 'if return' pairs; filler
    varies dl so tf-norms differ."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("if return value while if x return the of and "),
            F.repeat(F.lit("data row "), (F.col("id") % 7).cast("int")),
            F.when(
                F.col("id") % 3 == 0, F.lit(" if return if gap return")
            ).otherwise(F.lit(" loop end")),
        ).alias("content"),
    ).select(
        "doc_id",
        "content",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        (F.col("doc_id") / docs_per_shard).cast("int").alias("shard"),
    )


def _load_shard0(idx: str):
    import duckdb

    from gxdindexer_spark.functions import bm25, hashing
    from gxdindexer_spark.snapshot import Snapshot

    snap = Snapshot.load(idx)
    dict_p, cs_p = snap.path("dictionary"), snap.path("corpus_stats")
    post0 = snap.shards("postings")[0]
    con = duckdb.connect()
    terms = PHRASE.split()
    tids = [hashing.term_id(t) for t in terms]
    in_list = ",".join(f"'{t}'" for t in terms)
    d = con.sql(
        f"SELECT term, df FROM '{dict_p}/*.parquet' "
        f"WHERE term IN ({in_list})"
    ).df()
    cs = con.sql(f"SELECT * FROM '{cs_p}/*.parquet'").df()
    n_total, avgdl = float(cs.n_docs[0]), float(cs.avgdl[0])
    tid_list = ",".join(str(v) for v in tids)
    pdf = con.sql(
        f"SELECT * FROM '{post0}/*.parquet' "
        f"WHERE term_id IN ({tid_list})"
    ).df()
    pdf["field"] = "content"
    pdf["shard"] = 0
    idf_sum = float(
        sum(bm25.idf(n_total, df) for df in d["df"])
    )
    return pdf, tids, idf_sum, avgdl, n_total


def _perdoc_reference(pdf, tids, field, idf_sum, avgdl, k, slop):
    """The round-2 shape: decode per term, then a python loop over the
    candidate intersection calling _sloppy_pf per doc."""
    from gxdindexer_spark.functions import bm25
    from gxdindexer_spark.functions.codec import posting_list_from_row
    from gxdindexer_spark.operators import wand as W

    by_tid = {}
    for r in pdf.itertuples():
        tid = int(r.term_id)
        if r.field == field and tid in set(tids) and tid not in by_tid:
            pl = posting_list_from_row(str(tid), r._asdict())
            docs, _tfs, dls = pl.decode_all()
            by_tid[tid] = (docs, dls, pl.decode_all_positions())
    common = by_tid[tids[0]][0]
    for t in tids[1:]:
        common = np.intersect1d(common, by_tid[t][0], assume_unique=True)
    out_docs, out_scores = [], []
    d0, dl0, _p0 = by_tid[tids[0]]
    for doc in common:
        pos_lists = [
            by_tid[t][2][int(np.searchsorted(by_tid[t][0], doc))]
            for t in tids
        ]
        pf = W._sloppy_pf(pos_lists, slop)
        if pf > 0.0:
            dl = float(dl0[int(np.searchsorted(d0, doc))])
            out_docs.append(int(doc))
            out_scores.append(
                idf_sum * float(bm25.tf_norm(pf, dl, avgdl))
            )
    return W._topk_from_scores(
        np.asarray(out_docs, np.int64),
        np.asarray(out_scores, np.float64),
        k,
    )


def compute_only(idx: str) -> dict:
    from gxdindexer_spark.operators import wand as W

    pdf, tids, idf_sum, avgdl, n_total = _load_shard0(idx)
    out = {}

    # floor: the same two terms scored as a plain OR (TAAT)
    from gxdindexer_spark.functions import bm25

    weights = {("content", t): 1.0 for t in tids}
    spec = W.QuerySpec(term_weights=weights, avgdl={"content": avgdl})
    W.taat(pdf, spec, 20)
    t0 = time.perf_counter()
    for _ in range(10):
        W.taat(pdf, spec, 20)
    out["taat_compute_ms"] = round((time.perf_counter() - t0) / 10 * 1000, 3)

    W.phrase_topk_shard(pdf, tids, "content", idf_sum, avgdl, 20, slop=SLOP)
    t0 = time.perf_counter()
    for _ in range(10):
        ids_b, sc_b = W.phrase_topk_shard(
            pdf, tids, "content", idf_sum, avgdl, 20, slop=SLOP
        )
    out["phrase_batch_compute_ms"] = round(
        (time.perf_counter() - t0) / 10 * 1000, 3
    )

    t0 = time.perf_counter()
    ids_r, sc_r = _perdoc_reference(
        pdf, tids, "content", idf_sum, avgdl, 20, SLOP
    )
    out["phrase_perdoc_compute_ms"] = round(
        (time.perf_counter() - t0) * 1000, 3
    )
    assert ids_b.tolist() == ids_r.tolist(), "batch != per-doc reference"
    np.testing.assert_allclose(sc_b, sc_r, rtol=1e-9)
    out["batch_vs_perdoc_speedup"] = round(
        out["phrase_perdoc_compute_ms"] / out["phrase_batch_compute_ms"], 2
    )
    out["batch_vs_taat_ratio"] = round(
        out["phrase_batch_compute_ms"] / out["taat_compute_ms"], 2
    )
    return out


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH/phrase_skew.json"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="phrase-skew", master=f"local[{cpus}]")
    idx = f"/tmp/gxdidx_phrase_{n_docs}"
    shutil.rmtree(idx, ignore_errors=True)
    docs_per_shard = n_docs // 4
    docs = make_docs(spark, n_docs, docs_per_shard)
    t0 = time.monotonic()
    IndexBuilder(
        fields={"content": "simple"},
        docs_per_shard=docs_per_shard,
        salt_range=4096,
        block_size=128,
        with_positions=True,
    ).build(docs, idx, resume=False)
    result: dict = {
        "n_docs": n_docs,
        "phrase": PHRASE,
        "slop": SLOP,
        "candidate_docs": "all (every doc matches both terms)",
        "build_sec": round(time.monotonic() - t0, 3),
        "cpus": int(cpus),
    }
    eng = IndexQueryEngine(spark, idx)
    lats = []
    for _ in range(REPS):
        t0 = time.monotonic()
        eng.phrase_topk(PHRASE, k=20, field="content", slop=SLOP).collect()
        lats.append(time.monotonic() - t0)
    lats.sort()
    result["phrase_e2e_p50"] = round(lats[len(lats) // 2], 3)
    result["phrase_e2e_min"] = round(lats[0], 3)
    spark.stop()
    result.update(compute_only(idx))
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=2)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
