"""Fuzzy expansion at web-vocabulary scale: 1M dictionary terms,
UNCACHED path (no driver dict), measuring the r5 n-gram-pruned plan
(VERDICT r4 #6) against the r4 length-band plan it replaces.

The expansion path touches ONLY the dictionary artifacts, so instead
of building a 1M-doc index (~10 min) the script builds a tiny real
index and swaps in a synthetic 1M-term ``dictionary`` +
``dictionary_ngrams`` (written with the SAME layout discipline as
finalize: ngram rows range-partitioned + sorted by (field, gram)).
Planted near-variants of the probe terms make the expansions
non-trivial.

Evidence recorded per probe (-> BENCH/fuzzy_scale.json):
  * cold/warm wall seconds of ``expand_fuzzy`` (gram tier);
  * ``candidate_rows``   — rows surviving the gram IN-list + length
    band (what the gram plan aggregates);
  * ``band_rows``        — rows the OLD plan's length band alone
    admits (what tier 2 scans);
  * ``band_warm_sec``    — the old plan's warm time (tier forced by
    nulling the artifact handle);
the "scan rows << dictionary rows" done-criterion is
candidate_rows / n_terms.

Usage: python scripts/bench_fuzzy_scale.py  [n_terms]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gxdindexer_spark.functions import hashing  # noqa: E402
from gxdindexer_spark.operators.index_build import (  # noqa: E402
    IndexBuilder,
    _Commit,
)
from gxdindexer_spark.operators.query import (  # noqa: E402
    IndexQueryEngine,
    _dl_distance,
)
from gxdindexer_spark.session import get_spark  # noqa: E402
from gxdindexer_spark.sources.synth import generate_corpus  # noqa: E402
from gxdindexer_spark.sources.tables import prepare_docs  # noqa: E402

N_TERMS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
PROBES = [
    ("parseindexlist", 1),   # 14 chars: gram tier engages at d=1 and 2
    ("mergeshardstats", 2),  # 15 chars
]
#: planted variants per probe (exact distances 1 and 2)
VARIANTS = {
    "parseindexlist": ["parseindexlists", "parseindexlst", "parsindexlish"],
    "mergeshardstats": ["mergeshardstat", "mergesharstats", "mergeshrdstets"],
}


def main() -> int:
    spark = get_spark(app_name="bench-fuzzy-scale", master="local[32]")
    idx = "/tmp/gxdfz_idx"
    if not os.path.isdir(f"{idx}/manifest.json") and not os.path.isfile(
        f"{idx}/manifest.json"
    ):
        corpus = generate_corpus(spark, 500, seed=5, partitions=4)
        docs = prepare_docs(corpus, docs_per_shard=250, partitions=4)
        IndexBuilder(
            fields={"content": "code"}, docs_per_shard=250,
            salt_range=16, block_size=32,
        ).build(docs, idx, resume=True)

    # --- synthetic 1M-term dictionary (replaces the tiny real one):
    # md5-hex pseudo-words of length 6..17 + the planted variants
    planted = sorted(
        {t for vs in VARIANTS.values() for t in vs}
        | {p for p, _d in PROBES}
    )
    base = (
        spark.range(int(N_TERMS * 1.15))
        .select(
            F.substring(
                F.md5(F.col("id").cast("string")), 1,
                (F.col("id") % 12 + 6).cast("int"),
            ).alias("term"),
            (F.col("id") % 997 + 1).alias("df"),
        )
        .groupBy("term")
        .agg(F.max("df").alias("df"))
        .limit(N_TERMS - len(planted))
    )
    pl = spark.createDataFrame(
        __import__("pandas").DataFrame(
            {"term": planted, "df": [100] * len(planted)}
        )
    ).select("term", F.col("df").cast("long").alias("df"))
    dict_df = (
        base.unionByName(pl)
        .select(
            F.lit("content").alias("field"),
            "term",
            F.col("df").alias("df"),
            F.col("df").alias("cf"),
        )
        .withColumn("term_id", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    # term_id values don't matter for expansion; keep schema parity.
    # Published as a new snapshot through the builder's commit, so the
    # engine reads it (a write into a live artifact path would not be)
    with _Commit(idx) as commit:
        dict_df.write.parquet(commit.stage("dictionary"))
        (
            dict_df.filter(F.length("term") >= 3)
            .select(
                "field", "term", "df",
                F.explode(
                    F.array_distinct(
                        F.expr(
                            "transform(sequence(1, length(term) - 2),"
                            " i -> substring(term, i, 3))"
                        )
                    )
                ).alias("gram"),
            )
            .repartitionByRange(F.col("field"), F.col("gram"))
            .sortWithinPartitions("field", "gram")
            .write.parquet(commit.stage("dictionary_ngrams"))
        )
        commit.publish += ["dictionary", "dictionary_ngrams"]

    eng = IndexQueryEngine(spark, idx, preload_dictionary=0)
    assert eng._dict_cache is None and eng._dict_ngrams is not None
    n_terms = eng._dictionary.count()
    out: dict = {
        "n_dictionary_terms": int(n_terms),
        "mode": (
            "uncached; r5 gram-pruned tier vs r4 length-band tier "
            "(same final expansion set, asserted)"
        ),
    }

    for term, d in PROBES:
        qgrams = sorted({term[i:i + 3] for i in range(len(term) - 2)})
        min_shared = len(qgrams) - 4 * d
        assert min_shared >= 1, (term, d)
        t0 = time.monotonic()
        got = eng.expand_fuzzy("content", term, d, max_expansions=None)
        cold = time.monotonic() - t0
        warm = None
        for _ in range(3):  # min-of-3: shared-host noise exceeds the
            t0 = time.monotonic()  # sub-second signal at 1M terms
            got2 = eng.expand_fuzzy("content", term, d, max_expansions=None)
            dt = time.monotonic() - t0
            warm = dt if warm is None else min(warm, dt)
            assert got == got2
        # scan-row evidence: rows the gram plan aggregates vs rows the
        # old band plan admits
        candidate_rows = (
            eng._dict_ngrams.filter(
                (F.col("field") == "content")
                & F.col("gram").isin(qgrams)
                & F.length("term").between(len(term) - d, len(term) + d)
            ).count()
        )
        band_rows = (
            eng._dictionary.filter(
                (F.col("field") == "content")
                & F.length("term").between(len(term) - d, len(term) + d)
            ).count()
        )
        # force tier 2 and check identical output + its warm time
        saved, eng._dict_ngrams = eng._dict_ngrams, None
        band_warm = None
        for _ in range(3):
            t0 = time.monotonic()
            got_band = eng.expand_fuzzy(
                "content", term, d, max_expansions=None
            )
            dt = time.monotonic() - t0
            band_warm = dt if band_warm is None else min(band_warm, dt)
        eng._dict_ngrams = saved
        assert got_band == got, (term, d)
        truth_planted = [
            v for v in VARIANTS[term] if _dl_distance(term, v, d) <= d
        ]
        assert set(truth_planted) <= set(got), (term, d, got[:5])
        out[f"expand_fuzzy_{term}_d{d}"] = {
            "cold_sec": round(cold, 3),
            "warm_sec": round(warm, 3),
            "band_warm_sec": round(band_warm, 3),
            "n_expansions": len(got),
            "candidate_rows": int(candidate_rows),
            "band_rows": int(band_rows),
            "dict_rows": int(n_terms),
            "candidate_frac_of_dict": round(candidate_rows / n_terms, 6),
        }

    out["loadavg"] = round(os.getloadavg()[0], 2)
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/fuzzy_scale.json", "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
