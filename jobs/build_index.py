"""spark-submit entrypoint: build (or resume) an inverted index and
optionally run queries against it.

Usage (local):
    python jobs/build_index.py --index-dir /tmp/idx --synth-docs 10000 \
        --docs-per-shard 2000 --query "parseIndexList if" --topk 10
    spark-submit --py-files gxdindexer_spark.zip jobs/build_index.py ...

Reads either a parquet/Iceberg corpus table (--corpus, columns
repo/path/commit/lang/content per input_hint) or generates the
deterministic synthetic corpus (--synth-docs). Prints one JSON line of
build metrics (docs/sec, postings/sec, bytes) and, per query, the
top-k hits — the reference's CLI analog is bin/buildIndex
(bin/buildIndex:1-61) driving one Indexer per invocation.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gxdindexer_spark.operators.index_build import IndexBuilder  # noqa: E402
from gxdindexer_spark.operators.query import IndexQueryEngine  # noqa: E402
from gxdindexer_spark.session import get_spark  # noqa: E402
from gxdindexer_spark.sources.synth import generate_corpus  # noqa: E402
from gxdindexer_spark.sources.tables import prepare_docs  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--corpus", help="parquet path with corpus columns")
    src.add_argument("--synth-docs", type=int, help="generate N synthetic docs")
    p.add_argument("--index-dir", required=True)
    p.add_argument("--docs-per-shard", type=int, default=1_000_000)
    p.add_argument("--block-size", type=int, default=128)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--master", default=None, help="e.g. local[8]")
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--with-positions", action="store_true",
                   help="store token positions (enables phrase queries)")
    p.add_argument("--compact", action="store_true",
                   help="compact segments after build (the reference's "
                        "end-of-build optimize, Indexer.java:126-129)")
    p.add_argument("--query", action="append", default=[],
                   help="query string; repeatable")
    p.add_argument("--topk", type=int, default=10)
    p.add_argument("--mode", choices=["wand", "taat"], default="wand")
    p.add_argument("--where", default=None,
                   help="Solr fq analog: stored-attribute predicate, "
                        "e.g. \"n_chars < 300 and lang == 'en'\"")
    p.add_argument("--sort-by", default=None,
                   help="serve the match set ordered by this STORED "
                        "doc-store column instead of BM25 (the "
                        "reference's R_BY_* contract)")
    p.add_argument("--desc", action="store_true",
                   help="with --sort-by: descending order")
    p.add_argument("--offset", type=int, default=0,
                   help="with --sort-by: page offset")
    p.add_argument("--explain", action="store_true",
                   help="print the per-term score decomposition "
                        "(Solr debugQuery) for each hit")
    args = p.parse_args(argv)

    spark = get_spark(app_name="build-index", master=args.master)
    try:
        if args.corpus:
            corpus = spark.read.parquet(args.corpus)
        else:
            corpus = generate_corpus(
                spark, args.synth_docs, seed=args.seed, partitions=args.partitions
            )
        docs = prepare_docs(
            corpus, docs_per_shard=args.docs_per_shard, partitions=args.partitions
        )
        builder = IndexBuilder(
            docs_per_shard=args.docs_per_shard,
            block_size=args.block_size,
            with_positions=args.with_positions,
        )
        metrics = builder.build(docs, args.index_dir, resume=not args.no_resume)
        if args.compact:
            from gxdindexer_spark.operators.index_build import compact_index

            metrics["compaction"] = compact_index(spark, args.index_dir)
        print(json.dumps({"build": metrics}))
        if args.query:
            eng = IndexQueryEngine(spark, args.index_dir)
            for q in args.query:
                t0 = time.monotonic()
                if args.sort_by:
                    hits = eng.sorted_matches(
                        q, by=args.sort_by, k=args.topk,
                        offset=args.offset, ascending=not args.desc,
                        where=args.where,
                    ).collect()
                    rows = [
                        {"doc_id": r["doc_id"], args.sort_by: r[args.sort_by]}
                        for r in hits
                    ]
                else:
                    hits = eng.topk(
                        q, k=args.topk, mode=args.mode, where=args.where
                    ).collect()
                    rows = [
                        {"doc_id": r["doc_id"], "score": round(r["score"], 6)}
                        for r in hits
                    ]
                ms = (time.monotonic() - t0) * 1000
                out = {"query": q, "latency_ms": round(ms, 1), "hits": rows}
                if args.explain and not args.sort_by:
                    out["explain"] = {
                        str(r["doc_id"]): [
                            {
                                "term": e["term"],
                                "field": e["field"],
                                "df": e["df"],
                                "tf": e["tf"],
                                "contribution": round(e["contribution"], 6),
                            }
                            for e in eng.explain_score(
                                q, r["doc_id"]
                            ).collect()
                        ]
                        for r in hits[: min(3, len(hits))]
                    }
                print(json.dumps(out))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
