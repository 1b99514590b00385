"""Explicit StructType schemas — the single source of truth enforced at
every stage boundary.

The reference's schema is fixed but *implicit* (field names live in an
external constants class imported at GxdResultIndexer.java:21-23; the
Solr schema.xml is outside the repo). We make it explicit instead
(SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ------------------------------------------------- source corpus (input_hint)
# Iceberg table of source-code repositories.
CORPUS = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)

# docs table = corpus + derived identity columns. doc_id is assigned by
# dense ordering over (repo, path, commit) — stable and reproducible —
# and content_sha256 carries the per-row invariant end-to-end.
DOCS = T.StructType(
    list(CORPUS.fields)
    + [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content_sha256", T.StringType(), False),
        T.StructField("shard", T.IntegerType(), False),
    ]
)

# ------------------------------------------------------- index artifacts
# One row per (shard, field, term_id): compressed posting blocks.
# term_id (functions/hashing.py) instead of the string: posting
# shuffles stay numeric; the dictionary holds term_id -> term.
POSTINGS = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("term_id", T.LongType(), False),
        T.StructField("df", T.LongType(), False),  # within shard
        T.StructField("cf", T.LongType(), False),  # within shard
        T.StructField("block_first", T.ArrayType(T.LongType()), False),
        T.StructField("block_last", T.ArrayType(T.LongType()), False),
        T.StructField("block_max_tfn", T.ArrayType(T.FloatType()), False),
        T.StructField("block_count", T.ArrayType(T.IntegerType()), False),
        T.StructField("doc_offsets", T.ArrayType(T.LongType()), False),
        T.StructField("tf_offsets", T.ArrayType(T.LongType()), False),
        T.StructField("dl_offsets", T.ArrayType(T.LongType()), False),
        T.StructField("docs_buf", T.BinaryType(), False),
        T.StructField("tfs_buf", T.BinaryType(), False),
        T.StructField("dls_buf", T.BinaryType(), False),
        # positional payload (empty when built with with_positions=False)
        T.StructField("pos_offsets", T.ArrayType(T.LongType()), True),
        T.StructField("pos_buf", T.BinaryType(), True),
    ]
)

# Global dictionary: term stats across shards (for idf) + the
# term -> term_id mapping used by the query planner.
DICTIONARY = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("term_id", T.LongType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),
    ]
)

# Per-shard dictionary contributions (the ``dict_parts`` artifact).
DICT_PARTS = T.StructType(
    [T.StructField("shard", T.IntegerType(), False)]
    + list(DICTIONARY.fields)
)

# Reversed-term dictionary: leading-wildcard (*fix) prefix scans.
DICTIONARY_REV = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("rev_term", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("term_id", T.LongType(), False),
        T.StructField("df", T.LongType(), False),
    ]
)

# Character-3-gram -> term: fuzzy candidate generation.
DICTIONARY_NGRAMS = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("gram", T.StringType(), False),
    ]
)

DOC_STATS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("dl", T.LongType(), False),
        T.StructField("shard", T.IntegerType(), False),
    ]
)

CORPUS_STATS = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("sum_dl", T.LongType(), False),
        T.StructField("avgdl", T.DoubleType(), False),
    ]
)

# Per-partition lineage ledger (north_rule: resumable with lineage+metrics).
LEDGER = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("input_fingerprint", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_postings", T.LongType(), False),
        T.StructField("bytes_compressed", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)

# Query result (top-k).
HITS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

# Intermediate: per-(doc, field, term) frequencies out of the tokenizer.
# Carries BOTH the string (consumed once by the small dictionary agg)
# and term_id (the only key the posting shuffles touch).
# TERM_FREQS_BASE is the non-positional build's variant — no dead
# positions column rides the Arrow boundary on the hottest path.
TERM_FREQS_BASE = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("term_id", T.LongType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField("dl", T.LongType(), False),
    ]
)

TERM_FREQS = T.StructType(
    list(TERM_FREQS_BASE.fields)
    + [
        # token positions (positional builds only)
        T.StructField("positions", T.ArrayType(T.IntegerType()), True),
    ]
)
