"""Sharded SPIMI inverted-index build (SURVEY.md §7 steps 3-5,7).

Pipeline shape (all Arrow-batched, no per-row Python):

  docs (doc_id, shard, content/path/lang, content_sha256)
    -> mapInPandas tokenize+tf            (TERM_FREQS rows, term + term_id)
    -> [strings branch off to the small dict_parts agg here]
    -> numeric-only repartition(shard) + sort(field, term_id, doc_id)
    -> mapInPandas group-aware stream encode   (FINAL posting rows)
    -> write parquet partitioned by shard

Skew handling (north_rule, SURVEY.md §4.1): stopword-like terms get
posting lists orders of magnitude longer than the median, but a
shard's docID range is bounded by ``docs_per_shard``, so the heaviest
term contributes at most ``docs_per_shard`` rows to its shard's
encode group — the same per-group bound an earlier salted two-phase
encode (partial lists per docID-range salt, then concatenated)
enforced, minus that design's second full shuffle and second Python
pass (guide §2.4: two operations keyed the same way — encode and the
shard-partitioned write — share one exchange). AQE only fixes *join*
skew, not groupBy-key skew, hence the explicit bounded key.

Every write (build, delete, update, attach, compaction) is one
``_Commit``: it computes into a dot-prefixed staging root without
touching a live file, then publishes once — shard partitions, the
dictionary artifacts, ``ledger.json``, ``manifest.json`` — through a
journal that the next writer replays forward after a crash.

The reference analog of this stage is the chunked extract-assemble-load
loop in GxdResultIndexer.java:900-1268 (chunks == partitions here) with
its hand-rolled HashMap broadcast caches (==F.broadcast / broadcast
vars) and batched Solr sink (==task-level parquet writes); the posting
format itself has no reference analog — the reference delegates it to
Lucene.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import shutil
import time
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gxdindexer_spark import schemas
from gxdindexer_spark.functions import analyze, bm25, hashing
from gxdindexer_spark.functions.codec import encode_postings

DEFAULT_FIELDS = {"content": "code", "path": "path", "lang": "lang"}
# per-shard partitions of a build; the global artifacts its finalize
# derives from them
SHARD_ARTIFACTS = ("docs", "doc_stats", "dict_parts", "postings")
STATS_ARTIFACTS = (
    "dictionary", "dictionary_rev", "dictionary_ngrams", "corpus_stats"
)
# a commit computes under STAGING and records its renames in JOURNAL
# before applying them (``_Commit``)
STAGING = ".staging"
JOURNAL = ".publish.json"
# ledger metrics are read driver-side with pyarrow up to this many
# bytes of touched partitions, with Spark above it
ARROW_METRICS_MAX = 256 << 20


def _empty_like(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """Empty frame with ``schema`` built JVM-side (range(0)) — a
    python-list createDataFrame becomes a 32-partition python RDD that
    spawns a worker per partition on every action."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def term_freqs_df(
    docs: DataFrame,
    fields: dict[str, str] | None = None,
    with_positions: bool = False,
    synonyms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """docs -> (doc_id, shard, field, term, term_id, tf, dl[, positions])
    via one tokenize pass. With positions on, ``dl`` counts token
    POSITIONS (Lucene semantics: word-part expansions share their
    original's position and don't lengthen the doc). ``synonyms``
    applies index-time synonym expansion at position-increment 0 in
    every field (analyze.term_freqs; the map closes over the Arrow
    workers like the rest of the builder params — tiny)."""
    fields = fields or DEFAULT_FIELDS

    out_cols = ["doc_id", "shard", "field", "term", "term_id", "tf", "dl"]
    if with_positions:
        out_cols.append("positions")

    def tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            shard_of = pdf.set_index("doc_id")["shard"]
            for field, tokenizer in fields.items():
                if with_positions:
                    tf = analyze.term_freqs_positions(
                        pdf["doc_id"], pdf[field], tokenizer,
                        synonyms=synonyms,
                    )
                else:
                    tf = analyze.term_freqs(
                        pdf["doc_id"], pdf[field], tokenizer,
                        synonyms=synonyms,
                    )
                if not len(tf):
                    continue
                tf.insert(1, "shard", shard_of.loc[tf["doc_id"]].to_numpy())
                tf.insert(2, "field", field)
                tf["term_id"] = hashing.term_ids(tf["term"])
                yield tf[out_cols]

    schema = schemas.TERM_FREQS if with_positions else schemas.TERM_FREQS_BASE
    cols = ["doc_id", "shard"] + list(fields)
    return docs.select(*cols).mapInPandas(tok, schema=schema)


def _stream_groups(
    batches: Iterator[pd.DataFrame],
    keys: list[str],
    emit,
) -> Iterator[pd.DataFrame]:
    """Group-aware Arrow-batch streaming: rows arrive sorted by ``keys``;
    the (possibly split) trailing group of each batch is carried into
    the next so ``emit`` always sees whole groups, and memory stays
    bounded by group size, not partition size."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if not len(pdf):
            continue
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        last_key = tuple(pdf.iloc[-1][keys])
        tail_mask = pd.Series(True, index=pdf.index)
        for kcol, kval in zip(keys, last_key):
            tail_mask &= pdf[kcol] == kval
        # rows of the last group are contiguous at the end
        n_tail = int(tail_mask[::-1].cummin()[::-1].sum())
        head = pdf.iloc[: len(pdf) - n_tail]
        carry = pdf.iloc[len(pdf) - n_tail :]
        if len(head):
            yield emit(head)
    if carry is not None and len(carry):
        yield emit(carry)


class IndexBuilder:
    """Builds and persists the index artifacts for a docs DataFrame.

    Parameters mirror the scale knobs: ``docs_per_shard`` bounds the
    docID range per scatter-gather shard — and with it both the
    encode-group size and the per-task work of the single-phase
    postings encode (pick smaller shards for more build parallelism);
    ``block_size`` is the posting block length (skip-pointer grain).
    ``salt_range`` is retained for API/manifest-fingerprint
    compatibility: the docID-range salting it once configured is
    subsumed by the shard bound (see ``postings_df``).
    """

    def __init__(
        self,
        fields: dict[str, str] | None = None,
        docs_per_shard: int = 1_000_000,
        salt_range: int = 65_536,
        block_size: int = 128,
        k1: float = bm25.K1,
        b: float = bm25.B,
        with_positions: bool = False,
        synonyms: dict[str, list[str]] | None = None,
    ):
        self.fields = fields or DEFAULT_FIELDS
        self.docs_per_shard = docs_per_shard
        self.salt_range = salt_range
        self.block_size = block_size
        self.k1 = k1
        self.b = b
        self.with_positions = with_positions
        # canonical form (sorted, deduped, self-maps dropped) so the
        # params fingerprint is stable across equivalent spellings
        self.synonyms = {
            base: sorted({s for s in syns if s != base})
            for base, syns in sorted((synonyms or {}).items())
            if any(s != base for s in syns)
        } or None

    def _params_fp(self) -> str:
        """Fingerprint of every parameter that shapes the stored
        artifacts. Folded into each shard's input fingerprint so a
        resume with different params (k1/b/block_size/tokenizers/
        positions/...) rebuilds instead of silently mixing postings
        built under one config with a manifest describing another."""
        import hashlib

        blob = json.dumps(
            {
                "fields": self.fields,
                "docs_per_shard": self.docs_per_shard,
                "salt_range": self.salt_range,
                "block_size": self.block_size,
                "k1": self.k1,
                "b": self.b,
                "with_positions": self.with_positions,
                "synonyms": self.synonyms,
            },
            sort_keys=True,
        )
        return hashlib.md5(blob.encode()).hexdigest()[:12]

    def _fp_map(self, docs: DataFrame) -> dict[int, str]:
        """Per-shard input fingerprint of ``docs``: order-insensitive
        sum over per-row hashes — cheap, deterministic, partition-
        parallel — plus the builder-params fingerprint (a param change
        must invalidate every shard, not silently reuse postings built
        under a different config). The row hash covers EVERY indexed
        field, not just content (ADVICE r5 high: an update to an
        indexed non-content field like lang/path left the shard
        fingerprint unchanged, so the rebuild silently skipped and the
        new value was never indexed). For single-field
        ({'content': ...}) indexes the expression reduces to
        crc32(content_sha256). One Spark job; mutation operators call
        this concurrently with their own scan/checkpoint jobs and pass
        the result to ``_build_locked`` as ``precomputed_fp``.
        """
        pfp = self._params_fp()
        nonc = [f for f in sorted(self.fields) if f != "content"]
        fp_src = F.crc32(
            F.concat_ws(
                "\x1f",
                F.col("content_sha256"),
                *[
                    F.coalesce(F.col(f).cast("string"), F.lit(""))
                    for f in nonc
                ],
            )
        )
        rows = (
            docs.groupBy("shard")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(fp_src).alias("fp_sum"),
            )
            .collect()
        )
        return {
            int(r["shard"]): f"{r['n_docs']}:{r['fp_sum']}:{pfp}"
            for r in rows
        }

    # ------------------------------------------------------------ build

    def postings_df(self, tf: DataFrame, avgdl: dict[str, float]) -> DataFrame:
        """TERM_FREQS -> final POSTINGS rows (single-phase, shard-keyed).

        ONE shuffle: repartition on shard — the exact key the
        partitioned write needs, so the write still emits one file per
        shard dir — with an in-partition sort by (field, term_id,
        doc_id). Every (shard, field, term_id) group is then
        contiguous inside one task and the group-aware stream encodes
        each term's FINAL posting row directly. The salted two-phase
        this replaced (partial encode keyed on a docID-range salt,
        then a second shuffle + Python pass concatenating the
        partials) paid a full extra shuffle of the raw tf bytes plus a
        payload shuffle to reassemble groups this plan never splits:
        a shard's docID range is bounded by ``docs_per_shard``, so the
        heaviest term's encode group is bounded exactly like one
        term's salted partials were (guide §2.4: operations keyed the
        same way share one exchange). Rows stay sorted by
        (field, term_id) in-file, so row-group min/max stats keep
        pruning term IN-list scans. Decoded postings equal the salted
        design's (its partials covered disjoint ascending docID
        ranges, so concatenation was the whole merge); only block
        boundaries near old salt edges differ, which WAND's
        block-max pruning treats as metadata (rank-identical,
        property-tested WAND == TAAT).
        """
        spark = tf.sparkSession
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        b_avgdl = spark.sparkContext.broadcast(avgdl)
        k1, b_, bs = self.k1, self.b, self.block_size
        with_pos = self.with_positions
        # drop the term STRING before the shuffle: only numeric
        # columns (plus the tiny field tag) cross the Arrow boundary.
        cols = [
            F.col("shard"),
            F.col("field"),
            F.col("term_id"),
            F.col("doc_id"),
            F.col("tf"),
            F.col("dl"),
        ]
        if self.with_positions:
            cols.append(F.col("positions"))
        keys = ["shard", "field", "term_id"]
        arranged = (
            tf.select(*cols)
            .repartition(n_parts, "shard")
            .sortWithinPartitions(*keys, "doc_id")
        )

        def encode_stream(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            """Group-aware streaming encoder: pandas-groupby within each
            Arrow batch, carrying the (possibly split) last group over
            to the next batch so memory stays bounded by group size,
            not partition size."""
            avg = b_avgdl.value
            use_pos = with_pos

            def emit(chunk: pd.DataFrame) -> pd.DataFrame:
                rows = []
                for (sh, fl, tid), g in chunk.groupby(keys, sort=False):
                    tfs = g["tf"].to_numpy(np.uint64)
                    dls = g["dl"].to_numpy(np.uint64)
                    tfn = bm25.tf_norm(
                        tfs, dls.astype(np.float64), avg[fl], k1, b_
                    )
                    pos = (
                        [np.asarray(p, dtype=np.int64) for p in g["positions"]]
                        if use_pos
                        else None
                    )
                    row = encode_postings(
                        g["doc_id"].to_numpy(np.int64),
                        tfs,
                        tfn,
                        bs,
                        dls=dls,
                        positions=pos,
                    )
                    rows.append(
                        {"shard": sh, "field": fl, "term_id": tid, **row}
                    )
                out = pd.DataFrame(rows)
                return out[[f.name for f in schemas.POSTINGS.fields]]

            yield from _stream_groups(batches, keys, emit)

        return arranged.mapInPandas(encode_stream, schema=schemas.POSTINGS)

    # ------------------------------------------------- full build + write

    def build(
        self,
        docs: DataFrame,
        index_dir: str,
        resume: bool = True,
        append: bool = False,
        drop_shards: set[int] | None = None,
    ) -> dict:
        """Build (or resume) the index for ``docs`` into ``index_dir``.

        ``append=True`` treats ``docs`` as a DELTA (e.g. one streaming
        micro-batch): shards absent from it are left untouched instead
        of being deleted as orphans. Shards PRESENT in the delta are
        upserted whole, so deltas must arrive in complete docID-range
        units. Fingerprints make replayed deltas no-ops (exactly-once
        commits over at-least-once delivery). ``drop_shards`` forces
        the named shards through the orphan-removal path even in
        append mode — the doc-level delete hook (``delete_docs``) uses
        it for shards whose every document was tombstoned.

        Returns a metrics dict (docs/sec, postings/sec, bytes).
        Resumability (north_rule): the build computes every artifact
        into staging and publishes once (``_Commit``); the ledger's
        per-shard lineage entries publish after the shard partitions
        and the dictionary, and a re-run skips shards whose ledger
        entry matches the input fingerprint (SURVEY.md §4.4).

        Single-writer: the whole commit holds the index's writer lock
        (``_WriterLock``); a second live writer raises
        ``ConcurrentWriteError``. Every content-changing build commits
        a new ``snapshot_id`` (monotonic, with parent pointer and a
        bounded history) in the manifest — the Iceberg snapshot-lineage
        contract on plain parquet.
        """
        with _Commit(index_dir) as commit:
            return self._build_locked(
                commit, docs, resume, append, drop_shards
            )

    def _build_locked(
        self,
        commit: "_Commit",
        docs: DataFrame,
        resume: bool,
        append: bool = False,
        drop_shards: set[int] | None = None,
        precomputed_fp: dict[int, str] | None = None,
    ) -> dict:
        """Body of ``build``: computes into ``commit``'s staging root
        and lists what the commit publishes."""
        spark = docs.sparkSession
        index_dir = commit.index_dir
        t0 = time.monotonic()
        trace = os.environ.get("GXDIDX_TRACE") == "1"
        _last = [t0]

        def mark(stage: str) -> None:
            if trace:
                now = time.monotonic()
                print(
                    f"[build-trace] {stage}: {now - _last[0]:.1f}s",
                    file=sys.stderr,
                )
                _last[0] = now

        # input fingerprint per shard (see _fp_map for the contract).
        # Point mutations (delete/update) pass ``precomputed_fp``:
        # the same agg, computed by the caller CONCURRENTLY with its
        # own scan/cache jobs (guide §2.6), so the serial fingerprint
        # job disappears from the mutation critical path while the
        # resume gate below stays byte-identical (replayed no-op
        # mutations still skip with shards_built == 0).
        if precomputed_fp is not None:
            shard_fp = dict(precomputed_fp)
        else:
            shard_fp = self._fp_map(docs)
        mark("fingerprint")
        done = self._read_ledger(index_dir)
        # orphaned shards: present in artifacts/ledger but absent from
        # the input (shrunk or re-sharded corpus). Left in place they
        # would keep feeding dictionary df / avgdl / query results.
        orphans = (
            set()
            if append
            else (set(done) | _artifact_shards(index_dir)) - set(shard_fp)
        ) | set(drop_shards or ())
        pending = sorted(
            s
            for s, f in shard_fp.items()
            if not (
                resume
                and done.get(s, {}).get("input_fingerprint") == f
                and done.get(s, {}).get("status") == "done"
            )
        )
        # shards whose live partitions this commit replaces (pending)
        # or removes (orphans); every other shard is kept as it is
        replaced = set(pending) | orphans
        # ---- incremental-finalize eligibility (north_rule: an append
        # or streaming micro-batch must not pay O(index) to commit).
        # Kept entries = shards untouched by this build; incremental
        # needs their per-field stats in the ledger (legacy indexes
        # without them fall back to the full re-aggregation) and an
        # existing dictionary to merge into.
        kept_entries = {
            s: e
            for s, e in done.items()
            if s not in replaced and (append or s in shard_fp)
        }
        stats_incremental = bool(kept_entries) and all(
            "field_stats" in e for e in kept_entries.values()
        )
        # global per-field totals come from ledger field_stats unless a
        # kept shard predates them (legacy ledger: scan doc_stats)
        ledger_totals = stats_incremental or not kept_entries
        dict_incremental = (
            stats_incremental
            and os.path.isdir(f"{index_dir}/dictionary")
            and os.path.isdir(f"{index_dir}/corpus_stats")
        )
        for s in orphans:
            done.pop(s, None)
        metrics = {
            "shards_total": len(shard_fp),
            "shards_built": len(pending),
            "shards_skipped": len(shard_fp) - len(pending),
        }
        avgdl: dict[str, float] = {}
        delta_field_stats: dict[int, dict[str, dict]] = {}
        if pending:
            # repartition on the shard key: the docs input is typically
            # a handful of scan partitions (one smallish parquet file →
            # ONE task), which serialized the whole Arrow tokenizer pass
            # and the doc-store write behind a single core. One cheap
            # shuffle of the (small) doc rows buys shards-way
            # parallelism for both consumers and a bounded one-file-
            # per-shard-dir store layout (guide §2.4: two operations
            # keyed the same way share one exchange). Skipped for
            # point deltas (appends/updates touching a couple of
            # shards): there the exchange costs more than the
            # parallelism it buys.
            wide = len(pending) > 2
            sub = docs.filter(F.col("shard").isin(pending))
            if wide:
                sub = sub.repartition(F.col("shard"))

            def write_staged(df: DataFrame, art: str):
                """Submit ``df``'s shard-partitioned write into staging
                on the commit pool: its tasks back-fill cores while the
                tokenize/postings pipeline runs (guide §2.6); joined
                before the ledger."""
                return commit.pool.submit(
                    lambda: df.write.partitionBy("shard").parquet(
                        commit.stage(art)
                    )
                )

            docs_fut = write_staged(sub, "docs")
            # tokenize ONCE; both doc_stats and postings consume it.
            # MEMORY_AND_DISK: at cluster scale this spills instead of
            # re-running the (expensive) tokenizer pass.
            tf = commit.cache(
                term_freqs_df(
                    sub, self.fields, with_positions=self.with_positions,
                    synonyms=self.synonyms,
                )
            )
            doc_stats = (
                tf.groupBy("doc_id", "field", "shard")
                .agg(F.first("dl").alias("dl"))
                .select("doc_id", "field", "dl", "shard")
            )
            # per-(shard, field) stats of the DELTA: a tiny agg, kept
            # in the ledger so future builds derive global stats
            # without scanning doc_stats. This collect is ALSO the
            # action that materializes the tf cache — one pass through
            # the (expensive) tokenizer; every artifact write below
            # then reads the cache and runs OFF the critical path
            # (guide §2.6: the doc_stats/dict_parts writes back-fill
            # cores while the postings pipeline runs).
            for r in (
                doc_stats.groupBy("shard", "field")
                .agg(F.count("*").alias("n"), F.sum("dl").alias("s"))
                .collect()
            ):
                delta_field_stats.setdefault(int(r["shard"]), {})[
                    r["field"]
                ] = {"n_docs": int(r["n"]), "sum_dl": int(r["s"])}
            mark("tokenize+delta_stats")
            # doc_stats/dict_parts repartition on shard before the
            # partitioned write: the agg output is hash-partitioned on
            # the full group key, so writing it directly would emit one
            # file per (task x shard) dir — ~32x the files every later
            # shard-pruned read must open (guide §6)
            ds_fut = write_staged(
                doc_stats.repartition(F.col("shard")) if wide else doc_stats,
                "doc_stats",
            )
            # per-shard dictionary contributions: the ONLY consumer of
            # the term string; partial agg shrinks it to ~vocab rows per
            # partition before the (small) shuffle. Reads the
            # materialized tf cache — runs concurrently with the
            # postings pipeline below. Finalize merges the IN-MEMORY
            # ``dp`` (same cached lineage) wherever it can, so it
            # rarely waits on this write.
            dp = tf.groupBy("shard", "field", "term", "term_id").agg(
                F.count("*").alias("df"), F.sum("tf").alias("cf")
            )
            if wide:
                dp = dp.repartition(F.col("shard"))
            dict_parts_fut = write_staged(dp, "dict_parts")
            # avgdl must be GLOBAL (all shards incl. previously built):
            # kept shards contribute via their ledger field_stats (no
            # doc_stats scan — O(delta) input); legacy ledgers without
            # field_stats pay the full scan once (joining the staged
            # doc_stats write first — it holds the pending shards' rows)
            if ledger_totals:
                totals = _field_totals(kept_entries, delta_field_stats)
                avgdl = {f: t[1] / t[0] for f, t in totals.items() if t[0]}
            else:
                ds_fut.result()
                cs = (
                    commit.view(spark, "doc_stats", replaced)
                    .groupBy("field")
                    .agg((F.sum("dl") / F.count("*")).alias("avgdl"))
                    .collect()
                )
                avgdl = {r["field"]: float(r["avgdl"]) for r in cs}
            mark("corpus_stats")
        # global stats only change when shards did: a pure no-op resume
        # (the common "is it up to date?" probe) skips the dictionary
        # re-agg + collision check + corpus_stats rewrite entirely.
        changed = bool(replaced)
        run_finalize = changed or not (
            os.path.isdir(f"{index_dir}/dictionary")
            and os.path.isdir(f"{index_dir}/corpus_stats")
        )

        def _run_finalize() -> str:
            if dict_incremental:
                # prior dictionary, minus the replaced shards' old
                # contributions (their live dict_parts, untouched until
                # publish), plus the rebuilt shards' new partials
                rows = [spark.read.parquet(f"{index_dir}/dictionary")]
                gone = sorted(
                    replaced & _artifact_shards(index_dir, ("dict_parts",))
                )
                if gone:
                    rows.append(
                        spark.read.parquet(f"{index_dir}/dict_parts")
                        .filter(F.col("shard").isin(gone))
                        .select(
                            "field", "term", "term_id",
                            (-F.col("df")).alias("df"),
                            (-F.col("cf")).alias("cf"),
                        )
                    )
                if pending:
                    rows.append(dp)
            elif pending and not kept_entries:
                # fresh build (or a resume rebuilding everything): the
                # just-computed dp IS the whole dict_parts content, so
                # aggregate the in-memory lineage (cached tf) instead
                # of waiting for the staged write and re-reading it —
                # the dictionary work then overlaps the postings job
                rows = [dp]
            else:
                # full re-aggregation over the kept shards' live and
                # the pending shards' staged dict_parts
                if pending:
                    dict_parts_fut.result()
                rows = [commit.view(spark, "dict_parts", replaced)]
            self._finalize_stats(
                commit,
                rows,
                field_totals=(
                    _field_totals(kept_entries, delta_field_stats)
                    if ledger_totals
                    else None
                ),
                doc_stats=(
                    None
                    if ledger_totals
                    else commit.view(spark, "doc_stats", replaced)
                ),
            )
            return "incremental" if dict_incremental else "full"

        finalize_mode = "skipped"
        metrics_fut = None
        if pending:
            # the postings encode+write and finalize's dictionary work
            # are independent (both read the cached tf; each stages its
            # own dirs) — finalize runs on the commit pool CONCURRENTLY
            # with the postings job (guide §2.6). Neither touches a
            # live file: the commit publishes only after both, the
            # staged writes and the ledger metrics have succeeded, so a
            # failure anywhere before publish leaves the index exactly
            # as it was.
            fin_fut = (
                commit.pool.submit(_run_finalize) if run_finalize else None
            )
            self.postings_df(tf, avgdl).write.partitionBy("shard").parquet(
                commit.stage("postings")
            )
            mark("postings")

            # per-shard metrics only need the staged postings (written
            # above) and doc_stats (joined first) — overlap the scan
            # with finalize's tail
            def _metrics_after_ds():
                ds_fut.result()
                return self._shard_metrics(spark, commit.staging, pending)

            metrics_fut = commit.pool.submit(_metrics_after_ds)
            if fin_fut is not None:
                finalize_mode = fin_fut.result()
        elif run_finalize:
            finalize_mode = _run_finalize()
        metrics["finalize_mode"] = finalize_mode
        mark("finalize")
        if pending:
            # a failed staged write must fail the commit before publish
            docs_fut.result()
            dict_parts_fut.result()
            mark("bg_writes_join")
        wall_ms = int((time.monotonic() - t0) * 1000)
        built = metrics_fut.result() if metrics_fut is not None else {}
        mark("shard_metrics")

        # consolidated ledger: one file, one atomic replace, O(1) reads
        # at engine init (vs O(shards) file opens at the 10^6-shard
        # target). Skipped shards keep their prior entries; orphans
        # were dropped above.
        # snapshot lineage: every content-changing commit gets a new
        # monotonic snapshot_id with a parent pointer + bounded history
        # (the Iceberg snapshot contract on plain parquet; a no-op
        # resume re-asserts the current snapshot unchanged).
        prev_manifest: dict = {}
        if os.path.isfile(f"{index_dir}/manifest.json"):
            with open(f"{index_dir}/manifest.json") as fh:
                prev_manifest = json.load(fh)
        prev_snap = int(prev_manifest.get("snapshot_id", 0))
        snap = prev_snap + 1 if changed or not prev_snap else prev_snap

        # append mode keeps every untouched shard's entry; full mode
        # keeps only shards present in the input (orphans dropped)
        entries = {
            s: e for s, e in done.items() if append or s in shard_fp
        }
        for s in pending:
            m = built.get(s, {"n_docs": 0, "n_postings": 0, "bytes": 0})
            entries[s] = {
                "shard": s,
                "input_fingerprint": shard_fp[s],
                "status": "done",
                "n_docs": m["n_docs"],
                "n_postings": m["n_postings"],
                "bytes_compressed": m["bytes"],
                "wall_ms": wall_ms,
                "snapshot_id": snap,
                # avgdl in force when this shard's block-max metadata
                # was computed; the WAND path disables block pruning
                # (falls back to exact TAAT) if global avgdl drifted.
                "avgdl_at_build": avgdl,
                # per-field (n_docs, sum_dl) of THIS shard: later
                # builds derive global avgdl/corpus_stats by summing
                # ledger entries instead of scanning doc_stats
                "field_stats": delta_field_stats.get(s, {}),
            }
        total_docs = sum(v["n_docs"] for v in built.values())
        total_postings = sum(v["n_postings"] for v in built.values())
        metrics.update(
            n_docs=total_docs,
            n_postings=total_postings,
            bytes_compressed=sum(v["bytes"] for v in built.values()),
            wall_sec=wall_ms / 1000,
            docs_per_sec=total_docs / max(wall_ms / 1000, 1e-9),
            postings_per_sec=total_postings / max(wall_ms / 1000, 1e-9),
        )
        history = list(prev_manifest.get("snapshots", []))
        if snap != prev_snap or not history:
            history.append(
                {
                    "snapshot_id": snap,
                    "parent_snapshot_id": prev_snap or None,
                    "shards_built": len(pending),
                    "orphans_removed": len(orphans),
                    "wall_ms": wall_ms,
                }
            )
            history = history[-20:]
        # publish order: shard partitions (a partition with nothing
        # staged is removed), then the dictionary artifacts, then the
        # ledger, then the manifest
        commit.publish += [
            f"{art}/shard={s}"
            for s in sorted(replaced)
            for art in SHARD_ARTIFACTS
        ]
        if run_finalize:
            commit.publish += list(STATS_ARTIFACTS)
        commit.files["ledger.json"] = json.dumps(
            {str(s): e for s, e in entries.items()}
        )
        commit.files["manifest.json"] = json.dumps(
            {
                "fields": self.fields,
                "with_positions": self.with_positions,
                "synonyms": self.synonyms,
                "docs_per_shard": self.docs_per_shard,
                "block_size": self.block_size,
                "k1": self.k1,
                "b": self.b,
                "snapshot_id": snap,
                "parent_snapshot_id": prev_snap or None,
                "snapshots": history,
                # full map incl. shards untouched by an append delta
                "shard_fingerprints": {
                    s: e["input_fingerprint"] for s, e in entries.items()
                },
                "metrics": metrics,
            },
            indent=2,
        )
        return metrics

    def _finalize_stats(
        self,
        commit: "_Commit",
        rows: list[DataFrame],
        field_totals: dict[str, list[int]] | None = None,
        doc_stats: DataFrame | None = None,
    ) -> None:
        """Derive the global dictionary, its reversed and 3-gram
        companions and corpus_stats into ``commit``'s staging; the
        commit publishes them.

        ``rows`` are (field, term, term_id, df, cf) contributions,
        summed by key with zero-df terms dropped: every shard's
        dict-part rows (full mode), or the prior dictionary plus the
        replaced shards' negated old rows plus the rebuilt shards' new
        rows (incremental: input is O(delta shards) + one pass over the
        prior dictionary, O(vocab) and unavoidable for a merge, so a
        streaming micro-batch commits in time proportional to its own
        size).

        corpus_stats: written from ``field_totals`` (per-shard sums
        carried in the ledger) when given, else aggregated from
        ``doc_stats`` (legacy ledgers).
        """
        spark = rows[0].sparkSession
        trace = os.environ.get("GXDIDX_TRACE") == "1"
        _last = [time.monotonic()]

        def fmark(stage: str) -> None:
            if trace:
                now = time.monotonic()
                print(
                    f"[finalize-trace] {stage}: {now - _last[0]:.1f}s",
                    file=sys.stderr,
                )
                _last[0] = now

        # one source aggregation feeds the collision check and the
        # three dictionary writes: checkpointed once (small: distinct
        # terms, not postings) and held until the commit ends
        keys = ("field", "term", "term_id")
        dict_df = commit.checkpoint(
            functools.reduce(
                DataFrame.unionByName,
                [r.select(*keys, "df", "cf") for r in rows],
            )
            .groupBy(*keys)
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            .filter(F.col("df") > 0)
        )
        fmark("dict_agg+ckpt")

        # term_id collision check (functions/hashing.py): two distinct
        # terms hashing to one id would silently merge posting lists.
        # One global agg on the checkpointed vocab (distinct ids == distinct
        # terms <=> injective), not a groupBy+filter shuffle — finalize
        # is job-count-bound. It runs CONCURRENTLY with the staged
        # writes below (guide §2.6); a clash fails the commit before
        # anything publishes.
        def check_clash() -> None:
            row = dict_df.agg(
                F.count_distinct(F.struct("field", "term_id")).alias("ids"),
                F.count_distinct(F.struct("field", "term")).alias("terms"),
            ).first()
            if row["ids"] != row["terms"]:
                raise RuntimeError(
                    f"{row['terms'] - row['ids']} term_id collisions "
                    "detected — widen term_id (hashing.py) before "
                    "using this index"
                )

        def write_dictionary() -> None:
            dict_df.write.parquet(commit.stage("dictionary"))

        # reversed-term dictionary: the Lucene ReversedWildcardFilter
        # analog — leading wildcards (*fix) become a PREFIX range scan
        # over rev_term, pushed to the parquet source like the forward
        # prefix path (query.expand_suffix). Sorted by (field,
        # rev_term) so row-group min/max stats prune the range.
        def write_rev() -> None:
            (
                dict_df.select(
                    "field",
                    F.reverse(F.col("term")).alias("rev_term"),
                    "term",
                    "term_id",
                    "df",
                )
                .sortWithinPartitions("field", "rev_term")
                .write.parquet(commit.stage("dictionary_rev"))
            )

        # character-3-gram -> term artifact: sub-linear fuzzy candidate
        # generation (VERDICT r4 #6). expand_fuzzy's uncached path
        # previously scanned the full same-field length band per fuzzy
        # token; with this artifact the scan is a gram IN-list
        # (<= len(term)-2 grams) + length band, range-partitioned AND
        # sorted by (field, gram) so both file- and row-group-level
        # min/max stats prune the lookup. Derived from the SAME checkpointed
        # vocab as dictionary/dictionary_rev each finalize, so it can
        # never go stale vs the dictionary (incremental appends
        # re-derive it too — O(vocab), the same cost class as the
        # dictionary itself). ~(avg term len - 2) x dictionary rows of
        # (field, gram, term, df) — small next to postings.
        def write_ngrams() -> None:
            (
                dict_df.filter(F.length("term") >= 3)
                .select(
                    "field",
                    "term",
                    "df",
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

        def write_corpus_stats() -> None:
            if field_totals is not None:
                vals = [
                    (f, int(t[0]), int(t[1]), t[1] / t[0])
                    for f, t in sorted(field_totals.items())
                    if t[0]
                ]
                schema = T.StructType(
                    [
                        T.StructField("field", T.StringType(), False),
                        T.StructField("n_docs", T.LongType(), False),
                        T.StructField("sum_dl", T.LongType(), False),
                        T.StructField("avgdl", T.DoubleType(), False),
                    ]
                )
                # Arrow path (pandas), NOT createDataFrame(list): a
                # python list becomes a 32-partition python RDD whose
                # write spawns a Python worker per partition (~7s for
                # one row on local[32]); the pandas local relation
                # stays JVM-side.
                pdf = pd.DataFrame(
                    vals, columns=["field", "n_docs", "sum_dl", "avgdl"]
                )
                out = spark.createDataFrame(pdf, schema).coalesce(1)
            else:
                out = doc_stats.groupBy("field").agg(
                    F.count("*").alias("n_docs"),
                    F.sum("dl").alias("sum_dl"),
                    (F.sum("dl") / F.count("*")).alias("avgdl"),
                )
            out.write.parquet(commit.stage("corpus_stats"))

        # the clash check and the four staged writes are independent
        # jobs — submit them together so later jobs back-fill executor
        # cores idled by earlier jobs' tails (guide §2.6); finalize is
        # job-count-bound, not data-bound.
        futs = [
            commit.pool.submit(fn)
            for fn in (
                check_clash,
                write_dictionary,
                write_rev,
                write_ngrams,
                write_corpus_stats,
            )
        ]
        for fut in futs:
            fut.result()
        fmark("clash+writes")

    def _shard_metrics(
        self, spark: SparkSession, root: str, shards: list[int]
    ) -> dict[int, dict]:
        """Per-shard ledger metrics of ``shards`` read from the
        postings/doc_stats partitions under ``root`` (a commit's
        staging root, or an index dir)."""
        if not shards:
            return {}
        out = self._shard_metrics_arrow(root, shards)
        if out is not None:
            return out
        p = (
            spark.read.parquet(f"{root}/postings")
            .filter(F.col("shard").isin(shards))
            .groupBy("shard")
            .agg(
                F.sum("df").alias("n_postings"),
                F.sum(
                    F.length("docs_buf") + F.length("tfs_buf")
                ).alias("bytes"),
            )
        )
        d = (
            spark.read.parquet(f"{root}/doc_stats")
            .filter(F.col("shard").isin(shards))
            .groupBy("shard")
            .agg(F.count_distinct("doc_id").alias("n_docs"))
        )
        out: dict[int, dict] = {}
        for r in p.join(d, "shard", "outer").collect():
            out[int(r["shard"])] = {
                "n_postings": int(r["n_postings"] or 0),
                "bytes": int(r["bytes"] or 0),
                "n_docs": int(r["n_docs"] or 0),
            }
        return out

    @staticmethod
    def _shard_metrics_arrow(
        root: str, shards: list[int]
    ) -> dict[int, dict] | None:
        """Driver-side twin of the Spark ledger-metrics aggregation.

        The touched shards' postings/doc_stats partitions are one
        small file each (the build's write layout), so for a local
        filesystem the three per-shard aggregates (sum(df), summed
        posting-buffer bytes, distinct doc count) are a bounded
        pyarrow read — no Spark job on the commit critical path.
        Partitions larger than ``ARROW_METRICS_MAX`` bytes in all, or
        a read error, fall back to the Spark aggregation, which is
        value-identical.
        """

        def _files(art: str, s: int) -> list[str]:
            d = f"{root}/{art}/shard={s}"
            if not os.path.isdir(d):
                return []
            return [
                f"{d}/{fn}" for fn in os.listdir(d) if fn.endswith(".parquet")
            ]

        try:
            todo: dict[int, tuple[list[str], list[str]]] = {}
            total = 0
            for s in shards:
                pf, df_ = _files("postings", s), _files("doc_stats", s)
                for fp_ in pf + df_:
                    total += os.path.getsize(fp_)
                todo[int(s)] = (pf, df_)
            if total > ARROW_METRICS_MAX:
                return None
            out: dict[int, dict] = {}
            for s, (pf, df_) in todo.items():
                n_post = by = 0
                for fp_ in pf:
                    t = pq.read_table(
                        fp_, columns=["df", "docs_buf", "tfs_buf"]
                    )
                    if t.num_rows:
                        n_post += int(pc.sum(t.column("df")).as_py() or 0)
                        for col in ("docs_buf", "tfs_buf"):
                            by += int(
                                pc.sum(
                                    pc.binary_length(t.column(col))
                                ).as_py()
                                or 0
                            )
                docs: set = set()
                for fp_ in df_:
                    t = pq.read_table(fp_, columns=["doc_id"])
                    docs.update(t.column("doc_id").to_pylist())
                out[s] = {
                    "n_postings": n_post,
                    "bytes": by,
                    "n_docs": len(docs),
                }
            return out
        except (OSError, pa.ArrowInvalid):
            return None

    # ------------------------------------------------------------ ledger

    @staticmethod
    def _read_ledger(index_dir: str) -> dict[int, dict]:
        return read_ledger(index_dir)


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    builder: "IndexBuilder",
    doc_ids,
    assume_dense_shards: bool = False,
) -> dict:
    """Doc-level delete: rebuild ONLY the shards containing the
    tombstoned docs; shards emptied entirely are dropped through the
    orphan path. Everything downstream stays consistent: postings,
    doc store, dictionary (incremental subtract+add merge), corpus
    stats/avgdl, snapshot lineage — and queries on the index exclude
    the deleted docs immediately.

    The reference's only answer to a deleted record is a scheduled
    full rebuild (Indexer.java:83-88 deleteByQuery + re-ingest);
    fingerprints already localize change to shards, so a delete is
    just "rebuild the affected shards from their surviving docs".

    Locating the affected shards costs one column-pruned doc-store
    scan with the doc_id IN-list pushed down; pass
    ``assume_dense_shards=True`` when shard == doc_id //
    manifest.docs_per_shard (the layout every job in this repo uses)
    to also push a shard IN-list — partition-pruned, O(tombstones).

    Idempotent: deleting already-absent ids is a no-op (their shards'
    fingerprints are unchanged, so resume skips them).

    Holds the writer lock around the WHOLE read-plan-rebuild sequence
    (ADVICE r5: the scan and the survivor checkpoint previously ran
    before the build acquired the lock, so a concurrent writer could
    commit between them and have its changes clobbered by the stale
    snapshot's rebuild).
    """
    ids = sorted({int(i) for i in doc_ids})
    if not ids:
        return {"docs_deleted": 0, "shards_rebuilt": 0, "shards_dropped": 0}
    with _Commit(index_dir) as commit:
        store = spark.read.parquet(f"{index_dir}/docs")
        scoped = store
        candidates: list[int] | None = None
        if assume_dense_shards:
            with open(f"{index_dir}/manifest.json") as fh:
                dps = int(json.load(fh).get("docs_per_shard") or 0)
            if dps:
                candidates = sorted({i // dps for i in ids})
                scoped = store.filter(F.col("shard").isin(candidates))
        # one pass answers both questions (tombstones per shard AND
        # shard totals): the former two sequential jobs scanned the
        # same scoped rows twice
        hit_query = (
            scoped.groupBy("shard")
            .agg(
                F.count("*").alias("n"),
                F.count(
                    F.when(F.col("doc_id").isin(ids), F.lit(1))
                ).alias("n_del"),
            )
            .filter(F.col("n_del") > 0)
        )
        surv_all = None
        if candidates is not None:
            # dense layout: the candidate shards are known driver-side
            # without the tombstone counts, so the survivor snapshot
            # (and its fingerprint agg, which gates the rebuild) run
            # CONCURRENTLY with the count job instead of behind it
            # (guide §2.6). Emptied/unaffected candidate shards carry
            # zero/unchanged rows and fall out via the drop path / the
            # fingerprint gate exactly as before. Known cost shift: a
            # fully-no-op replay (every id already absent) now runs
            # the snapshot/fp jobs it will discard — wall time is
            # unchanged (they run concurrent with the count that
            # discovers the no-op) and the work is bounded by the
            # candidate shards, but it is no longer a single job.
            surv_q = scoped.filter(~F.col("doc_id").isin(ids))
            surv_fut = commit.pool.submit(commit.checkpoint, surv_q)
            fp_fut = commit.pool.submit(builder._fp_map, surv_q)
            hit = hit_query.collect()
            surv_all = surv_fut.result()
            surv_fp = fp_fut.result()
        else:
            hit = hit_query.collect()
        if not hit:
            return {
                "docs_deleted": 0, "shards_rebuilt": 0, "shards_dropped": 0
            }
        affected = {int(r["shard"]): int(r["n_del"]) for r in hit}
        totals = {int(r["shard"]): int(r["n"]) for r in hit}
        emptied = {s for s, n in affected.items() if n == totals[s]}
        rebuild = sorted(set(affected) - emptied)
        if surv_all is not None:
            survivors = (
                surv_all.filter(F.col("shard").isin(rebuild))
                if rebuild
                else _empty_like(spark, store.schema)
            )
            pre_fp = {s: f for s, f in surv_fp.items() if s in rebuild}
        else:
            survivors = (
                commit.checkpoint(
                    store.filter(F.col("shard").isin(rebuild)).filter(
                        ~F.col("doc_id").isin(ids)
                    )
                )
                if rebuild
                else _empty_like(spark, store.schema)
            )
            pre_fp = None
        metrics = builder._build_locked(
            commit,
            survivors,
            resume=True,
            append=True,
            drop_shards=emptied,
            precomputed_fp=pre_fp,
        )
    metrics.update(
        docs_deleted=sum(affected.values()),
        shards_rebuilt=len(rebuild),
        shards_dropped=len(emptied),
    )
    return metrics


def update_docs(
    spark: SparkSession,
    index_dir: str,
    builder: "IndexBuilder",
    updates: dict[int, dict],
    assume_dense_shards: bool = False,
) -> dict:
    """Atomic document update (Solr's atomic update, ``set``
    semantics): per-doc partial field updates re-index ONLY the
    shards containing the touched docs — the point-mutation
    counterpart to ``delete_docs``' shard-scoped rebuild (the
    reference's only answer to a changed record is the scheduled full
    re-ingest, Indexer.java:83-88).

    ``updates`` maps doc_id -> {column: new value} over doc-store
    columns (content and/or stored attributes). A ``None`` value
    keeps the old value (coalesce merge) — removing a field is not
    supported. Ids absent from the index are ignored, like
    ``delete_docs`` (idempotence over replays beats erroring in a
    pipeline). Updates are DRIVER-SIDE point data by contract (a
    handful of docs); bulk mutation is a rebuild, not N atomic
    updates.

    When an update touches ``content``, ``content_sha256`` is
    recomputed so the shard fingerprint changes and the resume path
    rebuilds exactly the touched shards (and a replay against an
    already-updated index is a no-op). Updates to OTHER indexed
    fields (path/lang-style) change the fingerprint too — the shard
    row hash covers every indexed field's value (ADVICE r5 high: it
    previously hashed only content_sha256, so a lang-only update
    reported success while postings and the doc store silently kept
    the old value). Postings, dictionary partials, df/avgdl, block
    maxima and the doc store all refresh through the same incremental
    finalize as any shard rebuild.

    Two execution classes, chosen by what the update touches:

    - Any INDEXED field (the manifest's analyzer map, e.g.
      ``content``) -> the touched shards rebuild through the builder
      (fingerprint changes via the recomputed ``content_sha256``);
      postings, dictionary, df/avgdl, block maxima all refresh.
    - STORED-ONLY attributes (rank/facet columns) -> the Lucene
      ``updateDocValues`` analog: postings and stats are untouched by
      construction, so ONLY the affected doc-store shard partitions
      rewrite, published by the same journaled commit every write
      uses (a crash mid-publish replays forward). No re-analysis, no
      finalize — O(touched shards) I/O.

    A single call mixing both classes takes the rebuild path for
    everything (correct, just not minimal).

    Holds the writer lock around the WHOLE read-merge-write sequence
    in both execution classes (ADVICE r5: the affected-shard scan and
    the doc-store merge previously ran before the lock, so a
    concurrent compaction/update could commit in the gap and have its
    rows clobbered by the stale merged snapshot).

    -> builder metrics + {"docs_updated": n, "shards_rebuilt": n}.
    """
    bad = sorted({c for u in updates.values() for c in u}
                 & {"doc_id", "shard"})
    if bad:
        raise ValueError(f"cannot update identity columns {bad}")
    ids = sorted({int(i) for i in updates})
    if not ids:
        return {"docs_updated": 0, "shards_rebuilt": 0}
    with _Commit(index_dir) as commit:
        return _update_docs_locked(
            commit, spark, builder, updates, ids, assume_dense_shards
        )


def _update_docs_locked(
    commit: "_Commit",
    spark: SparkSession,
    builder: "IndexBuilder",
    updates: dict[int, dict],
    ids: list[int],
    assume_dense_shards: bool,
) -> dict:
    """Body of ``update_docs``, inside its commit."""
    index_dir = commit.index_dir
    store = spark.read.parquet(f"{index_dir}/docs")
    store_types = {f.name: f.dataType for f in store.schema.fields}
    upd_cols = sorted({c for u in updates.values() for c in u})
    for c in upd_cols:
        if c not in store_types:
            raise ValueError(
                f"update column {c!r} is not in the doc store "
                f"(has: {sorted(store_types)})"
            )
    with open(f"{index_dir}/manifest.json") as fh:
        manifest = json.load(fh)
    indexed = set(manifest.get("fields") or {})
    rebuild_class = bool(set(upd_cols) & indexed)
    scoped = store
    candidates: list[int] | None = None
    if assume_dense_shards:
        dps = int(manifest.get("docs_per_shard") or 0)
        if dps:
            candidates = sorted({i // dps for i in ids})
            scoped = store.filter(F.col("shard").isin(candidates))
    # one job yields the affected shards AND the updated-doc count
    # (doc_id is unique in the store, so rows hit == docs updated);
    # the former shape paid a distinct-collect here plus a semi-join
    # count after the merge
    hit_query = (
        scoped.filter(F.col("doc_id").isin(ids))
        .groupBy("shard")
        .agg(F.count("*").alias("n"))
    )
    upd_pdf = pd.DataFrame(
        [
            {"doc_id": i, **{c: updates[i].get(c) for c in upd_cols}}
            for i in ids
        ]
    )
    upd = spark.createDataFrame(upd_pdf).alias("u")

    def _merged_over(rows_df: DataFrame) -> DataFrame:
        m = rows_df.alias("s").join(
            F.broadcast(upd), "doc_id", "left"
        ).select(
            "doc_id",
            *[
                (
                    F.coalesce(
                        F.col(f"u.{c}").cast(store_types[c]),
                        F.col(f"s.{c}"),
                    )
                    if c in upd_cols
                    else F.col(f"s.{c}")
                ).alias(c)
                for c in store_types
                if c != "doc_id"
            ],
        )
        if "content" in upd_cols and "content_sha256" in store_types:
            m = m.withColumn(
                "content_sha256",
                F.sha2(F.coalesce("content", F.lit("")), 256),
            )
        return m

    if candidates is not None:
        # dense layout: the candidate shards are known without the hit
        # counts, so the merged snapshot (and, for the rebuild class,
        # its fingerprint agg) run CONCURRENTLY with the count job
        # (guide §2.6). Both are then narrowed to the truly affected
        # shards, keeping metrics and the resume gate byte-identical
        # (a replayed identical update still skips, shards_built == 0).
        merged_q = _merged_over(scoped)
        ck_fut = commit.pool.submit(commit.checkpoint, merged_q)
        fp_fut = (
            commit.pool.submit(builder._fp_map, merged_q)
            if rebuild_class
            else None
        )
        hit = hit_query.collect()
        merged_all = ck_fut.result()
        fp_all = fp_fut.result() if fp_fut is not None else None
        affected = sorted(int(r["shard"]) for r in hit)
        n_updated = int(sum(r["n"] for r in hit))
        if not affected:
            return {"docs_updated": 0, "shards_rebuilt": 0}
        merged = merged_all.filter(F.col("shard").isin(affected))
        pre_fp = (
            {s: f for s, f in fp_all.items() if s in affected}
            if fp_all is not None
            else None
        )
    else:
        hit = hit_query.collect()
        affected = sorted(int(r["shard"]) for r in hit)
        n_updated = int(sum(r["n"] for r in hit))
        if not affected:
            return {"docs_updated": 0, "shards_rebuilt": 0}
        merged = commit.checkpoint(
            _merged_over(store.filter(F.col("shard").isin(affected)))
        )
        pre_fp = None
    if rebuild_class:
        metrics = builder._build_locked(
            commit, merged, resume=True, append=True,
            precomputed_fp=pre_fp,
        )
    else:
        # stored-only attrs: docvalues-style doc-store partition
        # rewrite; postings/stats untouched. Shards are independent —
        # stage them concurrently (guide §2.6); the commit publishes
        # each partition.
        def _rewrite(s: int) -> None:
            rows = merged.filter(F.col("shard") == s).drop("shard")
            rows.repartition(1).write.parquet(
                commit.stage(f"docs/shard={s}")
            )

        list(commit.pool.map(_rewrite, affected))
        commit.publish += [f"docs/shard={s}" for s in affected]
        metrics = {}
    metrics.update(docs_updated=n_updated, shards_rebuilt=len(affected))
    return metrics


def attach_stored_column(
    spark: SparkSession,
    index_dir: str,
    values: DataFrame,
    column: str,
) -> dict:
    """Bulk docvalues attach: add (or replace) ONE stored doc-store
    column across the whole index from a ``(doc_id, <column>)``
    DataFrame — the reference's precomputed-rank-table pattern
    (GxdResultIndexer.java:869-883 computes R_BY_* sort ranks in a
    separate pass, then every query sorts on them) as a first-class
    index operation: compute ranks with any Spark window/agg job,
    attach them here, and ``sorted_matches``/facets/stats serve the
    new column immediately. Postings, dictionary and corpus stats are
    untouched by construction — this is ``update_docs``' docvalues
    path at corpus scale.

    Scale shape: ONE distributed job — the doc store left-joins the
    values on doc_id (co-partitioned by repartitioning on shard
    before the partitioned write, so each output partition writes
    once), lands in staging, and the whole ``docs`` artifact publishes
    through the commit journal (a crash mid-publish replays forward). Docs absent from ``values`` get NULL (Solr's missing
    docvalue). ``values`` must not contain duplicate doc_ids (raises
    — a dup would fan out the join and duplicate store rows).

    Engines opened before the attach keep reading their old relation
    plans — re-open after, exactly like compaction.
    """
    if set(values.columns) != {"doc_id", column}:
        raise ValueError(
            f"values must have exactly (doc_id, {column!r}) columns, "
            f"got {values.columns}"
        )
    if column in ("doc_id", "shard"):
        raise ValueError(f"cannot attach identity column {column!r}")
    with _Commit(index_dir) as commit:
        store = spark.read.parquet(f"{index_dir}/docs")
        vals = commit.checkpoint(values)
        n_vals = vals.count()
        if vals.select("doc_id").distinct().count() != n_vals:
            raise ValueError("values contains duplicate doc_ids")
        base = store.drop(column) if column in store.columns else store
        joined = base.join(vals, "doc_id", "left")
        (
            joined.repartition("shard")
            .write.partitionBy("shard")
            .parquet(commit.stage("docs"))
        )
        # honest count: values for ids absent from the index dropped
        # through the left join (column-pruned scan of the new store)
        n_attached = (
            spark.read.parquet(commit.stage("docs"))
            .filter(F.col(column).isNotNull())
            .count()
        )
        commit.publish.append("docs")
    return {"column": column, "docs_with_value": int(n_attached)}


def backup_index(index_dir: str, dest_dir: str) -> dict:
    """Consistent point-in-time copy of a committed index — the Solr
    admin backup analog (the reference has no backup story beyond
    re-running the build). Holds the writer lock for the duration so
    no build/compaction/update mutates artifacts mid-copy; readers
    are unaffected (they never take the lock). Pending swaps are
    replayed first, so the copy is always a committed snapshot.

    The lock file and in-flight swap temporaries (dot-prefixed) are
    excluded — a restore must not resurrect another writer's lock
    state. Local-filesystem ``copytree`` here; on a cluster the same
    artifact set copies via distcp / object-store copy — the layout
    is plain parquet + json either way.

    -> {"files": n, "bytes": n}."""
    if os.path.exists(dest_dir) and os.listdir(dest_dir):
        raise ValueError(f"backup destination {dest_dir!r} is not empty")
    with _WriterLock(index_dir):
        _recover_compaction(index_dir)
        os.makedirs(dest_dir, exist_ok=True)
        for name in sorted(os.listdir(index_dir)):
            if name.startswith(".") or name == "_writer.lock":
                continue
            src = f"{index_dir}/{name}"
            dst = f"{dest_dir}/{name}"
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy2(src, dst)
        n_files = n_bytes = 0
        for root, _dirs, files in os.walk(dest_dir):
            for f in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return {"files": n_files, "bytes": n_bytes}


def restore_index(backup_dir: str, dest_dir: str) -> dict:
    """Restore a ``backup_index`` snapshot into ``dest_dir`` (must be
    empty/absent — restoring over a live index is refused rather than
    half-merged). The restored directory is immediately queryable and
    writable; it acquires its own fresh writer-lock file on first
    mutation."""
    if not os.path.isfile(f"{backup_dir}/manifest.json"):
        raise ValueError(f"{backup_dir!r} is not an index backup")
    if os.path.exists(dest_dir) and os.listdir(dest_dir):
        raise ValueError(f"restore destination {dest_dir!r} is not empty")
    os.makedirs(dest_dir, exist_ok=True)
    n = 0
    for name in sorted(os.listdir(backup_dir)):
        src = f"{backup_dir}/{name}"
        dst = f"{dest_dir}/{name}"
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy2(src, dst)
        n += 1
    return {"artifacts": n}


def _swap_dir_commit(index_dir: str, rel: str, drop: bool = False) -> None:
    """Publish one path: replace ``{index_dir}/{rel}`` with its staged
    copy ``{STAGING}/{rel}``, or remove it (``drop``). A directory
    moves aside to ``.<rel, '/' as '__'>_old`` before its replacement
    renames in, so readers see the old or the new tree, never a
    half-deleted one; a file is replaced atomically. Idempotent: a
    replay after a crash between any two steps finishes the job."""
    src = f"{index_dir}/{rel}"
    new = f"{index_dir}/{STAGING}/{rel}"
    old = f"{index_dir}/.{rel.replace('/', '__')}_old"
    if os.path.isfile(new):
        os.replace(new, src)
        return
    if drop or os.path.isdir(new):
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(src):
            os.rename(src, old)
        if not drop:
            os.makedirs(os.path.dirname(src), exist_ok=True)
            os.rename(new, src)
    elif not os.path.isdir(src) and os.path.isdir(old):
        # moved aside, but the replacement is gone: roll back
        os.rename(old, src)
    shutil.rmtree(old, ignore_errors=True)


def _field_totals(
    kept_entries: dict[int, dict],
    delta_field_stats: dict[int, dict[str, dict]],
) -> dict[str, list[int]]:
    """Global per-field [n_docs, sum_dl] = kept shards' ledger
    field_stats + this build's delta aggregates — replaces the
    all-shards doc_stats scan with O(1) driver arithmetic."""
    totals: dict[str, list[int]] = {}
    for e in kept_entries.values():
        for f, st in e["field_stats"].items():
            t = totals.setdefault(f, [0, 0])
            t[0] += int(st["n_docs"])
            t[1] += int(st["sum_dl"])
    for per in delta_field_stats.values():
        for f, st in per.items():
            t = totals.setdefault(f, [0, 0])
            t[0] += st["n_docs"]
            t[1] += st["sum_dl"]
    return totals


class ConcurrentWriteError(RuntimeError):
    """Another live writer holds this index's writer lock."""


class _WriterLock:
    """Single-writer guard for an index directory.

    The Iceberg analog is optimistic snapshot commit; on a plain
    filesystem we hold an exclusive ``flock`` on a persistent lock
    file. The kernel owns the lock state, which removes both failure
    modes of pid-stamped lock files in one stroke: a crashed writer's
    lock releases automatically (no staleness, no /proc liveness
    check), and there is no delete/recreate steal window (the
    read-dead-pid -> remove -> O_EXCL dance has a TOCTOU race where
    two stealers can each remove the other's freshly created lock and
    both proceed). The pid is written into the file for diagnostics
    only; the lock file itself is never deleted.

    Readers never wait on the lock: artifacts publish via renames in
    a fixed order with the ledger and manifest last (``_Commit``), and
    an engine open takes the lock only without blocking, only to
    replay a publish a crashed writer left half done. On a multi-writer
    cluster against shared object storage, replace this with the
    catalog's optimistic commit (Iceberg) or a lock service — flock
    is a same-host primitive, which is exactly the scope a single
    Spark driver mutating one index needs.
    """

    def __init__(self, index_dir: str):
        self.path = f"{index_dir}/_writer.lock"
        self._fd: int | None = None

    def __enter__(self) -> "_WriterLock":
        import fcntl

        fd = os.open(self.path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            owner = "unknown"
            try:
                with open(self.path) as fh:
                    owner = json.load(fh).get("pid", "unknown")
            except (OSError, ValueError):
                pass
            os.close(fd)
            raise ConcurrentWriteError(
                f"index is being written by live pid {owner} ({self.path})"
            ) from None
        os.ftruncate(fd, 0)
        os.write(fd, json.dumps({"pid": os.getpid()}).encode())
        self._fd = fd
        return self

    def __exit__(self, *exc) -> None:
        import fcntl

        if self._fd is not None:
            fcntl.flock(self._fd, fcntl.LOCK_UN)
            os.close(self._fd)
            self._fd = None


class _Commit:
    """One writer-side commit of an index: compute into staging,
    publish once.

    Entering takes the writer lock and, holding it, finishes any
    publish a crashed writer left half done (``_recover_compaction``,
    which also clears stale staging). The body writes every new
    artifact to ``stage(rel)`` under the dot-prefixed staging root,
    runs its concurrent jobs on the commit's one thread ``pool``,
    persists through ``cache`` and ``checkpoint``, and lists what it publishes: paths in
    ``publish`` (a path with nothing staged is removed) and json texts
    in ``files``. Reads of the index as the commit will leave it go
    through ``view``.

    Exit, on every path, joins the pool (cancelling queued work after
    a failure) and releases what it cached. Only a clean exit
    publishes: it stages the json files, records the whole plan in
    the journal, then applies it in order — removals, then the
    ``publish`` paths as listed, then the files (a build lists shard
    partitions, then the dictionary artifacts, then ``ledger.json``,
    then ``manifest.json``) — and deletes the journal. A failure
    before publish leaves every live file untouched; a crash during
    it is replayed forward from the journal by the next writer (or
    engine open), so the index ends up exactly as this commit would
    have left it.
    """

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.staging = f"{index_dir}/{STAGING}"
        self.publish: list[str] = []
        self.files: dict[str, str] = {}
        self._cached: list[DataFrame] = []
        self._rdds: list = []
        self._lock = _WriterLock(index_dir)

    def __enter__(self) -> "_Commit":
        os.makedirs(self.index_dir, exist_ok=True)
        self._lock.__enter__()
        try:
            _recover_compaction(self.index_dir)
        except BaseException:
            self._lock.__exit__()
            raise
        # every job a commit overlaps (guide §2.6) runs here; sized for
        # a build's peak: 3 staged artifact writes, finalize with its
        # clash check and 4 writes, and the ledger-metrics read
        self.pool = ThreadPoolExecutor(
            max_workers=10, thread_name_prefix="gxdidx-commit"
        )
        return self

    def stage(self, rel: str) -> str:
        return f"{self.staging}/{rel}"

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until the commit ends."""
        self._cached.append(df.persist())
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """``df.localCheckpoint()`` held until the commit ends. Spark
        frees a checkpoint only through its RDD (``unpersist`` on the
        checkpointed frame leaves the blocks), so the commit keeps
        that RDD."""
        ck = df.localCheckpoint()
        self._rdds.append(ck._jdf.queryExecution().analyzed().rdd())
        return ck

    def view(
        self, spark: SparkSession, art: str, replaced: set[int]
    ) -> DataFrame:
        """Shard artifact ``art`` as this commit publishes it: live
        partitions of the shards it keeps, staged partitions of the
        ``replaced`` shards it rebuilds."""
        parts = []
        live = f"{self.index_dir}/{art}"
        if _artifact_shards(self.index_dir, (art,)) - replaced:
            parts.append(
                spark.read.parquet(live).filter(
                    ~F.col("shard").isin(sorted(replaced))
                )
            )
        if _artifact_shards(self.staging, (art,)):
            parts.append(spark.read.parquet(self.stage(art)))
        return functools.reduce(DataFrame.unionByName, parts)

    def __exit__(self, exc_type, *_exc) -> None:
        try:
            self.pool.shutdown(cancel_futures=exc_type is not None)
            for df in self._cached:
                df.unpersist()
            for rdd in self._rdds:
                rdd.unpersist(False)
            if exc_type is not None:
                shutil.rmtree(self.staging, ignore_errors=True)
            else:
                self._publish()
        finally:
            self._lock.__exit__()

    def _publish(self) -> None:
        os.makedirs(self.staging, exist_ok=True)
        for name, text in self.files.items():
            with open(self.stage(name), "w") as fh:
                fh.write(text)
        paths = self.publish + list(self.files)
        staged = {p for p in paths if os.path.exists(self.stage(p))}
        plan = {
            "remove": [p for p in paths if p not in staged],
            "replace": [p for p in paths if p in staged],
        }
        if paths:
            tmp = self.stage(".journal")
            with open(tmp, "w") as fh:
                json.dump(plan, fh)
            os.replace(tmp, f"{self.index_dir}/{JOURNAL}")
        _recover_compaction(self.index_dir)


def read_ledger(index_dir: str) -> dict[int, dict]:
    """Consolidated ledger (single json) with fallback to the legacy
    per-shard ledger/ directory from pre-consolidation builds."""
    path = f"{index_dir}/ledger.json"
    if os.path.isfile(path):
        with open(path) as fh:
            return {int(s): e for s, e in json.load(fh).items()}
    out: dict[int, dict] = {}
    ldir = f"{index_dir}/ledger"
    if not os.path.isdir(ldir):
        return out
    for fn in os.listdir(ldir):
        if fn.endswith(".json"):
            with open(f"{ldir}/{fn}") as fh:
                e = json.load(fh)
            out[int(e["shard"])] = e
    return out


def _artifact_shards(
    index_dir: str, arts: tuple[str, ...] = SHARD_ARTIFACTS
) -> set[int]:
    """Shard ids present in the partition directories of ``arts``."""
    out: set[int] = set()
    for art in arts:
        d = f"{index_dir}/{art}"
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if name.startswith("shard="):
                try:
                    out.add(int(name.split("=", 1)[1]))
                except ValueError:
                    pass
    return out


def _recover_compaction(index_dir: str) -> None:
    """Finish a publish a crashed writer left half done, then clear
    staging. Caller holds the writer lock.

    The journal is written only after everything it names is fully
    staged, so replay rolls FORWARD: each removal and replacement is
    applied again (``_swap_dir_commit`` is idempotent) and the journal
    is deleted. A single-swap marker (``.<key>_swap.marker``, its
    replacement in ``.<key>_compact_tmp``) left by a writer that
    predates the journal replays the same way.
    """
    if not os.path.isdir(index_dir):
        return
    staging = f"{index_dir}/{STAGING}"
    journal = f"{index_dir}/{JOURNAL}"
    plan = {"remove": [], "replace": []}
    if os.path.isfile(journal):
        with open(journal) as fh:
            plan = json.load(fh)
    markers = [n for n in os.listdir(index_dir) if _is_swap_marker(n)]
    for name in markers:
        key = name[1 : -len("_swap.marker")]
        rel = key.replace("__", "/")
        legacy_tmp = f"{index_dir}/.{key}_compact_tmp"
        if os.path.isdir(legacy_tmp):
            os.makedirs(os.path.dirname(f"{staging}/{rel}"), exist_ok=True)
            os.rename(legacy_tmp, f"{staging}/{rel}")
        plan["replace"].append(rel)
    for rel in plan["remove"]:
        _swap_dir_commit(index_dir, rel, drop=True)
    for rel in plan["replace"]:
        _swap_dir_commit(index_dir, rel)
    for name in markers:
        os.remove(f"{index_dir}/{name}")
    if os.path.isfile(journal):
        os.remove(journal)
    shutil.rmtree(staging, ignore_errors=True)


def _is_swap_marker(name: str) -> bool:
    return name.startswith(".") and name.endswith("_swap.marker")


def _publish_pending(index_dir: str) -> bool:
    """True when an interrupted publish awaits replay in ``index_dir``
    (one directory listing)."""
    return os.path.isdir(index_dir) and any(
        name == JOURNAL or _is_swap_marker(name)
        for name in os.listdir(index_dir)
    )


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Segment compaction — the reference's end-of-build Solr `optimize`
    (Indexer.java:126-129) / Iceberg `rewrite_data_files` analog:
    rewrite each artifact coalesced to one file per shard partition so
    query-time scans open O(shards) files instead of O(shards x tasks).
    Content is unchanged (queries return identical results). Every
    artifact is rewritten into staging and all of them publish in one
    journaled commit, so a crash leaves the index either as it was or
    (after replay) fully compacted. Holds the writer lock: compaction
    never races a build.
    """
    with _Commit(index_dir) as commit:
        stats: dict = {}
        for art in ("postings", "doc_stats", "dict_parts", "docs"):
            src = f"{index_dir}/{art}"
            if not os.path.isdir(src):
                continue
            # sort by the query-pushed keys inside each shard file so
            # parquet row-group min/max stats prune the term_id IN-list
            # scans (a query then reads only the row groups holding
            # its terms, not the whole shard file).
            sort_keys = (
                ["shard", "field", "term_id"]
                if art == "postings"
                else ["shard"]
            )
            (
                spark.read.parquet(src)
                .repartition("shard")
                .sortWithinPartitions(*sort_keys)
                .write.option("maxRecordsPerFile", 0)
                .partitionBy("shard")
                .parquet(commit.stage(art))
            )
            stats[art] = {
                "files_before": _parquet_files(src),
                "files_after": _parquet_files(commit.stage(art)),
            }
            commit.publish.append(art)
        return stats


def _parquet_files(path: str) -> int:
    return sum(
        1
        for _root, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
