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
touching a live file, moves what it staged to new paths that nothing
overwrites, and commits by one atomic replace of ``manifest.json``,
which also carries the per-shard ledger (``gxdindexer_spark.snapshot``
owns the layout). A reader stays on the snapshot it opened.

Two commit backends compute into that staging root, picked per commit
by the ``LOCAL_MAX_COMMIT_DOCS`` guard on the docs the commit
re-indexes or rewrites (an append's delta, the docs of the shards a
delete or update touches, every doc for a compaction):

* **local** (at or under the guard): the commit runs in the driver on
  pandas + pyarrow. An incremental ``build`` brings its delta rows to
  the driver once; ``delete_docs`` / ``update_docs`` read the
  candidate ``docs/shard=S`` partitions with pyarrow; ``compact_index``
  rewrites each shard partition with pyarrow. A small commit then
  starts at most the fingerprint and delta-collect jobs of a build
  input, and none for a delete, update or compaction — most of a
  Spark commit of a few shards is job dispatch, not work.
* **Spark**: fresh builds (no kept shard: the delta is the whole
  corpus, where the executors' parallel encode wins and there is no
  prior dictionary to merge) and commits above the guard, where the
  local backend's one-core encode loses to the executors'.

Both run the same tokenizer (``_tokenize``), the same encoder
(``encode_groups``), the same dictionary rule (prior dictionary −
replaced ``dict_parts`` + new partials), read and plan the shards a
delete or an update touches through one function
(``_touched_shards``) with the same row rules (the tombstone filter,
``_cast_updates`` + ``_merge_updates``), and write every artifact with
the same schema (``schemas.*``), so either backend's commit reads the
same through both query backends and leaves row-identical artifacts.

The reference analog of this stage is the chunked extract-assemble-load
loop in GxdResultIndexer.java:900-1268 (chunks == partitions here) with
its hand-rolled HashMap broadcast caches (==F.broadcast / broadcast
vars) and batched Solr sink (==task-level parquet writes); the posting
format itself has no reference analog — the reference delegates it to
Lucene.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
import shutil
import time
import zlib
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema

from gxdindexer_spark import schemas
from gxdindexer_spark import snapshot as layout
from gxdindexer_spark.functions import analyze, bm25, hashing
from gxdindexer_spark.functions.codec import encode_postings
from gxdindexer_spark.session import empty_frame, local_checkpoint

DEFAULT_FIELDS = {"content": "code", "path": "path", "lang": "lang"}
# per-shard partitions of a build; the global artifacts its finalize
# derives from them
SHARD_ARTIFACTS = ("docs", "doc_stats", "dict_parts", "postings")
STATS_ARTIFACTS = (
    "dictionary", "dictionary_rev", "dictionary_ngrams", "corpus_stats"
)
# ledger metrics are read driver-side with pyarrow up to this many
# bytes of touched partitions, with Spark above it
ARROW_METRICS_MAX = 256 << 20
#: Commit-backend guard (see module docstring): a commit that
#: re-indexes or rewrites at most this many docs runs on the
#: driver-local backend, a larger one on Spark. Set at the crossover of
#: ``bench_extra.py commit_crossover`` (BENCH/commit_crossover.json:
#: local[4], 80 docs a shard, median of 5). The local backend's cost is
#: its one-core encode, which grows with the docs (and shards) a
#: commit re-indexes; Spark's is ~3 s of job dispatch plus a parallel
#: encode. Appends tie at 640 docs (8 shards: 5.1 s local vs 4.8 s
#: Spark over a 5.5k-row dictionary, 4.80 vs 4.84 s over 20k rows) and
#: lose from 1280 (9.6 vs 7.6 s); deletes and content updates still
#: win at 640 (4.1 vs 5.4 s, 4.7 vs 7.7 s) and by 7-10% at 1280. The
#: dictionary rows a merge reads barely move it (an 80-doc append:
#: 0.7-1.0 s local, 2.7-3.4 s Spark over 0.9k-20k rows). Compaction and
#: stored-attribute updates re-index nothing and win locally well past
#: it (a 4800-doc compaction 1.8 vs 5.1 s), but share the guard, so a
#: large one runs on the executors rather than in the driver.
LOCAL_MAX_COMMIT_DOCS = 640
POSTING_COLS = [f.name for f in schemas.POSTINGS.fields]
ENCODE_KEYS = ["shard", "field", "term_id"]


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

    def tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield from _tokenize(pdf, fields, with_positions, synonyms)

    schema = schemas.TERM_FREQS if with_positions else schemas.TERM_FREQS_BASE
    cols = ["doc_id", "shard"] + list(fields)
    return docs.select(*cols).mapInPandas(tok, schema=schema)


def _tokenize(
    pdf: pd.DataFrame,
    fields: dict[str, str],
    with_positions: bool,
    synonyms: dict[str, list[str]] | None,
) -> Iterator[pd.DataFrame]:
    """One batch of docs (doc_id, shard, <fields>) -> its TERM_FREQS
    rows, one frame per non-empty field: the tokenizer of both commit
    backends (``term_freqs_df`` maps it over Arrow batches, the local
    backend calls it on the delta)."""
    if not len(pdf):
        return
    out_cols = ["doc_id", "shard", "field", "term", "term_id", "tf", "dl"]
    if with_positions:
        out_cols.append("positions")
    shard_of = pdf.set_index("doc_id")["shard"]
    for field, tokenizer in fields.items():
        if with_positions:
            tf = analyze.term_freqs_positions(
                pdf["doc_id"], pdf[field], tokenizer, synonyms=synonyms,
            )
        else:
            tf = analyze.term_freqs(
                pdf["doc_id"], pdf[field], tokenizer, synonyms=synonyms,
            )
        if not len(tf):
            continue
        tf.insert(1, "shard", shard_of.loc[tf["doc_id"]].to_numpy())
        tf.insert(2, "field", field)
        tf["term_id"] = hashing.term_ids(tf["term"])
        yield tf[out_cols]


def encode_groups(
    chunk: pd.DataFrame,
    avgdl: dict[str, float],
    k1: float,
    b: float,
    block_size: int,
    with_positions: bool,
) -> pd.DataFrame:
    """Whole (shard, field, term_id) groups, rows sorted by those keys
    then doc_id -> one POSTINGS row per group: the encoder of both
    commit backends. Group bounds come from numpy on the sorted key
    arrays, and each group's postings reach ``encode_postings`` as
    array slices (no per-group sub-frame)."""
    n = len(chunk)
    sh = chunk["shard"].to_numpy()
    fl = chunk["field"].to_numpy()
    tid = chunk["term_id"].to_numpy()
    cut = (
        np.flatnonzero(
            (sh[1:] != sh[:-1]) | (fl[1:] != fl[:-1]) | (tid[1:] != tid[:-1])
        )
        + 1
    )
    starts = np.concatenate(([0], cut)) if n else cut
    ends = np.concatenate((cut, [n])) if n else cut
    docs = chunk["doc_id"].to_numpy(np.int64)
    tfs = chunk["tf"].to_numpy(np.uint64)
    dls = chunk["dl"].to_numpy(np.uint64)
    dlf = dls.astype(np.float64)
    pos = chunk["positions"].to_numpy() if with_positions else None
    rows = []
    for lo, hi in zip(starts.tolist(), ends.tolist()):
        f = fl[lo]
        row = encode_postings(
            docs[lo:hi],
            tfs[lo:hi],
            bm25.tf_norm(tfs[lo:hi], dlf[lo:hi], avgdl[f], k1, b),
            block_size,
            dls=dls[lo:hi],
            positions=(
                [np.asarray(p, dtype=np.int64) for p in pos[lo:hi]]
                if pos is not None
                else None
            ),
        )
        rows.append({"shard": sh[lo], "field": f, "term_id": tid[lo], **row})
    return pd.DataFrame(rows, columns=POSTING_COLS)


def _rev_rows(d: pd.DataFrame) -> pd.DataFrame:
    """Dictionary rows -> ``dictionary_rev`` rows on the local backend:
    each term reversed by code point, as ``F.reverse`` does in
    ``_finalize_stats``."""
    return d.assign(rev_term=[t[::-1] for t in d["term"]])[
        schemas.DICTIONARY_REV.names
    ]


def _gram_rows(d: pd.DataFrame) -> pd.DataFrame:
    """Dictionary rows -> ``dictionary_ngrams`` rows on the local
    backend: one per distinct character 3-gram of each term of 3+
    characters, as ``_finalize_stats``' SQL expression derives them.
    (Running this function on Spark through ``mapInPandas`` instead
    added 1-2 s to a Spark commit, so each runner keeps its own form;
    ``tests/test_commit_backends.py`` holds them row-identical.)"""
    return pd.DataFrame(
        [
            (f, t, df, g)
            for f, t, df in zip(d["field"], d["term"], d["df"].tolist())
            if len(t) >= 3
            for g in dict.fromkeys(t[i : i + 3] for i in range(len(t) - 2))
        ],
        columns=schemas.DICTIONARY_NGRAMS.names,
    )


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
    ``salt_range`` is accepted and ignored: the docID-range salting it
    once configured is subsumed by the shard bound (see
    ``postings_df``).
    """

    def __init__(
        self,
        fields: dict[str, str] | None = None,
        docs_per_shard: int = 1_000_000,
        salt_range: int | None = None,
        block_size: int = 128,
        k1: float = bm25.K1,
        b: float = bm25.B,
        with_positions: bool = False,
        synonyms: dict[str, list[str]] | None = None,
    ):
        self.fields = fields or DEFAULT_FIELDS
        self.docs_per_shard = docs_per_shard
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
        blob = json.dumps(
            {
                "fields": self.fields,
                "docs_per_shard": self.docs_per_shard,
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

    def _fp_map_local(self, docs: pd.DataFrame) -> dict[int, str]:
        """Driver-local twin of ``_fp_map``, equal strings on equal
        rows: the row hash is CRC-32 of the UTF-8 bytes of
        ``concat_ws("\x1f", content_sha256, <other indexed fields,
        null as "">)`` (``concat_ws`` skips a null hash)."""
        pfp = self._params_fp()
        nonc = [f for f in sorted(self.fields) if f != "content"]

        def text(v) -> str:
            return "" if v is None or pd.isna(v) else str(v)

        crc = [
            zlib.crc32(
                "\x1f".join(
                    ([] if sha is None else [sha]) + [text(v) for v in rest]
                ).encode()
            )
            for sha, *rest in zip(
                docs["content_sha256"], *[docs[f] for f in nonc]
            )
        ]
        agg = (
            pd.DataFrame({"shard": docs["shard"].to_numpy(), "crc": crc})
            .groupby("shard")["crc"]
            .agg(["size", "sum"])
        )
        return {
            int(sh): f"{int(r['size'])}:{int(r['sum'])}:{pfp}"
            for sh, r in agg.iterrows()
        }

    # ------------------------------------------------------------ build

    def postings_df(self, tf: DataFrame, avgdl: dict[str, float]) -> DataFrame:
        """TERM_FREQS -> final POSTINGS rows (single-phase, shard-keyed).
        A pandas ``tf`` (the driver-local commit backend) gives a pandas
        frame of the same rows.

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
        k1, b_, bs = self.k1, self.b, self.block_size
        with_pos = self.with_positions
        if isinstance(tf, pd.DataFrame):
            # driver-local backend: the same encoder over the delta,
            # sorted as the Spark plan below arranges each partition
            return encode_groups(
                tf.sort_values([*ENCODE_KEYS, "doc_id"], ignore_index=True),
                avgdl, k1, b_, bs, with_pos,
            )
        spark = tf.sparkSession
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        b_avgdl = spark.sparkContext.broadcast(avgdl)
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
        arranged = (
            tf.select(*cols)
            .repartition(n_parts, "shard")
            .sortWithinPartitions(*ENCODE_KEYS, "doc_id")
        )

        def encode_stream(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            """Group-aware streaming encoder: carries the (possibly
            split) last group of each Arrow batch over to the next so
            memory stays bounded by group size, not partition size."""
            avg = b_avgdl.value
            yield from _stream_groups(
                batches,
                ENCODE_KEYS,
                lambda chunk: encode_groups(chunk, avg, k1, b_, bs, with_pos),
            )

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
        into staging and publishes once (``_Commit``); one manifest
        replace commits the shard partitions, the dictionary and the
        ledger's per-shard lineage entries together, and a re-run
        skips shards whose ledger entry matches the input fingerprint
        (SURVEY.md §4.4). ``resume=False`` also rebuilds an index an
        older builder wrote, and removes its files.

        Single-writer: the whole commit holds the index's writer lock
        (``_WriterLock``); a second live writer raises
        ``ConcurrentWriteError``. Every content-changing build commits
        a new ``snapshot_id`` (monotonic, with parent pointer and a
        bounded history) in the manifest — the Iceberg snapshot-lineage
        contract on plain parquet.
        """
        with _Commit(index_dir, fresh=not resume) as commit:
            return self._build_locked(
                commit, docs, resume, append, drop_shards
            )

    def _build_locked(
        self,
        commit: "_Commit",
        docs: DataFrame | pa.Table,
        resume: bool,
        append: bool = False,
        drop_shards: set[int] | None = None,
        precomputed_fp: dict[int, str] | None = None,
        spark: SparkSession | None = None,
    ) -> dict:
        """Body of ``build``: computes into ``commit``'s staging root
        and lists what the commit publishes. ``docs`` is a Spark frame,
        or the Arrow table a driver-local delete/update hands over with
        its ``spark`` session (and commits on the local backend)."""
        prior = commit.prior
        t0 = time.monotonic()
        local = isinstance(docs, pa.Table)
        rows_here = docs if local else None
        done = dict(prior.ledger)
        if not local:
            spark = docs.sparkSession
            if done and precomputed_fp is None and docs.isLocal():
                # a local relation committed onto an index: if it is
                # small enough for the local backend its rows come to
                # the driver once (at most guard + 1 rows are pulled)
                # and are fingerprinted here, otherwise by ``_fp_map``
                head = docs.limit(LOCAL_MAX_COMMIT_DOCS + 1).toArrow()
                if _fits_local(head.num_rows):
                    rows_here = head
        # input fingerprint per shard (see _fp_map for the contract).
        # Point mutations (delete/update) pass ``precomputed_fp``:
        # the same agg, computed by the caller CONCURRENTLY with its
        # own scan/cache jobs (guide §2.6), so the serial fingerprint
        # job disappears from the mutation critical path while the
        # resume gate below stays byte-identical (replayed no-op
        # mutations still skip with shards_built == 0).
        if precomputed_fp is not None:
            shard_fp = dict(precomputed_fp)
        elif rows_here is not None:
            shard_fp = self._fp_map_local(rows_here.to_pandas())
        else:
            shard_fp = self._fp_map(docs)
        # orphaned shards: present in artifacts/ledger but absent from
        # the input (shrunk or re-sharded corpus). Left in place they
        # would keep feeding dictionary df / avgdl / query results.
        orphans = (
            set()
            if append
            else set(done).union(*map(prior.shards, SHARD_ARTIFACTS))
            - set(shard_fp)
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
        # kept shards feed the global stats through their ledger
        # field_stats and the prior dictionary (north_rule: an append
        # or streaming micro-batch must not pay O(index) to commit)
        kept_entries = {
            s: e
            for s, e in done.items()
            if s not in replaced and (append or s in shard_fp)
        }
        # global stats only change when shards did: a pure no-op resume
        # (the common "is it up to date?" probe) skips the dictionary
        # re-agg + collision check + corpus_stats rewrite entirely.
        run_finalize = bool(replaced) or not (
            prior.path("dictionary") and prior.path("corpus_stats")
        )
        if run_finalize and kept_entries and (
            not prior.path("dictionary")
            or not all("field_stats" in e for e in kept_entries.values())
        ):
            raise ValueError(
                f"{commit.index_dir}: kept shards lack ledger field_stats "
                "or a dictionary (written by an older builder); rebuild "
                "every shard with build(docs, index_dir, resume=False)"
            )
        for s in orphans:
            done.pop(s, None)
        metrics = {
            "shards_total": len(shard_fp),
            "shards_built": len(pending),
            "shards_skipped": len(shard_fp) - len(pending),
        }
        # commit backend (module docstring): an incremental Spark-frame
        # build under the guard brings its pending rows to the driver
        # once (n_docs leads each shard's fingerprint)
        if (
            not local
            and kept_entries
            and _fits_local(
                sum(int(shard_fp[s].split(":", 1)[0]) for s in pending)
            )
        ):
            local = True
            if rows_here is not None:
                docs = rows_here.filter(
                    pc.is_in(
                        rows_here["shard"],
                        pa.array(pending, rows_here["shard"].type),
                    )
                )
            elif pending:
                docs = docs.filter(F.col("shard").isin(pending)).toArrow()
        metrics["backend"] = "local" if local else "spark"
        avgdl: dict[str, float] = {}
        delta_field_stats: dict[int, dict[str, dict]] = {}
        if pending and local:
            tf, dp = self._stage_local(commit, docs, delta_field_stats)
        elif pending:
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
            # ``dp`` (same cached lineage), so it never waits on this
            # write.
            dp = tf.groupBy("shard", "field", "term", "term_id").agg(
                F.count("*").alias("df"), F.sum("tf").alias("cf")
            )
            if wide:
                dp = dp.repartition(F.col("shard"))
            dict_parts_fut = write_staged(dp, "dict_parts")
        # global per-field totals (avgdl, corpus_stats): kept shards'
        # ledger field_stats plus this build's delta — no doc_stats scan
        totals = _field_totals(kept_entries, delta_field_stats)
        avgdl = {f: t[1] / t[0] for f, t in totals.items() if t[0]}

        def _run_finalize() -> str:
            # the dictionary as this commit leaves it: the prior
            # dictionary minus the replaced shards' old contributions
            # (their prior dict_parts) when any shard is kept, plus the
            # rebuilt shards' in-memory partials
            rows = []
            gone = sorted(replaced & set(prior.shards("dict_parts")))
            if kept_entries and local:
                rows.append(
                    pq.read_table(prior.path("dictionary")).to_pandas()
                )
                if gone:
                    old = prior.table("dict_parts", gone).to_pandas()
                    rows.append(old.assign(df=-old["df"], cf=-old["cf"]))
            elif kept_entries:
                rows.append(prior.read(spark, "dictionary"))
                if gone:
                    rows.append(
                        prior.read(spark, "dict_parts", gone)
                        .select(
                            "field", "term", "term_id",
                            (-F.col("df")).alias("df"),
                            (-F.col("cf")).alias("cf"),
                        )
                    )
            if pending:
                rows.append(dp)
            # no source: the commit leaves no shard, so no term
            rows = rows or [
                to_arrow_schema(schemas.DICTIONARY).empty_table().to_pandas()
                if local
                else empty_frame(spark, schemas.DICTIONARY)
            ]
            self._finalize_stats(commit, rows, totals)
            return "incremental" if kept_entries else "full"

        finalize_mode = "skipped"
        metrics_fut = None
        if pending and local:
            _stage_shards(
                commit, "postings", self.postings_df(tf, avgdl),
                schemas.POSTINGS,
            )
            finalize_mode = _run_finalize()
            metrics_fut = commit.pool.submit(
                self._shard_metrics, spark, commit.staged(), pending
            )
        elif pending:
            # the postings encode+write and finalize's dictionary work
            # are independent (both read the cached tf; each stages its
            # own dirs) — finalize runs on the commit pool CONCURRENTLY
            # with the postings job (guide §2.6). Neither touches a
            # live file: the commit publishes only after both, the
            # staged writes and the ledger metrics have succeeded, so a
            # failure anywhere before publish leaves the index exactly
            # as it was.
            fin_fut = commit.pool.submit(_run_finalize)
            self.postings_df(tf, avgdl).write.partitionBy("shard").parquet(
                commit.stage("postings")
            )

            # per-shard metrics only need the staged postings (written
            # above) and doc_stats (joined first) — overlap the scan
            # with finalize's tail
            def _metrics_after_ds():
                ds_fut.result()
                return self._shard_metrics(spark, commit.staged(), pending)

            metrics_fut = commit.pool.submit(_metrics_after_ds)
            finalize_mode = fin_fut.result()
            # a failed staged write must fail the commit before publish
            docs_fut.result()
            dict_parts_fut.result()
        elif run_finalize:
            finalize_mode = _run_finalize()
        metrics["finalize_mode"] = finalize_mode
        wall_ms = int((time.monotonic() - t0) * 1000)
        built = metrics_fut.result() if metrics_fut is not None else {}

        # the ledger rides in the manifest: one atomic replace commits
        # it with the paths it describes, O(1) reads at engine init.
        # Skipped shards keep their prior entries; orphans were dropped
        # above. Append mode keeps every untouched shard's entry; full
        # mode keeps only shards present in the input.
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
                "snapshot_id": commit.snap,
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
        # the commit replaces the rebuilt and removed shards'
        # partitions (a partition with nothing staged is removed) and,
        # after a finalize, the dictionary artifacts
        commit.publish += [
            f"{art}/shard={s}"
            for s in sorted(replaced)
            for art in SHARD_ARTIFACTS
        ]
        if run_finalize:
            commit.publish += list(STATS_ARTIFACTS)
        commit.lineage = {
            "shards_built": len(pending),
            "orphans_removed": len(orphans),
            "wall_ms": wall_ms,
        }
        commit.manifest.update(
            fields=self.fields,
            with_positions=self.with_positions,
            synonyms=self.synonyms,
            docs_per_shard=self.docs_per_shard,
            block_size=self.block_size,
            k1=self.k1,
            b=self.b,
            # full map incl. shards untouched by an append delta
            shard_fingerprints={
                s: e["input_fingerprint"] for s, e in entries.items()
            },
            metrics=metrics,
            ledger={str(s): e for s, e in entries.items()},
        )
        return metrics

    def _finalize_stats(
        self,
        commit: "_Commit",
        rows: list[DataFrame],
        field_totals: dict[str, list[int]],
    ) -> None:
        """Derive the global dictionary, its reversed and 3-gram
        companions and corpus_stats into ``commit``'s staging; the
        commit publishes them.

        ``rows`` are (field, term, term_id, df, cf) contributions,
        summed by key with zero-df terms dropped: the prior dictionary
        plus the replaced shards' negated old rows plus the rebuilt
        shards' new rows (input is O(delta shards) + one pass over the
        prior dictionary, O(vocab) and unavoidable for a merge, so a
        streaming micro-batch commits in time proportional to its own
        size).

        corpus_stats: written from ``field_totals``, the global
        per-field [n_docs, sum_dl] summed from the ledger.

        pandas ``rows`` (the driver-local backend) run the same rule
        in the driver (``_finalize_stats_local``).
        """
        if isinstance(rows[0], pd.DataFrame):
            self._finalize_stats_local(commit, rows, field_totals)
            return
        spark = rows[0].sparkSession
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
            # Arrow path (pandas), NOT createDataFrame(list): a python
            # list becomes a 32-partition python RDD whose write spawns
            # a Python worker per partition (~7s for one row on
            # local[32]); the pandas local relation stays JVM-side.
            pdf = _corpus_stats(field_totals)
            spark.createDataFrame(pdf, schemas.CORPUS_STATS).coalesce(
                1
            ).write.parquet(commit.stage("corpus_stats"))

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

    @staticmethod
    def _finalize_stats_local(
        commit: "_Commit",
        rows: list[pd.DataFrame],
        field_totals: dict[str, list[int]],
    ) -> None:
        """Driver-local twin of ``_finalize_stats``: the same sum over
        ``rows``, clash check and four artifacts, written with pyarrow
        in the Arrow form of their schemas."""
        keys = ["field", "term", "term_id"]
        d = (
            pd.concat(
                [r[[*keys, "df", "cf"]] for r in rows], ignore_index=True
            )
            .groupby(keys, as_index=False)[["df", "cf"]]
            .sum()
        )
        d = d[d["df"] > 0].sort_values(["field", "term"], ignore_index=True)
        n_ids = d[["field", "term_id"]].drop_duplicates().shape[0]
        if n_ids != len(d):
            raise RuntimeError(
                f"{len(d) - n_ids} term_id collisions "
                "detected — widen term_id (hashing.py) before "
                "using this index"
            )

        def write(art: str, pdf: pd.DataFrame, schema: T.StructType) -> None:
            _write_local(
                commit.stage(art),
                pa.Table.from_pandas(
                    pdf[schema.names], schema=to_arrow_schema(schema),
                    preserve_index=False,
                ),
            )

        write("dictionary", d, schemas.DICTIONARY)
        write(
            "dictionary_rev",
            _rev_rows(d).sort_values(["field", "rev_term"]),
            schemas.DICTIONARY_REV,
        )
        write(
            "dictionary_ngrams",
            _gram_rows(d).sort_values(["field", "gram"], kind="stable"),
            schemas.DICTIONARY_NGRAMS,
        )
        write(
            "corpus_stats", _corpus_stats(field_totals), schemas.CORPUS_STATS
        )

    def _stage_local(
        self,
        commit: "_Commit",
        docs: pa.Table,
        delta_field_stats: dict[int, dict[str, dict]],
    ) -> tuple[pd.DataFrame, pd.DataFrame]:
        """Driver-local twin of the Spark stage in ``_build_locked``:
        tokenizes the delta ``docs`` once, stages its docs, doc_stats
        and dict_parts partitions and fills ``delta_field_stats``.
        -> (term freqs, dictionary partials)."""
        _stage_shards(commit, "docs", docs)
        cols = list(dict.fromkeys(["doc_id", "shard", *self.fields]))
        frames = list(
            _tokenize(
                docs.select(cols).to_pandas(), self.fields,
                self.with_positions, self.synonyms,
            )
        )
        tf = (
            pd.concat(frames, ignore_index=True)
            if frames
            else to_arrow_schema(
                schemas.TERM_FREQS
                if self.with_positions
                else schemas.TERM_FREQS_BASE
            ).empty_table().to_pandas()
        )
        doc_stats = tf[["doc_id", "field", "dl", "shard"]].drop_duplicates(
            ["doc_id", "field"]
        )
        _stage_shards(commit, "doc_stats", doc_stats, schemas.DOC_STATS)
        for (sh, f), dl in doc_stats.groupby(["shard", "field"])["dl"]:
            delta_field_stats.setdefault(int(sh), {})[f] = {
                "n_docs": len(dl), "sum_dl": int(dl.sum()),
            }
        dp = (
            tf.groupby(["shard", "field", "term", "term_id"], sort=False)
            .agg(df=("tf", "size"), cf=("tf", "sum"))
            .reset_index()
        )
        _stage_shards(commit, "dict_parts", dp, schemas.DICT_PARTS)
        return tf, dp

    def _shard_metrics(
        self, spark: SparkSession, snap: layout.Snapshot, shards: list[int]
    ) -> dict[int, dict]:
        """Per-shard ledger metrics of ``shards`` read from the
        postings/doc_stats partitions of ``snap`` (a commit's
        ``staged`` view, or an index's snapshot)."""
        if not shards:
            return {}
        out = self._shard_metrics_arrow(snap, shards)
        if out is not None:
            return out
        p = (
            snap.read(spark, "postings", shards, schemas.POSTINGS)
            .groupBy("shard")
            .agg(
                F.sum("df").alias("n_postings"),
                F.sum(
                    F.length("docs_buf") + F.length("tfs_buf")
                ).alias("bytes"),
            )
        )
        d = (
            snap.read(spark, "doc_stats", shards, schemas.DOC_STATS)
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
        snap: layout.Snapshot, shards: list[int]
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

        parts = {art: snap.shards(art) for art in ("postings", "doc_stats")}

        def _files(art: str, s: int) -> list[str]:
            d = parts[art].get(s)
            if d is None:
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
    scan; pass ``assume_dense_shards=True`` when shard == doc_id //
    manifest.docs_per_shard (the layout every job in this repo uses)
    to scan only the tombstones' shards — partition-pruned,
    O(tombstones).

    Idempotent: deleting already-absent ids is a no-op (their shards'
    fingerprints are unchanged, so resume skips them). Holds the
    writer lock around the whole read-plan-rebuild sequence.
    """
    ids = sorted({int(i) for i in doc_ids})
    nothing = {"docs_deleted": 0, "shards_rebuilt": 0, "shards_dropped": 0}
    if not ids:
        return nothing
    gone = pa.array(ids, pa.int64())

    def drop(rows):
        # an Arrow filter locally, a JVM filter (no Python stage) on Spark
        if isinstance(rows, pa.Table):
            return rows.filter(pc.invert(pc.is_in(rows["doc_id"], gone)))
        return rows.filter(~F.col("doc_id").isin(ids))

    with _Commit(index_dir) as commit:
        counts, survivors, fp = _touched_shards(
            commit, spark, ids, assume_dense_shards, drop, builder._fp_map,
            drops_hits=True,
        )
        affected, emptied, rebuild = _tombstone_plan(counts)
        if not affected:
            return nothing
        metrics = builder._build_locked(
            commit, survivors, resume=True, append=True,
            drop_shards=emptied, precomputed_fp=fp, spark=spark,
        )
    metrics.update(
        docs_deleted=sum(affected.values()),
        shards_rebuilt=len(rebuild),
        shards_dropped=len(emptied),
    )
    return metrics


def _tombstone_plan(
    counts: dict[int, tuple[int, int]],
) -> tuple[dict[int, int], set[int], list[int]]:
    """Per-shard (docs, tombstoned docs) -> the delete plan of both
    backends: (tombstones per affected shard, shards left empty, which
    drop, shards to rebuild from their survivors)."""
    affected = {s: n_del for s, (_n, n_del) in counts.items() if n_del}
    emptied = {s for s, n_del in affected.items() if n_del == counts[s][0]}
    return affected, emptied, sorted(set(affected) - emptied)


def _touched_shards(
    commit: "_Commit",
    spark: SparkSession,
    ids: list[int],
    assume_dense_shards: bool,
    rule: Callable,
    fingerprint: Callable | None,
    drops_hits: bool = False,
) -> tuple[dict, pa.Table | DataFrame | None, dict | None]:
    """The read-and-plan half of ``delete_docs`` and ``update_docs``:
    Lucene's ``updateDocument`` is a delete plus an add over one write
    path, and here both mutations read the doc-store shards holding
    ``ids`` through this one function, on the backend the guard picks.

    The candidates are every shard or, with ``assume_dense_shards``,
    the shards ``doc_id // docs_per_shard`` names. ``rule`` rewrites
    doc-store rows: an Arrow table on the local backend, a Spark frame
    on Spark. ``fingerprint`` (``IndexBuilder._fp_map``, or None when
    the commit rebuilds nothing) fingerprints the rewritten rows.

    -> ``(counts, rows, fp)``: ``counts`` maps each shard holding an id
    to its (docs, hit docs) and is empty when none does; ``rows`` are
    those shards' rows after ``rule`` (an Arrow table locally, a
    checkpointed frame on Spark), less the shards a ``drops_hits``
    rule empties; ``fp`` their fingerprints when they were computed
    here, else None (``_build_locked`` computes them).
    """
    prior = commit.prior
    present = set(prior.shards("docs"))
    dps = int(prior.manifest.get("docs_per_shard") or 0)
    candidates = None
    if assume_dense_shards and dps:
        candidates = sorted({i // dps for i in ids})
    scope = sorted(
        present if candidates is None else present & set(candidates)
    )
    if not scope:
        return {}, None, None

    def kept(counts: dict) -> list[int]:
        return sorted(
            s for s, (n, hit) in counts.items() if hit < n or not drops_hits
        )

    if _fits_local(_ledger_docs(prior, scope)):
        # driver-local backend: the candidate partitions via pyarrow
        store = prior.table("docs", scope)
        hit = pc.is_in(store["doc_id"], pa.array(ids, pa.int64()))
        per = (
            pd.DataFrame(
                {
                    "shard": store["shard"].to_numpy(),
                    "hit": hit.to_numpy(zero_copy_only=False),
                }
            )
            .groupby("shard")["hit"]
            .agg(["size", "sum"])
        )
        counts = {
            int(s): (int(r["size"]), int(r["sum"]))
            for s, r in per.iterrows()
            if r["sum"]
        }
        keep = pa.array(kept(counts), pa.int32())
        return counts, rule(store.filter(pc.is_in(store["shard"], keep))), None
    store = prior.read(spark, "docs")
    scoped = store
    if candidates is not None:
        scoped = store.filter(F.col("shard").isin(candidates))
    # one job answers both questions: docs and hit docs per shard
    count_query = (
        scoped.groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("doc_id").isin(ids), F.lit(1))).alias("hit"),
        )
        .filter(F.col("hit") > 0)
    )

    def collect_counts() -> dict[int, tuple[int, int]]:
        return {
            int(r["shard"]): (int(r["n"]), int(r["hit"]))
            for r in count_query.collect()
        }

    fp = None
    if candidates is not None:
        # dense layout: the candidate shards are known without the
        # counts, so the rewritten rows' checkpoint and fingerprint run
        # concurrently with the count job (guide §2.6) and are then
        # narrowed to the shards the counts keep (a no-op replay
        # discards them, at the count's wall time)
        rewritten = rule(scoped)
        ck_fut = commit.pool.submit(commit.checkpoint, rewritten)
        if fingerprint is not None:
            fp_fut = commit.pool.submit(fingerprint, rewritten)
        counts = collect_counts()
        keep = kept(counts)
        rows = ck_fut.result().filter(F.col("shard").isin(keep))
        if fingerprint is not None:
            fp = {s: f for s, f in fp_fut.result().items() if s in keep}
    else:
        counts = collect_counts()
        keep = kept(counts)
        if keep:
            rows = commit.checkpoint(
                rule(store.filter(F.col("shard").isin(keep)))
            )
    if not keep:
        rows = empty_frame(spark, store.schema)
    return counts, rows, fp


def _fits_local(delta_docs: int) -> bool:
    """The commit-backend guard (``LOCAL_MAX_COMMIT_DOCS``) for a
    commit that re-indexes or rewrites ``delta_docs`` docs."""
    return delta_docs <= LOCAL_MAX_COMMIT_DOCS


def _ledger_docs(snap: layout.Snapshot, shards) -> int:
    """Docs ``snap``'s ledger records for ``shards``."""
    return sum(int(snap.ledger.get(s, {}).get("n_docs", 0)) for s in shards)


def update_docs(
    spark: SparkSession,
    index_dir: str,
    builder: "IndexBuilder",
    updates: dict[int, dict],
    assume_dense_shards: bool = False,
) -> dict:
    """Atomic document update (Solr's atomic update, ``set``
    semantics): per-doc partial field updates re-index ONLY the
    shards containing the touched docs — ``delete_docs``' shard-scoped
    rebuild with a merge for its row rule, read and planned by the
    same ``_touched_shards`` (the reference's only answer to a changed
    record is the scheduled full re-ingest, Indexer.java:83-88).

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
    fields (path/lang-style) change the fingerprint too: the shard
    row hash covers every indexed field's value. Postings, dictionary
    partials, df/avgdl, block maxima and the doc store all refresh
    through the same incremental finalize as any shard rebuild.

    Two execution classes, chosen by what the update touches:

    - Any INDEXED field (the manifest's analyzer map, e.g.
      ``content``) -> the touched shards rebuild through the builder.
    - STORED-ONLY attributes (rank/facet columns) -> the Lucene
      ``updateDocValues`` analog: postings and stats are untouched by
      construction, so ONLY the affected doc-store shard partitions
      rewrite, published by the same manifest replace every write
      uses. No re-analysis, no finalize — O(touched shards) I/O.

    A single call mixing both classes takes the rebuild path for
    everything (correct, just not minimal). Holds the writer lock
    around the whole read-merge-write sequence.

    -> builder metrics + {"docs_updated": n, "shards_rebuilt": n}.
    """
    bad = sorted({c for u in updates.values() for c in u}
                 & {"doc_id", "shard"})
    if bad:
        raise ValueError(f"cannot update identity columns {bad}")
    ids = sorted({int(i) for i in updates})
    nothing = {"docs_updated": 0, "shards_rebuilt": 0}
    if not ids:
        return nothing
    with _Commit(index_dir) as commit:
        prior = commit.prior
        store_paths = prior.shards("docs")
        # an index left with no shard holds no doc to update
        if not store_paths:
            return nothing
        d0 = store_paths[min(store_paths)]
        part = next(
            n for n in sorted(os.listdir(d0)) if n.endswith(".parquet")
        )
        store_schema = pq.read_schema(f"{d0}/{part}")
        store_cols = store_schema.names + ["shard"]
        upd_cols = sorted({c for u in updates.values() for c in u})
        for c in upd_cols:
            if c not in store_cols:
                raise ValueError(
                    f"update column {c!r} is not in the doc store "
                    f"(has: {sorted(store_cols)})"
                )
        rebuild_class = bool(
            set(upd_cols) & set(prior.manifest.get("fields") or {})
        )
        upd = _cast_updates(spark, updates, ids, upd_cols, store_schema)
        rehash = "content" in upd_cols and "content_sha256" in store_cols

        def merge_batches(
            batches: Iterator[pa.RecordBatch],
        ) -> Iterator[pa.RecordBatch]:
            for b in batches:
                yield from _merge_updates(
                    pa.Table.from_batches([b]), upd, upd_cols, rehash
                ).to_batches()

        def merge(rows):
            if isinstance(rows, pa.Table):
                return _merge_updates(rows, upd, upd_cols, rehash)
            return rows.mapInArrow(merge_batches, rows.schema)

        counts, merged, fp = _touched_shards(
            commit, spark, ids, assume_dense_shards, merge,
            builder._fp_map if rebuild_class else None,
        )
        if not counts:
            return nothing
        affected = sorted(counts)
        if rebuild_class:
            metrics = builder._build_locked(
                commit, merged, resume=True, append=True,
                precomputed_fp=fp, spark=spark,
            )
        else:
            # stored-only attrs: only the doc-store partitions restage
            metrics = {}
            if isinstance(merged, pa.Table):
                _stage_shards(commit, "docs", merged)
            else:
                # one write per shard, concurrently (guide §2.6)
                def _rewrite(s: int) -> None:
                    rows = merged.filter(F.col("shard") == s).drop("shard")
                    rows.repartition(1).write.parquet(
                        commit.stage(f"docs/shard={s}")
                    )

                list(commit.pool.map(_rewrite, affected))
            commit.publish += [f"docs/shard={s}" for s in affected]
    metrics.update(
        docs_updated=sum(hit for _n, hit in counts.values()),
        shards_rebuilt=len(affected),
    )
    return metrics


def _cast_updates(
    spark: SparkSession,
    updates: dict[int, dict],
    ids: list[int],
    cols: list[str],
    store_schema: pa.Schema,
) -> dict[int, dict]:
    """doc_id -> {column: new value} with every value cast to its
    doc-store column type by Spark's own cast (e.g. a float into a
    long column truncates, a malformed string fails the update). The
    cast runs on a local relation, which the optimizer folds, so no
    Spark job starts; both backends merge these values."""
    rows = (
        spark.createDataFrame(
            pd.DataFrame(
                [
                    {"doc_id": i, **{c: updates[i].get(c) for c in cols}}
                    for i in ids
                ]
            )
        )
        .select(
            "doc_id",
            *[
                F.col(c)
                .cast(from_arrow_type(store_schema.field(c).type))
                .alias(c)
                for c in cols
            ],
        )
        .collect()
    )
    return {int(r["doc_id"]): {c: r[c] for c in cols} for r in rows}


def _merge_updates(
    t: pa.Table, upd: dict[int, dict], cols: list[str], rehash: bool
) -> pa.Table:
    """The update rule of both backends over doc-store rows ``t``: a
    (cast) new value replaces the old one, ``None`` keeps it; with
    ``rehash`` (a content update) ``content_sha256`` is recomputed."""
    doc = t["doc_id"].to_pylist()
    for c in cols:
        new = [upd.get(d, {}).get(c) for d in doc]
        if all(v is None for v in new):
            continue
        i = t.schema.get_field_index(c)
        f = t.schema.field(i)
        t = t.set_column(
            i, f,
            pc.replace_with_mask(
                t[c].combine_chunks(),
                pa.array([v is not None for v in new]),
                pa.array([v for v in new if v is not None], f.type),
            ),
        )
    if rehash:
        i = t.schema.get_field_index("content_sha256")
        f = t.schema.field(i)
        t = t.set_column(
            i, f,
            pa.array(
                [
                    hashlib.sha256((x or "").encode()).hexdigest()
                    for x in t["content"].to_pylist()
                ],
                f.type,
            ),
        )
    return t


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
    in one manifest replace. Docs absent from ``values`` get NULL
    (Solr's missing docvalue). ``values`` must not contain duplicate
    doc_ids (raises — a dup would fan out the join and duplicate store
    rows).

    Engines opened before the attach keep serving their snapshot —
    re-open to see the column, exactly like every other commit.
    """
    if set(values.columns) != {"doc_id", column}:
        raise ValueError(
            f"values must have exactly (doc_id, {column!r}) columns, "
            f"got {values.columns}"
        )
    if column in ("doc_id", "shard"):
        raise ValueError(f"cannot attach identity column {column!r}")
    with _Commit(index_dir) as commit:
        store = commit.prior.read(spark, "docs")
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
        commit.publish += [
            f"docs/shard={s}" for s in commit.prior.shards("docs")
        ]
    return {"column": column, "docs_with_value": int(n_attached)}


def backup_index(index_dir: str, dest_dir: str) -> dict:
    """Consistent point-in-time copy of a committed index — the Solr
    admin backup analog (the reference has no backup story beyond
    re-running the build). Copies the manifest and exactly the paths
    of the live snapshot (not the previous snapshot's retained ones,
    nor staging or the writer lock), holding the writer lock so no
    commit expires the snapshot mid-copy; readers are unaffected
    (they never take the lock). Local-filesystem ``copytree`` here; on
    a cluster the same path list copies via distcp / object-store
    copy — the layout is plain parquet + json either way.

    -> {"files": n, "bytes": n}."""
    layout.require_local(dest_dir)
    if os.path.exists(dest_dir) and os.listdir(dest_dir):
        raise ValueError(f"backup destination {dest_dir!r} is not empty")
    with _WriterLock(index_dir):
        snap = layout.Snapshot.load(index_dir)
        os.makedirs(dest_dir, exist_ok=True)
        for rel in sorted(snap.live()):
            shutil.copytree(f"{index_dir}/{rel}", f"{dest_dir}/{rel}")
        layout.replace_json(
            f"{dest_dir}/{layout.MANIFEST}", {**snap.manifest, "retained": []}
        )
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
    layout.require_local(backup_dir)
    layout.require_local(dest_dir)
    if not os.path.isfile(f"{backup_dir}/{layout.MANIFEST}"):
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


def _corpus_stats(field_totals: dict[str, list[int]]) -> pd.DataFrame:
    """corpus_stats rows from the global per-field [n_docs, sum_dl]."""
    return pd.DataFrame(
        [
            (f, int(t[0]), int(t[1]), t[1] / t[0])
            for f, t in sorted(field_totals.items())
            if t[0]
        ],
        columns=schemas.CORPUS_STATS.names,
    )


def _write_local(path: str, table: pa.Table) -> None:
    """Write ``table`` as the one parquet file of directory ``path``."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, f"{path}/part-00000-local.parquet")


def _stage_shards(
    commit: "_Commit",
    art: str,
    rows: pd.DataFrame | pa.Table,
    schema: T.StructType | None = None,
) -> None:
    """Stage ``rows`` (with a shard column) as one file per shard
    partition of ``art``, the layout the Spark backend's partitioned
    write leaves; a pandas frame is written in the Arrow form of
    ``schema``."""
    tbl = (
        rows
        if isinstance(rows, pa.Table)
        else pa.Table.from_pandas(
            rows[schema.names], schema=to_arrow_schema(schema),
            preserve_index=False,
        )
    )
    for s in pc.unique(tbl["shard"]).to_pylist():
        _write_local(
            commit.stage(f"{art}/shard={s}"),
            tbl.filter(pc.equal(tbl["shard"], s)).drop_columns(["shard"]),
        )


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

    Readers never take the lock: a commit writes only new paths and
    publishes by one manifest replace (``_Commit``), so a reader sees
    the whole old snapshot or the whole new one. On a multi-writer
    cluster against shared object storage, replace this with the
    catalog's optimistic commit (Iceberg) or a lock service — flock
    is a same-host primitive, which is exactly the scope a single
    Spark driver mutating one index needs.
    """

    def __init__(self, index_dir: str):
        layout.require_local(index_dir)
        self.path = f"{index_dir}/{layout.LOCK}"
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
    publish by one manifest replace.

    Entering takes the writer lock and loads the committed snapshot
    (``prior``); a commit numbers its new paths ``v<snap>``, one past
    the prior snapshot. A staging root already there is what a
    crashed commit left behind: every builder-owned path the prior
    manifest does not name is swept first. The body writes every new
    artifact to ``stage(rel)`` under the staging root, runs its
    concurrent jobs on the commit's one thread ``pool``, persists
    through ``cache`` and ``checkpoint``, lists the slots it replaces
    in ``publish`` (a shard's ``art/shard=S`` or a stats artifact; a
    slot with nothing staged is removed) and sets its manifest entries
    in ``manifest``.

    Exit, on every path, joins the pool (cancelling queued work after
    a failure) and releases what it cached. A failed body removes the
    staging root and leaves the index as it was. A clean exit moves
    each staged directory to its new path, replaces ``manifest.json``
    (the commit point), deletes what the prior manifest retained and
    the new one drops, and removes the staging root. A crash before
    the replace leaves every reader and the ledger on the prior
    snapshot; a crash after it leaves the new one committed. The
    next commit sweeps what either left behind.

    ``fresh`` (a ``resume=False`` build) reads an index an older
    builder wrote as empty, and sweeps its files after the commit.
    Sweeps touch only the names the builder owns (``_owned``): other
    files in the directory, an input corpus say, stay.
    """

    def __init__(self, index_dir: str, fresh: bool = False):
        self.index_dir = index_dir
        self.staging = f"{index_dir}/{layout.STAGING}"
        self.fresh = fresh
        self.publish: list[str] = []
        self.manifest: dict = {}
        self.lineage: dict = {}
        self._cached: list[DataFrame] = []
        self._rdds: list = []
        self._lock = _WriterLock(index_dir)

    def __enter__(self) -> "_Commit":
        os.makedirs(self.index_dir, exist_ok=True)
        self._lock.__enter__()
        try:
            self.prior = layout.Snapshot.load(
                self.index_dir, legacy_ok=self.fresh
            )
            if os.path.isdir(self.staging):
                self._sweep(self.prior.live() | set(self.prior.retained))
        except BaseException:
            self._lock.__exit__()
            raise
        self.snap = self.prior.snapshot_id + 1
        # every job a commit overlaps (guide §2.6) runs here; sized for
        # a build's peak: 3 staged artifact writes, finalize with its
        # clash check and 4 writes, and the ledger-metrics read
        self.pool = ThreadPoolExecutor(
            max_workers=10, thread_name_prefix="gxdidx-commit"
        )
        return self

    def stage(self, rel: str) -> str:
        return f"{self.staging}/{rel}"

    def staged(self) -> layout.Snapshot:
        """The shard partitions staged so far, as a snapshot view."""
        slots = [
            os.path.relpath(p, self.staging)
            for p in glob.glob(f"{self.staging}/*/shard=*")
        ]
        return layout.Snapshot(
            self.staging, {"paths": dict(zip(slots, slots))}
        )

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until the commit ends."""
        self._cached.append(df.persist())
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """``df.localCheckpoint()`` held until the commit ends (the
        commit keeps the RDD that frees it)."""
        ck, rdd = local_checkpoint(df)
        self._rdds.append(rdd)
        return ck

    def __exit__(self, exc_type, *_exc) -> None:
        try:
            self.pool.shutdown(cancel_futures=exc_type is not None)
            for df in self._cached:
                df.unpersist()
            for rdd in self._rdds:
                rdd.unpersist(False)
            if exc_type is None:
                self._publish()
            shutil.rmtree(self.staging, ignore_errors=True)
        finally:
            self._lock.__exit__()

    def _publish(self) -> None:
        prior, root = self.prior, self.index_dir
        paths = dict(prior.paths)
        for rel in self.publish:
            paths.pop(rel, None)
            if os.path.isdir(self.stage(rel)):
                paths[rel] = f"{rel}/v{self.snap}"
                layout.install(root, self.stage(rel), paths[rel])
        changed = paths != prior.paths
        if not (changed or self.manifest):
            return
        manifest = {**prior.manifest, **self.manifest, "paths": paths}
        if changed:
            parent = prior.snapshot_id or None
            manifest.update(
                snapshot_id=self.snap,
                parent_snapshot_id=parent,
                snapshots=[
                    *prior.manifest.get("snapshots", []),
                    {
                        "snapshot_id": self.snap,
                        "parent_snapshot_id": parent,
                        **self.lineage,
                    },
                ][-20:],
                # the prior snapshot's paths stay one more commit
                retained=sorted(prior.live() - set(paths.values())),
            )
        os.makedirs(self.staging, exist_ok=True)
        layout.replace_json(
            f"{root}/{layout.MANIFEST}", manifest,
            tmp=self.stage(layout.MANIFEST),
        )
        keep = set(paths.values()) | set(manifest.get("retained", []))
        if changed:
            layout.drop(root, prior.retained, keep)
        if self.fresh:
            self._sweep(keep)

    def _sweep(self, keep: set[str]) -> None:
        """Delete every file under a name the builder owns (``_owned``)
        that no path of ``keep`` holds; other entries stay."""
        tops = filter(_owned, os.listdir(self.index_dir))
        layout.sweep(self.index_dir, tops, keep)


def _owned(name: str) -> bool:
    """True for a top-level name of an index directory that a commit
    may sweep: an artifact, the staging root, or what an older
    builder's publish left (its ledger file, its journal, and the
    ``.<art>[__shard=S]`` + ``_old`` / ``_swap.marker`` /
    ``_compact_tmp`` state of a half-done swap)."""
    arts = SHARD_ARTIFACTS + STATS_ARTIFACTS
    if name in arts + (layout.STAGING, "ledger.json", ".publish.json"):
        return True
    for suffix in ("_old", "_swap.marker", "_compact_tmp"):
        if name.startswith(".") and name.endswith(suffix):
            return name[1 : -len(suffix)].split("__")[0] in arts
    return False


def read_ledger(index_dir: str) -> dict[int, dict]:
    """Per-shard ledger of the committed snapshot, ``{}`` when the
    index has none (a build then rebuilds every shard)."""
    return layout.Snapshot.load(index_dir).ledger


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Segment compaction — the reference's end-of-build Solr `optimize`
    (Indexer.java:126-129) / Iceberg `rewrite_data_files` analog:
    rewrite each artifact coalesced to one file per shard partition so
    query-time scans open O(shards) files instead of O(shards x tasks).
    Content is unchanged (queries return identical results). Every
    artifact is rewritten into staging and all of them publish in one
    manifest replace, so a crash leaves the index either as it was or
    fully compacted. Holds the writer lock: compaction never races a
    build.
    """
    with _Commit(index_dir) as commit:
        prior = commit.prior
        stats: dict = {}
        # driver-local backend: the guard on every doc it rewrites
        local = _fits_local(_ledger_docs(prior, prior.shards("docs")))
        for art in ("postings", "doc_stats", "dict_parts", "docs"):
            shards = prior.shards(art)
            if not shards:
                continue
            # sort by the query-pushed keys inside each shard file so
            # parquet row-group min/max stats prune the term_id IN-list
            # scans (a query then reads only the row groups holding
            # its terms, not the whole shard file).
            sort_keys = ["field", "term_id"] if art == "postings" else []
            if local:
                for s, path in sorted(shards.items()):
                    t = pq.read_table(path)
                    if sort_keys:
                        t = t.sort_by([(k, "ascending") for k in sort_keys])
                    _write_local(commit.stage(f"{art}/shard={s}"), t)
            else:
                (
                    prior.read(spark, art)
                    .repartition("shard")
                    .sortWithinPartitions("shard", *sort_keys)
                    .write.option("maxRecordsPerFile", 0)
                    .partitionBy("shard")
                    .parquet(commit.stage(art))
                )
            stats[art] = {
                "files_before": sum(map(_parquet_files, shards.values())),
                "files_after": _parquet_files(commit.stage(art)),
            }
            commit.publish += [f"{art}/shard={s}" for s in shards]
        return stats


def _parquet_files(path: str) -> int:
    return sum(
        1
        for _root, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
