"""Deduplication operators: exact, MinHash(+LSH), SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale notes (each documented against the 100 TB target):

* exact dedup — hash-groupBy on sha2(text): one shuffle on a uniform
  key, no skew by construction (hash values).
* MinHash — portable signature: one md5 per shingle gives x in
  [0, 2^60); h_i(x) = (a_i * (x mod P) + b_i) mod P with P = 2^31-1
  (Carter-Wegman). Products stay < 2^62 (no overflow) and the SAME
  arithmetic runs in DuckDB for the oracle. LSH bands the signature,
  groups by (band, signature-slice) — candidate pairs without the
  O(n^2) self-join.
* n-gram Jaccard — exact pairwise via shingle equi-join; only viable
  with a blocking key at scale, which is exactly what the LSH variant
  provides. Kept as the small-scale oracle-checkable truth.
* SimHash — per-token md5-derived bit vector, tf-weighted sign sum
  per bit; near-dups share hamming-close signatures.
* embedding cosine — see operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gxdindexer_spark.functions.partitioning import spread
from gxdindexer_spark.session import local_checkpoint

MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime)
# fixed Carter-Wegman coefficients (deterministic, shared with oracle)
MINHASH_AS = [1103515245, 1299709, 15485863, 32452843, 49979687, 67867967,
              86028121, 104395301]
MINHASH_BS = [12345, 7919, 104729, 1299721, 15485867, 32452867, 49979693,
              67867979]


def md5_int60(c: Column) -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5.
    DuckDB twin: CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct) of normalized text."""
    toks = F.filter(
        F.split(F.lower(F.coalesce(text, F.lit(""))), "[^a-z0-9]+"),
        lambda x: x != "",
    )
    k = F.size(toks) - (n - 1)
    # n-grams as a fold of shifted-array zips — O(len) array ops instead
    # of per-position slice() calls (which fall out of codegen)
    acc = F.slice(toks, 1, F.greatest(k, F.lit(0)))
    for j in range(2, n + 1):
        nxt = F.slice(toks, j, F.greatest(k, F.lit(0)))
        acc = F.zip_with(acc, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.when(k >= 1, acc).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """Exact dedup: canonical row per sha2(text) = min(id). Returns
    (doc_id, canonical_id, n_copies) for every row."""
    h = F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
    # no spread here: one sha2 per row is far cheaper than the extra
    # exchange it would add (measured 0.7s -> 1.5s WITH it at sf1.0)
    hashed = df.select(F.col(id_col).alias("doc_id"), h.alias("h"))
    groups = hashed.groupBy("h").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    )
    return hashed.join(groups, "h").select("doc_id", "canonical_id", "n_copies")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    n: int = 3,
) -> DataFrame:
    """-> (doc_id, h0..h{num_hashes-1}) MinHash signature columns.

    Shingle explosion + per-hash min aggregation: Catalyst does the
    partial (map-side) min, so the shuffle carries one row per
    (doc, hash) not per shingle.
    """
    assert num_hashes <= len(MINHASH_AS)
    # fan a narrow scan out before the shingle explode: a one-file
    # corpus otherwise evaluates the whole (expensive) shingle fold +
    # md5 pass in ONE task (partitioning.spread docstring)
    sh = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), n)).alias("shingle"),
    )
    # materialize the md5-int ONCE per shingle row — referencing the
    # expression from each min() would re-hash 8x per row
    xed = sh.select(
        "doc_id", (md5_int60(F.col("shingle")) % MINHASH_P).alias("x")
    )
    aggs = [
        F.min(
            (F.lit(MINHASH_AS[i]) * F.col("x") + MINHASH_BS[i]) % MINHASH_P
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return xed.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """LSH candidate pairs: band the signature (rows = num_hashes/bands),
    bucket-join on (band, slice). -> (doc_a, doc_b) distinct, a < b.

    The join key includes the band's full hash slice, so bucket sizes
    stay small and the self-join never goes quadratic in corpus size —
    this is the scale path that replaces the exact pairwise Jaccard.
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes, n)
    # materialize the signature table once (tiny: one row per doc):
    # the banded self-join otherwise re-runs the shingle explode +
    # 8-way min aggregation once per band per join side — 8 full
    # tokenize passes at bands=4 (guide §2.4: share one computation;
    # localCheckpoint also truncates the self-join's doubled lineage)
    sig = sig.localCheckpoint(eager=False)
    rows = num_hashes // bands
    bands_df = None
    for bi in range(bands):
        cols = [F.col(f"h{bi * rows + r}") for r in range(rows)]
        part = sig.select(
            "doc_id",
            F.lit(bi).alias("band"),
            F.concat_ws(":", *[c.cast("string") for c in cols]).alias("sig"),
        )
        bands_df = part if bands_df is None else bands_df.unionAll(part)
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >= 1 shingle.
    -> (doc_a, doc_b, jaccard) with jaccard >= threshold, a < b.

    Small-scale ground truth for the LSH variant; at 100 TB run LSH
    first and compute exact Jaccard only on candidate pairs.
    """
    sh = spread(df).select(
        F.col(id_col).alias("doc_id"),
        shingles(F.col(text_col), n).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    ex = sh.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    a = ex.alias("a")
    b = ex.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """-> (doc_id, simhash): tf-weighted sign-sum over token-hash bits.

    Uses the portable md5-int hash so the DuckDB oracle can reproduce
    it bit-for-bit. ``bits`` defaults to 16 for the oracle-checked
    entry; the engine supports up to 60.
    """
    toks = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]+"),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    # materialize the token hash ONCE per (doc, tok) row: each of the
    # ``bits`` sum-aggregates references it, and as a bare expression
    # the md5+conv would be re-evaluated per bit (16x per row)
    tf = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn("x", md5_int60(F.col("tok")))
    )
    aggs = [
        F.sum(
            F.col("tf")
            * (F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = tf.groupBy("doc_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("long")).otherwise(0)
    return sums.select("doc_id", sig.alias("simhash"))


def neardup_components(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Connected components over a near-dup pair graph -> canonical
    cluster ids: (doc_id, component_id) where component_id = min doc_id
    reachable through the pairs. The dedup KEEP rule "keep the lowest
    id of every near-dup cluster" is then a filter on
    ``doc_id == component_id``.

    Algorithm: iterative min-label propagation over symmetric edges —
    each round every node takes the min label among itself and its
    neighbors; converges in <= graph-diameter rounds. Near-dup
    clusters are small and star-like (diameter ~2-4), so this runs a
    handful of rounds; for adversarial long-chain graphs swap in the
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", public) — same interface.
    Convergence is detected by the (monotonically decreasing) sum of
    labels; each round localCheckpoints to cut the lineage chain and
    frees the round it supersedes, so only the returned labels stay
    checkpointed.

    A graph whose diameter exceeds ``max_iters`` yields PARTIAL labels
    — silently returning them would make the keep-rule keep several
    docs per cluster with no signal. ``on_nonconverged``: "raise"
    (default — unconverged results are never mistaken for canonical
    clusters) or "warn" (returns the partial labels after a warning,
    for exploratory use).
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError("on_nonconverged must be 'raise' or 'warn'")
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    labels, rdd = local_checkpoint(
        ids.select(
            F.col(id_col).alias("node"), F.col(id_col).alias("component_id")
        )
    )
    prev_sum = labels.agg(F.sum("component_id")).first()[0]
    converged = False
    for _ in range(max_iters):
        prop = edges.join(
            labels, edges["src"] == labels["node"]
        ).select(F.col("dst").alias("node"), "component_id")
        # the new round is materialized: free the superseded one
        labels, new_rdd = local_checkpoint(
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("component_id").alias("component_id"))
        )
        rdd.unpersist(False)
        rdd = new_rdd
        cur_sum = labels.agg(F.sum("component_id")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        msg = (
            f"neardup_components did not converge within max_iters="
            f"{max_iters} (label sum still decreasing) — component ids "
            "are PARTIAL; raise max_iters or use star-contraction for "
            "long-chain graphs"
        )
        if on_nonconverged == "raise":
            rdd.unpersist(False)
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(F.col("node").alias(id_col), "component_id")
