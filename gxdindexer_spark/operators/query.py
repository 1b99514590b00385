"""Top-k BM25 retrieval over the persisted index.

Lifecycle (SURVEY.md §3.4):

  query string -> per-field tokenize (same analyzers as indexing)
    -> dictionary lookup (term -> global df)        [driver; tiny scan]
    -> postings scan filtered to query terms        [parquet predicate
       pushdown on `term`/`field`; shard partition dirs prune I/O]
    -> per shard: block-max WAND (or exact TAAT) local top-k
       [scatter — segments are self-contained: doc lengths travel
       inside the posting blocks, so NOTHING but the query terms'
       postings moves]
    -> global orderBy(score desc, doc_id asc).limit(k)   [gather —
       TakeOrdered over <= shards*k tiny rows]

Every operator scatters through ``IndexQueryEngine._scatter``: one
shard-function signature ``fn(shard, pg, payload)``, two backends,
picked per call from the estimated postings (the sum of dictionary df
over every key the scan reads):

* **local** (estimate <= ``LOCAL_MAX_POSTINGS``): the driver reads the
  pruned postings with the ``pyarrow.dataset`` opened with the engine
  (the same files the Spark relation lists), groups by shard in pandas,
  runs the shard function in-process and hands the rows to the gather
  as an Arrow-built local relation. A serving query then costs one
  small gather job instead of a Python-UDF stage plus its dispatch.
  This backend is eager: the scan and shard functions run when the
  operator method is called (errors surface there), not at the
  DataFrame action.
* **Spark** (``groupBy("shard").applyInPandas``, payload broadcast):
  the only path for scans above the guard, where one driver thread
  decoding every posting (and, for match-set callers, holding every
  matched row) loses to the executors, and for indexes on a
  filesystem pyarrow cannot open (decided once, at open).

Both backends hand the shard function the same rows in the same
(field, term_id) order, so they return bit-identical results. Each
caller's gather (orderBy/limit, groupBy.agg, windows) is a DataFrame
plan either way.

The driver-side dictionary lookup is the analog of the reference's
broadcast HashMap caches (GxdResultIndexer.java:91-272): the per-term
stats are tiny (|query terms| rows) and travel as the QuerySpec
payload.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gxdindexer_spark.functions import analyze, bm25, hashing
from gxdindexer_spark.functions import codec as codec_mod
from gxdindexer_spark.operators import wand as wand_mod

_HITS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _dl_distance(a: str, b: str, cap: int | None = None) -> int:
    """Unrestricted Damerau-Levenshtein distance (transposition of two
    characters counted as one edit, edits allowed between them) — the
    metric of DuckDB's ``damerau_levenshtein``, which the fuzzy-query
    oracle uses, and the transposition-aware family Lucene's
    FuzzyQuery defaults to. Classic Lowrance-Wagner DP with the
    last-occurrence table. Early-exits with cap+1 when every cell in
    a row exceeds ``cap`` (banded abort for bounded fuzzy matching)."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if cap is not None and abs(la - lb) > cap:
        return cap + 1
    inf = la + lb
    da: dict[str, int] = {}
    d = [[inf] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,  # substitution
                d[i + 1][j] + 1,  # insertion
                d[i][j + 1] + 1,  # deletion
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),  # transposition
            )
        da[a[i - 1]] = i
        if cap is not None and min(d[i + 1][1:]) > cap:
            return cap + 1
    return d[la + 1][lb + 1]


#: one comparison clause of a ``where=`` predicate: column, operator,
#: and a quoted-string / int / float literal
_WHERE_CLAUSE_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*(<=|>=|==|!=|=|<|>)\s*"
    r"(?:'([^']*)'|(-?\d+\.\d+)|(-?\d+))\s*$"
)


def _split_where_clauses(where: str) -> list[str]:
    """Split a conjunctive predicate on ``and`` separators OUTSIDE
    single-quoted string literals (ADVICE r5: a legitimate literal
    like ``lang == 'rock and roll'`` was split mid-string and
    rejected). Single-pass scan tracking quote state; 'and' matches
    case-insensitively when bracketed by whitespace."""
    s = where.strip()
    low = s.lower()
    out: list[str] = []
    cur_start = 0
    in_quote = False
    i = 0
    while i < len(s):
        c = s[i]
        if c == "'":
            in_quote = not in_quote
            i += 1
            continue
        if (
            not in_quote
            and low.startswith("and", i)
            and i > 0
            and s[i - 1].isspace()
            and i + 3 < len(s)
            and s[i + 3].isspace()
        ):
            out.append(s[cur_start:i])
            i += 3
            cur_start = i
            continue
        i += 1
    out.append(s[cur_start:])
    return out


def _parse_where(where: str) -> list[tuple]:
    """Restricted conjunctive predicate -> pyarrow parquet filter
    tuples (``[("n_chars", "<", 300), ("lang", "==", "en")]``) — the
    same filters shape ``pyarrow.parquet.read_table`` prunes row
    groups with. Supported: ``col OP literal`` clauses joined by
    ``and``; OP in  < <= > >= == = !=; literals are 'strings' (which
    may themselves contain ``and``), ints, floats. Raises on anything
    else rather than silently mis-parsing (the wildcard-parser
    contract)."""
    clauses = _split_where_clauses(where)
    out: list[tuple] = []
    for c in clauses:
        m = _WHERE_CLAUSE_RE.match(c)
        if not m:
            raise ValueError(
                f"unsupported where clause {c!r} (need: col OP literal"
                " joined by 'and'; OP in < <= > >= == != =)"
            )
        col, op, s_lit, f_lit, i_lit = m.groups()
        val = (
            s_lit
            if s_lit is not None
            else float(f_lit) if f_lit is not None else int(i_lit)
        )
        out.append((col, "==" if op == "=" else op, val))
    return out


def _empty_df(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """Empty result with ``schema``, built JVM-side via range(0).
    ``createDataFrame([], schema)`` makes a 32-partition python RDD
    whose every action spawns a Python worker per partition — ~2-5s
    of overhead for an empty no-match result."""
    return spark.range(0).select(
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def _local_df(
    spark: SparkSession, pdf: pd.DataFrame, schema: T.StructType
) -> DataFrame:
    """Driver rows -> Arrow-built local relation (LocalTableScan),
    columns matched to ``schema`` by name as ``applyInPandas`` does.
    A python-LIST ``createDataFrame`` is a parallelized python RDD
    whose every action spawns Python workers: a one-row frame's
    collect takes 0.28-0.40 s that way and 0.02-0.04 s this way
    (local[4], 4-vCPU VM)."""
    return spark.createDataFrame(pdf[schema.fieldNames()], schema)


def _in_term_order(pg: pd.DataFrame) -> pd.DataFrame:
    """One shard's posting rows in (field, term_id) order: the kernels
    sum per-term contributions in row order, so both scatter backends
    (and every Spark run) must hand them the same order to get
    bit-identical floats."""
    return pg.sort_values(
        ["field", "term_id"], kind="mergesort", ignore_index=True
    )


def _present_keys(pg: pd.DataFrame) -> set:
    return set(
        pg[["field", "term_id"]]
        .drop_duplicates()
        .itertuples(index=False, name=None)
    )


def _wand_pays(present: set, spec) -> bool:
    """Per-shard form of ``IndexQueryEngine.choose_mode``: prune iff
    the heaviest query term PRESENT in this shard outweighs the sum of
    the other present ones."""
    ws = sorted(
        (w for kk, w in spec.term_weights.items() if kk in present),
        reverse=True,
    )
    return bool(ws) and ws[0] > sum(ws[1:])


def _store_rows(
    idx_dir: str, shard: int, ids, columns: list[str], filters=None
) -> pd.DataFrame:
    """Rows of one shard's doc-store partition whose doc_id is in
    ``ids`` — a direct pyarrow read, column-pruned, ``filters`` pushed
    as parquet row-group filters. ``columns`` must include doc_id."""
    import pyarrow.parquet as pq

    store = pq.read_table(
        f"{idx_dir}/docs/shard={shard}", columns=columns, filters=filters
    ).to_pandas()
    return store[np.isin(store["doc_id"].to_numpy(), ids)]


#: Scatter-backend guard (see module docstring): a scan whose estimated
#: postings — the sum of dictionary df over every key it reads — is at
#: most this runs on the driver-local backend, a larger one on Spark.
#: Set by the caller with the lowest measured crossover (local[4],
#: median of 5): ``matching_docs`` on a 200k-doc index whose matched
#: rows equal the estimate wins locally at 129k postings (0.53 s vs
#: 0.61 s) and loses from 154k (0.62 s vs 0.58 s); ``export_matches``
#: crosses at 154k-184k. Row-bounded callers (topk, facets) win up to
#: 1.0M-2.0M depending on shard count (8-257 shards). The estimate also
#: bounds the rows a local call holds in the driver.
LOCAL_MAX_POSTINGS = 125_000


class IndexQueryEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        preload_dictionary: int = 1_000_000,
    ):
        """``preload_dictionary``: if the dictionary has fewer rows than
        this, collect it into a driver dict once (the reference's
        broadcast HashMap cache, Indexer.java:280-321) so per-query term
        lookup costs no Spark job. Bigger dictionaries fall back to a
        pruned parquet scan per query (term IN-list / prefix range
        pushed to the scan), which is the 10^9-term path — the cap
        bounds driver memory to ~100 MB. Set 0 to disable."""
        self.spark = spark
        self.index_dir = index_dir
        # replay a publish a crashed writer left half done (cheap: one
        # directory listing when there is none) before touching
        # artifacts — only under the writer lock, taken without
        # blocking: a live writer holding it is mid-commit and
        # publishes its own journal, which a replay here would race
        from gxdindexer_spark.operators import index_build as _ib

        if _ib._publish_pending(index_dir):
            try:
                with _ib._WriterLock(index_dir):
                    _ib._recover_compaction(index_dir)
            except _ib.ConcurrentWriteError:
                pass
        with open(f"{index_dir}/manifest.json") as fh:
            self.manifest = json.load(fh)
        self.fields: dict[str, str] = self.manifest["fields"]
        cs = self._read_tiny_artifact(
            f"{index_dir}/corpus_stats", ["field", "n_docs", "avgdl"]
        )
        self.n_docs = {
            f: int(n) for f, n in zip(cs["field"], cs["n_docs"])
        }
        self.avgdl = {
            f: float(a) for f, a in zip(cs["field"], cs["avgdl"])
        }
        # one relation per artifact, reused across queries: the parquet
        # file index (directory listing + footer schema read) is built
        # once per engine instead of once per query — at 10^6 shard
        # dirs the per-query listing would dominate latency.
        self._postings = spark.read.parquet(f"{index_dir}/postings")
        # the driver-local scatter backend's view: the relation's own
        # file list (no second listing), so both backends read the
        # same snapshot; files pyarrow cannot open (a non-local
        # scheme) leave the engine on the Spark backend only
        files = [urlparse(u) for u in self._postings.inputFiles()]
        self._postings_ds = None
        if all(u.scheme == "file" for u in files):
            try:
                self._postings_ds = ds.dataset(
                    [unquote(u.path) for u in files], format="parquet",
                    partitioning="hive",
                    partition_base_dir=os.path.abspath(
                        f"{index_dir}/postings"
                    ),
                )
            except (OSError, pa.ArrowInvalid):
                pass
        # the three dictionary relations are LAZY (cached properties
        # below): creating a parquet relation is a driver-blocking
        # footer/schema read, and most queries never touch them — the
        # preload cache answers term lookups, and rev/ngrams only
        # serve leading-wildcard/fuzzy rewrites
        self._dictionary_df: DataFrame | None = None
        self._dictionary_rev_df: DataFrame | str | None = "unset"
        self._dict_ngrams_df: DataFrame | str | None = "unset"
        self._dict_cache: dict[tuple[str, str], int] | None = None
        if preload_dictionary:
            # footer row counts first (metadata-only), full read only
            # under the cap — and both through pyarrow, not Spark: the
            # former count()+collect() cost TWO driver-blocking Spark
            # jobs (~0.5s of every engine construction); the artifact
            # is a handful of small local/shared-fs parquet files
            # (falls back to the Spark path if pyarrow cannot reach
            # the filesystem)
            try:
                n_rows = self._count_rows(f"{index_dir}/dictionary")
                if n_rows is not None and n_rows <= preload_dictionary:
                    tbl = self._read_tiny_artifact(
                        f"{index_dir}/dictionary", ["field", "term", "df"]
                    )
                    self._dict_cache = {
                        (f, t): int(df)
                        for f, t, df in zip(
                            tbl["field"], tbl["term"], tbl["df"]
                        )
                    }
            except Exception:  # noqa: BLE001 — non-local fs: Spark path
                d = self._dictionary
                if d.count() <= preload_dictionary:
                    self._dict_cache = {
                        (r["field"], r["term"]): int(r["df"])
                        for r in d.collect()
                    }
        self.weights = {
            f: w for f, w in bm25.field_weights().items() if f in self.fields
        }
        # fields outside the standard ladder get weight 1.0
        for f in self.fields:
            self.weights.setdefault(f, 1.0)
        # Block-max metadata was computed with the avgdl in force at each
        # shard's build. If the corpus grew since (incremental shards),
        # the stored bounds are stale and pruning would be UNSAFE — in
        # that case WAND transparently falls back to exact TAAT.
        self.blockmax_safe = self._check_blockmax_safe()

    @property
    def _dictionary(self) -> DataFrame:
        if self._dictionary_df is None:
            self._dictionary_df = self.spark.read.parquet(
                f"{self.index_dir}/dictionary"
            )
        return self._dictionary_df

    @_dictionary.setter
    def _dictionary(self, value) -> None:
        self._dictionary_df = value

    @property
    def _dictionary_rev(self) -> DataFrame | None:
        """Reversed-term dictionary relation, or None for pre-r5
        indexes without the artifact (callers raise)."""
        if isinstance(self._dictionary_rev_df, str):
            p = f"{self.index_dir}/dictionary_rev"
            self._dictionary_rev_df = (
                self.spark.read.parquet(p) if os.path.isdir(p) else None
            )
        return self._dictionary_rev_df

    @_dictionary_rev.setter
    def _dictionary_rev(self, value) -> None:
        self._dictionary_rev_df = value

    @property
    def _dict_ngrams(self) -> DataFrame | None:
        """char-3-gram -> term artifact (finalize-derived, never
        stale): sub-linear fuzzy candidate generation for big
        dictionaries; absent on indexes built before r5 ->
        length-band fallback."""
        if isinstance(self._dict_ngrams_df, str):
            p = f"{self.index_dir}/dictionary_ngrams"
            self._dict_ngrams_df = (
                self.spark.read.parquet(p) if os.path.isdir(p) else None
            )
        return self._dict_ngrams_df

    @_dict_ngrams.setter
    def _dict_ngrams(self, value) -> None:
        self._dict_ngrams_df = value

    def _read_tiny_artifact(
        self, path: str, columns: list[str]
    ) -> dict[str, list]:
        """Columns of a small parquet artifact as python lists —
        read with pyarrow directly (zero Spark jobs; engine init used
        to pay one driver-blocking job per artifact), falling back to
        a Spark collect for filesystems pyarrow cannot open."""
        try:
            import pyarrow.parquet as pq

            tbl = pq.read_table(path, columns=columns)
            return {c: tbl[c].to_pylist() for c in columns}
        except Exception:  # noqa: BLE001 — non-local fs
            rows = self.spark.read.parquet(path).select(*columns).collect()
            return {c: [r[c] for r in rows] for c in columns}

    @staticmethod
    def _count_rows(path: str) -> int | None:
        """Row count of a flat parquet dir from file footers only
        (metadata read, no data pages); None when the layout is not
        plain ``*.parquet`` files."""
        import glob as glob_mod

        import pyarrow.parquet as pq

        files = glob_mod.glob(os.path.join(path, "*.parquet"))
        if not files:
            return None
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    def _check_blockmax_safe(self) -> bool:
        # one consolidated-ledger read (O(1) driver I/O, not O(shards))
        from gxdindexer_spark.operators.index_build import read_ledger

        for entry in read_ledger(self.index_dir).values():
            at_build = entry.get("avgdl_at_build") or {}
            for f, v in at_build.items():
                if abs(self.avgdl.get(f, v) - v) > 1e-9:
                    return False
        return True

    @staticmethod
    def _tid(term: str) -> int:
        return hashing.term_id(term)

    # ------------------------------------------------------------ plan

    #: field-scope prefix: 'name:rest' — identifier-shaped, validated
    #: against the index's real fields in make_spec (an unknown name
    #: falls back to plain-text treatment, see parse_query docstring)
    _SCOPE_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):(.+)$")

    @staticmethod
    def parse_query(query: str) -> list[tuple[str, str, str, int, str]]:
        """Lite Lucene-style syntax ->
        [(raw_token, kind, wildcard, fuzzy_edits, field_scope)].

        kind: 'should' (default), 'must' ('+tok'), 'must_not' ('-tok');
        wildcard: '' (plain term), 'prefix' ('tok*'), 'suffix'
        ('*tok' — leading wildcard, served by the reversed-term
        dictionary), or 'infix' ('fo*ar' — one interior star, raw kept
        whole); fuzzy_edits: 0, or 1/2 for 'tok~1'/'tok~2' (bare
        'tok~' = 2, Lucene's default); field_scope: '' (all queried
        fields) or the name before ':' in 'lang:py' / 'path:util*'
        (Solr field scoping — composes with +/-, wildcards and fuzzy).
        The scope is syntax-recognized here and VALIDATED in make_spec:
        a name that is not one of the index's fields is treated as
        plain text (code corpora legitimately contain 'foo:bar'
        tokens, and the analyzers split them), never a silent
        zero-match. Double/leading+trailing wildcards ('*to*') and
        fuzzy-on-wildcard are not supported — raise rather than
        silently mis-match. Parsed BEFORE analysis (the analyzers
        strip punctuation)."""
        out = []
        for raw in query.split():
            kind = "should"
            if raw.startswith("+"):
                kind, raw = "must", raw[1:]
            elif raw.startswith("-"):
                kind, raw = "must_not", raw[1:]
            scope = ""
            m = IndexQueryEngine._SCOPE_RE.match(raw)
            if m:
                scope, raw = m.group(1), m.group(2)
            fuzzy = 0
            if raw.endswith("~"):
                fuzzy, raw = 2, raw[:-1]
            elif len(raw) > 1 and raw[-2] == "~" and raw[-1] in "012":
                fuzzy, raw = int(raw[-1]), raw[:-2]
            elif "~" in raw and raw.split("~")[-1].isdigit():
                # 'term~3' etc: refuse rather than let the analyzer
                # silently strip the '~' and match a mangled token
                raise ValueError(
                    f"unsupported fuzzy distance in {raw!r} "
                    "(max 2 edits, Lucene's FuzzyQuery bound)"
                )
            if fuzzy and "*" in raw:
                raise ValueError(
                    f"fuzzy on a wildcard token {raw!r} is not supported"
                )
            if fuzzy and not raw:
                raise ValueError("empty fuzzy term ('~N') is not allowed")
            wildcard = ""
            if raw == "*":
                # a bare '*' would expand to the whole dictionary
                raise ValueError("empty wildcard ('*') is not allowed")
            if raw.endswith("*") and raw.startswith("*"):
                raise ValueError(
                    f"double wildcard {raw!r} is not supported"
                )
            if raw.endswith("*"):
                wildcard, raw = "prefix", raw[:-1]
            elif raw.startswith("*"):
                wildcard, raw = "suffix", raw[1:]
            if wildcard and not raw:
                # a bare '*' would expand to the whole dictionary
                raise ValueError(
                    "empty wildcard ('*') is not allowed"
                )
            if wildcard and "*" in raw:
                # edge star + interior star ('foo*bar*', '*foo*bar'):
                # the analyzer would strip the leftover '*' and expand
                # a mangled base — refuse, per the raise-don't-mismatch
                # contract (ADVICE r4 low)
                orig = raw + "*" if wildcard == "prefix" else "*" + raw
                raise ValueError(
                    f"multiple wildcards {orig!r} are not supported"
                )
            if not wildcard and "*" in raw:
                if raw.count("*") > 1:
                    raise ValueError(
                        f"multiple wildcards {raw!r} are not supported"
                    )
                wildcard = "infix"  # raw keeps the star; split at expand
            if raw:
                out.append((raw, kind, wildcard, fuzzy, scope))
        return out

    def analyze_query(self, query: str, fields: list[str] | None = None):
        """-> [(field, term)] with per-field analyzers (index parity)."""
        fields = fields or list(self.fields)
        pairs = []
        for f in fields:
            for t in analyze.tokenize_query(query, self.fields[f]):
                pairs.append((f, t))
        return pairs

    #: Lucene BooleanQuery.maxClauseCount analog — a 1-char prefix on a
    #: 10^9-term vocabulary must not build a million-clause plan.
    MAX_EXPANSIONS = 1024

    def expand_prefix(
        self, field: str, prefix: str, max_expansions: int | None = MAX_EXPANSIONS
    ) -> list[str]:
        """Dictionary prefix scan -> matching terms (wildcard rewrite;
        Lucene's MultiTermQuery expansion, scored as full BM25 like the
        scoring-boolean rewrite).

        Bounded: when more than ``max_expansions`` terms match, the
        highest-df terms survive (Lucene's top-terms rewrite), term-asc
        tiebreak. The uncached path is a *pushed-down range predicate*
        (term >= prefix AND term < prefix+MAXCHAR reaches the parquet
        scan) followed by a distributed top-k — never a full-dictionary
        collect to the driver."""
        if not prefix:
            raise ValueError("empty wildcard prefix ('*') is not allowed")
        if self._dict_cache is not None:
            cands = sorted(
                ((df, t) for (f, t), df in self._dict_cache.items()
                 if f == field and t.startswith(prefix)),
                key=lambda p: (-p[0], p[1]),
            )
            if max_expansions:
                cands = cands[:max_expansions]
            return sorted(t for _df, t in cands)
        hi = prefix + chr(0x10FFFF)
        d = (
            self._dictionary
            .filter(
                (F.col("field") == field)
                & (F.col("term") >= prefix)
                & (F.col("term") < hi)
            )
            .select("term", "df")
        )
        if max_expansions:
            d = d.orderBy(F.desc("df"), F.asc("term")).limit(max_expansions)
        return sorted(r["term"] for r in d.select("term").collect())

    def expand_suffix(
        self,
        field: str,
        suffix: str,
        max_expansions: int | None = MAX_EXPANSIONS,
    ) -> list[str]:
        """Leading-wildcard rewrite: terms ENDING with ``suffix`` —
        the Lucene ReversedWildcardFilter analog. The index side is
        ``dictionary_rev`` (field, rev_term, term, df) written at
        finalize, so the lookup is the SAME pushed-down range
        predicate the forward prefix uses, just over rev_term —
        never a full-dictionary regex scan. Bounded like
        ``expand_prefix`` (highest-df terms survive)."""
        if not suffix:
            raise ValueError("empty wildcard ('*') is not allowed")
        if self._dict_cache is not None:
            cands = sorted(
                ((df, t) for (f, t), df in self._dict_cache.items()
                 if f == field and t.endswith(suffix)),
                key=lambda p: (-p[0], p[1]),
            )
            if max_expansions:
                cands = cands[:max_expansions]
            return sorted(t for _df, t in cands)
        if self._dictionary_rev is None:
            raise ValueError(
                "index has no dictionary_rev artifact (built before "
                "leading-wildcard support) — rebuild or rerun finalize"
            )
        rev = suffix[::-1]
        hi = rev + chr(0x10FFFF)
        d = (
            self._dictionary_rev
            .filter(
                (F.col("field") == field)
                & (F.col("rev_term") >= rev)
                & (F.col("rev_term") < hi)
            )
            .select("term", "df")
        )
        if max_expansions:
            d = d.orderBy(F.desc("df"), F.asc("term")).limit(max_expansions)
        return sorted(r["term"] for r in d.select("term").collect())

    def expand_infix(
        self,
        field: str,
        prefix: str,
        suffix: str,
        max_expansions: int | None = MAX_EXPANSIONS,
    ) -> list[str]:
        """Infix wildcard (``fo*ar``) rewrite: terms that start with
        ``prefix`` AND end with ``suffix`` with the star matching >= 0
        chars (so ``len(term) >= len(prefix) + len(suffix)`` — no
        overlap between the two literals), i.e. SQL ``LIKE
        'prefix%suffix'``. Lucene serves this by seeking the prefix
        ceiling in the term dictionary and filtering by the wildcard
        automaton; here the seek is a *pushed-down range predicate* on
        whichever dictionary side has the longer (more selective)
        literal — ``term`` range on the forward dictionary, or
        ``rev_term`` range on ``dictionary_rev`` — with the other
        literal as a JVM-side residual filter on the pruned rows.
        Never a full-dictionary regex scan. Bounded like
        ``expand_prefix`` (highest-df terms survive)."""
        if not prefix or not suffix:
            raise ValueError(
                "infix wildcard needs literal text on both sides of '*'"
            )
        minlen = len(prefix) + len(suffix)
        if self._dict_cache is not None:
            cands = sorted(
                (
                    (df, t)
                    for (f, t), df in self._dict_cache.items()
                    if f == field
                    and len(t) >= minlen
                    and t.startswith(prefix)
                    and t.endswith(suffix)
                ),
                key=lambda p: (-p[0], p[1]),
            )
            if max_expansions:
                cands = cands[:max_expansions]
            return sorted(t for _df, t in cands)
        if len(prefix) >= len(suffix) or self._dictionary_rev is None:
            d = self._dictionary.filter(
                (F.col("field") == field)
                & (F.col("term") >= prefix)
                & (F.col("term") < prefix + chr(0x10FFFF))
                & F.col("term").endswith(suffix)
                & (F.length("term") >= minlen)
            )
        else:
            rev = suffix[::-1]
            d = self._dictionary_rev.filter(
                (F.col("field") == field)
                & (F.col("rev_term") >= rev)
                & (F.col("rev_term") < rev + chr(0x10FFFF))
                & F.col("term").startswith(prefix)
                & (F.length("term") >= minlen)
            )
        d = d.select("term", "df")
        if max_expansions:
            d = d.orderBy(F.desc("df"), F.asc("term")).limit(max_expansions)
        return sorted(r["term"] for r in d.select("term").collect())

    def expand_fuzzy(
        self,
        field: str,
        term: str,
        max_edits: int,
        max_expansions: int | None = MAX_EXPANSIONS,
    ) -> list[str]:
        """Fuzzy term rewrite (Lucene FuzzyQuery, ``term~N``):
        dictionary terms within Damerau-Levenshtein edit distance <= ``max_edits`` of
        ``term`` — Damerau-Levenshtein with adjacent transpositions,
        Lucene's ``transpositions=true`` default (and DuckDB's
        ``damerau_levenshtein``, which the oracle uses). Expansions
        are scored as a full BM25 scoring-boolean, the same rewrite
        shape as the wildcard paths.

        Candidate pruning without a Levenshtein automaton, two tiers:

        1. **n-gram posting prune** (the 100M-term path, VERDICT r4
           #6): a DL edit destroys at most 4 of the query's positional
           char-3-grams (substitution/deletion touch 3, a transposition
           touches 4 — Ukkonen's q-gram filtering bound adapted to
           Damerau), and collapsing the positional multiset to
           DISTINCT grams loses at most the query's own duplicate
           excess, so any true candidate shares >= |distinct grams| -
           4*max_edits grams with the query. When that threshold is
           >= 1, the dictionary_ngrams artifact answers it with a gram
           IN-list scan (file/row-group pruned via its (field, gram)
           range layout) + group-count — scan rows ~ candidate gram
           postings, NOT the dictionary length band.
        2. **length band** (fallback: short terms, or pre-r5 indexes
           without the artifact): ``length(term) BETWEEN len-d AND
           len+d`` pushes to the dictionary scan, then Spark's
           built-in plain ``levenshtein`` prefilters JVM-side (plain
           lev never exceeds 2x the DL distance — a transposition
           costs 2 plain edits — so ``lev <= 2*max_edits`` is a safe
           overapproximation).

        Either tier only generates a candidate SUPERSET; the exact DL
        check runs driver-side on the tiny surviving list, so the
        final expansion set is identical across tiers (and to the
        cached path). Bounded like ``expand_prefix`` (highest-df
        survive)."""
        if not term:
            raise ValueError("empty fuzzy term is not allowed")
        if max_edits < 1:
            return [term]
        cands = sorted(
            ((df, t) for t, df, _d in
             self._fuzzy_candidates(field, term, max_edits)),
            key=lambda p: (-p[0], p[1]),
        )
        if max_expansions:
            cands = cands[:max_expansions]
        return sorted(t for _df, t in cands)

    def _fuzzy_candidates(
        self, field: str, term: str, max_edits: int
    ) -> list[tuple[str, int, int]]:
        """Exact set of dictionary terms within Damerau-Levenshtein
        distance <= ``max_edits`` of ``term``, with stats ->
        [(term, df, distance)], unordered. The pruned-superset tiers
        documented on ``expand_fuzzy`` generate candidates; the exact
        DL check always runs driver-side on the survivors. Shared by
        ``expand_fuzzy`` (fuzzy query rewrite) and ``suggest``
        (spell-suggest), which apply different orderings."""
        if self._dict_cache is not None:
            return [
                (t, df, d)
                for (f, t), df in self._dict_cache.items()
                if f == field
                and abs(len(t) - len(term)) <= max_edits
                and (d := _dl_distance(term, t, max_edits)) <= max_edits
            ]
        rows = None
        qgrams = sorted({term[i:i + 3] for i in range(len(term) - 2)})
        min_shared = len(qgrams) - 4 * max_edits
        if self._dict_ngrams is not None and min_shared >= 1:
            # tier 1: gram-posting prune. Candidates shorter than 3
            # chars can't appear in the artifact, but min_shared >= 1
            # implies len(term) >= 4*max_edits + 3, so every true
            # candidate has length >= 3*max_edits + 3 > 3 — none lost.
            rows = (
                self._dict_ngrams.filter(
                    (F.col("field") == field)
                    & F.col("gram").isin(qgrams)
                    & F.length("term").between(
                        len(term) - max_edits, len(term) + max_edits
                    )
                )
                .groupBy("term")
                .agg(
                    F.count(F.lit(1)).alias("shared"),
                    F.first("df").alias("df"),
                )
                .filter(F.col("shared") >= min_shared)
                .select("term", "df")
                .collect()
            )
        if rows is None:
            # tier 2: length band + JVM plain-lev prefilter
            rows = (
                self._dictionary.filter(
                    (F.col("field") == field)
                    & F.length("term").between(
                        len(term) - max_edits, len(term) + max_edits
                    )
                    & (
                        F.levenshtein(F.col("term"), F.lit(term))
                        <= 2 * max_edits
                    )
                )
                .select("term", "df")
                .collect()
            )
        return [
            (r["term"], int(r["df"]), d)
            for r in rows
            if (d := _dl_distance(term, r["term"], max_edits)) <= max_edits
        ]

    def suggest(
        self,
        term: str,
        field: str | None = None,
        k: int = 5,
        max_edits: int = 2,
    ) -> DataFrame:
        """Spell-suggest / did-you-mean (Lucene DirectSpellChecker,
        Solr ``spellcheck``): dictionary terms within Damerau-
        Levenshtein distance <= ``max_edits`` of ``term``, ranked
        (distance asc, df desc, term asc) — closest first, popularity
        breaks distance ties, exactly DirectSpellChecker's
        ``comparator`` contract. Candidate generation reuses the fuzzy
        tiers (``_fuzzy_candidates``: n-gram posting prune at scale,
        length-band fallback), so cost matches a fuzzy-term rewrite —
        never a full dictionary scan. An exact dictionary hit comes
        back at distance 0 (callers wanting pure corrections filter
        it). -> DataFrame(term, distance, df), k rows."""
        field = field or next(iter(self.fields))
        if max_edits < 1:
            raise ValueError("suggest needs max_edits >= 1")
        cands = self._fuzzy_candidates(field, term, max_edits)
        cands.sort(key=lambda c: (c[2], -c[1], c[0]))
        out_schema = T.StructType(
            [
                T.StructField("term", T.StringType(), False),
                T.StructField("distance", T.IntegerType(), False),
                T.StructField("df", T.LongType(), False),
            ]
        )
        top = cands[:k]
        if not top:
            return _empty_df(self.spark, out_schema)
        return self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "term": [t for t, _df, _d in top],
                    "distance": np.array(
                        [d for _t, _df, d in top], dtype="int32"
                    ),
                    "df": np.array(
                        [df for _t, df, _d in top], dtype="int64"
                    ),
                }
            ),
            out_schema,
        )

    def more_like_this(
        self,
        doc_id: int,
        field: str | None = None,
        k: int = 10,
        max_terms: int = 8,
        mode: str = "auto",
    ) -> DataFrame:
        """More-like-this (Lucene/Solr MLT, the reference's Solr
        deployment exposes it on every indexed core): find the docs
        most similar to a SOURCE doc by re-analyzing its stored text
        — Lucene MoreLikeThis's term-vector-less path. The source
        doc's field text comes from the same partition-pruned
        doc-store point lookup as ``fetch_topk`` (one shard dir, one
        doc_id row-group filter); its terms rank driver-side by
        tf x idf (Robertson idf, ties -> term asc) and the top
        ``max_terms`` form an OR query executed by the normal pruned
        top-k path. The source doc is excluded EXACTLY: per-shard
        top-(k+1) necessarily contains the true top-k sans source, so
        filter-then-limit(k) after the global gather is rank-correct.
        -> DataFrame(doc_id, score), the k most similar docs."""
        field = field or next(iter(self.fields))
        dps = int(self.manifest.get("docs_per_shard") or 1)
        row = (
            self.spark.read.parquet(f"{self.index_dir}/docs")
            .filter(
                (F.col("shard") == int(doc_id) // dps)
                & (F.col("doc_id") == int(doc_id))
            )
            .select(field)
            .collect()
        )
        text = row[0][0] if row else None
        if not text:
            return _empty_df(self.spark, _HITS_SCHEMA)
        toks = list(
            analyze.TOKENIZERS[self.fields[field]](pd.Series([text]))[0]
        )
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        dfs = self._lookup_stats([(field, t) for t in sorted(tf)])
        nd = self.n_docs[field]
        ranked = sorted(
            (
                (tf[t] * float(bm25.idf(nd, df)), t)
                for (_f, t), df in dfs.items()
            ),
            key=lambda p: (-p[0], p[1]),
        )
        terms = [t for _s, t in ranked[:max_terms]]
        if not terms:
            return _empty_df(self.spark, _HITS_SCHEMA)
        hits = self.topk(" ".join(terms), k=k + 1, fields=[field], mode=mode)
        return (
            hits.filter(F.col("doc_id") != int(doc_id))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _lookup_stats(self, pairs) -> dict[tuple[str, str], int]:
        """Global df per (field, term) from the dictionary — the idf
        input. Driver cache when preloaded, else a term-pruned scan."""
        if self._dict_cache is not None:
            return {
                p: self._dict_cache[p] for p in pairs if p in self._dict_cache
            }
        terms = sorted({t for _f, t in pairs})
        flds = sorted({f for f, _t in pairs})
        d = (
            self._dictionary
            .filter(F.col("term").isin(terms) & F.col("field").isin(flds))
            .collect()
        )
        stats = {(r["field"], r["term"]): int(r["df"]) for r in d}
        return {p: stats[p] for p in pairs if p in stats}

    def make_spec(self, query: str, fields: list[str] | None = None):
        fields = fields or list(self.fields)
        scoring_pairs: list[tuple[str, str]] = []
        must_groups: list[list[tuple[str, str]]] = []
        must_not_pairs: list[tuple[str, str]] = []
        for raw, kind, wildcard, fuzzy, scope in self.parse_query(query):
            group: list[tuple[str, str]] = []
            if scope and scope in self.fields:
                # Solr field scoping: this token matches in ONE field
                # (boost/idf/analyzer of that field apply as usual)
                tok_fields = [scope]
            elif scope and (wildcard or fuzzy):
                raise ValueError(
                    f"unknown field {scope!r} in scoped "
                    f"wildcard/fuzzy token {scope}:{raw}"
                )
            elif scope:
                # not a real field: the token was plain text containing
                # a colon (common in code) — restore and let the
                # analyzer split it, exactly as before field scoping
                raw = f"{scope}:{raw}"
                tok_fields = fields
            else:
                tok_fields = fields
            for f in tok_fields:
                if wildcard == "infix":
                    pre_raw, post_raw = raw.split("*", 1)
                    pre_t = analyze.tokenize_query(pre_raw, self.fields[f])
                    post_t = analyze.tokenize_query(post_raw, self.fields[f])
                    group += [
                        (f, t)
                        for t in self.expand_infix(
                            f,
                            pre_t[0] if pre_t else pre_raw.lower(),
                            post_t[0] if post_t else post_raw.lower(),
                        )
                    ]
                    continue
                toks = analyze.tokenize_query(raw, self.fields[f])
                if wildcard:
                    base = toks[0] if toks else raw.lower()
                    expand = (
                        self.expand_prefix
                        if wildcard == "prefix"
                        else self.expand_suffix
                    )
                    group += [(f, t) for t in expand(f, base)]
                elif fuzzy:
                    base = toks[0] if toks else raw.lower()
                    group += [
                        (f, t) for t in self.expand_fuzzy(f, base, fuzzy)
                    ]
                else:
                    group += [(f, t) for t in toks]
            if kind == "must_not":
                must_not_pairs += group
            else:
                scoring_pairs += group
                if kind == "must":
                    must_groups.append(group)
        # must_not dfs weigh nothing but size the scan (_scatter's
        # backend estimate covers every posting list it reads)
        dfs = self._lookup_stats(scoring_pairs + must_not_pairs)
        scoring = set(scoring_pairs)
        # plan keys are (field, term_id): the hash is computed HERE with
        # the same md5 mapping the build used (functions/hashing.py)
        term_weights = {
            (f, self._tid(t)): self.weights[f]
            * float(bm25.idf(self.n_docs[f], df))
            for (f, t), df in dfs.items()
            if (f, t) in scoring
        }
        spec = wand_mod.QuerySpec(
            term_weights=term_weights,
            avgdl=dict(self.avgdl),
            k1=float(self.manifest["k1"]),
            b=float(self.manifest["b"]),
            must_groups=tuple(
                frozenset((f, self._tid(t)) for f, t in g)
                for g in must_groups
            ),
            must_not=frozenset(
                (f, self._tid(t)) for f, t in must_not_pairs
            ),
        )
        # metadata riding on the plan: term_id -> surface term and its
        # df (Solr debugQuery / explain_score; the df also sizes the
        # scan for _scatter's backend choice)
        spec.term_names = {
            (f, self._tid(t)): t
            for f, t in set(scoring_pairs) | set(must_not_pairs)
        }
        spec.term_dfs = {
            (f, self._tid(t)): int(df) for (f, t), df in dfs.items()
        }
        return spec

    # ----------------------------------------------------------- execute

    def choose_mode(self, spec) -> str:
        """Stats-driven TAAT/WAND planner: pruning only pays when the
        top term's weight dominates — a long tail of near-equal common
        terms leaves every list essential and the pruned path
        degenerates to TAAT plus bookkeeping. Heuristic on driver-side
        stats alone (weights = field-boosted idfs, the upper-bound
        proxy): prune iff the heaviest term outweighs the sum of the
        rest (then low-weight lists can land non-essential once theta
        locks in). This is the GLOBAL form; ``topk(mode="auto")``
        applies the same dominance test inside each shard worker over
        the terms present in that shard — per-shard stats refine the
        choice where term distributions are skewed across shards."""
        ws = sorted(spec.term_weights.values(), reverse=True)
        if len(ws) <= 1:
            return "taat"
        return "wand" if ws[0] > sum(ws[1:]) else "taat"

    def topk(
        self,
        query: str,
        k: int = 10,
        fields: list[str] | None = None,
        mode: str = "wand",
        where: str | None = None,
    ) -> DataFrame:
        """-> DataFrame(doc_id, score) of global top-k, deterministic.
        ``mode``: "wand" (block-max pruned), "taat" (exact full scan),
        or "auto" (stats-driven choice, ``choose_mode``) — all three
        rank-identical.

        ``where`` is the Solr ``fq`` analog — filtered retrieval: a
        conjunctive predicate over STORED doc-store columns (e.g.
        ``"n_chars < 300 and lang == 'en'"``) restricts the RESULT
        set without touching scoring stats (fq never changes idf/
        avgdl, unlike deleting docs). The parsed predicate pushes into
        each shard worker's pyarrow doc-store read as parquet filters
        (row-group statistics pruning), the worker masks its scored
        matches by the surviving ids, and only then takes its local
        top-k. Filtered retrieval forces the exact TAAT path: WAND's
        pruning threshold assumes every high-upper-bound doc is a
        candidate, which a post-score filter breaks."""
        spec = self.make_spec(query, fields)
        if not spec.term_weights:
            return _empty_df(self.spark, _HITS_SCHEMA)
        if where is not None:
            return self._topk_filtered(spec, k, where)
        return self._topk_from_spec(spec, k, mode)

    def _topk_from_spec(self, spec, k: int, mode: str) -> DataFrame:
        """Execution half of ``topk``, callable with an externally
        built spec — the federation hook: FederatedQueryEngine builds
        ONE spec with globally merged stats and scatter-gathers each
        member index through this method."""
        # boolean clauses need the full candidate doc sets -> exact
        # TAAT; so does a spec whose corpus stats are not THIS index's
        # (a federated merged-stats spec): the stored block-max bounds
        # were computed under this index's own avgdl and don't cover
        # scores under foreign stats
        stats_native = set(spec.avgdl) == set(self.avgdl) and all(
            abs(spec.avgdl[f] - v) < 1e-12 for f, v in self.avgdl.items()
        )
        prunable = self.blockmax_safe and not spec.is_boolean and stats_native
        # "auto" defers the TAAT/WAND choice to EACH shard: the global
        # plan (choose_mode) can only reason from corpus-wide idfs, but
        # whether pruning pays is a per-shard question — a shard
        # missing the dominant rare term has nothing to prune and
        # should run straight TAAT. The shard function applies the same
        # dominance heuristic restricted to the terms actually present
        # in its postings group (zero extra storage or I/O: the
        # group's term set is already in hand). All choices are
        # rank-identical, so this is purely a latency decision.
        shard_auto = mode == "auto" and prunable
        use_wand = mode == "wand" and prunable

        def shard_topk(_shard: int, pg: pd.DataFrame, sp) -> pd.DataFrame:
            use = _wand_pays(_present_keys(pg), sp) if shard_auto else use_wand
            fn = wand_mod.wand if use else wand_mod.taat
            ids, scores = fn(pg, sp, k)
            return pd.DataFrame({"doc_id": ids, "score": scores})

        keys = self._scan_keys(spec)
        if not stats_native:
            # a merged-stats spec carries federation-wide df sums: size
            # this member's scan by its own dictionary instead
            own = self._lookup_stats(
                [(f, spec.term_names[(f, t)]) for f, t in keys]
            )
            keys = {
                (f, t): own.get((f, spec.term_names[(f, t)]), 0)
                for f, t in keys
            }
        hits = self._scatter(keys, shard_topk, _HITS_SCHEMA, spec)
        return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _topk_filtered(self, spec, k: int, where) -> DataFrame:
        """Filtered-retrieval plan (see ``topk(where=)``).
        ``where`` is either the predicate string (parsed here) or a
        ready list of pyarrow filter tuples (the join qparser passes
        its computed IN-set directly)."""
        flt = _parse_where(where) if isinstance(where, str) else where
        store_cols = {f.name for f in self._doc_store_schema().fields}
        for col, _op, _v in flt:
            if col not in store_cols:
                raise ValueError(
                    f"where column {col!r} is not in the doc store "
                    f"(has: {sorted(store_cols)})"
                )
        idx_dir = self.index_dir

        def shard_topk_filtered(shard: int, pg: pd.DataFrame, sp):
            ids, scores = wand_mod.match_scores(pg, sp)
            if not ids.size:
                return None
            # parquet filters -> row-group stats pruning; only the
            # doc_id column of surviving rows materializes
            allowed = _store_rows(idx_dir, shard, ids, ["doc_id"], flt)
            keep = np.isin(ids, allowed["doc_id"].to_numpy())
            ids, scores = wand_mod._topk_from_scores(
                ids[keep], scores[keep], k
            )
            return pd.DataFrame({"doc_id": ids, "score": scores})

        hits = self._scatter(
            self._scan_keys(spec), shard_topk_filtered, _HITS_SCHEMA, spec
        )
        return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    #: boost transforms for ``topk_boosted`` — tiny on purpose: each
    #: must be a numpy ufunc-ish the worker can apply vectorized
    _BOOST_FNS = {
        "log1p": np.log1p,
        "linear": lambda v: v,
        "sqrt": np.sqrt,
    }

    def topk_boosted(
        self,
        query: str,
        k: int = 10,
        field: str = "n_chars",
        weight: float = 1.0,
        fn: str = "log1p",
        combine: str = "add",
        fields: list[str] | None = None,
    ) -> DataFrame:
        """Query-time function boosting — the Solr edismax ``bf``
        (additive, ``combine='add'``: score + weight*fn(field)) and
        ``boost`` (multiplicative, ``combine='mul'``: score *
        weight*fn(field)) params / Lucene FunctionScoreQuery: BM25
        relevance composed with a function of a STORED numeric
        doc-store column (recency, popularity, quality ...). The
        reference bakes its boost ladder in at index time (F12,
        SolrUtils.java:13-28); this is the complementary query-time
        knob that needs no reindex to tune.

        Docs with a NULL ``field`` take the identity (0 add / 1 mul)
        — they keep their bare BM25 score. ``fn`` in ``_BOOST_FNS``.

        Plan shape: same one scatter-gather as ``topk`` — each shard
        scores its matches (exact TAAT), attaches the boost column
        from a pyarrow read of ITS doc-store partition (column-pruned:
        doc_id + field), combines, and emits its local top-k;
        <= shards x k tiny rows gather. Boosting forces the exact
        path: WAND's block-max upper bounds don't cover the boost term
        (a boost-aware WAND would need per-block max-boost bounds in
        the index — not worth it while the doc store read is already
        shard-local).

        -> (doc_id, score) of the boosted global top-k."""
        if fn not in self._BOOST_FNS:
            raise ValueError(
                f"unknown boost fn {fn!r} (have: {sorted(self._BOOST_FNS)})"
            )
        if combine not in ("add", "mul"):
            raise ValueError("combine must be 'add' or 'mul'")
        spec = self.make_spec(query, fields)
        store_cols = {f.name for f in self._doc_store_schema().fields}
        if field not in store_cols:
            raise ValueError(
                f"boost field {field!r} is not in the doc store "
                f"(has: {sorted(store_cols)})"
            )
        if not spec.term_weights:
            return _empty_df(self.spark, _HITS_SCHEMA)
        idx_dir = self.index_dir
        boost_fn = self._BOOST_FNS[fn]

        def shard_topk_boosted(shard: int, pg: pd.DataFrame, sp):
            ids, scores = wand_mod.match_scores(pg, sp)
            if not ids.size:
                return None
            store = _store_rows(idx_dir, shard, ids, ["doc_id", field])
            v = store.set_index("doc_id")[field].reindex(ids).to_numpy(
                "float64"
            )
            with np.errstate(invalid="ignore"):
                b = weight * boost_fn(v)
            if combine == "add":
                scores = scores + np.where(np.isnan(b), 0.0, b)
            else:
                scores = scores * np.where(np.isnan(b), 1.0, b)
            ids, scores = wand_mod._topk_from_scores(ids, scores, k)
            return pd.DataFrame({"doc_id": ids, "score": scores})

        hits = self._scatter(
            self._scan_keys(spec), shard_topk_boosted, _HITS_SCHEMA, spec
        )
        return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    @staticmethod
    def _scan_keys(spec) -> dict[tuple[str, int], int]:
        """(field, term_id) -> dictionary df of every posting list a
        spec's scan reads: scoring, +must and -must_not keys (0 for a
        key the dictionary does not hold)."""
        keys = (
            set(spec.term_weights)
            | {m for g in spec.must_groups for m in g}
            | set(spec.must_not)
        )
        return {key: spec.term_dfs.get(key, 0) for key in keys}

    def _scatter(
        self,
        keys: dict[tuple[str, int], int],
        shard_fn,
        schema: T.StructType,
        payload,
        shard: int | None = None,
    ) -> DataFrame:
        """The one scatter executor: ``shard_fn(shard, pg, payload)``
        runs once per shard over ``pg``, that shard's rows of the
        pruned postings scan (term_id IN keys' ids AND field IN keys'
        fields, only partition ``shard`` if given), in (field,
        term_id) order. It returns a frame of ``schema``'s columns, or
        None for no rows; the union of those frames comes back as a
        DataFrame for the caller's gather.

        Backend per call (module docstring): driver-local when the
        engine opened the postings with pyarrow and the estimated
        postings ``sum(keys.values())`` are at most
        ``LOCAL_MAX_POSTINGS``; else Spark, with ``payload``
        broadcast to the Python workers. ``shard_fn`` must not close
        over the engine (it is pickled to those workers).

        The local backend runs eagerly: the scan and every shard
        function execute inside this call, errors surface here, and
        the returned DataFrame is a materialized result (only the
        caller's gather stays lazy). The Spark backend returns a lazy
        plan that runs at the caller's action."""
        tids = sorted({t for _f, t in keys})
        flds = sorted({f for f, _t in keys})
        if (
            self._postings_ds is not None
            and sum(keys.values()) <= LOCAL_MAX_POSTINGS
        ):
            flt = pc.field("term_id").isin(tids)
            flt &= pc.field("field").isin(flds)
            if shard is not None:
                flt &= pc.field("shard") == shard
            pg = self._postings_ds.to_table(filter=flt).to_pandas()
            parts = [
                shard_fn(int(s), _in_term_order(g), payload)
                for s, g in pg.groupby("shard", sort=True)
            ]
            parts = [p for p in parts if p is not None and len(p)]
            if not parts:
                return _empty_df(self.spark, schema)
            return _local_df(
                self.spark, pd.concat(parts, ignore_index=True), schema
            )
        postings = self._postings.filter(
            F.col("term_id").isin(tids) & F.col("field").isin(flds)
        )
        if shard is not None:
            postings = postings.filter(F.col("shard") == shard)
        b_payload = self.spark.sparkContext.broadcast(payload)

        def run(key: tuple, pg: pd.DataFrame) -> pd.DataFrame:
            out = shard_fn(int(key[0]), _in_term_order(pg), b_payload.value)
            return pd.DataFrame() if out is None else out

        return postings.groupBy("shard").applyInPandas(run, schema=schema)

    def phrase_topk(
        self, phrase: str, k: int = 10, field: str = "content",
        slop: int = 0,
    ) -> DataFrame:
        """Phrase top-k over a positional index — Lucene PhraseQuery:
        tf = phrase frequency, idf = sum of the constituent terms'
        idfs, field weight applied. ``slop > 0`` allows in-order
        matches with up to ``slop`` total gap, each weighted
        1/(1+gap) (wand.phrase docstring has the exact contract)."""
        if not self.manifest.get("with_positions"):
            raise ValueError(
                "index was built without positions "
                "(IndexBuilder(with_positions=True))"
            )
        terms = analyze.phrase_tokens(phrase, self.fields[field])
        if not terms:
            return _empty_df(self.spark, _HITS_SCHEMA)
        dfs = self._lookup_stats([(field, t) for t in terms])
        if len(dfs) < len(set(terms)):
            return _empty_df(self.spark, _HITS_SCHEMA)
        idf_sum = self.weights[field] * float(
            sum(bm25.idf(self.n_docs[field], df) for df in dfs.values())
        )
        tids = [self._tid(t) for t in terms]
        avgdl = self.avgdl[field]
        k1, b = float(self.manifest["k1"]), float(self.manifest["b"])

        def shard_phrase(_shard: int, pg: pd.DataFrame, _payload):
            ids, scores = wand_mod.phrase_topk_shard(
                pg, tids, field, idf_sum, avgdl, k, k1, b, slop=slop
            )
            return pd.DataFrame({"doc_id": ids, "score": scores})

        keys = {(field, self._tid(t)): df for (_f, t), df in dfs.items()}
        hits = self._scatter(keys, shard_phrase, _HITS_SCHEMA, None)
        return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_many(
        self,
        queries: dict[str, str],
        k: int = 10,
        fields: list[str] | None = None,
        mode: str = "wand",
    ) -> DataFrame:
        """Batched retrieval: top-k for MANY queries in ONE postings
        scan -> (query_id, doc_id, score).

        The per-query path pays one scan + one scatter-gather per
        query; a serving workload amortizes both by shipping a batch:
        the scan filter is the UNION of all queries' terms, every
        shard scores all queries locally (each scorer only touches its
        own spec's term rows), and one window takes the global top-k
        per query. N queries cost ~one query's I/O plus N small
        scoring passes — the reference's batched Solr query loop
        (GxdResultIndexer.java:900-1268 chunk loop) turned sideways.
        """
        specs = {
            qid: self.make_spec(q, fields) for qid, q in queries.items()
        }
        specs = {qid: s for qid, s in specs.items() if s.term_weights}
        out_schema = T.StructType(
            [
                T.StructField("query_id", T.StringType(), False),
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("score", T.DoubleType(), False),
            ]
        )
        if not specs:
            return _empty_df(self.spark, out_schema)
        keys: dict[tuple[str, int], int] = {}
        for s in specs.values():
            keys.update(self._scan_keys(s))
        safe = self.blockmax_safe

        def shard_topk(_shard: int, pg: pd.DataFrame, batch):
            # per-shard, per-QUERY adaptive choice (same dominance
            # test as topk(mode="auto")): one drop_duplicates over
            # in-hand postings shared by every query in the batch
            present = _present_keys(pg) if mode == "auto" else None
            frames = []
            for qid, sp in batch.items():
                use_wand = (
                    safe
                    and not sp.is_boolean
                    and (
                        _wand_pays(present, sp)
                        if mode == "auto"
                        else mode == "wand"
                    )
                )
                fn = wand_mod.wand if use_wand else wand_mod.taat
                ids, scores = fn(pg, sp, k)
                if ids.size:
                    frames.append(
                        pd.DataFrame(
                            {"query_id": qid, "doc_id": ids, "score": scores}
                        )
                    )
            return pd.concat(frames, ignore_index=True) if frames else None

        local = self._scatter(keys, shard_topk, out_schema, specs)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            local.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )

    def fetch_topk(
        self,
        query: str,
        k: int = 10,
        fields: list[str] | None = None,
        mode: str = "wand",
        columns: tuple[str, ...] = ("content",),
    ) -> DataFrame:
        """Top-k hits HYDRATED with stored document columns — the
        serving path's point lookup. The k hit ids are known at plan
        time (k rows on the driver), so the doc-store read is a
        partition-pruned scan: shard = doc_id // docs_per_shard from
        the manifest, pushed as a literal shard IN-list, with the
        doc_id IN-list pruning row groups inside each shard file.
        -> (doc_id, score, *columns), score-desc order preserved.
        """
        hits = self.topk(query, k, fields, mode).collect()
        out_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("score", T.DoubleType(), False),
            ]
        )
        if not hits:
            return _empty_df(self.spark, out_schema)
        dps = int(self.manifest.get("docs_per_shard") or 1)
        ids = [int(r["doc_id"]) for r in hits]
        shards = sorted({i // dps for i in ids})
        store = (
            self.spark.read.parquet(f"{self.index_dir}/docs")
            .filter(
                F.col("shard").isin(shards) & F.col("doc_id").isin(ids)
            )
            .select("doc_id", *columns)
        )
        # pandas local relation (Arrow): a python-LIST createDataFrame
        # becomes a 32-partition python RDD and any action on it spawns
        # a Python worker per partition — seconds of overhead for k rows
        hits_df = self.spark.createDataFrame(
            pd.DataFrame(
                [(int(r["doc_id"]), float(r["score"])) for r in hits],
                columns=["doc_id", "score"],
            ),
            out_schema,
        )
        return hits_df.join(F.broadcast(store), "doc_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )

    def matching_docs(
        self, query: str, fields: list[str] | None = None
    ) -> DataFrame:
        """Distinct doc_ids matching the query (OR over scoring terms,
        boolean clauses applied) — the match SET, not just its size.
        Shards partition docID space, so per-shard sets are disjoint
        and no global distinct shuffle is needed."""
        spec = self.make_spec(query, fields)
        out_schema = T.StructType(
            [T.StructField("doc_id", T.LongType(), False)]
        )
        if not spec.term_weights:
            return _empty_df(self.spark, out_schema)

        def shard_docs(_shard: int, pg: pd.DataFrame, sp) -> pd.DataFrame:
            return pd.DataFrame({"doc_id": wand_mod.match_docs(pg, sp)})

        return self._scatter(
            self._scan_keys(spec), shard_docs, out_schema, spec
        )

    def sorted_matches(
        self,
        query: str,
        by: str,
        k: int = 10,
        offset: int = 0,
        ascending: bool = True,
        fields: list[str] | None = None,
        columns: tuple[str, ...] = (),
        after: tuple | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """Match set ordered by a STORED doc-store column, paged — the
        reference's actual serving contract: every document carries
        precomputed rank fields (R_BY_ASSAY_TYPE / R_BY_MRK_SYMBOL /
        R_BY_AGE..., GxdResultIndexer.java:1234-1239) and Solr
        sorts/pages the match set on them, NOT on relevance. Here the
        rank columns live in the per-shard doc store (W1 window ranks
        or any ingested attribute), and this is the first-class
        "rows offset..offset+k of the match set ordered by X" API.

        Plan shape (the deep-paging-safe distributed top-k): each
        shard function (``_scatter``) computes its own match set,
        reads ITS doc-store partition directly (pyarrow,
        column-pruned: doc_id + sort key + requested columns), and
        emits only its LOCAL top-(offset+k) rows by the sort key — so
        the gather stage sees <= shards x (offset+k) tiny rows, never
        a match-set-sized shuffle; the global order-by + offset/limit
        then runs over that bounded set. ``offset`` deep-paging cost
        grows linearly as in any distributed top-k (Solr's own
        deep-paging caveat) — for crawl-style paging pass
        ``after=(last_by_value, last_doc_id)`` instead (Solr
        cursorMark / ES search_after): the k rows STRICTLY after the
        cursor in the sort order, so every page costs the same
        shards x k gather no matter how deep, because the cursor
        predicate filters inside each shard worker before its local
        top-k. ``after`` and ``offset`` are mutually exclusive.

        ``where`` (Solr fq, same contract as ``topk(where=)``)
        restricts the match set by a stored-column predicate pushed
        into the same shard-local pyarrow read as parquet filters —
        applied BEFORE the cursor predicate and the local top-k.

        -> (doc_id, <by>, *columns), ordered by (<by> asc/desc,
        doc_id asc), rows offset..offset+k (or the k rows after the
        cursor).
        """
        if after is not None and offset:
            raise ValueError(
                "pass either offset= (shallow paging) or after= "
                "(cursor paging), not both"
            )
        flt = _parse_where(where) if where is not None else None
        spec = self.make_spec(query, fields)
        store_schema = {
            f.name: f.dataType for f in self._doc_store_schema().fields
        }
        for c in (by, *columns):
            if c not in store_schema:
                raise ValueError(
                    f"column {c!r} is not in the doc store "
                    f"(has: {sorted(store_schema)})"
                )
        for col, _op, _v in flt or ():
            if col not in store_schema:
                raise ValueError(
                    f"where column {col!r} is not in the doc store "
                    f"(has: {sorted(store_schema)})"
                )
        out_schema = T.StructType(
            [T.StructField("doc_id", T.LongType(), False)]
            + [T.StructField(c, store_schema[c], True) for c in (by, *columns)]
        )
        if not spec.term_weights:
            return _empty_df(self.spark, out_schema)
        idx_dir = self.index_dir
        n_local = offset + k
        cols = ["doc_id", by, *[c for c in columns if c != by]]

        def shard_sorted(shard: int, pg: pd.DataFrame, sp):
            ids = wand_mod.match_docs(pg, sp)
            if not ids.size:
                return None
            hit = _store_rows(idx_dir, shard, ids, cols, flt)
            if after is not None:
                av, ad = after
                if ascending:
                    keep = (hit[by] > av) | (
                        (hit[by] == av) & (hit["doc_id"] > ad)
                    )
                else:
                    keep = (hit[by] < av) | (
                        (hit[by] == av) & (hit["doc_id"] > ad)
                    )
                hit = hit[keep]
            return hit.sort_values(
                [by, "doc_id"], ascending=[ascending, True], kind="mergesort"
            ).head(n_local)[cols]

        local = self._scatter(
            self._scan_keys(spec), shard_sorted, out_schema, spec
        )
        order = F.asc(by) if ascending else F.desc(by)
        out = local.orderBy(order, F.asc("doc_id"))
        if offset:
            out = out.offset(offset)
        return out.limit(k)

    def export_matches(
        self,
        query: str,
        by: str,
        columns: tuple[str, ...] = (),
        ascending: bool = True,
        fields: list[str] | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """Solr `/export` handler analog: the ENTIRE match set,
        hydrated with stored columns and globally sorted by ``by`` —
        the bulk-extract contract (Solr streaming expressions /
        export) as opposed to ``sorted_matches``'s paged serving
        contract. Use this to feed a downstream pipeline (the
        training-data-extraction case); write the result with
        ``df.write.parquet(...)``.

        Scale shape: hydration stays SHARD-LOCAL — each shard worker
        masks its own doc-store partition (pyarrow, column-pruned,
        ``where`` pushed as parquet row-group filters) by its own
        match set and emits the full matched rows, so there is NO
        match-set join shuffle; the one unavoidable shuffle is the
        final global sort, which Spark runs as a range-partitioned
        distributed sort (sampled bounds, no single-reducer
        bottleneck). Contrast: ``sorted_matches`` truncates to a
        local top-(offset+k) per shard BEFORE the gather — right for
        serving a page, wrong for exporting everything.

        -> (doc_id, <by>, *columns), ordered (<by> asc/desc,
        doc_id asc), ALL matching rows."""
        flt = _parse_where(where) if where is not None else None
        spec = self.make_spec(query, fields)
        store_schema = {
            f.name: f.dataType for f in self._doc_store_schema().fields
        }
        for c in (by, *columns, *[c for c, _o, _v in flt or ()]):
            if c not in store_schema:
                raise ValueError(
                    f"column {c!r} is not in the doc store "
                    f"(has: {sorted(store_schema)})"
                )
        out_schema = T.StructType(
            [T.StructField("doc_id", T.LongType(), False)]
            + [T.StructField(c, store_schema[c], True) for c in (by, *columns)]
        )
        if not spec.term_weights:
            return _empty_df(self.spark, out_schema)
        idx_dir = self.index_dir
        cols = ["doc_id", by, *[c for c in columns if c != by]]

        def shard_export(shard: int, pg: pd.DataFrame, sp):
            ids = wand_mod.match_docs(pg, sp)
            if not ids.size:
                return None
            return _store_rows(idx_dir, shard, ids, cols, flt)[cols]

        local = self._scatter(
            self._scan_keys(spec), shard_export, out_schema, spec
        )
        order = F.asc(by) if ascending else F.desc(by)
        return local.orderBy(order, F.asc("doc_id"))

    def _doc_store_schema(self) -> T.StructType:
        """Doc-store schema, read once per engine (footer-only)."""
        if not hasattr(self, "_docs_schema"):
            self._docs_schema = self.spark.read.parquet(
                f"{self.index_dir}/docs"
            ).schema
        return self._docs_schema

    def get_docs(
        self,
        doc_ids,
        columns: tuple[str, ...] = (),
    ) -> DataFrame:
        """Real-time get (Solr ``/get``): stored fields of specific
        docs by id, no query, no scoring — the point-read serving
        primitive (fetch a doc to display/diff/patch). Plan shape:
        with the repo's dense layout (shard == doc_id //
        docs_per_shard, recorded in the manifest) the read is
        PARTITION-PRUNED to the ids' own shard directories plus a
        pushed doc_id IN-filter — O(requested docs), never a store
        scan. Ids absent from the index are simply absent from the
        result (Solr returns null docs; a DataFrame has no nulls to
        return). -> (doc_id, *stored columns), doc_id ascending."""
        ids = sorted({int(i) for i in doc_ids})
        schema = {f.name for f in self._doc_store_schema().fields}
        for c in columns:
            if c not in schema:
                raise ValueError(
                    f"column {c!r} is not in the doc store "
                    f"(has: {sorted(schema)})"
                )
        out = self.spark.read.parquet(f"{self.index_dir}/docs")
        if not ids:
            out = out.filter(F.lit(False))
        dps = int(self.manifest.get("docs_per_shard") or 0)
        if dps and ids:
            out = out.filter(
                F.col("shard").isin(sorted({i // dps for i in ids}))
            )
        out = out.filter(F.col("doc_id").isin(ids))
        if columns:
            out = out.select("doc_id", *columns)
        else:
            out = out.drop("shard")
        return out.orderBy("doc_id")

    def join_filter_topk(
        self,
        query: str,
        join_query: str,
        join_from: str,
        join_to: str,
        k: int = 10,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """Solr join qparser ``{!join from=<f> to=<t>}<join_query>``
        composed with a scored main query: rank ``query``'s matches
        restricted to docs whose ``join_to`` stored value appears
        among the ``join_from`` values of docs matching
        ``join_query`` — the cross-collection filter Solr serves for
        "docs related to docs that match X" (the reference's
        two-step marker->result pattern, GxdProfileMarkerIndexer:
        search markers, then fetch results keyed by them). Like
        Solr, the join contributes NO score; the main query ranks.

        Plan shape: the inner query resolves to its distinct
        ``join_from`` value set through the shard-local facet path
        (``facet_counts_stored`` machinery — only tiny per-shard
        value rows shuffle), the bounded set broadcasts as a pyarrow
        ``in`` filter, and the main query runs the filtered-retrieval
        worker plan (``_topk_filtered``): each shard masks its scored
        matches against its own doc-store partition. Join keys are
        low-cardinality stored attributes by contract (Solr's join
        performs the same way); a high-cardinality key belongs in
        ``export_matches`` + a Spark join instead.

        -> (doc_id, score) global top-k of the restricted set."""
        store_types = {
            f.name: f.dataType for f in self._doc_store_schema().fields
        }
        for c in (join_from, join_to):
            if c not in store_types:
                raise ValueError(
                    f"join column {c!r} is not in the doc store "
                    f"(has: {sorted(store_types)})"
                )
            if not isinstance(store_types[c], T.StringType):
                # the facet path (and Solr's own join) keys on strings
                raise ValueError(
                    f"join column {c!r} must be a string stored "
                    f"attribute (is {store_types[c].simpleString()})"
                )
        vals = [
            r[join_from]
            for r in self.facet_counts_stored(join_query, by=join_from)
            .select(join_from)
            .collect()
            if r[join_from] is not None
        ]
        spec = self.make_spec(query, fields)
        if not spec.term_weights or not vals:
            return _empty_df(self.spark, _HITS_SCHEMA)
        return self._topk_filtered(
            spec, k, [(join_to, "in", sorted(set(vals)))]
        )

    def explain_score(
        self,
        query: str,
        doc_id: int,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """Solr ``debugQuery=true`` / Lucene ``explain`` analog: the
        per-term decomposition of one document's BM25 score — for
        each matching (field, term): df, the idf*field-boost weight,
        the doc's tf and dl, and the resulting contribution. The sum
        of ``contribution`` IS the document's ``topk`` score
        (pytest-asserted to 1e-12) — every factor a relevance-tuning
        user needs to see why a doc ranked where it did.

        Plan shape: O(1) — the doc lives in exactly one shard (dense
        layout), so the pruned postings scan narrows to that single
        shard partition and the worker decodes only the query terms'
        lists. A doc that does not match (no scoring terms, or
        excluded by +must/-must_not clauses) explains to an EMPTY
        result, mirroring Lucene's non-match explanation.

        -> (field, term, df, weight, tf, dl, contribution), ordered
        by contribution desc."""
        spec = self.make_spec(query, fields)
        out_schema = T.StructType(
            [
                T.StructField("field", T.StringType(), False),
                T.StructField("term", T.StringType(), False),
                T.StructField("df", T.LongType(), False),
                T.StructField("weight", T.DoubleType(), False),
                T.StructField("tf", T.DoubleType(), False),
                T.StructField("dl", T.DoubleType(), False),
                T.StructField("contribution", T.DoubleType(), False),
            ]
        )
        if not spec.term_weights:
            return _empty_df(self.spark, out_schema)
        did = int(doc_id)
        dps = int(self.manifest.get("docs_per_shard") or 0)
        names = out_schema.fieldNames()

        def shard_explain(_shard: int, pg: pd.DataFrame, sp):
            # boolean membership first: an excluded doc explains empty
            ids, _scores = wand_mod.match_scores(pg, sp)
            if did not in ids:
                return None
            recs = []
            for r in pg.itertuples():
                k = (r.field, int(r.term_id))
                w = sp.term_weights.get(k, 0.0)
                if w <= 0.0:
                    continue
                docs, tfs, dls = codec_mod.posting_list_from_row(
                    str(r.term_id), r._asdict()
                ).decode_all()
                hit = np.nonzero(docs == did)[0]
                if not hit.size:
                    continue
                i = int(hit[0])
                tf, dl = float(tfs[i]), float(dls[i])
                contrib = w * float(
                    bm25.tf_norm(
                        np.array([tf]),
                        np.array([dl]),
                        sp.avgdl[r.field],
                        sp.k1,
                        sp.b,
                    )[0]
                )
                recs.append(
                    (
                        r.field,
                        sp.term_names.get(k, str(r.term_id)),
                        int(sp.term_dfs.get(k, 0)),
                        float(w),
                        tf,
                        dl,
                        contrib,
                    )
                )
            return pd.DataFrame(recs, columns=names) if recs else None

        # the doc lives in exactly one shard (dense layout)
        local = self._scatter(
            self._scan_keys(spec), shard_explain, out_schema, spec,
            shard=did // dps if dps else None,
        )
        return local.orderBy(F.desc("contribution"), F.asc("term"))

    def term_vectors(
        self,
        query: str,
        k: int = 10,
        field: str = "content",
        mode: str = "wand",
    ) -> DataFrame:
        """Solr TermVectorComponent (tv=true&tv.tf&tv.df): per-doc
        term statistics for the top-k hits — (doc_id, term, tf, df)
        with tf from the doc's own token stream and df the GLOBAL
        document frequency. Solr without stored term vectors
        re-analyzes the stored field for exactly this response; so do
        we, but distributed: the top-k ids resolve first (one normal
        scatter-gather), their stored text hydrates via the
        partition-pruned point read (``get_docs`` plan), an Arrow
        ``mapInPandas`` re-runs the field's OWN analyzer per doc, and
        df attaches from the dictionary through the same pruned
        IN-list lookup ``make_spec`` uses (driver cache or pushed
        scan — never a dictionary scan). Every stage is O(k docs),
        independent of corpus size.

        -> (doc_id, term, tf, df), ordered (doc_id asc, tf desc,
        term asc).

        The re-analysis itself runs DRIVER-side: the payload is k
        stored texts (a bounded point read — the same O(k) class as
        ``fetch_topk``'s hit collect), and the former distributed
        shape cost four extra driver-blocking jobs (mapInPandas
        materialize + checkpoint + distinct-collect + broadcast join)
        to tokenize a handful of documents. Solr's own handler
        re-analyzes server-side for exactly this response."""
        if field not in self.fields:
            raise ValueError(
                f"field {field!r} is not indexed (has: "
                f"{sorted(self.fields)})"
            )
        ids = [
            r["doc_id"] for r in self.topk(query, k=k, mode=mode).collect()
        ]
        out_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("term", T.StringType(), False),
                T.StructField("tf", T.LongType(), False),
                T.StructField("df", T.LongType(), True),
            ]
        )
        if not ids:
            return _empty_df(self.spark, out_schema)
        analyzer = self.fields[field]
        rows = self.get_docs(ids, columns=(field,)).collect()
        if not rows:
            return _empty_df(self.spark, out_schema)
        from collections import Counter

        toks = analyze.TOKENIZERS[analyzer](
            pd.Series([r[field] or "" for r in rows])
        )
        per_doc = [
            (int(r["doc_id"]), Counter(ts)) for r, ts in zip(rows, toks)
        ]
        terms = sorted({t for _d, c in per_doc for t in c})
        if not terms:
            return _empty_df(self.spark, out_schema)
        dfs = self._lookup_stats([(field, t) for t in terms])
        recs = [
            (doc, t, int(n), int(dfs.get((field, t), 0)))
            for doc, c in per_doc
            for t, n in c.items()
        ]
        pdf = pd.DataFrame(recs, columns=["doc_id", "term", "tf", "df"])
        return self.spark.createDataFrame(pdf, out_schema).orderBy(
            "doc_id", F.desc("tf"), F.asc("term")
        )

    def facet_counts(
        self,
        query: str,
        facets_df: DataFrame,
        by: str,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """Count matching docs grouped by a document attribute — the
        faceting primitive the reference materialized a whole clone
        index for (GxdResultHasImageIndexer.java:25-32; matrix group
        keys GxdResultIndexer.java:1242-1246).

        ``facets_df`` is (doc_id, <by>, ...). Plan shape: per-shard
        match sets (tiny: doc_id only) shuffle-join the attribute
        table on doc_id, then a partial+final count agg — the join key
        is the same dense doc_id both sides, so AQE handles skew; at
        cluster scale co-locate by writing facets_df bucketed on
        doc_id. -> (<by>, n_docs)."""
        m = self.matching_docs(query, fields)
        return (
            m.join(facets_df.select("doc_id", by), "doc_id")
            .groupBy(by)
            .agg(F.count("*").alias("n_docs"))
        )

    def facet_counts_stored(
        self,
        query: str,
        by: str,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """Facet counts with ZERO match-set shuffle: ``by`` is a column
        of the per-shard doc store, and shards partition docID space,
        so each shard function (``_scatter``) counts its own matches
        against a direct columnar read of ITS doc-store partition
        (pyarrow, column-pruned + partition-pruned by construction —
        the path is `docs/shard=<s>`), and per-shard counts simply SUM.
        The facet table never enters a Spark scan or exchange: the
        only shuffled rows are the query terms' postings (scatter) and
        <= shards x distinct-facet-values tiny count rows (gather) —
        the ``count_matches`` trick generalized per VERDICT r2 #5.

        The reference materialized a whole clone index to serve this
        count (GxdResultHasImageIndexer.java:25-32); here the doc store
        IS that materialization. On a cluster the doc store lives on
        the shared filesystem/object store, readable from any executor.
        Use ``facet_counts`` for facet tables NOT in the doc store.
        """
        spec = self.make_spec(query, fields)
        out_schema = T.StructType(
            [
                T.StructField(by, T.StringType(), True),
                T.StructField("n_docs", T.LongType(), False),
            ]
        )
        if not spec.term_weights:
            return _empty_df(self.spark, out_schema)
        idx_dir = self.index_dir

        def shard_facets(shard: int, pg: pd.DataFrame, sp):
            ids = wand_mod.match_docs(pg, sp)
            if not ids.size:
                return None
            hit = _store_rows(idx_dir, shard, ids, ["doc_id", by])
            vc = hit[by].astype(str).value_counts()
            return pd.DataFrame(
                {by: vc.index.to_numpy(), "n_docs": vc.to_numpy("int64")}
            )

        local = self._scatter(
            self._scan_keys(spec), shard_facets, out_schema, spec
        )
        return local.groupBy(by).agg(F.sum("n_docs").alias("n_docs"))

    def _grouped_gather(self, spec, by, k_groups, k_per_group, within):
        """Per-shard group heads for grouped retrieval: score every
        match (wand.match_scores), attach the group value from a
        column-pruned pyarrow read of the shard's OWN doc-store
        partition, keep each group's local top-``k_per_group`` docs,
        then only the local top-``k_groups`` groups by head score.
        ``within`` (optional frozenset) restricts to already-selected
        groups (pass 2). Emits <= k_groups x k_per_group tiny rows per
        shard."""
        schema = T.StructType(
            [
                T.StructField(by, T.StringType(), True),
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("score", T.DoubleType(), False),
            ]
        )
        idx_dir = self.index_dir

        def shard_groups(shard: int, pg: pd.DataFrame, sp):
            ids, scores = wand_mod.match_scores(pg, sp)
            if not ids.size:
                return None
            store = _store_rows(idx_dir, shard, ids, ["doc_id", by])
            grp = store.set_index("doc_id")[by].reindex(ids).to_numpy()
            hit = pd.DataFrame({by: grp, "doc_id": ids, "score": scores})
            hit = hit[hit[by].notna()]  # Solr-style: ungrouped docs drop
            if within is not None:
                hit = hit[hit[by].isin(within)]
            hit = hit.sort_values(
                ["score", "doc_id"], ascending=[False, True],
                kind="mergesort",
            )
            hit = hit.groupby(by, sort=False).head(k_per_group)
            # head score of each group = its first row post-sort
            heads = hit.drop_duplicates(by).head(k_groups)
            return hit[hit[by].isin(heads[by])][[by, "doc_id", "score"]]

        return self._scatter(self._scan_keys(spec), shard_groups, schema, spec)

    def grouped_topk(
        self,
        query: str,
        by: str,
        k_groups: int = 10,
        k_per_group: int = 1,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """Solr result grouping / field collapse (group=true &
        group.field=X & group.limit=N — the reference's consumers
        collapse GXD results per marker): the top ``k_groups`` groups
        ranked by each group's BEST doc score (ties: lower doc_id),
        and within each selected group the top ``k_per_group`` docs by
        (score desc, doc_id asc). Docs whose group value is NULL drop,
        as in Solr.

        -> (grp_rank, <by>, doc_id, score, rn) where grp_rank ranks
        the groups 1..k_groups and rn ranks docs inside the group.

        Plan shape: ``k_per_group == 1`` (pure collapse) is ONE
        scatter-gather — each shard emits its local top-``k_groups``
        per-group head rows (exact by the distributed-top-k argument
        applied to group heads: a group whose head is hidden behind
        k_groups better local heads cannot be a global top-k group),
        and the gather stage reduces <= shards x k_groups tiny rows.
        ``k_per_group > 1`` is Solr's own two-pass shape: pass 1
        selects the groups (collapse), pass 2 re-runs the scatter
        restricted to the <= k_groups selected values — a shard that
        holds a selected group's #2 doc but not its head would
        otherwise never emit it. The final windows run over
        <= k_groups x k_per_group rows (bounded; fine unpartitioned).
        """
        spec = self.make_spec(query, fields)
        out_schema = T.StructType(
            [
                T.StructField("grp_rank", T.IntegerType(), False),
                T.StructField(by, T.StringType(), True),
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("score", T.DoubleType(), False),
                T.StructField("rn", T.IntegerType(), False),
            ]
        )
        if not spec.term_weights:
            return _empty_df(self.spark, out_schema)
        if k_per_group == 1:
            local = self._grouped_gather(spec, by, k_groups, 1, None)
        else:
            # Solr's two-pass shape: pass 1 collapses to select the
            # group values (a bounded <= k_groups coordinator step,
            # exactly Solr's first grouping phase), pass 2 re-scatters
            # restricted to them so shards holding a selected group's
            # non-head docs emit them too.
            heads = (
                self._grouped_gather(spec, by, k_groups, 1, None)
                .withColumn(
                    "hr",
                    F.row_number().over(
                        Window.partitionBy(by).orderBy(
                            F.desc("score"), F.asc("doc_id")
                        )
                    ),
                )
                .filter(F.col("hr") == 1)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k_groups)
            )
            selected = frozenset(r[by] for r in heads.collect())
            if not selected:
                return _empty_df(self.spark, out_schema)
            local = self._grouped_gather(
                spec, by, k_groups, k_per_group, selected
            )
        # single DAG branch (ONE postings scan): doc ranks, then group
        # rank via dense_rank on the per-group head key — head values
        # are constant within a group and the head doc_id is globally
        # unique, so dense_rank numbers groups 1..G. All windows run
        # over <= shards x k_groups x k_per_group gathered rows
        # (bounded; fine unpartitioned, cf. fusion.py note).
        w_doc = Window.partitionBy(by).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        w_grp = Window.partitionBy(by)
        return (
            local.withColumn("rn", F.row_number().over(w_doc))
            .filter(F.col("rn") <= k_per_group)
            .withColumn("head_score", F.max("score").over(w_grp))
            .withColumn(
                "head_doc",
                F.min(
                    F.when(
                        F.col("score") == F.col("head_score"),
                        F.col("doc_id"),
                    )
                ).over(w_grp),
            )
            .withColumn(
                "grp_rank",
                F.dense_rank().over(
                    Window.orderBy(F.desc("head_score"), F.asc("head_doc"))
                ),
            )
            .filter(F.col("grp_rank") <= k_groups)
            .select("grp_rank", by, "doc_id", "score", "rn")
            .orderBy("grp_rank", "rn")
        )

    def facet_ranges_stored(
        self,
        query: str,
        by: str,
        start: int,
        end: int,
        gap: int,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """Solr facet.range over a NUMERIC stored doc-store column:
        counts of matching docs per fixed-width bucket
        [start + i*gap, start + (i+1)*gap) for buckets inside
        [start, end); out-of-range docs drop (Solr's default, no
        facet.range.other). Same zero-match-set-shuffle shape as
        ``facet_counts_stored``: each shard buckets its own matches
        against its own doc-store partition and only tiny
        (bucket, count) partials shuffle to the final SUM.

        -> (bucket_start long, n_docs), one row per non-empty bucket.
        """
        if gap <= 0:
            raise ValueError(
                f"facet.range gap must be positive (got {gap}) — a "
                "zero/negative gap would divide by zero in the bucket "
                "assignment"
            )
        if end <= start:
            raise ValueError(
                f"facet.range needs start < end (got start={start}, "
                f"end={end})"
            )
        spec = self.make_spec(query, fields)
        out_schema = T.StructType(
            [
                T.StructField("bucket_start", T.LongType(), False),
                T.StructField("n_docs", T.LongType(), False),
            ]
        )
        if not spec.term_weights:
            return _empty_df(self.spark, out_schema)
        idx_dir = self.index_dir

        def shard_ranges(shard: int, pg: pd.DataFrame, sp):
            ids = wand_mod.match_docs(pg, sp)
            if not ids.size:
                return None
            hit = _store_rows(idx_dir, shard, ids, ["doc_id", by])
            vals = hit[by].dropna().to_numpy()
            vals = vals[(vals >= start) & (vals < end)]
            if not vals.size:
                return None
            buckets = start + ((vals - start) // gap).astype("int64") * gap
            vc = pd.Series(buckets).value_counts()
            return pd.DataFrame(
                {
                    "bucket_start": vc.index.to_numpy("int64"),
                    "n_docs": vc.to_numpy("int64"),
                }
            )

        local = self._scatter(
            self._scan_keys(spec), shard_ranges, out_schema, spec
        )
        return local.groupBy("bucket_start").agg(
            F.sum("n_docs").alias("n_docs")
        )

    def facet_pivot_stored(
        self,
        query: str,
        by_a: str,
        by_b: str,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """Solr facet.pivot (two-level drill-down counts) over two
        stored doc-store columns: matching-doc counts per
        (a, b) value pair. Shard-local like the other stored facets —
        the only shuffled rows are <= shards x |a|x|b| tiny partial
        counts. Docs with NULL in either column drop (Solr pivots
        skip missing values). -> (<by_a>, <by_b>, n_docs)."""
        spec = self.make_spec(query, fields)
        out_schema = T.StructType(
            [
                T.StructField(by_a, T.StringType(), True),
                T.StructField(by_b, T.StringType(), True),
                T.StructField("n_docs", T.LongType(), False),
            ]
        )
        if not spec.term_weights:
            return _empty_df(self.spark, out_schema)
        idx_dir = self.index_dir

        def shard_pivot(shard: int, pg: pd.DataFrame, sp):
            ids = wand_mod.match_docs(pg, sp)
            if not ids.size:
                return None
            hit = _store_rows(idx_dir, shard, ids, ["doc_id", by_a, by_b])
            hit = hit.dropna(subset=[by_a, by_b])
            if not len(hit):
                return None
            vc = (
                hit.groupby([by_a, by_b], sort=False)
                .size()
                .reset_index(name="n_docs")
            )
            vc[by_a] = vc[by_a].astype(str)
            vc[by_b] = vc[by_b].astype(str)
            return vc

        local = self._scatter(
            self._scan_keys(spec), shard_pivot, out_schema, spec
        )
        return local.groupBy(by_a, by_b).agg(
            F.sum("n_docs").alias("n_docs")
        )

    def facet_stats_stored(
        self,
        query: str,
        on: str,
        by: str | None = None,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """Solr StatsComponent (stats=true&stats.field=<on>) over a
        NUMERIC stored doc-store column, optionally grouped by a
        second stored column (stats.facet): count / missing / min /
        max / sum / mean / sample-stddev of ``on`` across the match
        set. The reference serves these rollups by re-querying Solr
        per facet value (GxdResultIndexer.java matrix counts); here
        one scatter-gather answers all of them.

        Scale shape — the moment-sketch pattern: each shard worker
        reduces ITS matches x ITS doc-store partition to one
        (n, missing, sum, sumsq, min, max) partial per group, so the
        gather shuffle carries <= shards x |groups| tiny rows no
        matter how large the match set; mean/stddev derive from the
        merged moments JVM-side (stddev via the sum-of-squares
        identity, clamped at 0 against fp cancellation — fine here
        because values span ~4 decimal digits, losing <2 of the ~16
        double digits).

        -> ([<by>,] n_docs, n_missing, min, max, sum, mean, stddev);
        one row per group (or one row total). n_docs counts matches
        with ``on`` NON-null; n_missing the rest (Solr's split).
        Groups with a NULL ``by`` value drop (Solr facets skip
        missing); mean/stddev are NULL when n_docs is 0 / < 2.
        """
        spec = self.make_spec(query, fields)
        gcols = [by] if by else []
        out_fields = [T.StructField(by, T.StringType(), True)] if by else []
        out_schema = T.StructType(
            out_fields
            + [
                T.StructField("n_docs", T.LongType(), False),
                T.StructField("n_missing", T.LongType(), False),
                T.StructField("min", T.DoubleType(), True),
                T.StructField("max", T.DoubleType(), True),
                T.StructField("sum", T.DoubleType(), True),
                T.StructField("mean", T.DoubleType(), True),
                T.StructField("stddev", T.DoubleType(), True),
            ]
        )
        if not spec.term_weights:
            return _empty_df(self.spark, out_schema)
        part_schema = T.StructType(
            out_fields
            + [
                T.StructField("n", T.LongType(), False),
                T.StructField("missing", T.LongType(), False),
                T.StructField("vsum", T.DoubleType(), True),
                T.StructField("vsumsq", T.DoubleType(), True),
                T.StructField("vmin", T.DoubleType(), True),
                T.StructField("vmax", T.DoubleType(), True),
            ]
        )
        idx_dir = self.index_dir

        def shard_stats(shard: int, pg: pd.DataFrame, sp):
            ids = wand_mod.match_docs(pg, sp)
            if not ids.size:
                return None
            hit = _store_rows(idx_dir, shard, ids, ["doc_id", on, *gcols])
            if by:
                hit = hit[hit[by].notna()]
            if not len(hit):
                return None

            def partial(g: pd.DataFrame) -> pd.Series:
                v = g[on].dropna().astype("float64")
                return pd.Series(
                    {
                        "n": len(v),
                        "missing": len(g) - len(v),
                        "vsum": v.sum() if len(v) else np.nan,
                        "vsumsq": (v * v).sum() if len(v) else np.nan,
                        "vmin": v.min() if len(v) else np.nan,
                        "vmax": v.max() if len(v) else np.nan,
                    }
                )

            if by:
                hit = hit.assign(**{by: hit[by].astype(str)})
                out = (
                    hit.groupby(by, sort=False)
                    .apply(partial, include_groups=False)
                    .reset_index()
                )
            else:
                out = partial(hit).to_frame().T
            # NaN float cells cross Arrow as nulls, which the JVM-side
            # min/sum aggs then ignore — exactly the merge we want
            return out.astype(
                {
                    "n": "int64",
                    "missing": "int64",
                    "vsum": "float64",
                    "vsumsq": "float64",
                    "vmin": "float64",
                    "vmax": "float64",
                }
            )

        local = self._scatter(
            self._scan_keys(spec), shard_stats, part_schema, spec
        )
        merged = local.groupBy(*gcols).agg(
            F.sum("n").alias("n_docs"),
            F.sum("missing").alias("n_missing"),
            F.min("vmin").alias("min"),
            F.max("vmax").alias("max"),
            F.sum("vsum").alias("sum"),
            F.sum("vsumsq").alias("sumsq"),
        )
        n, s, sq = F.col("n_docs"), F.col("sum"), F.col("sumsq")
        mean = F.when(n > 0, s / n)
        var = F.greatest(F.lit(0.0), (sq - s * s / n) / (n - 1))
        return merged.select(
            *gcols,
            "n_docs",
            "n_missing",
            "min",
            "max",
            "sum",
            mean.alias("mean"),
            F.when(n >= 2, F.sqrt(var)).alias("stddev"),
        )

    def facet_percentiles_stored(
        self,
        query: str,
        on: str,
        qs: tuple[float, ...] = (0.5, 0.9, 0.99),
        fields: list[str] | None = None,
    ) -> DataFrame:
        """Solr stats.percentiles over a stored numeric column —
        EXACT, not t-digest, via a distributed value histogram: each
        shard worker reduces its matches x its doc-store partition to
        (value, count) partials, the tiny merged histogram cumsums
        JVM-side, and percentile q = the smallest value whose
        cumulative count reaches ceil(q * n) (the discrete
        lower-nearest definition, deterministic — no interpolation).

        Exactness costs |distinct values| shuffled rows, so this is
        the right tool for low-cardinality numerics (lengths, ranks,
        years, scores-in-buckets — the doc-store rank columns this
        engine stores). For high-cardinality doubles use Spark's
        approx_percentile over ``export_matches`` instead; Solr's own
        stats.percentiles is approximate (t-digest) there too.

        -> (q double, value double), one row per requested quantile;
        NULL values drop (they hold no rank). Empty match set ->
        empty result."""
        for q in qs:
            if not 0.0 < q <= 1.0:
                raise ValueError(f"quantile {q} outside (0, 1]")
        spec = self.make_spec(query, fields)
        out_schema = T.StructType(
            [
                T.StructField("q", T.DoubleType(), False),
                T.StructField("value", T.DoubleType(), True),
            ]
        )
        if not spec.term_weights:
            return _empty_df(self.spark, out_schema)
        part_schema = T.StructType(
            [
                T.StructField("v", T.DoubleType(), False),
                T.StructField("c", T.LongType(), False),
            ]
        )
        idx_dir = self.index_dir

        def shard_hist(shard: int, pg: pd.DataFrame, sp):
            ids = wand_mod.match_docs(pg, sp)
            if not ids.size:
                return None
            hit = _store_rows(idx_dir, shard, ids, ["doc_id", on])
            vals = hit[on].dropna()
            vc = vals.astype("float64").value_counts()
            return pd.DataFrame(
                {"v": vc.index.to_numpy("float64"),
                 "c": vc.to_numpy("int64")}
            )

        hist = (
            self._scatter(self._scan_keys(spec), shard_hist, part_schema, spec)
            .groupBy("v")
            .agg(F.sum("c").alias("c"))
        )
        # |distinct| tiny rows: a single-partition cumsum window is
        # deliberate here, not a scale bug (like the fusion windows)
        w = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = hist.select(
            "v",
            F.sum("c").over(w).alias("cum"),
            F.sum("c").over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n"),
        )
        qdf = self.spark.createDataFrame(
            pd.DataFrame({"q": list(qs)}), schema="q double"
        )
        return (
            qdf.crossJoin(cum)
            .where(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
            .groupBy("q")
            .agg(F.min("v").alias("value"))
        )

    def highlight_topk(
        self,
        query: str,
        k: int = 10,
        field: str = "content",
        window: int = 16,
        mode: str = "wand",
        render: bool = False,
    ) -> DataFrame:
        """Top-k + best highlight window per hit — the Solr `hl=true`
        analog the reference's front-end relies on, served from the
        positional index (no stored-text scan): for each hit, the
        ``window``-token span containing the most query-term
        occurrences (earliest on ties).
        -> (doc_id, score, start_pos, end_pos, n_hits).

        ONE scatter-gather (r5: previously top-k collected first, then
        a second postings pass computed windows — two sequential jobs):
        each shard worker scores its LOCAL top-k (rank-identical to
        ``topk``) and computes the windows for those k candidates in
        the same pass — the positional postings are already in hand,
        and speculative windows for shards x k candidates cost
        microseconds next to the scan they piggyback on; the global
        orderBy/limit then keeps the true top-k. A hit none of whose
        ANALYZED query tokens occurs literally (possible only for
        pure wildcard/fuzzy rewrites whose base token is not itself a
        dictionary term) has no span and is omitted BEFORE the global
        limit — for such non-literal rewrites a lower-ranked
        with-span doc can therefore fill the freed slot, so the
        result is ``topk``'s ranking over the docs that HAVE a
        literal-token span, not always a subset of ``topk(k)``
        (ADVICE r5). For queries whose tokens are literal dictionary
        terms (every term scores via its own postings), ranking is
        exactly ``topk``'s. ``render=True`` additionally
        attaches the window's actual text slice (``snippet`` column)
        via a pruned doc-store point lookup — see
        ``_render_snippets``."""
        if not self.manifest.get("with_positions"):
            raise ValueError(
                "index was built without positions "
                "(IndexBuilder(with_positions=True))"
            )
        out_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("score", T.DoubleType(), False),
                T.StructField("start_pos", T.IntegerType(), False),
                T.StructField("end_pos", T.IntegerType(), False),
                T.StructField("n_hits", T.IntegerType(), False),
            ]
        )
        spec = self.make_spec(query, fields=[field])
        if not spec.term_weights:
            return _empty_df(self.spark, out_schema)
        terms = analyze.tokenize_query(query, self.fields[field])
        tids = [self._tid(t) for t in terms]
        prunable = self.blockmax_safe and not spec.is_boolean
        shard_auto = mode == "auto" and prunable
        use_wand = mode == "wand" and prunable
        dtypes = {
            "doc_id": "int64",
            "score": "float64",
            "start_pos": "int32",
            "end_pos": "int32",
            "n_hits": "int32",
        }

        def shard_hl(_shard: int, pg: pd.DataFrame, sp):
            use = _wand_pays(_present_keys(pg), sp) if shard_auto else use_wand
            fn = wand_mod.wand if use else wand_mod.taat
            ids, scores = fn(pg, sp, k)
            if not ids.size:
                return None
            rows = wand_mod.best_window_shard(pg, tids, field, ids, window)
            if not rows:
                return None
            sc = dict(zip(ids.tolist(), scores.tolist()))
            df = pd.DataFrame(
                rows, columns=["doc_id", "start_pos", "end_pos", "n_hits"]
            )
            df["score"] = df["doc_id"].map(sc)
            return df[list(dtypes)].astype(dtypes)

        local = self._scatter(
            self._scan_keys(spec), shard_hl, out_schema, spec
        )
        out = local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if not render:
            return out
        return self._render_snippets(out, field)

    def _render_snippets(self, hl: DataFrame, field: str) -> DataFrame:
        """Attach the actual text slice for each highlight window — the
        Solr `hl` snippet payload. The k hit ids are known once the
        window frame collects (k rows on the driver), so the stored
        text comes from the SAME partition-pruned doc-store point
        lookup as ``fetch_topk``; token-position -> char-span mapping
        is ``analyze.token_char_spans`` (k documents re-scanned by one
        regex each, driver-side — microseconds against the retrieval
        job). -> input columns + ``snippet``."""
        rows = hl.collect()
        out_schema = T.StructType(
            list(hl.schema.fields)
            + [T.StructField("snippet", T.StringType(), True)]
        )
        if not rows:
            return _empty_df(self.spark, out_schema)
        tokenizer = self.fields[field]
        dps = int(self.manifest.get("docs_per_shard") or 1)
        ids = [int(r["doc_id"]) for r in rows]
        shards = sorted({i // dps for i in ids})
        texts = {
            int(r["doc_id"]): r[field] or ""
            for r in self.spark.read.parquet(f"{self.index_dir}/docs")
            .filter(
                F.col("shard").isin(shards) & F.col("doc_id").isin(ids)
            )
            .select("doc_id", field)
            .collect()
        }
        recs = []
        for r in rows:
            text = texts.get(int(r["doc_id"]), "")
            spans = analyze.token_char_spans(text, tokenizer)
            s, e = int(r["start_pos"]), int(r["end_pos"])
            snip = (
                text[spans[s][0]:spans[e][1]]
                if s < len(spans) and e < len(spans)
                else None
            )
            recs.append({**r.asDict(), "snippet": snip})
        return self.spark.createDataFrame(
            pd.DataFrame(recs, columns=[f.name for f in out_schema.fields]),
            out_schema,
        )

    def count_matches(
        self, query: str, fields: list[str] | None = None
    ) -> DataFrame:
        """Number of distinct docs matching the query (OR over scoring
        terms, boolean clauses applied) — the facet-count primitive
        whose slowness in the reference motivated a whole materialized
        index (GxdResultHasImageIndexer.java:25-32). Shards partition
        docID space, so the global distinct is the SUM of per-shard
        distinct counts — no distinct shuffle."""
        spec = self.make_spec(query, fields)
        out_schema = T.StructType(
            [T.StructField("n_matches", T.LongType(), False)]
        )
        if not spec.term_weights:
            return _local_df(
                self.spark, pd.DataFrame({"n_matches": [0]}), out_schema
            )

        def shard_count(_shard: int, pg: pd.DataFrame, sp) -> pd.DataFrame:
            ids = wand_mod.match_docs(pg, sp)
            return pd.DataFrame({"n_matches": [int(ids.size)]})

        local = self._scatter(
            self._scan_keys(spec), shard_count, out_schema, spec
        )
        return local.agg(
            F.coalesce(F.sum("n_matches"), F.lit(0)).alias("n_matches")
        )


def brute_force_bm25_df(
    docs: DataFrame,
    query: str,
    k: int = 10,
    tokenizer: str = "simple",
    text_col: str = "content",
    id_col: str = "doc_id",
    k1: float = bm25.K1,
    b: float = bm25.B,
) -> DataFrame:
    """Index-free BM25 top-k as a plain Catalyst plan (SURVEY.md §7
    step 3): tokenize -> explode -> tf/df/dl aggregates -> score -> topk.
    Single-field, unweighted — the SQL-expressible baseline the DuckDB
    oracle checks, and the cross-check for the index engine.

    Entirely built-in functions (JVM-side); only the tokenizer regex
    runs in `F.regexp_*`, no Python at all.
    """
    q_terms = analyze.tokenize_query(query, tokenizer)
    if not q_terms:
        return _empty_df(docs.sparkSession, _HITS_SCHEMA)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]+"),
                lambda x: x != "",
            )
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qdf = tf.filter(F.col("term").isin(q_terms))
    dfs = qdf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        qdf.join(F.broadcast(dfs), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * (
                F.col("tf")
                / (
                    F.col("tf")
                    + k1
                    * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
