"""Seeded inputs: corpus, query mix and mutation script.

Everything here is a pure function of ``(workload, seed)``; the engine
only ever sees the generated rows, query strings and mutation payloads.

Corpus shape is the engine's ``(repo, path, commit, lang, content)``.
Content is a Zipf-skewed draw over a generated head vocabulary (plain
lowercase words; the first few are stopword-like) mixed with a long
tail of camelCase / snake_case identifiers whose count grows with the
corpus, as identifiers do in real code. Each camelCase identifier
also contributes its word parts (syllable, syllable+number) as terms,
which gives the mid-df band the selective queries draw from.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

SYLLABLES = (
    "ka ve ro mi tu sal per dor fin gal hex lum nor pix qua ren sto "
    "tri vel wen zor bal cid dun fex gor hul jin kor lor mev nix "
    "oto pra rux sen tav ulm vix yor zen"
).split()
LANGS = ("py", "java", "go", "rs", "js", "cpp")
LANG_P = (0.35, 0.2, 0.15, 0.1, 0.12, 0.08)


HEAD_WORDS = 2000
DOC_WORDS = (30, 90)  # head words per doc, inclusive range


@dataclass(frozen=True)
class Sizes:
    n_docs: int
    docs_per_shard: int
    tail_per_doc: int  # identifiers drawn per doc
    tail_new_p: float  # chance an identifier is new (vocab growth)


@dataclass
class Query:
    """One generated request. ``clauses`` is the structured form the
    oracle evaluates; ``text`` is what the engine parses."""

    qtype: str  # bm25 boolean wildcard fuzzy phrase filtered facet ...
    qclass: str  # selective | broad
    text: str
    clauses: list = field(default_factory=list)  # (kind, raw, wild, edits)
    k: int = 10


def _head_vocab(rng: np.random.Generator, n: int) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = 1 if len(out) < 12 else int(rng.integers(2, 4))
        w = "".join(rng.choice(SYLLABLES, size=k))
        if w not in seen and len(w) >= 2:
            seen.add(w)
            out.append(w)
    return out


def _zipf_p(n: int, s: float = 1.05) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class CorpusGen:
    """Stateful generator so appended batches keep growing the same
    identifier pool (new docs bring new vocabulary)."""

    def __init__(self, seed: int, sizes: Sizes, tag: str):
        self.rng = np.random.default_rng([seed, sum(map(ord, tag))])
        self.sizes = sizes
        self.head = _head_vocab(self.rng, HEAD_WORDS)
        self.head_cdf = np.cumsum(_zipf_p(len(self.head)))
        self.head_arr = np.array(self.head, dtype=object)
        self.idents: list[str] = []
        self.modules = self.head[12:32]
        self.next_file = 0

    def _ident(self) -> str:
        r = self.rng
        if self.idents and r.random() >= self.sizes.tail_new_p:
            # reuse skews toward recent identifiers (locality)
            j = len(self.idents) - 1 - int(r.zipf(1.6)) % len(self.idents)
            return self.idents[j]
        if r.random() < 0.75:
            a, b = r.choice(SYLLABLES, size=2)
            ident = f"{a}{b.capitalize()}{int(r.integers(0, 1000))}"
        else:
            a, b = r.choice(self.head[12:400], size=2)
            ident = f"{a}_{b}_{int(r.integers(0, 100))}"
        self.idents.append(ident)
        return ident

    def _content(self) -> str:
        r = self.rng
        n = int(r.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
        u = r.random(n) * self.head_cdf[-1]
        words = list(self.head_arr[np.searchsorted(self.head_cdf, u)])
        for _ in range(self.sizes.tail_per_doc):
            words.insert(int(r.integers(0, len(words) + 1)), self._ident())
        lines = [
            " ".join(words[i : i + 9]) for i in range(0, len(words), 9)
        ]
        return "\n".join(lines)

    def docs(self, n: int) -> pd.DataFrame:
        r = self.rng
        rows = []
        for _ in range(n):
            i = self.next_file
            self.next_file += 1
            lang = str(r.choice(LANGS, p=LANG_P))
            mod = str(r.choice(self.modules))
            a, b = r.choice(self.head[12:200], size=2)
            rows.append(
                (
                    f"org{int(r.integers(0, 3))}/repo{int(r.integers(0, 12)):02d}",
                    f"src/{mod}/{a}_{b}_{i:05d}.{lang}",
                    hashlib.sha1(f"{i}:{r.random()}".encode()).hexdigest(),
                    lang,
                    self._content(),
                )
            )
        return pd.DataFrame(
            rows, columns=["repo", "path", "commit", "lang", "content"]
        )


def assign_ids(corpus: pd.DataFrame, docs_per_shard: int) -> pd.DataFrame:
    """The doc_id/shard layout ``prepare_docs`` promises: dense ids over
    the (repo, path, commit) order. Used to key the oracle and checked
    against the engine's own assignment."""
    out = corpus.sort_values(["repo", "path", "commit"], kind="mergesort")
    out = out.reset_index(drop=True)
    out["doc_id"] = np.arange(len(out), dtype=np.int64)
    out["shard"] = (out["doc_id"] // docs_per_shard).astype("int32")
    return out


def with_store_cols(
    batch: pd.DataFrame, first_id: int, docs_per_shard: int
) -> pd.DataFrame:
    """Delta rows in doc-store shape for an append commit."""
    out = batch.reset_index(drop=True).copy()
    out["doc_id"] = np.arange(first_id, first_id + len(out), dtype=np.int64)
    out["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in out["content"]
    ]
    out["shard"] = (out["doc_id"] // docs_per_shard).astype("int32")
    return out


# ------------------------------------------------------------ queries

# One cycle of the query mix in a fixed interleaved order: 14
# selective and 6 broad slots (70 % / 30 %). Every seed sends the same
# sequence of types; the seed picks the terms.
S, B = "selective", "broad"
CYCLE = (
    ("bm25", S), ("phrase", S), ("boolean", S), ("bm25", B),
    ("filtered", S), ("facet", S), ("sorted", S), ("wildcard", B),
    ("bm25", S), ("phrase", S), ("fuzzy", B), ("boolean", S),
    ("filtered", S), ("export", B), ("facet", S), ("sorted", S),
    ("grouped", B), ("bm25", S), ("phrase", S), ("highlight", B),
)
QUERY_TYPES = (
    "bm25", "boolean", "wildcard", "fuzzy", "phrase", "filtered",
    "facet", "sorted", "export", "grouped", "highlight",
)


def _plain(t: str) -> bool:
    return t.isalpha() and t.islower()


class QueryGen:
    """Draws the query mix from the oracle's content statistics, so
    each class lands in its df band on any seed."""

    def __init__(self, seed: int, oracle, head: list[str]):
        self.rng = np.random.default_rng([seed, 7])
        n = oracle.n_docs("content")
        dfs = oracle.content_dfs()
        plain = {t: d for t, d in dfs.items() if _plain(t)}
        self.rare = sorted(t for t, d in dfs.items() if 2 <= d <= max(4, n // 100))
        self.mid = sorted(
            t for t, d in plain.items() if n // 100 < d <= n // 12
        )
        self.wide = sorted(t for t, d in plain.items() if n // 6 <= d <= n // 2)
        self.stop = [t for t in head[:12] if plain.get(t, 0) > n // 2]
        self.fuzzy_base = sorted(
            t for t, d in plain.items() if d > n // 20 and len(t) >= 5
        )
        self.docs_tokens = dict(oracle.content_tokens)
        self.doc_ids = sorted(self.docs_tokens)
        for name in ("rare", "mid", "wide", "stop", "fuzzy_base"):
            if len(getattr(self, name)) < 3:
                raise ValueError(f"corpus too small for the {name} band")

    def _pick(self, pool: list[str], k: int = 1) -> list[str]:
        idx = self.rng.choice(len(pool), size=k, replace=False)
        return [pool[i] for i in idx]

    def _phrase(self) -> str:
        for _ in range(200):
            toks = self.docs_tokens[
                self.doc_ids[int(self.rng.integers(len(self.doc_ids)))]
            ]
            i = int(self.rng.integers(0, len(toks) - 1))
            a, b = toks[i], toks[i + 1]
            if _plain(a) and _plain(b) and a != b and (
                a in self.mid or b in self.mid or a in self.rare
            ):
                return f"{a} {b}"
        raise ValueError("no selective phrase found")

    def one(self, qtype: str, qclass: str) -> Query:
        P = self._pick
        should = lambda *ts: [("should", t, "", 0) for t in ts]  # noqa: E731
        if qtype == "bm25" and qclass == "selective":
            ts = P(self.mid) + P(self.rare)
            return Query(qtype, qclass, " ".join(ts), should(*ts))
        if qtype == "bm25":
            ts = P(self.stop, 2)
            return Query(qtype, qclass, " ".join(ts), should(*ts))
        if qtype == "boolean":
            m, m2 = P(self.mid, 2)
            r = P(self.rare)[0]
            cl = [("must", m, "", 0), ("should", r, "", 0), ("must_not", m2, "", 0)]
            return Query(qtype, qclass, f"+{m} {r} -{m2}", cl)
        if qtype == "phrase":
            return Query(qtype, qclass, self._phrase())
        if qtype == "filtered":
            ts = P(self.mid, 2)
            return Query(qtype, qclass, " ".join(ts), should(*ts))
        if qtype in ("facet", "sorted"):
            ts = P(self.mid) + P(self.rare)
            return Query(qtype, qclass, " ".join(ts), should(*ts))
        if qtype == "wildcard":
            pre = str(self.rng.choice(SYLLABLES))
            return Query(qtype, qclass, f"{pre}*", [("should", pre, "prefix", 0)])
        if qtype == "fuzzy":
            t = P(self.fuzzy_base)[0]
            return Query(qtype, qclass, f"{t}~1", [("should", t, "", 1)])
        if qtype == "export":
            ts = P(self.wide)
            return Query(qtype, qclass, ts[0], should(*ts))
        if qtype in ("grouped", "highlight"):
            ts = P(self.stop) + P(self.mid)
            return Query(qtype, qclass, " ".join(ts), should(*ts), k=5)
        raise ValueError(qtype)

    def mix(self, classes=("selective", "broad")):
        """Endless query stream cycling through CYCLE (restricted to
        ``classes``)."""
        cycle = [(t, c) for t, c in CYCLE if c in classes]
        while True:
            for t, c in cycle:
                yield self.one(t, c)

    def battery(self) -> list[Query]:
        """One query of every (type, class) in CYCLE (traced runs)."""
        return [self.one(t, c) for t, c in dict.fromkeys(CYCLE)]
