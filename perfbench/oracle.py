"""Brute-force BM25 oracle over the generated corpus.

Independent of the index: it tokenizes the raw rows itself (the
analyzer contract documented in ``gxdindexer_spark/functions/analyze.py``,
restated here), keeps plain per-field term -> {doc: tf} maps, and
scores with the Lucene BM25 formulas (k1=1.2, b=0.75) and the field
boost ladder (lang 2.25, path 1.5, content 1.0). It supports add and
remove of single documents so the mutate workload can follow each
commit.
"""

from __future__ import annotations

import math
import re

K1, B = 1.2, 0.75
WEIGHTS = {"lang": 2.25, "path": 1.5, "content": 1.0}
MAX_EXPANSIONS = 1024

RAW = re.compile(r"[A-Za-z0-9_]+")
SUB = re.compile(r"[A-Z]+(?![a-z])|[A-Z][a-z0-9]*|[a-z0-9]+")
PATH_SEP = re.compile(r"[/.\-_]+")


def _code(text: str) -> tuple[list[tuple[str, int]], int]:
    """-> ([(term, position)], dl): originals then word parts, parts
    sharing their original's position; dl counts originals."""
    raw = RAW.findall(text)
    out = [(t.lower(), i) for i, t in enumerate(raw)]
    for i, t in enumerate(raw):
        ps = SUB.findall(t)
        if len(ps) > 1:
            out.extend((p.lower(), i) for p in ps)
    return out, len(raw)


def analyze(text: str, field: str) -> tuple[list[tuple[str, int]], int]:
    if field == "lang":
        s = text.lower().strip()
        return ([(s, 0)], 1) if s else ([], 0)
    if field == "path":
        text = PATH_SEP.sub(" ", text)
    return _code(text)


def query_tokens(raw: str, field: str) -> list[str]:
    return list(dict.fromkeys(t for t, _ in analyze(raw, field)[0]))


def dl_distance(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein distance."""
    da: dict[str, int] = {}
    inf = len(a) + len(b)
    d = [[inf] * (len(b) + 2) for _ in range(len(a) + 2)]
    for i in range(len(a) + 1):
        d[i + 1][0], d[i + 1][1] = inf, i
    for j in range(len(b) + 1):
        d[0][j + 1], d[1][j + 1] = inf, j
    for i in range(1, len(a) + 1):
        db = 0
        for j in range(1, len(b) + 1):
            i1, j1 = da.get(b[j - 1], 0), db
            cost = 0 if a[i - 1] == b[j - 1] else 1
            if cost == 0:
                db = j
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1),
            )
        da[a[i - 1]] = i
    return d[len(a) + 1][len(b) + 1]


class Oracle:
    FIELDS = ("content", "path", "lang")

    def __init__(self):
        self.docs: dict[int, dict] = {}
        self.post: dict[str, dict[str, dict[int, int]]] = {
            f: {} for f in self.FIELDS
        }
        self.dl: dict[str, dict[int, int]] = {f: {} for f in self.FIELDS}
        self.pos: dict[int, dict[str, list[int]]] = {}  # content positions
        self.content_tokens: dict[int, list[str]] = {}

    # ------------------------------------------------------ maintenance

    def add(self, doc_id: int, row: dict) -> None:
        self.docs[doc_id] = dict(row)
        for f in self.FIELDS:
            toks, dl = analyze(row[f] or "", f)
            if dl:
                self.dl[f][doc_id] = dl
            tf: dict[str, int] = {}
            for t, _p in toks:
                tf[t] = tf.get(t, 0) + 1
            for t, n in tf.items():
                self.post[f].setdefault(t, {})[doc_id] = n
            if f == "content":
                pos: dict[str, list[int]] = {}
                for t, p in toks:
                    pos.setdefault(t, []).append(p)
                self.pos[doc_id] = {t: sorted(v) for t, v in pos.items()}
                self.content_tokens[doc_id] = [
                    t.lower() for t in RAW.findall(row[f] or "")
                ]

    def remove(self, doc_id: int) -> None:
        row = self.docs.pop(doc_id)
        for f in self.FIELDS:
            self.dl[f].pop(doc_id, None)
            for t, _p in analyze(row[f] or "", f)[0]:
                pl = self.post[f].get(t)
                if pl is not None:
                    pl.pop(doc_id, None)
                    if not pl:
                        del self.post[f][t]
        self.pos.pop(doc_id, None)
        self.content_tokens.pop(doc_id, None)

    def update(self, doc_id: int, changes: dict) -> None:
        row = {**self.docs[doc_id], **changes}
        self.remove(doc_id)
        self.add(doc_id, row)

    # ----------------------------------------------------------- stats

    def n_docs(self, f: str) -> int:
        return len(self.dl[f])

    def avgdl(self, f: str) -> float:
        return sum(self.dl[f].values()) / max(len(self.dl[f]), 1)

    def content_dfs(self) -> dict[str, int]:
        return {t: len(p) for t, p in self.post["content"].items()}

    def idf(self, f: str, df: int) -> float:
        n = self.n_docs(f)
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    # --------------------------------------------------------- queries

    def _expand(self, f: str, raw: str, wild: str, edits: int) -> list[str]:
        toks = query_tokens(raw, f)
        if not wild and not edits:
            return toks
        base = toks[0] if toks else raw.lower()
        if wild == "prefix":
            cands = [t for t in self.post[f] if t.startswith(base)]
        else:
            cands = [
                t
                for t in self.post[f]
                if abs(len(t) - len(base)) <= edits
                and dl_distance(base, t) <= edits
            ]
        cands.sort(key=lambda t: (-len(self.post[f][t]), t))
        return sorted(cands[:MAX_EXPANSIONS])

    def plan(self, clauses, fields=FIELDS):
        """-> (scoring pairs, must groups, must_not pairs); pairs are
        (field, term) present in the corpus."""
        scoring: set = set()
        must: list[set] = []
        must_not: set = set()
        for kind, raw, wild, edits in clauses:
            group = {
                (f, t)
                for f in fields
                for t in self._expand(f, raw, wild, edits)
            }
            if kind == "must_not":
                must_not |= group
                continue
            scoring |= {p for p in group if p[1] in self.post[p[0]]}
            if kind == "must":
                must.append(group)
        return scoring, must, must_not

    def _has(self, doc: int, pairs) -> bool:
        return any(doc in self.post[f].get(t, ()) for f, t in pairs)

    def scores(self, clauses, fields=FIELDS) -> dict[int, float]:
        """All matching docs -> BM25 score."""
        scoring, must, must_not = self.plan(clauses, fields)
        out: dict[int, float] = {}
        for f, t in sorted(scoring):
            pl = self.post[f][t]
            w = WEIGHTS[f] * self.idf(f, len(pl))
            avg = self.avgdl(f)
            for d, tf in pl.items():
                dl = self.dl[f][d]
                out[d] = out.get(d, 0.0) + w * tf / (
                    tf + K1 * (1 - B + B * dl / avg)
                )
        return {
            d: s
            for d, s in out.items()
            if all(self._has(d, g) for g in must)
            and not self._has(d, must_not)
        }

    @staticmethod
    def top(scores: dict[int, float], k: int) -> list[tuple[int, float]]:
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def phrase(self, text: str) -> dict[int, float]:
        """Exact (slop 0) phrase matches -> PhraseQuery score."""
        terms = [t for t, _ in analyze(text, "content")[0]]
        post = self.post["content"]
        if not terms or any(t not in post for t in terms):
            return {}
        idf_sum = WEIGHTS["content"] * sum(
            self.idf("content", len(post[t])) for t in dict.fromkeys(terms)
        )
        cands = set(post[terms[0]])
        for t in terms[1:]:
            cands &= set(post[t])
        avg = self.avgdl("content")
        out = {}
        for d in cands:
            p0 = self.pos[d][terms[0]]
            rest = [set(self.pos[d][t]) for t in terms[1:]]
            pf = sum(
                1
                for p in p0
                if all(p + i + 1 in s for i, s in enumerate(rest))
            )
            if pf:
                dl = self.dl["content"][d]
                out[d] = idf_sum * pf / (pf + K1 * (1 - B + B * dl / avg))
        return out

    def window(self, doc: int, terms: list[str], width: int):
        """Best highlight window: most query-term positions within
        ``width`` tokens, earliest on ties -> (start, end, n)."""
        merged = sorted(
            p for t in dict.fromkeys(terms) for p in self.pos[doc].get(t, ())
        )
        if not merged:
            return None
        best = (1, merged[0], merged[0])
        lo = 0
        for hi in range(len(merged)):
            while merged[hi] - merged[lo] >= width:
                lo += 1
            if hi - lo + 1 > best[0]:
                best = (hi - lo + 1, merged[lo], merged[hi])
        return best[1], best[2], best[0]

    def attr(self, doc: int, col: str):
        return self.docs[doc][col]


# ------------------------------------------------------------ comparison


def _r6(x: float) -> str:
    return f"{x:.6f}"


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Identical doc ids and scores to 6 decimals. Docs whose scores
    agree to 6 decimals form one tie group; the order inside a group,
    and which members fill the last slots at the k cut, follow the
    doc_id tiebreak only up to float summation order, so a group is
    compared as a set (the cut group as a subset)."""
    if len(got) != len(want):
        return False
    if [_r6(s) for _, s in got] != [_r6(s) for _, s in want]:
        return False
    i = 0
    while i < len(got):
        j = i
        while j < len(got) and _r6(got[j][1]) == _r6(got[i][1]):
            j += 1
        g = {d for d, _ in got[i:j]}
        w = {d for d, _ in want[i:j]}
        if g != w and j < len(got):
            return False
        i = j
    return True


def cut_group_ok(oracle_scores: dict[int, float], got, want) -> bool:
    """At the k cut, any doc whose score ties the last kept score to
    6 decimals may fill the slot."""
    if not got or not want:
        return got == want
    last = _r6(want[-1][1])
    tied = {d for d, s in oracle_scores.items() if _r6(s) == last}
    keep = {d for d, s in want if _r6(s) != last}
    return {d for d, s in got if _r6(s) != last} == keep and all(
        d in tied for d, s in got if _r6(s) == last
    )


def ranking_ok(oracle_scores: dict[int, float], got, want) -> bool:
    return same_ranking(got, want) and cut_group_ok(oracle_scores, got, want)

