"""Independent answers for every query the benchmark sends.

The oracle shares exactly one function with the engine: the analysis
chain ``analyze`` (which the frozen analyzer goldens cover, and which the
benchmark checks against them at start-up).  Doc ids, collection
statistics, BM25, Levenshtein expansion, boolean trees and phrase
adjacency are all recomputed here from the generated rows.

Float contract for exact comparisons: a doc's BM25 score is ``0.0`` plus
one contribution per matched term, added in ascending term order, with
``idf = ln(1 + (N - df + 0.5) / (df + 0.5))`` (Lucene's BM25 idf).
"""

from __future__ import annotations

import math
from collections import Counter

K1 = 1.2
B = 0.75
REL_TOL = 1e-9
MAX_EXPANSIONS = 64     # the engine's default cap on a fuzzy atom's terms


def bm25_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (float(n_docs) - df + 0.5) / (df + 0.5))


def within_edits(a: str, b: str, d: int) -> int | None:
    """Levenshtein distance of ``a`` and ``b`` if it is at most ``d``,
    else None (row-minimum early exit)."""
    if abs(len(a) - len(b)) > d:
        return None
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        if min(cur) > d:
            return None
        prev = cur
    return prev[-1] if prev[-1] <= d else None


class Oracle:
    """Inverted index over ``rows`` built with ``analyze`` alone.

    ``rows`` are ``(repo, path, commit, lang, content)``; doc ids are the
    rank of ``(repo, path)``, the engine's ``order_cols``."""

    def __init__(self, rows: list[tuple], analyze):
        self.analyze = analyze
        ordered = sorted(rows, key=lambda r: (r[0], r[1]))
        self.n_docs = len(ordered)
        self.postings: dict[str, dict[int, int]] = {}
        self.positions: dict[str, dict[int, set[int]]] = {}
        self.dl: list[int] = []
        total = 0
        for doc_id, row in enumerate(ordered):
            toks = analyze(row[4] or "")
            self.dl.append(len(toks))
            total += len(toks)
            pos = -1
            for t in toks:
                pos += t.pos_inc
                self.positions.setdefault(t.term, {}) \
                    .setdefault(doc_id, set()).add(pos)
            for term, tf in Counter(t.term for t in toks).items():
                self.postings.setdefault(term, {})[doc_id] = tf
        self.avgdl = float(total) / self.n_docs if self.n_docs else 0.0
        self.df = {t: len(p) for t, p in self.postings.items()}
        self._expanded: dict[tuple[str, int], list] = {}
        self._by_len: dict[int, list[str]] = {}
        for t in sorted(self.df):
            self._by_len.setdefault(len(t), []).append(t)

    # ------------------------------------------------------------ pieces
    def query_terms(self, text: str) -> list[str]:
        return sorted({t.term for t in self.analyze(text)})

    def contrib(self, term: str, doc: int, weight: float) -> float:
        tf = float(self.postings[term][doc])
        dl = float(self.dl[doc])
        return (weight * (tf * (K1 + 1.0))
                / (tf + K1 * (1.0 - B + B * dl / self.avgdl)))

    def expand(self, term: str, edits: int) -> list[tuple[str, int, int]]:
        """Dictionary terms within ``edits`` of ``term``:
        [(term, df, dist)] sorted by term."""
        key = (term, edits)
        if key in self._expanded:
            return self._expanded[key]
        out = []
        for n in range(len(term) - edits, len(term) + edits + 1):
            for t in self._by_len.get(n, ()):
                d = within_edits(term, t, edits)
                if d is not None:
                    out.append((t, self.df[t], d))
        self._expanded[key] = out
        return out

    def _scored(self, terms: list[str]) -> dict[int, float]:
        scores: dict[int, float] = {}
        for t in sorted(set(terms)):
            if t not in self.df:
                continue
            w = bm25_idf(self.n_docs, self.df[t])
            for doc in self.postings[t]:
                scores[doc] = scores.get(doc, 0.0) + self.contrib(t, doc, w)
        return scores

    @staticmethod
    def _topk(scores: dict[int, float], k: int) -> list[tuple[int, float]]:
        return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]

    # ----------------------------------------------------------- queries
    def bm25(self, text: str, k: int) -> list[tuple[int, float]]:
        return self._topk(self._scored(self.query_terms(text)), k)

    def fuzzy(self, text: str, k: int, edits: int = 2
              ) -> list[tuple[int, float]]:
        expanded = {t for q in self.query_terms(text)
                    for t, _, _ in self.expand(q, edits)}
        return self._topk(self._scored(sorted(expanded)), k)

    def phrase_docs(self, text: str) -> set[int]:
        """Docs where the analyzed phrase occurs with its position gaps
        (stopword holes kept), positions accumulated from ``pos_inc``."""
        qpos = []
        pos = -1
        for t in self.analyze(text):
            pos += t.pos_inc
            qpos.append((t.term, pos))
        if not qpos:
            return set()
        base = qpos[0][1]
        gaps = [(t, p - base) for t, p in qpos]
        first = self.positions.get(gaps[0][0], {})
        out = set()
        for doc, starts in first.items():
            for s in starts:
                if all(s + g in self.positions.get(t, {}).get(doc, ())
                       for t, g in gaps[1:]):
                    out.add(doc)
                    break
        return out

    def boolean(self, tree) -> list[tuple[int, float]]:
        """Full scored match set of a generated query tree (Lucene
        BooleanQuery algebra; a term scores once per clause it sits in;
        MUST_NOT clauses never score), sorted by (score desc, doc asc)."""
        memo: dict = {}

        def leaf_terms(node) -> list[str]:
            if node[0] == "term":
                return self.query_terms(node[1])
            # fuzzy atom: each analyzed token expands, capped by df desc
            # then term (Lucene's top-terms rewrite), into one any-of leaf
            out: set[str] = set()
            for q in self.query_terms(node[1]) or [node[1].lower()]:
                exp = sorted(self.expand(q, node[2]),
                             key=lambda x: (-x[1], x[0]))[:MAX_EXPANSIONS]
                out.update(t for t, _, _ in exp)
            return sorted(out)

        def match(node) -> set[int]:
            if node not in memo:
                memo[node] = _match(node)
            return memo[node]

        def _match(node) -> set[int]:
            if node[0] == "phrase":
                return self.phrase_docs(node[1])
            if node[0] in ("term", "fuzzy"):
                docs: set[int] = set()
                for t in leaf_terms(node):
                    docs.update(self.postings.get(t, ()))
                return docs
            _, must, should, nots = node
            cand = None
            for c in must:
                m = match(c)
                cand = m if cand is None else cand & m
            if cand is None:
                cand = set().union(*(match(c) for c in should)) \
                    if should else set()
            for c in nots:
                cand = cand - match(c)
            return cand

        scores: dict[int, float] = {}

        def score(node, eff: set[int]):
            if node[0] == "phrase":
                return
            if node[0] in ("term", "fuzzy"):
                for t in leaf_terms(node):
                    if t not in self.df:
                        continue
                    w = bm25_idf(self.n_docs, self.df[t])
                    for doc in eff & set(self.postings.get(t, ())):
                        scores[doc] = scores.get(doc, 0.0) + \
                            self.contrib(t, doc, w)
                return
            _, must, should, _ = node
            for c in must + should:
                score(c, eff & match(c))

        root = match(tree)
        score(tree, root)
        return sorted(((d, scores.get(d, 0.0)) for d in root),
                      key=lambda x: (-x[1], x[0]))

    # ------------------------------------------------------------ checks
    @staticmethod
    def same_exact(got: list[tuple[int, float]],
                   want: list[tuple[int, float]]) -> bool:
        return [(int(d), float(s)) for d, s in got] == want

    @staticmethod
    def same_topk(got: list[tuple[int, float]],
                  full: list[tuple[int, float]], k: int) -> bool:
        """``got`` is a valid top-k of the scored match set ``full``:
        right length, every score within REL_TOL of the oracle's, sorted,
        and no doc scoring clearly above the k-th is missing (docs tied
        at the k-th score may swap)."""
        if len(got) != min(k, len(full)):
            return False
        want = dict(full)
        prev = math.inf
        for d, s in got:
            w = want.get(int(d))
            if w is None or abs(s - w) > REL_TOL * max(abs(w), 1e-300) \
                    or s > prev * (1 + REL_TOL):
                return False
            prev = s
        if not got:
            return True
        kth = got[-1][1]
        ids = {int(d) for d, _ in got}
        return all(d in ids for d, s in full
                   if s > kth * (1 + REL_TOL) + REL_TOL)
