"""The benchmark's own oracles, independent of the layers under test.

``TextOracle`` rebuilds term frequencies and positions from plain token
lists (the analyzer contract: lowercase, maximal ``[a-z0-9_]+`` runs) and
answers BM25 top-k, phrase and NEAR queries by brute force.
``contract_rows_match`` compares a contract query's rows with its DuckDB
oracle rows after the same normalisation the contract verifier applies.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import numpy as np

TOKEN_RE = re.compile("[a-z0-9_]+")
DOC_KEY_SEP = "\x1f"
K1, B = 1.2, 0.75
SCORE_TOL = 1e-9


def tokens(text: str) -> list[str]:
    return TOKEN_RE.findall(text.lower())


def doc_id(doc_key: str) -> int:
    """Engine identity: 60 bits of sha256 over the joined key columns."""
    return int(hashlib.sha256(doc_key.encode()).hexdigest()[:15], 16)


def row_doc_id(repo: str, path: str, commit: str) -> int:
    return doc_id(DOC_KEY_SEP.join((repo, path, commit)))


class TextOracle:
    """Brute-force answers over ``{doc_id: content}``.

    Keeps every doc's token ids in one concatenated array, so phrase and
    NEAR checks are array scans over the whole corpus."""

    def __init__(self, docs: dict[int, str]):
        self.n = len(docs)
        self.ids = np.fromiter(docs.keys(), dtype=np.int64, count=self.n)
        toks = [tokens(c) for c in docs.values()]
        self.dl = np.array([len(t) for t in toks], dtype=np.float64)
        self.avgdl = float(self.dl.sum()) / self.n if self.n else 0.0
        # term → (row indexes, term frequencies), rows ascending
        rows: dict[str, list[int]] = {}
        tfs: dict[str, list[int]] = {}
        for i, ts in enumerate(toks):
            for t, c in Counter(ts).items():
                rows.setdefault(t, []).append(i)
                tfs.setdefault(t, []).append(c)
        self.tf = {t: (np.array(rows[t]), np.array(tfs[t], dtype=np.float64))
                   for t in rows}
        self.term_id = {t: k for k, t in enumerate(self.tf)}
        self.text = np.array([self.term_id[t] for ts in toks for t in ts],
                             dtype=np.int64)
        self.row_of = np.repeat(np.arange(self.n), [len(t) for t in toks])

    def postings(self) -> int:
        """Σ over docs of distinct terms: one posting per (term, doc)."""
        return sum(len(r) for r, _ in self.tf.values())

    def scores(self, query: str, mode: str) -> dict[int, float]:
        """doc_id → BM25 score of the matching docs. Per doc, term
        contributions are added in sorted-term order."""
        q = sorted(Counter(tokens(query)).items())
        if not q or self.n == 0:
            return {}
        if mode == "and" and any(t not in self.tf for t, _ in q):
            return {}
        q = [(t, c) for t, c in q if t in self.tf]
        if not q:
            return {}
        norm = K1 * (1.0 - B + B * self.dl / self.avgdl)
        acc = np.zeros(self.n)
        hits = np.zeros(self.n, dtype=np.int64)
        for t, c in q:
            rows, tf = self.tf[t]
            df = len(rows)
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            acc[rows] += c * idf * tf * (K1 + 1.0) / (tf + norm[rows])
            hits[rows] += 1
        keep = hits == len(q) if mode == "and" else hits > 0
        return dict(zip(self.ids[keep].tolist(), acc[keep].tolist()))

    def check_topk(self, query: str, mode: str, k: int,
                   got: list[tuple[int, float]]) -> str | None:
        """None when ``got`` is the exact top-k (rank-identical up to
        score ties within ``SCORE_TOL``), else a reason."""
        sc = self.scores(query, mode)
        want = sorted(sc.items(), key=lambda x: (-x[1], x[0]))[:k]
        if len(got) != len(want):
            return f"{len(got)} hits, oracle {len(want)}"
        for rank, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
            if gd not in sc or abs(sc[gd] - gs) > SCORE_TOL:
                return f"rank {rank}: doc {gd} score {gs} vs oracle {sc.get(gd)}"
            if gd != wd and abs(gs - ws) > SCORE_TOL:
                return f"rank {rank}: doc {gd} ({gs}) where oracle has {wd} ({ws})"
        return None

    def _doc_ids(self, rows: np.ndarray) -> list[int]:
        return sorted(self.ids[np.unique(rows)].tolist())

    def phrase(self, text: str) -> list[int]:
        """Docs holding the query tokens at consecutive positions."""
        ts = tokens(text)
        if not ts or any(t not in self.term_id for t in ts):
            return []
        m, size = len(ts), len(self.text) - len(ts) + 1
        if size <= 0:
            return []
        hit = self.row_of[:size] == self.row_of[m - 1:]  # inside one doc
        for k, t in enumerate(ts):
            hit &= self.text[k:k + size] == self.term_id[t]
        return self._doc_ids(self.row_of[:size][hit])

    def near(self, a: str, b: str, slop: int) -> list[int]:
        """Docs where two occurrences (of ``a`` and ``b``, or of ``a``
        twice when ``a == b``) lie within ``slop`` positions."""
        if a not in self.term_id or b not in self.term_id:
            return []
        pa = np.flatnonzero(self.text == self.term_id[a])
        if a == b:
            ok = (np.diff(pa) <= slop) & (self.row_of[pa[1:]] == self.row_of[pa[:-1]])
            return self._doc_ids(self.row_of[pa[:-1]][ok])
        pb = np.flatnonzero(self.text == self.term_id[b])
        j = np.searchsorted(pb, pa)
        hit = np.zeros(len(pa), dtype=bool)
        for nb in (pb[np.minimum(j, len(pb) - 1)], pb[np.maximum(j - 1, 0)]):
            hit |= (np.abs(nb - pa) <= slop) & (self.row_of[nb] == self.row_of[pa])
        return self._doc_ids(self.row_of[pa][hit])


# --------------------------------------------------------------------------
# contract rows
# --------------------------------------------------------------------------

def normalize(rows: list[dict], round_floats: int = 6) -> list[tuple]:
    """Order-insensitive canonical rows: columns by name, floats rounded,
    NaN as a string, rows sorted."""
    out = []
    for r in rows:
        vals = []
        for _, v in sorted(r.items()):
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, round_floats)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def contract_rows_match(cols: list[str], rows: list[dict],
                        oracle_cols: list[str],
                        oracle_rows: list[dict]) -> str | None:
    if sorted(cols) != sorted(oracle_cols):
        return f"columns {sorted(cols)} != {sorted(oracle_cols)}"
    a, b = normalize(rows), normalize(oracle_rows)
    if len(a) != len(b):
        return f"{len(a)} rows, oracle {len(b)}"
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    if bad:
        return f"{len(bad)}/{len(a)} rows differ; first {bad[0][0]} vs {bad[0][1]}"
    return None
