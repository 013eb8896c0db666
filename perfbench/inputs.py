"""Seeded inputs for the benchmark workloads.

Every function here is a pure function of the seed: the same seed gives
byte-identical inputs, a different seed different ones. The seed picks

- the corpus row window (``sources.corpus`` rows are pure in their index),
- the query streams (BM25 classes, phrase classes, NEAR pairs),
- the update streams (version-bumped re-emits, null-key records,
  tombstones) and the streamed files,
- the contract tables and the order of the contract queries.

The program under test only ever receives the generated data.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from kafka_connect_opensearch_spark.sources.corpus import (
    N_IDENTIFIERS,
    STOPWORD_TOKENS,
    _gen_row,
)

CORPUS_COLUMNS = ["repo", "path", "commit", "lang", "content"]
# rows a seed can place its window in; row i is the same on every host
CORPUS_SPAN = 50_000_000
# rows beyond every window donate fresh content to re-emitted keys
DONOR_BASE = 2 * CORPUS_SPAN

BM25_CLASSES = ("rare", "stopword", "or", "and")
PHRASE_CLASSES = ("stop_pair", "rare_hot", "chain3", "repeat")

# one per contract operator family: dedup, similarity, text stats,
# record routing (convert), event-time windows
CONTRACT_QUERIES = (
    "dedup_exact",
    "cosine_topk",
    "language_id",
    "malformed_routing",
    "events_sliding",
)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose)."""
    digest = hashlib.sha256(f"{seed}/{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------

def corpus_rows(seed: int, n: int, stream: str = "corpus") -> pd.DataFrame:
    """``n`` consecutive corpus rows starting at a seeded offset."""
    start = int(rng_for(seed, stream).integers(0, CORPUS_SPAN - n))
    rows = [_gen_row(i) for i in range(start, start + n)]
    return pd.DataFrame(rows, columns=CORPUS_COLUMNS)


def donor_content(seed: int, k: int) -> list[str]:
    """``k`` contents of rows outside every window: new text for
    re-emitted keys."""
    start = DONOR_BASE + int(rng_for(seed, "donor").integers(0, CORPUS_SPAN))
    return [_gen_row(i)[4] for i in range(start, start + k)]


# --------------------------------------------------------------------------
# query streams
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Query:
    kind: str   # "bm25" | "phrase" | "near"
    cls: str    # query class within its kind
    text: str   # query text (phrase text for "phrase"; "a b" for "near")
    mode: str = "or"
    slop: int = 0


# One cycle of the query stream: (kind, class, words, mode, slop). A word
# is "H" (a hot identifier: one of HOT_IDENTS, reused every cycle, so the
# readers' per-snapshot memo hits), "C" (a cold identifier never queried
# before: a memo miss) or the frequency rank of a stopword token (0 = most
# frequent). Every cycle holds the same shapes, so the work per cycle, the
# memo hit ratio and with them the latency distribution do not swing with
# the seed; the seed picks the identifiers and the order inside each
# cycle. 13 of the 20 BM25 shapes are fast (hot or stopword-only), so the
# BM25 median falls inside their latency cluster, not on the edge between
# two clusters, where it would jump.
QUERY_CYCLE = (
    *[("bm25", "rare", ("H",), "or", 0)] * 6,
    *[("bm25", "rare", ("C",), "or", 0)] * 2,
    ("bm25", "stopword", (0,), "or", 0),
    ("bm25", "stopword", (2,), "or", 0),
    ("bm25", "stopword", (5,), "or", 0),
    ("bm25", "stopword", (8,), "or", 0),
    ("bm25", "stopword", (11,), "or", 0),
    ("bm25", "or", (0, "H"), "or", 0),
    ("bm25", "or", (1, "H", "C"), "or", 0),
    ("bm25", "or", (3, 7, "H"), "or", 0),
    ("bm25", "or", (0, 4, 9, "C"), "or", 0),
    ("bm25", "and", ("H", 1), "and", 0),
    ("bm25", "and", (0, 3), "and", 0),
    ("bm25", "and", (2, 5), "and", 0),
    ("phrase", "stop_pair", (0, 1), "or", 0),
    ("phrase", "rare_hot", ("H", 0), "or", 0),
    ("phrase", "chain3", (1, 2, 3), "or", 0),
    ("phrase", "repeat", (1, 1), "or", 0),
    ("near", "near", (0, "H"), "or", 3),
)
HOT_IDENTS = 12
# consecutive cycles shift stopword ranks by these offsets, in turn
CYCLE_SHIFTS = (0, 1, 2)


def query_stream(seed: int, n: int, tag: str = "queries") -> list[Query]:
    """``n`` queries: BM25 top-k in four classes, phrase in four classes
    and NEAR, in cycles of ``QUERY_CYCLE``."""
    rng = rng_for(seed, tag)
    perm = [f"ident_{int(i)}" for i in rng.permutation(N_IDENTIFIERS)]
    hot, cold = perm[:HOT_IDENTS], iter(perm[HOT_IDENTS:])  # 4 cold per cycle
    out: list[Query] = []
    cycle = 0
    while len(out) < n:
        shift = CYCLE_SHIFTS[cycle % len(CYCLE_SHIFTS)]
        batch = []
        for kind, cls, words, mode, slop in QUERY_CYCLE:
            text = " ".join(
                hot[int(rng.integers(HOT_IDENTS))] if w == "H"
                else next(cold) if w == "C"
                else STOPWORD_TOKENS[w + shift] for w in words)
            batch.append(Query(kind, cls, text, mode, slop))
        out += [batch[int(i)] for i in rng.permutation(len(batch))]
        cycle += 1
    return out[:n]


def class_probes(seed: int) -> list[Query]:
    """One query of every class (warm-up)."""
    seen: dict[tuple[str, str], Query] = {}
    for q in query_stream(seed, len(QUERY_CYCLE), tag="probes"):
        seen.setdefault((q.kind, q.cls), q)
    return list(seen.values())


# --------------------------------------------------------------------------
# put-path batch and streamed files
# --------------------------------------------------------------------------

@dataclass
class IngestBatch:
    batch: pd.DataFrame           # CORPUS_COLUMNS + version
    n_malformed: int              # null-key rows (dead-letter queue)
    n_tombstones: int             # keyed null-content rows (deletes)


def ingest_batch(seed: int, n_docs: int, update_share: float = 0.1,
                 malformed_share: float = 0.02,
                 tombstone_share: float = 0.03) -> IngestBatch:
    """A put-path batch: ``n_docs`` rows at version 1, version-2 re-emits
    of a seeded share with new content, null-key rows and tombstones of
    distinct keys, in seeded order."""
    rng = rng_for(seed, "ingest")
    base = corpus_rows(seed, n_docs, stream="ingest_rows")
    n_upd = int(round(update_share * n_docs))
    n_bad = max(1, int(round(malformed_share * n_docs)))
    n_del = max(1, int(round(tombstone_share * n_docs)))
    pick = rng.permutation(n_docs)
    upd = base.iloc[pick[:n_upd]].assign(version=2)
    upd["content"] = donor_content(seed, n_upd)
    dele = base.iloc[pick[n_upd:n_upd + n_del]].assign(version=4)
    dele["content"] = None
    bad = base.iloc[rng.choice(n_docs, size=n_bad, replace=False)].assign(
        version=3)
    bad["repo"] = None
    batch = pd.concat([base.assign(version=1), upd, bad, dele],
                      ignore_index=True)
    batch = batch.iloc[rng.permutation(len(batch))].reset_index(drop=True)
    return IngestBatch(batch=batch, n_malformed=n_bad, n_tombstones=n_del)


def stream_files(seed: int, new_rows: tuple[int, ...], reemit_round: int,
                 reemits: int) -> list[pd.DataFrame]:
    """Files that arrive one per round: round ``i`` brings ``new_rows[i]``
    fresh rows; round ``reemit_round`` also re-emits ``reemits`` keys of
    round 0 with new content. Keys are distinct within a file."""
    rng = rng_for(seed, "stream")
    rows = corpus_rows(seed, sum(new_rows), stream="stream_rows")
    bounds = np.cumsum((0,) + tuple(new_rows))
    files = [rows.iloc[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
    again = files[0].iloc[rng.choice(new_rows[0], size=reemits,
                                     replace=False)].copy()
    again["content"] = donor_content(seed + 1, reemits)
    files[reemit_round] = pd.concat([files[reemit_round], again])
    return [f.iloc[rng.permutation(len(f))].reset_index(drop=True)
            for f in files]


# --------------------------------------------------------------------------
# contract tables
# --------------------------------------------------------------------------

CONTRACT_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small big query order group filter "
    "stream vector customer a"
).split()
DOC_LANGS = ("en", "de", "fr", "es", "zh")
DOC_LANG_WEIGHTS = (0.44, 0.14, 0.13, 0.14, 0.15)
LANG_WORDS = {
    "en": "the and of to in is that it was for".split(),
    "de": "der die und das ist nicht ein mit auf zu".split(),
    "fr": "le la et les des est pas que une dans".split(),
    "es": "el la que los del las por con una para".split(),
    "zh": [],
}
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def contract_tables(seed: int, n_docs: int = 400, n_events: int = 4000,
                    n_vecs: int = 400, dim: int = 64) -> dict[str, pd.DataFrame]:
    """``documents``, ``events`` and ``embeddings`` with the shapes of the
    contract test tables."""
    rng = rng_for(seed, "contract")
    texts, langs = [], []
    for _ in range(n_docs):
        lang = DOC_LANGS[int(rng.choice(len(DOC_LANGS), p=DOC_LANG_WEIGHTS))]
        n = int(rng.integers(8, 80))
        words = [CONTRACT_VOCAB[int(i)]
                 for i in rng.integers(0, len(CONTRACT_VOCAB), n)]
        own = LANG_WORDS[lang]
        if own:
            for j in rng.choice(n, size=max(1, n // 6), replace=False):
                words[int(j)] = own[int(rng.integers(0, len(own)))]
        texts.append(" ".join(words))
        langs.append(lang)
    # exact duplicates for the dedup query
    for j in rng.choice(n_docs, size=n_docs // 20, replace=False):
        texts[int(j)] = texts[int(rng.integers(0, n_docs))]
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{int(i)}" for i in rng.integers(0, 20, n_docs)],
    })
    documents["n_chars"] = documents["text"].str.len().astype(np.int64)

    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(offsets, unit="us"),
        "user_id": rng.integers(0, 150, n_events).astype(np.int64),
        "event_type": [EVENT_TYPES[int(i)]
                       for i in rng.integers(0, len(EVENT_TYPES), n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {int(i)}}}' for i in rng.integers(0, 100, n_events)],
    })
    events["ts"] = events["ts"].astype("datetime64[us]")

    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels,
    })
    return {"documents": documents, "events": events, "embeddings": embeddings}


def contract_order(seed: int) -> list[str]:
    rng = rng_for(seed, "contract_order")
    return [CONTRACT_QUERIES[int(i)]
            for i in rng.permutation(len(CONTRACT_QUERIES))]
