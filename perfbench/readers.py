"""Closed-loop query sessions against the two readers, and their checks.

One client issues each query only after the previous one returned.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from harness import FAILED, Run
from inputs import BM25_CLASSES, PHRASE_CLASSES, Query
from oracles import TextOracle, tokens

TOP_K = 10


@dataclass
class Issued:
    op_id: int
    query: Query
    ms: float
    first_touch: bool
    result: object


@dataclass
class Session:
    """Queries issued against one pair of readers on one index state."""
    name: str
    state: int = 0                  # which expected index state it saw
    after_op: int = 0               # the write it follows
    doc_count: int | None = None    # the reader's doc count, if it opened
    issued: list[Issued] = field(default_factory=list)


def run_session(run: Run, session: Session, reader, preader,
                stream: list[Query], pos: int, budget_s: float,
                min_queries: int = 0) -> int:
    """Issue queries from ``stream[pos:]`` until ``budget_s`` has passed
    (and at least ``min_queries`` were issued). Without a positions reader
    (``preader`` None) only the BM25 queries of the stream are issued.
    Returns the next stream position."""
    seen_terms: dict[str, set[str]] = {"bm25": set(), "pos": set()}
    deadline = time.perf_counter() + budget_s
    n = 0
    while time.perf_counter() < deadline or n < min_queries:
        q = stream[pos % len(stream)]
        pos += 1
        if preader is None and q.kind != "bm25":
            continue
        n += 1
        if q.kind == "bm25":
            op_id, out, dt, _ = run.call(
                "bm25.search_topk", reader.search_topk, q.text, TOP_K, q.mode,
                spark_jobs=False)
            side = "bm25"
        elif q.kind == "phrase":
            op_id, out, dt, _ = run.call(
                "positions.phrase", preader.phrase_match_ids, q.text,
                spark_jobs=False)
            side = "pos"
        else:
            a, b = q.text.split()
            op_id, out, dt, _ = run.call(
                "positions.near", preader.near_match_ids, a, b, q.slop,
                spark_jobs=False)
            side = "pos"
        terms = set(tokens(q.text))
        first = not terms <= seen_terms[side]
        seen_terms[side] |= terms
        session.issued.append(Issued(op_id, q, dt * 1000.0, first, out))
    return pos


def check_session(run: Run, session: Session, oracle: TextOracle) -> None:
    """Checks every distinct query of ``session`` against ``oracle``;
    marks every issue of a wrong query failed."""
    by_query: dict[Query, list[Issued]] = {}
    for it in session.issued:
        by_query.setdefault(it.query, []).append(it)
    for q, its in by_query.items():
        verdicts: list[tuple[object, str | None]] = []  # (result, reason)
        for it in its:
            why = next((w for r, w in verdicts if r == it.result), "unchecked")
            if why == "unchecked":
                why = _check_one(oracle, q, it.result)
                verdicts.append((it.result, why))
            if why is not None:
                run.wrong(it.op_id, f"{session.name} {q.kind}[{q.cls}] "
                                    f"{q.text!r}: {why}")


def _check_one(oracle: TextOracle, q: Query, got) -> str | None:
    if got is FAILED:
        return "raised"
    if q.kind == "bm25":
        return oracle.check_topk(q.text, q.mode, TOP_K, got)
    if q.kind == "phrase":
        want = oracle.phrase(q.text)
    else:
        a, b = q.text.split()
        want = oracle.near(a, b, q.slop)
    if list(got) != want:
        return f"{len(got)} docs, oracle {len(want)}"
    return None


def latencies(sessions: list[Session], kind: str | tuple[str, ...],
              cls: str | None = None, first_touch: bool | None = None):
    kinds = (kind,) if isinstance(kind, str) else kind
    return [
        it.ms for s in sessions for it in s.issued
        if it.query.kind in kinds
        and (cls is None or it.query.cls == cls)
        and (first_touch is None or it.first_touch == first_touch)
    ]


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def reader_layer_metrics(run: Run, sessions: list[Session]) -> None:
    """Per-class medians of the two readers into ``run.layer``."""
    L = run.layer
    for cls in BM25_CLASSES:
        L[f"bm25.topk.{cls}.p50_ms"] = _p50(latencies(sessions, "bm25", cls))
    L["bm25.first_touch.p50_ms"] = _p50(
        latencies(sessions, "bm25", first_touch=True))
    L["bm25.repeat.p50_ms"] = _p50(
        latencies(sessions, "bm25", first_touch=False))
    for cls in PHRASE_CLASSES:
        L[f"positions.phrase.{cls}.p50_ms"] = _p50(
            latencies(sessions, "phrase", cls))
    L["positions.near.p50_ms"] = _p50(latencies(sessions, "near"))
    L["positions.first_touch.p50_ms"] = _p50(
        latencies(sessions, ("phrase", "near"), first_touch=True))


def reader_extras(run: Run, index_dir: str, sessions: list[Session],
                  probes: list[Query]) -> None:
    """Traced-run extras, outside the timed phase: postings per BM25 query
    from the term dictionary of a separate reader, the cost per posting,
    and a few samples of the DataFrame search path."""
    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader

    side = IndexReader(run.spark, index_dir)
    issued = [it for s in sessions for it in s.issued if it.query.kind == "bm25"]
    postings: dict[Query, int] = {}
    for it in issued:
        if it.query not in postings:
            postings[it.query] = sum(
                side.term_stats(sorted(set(tokens(it.query.text)))).values())
    total = sum(postings[it.query] for it in issued)
    run.layer["bm25.postings_per_query"] = (
        statistics.mean(postings.values()) if postings else 0.0)
    run.layer["bm25.us_per_posting"] = (
        sum(it.ms for it in issued) * 1000.0 / total if total else 0.0)
    samples = []
    for q in probes:
        if q.kind == "bm25":
            t0 = time.perf_counter()
            side.search(q.text, k=TOP_K, mode=q.mode).collect()
            samples.append((time.perf_counter() - t0) * 1000.0)
    run.layer["bm25.search_df.ms"] = statistics.median(samples)
