"""Positional store under the segment lifecycle.

Pins the round-3 contract: positions are written per segment by the
same writer as the frequency postings (bulk, wave, streamed and merged
segments alike), participate in log-structured merges (latest-wins
across generations + tombstone deletes, so phrase queries can never go
stale), and queries run either coordinator-local or distributed per
doc-disjoint (seg, part) group with identical results.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from kafka_connect_opensearch_spark.config import EngineConfig
from kafka_connect_opensearch_spark.operators.indexer import (
    build_index,
    build_index_bulk,
)
from kafka_connect_opensearch_spark.operators.merge import merge_segments
from kafka_connect_opensearch_spark.operators.positions import PositionsReader
from kafka_connect_opensearch_spark.operators.segments import SegmentStore
from kafka_connect_opensearch_spark.plans import executed_plan

FIXTURE = [
    (1, "alpha beta gamma"),
    (2, "beta alpha beta gamma alpha"),
    (3, "gamma beta alpha"),
    (4, "alpha, beta! gamma?"),
    (5, "alpha alpha alpha"),
    (6, ""),
    (7, "alpha omega beta"),       # alpha..beta distance 2
    (8, "alpha x y z beta"),       # alpha..beta distance 4
    (9, "alpha om gamma"),         # 'om' shares the 'o' prefix with omega
]


def _build(spark: SparkSession, tmp_path, rows=FIXTURE, num_segments=2):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "idx")
    cfg = EngineConfig(
        num_segments=num_segments, salt_partitions=2, shuffle_partitions=4,
        index_positions=True,
    )
    build_index(spark, docs, d, cfg, content_col="text", doc_id_col="doc_id")
    return d, cfg


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def test_positions_bulk_layout_phrase_and_near(spark, tmp_path):
    """num_segments=2 routes through the wave/bulk pipeline (Hive
    seg=<name> positions partitions) — phrase + NEAR semantics hold."""
    d, _ = _build(spark, tmp_path)
    pr = PositionsReader(spark, d)
    assert _ids(pr.phrase_docs("alpha beta")) == [1, 2, 4]
    assert _ids(pr.phrase_docs("alpha alpha")) == [5]
    assert _ids(pr.near_docs("alpha", "beta", slop=1)) == [1, 2, 3, 4]
    # ordered (in_order): doc 3 is "gamma beta alpha" — beta precedes alpha
    assert _ids(pr.near_docs("alpha", "beta", slop=1, ordered=True)) == [
        1, 2, 4
    ]
    assert _ids(
        pr.near_docs("alpha", "beta", slop=1, ordered=True,
                     local_threshold=0)
    ) == [1, 2, 4]
    assert _ids(pr.near_docs("alpha", "beta", slop=2)) == [1, 2, 3, 4, 7]
    assert _ids(pr.near_docs("alpha", "beta", slop=4)) == [1, 2, 3, 4, 7, 8]
    assert _ids(pr.near_docs("alpha", "nosuch", slop=3)) == []
    topk = pr.phrase_topk("alpha beta", k=3).collect()
    assert len(topk) == 3
    scores = [r["score"] for r in topk]
    assert scores == sorted(scores, reverse=True)


def test_phrase_prefix_match(spark, tmp_path):
    """match_phrase_prefix: leading chain + any expansion of the trailing
    prefix at the next position; multi-expansion prefixes take the union;
    distributed path agrees."""
    d, _ = _build(spark, tmp_path)
    pr = PositionsReader(spark, d)
    # 'o' expands to {om, omega}: doc 7 has 'alpha omega', doc 9 'alpha om'
    assert _ids(pr.phrase_prefix_docs("alpha o")) == [7, 9]
    assert _ids(pr.phrase_prefix_docs("alpha b")) == [1, 2, 4]
    assert _ids(pr.phrase_prefix_docs("alpha g")) == []   # never adjacent
    # single-token prefix → any doc containing an expansion
    assert _ids(pr.phrase_prefix_docs("be")) == [1, 2, 3, 4, 7, 8]
    assert _ids(pr.phrase_prefix_docs("nosuch x")) == []
    assert _ids(pr.phrase_prefix_docs("alpha o", local_threshold=0)) == [7, 9]
    assert pr.expand_prefix("o") == ["om", "omega"]
    assert pr.expand_prefix("o", max_terms=1) == ["om"]


def test_positions_distributed_path_parity(spark, tmp_path):
    """local_threshold=0 forces groupBy(seg, part).applyInPandas; results
    must be identical to the coordinator path (same numpy cores over
    doc-disjoint groups), and the plan must actually be distributed."""
    d, _ = _build(spark, tmp_path)
    pr = PositionsReader(spark, d)

    for phrase in ("alpha beta", "alpha beta gamma", "gamma"):
        local = _ids(pr.phrase_docs(phrase))
        dist_df = pr.phrase_docs(phrase, local_threshold=0)
        assert _ids(dist_df) == local
    assert "FlatMapGroupsInPandas" in executed_plan(
        pr.phrase_docs("alpha beta", local_threshold=0)
    )

    for slop in (1, 4):
        assert _ids(pr.near_docs("alpha", "beta", slop=slop)) == _ids(
            pr.near_docs("alpha", "beta", slop=slop, local_threshold=0)
        )

    lt = pr.phrase_topk("alpha beta", k=5).collect()
    dt = pr.phrase_topk("alpha beta", k=5, local_threshold=0).collect()
    assert [(r["doc_id"], r["score"]) for r in lt] == [
        (r["doc_id"], r["score"]) for r in dt
    ]


def test_positions_follow_merge_latest_wins_and_deletes(spark, tmp_path):
    """Re-ingest + tombstone delete: after merge, positional queries see
    exactly the surviving generation — the stale-store divergence the
    round-2 design had is structurally impossible."""
    d = str(tmp_path / "idx")
    v1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon alpha beta")],
        "doc_id long, text string",
    )
    cfg = EngineConfig(num_segments=1, salt_partitions=2,
                       shuffle_partitions=2, index_positions=True)
    build_index(spark, v1, d, cfg, content_col="text", doc_id_col="doc_id")

    # re-ingest doc 1 with changed content into a generation-1 segment (a
    # later bulk load)
    v2 = spark.createDataFrame([(1, "alpha omega omega")],
                               "doc_id long, text string")
    build_index_bulk(spark, v2, d, cfg, content_col="text",
                     doc_id_col="doc_id", tag="g1")
    merge_segments(spark, d, cfg)
    pr = PositionsReader(spark, d)
    assert _ids(pr.phrase_docs("alpha beta")) == [2]     # old gen shadowed
    assert _ids(pr.phrase_docs("alpha omega")) == [1]    # new gen visible
    assert _ids(pr.near_docs("delta", "alpha", slop=2)) == [2]

    # distributed path agrees on the merged (re-packed) segment
    assert _ids(pr.phrase_docs("alpha beta", local_threshold=0)) == [2]

    # tombstone delete doc 2 (doc_key = str(doc_id) when doc_id_col given)
    deletes = spark.createDataFrame([("2",)], "doc_key string")
    merge_segments(spark, d, cfg, delete_doc_keys=deletes)
    pr.refresh()
    assert _ids(pr.phrase_docs("alpha beta")) == []
    assert _ids(pr.phrase_docs("alpha omega")) == [1]
    assert pr.near_docs("delta", "alpha", slop=2).count() == 0


def test_positions_distributed_scan_pushdown(spark, tmp_path):
    """The distributed positional read must push the query-term IN-filter
    into the parquet scan (sorted-term layout prunes row groups) — the
    100× guarantee that a phrase query reads only its terms' rows."""
    d, _ = _build(spark, tmp_path)
    pr = PositionsReader(spark, d)
    plan = executed_plan(pr._spark_rows(["alpha", "beta"]))  # noqa: SLF001
    assert "PushedFilters" in plan and "alpha" in plan
    dist = pr.phrase_docs("alpha beta", local_threshold=0)
    dplan = executed_plan(dist)
    assert "FlatMapGroupsInPandas" in dplan
    assert "alpha" in dplan  # term filter present in the distributed plan


def test_positions_mapping_survives_config_mismatch(spark, tmp_path):
    """The positions flag is a per-index MAPPING recorded at creation
    (meta.json): later ingests must honor it regardless of the caller's
    config — otherwise a positions=True index silently grows
    position-less segments the reader cannot serve."""
    from kafka_connect_opensearch_spark.operators.indexer import (
        _effective_config,
    )

    v1 = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    v2 = spark.createDataFrame([(2, "alpha beta gamma")],
                               "doc_id long, text string")
    on = EngineConfig(num_segments=1, salt_partitions=2,
                      shuffle_partitions=2, index_positions=True)
    off = EngineConfig(num_segments=1, salt_partitions=2,
                       shuffle_partitions=2)  # index_positions=False

    d = str(tmp_path / "idx")
    build_index(spark, v1, d, on, content_col="text", doc_id_col="doc_id")
    # the recorded mapping overrides mismatched caller configs, both ways
    assert _effective_config(SegmentStore(d), off).index_positions is True
    d2 = str(tmp_path / "idx_off")
    build_index(spark, v1, d2, off, content_col="text", doc_id_col="doc_id")
    assert _effective_config(SegmentStore(d2), on).index_positions is False

    # end-to-end: a later build_index against the positions=True index
    # with a positions-less config still writes positions for its segment
    build_index(spark, v2, d, off, content_col="text", doc_id_col="doc_id",
                resume=False)  # rewrites batch b0000 with v2's segment
    pr = PositionsReader(spark, d)
    assert _ids(pr.phrase_docs("alpha beta gamma")) == [2]


def test_positions_reader_requires_flag(spark, tmp_path):
    docs = spark.createDataFrame([(1, "alpha beta")],
                                 "doc_id long, text string")
    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=1, salt_partitions=2,
                       shuffle_partitions=2)  # index_positions=False
    build_index(spark, docs, d, cfg, content_col="text", doc_id_col="doc_id")
    try:
        PositionsReader(spark, d)
        raise AssertionError("expected ValueError for positions-less index")
    except ValueError as e:
        assert "positions" in str(e)


def test_near_same_term_requires_two_distinct_spans(spark, tmp_path):
    """span_near with term_a == term_b must not let an occurrence match
    itself: only docs with TWO occurrences within slop qualify. Identical
    on the coordinator-local and distributed paths, ordered or not."""
    d, _ = _build(spark, tmp_path)
    pr = PositionsReader(spark, d)
    for thr in (2_000_000, 0):  # local AND distributed scorer
        for ordered in (False, True):
            # doc 5: alpha@0,1,2 (gap 1); doc 2: alpha@1,4 (gap 3)
            got1 = _ids(pr.near_docs("alpha", "alpha", slop=1,
                                     ordered=ordered, local_threshold=thr))
            got3 = _ids(pr.near_docs("alpha", "alpha", slop=3,
                                     ordered=ordered, local_threshold=thr))
            assert got1 == [5], (thr, ordered, got1)
            assert got3 == [2, 5], (thr, ordered, got3)
    # engine-latency path too
    assert pr.near_match_ids("alpha", "alpha", slop=1) == [5]


def test_phrase_topk_releases_cache(spark, tmp_path):
    """The distributed phrase_topk branch caches the occurrence frame for
    its count + join; the cache must be gone once the top-k is returned
    (round-3 leaked it on the hit path)."""
    d, _ = _build(spark, tmp_path)
    pr = PositionsReader(spark, d)
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    before = jsc.getPersistentRDDs().size()  # other tests may hold caches
    out = pr.phrase_topk("alpha beta", k=3, local_threshold=0)  # force dist
    rows = out.collect()
    assert rows and rows[0]["doc_id"] in (1, 2, 4)
    assert jsc.getPersistentRDDs().size() <= before
    # parity: distributed branch == local branch, bit-for-bit
    local = pr.phrase_topk("alpha beta", k=3).collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == [
        (r["doc_id"], r["score"]) for r in local
    ]


def test_hot_term_decode_cache_parity_and_invalidation(spark, tmp_path):
    """Round-4 hot-term decode cache: with the hot threshold forced to 1
    every local query runs off cached decoded arrays after its first
    execution — results must be identical to the uncached byte-slicing
    path, and refresh() must drop the cache so post-merge queries see the
    merged store."""
    d, cfg = _build(spark, tmp_path)
    cold = PositionsReader(spark, d)
    cold.hot_min_entries = 10**9          # cache never engages
    hot = PositionsReader(spark, d)
    hot.hot_min_entries = 1               # everything caches

    checks = [
        lambda pr: _ids(pr.phrase_docs("alpha beta")),
        lambda pr: _ids(pr.phrase_docs("alpha alpha")),
        lambda pr: pr.phrase_match_ids("beta gamma"),
        lambda pr: pr.near_match_ids("alpha", "beta", slop=2),
        lambda pr: pr.near_match_ids("alpha", "beta", slop=4, ordered=True),
        lambda pr: _ids(pr.phrase_prefix_docs("alpha b")),
        lambda pr: sorted(
            (r["doc_id"], r["score"])
            for r in pr.phrase_topk("alpha beta", k=5).collect()
        ),
    ]
    for chk in checks:
        want = chk(cold)
        assert chk(hot) == want          # first run fills the cache
        assert chk(hot) == want          # second run is served from it
    assert hot._term_cache               # the cache actually engaged

    # merge-with-delete → refresh must invalidate: the cached 'alpha'
    # arrays may not leak doc 2's stale positions
    deletes = spark.createDataFrame([("2",)], "doc_key string")
    merge_segments(spark, d, cfg, delete_doc_keys=deletes)
    hot.refresh()
    assert not hot._term_cache
    assert 2 not in set(hot.phrase_match_ids("alpha beta"))
    cold.refresh()
    assert hot.phrase_match_ids("alpha beta") == \
        cold.phrase_match_ids("alpha beta")


def test_span_first_docs(spark, tmp_path):
    """span_first: term occurrence within the first N positions, local and
    distributed paths identical."""
    d, _ = _build(spark, tmp_path)
    pr = PositionsReader(spark, d)
    # beta positions: doc1@1, doc2@0, doc3@1, doc4@1, doc7@2, doc8@4
    assert _ids(pr.span_first_docs("beta", 1)) == [2]
    assert _ids(pr.span_first_docs("beta", 2)) == [1, 2, 3, 4]
    assert _ids(pr.span_first_docs("beta", 5)) == [1, 2, 3, 4, 7, 8]
    assert _ids(pr.span_first_docs("nosuch", 3)) == []
    assert _ids(pr.span_first_docs("beta", 2, local_threshold=0)) == [
        1, 2, 3, 4
    ]


def test_rescore_phrase_window_semantics(spark, tmp_path):
    """rescore: final = base_bm25 + phrase_bm25 for window docs; docs with
    the phrase but outside the base window never enter; phrase-less
    queries reduce to the (possibly reweighted) base ranking."""
    import numpy as np

    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader

    d, _ = _build(spark, tmp_path)
    pr = PositionsReader(spark, d)
    reader = IndexReader(spark, d)

    # window = 2: only the top-2 'gamma' hits are rescorable
    base = reader.search_topk("gamma", k=2)
    ph = {r["doc_id"]: r["score"]
          for r in pr.phrase_topk("alpha beta", k=100).collect()}
    got = pr.rescore_phrase("gamma", "alpha beta", window=2, k=2).collect()
    want = sorted(
        ((-(s + ph.get(dd, 0.0)), dd) for dd, s in base),
    )[:2]
    assert [r["doc_id"] for r in got] == [dd for _, dd in want]
    np.testing.assert_allclose(
        [r["score"] for r in got],
        [round(-f, 4) for f, _ in want], rtol=0, atol=1e-9,
    )
    window_ids = {dd for dd, _ in base}
    assert all(r["doc_id"] in window_ids for r in got)

    # no-phrase-match rescore == base ranking (score unchanged, rounded)
    got2 = pr.rescore_phrase("gamma", "omega omega", window=5, k=5).collect()
    base5 = reader.search_topk("gamma", k=5)
    assert [r["doc_id"] for r in got2] == [dd for dd, _ in base5]
    np.testing.assert_allclose(
        [r["score"] for r in got2],
        [round(s, 4) for _, s in base5], rtol=0, atol=1e-9,
    )

    # stopword-heavy-phrase guard: above local_threshold the phrase side
    # runs distributed — identical rows to the coordinator path
    dist = pr.rescore_phrase("gamma", "alpha beta", window=2, k=2,
                             local_threshold=0).collect()
    assert [(r["doc_id"], r["score"]) for r in dist] == \
        [(r["doc_id"], r["score"]) for r in got]


def test_sloppy_phrase_semantics(spark, tmp_path):
    """match_phrase slop (two terms, Lucene displacement): slop=0 is the
    exact phrase; forward gaps cost gap−1; reversal costs gap+1 (so a
    reversed-adjacent pair needs slop ≥ 2). Local and distributed agree."""
    rows = [
        (1, "alpha beta x"),        # adjacent forward: cost 0
        (2, "alpha x beta"),        # gap 1 forward: cost 1
        (3, "alpha x y beta"),      # gap 2 forward: cost 2
        (4, "beta alpha"),          # reversed adjacent: cost 2
        (5, "beta x alpha"),        # reversed gap: cost 3
        (6, "alpha only"),
        (7, "beta only"),
    ]
    d, _ = _build(spark, tmp_path, rows=rows)
    pr = PositionsReader(spark, d)
    for thr in (2_000_000, 0):
        got0 = _ids(pr.sloppy_phrase_docs("alpha", "beta", 0,
                                          local_threshold=thr))
        got1 = _ids(pr.sloppy_phrase_docs("alpha", "beta", 1,
                                          local_threshold=thr))
        got2 = _ids(pr.sloppy_phrase_docs("alpha", "beta", 2,
                                          local_threshold=thr))
        got3 = _ids(pr.sloppy_phrase_docs("alpha", "beta", 3,
                                          local_threshold=thr))
        assert got0 == [1], (thr, got0)          # == exact phrase
        assert got1 == [1, 2], (thr, got1)
        assert got2 == [1, 2, 3, 4], (thr, got2)  # reversal enters at 2
        assert got3 == [1, 2, 3, 4, 5], (thr, got3)
    # slop=0 equals the exact phrase operator
    assert _ids(pr.sloppy_phrase_docs("alpha", "beta", 0)) == \
        _ids(pr.phrase_docs("alpha beta"))
    # identical terms: two distinct occurrences within the window
    d2, _ = _build(spark, tmp_path.joinpath("idx2"),
                   rows=[(1, "alpha alpha"), (2, "alpha x alpha"),
                         (3, "alpha")])
    pr2 = PositionsReader(spark, d2)
    assert _ids(pr2.sloppy_phrase_docs("alpha", "alpha", 0)) == [1]
    assert _ids(pr2.sloppy_phrase_docs("alpha", "alpha", 1)) == [1, 2]


def test_canonical_key_cache_parity(spark, tmp_path):
    """Round-5 canonical keying: with every query term hot-cached, the
    prebuilt-key fast path must return exactly what the per-query
    assembly returns — across phrase, NEAR (ordered/unordered), sloppy,
    span_first, prefix expansion, and phrase-BM25 — including after a
    merge-invalidating refresh and with pre-reconcile duplicate docs."""
    d, cfg = _build(spark, tmp_path, num_segments=2)
    fast = PositionsReader(spark, d)
    fast.hot_min_entries = 0            # cache every term
    slow = PositionsReader(spark, d)
    slow.hot_min_entries = 0
    slow._canon_ready = lambda: False   # force per-query assembly

    def probe(pr):
        out = {
            "phrase": pr.phrase_match_ids("alpha beta"),
            "phrase3": pr.phrase_match_ids("alpha beta gamma"),
            "near": pr.near_match_ids("alpha", "gamma", slop=3),
            "near_ord": pr.near_match_ids("alpha", "gamma", slop=3,
                                          ordered=True),
            "self_near": pr.near_match_ids("beta", "beta", slop=2),
            "sloppy": _ids(pr.sloppy_phrase_docs("alpha", "beta", slop=1)),
            "span": _ids(pr.span_first_docs("beta", 2)),
            "topk": [(r["doc_id"], r["score"])
                     for r in pr.phrase_topk("alpha beta", k=5).collect()],
        }
        return out

    a1, b1 = probe(fast), probe(slow)
    assert a1 == b1
    # second pass: everything hot on both readers (warm parity)
    assert probe(fast) == probe(slow) == a1
    assert fast._canon_cache            # the fast path actually engaged

    # pre-reconcile duplicate: re-ingest doc 2 into a NEW segment with
    # different text; both readers must agree (refresh drops all caches)
    docs = spark.createDataFrame([(2, "alpha beta zeta")],
                                 "doc_id long, text string")
    build_index(spark, docs, d, cfg, content_col="text",
                doc_id_col="doc_id")
    fast.refresh()
    slow.refresh()
    slow._canon_ready = lambda: False
    a2, b2 = probe(fast), probe(slow)
    assert a2 == b2


_STREAM_VOCAB = ("alpha", "beta", "gamma", "delta", "omega")
_STREAM_SCHEMA = "repo string, path string, commit string, content string"


def _phrase_oracle(toks: dict[int, list[str]], phrase: str) -> list[int]:
    q = phrase.split()
    return sorted(
        d for d, ts in toks.items()
        if any(ts[i:i + len(q)] == q for i in range(len(ts)))
    )


def _near_oracle(toks: dict[int, list[str]], a: str, b: str,
                 slop: int) -> list[int]:
    return sorted(
        d for d, ts in toks.items()
        if any(abs(i - j) <= slop
               for i, x in enumerate(ts) if x == a
               for j, y in enumerate(ts) if y == b)
    )


def test_streamed_reemits_reconcile_and_auto_merge_with_positions(
    spark, tmp_path
):
    """Three streamed files re-emit earlier keys into a positions-on index
    that also holds a build_index segment. Every per-batch reconcile and
    the closing auto_merge union merged segments with fresh ones, so
    merged positions must keep their skip columns; after every round
    and after the merge, doc_count is the latest-wins key count and
    phrase/NEAR doc sets (local and distributed) equal a token-position
    oracle."""
    import random

    from kafka_connect_opensearch_spark.config import DOC_KEY_SEP
    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py
    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader
    from kafka_connect_opensearch_spark.operators.indexer import doc_id_py
    from kafka_connect_opensearch_spark.operators.merge import auto_merge
    from kafka_connect_opensearch_spark.streaming.ingest import (
        start_streaming_index_build,
    )

    rng = random.Random(7)

    def row(prefix: str, k: int) -> tuple:
        n = rng.randint(3, 9)
        text = " ".join(rng.choice(_STREAM_VOCAB) for _ in range(n))
        return ("r", f"{prefix}{k}.py", "c1", text)

    # merge_factor=2 puts the 20-doc build segment and the 26-doc
    # reconciled stream segment in one tier, so auto_merge has work
    cfg = EngineConfig(num_segments=1, salt_partitions=2,
                       shuffle_partitions=4, index_positions=True,
                       merge_factor=2)
    idx = str(tmp_path / "idx")
    base = [row("b", k) for k in range(20)]
    build_index(spark, spark.createDataFrame(base, _STREAM_SCHEMA), idx, cfg)
    rounds = [
        [row("s", k) for k in range(12)],
        [row("s", k) for k in range(12, 20)]
        + [row("s", k) for k in (0, 3, 5)],             # re-emit round 0
        [row("s", k) for k in range(20, 26)]
        + [row("s", k) for k in (3, 14, 7)],            # re-emit rounds 0-1
    ]
    latest = {r[:3]: r[3] for r in base}

    def check():
        toks = {
            doc_id_py(DOC_KEY_SEP.join(k)): tokenize_py(text)
            for k, text in latest.items()
        }
        assert IndexReader(spark, idx).doc_count() == len(latest)
        pr = PositionsReader(spark, idx)
        for phrase in ("alpha beta", "beta gamma delta", "omega alpha"):
            want = _phrase_oracle(toks, phrase)
            assert pr.phrase_match_ids(phrase) == want
            assert _ids(pr.phrase_docs(phrase, local_threshold=0)) == want
        for a, b, slop in (("alpha", "delta", 2), ("gamma", "omega", 1)):
            want = _near_oracle(toks, a, b, slop)
            assert pr.near_match_ids(a, b, slop) == want
            assert _ids(pr.near_docs(a, b, slop, local_threshold=0)) == want

    src = str(tmp_path / "src")
    for i, rows in enumerate(rounds):
        spark.createDataFrame(rows, _STREAM_SCHEMA).coalesce(1).write.parquet(
            src, mode="append"
        )
        q = start_streaming_index_build(
            spark, src, _STREAM_SCHEMA, idx, str(tmp_path / "ckpt"), cfg,
            max_files_per_trigger=1,
        )
        q.awaitTermination(300)
        assert q.exception() is None, f"round {i}: {q.exception()}"
        latest.update({r[:3]: r[3] for r in rows})
        check()

    m = auto_merge(spark, idx, cfg)
    assert m.segments_merged == 2
    assert len(SegmentStore(idx).active_segments()) == 1
    check()
