"""Segment merge (D3) and streaming ingestion tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kafka_connect_opensearch_spark.config import DOC_KEY_SEP, EngineConfig
from kafka_connect_opensearch_spark.operators.bm25 import (
    IndexReader,
    brute_force_bm25,
)
from kafka_connect_opensearch_spark.operators.indexer import (
    build_index,
    doc_id_py,
)
from kafka_connect_opensearch_spark.operators.merge import merge_segments
from kafka_connect_opensearch_spark.operators.segments import SegmentStore
from kafka_connect_opensearch_spark.sources.corpus import (
    generate_corpus,
    generate_corpus_pandas,
)

N = 150
CFG = EngineConfig(num_segments=4, salt_partitions=2, shuffle_partitions=4)


def _oracle_pdf(n=N):
    pdf = generate_corpus_pandas(n)
    pdf["doc_key"] = [
        DOC_KEY_SEP.join(t)
        for t in zip(pdf["repo"], pdf["path"], pdf["commit"], strict=True)
    ]
    pdf["doc_id"] = pdf["doc_key"].map(doc_id_py)
    return pdf


@pytest.fixture(scope="module")
def merged_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("merged"))
    build_index(spark, generate_corpus(spark, N), d, CFG)
    store = SegmentStore(d)
    assert len(store.active_segments()) == 4
    m = merge_segments(spark, d, CFG)
    assert m.segments_merged == 4 and m.segments_built == 1
    assert len(store.active_segments()) == 1
    return d


def test_merge_preserves_search_results(spark, merged_index):
    """Rank-identical BM25 before/after merge (scores bit-identical to the
    brute-force oracle either way)."""
    reader = IndexReader(spark, merged_index)
    assert reader.doc_count() == N
    pdf = _oracle_pdf()
    for q, mode in [("ident_1 return", "or"), ("return import", "and"),
                    ("ident_2", "or")]:
        got = reader.search(q, k=10, mode=mode).toPandas()
        want = brute_force_bm25(pdf, q, k=10, mode=mode, text_col="content")
        assert got["doc_id"].tolist() == want["doc_id"].tolist()
        np.testing.assert_array_equal(
            got["score"].to_numpy(), want["score"].to_numpy()
        )


def test_tiered_auto_merge_converges(spark, tmp_path):
    """Many micro-batches converge to a bounded segment count under the
    size-tiered policy, with rank-identical queries before/after."""
    from kafka_connect_opensearch_spark.operators.merge import (
        auto_merge,
        tiered_merge_candidates,
    )

    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=12, salt_partitions=2,
                       shuffle_partitions=4, merge_factor=4)
    build_index(spark, generate_corpus(spark, N), d, cfg)
    store = SegmentStore(d)
    assert len(store.active_segments()) == 12
    reader = IndexReader(spark, d)
    before = reader.search("ident_1 return", k=10).toPandas()

    m = auto_merge(spark, d, cfg)
    after_segs = store.active_segments()
    assert len(after_segs) <= 4
    assert m.segments_merged >= 8
    # fixed point: no tier trips anymore
    assert tiered_merge_candidates(after_segs, cfg.merge_factor) == []

    reader2 = IndexReader(spark, d)
    after = reader2.search("ident_1 return", k=10).toPandas()
    assert after["doc_id"].tolist() == before["doc_id"].tolist()
    np.testing.assert_array_equal(
        after["score"].to_numpy(), before["score"].to_numpy()
    )


def test_merge_latest_wins_across_generations(spark, tmp_path):
    """Re-ingesting changed content for the same doc identity: the newer
    generation shadows the older one after merge (W4 at index level)."""
    d = str(tmp_path / "idx")
    v1 = spark.createDataFrame(
        [("r", "a.py", "c1", "py", "alpha beta gamma"),
         ("r", "b.py", "c1", "py", "delta epsilon")],
        "repo string, path string, commit string, lang string, content string",
    )
    cfg = EngineConfig(num_segments=1, salt_partitions=2)
    build_index(spark, v1, d, cfg)
    # re-ingest doc a.py/c1 with different content into a new segment (a
    # later bulk load gets the next generation): same (repo,path,commit)
    # identity → same doc_id
    v2 = spark.createDataFrame(
        [("r", "a.py", "c1", "py", "alpha omega omega")],
        "repo string, path string, commit string, lang string, content string",
    )
    from kafka_connect_opensearch_spark.operators.indexer import (
        build_index_bulk,
    )

    build_index_bulk(spark, v2, d, cfg, tag="g1")
    merge_segments(spark, d, cfg)
    reader = IndexReader(spark, d)
    assert reader.doc_count() == 2
    assert reader.match_count("omega") == 1     # new content searchable
    assert reader.match_count("beta") == 0      # old content shadowed
    assert reader.match_count("delta") == 1     # untouched doc intact


def test_merge_applies_deletes(spark, tmp_path):
    d = str(tmp_path / "idx")
    src = generate_corpus(spark, 40)
    cfg = EngineConfig(num_segments=2, salt_partitions=2)
    build_index(spark, src, d, cfg)
    pdf = _oracle_pdf(40)
    victim_keys = pdf["doc_key"].iloc[:5].tolist()
    deletes = spark.createDataFrame([(k,) for k in victim_keys],
                                    "doc_key string")
    merge_segments(spark, d, cfg, delete_doc_keys=deletes)
    reader = IndexReader(spark, d)
    assert reader.doc_count() == 35
    remaining = {r["doc_id"] for r in reader.docs().select("doc_id").collect()}
    assert remaining == set(pdf["doc_id"].iloc[5:])


def test_streaming_backpressure_pause_resume(spark, tmp_path):
    """PartitionPauserTest parity: when undrained segments cross the high
    watermark, ingest pauses, drains via tiered merge to the low mark, and
    resumes — segment count stays bounded, results stay rank-identical."""
    from kafka_connect_opensearch_spark.sources.corpus import CORPUS_SCHEMA
    from kafka_connect_opensearch_spark.streaming.ingest import (
        SegmentBackpressure,
        start_streaming_index_build,
    )

    src_dir = str(tmp_path / "src")
    pdf = _oracle_pdf(60)
    corpus = generate_corpus(spark, 60)
    for k in range(10):  # ten "arriving" files → ten micro-batches
        corpus.filter(F.pmod(F.xxhash64("path"), F.lit(10)) == k).coalesce(
            1
        ).write.parquet(src_dir, mode="append")
    idx_dir = str(tmp_path / "bidx")
    cfg = EngineConfig(num_segments=1, salt_partitions=2, shuffle_partitions=4,
                       merge_factor=3)
    gate = SegmentBackpressure(
        SegmentStore(idx_dir), cfg, high_mark=5, low_mark=2
    )
    q = start_streaming_index_build(
        spark, src_dir, CORPUS_SCHEMA, idx_dir, str(tmp_path / "ckpt"),
        cfg, max_files_per_trigger=1, backpressure=gate,
    )
    q.awaitTermination(240)
    assert gate.pauses >= 1 and gate.resumes == gate.pauses
    # every pause drained to ≤ low_mark before resuming
    assert all(n <= 2 for ev, n in gate.events if ev == "resume")
    store = SegmentStore(idx_dir)
    assert len(store.active_segments()) <= 5 + 1
    reader = IndexReader(spark, idx_dir)
    assert reader.doc_count() == 60
    got = reader.search("ident_1 return", k=10).toPandas()
    want = brute_force_bm25(pdf, "ident_1 return", k=10, text_col="content")
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(
        got["score"].to_numpy(), want["score"].to_numpy()
    )


def test_streaming_ingest(spark, tmp_path):
    """File-stream ingestion: micro-batches become segments; the stream's
    index answers identically to a batch-built one."""
    from kafka_connect_opensearch_spark.sources.corpus import CORPUS_SCHEMA
    from kafka_connect_opensearch_spark.streaming.ingest import (
        start_streaming_index_build,
    )

    src_dir = str(tmp_path / "stream_src")
    pdf = _oracle_pdf(60)
    corpus = generate_corpus(spark, 60)
    # two "arriving" files
    corpus.filter(F.pmod(F.xxhash64("path"), F.lit(2)) == 0).write.parquet(
        src_dir, mode="append"
    )
    corpus.filter(F.pmod(F.xxhash64("path"), F.lit(2)) == 1).write.parquet(
        src_dir, mode="append"
    )
    idx_dir = str(tmp_path / "sidx")
    q = start_streaming_index_build(
        spark, src_dir, CORPUS_SCHEMA, idx_dir, str(tmp_path / "ckpt"),
        EngineConfig(num_segments=1, salt_partitions=2),
        max_files_per_trigger=2,
    )
    q.awaitTermination(120)
    reader = IndexReader(spark, idx_dir)
    assert reader.doc_count() == 60
    got = reader.search("ident_1 return", k=10).toPandas()
    want = brute_force_bm25(pdf, "ident_1 return", k=10, text_col="content")
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(), want["score"].to_numpy())


def test_streaming_ingest_with_positions(spark, tmp_path):
    """Streaming segments carry positions when the mapping asks: phrase
    queries over the stream-built index match a direct token-adjacency
    reference over the same docs."""
    from kafka_connect_opensearch_spark.operators.positions import (
        PositionsReader,
    )
    from kafka_connect_opensearch_spark.sources.corpus import CORPUS_SCHEMA
    from kafka_connect_opensearch_spark.streaming.ingest import (
        start_streaming_index_build,
    )
    from kafka_connect_opensearch_spark.functions.analysis import tokenize_py

    src_dir = str(tmp_path / "stream_src")
    pdf = _oracle_pdf(40)
    generate_corpus(spark, 40).write.parquet(src_dir, mode="append")
    idx_dir = str(tmp_path / "sidx")
    q = start_streaming_index_build(
        spark, src_dir, CORPUS_SCHEMA, idx_dir, str(tmp_path / "ckpt"),
        EngineConfig(num_segments=1, salt_partitions=2, index_positions=True),
        max_files_per_trigger=2,
    )
    q.awaitTermination(120)
    pr = PositionsReader(spark, idx_dir)
    got = pr.phrase_match_ids("return import")
    want = sorted(
        int(r.doc_id)
        for _, r in pdf.iterrows()
        if " return import " in f" {' '.join(tokenize_py(r.content))} "
    )
    assert got == want and len(want) > 0


def test_streaming_dedup_first_wins_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark dedup: the emitted stream holds one
    record per content digest (within the watermark horizon), equal as a
    digest SET to the batch exact dedup; duplicates with distinct ids are
    collapsed."""
    import datetime as dt

    from kafka_connect_opensearch_spark.streaming.dedup import (
        dedup_stream,
        run_dedup_stream,
    )

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for i in range(60):
        text = f"document body {i % 20}"          # 3 copies of 20 texts
        rows.append((i, text, base + dt.timedelta(seconds=i)))
    schema = "doc_id long, text string, ts timestamp"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    df.repartition(3).write.parquet(src)

    q = run_dedup_stream(
        spark, src, schema, str(tmp_path / "ckpt"), str(tmp_path / "out"),
        watermark_delay="1 hour",
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    batch = dedup_stream(df, "text", "ts")
    got_digests = sorted(r["digest"] for r in got.collect())
    want_digests = sorted(r["digest"] for r in batch.collect())
    assert len(got_digests) == 20          # one survivor per distinct text
    assert got_digests == want_digests     # stream ≡ batch as digest sets


def test_reconcile_updates_makes_latest_wins_immediate(spark, tmp_path):
    """A doc re-ingested into a newer-generation segment coexists with its
    old copy until reconciliation (doc_count over-reports, search returns
    both rows, stale phrases match) — reconcile_updates must restore
    latest-wins without being told which docs changed."""
    from kafka_connect_opensearch_spark.operators.indexer import (
        build_index,
        build_index_bulk,
    )
    from kafka_connect_opensearch_spark.operators.merge import (
        reconcile_updates,
    )
    from kafka_connect_opensearch_spark.operators.positions import (
        PositionsReader,
    )

    d = str(tmp_path / "idx")
    v1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon alpha beta")],
        "doc_id long, text string",
    )
    cfg = EngineConfig(num_segments=1, salt_partitions=2,
                       shuffle_partitions=2, index_positions=True)
    build_index(spark, v1, d, cfg, content_col="text", doc_id_col="doc_id")
    # re-ingest doc 1 into a newer-generation segment (a later bulk load),
    # with no reconcile
    v2 = spark.createDataFrame([(1, "alpha omega omega")],
                               "doc_id long, text string")
    build_index_bulk(spark, v2, d, cfg, content_col="text",
                     doc_id_col="doc_id", tag="g1")
    reader = IndexReader(spark, d)
    assert reader.doc_count() == 3          # the documented stale window

    m = reconcile_updates(spark, d, cfg)
    assert m is not None and m.segments_merged == 2
    reader.refresh()
    assert reader.doc_count() == 2
    hits = reader.search("alpha", k=10).collect()
    assert sorted(r["doc_id"] for r in hits) == [1, 2]   # no duplicates
    pr = PositionsReader(spark, d)
    assert sorted(pr.phrase_match_ids("alpha beta")) == [2]   # stale gone
    assert sorted(pr.phrase_match_ids("alpha omega")) == [1]  # new visible
    # idempotent: nothing left to reconcile
    assert reconcile_updates(spark, d, cfg) is None


def test_streaming_update_latest_wins_without_manual_merge(spark, tmp_path):
    """A later micro-batch that re-ingests an earlier doc must win as soon
    as the stream drains — the per-batch reconcile applies Lucene's
    update-marks-deleted contract without any manual merge."""
    from kafka_connect_opensearch_spark.streaming.ingest import (
        start_streaming_index_build,
    )

    schema = "repo string, path string, commit string, content string"
    src_dir = str(tmp_path / "src")
    b1 = spark.createDataFrame(
        [("r", "a.py", "c1", "alpha beta"), ("r", "b.py", "c1", "gamma")],
        schema,
    )
    b1.coalesce(1).write.parquet(src_dir, mode="append")
    b2 = spark.createDataFrame(
        [("r", "a.py", "c1", "omega delta")],  # update of (r, a.py, c1)
        schema,
    )
    b2.coalesce(1).write.parquet(src_dir, mode="append")

    idx = str(tmp_path / "sidx")
    q = start_streaming_index_build(
        spark, src_dir, schema, idx, str(tmp_path / "ckpt"),
        EngineConfig(num_segments=1, salt_partitions=2),
        id_cols=("repo", "path", "commit"), content_col="content",
        max_files_per_trigger=1,   # one file per micro-batch → an update
    )
    q.awaitTermination(120)
    reader = IndexReader(spark, idx)
    assert reader.doc_count() == 2
    assert reader.match_count("omega", "or") == 1
    # the superseded content must be gone
    assert reader.match_count("alpha", "or") + \
        reader.match_count("beta", "or") == 0


def test_every_write_uses_the_one_segment_layout(spark, tmp_path):
    """Every writer — a fault-injected then resumed build_index, streamed
    micro-batches whose re-emits reconcile against build segments and
    then against the reconciled segment, a fast (disjoint) merge and a
    delete merge — lays segments out under their own root: every active
    segment has a ``path``, no ``segments/`` dir exists, and every
    positions file carries the ``blk_max_doc`` skip column."""
    import glob
    import os

    import pyarrow.parquet as pq

    from kafka_connect_opensearch_spark.streaming.ingest import (
        start_streaming_index_build,
    )

    schema = "repo string, path string, commit string, content string"
    base = [("r", f"b{k}.py", "c1", f"alpha beta w{k % 3}") for k in range(12)]
    cfg = EngineConfig(num_segments=3, salt_partitions=2,
                       shuffle_partitions=4, index_positions=True)
    d = str(tmp_path / "idx")
    with pytest.raises(RuntimeError, match="fault injection"):
        build_index(spark, spark.createDataFrame(base, schema), d, cfg,
                    fail_after_batches=1)
    m = build_index(spark, spark.createDataFrame(base, schema), d, cfg)
    assert m.batches_skipped == 1

    # two streamed batches re-emitting base keys → a per-batch reconcile
    # with build segments, then one with the reconciled segment
    src = str(tmp_path / "src")
    for rows in (
        [("r", "b0.py", "c1", "gamma delta"), ("r", "b5.py", "c1", "omega"),
         ("r", "s0.py", "c1", "alpha gamma")],
        [("r", "b0.py", "c1", "delta delta"), ("r", "b7.py", "c1", "gamma"),
         ("r", "s1.py", "c1", "beta gamma")],
    ):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            src, mode="append"
        )
    q = start_streaming_index_build(spark, src, schema, d,
                                    str(tmp_path / "ckpt"), cfg,
                                    max_files_per_trigger=1)
    q.awaitTermination(300)
    store = SegmentStore(d)
    merges = [n for n in store.committed_batches() if n.startswith("merge_")]
    assert len(merges) == 2
    assert IndexReader(spark, d).doc_count() == 14

    fast = merge_segments(spark, d, cfg)                 # disjoint path
    assert fast.docs_indexed == 14
    deletes = spark.createDataFrame(
        [(DOC_KEY_SEP.join(("r", "b1.py", "c1")),)], "doc_key string"
    )
    merge_segments(spark, d, cfg, delete_doc_keys=deletes)
    reader = IndexReader(spark, d)
    assert reader.doc_count() == 13
    assert reader.match_count("omega", "or") == 1

    assert all(s.path for s in store.active_segments())
    assert not glob.glob(os.path.join(d, "**", "segments"), recursive=True)
    pos_files = glob.glob(
        os.path.join(d, "*", "positions.parquet", "**", "*.parquet"),
        recursive=True,
    )
    assert pos_files
    for f in pos_files:
        assert "blk_max_doc" in pq.read_schema(f).names, f


def test_classic_layout_index_is_refused(tmp_path):
    """An index whose manifest still names a per-segment-layout segment
    (empty ``path``) is refused with a rebuild hint, not misread."""
    store = SegmentStore(str(tmp_path / "old"))
    store.create_if_absent({"positions": False})
    store.commit_batch("b0000", {
        "batch": "b0000", "replaces": [],
        "segments": [{"name": "seg_g0_b0000", "generation": 0,
                      "doc_count": 3, "sum_dl": 9, "n_terms": 4,
                      "n_postings": 6, "path": ""}],
    })
    with pytest.raises(ValueError, match="seg_g0_b0000.*rebuild"):
        store.active_segments()
