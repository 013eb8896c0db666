"""Bulk (single-pipeline) build must be behaviorally identical to the
micro-batched build: same doc counts, rank-identical BM25, mergeable."""

from __future__ import annotations

import os

import numpy as np
import pytest

from kafka_connect_opensearch_spark.config import EngineConfig
from kafka_connect_opensearch_spark.operators.bm25 import (
    IndexReader,
    brute_force_bm25,
)
from kafka_connect_opensearch_spark.operators.indexer import build_index_bulk
from kafka_connect_opensearch_spark.operators.merge import merge_segments
from kafka_connect_opensearch_spark.operators.segments import SegmentStore
from kafka_connect_opensearch_spark.sources.corpus import (
    generate_corpus,
    generate_corpus_pandas,
)
from tests.test_merge_streaming import _oracle_pdf

N = 150
CFG = EngineConfig(num_segments=4, salt_partitions=4, shuffle_partitions=4)


@pytest.fixture(scope="module")
def bulk_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bulk"))
    m = build_index_bulk(spark, generate_corpus(spark, N), d, CFG)
    assert m.docs_indexed == N
    assert m.segments_built == 4
    assert m.details["observed_docs"] == N
    assert m.postings_written == m.details["observed_postings"]
    return d


def test_bulk_rank_identical(spark, bulk_index):
    reader = IndexReader(spark, bulk_index)
    assert reader.doc_count() == N
    pdf = _oracle_pdf(N)
    for q, mode in [("ident_1 return", "or"), ("return import", "and"),
                    ("ident_7", "or")]:
        got = reader.search(q, k=10, mode=mode).toPandas()
        want = brute_force_bm25(pdf, q, k=10, mode=mode, text_col="content")
        assert got["doc_id"].tolist() == want["doc_id"].tolist()
        np.testing.assert_array_equal(
            got["score"].to_numpy(), want["score"].to_numpy()
        )


def test_bulk_resume_is_noop(spark, bulk_index):
    m2 = build_index_bulk(spark, generate_corpus(spark, N), bulk_index, CFG)
    assert m2.segments_built == 0 and m2.batches_skipped == CFG.num_segments


def test_bulk_segments_merge_into_own_root(spark, bulk_index):
    store = SegmentStore(bulk_index)
    roots_before = {s.path for s in store.active_segments()}
    assert all(roots_before)
    m = merge_segments(spark, bulk_index, CFG)
    assert m.segments_merged == 4
    segs = store.active_segments()
    # the merged segment is written under a fresh root of its own
    assert len(segs) == 1 and segs[0].path not in roots_before
    assert os.path.isdir(
        os.path.join(segs[0].path, "postings.parquet", f"seg={segs[0].name}")
    )
    reader = IndexReader(spark, bulk_index)
    assert reader.doc_count() == N
    pdf = _oracle_pdf(N)
    got = reader.search("ident_2 return", k=10).toPandas()
    want = brute_force_bm25(pdf, "ident_2 return", k=10, text_col="content")
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(), want["score"].to_numpy())
