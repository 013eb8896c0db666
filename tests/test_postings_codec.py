"""Codec round-trips — mirrors the granularity of the reference's unit layer
(SURVEY.md §5.1); property-based via hypothesis."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_connect_opensearch_spark.operators.postings import (
    decode_block_max,
    decode_postings,
    encode_postings,
    merge_postings,
    varint_decode,
    varint_encode,
)


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_known_values():
    # 0 and 127 are single bytes; 128 is two bytes (LEB128)
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300)
)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = varint_decode(varint_encode(arr))
    assert np.array_equal(out, arr)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=10_000),
        ),
        max_size=500,
        unique_by=lambda t: t[0],
    )
)
def test_postings_roundtrip(pairs):
    ids = np.array([p[0] for p in pairs], dtype=np.int64)
    tfs = np.array([p[1] for p in pairs], dtype=np.int64)
    ids_b, tfs_b, bmax_b = encode_postings(ids, tfs, block_size=7)
    out_ids, out_tfs = decode_postings(ids_b, tfs_b)
    order = np.argsort(ids, kind="stable")
    assert np.array_equal(out_ids, ids[order])
    assert np.array_equal(out_tfs, tfs[order])
    bmax = decode_block_max(bmax_b)
    st_tfs = tfs[order]
    for i, m in enumerate(bmax):
        assert m == st_tfs[i * 7 : (i + 1) * 7].max()


def test_merge_postings_sums_duplicate_ids():
    a = (np.array([1, 3, 5]), np.array([2, 2, 2]))
    b = (np.array([3, 4]), np.array([5, 1]))
    ids, tfs = merge_postings([a, b])
    assert ids.tolist() == [1, 3, 4, 5]
    assert tfs.tolist() == [2, 7, 1, 2]


def test_merge_postings_empty():
    ids, tfs = merge_postings([])
    assert ids.size == 0 and tfs.size == 0


def test_positions_store_phrase_match(spark, tmp_path):
    """Positional store (single-segment build): build → phrase/
    single/missing-term queries match a direct token-adjacency reference
    over the same docs."""
    from kafka_connect_opensearch_spark.config import EngineConfig
    from kafka_connect_opensearch_spark.operators.indexer import build_index
    from kafka_connect_opensearch_spark.operators.positions import (
        PositionsReader,
    )

    rows = [
        (1, "alpha beta gamma"),
        (2, "beta alpha beta gamma alpha"),
        (3, "gamma beta alpha"),
        (4, "alpha, beta! gamma?"),       # punctuation must not break it
        (5, "alpha alpha alpha"),
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "idx")
    cfg = EngineConfig(num_segments=1, salt_partitions=2,
                       shuffle_partitions=2, index_positions=True)
    build_index(spark, docs, d, cfg, content_col="text", doc_id_col="doc_id")
    pr = PositionsReader(spark, d)

    def phrase(p):
        return sorted(r["doc_id"] for r in pr.phrase_docs(p).collect())

    assert phrase("alpha beta") == [1, 2, 4]
    # doc 2: "... alpha beta gamma ..." at pos 1-3
    assert phrase("alpha beta gamma") == [1, 2, 4]
    assert phrase("alpha alpha") == [5]
    assert phrase("nosuch term") == []
    assert phrase("gamma") == [1, 2, 3, 4]
