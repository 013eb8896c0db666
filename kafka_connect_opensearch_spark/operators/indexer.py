"""Inverted-index build: salted, resumable, explode-free (SURVEY.md D2-D4).

Every segment — built, streamed or merged — is written by ONE writer,
:func:`write_segments`: docs/postings Hive-partitioned by ``seg`` and
positions by (``seg``, ``rb``) under a fresh root, per-segment stats taken
from Observations riding the write jobs. Its callers differ only in the
frames they feed it:

- :func:`build_index` — micro-batched (one batch → one immutable segment,
  mirroring the connector's bulk-flush unit, OpenSearchClient.java:145-155),
  built in waves of ``ingest_wave_size`` batches per pipeline; resumable
  per batch via the manifest.
- :func:`build_index_bulk` — ALL segments in one pipeline (initial-load
  path), single atomic commit.
- streaming ingest — a one-segment wave per micro-batch.
- ``merge.merge_segments`` — stored packed rows (disjoint fast path) or
  re-packed survivors (latest-wins / delete path).

Build pipeline:

  source
    → identity (doc_key/doc_id/sha256 — cheap JVM exprs)
    → repartition by hash(doc_id)       — spreads work AND is the stopword
      salt: a hot term's postings split across all partitions, so no
      level-1 worker sees more than a partition's worth (AQE can't split
      aggregation groups; the spread is explicit, SURVEY.md §4.2)
    → tokenize (regexp_extract_all, whole-stage codegen)
    → level-1 pack (mapInArrow): pyarrow dictionary_encode counts terms —
      NO explode, no Python string objects; emits delta+varint packed
      partial posting lists, one row per (seg, term, partition)
    → shuffle packed partials by (seg, term) (~20× fewer bytes than raw
      rows)
    → level-2 merge (sorted-run mapInPandas): concat-decode, reset-cumsum,
      re-encode + per-block max_tf; output stays term-sorted per file so
      parquet row-group min/max stats prune query-time term lookups

Scale notes (100 TB / 10^12 docs): per-term level-2 group size is bounded
by the segment's doc count (the same bound Lucene accepts per segment);
nothing is ever collected to the driver except per-segment counters.
Local-mode JVMs should run -XX:+UseParallelGC — G1 concurrent marking
throttles these allocation-heavy stages at high thread counts.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kafka_connect_opensearch_spark.config import DOC_KEY_SEP, EngineConfig
from kafka_connect_opensearch_spark.functions.analysis import tokenize
from kafka_connect_opensearch_spark.operators import postings as codec
from kafka_connect_opensearch_spark.operators.segments import (
    DOCS_COLUMNS,
    POSTINGS_SCHEMA,
    BuildMetrics,
    SegmentMeta,
    SegmentStore,
)
from kafka_connect_opensearch_spark.retry import call_with_retries

PARTIAL_SCHEMA = "term string, doc_ids binary, tfs binary, dls binary"
PARTIAL_COLS = ["term", "doc_ids", "tfs", "dls"]


def doc_id_expr(doc_key_col: str = "doc_key") -> F.Column:
    """Deterministic int64 doc id from the document key.

    ``doc_id = int(sha256(doc_key)[:15 hex], 16)`` — 60 bits, positive,
    reproducible in plain Python/DuckDB for oracles (unlike xxhash64).
    Reference parity: `_id` = "{topic}+{partition}+{offset}"
    (DataConverter.java:156-158) re-cast as a content-addressed key
    (SURVEY.md §1.4). Full sha256(content) is stored alongside for the
    north-rule per-row parity check.
    """
    return F.conv(F.substring(F.sha2(F.col(doc_key_col), 256), 1, 15), 16, 10).cast(
        "long"
    )


def doc_id_py(doc_key: str) -> int:
    import hashlib

    return int(hashlib.sha256(doc_key.encode()).hexdigest()[:15], 16)


def _pack_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pack a term-sorted frame into one partial row per term.

    Fully vectorized: one lexsort (rows arrive (term, salt, doc_id)-sorted,
    not (term, doc_id)-sorted — salt sub-runs must interleave), one delta
    pass, and ONE varint-encode pass per column with per-group byte
    slicing. No per-group numpy calls.
    """
    import numpy as np

    terms = pdf["term"].to_numpy()
    ids = pdf["doc_id"].to_numpy(dtype="int64")
    tfs = pdf["tf"].to_numpy(dtype="int64")
    dls = pdf["dl"].to_numpy(dtype="int64")
    change = np.empty(terms.size, dtype=bool)
    change[0] = True
    np.not_equal(terms[1:], terms[:-1], out=change[1:])
    gidx = np.cumsum(change) - 1
    order = np.lexsort((ids, gidx))
    ids, tfs, dls = ids[order], tfs[order], dls[order]
    starts = np.nonzero(change)[0]  # group boundaries invariant under sort
    deltas = ids.copy()
    deltas[1:] -= ids[:-1]
    deltas[starts] = ids[starts]
    return pd.DataFrame(
        {
            "term": terms[starts],
            "doc_ids": codec.varint_encode_grouped(deltas.astype("uint64"), starts),
            "tfs": codec.varint_encode_grouped(tfs.astype("uint64"), starts),
            "dls": codec.varint_encode_grouped(dls.astype("uint64"), starts),
        }
    )


def _stream_groups(batches: Iterator[pd.DataFrame], key):
    """Re-chunk an ordered batch stream so no key group spans two yields.

    ``key``: column name or list of names (composite keys compare
    element-wise across all columns).
    """
    import numpy as np

    keys = [key] if isinstance(key, str) else list(key)
    carry: pd.DataFrame | None = None
    for b in batches:
        if carry is not None and len(carry):
            b = pd.concat([carry, b], ignore_index=True)
            carry = None
        if not len(b):
            continue
        change = np.zeros(len(b) - 1, dtype=bool)
        for k in keys:
            arr = b[k].to_numpy()
            change |= arr[1:] != arr[:-1]
        nz = np.nonzero(change)[0]
        if nz.size == 0:
            carry = b  # whole batch is one (possibly continuing) group
            continue
        split = int(nz[-1] + 1)
        carry = b.iloc[split:]
        yield b.iloc[:split]
    if carry is not None and len(carry):
        yield carry


def _pack_partial_stream(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for chunk in _stream_groups(batches, "term"):
        yield _pack_rows(chunk)


def _pack_doc_group_arrow(doc_id_arr, dl_arr, tokens_arr):
    """Core level-1 pack on Arrow arrays; returns [term, doc_ids, tfs, dls]
    Arrow arrays or None for an empty group."""
    import numpy as np
    import pyarrow as pa

    n = len(doc_id_arr)
    if n == 0:
        return None
    la = tokens_arr
    if isinstance(la, pa.ChunkedArray):  # pragma: no cover — RB cols are flat
        la = la.combine_chunks()
    flat = la.flatten()  # zero-copy view of all tokens, offset-aware
    if len(flat) == 0:
        return None
    offsets = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = offsets[1:] - offsets[:-1]
    enc = flat.dictionary_encode()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniques = enc.dictionary
    doc_ids = doc_id_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    dls = dl_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    doc_rep = np.repeat(np.arange(n, dtype=np.int64), lens)
    # order docs by doc_id so packed lists come out ascending
    doc_order = np.argsort(doc_ids, kind="stable")
    doc_rank = np.empty(n, dtype=np.int64)
    doc_rank[doc_order] = np.arange(n)
    key = codes * n + doc_rank[doc_rep]
    uniq_key, tfs = np.unique(key, return_counts=True)
    t_idx = uniq_key // n
    d_rank = uniq_key % n
    ids = doc_ids[doc_order][d_rank]
    out_dls = dls[doc_order][d_rank]
    change = np.empty(t_idx.size, dtype=bool)
    change[0] = True
    np.not_equal(t_idx[1:], t_idx[:-1], out=change[1:])
    starts = np.nonzero(change)[0]
    deltas = ids.copy()
    deltas[1:] -= ids[:-1]
    deltas[starts] = ids[starts]
    terms = uniques.take(pa.array(t_idx[starts], type=pa.int64())).cast(
        pa.string()
    )
    return [
        terms,
        pa.array(
            codec.varint_encode_grouped(deltas.astype("uint64"), starts),
            type=pa.binary(),
        ),
        pa.array(
            codec.varint_encode_grouped(tfs.astype("uint64"), starts),
            type=pa.binary(),
        ),
        pa.array(
            codec.varint_encode_grouped(out_dls.astype("uint64"), starts),
            type=pa.binary(),
        ),
    ]


def _pack_docs_direct_by_seg(batches):
    """(seg, doc_id, dl, tokens) Arrow batches → packed partial postings,
    each seg group within a batch packed independently (mapInArrow).

    The level-1 aggregation happens inside the doc-partitioned scan stage
    with NO explode and NO Python string objects: the token lists stay in
    Arrow, ``dictionary_encode`` (C++) replaces per-token Python work, and
    everything after is int64 numpy. The shuffle that follows carries one
    *packed binary* row per (seg, term, partition), and the
    5×-corpus-size occurrence stream never materializes anywhere."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for rb in batches:
        if rb.num_rows == 0:
            continue
        segs = rb.column("seg")
        for seg in pc.unique(segs):
            sub = rb.filter(pc.equal(segs, seg))
            out = _pack_doc_group_arrow(
                sub.column("doc_id"), sub.column("dl"), sub.column("tokens")
            )
            if out is not None:
                seg_col = pa.array([seg.as_py()] * len(out[0]), type=pa.string())
                yield pa.RecordBatch.from_arrays(
                    [out[0], seg_col, *out[1:]],
                    names=["term", "seg", *PARTIAL_COLS[1:]],
                )


def _make_merge_stream(block_size: int):
    """Level-2 merge, vectorized across the whole chunk: all partial rows'
    buffers decode in ONE pass per column (varint_decode_concat), doc_ids
    reconstruct with reset-cumsum, one lexsort regroups by (seg, term), and
    all posting lists + block maxima re-encode in one pass per column."""

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for chunk in _stream_groups(batches, ["seg", "term"]):
            row_terms = chunk["term"].to_numpy()
            d_vals, d_row = codec.varint_decode_concat(list(chunk["doc_ids"]))
            t_vals, _ = codec.varint_decode_concat(list(chunk["tfs"]))
            l_vals, _ = codec.varint_decode_concat(list(chunk["dls"]))
            if d_vals.size == 0:
                continue
            # per-partial-row delta cumsum (rows are independent delta runs)
            run_change = np.empty(d_row.size, dtype=bool)
            run_change[0] = True
            np.not_equal(d_row[1:], d_row[:-1], out=run_change[1:])
            run_starts = np.nonzero(run_change)[0]
            # decode outputs are < 2^63 — reinterpret, don't copy
            ids = codec.cumsum_with_resets(d_vals, run_starts)
            tfs = t_vals.view("int64")
            dls = l_vals.view("int64")
            # regroup by (seg, term): group index of each value via its row
            row_segs = chunk["seg"].to_numpy()
            row_change = np.empty(row_terms.size, dtype=bool)
            row_change[0] = True
            np.not_equal(row_terms[1:], row_terms[:-1], out=row_change[1:])
            row_change[1:] |= row_segs[1:] != row_segs[:-1]
            row_gidx = np.cumsum(row_change) - 1
            v_gidx = row_gidx[d_row]
            order = np.lexsort((ids, v_gidx))
            ids, tfs, dls, v_gidx = (
                ids[order], tfs[order], dls[order], v_gidx[order],
            )
            g_change = np.empty(v_gidx.size, dtype=bool)
            g_change[0] = True
            np.not_equal(v_gidx[1:], v_gidx[:-1], out=g_change[1:])
            starts = np.nonzero(g_change)[0]
            ends = np.append(starts[1:], v_gidx.size)
            deltas = ids.copy()
            deltas[1:] -= ids[:-1]
            deltas[starts] = ids[starts]
            dfs = ends - starts
            max_tf = np.maximum.reduceat(tfs, starts)
            # block boundaries across all groups in one reduceat
            n_blocks = -(-dfs // block_size)
            block_bounds = np.concatenate(
                [np.arange(s, e, block_size) for s, e in
                 zip(starts, ends, strict=True)]
            )
            bmax_all = np.maximum.reduceat(tfs, block_bounds)
            bmax_starts = np.concatenate(([0], np.cumsum(n_blocks)[:-1]))
            group_rows = np.nonzero(row_change)[0]
            yield pd.DataFrame(
                {
                    "term": row_terms[group_rows],
                    "seg": row_segs[group_rows],
                    "df": dfs.astype("int64"),
                    "max_tf": max_tf.astype("int64"),
                    "doc_ids": codec.varint_encode_grouped(
                        deltas.astype("uint64"), starts
                    ),
                    "tfs": codec.varint_encode_grouped(
                        tfs.astype("uint64"), starts
                    ),
                    "dls": codec.varint_encode_grouped(
                        dls.astype("uint64"), starts
                    ),
                    "block_max": codec.varint_encode_grouped(
                        bmax_all.astype("uint64"), bmax_starts
                    ),
                }
            )

    return merge


def merge_partials(
    partial: DataFrame, config: EngineConfig, n_parts: int
) -> DataFrame:
    """Level 2: packed partial rows (term, seg, doc_ids, tfs, dls — any
    number per (seg, term)) → one POSTINGS_SCHEMA row per (seg, term),
    hash-partitioned and sorted on (seg, term) so written files carry
    sorted term runs (row-group min/max stats prune term lookups)."""
    l2 = partial.repartition(max(2, n_parts), "seg", "term")
    return l2.sortWithinPartitions("seg", "term").mapInPandas(
        _make_merge_stream(config.block_size), schema=POSTINGS_SCHEMA
    )


def prepare_identity(
    source: DataFrame,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    doc_id_col: str | None = None,
) -> DataFrame:
    """Identity phase (cheap): ``doc_key`` (separator-joined id columns —
    the reference's "{topic}+{partition}+{offset}" identity,
    DataConverter.java:156-158), ``doc_id`` (int64), ``content_sha256``
    (north-rule parity column). When the source already carries a numeric
    id (``doc_id_col``, the key.ignore=false path: DataConverter.java:
    87-114), it is used directly instead of the hashed key.

    Analysis columns (tokens/dl) are deliberately NOT added here: they
    multiply row width and must be computed *after* the batch is
    repartitioned across the cluster, not below the exchange.
    """
    if doc_id_col is not None:
        df = source.withColumn("doc_key", F.col(doc_id_col).cast("string"))
        df = df.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    else:
        df = source.withColumn(
            "doc_key", F.concat_ws(DOC_KEY_SEP, *[F.col(c) for c in id_cols])
        )
        df = df.withColumn("doc_id", doc_id_expr("doc_key"))
    return df.withColumn("content_sha256", F.sha2(F.col(content_col), 256))


def add_analysis(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Analysis phase (heavy): tokens + doc length."""
    return df.withColumn("tokens", tokenize(content_col)).withColumn(
        "dl", F.size("tokens")
    )


def prepare_documents(
    source: DataFrame,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    doc_id_col: str | None = None,
) -> DataFrame:
    """Identity + analysis in one step (convenience for small frames)."""
    return add_analysis(
        prepare_identity(source, id_cols, content_col, doc_id_col), content_col
    )


def _index_meta(config: EngineConfig) -> dict:
    return {
        "analyzer": "lowercase_word",
        "k1": config.k1,
        "b": config.b,
        "block_size": config.block_size,
        "num_segments": config.num_segments,
        # per-index mapping flag: segments carry positions.parquet
        # (Lucene IndexOptions.DOCS_AND_FREQS_AND_POSITIONS analog)
        "positions": config.index_positions,
    }


def _effective_config(store: SegmentStore, config: EngineConfig) -> EngineConfig:
    """The positions flag is a per-index MAPPING recorded at creation
    (meta.json), like a Lucene field's IndexOptions: later ingests must
    honor it regardless of the caller's config, or a positions=True index
    would silently grow position-less segments the reader cannot serve
    (and vice versa)."""
    import dataclasses

    meta_flag = bool(store.meta().get("positions", False))
    if meta_flag == config.index_positions:
        return config
    return dataclasses.replace(config, index_positions=meta_flag)


def build_index(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    config: EngineConfig | None = None,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    resume: bool = True,
    fail_after_batches: int | None = None,
    doc_id_col: str | None = None,
) -> BuildMetrics:
    """Build (or resume) an inverted index over ``source``.

    ``fail_after_batches`` is a fault-injection hook for the kill/resume
    test (mirrors the reference's offset-safety ITs,
    integration/OpenSearchSinkTaskIT.java:120-165): the build raises
    after that many manifest commits.
    """
    config = config or EngineConfig()
    t0 = time.monotonic()
    store = SegmentStore(index_dir)
    store.create_if_absent(_index_meta(config))
    config = _effective_config(store, config)
    metrics = BuildMetrics()
    committed = store.committed_batches() if resume else {}

    docs = prepare_identity(source, id_cols, content_col, doc_id_col)
    docs = docs.withColumn(
        "_batch", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(config.num_segments))
    )

    pending = [b for b in range(config.num_segments)
               if f"b{b:04d}" not in committed]
    metrics.batches_skipped = config.num_segments - len(pending)

    if len(pending) > 1:
        # Stage the identity-stamped source ONCE, Hive-partitioned by
        # _batch, so each wave reads exactly its partitions (partition
        # pruning) instead of rescanning + re-hashing the full source per
        # wave. Only the columns the segment build consumes are staged
        # (identity + content); everything else is pruned at the staging
        # write.
        staging = os.path.join(index_dir, "staging")
        needed = ["doc_id", "doc_key", "content_sha256", content_col]
        docs.select(*needed, "_batch").write.partitionBy("_batch").mode(
            "overwrite"
        ).parquet(staging)
        docs = spark.read.parquet(staging)

    # Wave (group) commit: build `ingest_wave_size` pending batches in ONE
    # pipeline (one scan of the staged source, one doc shuffle, one
    # partials shuffle), then commit each batch's manifest individually.
    # This is the reference's BulkProcessor grouping
    # (OpenSearchClient.java:145-155): durability granularity stays the
    # micro-batch (a crash mid-wave re-runs only that wave's uncommitted
    # batches), but per-job fixed latency is paid once per wave.
    generation = store.next_generation()
    commits = 0
    for wi in range(0, len(pending), config.ingest_wave_size):
        wave = pending[wi:wi + config.ingest_wave_size]
        seg_names = [f"seg_g0_b{b:04d}" for b in wave]
        wave_docs = docs.filter(
            F.col("_batch").isin([int(b) for b in wave])
        ).withColumn(
            "seg",
            F.concat(
                F.lit("seg_g0_b"),
                F.lpad(F.col("_batch").cast("string"), 4, "0"),
            ),
        ).drop("_batch")
        metas, _ = _build_segments_pipeline(
            wave_docs, store.bulk_path(f"g0w{wave[0]:04d}"), config,
            content_col,
            job_tag=f"wave_{os.path.basename(index_dir)}_{wave[0]:04d}",
            seg_names=seg_names,
            generation=generation,
        )
        for b, seg_meta in zip(wave, metas, strict=True):
            if commits == fail_after_batches:
                raise RuntimeError(
                    f"fault injection: stopping after {commits} batches"
                )
            commit_segments(store, f"b{b:04d}", [seg_meta], config)
            commits += 1
            _accumulate(metrics, seg_meta)

    metrics.wall_secs = time.monotonic() - t0
    return metrics


def build_index_bulk(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    config: EngineConfig | None = None,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    doc_id_col: str | None = None,
    tag: str = "g0",
) -> BuildMetrics:
    """Bulk-load mode: ALL segments in one pipeline — one scan, one doc
    shuffle, one packed-partials shuffle, two Hive-partitioned writes.

    This is the initial-load path for a 100 TB corpus: per-job fixed
    latency is paid once instead of once per micro-batch, and the cluster
    stays saturated end-to-end. Segments remain independent on disk
    (``seg=<name>`` partitions), so queries and later log-structured merges
    are identical to the micro-batched path. Durability trades batch-level
    resume for a single atomic commit (the manifest is written once at the
    end) — incremental ingestion keeps using :func:`build_index`.
    """
    config = config or EngineConfig()
    t0 = time.monotonic()
    store = SegmentStore(index_dir)
    store.create_if_absent(_index_meta(config))
    config = _effective_config(store, config)
    bulk_id = f"bulk_{tag}"
    if bulk_id in store.committed_batches():
        m = BuildMetrics(batches_skipped=config.num_segments)
        m.wall_secs = time.monotonic() - t0
        return m
    root = store.bulk_path(tag)

    docs = prepare_identity(source, id_cols, content_col, doc_id_col)
    docs = docs.withColumn(
        "seg",
        F.concat(
            F.lit(f"seg_{tag}_b"),
            F.lpad(
                F.pmod(F.xxhash64(F.col("doc_id")), F.lit(config.num_segments))
                .cast("string"),
                4,
                "0",
            ),
        ),
    )
    metas, obs = _build_segments_pipeline(
        docs, root, config, content_col, job_tag=bulk_id,
        seg_names=[
            f"seg_{tag}_b{b:04d}" for b in range(config.num_segments)
        ],
        generation=store.next_generation(),
    )
    metas = [m for m in metas if m.doc_count]
    commit_segments(store, bulk_id, metas, config)
    metrics = BuildMetrics(
        docs_indexed=sum(m.doc_count for m in metas),
        postings_written=sum(m.n_postings for m in metas),
        segments_built=len(metas),
    )
    metrics.details["observed_docs"] = obs["docs"]
    metrics.details["observed_postings"] = obs["postings"]
    metrics.wall_secs = time.monotonic() - t0
    return metrics


def _build_segments_pipeline(
    docs: DataFrame,
    root: str,
    config: EngineConfig,
    content_col: str,
    job_tag: str,
    seg_names: list[str],
    generation: int,
) -> tuple[list[SegmentMeta], dict]:
    """Build every segment named by ``docs.seg`` in ONE pipeline: one doc
    shuffle, one packed-partials shuffle, one :func:`write_segments` under
    ``root``. Shared by the bulk initial load (all segments), the
    micro-batched ingest's waves (a few segments per wave) and streaming
    (one segment per micro-batch). ``seg_names``: the closed set of values
    ``docs.seg`` can take (callers derive the column, so they know it);
    ``generation``: SegmentStore.next_generation() of the ingest."""
    from pyspark.storagelevel import StorageLevel

    # The doc shuffle exists to spread tokenization/packing evenly (it
    # doubles as the stopword salt) — but ANY even partitioning spreads a
    # hot term's postings the same way, docs are one row each (the
    # positions part-disjointness holds under any partitioning), and this
    # lineage re-executes once per write action. When the source already
    # arrives with enough scan partitions (size-bounded by
    # maxPartitionBytes), the exchange is pure overhead paid 2-3x.
    n_in = docs.rdd.getNumPartitions()
    spread = (
        docs
        if n_in >= config.shuffle_partitions
        else docs.repartition(config.shuffle_partitions, "doc_id")
    )
    analyzed = add_analysis(spread, content_col)

    # With positions on, THREE write actions consume this lineage (docs,
    # postings, positions) and each re-runs scan + sha256 identity + doc
    # shuffle + tokenize. A disk-backed cache of the analyzed frame
    # amortizes that across consumers (guide §5: reuse > recompute when
    # recompute is this wide). For the two-consumer positions-off path the
    # r6 A/B measured the cache break-even (the token-array cache write
    # costs what one recompute saves), so it stays off there.
    if config.index_positions:
        analyzed = analyzed.persist(StorageLevel.MEMORY_AND_DISK)

    partial = analyzed.select("seg", "doc_id", "dl", "tokens").mapInArrow(
        _pack_docs_direct_by_seg, schema=f"term string, seg string, "
        "doc_ids binary, tfs binary, dls binary"
    )
    positions = None
    if config.index_positions:
        from kafka_connect_opensearch_spark.operators import positions as pos

        positions = pos.build_segment_positions(analyzed, config)
    out = write_segments(
        root,
        analyzed.select(*DOCS_COLUMNS, "seg"),
        merge_partials(partial, config, config.shuffle_partitions),
        positions,
        seg_names,
        job_tag=job_tag,
        generation=generation,
    )
    if config.index_positions:
        analyzed.unpersist(blocking=True)
    return out


def write_segments(
    root: str,
    docs: DataFrame,
    postings: DataFrame,
    positions: DataFrame | None,
    seg_names: list[str],
    job_tag: str,
    generation: int,
) -> tuple[list[SegmentMeta], dict]:
    """THE segment writer: every build, streamed batch and merge lands
    here. Writes the segments named by the frames' ``seg`` column under
    ``root`` (Hive-partitioned, see segments.py), and returns one
    :class:`SegmentMeta` per name in ``seg_names`` (a name without docs
    gets zero stats and writes no partitions) plus the whole-write totals
    ``{"docs", "postings"}``.

    ``docs``: DOCS_COLUMNS + seg; ``postings``: POSTINGS_SCHEMA;
    ``positions``: POSITIONS_SCHEMA or None. Per-segment stats ride the
    two write jobs as Observation conditional aggregates over the (small,
    known) segment-name set — the read-back they replaced (two groupBy
    jobs over the just-written files) measured ~2.9 s per bulk build at
    local[32]."""
    from pyspark.sql import Observation

    doc_obs = Observation(f"{job_tag}_docs")
    docs.observe(
        doc_obs,
        F.count(F.lit(1)).alias("n"),
        *[
            F.count(F.when(F.col("seg") == s, 1)).alias(f"n_{i}")
            for i, s in enumerate(seg_names)
        ],
        *[
            F.sum(F.when(F.col("seg") == s, F.col("dl"))).alias(f"sdl_{i}")
            for i, s in enumerate(seg_names)
        ],
    ).write.partitionBy("seg").mode("overwrite").parquet(f"{root}/docs.parquet")

    post_obs = Observation(f"{job_tag}_post")
    postings.observe(
        post_obs,
        F.coalesce(F.sum("df"), F.lit(0)).alias("postings"),
        *[
            F.count(F.when(F.col("seg") == s, 1)).alias(f"t_{i}")
            for i, s in enumerate(seg_names)
        ],
        *[
            F.sum(F.when(F.col("seg") == s, F.col("df"))).alias(f"p_{i}")
            for i, s in enumerate(seg_names)
        ],
    ).write.partitionBy("seg").mode("overwrite").parquet(
        f"{root}/postings.parquet"
    )

    if positions is not None:
        # ``rb`` (term's first character) clusters positions FILES by
        # narrow term ranges, so a point-term read (cold phrase/NEAR
        # query) prunes to the query terms' buckets by parquet min/max
        # stats instead of decompressing the whole store (r6 A/B: 2 hot
        # terms in ~0.1 s vs ~1.1 s). Sorting by (seg, rb, term) equals
        # (seg, term) order — rb is a prefix of term — and pre-satisfies
        # the writer's dynamic-partition sort, so no second sort is
        # inserted.
        clustered = positions.withColumn("rb", F.substring("term", 1, 1))
        clustered.sortWithinPartitions("seg", "rb", "term").write.partitionBy(
            "seg", "rb"
        ).mode("overwrite").parquet(f"{root}/positions.parquet")

    dstat, pstat = doc_obs.get, post_obs.get
    metas = [
        SegmentMeta(
            name=seg,
            generation=generation,
            doc_count=int(dstat[f"n_{i}"] or 0),
            sum_dl=int(dstat[f"sdl_{i}"] or 0),
            n_terms=int(pstat[f"t_{i}"] or 0),
            n_postings=int(pstat[f"p_{i}"] or 0),
            path=root,
        )
        for i, seg in enumerate(seg_names)
    ]
    totals = {"docs": int(dstat["n"]), "postings": int(pstat["postings"])}
    return metas, totals


def commit_segments(
    store: SegmentStore,
    batch_id: str,
    metas: list[SegmentMeta],
    config: EngineConfig,
    replaces: list[str] | None = None,
) -> None:
    """Commit point (O4): the manifest rename makes ``metas`` visible (and
    ``replaces`` dead) atomically, wrapped in the reference's retry
    envelope (B5) for transient FS errors."""
    call_with_retries(
        f"commit {batch_id}",
        lambda: store.commit_batch(
            batch_id,
            {"batch": batch_id, "segments": [m.__dict__ for m in metas],
             "replaces": replaces or []},
        ),
        max_retries=config.max_retries,
        retry_backoff_ms=config.retry_backoff_ms,
    )


def _accumulate(metrics: BuildMetrics, seg_meta: SegmentMeta) -> None:
    metrics.docs_indexed += seg_meta.doc_count
    metrics.postings_written += seg_meta.n_postings
    metrics.segments_built += 1
