"""Log-structured segment merge (SURVEY.md D3) + index-level deletes (W3).

Mirrors Lucene's merge behind the reference's bulk flushes: k immutable
segments are rewritten into one, with document-level latest-wins across
generations (a doc re-ingested into a newer segment shadows its older
posting entries — the index-level continuation of the connector's external
versioning, W4) and optional tombstone deletes applied during the rewrite.

Execution shape (scales like the initial build — merge cost is O(postings),
no driver materialization). Both paths feed the build's level-2 (seg, term)
merge and the one segment writer (indexer.write_segments), under a fresh
root named for the merged segment:

- disjoint segments, no deletes: the stored packed rows ARE level-1
  partials — regrouped as they are;
- otherwise: postings(seg k..n) → mapInPandas decode-explode →
  (term, doc_id, tf, dl) → keep only latest-wins survivors (minus
  deletes) → level-1 re-pack per partition.

The commit is a manifest entry with ``replaces=[old segments]``. Old
segments are left in place (immutable); the manifest marks them dead, so a
crashed merge is invisible and a re-run is idempotent — exactly the
reference's retry-safe bulk semantics (B5).
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_opensearch_spark.config import EngineConfig
from kafka_connect_opensearch_spark.operators import positions as pos
from kafka_connect_opensearch_spark.operators import postings as codec
from kafka_connect_opensearch_spark.operators.indexer import (
    PARTIAL_COLS,
    PARTIAL_SCHEMA,
    _pack_partial_stream,
    commit_segments,
    merge_partials,
    write_segments,
)
from kafka_connect_opensearch_spark.operators.segments import (
    DOCS_COLUMNS,
    BuildMetrics,
    SegmentMeta,
    SegmentStore,
)

DECODED_SCHEMA = "term string, _segname string, doc_id long, tf long, dl long"


def tiered_merge_candidates(
    segments: list[SegmentMeta], merge_factor: int = 4
) -> list[str]:
    """Size-tiered merge policy (Lucene TieredMergePolicy shape): segments
    are binned by ``floor(log_mf(doc_count))``; the first (smallest) tier
    holding ≥ merge_factor segments yields its merge_factor smallest
    members. Smallest-first keeps write amplification logarithmic: each
    document is rewritten O(log_mf(N)) times over the index's lifetime."""
    import math

    tiers: dict[int, list[SegmentMeta]] = {}
    for m in segments:
        tier = int(math.log(max(m.doc_count, 1), merge_factor))
        tiers.setdefault(tier, []).append(m)
    for tier in sorted(tiers):
        if len(tiers[tier]) >= merge_factor:
            picked = sorted(tiers[tier], key=lambda m: (m.doc_count, m.name))
            return [m.name for m in picked[:merge_factor]]
    return []


def auto_merge(
    spark: SparkSession,
    index_dir: str,
    config: EngineConfig | None = None,
) -> BuildMetrics:
    """Run the tiered policy to a fixed point: merge while any tier trips.

    This is the engine's analog of the reference's automatic flush/merge
    cadence (BulkProcessor, OpenSearchClient.java:145-155) — without it a
    long-running incremental ingest accumulates unbounded segment count and
    query-side unions grow linearly. Idempotent and crash-safe: each merge
    is an atomic manifest commit; a re-run just continues."""
    config = config or EngineConfig()
    total = BuildMetrics()
    t0 = time.monotonic()
    store = SegmentStore(index_dir)
    while True:
        names = tiered_merge_candidates(
            store.active_segments(), config.merge_factor
        )
        if not names:
            break
        m = merge_segments(spark, index_dir, config, segment_names=names)
        total.docs_indexed += m.docs_indexed
        total.postings_written += m.postings_written
        total.segments_built += m.segments_built
        total.segments_merged += m.segments_merged
    total.wall_secs = time.monotonic() - t0
    return total


def decode_postings_df(postings: DataFrame) -> DataFrame:
    """Packed postings rows → exploded (term, seg, doc_id, tf, dl) rows.

    mapInPandas so decoding is per-Arrow-batch numpy, not per-row Python.
    The segment name travels in the stored ``seg`` column.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for b in batches:
            if not len(b):
                continue
            d_vals, d_row = codec.varint_decode_concat(list(b["doc_ids"]))
            t_vals, _ = codec.varint_decode_concat(list(b["tfs"]))
            l_vals, _ = codec.varint_decode_concat(list(b["dls"]))
            if d_vals.size == 0:
                continue
            run_change = np.empty(d_row.size, dtype=bool)
            run_change[0] = True
            np.not_equal(d_row[1:], d_row[:-1], out=run_change[1:])
            ids = codec.cumsum_with_resets(
                d_vals, np.nonzero(run_change)[0]
            )
            counts = np.bincount(d_row, minlength=len(b))
            yield pd.DataFrame(
                {
                    "term": np.repeat(b["term"].to_numpy(), counts),
                    "_segname": np.repeat(b["seg"].to_numpy(), counts),
                    "doc_id": ids,
                    "tf": t_vals.astype("int64"),
                    "dl": l_vals.astype("int64"),
                }
            )

    return postings.select("term", "seg", "doc_ids", "tfs", "dls").mapInPandas(
        run, schema=DECODED_SCHEMA
    )


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    config: EngineConfig | None = None,
    segment_names: list[str] | None = None,
    delete_doc_keys: DataFrame | None = None,
) -> BuildMetrics:
    """Merge ``segment_names`` (default: all active) into one new segment.

    ``delete_doc_keys``: optional single-column ``doc_key`` frame — those
    documents are dropped during the rewrite (tombstone semantics W3,
    DataConverter.java:122-139 re-cast as an index-maintenance op).
    """
    config = config or EngineConfig()
    t0 = time.monotonic()
    store = SegmentStore(index_dir)
    segs = {s.name: s for s in store.active_segments()}
    names = segment_names or sorted(segs)
    if len(names) < 1:
        return BuildMetrics()
    metas = [segs[n] for n in names]
    new_gen = max(m.generation for m in metas) + 1
    # uuid suffix: epoch seconds alone collide when two same-generation
    # merges land within one second (back-to-back ingest() calls with
    # deletes), silently overwriting a segment directory
    seg_name = f"seg_g{new_gen}_m{int(time.time())}_{uuid.uuid4().hex[:8]}"
    positions = None
    if store.meta().get("positions"):
        positions = pos.decode_positions_df(store.read_positions(spark, metas))

    # Disjoint-segment fast path (the common tiered-merge shape: a
    # hash-partitioned build never re-ingests a doc into two segments).
    # When no doc_id appears twice and there are no deletes, latest-wins
    # is the identity — every doc and posting survives verbatim, and the
    # stored packed rows are valid level-1 partials (term, delta-varint
    # doc_ids/tfs/dls). The decode-explode of every posting entry, the
    # winners aggregation and the survivor join are pure overhead (guide
    # §2.3: shuffle the packed bytes, not the exploded rows). The probe
    # is one ids-only columnar count compared against the manifest doc
    # counts.
    disjoint = delete_doc_keys is None and (
        store.read_docs(spark, metas).select("doc_id").distinct().count()
        == sum(m.doc_count for m in metas)
    )
    if disjoint:
        docs = store.read_docs(spark, metas)
        partial = store.read_postings(spark, metas).select(*PARTIAL_COLS)
    else:
        docs = _winners(store, spark, metas, delete_doc_keys)
        keep = docs.select("doc_id", "_segname")
        # keep only posting entries of surviving (doc_id, winning segment)
        # pairs, re-packed per partition into level-1 partials
        survivors = decode_postings_df(
            store.read_postings(spark, metas)
        ).join(keep, ["doc_id", "_segname"], "inner")
        partial = survivors.select(
            "term", "doc_id", "tf", "dl"
        ).sortWithinPartitions("term").mapInPandas(
            _pack_partial_stream, schema=PARTIAL_SCHEMA
        )
        if positions is not None:
            positions = positions.join(keep, ["doc_id", "_segname"], "inner")
    if positions is not None:
        # positions live in the same segments merges rewrite (Lucene
        # contract): per-doc blobs of the same survivors concatenate
        # byte-for-byte — no position value is re-encoded
        positions = pos.repack_positions(
            positions.select("term", "doc_id", "n_pos", "pos_blob"), config
        ).withColumn("seg", F.lit(seg_name))

    (meta,), _ = write_segments(
        store.bulk_path(seg_name),
        docs.select(*DOCS_COLUMNS).withColumn("seg", F.lit(seg_name)),
        merge_partials(
            partial.withColumn("seg", F.lit(seg_name)), config,
            config.shuffle_partitions // 4,
        ),
        positions,
        [seg_name],
        job_tag=seg_name,
        generation=new_gen,
    )
    commit_segments(store, f"merge_{seg_name}", [meta], config, replaces=names)
    out = BuildMetrics(
        docs_indexed=meta.doc_count,
        postings_written=meta.n_postings,
        segments_built=1,
        segments_merged=len(names),
    )
    out.wall_secs = time.monotonic() - t0
    return out


def _winners(
    store: SegmentStore,
    spark: SparkSession,
    metas: list[SegmentMeta],
    delete_doc_keys: DataFrame | None,
) -> DataFrame:
    """Latest-wins docs across ``metas`` (ties: lexicographically later
    segment) minus ``delete_doc_keys``; ``_segname`` names each winner's
    segment."""
    gen_of = F.create_map(
        *[F.lit(x) for m in metas for x in (m.name, m.generation)]
    )
    all_docs = store.read_docs(spark, metas, with_seg=True).withColumnRenamed(
        "seg", "_segname"
    ).withColumn("_gen", gen_of[F.col("_segname")])
    winners = (
        all_docs.groupBy("doc_id")
        .agg(
            F.max_by(
                F.struct("doc_key", "content_sha256", "dl", "_segname"),
                F.struct("_gen", "_segname"),
            ).alias("w")
        )
        .select(
            "doc_id",
            F.col("w.doc_key").alias("doc_key"),
            F.col("w.content_sha256").alias("content_sha256"),
            F.col("w.dl").alias("dl"),
            F.col("w._segname").alias("_segname"),
        )
    )
    if delete_doc_keys is not None:
        winners = winners.join(
            F.broadcast(delete_doc_keys.select("doc_key").distinct()),
            "doc_key",
            "left_anti",
        )
    return winners


def reconcile_updates(
    spark: SparkSession,
    index_dir: str,
    config: EngineConfig | None = None,
    new_segment_names: list[str] | None = None,
) -> BuildMetrics | None:
    """Make cross-segment re-ingests visible latest-wins IMMEDIATELY.

    Lucene marks a superseded document deleted the moment its update
    commits (per-segment live-docs); until this runs, a doc re-ingested
    into a NEW segment coexists with its older copy — doc_count
    over-reports, searches return both rows, stale phrases still match.
    The engine's equivalent is a targeted merge of exactly the segments
    that share a doc_id: ``merge_segments`` already implements the
    (generation, segment-name) winner rule, so reconciliation reuses the
    fully-tested rewrite instead of a second shadowing mechanism.

    ``new_segment_names`` narrows the overlap probe to docs of the
    just-committed segments (the streaming per-batch shape — O(batch)
    semi-join against the older doc ids, ids-only columnar scan); None
    probes all active segments pairwise (one groupBy over doc ids).
    Returns the merge metrics, or None when there was nothing to do.
    No-overlap ingests pay only the probe; write amplification is bounded
    by the tiered auto-merge policy that would have merged these segments
    eventually anyway."""
    store = SegmentStore(index_dir)
    metas = store.active_segments()
    if len(metas) < 2:
        return None
    tagged = store.read_docs(spark, metas, with_seg=True).select(
        "doc_id", "seg"
    )
    if new_segment_names:
        new_ids = tagged.filter(
            F.col("seg").isin(list(new_segment_names))
        ).select("doc_id")
        tagged = tagged.join(new_ids.distinct(), "doc_id", "left_semi")
    dup_segs = (
        tagged.groupBy("doc_id")
        .agg(F.collect_set("seg").alias("segs"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select(F.explode("segs").alias("seg"))
        .distinct()
        .collect()
    )
    names = sorted({r["seg"] for r in dup_segs})
    if not names:
        return None
    return merge_segments(spark, index_dir, config, segment_names=names)
