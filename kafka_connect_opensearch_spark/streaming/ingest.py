"""Streaming index ingestion: readStream → foreachBatch → segment commits.

The reference's unbounded SinkRecord flow (OpenSearchSinkTask.put, the poll
loop) maps to Structured Streaming: each micro-batch becomes one segment,
committed atomically with its manifest entry; Spark's streaming checkpoint
plays the role of the framework's offset commit (O1-O5 subsumed —
SURVEY.md §7.4 "streaming state"). Static rate limiting via
``maxFilesPerTrigger`` plus DYNAMIC backpressure via
:class:`SegmentBackpressure` together re-cast the reference's partition
pause/resume (B3/B4, OpenSearchSinkTask.java:330-377).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_connect_opensearch_spark.config import EngineConfig
from kafka_connect_opensearch_spark.operators.indexer import (
    _build_segments_pipeline,
    commit_segments,
    prepare_identity,
)
from kafka_connect_opensearch_spark.operators.segments import SegmentStore


@dataclass
class SegmentBackpressure:
    """Dynamic pause/resume, re-cast from the reference's PartitionPauser
    (OpenSearchSinkTask.java:330-377, PartitionPauserTest.java): the sink
    pauses consumption when its buffer crosses a high watermark and resumes
    below a low one. In Structured Streaming the trigger IS the poll loop,
    so 'pausing the partition' = blocking the micro-batch until the sink
    drains; the 'buffer' is the count of small undrained segments, and the
    drain is a tiered merge. Under a slow sink this bounds both segment
    count and query-side union width instead of growing without limit."""

    store: SegmentStore
    config: EngineConfig
    high_mark: int = 8
    low_mark: int = 4
    pauses: int = 0
    resumes: int = 0
    events: list = field(default_factory=list)

    def before_batch(self, spark: SparkSession) -> None:
        from kafka_connect_opensearch_spark.operators.merge import (
            tiered_merge_candidates,
            merge_segments,
        )

        if len(self.store.active_segments()) < self.high_mark:
            return
        self.pauses += 1
        self.events.append(("pause", len(self.store.active_segments())))
        while len(self.store.active_segments()) > self.low_mark:
            names = tiered_merge_candidates(
                self.store.active_segments(), self.config.merge_factor
            )
            if not names:
                # fewer than merge_factor per tier left: merge the rest
                names = [m.name for m in self.store.active_segments()]
            merge_segments(
                spark, self.store.index_dir, self.config, segment_names=names
            )
        self.resumes += 1
        self.events.append(("resume", len(self.store.active_segments())))


def start_streaming_index_build(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    index_dir: str,
    checkpoint_dir: str,
    config: EngineConfig | None = None,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    max_files_per_trigger: int = 4,
    backpressure: SegmentBackpressure | None = None,
) -> StreamingQuery:
    """File-source streaming build: new parquet files under ``source_dir``
    are ingested as micro-batches, one segment per non-empty batch."""
    config = config or EngineConfig()
    store = SegmentStore(index_dir)
    from kafka_connect_opensearch_spark.operators.indexer import (
        _effective_config,
        _index_meta,
    )

    meta = _index_meta(config)
    meta["num_segments"] = -1  # unbounded
    store.create_if_absent(meta)
    # the recorded mapping wins over the restart config (see _effective_config)
    config = _effective_config(store, config)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch may redeliver a batch after failure; the manifest
        # check makes the segment commit idempotent (exactly-once effect,
        # same mechanism as the reference's external versioning W4).
        bid = f"stream{batch_id:06d}"
        if bid in store.committed_batches():
            return
        if batch_df.isEmpty():
            return
        if backpressure is not None:
            backpressure.before_batch(spark)
        # a one-segment wave under a root named for the batch
        seg_name = f"seg_s_{bid}"
        docs = prepare_identity(batch_df, id_cols, content_col).withColumn(
            "seg", F.lit(seg_name)
        )
        metas, _ = _build_segments_pipeline(
            docs, store.bulk_path(bid), config, content_col, job_tag=bid,
            seg_names=[seg_name], generation=store.next_generation(),
        )
        commit_segments(store, bid, metas, config)
        # a micro-batch can re-ingest docs already committed by an earlier
        # batch; reconcile makes latest-wins visible NOW (Lucene's
        # update-marks-deleted contract) instead of at the next tiered
        # merge — the probe is O(batch) and a no-op without overlap
        from kafka_connect_opensearch_spark.operators.merge import (
            reconcile_updates,
        )

        reconcile_updates(spark, store.index_dir, config,
                          new_segment_names=[seg_name])

    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
