"""Workload ``stream_ingest``: the connector's put-path and streaming
shape, with writes beside reads.

``pipeline.ingest`` loads a seeded batch (version-bumped re-emits,
null-key records for the dead-letter queue, tombstones) into one index and
a fresh reader queries it. Then parquet files arrive over three rounds
into a second index, each drained by ``start_streaming_index_build``
(availableNow); the second file re-emits keys of the first with new
content (latest-wins reconcile). After every drain a fresh
``IndexReader`` queries the just-refreshed index with cold caches;
``auto_merge`` runs after the last round, and a fresh reader queries the
merged index. Both indexes are built without positions.

Exercises ``pipeline`` with ``operators.convert``, ``streaming.ingest``,
``operators.segments``, ``operators.merge`` and cold reads through
``operators.bm25``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import inputs
from harness import FAILED, Run
from measure import p50, percentile, summarize
from oracles import TextOracle, row_doc_id
from readers import (
    Session,
    check_session,
    latencies,
    reader_extras,
    reader_layer_metrics,
    run_session,
)

N_DOCS = 400           # rows in the put-path batch before updates
# new rows per streamed file; round 1 also re-emits REEMITS keys of round
# 0 (latest-wins reconcile). Sizes put the reconciled segment and the
# last one in the same merge tier, so auto_merge has work.
STREAM_ROWS = (200, 180, 300)
REEMIT_ROUND, REEMITS = 1, 20
MERGE_FACTOR = 2
WARM_ROWS = 80         # batch rows in the warm-up ingest
MIN_QUERIES = 60       # per fresh-reader session (BM25 p95 needs 200)
QUERY_STREAM = 2500


def _engine_config(cores: int, merge_factor: int = 4):
    from kafka_connect_opensearch_spark.config import (
        BehaviorOnMalformedDoc,
        BehaviorOnNullValues,
        EngineConfig,
    )

    return EngineConfig(
        num_segments=2, shuffle_partitions=cores, salt_partitions=4,
        merge_factor=merge_factor,
        behavior_on_null_values=BehaviorOnNullValues.DELETE,
        behavior_on_malformed_docs=BehaviorOnMalformedDoc.IGNORE,
    )


def _stage(run: Run, rep: int) -> dict:
    d = run.work.sub(f"stage{rep}")
    os.makedirs(os.path.join(d, "files"))
    ing = inputs.ingest_batch(run.seed, N_DOCS)
    ing.batch.to_parquet(os.path.join(d, "batch.parquet"), index=False)
    files = inputs.stream_files(run.seed, STREAM_ROWS, REEMIT_ROUND, REEMITS)
    for i, f in enumerate(files):
        f.to_parquet(os.path.join(d, "files", f"round{i:02d}.parquet"),
                     index=False)
    return {
        "dir": d,
        "ingest": ing,
        "files": files,
        "stream": inputs.query_stream(run.seed, QUERY_STREAM),
        "probes": inputs.class_probes(run.seed),
    }


def _drain(spark, source_dir, index_dir, checkpoint, config):
    """Run the streaming build until the files present are drained."""
    from kafka_connect_opensearch_spark.sources.corpus import CORPUS_SCHEMA
    from kafka_connect_opensearch_spark.streaming.ingest import (
        start_streaming_index_build,
    )

    q = start_streaming_index_build(spark, source_dir, CORPUS_SCHEMA,
                                    index_dir, checkpoint, config)
    try:
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"streaming build failed: {q.exception()}")
    return q.recentProgress


def setup(run: Run) -> tuple[dict, float, float]:
    """Stage inputs (repeated; median time) and warm every timed entry
    point once on a small slice. Returns (staged, staging_s, warmup_s)."""
    from kafka_connect_opensearch_spark import pipeline
    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader
    from kafka_connect_opensearch_spark.operators.merge import auto_merge

    staged, staging_s = run.stage(_stage)
    t0 = time.perf_counter()
    spark = run.spark
    idx, sidx = run.work.sub("warm_ingest"), run.work.sub("warm_stream")
    src = run.work.sub("warm_src")
    batch = spark.read.parquet(os.path.join(staged["dir"], "batch.parquet")) \
        .limit(WARM_ROWS)
    pipeline.ingest(spark, batch, idx, _engine_config(run.cores),
                    version_col="version")
    os.makedirs(src)
    staged["files"][0].iloc[:20].to_parquet(os.path.join(src, "warm.parquet"),
                                            index=False)
    scfg = _engine_config(run.cores, MERGE_FACTOR)
    _drain(spark, src, sidx, run.work.sub("warm_ckpt"), scfg)
    auto_merge(spark, sidx, scfg)
    reader = IndexReader(spark, idx)
    for q in staged["probes"]:
        if q.kind == "bm25":
            reader.search_topk(q.text, 10, q.mode)
    return staged, staging_s, time.perf_counter() - t0


def _ingest_expected(ing: inputs.IngestBatch):
    """(built, live): doc_id → content the load builds (latest version per
    valid key, before tombstones apply) and the documents left after the
    tombstones."""
    b = ing.batch
    latest: dict[int, tuple[int, str]] = {}
    deleted: set[int] = set()
    for repo, path, commit, content, version in zip(
            b["repo"], b["path"], b["commit"], b["content"], b["version"]):
        if repo is None:
            continue  # null key: dead-letter queue
        d = row_doc_id(repo, path, commit)
        if content is None:
            deleted.add(d)
        elif d not in latest or version > latest[d][0]:
            latest[d] = (version, content)
    built = {d: c for d, (_, c) in latest.items()}
    return built, {d: c for d, c in built.items() if d not in deleted}


def _stream_expected(files) -> list[dict[int, str]]:
    """doc_id → content after each streamed round (later rounds win)."""
    state: dict[int, str] = {}
    states = []
    for f in files:
        for repo, path, commit, content in zip(
                f["repo"], f["path"], f["commit"], f["content"]):
            state[row_doc_id(repo, path, commit)] = content
        states.append(dict(state))
    return states


def timed(run: Run, staged: dict) -> dict:
    from kafka_connect_opensearch_spark import pipeline
    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader
    from kafka_connect_opensearch_spark.operators.merge import auto_merge
    from kafka_connect_opensearch_spark.operators.segments import SegmentStore

    spark, cfg = run.spark, _engine_config(run.cores)
    scfg = _engine_config(run.cores, MERGE_FACTOR)
    idx, sidx = run.work.sub("idx_ingest"), run.work.sub("idx_stream")
    src, ckpt = run.work.sub("src"), run.work.sub("ckpt")
    os.makedirs(src)
    batch = spark.read.parquet(os.path.join(staged["dir"], "batch.parquet"))
    budget = run.seconds / (len(STREAM_ROWS) + 2)
    r: dict = {"sessions": [], "drains": [], "segments": [], "opens": []}
    pos = 0

    def session(name: str, index_dir: str, state: int, after):
        """A fresh reader on the just-refreshed index, then a query loop."""
        nonlocal pos
        s = Session(name, state=state, after_op=after[0])
        o = run.call("bm25.open", IndexReader, spark, index_dir)
        r["opens"].append(o[2])
        if o[1] is not FAILED:
            pos = run_session(run, s, o[1], None, staged["stream"], pos,
                              budget, MIN_QUERIES)
            s.doc_count = o[1].doc_count()
        r["sessions"].append(s)

    def active_segments():
        return run.call("segments.active",
                        lambda: len(SegmentStore(sidx).active_segments()))

    with run.phase("ingest"):
        r["ingest"] = run.call("pipeline.ingest", pipeline.ingest, spark,
                               batch, idx, cfg, version_col="version")
        session("after_ingest", idx, -1, r["ingest"])
    for i in range(len(STREAM_ROWS)):
        with run.phase(f"round{i}"):
            shutil.copy(
                os.path.join(staged["dir"], "files", f"round{i:02d}.parquet"),
                src)
            r["drains"].append(run.call("streaming.drain", _drain, spark, src,
                                        sidx, ckpt, scfg))
            r["segments"].append(active_segments())
            session(f"after_round{i}", sidx, i, r["drains"][-1])
    with run.phase("merge"):
        r["merge"] = run.call("merge.auto_merge", auto_merge, spark, sidx, scfg)
        r["segments"].append(active_segments())
        session("after_merge", sidx, len(STREAM_ROWS) - 1, r["merge"])
    r["peak_rss_mb"] = run.peak_rss_mb()
    return r


def check(run: Run, staged: dict, r: dict) -> None:
    ing = staged["ingest"]
    built, live = _ingest_expected(ing)
    states = _stream_expected(staged["files"])
    op_id, res, _, _ = r["ingest"]
    if res is not FAILED:
        if res.dlq_rows != ing.n_malformed:
            run.wrong(op_id, f"dlq_rows {res.dlq_rows} != {ing.n_malformed}")
        if res.deletes_applied != ing.n_tombstones:
            run.wrong(op_id, f"deletes_applied {res.deletes_applied} "
                             f"!= {ing.n_tombstones}")
        # postings are counted at build time, before tombstones apply
        want = TextOracle(built).postings()
        if res.metrics.postings_written != want:
            run.wrong(op_id, f"postings_written {res.metrics.postings_written}"
                             f" != oracle {want}")
    oracles: dict[int, TextOracle] = {}
    for s in r["sessions"]:
        if s.doc_count is None:
            continue
        docs = live if s.state < 0 else states[s.state]
        if s.state not in oracles:
            oracles[s.state] = TextOracle(docs)
        if s.doc_count != len(docs):  # the write before it was wrong
            run.wrong(s.after_op, f"{s.name}: doc_count {s.doc_count} "
                                  f"!= {len(docs)}")
        check_session(run, s, oracles[s.state])


def metrics(run: Run, staged: dict, r: dict) -> dict:
    ing = staged["ingest"]
    sessions = r["sessions"]
    ingest_s = r["ingest"][2]
    drain_s = [d[2] for d in r["drains"]]
    merge_s = r["merge"][2]
    stream_rows = sum(len(f) for f in staged["files"])
    batch_rows = len(ing.batch)
    bm25 = latencies(sessions, "bm25")

    h = run.headline
    h("ingest_docs_per_s", batch_rows / ingest_s, "docs/s", 1)
    h("stream_docs_per_s", stream_rows / sum(drain_s), "docs/s", len(drain_s))
    h("merge_s", merge_s, "s", 1)
    for p, v in summarize(bm25).items():
        if p != "n":
            h(f"bm25_cold_{p}_ms", v, "ms", len(bm25))

    L = run.layer
    res = r["ingest"][1]
    L["pipeline.ingest.s"] = ingest_s
    L["pipeline.ingest.jobs"] = r["ingest"][3]["jobs"]
    if res is not FAILED:
        L["pipeline.ingest.build_s"] = res.metrics.wall_secs
        L["pipeline.ingest.policy_s"] = ingest_s - res.metrics.wall_secs
        L["pipeline.ingest.dlq_rows"] = res.dlq_rows
        L["pipeline.ingest.deletes_applied"] = res.deletes_applied
    progress = [p for d in r["drains"] if d[1] is not FAILED for p in d[1]]
    batch_ms = [p["durationMs"]["triggerExecution"] for p in progress
                if p["numInputRows"] > 0]
    L["stream.drain.s"] = sum(drain_s)
    L["stream.batches"] = len(batch_ms)
    L["stream.batch.p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
    L["stream.batch.max_ms"] = max(batch_ms) if batch_ms else 0.0
    seg = [s[1] for s in r["segments"]]
    L["segments.active.pre_merge"] = seg[-2]
    L["segments.active.post_merge"] = seg[-1]
    m = r["merge"][1]
    L["merge.auto_merge.s"] = merge_s
    L["merge.jobs"] = r["merge"][3]["jobs"]
    if m is not FAILED:
        L["merge.segments_merged"] = m.segments_merged
        L["merge.postings_rewritten"] = m.postings_written
    reader_layer_metrics(run, sessions)
    L["bm25.p95_ms"] = percentile(bm25, 95)
    L["bm25.open_ms"] = statistics.median(r["opens"]) * 1000.0

    return {
        "peak_rss_mb": r["peak_rss_mb"],
        "write_docs_per_s": (batch_rows + stream_rows) / (ingest_s + sum(drain_s)),
        "bm25_p50_ms": p50(bm25),
        "batch_s": ingest_s + sum(drain_s) + merge_s + sum(r["opens"]),
    }


def layer_extras(run: Run, staged: dict, r: dict) -> None:
    reader_extras(run, run.work.sub("idx_ingest"), r["sessions"],
                  staged["probes"])
