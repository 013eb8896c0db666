"""Workload ``load_search``: one-shot bulk loads of a seeded code corpus
(positions off and on, twice each), a closed loop of BM25 top-k and
phrase/NEAR queries on two warm readers, and a slice of the contract
queries.

Exercises ``operators.indexer``, both sides of ``operators.positions``,
``operators.bm25`` and the contract operators (``dedup``, ``similarity``,
``textstats``, ``convert``, event-time windows).
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb

import inputs
from harness import FAILED, Run, tree_bytes
from measure import p50, percentile, summarize
from oracles import TextOracle, contract_rows_match, row_doc_id
from readers import (
    Session,
    check_session,
    latencies,
    reader_extras,
    reader_layer_metrics,
    run_session,
)

N_DOCS = 1000          # corpus rows in the timed bulk load
BUILD_REPS = 2         # timed builds of each kind, interleaved (median)
WARM_DOCS = 100        # rows in the warm-up slice
CONTRACT_ROUNDS = 2    # timed rounds over the contract slice (median per query)
QUERY_STREAM = 2500    # queries generated; the loop stops on time
MIN_QUERIES = 300      # at least 200 BM25 samples, for a p95
QUERY_CHUNKS = BUILD_REPS + CONTRACT_ROUNDS  # loop slices between the batch ops


def _engine_config(cores: int, positions: bool):
    from kafka_connect_opensearch_spark.config import EngineConfig

    return EngineConfig(num_segments=4, shuffle_partitions=cores,
                        salt_partitions=4, index_positions=positions)


def _stage(run: Run, rep: int) -> dict:
    """Generate every input of the run from the seed and write it."""
    d = run.work.sub(f"stage{rep}")
    os.makedirs(os.path.join(d, "contract"))
    corpus = inputs.corpus_rows(run.seed, N_DOCS)
    corpus.to_parquet(os.path.join(d, "corpus.parquet"), index=False)
    tables = inputs.contract_tables(run.seed)
    for name, df in tables.items():
        df.to_parquet(os.path.join(d, "contract", f"{name}.parquet"),
                      index=False)
    return {
        "dir": d,
        "corpus": corpus,
        "stream": inputs.query_stream(run.seed, QUERY_STREAM),
        "probes": inputs.class_probes(run.seed),
        "order": inputs.contract_order(run.seed),
    }


def setup(run: Run) -> tuple[dict, float, float]:
    """Stage inputs (repeated; median time) and warm every timed entry
    point once on a small slice. Returns (staged, staging_s, warmup_s)."""
    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader
    from kafka_connect_opensearch_spark.operators.indexer import build_index_bulk
    from kafka_connect_opensearch_spark.operators.positions import PositionsReader

    import __spark_entry__ as contract

    staged, staging_s = run.stage(_stage)
    t0 = time.perf_counter()
    spark = run.spark
    sl = spark.read.parquet(os.path.join(staged["dir"], "corpus.parquet")) \
        .limit(WARM_DOCS)
    w_off, w_on = run.work.sub("warm_off"), run.work.sub("warm_on")
    build_index_bulk(spark, sl, w_off, _engine_config(run.cores, False))
    build_index_bulk(spark, sl, w_on, _engine_config(run.cores, True))
    reader, preader = IndexReader(spark, w_off), PositionsReader(spark, w_on)
    for q in staged["probes"]:
        if q.kind == "bm25":
            reader.search_topk(q.text, 10, q.mode)
        elif q.kind == "phrase":
            preader.phrase_match_ids(q.text)
        else:
            a, b = q.text.split()
            preader.near_match_ids(a, b, q.slop)
    if run.trace:
        reader.search(staged["probes"][0].text, k=10).collect()
    qs = contract.queries()
    tables = os.path.join(staged["dir"], "contract")
    for name in staged["order"]:
        qs[name](spark, tables).collect()
    return staged, staging_s, time.perf_counter() - t0


def timed(run: Run, staged: dict) -> dict:
    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader
    from kafka_connect_opensearch_spark.operators.indexer import build_index_bulk
    from kafka_connect_opensearch_spark.operators.positions import PositionsReader

    import __spark_entry__ as contract

    spark = run.spark
    corpus_df = spark.read.parquet(os.path.join(staged["dir"], "corpus.parquet"))
    idx_off, idx_on = run.work.sub("idx_off0"), run.work.sub("idx_on0")
    r: dict = {"sessions": [Session("warm")], "contract": {},
               "bulk": [], "bulk_pos": []}

    qs = contract.queries()
    tables = os.path.join(staged["dir"], "contract")
    session, pos = r["sessions"][0], 0
    readers = None

    def search(chunk: int):
        """One of QUERY_CHUNKS slices of the closed loop, on the warm
        readers; spreading the loop over the run keeps a short slow spell
        of the host from moving the median."""
        nonlocal pos
        if readers is None:
            return
        with run.phase(f"search{chunk}"):
            pos = run_session(run, session, *readers, staged["stream"], pos,
                              run.seconds / QUERY_CHUNKS,
                              MIN_QUERIES // QUERY_CHUNKS)

    for rep in range(BUILD_REPS):
        with run.phase(f"load{rep}"):
            r["bulk"].append(run.call(
                "indexer.bulk", build_index_bulk, spark, corpus_df,
                run.work.sub(f"idx_off{rep}"), _engine_config(run.cores, False)))
            r["bulk_pos"].append(run.call(
                "positions.build", build_index_bulk, spark, corpus_df,
                run.work.sub(f"idx_on{rep}"), _engine_config(run.cores, True)))
            if rep == 0:
                r["open"] = run.call("bm25.open", IndexReader, spark, idx_off)
                r["popen"] = run.call("positions.open", PositionsReader, spark,
                                      idx_on)
                if r["open"][1] is not FAILED and r["popen"][1] is not FAILED:
                    readers = (r["open"][1], r["popen"][1])
        search(rep)
    for rnd in range(CONTRACT_ROUNDS):
        with run.phase(f"contract{rnd}"):
            for name in staged["order"]:
                op_id, out, dt, jobs = run.call(
                    f"contract.{name}", _collect, qs[name], spark, tables)
                rec = r["contract"].setdefault(name, {"s": [], "runs": []})
                rec["s"].append(dt)
                rec["jobs"] = jobs["jobs"]
                rec["runs"].append((op_id, out))
        search(BUILD_REPS + rnd)
    r["peak_rss_mb"] = run.peak_rss_mb()
    return r


def _collect(query, spark, tables):
    df = query(spark, tables)
    return df.columns, [row.asDict() for row in df.collect()]


def check(run: Run, staged: dict, r: dict) -> None:
    corpus = staged["corpus"]
    oracle = TextOracle({
        row_doc_id(a, b, c): t
        for a, b, c, t in zip(corpus["repo"], corpus["path"],
                              corpus["commit"], corpus["content"])
    })
    for key, (op_id, m, _, _) in (
            (k, call) for k in ("bulk", "bulk_pos") for call in r[k]):
        if m is FAILED:
            continue
        if m.postings_written != oracle.postings():
            run.wrong(op_id, f"{key}: postings_written {m.postings_written} "
                             f"!= oracle {oracle.postings()}")
        if m.docs_indexed != N_DOCS:
            run.wrong(op_id, f"{key}: docs_indexed {m.docs_indexed} != {N_DOCS}")
    check_session(run, r["sessions"][0], oracle)

    from __spark_entry__ import oracle_sql

    sqls = oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "events", "embeddings"):
            path = os.path.join(staged["dir"], "contract", f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for name, rec in r["contract"].items():
            res = con.execute(sqls[name])
            ocols = [d[0] for d in res.description]
            orows = [dict(zip(ocols, row)) for row in res.fetchall()]
            for op_id, out in rec["runs"]:
                if out is FAILED:
                    continue  # already counted
                why = contract_rows_match(out[0], out[1], ocols, orows)
                if why is not None:
                    run.wrong(op_id, f"contract {name}: {why}")
    finally:
        con.close()


def layer_extras(run: Run, staged: dict, r: dict) -> None:
    reader_extras(run, run.work.sub("idx_off0"), r["sessions"], staged["probes"])


def metrics(run: Run, staged: dict, r: dict) -> dict:
    """End-to-end values; fills ``run.layer`` and the printed report."""
    sessions = r["sessions"]
    bulk_s = statistics.median(c[2] for c in r["bulk"])
    bulk_pos_s = statistics.median(c[2] for c in r["bulk_pos"])
    content_bytes = sum(len(c.encode()) for c in staged["corpus"]["content"])
    idx_on, idx_off = run.work.sub("idx_on0"), run.work.sub("idx_off0")
    contract_s = sum(statistics.median(v["s"]) for v in r["contract"].values())
    bm25 = latencies(sessions, "bm25")
    phrase = latencies(sessions, ("phrase", "near"))

    h = run.headline
    h("bulk_docs_per_s", N_DOCS / bulk_s, "docs/s", BUILD_REPS)
    h("bulk_pos_docs_per_s", N_DOCS / bulk_pos_s, "docs/s", BUILD_REPS)
    h("index_bytes_per_input_byte", tree_bytes(idx_on) / content_bytes, "ratio", 1)
    for key, lat in (("bm25", bm25), ("phrase", phrase)):
        for p, v in summarize(lat).items():
            if p != "n":
                h(f"{key}_warm_{p}_ms", v, "ms", len(lat))
    h("contract_s", contract_s, "s", CONTRACT_ROUNDS)

    L = run.layer
    _, m_off, _, jobs = r["bulk"][0]
    postings_bytes = tree_bytes(idx_off, "postings.parquet")
    L["indexer.bulk.s"] = bulk_s
    L["indexer.bulk.jobs"] = jobs["jobs"]
    L["indexer.bulk.tasks"] = jobs["tasks"]
    L["indexer.bulk.postings"] = m_off.postings_written if m_off is not FAILED else 0
    L["indexer.store.bytes_per_posting"] = (
        postings_bytes / m_off.postings_written
        if m_off is not FAILED and m_off.postings_written else 0.0)
    L["positions.build.extra_s"] = bulk_pos_s - bulk_s
    L["positions.store.bytes"] = tree_bytes(idx_on, "positions.parquet")
    reader_layer_metrics(run, sessions)
    L["bm25.p95_ms"] = percentile(bm25, 95)
    L["bm25.open_ms"] = r["open"][2] * 1000.0
    L["positions.open_ms"] = r["popen"][2] * 1000.0
    for name, rec in r["contract"].items():
        L[f"contract.{name}.s"] = statistics.median(rec["s"])
        L[f"contract.{name}.jobs"] = rec["jobs"]

    return {
        "peak_rss_mb": r["peak_rss_mb"],
        "write_docs_per_s": 2 * N_DOCS / (bulk_s + bulk_pos_s),
        "bm25_p50_ms": p50(bm25),
        "batch_s": bulk_s + bulk_pos_s + contract_s,
    }

