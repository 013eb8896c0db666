"""Tests of the benchmark's own code (no Spark session).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import measure  # noqa: E402
import oracles  # noqa: E402
import run as bench  # noqa: E402


def _parquet_bytes(df) -> bytes:
    buf = io.BytesIO()
    df.to_parquet(buf, index=False)
    return buf.getvalue()


def _all_inputs(seed: int) -> list[bytes]:
    ing = inputs.ingest_batch(seed, 30)
    files = inputs.stream_files(seed, (10, 8, 12), 1, 3)
    tables = inputs.contract_tables(seed, n_docs=20, n_events=50, n_vecs=20)
    return [
        _parquet_bytes(inputs.corpus_rows(seed, 15)),
        repr(inputs.query_stream(seed, 200)).encode(),
        repr(inputs.class_probes(seed)).encode(),
        _parquet_bytes(ing.batch),
        *(_parquet_bytes(f) for f in files),
        *(_parquet_bytes(t) for t in tables.values()),
        repr(inputs.contract_order(seed)).encode(),
    ]


def test_same_seed_gives_byte_identical_inputs():
    assert _all_inputs(7) == _all_inputs(7)


def test_different_seed_gives_different_inputs():
    a, b = _all_inputs(7), _all_inputs(8)
    # every input but the permutation of a short list must differ
    assert all(x != y for x, y in zip(a[:-1], b[:-1]))


def test_ingest_batch_injects_the_counted_defects():
    ing = inputs.ingest_batch(3, 100)
    b = ing.batch
    assert b["repo"].isna().sum() == ing.n_malformed
    assert (b["content"].isna() & b["repo"].notna()).sum() == ing.n_tombstones
    assert (b["version"] == 2).sum() == 10


def test_stream_files_reemit_round_zero_keys():
    files = inputs.stream_files(3, (10, 8, 12), 1, 3)
    key = ["repo", "path", "commit"]
    assert [len(f) for f in files] == [10, 11, 12]
    first = set(map(tuple, files[0][key].values))
    again = [k for k in map(tuple, files[1][key].values) if k in first]
    assert len(again) == 3
    for f in files:
        assert not f.duplicated(key).any()


def test_query_stream_covers_every_class():
    kinds = {(q.kind, q.cls) for q in inputs.query_stream(1, 2000)}
    want = {("bm25", c) for c in inputs.BM25_CLASSES}
    want |= {("phrase", c) for c in inputs.PHRASE_CLASSES}
    want.add(("near", "near"))
    assert kinds == want
    assert {(q.kind, q.cls) for q in inputs.class_probes(1)} == want


# -- percentiles and the sample-count rule ---------------------------------

@pytest.mark.parametrize("q,n", [(50, 20), (90, 100), (95, 200), (99, 1000)])
def test_min_samples_leave_ten_beyond(q, n):
    assert measure.min_samples_for(q) == n


def test_percentile_needs_enough_samples():
    assert measure.percentile(list(range(199)), 95) is None
    vals = list(range(1, 201))  # 1..200
    assert measure.percentile(vals, 95) == 190
    assert sum(v > 190 for v in vals) == 10
    assert measure.percentile(vals, 50) == 100


def test_summarize_reports_highest_supported_percentile():
    s = measure.summarize([float(i) for i in range(150)])
    assert s["n"] == 150 and "p90" in s and "p95" not in s
    assert s["p50"] == 74.5
    assert "p99" in measure.summarize([1.0] * 1000)
    assert measure.summarize([]) == {"n": 0}


# -- spans -----------------------------------------------------------------

def _span(i, name, parent, start, end, op=1):
    return {"id": i, "name": name, "parent": parent, "op": op,
            "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "harness.phase", None, 0.0, 10.0),
        _span(1, "bm25.a", 0, 1.0, 3.0),
        _span(2, "bm25.b", 0, 2.0, 5.0),     # overlaps the first child
        _span(3, "merge.c", 0, 6.0, 7.0),
        _span(4, "merge.d", 3, 6.5, 6.75),   # grandchild
        _span(5, "bm25.e", 0, 9.5, 11.0),    # runs past its parent
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0 + 0.5))
    assert st[3] == pytest.approx(0.75)
    assert st[4] == pytest.approx(0.25)
    layers = measure.layer_self_times(spans)
    assert layers["harness"] == pytest.approx(4.5)
    assert layers["bm25"] == pytest.approx(2.0 + 3.0 + 1.5)
    assert layers["merge"] == pytest.approx(1.0)
    assert measure.coverage(spans, 0) == pytest.approx(0.55)


def test_tracer_nests_spans_and_shares_the_op_id():
    t = measure.Tracer(enabled=True)
    with t.span("harness.p", op=0):
        with t.span("indexer.bulk", op=5) as a:
            with t.span("inner.x") as b:
                pass
    assert a["parent"] == 0 and b["parent"] == a["id"]
    assert b["op"] == 5
    assert all(s["end"] >= s["start"] for s in t.spans)
    off = measure.Tracer(enabled=False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def test_span_layer_splits_positions_sides():
    assert bench.span_layer("positions.build") == "positions_build"
    assert bench.span_layer("positions.phrase") == "positions_query"
    assert bench.span_layer("bm25.search_topk") == "bm25"


# -- /proc VmHWM -----------------------------------------------------------

def test_vm_hwm_reader(tmp_path):
    d = tmp_path / "123"
    d.mkdir()
    (d / "status").write_text("Name:\tx\nVmPeak:\t 900 kB\nVmHWM:\t  2048 kB\n")
    assert measure.vm_hwm_kb(123, str(tmp_path)) == 2048
    assert measure.peak_rss_mb([123, 123], str(tmp_path)) == 4.0
    (d / "status").write_text("Name:\tx\n")
    with pytest.raises(ValueError):
        measure.vm_hwm_kb(123, str(tmp_path))
    assert measure.vm_hwm_kb() > 0  # this process


# -- oracles ---------------------------------------------------------------

def test_text_oracle_bm25_phrase_near():
    docs = {1: "a b c a", 2: "b a", 3: "c c d"}
    o = oracles.TextOracle(docs)
    assert o.postings() == 3 + 2 + 2
    assert o.phrase("b c") == [1]
    assert o.phrase("a b") == [1]
    assert o.phrase("c c") == [3]
    assert o.near("a", "c", 1) == [1]
    assert o.near("a", "a", 2) == []
    assert o.near("a", "a", 3) == [1]
    n, avgdl = 3, 9 / 3
    idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))
    want = idf * 2 * 2.2 / (2 + 1.2 * (1 - 0.75 + 0.75 * 4 / avgdl))
    assert o.scores("a", "or")[1] == pytest.approx(want, abs=1e-12)
    assert set(o.scores("a c", "and")) == {1}
    top = sorted(o.scores("a", "or").items(), key=lambda x: (-x[1], x[0]))
    assert o.check_topk("a", "or", 10, top) is None
    assert o.check_topk("a", "or", 10, top[::-1]) is not None


def test_contract_rows_match_normalises():
    rows = [{"b": 0.1234567, "a": "x"}, {"b": float("nan"), "a": "y"}]
    oracle = [{"a": "y", "b": float("nan")}, {"a": "x", "b": 0.12345671}]
    assert oracles.contract_rows_match(["a", "b"], rows, ["b", "a"], oracle) is None
    assert oracles.contract_rows_match(["a", "b"], rows[:1], ["a", "b"],
                                       oracle) is not None


# -- the command -----------------------------------------------------------

def test_contract_slice_names_agree():
    assert bench.CONTRACT == inputs.CONTRACT_QUERIES


def test_benchmark_json_matches_the_metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER


def test_exits_without_result_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "load_search",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""
