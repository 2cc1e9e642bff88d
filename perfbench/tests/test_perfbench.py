"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q            # all (the slow ones start Spark)
    python -m pytest perfbench/tests -q -m "not slow"
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _digest(table) -> str:
    h = hashlib.sha256()
    for batch in table.to_batches():
        for col in batch.columns:
            for buf in col.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()


# ---------------------------------------------------------- generators

def test_token_generator_same_seed_same_checksum():
    from rugo_spark.tokengen import token_batch

    a = token_batch(300, seed=7, start=100)
    b = token_batch(300, seed=7, start=100)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(token_batch(300, seed=8, start=100))


def test_doc_generator_same_seed_same_checksum():
    from rugo_spark.docgen import doc_batch

    for mega in (None, 6):
        a = doc_batch(200, seed=7, start=50, mega_every=mega)
        b = doc_batch(200, seed=7, start=50, mega_every=mega)
        assert _digest(a) == _digest(b)
    assert _digest(doc_batch(200, seed=7)) != _digest(doc_batch(200, seed=8))


def test_planted_duplicates_deterministic_and_in_range():
    from perfbench.workloads import planted_duplicates

    n = planted_duplicates(5000, 3)
    assert n == planted_duplicates(5000, 3)
    assert 0.15 * 5000 < n < 0.25 * 5000  # docgen plants ~20%


# -------------------------------------------------------------- names

def test_metric_names_match_pattern_and_benchmark_json():
    bench = _bench_json()
    e2e = {(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]}
    layer = {(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]}
    assert e2e == set(metrics.E2E)
    assert layer == set(metrics.PER_LAYER)
    names = [n for n, _, _ in metrics.E2E + metrics.PER_LAYER] + list(metrics.REPORT)
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    assert len(set(n for n, _, _ in metrics.E2E + metrics.PER_LAYER)) == (
        len(metrics.E2E) + len(metrics.PER_LAYER))


def test_workloads_match_benchmark_json():
    from perfbench.run import WORKLOAD_NAMES

    bench = _bench_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOAD_NAMES)
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_tail_percentile_needs_ten_beyond():
    from perfbench.harness import tail_percentile

    assert tail_percentile(list(range(15)), 90.0) is None  # p33 < p50
    p, _ = tail_percentile(list(range(40)), 90.0)
    assert p == 75.0
    assert tail_percentile(list(range(100)), 90.0)[0] == 90.0


# ------------------------------------------------- whole runs (Spark)

def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout
    lines = [json.loads(x) for x in proc.stdout.strip().splitlines()]
    result, report = lines[-1], lines[-2]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for name in list(result["metrics"]) + list(report["report"]):
        assert NAME.fullmatch(name), name
    return result, report


@pytest.fixture(scope="module")
def traced_pairs():
    """Each workload traced twice with one seed."""
    return {w: (_run(w, 11, 1), _run(w, 11, 1)) for w in ("ingest_mutate", "scan_dedup")}


@pytest.mark.slow
def test_ingest_counts_repeat_exactly(traced_pairs):
    (a_res, a_rep), (b_res, b_rep) = traced_pairs["ingest_mutate"]
    key = "stored_bytes_per_input_byte"
    assert a_rep["report"][key]["value"] == b_rep["report"][key]["value"]
    out_bytes = [k for k in a_res["metrics"] if k.startswith("codecs.out_bytes.")]
    assert out_bytes and any(a_res["metrics"][k]["value"] > 0 for k in out_bytes)
    for k in out_bytes:
        assert a_res["metrics"][k]["value"] == b_res["metrics"][k]["value"], k


@pytest.mark.slow
def test_dedup_counts_repeat_exactly(traced_pairs):
    (a, _), (b, _) = traced_pairs["scan_dedup"]
    keys = [k for k in a["metrics"]
            if k.startswith(("ops.dedup.candidate_pairs.", "ops.dedup.dropped_docs."))]
    assert len(keys) == 4
    for k in keys:
        assert a["metrics"][k]["value"] == b["metrics"][k]["value"] > 0, k


@pytest.mark.slow
def test_traced_run_prints_every_per_layer_metric(traced_pairs):
    for (res, _), _ in traced_pairs.values():
        assert set(res["metrics"]) == {n for n, _, _ in metrics.PER_LAYER}
        assert res["metrics"]["trace_overhead"]["value"] > 0


@pytest.mark.slow
def test_untraced_run_prints_every_end_to_end_metric():
    res, rep = _run("scan_dedup", 5, 0)
    assert set(res["metrics"]) == {n for n, _, _ in metrics.E2E}
    assert all(v["value"] > 0 for v in res["metrics"].values())
    for n in ("decode_mtok_per_s", "metadata_agg_ms", "lookup_p50_ms", "dedup_docs_per_s",
              "dedup_skew_docs_per_s", "setup_s", "failed_op_ratio", "peak_rss_mb"):
        assert n in rep["report"], n
