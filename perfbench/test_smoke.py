"""Smoke test of the benchmark itself on tiny inputs (three micro-batches,
one curation pass over ~100 docs): every metric in BENCHMARK.json comes
out with its unit, a correct engine passes every check, and a
deliberately corrupted output is counted as a failed operation.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs in its own process, as a benchmark run does (a process
holds one Spark session).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def drop_last_pagerank_row(frame):
    """Wraps ``curate.frame``: graph_pagerank loses one output row."""

    def corrupted(spark, job, sf_dir):
        df = frame(spark, job, sf_dir)
        return df.limit(df.count() - 1) if job == "graph_pagerank" else df

    return corrupted


def lose_clean_batch(check):
    """Wraps ``ingest._check``: batch 1's clean output is deleted first."""

    def corrupted(spark, pages, corpus_path, lsh_path, ivf_path, out):
        shutil.rmtree(f"{out}/clean/batch_id=1")
        return check(spark, pages, corpus_path, lsh_path, ivf_path, out)

    return corrupted


def _run(workload: str, run_dir: str, patch: str = "") -> dict:
    code = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from perfbench import curate, ingest, run as bench, test_smoke
{patch}
bench._isolate({run_dir!r})
print(json.dumps(bench.run({workload!r}, 7, 1, True, {run_dir!r}, "smoke")))
"""
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture
def run_dir(tmp_path):
    yield str(tmp_path / "run")
    shutil.rmtree(tmp_path / "run", ignore_errors=True)


@pytest.mark.parametrize("workload", ["ingest_stream", "curate_batch"])
def test_workload_emits_every_metric_and_passes(workload, run_dir):
    result = _run(workload, run_dir)
    for kind in ("end_to_end", "per_layer"):
        assert set(result[kind]) == {m["name"] for m in SPEC[kind]}
        for m in SPEC[kind]:
            assert result[kind][m["name"]]["unit"] == m["unit"]
            assert isinstance(result[kind][m["name"]]["value"], (int, float))
    assert all(v["value"] > 0 for v in result["end_to_end"].values())
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    own = "streaming." if workload == "ingest_stream" else "operators.traversal."
    assert any(
        v["value"] > 0 for k, v in result["per_layer"].items() if k.startswith(own) and k.endswith(".jobs")
    )


def test_corrupted_curation_output_fails(run_dir):
    result = _run("curate_batch", run_dir, "curate.frame = test_smoke.drop_last_pagerank_row(curate.frame)")
    assert result["failed"] == 1 and not result["correct"]


def test_corrupted_ingest_output_fails(run_dir):
    result = _run("ingest_stream", run_dir, "ingest._check = test_smoke.lose_clean_batch(ingest._check)")
    assert result["failed"] > 0 and not result["correct"]
