"""Engine benchmark: runs one workload and prints one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``ingest_stream``: the composed streaming flagship
  (``streaming_ingest_etl``) over a seeded feed, every fold cadence on.
- ``curate_batch``: six registry jobs run once each, cold.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
listed in BENCHMARK.json; with ``--trace 1`` it carries the per-layer
metrics, and the span records go to ``.perfbench/spans-*.json``.
Everything a run writes stays under ``.perfbench/`` in the checkout.
Diagnostics (per-operation samples, host context) go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

_T0 = time.perf_counter()  # interpreter start, for the phase breakdown

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "notion_vector_store_etl_pipeline_spark"
WORKLOADS = ("ingest_stream", "curate_batch")
DRIVER_MEM = "1g"  # the workloads are small; the package default (16g) is the whole box


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _isolate(run_dir: str) -> None:
    """Point every place the engine or Spark writes at ``run_dir`` and
    size the session, before the JVM starts. The index memo's default
    root (``/tmp/nve_index_cache_<user>``) outlives processes: shared, it
    would make set-up depend on what earlier runs left behind."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "index-cache", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": dirs["tmp"],
            "SPARK_LOCAL_DIRS": dirs["spark-local"],
            "NVE_INDEX_CACHE_DIR": dirs["index-cache"],
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            # Python workers unpickle the engine's UDFs by module path
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    f'--driver-java-options "-Djava.io.tmpdir={dirs["tmp"]} -XX:-UsePerfData"',
                    "--conf spark.ui.showConsoleProgress=false",
                    f"--conf spark.sql.warehouse.dir={dirs['warehouse']}",
                    # the tracer reads every span's jobs after the measured
                    # phase, so none may be evicted before then
                    "--conf spark.ui.retainedJobs=100000",
                    "--conf spark.ui.retainedStages=100000",
                    "--conf spark.ui.retainedTasks=1000000",
                    "--conf spark.sql.streaming.numRecentProgressUpdates=1000",
                    "pyspark-shell",
                ]
            ),
        }
    )


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed RSS of this process tree (driver JVM and
    Python workers included) every 0.2 s; ``peak_mb`` is the largest."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(0.2)

    def sample(self):
        from perfbench.common import tree_pids

        self.peak = max(self.peak, sum(_rss_bytes(p) for p in tree_pids(os.getpid())))

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def _host_probe():
    """bench.py's fixed-work CPU canary and /proc/stat steal counter,
    recorded beside the metrics as host context (never gated). Absent
    if bench.py is."""
    try:
        from bench import _busy_jiffies, _cpu_canary
    except ImportError:
        return None
    return _busy_jiffies, _cpu_canary


def _stop_spark(spark, pids: list[int]) -> None:
    """Stop the session, then the JVM, then anything else it left."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    for pid in pids:
        if pid == os.getpid():
            continue
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def run(workload: str, seed: int, seconds: int, trace: bool, run_dir: str, scale: str = "full") -> dict:
    """Run one workload in this process, once: the engine's UDFs keep
    handles into the first JVM, so a process holds one run. Returns the
    check counts and both metric sets (``end_to_end``, ``per_layer``);
    the per-layer counters are real only when ``trace``.
    ``scale="smoke"`` shrinks every input."""
    from notion_vector_store_etl_pipeline_spark import get_spark
    from perfbench import curate, ingest
    from perfbench.common import tree_pids
    from perfbench.spans import Tracer

    host = _host_probe()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload}")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        pids = tree_pids(os.getpid())
        try:
            tracer = Tracer(spark, f"{workload}-{seed}", trace)
            steal0 = host[0]() if host else None
            t_run = time.perf_counter()
            mod = ingest if workload == "ingest_stream" else curate
            work = os.path.join(run_dir, "work")
            shutil.rmtree(work, ignore_errors=True)  # a stale checkpoint would resume
            res = mod.run(spark, tracer, seed, seconds, work, scale)
            run_s = time.perf_counter() - t_run
            steal1 = host[0]() if host else None
        finally:
            pids = sorted(set(pids) | set(tree_pids(os.getpid())))
            t_stop = time.perf_counter()
            _stop_spark(spark, pids)
            stop_s = time.perf_counter() - t_stop
    e2e = dict(res["e2e"])
    # set-up is cold: session start (JVM launch) plus the workload's own
    e2e["setup_s"] += session_s
    e2e["peak_rss_mb"] = rss.peak_mb
    layers = dict(res["layers"])
    layers["session.start_s"] = session_s
    # against the untraced runs' wall_s, the cost of tracing
    layers["perfbench.traced_wall_s"] = e2e["wall_s"]
    layers["perfbench.trace_overhead_s"] = tracer.overhead_s
    spec = _spec()
    unknown = set(layers) - {m["name"] for m in spec["per_layer"]}
    missing = {m["name"] for m in spec["end_to_end"]} - set(e2e)
    if unknown or missing:
        raise RuntimeError(f"{workload}: unlisted layer metrics {unknown}, missing metrics {missing}")
    # a span this workload never opens launched no work here
    layers = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
    detail = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "phases_s": {"imports": t0 - _T0, "session": session_s, "workload": run_s, "stop": stop_s},
        "samples": res.get("samples", {}),
        "failed_checks": sorted(k for k, ok in res["checks"].items() if not ok),
        "host": None,
    }
    if host:
        _, canary = host
        steal = (steal1[2] - steal0[2]) / os.sysconf("SC_CLK_TCK") / max(run_s, 1e-9)
        detail["host"] = {"canary_s": canary(), "steal_cores": round(steal, 3)}
    if trace:
        spans_path = os.path.join(ROOT, ".perfbench", f"spans-{workload}-s{seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            json.dump(tracer.dump(), f)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
    print(json.dumps(detail), file=sys.stderr)
    failed = sum(1 for ok in res["checks"].values() if not ok)
    return {
        "correct": failed == 0,
        "attempted": len(res["checks"]),
        "failed": failed,
        "end_to_end": {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]},
        "per_layer": {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for needed in (PACKAGE, "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found in {ROOT}; run from a full checkout", file=sys.stderr)
            return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-s{args.seed}-{os.getpid()}")
    _isolate(run_dir)
    sys.path.insert(0, ROOT)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = result["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed")} | {"metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
