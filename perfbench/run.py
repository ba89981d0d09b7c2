"""Seeded end-to-end benchmark of the S2 spatial engine on local[nproc].

Usage (from the repository root):

    python3 perfbench/run.py --workload join_tiles_uniform --seed 1 \
        --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Each workload runs in its own child process (``worker.py``) with a
fresh TMPDIR and Spark local dir under ``.perfbench_work/`` (so the
covering disk cache and Spark's spill files start empty on every run),
Spark's console progress bar off, and the Spark driver heap sized from the
host's RAM.  This process samples the resident memory of the child's
whole process tree (driver Python, JVM, Python workers) from /proc,
stops every process the child started, and prints each metric with its
unit, a correctness verdict, a record stamped with engine versions,
cores and RAM, and, last, one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (and writes a span file under
``.perfbench_work/traces/``).  See README.md for the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "s2_geometry_library_php_spark"
WORKLOADS = (
    "join_tiles_uniform",
    "join_tiles_hotspot",
    "knn_probe_batches",
    "corpus_clean_dedup",
)
CHILD_TIMEOUT_S = 170

END_TO_END = {
    "items_per_s": "1/s",
    "pass_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics, named <layer>.<metric>.  A workload that does not
# exercise a layer reports 0 for it.
PER_LAYER = {
    "plans.get_spark_s": "s",
    "sources.load_cache_s": "s",
    "sources.scan_s": "s",
    "s2core.encode_rows_per_s": "1/s",
    "s2core.covering_s": "s",
    "functions.encode_pass_s": "s",
    "functions.s2_cell_id.rows": "count",
    "functions.s2_cell_id.python_s": "s",
    "functions.s2_cell_id.init_s": "s",
    "functions.s2_cell_id.bytes_sent": "bytes",
    "functions.s2_cell_id.bytes_received": "bytes",
    "spatial_join.prefilter_rows_out": "count",
    "spatial_join.probe_rows": "count",
    "spatial_join.candidate_rows": "count",
    "spatial_join.refine_rows_in": "count",
    "spatial_join.match_rows": "count",
    "spatial_join.useful_ratio": "ratio",
    "spatial_join.refine.python_s": "s",
    "spatial_join.refine.init_s": "s",
    "spatial_join.build_s": "s",
    "spatial_join.broadcast_bytes": "bytes",
    "spatial_join.broadcast_build_s": "s",
    "tiling.shuffle_bytes": "bytes",
    "tiling.shuffle_records": "count",
    "tiling.shuffle_write_s": "s",
    "tiling.agg_peak_mem_bytes": "bytes",
    "tiling.tile_max_over_mean": "ratio",
    "knn.call_s": "s",
    "knn.collect_s": "s",
    "knn.spark_jobs": "count",
    "knn.start_level": "level",
    "dedup.band_pair_rows": "count",
    "dedup.near_dup_losers": "count",
    "dedup.useful_ratio": "ratio",
    "corpus.survivors": "count",
    "corpus.shuffle_bytes": "bytes",
    "corpus.python_s": "s",
    "driver.jobs_per_pass": "count",
    "driver.stages_per_pass": "count",
    "driver.tasks_per_pass": "count",
    "trace.span_coverage": "ratio",
    "trace.overhead_s": "s",
    "pass_p90_s": "s",
    "failed_frac": "ratio",
}


def host_info() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"cores": cores, "ram_gb": round(mem_kb / 2**20, 1)}


def driver_memory(ram_gb: float) -> str:
    """A sixteenth of physical RAM, at least 1 GB.  The inputs are at
    most 10^5 rows, so this heap never fills, and a heap that is not far
    larger than the work keeps the JVM's resident size from depending
    on when G1 decides to grow it (a 3 GB heap made peak_rss_mb jump by
    one 250 MB heap step between runs of the same seed)."""
    return f"{max(1, int(ram_gb // 16))}g"


def versions() -> dict:
    out = {"python": sys.version.split()[0]}
    for mod in ("pyspark", "duckdb", "pyarrow", "pandas", "numpy"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = None
    return out


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # field 6 of stat: session id
            pids.append(int(entry))
    return pids


def _tree_rss_bytes(sid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler(threading.Thread):
    def __init__(self, sid: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.sid, self.interval = sid, interval
        self.peak = 0
        self.stop_event = threading.Event()

    def run(self):
        while not self.stop_event.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.sid))
            self.stop_event.wait(self.interval)


def _stop_session(sid: int) -> None:
    """SIGKILL whatever the child left in its session and wait until
    every such process is gone."""
    deadline = time.monotonic() + 20
    while True:
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} survived SIGKILL")
        time.sleep(0.1)


def run_workload(workload: str, seed: int, seconds: float, trace: int, host: dict) -> dict:
    work_root = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(work_root, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(workdir, "spark-local"))
    span_file = None
    if trace:
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        span_file = os.path.join(
            work_root, "traces", f"{workload}-s{seed}-{time.strftime('%Y%m%dT%H%M%S')}.json"
        )
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        SPARK_DRIVER_MEM=driver_memory(host["ram_gb"]),
        SPARK_GRAFT_CPUS=str(host["cores"]),
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
        "--workdir", workdir,
    ]
    if span_file:
        cmd += ["--span-file", span_file]
    t0 = time.perf_counter()
    child = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True
    )
    sampler = RssSampler(child.pid)
    sampler.start()
    try:
        stdout, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stdout = ""
        print(f"perfbench: {workload} exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
    finally:
        sampler.stop_event.set()
        sampler.join()
        _stop_session(child.pid)
        child.wait()
        shutil.rmtree(workdir, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if child.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: worker for {workload} failed (exit {child.returncode})")
    result = json.loads(lines[-1].split(" ", 1)[1])
    result["peak_rss_mb"] = sampler.peak / 2**20
    result["wall_s"] = time.perf_counter() - t0
    result["span_file"] = span_file and os.path.relpath(span_file, ROOT)
    return result


def report(workload: str, seed: int, result: dict, trace: int, host: dict) -> dict:
    """Print the human-readable lines and return the JSON result."""
    correct = result["failed"] == 0
    if trace:
        values = {k: result["layers"].get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = {**result["end_to_end"], "peak_rss_mb": result["peak_rss_mb"]}
        units = END_TO_END
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    verdict = "CORRECT" if correct else "WRONG: " + "; ".join(result["problems"])
    print(f"[{workload}] seed={seed} {verdict}")
    print(
        f"[{workload}] passes={result['passes']} attempted={result['attempted']} "
        f"failed={result['failed']} failed_frac={result['failed'] / result['attempted']:.4f}"
    )
    for name, m in metrics.items():
        print(f"[{workload}] {name} = {m['value']:.6g} {m['unit']}")
    record = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "host": host,
        "versions": versions(),
        "items_per_pass": result["items_per_pass"],
        "input_digest": result["input_digest"],
        "survivor_digest": result["survivor_digest"],
        "pass_times_s": result["pass_times"],
        "setup": result["setup"],
        "wall_s": result["wall_s"],
        "span_file": result["span_file"],
    }
    print(f"[{workload}] record {json.dumps(record)}")
    return {
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so run_workload's finally still
    # kills and reaps the child's whole session.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host = host_info()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    outputs = {}
    for name in names:
        result = run_workload(name, args.seed, args.seconds, args.trace, host)
        outputs[name] = report(name, args.seed, result, args.trace, host)
    if len(names) == 1:
        final = outputs[names[0]]
    else:
        final = {
            "correct": all(o["correct"] for o in outputs.values()),
            "attempted": sum(o["attempted"] for o in outputs.values()),
            "failed": sum(o["failed"] for o in outputs.values()),
            "metrics": {
                f"{w}.{k}": m for w, o in outputs.items() for k, m in o["metrics"].items()
            },
        }
    print(json.dumps(final), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
