"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The command

1. starts one Spark driver process (``perfbench/worker.py``) on
   ``local[nproc / 2]`` with its own warehouse, ``SPARK_LOCAL_DIRS`` and
   ``TMPDIR`` under ``.perfbench/runs/``, all removed when it ends;
2. turns the worker's record into metrics, keeps the full record
   (host fingerprint, canary, per-pass latencies, spans) under
   ``.perfbench/results/``, and prints one JSON line last:
   ``{"correct", "attempted", "failed", "metrics"}`` with the
   end-to-end metrics, or with ``--trace 1`` the per-layer ones.

It exits non-zero without a result when the program is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import (  # noqa: E402
    failed_share,
    footprint_ratio,
    nearest_rank,
    tail_percentile,
)

# byte copies of the repository's scale-factor-0.01 test tables, the
# scale its DuckDB oracle tests run at
DATA_DIR = os.path.join(HERE, "data")
RUN_LIMIT_S = 170
# The driver JVM's heap cap. Under the program's default (8g) the JVM
# grows its heap until it nears the cap before it collects, so peak RSS
# measured when the collector ran: over three census runs it spread by
# 0.46 of its median. Under the cap, garbage and retained memory cost
# collections, which show in pass_s and in the per-pass GC time.
DRIVER_MEM = "2g"
# The end-to-end metrics BENCHMARK.json bounds. ``first_pass_s`` is
# reported on the summary line only: one cold pass per run spread by
# up to 0.38 of its median across ten runs, beyond any usable bound.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "slowest_op_s": "s",
    "peak_rss_mb": "MB",
    "footprint_ratio": "ratio",
    "success_share": "ratio",
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Task slots of the benchmark's ``local[N]`` session: half the
    cores, so the driver JVM's JIT compiler and collector threads and
    the Python driver do not compete with the task threads. With every
    core given to tasks, census passes still got faster after 30 s of
    warm passes (5.8 s to 3.5 s in one run), and three runs in a row on
    a quiet host had median passes of 6.8, 5.4 and 3.9 s."""
    return max(1, cpu_count() // 2)


def host_fingerprint(record: dict) -> dict:
    mem = cpu = ""
    with open("/proc/meminfo") as f:
        mem = next((ln.split(":")[1].strip() for ln in f if ln.startswith("MemTotal")), "")
    with open("/proc/cpuinfo") as f:
        cpu = next((ln.split(":")[1].strip() for ln in f if ln.startswith("model name")), "")
    return {
        "nproc": cpu_count(),
        "mem_total": mem,
        "cpu_model": cpu,
        "python": platform.python_version(),
        "spark": record.get("spark_version"),
        "java": record.get("java_version"),
    }


def end_to_end(record: dict) -> dict[str, float]:
    """The end-to-end metrics of an untraced run record."""
    setup = record["setup"]
    first = [p for p in record["passes"] if p["kind"] == "first"]
    warm = [p for p in record["passes"] if p["kind"] == "warm"]
    lat = [o["latency"] for p in warm for o in p["ops"]]
    return {
        "setup_s": setup["start_s"] + setup["warmup_s"] + setup["staging_s"],
        "first_pass_s": sum(o["latency"] for p in first for o in p["ops"]),
        "pass_s": statistics.median([sum(o["latency"] for o in p["ops"]) for p in warm]),
        "op_p50_s": statistics.median(lat),
        "slowest_op_s": statistics.median([max(o["latency"] for o in p["ops"]) for p in warm]),
        "peak_rss_mb": statistics.median([p["peak_rss_mb"] for p in warm]),
        "footprint_ratio": footprint_ratio(record["input_bytes"], record["stored_bytes"]),
        "success_share": 1.0 - failed_share(record["attempted"], record["failed"]),
    }


def op_tail(record: dict) -> dict:
    """The highest percentile of warm op latency with at least ten
    samples beyond it, if the run has one, with the sample count."""
    lat = [o["latency"] for p in record["passes"] if p["kind"] == "warm" for o in p["ops"]]
    pct = tail_percentile(len(lat))
    return {"samples": len(lat), "pct": pct, "value": nearest_rank(lat, pct) if pct else None}


def run_worker(args, run_dir: str, out: str) -> int:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p])
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    # every JVM the run starts (the launcher too) keeps its temp files in the run
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    env["PYSPARK_PYTHON"] = sys.executable
    env.pop("SPARK_GRAFT_MASTER", None)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", DATA_DIR, "--run-dir", run_dir, "--cpus", str(spark_cores()), "--out", out,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {RUN_LIMIT_S}s; stopping it", file=sys.stderr)
        return -1
    finally:
        # the JVM and Python workers share the worker's process group:
        # stop whatever is left of it and wait until it is gone
        proc.kill()
        proc.wait()
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # on SIGTERM, unwind through the finally blocks that stop the worker
    # and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    state_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state_dir, "runs", f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    out = os.path.join(run_dir, "record.json")
    os.makedirs(run_dir)
    try:
        code = run_worker(args, run_dir, out)
        if code != 0 or not os.path.exists(out):
            print(f"worker failed with exit code {code}", file=sys.stderr)
            return 1
        with open(out) as f:
            record = json.load(f)
        if args.trace:
            from perfbench.layers import PER_LAYER, per_layer
            from perfbench.telemetry import read_event_log

            jobs = read_event_log(os.path.join(run_dir, "eventlog"))
            values = per_layer(record, jobs, record["cpus"])
            units = PER_LAYER
        else:
            values = end_to_end(record)
            units = END_TO_END
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record["host"] = host_fingerprint(record)
    record["metrics"] = values
    record["op_tail"] = op_tail(record)
    results = os.path.join(state_dir, "results")
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"), "w") as f:
        json.dump(record, f)

    for msg in record["failures"]:
        print(f"FAILED {msg}", file=sys.stderr)
    summary = {"workload": args.workload, "host": record["host"], "canary": record["canary"],
               "op_tail": record["op_tail"]}
    if not args.trace:
        summary["first_pass_s"] = values["first_pass_s"]
        summary["jvm_gc_s"] = statistics.median(p["gc_s"] for p in record["passes"] if p["kind"] == "warm")
    print(json.dumps(summary))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    root_pkg = os.path.join(ROOT, "gerrydb_etl_spark", "__init__.py")
    if not os.path.exists(root_pkg):
        print("the program (gerrydb_etl_spark/) is not in this checkout", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
