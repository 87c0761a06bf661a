"""One benchmark run of one workload inside one Spark driver process.

``run.py`` starts this with a private warehouse, ``SPARK_LOCAL_DIRS``
and ``TMPDIR`` and reads the JSON record it writes to ``--out``.
Phases, in order:

1. session start (cold JVM), warm-up and this workload's staging:
   together ``setup_s``;
2. untimed preparation: the seed's inputs and the oracle digests;
3. the first, cold pass: every op once;
4. one settling pass, checked but not measured: the second pass was
   still the slowest warm pass of most runs while the JIT compiler
   caught up;
5. warm passes until ``--seconds`` have passed; with ``--trace 1``
   they alternate traced and untraced, and the traced ones feed the
   per-layer metrics;
6. a host canary before the first pass and after the last.

Every op of every pass is checked after its timer stops.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# warm passes run until --seconds have passed, and at least this many
# run, so every run has a median pass and (traced) one pass of each kind
MIN_WARM_PASSES = 2


def _vmhwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _reset_hwm(pid: int | str) -> None:
    """Restart the kernel's peak-RSS count at the current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def jvm_gc_s(spark) -> float:
    """Time the driver JVM's collectors have spent since it started."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mgmt.getGarbageCollectorMXBeans()) / 1e3


def proc_cpu_s(pid: int | str) -> float:
    """User plus system CPU time a process has used, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of the host's CPU time between two ``cpu_ticks`` readings
    that its hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(1, sum(delta))


def canary(spark) -> dict:
    """Fixed host-speed probe, stored next to the metrics and never
    used to rescale them."""
    t0 = time.perf_counter()
    spark.range(0, 4_000_000, 1, 4).selectExpr("sum(hash(id)) AS h").collect()
    t1 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    t2 = time.perf_counter()
    return {"spark_s": t1 - t0, "python_s": t2 - t1}


def warm_up(spark, data_dir: str, scratch: str) -> None:
    """One tiny broadcast join and one tiny parquet write read back, so
    the first op is not charged the JVM's one-time costs of planning,
    running and writing a query."""
    from pyspark.sql import functions as F

    small = spark.read.parquet(os.path.join(data_dir, "orders.parquet")).where("o_orderkey < 100")
    small.join(
        F.broadcast(small.select(F.col("o_orderkey").alias("k"))),
        small["o_orderkey"] == F.col("k"),
    ).write.parquet(scratch)
    spark.read.parquet(scratch).write.format("noop").mode("overwrite").save()


def warehouse_listing(path: str) -> dict[str, int]:
    """Top-level warehouse entries and their newest mtime."""
    out = {}
    if not os.path.isdir(path):
        return out
    for name in os.listdir(path):
        newest = 0
        for base, _, files in os.walk(os.path.join(path, name)):
            for f in files:
                newest = max(newest, os.stat(os.path.join(base, f)).st_mtime_ns)
        out[name] = newest
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    from gerrydb_etl_spark.session import get_spark

    from perfbench.telemetry import StreamProgress, Tracer, udf_seconds
    from perfbench.workloads import WORKLOADS, Ctx, OpResult, dir_bytes

    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    run_dir = args.run_dir
    warehouse = os.path.join(run_dir, "warehouse")
    conf = {
        "spark.sql.warehouse.dir": warehouse,
        "spark.ui.showConsoleProgress": "false",
        # The heap starts at 1 GB instead of G1's default of 1/64 of RAM.
        # From the default, when G1 grew the heap depended on timing, and
        # the peak_rss_mb of ten curation runs ranged from 1.2 to 1.6 GB;
        # from 1 GB, ten runs read 1.75-1.81 GB. The cap
        # (SPARK_GRAFT_DRIVER_MEM, set by run.py) still lets retained
        # memory grow the heap, and show.
        "spark.driver.extraJavaOptions": "-Xms1g",
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=f"perfbench-{wl.name}", cpus=args.cpus, extra_conf=conf)
    start_s = time.perf_counter() - t_start
    tracer = Tracer(spark, traced)
    ctx = Ctx(spark, tracer, args.data, run_dir, args.seed)

    t0 = time.perf_counter()
    with tracer.span("warm_up", "session.warmup"):
        warm_up(spark, args.data, os.path.join(run_dir, "warm_up"))
        wl.warm_up(ctx)
    warmup_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("setup", None):
        wl.setup(ctx)
    staging_s = time.perf_counter() - t0
    setup = {"start_s": start_s, "warmup_s": warmup_s, "staging_s": staging_s,
             "staging_bytes": dir_bytes(warehouse)}

    if traced:
        t0 = time.perf_counter()
        wl.setup(ctx)
        setup["staging_hit_s"] = time.perf_counter() - t0
        listener = StreamProgress()
        spark.streams.addListener(listener)

    t0 = time.perf_counter()
    wl.prepare(ctx)
    setup["prepare_s"] = time.perf_counter() - t0
    canary_start = canary(spark)

    # the driver's own process and its JVM
    pids = ("self", spark.sparkContext._gateway.proc.pid)
    attempted = failed = 0
    failures: list[str] = []
    passes: list[dict] = []

    def run_pass(pass_no: int, kind: str, traced_pass: bool) -> None:
        nonlocal attempted, failed
        for pid in pids:
            _reset_hwm(pid)
        gc_start = jvm_gc_s(spark)
        cpu_start = sum(proc_cpu_s(pid) for pid in pids)
        ticks_start = cpu_ticks()
        tracer.traced = traced_pass
        if traced_pass:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        before = warehouse_listing(warehouse)
        wl.begin_pass(ctx, pass_no)
        ops = []
        with tracer.span(f"pass{pass_no}", None, kind=kind, traced=traced_pass) as psp:
            for name in wl.order(args.seed, pass_no):
                attempted += 1
                udf_s = 0.0
                if traced_pass:
                    spark.profile.clear()
                out = error = None
                t0 = time.perf_counter()
                with tracer.span(name, None, op=True) as osp:
                    try:
                        out = wl.run_op(ctx, name)
                    except Exception as exc:  # an op failure is a result, not a crash
                        error = exc
                latency = time.perf_counter() - t0
                if traced_pass:
                    udf_s = udf_seconds(spark, os.path.join(run_dir, "profile"))
                # the check runs after the op's timer has stopped
                try:
                    if error is not None:
                        raise error
                    res = wl.check(ctx, name, out)
                except Exception as exc:
                    res = OpResult(False, f"{type(exc).__name__}: {str(exc)[:300]}")
                if not res.ok:
                    failed += 1
                    failures.append(f"pass {pass_no} {name}: {res.detail}")
                osp.attrs.update(latency=latency, udf_s=udf_s)
                ops.append({"name": name, "latency": latency, "ok": res.ok})
                wl.after_op(ctx)
            end = wl.end_pass(ctx, pass_no)
            if not end.ok:
                # the state check implicates the op that published it
                failures.append(f"pass {pass_no}: {end.detail}")
                if ops and ops[-1]["ok"]:
                    ops[-1]["ok"] = False
                    failed += 1
        after = warehouse_listing(warehouse)
        restaged = sum(1 for k, m in after.items() if before.get(k) != m)
        peak_mb = sum(_vmhwm_kb(pid) for pid in pids) / 1024.0
        passes.append({"no": pass_no, "kind": kind, "traced": traced_pass, "span": psp.id,
                       "peak_rss_mb": peak_mb, "gc_s": jvm_gc_s(spark) - gc_start,
                       "cpu_s": sum(proc_cpu_s(pid) for pid in pids) - cpu_start,
                       "steal_share": steal_share(ticks_start, cpu_ticks()),
                       "ops": ops, "restaged": restaged, "info": ctx.state.pop("pass_info", None)})
        if traced_pass:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        tracer.traced = False

    run_pass(0, "first", False)
    run_pass(1, "settle", False)
    ticks = cpu_ticks()
    window_start = time.perf_counter()
    warm = 0
    while time.perf_counter() - window_start < args.seconds or warm < MIN_WARM_PASSES:
        run_pass(2 + warm, "warm", traced and warm % 2 == 0)
        warm += 1

    window_steal = steal_share(ticks, cpu_ticks())
    canary_end = canary(spark)
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "traced": traced,
        "cpus": args.cpus,
        "setup": setup,
        "passes": passes,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "stored_bytes": wl.stored_bytes(ctx),
        "input_bytes": sum(os.path.getsize(os.path.join(args.data, f"{t}.parquet")) for t in wl.inputs),
        "canary": {"start": canary_start, "end": canary_end, "window_steal_share": window_steal},
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }
    if traced:
        record["stream_batches"] = listener.batches
        record["spans"] = [s.__dict__ for s in tracer.spans]
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
