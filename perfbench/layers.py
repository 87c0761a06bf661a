"""Per-layer metrics of a traced run, from its spans, Spark's event
log and the streaming progress records.

A job belongs to the layer call whose job group it carries. Jobs no
call's group names belong to the innermost layer call running when
they were submitted: Spark runs a stream's micro-batches on the
stream's own thread, under the query's run id as job group.

Values are per traced warm pass (sums divided by the number of traced
passes) unless a name says otherwise; set-up figures are per run.
Layers a workload does not exercise report 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.metrics import driver_gap, interval_union, space_amplification, write_amplification
from perfbench.telemetry import Job

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_gc_s": "s",
    "store.staging.build_s": "s",
    "store.staging.bytes": "bytes",
    "store.staging.hit_s": "s",
    "store.staging.restages": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.driver_gap_s": "s",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.job_union_s": "s",
    "queries.executor_run_s": "s",
    "queries.executor_cpu_s": "s",
    "queries.gc_s": "s",
    "queries.shuffle_write_bytes": "bytes",
    "queries.shuffle_read_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "queries.slot_utilisation": "ratio",
    "queries.python_udf_s": "s",
    "operators.validate.gate_s": "s",
    "plans.config_s": "s",
    "store.eav.melt_s": "s",
    "store.scd2.merge_s": "s",
    "store.scd2.merge_jobs": "count",
    "store.scd2.change_ratio": "ratio",
    "store.wap.write_s": "s",
    "store.wap.audit_s": "s",
    "store.wap.read_s": "s",
    "store.wap.bytes_written": "bytes",
    "store.wap.write_amplification": "ratio",
    "store.wap.space_amplification": "ratio",
    "store.jobs": "count",
    "store.job_union_s": "s",
    "store.shuffle_write_bytes": "bytes",
    "store.spill_bytes": "bytes",
    "store.executor_cpu_s": "s",
    "streaming.triggers": "count",
    "streaming.trigger_p50_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.empty_trigger_share": "ratio",
    "streaming.outside_trigger_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# event-log times are whole milliseconds, span times are not
CLOCK_SLACK_S = 0.001


def owners(spans: list[dict], jobs: list[Job]) -> dict[int, list[Job]]:
    """Span id -> the jobs that span's layer call ran."""
    calls = [s for s in spans if s["layer"]]
    by_group = {s["group"]: s["id"] for s in calls if s["group"]}
    owned: dict[int, list[Job]] = defaultdict(list)
    for job in jobs:
        sid = by_group.get(job.group)
        if sid is None:
            running = [s for s in calls if s["start"] - CLOCK_SLACK_S <= job.start <= s["end"]]
            if running:
                sid = max(running, key=lambda s: (s["start"], s["id"]))["id"]
        if sid is not None:
            owned[sid].append(job)
    return owned


def per_layer(record: dict, jobs: list[Job], cores: int) -> dict[str, float]:
    """Every ``PER_LAYER`` metric for one traced run record."""
    spans = {s["id"]: s for s in record["spans"]}
    children: dict[int, list[dict]] = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append(s)

    owned = owners(list(spans.values()), jobs)

    def descendants(sid: int) -> list[dict]:
        out, todo = [], list(children.get(sid, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s["id"], []))
        return out

    traced = [p for p in record["passes"] if p["traced"]]
    untraced = [p for p in record["passes"] if not p["traced"] and p["kind"] == "warm"]
    n = max(1, len(traced))
    calls = [s for p in traced for s in descendants(p["span"]) if s["layer"]]
    ops = [s for p in traced for s in descendants(p["span"]) if s["attrs"].get("op")]

    def layer(prefix: str) -> list[dict]:
        return [s for s in calls if s["layer"] == prefix or s["layer"].startswith(prefix + ".")]

    def secs(prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in layer(prefix)) / n

    def layer_jobs(prefix: str) -> list[Job]:
        return [j for s in layer(prefix) for j in owned[s["id"]]]

    def total(prefix: str, attr: str) -> float:
        return sum(getattr(j, attr) for j in layer_jobs(prefix)) / n

    def intervals(prefix: str) -> list[tuple[float, float]]:
        return [(j.start, j.end) for j in layer_jobs(prefix)]

    m = {k: 0.0 for k in PER_LAYER}
    setup = record["setup"]
    m["session.start_s"] = setup["start_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    m["session.jvm_gc_s"] = _median([p["gc_s"] for p in record["passes"] if p["kind"] == "warm"])
    m["store.staging.build_s"] = setup["staging_s"] if setup["staging_bytes"] else 0.0
    m["store.staging.bytes"] = setup["staging_bytes"]
    m["store.staging.hit_s"] = setup.get("staging_hit_s", 0.0) if setup["staging_bytes"] else 0.0
    m["store.staging.restages"] = sum(p["restaged"] for p in record["passes"] if p["kind"] != "first")

    q = "queries"
    if layer(q):
        m["queries.build_s"] = secs("queries.build")
        m["queries.exec_s"] = secs("queries.exec")
        for key in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            m[f"queries.{key}"] = total(q, key)
        m["queries.jobs"] = len(layer_jobs(q)) / n
        gap = union = 0.0
        for op in ops:
            op_jobs = [(j.start, j.end) for s in descendants(op["id"])
                       if (s["layer"] or "").startswith(q) for j in owned[s["id"]]]
            gap += driver_gap((op["start"], op["end"]), op_jobs)
            union += interval_union(op_jobs)
        m["queries.driver_gap_s"] = gap / n
        m["queries.job_union_s"] = union / n
        if union:
            m["queries.slot_utilisation"] = m["queries.executor_run_s"] * n / (union * cores)
        m["queries.python_udf_s"] = sum(op["attrs"].get("udf_s", 0.0) for op in ops) / n

    m["operators.validate.gate_s"] = secs("operators.validate")
    m["plans.config_s"] = secs("plans.config")
    m["store.eav.melt_s"] = secs("store.eav")
    m["store.scd2.merge_s"] = secs("store.scd2")
    m["store.scd2.merge_jobs"] = len(layer_jobs("store.scd2")) / n
    m["store.wap.write_s"] = secs("store.wap.write")
    m["store.wap.audit_s"] = secs("store.wap.audit")
    m["store.wap.read_s"] = secs("store.wap.read")
    if layer("store.wap"):
        m["store.jobs"] = len(layer_jobs("store")) / n
        m["store.job_union_s"] = interval_union(intervals("store")) / n
        m["store.shuffle_write_bytes"] = total("store", "shuffle_write_bytes")
        m["store.spill_bytes"] = total("store", "spill_bytes")
        m["store.executor_cpu_s"] = total("store", "executor_cpu_s")
    infos = [p["info"] for p in traced if p.get("info")]
    if infos:
        versions = [v for info in infos for v in info["versions"]]
        written = sum(v["bytes"] for v in versions)
        m["store.wap.bytes_written"] = written / n
        inserted = incoming = 0
        for info in infos:
            prev = 0
            for v in info["versions"]:
                inserted += v["rows"] - prev
                incoming += v["incoming"]
                prev = v["rows"]
        m["store.scd2.change_ratio"] = inserted / incoming
        # every row of the last version was inserted once; the versions
        # before it are rewrites of the same rows
        last = sum(info["versions"][-1]["bytes"] for info in infos)
        m["store.wap.write_amplification"] = write_amplification(written, last)
        live = sum(info["versions"][-1]["bytes"] * info["live_rows"] / info["versions"][-1]["rows"]
                   for info in infos)
        m["store.wap.space_amplification"] = space_amplification(sum(info["table_bytes"] for info in infos), live)

    batches = [b for p in traced for b in record.get("stream_batches", [])
               if spans[p["span"]]["start"] <= b["start"] <= spans[p["span"]]["end"]]
    if batches:
        dur = [b["duration_ms"] for b in batches]
        m["streaming.triggers"] = len(batches) / n
        m["streaming.trigger_p50_s"] = _median([d.get("triggerExecution", 0) / 1e3 for d in dur])
        for key, phase in (("add_batch_s", "addBatch"), ("query_planning_s", "queryPlanning"),
                           ("wal_commit_s", "walCommit"), ("commit_offsets_s", "commitOffsets"),
                           ("latest_offset_s", "latestOffset")):
            m[f"streaming.{key}"] = sum(d.get(phase, 0) for d in dur) / 1e3 / n
        m["streaming.input_rows"] = sum(b["input_rows"] for b in batches) / n
        m["streaming.state_rows"] = sum(b["state_rows"] for b in batches) / n
        m["streaming.state_bytes"] = sum(b["state_bytes"] for b in batches) / n
        m["streaming.empty_trigger_share"] = sum(1 for b in batches if not b["input_rows"]) / len(batches)
        trig = sum(d.get("triggerExecution", 0) for d in dur) / 1e3
        stream_ops = [op for op in ops if any(op["start"] <= b["start"] <= op["end"] for b in batches)]
        m["streaming.outside_trigger_s"] = (sum(op["end"] - op["start"] for op in stream_ops) - trig) / n

    def pass_s(p: dict) -> float:
        return sum(o["latency"] for o in p["ops"])

    m["trace.pass_s"] = _median([pass_s(p) for p in traced])
    m["trace.overhead_s"] = m["trace.pass_s"] - _median([pass_s(p) for p in untraced])
    return m
