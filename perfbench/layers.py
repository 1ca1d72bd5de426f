"""Per-layer metrics of one traced run.

Sources, all read after the run, off the measured path:

- the spans the benchmark recorded around its calls (``spans.py``);
- Spark's event log: job groups name the measured operations, stage and
  task events give scheduler, executor, shuffle and Python-worker work;
- the Catalyst phase tracker and streaming progress, as the worker
  collected them.

Only jobs of measured operations count: job groups that start with
``bench:``, and the streaming queries' run ids.
"""

from __future__ import annotations

import glob
import json
import os

#: Which end-to-end metric each per-layer metric should move, and where.
#: ``p50_s``/``tail_s``/``total_s`` are defined per workload in README.md.
MOVES = {
    "registry.build_s": "p50_s, total_s on registry_mix",
    "registry.build_jobs": "p50_s, total_s on registry_mix",
    "registry.action_s": "p50_s, total_s on registry_mix",
    "sources.schema_jobs": "p50_s on registry_mix",
    "sources.input_bytes": "p50_s on wordcount_corpus",
    "catalyst.analysis_ms": "p50_s on registry_mix",
    "catalyst.optimization_ms": "p50_s on registry_mix",
    "catalyst.planning_ms": "p50_s on registry_mix",
    "scheduler.jobs": "p50_s on registry_mix; p50_s on replication_stream",
    "scheduler.stages": "p50_s on registry_mix; p50_s on replication_stream",
    "scheduler.tasks": "p50_s on registry_mix; p50_s on replication_stream",
    "scheduler.delay_ms": "p50_s on registry_mix; p50_s on replication_stream",
    "scheduler.failed_tasks": "p50_s on registry_mix; p50_s on replication_stream",
    "executor.run_ms": "p50_s on wordcount_corpus; tail_s on registry_mix",
    "executor.cpu_ms": "p50_s on wordcount_corpus; tail_s on registry_mix",
    "executor.gc_ms": "p50_s on wordcount_corpus; tail_s on registry_mix",
    "executor.deserialize_ms": "p50_s on wordcount_corpus; tail_s on registry_mix",
    "executor.spill_bytes": "p50_s on wordcount_corpus; tail_s on registry_mix",
    "executor.peak_mem_bytes": "p50_s on wordcount_corpus; tail_s on registry_mix",
    "shuffle.write_bytes": "p50_s on wordcount_corpus; tail_s on registry_mix",
    "shuffle.read_bytes": "p50_s on wordcount_corpus; tail_s on registry_mix",
    "shuffle.fetch_wait_ms": "p50_s on wordcount_corpus; tail_s on registry_mix",
    "text.map_stage_ms": "p50_s on wordcount_corpus",
    "text.reduce_stage_ms": "p50_s on wordcount_corpus",
    "python.stage_run_ms": "tail_s on wordcount_corpus",
    "python.bytes_to_worker": "tail_s on wordcount_corpus",
    "python.bytes_from_worker": "tail_s on wordcount_corpus",
    "streaming.batches": "p50_s, tail_s on replication_stream",
    "streaming.rows_per_batch": "p50_s, tail_s on replication_stream",
    "streaming.input_rows_per_offered_row": "p50_s, tail_s on replication_stream",
    "streaming.trigger_ms": "p50_s, tail_s on replication_stream",
    "streaming.add_batch_ms": "p50_s, tail_s on replication_stream",
    "streaming.query_planning_ms": "p50_s, tail_s on replication_stream",
    "streaming.wal_commit_ms": "p50_s, tail_s on replication_stream",
    "streaming.restart_s": "tail_s on replication_stream",
    "replication.upsert_s": "p50_s on replication_stream; none elsewhere",
    "replication.sink_bytes_per_row": "p50_s on replication_stream; none elsewhere",
    "jvm.peak_rss_mb": "none bounded: follows GC timing more than live data (README.md, Memory)",
    "tmp.leaked_dirs": "failed operations, on every workload",
    "tmp.leaked_bytes": "failed operations, on every workload",
    "trace.overhead_s": "none: time the traced run spent on trace-only calls",
}

_PYTHON_NODES = ("Pandas", "Python", "Arrow")


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the single application logged under ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as fh:
        return [json.loads(line) for line in fh]


def _num(v) -> int:
    return int(v) if v not in (None, "") else 0


def layer_metrics(events: list[dict], spans: list[dict], result: dict) -> dict:
    """Every per-layer metric of one traced run (``MOVES`` names them).
    Counts and times are totals over the measured operations, except that
    ``text.*`` and ``sources.input_bytes`` on wordcount_corpus are per text
    pass and ``streaming.*`` times are per micro-batch."""
    groups = set(result.get("stream_groups", []))
    measured = lambda g: bool(g) and (g.startswith("bench:") or g in groups)  # noqa: E731

    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    schema_jobs = 0
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if measured(g):
                job_group[e["Job ID"]] = g
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, g)
                # Parquet footer (schema) inference runs as its own job.
                schema_jobs += any(
                    si["Stage Name"].startswith("parquet at ") for si in e["Stage Infos"]
                )

    stages: dict[int, dict] = {}
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si["Stage ID"] in stage_group:
                stages[si["Stage ID"]] = si

    m = {k: 0.0 for k in MOVES}
    stage_run: dict[int, int] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
            continue
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        run, deser = tm.get("Executor Run Time", 0), tm.get("Executor Deserialize Time", 0)
        stage_run[e["Stage ID"]] = stage_run.get(e["Stage ID"], 0) + run
        m["scheduler.tasks"] += 1
        if e["Task End Reason"]["Reason"] != "Success":
            m["scheduler.failed_tasks"] += 1
        got = info.get("Getting Result Time") or 0
        fetch = info["Finish Time"] - got if got else 0
        m["scheduler.delay_ms"] += max(
            0, info["Finish Time"] - info["Launch Time"] - run - deser
            - tm.get("Result Serialization Time", 0) - fetch
        )
        m["executor.run_ms"] += run
        m["executor.cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        m["executor.gc_ms"] += tm.get("JVM GC Time", 0)
        m["executor.deserialize_ms"] += deser
        m["executor.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        m["executor.peak_mem_bytes"] = max(
            m["executor.peak_mem_bytes"],
            tm.get("Peak Execution Memory", 0) or tm.get("Peak On Heap Execution Memory", 0),
        )
        sr, sw = tm.get("Shuffle Read Metrics", {}), tm.get("Shuffle Write Metrics", {})
        m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["shuffle.fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        m["sources.input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)

    m["scheduler.jobs"] = len(job_group)
    m["scheduler.stages"] = len(stages)
    m["registry.build_jobs"] = sum(1 for g in job_group.values() if g.startswith("bench:build:"))
    m["sources.schema_jobs"] = schema_jobs
    for sid, si in stages.items():
        acc = {a["Name"]: a.get("Value") for a in si.get("Accumulables", [])}
        scopes = " ".join(r.get("Scope", "") for r in si.get("RDD Info", []))
        if any(p in scopes for p in _PYTHON_NODES):
            m["python.stage_run_ms"] += stage_run.get(sid, 0)
            m["python.bytes_to_worker"] += _num(acc.get("data sent to Python workers"))
            m["python.bytes_from_worker"] += _num(acc.get("data returned from Python workers"))
        if stage_group[sid].startswith("bench:text:"):
            dur = si["Completion Time"] - si["Submission Time"]
            reads_input = _num(acc.get("internal.metrics.input.bytesRead")) > 0
            m["text.map_stage_ms" if reads_input else "text.reduce_stage_ms"] += dur
    passes = result.get("text_passes") or 0
    if passes:
        m["text.map_stage_ms"] /= passes
        m["text.reduce_stage_ms"] /= passes
        m["sources.input_bytes"] /= passes

    for s in spans:
        if s["layer"] == "registry":
            m[f"registry.{s['op']}_s"] += s["end"] - s["start"]
    for k, v in (result.get("catalyst_ms") or {}).items():
        m[f"catalyst.{k}_ms"] = v

    progress = [p for p in result.get("progress", []) if p.get("numInputRows")]
    if progress:
        dur = lambda k: sum(p["durationMs"].get(k, 0) for p in progress) / len(progress)  # noqa: E731
        rows = sum(p["numInputRows"] for p in progress)
        m["streaming.batches"] = len(progress)
        m["streaming.rows_per_batch"] = rows / len(progress)
        m["streaming.input_rows_per_offered_row"] = rows / max(result["offered_rows"], 1)
        m["streaming.trigger_ms"] = dur("triggerExecution")
        m["streaming.add_batch_ms"] = dur("addBatch")
        m["streaming.query_planning_ms"] = dur("queryPlanning")
        m["streaming.wal_commit_ms"] = dur("walCommit")
        m["streaming.restart_s"] = result["restart_s"]
        m["replication.upsert_s"] = result["upsert_s"]
        m["replication.sink_bytes_per_row"] = result["sink_bytes_per_row"]
    m["jvm.peak_rss_mb"] = result["metrics"]["peak_rss_mb"]
    m["trace.overhead_s"] = result.get("trace_overhead_s", 0.0)
    return m
