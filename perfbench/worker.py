"""One benchmark run inside the Spark driver process.

``run.py`` prepares the inputs, then starts this script with a JSON spec
(``python3 perfbench/worker.py SPEC``) and reads the JSON result it writes
to ``spec["result"]``. The script drives the engine only through its public
entry points:

- ``registry_mix``: ``registry.QUERIES[name](spark, sf)`` then ``.count()``;
- ``wordcount_corpus``: the CLI ``wordcount`` subcommand, in process;
- ``replication_stream``: ``rate_replication_stream`` into
  ``KeyedParquetSink.upsert_batch``, stopped once and restarted from its
  checkpoint.

With ``spec["trace"]`` set, spans are recorded around those calls, the
Catalyst phase tracker is read after forcing each query's executed plan,
and Spark's event log and streaming progress are kept for ``layers.py``.
"""

from __future__ import annotations

import functools
import gc
import json
import math
import os
import statistics
import sys
import time
import traceback

from spans import Tracer  # perfbench/spans.py, beside this script


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _rank(values: list[float], q: float) -> float:
    """Nearest-rank percentile: at least ``(1-q)*n`` samples lie above it."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _catalyst_phases(df) -> dict[str, float]:
    """Force the executed plan and read the Catalyst phase tracker (ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        k: float(phases.apply(k).durationMs())
        for k in ("analysis", "optimization", "planning")
        if phases.contains(k)
    }


# ----------------------------------------------------------- registry_mix

#: Passes over the sample; a query's time is its fastest pass, as in
#: bench.py's best-of-2, and a host stall rarely hits both. Whole passes
#: rather than back-to-back reps, because the JVM keeps warming through the
#: first ten or so queries: with back-to-back reps the first quarter of the
#: sample still ran at 1.0-1.5x its usual time, by a factor that varied run
#: to run.
REPS = 2


def registry_mix(spark, spec: dict, tracer: Tracer, ready) -> dict:
    from distributed_mapreduce_p2p_spark import registry

    sc = spark.sparkContext
    tables = spec["tables"]
    t_warm = time.perf_counter()
    # Start Spark's Python workers, so the first sampled query with a
    # Python UDF does not pay their one-time start.
    spark.range(8).mapInPandas(lambda batches: batches, "id long").count()
    for name in spec["warm"]:
        try:
            registry.QUERIES[name](spark, tables).count()
        except Exception:  # warm-up only; sampled queries are the ones scored
            _log(f"warm-up query {name} failed:\n{traceback.format_exc()}")
    # Memos filled by the warm queries must not make a sampled query warm.
    registry.clear_memos()
    ready()

    warm_s = time.perf_counter() - t_warm
    reps: dict[str, list[float]] = {}
    counts: dict[str, int] = {}
    catalyst: dict[str, float] = {}
    failed = 0
    missing = [n for n in spec["sample"] if n not in registry.QUERIES]
    for name in missing:
        _log(f"pinned query {name!r} is not in the registry")
        failed += 1
    sample = [n for n in spec["sample"] if n not in missing]
    for rep in range(REPS):
        for name in sample:
            if name not in counts and rep:
                continue  # failed in an earlier pass
            try:
                # No universe query uses a registry memo; clearing them
                # anyway keeps every rep paying the full derivation.
                registry.clear_memos()
                sc.setJobGroup(f"bench:build:{name}#{rep}", name)
                t0 = time.perf_counter()
                with tracer.span("registry", "build", query=name, rep=rep):
                    df = registry.QUERIES[name](spark, tables)
                t1 = time.perf_counter()
                if tracer.enabled:
                    with tracer.overhead(), tracer.span("catalyst", "executedPlan", query=name):
                        for k, v in _catalyst_phases(df).items():
                            catalyst[k] = catalyst.get(k, 0.0) + v
                t2 = time.perf_counter()
                sc.setJobGroup(f"bench:action:{name}#{rep}", name)
                with tracer.span("registry", "action", query=name, rep=rep):
                    n = df.count()
                t3 = time.perf_counter()
                if counts.setdefault(name, n) != n:
                    raise RuntimeError(f"count {n} differs from the first pass's {counts[name]}")
            except Exception:  # a failing query is a failed operation, not a crash
                _log(f"query {name} failed:\n{traceback.format_exc()}")
                counts.pop(name, None)
                reps.pop(name, None)
                failed += 1
                continue
            reps.setdefault(name, []).append((t1 - t0) + (t3 - t2))
    sc.setLocalProperty("spark.jobGroup.id", None)
    latencies = {name: min(r) for name, r in reps.items()}

    # Oracle check, after the timing: row counts against DuckDB's.
    for name, n in counts.items():
        if spec["oracle_counts"].get(name) != n:
            _log(f"query {name}: count {n} != oracle {spec['oracle_counts'].get(name)}")
            failed += 1
    lat = list(latencies.values())
    # The highest percentile with at least ten queries above it.
    tail_q = 1 - 10 / len(lat) if len(lat) >= 20 else 0.5
    p50, tail, mix_s = statistics.median(lat), _rank(lat, tail_q), sum(lat)
    return {
        "attempted": len(spec["sample"]),
        "failed": failed,
        "metrics": {"p50_s": p50, "tail_s": tail, "total_s": mix_s},
        "named": {
            "query_p50_s": p50, f"query_p{round(100 * tail_q)}_s": tail, "query_mix_s": mix_s,
            "warm_s": warm_s, "query_s": latencies, "query_pass_s": reps,
        },
        "catalyst_ms": catalyst,
    }


# ------------------------------------------------------- wordcount_corpus


def wordcount_corpus(spark, spec: dict, tracer: Tracer, ready) -> dict:
    import contextlib
    import io

    from distributed_mapreduce_p2p_spark.__main__ import main as cli

    sc = spark.sparkContext
    # The text scan reads the large corpus, the slower chunked scan the small one.
    files = {"text": spec["text_files"], "chunked": spec["corpus_files"]}
    mb = {m: sum(os.path.getsize(f) for f in fs) / 1e6 for m, fs in files.items()}
    expected = {}
    for mode, path in (("text", spec["text_expected"]), ("chunked", spec["expected"])):
        with open(path, "rb") as fh:
            expected[mode] = fh.read()
    out = os.path.join(spec["run_dir"], "wordcount.txt")

    def one_pass(mode: str, group: str) -> tuple[float, bool]:
        argv = ["--cores", str(spec["cores"]), "wordcount", *files[mode], "-o", out]
        if mode == "chunked":
            argv.append("--chunked")
        sc.setJobGroup(group, mode)
        t0 = time.perf_counter()
        try:
            with tracer.span("operators.text", f"wordcount.{mode}"), \
                    contextlib.redirect_stdout(io.StringIO()):
                rc = cli(argv)
        except Exception:
            _log(f"wordcount {mode} failed:\n{traceback.format_exc()}")
            return time.perf_counter() - t0, False
        dt = time.perf_counter() - t0
        try:
            with open(out, "rb") as fh:
                ok = rc == 0 and fh.read() == expected[mode]
            os.remove(out)
        except FileNotFoundError:
            ok = False
        return dt, ok

    # Warm both scan paths on their full inputs (not scored).
    warm_s = {mode: one_pass(mode, f"warm:{mode}")[0] for mode in ("text", "chunked")}
    ready()

    times: dict[str, list[float]] = {"text": [], "chunked": []}
    attempted = failed = 0
    deadline = time.perf_counter() + spec["seconds"]
    k = 0
    while k < spec["min_pairs"] or time.perf_counter() < deadline:
        for mode in ("text", "chunked"):
            dt, ok = one_pass(mode, f"bench:{mode}:{k}")
            attempted += 1
            if ok:
                times[mode].append(dt)
            else:
                failed += 1
        k += 1
    sc.setLocalProperty("spark.jobGroup.id", None)
    text_s = statistics.median(times["text"]) if times["text"] else float("nan")
    chunked_s = statistics.median(times["chunked"]) if times["chunked"] else float("nan")
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {"p50_s": text_s, "tail_s": chunked_s, "total_s": text_s + chunked_s},
        "named": {
            "wc_text_mbps": mb["text"] / text_s, "wc_chunked_mbps": mb["chunked"] / chunked_s,
            "corpus_mb": mb, "warm_s": warm_s, "pass_s": times,
        },
        "text_passes": len(times["text"]),
    }


# ----------------------------------------------------- replication_stream


class _TimedSink:
    """Records when each micro-batch's upsert commits, around the sink's
    public ``upsert_batch``; the engine's code is not touched."""

    def __init__(self, sink, tracer: Tracer):
        self.sink = sink
        self.tracer = tracer
        self.commits: list[tuple[int, float]] = []  # (batch_id, commit time)
        self.upsert_s = 0.0
        self.bytes_written = 0

    def upsert_batch(self, batch, batch_id: int) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("replication", "upsert_batch", batch=batch_id):
            self.sink.upsert_batch(batch, batch_id)
        self.upsert_s += time.perf_counter() - t0
        self.commits.append((batch_id, time.time()))
        if self.tracer.enabled:
            with self.tracer.overhead():
                cur = self.sink._current()
                self.bytes_written += sum(
                    os.path.getsize(os.path.join(cur, f)) for f in os.listdir(cur)
                )


@functools.cache
def _rate_offset(ckpt: str, batch_id: int) -> int:
    """End offset (whole seconds since the source started) that the rate
    source logged for ``batch_id`` in the checkpoint's offset log."""
    with open(os.path.join(ckpt, "offsets", str(batch_id))) as fh:
        return int(fh.read().strip().splitlines()[-1])


def _rate_start_ms(ckpt: str) -> int:
    """Creation time the rate source recorded in its checkpoint metadata."""
    with open(os.path.join(ckpt, "sources", "0", "0")) as fh:
        return int(fh.read().strip().splitlines()[-1])


#: Micro-batches the warm-up stream commits before the measured stream starts.
WARM_BATCHES = 2
#: Where in a wall-clock second the rate source's clock starts. Triggers fire
#: on whole seconds, so this phase sets how long each row waits for the next
#: trigger; left to chance it moves the median lag by up to a second between
#: runs. Half a second keeps start-up jitter from wrapping past a trigger.
RATE_PHASE_S = 0.5


def replication_stream(spark, spec: dict, tracer: Tracer, ready) -> dict:
    from distributed_mapreduce_p2p_spark.operators.text import numbered_result
    from distributed_mapreduce_p2p_spark.sources.io import read_text_corpus
    from distributed_mapreduce_p2p_spark.streaming.replication import (
        KeyedParquetSink,
        convergence_report,
        rate_replication_stream,
    )

    run_dir = spec["run_dir"]
    rate = spec["rows_per_s"]
    # The payload is the word-count result's first ``rows_per_s * seconds``
    # lines, so the schedule lasts ``seconds``.
    with open(spec["expected"]) as fh:
        lines = fh.read().splitlines()[:rate * spec["seconds"]]
    expected = [(i + 1, *ln.split(" ")) for i, ln in enumerate(lines)]
    n = len(expected)

    # Untimed: stage the payload (id, word, cnt) as parquet, as the CLI's
    # replicate command does, so micro-batches do not recompute it.
    staged = os.path.join(run_dir, "payload")
    numbered_result(read_text_corpus(spark, spec["corpus_files"]), "value") \
        .where(f"id <= {n}").write.parquet(staged)
    payload = spark.read.parquet(staged)

    ckpt = os.path.join(run_dir, "ckpt")
    sink = _TimedSink(KeyedParquetSink(os.path.join(run_dir, "sink")), tracer)

    def start(upsert, ckpt_dir: str):
        return (
            rate_replication_stream(spark, payload, rate)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt_dir)
            .trigger(processingTime="1 second")
            .start()
        )

    def covered() -> int:
        """Highest payload id committed to the sink so far."""
        return max((_rate_offset(ckpt, b) * rate for b, _ in sink.commits), default=0)

    def wait(q, until, what: str, timeout: float) -> None:
        end = time.monotonic() + timeout
        while not until():
            if q.exception() is not None or time.monotonic() > end:
                raise RuntimeError(f"stream stalled waiting for {what}: {q.exception()}")
            time.sleep(0.05)

    def throwaway(name: str, batches: int) -> float:
        """Run a stream into a throwaway sink until it has committed
        ``batches`` micro-batches; return how long after ``start()`` the
        rate source's clock started."""
        tsink = KeyedParquetSink(os.path.join(run_dir, name, "sink"))
        tckpt = os.path.join(run_dir, name, "ckpt")
        t_call = time.time()
        tq = start(tsink.upsert_batch, tckpt)
        try:
            wait(tq, lambda: tsink.version_count() >= batches, name, 60)
        finally:
            tq.stop()
        return _rate_start_ms(tckpt) / 1000 - t_call

    progress: list[dict] = []
    queries = []
    failed_run = False
    try:
        # Warm-up, inside setup_s: throwaway streams, so the measured
        # stream's first micro-batches do not run JIT-cold; the second, a
        # warm start like the measured one, times the source's start delay.
        throwaway("warm", WARM_BATCHES)
        source_delay_s = throwaway("delay", 1)
        ready()
        time.sleep((RATE_PHASE_S - source_delay_s - time.time()) % 1.0)
        with tracer.span("streaming", "start"):
            q = start(sink.upsert_batch, ckpt)
        queries.append(q)
        wait(q, lambda: sink.commits, "the first commit", 60)
        start_s = _rate_start_ms(ckpt) / 1000
        due = lambda i: start_s + (i - 1) / rate  # noqa: E731 - id i is rate value i-1
        # Follower restart (R7/R8): stop once halfway through the schedule.
        wait(q, lambda: time.time() >= due(n // 2), "the halfway point", 3 * spec["seconds"])
        t_stop = time.perf_counter()
        with tracer.span("streaming", "stop"):
            q.stop()
        progress += [json.loads(p.json) for p in q.recentProgress]
        n_commits = len(sink.commits)
        with tracer.span("streaming", "start"):
            q = start(sink.upsert_batch, ckpt)
        queries.append(q)
        wait(q, lambda: len(sink.commits) > n_commits, "the restart", 60)
        restart_s = time.perf_counter() - t_stop
        wait(q, lambda: covered() >= n, "the last payload row", 3 * spec["seconds"])
        with tracer.span("replication", "convergence_report"):
            report = convergence_report(spark, sink.sink)
        t_conv = time.time()
        with tracer.span("streaming", "stop"):
            q.stop()
        progress += [json.loads(p.json) for p in q.recentProgress]
    except Exception:
        _log(f"replication stream failed:\n{traceback.format_exc()}")
        for q in queries:
            q.stop()
        failed_run = True

    # Per-row lag: due time at the rate source -> commit of the first sink
    # version that holds the row.
    lags: list[float] = []
    rows: dict[int, tuple] = {}
    if not failed_run:
        first = {}
        for b, t in sink.commits:
            first.setdefault(b, t)
        lo = 0
        for b in sorted(first):
            hi = min(_rate_offset(ckpt, b) * rate, n)
            lags += [first[b] - due(i) for i in range(lo + 1, hi + 1)]
            lo = max(lo, hi)
        df = sink.sink.read(spark)
        rows = {r["id"]: (r["id"], r["word"], str(r["cnt"])) for r in df.collect()}
        if report["rows"] != n or report["gaps"] or report["watermark"] != n:
            _log(f"sink did not converge: {report['rows']} rows, gaps {report['gaps'][:5]}")
    missing = sum(1 for e in expected if rows.get(e[0]) != e)
    if failed_run or not lags:
        nan = float("nan")
        metrics = {"p50_s": nan, "tail_s": nan, "total_s": nan}
        named: dict = {}
    else:
        p50, p99 = statistics.median(lags), _rank(lags, 0.99)
        metrics = {"p50_s": p50, "tail_s": p99, "total_s": t_conv - due(1)}
        named = {
            "repl_lag_p50_s": p50, "repl_lag_p99_s": p99,
            "repl_converge_s": t_conv - due(n), "rows": n, "rows_per_s": rate,
            "trigger_ms": [p["durationMs"].get("triggerExecution") for p in progress],
            "rate_phase_s": start_s % 1.0,
        }
    return {
        "attempted": n,
        "failed": missing,
        "metrics": metrics,
        "named": named,
        "progress": progress,
        "stream_groups": [str(q.runId) for q in queries],
        "restart_s": restart_s if not failed_run else None,
        "upsert_s": sink.upsert_s,
        "sink_bytes_per_row": sink.bytes_written / n,
        "offered_rows": covered(),
    }


WORKLOADS = {
    "registry_mix": registry_mix,
    "wordcount_corpus": wordcount_corpus,
    "replication_stream": replication_stream,
}


def _live_heap_mb(spark) -> float:
    """Driver heap in use after a full collection: what the run left live.
    Python's collector runs first, so py4j proxies the workload dropped
    release the JVM objects they hold; Spark's ContextCleaner then frees
    the blocks of RDDs and broadcasts that became unreachable, which takes
    further collections (one run read 177, 166, then 102 MB). Collects at
    least three times, until two readings agree within 1%."""
    jvm = spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(8):
        gc.collect()
        jvm.java.lang.System.gc()
        readings.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 3 and readings[-2] - readings[-1] < 0.01 * readings[-1]:
            break
        time.sleep(0.25)
    _log(f"live heap readings (MB): {[round(r, 1) for r in readings]}")
    return readings[-1]


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def main(spec_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    tracer = Tracer(spec["trace"])
    setup: dict[str, float] = {}

    def ready() -> None:
        """Ends ``setup_s``: the session is up and the workload's warm-up done."""
        setup["ready"] = time.time()

    with tracer.span("session", "get_spark"):
        from distributed_mapreduce_p2p_spark.session import get_spark

        spark = get_spark(app_name="perfbench", cores=spec["cores"],
                          extra_conf=spec["spark_conf"])
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).selectExpr("sum(id)").collect()
    session_s = time.time() - spec["spawned_at"]

    t0 = time.perf_counter()
    result = WORKLOADS[spec["workload"]](spark, spec, tracer, ready)
    t1 = time.perf_counter()
    # A workload that failed before its warm-up ended has no set-up time.
    setup_s = setup["ready"] - spec["spawned_at"] if setup else float("nan")
    result["metrics"]["setup_s"] = setup_s
    result["metrics"]["peak_rss_mb"] = _peak_rss_mb(spark)
    result["metrics"]["live_heap_mb"] = _live_heap_mb(spark)

    sc = spark.sparkContext
    conf = dict(sc.getConf().getAll())
    result["spark_conf"] = conf
    # Status-tracker counts are truncated beyond the retained limits.
    dag = sc._jsc.sc().dagScheduler()
    n_jobs, n_stages = int(str(dag.nextJobId())), int(str(dag.nextStageId()))
    result["jobs_total"], result["stages_total"] = n_jobs, n_stages
    result["retained_ok"] = (
        n_jobs < int(conf.get("spark.ui.retainedJobs", 1000))
        and n_stages < int(conf.get("spark.ui.retainedStages", 1000))
    )
    result["trace_overhead_s"] = tracer.overhead_s
    t2 = time.perf_counter()
    spark.stop()  # flushes the event log
    result["phases_s"] = {
        "worker.session": session_s, "worker.setup": setup_s, "worker.workload": t1 - t0,
        "worker.collect": t2 - t1, "worker.stop": time.perf_counter() - t2,
    }
    if spec["trace"]:
        tracer.write(spec["spans"])
    with open(spec["result"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main(sys.argv[1])
