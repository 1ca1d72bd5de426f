"""Benchmark launcher: one run of one workload, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 6 --trace 0

Steps, in order:

1. Make the inputs from the seed, outside every timed region: the
   star-schema tables (fixed data, generated once), the seeded registry
   sample and its DuckDB oracle row counts, or the seeded text corpus and
   its expected ``word count`` lines. Inputs are cached under
   ``.bench_cache/``; the word count's larger text-scan corpus is copied
   from the cached one into the run's own directory.
2. Read the host's ambient CPU throughput with ``tools/ambient_calib.py``.
3. Start ``worker.py`` as a fresh process with its own ``TMPDIR`` and
   ``SPARK_LOCAL_DIRS`` and with ``PYTHONPATH`` naming the repository, so
   Spark's Python workers can import the package. ``setup_s`` runs from
   this start until the session is up and the workload's warm-up is done.
4. Print a detail line (provenance, the workload's named metrics), then
   the result line: ``{"correct", "attempted", "failed", "metrics"}``
   with the end-to-end metrics of BENCHMARK.json, or with ``--trace 1``
   its per-layer metrics. A copy of both goes to ``.bench_out/``.

Exits non-zero without a result line when the engine cannot be found.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402

PACKAGE = "distributed_mapreduce_p2p_spark"
WORKLOADS = ("registry_mix", "wordcount_corpus", "replication_stream")

#: The registry runs over fixed fixture data; the seed picks the sample.
TABLES_SF, TABLES_SEED = 0.1, 42
#: Registry queries that warm the JVM before every registry sample: outside
#: the universe, the same for every seed, and free of registry memos. The
#: first execution in a session pays most of the JIT's start (2.5 s for
#: this query, 0.4 s warm).
WARM_QUERIES = ("tumbling_window_agg",)
CORPUS_MB = 1.0
#: The text scan reads this many copies of the corpus, so its data work
#: dominates the pass; the chunked scan, about 30x slower, reads one.
TEXT_COPIES = 24
#: Offered rate of the replication stream. A warm micro-batch takes 0.6-0.9 s
#: of the 1 s trigger interval on a 4-core host at 250 to 3,000 rows/s alike
#: (per-batch fixed cost), so the sink keeps up while the host is quiet.
REPL_ROWS_PER_S = 1000
WORKER_TIMEOUT_S = 150
#: Sizes for the smoke run (smoke.py), small enough to finish in seconds.
TINY = {"tables_sf": 0.001, "pairs": 6, "corpus_mb": 0.5, "text_copies": 2}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _universe() -> list[tuple[str, str]]:
    """Pinned registry names, in pairs of similar cost (registry_universe.txt)."""
    pairs = []
    with open(os.path.join(HERE, "registry_universe.txt")) as fh:
        for line in fh:
            line = line.split("#", 1)[0].split()
            if line:
                pairs.append((line[0], line[1]))
    return pairs


def registry_sample(seed: int, n_pairs: int | None = None) -> list[str]:
    """One query per pinned pair, chosen by the seed, in seeded order.

    A stratified draw: each pair holds two queries of similar cost, so every
    seed times a sample of the same total cost. Names are never resampled:
    a pinned name that left the registry is a failed operation."""
    rng = random.Random(seed)
    pairs = _universe()[:n_pairs]
    picks = [rng.randrange(2) for _ in pairs]
    sample = [p[k] for p, k in zip(pairs, picks)]
    rng.shuffle(sample)
    return sample


def oracle_counts(cache: str, tables: str, names: list[str]) -> dict[str, int]:
    """DuckDB oracle row count of each named query over ``tables``, cached."""
    import duckdb

    from distributed_mapreduce_p2p_spark import registry

    path = os.path.join(cache, "oracle-counts-" + os.path.basename(tables) + ".json")
    counts = {}
    if os.path.exists(path):
        with open(path) as fh:
            counts = json.load(fh)
    todo = [n for n in names if n not in counts]
    if todo:
        oracles = registry.finalize_oracles(tables)
        con = duckdb.connect()
        con.sql("SET threads=2")
        con.sql(f"SET temp_directory='{os.path.join(cache, 'duckdb-spill')}'")
        for t in datagen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        for n in todo:
            if n in oracles:
                counts[n] = con.sql(f"SELECT count(*) FROM ({oracles[n]})").fetchone()[0]
        con.close()
        with open(path + ".tmp", "w") as fh:
            json.dump(counts, fh)
        os.replace(path + ".tmp", path)
    return counts


def provenance() -> dict:
    """The tree measured: git HEAD and dirty flag where there is a git
    checkout, and always a digest of the engine's and benchmark's files."""
    def git(*args):
        try:
            out = subprocess.run(["git", "-C", ROOT, *args], capture_output=True,
                                 text=True, timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            return None
        return out.stdout.strip() if out.returncode == 0 else None

    head = git("rev-parse", "HEAD") if os.path.isdir(os.path.join(ROOT, ".git")) else None
    status = git("status", "--porcelain") if head else None
    h = hashlib.sha256()
    for base in (PACKAGE, "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith((".py", ".txt", ".json", ".md")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return {
        "head": head,
        "dirty": None if status is None else bool(status),
        "tree_sha256": h.hexdigest(),
        "nproc": os.cpu_count(),
        "cores": len(os.sched_getaffinity(0)),
    }


def ambient() -> dict | None:
    """One reading of the host's CPU throughput, before the session starts."""
    try:
        out = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "ambient_calib.py")],
                             capture_output=True, text=True, timeout=60, cwd=ROOT)
        return json.loads(out.stdout.strip().splitlines()[-1])
    except (OSError, subprocess.TimeoutExpired, ValueError, IndexError):
        return None


def _dir_usage(path: str) -> tuple[int, int]:
    """(top-level entries, total bytes) under ``path``."""
    entries = os.listdir(path)
    size = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                size += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return len(entries), size


def _stop_group(proc: subprocess.Popen, grace_s: float = 20) -> None:
    """Wait for the worker's process group (the Spark JVM and Python
    workers) to end, so the JVM's shutdown hooks clean up its temp files;
    after ``grace_s`` terminate it, then kill it."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    end = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                return
            end = time.monotonic() + 10
        while time.monotonic() < end:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def _finite(v) -> float | None:
    return v if isinstance(v, (int, float)) and math.isfinite(v) else None


def main(argv: list[str] | None = None, tiny: bool = False) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        _fail(f"the engine package {PACKAGE}/ is not beside perfbench/ in {ROOT}")
    if not os.path.isfile(os.path.join(ROOT, "tools", "ambient_calib.py")):
        _fail("tools/ambient_calib.py is missing")
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    cache = os.path.join(ROOT, ".bench_cache")
    out_dir = os.path.join(ROOT, ".bench_out")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(ROOT, ".bench_run", f"{tag}-{os.getpid()}")
    for d in (cache, out_dir, run_dir):
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0))

    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "cores": cores,
        "run_dir": run_dir,
        "result": os.path.join(run_dir, "result.json"),
        "spans": os.path.join(out_dir, f"{tag}.spans.jsonl"),
        # Text passes keep getting faster for three or four passes after
        # the warm-up (the JIT is not done: 2.46, 1.86, 1.58 s in one run);
        # the median of five sits past that.
        "min_pairs": 5,
    }
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    try:
        # 1. Inputs, untimed.
        if args.workload == "registry_mix":
            sf = TINY["tables_sf"] if tiny else TABLES_SF
            tables = datagen.write_tables(cache, sf, TABLES_SEED)
            sample = registry_sample(args.seed, TINY["pairs"] if tiny else None)
            universe = [n for pair in _universe() for n in pair]
            spec.update(tables=tables, sample=sample, warm=list(WARM_QUERIES),
                        oracle_counts=oracle_counts(cache, tables, universe))
        else:
            files, expected = datagen.write_corpus(
                cache, args.seed, TINY["corpus_mb"] if tiny else CORPUS_MB)
            spec.update(corpus_files=files, expected=expected, rows_per_s=REPL_ROWS_PER_S)
            if args.workload == "wordcount_corpus":
                text_files, text_expected = datagen.repeat_corpus(
                    files, expected, TINY["text_copies"] if tiny else TEXT_COPIES,
                    os.path.join(run_dir, "text_corpus"))
                spec.update(text_files=text_files, text_expected=text_expected)

        tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
        os.makedirs(tmp)
        os.makedirs(local)
        # Only temp locations and console output; everything else is
        # get_spark's own configuration.
        spark_conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            os.makedirs(os.path.join(run_dir, "eventlog"))
            spark_conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spec["spark_conf"] = spark_conf
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "provenance": provenance()}

        phase("inputs")

        # 2. Ambient reading, before the session starts.
        detail["ambient"] = ambient()
        phase("ambient")

        # 3. The measured process.
        env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
                   PYTHONPATH=os.pathsep.join(
                       p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
        log_path = os.path.join(out_dir, f"{tag}.log")
        spec["spawned_at"] = time.time()
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        with open(log_path, "w") as log:
            proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), spec_path],
                                    cwd=run_dir, env=env, stdout=log, stderr=log,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                _stop_group(proc)
        phase("worker")
        if rc != 0 or not os.path.exists(spec["result"]):
            print(f"perfbench: worker {'timed out' if rc is None else f'exited {rc}'};"
                  f" see {log_path}", file=sys.stderr)
            return 1
        with open(spec["result"]) as fh:
            result = json.load(fh)

        # 4. Result.
        leaked = _dir_usage(tmp)
        detail.update(
            named=result["named"], peak_rss_mb=result["metrics"]["peak_rss_mb"],
            spark_conf=result["spark_conf"],
            jobs_total=result["jobs_total"], stages_total=result["stages_total"],
            leaked_tmp_entries=sorted(os.listdir(tmp)),
            phases_s=dict(phases, **result["phases_s"]),
        )
        if args.trace:
            import layers

            with open(spec["spans"]) as fh:
                spans = [json.loads(line) for line in fh]
            values = layers.layer_metrics(layers.read_event_log(os.path.join(run_dir, "eventlog")),
                                          spans, result)
            values["tmp.leaked_dirs"], values["tmp.leaked_bytes"] = leaked
            wanted = bench["per_layer"]
        else:
            values = result["metrics"]
            wanted = bench["end_to_end"]
        metrics = {m["name"]: {"value": _finite(values.get(m["name"])), "unit": m["unit"]}
                   for m in wanted}
        correct = (
            result["failed"] == 0
            and result["retained_ok"]
            and all(v["value"] is not None for v in metrics.values())
        )
        line = {"correct": correct, "attempted": result["attempted"],
                "failed": result["failed"], "metrics": metrics}
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
            json.dump({"detail": detail, "result": line}, fh, indent=1)
        print(json.dumps({"detail": detail}))
        print(json.dumps(line))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
