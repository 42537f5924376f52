"""Benchmark of record for the stored-table engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the shared fixtures once per checkout
under ``.bench_build/perfbench/`` (a child process), sets up the workload
several times (Spark session start + fixture copy), then runs one client
in a closed loop for ``--seconds`` of op time, checking every op against
DuckDB outside the timing. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics untraced, the per-layer metrics with ``--trace 1``. Spans of a
traced run are written to ``.bench_build/perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PACKAGE = "binance_futures_availability_spark"
SETUP_REPS = 3
WORKLOADS = ("api_lookups", "nightly_batch")

#: per-layer metrics read from counters: name -> (counter, unit, reduce)
COUNTER_METRICS = {
    "operators.rows_returned": ("operators.rows_returned", "count", "median"),
    "ingest.probes": ("ingest.probes", "count", "median"),
    "ingest.probe_failures": ("ingest.probe_failures", "count", "sum"),
    "writer.files_written": ("writer.files_written", "count", "median"),
    "writer.bytes_written": ("writer.bytes_written", "B", "median"),
    "writer.partitions_rewritten": ("writer.partitions_rewritten", "count", "median"),
    "writer.files_per_partition": ("writer.files_per_partition", "count", "median"),
    "writer.bytes_written_per_record": (
        "writer.bytes_written_per_record", "B/record", "median"),
    "dedup.pairs_out": ("dedup.pairs_out", "count", "median"),
    "index_cache.bytes": ("index_cache.bytes", "B", "max"),
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _scratch_env(scratch: str) -> dict:
    """Point every temp/cache/local dir Spark, the JVM, DuckDB and Python
    use at ``scratch`` so a run writes nothing outside it."""
    dirs = {k: os.path.join(scratch, k) for k in
            ("tmp", "local", "cache", "derby", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CACHE"] = dirs["cache"]
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={dirs['tmp']}",
        f"-Dderby.system.home={dirs['derby']}",
        "-XX:-UsePerfData",
    ]))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return dirs


def _start_session(warehouse: str):
    """The engine's session as it ships (``session.get_session`` defaults)
    on ``local[nproc]``; only file locations and the console progress bar
    are configured here."""
    from binance_futures_availability_spark import session

    spark = session.get_session(
        "perfbench",
        master=f"local[{_nproc()}]",
        extra_conf={
            "spark.sql.warehouse.dir": warehouse,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tree_peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and every
    descendant (the Spark JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


# ---------------------------------------------------------------- fixtures
def _build_child(out: str) -> None:
    """Child-process entry: build the shared fixtures into ``out``."""
    scratch = out + ".scratch"
    dirs = _scratch_env(scratch)
    import fixtures

    spark = _start_session(dirs["warehouse"])
    try:
        meta = fixtures.build(spark, out)
    finally:
        _stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(meta), file=sys.stderr)


def _ensure_fixtures() -> str:
    import fixtures

    key = fixtures.fixture_key(ROOT)
    path = os.path.join(WORK, f"fixtures-{key}")
    if os.path.exists(os.path.join(path, "meta.json")):
        return path
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):  # fixtures of other sources, aborted builds
        if name.startswith("fixtures-"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    staging = f"{path}.tmp-{os.getpid()}"
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--build-fixtures", staging],
        check=True, cwd=ROOT, stdout=sys.stderr,
    )
    os.rename(staging, path)
    print(f"perfbench: fixtures built in {time.perf_counter() - t0:.1f} s",
          file=sys.stderr)
    return path


def _sweep_stale_runs(runs: str) -> None:
    """Remove run directories left by runs that were killed."""
    if not os.path.isdir(runs):
        return
    for name in os.listdir(runs):
        pid = name.split("-", 1)[0]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)


# ---------------------------------------------------------------- the run
def _layer_metrics(ctx, latencies, attempted, failed) -> dict:
    tracer = ctx.tracer
    out = dict(tracer.layer_metrics())
    for name, (counter, unit, reduce) in COUNTER_METRICS.items():
        values = tracer.counters.get(counter, [])
        if not values:
            value = 0
        elif reduce == "median":
            value = statistics.median(values)
        elif reduce == "max":
            value = max(values)
        else:
            value = sum(values)
        out[name] = (value, unit)
    curation = [
        sum(s["end"] - s["start"] for s in tracer.spans
            if s["op"] == r["op"] and s["name"] in (
                "dedup.exact", "dedup.minhash_lsh", "dedup.clusters",
                "textops.curate"))
        for r in tracer.spans if r["name"] == "op"
    ]
    docs = tracer.counters.get("curation.docs", [])
    out["curation.docs_per_s"] = (
        statistics.median(docs) / statistics.median(curation)
        if docs and statistics.median(curation) > 0 else 0,
        "1/s",
    )
    out["failed_share"] = (failed / attempted, "share")
    out["memory.peak_rss_mb"] = (_tree_peak_rss_mb(), "MB")
    out["trace.op_p50_s"] = (statistics.median(latencies) if latencies else 0, "s")
    return out


def run(args) -> dict:
    import workloads
    from binance_futures_availability_spark import index_cache
    from oracle import Oracle
    from spans import Tracer

    ctx = types.SimpleNamespace()
    ctx.seed, ctx.nproc = args.seed, _nproc()
    ctx.fixtures = args.fixtures
    with open(os.path.join(args.fixtures, "meta.json"), encoding="utf-8") as fh:
        ctx.meta = json.load(fh)
    ctx.tracer = tracer = Tracer(bool(args.trace))
    workloads.install_tracing(tracer, args.scratch)
    wl = workloads.WORKLOADS[args.workload](ctx)

    setup_times, spark = [], None
    try:
        for rep in range(SETUP_REPS):
            rep_dir = os.path.join(args.scratch, f"rep{rep}")
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = ctx.spark = _start_session(args.dirs["warehouse"])
            tracer.bind(spark)
            os.makedirs(rep_dir)
            wl.setup(rep_dir)
            setup_times.append(time.perf_counter() - t0)
        for rep in range(SETUP_REPS - 1):  # only the last set-up is used
            shutil.rmtree(os.path.join(args.scratch, f"rep{rep}"))

        ctx.oracle = Oracle(os.path.join(args.scratch, "duckdb"), ctx.nproc)
        wl.prepare_oracle()

        # closed loop: ops until ``--seconds`` of op time, at least one
        latencies, attempted, failed, busy, checking, k = [], 0, 0, 0.0, 0.0, 0
        while k == 0 or busy < args.seconds:
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.op(f"{args.workload}-{k}"):
                    result = wl.op(k)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                problems = [f"raised:\n{traceback.format_exc()}"]
            else:
                problems = None
            dt_op = time.perf_counter() - t0
            busy += dt_op
            if problems is None:
                latencies.append(dt_op)
                try:
                    problems = wl.check(k, result)
                except Exception:  # noqa: BLE001 — a check that cannot run fails
                    problems = [f"check raised:\n{traceback.format_exc()}"]
                checking += time.perf_counter() - t0 - dt_op
            if problems:
                failed += 1
                for p in problems:
                    print(f"perfbench: op {k} failed: {p}", file=sys.stderr)
            if tracer.enabled:
                tracer.count("index_cache.bytes", index_cache.storage_bytes(spark))
            k += 1

        print(
            "perfbench: setup reps "
            + ", ".join(f"{t:.3f}" for t in setup_times)
            + " s; ops " + ", ".join(f"{t:.3f}" for t in latencies)
            + f" s; checks {checking:.3f} s",
            file=sys.stderr,
        )
        if tracer.enabled:
            metrics = _layer_metrics(ctx, latencies, attempted, failed)
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": (statistics.median(setup_times), "s"),
                "op_p50_s": (statistics.median(latencies) if latencies else busy, "s"),
                "ops_per_s": (len(latencies) / busy, "1/s"),
            }
    finally:
        if getattr(ctx, "oracle", None) is not None:
            ctx.oracle.close()
        if spark is not None:
            _stop_spark(spark)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload")
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--build-fixtures", help=argparse.SUPPRESS)
    args = parser.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, PACKAGE))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        _fail(f"run from a checkout of the engine: {PACKAGE}/ not found in {ROOT}")
    sys.path.insert(1, ROOT)
    if args.build_fixtures:
        _build_child(args.build_fixtures)
        return 0
    if args.workload not in WORKLOADS:
        _fail(f"--workload must be one of {', '.join(WORKLOADS)}")

    args.fixtures = _ensure_fixtures()
    runs = os.path.join(WORK, "runs")
    _sweep_stale_runs(runs)
    args.scratch = os.path.join(runs, f"{os.getpid()}-{args.workload}")
    try:
        args.dirs = _scratch_env(args.scratch)
        result = run(args)
    finally:
        shutil.rmtree(args.scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
