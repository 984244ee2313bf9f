"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints one line per metric (name, value,
unit) and, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also drives each layer on its own under spans and reports the
per-layer metrics, and writes the spans to
``.perfbench/trace-<workload>-seed<n>.json``. Exits 1 when an output
check failed and 2 when the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402

# Printed by every run. The last three read 0 on some workload (no calls
# on analytics_pinned, no failures on a correct run), so no bound
# relative to their median can hold them: BENCHMARK.json lists them with
# the per-layer metrics, and the result line's `failed` and `attempted`
# carry the failure count.
END_TO_END = (
    "setup_s", "job_s", "input_mb_per_s", "peak_rss_mb",
    "llm_calls", "llm_request_kb", "ops_failed_frac",
)


def configure_env(work: str, trace_on: bool) -> None:
    """Point every writer at the work directory and let Spark's Python
    workers import the package from the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed 2 GB JVM heap: with the 8 GB default the JVM grows its
    # heap by GC timing, and peak memory varied by 60 % between runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.pop("SPARK_GRAFT_CONF", None)
    if trace_on:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        os.environ["SPARK_GRAFT_CONF"] = (
            f"spark.eventLog.enabled=true;spark.eventLog.dir={log_dir};"
            "spark.eventLog.compress=false"
        )


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM
    and its Python workers have exited."""
    from pyspark import SparkContext

    procs = trace.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _median_timed(fn, repeats: int = 3) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _tokens_count_s(lines: list[str]) -> float:
    """Worker-side token counting cost, measured while this process has
    no SparkSession, as a Python worker has none."""
    import pandas as pd

    from mapreduce_llm_spark.functions.tokens import count_tokens_series

    series = pd.Series(lines)
    t0 = time.perf_counter()
    count_tokens_series(series)
    return time.perf_counter() - t0


def run(workload: str, seed: int, seconds: int, trace_on: bool, work: str) -> dict:
    from mapreduce_llm_spark.session import get_spark
    from perfbench.service import LLMService
    from perfbench.workloads import (
        WORKLOADS, AnalyticsPinned, LLMWorkload, llm_layer_metrics,
    )

    cls = WORKLOADS[workload]
    service = LLMService().start() if issubclass(cls, LLMWorkload) else None
    if service is not None:
        os.environ["OPENAI_API_KEY"] = "perfbench"
        os.environ["OPENAI_BASE_URL"] = service.base_url
    wl = cls(work, seed, service)
    spark = None
    layer: dict[str, float] = {}
    try:
        gen_s = _median_timed(wl.generate)
        if trace_on:
            layer["tokens.count_s"] = _tokens_count_s(wl.lines())
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload}")
        layer["session.get_spark_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        jobs = wl.warm(spark)
        setup_s = layer["session.get_spark_s"] + gen_s + time.perf_counter() - t0

        t0 = time.perf_counter()
        timed = [wl.job()]
        # taken after a fixed amount of work, so that a faster program
        # running more jobs in the window does not read as using more
        peak_rss_mb = trace.tree_peak_rss_mb()
        # the analytics pass is measured once, as the session's first pass
        while not isinstance(wl, AnalyticsPinned) and time.perf_counter() - t0 < seconds:
            timed.append(wl.job())
        jobs += timed

        if trace_on:
            tracer = trace.Tracer(run_id=f"{workload}-seed{seed}-{os.getpid()}")
            reference = wl.job()
            if isinstance(wl, LLMWorkload):
                layer["pipeline.persisted_frames_after"] = wl.persisted_frames()
            wall0 = time.time() * 1000
            metrics, traced_job = wl.traced(tracer)
            wall1 = time.time() * 1000
            jobs += [reference, traced_job]
            layer.update(metrics)
            layer["trace.overhead_s"] = traced_job.seconds - reference.seconds
            if isinstance(wl, LLMWorkload):
                layer.update(llm_layer_metrics(reference, metrics.get("cache.misses", 0)))
            stop_spark(spark)
            spark = None
            totals = trace.eventlog_task_totals(os.path.join(work, "eventlog"), wall0, wall1)
            group = "pipeline" if isinstance(wl, LLMWorkload) else "queries"
            layer[f"{group}.shuffle_write_mb"] = totals["shuffle_write_mb"]
            layer[f"{group}.task_s"] = totals["task_s"]
            if group == "queries":
                layer["queries.spill_mb"] = totals["spill_mb"]
                layer["queries.gc_s"] = totals["gc_s"]
            tracer.write(
                os.path.join(ROOT, ".perfbench", f"trace-{workload}-seed{seed}.json"),
                {"metrics": layer, "errors": [e for j in jobs for e in j.errors]},
            )
    finally:
        if spark is not None:
            stop_spark(spark)
        if service is not None:
            service.close()

    job_s = statistics.median(j.seconds for j in timed)
    attempted = sum(j.ops for j in jobs)
    failed = sum(j.failed_ops for j in jobs)
    end_to_end = {
        "setup_s": setup_s,
        "job_s": job_s,
        "input_mb_per_s": wl.input_bytes / 1e6 / job_s,
        "peak_rss_mb": peak_rss_mb,
        "llm_calls": statistics.median(j.llm_calls for j in timed),
        "llm_request_kb": statistics.median(j.request_bytes for j in timed) / 1e3,
        "ops_failed_frac": failed / attempted,
    }
    return {
        "errors": [e for j in jobs for e in j.errors],
        "attempted": attempted,
        "failed": failed,
        "end_to_end": end_to_end,
        "layer": layer,
    }


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    try:
        import bench  # noqa: F401 — PINNED_V1 lives there
        import mapreduce_llm_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the program from {ROOT}: {ex}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        configure_env(work, bool(args.trace))
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in res["errors"]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    values = {**res["end_to_end"], **res["layer"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name in END_TO_END + (tuple(sorted(res["layer"])) if args.trace else ()):
        print(f"{args.workload} {name} {values[name]:.6g} {units[name]}")
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in listed
    }
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
