"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from
the seed, runs a cold pass, measures warm passes for about ``S``
seconds (at least one), checks
every output and prints one JSON line last: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. Failing
items are named on stderr. The traced run also writes its spans and
details to ``.perfbench_out/``. All scratch files live under
``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def timings(run) -> dict[str, float]:
    """The run's times. BENCHMARK.json keeps ``setup_s`` and the
    executor CPU ones end to end; the wall-clock ones move with the
    host's speed by more than the bound (see CHANGES.md) and print on
    stderr, and as ``trace.*`` in the traced run."""
    from workloads import quantile

    def median(values: list[float]) -> float:
        # a run that failed before its first pass reads 0
        return statistics.median(values) if values else 0.0

    def warm(values: list[float]) -> float:
        # a one-pass workload (crawl_to_shards) reports that pass
        return median(values[1:] or values)

    return {
        "setup_s": median(run.setup_s),
        "cold_pass_s": median(run.pass_s[:1]),
        "pass_s": warm(run.pass_s),
        "latency_p50_s": quantile(run.samples, 0.5) if run.samples else 0.0,
        "items_per_s": run.items_per_s,
        "cold_executor_cpu_s": median(run.pass_cpu_s[:1]),
        "executor_cpu_s": warm(run.pass_cpu_s),
        "cold_cpu_s": median(run.pass_engine_cpu_s[:1]),
        "cpu_s": warm(run.pass_engine_cpu_s),
    }


def per_layer(run) -> dict[str, float]:
    """Layer totals per warm pass: the 15 entries (headline), one batch
    job (crawl_to_shards) or one micro-batch (stream_ingest)."""
    from spans import python_node_metrics

    n = max(len(run.layer_stages), 1)
    status = run.status
    by_id = {s["stageId"]: s for s in status.stages()}
    ids = set().union(*run.layer_stages)
    stages = [by_id[i] for i in ids if i in by_id]
    delays, skew, heavy = 0.0, 0.0, None
    for s in stages:
        tasks = status.get(f"stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000")
        delays += sum(t.get("schedulerDelay", 0) for t in tasks) / 1000.0
        if heavy is None or s["executorRunTime"] > heavy[0]:
            durs = sorted(t["duration"] for t in tasks if "duration" in t)
            if durs:
                heavy = (s["executorRunTime"], durs[-1] / max(statistics.median(durs), 1.0))
    skew = heavy[1] if heavy else 0.0
    jobs = status.get("jobs")
    job_stages = {j["jobId"]: set(j["stageIds"]) for j in jobs}
    execs = [
        e
        for e in status.get("sql?details=true&planDescription=false&length=100000")
        if any(job_stages.get(j, set()) & ids for j in e.get("successJobIds", []))
    ]
    arrow = python_node_metrics(execs)
    out = {
        "exec.tasks": sum(s["numCompleteTasks"] for s in stages) / n,
        "exec.scheduler_delay_s": delays / n,
        "exec.scan_bytes": sum(s["inputBytes"] for s in stages) / n,
        "exec.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages) / n,
        "exec.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages) / n,
        "exec.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9 / n,
        "exec.task_skew": skew,
        "exec.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / n,
        "exec.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0 / n,
        "arrow.bytes_to_python": arrow["bytes_to_python"] / n,
        "arrow.bytes_from_python": arrow["bytes_from_python"] / n,
        "arrow.rows": arrow["rows"] / n,
        "arrow.stage_run_s": arrow["run_s"] / n,
        "pipelines.e6_curate_s": run.tracer.total("pipelines", "e6_curate"),
        "pipelines.e4_s": run.tracer.total("pipelines", "e4"),
        "pipelines.shard_write_s": run.tracer.total("pipelines", "shard_write"),
        "sources.warc_parse_s": run.tracer.total("sources", "warc_parse"),
        "memory.peak_rss_mb": run.peak_rss_mb,
    }
    # the tracing overhead is each of these minus the same time of the
    # untraced run with the same seed
    out.update({f"trace.{k}": v for k, v in timings(run).items() if k != "setup_s"})
    misses = run.layer.pop("trainer_misses_cold", [0])
    warm = run.layer.pop("trainer_misses_warm", [0])
    out["similarity.trainer_cache_misses_cold"] = float(sum(misses))
    out["similarity.trainer_cache_misses"] = statistics.mean(warm)
    out.update({k: float(v) for k, v in run.layer.items()})
    return out


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "vbb_data_pipeline_spark")) or not os.path.exists(
        bench_json
    ):
        print(
            f"perfbench: {ROOT} is not a checkout of the engine "
            "(vbb_data_pipeline_spark/ or BENCHMARK.json missing)",
            file=sys.stderr,
        )
        return 2
    with open(bench_json) as fh:
        bench = json.load(fh)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything the run writes stays inside the checkout; the engine
    # runs in its library-default hash mode
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
    )
    os.environ.pop("SPARK_GRAFT_FAST_HASH", None)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

    import tempfile

    tempfile.tempdir = tmp
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = workloads.SPEC["driver_memory"]
    run = workloads.Run(
        name=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        work=work,
        spec=workloads.SPEC["workloads"][args.workload],
    )
    try:
        workloads.WORKLOADS[args.workload](run)
        run.peak_rss_mb = workloads.peak_rss_mb(run)
        if args.trace:
            values = per_layer(run)
            wanted = bench["per_layer"]
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            run.tracer.dump(f"{stem}-spans.json")
            with open(f"{stem}-layers.json", "w") as fh:
                json.dump(
                    {
                        "layers": values,
                        "setup_s": run.setup_s,
                        "pass_s": run.pass_s,
                        "samples": run.samples,
                        "failures": run.failures,
                    },
                    fh,
                    indent=1,
                )
        else:
            values = timings(run)
            wanted = bench["end_to_end"]
    finally:
        if run.spark is not None:
            run.spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    run.mark("end")
    last = t_start
    for phase, t in run.marks:
        print(f"perfbench: {phase} {t - last:.2f} s", file=sys.stderr)
        last = t
    if not args.trace:
        for k, v in values.items():
            print(f"perfbench: {k} = {v:.4f}", file=sys.stderr)
    for name, times in sorted(run.item_s.items()):
        print(f"perfbench: item {name} {statistics.median(times):.3f} s", file=sys.stderr)
    for f in run.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps(result_line(run, values, wanted)))
    return 0


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: it exits when
    its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def result_line(run, values: dict[str, float], wanted: list[dict]) -> dict:
    """The last stdout line: every ``wanted`` metric by name with its
    unit. A layer the workload never calls reads 0."""
    return {
        "correct": not run.failures,
        "attempted": max(run.attempted, 1),
        "failed": len(run.failures),
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }


if __name__ == "__main__":
    sys.exit(main())
