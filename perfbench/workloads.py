"""The benchmark's workloads.

Every workload runs the same frame: generate the seeded inputs, start
the SparkSession ``SETUPS`` times and report the median start
(``setup_s``), then measure. A pass is all registry entries
(``headline``), one batch job (``crawl_to_shards``) or one micro-batch
(``stream_ingest``). The first pass runs in the fresh session
(``cold_pass_s``); the warm passes after it give ``pass_s``. Outputs
are kept and checked after the last pass, so checking never
interleaves with timed work.
"""

from __future__ import annotations

import json
import os
import random
import re
import resource
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import datagen
from spans import SparkStatus, Tracer, catalyst_phases, plan_counts

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")) as _fh:
    SPEC = json.load(_fh)
SETUPS = SPEC["setups"]


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    return float(np.quantile(np.asarray(values, dtype=float), q))


@dataclass
class Run:
    """State of one benchmark run."""

    name: str
    seed: int
    seconds: float
    trace: bool
    work: str
    spec: dict
    spark: object = None
    tracer: Tracer | None = None
    status: SparkStatus | None = None
    setup_s: list[float] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    pass_cpu_s: list[float] = field(default_factory=list)
    pass_engine_cpu_s: list[float] = field(default_factory=list)
    pass_stages: list[set[int]] = field(default_factory=list)
    samples: list[float] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    items_per_s: float = 0.0
    peak_rss_mb: float = 0.0

    #: stage ids of the passes the per-layer exec/arrow metrics cover
    layer_stages: list[set[int]] = field(default_factory=list)
    marks: list[tuple[str, float]] = field(default_factory=list)
    item_s: dict[str, list[float]] = field(default_factory=dict)

    def fail(self, item: str, reason: str) -> None:
        self.failures.append(f"{item}: {reason}")

    def mark(self, phase: str) -> None:
        """End of a phase of the run (printed on stderr at exit)."""
        self.marks.append((phase, time.perf_counter()))


# ---------------------------------------------------------------------------
# Session


def start_session(run: Run) -> None:
    """(Re)start the SparkSession through the engine's own factory
    (``session.get_spark``: the Catalyst and execution configuration
    under test), with the status UI on for the REST metric reads and
    every scratch path inside the run's work directory."""
    from vbb_data_pipeline_spark.session import get_spark

    if run.spark is not None:
        run.spark.stop()
    cpus = os.cpu_count() or 1
    run.spark = get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "10000000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.local.dir": os.path.join(run.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(run.work, "tmp")
            + " -Dderby.system.home="
            + os.path.join(run.work, "derby"),
            "spark.checkpoint.dir": os.path.join(run.work, "checkpoint"),
        },
    )
    run.spark.sparkContext.setCheckpointDir(os.path.join(run.work, "checkpoint"))
    run.tracer = Tracer(run.spark.sparkContext, run.trace)
    run.status = SparkStatus(run.spark)


def setup(run: Run, make_inputs) -> dict:
    """Generate the seeded inputs once, then start the session
    ``SETUPS`` times; ``setup_s`` is the median time of a session start
    plus the schema reads of the inputs. Input generation is the
    benchmark's own work and stays out of the timer."""
    inputs = make_inputs(os.path.join(run.work, "inputs"))
    run.mark("inputs")
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        start_session(run)
        for path in inputs["parquet"]:
            run.spark.read.parquet(path).schema
        run.setup_s.append(time.perf_counter() - t0)
    run.mark("setup")
    return inputs


def peak_rss_mb(run: Run) -> float:
    """Peak resident memory of the JVM plus this Python process."""
    pid = run.spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def engine_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants: the
    Python driver (plan construction), the JVM it launched and the
    JVM's Python workers, live or exited."""
    tick = os.sysconf("SC_CLK_TCK")
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # ppid; utime + stime + cutime + cstime
        stats[int(d)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / tick


def timed_pass(run: Run, one_pass, p: int) -> None:
    """Pass ``p``: its wall time, its engine CPU, the stages it
    completed and their executor CPU."""
    before = run.status.stage_ids()
    c0 = engine_cpu_s()
    t0 = time.perf_counter()
    with run.tracer.span(f"pass{p}", "bench"):
        one_pass(p)
    run.pass_s.append(time.perf_counter() - t0)
    run.pass_engine_cpu_s.append(engine_cpu_s() - c0)
    run.pass_stages.append(run.status.stage_ids() - before)
    run.pass_cpu_s.append(run.status.cpu_of(run.pass_stages[-1]))


def run_passes(run: Run, one_pass) -> None:
    """The cold pass, then warm passes back to back: at least
    ``min_warm``, and more while the next one (taking the median warm
    pass time) still ends within ``seconds`` of the first warm start."""
    timed_pass(run, one_pass, 0)
    t_warm = time.perf_counter()
    while len(run.pass_s) - 1 < run.spec["min_warm"] or (
        time.perf_counter() - t_warm + statistics.median(run.pass_s[1:]) <= run.seconds
    ):
        timed_pass(run, one_pass, len(run.pass_s))
    run.layer_stages = run.pass_stages[1:]
    run.mark("passes")


# ---------------------------------------------------------------------------
# headline


def registry_items(run: Run, names: list[str], sf_dir: str):
    """Pass function over registry entries: per item a fresh DataFrame
    (plan construction), then execution with the rows collected to the
    driver, which is what the check compares."""
    from vbb_data_pipeline_spark.operators import similarity
    from vbb_data_pipeline_spark.queries import all_queries, legacy_queries

    registry = {n: s.fn for n, s in all_queries().items()}
    registry.update(legacy_queries())
    builders = {n: (lambda fn=registry[n]: fn(run.spark, sf_dir)) for n in names}
    results: dict[tuple[str, int], object] = {}
    plans: dict[str, dict[str, float]] = {}

    def one_pass(p: int) -> None:
        order = list(builders)
        random.Random(run.seed * 1000 + p).shuffle(order)
        cache_before = len(similarity._CENTROID_CACHE)
        for name in order:
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                with run.tracer.span(name, "queries", item=name, pass_=p):
                    df = builders[name]()
                t1 = time.perf_counter()
                with run.tracer.span(name, "exec", item=name, pass_=p):
                    pdf = df.toPandas()
            except Exception as e:  # noqa: BLE001 - a failed item is a result
                run.fail(name, f"{type(e).__name__}: {str(e)[:200]}")
                continue
            results[(name, p)] = pdf
            if p == 0:
                if run.tracer.enabled:
                    plans[name] = plan_counts(df._jdf.queryExecution())
                continue
            run.samples.append(time.perf_counter() - t0)
            run.item_s.setdefault(name, []).append(run.samples[-1])
            if run.tracer.enabled:
                rec = plans.setdefault(name, {})
                rec["plan_build_s"] = rec.get("plan_build_s", 0.0) + t1 - t0
                for k, v in catalyst_phases(df._jdf.queryExecution()).items():
                    rec[k] = rec.get(k, 0.0) + v
        if run.tracer.enabled:
            misses = len(similarity._CENTROID_CACHE) - cache_before
            key = "cold" if p == 0 else "warm"
            run.layer.setdefault(f"trainer_misses_{key}", []).append(misses)

    return one_pass, results, plans


def check_registry(run: Run, oracle, results: dict) -> None:
    for (name, p), pdf in sorted(results.items(), key=lambda kv: (kv[0][1], kv[0][0])):
        try:
            reason = oracle.check(name, pdf)
        except Exception as e:  # noqa: BLE001 - an oracle error is a failure
            reason = f"oracle {type(e).__name__}: {str(e)[:200]}"
        if reason:
            run.fail(f"{name}#pass{p}", reason)


def registry_layer_metrics(run: Run, plans: dict) -> None:
    """Plan-side times per warm pass; exchange and scan counts of the
    cold pass's final plans (exact for one seed)."""
    n = len(run.pass_s) - 1
    run.layer["queries.plan_build_s"] = sum(r.get("plan_build_s", 0.0) for r in plans.values()) / n
    for k in ("analysis", "optimization", "planning"):
        run.layer[f"catalyst.{k}_s"] = sum(r.get(k, 0.0) for r in plans.values()) / n
    run.layer["catalyst.exchanges"] = sum(r.get("exchanges", 0) for r in plans.values())
    run.layer["catalyst.scans"] = sum(r.get("scans", 0) for r in plans.values())


def table_inputs(run: Run, d: str) -> dict:
    sizes = datagen.Sizes(**run.spec["tables"])
    rows = datagen.write_tables(d, run.seed, sizes)
    parquet = [os.path.join(d, f"{t}.parquet") for t in rows]
    return {"dir": d, "rows": rows, "parquet": parquet}


def workload_headline(run: Run) -> None:
    from oracle import Oracle

    inputs = setup(run, lambda d: table_inputs(run, d))
    one_pass, results, plans = registry_items(run, run.spec["entries"], inputs["dir"])
    run_passes(run, one_pass)
    run.items_per_s = len(run.spec["entries"]) / statistics.median(run.pass_s[1:])
    check_registry(run, Oracle(inputs["dir"]), results)
    run.mark("check")
    if run.trace:
        registry_layer_metrics(run, plans)


# ---------------------------------------------------------------------------
# crawl_to_shards


CRAWL_OPTS = dict(max_per_host=1_000_000, boilerplate_min_docs=3)


def crawl_inputs(run: Run, d: str) -> dict:
    """The seeded WARC landing, built from a seeded ``documents`` table."""
    c = run.spec["crawl"]
    docs = datagen.documents_table(np.random.default_rng([run.seed, 4]), c["documents"])
    landing = os.path.join(d, "landing")
    return {"landing": landing, **datagen.write_warc_landing(landing, docs, c["reps"], c["files"])}


def crawl_job(run: Run, landing: str, outputs: dict):
    """Pass function: crawl_to_shards as a user runs it, WARC landing ->
    ``e6_crawl_corpus`` curation (materialized) -> ``e4_corpus_prep`` ->
    parquet shards, into fresh directories per pass. ``outputs[p]`` is
    pass ``p``'s (curated, shards) directories when the job succeeded."""
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep, e6_crawl_corpus

    c = run.spec["crawl"]

    def job(p: int) -> None:
        t = run.tracer
        curated_dir = os.path.join(run.work, f"curated{p}")
        shards_dir = os.path.join(run.work, f"shards{p}")
        run.attempted += 1
        try:
            with t.span("e6_curate", "pipelines", pass_=p):
                curated = e6_crawl_corpus(
                    run.spark, landing, run_e4=False, materialize_dir=curated_dir, **CRAWL_OPTS
                )
            with t.span("e4", "pipelines", pass_=p):
                shards = e4_corpus_prep(curated, lsh_pair_mode="star", shard_budget=c["shard_budget"])
            with t.span("shard_write", "pipelines", pass_=p):
                shards.write.mode("overwrite").parquet(shards_dir)
        except Exception as e:  # noqa: BLE001 - a failed job is a result
            run.fail(f"crawl#pass{p}", f"{type(e).__name__}: {str(e)[:200]}")
            return
        outputs[p] = (curated_dir, shards_dir)

    return job


def crawl_check(run: Run, crawl: dict, p: int, output: tuple[str, str]) -> int:
    """Unique output ids, every output doc curated, a plausible output
    row count. Returns the output row count."""
    from pyspark.sql import functions as F

    curated_dir, shards_dir = output
    shards = run.spark.read.parquet(shards_dir)
    n, n_ids = shards.agg(F.count("*"), F.countDistinct("doc_id")).first()
    stray = shards.join(run.spark.read.parquet(curated_dir), "doc_id", "left_anti").count()
    if n != n_ids:
        run.fail(f"crawl#pass{p}", f"{n - n_ids} duplicate output ids")
    if stray:
        run.fail(f"crawl#pass{p}", f"{stray} output ids not in the curated set")
    if n == 0 or n > crawl["docs"]:
        run.fail(f"crawl#pass{p}", f"{n} output rows for {crawl['docs']} input docs")
    return n


def crawl_funnel(run: Run, landing: str, curated_dir: str, rows_out: int) -> None:
    """Traced run only: the E6/E4 funnel and the dedup waste ratio,
    counted by extra jobs over the same stages E4 composes."""
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.functions.hashing import default_hash_mode
    from vbb_data_pipeline_spark.functions.text import quality_score
    from vbb_data_pipeline_spark.operators.dedup import (
        connected_components,
        fingerprint_dedup,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from vbb_data_pipeline_spark.sources.warc import read_warc, warc_to_documents

    t = run.tracer
    with t.span("warc_parse", "sources"):
        docs_in = warc_to_documents(read_warc(run.spark, landing)).count()
    run.layer["sources.warc_bytes"] = sum(
        os.path.getsize(os.path.join(landing, f)) for f in os.listdir(landing)
    )
    mode = default_hash_mode()
    with t.span("funnel", "pipelines"):
        curated = run.spark.read.parquet(curated_dir)
        kept = curated.filter(quality_score("text") >= F.lit(0.3))
        exact = fingerprint_dedup(kept, "text", "doc_id").localCheckpoint()
        sigs = minhash_signatures(exact, "text", "doc_id", hash_mode=mode)
        cands = lsh_candidate_pairs(sigs, "doc_id", hash_mode=mode, pair_mode="star").localCheckpoint()
        near = jaccard_pairs(exact, cands, "text", "doc_id", hash_mode=mode).filter(
            F.col("jaccard") >= F.lit(0.8)
        ).select("id_a", "id_b").localCheckpoint()
        losers = connected_components(near).filter(F.col("node") != F.col("cluster_id"))
        after_near = exact.join(
            losers.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
        ).count()
        n_cands = cands.count()
        n_near = near.count()
        run.layer.update(
            {
                "pipelines.docs_in": docs_in,
                "pipelines.docs_after_url_dedup": curated.count(),
                "pipelines.docs_after_quality": kept.count(),
                "pipelines.docs_after_exact": exact.count(),
                "pipelines.docs_after_near": after_near,
                "pipelines.rows_out": rows_out,
                "dedup.lsh_candidates": n_cands,
                "dedup.jaccard_kept": n_near,
                "dedup.lsh_precision": n_near / n_cands if n_cands else 0.0,
            }
        )
    if after_near != rows_out:
        run.fail("crawl funnel", f"E4 wrote {rows_out} rows, the funnel keeps {after_near}")


def workload_crawl_to_shards(run: Run) -> None:
    """One batch job in the fresh session, as a user runs it: its one
    pass is also its cold pass. ``items_per_s`` is docs_per_s, input
    WARC records per second of the job."""
    crawl: dict = {}

    def make(d: str) -> dict:
        crawl.update(crawl_inputs(run, d))
        return {"parquet": []}

    setup(run, make)
    run.spark.conf.set("spark.sql.shuffle.partitions", str(run.spec["crawl"]["shuffle_partitions"]))
    outputs: dict[int, tuple[str, str]] = {}
    timed_pass(run, crawl_job(run, crawl["landing"], outputs), 0)
    run.layer_stages = run.pass_stages[:1]
    run.items_per_s = crawl["docs"] / run.pass_s[0]
    run.mark("crawl")
    if 0 in outputs:
        rows = crawl_check(run, crawl, 0, outputs[0])
        if run.trace:
            crawl_funnel(run, crawl["landing"], outputs[0][0], rows)
    run.mark("check")


# ---------------------------------------------------------------------------
# stream_ingest


_BATCH = re.compile(r"batch = (\d+)")


def batch_cpu_s(run: Run, stage_ids: set[int]) -> dict[int, tuple[set[int], float]]:
    """Stages and executor CPU of each micro-batch, from the batch id
    the stream writes into its jobs' descriptions."""
    out: dict[int, set[int]] = {}
    for j in run.status.get("jobs"):
        m = _BATCH.search(j.get("description") or "")
        if m:
            out.setdefault(int(m.group(1)), set()).update(set(j["stageIds"]) & stage_ids)
    return {b: (s, run.status.cpu_of(s)) for b, s in out.items()}


def stream_phase(run: Run, staged: list[dict]) -> None:
    """stream_ingest, an open loop into a running E5 stream
    (``write_stream_corpus_ingest``) that takes one file per
    micro-batch: one generator thread lands the staged files at the
    fixed offered rate, and the phase ends when every file is
    committed. A pass is one micro-batch; the latency samples are the
    files' lags, from the scheduled landing to the commit of the
    micro-batch holding the file."""
    from vbb_data_pipeline_spark.streaming.ingest import write_stream_corpus_ingest

    s = run.spec["stream"]
    w = run.work
    landing, corpus, index, audit = (os.path.join(w, n) for n in ("landing", "corpus", "index", "audit"))
    os.makedirs(landing)
    scheduled: dict[int, float] = {}
    late: list[float] = []

    def land() -> None:
        t0 = time.time()
        for f, rec in enumerate(staged):
            due = t0 + f / s["files_per_s"]
            if due > time.time():
                time.sleep(due - time.time())
            late.append(max(0.0, time.time() - due))
            scheduled[f] = due
            os.rename(rec["path"], os.path.join(landing, os.path.basename(rec["path"])))

    stream = (
        run.spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    before = run.status.stage_ids()
    c0 = engine_cpu_s()
    with run.tracer.span("stream", "streaming"):
        q = write_stream_corpus_ingest(
            stream,
            corpus_path=corpus,
            index_path=index,
            audit_path=audit,
            checkpoint=os.path.join(w, "stream-ckpt"),
            trigger_available_now=False,
        )
        gen = threading.Thread(target=land, name="perfbench-generator")
        gen.start()
        deadline = time.time() + s["timeout_s"]
        try:
            while sum(int(pr["numInputRows"]) for pr in q.recentProgress) < len(staged) * s["docs_per_file"]:
                if q.exception() is not None:
                    raise RuntimeError(f"stream stopped: {q.exception()}")
                if time.time() > deadline:
                    raise TimeoutError(f"{len(staged)} files not committed within {s['timeout_s']} s")
                time.sleep(0.01)
        except (RuntimeError, TimeoutError) as e:
            run.fail("stream", str(e))
        finally:
            gen.join()
    progress = [pr for pr in q.recentProgress if pr["numInputRows"]]
    q.stop()
    run.layer["streaming.cpu_s"] = (engine_cpu_s() - c0) / max(len(progress), 1)
    batches = batch_cpu_s(run, run.status.stage_ids() - before)
    run.mark("stream")
    if late:
        run.layer["streaming.generator_late_s"] = max(late)
    stream_finish(run, staged, progress, batches, scheduled, (corpus, index, audit))


def stream_finish(run: Run, staged, progress, batches, scheduled, paths) -> None:
    """Micro-batch times, CPU and lags, then checks against what the
    generator planted: one verdict per landed document, each the
    planted kind, and corpus ids equal to the ids with verdict
    ``new``."""
    corpus, index, audit = paths
    landed = sorted(scheduled)
    run.attempted += len(landed)
    if not landed:
        return
    commit, batch_s = {}, {}
    for pr in progress:
        b = int(pr["batchId"])
        batch_s[b] = pr["durationMs"]["triggerExecution"] / 1000.0
        commit[b] = np.datetime64(pr["timestamp"].rstrip("Z"), "ms").astype("int64") / 1000.0 + batch_s[b]
    aud = run.spark.read.parquet(audit).select("doc_id", "status", "batch_id").toPandas()
    batch_of_file = aud.groupby(aud["doc_id"] // 1_000_000)["batch_id"].max()
    lag: dict[int, float] = {}
    for f in landed:
        if f not in batch_of_file.index or int(batch_of_file[f]) not in commit:
            run.fail(f"file{f}", "no committed micro-batch holds it")
            continue
        lag[f] = commit[int(batch_of_file[f])] - scheduled[f]
    for f in sorted(lag):
        b = int(batch_of_file[f])
        stages, cpu = batches.get(b, (set(), 0.0))
        run.pass_s.append(batch_s[b])
        run.pass_cpu_s.append(cpu)
        run.pass_stages.append(stages)
        run.samples.append(lag[f])
    run.layer_stages = run.pass_stages[1:]
    planted = {i: k for f in landed for i, k in zip(staged[f]["ids"], staged[f]["kinds"])}
    if len(aud) != len(planted) or aud["doc_id"].nunique() != len(planted):
        run.fail("audit", f"{len(aud)} verdicts for {len(planted)} landed docs")
    verdict = dict(zip(aud["doc_id"], aud["status"]))
    wrong = [i for i, k in planted.items() if verdict.get(i) != k]
    if wrong:
        run.fail("verdicts", f"{len(wrong)} docs with a verdict other than planted, e.g. {wrong[0]}")
    corpus_ids = run.spark.read.parquet(corpus).select("doc_id").toPandas()["doc_id"]
    if corpus_ids.nunique() != len(corpus_ids):
        run.fail("corpus", "duplicate corpus ids")
    if set(corpus_ids) != {i for i, v in verdict.items() if v == "new"}:
        run.fail("corpus", "corpus ids differ from the ids with verdict new")
    counts = aud["status"].value_counts()
    for k in datagen.INGEST_KINDS:
        run.layer[f"streaming.verdict_{k}"] = int(counts.get(k, 0))
    landed_bytes = sum(staged[f]["bytes"] for f in landed)
    written = sum(dir_bytes(d) for d in (corpus, index, audit))
    run.layer.update(
        {
            "streaming.first_batch_s": run.pass_s[0] if run.pass_s else 0.0,
            "streaming.batch_s": statistics.median(run.pass_s[1:] or run.pass_s or [0.0]),
            "streaming.batch_docs": statistics.median([pr["numInputRows"] for pr in progress] or [0]),
            "streaming.backlog_files": backlog_growth(scheduled, commit, batch_of_file),
            "streaming.write_amp": written / landed_bytes,
            "streaming.index_bytes": dir_bytes(index),
        }
    )


def workload_stream_ingest(run: Run) -> None:
    """The E5 stream in a fresh session: its first micro-batch is the
    cold pass, the later ones the warm passes. ``items_per_s`` is the
    documents per second of the median warm micro-batch, the highest
    rate one file per trigger sustains."""
    s = run.spec["stream"]
    n_files = max(s["min_files"], int(s["files_per_s"] * run.seconds))
    staged: list[dict] = []

    def make(d: str) -> dict:
        staged.extend(
            datagen.ingest_files(os.path.join(d, "staged"), run.seed, n_files, s["docs_per_file"], s["mix"])
        )
        return {"parquet": [staged[0]["path"]]}

    setup(run, make)
    stream_phase(run, staged)
    if len(run.pass_s) > 1:
        run.items_per_s = s["docs_per_file"] / statistics.median(run.pass_s[1:])
    run.mark("check")


def backlog_growth(scheduled: dict, commit: dict, batch_of_file) -> float:
    """Files landed but not committed, at each landing instant: the
    last landing's backlog minus the first's (0 when the stream keeps
    up with the offered rate)."""
    done = {f: commit.get(int(b)) for f, b in batch_of_file.items()}
    backlog = [
        sum(1 for g, due in scheduled.items() if due <= t and (done.get(g) or 1e18) > t)
        for t in sorted(scheduled.values())
    ]
    return float(backlog[-1] - backlog[0]) if backlog else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


WORKLOADS = {
    "headline": workload_headline,
    "crawl_to_shards": workload_crawl_to_shards,
    "stream_ingest": workload_stream_ingest,
}
