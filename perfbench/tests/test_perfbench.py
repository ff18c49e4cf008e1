"""Tests of the benchmark itself: the printed line carries every named
metric with its unit, seeded inputs and the counts they drive repeat
exactly for one seed, and the output check rejects a wrong expected
hash.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT, os.path.join(ROOT, "tools")]

import datagen  # noqa: E402
import oracle  # noqa: E402
import run as runner  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _fake_run() -> workloads.Run:
    r = workloads.Run(name="headline", seed=1, seconds=1, trace=False, work="", spec={})
    r.setup_s = [1.2, 0.9, 1.0]
    r.pass_s = [10.0, 4.0, 4.2]
    r.pass_cpu_s = [3.0, 1.5, 1.6]
    r.pass_engine_cpu_s = [9.0, 4.5, 4.8]
    r.samples = [0.1, 0.5, 0.2, 0.4, 0.3, 0.6]
    r.attempted = 6
    r.items_per_s = 3.6
    r.peak_rss_mb = 1500.0
    return r


def test_the_benchmark_runs_the_workloads_it_lists():
    names = [w["name"] for w in BENCH["workloads"]]
    assert names == list(workloads.WORKLOADS) == list(workloads.SPEC["workloads"])


@pytest.mark.parametrize("one_pass", [False, True])
def test_every_end_to_end_metric_is_computed_and_printed_with_its_unit(one_pass):
    r = _fake_run()
    if one_pass:
        # crawl_to_shards: its one job is its cold pass and its pass
        r.pass_s, r.pass_cpu_s, r.pass_engine_cpu_s = [20.0], [9.0], [60.0]
    values = runner.timings(r)
    assert values["executor_cpu_s"] == (9.0 if one_pass else pytest.approx(1.55))
    names = [m["name"] for m in BENCH["end_to_end"]]
    assert set(names) <= set(values)
    assert all(v > 0 for v in values.values())
    line = runner.result_line(r, values, BENCH["end_to_end"])
    assert line["correct"] is True and line["attempted"] == 6 and line["failed"] == 0
    for m in BENCH["end_to_end"]:
        assert line["metrics"][m["name"]] == {
            "value": pytest.approx(values[m["name"]]),
            "unit": m["unit"],
        }


def test_every_per_layer_metric_is_printed_with_its_unit():
    r = _fake_run()
    r.failures.append("item: reason")
    line = runner.result_line(r, {"exec.tasks": 12.0}, BENCH["per_layer"])
    assert line["correct"] is False and line["failed"] == 1
    assert [k for k in line["metrics"]] == [m["name"] for m in BENCH["per_layer"]]
    for m in BENCH["per_layer"]:
        assert line["metrics"][m["name"]]["unit"] == m["unit"]
    assert line["metrics"]["exec.tasks"]["value"] == 12.0


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _inputs(d: str, seed: int) -> list:
    datagen.write_tables(os.path.join(d, "tables"), seed, datagen.Sizes(0.001, 50, 50))
    rng = datagen.np.random.default_rng([seed, 4])
    datagen.write_warc_landing(
        os.path.join(d, "landing"), datagen.documents_table(rng, 40), reps=2, n_files=2
    )
    return datagen.ingest_files(
        os.path.join(d, "staged"), seed, 3, 20, {"batch_dup": 0.1, "exact_dup": 0.1, "near_dup": 0.1, "low_quality": 0.1}
    )


def test_inputs_and_planted_counts_repeat_for_one_seed(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    c = _inputs(str(tmp_path / "c"), 8)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert [f["kinds"] for f in a] == [f["kinds"] for f in b]
    # a fixed mix per file once earlier files exist to copy from
    kinds = [sorted(set(f["kinds"])) for f in a[1:]]
    assert kinds == [sorted(datagen.INGEST_KINDS)] * 2


@pytest.fixture(scope="module")
def spark():
    from vbb_data_pipeline_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2, shuffle_partitions=2)
    yield s


def _verdicts(spark, staged, d: str) -> dict:
    from vbb_data_pipeline_spark.streaming.ingest import corpus_ingest_batch

    for batch_id, f in enumerate(staged):
        corpus_ingest_batch(
            spark.read.parquet(f["path"]),
            batch_id,
            corpus_path=f"{d}/corpus",
            index_path=f"{d}/index",
            audit_path=f"{d}/audit",
        )
    return {r["doc_id"]: r["status"] for r in spark.read.parquet(f"{d}/audit").collect()}


def test_verdict_counts_repeat_and_match_the_planted_kinds(spark, tmp_path):
    """One ingest batch per file, as the stream_ingest workload runs
    it: every verdict is the planted kind, so the counts repeat."""
    staged = datagen.ingest_files(
        str(tmp_path / "staged"), 3, 3, 20,
        {"batch_dup": 0.1, "exact_dup": 0.1, "near_dup": 0.1, "low_quality": 0.1},
    )
    first = _verdicts(spark, staged, str(tmp_path / "one"))
    second = _verdicts(spark, staged, str(tmp_path / "two"))
    planted = {i: k for f in staged for i, k in zip(f["ids"], f["kinds"])}
    assert first == second == planted


def test_check_fails_on_a_wrong_expected_hash():
    df = pd.DataFrame({"k": [3, 1, 2], "v": ["c", "a", None], "x": [0.5, 1.5, 2.5]})
    right = oracle.result_hash(df)
    assert oracle.compare(df, right) is None
    # order-insensitive: the same rows in another order match
    assert oracle.compare(df.iloc[::-1].reset_index(drop=True), right) is None
    assert oracle.compare(df, "0" * 64) is not None
    changed = df.assign(x=[0.5, 1.5, 2.6])
    assert oracle.compare(changed, right) is not None


def test_sql_metric_values_parse_to_bytes_and_seconds():
    assert spans.metric_value("47.3 KiB") == pytest.approx(47.3 * 1024)
    assert spans.metric_value("899 ms") == pytest.approx(0.899)
    assert spans.metric_value("total (min, med, max (stageId: taskId))\n1.4 s (0.1 s, ...)") == 1.4
    assert spans.metric_value("1,024") == 1024.0
