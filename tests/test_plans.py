"""Physical-plan hygiene (the 100 TB posture, SURVEY.md §7): filters
pushed to the parquet scan, dims broadcast, geo/similarity expressions
codegen-native, bounded shuffle counts."""

from __future__ import annotations

import pytest

from vbb_data_pipeline_spark.plans import (
    assert_broadcast_join,
    assert_pushed_filter,
    count_exchanges,
    formatted,
)
from vbb_data_pipeline_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reg():
    return all_queries()


def test_p3_filter_pushdown(spark, reg):
    df = reg["service_filters"].fn(spark, SF)
    assert_pushed_filter(df, "o_orderdate")


def test_j1_broadcasts_all_dims(spark, reg):
    df = reg["j1_dim_join_agg"].fn(spark, SF)
    assert_broadcast_join(df, min_count=3)
    # fact side aggregates after broadcast joins: exactly one shuffle
    # (the final groupBy) plus AQE reads — no join shuffles
    assert count_exchanges(df) <= 2


def test_q1_single_shuffle(spark, reg):
    df = reg["q1_pricing_summary"].fn(spark, SF)
    # partial agg → exchange → final agg: exactly one exchange
    assert count_exchanges(df) == 1


def test_column_pruning_reaches_scan(spark, reg):
    """A 3-column projection must not read the full lineitem schema."""
    df = reg["service_filters"].fn(spark, SF)
    plan = formatted(df)
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, plan
    assert "o_orderkey" in scan_lines[0]
    assert "o_orderpriority" not in scan_lines[0]  # pruned


def test_flagship_no_python_eval(spark, reg):
    df = reg["flagship_expand_events"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_dedup_minhash_bounded_exchanges(spark, reg):
    """MinHash+LSH pipeline: explode→agg→band-join→semi-join→re-rank —
    shuffle count must stay bounded (no accidental cartesian/resort
    cascades). Candidates are localCheckpoint-ed (computed once,
    lineage truncated), so the visible plan is the re-rank over the
    materialized candidate RDD."""
    from vbb_data_pipeline_spark.queries.dedup_q import dedup_minhash_lsh

    df = dedup_minhash_lsh(spark, SF)
    assert count_exchanges(df) <= 16


def test_q3_broadcast_and_pushdown(spark, reg):
    from vbb_data_pipeline_spark.queries.relational import q3_shipping_priority

    df = q3_shipping_priority(spark, SF)
    # filtered customer dim broadcasts; date filters reach both scans
    assert_broadcast_join(df, min_count=1)
    assert_pushed_filter(df, "l_shipdate")
    assert_pushed_filter(df, "o_orderdate")


def test_q5_single_wide_shuffle(spark, reg):
    from vbb_data_pipeline_spark.queries.relational import (
        q5_local_supplier_volume,
    )

    df = q5_local_supplier_volume(spark, SF)
    # all dims broadcast: lineitem⋈orders is the only join shuffle,
    # plus the final groupBy exchange (+AQE reads)
    assert_broadcast_join(df, min_count=4)
    assert count_exchanges(df) <= 3


def test_scalar_subquery_one_shuffle(spark, reg):
    """Decorrelated scalar subquery = one shuffle on the correlation
    key (window), not a per-row subquery."""
    from vbb_data_pipeline_spark.queries.relational import (
        scalar_subquery_filter,
    )

    df = scalar_subquery_filter(spark, SF)
    assert count_exchanges(df) == 1


def test_q6_scan_only_single_exchange(spark):
    """TPC-H Q6: every predicate pushes to the scan; the only exchange
    is the single-partition final aggregate."""
    from vbb_data_pipeline_spark.queries.relational import (
        q6_forecast_revenue,
    )

    df = q6_forecast_revenue(spark, SF)
    assert_pushed_filter(df, "l_shipdate")
    assert count_exchanges(df) <= 1
    plan = formatted(df)
    assert "BatchEvalPython" not in plan


def test_q21_no_cartesian_no_python(spark):
    """Q21's EXISTS/NOT-EXISTS decorrelation must stay equi-join
    (semi/anti on the order key with the supplier inequality as a
    join condition) — never a nested-loop or cartesian fallback."""
    from vbb_data_pipeline_spark.queries.relational import (
        q21_waiting_suppliers,
    )

    df = q21_waiting_suppliers(spark, SF)
    plan = formatted(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_partsupp_battery_dims_broadcast(spark):
    """Q2/Q16/Q20: supplier/nation/region/part dims broadcast; the
    derived partsupp aggregate and join-backs are the only wide
    exchanges."""
    from vbb_data_pipeline_spark.queries.relational import (
        q2_min_cost_supplier,
        q16_supplier_part_counts,
        q20_excess_stock_suppliers,
    )

    for fn, max_exch in (
        (q2_min_cost_supplier, 6),
        (q16_supplier_part_counts, 4),
        (q20_excess_stock_suppliers, 3),
    ):
        df = fn(spark, SF)
        assert_broadcast_join(df, min_count=2)
        assert count_exchanges(df) <= max_exch, fn.__name__
        plan = formatted(df)
        assert "CartesianProduct" not in plan, fn.__name__


def test_text_scoring_stays_native(spark, reg):
    """Quality scoring must stay in codegen (regexp_count), never
    fall back to Python or interpreted higher-order lambdas."""
    from vbb_data_pipeline_spark.queries.text_q import text_doc_profile

    df = text_doc_profile(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrayFilter" not in plan


def test_ivf_broadcasts_centroids(spark, reg):
    """IVF assignment/probe must broadcast centroids — the corpus
    side never shuffles for the scoring joins."""
    from vbb_data_pipeline_spark.queries.similarity_q import sim_ivf_topk

    df = sim_ivf_topk(spark, SF)
    assert_broadcast_join(df, min_count=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_asof_one_shuffle_per_direction(spark, reg):
    """Each as-of direction = union + one window shuffle on user_id;
    two directions tagged-union → bounded exchange count, no range
    explosion, no Python."""
    df = reg["asof_purchase_context"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert count_exchanges(df) <= 6


def test_range_join_is_broadcast_hash(spark, reg):
    """The interval join must plan as a broadcast hash join on the
    bucket key — never BroadcastNestedLoopJoin."""
    df = reg["range_join_value_bands"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert_broadcast_join(df, min_count=1)


def test_grouping_analytics_uses_expand(spark, reg):
    """rollup/cube/grouping-sets each plan one Expand + one shuffle —
    all groupings in a single pass per variant, not a union of
    re-aggregations per grouping."""
    df = reg["grouping_analytics"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") >= 3


def test_multimodal_single_arrow_stage(spark, reg):
    """Decode = exactly one Arrow-batched Python stage, no
    row-at-a-time Python, no shuffle before it."""
    df = reg["multimodal_decode"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_salted_agg_two_shuffles(spark, reg):
    """Salted aggregation = partial (key, salt) shuffle + final key
    shuffle; anything more means the salting collapsed."""
    df = reg["salted_skew_agg"].fn(spark, SF)
    assert count_exchanges(df) <= 2


def test_dedup_clusters_edges_use_lsh_not_allpairs(spark, reg):
    """r4 regression guard: dedup_clusters' edge generation must ride
    the MinHash-LSH banded bucket join, NOT the (lang, source)-blocked
    all-pairs Jaccard join — the sf1 scale bench measured the latter
    at ~40x per 10x docs (PERF.md §scale, commit 0d52956). CC
    localCheckpoints its input, so assert on the EDGE frame the query
    builds, replicated here from the registry construction."""
    from vbb_data_pipeline_spark.queries.dedup_q import dedup_clusters

    df = dedup_clusters(spark, SF)
    plan = df._jdf.queryExecution().analyzed().toString()
    # the old quadratic construction equi-joined on the blocking
    # columns; the LSH path never touches them
    assert "lang" not in plan and "source" not in plan
    # candidates + CC labels arrive as localCheckpoint-ed RDDs (the
    # banding lineage is truncated by design — computed once)
    assert "LogicalRDD" in plan


def test_span_removal_bounded_exchanges_no_python(spark):
    """span_removal: stride-1 hash explode → two map-side-combinable
    aggs → stats join → covered-index union → one id-keyed join back.
    Exchanges stay bounded; no Python stage; no cartesian."""
    from vbb_data_pipeline_spark.operators.dedup import span_removal
    from vbb_data_pipeline_spark.queries import load_table

    d = load_table(spark, SF, "documents")
    df = span_removal(d, "text", "doc_id", window=15)
    assert count_exchanges(df) <= 8
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_q7_all_dims_broadcast(spark, reg):
    """Q7 joins 4 dims (supplier, customer, nation x2): all broadcast;
    the only wide exchanges are lineitem⋈orders + the tiny rollup."""
    from vbb_data_pipeline_spark.queries.relational import q7_volume_shipping

    df = q7_volume_shipping(spark, SF)
    assert_broadcast_join(df, min_count=4)
    assert_pushed_filter(df, "l_shipdate")
    assert count_exchanges(df) <= 3


def test_q10_topk_no_global_sort(spark, reg):
    """Q10's top-20 must compile to TakeOrderedAndProject, never a
    full Exchange+Sort of the aggregate output."""
    from vbb_data_pipeline_spark.queries.relational import q10_returned_items

    df = q10_returned_items(spark, SF)
    plan = formatted(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert_pushed_filter(df, "l_returnflag")
    assert_broadcast_join(df, min_count=2)


def test_q15_max_rides_broadcast(spark, reg):
    """Q15's MAX scalar must come back as a broadcast single-row join
    (BroadcastNestedLoopJoin), not a driver collect or a sort."""
    from vbb_data_pipeline_spark.queries.relational import q15_top_supplier

    df = q15_top_supplier(spark, SF)
    plan = formatted(df)
    # the MAX scalar arrives via a broadcast cross join (hash or NLJ
    # depending on the build side Spark picks) — never a collect
    assert "BroadcastHashJoin Cross" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "Sort" not in plan or "TakeOrdered" in plan  # no global sort


def test_q22_anti_join_shape(spark, reg):
    """Q22: NOT EXISTS compiles to a LeftAnti join; the global average
    is a broadcast single-row aggregate."""
    from vbb_data_pipeline_spark.queries.relational import q22_idle_customers

    df = q22_idle_customers(spark, SF)
    plan = formatted(df)
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_packing_plan_single_exchange_no_python(spark, reg):
    """pack_sequences: ONE shard-keyed exchange feeds both the
    row_number and the prefix-sum window (same partitioning reused —
    no second shuffle), and every derived column is codegen-native."""
    from vbb_data_pipeline_spark.queries.misc_q import export_packing_plan

    df = export_packing_plan(spark, SF)
    assert count_exchanges(df) == 1
    plan = formatted(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan


def test_capture_plans_normalizes_session_counters():
    """tools/capture_plans.py writes plans with the session counters
    (expression ids, exchange plan ids, checkpoint RDD ids) replaced,
    and leaves every other character alone (Spark-free)."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "tools" / "capture_plans.py"
    spec = importlib.util.spec_from_file_location("capture_plans", path)
    capture_plans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(capture_plans)
    normalize_plan = capture_plans.normalize_plan

    a = (
        "(3) Exchange\nArguments: hashpartitioning(doc_id#12L, 8), "
        "ENSURE_REQUIREMENTS, [plan_id=41]\n"
        "(1) Scan ExistingRDD\nOutput [2]: [doc_id#12L, text#13]\n"
        "Arguments: [doc_id#12L, text#13], MapPartitionsRDD[107] at "
        "localCheckpoint\n"
    )
    b = (
        "(3) Exchange\nArguments: hashpartitioning(doc_id#903L, 8), "
        "ENSURE_REQUIREMENTS, [plan_id=7]\n"
        "(1) Scan ExistingRDD\nOutput [2]: [doc_id#903L, text#904]\n"
        "Arguments: [doc_id#903L, text#904], MapPartitionsRDD[5] at "
        "localCheckpoint\n"
    )
    assert normalize_plan(a) == normalize_plan(b)
    assert normalize_plan(a) == (
        "(3) Exchange\nArguments: hashpartitioning(doc_id#NL, 8), "
        "ENSURE_REQUIREMENTS, [plan_id=N]\n"
        "(1) Scan ExistingRDD\nOutput [2]: [doc_id#NL, text#N]\n"
        "Arguments: [doc_id#NL, text#N], MapPartitionsRDD[N] at "
        "localCheckpoint\n"
    )
    # operator numbers, counts and literals are plan content, not counters
    other = "(4) Project\nOutput [2]: [x#1, 8]\nconcat_ws(#, a)\n"
    assert normalize_plan(other) == "(4) Project\nOutput [2]: [x#N, 8]\nconcat_ws(#, a)\n"
