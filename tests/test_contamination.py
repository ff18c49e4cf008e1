"""Benchmark-decontamination operator vs a DuckDB oracle.

The oracle compares raw n-gram strings (no hashing), so it also
cross-checks that the hash-equality join in the operator neither
misses grams nor invents matches.
"""

from __future__ import annotations

import duckdb
import pytest

from vbb_data_pipeline_spark.operators.contamination import (
    contamination_report,
    decontaminate,
)
from vbb_data_pipeline_spark.queries import load_table

SF = "/root/testdata/sf0.001"
DOCS = f"read_parquet('{SF}/documents.parquet')"

TOK = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
GRAMS = (
    "list_transform(range(1, len(tk) - 1), i -> "
    "tk[i] || '_' || tk[i + 1] || '_' || tk[i + 2])"
)

ORACLE = f"""
WITH tkd AS (SELECT doc_id, {TOK} AS tk FROM {DOCS}),
eval_grams AS (
    SELECT DISTINCT g
    FROM (SELECT unnest({GRAMS}) AS g FROM tkd WHERE doc_id < 5)
),
doc_grams AS (
    SELECT DISTINCT doc_id, g
    FROM (SELECT doc_id, unnest({GRAMS}) AS g FROM tkd)
)
SELECT doc_id, count(*) AS n
FROM doc_grams JOIN eval_grams USING (g)
GROUP BY doc_id
HAVING count(*) >= {{min_matches}}
"""


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def eval_df(docs):
    # the "benchmark": five corpus documents verbatim — guaranteed hits
    return docs.filter("doc_id < 5").select("text")


def test_report_matches_duckdb(docs, eval_df):
    for min_matches in (1, 5):
        got = {
            (r.doc_id, r.n_contaminated_grams)
            for r in contamination_report(
                docs, eval_df, min_matches=min_matches, hash_mode="oracle"
            ).collect()
        }
        exp = set(
            duckdb.sql(ORACLE.format(min_matches=min_matches)).fetchall()
        )
        assert got == exp, f"min_matches={min_matches}"
        # the eval docs themselves must always be flagged
        assert {d for d, _ in got} >= set(range(5))


def test_decontaminate_drops_exactly_the_flagged(docs, eval_df):
    flagged = {
        r.doc_id
        for r in contamination_report(
            docs, eval_df, min_matches=5, hash_mode="oracle"
        ).collect()
    }
    clean = decontaminate(docs, eval_df, min_matches=5, hash_mode="oracle")
    kept = {r.doc_id for r in clean.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept == all_ids - flagged
    assert clean.columns == docs.columns  # wide schema untouched


def test_plan_broadcasts_eval_grams(docs, eval_df):
    plan = (
        contamination_report(docs, eval_df, hash_mode="fast")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan
