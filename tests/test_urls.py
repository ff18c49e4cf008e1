"""URL hygiene toolkit (functions/urls.py): normalization cases,
host extraction, deterministic per-host caps, and per-site
boilerplate line removal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.functions.urls import (
    host_cap,
    normalize_url,
    site_boilerplate_removal,
    url_host,
)


def _norm(spark, url):
    df = spark.createDataFrame([(url,)], "u string")
    return df.select(normalize_url("u").alias("n")).collect()[0]["n"]


CASES = [
    # scheme+host lower, path case preserved
    ("HTTPS://ExAmPlE.com/Path/File.HTML", "https://example.com/Path/File.HTML"),
    # default ports stripped, non-default kept
    ("https://example.com:443/x", "https://example.com/x"),
    ("http://example.com:80/x", "http://example.com/x"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    # fragment dropped
    ("https://a.com/p#section-2", "https://a.com/p"),
    # tracking params removed in every position
    ("https://a.com/p?utm_source=x", "https://a.com/p"),
    ("https://a.com/p?utm_source=x&id=7", "https://a.com/p?id=7"),
    ("https://a.com/p?id=7&utm_medium=m", "https://a.com/p?id=7"),
    ("https://a.com/p?utm_a=1&utm_b=2", "https://a.com/p"),
    ("https://a.com/p?utm_a=1&fbclid=z&id=7&gclid=q", "https://a.com/p?id=7"),
    # real params untouched
    ("https://a.com/p?q=utm_source", "https://a.com/p?q=utm_source"),
    # port stripping only applies to the authority, not the path
    ("https://a.com/x:443/y", "https://a.com/x:443/y"),
]


@pytest.mark.parametrize("url,want", CASES)
def test_normalize_cases(spark, url, want):
    assert _norm(spark, url) == want


def test_url_host(spark):
    df = spark.createDataFrame(
        [("https://WWW.Example.COM:8080/a?b=1",), ("not a url",)],
        "u string",
    )
    got = [r["h"] for r in df.select(url_host("u").alias("h")).collect()]
    assert got[0] == "www.example.com"
    assert got[1] is None


def test_host_cap_deterministic_and_capped(spark):
    rows = [
        (i, f"https://big.example/page{i}") for i in range(20)
    ] + [(100, "https://small.example/only")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    a = sorted(r["doc_id"] for r in host_cap(df, "url", 5).collect())
    b = sorted(
        r["doc_id"]
        for r in host_cap(df.repartition(7), "url", 5).collect()
    )
    assert a == b  # partitioning-invariant
    assert len(a) == 6 and 100 in a  # 5 capped + the small host
    # a different seed may keep a different 5 — still exactly 5
    c = host_cap(df, "url", 5, seed="other").collect()
    assert len(c) == 6


def test_site_boilerplate_removed_body_kept(spark):
    nav = "Home | About | Contact"
    cookie = "We use cookies to improve your experience"
    rows = [
        (i, f"https://site-a.com/p{i}", f"{nav}\nArticle body {i}\n{cookie}")
        for i in range(4)
    ] + [
        # same furniture text on ANOTHER host, below its min_docs
        (50, "https://site-b.com/x", f"{nav}\nDifferent body\nUnique footer"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in site_boilerplate_removal(
            df, "url", min_docs=3
        ).collect()
    }
    for i in range(4):
        assert out[i] == f"Article body {i}"  # furniture stripped
    # site-b keeps everything: its lines never hit min_docs there
    assert out[50] == f"{nav}\nDifferent body\nUnique footer"


def test_boilerplate_counts_distinct_docs_not_occurrences(spark):
    # one doc repeating a line 5 times must NOT make it boilerplate
    rows = [
        (1, "https://h.com/a", "echo\necho\necho\necho\necho\nbody one"),
        (2, "https://h.com/b", "body two"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in site_boilerplate_removal(df, "url", min_docs=3).collect()
    }
    assert "echo" in out[1] and out[2] == "body two"


def test_boilerplate_empty_doc_survives(spark):
    rows = [(1, "https://h.com/a", "")]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = site_boilerplate_removal(df, "url", min_docs=2).collect()
    assert len(out) == 1 and out[0]["text"] == ""


def test_boilerplate_aggregates_on_line_hash_not_text(spark):
    """Plan-shape pin for the 20 GB-decade OOM fix: the count-distinct
    partial map must key on xxhash64(line), never the line string —
    string keys make the map hold the partition's whole text, and
    zstd-dense AQE coalescing blew the execution pool at 0.5 GB/task
    (CRAWL_E2E.json, round 8). Asserted on the optimized plan: every
    Aggregate groups on the hash column, none on a raw line string."""
    rows = [(1, "https://h.com/a", "nav\nbody")]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = site_boilerplate_removal(df, "url", min_docs=2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    agg_lines = [
        ln for ln in plan.splitlines() if ln.lstrip().startswith("+- Aggregate")
        or ln.lstrip().startswith("Aggregate")
    ]
    flag_aggs = [ln for ln in agg_lines if "_ndocs" in ln]
    assert flag_aggs, f"boilerplate count aggregate not found in:\n{plan}"
    for ln in flag_aggs:
        assert "xxhash64" in ln or "_lh" in ln, ln
        assert "_line#" not in ln.split("[", 1)[1].split("]", 1)[0], ln


# ------------------------------------------------------ host_cap_approx


def test_host_cap_approx_under_cap_exact_passthrough(spark):
    from vbb_data_pipeline_spark.functions.urls import host_cap_approx

    rows = [(i, f"https://small.com/{i}", "t") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = host_cap_approx(df, "url", 10, hash_mode="oracle").collect()
    assert len(out) == 5  # below the cap: every row survives


def test_host_cap_approx_binomial_bound_and_determinism(spark):
    from vbb_data_pipeline_spark.functions.urls import host_cap_approx

    n, cap = 2000, 100
    rows = [(i, f"https://mega.com/{i}", "t") for i in range(n)] + [
        (10_000 + i, f"https://tiny.com/{i}", "t") for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    kept = sorted(
        r["doc_id"]
        for r in host_cap_approx(df, "url", cap, hash_mode="oracle").collect()
    )
    mega = [i for i in kept if i < 10_000]
    # Binomial(2000, 0.05): mean 100, sd ~9.7 — 5 sd covers any seed
    assert cap - 50 <= len(mega) <= cap + 50
    assert sum(1 for i in kept if i >= 10_000) == 3  # tiny passes whole
    # deterministic under repartitioning (pure function of seed|id)
    kept2 = sorted(
        r["doc_id"]
        for r in host_cap_approx(
            df.repartition(13), "url", cap, hash_mode="oracle"
        ).collect()
    )
    assert kept == kept2


def test_host_cap_approx_no_window_in_plan(spark):
    """The scale rationale: no per-host window (AQE can split a
    skewed JOIN partition, never a window partition)."""
    from vbb_data_pipeline_spark.functions.urls import host_cap_approx

    df = spark.createDataFrame(
        [(1, "https://h.com/a", "t")], "doc_id long, url string, text string"
    )
    plan = (
        host_cap_approx(df, "url", 3, hash_mode="fast")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan


def test_normalize_url_query_anchored(spark):
    """Tracking-param removal operates on the QUERY only: '&param='
    sequences in the PATH survive, a sole param with a trailing '&'
    leaves no dangling '?', and content-selecting 'sid' is not
    stripped at all."""
    from vbb_data_pipeline_spark.functions.urls import normalize_url

    cases = [
        # path-embedded '&utm_a=': untouched, real query kept
        ("https://a.com/x&utm_a=5?q=1", "https://a.com/x&utm_a=5?q=1"),
        # sole tracking param with trailing '&': no dangling '?'
        ("https://a.com/p?utm_source=x&", "https://a.com/p"),
        # 'sid' selects content on many sites — must survive
        ("https://a.com/article.pl?sid=123", "https://a.com/article.pl?sid=123"),
        # normal strip still works, separators tidied
        ("https://a.com/p?utm_a=1&q=2&fbclid=z", "https://a.com/p?q=2"),
        ("https://a.com/p?utm_a=1", "https://a.com/p"),
        ("https://a.com/p?", "https://a.com/p"),
        ("https://a.com/p", "https://a.com/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["n"] for r in df.select(normalize_url("url").alias("n")).collect()]
    assert got == [want for _, want in cases]


def test_boilerplate_null_host_and_null_text(spark):
    """NULL-host docs participate in boilerplate removal (sentinel
    host group), and NULL-text docs keep their NULL instead of being
    rewritten to ''."""
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.functions.urls import site_boilerplate_removal

    rows = [
        (1, "nav bar here\nreal content one", None),
        (2, "nav bar here\nreal content two", None),
        (3, "nav bar here\nreal content three", None),
        (4, None, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    out = {
        r["doc_id"]: r["text"]
        for r in site_boilerplate_removal(
            df, "url", min_docs=3
        ).collect()
    }
    assert out[4] is None
    for i in (1, 2, 3):
        assert "nav bar here" not in out[i]
        assert "real content" in out[i]
