"""URL hygiene for crawl curation (north-star extension; composes
with sources/warc.py's document bridge).

Everything here is native column expressions (``parse_url`` is a
Spark SQL builtin; normalization is a regexp chain inside whole-stage
codegen) except the two corpus-level operators, which are one-shuffle
DataFrame plans keyed on the host — the natural partition key for
site-scoped curation at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "url_host",
    "normalize_url",
    "host_cap",
    "host_cap_approx",
    "site_boilerplate_removal",
]

#: query parameters that never change content (tracking/session ids).
#: Deliberately NOT included: ``sid`` — on many sites it is a
#: content-SELECTING id (legacy forum/CGI "story id"), and stripping
#: it would collapse every article of such a site into one URL-dedup
#: key, discarding all but the min-id document.
TRACKING_PARAMS = (
    "utm_[a-z]+", "fbclid", "gclid", "msclkid", "mc_eid", "sessionid",
    "phpsessid",
)


def url_host(col: Column | str) -> Column:
    """Lower-cased host of a URL (NULL when unparseable — Spark 4's
    strict ``parse_url`` THROWS on bad input, so the try_ variant is
    the only crawl-safe choice)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.try_parse_url(c, F.lit("HOST")))


def normalize_url(col: Column | str) -> Column:
    """Canonical URL for dedup keys: lower-cased scheme+host, default
    ports stripped, fragment dropped, tracking query parameters
    removed (``utm_*`` and friends), trailing ``?``/``&`` tidied.

    A pure regexp/codegen chain — no UDF — so it runs inside the scan
    stage; two URLs differing only in tracking noise normalize to one
    key (the C4-style URL dedup key).
    """
    c = F.col(col) if isinstance(col, str) else col
    auth_re = r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"
    # lower-case ONLY scheme://host (paths are case-sensitive):
    # extract the authority prefix, lower it, re-attach the rest
    prefix = F.regexp_extract(c, auth_re, 1)
    rest = c.substr(F.length(prefix) + 1, F.length(c))
    u = F.concat(F.lower(prefix), rest)
    # strip default ports
    u = F.regexp_replace(u, r"^(https://[^/?#:]*):443([/?#]|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(http://[^/?#:]*):80([/?#]|$)", r"$1$2")
    # drop fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # drop tracking params INSIDE THE QUERY STRING ONLY: split at the
    # first '?', strip (?:^|&)param=value pairs from the query, tidy
    # separators, reassemble. The previous whole-URL regexes matched
    # '&param=' sequences in the PATH too, and their [^&#]* value
    # class could swallow the '?' plus the entire real query
    # ('/x&sid=5?q=1' collapsed to '/x'); a sole param with a trailing
    # '&' also left a dangling '?'. No lookarounds — the DuckDB twin
    # (queries/misc_q._URL_ORACLE_CHAIN) replays this chain under RE2.
    p = "|".join(TRACKING_PARAMS)
    base = F.regexp_extract(u, r"^([^?]*)", 1)
    query = u.substr(F.length(base) + 2, F.length(u))
    q = F.regexp_replace(query, rf"(?:^|&)(?:{p})=[^&]*", "")
    q = F.regexp_replace(q, r"&&+", "&")
    q = F.regexp_replace(q, r"^&+|&+$", "")
    return F.when(F.length(u) == F.length(base), u).otherwise(
        F.when(q == "", base).otherwise(F.concat(base, F.lit("?"), q))
    )


def host_cap(
    df: DataFrame,
    url_col: str,
    max_per_host: int,
    seed: str = "hostcap",
    hash_mode: str | None = None,
) -> DataFrame:
    """Keep at most ``max_per_host`` documents per host, chosen by a
    deterministic seeded hash order (not arrival order — a crawl
    frontier's ordering is an artifact, and hash order makes the kept
    subset reproducible across engines and reruns).

    One exchange keyed on the host; the window ranks
    ``(hash(seed|doc_id), doc_id)`` within each host partition. Per-host caps
    are the standard guard against a single boilerplate-heavy domain
    dominating the corpus (C4 and successors all apply one).
    """
    from pyspark.sql.window import Window

    from vbb_data_pipeline_spark.functions.hashing import (
        default_hash_mode,
        hash_long,
    )

    if hash_mode is None:
        hash_mode = default_hash_mode()
    h = hash_long(
        F.concat(F.lit(f"{seed}|"), F.col("doc_id").cast("string")), hash_mode
    )
    w = Window.partitionBy(url_host(url_col)).orderBy(
        h.asc(), F.col("doc_id").asc()
    )
    return (
        df.withColumn("_hc_rn", F.row_number().over(w))
        .filter(F.col("_hc_rn") <= max_per_host)
        .drop("_hc_rn")
    )


def host_cap_approx(
    df: DataFrame,
    url_col: str,
    max_per_host: int,
    seed: str = "hostcap",
    hash_mode: str | None = None,
) -> DataFrame:
    """Approximately ``max_per_host`` documents per host WITHOUT a
    per-host window — the skew-proof sibling of :func:`host_cap` for
    hosts that dominate a crawl.

    :func:`host_cap`'s ``row_number`` window is exact but puts every
    row of a host on ONE task; a mega-host holding 10% of a 100 TB
    crawl becomes a straggler, and AQE cannot split a window
    partition. This variant keeps a row iff its seeded hash falls
    below ``max_per_host / n_host`` of the hash space (under-cap
    hosts pass through exactly, over-cap hosts keep a Binomial(n, N/n)
    sample — expected N, spread ~±2√N):

    * one map-side-combinable ``count`` per host (a billion-copy host
      combines to one row per task);
    * one equi-join of the counts back on the host key — a JOIN, so
      AQE's skew-join splitting applies where a window could not be
      split;
    * one codegen threshold filter.

    Deterministic: the kept set is a pure function of (seed, id), so
    reruns, engines, and partitionings agree row-for-row. Use the
    exact window variant when the cap must be exact and hosts are
    bounded; use this at crawl scale. Documents are keyed by
    ``doc_id``.
    """
    from vbb_data_pipeline_spark.functions.hashing import (
        default_hash_mode,
        hash_long,
    )

    if hash_mode is None:
        hash_mode = default_hash_mode()
    # NULL hosts (unparseable URLs) must survive the counts equi-join —
    # NULL keys never match, so without this coalesce the approx
    # variant would silently DROP every unparseable-URL row while the
    # exact window variant groups them (window partitioning treats
    # NULL as one group). Coalesce to a sentinel containing NUL, which
    # no real host can contain, so both variants cap the NULL-host
    # group identically.
    host = F.coalesce(url_host(url_col), F.lit("\x00<no-host>"))
    counts = (
        df.select(host.alias("_hca_host"))
        .groupBy("_hca_host")
        .agg(F.count(F.lit(1)).alias("_hca_n"))
    )
    h = hash_long(
        F.concat(F.lit(f"{seed}|"), F.col("doc_id").cast("string")), hash_mode
    )
    # hash ranges differ by mode (md5_long is 60-bit, xxhash64 masked
    # is 63-bit); the LOW 52 bits are uniform in both, and 52 bits fit
    # a double exactly — keep iff low52/2^52 < N/n. Double comparison
    # is engine-identical (exact integers both sides of the divide);
    # boundary behavior is a pure function of (seed, id).
    frac = h.bitwiseAND(F.lit((1 << 52) - 1)).cast("double") / F.lit(
        float(1 << 52)
    )
    lim = F.lit(float(max_per_host)) / F.col("_hca_n")
    return (
        df.withColumn("_hca_host", host)
        .join(counts, "_hca_host")
        .filter(
            (F.col("_hca_n") <= F.lit(int(max_per_host))) | (frac < lim)
        )
        .drop("_hca_host", "_hca_n")
    )


def site_boilerplate_removal(
    df: DataFrame,
    url_col: str,
    min_docs: int = 3,
) -> DataFrame:
    """Remove lines of ``text`` that repeat across ≥ ``min_docs`` DISTINCT
    documents of the same host — per-site boilerplate (nav bars,
    footers, cookie banners) that survives document-level dedup
    because every page differs in its body.

    The site-scoped sibling of the C4 corpus-wide line dedup
    (``operators/dedup.line_dedup``): corpus-wide election removes a
    line EVERYWHERE but its first occurrence; this keeps body text
    intact and strips only what is provably site-furniture. Plan:
    lines explode map-side with positions, one ``(host, line-hash)``
    aggregate counts distinct docs (map-side combinable), flagged
    lines anti-join back, and each document reassembles with one
    groupBy — text never shuffles except as its own (doc, line) rows.
    Empty lines are always kept (they would count as boilerplate
    everywhere). Documents are keyed by ``doc_id``.
    """
    # NULL hosts coalesce to a sentinel (host_cap_approx's posture):
    # the aggregate groups NULL hosts together anyway, but the
    # anti-join below would never match a NULL=NULL key — flagged
    # boilerplate would survive for exactly the unparseable-host group
    host = F.coalesce(url_host(url_col), F.lit("\x00<no-host>"))
    lines = df.select(
        F.col("doc_id"),
        host.alias("_host"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("_ln", "_line"),
    ).withColumn("_lh", F.xxhash64("_line"))
    # The count-distinct and the anti-join key on the 8-byte line
    # HASH, never the line text: Spark plans count(distinct doc)
    # group by (host, line) as a first-level aggregate keyed on
    # (host, line, doc) — with string keys that partial map holds
    # essentially the partition's entire text. Measured failure (the
    # 20 GB crawl decade): zstd-dense shuffle blocks made AQE coalesce
    # the upstream URL-dedup exchange into ~2-3x fatter partitions,
    # and 32 concurrent string-keyed partial maps exhausted the
    # execution pool (UNABLE_TO_ACQUIRE_MEMORY at 0.5 GB/task) before
    # any could even allocate a spill sorter. Hashed keys are ~10x
    # smaller; flagging is identical absent a 64-bit same-host
    # collision (~lines²/2^64, negligible) — the jaccard_pairs hashed-
    # shingle posture, and the DuckDB oracles keep matching on text.
    flagged = (
        lines.filter(F.length("_line") >= 1)
        .groupBy("_host", "_lh")
        .agg(F.count_distinct(F.col("doc_id")).alias("_ndocs"))
        .filter(F.col("_ndocs") >= min_docs)
        .select("_host", "_lh")
    )
    kept = lines.join(flagged, ["_host", "_lh"], "left_anti")
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_ln", "_line"))
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("_new_text")
        )
    )
    # merge hint: this is a corpus-to-corpus join on the primary key —
    # broadcasting is never right however small the COMPRESSED shuffle
    # stats look. Measured failure mode (the 10 GB crawl decade): the
    # rebuilt side is extremely shuffle-compressible (boilerplate-heavy
    # pages), AQE's 64 MB compressed estimate admitted it as a
    # broadcast, and collecting the actual rows blew the 1 GB driver
    # result cap. Sort-merge is the shape a key-to-key corpus join
    # wants at any scale.
    # NULL text stays NULL (the doc produced no lines, so it has no
    # rebuilt row — coalescing it to '' would erase the extraction-
    # failed vs genuinely-empty distinction for a doc this function
    # had no business touching); '' is only for docs whose every line
    # was flagged
    return (
        df.join(rebuilt.hint("merge"), "doc_id", "left")
        .withColumn(
            "text",
            F.when(
                F.col("text").isNotNull(),
                F.coalesce(F.col("_new_text"), F.lit("")),
            ),
        )
        .drop("_new_text")
    )
