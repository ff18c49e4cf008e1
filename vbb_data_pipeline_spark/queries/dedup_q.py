"""Deduplication queries over the documents corpus (north-star
extension; operators/dedup.py), each verified against a DuckDB oracle
that reproduces the identical hash pipeline (md5-derived 60-bit ints,
functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.functions.hashing import (
    default_hash_mode,
    md5_long_pair_sql,
    md5_long_sql,
)
from vbb_data_pipeline_spark.functions.literals import literal_rows_df
from vbb_data_pipeline_spark.operators import dedup as dd
from vbb_data_pipeline_spark.queries import (
    load_table,
    register,
    tag_union,
    tag_union_sql,
)

#: DuckDB fragment: lower-cased alphanumeric tokens (functions/text.tokens twin)
TOK_SQL = "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), x -> x <> '')"

#: DuckDB fragment: word 3-gram shingles of a token list column `tk`
SHINGLE_SQL = (
    "list_transform(range(1, greatest(len(tk) - 2, 0) + 1), "
    "i -> tk[i] || '_' || tk[i+1] || '_' || tk[i+2])"
)

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS

# ---------------------------------------------------------------------------
# Adversarial gate rows (round 9): the r8 self-review found 41 defects
# the 50-query oracle gate missed because the gate data carries no
# NULL text, zero-token docs, or intra-/cross-doc duplicate lines.
# These planted rows put those classes INSIDE the driver's DuckDB
# hash-compare, built identically in both engines (literal union).
# ---------------------------------------------------------------------------

#: (doc_id, text): NULL text, empty text, zero-token (fully-CJK /
#: punctuation-only) docs, and an exact CJK duplicate pair — NULL
#: fingerprints must group consistently, never collapse with content.
ADV_DOCS = [
    (9_900_001, None),
    (9_900_002, ""),
    (9_900_003, "你好世界"),
    (9_900_004, "!!! ??? ..."),
    (9_900_005, "你好世界"),
]

ADV_DOCS_SQL = (
    "SELECT * FROM (VALUES "
    "(CAST(9900001 AS BIGINT), CAST(NULL AS VARCHAR)), "
    "(9900002, ''), "
    "(9900003, '你好世界'), "
    "(9900004, '!!! ??? ...'), "
    "(9900005, '你好世界')"
    ") t(doc_id, text)"
)

#: (doc_id, text, source) for the line-dedup legs: NULL text, empty
#: text, a doc whose line repeats WITHIN itself plus cross-doc, and a
#: 4-doc host (bumps against the host cap). Newlines give the corpus
#: leg real multi-line structure the parquet fixtures don't have.
ADV_LINE_DOCS = [
    (9_900_001, None, "zadv"),
    (9_900_002, "", "zadv"),
    (
        9_900_003,
        "shared boilerplate line\nshared boilerplate line\nunique tail three",
        "zadv",
    ),
    (9_900_004, "shared boilerplate line\nsecond unique line here", "zadv"),
]

ADV_LINE_DOCS_SQL = (
    "SELECT * FROM (VALUES "
    "(CAST(9900001 AS BIGINT), CAST(NULL AS VARCHAR), 'zadv'), "
    "(9900002, '', 'zadv'), "
    "(9900003, 'shared boilerplate line' || chr(10) || "
    "'shared boilerplate line' || chr(10) || 'unique tail three', 'zadv'), "
    "(9900004, 'shared boilerplate line' || chr(10) || "
    "'second unique line here', 'zadv')"
    ") t(doc_id, text, source)"
)


def _shadow_documents(oracle: str, adv_sql: str, cols: str) -> str:
    """Prepend a CTE named ``documents`` (CTE names shadow base tables
    in DuckDB) unioning the adversarial literals into the gate input —
    the one-line way to retrofit every leg of an existing oracle."""
    head = f"WITH documents AS (SELECT {cols} FROM main.documents UNION ALL {adv_sql}), "
    stripped = oracle.lstrip()
    assert stripped.startswith("WITH "), "oracle must start with WITH"
    return head + stripped[len("WITH "):]


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy) + fingerprint dedup (sorted token set)
# ---------------------------------------------------------------------------
# SimHash (16-bit) per document
# ---------------------------------------------------------------------------
def _simhash_oracle(bits: int = 16) -> str:
    h = md5_long_sql("t")
    sums = ",\n               ".join(
        f"sum((({h} >> {b}) & 1) * 2 - 1) AS s{b}" for b in range(bits)
    )
    value = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({TOK_SQL.format(c="text")}) AS t FROM documents
    ),
    bitsums AS (
        SELECT doc_id,
               {sums}
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id, CAST({value} AS BIGINT) AS simhash
    FROM bitsums
    """

# ---------------------------------------------------------------------------
@register(
    "dedup_exact_fingerprint",
    oracle=f"""
    WITH documents AS (
        SELECT doc_id, text FROM main.documents UNION ALL {ADV_DOCS_SQL}
    )
    SELECT 'exact' AS method,
           md5(text) AS group_key,
           min(doc_id) AS keep_id,
           count(*)    AS n_docs
    FROM documents
    GROUP BY md5(text)
    UNION ALL
    SELECT 'fingerprint',
           CASE WHEN len(tk) > 0 THEN md5(array_to_string(list_sort(list_distinct(tk)), ' ')) END,
           min(doc_id),
           count(*)
    FROM (
        SELECT doc_id, {TOK_SQL.format(c="text")} AS tk FROM documents
    )
    GROUP BY 2
    UNION ALL
    SELECT 'simhash',
           CAST(simhash AS VARCHAR),
           min(doc_id),
           count(*)
    FROM ({_simhash_oracle()})
    GROUP BY 2
    """,
    survey="extension: exact dedup (hash-groupBy keep-first; reference "
    "idempotency analog: ON CONFLICT DO NOTHING, utils/__init__.py:"
    "55-56) + extension: near-exact dedup on sorted-token-set "
    "fingerprint (functions/text.fingerprint) + extension: SimHash "
    "(Charikar) 16-bit sketch collision groups (folded r4; per-doc "
    "sketch construction unchanged, operators/dedup.simhash) — tagged "
    "union; all three are one-shuffle hash aggregations whose wide "
    "columns never move",
    note="simhash leg: docs with zero tokens drop out in both engines; "
    "adversarial rows (NULL/empty/zero-token text, exact CJK dup pair) "
    "planted identically in both engines — NULL fingerprints group "
    "together but never merge with content groups (round 9)",
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.functions.text import fingerprint

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            literal_rows_df(spark, ADV_DOCS, "doc_id long, text string")
        )
    )
    exact = d.groupBy(F.md5("text").alias("group_key")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs")
    )
    fp = d.groupBy(fingerprint("text").alias("group_key")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs")
    )
    sh = (
        _simhash_docs(d)
        .groupBy(F.col("simhash").cast("string").alias("group_key"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    tag = lambda df, m: df.select(  # noqa: E731
        F.lit(m).alias("method"), "group_key", "keep_id", "n_docs"
    )
    return (
        tag(exact, "exact")
        .unionByName(tag(fp, "fingerprint"))
        .unionByName(tag(sh, "simhash"))
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding + exact Jaccard re-rank
# ---------------------------------------------------------------------------
def _minhash_oracle() -> str:
    from vbb_data_pipeline_spark.operators.dedup import MINHASH_MOD

    m = MINHASH_MOD
    mins = ",\n               ".join(
        f"min((h1 + {i} * h2) % {m}) AS mh_{i}" for i in range(NUM_HASHES)
    )
    bands = ", ".join(
        "md5(concat_ws('_', '{b}', {parts}))".format(
            b=b,
            parts=", ".join(
                f"mh_{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(BANDS)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, {TOK_SQL.format(c="text")} AS tk FROM documents
    ),
    shingles AS (
        SELECT doc_id, unnest(list_distinct({SHINGLE_SQL})) AS sh FROM toks
    ),
    hashed AS (
        SELECT doc_id,
               {md5_long_pair_sql('sh')[0]} % {m} AS h1,
               {md5_long_pair_sql('sh')[1]} % {m} AS h2
        FROM shingles
    ),
    sigs AS (
        SELECT doc_id,
               {mins}
        FROM hashed GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, unnest([{bands}]) AS bucket FROM sigs
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b USING (bucket)
        WHERE a.doc_id < b.doc_id
    ),
    sets AS (
        SELECT doc_id, list_distinct({SHINGLE_SQL}) AS s FROM toks
    )
    SELECT p.id_a, p.id_b,
           round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / greatest(len(list_distinct(sa.s || sb.s)), 1), 6) AS jaccard
    FROM pairs p
    JOIN sets sa ON sa.doc_id = p.id_a
    JOIN sets sb ON sb.doc_id = p.id_b
    """


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash_mode: "oracle" under driver verification (md5 = DuckDB
    # parity); tools/bench_scale.py flips SPARK_GRAFT_FAST_HASH=1 for
    # the production xxhash64 path (same plan shape, ~no hex
    # round-trips).
    mode = default_hash_mode()
    d = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(
        d, "text", "doc_id", num_hashes=NUM_HASHES, shingle_n=3, hash_mode=mode
    )
    pairs = dd.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=NUM_HASHES, bands=BANDS, hash_mode=mode
    )
    return dd.jaccard_pairs(d, pairs, "text", "doc_id")




def _simhash_docs(d: DataFrame) -> DataFrame:
    """Per-doc 16-bit SimHash (Charikar) — the sketch behind the
    dedup_exact_fingerprint 'simhash' leg (folded r4; the collision
    GROUPS are what dedup consumes — near-dups = small hamming
    distance on these values, pytest-covered in test_hygiene)."""
    # inner explode → empty docs drop, matching the oracle's unnest
    from vbb_data_pipeline_spark.functions.hashing import hash_long
    from vbb_data_pipeline_spark.functions.text import tokens

    tok = d.select(F.col("doc_id"), F.explode(tokens("text")).alias("_t"))
    h = hash_long(F.col("_t"), default_hash_mode())
    bit_sums = [
        F.sum(F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"_s{b}")
        for b in range(16)
    ]
    summed = tok.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(16):
        term = F.when(F.col(f"_s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return summed.select("doc_id", sim.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup within (lang, source) blocks
# ---------------------------------------------------------------------------
_NGRAM_JACCARD_ORACLE = f"""
    WITH sets AS (
        SELECT doc_id, lang, source, list_distinct({TOK_SQL.format(c="text")}) AS s
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / greatest(len(list_distinct(a.s || b.s)), 1), 6) AS jaccard
    FROM sets a JOIN sets b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / greatest(len(list_distinct(a.s || b.s)), 1) > 0.5
    """


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    sets_df = d.select(
        "doc_id", "lang", "source", F.array_distinct(tokens("text")).alias("s")
    )
    a = sets_df.alias("a")
    b = sets_df.alias("b")
    jac = F.size(F.array_intersect("a.s", "b.s")) / F.greatest(
        F.size(F.array_union("a.s", "b.s")), F.lit(1)
    )
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac > 0.5)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@register(
    "dedup_pairs_battery",
    oracle=tag_union_sql(
        [
            ("minhash_lsh", _minhash_oracle()),
            ("ngram_jaccard", _NGRAM_JACCARD_ORACLE),
        ],
        tag="method",
    ),
    survey="extension: near-dup candidate-pair family (folded r5 so "
    "each method keeps a driver CORRECTNESS row) — [minhash_lsh] "
    "MinHash({} perms) + LSH banding ({}×{}) candidate pairs with "
    "exact-Jaccard re-rank, the linear-cost 100 TB near-dup path "
    "(no O(n²) stage); [ngram_jaccard] token-set Jaccard with "
    "(lang, source) blocking — the explicitly-documented "
    "small-corpus baseline whose unblocked scale path is the "
    "minhash leg".format(NUM_HASHES, BANDS, ROWS_PER_BAND),
    note="docs with <3 tokens have no shingles and drop out of the "
    "minhash leg in both engines",
)
def dedup_pairs_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tag_union(
        [
            ("minhash_lsh", dedup_minhash_lsh(spark, sf_dir)),
            ("ngram_jaccard", dedup_ngram_jaccard(spark, sf_dir)),
        ],
        tag="method",
    )


# ---------------------------------------------------------------------------
# Corpus-wide line dedup (C4) — promoted from pytest-only to the oracle
# gate in r4 (slot freed by folding simhash into exact_fingerprint)
# ---------------------------------------------------------------------------
LINE_MIN_CHARS = 6


_CORPUS_LINE_ORACLE = f"""
    WITH lines AS (
        SELECT doc_id,
               CAST(generate_subscripts(parts, 1) - 1 AS BIGINT) AS line_no,
               unnest(parts) AS line
        FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
              FROM documents)
    ),
    winners AS (
        SELECT doc_id, line_no FROM (
            SELECT *, row_number() OVER (
                PARTITION BY line ORDER BY doc_id, line_no
            ) AS rn
            FROM lines WHERE length(line) >= {LINE_MIN_CHARS}
        ) WHERE rn = 1
    ),
    keep AS (
        SELECT l.* FROM lines l SEMI JOIN winners w
          ON l.doc_id = w.doc_id AND l.line_no = w.line_no
        UNION ALL
        SELECT * FROM lines WHERE length(line) < {LINE_MIN_CHARS}
    ),
    rebuilt AS (
        SELECT doc_id,
               string_agg(line, chr(10) ORDER BY line_no) AS text
        FROM keep GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(r.text, '') AS text
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN rebuilt r USING (doc_id)
    """

#: synthetic per-document crawl URL, built identically in both engines
#: (documents has no URL column; source is the natural host key)
_DOC_URL_SQL = "'http://' || source || '.example/p/' || CAST(doc_id AS VARCHAR)"

_SITE_BOILER_ORACLE = """
    WITH docs AS (
        SELECT doc_id, source || '.example' AS host,
               regexp_replace(text, ' ', chr(10), 'g') AS t
        FROM documents
    ),
    lines AS (
        SELECT doc_id, host,
               CAST(generate_subscripts(parts, 1) - 1 AS BIGINT) AS ln,
               unnest(parts) AS line
        FROM (SELECT doc_id, host, string_split(t, chr(10)) AS parts
              FROM docs)
    ),
    flagged AS (
        SELECT host, line FROM (
            SELECT host, line, count(DISTINCT doc_id) AS nd
            FROM lines WHERE length(line) >= 1
            GROUP BY host, line
        ) WHERE nd >= 3
    ),
    keep AS (
        SELECT l.* FROM lines l ANTI JOIN flagged f
          ON l.host = f.host AND l.line = f.line
    ),
    rebuilt AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY ln) AS text
        FROM keep GROUP BY doc_id
    )
    -- NULL text stays NULL (no content evidence is not the same as a
    -- doc whose every line was boilerplate); '' only for the latter
    SELECT d.doc_id,
           CASE WHEN d.t IS NULL THEN NULL
                ELSE coalesce(r.text, '') END AS text
    FROM docs d
    LEFT JOIN rebuilt r USING (doc_id)
    """

_HOST_CAP_ORACLE = f"""
    WITH docs AS (
        SELECT doc_id, source || '.example' AS host,
               {_DOC_URL_SQL} AS url,
               CAST('0x' || substr(md5('e6cap|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        FROM documents
    )
    SELECT doc_id, url AS text FROM (
        SELECT *, row_number() OVER (
            PARTITION BY host ORDER BY h, doc_id
        ) AS rn FROM docs
    ) WHERE rn <= 3
    """

#: host key for the approx-cap leg: every 4th doc piles onto ONE
#: mega-host (125 of 500 docs at the gate SF) so the binomial branch
#: engages; the 20 source hosts drop to <=19 docs and pass through
#: the n<=cap branch exactly. Replayed identically in both engines.
_APPROX_HOST_SQL = (
    "CASE WHEN doc_id % 4 = 0 THEN 'mega' ELSE source END"
)
HOST_CAP_APPROX_N = 20

# frac < cap/n replay: md5_long is 60-bit; the low 52 bits
# (h % 2^52 == h & (2^52-1) for h >= 0) cast to DOUBLE are exact, and
# both divisions are IEEE-correctly-rounded over exact operands, so
# the kept set is engine-identical (see functions/urls.host_cap_approx)
_HOST_CAP_APPROX_ORACLE = f"""
    WITH docs AS (
        SELECT doc_id,
               {_APPROX_HOST_SQL} AS host,
               'http://' || {_APPROX_HOST_SQL}
                   || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
               CAST('0x' || substr(md5('e6capx|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        FROM documents
    ),
    counts AS (SELECT host, count(*) AS n FROM docs GROUP BY host)
    SELECT doc_id, url AS text
    FROM docs JOIN counts USING (host)
    WHERE n <= {HOST_CAP_APPROX_N}
       OR CAST(h % 4503599627370496 AS DOUBLE) / 4503599627370496.0
          < CAST({HOST_CAP_APPROX_N} AS DOUBLE) / n
    """


@register(
    "line_dedup_corpus",
    oracle=tag_union_sql(
        [
            (
                tag,
                _shadow_documents(
                    leg, ADV_LINE_DOCS_SQL, "doc_id, text, source"
                ),
            )
            for tag, leg in [
                ("corpus_line", _CORPUS_LINE_ORACLE),
                ("site_boilerplate", _SITE_BOILER_ORACLE),
                ("host_cap", _HOST_CAP_ORACLE),
                ("host_cap_approx", _HOST_CAP_APPROX_ORACLE),
            ]
        ],
        tag="variant",
    ),
    survey="extension: corpus-WIDE line-level dedup (C4, Raffel et al. "
    "2020 §2.2) — every line kept only at its first (doc_id, line_no) "
    "occurrence; winner election is a map-side-combinable min(struct) "
    "on the line hash, so a billion-copy boilerplate line combines to "
    "one row per task (never a windowed sort) + ext: site-scoped "
    "boilerplate removal (functions/urls.site_boilerplate_removal — "
    "lines repeating across >=3 distinct docs of the SAME host "
    "stripped, body text kept; folded r5) + ext: per-host document "
    "cap (functions/urls.host_cap — seeded-md5 top-3 per host, the "
    "C4 single-domain guard; folded r5) + ext: windowless approx "
    "host cap (functions/urls.host_cap_approx — count-join-threshold "
    "binomial cap on a synthetic mega-host, the AQE-splittable "
    "mega-host path; folded r5)",
    note="lines shorter than {} chars pass through the corpus leg; "
    "the site legs derive host/url from the source column "
    "(documents has no URL) and the boilerplate leg lineates text by "
    "space->newline so line structure exists in both engines".format(
        LINE_MIN_CHARS
    ),
)
def line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.functions.urls import (
        host_cap,
        host_cap_approx,
        site_boilerplate_removal,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "source")
        .unionByName(
            literal_rows_df(
                spark, ADV_LINE_DOCS, "doc_id long, text string, source string"
            )
        )
    )
    corpus = dd.line_dedup_corpus(
        d.select("doc_id", "text"), "text", "doc_id",
        min_chars=LINE_MIN_CHARS,
    )
    url = F.concat(
        F.lit("http://"), F.col("source"), F.lit(".example/p/"),
        F.col("doc_id").cast("string"),
    )
    with_url = d.withColumn("url", url)
    liney = with_url.withColumn(
        "text", F.regexp_replace("text", " ", "\n")
    )
    boiler = site_boilerplate_removal(liney, "url", min_docs=3).select("doc_id", "text")
    capped = host_cap(
        with_url, "url", 3, seed="e6cap",
        hash_mode="oracle",
    ).select("doc_id", F.col("url").alias("text"))
    mega_host = F.when(
        F.col("doc_id") % 4 == 0, F.lit("mega")
    ).otherwise(F.col("source"))
    mega_url = F.concat(
        F.lit("http://"), mega_host, F.lit(".example/p/"),
        F.col("doc_id").cast("string"),
    )
    capped_approx = host_cap_approx(
        d.withColumn("url", mega_url), "url", HOST_CAP_APPROX_N,
        seed="e6capx", hash_mode="oracle",
    ).select("doc_id", F.col("url").alias("text"))
    return tag_union(
        [
            ("corpus_line", corpus),
            ("site_boilerplate", boiler),
            ("host_cap", capped),
            ("host_cap_approx", capped_approx),
        ],
        tag="variant",
    )


# ---------------------------------------------------------------------------
# Connected-components clustering of near-dup pairs
# ---------------------------------------------------------------------------
CLUSTERS_ORACLE = f"""
    WITH RECURSIVE mh AS ({_minhash_oracle()}),
    pairs AS (
        SELECT id_a, id_b FROM mh WHERE jaccard > 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, w.label
        FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
    FROM walk GROUP BY node
    """


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assembly — connected components over
    MinHash-LSH candidate pairs (exact Jaccard > 0.5 within
    candidates) by iterative min-label propagation
    (operators/dedup.connected_components); cluster_id = smallest
    member = canonical survivor. Edge generation = the
    dedup_minhash_lsh construction (linear banded bucket join), NOT
    blocked all-pairs — the r4 sf1 scale bench measured the blocked
    all-pairs edge build at ~40x per 10x docs. Registered via the
    graph_cc_pagerank battery (queries/graph_q.py, folded r5)."""
    mode = default_hash_mode()
    d = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(
        d, "text", "doc_id", num_hashes=NUM_HASHES, shingle_n=3, hash_mode=mode
    )
    cand = dd.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=NUM_HASHES, bands=BANDS, hash_mode=mode
    )
    pairs = (
        dd.jaccard_pairs(d, cand, "text", "doc_id")
        .filter(F.col("jaccard") > 0.5)
        .select("id_a", "id_b")
    )
    labels = dd.connected_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("cluster_id")
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated-substring accounting (Lee et al. 2021),
# winnowed fingerprint selection (Schleimer et al. 2003)
# ---------------------------------------------------------------------------
_SPAN_W = 15
_SPAN_K = 4  # winnowing window (shuffle ~1/K; guarantee W+K-1)


def _span_oracle() -> str:
    w, k = _SPAN_W, _SPAN_K
    span_h = md5_long_sql(
        f"array_to_string(list_slice(tk, i, i+{w}-1), '_')"
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, {TOK_SQL.format(c="text")} AS tk FROM documents
    ),
    hs AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(tk) - {w}, -1) + 2),
                              i -> {span_h}) AS h
        FROM toks
    ),
    u AS (
        SELECT doc_id, unnest(list_transform(
            range(1, greatest(len(h) - {k} + 1, 1) + 1),
            i -> {{'p': i + len(list_slice(h, i, i+{k}-1))
                        - list_position(list_reverse(list_slice(h, i, i+{k}-1)),
                                        list_min(list_slice(h, i, i+{k}-1))),
                   'h': list_min(list_slice(h, i, i+{k}-1))}})) AS s
        FROM hs WHERE len(h) >= 1
    ),
    sel AS (SELECT DISTINCT doc_id, s.p AS p, s.h AS fh FROM u),
    occ AS (
        SELECT fh, doc_id, count(*) AS c FROM sel GROUP BY fh, doc_id
    ),
    stats AS (
        SELECT fh, count(*) AS ndocs, min(doc_id) AS owner
        FROM occ GROUP BY fh
    )
    SELECT o.doc_id,
           CAST(sum(o.c) AS BIGINT) AS total_spans,
           CAST(sum(CASE WHEN s.ndocs >= 2 THEN o.c ELSE 0 END) AS BIGINT)
               AS dup_spans,
           CAST(sum(CASE WHEN s.ndocs >= 2 AND s.owner = o.doc_id
                         THEN o.c ELSE 0 END) AS BIGINT)
               AS owned_dup_spans,
           round(CAST(sum(CASE WHEN s.ndocs >= 2 THEN o.c ELSE 0 END)
                      AS DOUBLE) / CAST(sum(o.c) AS DOUBLE), 6) AS dup_frac
    FROM occ o JOIN stats s USING (fh)
    GROUP BY o.doc_id
    """


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.substring_span_stats(
        d,
        "text",
        "doc_id",
        window=_SPAN_W,
        winnow=_SPAN_K,
        hash_mode=default_hash_mode(),
    )


def _span_removal_oracle() -> str:
    w = _SPAN_W
    span_h = md5_long_sql(
        f"array_to_string(list_slice(tk, p, p+{w}-1), '_')"
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, {TOK_SQL.format(c="text")} AS tk FROM documents
    ),
    hs AS (
        SELECT doc_id, tk,
               list_transform(range(1, greatest(len(tk) - {w}, -1) + 2),
                              p -> {span_h}) AS hl
        FROM toks
    ),
    spans AS (
        SELECT doc_id, generate_subscripts(hl, 1) AS p, unnest(hl) AS h
        FROM hs
    ),
    stats AS (
        SELECT h, count(DISTINCT doc_id) AS nd, min(doc_id) AS owner
        FROM spans GROUP BY h
    ),
    fdup AS (
        SELECT s.doc_id, s.p FROM spans s JOIN stats t USING (h)
        WHERE t.nd >= 2 AND t.owner <> s.doc_id
    ),
    covered AS (
        SELECT DISTINCT doc_id, unnest(range(p, p + {w})) AS ci
        FROM fdup
    ),
    tok_idx AS (
        SELECT doc_id, generate_subscripts(tk, 1) AS i, unnest(tk) AS t
        FROM toks
    ),
    keep AS (
        SELECT k.* FROM tok_idx k ANTI JOIN covered c
          ON k.doc_id = c.doc_id AND k.i = c.ci
    ),
    rebuilt AS (
        SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS text
        FROM keep GROUP BY doc_id
    ),
    ncov AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS removed_tokens
        FROM covered GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(r.text, '') AS text,
           coalesce(n.removed_tokens, 0) AS removed_tokens
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN rebuilt r USING (doc_id)
    LEFT JOIN ncov n USING (doc_id)
    """


def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.span_removal(
        d, "text", "doc_id", window=_SPAN_W, hash_mode=default_hash_mode()
    )


@register(
    "dedup_span_battery",
    oracle=f"""
    SELECT r.*, s.total_spans, s.dup_spans, s.owned_dup_spans,
           s.dup_frac
    FROM ({_span_removal_oracle()}) r
    LEFT JOIN ({_span_oracle()}) s USING (doc_id)
    """,
    survey="extension battery (folded r7 so both legs keep a driver "
    "CORRECTNESS row inside the 50-entry window; LEFT JOIN on doc_id "
    "— docs shorter than the winnow guarantee carry NULL span stats) "
    "— [removal] exact-substring span REMOVAL (Lee et al. 2021 "
    "keep-one policy): every {w}-token span hashed at every offset "
    "(stride-1), min-id holder elected owner, every other holder "
    "excises the union of its foreign-duplicate span intervals; each "
    "duplicated region survives exactly once in the corpus — span "
    "strings never shuffle (the exchange carries (hash, id, pos) "
    "triples), ownership is one map-side-combinable aggregation, "
    "covered positions return via one id-keyed int-array join; "
    "[spans] duplicated-substring accounting with winnowed "
    "fingerprint selection (Schleimer et al. 2003): each {k}-window "
    "minimum (tie: rightmost) selected, so shuffle volume drops ~{k}x "
    "while any shared run of >= {wk} tokens is guaranteed caught in "
    "both documents regardless of alignment; per-doc accounting "
    "elects the min-id owner".format(
        w=_SPAN_W, k=_SPAN_K, wk=_SPAN_W + _SPAN_K - 1
    ),
    note="token-stream removal: output text is surviving tokens "
    "space-joined (functions/text.tokens normalization); single "
    "pass — removal-created adjacencies can form fresh grams, as in "
    "Lee et al.; span-level aggs are map-side combinable (no "
    "windows, no pairwise join)",
)
def dedup_span_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = dedup_substring_spans(spark, sf_dir)
    return dedup_span_removal(spark, sf_dir).join(spans, "doc_id", "left")


# ---------------------------------------------------------------------------
# Benchmark decontamination report (operators/contamination.py)
# ---------------------------------------------------------------------------
_DECON_EVAL_N = 50   # eval set = first N docs by id (deterministic)
_DECON_MIN = 5       # min shared distinct 3-grams to flag


DECON_ORACLE = f"""
    WITH ev AS (
        SELECT text FROM documents ORDER BY doc_id LIMIT {_DECON_EVAL_N}
    ),
    evt AS (SELECT {TOK_SQL.format(c="text")} AS tk FROM ev),
    eg AS (
        SELECT DISTINCT {md5_long_sql("g")} AS gh FROM (
            SELECT unnest(list_distinct({SHINGLE_SQL})) AS g FROM evt
        )
    ),
    dt AS (
        SELECT doc_id, {TOK_SQL.format(c="text")} AS tk FROM documents
    ),
    dg AS (
        SELECT doc_id, {md5_long_sql("g")} AS gh FROM (
            SELECT doc_id, unnest(list_distinct({SHINGLE_SQL})) AS g FROM dt
        )
    )
    SELECT doc_id,
           count(DISTINCT dg.gh) AS n_contaminated_grams
    FROM dg JOIN eg USING (gh)
    GROUP BY doc_id
    HAVING count(DISTINCT dg.gh) >= {_DECON_MIN}
    """


def decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.operators.contamination import (
        contamination_report,
    )

    d = load_table(spark, sf_dir, "documents")
    eval_df = d.orderBy("doc_id").limit(_DECON_EVAL_N).select("text")
    return contamination_report(
        d,
        eval_df,
        min_matches=_DECON_MIN,
        hash_mode=default_hash_mode(),
    )


# ---------------------------------------------------------------------------
# Incremental dedup against the at-rest index (operators/dedup.py:
# dedup_index_write / dedup_incremental) — driver-gated end to end
# ---------------------------------------------------------------------------

#: batch construction shared by the Spark query and the oracle:
#: fresh docs (excluded from the corpus), exact copies, and mutated
#: near-dups, each with a disjoint id offset
_INC_FRESH_OFF = 1_000_000
_INC_EXACT_OFF = 2_000_000
_INC_NEAR_OFF = 3_000_000
_INC_SUFFIX = " zz9 qq8 vv7"
_INC_THRESHOLD = 0.7


def _inc_sig_cte(src: str, pfx: str) -> str:
    """Signature CTEs (tokens → shingles → double-hash mins → band
    buckets) over ``src``, names prefixed — the _minhash_oracle
    construction, reusable for both the corpus and the batch side."""
    from vbb_data_pipeline_spark.operators.dedup import MINHASH_MOD

    m = MINHASH_MOD
    mins = ",\n               ".join(
        f"min((h1 + {i} * h2) % {m}) AS mh_{i}" for i in range(NUM_HASHES)
    )
    bands = ", ".join(
        "md5(concat_ws('_', '{b}', {parts}))".format(
            b=b,
            parts=", ".join(
                f"mh_{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(BANDS)
    )
    return f"""
    {pfx}toks AS (
        SELECT doc_id, {TOK_SQL.format(c="text")} AS tk FROM {src}
    ),
    {pfx}hashed AS (
        SELECT doc_id,
               {md5_long_pair_sql('sh')[0]} % {m} AS h1,
               {md5_long_pair_sql('sh')[1]} % {m} AS h2
        FROM (
            SELECT doc_id, unnest(list_distinct({SHINGLE_SQL})) AS sh
            FROM {pfx}toks
        )
    ),
    {pfx}sigs AS (
        SELECT doc_id, {mins} FROM {pfx}hashed GROUP BY doc_id
    ),
    {pfx}bands AS (
        SELECT doc_id, unnest([{bands}]) AS bucket FROM {pfx}sigs
    )"""


def _inc_oracle() -> str:
    fp = (
        "CASE WHEN len(" + TOK_SQL.format(c="text") + ") > 0 THEN "
        "md5(array_to_string(list_sort(list_distinct("
        + TOK_SQL.format(c="text")
        + ")), ' ')) END"
    )
    agree = " + ".join(
        f"CASE WHEN c.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END"
        for i in range(NUM_HASHES)
    )
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
    ),
    batch AS (
        SELECT doc_id + {_INC_FRESH_OFF} AS doc_id, text
        FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + {_INC_EXACT_OFF}, text
        FROM documents WHERE doc_id % 5 = 1
        UNION ALL
        SELECT doc_id + {_INC_NEAR_OFF}, text || '{_INC_SUFFIX}'
        FROM documents WHERE doc_id % 5 = 2
    ),
    cfp AS (SELECT doc_id, {fp} AS fp FROM corpus),
    bfp AS (SELECT doc_id, {fp} AS fp FROM batch),
    exact AS (
        SELECT b.doc_id, min(c.doc_id) AS dup_of
        FROM bfp b JOIN cfp c USING (fp) GROUP BY b.doc_id
    ),
    {_inc_sig_cte('corpus', 'c')},
    {_inc_sig_cte('batch', 'b')},
    cand AS (
        SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
        FROM bbands bb JOIN cbands cb USING (bucket)
    ),
    scored AS (
        SELECT cand.bid, cand.cid,
               round(CAST({agree} AS DOUBLE) / {NUM_HASHES}, 6) AS sim
        FROM cand
        JOIN csigs c ON c.doc_id = cand.cid
        JOIN bsigs b ON b.doc_id = cand.bid
    ),
    near AS (
        SELECT bid AS doc_id, cid AS dup_of, sim AS similarity
        FROM (
            SELECT bid, cid, sim,
                   row_number() OVER (
                       PARTITION BY bid ORDER BY sim DESC, cid ASC
                   ) AS rn
            FROM scored WHERE sim >= {_INC_THRESHOLD}
        ) WHERE rn = 1
    )
    SELECT b.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS status,
           CASE WHEN e.doc_id IS NOT NULL THEN e.dup_of
                ELSE n.dup_of END AS dup_of,
           CASE WHEN e.doc_id IS NOT NULL THEN 1.0
                ELSE n.similarity END AS similarity
    FROM batch b
    LEFT JOIN exact e ON e.doc_id = b.doc_id
    LEFT JOIN near n ON n.doc_id = b.doc_id
    """


def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    mode = default_hash_mode()
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + _INC_FRESH_OFF).alias("doc_id"), "text"
        )
        .unionByName(
            d.filter(F.col("doc_id") % 5 == 1).select(
                (F.col("doc_id") + _INC_EXACT_OFF).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 5 == 2).select(
                (F.col("doc_id") + _INC_NEAR_OFF).alias("doc_id"),
                F.concat(F.col("text"), F.lit(_INC_SUFFIX)).alias("text"),
            )
        )
    )
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{mode}".encode()
    ).hexdigest()[:10]
    idx = os.path.join(tempfile.gettempdir(), f"vbb_inc_idx_{key}")
    dd.dedup_index_write(
        corpus, idx, num_hashes=NUM_HASHES, bands=BANDS, hash_mode=mode
    )
    return dd.dedup_incremental(
        batch,
        idx,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        threshold=_INC_THRESHOLD,
        hash_mode=mode,
    ).select("doc_id", "status", "dup_of", "similarity")


def _inc_battery_oracle() -> str:
    from vbb_data_pipeline_spark.queries.similarity_q import _sdi_oracle

    return f"""
    SELECT 'minhash' AS variant, doc_id AS id, status, dup_of,
           similarity
    FROM ({_inc_oracle()}) t
    UNION ALL
    SELECT 'semdedup', vec_id, status, dup_of, similarity
    FROM ({_sdi_oracle()}) t
    """


@register(
    "dedup_incremental_probe",
    oracle=_inc_battery_oracle(),
    survey="extension battery (folded r7: the MinHash and SemDeDup "
    "incremental probes share the status/dup_of/similarity verdict "
    "shape, so both keep a driver CORRECTNESS row inside the "
    "50-entry window) — [minhash] incremental dedup of a new ingest "
    "batch against the at-rest index (operators/dedup."
    "dedup_index_write + dedup_incremental), corpus text never "
    "re-read at probe time; [semdedup] incremental SemDeDup — a new "
    "embedding batch probed against the corpus's at-rest IVF index "
    "(operators/similarity.ivf_write_index + semdedup_incremental), "
    "cell-pruned read, corpus never re-scanned",
    note="minhash: corpus = doc_id %% 5 != 0 indexed to parquet at a "
    "deterministic tmp path (overwrite — idempotent); batch = fresh "
    "docs + exact copies + suffix-mutated near-dups at disjoint id "
    "offsets; the oracle replays fingerprint + banded-minhash + "
    "signature-agreement in DuckDB. semdedup: centroids PINNED to "
    "the first 16 corpus vectors so the oracle replays assignment + "
    "in-cell argmax-cosine bit-for-bit (the pinned configuration "
    "exists only for oracle replay; at scale callers pass trained "
    "cells ∝ corpus)",
)
def dedup_incremental_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.queries.similarity_q import (
        semdedup_incremental_probe,
    )

    mh = dedup_incremental_probe(spark, sf_dir).select(
        F.lit("minhash").alias("variant"),
        F.col("doc_id").alias("id"),
        "status",
        "dup_of",
        "similarity",
    )
    sd = semdedup_incremental_probe(spark, sf_dir).select(
        F.lit("semdedup").alias("variant"),
        F.col("vec_id").alias("id"),
        "status",
        "dup_of",
        "similarity",
    )
    return mh.unionByName(sd)


# ---------------------------------------------------------------------------
# Star-edge LSH candidate generation (pair_mode="star") — the
# crawl-scale near-dup path E6 defaults to, driver-gated end to end
# (star edges → exact Jaccard verify → CC → keep-min survivors)
# ---------------------------------------------------------------------------


def _star_oracle() -> str:
    return f"""
    WITH RECURSIVE {_inc_sig_cte('documents', 's').lstrip()},
    hubs AS (
        SELECT bucket, min(doc_id) AS hub FROM sbands GROUP BY bucket
    ),
    star AS (
        SELECT DISTINCT h.hub AS id_a, b.doc_id AS id_b
        FROM sbands b JOIN hubs h USING (bucket)
        WHERE b.doc_id <> h.hub
    ),
    sets AS (
        SELECT doc_id, list_distinct({SHINGLE_SQL}) AS s FROM stoks
    ),
    pairs AS (
        SELECT p.id_a, p.id_b
        FROM star p
        JOIN sets sa ON sa.doc_id = p.id_a
        JOIN sets sb ON sb.doc_id = p.id_b
        WHERE round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                    / greatest(len(list_distinct(sa.s || sb.s)), 1), 6)
              > 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS doc_id,
           CAST(min(label) AS BIGINT) AS cluster_id,
           (node = min(label)) AS kept
    FROM walk GROUP BY node
    """


@register(
    "dedup_star_clusters",
    oracle=_star_oracle(),
    survey="extension: star-edge LSH candidate generation "
    "(operators/dedup.lsh_candidate_pairs pair_mode='star' — n−1 "
    "edges per bucket instead of n(n−1)/2; the crawl-scale default "
    "of e6_crawl_corpus, measured: completes the 1 GB mega-family "
    "corpus at 0.5 GB/task where all-pairs OOMs 2 GB/task) → exact "
    "Jaccard verify → connected components → keep-min survivors",
    note="same CC recursive-walk oracle as graph_cc_pagerank's "
    "components leg, but over star edges; kept = (node == cluster "
    "min)",
)
def dedup_star_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    mode = default_hash_mode()
    d = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(
        d, "text", "doc_id", num_hashes=NUM_HASHES, shingle_n=3,
        hash_mode=mode,
    )
    star = dd.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=NUM_HASHES, bands=BANDS,
        hash_mode=mode, pair_mode="star",
    )
    pairs = (
        dd.jaccard_pairs(d, star, "text", "doc_id")
        .filter(F.col("jaccard") > 0.5)
        .select("id_a", "id_b")
    )
    labels = dd.connected_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("kept"),
    )
