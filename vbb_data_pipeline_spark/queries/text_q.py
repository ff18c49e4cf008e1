"""Text-analysis queries over the documents corpus (north-star
extension; functions/text.py): token accounting, quality scoring,
language-ID, fingerprints, and multimodal (binary-column) metadata
plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.functions import text as tx
from vbb_data_pipeline_spark.queries import load_table, register

TOK_SQL = "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), x -> x <> '')"

_LANGS = sorted(tx.STOPWORDS)  # alphabetical: tie-break = first in chain


def _sw_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang])
    return (
        f"len(list_filter({TOK_SQL.format(c='text')}, "
        f"x -> list_contains([{words}], x)))"
    )


_TOKEN_STATS_ORACLE = f"""
    WITH toks AS (
        SELECT lang, len({TOK_SQL.format(c="text")}) AS n_tok,
               len(regexp_extract_all(text,
                   '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+'
               )) AS n_bpe,
               n_chars
        FROM documents
    ),
    words AS (
        SELECT w AS word, count(*) AS n FROM (
            SELECT unnest({TOK_SQL.format(c="text")}) AS w FROM documents
        ) GROUP BY 1
    ),
    chars AS (
        SELECT list_append(string_split(word, ''), '</w>') AS cs, n
        FROM words
    ),
    bpe_pairs AS (
        SELECT cs[i] || ' ' || cs[i + 1] AS pair, n
        FROM chars, LATERAL unnest(range(1, len(cs))) t(i)
        WHERE len(cs) >= 2
    )
    SELECT 'per_lang' AS variant, lang,
           count(*)                        AS n_docs,
           CAST(sum(n_tok) AS BIGINT)      AS total_tokens,
           CAST(sum(n_bpe) AS BIGINT)      AS total_bpe_tokens,
           round(avg(CAST(n_tok AS DOUBLE)), 4)  AS avg_tokens,
           round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
           CAST(NULL AS VARCHAR) AS pair, CAST(NULL AS BIGINT) AS pair_n
    FROM toks
    GROUP BY lang
    UNION ALL
    SELECT 'top_pairs', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), t.pair, t.pair_n
    FROM (
        SELECT pair, CAST(sum(n) AS BIGINT) AS pair_n
        FROM bpe_pairs GROUP BY 1
        ORDER BY pair_n DESC, pair LIMIT 50
    ) t
    """


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.operators.bpe import (
        initial_vocab,
        pair_counts,
        word_counts,
    )

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        tx.token_count("text").alias("n_tok"),
        tx.bpe_token_count("text").alias("n_bpe"),
        "n_chars",
    )
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    per_lang = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        F.round(F.avg(F.col("n_tok").cast("double")), 4).alias("avg_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
    ).select(
        F.lit("per_lang").alias("variant"),
        "lang",
        "n_docs",
        "total_tokens",
        "total_bpe_tokens",
        "avg_tokens",
        "avg_chars",
        null_s.alias("pair"),
        null_l.alias("pair_n"),
    )
    vocab = initial_vocab(word_counts(d))
    top_pairs = (
        pair_counts(vocab)
        .select(
            F.concat_ws(" ", "a", "b").alias("pair"), F.col("pair_n")
        )
        .orderBy(F.col("pair_n").desc(), F.col("pair"))
        .limit(50)
        .select(
            F.lit("top_pairs").alias("variant"),
            null_s.alias("lang"),
            null_l.alias("n_docs"),
            null_l.alias("total_tokens"),
            null_l.alias("total_bpe_tokens"),
            null_d.alias("avg_tokens"),
            null_d.alias("avg_chars"),
            "pair",
            "pair_n",
        )
    )
    return per_lang.unionByName(top_pairs)


_DOC_PROFILE_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, lang, text, {TOK_SQL.format(c="text")} AS tk
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1)                       AS noise,
               CAST(len(tk) AS DOUBLE)                             AS n_tok,
               CAST({_sw_hits_sql("en")} AS DOUBLE)                AS sw_hits
        FROM toks
    ),
    hits AS (
        SELECT doc_id,
               {", ".join(f"{_sw_hits_sql(lg)} AS h_{lg}" for lg in _LANGS)}
        FROM documents
    )
    SELECT t.doc_id, t.lang,
           round(0.5 * least(m.n_tok / 64.0, 1.0)
                 + 0.3 * (1.0 - least(m.noise * 5, 1.0))
                 + 0.2 * least((m.sw_hits / greatest(m.n_tok, 1)) * 4, 1.0), 6)
             AS quality,
           CASE
             {" ".join(
                 "WHEN " + " AND ".join(
                     f"h.h_{lg} >= h.h_{other}" for other in _LANGS if other != lg
                 ) + f" THEN '{lg}'"
                 for lg in _LANGS
             )}
           END AS pred_lang,
           CASE WHEN len(t.tk) > 0 THEN md5(array_to_string(list_sort(list_distinct(t.tk)), ' ')) END AS fp,
           CAST(len(t.tk) AS INT)                        AS n_tokens,
           t.tk[1]                                       AS first_tok,
           t.tk[len(t.tk)]                               AS last_tok,
           CAST(list_contains(t.tk, 'data') AS BOOLEAN)  AS has_data,
           array_to_string(t.tk[1:3], '-')               AS first3,
           CAST(len(list_distinct(t.tk)) AS INT)         AS n_distinct
    FROM toks t
    JOIN m    ON m.doc_id = t.doc_id
    JOIN hits h ON h.doc_id = t.doc_id
    """


def text_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the profile is a pure projection (zero exchanges), so
    # on a single-split scan ALL of its regex/fingerprint CPU ran in
    # one task (guide §2.5 input skew) — measured ~830 ms/run of
    # single-core time at sf0.1 vs a sub-ms scan
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    base = d.select(
        "doc_id",
        "lang",
        tx.quality_score("text").alias("quality"),
        # the reusable argmax form (functions/text.lang_guess) ≡ the
        # oracle's CASE chain: both pick the highest hit count with
        # ties breaking toward the earlier language in _LANGS
        tx.lang_guess("text", _LANGS).alias("pred"),
        tx.fingerprint("text").alias("fp"),
        tx.tokens("text").alias("toks"),
    )
    pred = F.col("pred")
    return base.select(
        "doc_id",
        "lang",
        "quality",
        pred.alias("pred_lang"),
        "fp",
        F.size("toks").alias("n_tokens"),
        F.element_at("toks", 1).alias("first_tok"),
        F.element_at("toks", -1).alias("last_tok"),
        F.array_contains("toks", "data").alias("has_data"),
        F.concat_ws("-", F.slice("toks", 1, 3)).alias("first3"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )


@register(
    "text_profile_battery",
    oracle=f"""
    SELECT t.variant, t.lang, t.n_docs, t.total_tokens,
           t.total_bpe_tokens, t.avg_tokens, t.avg_chars, t.pair,
           t.pair_n,
           CAST(NULL AS BIGINT)  AS doc_id,
           CAST(NULL AS DOUBLE)  AS quality,
           CAST(NULL AS VARCHAR) AS pred_lang,
           CAST(NULL AS VARCHAR) AS fp,
           CAST(NULL AS INT)     AS n_tokens,
           CAST(NULL AS VARCHAR) AS first_tok,
           CAST(NULL AS VARCHAR) AS last_tok,
           CAST(NULL AS INT)     AS has_data,
           CAST(NULL AS VARCHAR) AS first3,
           CAST(NULL AS INT)     AS n_distinct
    FROM ({_TOKEN_STATS_ORACLE}) t
    UNION ALL
    SELECT 'doc_profile', p.lang,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT),
           p.doc_id, p.quality, p.pred_lang, p.fp, p.n_tokens,
           p.first_tok, p.last_tok, CAST(p.has_data AS INT), p.first3,
           p.n_distinct
    FROM ({_DOC_PROFILE_ORACLE}) p
    """,
    survey="extension battery (folded r7 so every leg keeps a driver "
    "CORRECTNESS row inside the 50-entry window) — [per_lang] token "
    "accounting per language (whitespace/alnum runs AND a BPE-ish "
    "GPT-2-style pre-tokenizer count, functions/text.bpe_token_count "
    "— one codegen regex pass each); [top_pairs] BPE trainer round-0 "
    "evidence: adjacent symbol-pair frequencies over the end-of-word-"
    "marked char vocabulary (operators/bpe.pair_counts), "
    "deterministic top-50; [doc_profile] per-document profile — "
    "heuristic quality scoring (length / punctuation noise / stopword "
    "density, C4-Gopher-style), n-gram/stopword-heuristic language ID "
    "(deterministic tie-break), document fingerprinting "
    "(order-insensitive content hash), and the §2.7 array/collection "
    "function battery (ArrayType is first-class; reference has no "
    "nested types §1.3) — one scan per leg, all columns "
    "codegen-native",
)
def text_profile_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    null_i = F.lit(None).cast("int")
    stats = text_token_stats(spark, sf_dir).select(
        "*",
        null_l.alias("doc_id"),
        null_d.alias("quality"),
        null_s.alias("pred_lang"),
        null_s.alias("fp"),
        null_i.alias("n_tokens"),
        null_s.alias("first_tok"),
        null_s.alias("last_tok"),
        null_i.alias("has_data"),
        null_s.alias("first3"),
        null_i.alias("n_distinct"),
    )
    profile = text_doc_profile(spark, sf_dir).select(
        F.lit("doc_profile").alias("variant"),
        "lang",
        null_l.alias("n_docs"),
        null_l.alias("total_tokens"),
        null_l.alias("total_bpe_tokens"),
        null_d.alias("avg_tokens"),
        null_d.alias("avg_chars"),
        null_s.alias("pair"),
        null_l.alias("pair_n"),
        "doc_id",
        "quality",
        "pred_lang",
        "fp",
        "n_tokens",
        "first_tok",
        "last_tok",
        F.col("has_data").cast("int").alias("has_data"),
        "first3",
        "n_distinct",
    )
    return stats.unionByName(profile)


# ---------------------------------------------------------------------------
# Multimodal: binary payloads with REAL header decode (PNG/GIF/JPEG)
# ---------------------------------------------------------------------------
#: Synthesized header dimensions (arithmetic the oracle reproduces).
_MM_W = "(16 + doc_id % 240)"
_MM_H = "(16 + (doc_id * 3) % 240)"

#: Hex templates for the synthesized payloads. The parser reads real
#: header bytes; the oracle predicts the same dims arithmetically and
#: rebuilds the identical blob for the digest.
_PNG_PRE = "89504E470D0A1A0A" + "0000000D49484452"  # signature + len+IHDR
_PNG_POST = "0806000000" + "00000000"  # depth 8, RGBA, CRC (unvalidated)
_GIF_PRE = "474946383961"  # 'GIF89a'
_JPEG_PRE = "FFD8FFC0001108"  # SOI + SOF0 + len 17 + precision 8


@register(
    "multimodal_decode",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text,
               doc_id % 4 AS k,
               {_MM_W} AS w, {_MM_H} AS h
        FROM documents
    ),
    payloads AS (
        SELECT doc_id, k, w, h,
               CASE k
                 WHEN 0 THEN unhex('{_PNG_PRE}'
                                   || lpad(to_hex(w), 8, '0')
                                   || lpad(to_hex(h), 8, '0')
                                   || '{_PNG_POST}')
                 WHEN 1 THEN unhex('{_GIF_PRE}'
                                   || lpad(to_hex(w), 2, '0') || '00'
                                   || lpad(to_hex(h), 2, '0') || '00')
                 WHEN 3 THEN unhex('{_JPEG_PRE}'
                                   || lpad(to_hex(h), 4, '0')
                                   || lpad(to_hex(w), 4, '0')
                                   || '03')
                 ELSE encode(text)
               END AS payload,
               text
        FROM base
    )
    SELECT doc_id,
           CASE k WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                  WHEN 3 THEN 'jpeg' ELSE 'raw' END AS kind,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN k IN (0, 1, 3) THEN w
                ELSE 16 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 240
                END AS INT) AS width,
           CAST(CASE WHEN k IN (0, 1, 3) THEN h
                ELSE 16 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 240
                END AS INT) AS height,
           CAST(CASE k WHEN 0 THEN 4 WHEN 1 THEN 3 WHEN 3 THEN 3
                ELSE 1 + CAST(('0x' || substr(md5(text), 5, 2)) AS INT) % 4
                END AS INT) AS channels,
           CASE WHEN k = 2 THEN sha256(text) END AS content_digest
    FROM payloads
    """,
    survey="extension: multimodal column plumbing — opaque binary "
    "payload + typed metadata (byte length, content digest) AND the "
    "decode stage with REAL stdlib header parsing "
    "(operators/multimodal.parse_image_header: PNG IHDR, GIF "
    "logical-screen, JPEG SOF scan) over Arrow-batched mapInPandas "
    "(operators/multimodal.decode_images); payloads synthesized with "
    "genuine magic bytes + headers per doc, unrecognized payloads "
    "fall back to the deterministic stand-in decoder — every branch "
    "of the Python stage is oracle-checked",
    note="at 100 TB this is the metadata-catalog pass: header-only "
    "reads, pixel decode deferred to the (stubbed) resize stage",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.operators.multimodal import decode_images

    # fan_out measured and rejected here (r10): a 33-task Python stage
    # costs ~15 ms/task of Arrow handshake + scheduling even with
    # warm reused workers (measured: trivial 33-partition mapInPandas
    # ~0.5 s/run vs 2-partition ~0.28 s), which swamps the ~100 ms of
    # actual header-decode CPU at sf0.1 (bench regressed 0.28->0.41).
    # At scale the scan has many splits and the stage parallelizes
    # without an added exchange.
    d = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id") % 4
    w = F.expr(_MM_W)
    h = F.expr(_MM_H)
    png_hex = F.concat(
        F.lit(_PNG_PRE),
        F.lpad(F.hex(w), 8, "0"),
        F.lpad(F.hex(h), 8, "0"),
        F.lit(_PNG_POST),
    )
    gif_hex = F.concat(
        F.lit(_GIF_PRE),
        F.lpad(F.hex(w), 2, "0"),
        F.lit("00"),
        F.lpad(F.hex(h), 2, "0"),
        F.lit("00"),
    )
    jpeg_hex = F.concat(
        F.lit(_JPEG_PRE),
        F.lpad(F.hex(h), 4, "0"),
        F.lpad(F.hex(w), 4, "0"),
        F.lit("03"),
    )
    payload = (
        F.when(k == 0, F.unhex(png_hex))
        .when(k == 1, F.unhex(gif_hex))
        .when(k == 3, F.unhex(jpeg_hex))
        .otherwise(F.encode("text", "UTF-8"))
    )
    kind = (
        F.when(k == 0, "png")
        .when(k == 1, "gif")
        .when(k == 3, "jpeg")
        .otherwise("raw")
    )
    decoded = decode_images(d.select("doc_id", payload.alias("payload")))
    # digest check restricted to raw (UTF-8) payloads: DuckDB's sha256
    # only accepts VARCHAR, so the oracle cannot digest binary headers.
    # The Python stage still computes it for every row.
    return decoded.select(
        "doc_id",
        kind.alias("kind"),
        "n_bytes",
        "width",
        "height",
        "channels",
        F.when(kind == "raw", F.col("content_digest")).alias("content_digest"),
    )


# ---------------------------------------------------------------------------
# Document chunking (token windows — long-doc splitting / RAG passages)
# ---------------------------------------------------------------------------

_CHUNK_VARIANTS = (("disjoint", 24, 24), ("overlap", 24, 16))


def _chunk_oracle() -> str:
    legs = []
    for tag, chunk, stride in _CHUNK_VARIANTS:
        legs.append(f"""
    SELECT '{tag}' AS variant, doc_id,
           CAST(i AS INT)                  AS chunk_idx,
           CAST(i * {stride} AS BIGINT)    AS start_token,
           CAST(len(list_slice(tk, i * {stride} + 1,
                               i * {stride} + {chunk})) AS INT)
                                           AS n_chunk_tokens,
           array_to_string(list_slice(tk, i * {stride} + 1,
                                      i * {stride} + {chunk}), ' ')
                                           AS chunk_text
    FROM (
        SELECT doc_id, {TOK_SQL.format(c="text")} AS tk FROM documents
    ), LATERAL unnest(range(0, CAST(ceil(len(tk) / {stride}.0) AS BIGINT)))
       t(i)
    WHERE len(tk) > 0""")
    return " UNION ALL ".join(legs)


@register(
    "text_chunking",
    oracle=_chunk_oracle(),
    survey="extension: document chunking into token windows "
    "(operators/sampling.chunk_documents) — long-doc splitting for "
    "training prep and RAG passage indexing; native sequence + "
    "posexplode + slice, one explode, zero shuffle/Python",
    note="two variants: disjoint 24/24 and overlapping 24/16 windows; "
    "every token covered, last chunk short, empty docs chunk-free in "
    "both engines",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.operators.sampling import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    out = None
    for tag, chunk, stride in _CHUNK_VARIANTS:
        leg = chunk_documents(
            d, chunk_tokens=chunk, stride=stride
        ).select(F.lit(tag).alias("variant"), "*")
        out = leg if out is None else out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# PII hygiene (functions/text.redact_pii / pii_counts) — driver-gated
# on synthetic PII injected deterministically from row values
# ---------------------------------------------------------------------------


def _pii_oracle() -> str:
    inject = (
        "text || ' contact user' || doc_id || '@example.com or "
        "10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || "
        "' call 555-' || (100 + doc_id % 900) || '-' || "
        "(1000 + doc_id % 9000)"
    )
    expr = "t2"
    for kind, pat in tx.PII_PATTERNS.items():
        expr = f"regexp_replace({expr}, '{pat}', '<{kind}>', 'g')"
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(t2, '{pat}')) AS INT) "
        f"AS n_{kind.lower()}"
        for kind, pat in tx.PII_PATTERNS.items()
    )
    return f"""
    SELECT doc_id, {expr} AS redacted, {counts}
    FROM (SELECT doc_id, {inject} AS t2 FROM documents)
    """


def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or 10.0."),
            F.col("doc_id") % 256,
            F.lit("."),
            (F.col("doc_id") * 7) % 256,
            F.lit(" call 555-"),
            F.lit(100) + F.col("doc_id") % 900,
            F.lit("-"),
            F.lit(1000) + F.col("doc_id") % 9000,
        ).alias("t2"),
    )
    counts = tx.pii_counts("t2")
    return injected.select(
        "doc_id",
        tx.redact_pii("t2").alias("redacted"),
        *[
            counts.getField(k.lower() + "s")
            .cast("int")
            .alias("n_" + k.lower())
            for k in tx.PII_PATTERNS
        ],
    )


# ---------------------------------------------------------------------------
# Text normalization + repetition hygiene (clean_text /
# dup_line_fraction) — driver-gated on deterministically-messed text
# ---------------------------------------------------------------------------


def _class_to_chr_sql(cls: str) -> str:
    """Render a raw-character regex class (e.g. CONTROL_FORMAT_RE,
    which embeds literal control/format codepoints) as a DuckDB
    ``chr()`` concatenation, so the oracle SQL stays pure ASCII while
    matching the identical character set."""
    assert cls.startswith("[") and cls.endswith("]")
    parts = ["'['"]
    body = cls[1:-1]
    i = 0
    while i < len(body):
        if body[i] == "-" and i not in (0, len(body) - 1):
            parts.append("'-'")
        else:
            parts.append(f"chr({ord(body[i])})")
        i += 1
    parts.append("']'")
    return " || ".join(parts)


def _clean_sql(src: str) -> str:
    ctl = _class_to_chr_sql(tx.CONTROL_FORMAT_RE)
    return f"""trim(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace({src},
        chr(13) || chr(10) || '?', chr(10), 'g'),
        {ctl}, '', 'g'),
        '[ ' || chr(9) || ']+', ' ', 'g'),
        ' ?' || chr(10) || ' ?', chr(10), 'g'),
        chr(10) || '{{3,}}', chr(10) || chr(10), 'g'))"""


_NORM_ORACLE = f"""
    WITH messed AS (
        SELECT doc_id,
               '  ' || substr(text, 1, 40) || chr(9) || 'x' || chr(13)
               || chr(10) || chr(8203) || 'y' || repeat(chr(10), 4)
               || ' z  ' AS m,
               substr(text, 1, 30) || chr(10) || substr(text, 1, 30)
               || CASE WHEN doc_id % 2 = 0
                       THEN chr(10) || 'u' || doc_id ELSE '' END AS ml
        FROM documents
    )
    SELECT doc_id,
           {_clean_sql('m')} AS cleaned,
           round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                       / len(lines), 6) AS dup_line_frac
    FROM (
        SELECT doc_id, m,
               list_filter(string_split(ml, chr(10)),
                           x -> trim(x) <> '') AS lines
        FROM messed
    )
    """


def text_normalization_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    messed = d.select(
        "doc_id",
        F.concat(
            F.lit("  "),
            F.substring("text", 1, 40),
            F.lit("\tx\r\n\u200by\n\n\n\n z  "),
        ).alias("m"),
        F.concat(
            F.substring("text", 1, 30),
            F.lit("\n"),
            F.substring("text", 1, 30),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("\nu"), F.col("doc_id")),
            ).otherwise(F.lit("")),
        ).alias("ml"),
    )
    return messed.select(
        "doc_id",
        tx.clean_text("m").alias("cleaned"),
        tx.dup_line_fraction("ml").alias("dup_line_frac"),
    )


@register(
    "text_cleaning_battery",
    oracle=f"""
    SELECT p.*, n.cleaned, n.dup_line_frac
    FROM ({_pii_oracle()}) p JOIN ({_NORM_ORACLE}) n USING (doc_id)
    """,
    survey="extension battery (folded r7, one per-document row, join "
    "key = doc_id so the fold adds one equi-join) — [pii] PII "
    "redaction + per-kind counts (functions/text.redact_pii / "
    "pii_counts): codegen regexp chain, fixed EMAIL→IP→PHONE order, "
    "no Python; [norm] pre-dedup text normalization (functions/text."
    "clean_text — control/format strip, whitespace collapse, CRLF and "
    "paragraph-run normalization) + Gopher-style repetition signal "
    "(dup_line_fraction), both codegen regexp/array chains",
    note="documents carry no PII and are already clean single-line "
    "text, so each row deterministically injects an email/IP/phone "
    "and control chars / CRLF / tab / space runs / duplicate lines "
    "from doc_id (identically in both engines — the oracle renders "
    "the raw-char control class as chr() concatenation to stay "
    "ASCII); the gate checks real redaction and normalization work, "
    "not an identity pass",
)
def text_cleaning_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_pii_redaction(spark, sf_dir).join(
        text_normalization_battery(spark, sf_dir), "doc_id"
    )
