"""Text-analysis column expressions (north-star extensions).

Tokenization, quality metrics, language-ID heuristics, and document
fingerprints as pure built-in expressions so the 100 TB path stays in
whole-stage codegen and every op has a DuckDB oracle twin. The regex
dialects (Java regex vs RE2) agree on the restricted patterns used
here.

Extends the reference's scalar surface (SURVEY.md §2.7: F5 regex
extraction at ``extract_dag.py:21-54``, F6 sanitization at
``database_loader/operators.py:162``) to corpus-scale text analytics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny deterministic stopword lists for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "mit", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "est", "en", "que"],
}


def tokens(col: Column | str) -> Column:
    """Lower-cased alphanumeric tokens, empty strings removed.

    Implemented as ``regexp_extract_all(lower(c), '[a-z0-9]+')`` — the
    identical token list to splitting on ``[^a-z0-9]+`` and dropping
    empties (maximal alphanumeric runs, in order; NULL text stays
    NULL, token-free text gives ``[]``), but with two measured
    advantages on the 100 TB path (guide §1.2 step 2, §4.1): a single
    regex pass with no intermediate split array + per-element lambda,
    and — decisive — no ``ArrayFilter`` lambda, which is a
    ``CodegenFallback`` expression and silently drops every projection
    containing it out of whole-stage codegen into interpreted
    evaluation (the r10 text_doc_profile plan showed exactly that).

    DuckDB twin (equivalent by value):
    ``list_filter(string_split_regex(lower(col), '[^a-z0-9]+'), x -> x <> '')``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit("[a-z0-9]+"), 0)


def token_count(col: Column | str) -> Column:
    """Token count without materializing the token array.

    ``regexp_count`` of maximal alphanumeric runs ≡ ``size(tokens(c))``
    (split on ``[^a-z0-9]+`` and drop empties), but stays a scalar
    regex pass inside whole-stage codegen — higher-order array
    functions evaluate their lambda interpreted per element (measured
    >10× slower on corpus-scale scoring).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit("[a-z0-9]+"))


def ngrams(arr: Column, n: int) -> Column:
    """Word n-grams (joined with ``_``) from a token array.

    Built as a ``zip_with`` chain over shifted copies of the array —
    O(n) total work instead of a per-position ``slice``+``concat_ws``
    (which re-allocates a sub-array per shingle; measured 6× slower on
    a 50k-doc corpus). Positions past the last full n-gram become NULL
    through the zip and are filtered. DuckDB twin (identical strings):
    ``list_transform(range(1, len(tk)-n+2), i -> tk[i] || '_' || ...)``.
    """
    size = F.size(arr)
    out = arr
    for i in range(1, n):
        shifted = F.slice(arr, i + 1, F.greatest(size - i, F.lit(0)))
        out = F.zip_with(
            out,
            shifted,
            lambda a, b: F.when(a.isNull() | b.isNull(), F.lit(None)).otherwise(
                F.concat(a, F.lit("_"), b)
            ),
        )
    return F.filter(out, lambda x: x.isNotNull())


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(F.lower(c), "[a-z0-9 ]", "")
    return F.length(stripped) / F.greatest(F.length(c), F.lit(1))


def _stopword_re(lang: str) -> str:
    """Regex matching a whole token equal to any stopword of ``lang``.

    The lookarounds pin the alternation to a maximal ``[a-z0-9]`` run,
    so a match ≡ one token from :func:`tokens` being in the list —
    counting duplicates, exactly like the list-filter formulation
    (``\\b`` would differ: ``_`` is a ``\\w`` char but a token
    separator here).
    """
    return "(?<![a-z0-9])(" + "|".join(STOPWORDS[lang]) + ")(?![a-z0-9])"


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of tokens that are English stopwords."""
    return stopword_hits(col, "en") / F.greatest(token_count(col), F.lit(1))


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang`` (language-ID).

    Single codegen'd regex pass (see :func:`token_count` for why not
    the higher-order list filter the DuckDB oracle uses).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(_stopword_re(lang)))


def quality_score(col: Column | str) -> Column:
    """Deterministic document quality score in [0,1]:
    rewards moderate length, low punctuation noise, some stopwords
    (C4/Gopher-style heuristics, public recipe shapes)."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    noise = punct_ratio(c)
    sw = stopword_ratio(c)
    return F.round(
        F.lit(0.5) * len_score
        + F.lit(0.3) * (F.lit(1.0) - F.least(noise * 5, F.lit(1.0)))
        + F.lit(0.2) * F.least(sw * 4, F.lit(1.0)),
        6,
    )


def lang_guess(col: Column | str, langs: list[str] | None = None) -> Column:
    """Stopword-hits argmax language ID over the ``STOPWORDS``
    languages (the text_doc_profile heuristic as a reusable column):
    highest hit count wins, ties break toward the EARLIER language in
    ``langs`` (default: STOPWORDS declaration order — pass
    ``sorted(STOPWORDS)`` for the alphabetical tie-break the
    text_doc_profile oracle uses). One ``greatest`` over
    (hits, -index, lang) structs — each language's regex runs once,
    all codegen."""
    pairs = [
        F.struct(
            stopword_hits(col, lg).alias("h"),
            F.lit(-i).alias("ni"),
            F.lit(lg).alias("lg"),
        )
        for i, lg in enumerate(langs if langs is not None else STOPWORDS)
    ]
    return F.greatest(*pairs).getField("lg")


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set. Near-identical docs that differ only in token order or
    duplication collide — the cheap exact-ish dedup key.

    NULL when the token set is empty: ``tokens`` is [a-z0-9]-only, so
    every fully non-Latin (CJK/Cyrillic/Arabic) or punctuation-only
    document used to fingerprint as ``md5('')`` — on a real crawl that
    collapsed all of them into ONE "exact duplicate" group and dedup
    dropped every such document but the first. No tokens = no content
    evidence = no fingerprint.

    DuckDB twin: ``CASE WHEN len(toks) > 0 THEN
    md5(array_to_string(list_sort(list_distinct(toks)), ' ')) END``.
    """
    toks = F.array_distinct(tokens(col))
    # sort_array, not array_sort: identical ascending order on a
    # null-free string array, but sort_array is codegen-capable while
    # array_sort's lambda comparator is CodegenFallback and would kick
    # the whole enclosing projection out of whole-stage codegen
    # (measured on text_doc_profile, r10)
    return F.when(
        F.size(toks) > 0, F.md5(F.concat_ws(" ", F.sort_array(toks)))
    )


#: Simplified GPT-2-style pre-tokenizer pattern (portable RE2/Java
#: subset: no lookarounds): contraction suffixes, space-prefixed
#: letter runs, digit runs, punctuation runs.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish pre-token count (the training-data budgeting number).

    Counts matches of :data:`BPE_SPLIT_RE` — the merge-free
    approximation of a GPT-2-style byte-pair tokenizer's pre-split,
    good enough for corpus token budgeting where whitespace counting
    under-counts punctuation-heavy text. One codegen regex pass, no
    Python.

    DuckDB twin: ``len(regexp_extract_all(col, BPE_SPLIT_RE))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_SPLIT_RE))


#: Decimal digits (HALF_UP) ``tf_idf_top_terms`` rounds each score to;
#: the DuckDB oracle rounds the same.
_TFIDF_DIGITS = 6


def tf_idf_top_terms(
    df,
    text_col: str,
    id_col: str,
    k: int = 5,
    tf: "DataFrame | None" = None,
):
    """Top-``k`` TF-IDF terms per document — corpus keyword profiling.

    Classic smoothed formulation: ``tf = count(term in doc)``,
    ``idf = ln((N + 1) / (df + 1)) + 1``. Plan shape (100 TB posture):
    explode → two hash aggregations (term-per-doc counts, document
    frequencies) → broadcast of the docfreq table ONLY if it is small
    (it usually is not — it's joined on the term key, hash shuffle) →
    window top-k per doc. Every step is map-side-combinable; nothing
    is quadratic in corpus size.

    Returns ``(id_col, term, tf, tfidf, rank)``. Deterministic:
    ties break on the term string.

    ``tf``: optional precomputed ``(id_col, term, tf)`` frame (the
    explode + groupBy below, verbatim). Callers that need the same
    term-frequency table for another scorer (tokens_retrieval_battery
    shares it with BM25) pass it here so the corpus is tokenized once
    and the (doc, term) exchange is shared (guide §2.4); the scoring
    math is unchanged either way.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if tf is None:
        # NULL ids dropped, as the shared tf frame does: a NULL id is
        # no document, and keeping it would move docfreq off the
        # tf= path's
        toks = df.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("term")
        ).filter(F.col(id_col).isNotNull())
        tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # N = documents contributing at least one term (zero-token docs
    # have no tf rows and no tfidf output, so they are outside the
    # corpus this statistic describes). Broadcast 1-row frame — no
    # driver action at construction.
    n_docs = tf.agg(F.count_distinct(F.col(id_col)).alias("_n"))
    # count(*), not countDistinct(id): tf is the output of
    # groupBy(id, term), so (id, term) is unique by construction and
    # the distinct machinery (per-group hash set + extra aggregate
    # mode) is pure overhead on the term-keyed exchange (r10 audit)
    docfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
    )
    idf = F.log((F.col("_n") + 1).cast("double") / (F.col("df") + 1)) + 1.0
    scored = tf.join(docfreq, "term").select(
        id_col,
        "term",
        "tf",
        F.round(F.col("tf") * idf, _TFIDF_DIGITS).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------------------------- corpus hygiene

#: PII patterns (portable RE2/Java subset, no lookarounds). Deliberately
#: conservative public shapes: emails, IPv4 addresses, phone numbers.
#: The goal is redaction before training, not perfect PII detection —
#: precision over recall, and deterministic. The PHONE alternation
#: requires a strong phone signal (international ``+`` prefix, an area
#: code in parentheses, or ≥3 dash/dot-separated groups) precisely so
#: that space-separated numeric text ("revenue 2020 2021 2022"), year
#: ranges ("2020-2021"), and digit runs spanning lines are NOT eaten;
#: a single literal space is the only whitespace allowed inside a
#: match (never ``\s`` — that would glue lines together).
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "IP": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "PHONE": (
        r"\+[0-9][0-9 ()\-]{5,16}[0-9]"
        r"|\([0-9]{2,4}\) ?[0-9]{2,4}[\-. ][0-9]{2,8}"
        r"|[0-9]{2,4}[\-.][0-9]{2,4}[\-.][0-9]{2,4}"
    ),
}


#: Control (Cc minus \\t \\n \\r) + common format (Cf) characters:
#: soft hyphen, zero-width spaces/joiners, bidi marks, word joiner,
#: invisible operators, BOM. Explicit ranges — portable to RE2.
CONTROL_FORMAT_RE = (
    "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f"
    "\u00ad\u200b-\u200f\u202a-\u202e\u2060-\u2064\ufeff]"
)


def clean_text(col: Column | str) -> Column:
    """Codegen-native text cleanup — the pre-dedup normalization pass
    every corpus pipeline runs before hashing anything:

    * strip control/format characters (``\\p{Cc}\\p{Cf}``) except
      newline and tab — zero-width joiners, BOMs, bidi marks et al.
      make visually identical texts hash differently;
    * tabs and runs of spaces collapse to one space; spaces around
      newlines drop;
    * runs of 3+ newlines collapse to 2 (paragraph break);
    * leading/trailing whitespace trimmed.

    Pure ``regexp_replace`` chain (no Python, no shuffle). The
    control/format set is written as explicit code-point ranges (not
    Java's ``\\p{Cf}&&...`` intersection syntax) so the identical
    pattern runs in DuckDB/RE2 for differential tests. Unicode
    canonical forms (NFC/NFKC) need a real Unicode library — see
    ``functions/udfs.normalize_unicode`` for that Arrow-batched step;
    run it BEFORE this when both apply.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, "\r\n?", "\n")  # CRLF/CR → LF
    c = F.regexp_replace(c, CONTROL_FORMAT_RE, "")
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return F.trim(c)


def redact_pii(col: Column | str) -> Column:
    """Replace PII spans with ``<KIND>`` placeholders.

    A chain of ``regexp_replace`` passes — scalar, codegen-native, no
    Python. Order matters and is fixed: emails first (their local part
    would otherwise be chewed by the phone pattern's digit runs), then
    IPs (dotted quads would otherwise match the dash/dot phone
    branch), then phones. DuckDB twin: the same ``regexp_replace(...,
    'g')`` chain in the same order.
    """
    c = F.col(col) if isinstance(col, str) else col
    for kind in PII_PATTERNS:
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"<{kind}>")
    return c


def pii_counts(col: Column | str) -> Column:
    """Struct of per-kind PII match counts (for filtering thresholds:
    e.g. drop documents with > k emails instead of redacting)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        *[
            F.regexp_count(c, F.lit(p)).alias(kind.lower() + "s")
            for kind, p in PII_PATTERNS.items()
        ]
    )


def dup_line_fraction(col: Column | str) -> Column:
    """Fraction of a document's non-empty lines that are duplicates of
    an earlier line (Gopher-style repetition signal). Pure array math
    on the split text — no explode, no shuffle.

    DuckDB twin: ``1 - len(list_distinct(lines)) / len(lines)`` over
    ``list_filter(string_split(text, chr(10)), x -> trim(x) <> '')``.
    """
    c = F.col(col) if isinstance(col, str) else col
    lines = F.filter(F.split(c, "\n"), lambda x: F.trim(x) != "")
    n = F.size(lines)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.round(
            (n - F.size(F.array_distinct(lines))).cast("double") / n, 6
        )
    )


def top_bigram_fraction(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document fraction of word bigrams taken by the single most
    frequent bigram (the "top n-gram" repetition filter from the
    Gopher recipe). Documents with no bigram (< 2 tokens) contribute
    no output row — left-join the result back and ``coalesce(...,
    0.0)`` when totality over the corpus is needed.

    This one genuinely aggregates (a per-doc mode), so it is a
    DataFrame→DataFrame operator: explode bigrams → (doc, gram)
    counts → one ``max``/``sum`` re-aggregation — two shuffles, both
    keyed by high-cardinality ids, map-side combinable. Returns
    ``(id_col, top_bigram_frac)``.
    """
    grams = df.select(
        F.col(id_col), F.explode(ngrams(tokens(text_col), 2)).alias("_g")
    )
    counts = grams.groupBy(id_col, "_g").agg(F.count(F.lit(1)).alias("_c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.round(
                F.max("_c").cast("double") / F.sum("_c"), 6
            ).alias("top_bigram_frac")
        )
    )
