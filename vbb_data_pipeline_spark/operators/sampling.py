"""Training-corpus sampling & sharding operators.

The north-star extension surface for assembling LLM training data at
100 TB: deterministic train/val/test splits, per-stratum sampling,
token-budget shard packing, and weighted domain mixing. None of these
exist in the reference (its loaders are row loops over a catalog-scale
corpus, ``database_loader/operators.py``); at corpus scale they are the
operations that decide what a model trains on.

Design rules shared by every operator here:

- **Hash-deterministic, not RNG-deterministic.** Membership decisions
  derive from a salted content hash of a stable key column, never from
  ``rand(seed)``: the assignment of a given document is reproducible
  across reruns, engines, partitionings and cluster sizes, and adding
  new documents never reshuffles old ones (the property that keeps a
  val set stable as the corpus grows).
- **Total over NULLs.** A NULL key hashes via a fixed sentinel, so
  NULL-keyed rows get a deterministic bucket instead of silently
  vanishing (a NULL comparison would fail every CASE/filter branch).
- **Codegen-native.** Every decision is a Column expression (hash,
  modulo, comparisons, one window for packing) — no Python in the row
  path, no driver-side collection.
- **Mode-switched hashing** like the dedup/similarity operators:
  ``oracle`` = md5-derived (bit-identical in DuckDB, differential
  tests in ``tests/test_sampling.py``), ``fast`` = JVM ``xxhash64``
  (production; see ``functions/hashing.py``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import default_hash_mode, hash_long

#: Buckets for membership decisions: fractions are resolved at 1/10000
#: granularity (0.01% — fine enough for any split/mix ratio anyone
#: writes down, coarse enough that threshold comparisons stay exact
#: integer math in both engines).
N_BUCKETS = 10_000

#: Stand-in hashed for NULL keys (a value no ``cast("string")`` of real
#: data produces — contains a NUL byte).
_NULL_KEY = "\x00<null-key>"


def _case_chain(
    branches: list[tuple[Column, Column]], default: Column
) -> Column:
    """``CASE WHEN c1 THEN v1 WHEN c2 THEN v2 … ELSE default END`` from
    an ordered branch list — the shared builder behind every tiny
    human-written mapping here (split thresholds, stratum fractions,
    domain factors). Keeps NULL/ordering semantics in one place."""
    expr = None
    for cond, value in branches:
        expr = F.when(cond, value) if expr is None else expr.when(cond, value)
    return default if expr is None else expr.otherwise(default)


def sample_bucket(
    key: Column | str, seed: str | int = 0, hash_mode: str | None = None
) -> Column:
    """Deterministic bucket in ``[0, N_BUCKETS)`` for a key column.

    The shared primitive: ``hash(seed | key) % 10000``. NULL keys hash
    a fixed sentinel, so the bucket itself is never NULL. DuckDB twin
    (oracle mode, non-NULL keys)::

        CAST('0x' || substr(md5('<seed>|' || CAST(key AS VARCHAR)), 1, 15)
             AS BIGINT) % 10000
    """
    mode = hash_mode or default_hash_mode()
    c = F.col(key) if isinstance(key, str) else key
    key_str = F.coalesce(c.cast("string"), F.lit(_NULL_KEY))
    salted = F.concat(F.lit(f"{seed}|"), key_str)
    return hash_long(salted, mode) % F.lit(N_BUCKETS)


def deterministic_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: str | int = 0,
    hash_mode: str | None = None,
) -> DataFrame:
    """Assign every row to exactly one named split (train/val/test/…).

    ``weights`` maps split name → relative weight (normalized, so
    ``{"train": 9, "val": 0.5, "test": 0.5}`` works). Assignment is a
    pure function of ``(seed, key)``: disjoint, exhaustive, stable
    under reruns and corpus growth. Zero shuffles — one hash + one
    ``CASE`` per row, pushed into whatever scan feeds it.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    bad = {k: v for k, v in weights.items() if float(v) < 0}
    if bad:
        # a negative weight passes the total check but inflates every
        # EARLIER split's cumulative threshold — rows silently land in
        # the wrong split with no error
        raise ValueError(f"weights must be non-negative: {bad}")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    bucket = sample_bucket(key_col, seed=seed, hash_mode=hash_mode)
    names = list(weights)
    branches = []
    acc = 0.0
    for name in names[:-1]:
        acc += weights[name] / total
        threshold = int(round(acc * N_BUCKETS))
        branches.append((bucket < F.lit(threshold), F.lit(name)))
    return df.withColumn("split", _case_chain(branches, F.lit(names[-1])))


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    key_col: str,
    seed: str | int = 0,
    hash_mode: str | None = None,
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows.

    The engine-portable ``sampleBy``: row survives iff
    ``bucket(seed, key) < fraction[stratum] * 10000``. Strata not in
    ``fractions`` (including NULL strata) are dropped.
    The fraction map compiles to a ``CASE`` chain (strata maps are
    human-written and tiny — no join, no broadcast, stays inside the
    scan's codegen stage), so this is a pure filter: zero shuffles,
    prunes at the scan when the stratum is a partition column.
    """
    for stratum, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {stratum!r} must be in [0,1]")
    bucket = sample_bucket(key_col, seed=seed, hash_mode=hash_mode)
    threshold = _case_chain(
        [
            (
                F.col(stratum_col) == F.lit(stratum),
                F.lit(int(round(frac * N_BUCKETS))),
            )
            for stratum, frac in fractions.items()
        ],
        F.lit(0),
    )
    return df.filter(bucket < threshold)


#: Modulus turning a hash into a uniform in (0, 1): 2^40 keeps
#: ((h % M) + 0.5) / M exactly representable as a double in both
#: engines (< 2^53 significand).
_U_MOD = 1 << 40


def weighted_sample_n(
    df: DataFrame,
    n: int,
    weight_col: str,
    key_col: str,
    seed: str | int = 0,
    hash_mode: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — exactly
    ``n`` rows, inclusion probability proportional to ``weight_col``
    (quality-weighted corpus draws, eval-set carving by score).

    The Efraimidis-Spirakis A-ES construction: each row gets an
    exponential race time ``es = -ln(u) / w`` with ``u`` uniform in
    (0,1), and the ``n`` smallest win. ``u`` derives from the same
    seeded hash as every membership decision here
    (``(hash(seed|key) % 2^40 + 0.5) / 2^40``), so the sample is a
    pure function of ``(seed, key, weight)`` — stable across reruns,
    partitionings and engines, and replayable in a DuckDB oracle.

    Rows with NULL or non-positive weight are excluded (they would
    win never/always degenerately). Plan: one scalar expression per
    row, then ``orderBy(es).limit(n)`` — TakeOrderedAndProject keeps a
    per-partition top-``n`` heap and merges on the driver; the corpus
    is never globally sorted. Tie-break on the key column.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    mode = hash_mode or default_hash_mode()
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit(_NULL_KEY))
    h = hash_long(F.concat(F.lit(f"ws|{seed}|"), key_str), mode)
    u = ((h % F.lit(_U_MOD)).cast("double") + F.lit(0.5)) / F.lit(
        float(_U_MOD)
    )
    w = F.col(weight_col).cast("double")
    es = -F.log(u) / w
    return (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("_es", es)
        .orderBy(F.col("_es").asc(), F.col(key_col).asc())
        .limit(n)
        .drop("_es")
    )


def pack_token_shards(
    df: DataFrame,
    group_cols: list[str],
    order_col: str | list[str],
    token_col: str,
    budget: int,
) -> DataFrame:
    """Greedy sequential packing of documents into token-budget shards.

    Within each group (ordered by ``order_col``), a running token sum
    closes a shard once it reaches the budget, so every shard except a
    group's last holds ≥ ``budget`` tokens and at most ``budget +
    max_single_doc - 1`` (a document is never split; one larger than
    the budget fills its shard alone past the budget). Shard ids are
    dense from 0 per group — a raw ``floor(tokens_before / budget)``
    would skip ids whenever one document spans ≥ 2 budgets, so the raw
    id is re-labeled through ``dense_rank``.

    One shuffle: both windows share the same ``partitionBy``, so the
    dense re-label reuses the pack exchange (two sorts, one exchange —
    visible in the plan test). ``group_cols`` is required and is the
    parallelism unit at 100 TB — pack per (lang, source) or per
    hash-prefix salt; a single global pack would serialize the corpus
    through one task, so this API refuses it.
    """
    if not group_cols:
        raise ValueError(
            "group_cols must be non-empty: a global pack serializes the "
            "corpus through one window partition; salt first"
        )
    if budget <= 0:
        raise ValueError("budget must be positive")
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    # the order must be a total order within each group — ties make the
    # running sum (and therefore shard assignment) partition-dependent
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL token counts behave as 0-token docs (module rule: total
    # over NULLs) — the raw `cum - token` would be NULL for them, and
    # dense_rank sorts NULLs FIRST, minting a phantom shard 0 that
    # shifts every real shard by one
    tok = F.coalesce(F.col(token_col).cast("long"), F.lit(0).cast("long"))
    cum = F.sum(tok).over(w)
    before = cum - tok
    raw = F.floor(before / F.lit(budget)).cast("long")
    return (
        df.withColumn("_shard_raw", raw)
        .withColumn(
            "shard_id",
            (F.dense_rank().over(
                Window.partitionBy(*group_cols).orderBy("_shard_raw")
            ) - 1).cast("long"),
        )
        .drop("_shard_raw")
    )


def weighted_domain_mix(
    df: DataFrame,
    domain_col: str,
    factors: dict[str, float],
    key_col: str,
    epoch: int = 0,
    seed: str | int = 0,
    hash_mode: str | None = None,
) -> DataFrame:
    """Re-weight domains by fractional repeat factors (epoch-aware).

    ``factors`` maps domain → target multiplicity: ``2.5`` emits every
    row twice plus a deterministic half of rows a third time; ``0.3``
    keeps a deterministic 30%. The fractional decision hashes
    ``(seed, epoch, key)``, so different epochs up-sample *different*
    residual rows (the standard trick to avoid over-fitting the same
    boost set every epoch) while any one epoch is fully reproducible.
    Domains absent from ``factors`` — including NULL domains — pass
    through at 1.0.

    Expansion is ``explode(sequence(1, n_copies))`` — generated
    map-side inside the scan stage, zero shuffles, no Python. Output
    gains ``copy_idx`` (1-based) so downstream shuffles can re-salt
    repeats apart.
    """
    for domain, r in factors.items():
        if r < 0:
            raise ValueError(f"factor for {domain!r} must be >= 0")
    factor = _case_chain(
        [
            (F.col(domain_col) == F.lit(domain), F.lit(float(r)))
            for domain, r in factors.items()
        ],
        F.lit(1.0),
    )

    whole = F.floor(factor).cast("long")
    frac_threshold = F.round((factor - F.floor(factor)) * N_BUCKETS).cast("long")
    bucket = sample_bucket(
        key_col, seed=f"{seed}|epoch{epoch}", hash_mode=hash_mode
    )
    n_copies = whole + (bucket < frac_threshold).cast("long")
    out = (
        df.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") > 0)
        .withColumn(
            "copy_idx",
            F.explode(
                F.sequence(
                    F.lit(1).cast("long"),
                    F.col("_n_copies"),
                    F.lit(1).cast("long"),
                )
            ),
        )
        .drop("_n_copies")
    )
    return out


def shard_manifest(
    packed: DataFrame,
    group_cols: list[str],
    token_col: str,
) -> DataFrame:
    """Per-shard loader manifest: ``(group_cols…, shard_id, n_docs,
    n_tokens)``. One map-side-combinable aggregation over the packed
    output; training loaders enumerate it instead of listing files,
    and :func:`pack_token_shards_incremental` resumes from it.
    """
    return packed.groupBy(*group_cols, "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(token_col)).cast("long").alias("n_tokens"),
    )


def merge_manifests(
    manifests: list[DataFrame],
    group_cols: list[str],
) -> DataFrame:
    """Combine per-batch :func:`shard_manifest` outputs into one.

    The repeated-increment loop: manifest(A∪B) = merge(manifest(A),
    manifest(B-increment)) — union + one (group, shard) re-sum, all at
    catalog scale, so chaining batches never re-aggregates packed
    corpus rows (a topped-up tail shard appears in both inputs and its
    token counts add).
    """
    if not manifests:
        raise ValueError("manifests must be non-empty")
    out = manifests[0]
    for m in manifests[1:]:
        out = out.unionByName(m)
    return out.groupBy(*group_cols, "shard_id").agg(
        F.sum(F.col("n_docs")).cast("long").alias("n_docs"),
        F.sum(F.col("n_tokens")).cast("long").alias("n_tokens"),
    )


def pack_token_shards_incremental(
    new_docs: DataFrame,
    manifest: DataFrame,
    group_cols: list[str],
    order_col: str | list[str],
    token_col: str,
    budget: int,
) -> DataFrame:
    """Pack a NEW batch of documents without repacking existing shards.

    Corpus growth is append-only at 100 TB: repacking petabytes to add
    a day's crawl is a non-starter, and rewriting an existing shard
    would also reshuffle what a resumable training run has already
    consumed. This continues the greedy pack exactly where
    :func:`shard_manifest` left off: per group, new documents first
    top up the last (possibly under-budget) shard, then open new ones.
    Packing increments A then B equals packing A∪B in one pass with A
    ordered before B (asserted in tests).

    The manifest side is catalog-scale (one row per shard) — it
    aggregates to one row per group and broadcasts into the new
    batch's pack window. Groups unseen in the manifest start at shard
    0 with an empty tail. Same single data exchange as
    :func:`pack_token_shards`.
    """
    if not group_cols:
        raise ValueError(
            "group_cols must be non-empty: a global pack serializes the "
            "corpus through one window partition; salt first"
        )
    if budget <= 0:
        raise ValueError("budget must be positive")
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)

    # Resume state per group. Greedy boundaries sit at ABSOLUTE
    # multiples of the budget (floor(tokens_before / budget)), so the
    # continuation offset is T mod budget where T = total tokens packed
    # — NOT the last shard's token count (an overflowing shard eats
    # into the next block's capacity). The new batch continues in the
    # last shard iff the block containing position T already holds a
    # document, i.e. floor(T/budget) == floor((T - tail_tokens)/budget)
    # (every doc of the last shard starts in that same block).
    t = F.col("_total")
    tail = F.col("_tail_tokens")
    cont = F.floor(t / F.lit(budget)) == F.floor((t - tail) / F.lit(budget))
    # normalize first: a manifest assembled by unioning per-batch
    # manifests (see merge_manifests) carries duplicate (group, shard)
    # rows for a topped-up tail shard — sum them before picking the
    # tail, or max_by would read an arbitrary duplicate
    manifest = manifest.groupBy(*group_cols, "shard_id").agg(
        F.sum(F.col("n_tokens")).cast("long").alias("n_tokens")
    )
    last = (
        manifest.groupBy(*group_cols)
        .agg(
            F.max(F.col("shard_id")).alias("_last_shard"),
            F.sum(F.col("n_tokens")).cast("long").alias("_total"),
            F.max_by(F.col("n_tokens"), F.col("shard_id")).alias("_tail_tokens"),
        )
        .select(
            *group_cols,
            F.when(cont, F.col("_last_shard"))
            .otherwise(F.col("_last_shard") + 1)
            .alias("_base_shard"),
            (t % F.lit(budget)).cast("long").alias("_tail_fill"),
        )
    )

    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # eqNullSafe: NULL group keys are real window partitions for the
    # packer (module rule: total over NULLs), so they must also find
    # their manifest row — a plain equi-join would silently restart
    # NULL groups at shard 0, colliding with existing shards
    cond = None
    for c in group_cols:
        eq = new_docs[c].eqNullSafe(last[c])
        cond = eq if cond is None else (cond & eq)
    joined = new_docs.join(F.broadcast(last), cond, "left").select(
        new_docs["*"],
        F.coalesce(F.col("_base_shard"), F.lit(0).cast("long")).alias(
            "_base_shard"
        ),
        F.coalesce(F.col("_tail_fill"), F.lit(0).cast("long")).alias(
            "_tail_fill"
        ),
    )
    # same NULL-token-as-0 rule as pack_token_shards: a NULL raw
    # would rank first under dense_rank and break the "first row has
    # raw 0" anchor onto _base_shard
    tok = F.coalesce(F.col(token_col).cast("long"), F.lit(0).cast("long"))
    cum = F.sum(tok).over(w)
    before = cum - tok + F.col("_tail_fill")
    raw = F.floor(before / F.lit(budget)).cast("long")
    # dense-close gaps from oversized docs. The group's first row in
    # pack order always has raw 0 (_tail_fill < budget by
    # construction), so dense ids anchor exactly onto _base_shard.
    dense = F.dense_rank().over(
        Window.partitionBy(*group_cols).orderBy("_shard_raw")
    ) - 1
    return (
        joined.withColumn("_shard_raw", raw)
        .withColumn("shard_id", (F.col("_base_shard") + dense).cast("long"))
        .drop("_shard_raw", "_base_shard", "_tail_fill")
    )


def stratified_sample_n(
    df: DataFrame,
    stratum_col: str,
    n_per_stratum: dict[str, int],
    key_col: str,
    seed: str | int = 0,
    hash_mode: str | None = None,
) -> DataFrame:
    """Keep an EXACT number of rows per stratum (deterministic).

    The eval-set builder: "10k docs per language" needs exact counts,
    which fractional sampling can't promise. Rows rank by their hash
    bucket (ties broken by the key itself, so the order is total) and
    the first ``n`` per stratum survive. Within a stratum this is the
    same membership a smaller ``n`` would choose — shrinking the
    target keeps a subset, growing it only adds (nested samples).

    Strata absent from ``n_per_stratum`` are dropped — BEFORE the
    window, so only requested strata pay the rank shuffle. One
    shuffle, keyed by the stratum (fine for human-enumerated strata;
    for very large targets pre-thin with :func:`stratified_sample`).
    """
    for stratum, n in n_per_stratum.items():
        if n < 0:
            raise ValueError(f"count for {stratum!r} must be >= 0")
    df = df.filter(F.col(stratum_col).isin(list(n_per_stratum)))
    bucket = sample_bucket(key_col, seed=seed, hash_mode=hash_mode)
    target = _case_chain(
        [
            (F.col(stratum_col) == F.lit(stratum), F.lit(int(n)))
            for stratum, n in n_per_stratum.items()
        ],
        F.lit(0),
    )
    w = Window.partitionBy(stratum_col).orderBy(
        F.col("_bucket").asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_bucket", bucket)
        .withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= target)
        .drop("_bucket", "_rank")
    )


def export_shuffle(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: str | int = 0,
    hash_mode: str | None = None,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Deterministic global shuffle + sharding for training export.

    Training prep ends with "shuffle the corpus and write N shards" —
    an order that must be pseudo-random (no source/domain runs: a
    model fed a million consecutive same-domain docs drifts), yet
    exactly reproducible across reruns, engines and cluster sizes.
    ``ORDER BY rand()`` is neither; a global ``ORDER BY hash`` is
    reproducible but serializes the corpus through one sort.

    This takes the 100 TB shape instead: ``shard = hash(seed|key) %
    n_shards`` (uniform by construction — no skew salt needed), and
    within each shard ``pos = row_number() ordered by (hash, key)``.
    One exchange keyed on the shard id, each task sorting only its
    shard (n·log(n/S) total, embarrassingly parallel); writers emit
    shard files with ``partitionBy(shard) + sortWithinPartitions`` and
    readers interleave shards round-robin for the global pseudo-random
    order. Hash-determinism rules follow the module header (salted
    content hash, NULL-safe sentinel, mode-switched md5/xxhash64).

    Contract: ``key_col`` must be UNIQUE per row (a doc id / primary
    key). The within-shard order breaks ties by (hash, key) only, so
    duplicate keys — which also collide on the hash — would get
    engine/partitioning-dependent ``pos`` values and break the
    exactly-reproducible guarantee. Dedupe or add a row-number key
    upstream if the export key can repeat.

    ``group_cols`` scopes the shard streams: positions are assigned
    within ``(group…, shard)`` so rows of different groups (train/val
    splits, languages) never share a stream — required whenever the
    downstream writer must not interleave groups. Key uniqueness is
    then per group.
    """
    mode = hash_mode or default_hash_mode()
    group_cols = list(group_cols or [])
    key_str = F.coalesce(
        F.col(key_col).cast("string"), F.lit(_NULL_KEY)
    )
    h = hash_long(F.concat(F.lit(f"{seed}|"), key_str), mode)
    out = df.withColumn("_h", h).withColumn(
        "shard", (F.col("_h") % F.lit(n_shards)).cast("long")
    )
    w = Window.partitionBy(*group_cols, "shard").orderBy(
        F.col("_h"), key_str
    )
    return out.withColumn(
        "pos", F.row_number().over(w).cast("long")
    ).drop("_h")


def pack_sequences(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    seq_len: int,
    n_shards: int,
    seed: str | int = 0,
    hash_mode: str | None = None,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence-packing PLAN for training export.

    Pre-training batches are fixed-length token sequences; feeding one
    short document per sequence wastes most of the context window, so
    the standard recipe (GPT-2/3 style) concatenates the shuffled
    corpus into one token stream per shard and slices it into
    ``seq_len`` blocks. This operator computes the deterministic plan
    of that layout — for every document, where its tokens land:

    ``shard`` / ``pos``      — :func:`export_shuffle` order (hash
                               shard + within-shard pseudo-random
                               order; same reproducibility contract,
                               ``key_col`` unique per row);
    ``start_off``/``end_off``— the document's [start, end) token span
                               in its shard's concatenated stream
                               (prefix sum of preceding token counts);
    ``first_seq``/``last_seq`` — the range of ``seq_len``-sized
                               training sequences the document
                               touches (``last_seq`` inclusive; an
                               empty document spans just
                               ``first_seq``).

    The actual token writer is then embarrassingly parallel: one
    worker per shard streams its documents in ``pos`` order
    (``repartition(shard) + sortWithinPartitions`` feeding a
    ``mapInPandas`` tokenizer) and emits sequence files — no token
    ever crosses shard boundaries, and rerunning the plan on any
    engine or cluster size reproduces byte-identical shards.

    Scale shape: ONE exchange keyed on the shard id; the prefix sum is
    a per-shard window (each task sorts and scans only its shard,
    n·log(n/S)); every derived column is int64 arithmetic
    (``div``-exact, engine-identical). No global sort, no driver
    state, no floats.
    """
    group_cols = list(group_cols or [])
    out = export_shuffle(
        df, key_col, n_shards, seed=seed, hash_mode=hash_mode,
        group_cols=group_cols,
    )
    w = (
        Window.partitionBy(*group_cols, "shard")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = F.col(tokens_col).cast("long")
    out = out.withColumn(
        "start_off",
        F.coalesce(F.sum(toks).over(w), F.lit(0)).cast("long"),
    ).withColumn("end_off", (F.col("start_off") + toks).cast("long"))
    return out.withColumn(
        "first_seq", F.expr(f"start_off div {int(seq_len)}")
    ).withColumn(
        "last_seq",
        F.expr(f"greatest(end_off - 1, start_off) div {int(seq_len)}"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    stride: int | None = None,
) -> DataFrame:
    """Split long ``text`` documents into token-window chunks — the long-doc
    preprocessing step of both training-data prep (context-length
    splitting before :func:`pack_token_shards`) and retrieval
    indexing (RAG passages; chunks are what BM25/ANN index, not whole
    documents).

    ``stride`` defaults to ``chunk_tokens`` (disjoint windows); a
    smaller stride overlaps consecutive chunks (the standard RAG
    recipe, e.g. 128/96). Chunk starts are ``0, stride, 2·stride, …``
    while ``start < n_tokens``, so every token is covered and the
    last chunk may be short; zero-token documents produce no chunks.

    Entirely native (100 TB posture): tokenize → ``sequence`` of
    starts → ``posexplode`` → ``slice`` + ``array_join`` — one
    codegen projection and one explode, no shuffle, no Python; output
    rows are ∝ input tokens / stride.

    Returns ``(doc_id, chunk_idx, start_token, n_chunk_tokens,
    chunk_text)``.
    """
    from vbb_data_pipeline_spark.functions.text import tokens

    step = int(stride if stride is not None else chunk_tokens)
    if step <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    if step > int(chunk_tokens):
        # starts advance by `stride` but each chunk covers only
        # `chunk_tokens` — a larger stride leaves [start+chunk_tokens,
        # start+stride) uncovered, breaking the every-token-covered
        # contract silently
        raise ValueError(
            f"stride ({step}) must not exceed chunk_tokens "
            f"({int(chunk_tokens)}): tokens between consecutive chunks "
            "would never appear in any chunk"
        )
    toked = df.select(
        F.col("doc_id"), tokens("text").alias("_tk")
    ).withColumn("_n", F.size("_tk"))
    exploded = (
        toked.filter(F.col("_n") > 0)
        .select(
            "doc_id",
            "_tk",
            F.posexplode(
                F.sequence(F.lit(0), F.col("_n") - 1, F.lit(step))
            ).alias("chunk_idx", "_start"),
        )
    )
    piece = F.slice(F.col("_tk"), F.col("_start") + 1, chunk_tokens)
    return exploded.select(
        F.col("doc_id"),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("_start").cast("long").alias("start_token"),
        F.size(piece).cast("int").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )
