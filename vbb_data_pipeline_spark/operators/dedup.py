"""Deduplication operators (north-star extensions).

Exact, fingerprint, MinHash+LSH, SimHash and n-gram-Jaccard dedup over
a document corpus — the operations a 100 TB training-data pipeline
runs before anything else. All variants are expressed with built-in
DataFrame ops (explode → agg → band-join); the hash primitive is the
cross-engine ``md5_long`` (functions/hashing.py) so every stage is
verifiable against the DuckDB oracle. Swap ``md5_long`` for
``xxhash64`` on the pure-Spark fast path if oracle parity is not
needed.

Scale design: no pairwise O(n²) anywhere — candidate generation is
always a hash-bucket equi-join (LSH banding / simhash buckets /
fingerprint groups), which shuffles on the band key and stays linear
in corpus size. This follows the standard MinHash/LSH construction
(Broder; Leskovec-Rajaraman-Ullman, Mining of Massive Datasets ch.3).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vbb_data_pipeline_spark.functions.hashing import md5_long
from vbb_data_pipeline_spark.functions.text import fingerprint, ngrams, tokens

#: Storage level for localCheckpoints of CORPUS-SCALE frames
#: (candidate edges, CC labels, rewritten text). The default level
#: stores blocks as DESERIALIZED JVM objects whose unroll is the
#: allocation that killed the 20 GB crawl decade (Java heap space in
#: MemoryStore.putIteratorAsValues storing star-candidate partitions,
#: CRAWL_E2E.json r8): row objects are ~3-5x the serialized bytes and
#: the unroll vector resizes in large contiguous chunks. Serialized
#: blocks unroll incrementally with memory-checked spill to disk —
#: the at-rest posture, traded for a deserialization on each re-read.
#: Model-scale frames (centroids, vocab, per-round scalars) keep the
#: default. (PySpark naming: MEMORY_AND_DISK is the SERIALIZED level;
#: the deserialized DataFrame-cache default is MEMORY_AND_DISK_DESER.)
#:
#: Trade-off shared by every ``localCheckpoint`` in this module: the
#: blocks exist only on the executor that computed them and the
#: lineage behind them is cut, so losing an executor (preemption,
#: dynamic allocation) loses the blocks and FAILS the job instead of
#: recomputing them. A single-host run cannot lose an executor; a
#: cluster deployment that expects executor loss should swap in a
#: reliable ``checkpoint()`` at these call sites.
CKPT_SER = StorageLevel.MEMORY_AND_DISK


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the lowest-id row per key group.

    Deterministic (unlike ``dropDuplicates``, whose survivor depends on
    partitioning) so results are oracle-comparable and stable across
    cluster sizes. Implemented as a min-id semi-join rather than a
    window over the full payload: the wide columns never shuffle.

    NULL-safe on the keys (SQL GROUP BY semantics: NULLs form one
    group and its min-id row survives). The previous name-list
    semi-join compiled to plain ``=``, so NULL-key rows matched
    NOTHING and silently vanished from the output entirely.
    """
    keep = df.groupBy(*key_cols).agg(F.min(id_col).alias("_keep_id"))
    cond = df[id_col] == keep["_keep_id"]
    for c in key_cols:
        cond = cond & df[c].eqNullSafe(keep[c])
    return df.join(keep, cond, "left_semi")


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup on the sorted-token-set fingerprint — catches
    reordered / re-duplicated token content at hash-join cost.

    Docs with a NULL fingerprint (empty token set — see
    ``functions/text.fingerprint``) are kept AS-IS: no token evidence
    means no basis for calling two documents duplicates, so they pass
    through rather than collapsing into one survivor.

    Each document is fingerprinted ONCE: a narrow ``(id, _fp)`` frame
    is ``localCheckpoint``-ed and the survivor ids — the min id of
    every non-null fingerprint group plus every null-fingerprint id —
    are semi-joined back onto ``df``. Consumers of the result (E4's
    MinHash branches, Jaccard sets and final anti-join) therefore
    re-read the scan but never re-fingerprint it. Only the
    id/fingerprint frame is pinned, never the text-bearing one
    (pinned text starved execution memory at the 10 GB crawl decade —
    the ``materialize_dir`` note in ``pipelines.e6_crawl_corpus``).
    Losing an executor loses the checkpoint and fails the job (see
    ``CKPT_SER``).

    Equivalence with fingerprinting inside the keep-min group and the
    null pass-through (``exact_dedup`` on the non-null rows, unioned
    with the null rows): a row survives there iff its id is the min id
    of its fingerprint group or its fingerprint is null; here iff its
    id is in that same id set. The two agree whenever ids are unique
    and non-null, which E4's output contract already requires. (A
    duplicated id could survive here through another row's group; a
    null id never matches the semi-join, so a null-id,
    null-fingerprint row would drop.)"""
    fp = df.select(
        F.col(id_col), fingerprint(text_col).alias("_fp")
    ).localCheckpoint(storageLevel=CKPT_SER)
    keep_ids = (
        fp.filter(F.col("_fp").isNotNull())
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
        .unionByName(fp.filter(F.col("_fp").isNull()).select(id_col))
    )
    return df.join(keep_ids, id_col, "left_semi")


#: Modulus for the double-hashing MinHash family: 2^59 keeps
#: h1 + 15·h2 < 2^63 (no int64 overflow in either engine).
MINHASH_MOD = 1 << 59


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash_mode: str = "fast",
) -> DataFrame:
    """MinHash signatures from word-``shingle_n``-gram shingles.

    One row per doc: ``id_col, mh_0 .. mh_{H-1}``. The hash family is
    Kirsch-Mitzenmacher double hashing — each shingle is hashed to one
    (h1, h2) pair and ``h_i = (h1 + i·h2) mod 2^59`` derives the family
    with pure int64 arithmetic (16× fewer hash evaluations than one
    hash per family member).

    ``hash_mode="fast"`` (default) uses JVM ``xxhash64`` — the
    production path. ``"oracle"`` uses md5-derived slices that DuckDB
    reproduces bit-for-bit (functions/hashing.py), for driver
    verification. Explode → groupBy-min is a single shuffle on doc id
    with map-side partial mins; signature width is a constant.
    """
    from vbb_data_pipeline_spark.functions.hashing import hash_long_pair

    shingled = df.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(ngrams(tokens(text_col), shingle_n))
        ).alias("_shingle"),
    )
    m = F.lit(MINHASH_MOD)
    p1, p2 = hash_long_pair(F.col("_shingle"), hash_mode)
    hashed = shingled.select(
        F.col(id_col),
        (p1 % m).alias("_h1"),
        (p2 % m).alias("_h2"),
    )
    def h_i(i: int):
        # int64 is exact only while h1 + i*h2 < 2^63, i.e. i <= 15 at
        # MINHASH_MOD = 2^59; wider families (num_hashes > 16) used to
        # OVERFLOW — an ANSI-mode crash, or silent wraparound with
        # ANSI off. decimal(38,0) keeps the high members exact and
        # bit-identical to the mathematical value the long path
        # produces below the threshold.
        if (i * (MINHASH_MOD - 1) + (MINHASH_MOD - 1)) < (1 << 63):
            return (F.col("_h1") + F.lit(i) * F.col("_h2")) % m
        dec = "decimal(38,0)"
        return (
            (
                F.col("_h1").cast(dec)
                + F.lit(i).cast(dec) * F.col("_h2").cast(dec)
            )
            % F.lit(MINHASH_MOD).cast(dec)
        ).cast("long")

    aggs = [F.min(h_i(i)).alias(f"mh_{i}") for i in range(num_hashes)]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    hash_mode: str = "fast",
    max_bucket_size: int | None = None,
    pair_mode: str = "all",
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``num_hashes // bands`` rows; docs sharing any band hash are
    candidate near-duplicates.

    Returns distinct ``(id_a, id_b)`` with ``id_a < id_b``. The
    band-bucket self-join is the scale path: shuffle on band key,
    never O(n²) — EXCEPT inside a degenerate bucket. A band value
    shared by millions of documents (empty docs, a boilerplate
    template) makes that one bucket quadratic: 10M occupants = 50×10¹²
    pairs from a single reducer. ``max_bucket_size`` caps it: buckets
    with more occupants are dropped from candidate generation (one
    extra map-side-combinable count per bucket — the occupancy frame
    is (bucket, n), not pairs). The standard recall argument: a
    near-dup pair colliding ONLY in a pathological bucket has
    `bands - 1` other chances, and members of such buckets are better
    handled by exact/fingerprint dedup (identical content) than by a
    quadratic join. Default None preserves exact recall — the
    oracle-checked registry query replays banding without a cap;
    set it (e.g. 100_000) for production corpus runs.

    ``pair_mode``: ``"all"`` (default) emits every within-bucket pair
    — exact pair recall, QUADRATIC per bucket. ``"star"`` emits only
    (bucket-min, member) edges — n−1 rows per bucket instead of
    n(n−1)/2, the right shape when the pairs feed CONNECTED
    COMPONENTS (dedup clustering needs connectivity, not the full
    pair set). Measured motivation: a 1 GB crawl with 500-member
    near-dup families generates ~2.5 billion candidate rows in
    ``all`` mode and OOMs 0.5 GB/task executors; ``star`` bounds the
    same corpus to ~10 million edges. Recall tradeoff, documented: a
    member whose verified similarity to the bucket hub falls below
    the caller's threshold detaches from the family even if it is
    near some OTHER member; it usually reattaches via one of the
    ``bands − 1`` other buckets (different hub), so the loss is
    second-order — the property test pins a 500-variant family
    collapsing to one survivor in star mode.

    MEASURED recall (tools/star_recall.py → STAR_RECALL.json, r7;
    all-pairs ground truth on a mixed corpus of families,
    near-threshold pairs, bridge chains and a mega-family):
    detached-pair rate 0.69 % at sf0.1 / 0.27 % at sf1 (shrinking
    with scale), cluster-split rate 1.5 % / 0.39 %. At that loss a
    rescue pass (re-running ``all`` restricted to the members star
    detached) is NOT worth its second candidate join. Flip to
    star+rescue only when a re-measurement on YOUR corpus shows
    detached-pair rate above ~5 % or cluster-split rate above ~10 %
    — the regime where families fragment faster than the bands−1
    reattachment argument repairs them (heavily chained corpora:
    long near-dup BRIDGES instead of hub-shaped families, or
    num_hashes/bands tuned so low that hubs verify sub-threshold
    against their own bucket members). Below that, the measured
    star cost is strictly dominated: same CC clusters, ~15× fewer
    candidate edges on family-shaped corpora.
    """
    # ONE bucket derivation shared with the at-rest index
    # (_band_buckets): the two paths had re-implemented it separately
    # and already drifted on the bucket's type — any payload change
    # made in one copy would silently desync batch LSH from
    # incremental LSH for the same document pair. The string cast is
    # injective, so the pair set is unchanged.
    band_cols = _band_buckets(id_col, num_hashes, bands, hash_mode)
    banded = signatures.select(F.col(id_col), *band_cols)
    melted = banded.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias("_bucket"),
    )
    if max_bucket_size is not None:
        ok = (
            melted.groupBy("_bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("_bucket")
        )
        melted = melted.join(ok, "_bucket", "left_semi")
    if pair_mode == "star":
        # The hub is a window min over the bucket, so ``melted`` — and
        # the signature lineage under it (shingle, hash, the
        # groupBy(doc_id) shuffle) — is read by ONE branch. A
        # groupBy-min hub table joined back onto ``melted`` yields the
        # same distinct (hub, member) edges but reads it twice, and
        # AQE does not reuse that exchange.
        hub = F.min(id_col).over(Window.partitionBy("_bucket"))
        return (
            melted.withColumn("_hub", hub)
            .filter(F.col(id_col) != F.col("_hub"))
            .select(
                F.col("_hub").alias("id_a"),
                F.col(id_col).alias("id_b"),
            )
            .distinct()
        )
    if pair_mode != "all":
        raise ValueError(f"pair_mode must be all|star: {pair_mode}")
    a = melted.alias("a")
    b = melted.alias("b")
    pairs = (
        a.join(b, "_bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    hash_mode: str = "fast",
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (the re-rank step
    after LSH): join word-trigram shingle sets in, compute
    |∩| / |∪| with array built-ins.

    The sets are HASHED shingles (8-byte longs), not the shingle
    strings: |∩| and |∪| — and therefore the Jaccard value — are
    identical absent a 63-bit hash collision (~n²/2^63, negligible at
    any corpus size), while the verify join ships ~8 bytes per
    shingle instead of a ~60-byte string object. Measured necessity:
    at the 10 GB crawl decade (25M docs, every doc a near-dup
    candidate) the string-array verify join OOMed the 0.5 GB/task
    JVM from allocation pressure alone; the DuckDB oracles keep
    computing over string sets — same cardinalities, same values."""
    # Only candidate docs need their shingle sets materialized — the
    # candidate id list is tiny relative to the corpus, so semi-join
    # first and shingle after (at 100 TB this is the difference between
    # shingling everything twice and shingling ~0.1%). The candidate
    # list is consumed three times (two id projections + the pair
    # join); localCheckpoint materializes the LSH lineage once AND
    # truncates it. Deliberately NOT ``persist()``: a persisted frame
    # registers its full canonicalized plan in the session-wide
    # CacheManager, and every subsequent query in the session then
    # pays a plan-tree comparison against it during physical planning
    # (measured: +3-30 s per query later in a bench run) with no way
    # to unpersist from here — checkpointed frames bypass the
    # CacheManager entirely. Executor loss fails the job (CKPT_SER).
    candidates = candidates.localCheckpoint(storageLevel=CKPT_SER)
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # NO broadcast hint: on a typical corpus candidates are ~0.1% of
    # docs and AQE broadcasts this semi-join on its own; on a crawl
    # where near-dups dominate (the 10 GB mega-family decade: EVERY
    # doc is a candidate) a forced broadcast explodes a 25M-row id
    # set into every task's hash relation and OOMs the JVM — measured,
    # CRAWL_E2E.json. AQE picks shuffle there instead.
    from vbb_data_pipeline_spark.functions.hashing import hash_long

    sets_df = df.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                ngrams(tokens(text_col), 3),
                lambda g: hash_long(g, hash_mode),
            )
        ).alias("_set"),
    )
    out = (
        candidates.join(
            sets_df.select(F.col(id_col).alias("id_a"), F.col("_set").alias("_sa")),
            "id_a",
        )
        .join(
            sets_df.select(F.col(id_col).alias("id_b"), F.col("_set").alias("_sb")),
            "id_b",
        )
        .withColumn("_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn("_union", F.size(F.array_union("_sa", "_sb")))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_inter") / F.greatest(F.col("_union"), F.lit(1)), 6
            ).alias("jaccard"),
        )
    )
    return out


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """16-bit SimHash (Charikar) over word tokens.

    Bit b of the hash is the sign of Σ_tokens (±1 depending on bit b of
    the token's ``xxhash64``).
    Near-duplicates have small Hamming distance
    (compare with ``bit_count(simhash_a ^ simhash_b)``).
    One explode + one groupBy; the per-bit sums are algebraic
    aggregates with map-side combine.
    """
    from vbb_data_pipeline_spark.functions.hashing import hash_long

    tok = df.select(F.col(id_col), F.explode_outer(tokens(text_col)).alias("_t"))
    h = hash_long(F.col("_t"), "fast")
    bit_sums = [
        F.sum(
            F.when(F.col("_t").isNull(), F.lit(0)).otherwise(
                (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)
            )
        ).alias(f"_s{b}")
        for b in range(16)
    ]
    summed = tok.groupBy(id_col).agg(*bit_sums)
    sim = None
    for b in range(16):
        term = F.when(F.col(f"_s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return summed.select(F.col(id_col), sim.cast("long").alias("simhash"))


def line_dedup_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-WIDE line-level dedup (the C4 construction, Raffel et
    al. 2020 §2.2: every three-sentence span / line is kept once
    across the whole corpus): a line survives only in its first
    occurrence — smallest ``(id_col, line_no)`` over all documents —
    and every other copy is dropped; documents are then reassembled
    in original line order. Removes boilerplate (headers, footers,
    license blocks, navigation) that within-document signals
    (``functions/text.dup_line_fraction``) cannot see.

    Lines shorter than ``min_chars`` pass through unconditionally
    (blank lines and separators are structure, not boilerplate). The
    default is 1 so EMPTY lines are structure out of the box — a 0
    default used to dedupe every paragraph break corpus-wide,
    rewriting ``a\\n\\nb`` documents to ``a\\nb`` everywhere but the
    first occurrence of the blank line, under the very docstring that
    promised otherwise. Pass 0 explicitly to dedupe blanks too.

    Skew-safe 100 TB shape: the winner election groups by LINE HASH
    with ``min(struct(id, line_no))`` — map-side combinable, and the
    exchange carries only ``(hash, id, line_no)`` triples, so a line
    occurring a billion times ("", "---") combines to one row per map
    task instead of sorting a billion-row window partition. Full line
    text shuffles exactly twice: the semi-join against the winner set
    (keyed on ``(id, line_no)`` — unskewed by construction) and the
    per-document reassembly groupBy.

    Returns ``(id_col, text_col)`` with deduplicated text; documents
    whose every eligible line was removed keep their surviving short
    lines (possibly the empty string).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_line_no", "_line"),
    )
    eligible = (
        lines.filter(F.length("_line") >= min_chars)
        if min_chars > 0
        else lines
    )
    # xxhash64, not md5_long: the hash is a pure internal grouping key
    # — the winner election only needs "same line <=> same group", the
    # hash value never reaches the output, and the DuckDB oracle
    # partitions by the line TEXT itself. One codegen expression per
    # line instead of an md5 + hex + conv chain (guide §1.2 step 2);
    # collision odds (2^-64 pairwise) are the same class as the md5
    # 60-bit prefix this replaces.
    winners = (
        eligible.select(
            F.xxhash64(F.col("_line")).alias("_h"), id_col, "_line_no"
        )
        .groupBy("_h")
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("_line_no").alias("n"))
            ).alias("_w")
        )
        .select(F.col("_w.i").alias(id_col), F.col("_w.n").alias("_line_no"))
    )
    if min_chars:
        short = lines.filter(F.length("_line") < min_chars).select(
            id_col, "_line_no"
        )
        keep_keys = winners.unionByName(short)
    else:
        keep_keys = winners
    kept = lines.join(keep_keys, [id_col, "_line_no"], "left_semi")
    # sort_array ≡ array_sort here (_line_no is unique per doc, so the
    # struct order is decided by the first field) but stays inside
    # whole-stage codegen — array_sort's lambda comparator is
    # CodegenFallback and forces the reassembly projection interpreted
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("_line_no"), F.col("_line")))
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias(text_col)
    )
    # documents that lost every line still come back (empty text)
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Group near-duplicate ``(id_a, id_b)`` pairs into clusters:
    connected components by iterative min-label propagation.

    Each node starts labeled with itself; every iteration takes the
    min label over itself, its neighbors, AND its label's label
    (pointer jumping — the label graph halves in depth each round, so
    convergence is O(log diameter) instead of O(diameter): a 10k-hop
    chain resolves in ~14 rounds, cf. the large-star/small-star
    construction of Kiveris et al., "Connected Components in
    MapReduce and Beyond"). Each round is two joins + one groupBy-min,
    all with map-side partial aggregation.

    The per-iteration driver action is a single scalar (Σ labels,
    strictly decreasing until fixpoint) — iterative-algorithm
    coordination, not data collection. Each round's result is
    ``localCheckpoint``-ed: without lineage truncation the
    self-referencing plan doubles every round and Catalyst analysis
    time grows exponentially (observed: a 64-node chain never
    finished under persist-only).

    Returns ``(node, cluster_id)`` where ``cluster_id`` is the
    smallest member id — the canonical survivor, deterministic across
    engines and partitionings. Only nodes that appear in ``pairs`` are
    returned (singletons are their own trivial cluster).
    """
    # localCheckpoint, deliberately NOT persist(): edges is re-read
    # every round (same compute-once reuse), but a persisted plan
    # registers in the session CacheManager and taxes EVERY later
    # query's planning with a canonicalized-plan comparison for the
    # life of the loop — the round-2 bench-regression pattern. A
    # checkpoint also needs no paired unpersist, so an exception
    # mid-loop can't leak a cache entry. The cost: losing an executor
    # loses the edge/label blocks and fails the job (CKPT_SER).
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .localCheckpoint(storageLevel=CKPT_SER)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(storageLevel=CKPT_SER)
    )
    prev_sum = None
    for _ in range(max_iter):
        nbr = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        # pointer jumping: my label's current label
        hop = labels.alias("x").join(
            labels.alias("y"), F.col("x.label") == F.col("y.node")
        ).select(F.col("x.node").alias("node"), F.col("y.label").alias("label"))
        labels = (
            labels.unionByName(nbr)
            .unionByName(hop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(storageLevel=CKPT_SER)
        )
        # decimal(38,0) sum: labels are ids (60-bit md5 keys reach
        # ~1.15e18), so an int64 sum overflows under ANSI mode with as
        # few as ~8 nodes; the decimal accumulator is exact at any
        # corpus size and stays map-side combinable
        s = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        # s is None iff the label frame is empty (no input pairs) —
        # nothing can ever change, so stop instead of burning the
        # remaining rounds on empty joins
        if s is None or (prev_sum is not None and s == prev_sum):
            break
        prev_sum = s
    return labels.select("node", F.col("label").alias("cluster_id"))


def substring_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 15,
    winnow: int | None = None,
    hash_mode: str = "fast",
) -> DataFrame:
    """Cross-document duplicated-substring accounting — the distributed
    approximation of suffix-array exact-substring dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better":
    remove any long token span shared between documents; their suffix
    array is a single-machine construction).

    Every ``window``-token span is hashed AT EVERY OFFSET (the
    stride-1 grid is the only alignment-safe one: a strided grid in
    two documents only coincides when the shared run's offsets agree
    mod the stride, so strided variants silently miss shifted copies).
    A span is DUPLICATED when it occurs in ≥2 distinct documents; a
    shared run of ≥ ``window`` tokens is guaranteed caught.

    ``winnow=K`` switches span SELECTION to winnowing (Schleimer,
    Wilkerson, Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD 2003): all positions are still hashed
    map-side, but only each K-window's minimum hash (tie → rightmost)
    is emitted, cutting shuffle volume ~K× while staying
    alignment-invariant — the winnowing guarantee is that any shared
    run of ≥ ``window + K - 1`` tokens shares a selected fingerprint
    in both documents. This is the 100 TB mode; counts then refer to
    selected fingerprints rather than all spans.

    Returns one row per document that produced ≥1 span/fingerprint:
    ``(id_col, total_spans, dup_spans, owned_dup_spans, dup_frac)``
    where ``owned_dup_spans`` counts duplicated spans whose earliest
    holder (min id) is this document — the survivor-election signal a
    span-removal pass keys on (later holders excise the span, the
    owner keeps it).

    Scale shape: span STRINGS never shuffle — each position's span is
    hashed map-side inside the same projection that builds it, so the
    exchange carries ``(hash, id)`` pairs (≤ tokens-per-doc rows in
    stride-1 mode, ~1/K of that winnowed). Then two hash aggregations
    (per-(span,doc) occurrence, per-span owner/count — both map-side
    combinable; a boilerplate span occurring a billion times combines
    per task exactly like ``line_dedup_corpus``'s election) and one
    per-doc rollup. No windows, no pairwise joins.
    """
    from vbb_data_pipeline_spark.functions.hashing import hash_long

    w = window
    tk = F.col("_tk")
    positions = F.when(
        F.size(tk) >= w,
        F.sequence(F.lit(1), F.size(tk) - w + 1),
    ).otherwise(F.array().cast("array<int>"))
    # per-position span hashes, computed inside one projection
    h_arr = F.transform(
        positions,
        lambda i: hash_long(F.concat_ws("_", F.slice(tk, i, w)), hash_mode),
    )
    base = df.select(F.col(id_col), tokens(text_col).alias("_tk")).select(
        F.col(id_col), h_arr.alias("_h")
    )
    if winnow is None:
        spans = base.select(
            F.col(id_col), F.explode(F.col("_h")).alias("_sh")
        )
    else:
        k = winnow
        h = F.col("_h")
        # window starts: 1 .. len-K+1 (a doc with 1..K-1 hashes gets
        # one window covering them all)
        starts = F.when(
            F.size(h) >= 1,
            F.sequence(F.lit(1), F.greatest(F.size(h) - k + 1, F.lit(1))),
        ).otherwise(F.array().cast("array<int>"))

        def select_fp(i):
            sl = F.slice(h, i, k)
            m = F.array_min(sl)
            # rightmost minimum (the winnowing tie rule): position of
            # the first match in the reversed slice, mapped back
            pos = i + F.size(sl) - F.array_position(F.reverse(sl), m)
            return F.struct(pos.cast("int").alias("p"), m.alias("h"))

        spans = base.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.transform(starts, select_fp))
            ).alias("_s"),
        ).select(F.col(id_col), F.col("_s.h").alias("_sh"))
    occ = spans.groupBy("_sh", id_col).agg(F.count(F.lit(1)).alias("_c"))
    stats = occ.groupBy("_sh").agg(
        F.count(F.lit(1)).alias("_ndocs"), F.min(id_col).alias("_owner")
    )
    dup = F.col("_ndocs") >= 2
    return (
        occ.join(stats, "_sh")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("total_spans"),
            F.sum(F.when(dup, F.col("_c")).otherwise(F.lit(0))).alias(
                "dup_spans"
            ),
            F.sum(
                F.when(dup & (F.col("_owner") == F.col(id_col)), F.col("_c"))
                .otherwise(F.lit(0))
            ).alias("owned_dup_spans"),
        )
        .select(
            id_col,
            "total_spans",
            "dup_spans",
            "owned_dup_spans",
            F.round(
                F.col("dup_spans").cast("double") / F.col("total_spans"), 6
            ).alias("dup_frac"),
        )
    )


def span_removal(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 15,
    hash_mode: str = "fast",
) -> DataFrame:
    """Excise cross-document duplicated token spans — the REMOVAL pass
    completing Lee et al. 2021 exact-substring dedup on top of
    :func:`substring_span_stats`'s accounting/owner election.

    Semantics: every ``window``-token span is hashed at every offset
    (stride-1 — the only alignment-safe grid). A span occurring in ≥2
    distinct documents elects its lowest-id holder as OWNER; every
    other holder removes the tokens covered by that span (the union
    of all foreign-duplicate span intervals). The owner keeps its
    copy, so each duplicated region survives exactly once in the
    corpus — Lee et al.'s keep-one policy at document granularity.
    Output text is the surviving tokens joined with single spaces
    (token-stream dedup: the same normalized space
    ``functions/text.tokens`` defines; original casing/punctuation is
    not reconstructed, matching how LLM-prep pipelines consume it).

    Single pass: removal can create new token adjacencies that form
    fresh ``window``-grams; Lee et al. accept the same (their
    removals also splice suffixes). :func:`span_removal_fixed_point`
    iterates this operator until no cross-document span survives.

    Scale shape: span strings never shuffle — the exchange carries
    (hash, id, pos) triples; ownership stats are one map-side
    combinable aggregation (billion-copy boilerplate spans combine
    per task); covered positions come back to documents via ONE
    id-keyed join of int arrays. The per-document token excision is
    ``array_except`` of the position range against the covered set —
    a hash-based O(n_tokens + n_covered) codegen expression (NOT the
    O(n·m) per-token ``array_contains`` scan an earlier draft used),
    so million-token pathological documents stay linear with no
    Python escape hatch needed.
    """
    from vbb_data_pipeline_spark.functions.hashing import hash_long

    w = window
    base = df.select(F.col(id_col), tokens(text_col).alias("_tk"))
    positions = F.when(
        F.size("_tk") >= w,
        F.sequence(F.lit(1), F.size("_tk") - w + 1),
    ).otherwise(F.array().cast("array<int>"))
    hp = F.transform(
        positions,
        lambda i: F.struct(
            i.alias("p"),
            hash_long(
                F.concat_ws("_", F.slice(F.col("_tk"), i, w)), hash_mode
            ).alias("h"),
        ),
    )
    spans = base.select(F.col(id_col), F.explode(hp).alias("_s")).select(
        F.col(id_col), F.col("_s.p").alias("_p"), F.col("_s.h").alias("_sh")
    )
    # ownership: distinct (span, doc) then count+min — both stages
    # map-side combinable on the span hash
    occ = spans.select("_sh", id_col).distinct()
    stats = occ.groupBy("_sh").agg(
        F.count(F.lit(1)).alias("_ndocs"), F.min(id_col).alias("_owner")
    )
    foreign = spans.join(stats, "_sh").filter(
        (F.col("_ndocs") >= 2) & (F.col("_owner") != F.col(id_col))
    )
    covered = (
        foreign.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("_p"), F.col("_p") + F.lit(w - 1))
            ).alias("_ci"),
        )
        .distinct()
        .groupBy(id_col)
        # sort_array ≡ array_sort on non-null ints, but codegen-capable
        .agg(F.sort_array(F.collect_list("_ci")).alias("_cov"))
    )
    cov = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    # linear excision: surviving positions = range \ covered (hash
    # set difference, order-preserving), then index back into the
    # token array — O(n + m) per document
    kept_pos = F.array_except(
        F.when(
            F.size("_tk") > 0, F.sequence(F.lit(1), F.size("_tk"))
        ).otherwise(F.array().cast("array<int>")),
        cov,
    )
    kept = F.transform(kept_pos, lambda i: F.element_at(F.col("_tk"), i))
    return (
        base.join(covered, id_col, "left")
        .select(
            F.col(id_col),
            # rewritten text keeps the CALLER's column name — a
            # hardcoded "text" alias broke every non-default text_col
            F.concat_ws(" ", kept).alias(text_col),
            F.size(cov).cast("long").alias("removed_tokens"),
        )
    )


def span_removal_fixed_point(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 15,
    max_rounds: int = 8,
) -> DataFrame:
    """Iterate :func:`span_removal` (fast hash) to a FIXED POINT: after
    convergence no ``window``-token span occurs in more than one
    document (each duplicated region survives exactly once, in its
    owner) — the closure a single pass cannot promise, because every
    excision splices new token adjacencies that may themselves form
    fresh cross-document grams.

    Returns ``(id_col, text, removed_tokens, rounds)`` — cumulative
    tokens removed per document and the number of passes executed.
    Convergence test is the round's TOTAL removed count hitting zero
    (one tiny aggregate per round, same driver-loop shape as the CC /
    PageRank operators); ``max_rounds`` bounds the loop — corpora
    converge in 2–3 rounds in practice because round k only re-matches
    text adjacent to round k−1's cuts. Each round's output is
    ``localCheckpoint``-ed: without truncation round k would re-run
    every earlier round's full span plan per consumer — at the price
    that losing an executor fails the job (see ``CKPT_SER``).
    """
    cur = df.select(F.col(id_col), F.col(text_col).alias("text"))
    acc = df.select(
        F.col(id_col), F.lit(0).cast("long").alias("removed_tokens")
    )
    rounds = 0
    for _ in range(max_rounds):
        out = span_removal(
            cur, "text", id_col, window=window, hash_mode="fast"
        ).localCheckpoint(eager=True, storageLevel=CKPT_SER)
        rounds += 1
        acc = (
            acc.join(
                out.select(F.col(id_col), F.col("removed_tokens").alias("_r")),
                id_col,
            )
            .select(
                F.col(id_col),
                (F.col("removed_tokens") + F.col("_r")).alias(
                    "removed_tokens"
                ),
            )
            .localCheckpoint(eager=True, storageLevel=CKPT_SER)
        )
        cur = out.select(F.col(id_col), "text")
        step = out.agg(F.sum("removed_tokens")).first()[0] or 0
        if step == 0:
            break
    return cur.join(acc, id_col).select(
        F.col(id_col),
        "text",
        "removed_tokens",
        F.lit(rounds).cast("int").alias("rounds"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup against an at-rest index (append-only corpus growth)
# ---------------------------------------------------------------------------


def _check_banding(num_hashes: int, bands: int) -> None:
    """bands must evenly partition num_hashes with >= 1 row per band.

    rows_per_band = 0 makes every band payload the CONSTANT str(b),
    so ALL documents share every bucket — the documented never-O(n²)
    guarantee silently becomes a full cross join (verified: 6
    unrelated docs, bands > num_hashes → all 15 pairs emitted). A
    non-divisible split silently drops the trailing mh_* columns from
    banding, cutting recall with no warning."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must be >= 1 and divide num_hashes "
            f"({num_hashes}) exactly: rows_per_band = 0 degenerates "
            "every band to a constant bucket (full O(n^2) cross "
            "join), and a remainder silently drops signature rows "
            "from banding"
        )


def _band_buckets(
    id_col: str, num_hashes: int, bands: int, hash_mode: str
) -> list[Column]:
    """The band-bucket hash columns of :func:`lsh_candidate_pairs`,
    factored so the at-rest index and the inline pair generator derive
    identical bucket keys from a signature frame."""
    _check_banding(num_hashes, bands)
    rows_per_band = num_hashes // bands
    cols = []
    for b in range(bands):
        parts = [
            F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        payload = F.concat_ws("_", F.lit(str(b)), *parts)
        bucket = F.md5(payload) if hash_mode == "oracle" else F.xxhash64(payload)
        cols.append(bucket.cast("string").alias(f"band_{b}"))
    return cols


def _check_index_params(
    spark, path: str, params: dict, require_match: bool
) -> None:
    """Verify the at-rest dedup index's signature parameters — see
    :func:`dedup_index_write`. Check-only: recording/refreshing the
    marker is :func:`_write_index_params`, called AFTER the table
    writes succeed (a marker written first would assert parameters
    the on-disk tables were never built with if the build fails).
    Indexes written before the marker existed are tolerated (no
    marker, no check) unless ``require_match`` would have nothing to
    compare."""
    import json as _json

    from vbb_data_pipeline_spark.sources.layout import (
        hadoop_exists,
        hadoop_read_text,
    )

    marker = path.rstrip("/") + "/_dedup_params.json"
    if hadoop_exists(spark, marker):
        recorded = _json.loads(hadoop_read_text(spark, marker))
        if recorded.get("rebuilding"):
            if require_match:
                raise ValueError(
                    f"dedup index at {path} is mid-rebuild (a "
                    "mode='overwrite' rewrite started and did not "
                    "complete) — its tables may mix state from two "
                    "parameter sets, so probe/append results would be "
                    "silently wrong. Re-run dedup_index_write(..., "
                    "mode='overwrite') to finish the rebuild."
                )
            return  # the recovery rebuild itself proceeds
        if require_match and recorded != params:
            diff = sorted(
                k for k in params if recorded.get(k) != params[k]
            )
            raise ValueError(
                f"dedup index at {path} was built with "
                f"{ {k: recorded.get(k) for k in diff} }, called with "
                f"{ {k: params[k] for k in diff} } (mismatched: {diff}) "
                "— band keys/signatures would never match and every "
                "near-dup would silently classify 'new'; use the "
                "index's parameters or rebuild with mode='overwrite'"
            )


def _mark_index_rebuilding(spark, path: str, params: dict) -> None:
    """Flip an EXISTING index marker to the mid-rebuild sentinel (see
    :func:`dedup_index_write`'s write-order note). No-op when the path
    has no marker yet — a fresh build that crashes leaves no marker,
    the same (tolerated, legacy) state it started in."""
    import json as _json

    from vbb_data_pipeline_spark.sources.layout import (
        hadoop_exists,
        hadoop_write_text,
    )

    marker = path.rstrip("/") + "/_dedup_params.json"
    if hadoop_exists(spark, marker):
        hadoop_write_text(
            spark, marker,
            _json.dumps({"rebuilding": True, "target": params},
                        sort_keys=True),
        )


def _write_index_params(spark, path: str, params: dict) -> None:
    """Record (or refresh, after an overwrite under new parameters)
    the index's ``_dedup_params.json`` marker. Only called after both
    table writes succeed — see the ordering note in
    :func:`dedup_index_write`."""
    import json as _json

    from vbb_data_pipeline_spark.sources.layout import (
        hadoop_exists,
        hadoop_read_text,
        hadoop_write_text,
    )

    marker = path.rstrip("/") + "/_dedup_params.json"
    body = _json.dumps(params, sort_keys=True)
    if hadoop_exists(spark, marker) and hadoop_read_text(spark, marker) == body:
        return
    hadoop_write_text(spark, marker, body)


def _index_params(
    num_hashes: int, bands: int, shingle_n: int, hash_mode: str
) -> dict:
    """The signature parameters ``_dedup_params.json`` records."""
    return {
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "shingle_n": int(shingle_n),
        "hash_mode": hash_mode,
    }


def dedup_index_write(
    df: DataFrame,
    path: str,
    num_hashes: int = 16,
    bands: int = 4,
    hash_mode: str = "fast",
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus's DEDUP STATE (``doc_id``, ``text``;
    3-token shingles) as an at-rest index so new
    ingest batches dedupe against the whole corpus WITHOUT re-milling
    it (the append-only pattern of ``pack_token_shards_incremental``,
    applied to dedup).

    Two tables under ``path``, neither containing any text:

    ``fps/``    one ``(doc_id, fp)`` row per doc — the sorted-token-set
                fingerprint (exact / reordered-content dedup);
    ``bands/``  one ``(doc_id, band, bucket)`` row per (doc, LSH band)
                plus the doc's full MinHash signature — candidate
                generation AND verification state in one narrow table.

    The index is CONSTANT bytes per document (~0.5–1.5 KB: a
    fingerprint, ``bands`` band keys, the signature — denormalized per
    band row for join locality) regardless of document size, so for
    realistic multi-KB..MB documents it is orders of magnitude smaller
    than the corpus; the per-batch probe reads catalog-scale data, and
    verification needs no corpus text at all: candidate pairs are
    confirmed by SIGNATURE AGREEMENT — the fraction of equal MinHash
    components, the standard unbiased Jaccard estimator (Broder) the
    signatures exist to provide.

    Append new (surviving) batches with ``mode="append"``; both tables
    are plain parquet appends, no rewrite of existing state.

    A ``_dedup_params.json`` marker records (num_hashes, bands,
    shingle_n, hash_mode) next to the tables: appending — or probing
    via :func:`dedup_incremental` — with DIFFERENT parameters than the
    index was built with yields band keys that never match and
    signatures of different widths, so every near-dup silently
    classifies ``'new'`` and the corpus fills with duplicates; the
    marker turns that silent decay into a ValueError.

    This function derives the ``(id, fp)`` and signature frames from
    ``df``'s text and hands them to :func:`dedup_index_write_frames`,
    which does the checks and the writes; a caller that already holds
    both frames (the streaming ingest loop) calls that core directly.
    """
    text_col, id_col, shingle_n = "text", "doc_id", 3
    params = _index_params(num_hashes, bands, shingle_n, hash_mode)
    # An overwrite REBUILD over an existing marked index flips the
    # marker to a 'rebuilding' sentinel FIRST: a crash at any point
    # mid-rewrite leaves tables that may mix two parameter sets (bands
    # overwritten, fps not yet), and with the old marker intact a
    # same-params probe would validate against state the tables no
    # longer hold. The sentinel makes every probe/append raise until a
    # re-run overwrite completes and restores a real marker.
    # Deliberate conservative trade (r9 advice): the sentinel lands
    # BEFORE the rebuild's first Spark job (the fp checkpoint below),
    # so a failure that dies before a single index byte is rewritten
    # (e.g. a data-dependent error in the minhash/fingerprint plan)
    # also locks a still-fully-consistent index behind mid-rebuild
    # errors — an aborted-before-write rebuild requires a full re-run
    # too. The alternative (flip after a pre-flight action proves the
    # plan executes) narrows that spurious-lockout window but reopens
    # a real one: anything the pre-flight didn't execute (a later
    # stage's failure) crashes AFTER bands/ began rewriting with the
    # old marker still asserting the old tables. Lockout is
    # recoverable by re-running; a lying marker is silent data loss.
    if mode == "overwrite":
        _mark_index_rebuilding(df.sparkSession, path, params)
    # EVERY doc gets an fps row — including zero-token docs, whose
    # fingerprint is NULL. A NULL fp is inert for matching (the exact
    # tier's equi-join never matches NULL), but the row's id must be
    # recorded: streaming ingest's step-0 replay/redelivery guard is
    # "id present in fps/", so a NULL-fp survivor missing from fps
    # would be re-ingested (duplicated in the corpus) if the same doc
    # id is redelivered in a later micro-batch. Zero-token docs stay
    # OUT of bands/: their degenerate zero-shingle signature is
    # identical for every such doc and would band-bucket them all
    # together (see the matching skip in dedup_incremental).
    #
    # fp is checkpointed so ONE tokenize+fingerprint pass over the
    # corpus serves both tables (r11; before, the bands job recomputed
    # every fingerprint for its semi-join and the fps job ran the
    # whole pass again — two extra full-corpus text passes per build).
    # The checkpoint is (id, 32-char fp) per doc — constant bytes/doc,
    # MEMORY_AND_DISK, and it sits AFTER the rebuilding sentinel so
    # the sentinel still lands before the rebuild's first Spark job.
    # Losing an executor mid-build loses the fp blocks and fails the
    # write (see CKPT_SER); a re-run overwrite is the recovery, as for
    # any other crash under the rebuilding sentinel.
    fp = df.select(
        F.col(id_col), fingerprint(text_col).alias("fp")
    ).localCheckpoint()
    sig = minhash_signatures(
        df.join(
            fp.filter(F.col("fp").isNotNull()).select(id_col),
            id_col,
            "left_semi",
        ),
        text_col, id_col, num_hashes, shingle_n, hash_mode,
    )
    dedup_index_write_frames(
        fp, sig, path,
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        bands=bands,
        hash_mode=hash_mode,
        mode=mode,
    )


def dedup_index_write_frames(
    fp: DataFrame,
    sig: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    hash_mode: str = "fast",
    mode: str = "append",
) -> None:
    """Write the dedup index of :func:`dedup_index_write` from frames
    the caller already derived: ``fp`` is one ``(id_col, fp)`` row per
    doc (NULL ``fp`` for zero-token docs), ``sig`` the
    :func:`minhash_signatures` of the docs with a non-null ``fp``.

    An append first checks the index's ``_dedup_params.json`` marker
    against the parameters. An overwrite does not check; its caller
    flips the ``rebuilding`` sentinel before deriving the frames
    (:func:`dedup_index_write` does).

    WRITE ORDER is load-bearing: bands first, fps last, marker after
    both. The streaming replay guard reads fps/, so fps must be the
    COMMIT POINT — a crash after bands but before fps means a replay
    rebuilds the whole batch (ids absent from fps), re-appends its
    bands rows (the candidate tier's ``.distinct()`` absorbs the
    copies) and ignores them when probing the batch (a doc is never
    its own near-dup, see :func:`dedup_incremental_frames`). The
    reverse order is non-convergent: survivors in fps are anti-joined
    out of the replayed batch, their bands rows are never written, and
    near-dups against them are missed forever. The params marker lands
    only after both tables succeed, so a failed overwrite-with-new-
    params never leaves a marker asserting parameters the on-disk
    tables were not built with.
    """
    spark = fp.sparkSession
    params = _index_params(num_hashes, bands, shingle_n, hash_mode)
    if mode == "append":
        _check_index_params(spark, path, params, require_match=True)
    banded = sig.select(
        F.col(id_col),
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("sig"),
        *_band_buckets(id_col, num_hashes, bands, hash_mode),
    )
    melted = banded.select(
        F.col(id_col),
        "sig",
        F.explode(
            F.array(*[F.col(f"band_{b}") for b in range(bands)])
        ).alias("bucket"),
    )
    melted.write.mode(mode).parquet(f"{path}/bands")
    fp.write.mode(mode).parquet(f"{path}/fps")
    _write_index_params(spark, path, params)


def dedup_incremental(
    new_df: DataFrame,
    index_path: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    hash_mode: str = "fast",
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """Classify a new ``(doc_id, text)`` ingest batch (3-token shingles)
    against an at-rest dedup index
    (:func:`dedup_index_write`) — every input row comes back with a
    verdict, nothing is silently dropped:

    ``status``       ``'exact_dup'`` (fingerprint already in the
                     corpus), ``'near_dup'`` (signature agreement ≥
                     ``threshold`` with some corpus doc), or
                     ``'new'``;
    ``dup_of``       the matched corpus doc id (smallest, for
                     determinism), NULL for ``'new'``;
    ``similarity``   the MinHash agreement estimate for near-dups
                     (1.0 for exact).

    Plan shape: the batch's fingerprints hash-join ``fps/`` (exact
    tier), its band keys equi-join ``bands/`` (candidate tier, capped
    per bucket like :func:`lsh_candidate_pairs` — a boilerplate bucket
    with millions of corpus occupants is handled by the exact tier,
    not a quadratic join), and candidates are verified by comparing
    the stored signature with the batch signature in one codegen
    ``zip_with`` — corpus TEXT is never read, so probe cost scales
    with the batch and the matched index rows, not the corpus.

    The caller appends survivors (``status = 'new'``) back with
    ``dedup_index_write(..., mode="append")``; intra-batch dedup is
    the existing batch operators' job, run before or after this probe.
    ``doc_id`` must be numeric (the corpus id convention everywhere in
    this package) — the near-dup tie-break negates it inside a
    max(struct) to pick the smallest matching corpus id.

    This function derives the batch's ``(id, fp)`` and signature
    frames from its text and hands them to
    :func:`dedup_incremental_frames`, the probe proper.
    """
    text_col, id_col, shingle_n = "text", "doc_id", 3
    new_fp = new_df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    # zero-token docs (NULL fingerprint) carry no content evidence in
    # EITHER tier: the exact join can't match them (NULL = never
    # equal), and their MinHash signature is the degenerate hash of
    # zero shingles — IDENTICAL for every such doc, so signature
    # agreement would classify all of them as mutual near-dups. They
    # get no signature, skip both tiers and fall through to 'new'.
    with_tokens = new_df.join(
        new_fp.filter(F.col("fp").isNotNull()).select(id_col),
        id_col,
        "left_semi",
    )
    sig = minhash_signatures(
        with_tokens, text_col, id_col, num_hashes, shingle_n, hash_mode
    )
    return dedup_incremental_frames(
        new_df, new_fp, sig, index_path,
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        bands=bands,
        threshold=threshold,
        hash_mode=hash_mode,
        max_bucket_size=max_bucket_size,
    )


def dedup_incremental_frames(
    df: DataFrame,
    fp: DataFrame,
    sig: DataFrame,
    index_path: str,
    *,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    threshold: float = 0.7,
    hash_mode: str = "fast",
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """The probe of :func:`dedup_incremental` on frames the caller
    already derived: ``fp`` is one ``(id_col, fp)`` row per batch doc
    and ``sig`` the :func:`minhash_signatures` of the docs with a
    non-null ``fp``. Returns ``df`` (any frame carrying ``id_col``)
    with ``status``, ``dup_of`` and ``similarity`` appended.

    A doc is never its own near-dup: candidate index rows carrying the
    probed doc's own id are ignored. Such rows exist only when the doc
    is already indexed (the exact tier then matches its fingerprint)
    or when a crashed append wrote its bands/ rows but not the fps/
    commit point — a replay of that batch must classify the doc as
    the first attempt did, not as a copy of itself.
    """
    spark = df.sparkSession
    _check_index_params(
        spark, index_path,
        _index_params(num_hashes, bands, shingle_n, hash_mode),
        require_match=True,
    )
    new_banded = sig.select(
        F.col(id_col),
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("_nsig"),
        *_band_buckets(id_col, num_hashes, bands, hash_mode),
    )

    # exact tier: fingerprint hash-join
    fps = spark.read.parquet(f"{index_path}/fps")
    exact = (
        fp.join(fps.withColumnRenamed(id_col, "_old"), "fp")
        .groupBy(id_col)
        .agg(F.min("_old").alias("dup_of"))
        .withColumn("status", F.lit("exact_dup"))
        .withColumn("similarity", F.lit(1.0))
    )

    # candidate tier: band-key equi-join against the index
    idx = spark.read.parquet(f"{index_path}/bands")
    if max_bucket_size is not None:
        ok = (
            idx.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("bucket")
        )
        idx = idx.join(ok, "bucket", "left_semi")
    melted = new_banded.select(
        F.col(id_col),
        "_nsig",
        F.explode(
            F.array(*[F.col(f"band_{b}") for b in range(bands)])
        ).alias("bucket"),
    )
    cand = (
        melted.join(
            idx.select(
                F.col(id_col).alias("_old"),
                F.col("sig").alias("_osig"),
                "bucket",
            ),
            "bucket",
        )
        .filter(F.col("_old") != F.col(id_col))
        .select(id_col, "_old", "_nsig", "_osig")
        .distinct()
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("_nsig"), F.col("_osig"), lambda a, b: a == b),
            lambda x: x,
        )
    ) / F.lit(float(num_hashes))
    near = (
        cand.withColumn("_sim", F.round(agree, 6))
        .filter(F.col("_sim") >= threshold)
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("_sim").alias("s"),
                    (-F.col("_old")).alias("negid"),
                )
            ).alias("_m")
        )
        .select(
            F.col(id_col),
            (-F.col("_m.negid")).alias("dup_of"),
            F.lit("near_dup").alias("status"),
            F.col("_m.s").alias("similarity"),
        )
    )

    verdicts = exact.unionByName(
        near.join(exact.select(id_col), id_col, "left_anti"),
        allowMissingColumns=False,
    )
    return df.join(verdicts, id_col, "left").select(
        df["*"],
        F.coalesce(F.col("status"), F.lit("new")).alias("status"),
        F.col("dup_of"),
        F.col("similarity"),
    )
