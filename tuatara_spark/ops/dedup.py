"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All shingling/hashing/banding is native Catalyst expressions
(``transform``/``aggregate``/``xxhash64``/``zip_with`` — JVM-side,
whole-stage-codegen; no Python UDFs). Candidate generation uses band-bucket
self-joins (the standard LSH trick) so the shuffle is on band keys, never a
quadratic cross join; verification joins back the shingle sets.

Scale notes (100 TB): the band join shuffles (band_idx, band_hash) pairs —
cardinality ≈ rows × bands, small fixed fan-out; skewed buckets (boilerplate
near-identical docs) are bounded by per-bucket pair caps in the caller or a
salted groupBy count pre-filter. Signatures are fixed-width arrays, so the
shuffle rows are narrow even for huge documents.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, Window, functions as F


_LIVE_CACHES: list = []


def _persist(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) + registration. The pair operators persist
    an intermediate (signatures / token table) that BOTH sides of a
    self-join consume; the returned plan is lazy, so the cache must stay
    alive until the caller materializes it — Spark cannot know when that
    is, hence no eager unpersist here. Long-lived sessions that call these
    operators repeatedly should call :func:`release_caches` after
    consuming each result, or cached blocks accumulate until storage
    eviction. MEMORY_AND_DISK (not the MEMORY_ONLY default) so an
    oversized intermediate spills instead of silently recomputing the
    whole shingle pipeline per partition miss.

    Consume-then-release contract: a DataFrame built on a registered
    intermediate must be consumed BEFORE :func:`release_caches`. A
    persisted one recomputes after release; a local checkpoint
    (:func:`_register`) has no lineage left to recompute from, so
    reading it again after release fails — nor after an executor is
    lost (see :func:`_release`)."""
    from pyspark import StorageLevel
    df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE_CACHES.append(df.unpersist)
    return df


def _release(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint`` DataFrame. Its
    ``unpersist()`` does not reach them: they belong to the checkpointed
    RDD under the plan's ``LogicalRDD``, so unpersist that RDD.

    Fault-tolerance trade-off of local checkpoints: the blocks live only
    in the executors' block managers and the lineage is cut, so after an
    executor is lost Spark cannot recompute them and the consuming job
    fails instead of retrying. ``cluster_ids`` takes this for per-round
    plans of constant size; a reliable ``checkpoint`` would need a
    checkpoint directory."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _register(df: DataFrame) -> DataFrame:
    """Hand a ``localCheckpoint`` DataFrame to :func:`release_caches`."""
    _LIVE_CACHES.append(lambda: _release(df))
    return df


def release_caches() -> int:
    """Free every intermediate registered by the operators of this
    package — persisted DataFrames and local checkpoints alike (call
    after materializing their results). Returns the number released.

    Consume-then-release: once released, a DataFrame an operator
    returned cannot be read again if it scans a local checkpoint
    (``cluster_ids``, ``host_components``) — its lineage was cut, so
    there is nothing to recompute from. Local checkpoints are also not
    recomputed after an executor is lost (see :func:`_release`); an
    action that loses one fails rather than retries."""
    n = 0
    while _LIVE_CACHES:
        _LIVE_CACHES.pop()()
        n += 1
    return n


def _wide(df: DataFrame) -> int:
    """Partition width for CPU-heavy stages: 2× the session's
    defaultParallelism. A hardcoded count would become the stage-width
    ceiling on a real cluster (the sandbox's 64 is just 2×32 local
    threads)."""
    return df.sparkSession.sparkContext.defaultParallelism * 2


# ---------------------------------------------------------------- exact ----

def exact_groups(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the kept
    (minimum) id and the duplicate count."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_dups")))


def keep_first(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Exact dedup keeping the first id per text (window row_number)."""
    wnd = Window.partitionBy(text_col).orderBy(id_col)
    return (df.withColumn("rn", F.row_number().over(wnd))
            .filter(F.col("rn") == 1).drop("rn"))


# ------------------------------------------------------------- shingles ----

def shingle_tokens(df: DataFrame, text_col: str, id_col: str,
                   k: int) -> DataFrame:
    """(_id, _s) k-gram token stream (with in-doc duplicates), fully
    compiled: explode a position sequence, then one substring per row — no
    interpreted HOF lambda in sight (whole-stage codegen keeps the
    explode+substring in one stage; only (_id, _s) ever shuffles).

    ``greatest(.., 1)`` is the short-text rule: for length < k the single
    token IS the whole (lowercased) text.

    The widening repartition is keyed BY the doc id: hashpartitioning
    on ``_id`` satisfies ClusteredDistribution for every downstream
    grouping that includes ``_id`` (minhash's groupBy, jaccard's
    (_id,_g) dedup), so the EXPLODED gram table never reshuffles — only
    narrow doc rows move. Skew is unchanged: a row's explode is always
    generated inside one task either way."""
    base = (df.repartition(_wide(df), F.col(id_col))
            .select(F.col(id_col).alias("_id"),
                    F.lower(F.col(text_col)).alias("_lc")))
    pos = F.explode(F.expr(
        f"sequence(1, greatest(length(_lc) - {k} + 1, 1))")).alias("_p")
    return (base.select("_id", "_lc", pos)
            .select("_id", F.col("_lc").substr(F.col("_p"),
                                               F.lit(k)).alias("_s")))


# ----------------------------------------------------------- MinHash-LSH ---

def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_perm: int = 32,
                      k: int = 5) -> DataFrame:
    """(_id, shingles, sig): shingles = the doc's distinct k-gram set
    HASHED to int64 (xxhash64 of each gram — set cardinalities, hence
    Jaccard, are preserved up to a 2⁻⁶⁴ collision); sig[j] = min over
    hashed shingles of xxhash64(h, j).

    Implementation: compiled token explode (shingle_tokens) → hash each
    gram ONCE to a long → ONE groupBy producing the hashed-set
    (collect_set) AND the num_perm min() aggregates in a single
    pass/shuffle. Working on longs instead of gram strings makes the
    num_perm re-hashes fixed-width and — the big win — the verification
    stage's array_intersect an 8-byte compare instead of string equality:
    measured 3.24 → 1.81 s for the 73k-candidate verify at sf0.1.
    Duplicate in-doc tokens don't disturb the mins (min over multiset ==
    min over set). The input is repartitioned first: shingling + hashing
    is orders of magnitude heavier per row than the row's bytes, so
    input-split partitioning (often 1 partition for a small dimension
    table) would serialize the whole stage."""
    tok = (shingle_tokens(df, text_col, id_col, k)
           .withColumn("_hs", F.xxhash64("_s")))
    # expression strings, not per-column builders: the num_perm min
    # aggregates built via F.min(F.xxhash64(...)).alias(...) cost ~4
    # py4j round-trips EACH, ~0.45 s of driver time per invocation;
    # one F.expr per aggregate parses JVM-side in a single call
    # (measured 0.57 -> 0.13 s build, output bit-identical)
    aggs = [F.expr(f"min(xxhash64(_hs, {j})) AS _m{j}")
            for j in range(num_perm)]
    g = tok.groupBy("_id").agg(F.collect_set("_hs").alias("shingles"), *aggs)
    arr = ", ".join(f"_m{j}" for j in range(num_perm))
    return g.select("_id", "shingles", F.expr(f"array({arr}) AS sig"))


def _cap_buckets(banded: DataFrame, keys: list[str],
                 max_bucket: int | None) -> DataFrame:
    """Drop LSH buckets larger than max_bucket BEFORE the self-join.

    An LSH bucket with m members yields m²/2 candidate pairs; boilerplate
    clusters (near-identical docs) make m huge and the join quadratic. Such
    clusters are exact-dedup territory, not pairwise-verify territory, so
    oversized buckets are excluded deterministically (no sampling). This is
    the explicit skew control for the band join — AQE can't save a
    self-join whose key multiplicity is quadratic by construction.

    Implementation (round 6): an UNORDERED count window over the bucket
    keys, filtered in place. The window's exchange partitions the band
    table by exactly the keys the following self-join needs, and both
    join sides are projections of this same subtree, so ReuseExchange
    collapses them onto ONE physical shuffle of the band rows — the
    earlier groupBy-count + left_anti formulation shuffled the band
    table once PER JOIN SIDE plus a distinct-key exchange and a
    broadcast build (measured sf0.1 minhash: 2.9-3.6 s → 2.3 s,
    identical pairs). Scale trade-off, documented: an oversized
    bucket's ROWS now cross the one exchange before being dropped
    (previously the anti-join dropped them pre-shuffle) — linear rows
    for a skewed key, never its quadratic pairs, and one exchange of
    everything beats two of almost-everything.
    """
    if max_bucket is None:
        return banded
    w = Window.partitionBy(*keys)
    return (banded.withColumn("_bn", F.count("*").over(w))
            .where(F.col("_bn") <= max_bucket).drop("_bn"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_perm: int = 32,
                      bands: int = 8, k: int = 5,
                      threshold: float = 0.6,
                      max_bucket: int | None = 50) -> DataFrame:
    """Near-duplicate pairs by MinHash banding + exact Jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    Band buckets larger than ``max_bucket`` are dropped (see _cap_buckets).
    """
    rows_per_band = num_perm // bands
    # Persist once: the self-join would otherwise recompute the whole
    # signature pipeline on BOTH sides (shingling is the expensive part).
    sig = _persist(minhash_signature(df, text_col, id_col, num_perm, k))
    band_cols = F.expr("array(" + ", ".join(
        f"xxhash64(slice(sig, {b * rows_per_band + 1}, {rows_per_band}), {b})"
        for b in range(bands)) + ")")
    # Band join carries ONLY (id, band) — narrow shuffle rows; shingle
    # arrays join back after the distinct-pair reduction.
    banded = sig.select(
        "_id", F.posexplode(band_cols).alias("band_idx", "band_hash"))
    banded = _cap_buckets(banded, ["band_idx", "band_hash"], max_bucket)
    # (measured: persisting the capped bands here HURTS — the banding from
    # the already-persisted sig is cheap, and the cache barrier costs more
    # than the duplicated cap subtree; the hamming join persists instead
    # because its whole source chain is heavier)
    left = banded.select(F.col("_id").alias("id_a"), "band_idx", "band_hash")
    right = banded.select(F.col("_id").alias("id_b"), "band_idx", "band_hash")
    # ONE pair-keyed shuffle does both dedup and verify-stage widening:
    # hashpartitioning(id_a, id_b) satisfies dropDuplicates' clustering
    # requirement, so no second exchange — and the explicit width keeps
    # the small-bytes/heavy-cpu verify stage wide where AQE would
    # coalesce it to one task
    cand = (left.join(right, ["band_idx", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .repartition(_wide(df), "id_a", "id_b")
            .dropDuplicates())
    sh = sig.select("_id", "shingles", F.size("shingles").alias("_ns"))
    cand = (cand
            .join(sh.select(F.col("_id").alias("id_a"),
                            F.col("shingles").alias("sh_a"),
                            F.col("_ns").alias("na")), "id_a")
            .join(sh.select(F.col("_id").alias("id_b"),
                            F.col("shingles").alias("sh_b"),
                            F.col("_ns").alias("nb")), "id_b"))
    # |A∪B| = |A|+|B|-|A∩B| for distinct shingle arrays: one set build per
    # pair instead of two (array_union dropped — same integers, same double)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    cand = cand.withColumn("_i", inter)
    union = F.col("na") + F.col("nb") - F.col("_i")
    jac = F.col("_i") / union
    return (cand.withColumn("jaccard", jac)
            .filter(_jaccard_at_least(F.col("_i"), union, threshold))
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


# --------------------------------------------------------------- SimHash ---

def _simhash_sigs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) signature table WITHOUT joining back to ``df`` —
    the pair operator only consumes signatures, so the join-back (a
    full-table shuffle at corpus width) would be pure overhead there.

    Implementation: explode tokens → hash once per token → 64 codegen'd
    conditional-sum aggregates → sign bits OR'd into one long. (A
    no-shuffle formulation via nested ``aggregate``/``zip_with`` exists,
    but Catalyst interprets higher-order-function lambdas per element —
    measured 250× slower than this compiled explode+groupBy.)

    The widening repartition is keyed BY ``id_col``: hashpartitioning on
    the group key satisfies the groupBy distribution, so the EXPLODED
    token table (the wide data) never reshuffles — only the narrow doc
    rows move (measured ~1.8× on the signature stage, identical
    output). Skew is unchanged by the keying: a row's explode is always
    generated inside one task in either formulation.
    """
    tok = df.repartition(_wide(df), F.col(id_col)).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        .alias("_tok")).withColumn("_h", F.xxhash64("_tok"))
    # expression strings, not per-column builders: the 64 conditional-sum
    # aggregates plus the 64-way OR fold cost ~900 py4j round-trips when
    # assembled Column-by-Column — ~1.3 s of DRIVER time per invocation,
    # paid on every bench pass. One F.expr string per aggregate (and one
    # for the whole OR fold) parses JVM-side in a single call each
    # (measured 1.49 -> 0.23 s build, output bit-identical).
    aggs = [F.expr(f"sum(CASE WHEN (shiftright(_h, {i}) & 1) = 1 "
                   f"THEN 1 ELSE -1 END) AS _b{i}") for i in range(64)]
    g = tok.groupBy(id_col).agg(*aggs)
    bits = " | ".join(
        f"(CASE WHEN _b{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        f"ELSE CAST(0 AS BIGINT) END)" for i in range(64))
    return g.select(F.col(id_col), F.expr(f"({bits}) AS simhash"))


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Add a 64-bit SimHash over whitespace tokens (all input columns
    preserved; see :func:`_simhash_sigs` for the algorithm)."""
    return df.join(_simhash_sigs(df, text_col, id_col), id_col)


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3,
                  max_bucket: int | None = 50,
                  strict: bool = True) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming. Signature from
    :func:`simhash64`; candidate generation + verify delegate to the
    shared :func:`hamming_pairs64` banded join (one implementation for
    text simhash and image phash alike)."""
    sigs = _simhash_sigs(df, text_col, id_col)
    return hamming_pairs64(sigs, id_col=id_col, sig_col="simhash",
                           max_hamming=max_hamming, max_bucket=max_bucket,
                           strict=strict)


# ------------------------------------------------- duplicate clustering ----

def cluster_ids(df: DataFrame, pairs: DataFrame,
                id_col: str = "doc_id", max_iters: int = 50) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every doc
    gets ``cluster_id`` = the smallest doc id reachable through pairs
    (singletons cluster with themselves). This is the step after pair
    generation in a real corpus dedup — keep one representative per
    CLUSTER, not per pair (pairwise keep-smallest under-merges chains
    a–b, b–c where a–c was never emitted).

    Algorithm: iterative min-label propagation to fixpoint (the classic
    MapReduce connected-components formulation — Rastogi et al.,
    "Finding Connected Components in MapReduce", ICDE'13 describe the
    family; this is the simple O(diameter)-round variant). Near-dup
    graphs have tiny diameters (dup clusters are dense), so rounds stay
    in the low single digits; ``max_iters`` caps them. After round k a
    node's label is the minimum over its k-hop closed neighbourhood.

    Per-round shape: pairs naming an id absent from ``df`` are dropped
    (such a node never holds a label, so it never passes one on), the
    edge table is made symmetric, and only nodes with an edge iterate.
    Round 1 comes straight from the edges (``least(node, min(nbr))``);
    every round writes one ``(node, label, changed)`` table as a lazy
    local checkpoint, so each round's plan scans the previous table and
    has the same size at every round (chained DataFrames would double
    it per round). Only nodes whose label changed
    send it on: an unchanged neighbour's label was already taken last
    round. The round's one action is the count of changed labels, which
    also materializes the checkpoint; the previous table is freed then.
    Singletons join back at the end with ``coalesce(label, id)``.

    Consume-then-release: the result scans the last round's checkpoint,
    registered (with the edge table) for :func:`release_caches`. Consume
    it first; once released it cannot be read again, and an executor
    lost before then fails the consuming job (local checkpoints are not
    recomputed).
    """
    if max_iters < 1:
        return df.select(id_col, F.col(id_col).alias("cluster_id"))
    ids = df.select(F.col(id_col).alias("_id"))
    id_type = ids.schema["_id"].dataType
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .join(ids, F.col("src") == F.col("_id"), "left_semi")
             .join(ids, F.col("dst") == F.col("_id"), "left_semi")
             .select(F.col("src").cast(id_type).alias("src"),
                     F.col("dst").cast(id_type).alias("dst")))
    edges = _register(edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=False))
    labels = (edges.groupBy("src").agg(F.min("dst").alias("_nbr"))
              .select(F.col("src").alias("node"),
                      F.least("src", "_nbr").alias("label"),
                      (F.col("_nbr") < F.col("src")).alias("changed"))
              .localCheckpoint(eager=False))
    changed = labels.filter("changed").count()
    for _ in range(max_iters - 1):
        if changed == 0:
            break
        sent = labels.filter("changed").select(
            F.col("node").alias("src"), F.col("label").alias("_sent"))
        nbr = (edges.join(sent, "src").groupBy("dst")
               .agg(F.min("_sent").alias("_nbr")))
        new = (labels.join(nbr, labels.node == nbr.dst, "left")
               .select("node",
                       F.least("label", F.coalesce("_nbr", "label"))
                       .alias("label"),
                       F.coalesce(F.col("_nbr") < F.col("label"),
                                  F.lit(False)).alias("changed"))
               .localCheckpoint(eager=False))
        changed = new.filter("changed").count()
        _release(labels)
        labels = new
    labels = _register(labels).select(F.col("node").alias("_node"),
                                      F.col("label").alias("_label"))
    return (df.select(id_col)
            .join(labels, F.col(id_col) == F.col("_node"), "left")
            .select(id_col, F.coalesce("_label", id_col).alias("cluster_id")))


# ------------------------------------------------------- n-gram Jaccard ----

def _prefix_bound(threshold: float):
    """Lossless prefix size ``n − ceil(t·n) + 1`` as an INTEGER-exact
    expression over the per-doc distinct-gram count column ``_n``.

    ``threshold`` is interpreted as the decimal rational the caller
    wrote — ``Fraction(threshold).limit_denominator(10**6)``, so the
    float 0.1 means 1/10, not its binary neighbor above it — and
    ``ceil(t·n)`` is computed as ``(n·num + den − 1) div den`` in
    exact integer arithmetic. The previous float ``ceil(t·n)`` could
    overshoot the true ceiling by 1 where ``t·n`` rounds just above an
    integer (measured: t=0.55 at n=100 — 55.000000000000007, ceil 56
    vs exact 55; t=0.667 at n=49000), shrinking the prefix and
    silently dropping boundary-exact pairs (J == t); for the shipped
    thresholds (0.5, 0.6) the two formulations agree for every n
    (checked exhaustively to n=2·10⁶; pytest re-checks to n=1000), so
    declared-query output is unchanged — and a wider-than-minimal
    prefix only ever adds candidates that exact verification removes.
    Verification (:func:`_jaccard_at_least`) accepts by the same
    rational, so the guarantee covers exactly the pairs it keeps.
    """
    num, den = _threshold_fraction(threshold)
    return (F.col("_n")
            - F.expr(f"(_n * {num}L + {den - 1}L) div {den}L") + 1)


def _threshold_fraction(threshold: float) -> tuple[int, int]:
    """(num, den) of the decimal rational the caller wrote."""
    fr = Fraction(threshold).limit_denominator(10 ** 6)
    return fr.numerator, fr.denominator


def _jaccard_at_least(inter, union, threshold: float):
    """``inter / union >= threshold`` verified in integers as
    ``inter·den >= union·num`` over :func:`_threshold_fraction` — the
    rational the prefix bound is exact in. The float comparison could
    disagree with it (e.g. a threshold with more than six decimal
    digits); the ``jaccard`` output column stays the double."""
    num, den = _threshold_fraction(threshold)
    return (inter.cast("long") * F.lit(den)
            >= union.cast("long") * F.lit(num))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact k-gram Jaccard near-dup pairs via LOSSLESS prefix filtering
    (the AllPairs/PPJoin prefix filter, Bayardo et al. WWW'07 /
    Chaudhuri et al. ICDE'06 — public algorithms).

    Provably complete for the threshold: grams get a global total order
    (ascending corpus frequency, ties by gram); a doc with n distinct grams
    indexes only its first ``n - ceil(t*n) + 1`` grams; if a pair with
    J >= t shared no indexed gram of doc A, its intersection would fit in
    A's suffix of ``ceil(t*n)-1`` grams, i.e. |A∩B| < t*|A| <= t*|A∪B| —
    contradiction. Unlike MinHash banding there is NO false-negative
    probability: output is byte-equal to the quadratic all-pairs join
    (which is exactly the DuckDB oracle).

    Scale: index cost is O(sum of prefix sizes) rows shuffled on the gram
    key; frequency ordering puts the RAREST grams in each prefix, so
    candidate buckets stay small even for boilerplate-heavy corpora. No
    bucket cap — dropping a bucket would break exactness; the frequency
    order IS the skew control.
    """
    # compiled token stream → per-doc distinct grams; one shuffle builds
    # both the dedup'd token table and the gram arrays for verification
    tok = _persist(shingle_tokens(df, text_col, id_col, k)
                   .select("_id", F.col("_s").alias("_g"))
                   .dropDuplicates(["_id", "_g"]))
    base = tok.groupBy("_id").agg(F.collect_set("_g").alias("grams"))
    freq = tok.groupBy("_g").agg(F.count("*").alias("_df"))
    ranked = (tok.join(freq, "_g")
              .withColumn("_rn", F.row_number().over(
                  Window.partitionBy("_id").orderBy("_df", "_g")))
              .withColumn("_n", F.count("*").over(Window.partitionBy("_id"))))
    pref = ranked.filter(F.col("_rn") <= _prefix_bound(threshold))
    left = pref.select(F.col("_id").alias("id_a"), "_g")
    right = pref.select(F.col("_id").alias("id_b"), "_g")
    cand = (left.join(right, "_g")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct()
            # exact verification is the CPU-heavy stage; keep it wide
            .repartition(_wide(df)))
    sh = base.select("_id", "grams", F.size("grams").alias("_ng"))
    cand = (cand.join(sh.select(F.col("_id").alias("id_a"),
                                F.col("grams").alias("sh_a"),
                                F.col("_ng").alias("na")), "id_a")
            .join(sh.select(F.col("_id").alias("id_b"),
                            F.col("grams").alias("sh_b"),
                            F.col("_ng").alias("nb")), "id_b"))
    # |A∪B| = |A|+|B|-|A∩B| (distinct gram arrays): one set build per pair
    cand = cand.withColumn("_i", F.size(F.array_intersect("sh_a", "sh_b")))
    union = F.col("na") + F.col("nb") - F.col("_i")
    jac = F.col("_i").cast("double") / union
    return (cand.withColumn("jaccard", jac)
            .filter(_jaccard_at_least(F.col("_i"), union, threshold))
            .select("id_a", "id_b", "jaccard"))


def segment_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", seg_tokens: int = 8,
                  min_count: int = 2) -> DataFrame:
    """C4-style repeated-segment removal (Raffel et al. 2020 §2.2 drop any
    three-sentence span occurring more than once in the corpus; CCNet's
    line-level analogue): split each document into non-overlapping
    ``seg_tokens``-token segments, count each segment's GLOBAL occurrences
    (within-document repeats count too), and rebuild every document
    keeping only segments seen fewer than ``min_count`` times.

    Returns (id_col, n_segs, n_kept, text_dedup) with documents whose
    segments ALL drop kept as empty strings — a row per input document,
    always.

    Pure Catalyst: tokenize + chunk are shuffle-free ``transform`` /
    ``slice`` HOFs over the token array; the only shuffles are the
    segment-count groupBy (map-side partial aggregation — one row per
    DISTINCT segment crosses the wire) and the per-document rebuild.
    Scale: the drop list holds only segments with count ≥ min_count —
    boilerplate is a small fraction of distinct segments, so it always
    broadcasts (C4 reports ~0.02% of spans dropped). The left_anti +
    groupBy rebuild
    reuses the explode's (id, seg_idx) partitioning."""
    k = int(seg_tokens)
    toks = F.split(F.col(text_col), " ")
    nseg = F.ceil(F.size(toks) / F.lit(k)).cast("int")
    # id-keyed widening repartition (shingle_tokens pattern) + COMPILED
    # segment explode: one row per segment index, array_join(slice(..))
    # per row in codegen — not an interpreted transform lambda building
    # a per-row segment array; the rebuild groupBy(id) reuses the id
    # partitioning. Guard: sequence(0, -1) would step DOWN, hence the
    # size > 0 filter before the explode (empty docs emit no segment
    # row, exactly as the old empty-array branch).
    pre = (df.repartition(_wide(df), F.col(id_col))
           .select(F.col(id_col), toks.alias("_tk"), nseg.alias("_ns"))
           .where(F.size("_tk") > 0))
    exploded = (pre.select(
        id_col, "_tk",
        F.posexplode(F.expr("sequence(0, _ns - 1)"))
        .alias("seg_idx", "_i"))
        .select(id_col, "seg_idx",
                F.expr(f"array_join(slice(_tk, _i * {k} + 1, {k}), ' ')")
                .alias("seg")))
    drop = (exploded.groupBy("seg").agg(F.count("*").alias("cnt"))
            .where(F.col("cnt") >= min_count).select("seg"))
    kept = exploded.join(F.broadcast(drop), "seg", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(
                F.struct("seg_idx", "seg"))), lambda s: s["seg"]),
            " ").alias("text_dedup"))
    totals = df.select(F.col(id_col), nseg.alias("n_segs"))
    return (totals.join(rebuilt, id_col, "left")
            .select(id_col, "n_segs",
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    F.coalesce("text_dedup", F.lit("")).alias("text_dedup")))


def hamming_pairs64(sig_df: DataFrame, id_col: str = "doc_id",
                    sig_col: str = "simhash", max_hamming: int = 3,
                    max_bucket: int | None = 50,
                    strict: bool = True) -> DataFrame:
    """Banded Hamming self-join over ANY 64-bit signature column (shared
    by text simhash and image perceptual hashes): 4× 16-bit chunk banding
    — a pair within Hamming ≤ 3 must agree on ≥1 chunk (pigeonhole) —
    then one xor+popcount verify, filtered BEFORE the pair-dedup shuffle
    (the simhash verify is trivially cheap, unlike the minhash set
    intersection, so no explicit wide repartition). Returns
    (id_a, id_b, hamming).

    ``max_hamming`` ≤ 3 is COMPLETE (4-band pigeonhole); beyond 3 the
    band join can miss pairs whose differing bits span all four chunks,
    so larger thresholds require ``strict=False`` — an explicit opt-in
    to "pairs within Hamming H that also share a 16-bit chunk"
    (recall-gate style callers that only rely on the Hamming-0
    guarantee use this)."""
    if max_hamming > 3 and strict:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4-band pigeonhole "
            "bound (3): pairs would be silently lost; pass strict=False "
            "to accept the partial (chunk-sharing) pair set")
    sh = _persist(sig_df.select(F.col(id_col).alias("_id"),
                                F.col(sig_col).alias("_sig")))
    chunks = F.array(*[
        ((F.shiftright("_sig", 16 * c)).bitwiseAND(F.lit(0xFFFF)))
        .alias(f"c{c}") for c in range(4)])
    banded = sh.select("_id", "_sig",
                       F.posexplode(chunks).alias("chunk_idx", "chunk_val"))
    banded = _cap_buckets(banded, ["chunk_idx", "chunk_val"], max_bucket)
    # No persist of the capped band table (round 6): the cap is now a
    # window over the chunk-key exchange, so both join sides are
    # projections of the SAME shuffle and ReuseExchange shares it —
    # a cache here only added a materialization barrier (measured
    # equal-to-slower).
    left = banded.select(F.col("_id").alias("id_a"),
                         F.col("_sig").alias("sh_a"),
                         "chunk_idx", "chunk_val")
    right = banded.select(F.col("_id").alias("id_b"),
                          F.col("_sig").alias("sh_b"),
                          "chunk_idx", "chunk_val")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (left.join(right, ["chunk_idx", "chunk_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(ham <= max_hamming)
            .select("id_a", "id_b", ham.alias("hamming"))
            .distinct())


# ------------------------------------------------------- exact substring ----

def _substr_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(_id, _toks) whitespace-token arrays behind an id-keyed widening
    repartition (shingle_tokens pattern): narrow doc rows move once,
    the tokenize + shingle explode + hash run at full width even off a
    one-row-group scan."""
    return df.repartition(_wide(df), F.col(id_col)).select(
        F.col(id_col).alias("_id"),
        F.expr(rf"filter(split(trim({text_col}), '\\s+'), "
               "x -> x != '')").alias("_toks"))


def exact_substr_spans(df: DataFrame, min_tokens: int = 50,
                       text_col: str = "text", id_col: str = "doc_id",
                       key_of=None) -> DataFrame:
    """Cross-document exact-substring duplicate spans — the ExactSubstr
    method of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better", public arXiv 2107.06499), re-expressed for
    Spark without the suffix array and WITHOUT ever materializing
    candidate pairs.

    Semantics (stated exactly): text is whitespace-tokenized; any
    duplicated substring of ≥ ``min_tokens`` tokens shares every one of
    its L-token shingles, so duplicated-substring coverage equals the
    union of duplicated-shingle extents. The FIRST occurrence of each
    distinct shingle — minimum (doc_id, position) corpus-wide — is
    canonical and keeps its text; every other occurrence marks its
    ``[pos, pos+L)`` token range as duplicate. Overlapping/adjacent
    ranges merge per document into maximal spans, which is exactly the
    maximal shared-substring trim: a shared run of M ≥ L tokens yields
    M−L+1 marked shingles whose union is the whole run. Internal
    repetition (a document repeating its own text) dedups the same way.

    Scale shape (the part that must survive 100 TB): there is NO pair
    stage anywhere — a shingle shared by F occurrences costs F rows,
    never F², so boilerplate shingles shared by millions of documents
    need no caps. One shuffle groups occurrences by 60-bit shingle key
    (``min_by`` partial-aggregates map-side, so hot keys collapse per
    upstream partition before moving); the canonical row then joins
    back occurrence rows on the same key — 1-row build side per key,
    skew-immune. Span merging is an in-row fold over each document's
    own sorted duplicate starts. Only shingle KEYS shuffle (8 bytes),
    never the L-token shingle strings.

    ``key_of`` maps the shingle string column to its join key; default
    ``xxhash64`` (production). The oracle query passes the portable
    md5-based 60-bit key so DuckDB computes bit-identical keys.
    Collisions conflate two shingles at ~2⁻⁶⁰: accepted and documented
    (Lee et al.'s BigQuery variant makes the same trade).

    → (id_col, spans: array<struct<start int, end int>>) — documents
    with at least one duplicate span; positions are token indices.
    """
    L = int(min_tokens)
    if key_of is None:
        key_of = F.xxhash64
    sh = _substr_tokens(df, text_col, id_col).select(
        "_id",
        F.posexplode(F.expr(
            f"if(size(_toks) < {L}, cast(array() as array<string>), "
            f"transform(sequence(1, size(_toks) - {L - 1}), "
            "i -> array_join(slice(_toks, i, " + str(L) + "), ' ')))"
        )).alias("_pos", "_sh"))
    occ = sh.select("_id", "_pos", key_of(F.col("_sh")).alias("_key"))
    canon = (occ.groupBy("_key")
             .agg(F.min_by(F.struct("_id", "_pos"),
                           F.struct("_id", "_pos")).alias("_first"),
                  F.count("*").alias("_n"))
             .where(F.col("_n") >= 2)
             .select("_key", "_first"))
    dups = (occ.join(canon, "_key")
            .where((F.col("_id") != F.col("_first._id"))
                   | (F.col("_pos") != F.col("_first._pos")))
            .select("_id", "_pos"))
    merge = F.expr(
        "aggregate(sort_array(collect_list(_pos)), "
        "cast(array() as array<struct<start:int,end:int>>), "
        "(acc, p) -> if(size(acc) > 0 AND p <= element_at(acc, -1).end, "
        "  concat(slice(acc, 1, size(acc) - 1), "
        f"   array(named_struct('start', element_at(acc, -1).start, "
        f"                      'end', greatest(element_at(acc, -1).end, p + {L})))), "
        f"  concat(acc, array(named_struct('start', p, 'end', p + {L})))))")
    return (dups.groupBy("_id").agg(merge.alias("spans"))
            .select(F.col("_id").alias(id_col), "spans"))


def exact_substr_dedup(df: DataFrame, min_tokens: int = 50,
                       text_col: str = "text", id_col: str = "doc_id",
                       key_of=None) -> DataFrame:
    """ExactSubstr trim: every document with its duplicate spans cut
    out. → (id_col, n_spans, n_removed, spans_str "s:e s:e …",
    dedup_text). Documents with no duplicate span pass through with the
    whitespace-normalized text (tokens joined by single spaces — the
    tokenization both the spans and the rebuild are defined over).
    Cost of the trim filter is O(n_tokens × n_spans) per row in one
    projection; n_spans is small by construction (spans are maximal)."""
    # NOT shared/persisted: caching the tokenized corpus for the two
    # consumers (span finder + rebuild) was measured ~0.1 s SLOWER at
    # bench scale than tokenizing twice — columnar cache
    # materialization of token arrays costs more than the repeated
    # narrow repartition + split.
    spans = exact_substr_spans(df, min_tokens=min_tokens,
                               text_col=text_col, id_col=id_col,
                               key_of=key_of)
    toks = (_substr_tokens(df, text_col, id_col)
            .select(F.col("_id").alias(id_col), "_toks"))
    j = toks.join(spans, id_col, "left").withColumn(
        "spans", F.coalesce(
            F.col("spans"),
            F.expr("cast(array() as array<struct<start:int,end:int>>)")))
    kept = F.expr("filter(_toks, (t, i) -> NOT exists(spans, "
                  "s -> i >= s.start AND i < s.end))")
    return j.select(
        F.col(id_col),
        F.size("spans").alias("n_spans"),
        F.expr("aggregate(spans, 0L, (a, s) -> a + s.end - s.start)")
        .alias("n_removed"),
        F.expr("array_join(transform(spans, "
               "s -> concat(s.start, ':', s.end)), ' ')").alias("spans_str"),
        F.array_join(kept, " ").alias("dedup_text"))


# ------------------------------------------------ host-level line dedup ----

def host_line_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", host_col: str = "host",
                    min_pages: int = 3) -> DataFrame:
    """Host-level repeated-line boilerplate removal — the line-grain
    dedup step of the CCNet / OSCAR / RefinedWeb corpus pipelines
    (Wenzek et al. 2020 "CCNet" dedupes at the paragraph/line hash
    level; RefinedWeb's "line-wise corrections"): a line that occurs in
    ``min_pages`` or more DISTINCT pages of the same host is template
    chrome (cookie banners, nav, footers) and is removed from every
    page of that host; lines are compared exactly, after no
    normalization, so the op is value-pinned.

    → (id_col, n_lines, n_removed, text_clean) for every input row;
    ``text_clean`` keeps the surviving lines in original order.

    Scale shape (10^12 pages): the page text NEVER rides a shuffle
    except once doc-keyed at the final rebuild join — the counting
    stages move only 8-byte line hashes: in-row split+distinct →
    explode to (host, doc, hash) → one map-side-combinable
    groupBy(host, hash) count (each doc pre-distincted its lines, so
    count(*) IS the distinct-page count) → the ≥min_pages flags join
    back on (host, hash) and collapse to ONE hash-array row per doc.
    The rebuild is an in-row filter against that array, so original
    line order survives with no window and no sort. Skewed lines (an
    empty line on a 10^8-page host) collapse in the partial count
    aggregation; the flag side of the join-back is 1 row per key.
    """
    nl_lines = f"split({text_col}, '\\n')"
    keys = df.select(
        F.col(host_col), F.col(id_col),
        F.explode(F.expr(
            f"array_distinct(transform({nl_lines}, "
            "x -> xxhash64(x)))")).alias("_lh"))
    boiler = (keys.groupBy(host_col, "_lh")
              .agg(F.count("*").alias("_n"))
              .where(F.col("_n") >= min_pages)
              .drop("_n"))
    removed = (keys.join(boiler, [host_col, "_lh"])
               .groupBy(id_col)
               .agg(F.collect_set("_lh").alias("_rm")))
    out = (df.join(removed, id_col, "left")
           .withColumn("_rm", F.coalesce(
               F.col("_rm"), F.expr("cast(array() as array<bigint>)"))))
    kept = F.expr(f"filter({nl_lines}, "
                  "x -> NOT array_contains(_rm, xxhash64(x)))")
    return out.select(
        F.col(id_col),
        F.expr(f"cast(size({nl_lines}) as bigint)").alias("n_lines"),
        (F.expr(f"cast(size({nl_lines}) as bigint)")
         - F.size(kept).cast("long")).alias("n_removed"),
        F.array_join(kept, "\n").alias("text_clean"))


def cross_corpus_jaccard_pairs(old: DataFrame, new: DataFrame,
                               text_col: str = "text",
                               id_col: str = "doc_id", k: int = 3,
                               threshold: float = 0.5) -> DataFrame:
    """INCREMENTAL near-dup join: exact k-gram Jaccard pairs between a
    NEW document batch and an EXISTING corpus → (id_new, id_old,
    jaccard) — no self-join on either side. This is the nightly 100 TB
    workflow: the crawl delta dedups against the standing corpus
    without re-pairing the corpus against itself.

    Lossless by the single-sided prefix argument (AllPairs family,
    Bayardo et al. WWW'07): only the NEW side is prefix-filtered — a
    new doc with n distinct grams probes the old gram index with its
    first ``n − ceil(t·n) + 1`` grams under a fixed total order. If a
    pair with J ≥ t shared none of them, the intersection would fit in
    the remaining ``ceil(t·n) − 1`` grams, i.e. |A∩B| < t·n ≤ t·|A∪B|
    — contradiction. Any prefix of that size works, so the order is a
    pure performance choice: OLD-corpus document frequency ascending
    (rarest first), with grams UNSEEN in the old corpus sorting first —
    they generate zero candidates, so novel content eliminates itself
    from the probe immediately.

    Threshold semantics: the prefix bound is computed in EXACT integer
    arithmetic over the decimal rational the caller wrote
    (:func:`_prefix_bound` — ``Fraction(t).limit_denominator(10**6)``,
    then ``ceil(t·n) = (n·num + den − 1) div den``), so boundary-exact
    pairs (J == t) are inside the guarantee for EVERY threshold —
    including ones like 0.55 where the float-ceil formulation
    overshoots the exact ceiling for some n (100·0.55 float-ceils
    to 56, not 55) and would silently shrink the prefix.

    Scale shape: the old corpus compiles ONCE into a gram-keyed index
    (tok_old — persisted across nightly batches in production); each
    batch shuffles only its prefix rows against it. Verification joins
    gram sets per candidate on the id keys; no cartesian anywhere.
    """
    tok_old = _persist(shingle_tokens(old, text_col, id_col, k)
                       .select("_id", F.col("_s").alias("_g"))
                       .dropDuplicates(["_id", "_g"]))
    tok_new = _persist(shingle_tokens(new, text_col, id_col, k)
                       .select("_id", F.col("_s").alias("_g"))
                       .dropDuplicates(["_id", "_g"]))
    freq_old = tok_old.groupBy("_g").agg(F.count("*").alias("_df"))
    ranked = (tok_new.join(freq_old, "_g", "left")
              .withColumn("_df", F.coalesce("_df", F.lit(0)))
              .withColumn("_rn", F.row_number().over(
                  Window.partitionBy("_id").orderBy("_df", "_g")))
              .withColumn("_n",
                          F.count("*").over(Window.partitionBy("_id"))))
    pref = ranked.filter(F.col("_rn") <= _prefix_bound(threshold))
    cand = (pref.select(F.col("_id").alias("id_new"), "_g")
            .join(tok_old.select(F.col("_id").alias("id_old"), "_g"),
                  "_g")
            .select("id_new", "id_old").distinct()
            .repartition(_wide(new)))
    so = tok_old.groupBy("_id").agg(F.collect_set("_g").alias("sh_o"))
    sn = tok_new.groupBy("_id").agg(F.collect_set("_g").alias("sh_n"))
    cand = (cand.join(sn.select(F.col("_id").alias("id_new"), "sh_n"),
                      "id_new")
            .join(so.select(F.col("_id").alias("id_old"), "sh_o"),
                  "id_old"))
    cand = cand.withColumn("_i", F.size(F.array_intersect("sh_n", "sh_o")))
    union = F.size("sh_n") + F.size("sh_o") - F.col("_i")
    jac = F.col("_i").cast("double") / union
    return (cand.withColumn("jaccard", jac)
            .filter(_jaccard_at_least(F.col("_i"), union, threshold))
            .select("id_new", "id_old", "jaccard"))
