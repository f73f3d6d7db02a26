"""Corpus bigram language model: distributed training + integer-exact
document fluency scoring.

Reference parity: jackvial/tuatara has no text-quality layer; this is
the CCNet-style LM filter (Wenzek et al. 2020, "CCNet: Extracting High
Quality Monolingual Datasets from Web Crawl Data", public LREC paper):
train a language model on a trusted corpus, score every crawled
document's fluency under it, and bucket/drop the low-scorers. CCNet
uses KenLM perplexity; float log-probs differ across engines in ln()
ulps and summation order, which would break the value-hash oracle, so
the score here is the log-free rational surrogate — the per-bigram
MLE probability P(w2|w1) = pair_count/left_count scaled to an integer
``(10^6 · pair_count) div left_count`` and averaged over the
document's bigrams (OOV bigrams contribute 0, the zero-probability
penalty). Monotone in the same direction as log-likelihood per token:
fluent text built from frequent transitions scores high, gibberish and
boilerplate-noise score low. Every intermediate is a BIGINT.

Scale shape:

* **Training** is two map-side-combinable aggregations: bigrams come
  from an ARRAY transform over each document's token list (no per-doc
  window, no pre-shuffle sort), the (w1, w2) count is one shuffle at
  bigram-vocabulary width, and the left-context totals re-aggregate
  the ALREADY-REDUCED pair table (sum of pair_count by w1) — never
  the token stream. ``min_count`` prunes the tail (the 100 TB path:
  a pruned LM is what you broadcast).
* **Scoring** explodes each document to its bigrams once, joins the
  broadcast LM (a pruned web LM is ~10^7 rows; an LM over the
  broadcast budget is pruned harder with ``min_count``) and reduces
  back to one row per document with a partial-aggregated groupBy.

BIGINT headroom: 10^6 · pair_count stays under 2^63 until a single
bigram repeats 9·10^12 times; shrink the scale for larger corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

PROB_SCALE = 10 ** 6
N_TIERS = 3

_TOKS = (r"filter(split(lower(trim({col})), '\\s+'), x -> x != '')")


def _bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2), one row per adjacent token pair — built from the
    token array in-row (sequence + transform), so the only shuffle in
    any consumer is its own aggregation."""
    toks = F.expr(_TOKS.format(col=text_col))
    # NB sequence(1, 0) steps DOWN in Spark — short docs need the
    # explicit empty-array branch, not a greatest() clamp
    pairs = F.expr(
        "if(size(_ws) < 2, "
        "cast(array() as array<struct<w1: string, w2: string>>), "
        "transform(sequence(1, size(_ws) - 1), "
        "i -> struct(_ws[i - 1] AS w1, _ws[i] AS w2)))")
    return (df.select(F.col(id_col).alias("_id"), toks.alias("_ws"))
            .select("_id", F.explode(pairs).alias("_bg"))
            .select("_id", F.col("_bg.w1").alias("w1"),
                    F.col("_bg.w2").alias("w2")))


def train_bigram_lm(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", min_count: int = 1) -> DataFrame:
    """→ (w1, w2, pair_count, left_count): the bigram table with its
    left-context totals, pruned to ``pair_count >= min_count``.
    ``left_count`` sums the UNPRUNED pair counts so pruning never
    inflates surviving probabilities.

    The input is not repartitioned before the bigram explode: measured
    at bench scale, the extra stage costs more than the widened explode
    saves (the char-gram ops, ~6× the rows, measure the other way and
    repartition)."""
    pairs = (_bigrams(df, text_col, id_col)
             .groupBy("w1", "w2")
             .agg(F.count("*").alias("pair_count")))
    # left totals via ONE unordered sum-window over the w1 partitioning
    # of the already-collapsed pair table (guide §2.4: the re-aggregate
    # + join-back formulation paid a second exchange plus a join for
    # the same answer); the window runs BEFORE pruning so left_count
    # still sums the unpruned counts. A hot left context holds its
    # vocabulary-bounded w2 fan-out in one partition — the same
    # placement the join's shuffle produced.
    lw = Window.partitionBy("w1")
    return (pairs.withColumn("left_count",
                             F.sum("pair_count").over(lw))
            .where(F.col("pair_count") >= min_count)
            .select("w1", "w2", "pair_count", "left_count"))


def score_bigram_lm(df: DataFrame, lm: DataFrame,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """→ (id, n_bigrams, n_oov, score_e6) per document with ≥1 bigram
    (single-token and empty documents carry no LM evidence and are
    absent — filter on token count upstream if they need a row).
    ``score_e6`` is the mean scaled transition probability over ALL
    the document's bigrams, OOV transitions counting as 0.

    The input is not repartitioned: at bench scale the word-bigram
    explode is light enough that an id-keyed exchange costs more than
    it saves (measured 1.2 → 1.7 s)."""
    bg = _bigrams(df, text_col, id_col)
    j = bg.join(F.broadcast(lm), ["w1", "w2"], "left")
    per = (j.groupBy("_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum(F.when(F.col("pair_count").isNull(), 1).otherwise(0))
        .alias("n_oov"),
        F.coalesce(F.sum(F.expr(
            f"({PROB_SCALE} * pair_count) div left_count")), F.lit(0))
        .alias("_tot")))
    return per.select(
        F.col("_id").alias(id_col),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.expr("_tot div n_bigrams").cast("long").alias("score_e6"))


def tier_by_score(scored: DataFrame, score_col: str = "score_e6",
                  id_col: str = "doc_id", k: int = N_TIERS,
                  tier_col: str = "tier") -> DataFrame:
    """CCNet's head/middle/tail split, generalized: bucket rows into
    ``k`` equal-population tiers by ``score_col`` DESC (tier 1 = best).
    The tier is pure rank arithmetic — ``tier = (rank·k) div n + 1``
    with rank 0-based best-first and ties broken by ``id_col`` — so the
    split is bit-deterministic across engines and cluster sizes (no
    engine NTILE semantics, no float percentiles).

    Scale shape: the global best-first rank comes from
    :func:`tuatara_spark.ops.training.with_order_rank` (range partition
    + broadcast per-partition offsets — a two-level prefix sum, never a
    single-partition window), and the corpus size ``n`` is one tiny
    aggregate broadcast back via a 1-row cross join. At 10^11 documents
    the plan is: one range shuffle, per-partition windows, two
    broadcasts.
    """
    from tuatara_spark.ops.dedup import _persist
    from tuatara_spark.ops.training import with_order_rank
    # persist the (narrow) scored input: THREE passes read it — the
    # range partitioner's sampler, the rank pass and the corpus count.
    # Un-persisted, each pass recomputed the whole upstream scoring
    # pipeline (bigram explode + LM join + aggregate) — the dominant
    # share of tier_extract's fixed cost. Callers release via
    # dedup.release_caches().
    neg = _persist(scored.withColumn("_negscore", -F.col(score_col)))
    ranked = with_order_rank(neg, "_negscore", rank_col="_rank",
                             tiebreak_col=id_col)
    n = neg.agg(F.count("*").alias("_n"))
    return (ranked.crossJoin(F.broadcast(n))
            .withColumn(tier_col,
                        (F.expr(f"(_rank * {k}) div _n") + 1)
                        .cast("int"))
            .drop("_negscore", "_rank", "_n"))


def train_kn_bigram_lm(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id"):
    """Interpolated Kneser–Ney bigram statistics (Kneser & Ney 1995;
    Chen & Goodman 1998, the public TR-10-98 formulation) →
    ``(pairs, lefts, rights)``:

    * ``pairs``  — (w1, w2, c12): bigram counts;
    * ``lefts``  — (w1, c1, f1): left totals and N1+(w1·), the distinct
      continuations of w1 (the discount mass recipients);
    * ``rights`` — (w2, f2): N1+(·w2), how many distinct contexts w2
      follows — KN's signature statistic ("Francisco" is frequent but
      only ever follows "San", so its continuation probability is low).

    Same scale shape as :func:`train_bigram_lm`: bigrams from an
    in-row array transform, ONE shuffle at bigram-vocabulary width,
    and both marginal tables re-aggregate the already-reduced pair
    table — the token stream never shuffles twice.
    """
    from tuatara_spark.ops.dedup import _persist
    bg = _bigrams(df, text_col, id_col)
    pairs = _persist(bg.groupBy("w1", "w2")
                     .agg(F.count("*").alias("c12")))
    lefts = pairs.groupBy("w1").agg(F.sum("c12").alias("c1"),
                                    F.count("*").alias("f1"))
    rights = pairs.groupBy("w2").agg(F.count("*").alias("f2"))
    return pairs, lefts, rights


def score_kn_bigram_lm(df: DataFrame, model, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """→ (id, n_bigrams, n_oov, kn_score_e6): mean interpolated
    Kneser–Ney transition probability per document, integer-exact.

    With discount D = 3/4 (Chen & Goodman's default 0.75 as an exact
    rational) the interpolated form

        P(w2|w1) = max(c12 − D, 0)/c1 + (D·f1/c1) · (f2/T)

    clears to one BIGINT fraction — numerator
    ``max(4·c12 − 3, 0)·T + 3·f1·f2`` over denominator ``4·c1·T`` —
    scaled by 10^6 with floor division, so Spark and the oracle agree
    bit-for-bit (KenLM's float log-probs would drift in ulps).
    Documented edges: an UNSEEN left context backs off entirely to the
    continuation distribution ``f2/T``; both-unseen scores 0. T =
    distinct training bigram types. BIGINT headroom: 10^6·4·c12·T needs
    c12·T < 2.3·10^12 — at web scale shrink the 10^6 scale or pre-divide
    T, a knob not a design constraint.

    Scale shape: the three model tables are pruned-LM-sized →
    broadcast; T is a 1-row broadcast cross join; the only
    shuffle is the final per-document partial-aggregated groupBy.
    """
    pairs, lefts, rights = model
    t_df = pairs.agg(F.count("*").alias("_T"))
    bg = _bigrams(df, text_col, id_col)
    j = (bg.join(F.broadcast(pairs), ["w1", "w2"], "left")
         .join(F.broadcast(lefts), ["w1"], "left")
         .join(F.broadcast(rights), ["w2"], "left")
         .crossJoin(F.broadcast(t_df)))
    contrib = F.expr(
        f"CASE WHEN c1 IS NULL THEN"
        f" ({PROB_SCALE} * coalesce(f2, 0L)) div _T"
        f" ELSE ({PROB_SCALE} * (greatest(4 * coalesce(c12, 0L) - 3, 0L)"
        f" * _T + 3 * f1 * coalesce(f2, 0L))) div (4 * c1 * _T) END")
    per = (j.groupBy("_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum(F.when(F.col("c12").isNull(), 1).otherwise(0))
        .alias("n_oov"),
        F.sum(contrib).alias("_tot")))
    return per.select(
        F.col("_id").alias(id_col),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.expr("_tot div n_bigrams").cast("long").alias("kn_score_e6"))
