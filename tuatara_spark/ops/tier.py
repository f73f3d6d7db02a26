"""End-to-end corpus TIER EXTRACTION: the composed training-data
pipeline that turns a crawl table into labeled corpus tiers.

Reference parity: jackvial/tuatara IS the extraction stage of exactly
this kind of pipeline (its OCR engine feeds a corpus builder); the
surrounding flow re-implemented here is the public CCNet / FineWeb
corpus-construction shape (Wenzek et al. 2020 "CCNet", LREC; Penedo et
al. 2024 "The FineWeb Datasets", NeurIPS D&B — both public papers):

    language gate -> main-content extraction -> quality gate ->
    exact dedup (keep-first) -> LM-fluency tiering (head/middle/tail)

Every document receives a disposition: ``dropped_lang``,
``dropped_quality``, ``dropped_dup``, or its CCNet tier label. All
arithmetic is integer-exact (the LM score is the rational surrogate
from :mod:`tuatara_spark.ops.lm`), so the whole five-stage pipeline is
value-pinned against a SQL oracle.

Scale shape (100 TB):

* the language gate is a shuffle-free scan filter applied BEFORE
  extraction — a per-language pipeline never pays JusText's string
  work for documents it is about to drop (dropped_lang rows come
  straight from the scan);
* main-content extraction is the JusText classifier's single url-keyed
  exchange (ops/htmlx.py), over the kept language only;
* the quality gate is a shuffle-free projection applied BEFORE the
  dedup shuffle, so dropped documents never move;
* exact dedup shuffles only ``(md5(main_text), id)`` — 16-byte hash
  plus key, never the text — and survivors rejoin id-keyed, reusing
  the extraction partitioning;
* LM training aggregates the SURVIVOR bigram stream map-side
  (ops/lm.py), the pruned model broadcasts back for scoring, and the
  tier split is the two-level prefix-sum rank (ops/training.py
  with_order_rank) — no single-partition window anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tuatara_spark.ops import lm as _lm
from tuatara_spark.ops.dedup import _persist
from tuatara_spark.ops.htmlx import justext_extract

TIER_LABELS = ("head", "middle", "tail")


def tier_extract(docs: DataFrame, html_col: str = "html",
                 id_col: str = "doc_id", lang_col: str = "lang",
                 keep_lang: str = "en", min_words: int = 2,
                 stop_pct: int = 30, train_mod: int = 2) -> DataFrame:
    """Run the full tier-extraction pipeline over a crawl table.

    Stages, in order (a document stops at its first failing gate):

    1. **language gate** — keep ``lang_col == keep_lang`` (the CCNet
       per-language pipeline split; the crawl table carries the lang
       column per input_hint). The gate runs BEFORE extraction: at
       10^12 rows a per-language pipeline must never pay JusText's
       string work for documents it is about to drop, so
       ``dropped_lang`` rows come straight from the scan with
       ``n_words = -1`` (not extracted — extraction cost for them is
       exactly zero).
    2. **extract** — JusText main-content classification of
       ``html_col`` (one url-keyed exchange) over the kept language
       only; documents whose page has no non-empty block produce no
       row, like the extractor itself.
    3. **quality gate** — keep ``n_words >= min_words`` words of
       extracted main text. ``min_words`` must be >= 2 so every
       survivor carries at least one bigram for stage 5.
    4. **exact dedup** — keep-first by ``md5(main_text)`` among gate
       survivors (smallest id wins); later copies become
       ``dropped_dup``.
    5. **LM tier** — bigram LM trained on the survivors with
       ``id % train_mod == 0`` (deterministic held-in split), every
       survivor scored, then split into equal-population
       head/middle/tail by pure rank arithmetic (ops/lm.py
       tier_by_score).

    → (id, n_words, score_e6, tier): one row per kept-language
    document that extracts a non-empty page, plus one row per
    other-language document (unconditionally — they are never
    extracted). ``score_e6``/``n_words`` are -1 where not computed;
    ``tier`` is dropped_lang / dropped_quality / dropped_dup / head /
    middle / tail.
    """
    if min_words < 2:
        raise ValueError("min_words must be >= 2 (survivors need a bigram)")
    kept_in = docs.where(F.col(lang_col) == keep_lang)
    main = justext_extract(kept_in.select(id_col, html_col), col=html_col,
                           key_col=id_col, stop_pct=stop_pct)
    n_words = F.size(F.expr("filter(split(main_text, ' '), x -> x != '')"))
    # base fans out into four branches (dedup hashing, the survivor
    # selection, LM training/scoring and the final disposition select)
    # — persist it once (dedup._persist registry; callers release via
    # dedup.release_caches) so the JusText extraction runs one time,
    # not once per branch. main's keys are a subset of kept_in's by
    # construction, so no membership join back to kept_in is needed.
    base = _persist(
        main.select(id_col, "main_text")
        .withColumn("n_words", n_words.cast("long"))
        .withColumn("_quality_ok", F.col("n_words") >= min_words))
    surv0 = base.where(F.col("_quality_ok"))
    # dedup moves only (hash, id) — the text stays put — and the
    # keep-first winner comes from ONE unordered window min over the
    # hash partitioning (the groupBy+join-back formulation paid a
    # second pass plus a broadcast build for the same answer)
    from pyspark.sql import Window
    dup_flags = (surv0.select(F.col(id_col),
                              F.md5("main_text").alias("_h"))
                 .withColumn("_keep_id",
                             F.min(id_col).over(Window.partitionBy("_h")))
                 .select(F.col(id_col),
                         (F.col(id_col) != F.col("_keep_id"))
                         .alias("_is_dup")))
    # survivors = quality-ok minus the (small) duplicate set: a
    # broadcast anti-join keeps the cached base partitioning intact,
    # so scoring's final groupBy(id) needs NO further exchange
    dup_ids = dup_flags.where(F.col("_is_dup")).select(id_col)
    surv = surv0.select(id_col, "main_text").join(dup_ids, id_col,
                                                  "left_anti")
    # surv reads straight off the cached base (narrow anti-join) —
    # LM train and score each consume it without re-extracting
    model = _lm.train_bigram_lm(
        surv.where(F.col(id_col) % train_mod == 0),
        text_col="main_text", id_col=id_col)
    scored = _lm.score_bigram_lm(surv, model, text_col="main_text",
                                 id_col=id_col)
    labels = F.array(*[F.lit(x) for x in TIER_LABELS])
    # tier_by_score persists its (narrow) scored input, so the range
    # sampler / rank / count passes never recompute the scoring
    tiers = (_lm.tier_by_score(scored.select(id_col, "score_e6"),
                               k=len(TIER_LABELS), id_col=id_col)
             .select(F.col(id_col), F.col("score_e6"),
                     F.element_at(labels, F.col("tier"))
                     .alias("_tier_label")))
    kept_rows = (base
                 .join(dup_flags, id_col, "left")
                 .join(tiers, id_col, "left")
                 .select(
                     F.col(id_col), F.col("n_words"),
                     F.coalesce(F.col("score_e6"), F.lit(-1)).cast("long")
                     .alias("score_e6"),
                     F.when(~F.col("_quality_ok"),
                            F.lit("dropped_quality"))
                     .when(F.col("_is_dup"), F.lit("dropped_dup"))
                     .otherwise(F.col("_tier_label")).alias("tier")))
    lang_rows = (docs.where(F.col(lang_col) != keep_lang)
                 .select(F.col(id_col),
                         F.lit(-1).cast("long").alias("n_words"),
                         F.lit(-1).cast("long").alias("score_e6"),
                         F.lit("dropped_lang").alias("tier")))
    return kept_rows.unionByName(lang_rows)
