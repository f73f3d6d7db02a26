"""Trainable language identification: character-n-gram rank profiles
with out-of-place distance (Cavnar & Trenkle 1994, "N-Gram-Based Text
Categorization" — the public SDAIR paper behind TextCat/langid
heuristics every crawl pipeline runs).

Reference parity: jackvial/tuatara has no language layer; this upgrades
the repo's marker-list heuristic (ops/textstats.py lang_markers) to a
model TRAINED on labeled data. Semantics, stated exactly because
implementations vary: text is lowercased, trimmed, whitespace-collapsed
to single spaces; its character n-grams are every length-n substring;
a PROFILE is the top_k grams ranked 1..top_k by (count DESC, gram ASC)
— the deterministic tie-break makes profiles bit-stable across engines
and partitionings. A document's distance to a language is the
out-of-place sum over the document's OWN top_m profile:
``Σ |doc_rank − lang_rank|`` with missing grams costing ``top_k``
(the paper's maximum-displacement penalty). Prediction is the argmin
language, ties broken by language name ascending. Every intermediate is
an integer — no floats, no smoothing constants to drift.

Scale shape (10^11 documents, a handful of languages):

* **Training** shuffles (lang, gram) count rows — map-side-combinable,
  so a language's token mass collapses to one partial row per upstream
  partition — then ranks inside each language's partition (n_langs
  partitions of vocabulary-sized gram lists; the window is per-lang,
  never global). The finished profile table is n_langs·top_k rows —
  kilobytes — and is BROADCAST to scoring.
* **Scoring** builds each document's top_m profile with a per-doc
  window (partition size = the doc's distinct grams, bounded), then
  broadcast-joins the profiles on **gram alone** — each doc-gram row
  meets only the languages whose profiles contain that gram, so the
  document stream is never amplified ×n_langs (the round-4 shape
  cross-joined every doc row with the language list; at CLD-scale 100+
  languages that is 100× row amplification on a scan-wide path). The
  out-of-place distance decomposes exactly:

      distance(doc, lang) = top_k·n_doc + Σ_matched (|dr − rank| − top_k)

  where ``n_doc`` is the document's own profile size (≤ top_m): every
  unmatched gram costs ``top_k``, so start from the all-miss total and
  let each matched gram subtract its discount. Since |dr − rank| <
  top_k always, a language matching ≥1 gram strictly beats every
  zero-match language, so zero-match languages never need rows — except
  the all-miss document, which keeps exactly one null-lang row from the
  left join and resolves to the alphabetically-first language (the
  original all-languages argmin tie-break). One map-side-combinable
  groupBy per (doc, lang), one argmin per doc, no Python, nothing
  non-broadcast joins the document stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

TOP_K = 100
DOC_TOP_M = 20


def _grams(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """One row per character n-gram occurrence — COMPILED explode of a
    position sequence followed by one substring per row (whole-stage
    codegen keeps explode+substring in one pipeline), not an
    interpreted ``transform`` lambda building a per-row gram array
    (the same compiled-explode-beats-HOF lesson as
    dedup.shingle_tokens; texts shorter than one gram emit no row, as
    before)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                            r"\s+", " ")
    t = df.withColumn("_t", norm).where(F.length("_t") >= n)
    pos = F.explode(F.expr(f"sequence(1, length(_t) - {n - 1})")).alias("_p")
    return (t.select("*", pos)
            .withColumn("_g", F.col("_t").substr(F.col("_p"), F.lit(n)))
            .drop("_t", "_p"))


def train_charngram_profiles(df: DataFrame, lang_col: str = "lang",
                             text_col: str = "text", n: int = 3,
                             top_k: int = TOP_K) -> DataFrame:
    """→ (lang, gram, rank): each language's top_k character n-grams
    ranked 1..top_k by (count DESC, gram ASC).

    The labeled corpus repartitions (round-robin, narrow rows) before
    the gram explode so the explode + partial count run at full width
    even off a one-row-group scan; the (lang, gram) exchange still
    moves only collapsed count rows."""
    from tuatara_spark.ops.dedup import _wide
    counts = (_grams(df.repartition(_wide(df)), text_col, n)
              .groupBy(F.col(lang_col).alias("lang"),
                       F.col("_g").alias("gram"))
              .agg(F.count("*").alias("_c")))
    w = Window.partitionBy("lang").orderBy(F.col("_c").desc(),
                                           F.col("gram").asc())
    return (counts.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .select("lang", "gram", F.col("rank").cast("int")))


def classify_charngram(df: DataFrame, profiles: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       n: int = 3, top_k: int = TOP_K,
                       top_m: int = DOC_TOP_M) -> DataFrame:
    """→ (id, pred_lang, distance): the out-of-place argmin language
    per document. Documents shorter than one n-gram have no profile and
    are absent (gate upstream if they need a row).

    Invariant (checked): ``top_m <= top_k``. The gram-only join is
    equivalent to the all-languages argmin because a language matching
    ≥1 gram strictly beats every zero-match language, which needs
    ``|dr − rank| < top_k`` — guaranteed only when the document
    profile is no deeper than the language profiles.

    One id-keyed repartition of the narrow doc rows up front, then the
    WHOLE classify pipeline — gram explode, (id, gram) count, per-doc
    rank windows, per-(id, lang) distance, argmin — stays clustered by
    the id (hashpartitioning(id) satisfies every downstream
    distribution, all of whose keys include it): zero further
    exchanges, and the explode runs at full width even off a
    one-row-group scan."""
    if top_m > top_k:
        raise ValueError(
            f"top_m ({top_m}) must be <= top_k ({top_k}): the gram-only "
            "join's zero-match elimination needs |dr - rank| < top_k")
    from tuatara_spark.ops.dedup import _wide
    counts = (_grams(df.repartition(_wide(df), F.col(id_col)),
                     text_col, n)
              .groupBy(F.col(id_col).alias("_id"),
                       F.col("_g").alias("gram"))
              .agg(F.count("*").alias("_c")))
    w = Window.partitionBy("_id").orderBy(F.col("_c").desc(),
                                          F.col("gram").asc())
    doc_prof = (counts.withColumn("_dr", F.row_number().over(w))
                .where(F.col("_dr") <= top_m)
                # the count window reuses the per-_id partitioning the
                # rank window already established — no extra exchange
                .withColumn("_n", F.count("*").over(Window.partitionBy("_id")))
                .select("_id", "gram", "_dr", "_n"))
    # alphabetically-first language = the all-languages argmin tie-break
    # winner when nothing matches; 1 row, broadcast to every doc-gram row
    default_lang = profiles.agg(F.min("lang").alias("_default"))
    # left join on gram ONLY: matched grams fan out to just the languages
    # whose profiles contain them; an unmatched gram keeps one null-lang
    # row so all-miss documents still surface with the default language
    joined = (doc_prof
              .join(F.broadcast(profiles), ["gram"], "left")
              .crossJoin(F.broadcast(default_lang)))
    per = (joined
           .groupBy("_id", F.coalesce("lang", "_default").alias("lang"))
           .agg(F.sum(F.when(F.col("rank").isNull(), F.lit(0))
                      .otherwise(F.abs(F.col("_dr") - F.col("rank"))
                                 - F.lit(top_k))).alias("_disc"),
                F.max("_n").alias("_n")))
    return (per.withColumn("distance",
                           F.lit(top_k) * F.col("_n") + F.col("_disc"))
            .groupBy("_id")
            .agg(F.min_by(F.struct("lang", "distance"),
                          F.struct("distance", "lang")).alias("_best"))
            .select(F.col("_id").alias(id_col),
                    F.col("_best.lang").alias("pred_lang"),
                    F.col("_best.distance").cast("long")
                    .alias("distance")))


# ---------------------------------------------------------------------------
# Unicode script detection (codepoint-block histogram)
# ---------------------------------------------------------------------------

# contiguous Unicode block ranges per script (The Unicode Standard,
# public code charts) — ASCII letters + Latin-1/Extended for latin; the
# CJK Unified Ideographs base block for han; the precomposed Hangul
# syllables block for hangul
SCRIPT_RANGES: dict[str, tuple[tuple[int, int], ...]] = {
    "arabic": ((0x0600, 0x06FF),),
    "cyrillic": ((0x0400, 0x04FF),),
    "devanagari": ((0x0900, 0x097F),),
    "greek": ((0x0370, 0x03FF),),
    "han": ((0x4E00, 0x9FFF),),
    "hangul": ((0xAC00, 0xD7AF),),
    "hebrew": ((0x0590, 0x05FF),),
    "kana": ((0x3040, 0x30FF),),
    "latin": ((0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F)),
}


def script_class(name: str) -> str:
    """The regex character class matching one script's codepoints —
    literal chars, no engine-specific escapes, so the same class string
    drives Java regex (Spark) and RE2 (DuckDB) identically."""
    return "[" + "".join(f"{chr(a)}-{chr(b)}"
                         for a, b in SCRIPT_RANGES[name]) + "]"


def script_detect(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document writing-script histogram + dominant script — the
    first routing decision a multilingual crawl pipeline makes (which
    per-language pipeline, which tokenizer family), upstream of and
    cheaper than n-gram language ID: counting codepoint-block hits
    needs no trained profile and works on any length of text.

    → (id, n_<script> for every script in SCRIPT_RANGES, script) where
    ``script`` is the dominant one — max count, ties by script name
    ascending, ``'unknown'`` when no scripted codepoint occurs.

    Scale shape: a shuffle-free codegen projection — one regexp_count
    per script over the scan, the argmax an in-row array_sort of a
    9-element array. Nothing leaves the row.
    """
    from pyspark.sql import functions as F
    names = sorted(SCRIPT_RANGES)
    counts = {n: F.regexp_count(F.col(text_col), F.lit(script_class(n)))
              for n in names}
    out = df.select(F.col(id_col), *[
        counts[n].cast("long").alias(f"n_{n}") for n in names])
    # dominant = first element of the array sorted by (-count, name):
    # struct comparison is field-ordered, so ascending sort puts the
    # highest count first and breaks ties on the smaller name
    ranked = F.array_sort(F.array(*[
        F.struct((-F.col(f"n_{n}")).alias("negn"), F.lit(n).alias("s"))
        for n in names]))
    total = sum(F.col(f"n_{n}") for n in names)
    return out.withColumn(
        "script", F.when(total == 0, F.lit("unknown"))
        .otherwise(ranked[0]["s"]))
