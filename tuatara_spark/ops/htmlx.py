"""HTML main-content extraction: boilerplate strip + DOM-heuristic block
picking — the north_rule's literal operator list ("HTML boilerplate strip,
… DOM heuristics") as first-class Spark ops.

Both operators are PURE CATALYST expression chains (regexp over the raw
html string, explode + max_by argmax for the block picker) — no Python in
the path, whole-stage codegen end-to-end, and therefore exactly
reproducible in ANSI SQL for the driver oracle. This is deliberately the
classic content-extraction heuristic stack (tag-class blocklist + text/link
density scoring, the boilerpipe/readability family of PUBLISHED heuristics
— Kohlschütter et al., WSDM'10), not a DOM tree parser: at 10^12 rows the
regex/density pass IS the production trade-off for the 99% of pages where
a full parse adds cost, with the OCR pipeline (engine.py) covering the
rendered-page path.

Scale notes: the strip is an embarrassingly parallel scan (no shuffle);
the block picker's groupBy+max_by gets map-side partial aggregation, so
only one candidate row per url crosses its shuffle (see main_block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Block-level containers whose CONTENT is boilerplate (strip whole block),
# in the order applied. Non-greedy, dot-matches-newline, case-insensitive
# — identical semantics in Java regex (Spark) and RE2 (DuckDB).
BOILER_BLOCKS = ("script", "style", "nav", "header", "footer", "aside")
COMMENT_RE = r"<!--.*?-->"
TAG_RE = r"<[^>]*>"
WS_RE = r"\s+"


def _block_re(tag: str) -> str:
    return f"(?is)<{tag}\\b.*?</{tag}>"


# the HTML named character references that actually occur in crawl text
# (full numeric &#NNN; decoding needs computed chr() — not expressible as
# a pure regexp chain, handled identically by neither engine, so out of
# scope for the Catalyst path)
ENTITIES = (("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
            ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"),
            ("&mdash;", "—"), ("&ndash;", "–"), ("&hellip;", "…"))


def strip_boilerplate(df: DataFrame, col: str = "html",
                      out_col: str = "main_text") -> DataFrame:
    """Boilerplate strip: drop script/style/nav/header/footer/aside blocks
    and comments, strip remaining tags, decode the common named character
    references, collapse whitespace. Pure Catalyst; one projection, no
    shuffle. Entity decode runs AFTER the tag strip (order matters:
    ``&lt;b&gt;`` must surface as literal "<b>", never re-parse as a
    tag)."""
    c = F.col(col)
    for tag in BOILER_BLOCKS:
        c = F.regexp_replace(c, _block_re(tag), " ")
    c = F.regexp_replace(c, COMMENT_RE, " ")
    c = F.regexp_replace(c, TAG_RE, " ")
    for ent, rep in ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.trim(F.regexp_replace(c, WS_RE, " "))
    return df.withColumn(out_col, c)


def page_metadata(df: DataFrame, col: str = "html",
                  key_col: str = "url") -> DataFrame:
    """Crawl-metadata extractor: <title>, <html lang=…>, the canonical
    link URL, and robots noindex/nofollow flags — the fields a crawl
    pipeline needs before extraction (dedup on canonical URLs, drop
    noindex pages, route by language). One shuffle-free projection of
    case-insensitive regexp_extract/rlike; empty string when a field is
    absent (Spark's regexp_extract no-match convention, mirrored in the
    oracle with coalesce)."""
    c = F.col(col)
    meta_robots = (r'(?is)<meta\s[^>]*name\s*=\s*["\']?robots["\']?'
                   r'[^>]*content\s*=\s*["\']([^"\'>]*)')
    return df.select(
        F.col(key_col),
        F.regexp_extract(c, r"(?is)<title[^>]*>(.*?)</title>", 1)
        .alias("title"),
        F.regexp_extract(c, r'(?is)<html\s[^>]*lang\s*=\s*["\']?'
                            r'([A-Za-z-]+)', 1).alias("lang_attr"),
        F.regexp_extract(c, r'(?is)<link\s[^>]*rel\s*=\s*["\']?canonical'
                            r'["\']?[^>]*href\s*=\s*["\']([^"\'>]+)', 1)
        .alias("canonical_href"),
        F.regexp_extract(c, meta_robots, 1).rlike("(?i)noindex")
        .alias("noindex"),
        F.regexp_extract(c, meta_robots, 1).rlike("(?i)nofollow")
        .alias("nofollow"))


# For markdown output the whole <head> drops too (its title/meta/link
# children are page metadata, not content — page_metadata extracts them).
MD_DROP_BLOCKS = ("head",) + BOILER_BLOCKS

# HTML→Markdown structural steps, applied in order AFTER boiler-block/
# comment removal and whitespace collapse. One row per rule:
# (pattern, spark_replacement, duckdb_replacement) — the oracle SQL is
# GENERATED from this same table (queries.py), so the two engines can
# never drift. Patterns are Java-regex/RE2 common subset (inline (?is),
# non-capturing groups, lazy quantifiers; no backreferences).
MD_STEPS: list[tuple[str, str, str]] = [
    *[(rf"(?is)<h{i}(?:\s[^>]*)?>(.*?)</h{i}>",
       f"\n\n{'#' * i} $1\n\n", f"\n\n{'#' * i} \\1\n\n")
      for i in range(1, 7)],
    (r"(?i)<li(?:\s[^>]*)?>", "\n- ", "\n- "),
    (r"(?i)</li>", "", ""),
    (r"(?i)</?(?:ul|ol)(?:\s[^>]*)?>", "\n", "\n"),
    (r"(?i)<br(?:\s[^>]*)?/?>", "\n", "\n"),
    (r"(?i)</?p(?:\s[^>]*)?>", "\n\n", "\n\n"),
    (r'(?is)<a\s[^>]*href\s*=\s*"([^"]*)"[^>]*>(.*?)</a>',
     "[$2]($1)", r"[\2](\1)"),
    (r"(?is)<a\s[^>]*href\s*=\s*'([^']*)'[^>]*>(.*?)</a>",
     "[$2]($1)", r"[\2](\1)"),
    (r"(?is)<(?:b|strong)(?:\s[^>]*)?>(.*?)</(?:b|strong)>",
     "**$1**", r"**\1**"),
    (r"(?is)<(?:i|em)(?:\s[^>]*)?>(.*?)</(?:i|em)>", "*$1*", r"*\1*"),
]


def to_markdown(df: DataFrame, col: str = "html",
                out_col: str = "markdown") -> DataFrame:
    """Structure-preserving HTML→Markdown conversion — what an LLM
    pretraining corpus actually wants from webtext (headings, lists,
    links, emphasis as signal, not flattened away; the
    trafilatura/resiliparse output shape, via the same pure-regex
    trade-off as :func:`strip_boilerplate`).

    Semantics: boilerplate blocks and comments drop first; source
    whitespace collapses to single spaces (HTML inline semantics), so
    ALL newlines in the output are structural — h1-h6 → ``#``-runs,
    ``<li>`` → ``- `` bullets, ``<p>``/``<br>`` → paragraph/line
    breaks, ``<a href>`` → ``[text](url)``, b/strong → ``**``, i/em →
    ``*``; leftover tags strip to spaces, the common named entities
    decode AFTER tag handling, and blank runs collapse to one empty
    line. Deterministic: a pure function of the html string.

    Scale shape: one shuffle-free Catalyst projection (a fixed regex
    chain, whole-stage codegen) — embarrassingly parallel at any
    corpus size, same as the strip pass it extends.
    """
    c = F.col(col)
    for tag in MD_DROP_BLOCKS:
        c = F.regexp_replace(c, _block_re(tag), " ")
    c = F.regexp_replace(c, COMMENT_RE, " ")
    c = F.regexp_replace(c, WS_RE, " ")
    for pat, rep, _ in MD_STEPS:
        c = F.regexp_replace(c, pat, rep)
    c = F.regexp_replace(c, TAG_RE, " ")
    for ent, rep in ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, "[ \t]+", " ")
    c = F.regexp_replace(c, " ?\n ?", "\n")
    c = F.regexp_replace(c, "\n{3,}", "\n\n")
    c = F.regexp_replace(c, "^\n+|\n+$", "")
    return df.withColumn(out_col, F.trim(c))


def main_block(df: DataFrame, col: str = "html", key_col: str = "url",
               link_penalty: int = 10) -> DataFrame:
    """DOM-heuristic main-content block: split the document into
    block-level chunks, score each by text length minus a link-count
    penalty (the text-vs-link-density heuristic), keep the argmax per
    document (ties → first block). Returns (key, block_idx, block_text,
    score).

    All integer arithmetic so the scoring is bit-exact across engines.

    Shuffle shape (100 TB): the argmax is ``max_by`` under ``groupBy``,
    NOT a window — groupBy gets map-side PARTIAL aggregation, and since
    every block of a url comes from one input row (posexplode keeps them
    colocated), exactly ONE candidate row per url crosses the shuffle. A
    window (no partial agg) would shuffle every block of every document.
    """
    scored = _scored_blocks(df, col, key_col, link_penalty)
    # max score, ties → FIRST block: lexicographic max of (score, -idx)
    best = (scored.groupBy(key_col)
            .agg(F.max_by(
                F.struct("block_idx", "block_text", "score"),
                F.struct(F.col("score").alias("s"),
                         (-F.col("block_idx")).alias("ni"))).alias("_b")))
    return best.select(key_col, "_b.block_idx", "_b.block_text",
                       "_b.score")


def _scored_blocks(df: DataFrame, col: str, key_col: str,
                   link_penalty: int) -> DataFrame:
    """Shared block splitter + integer text/link-density scorer (the
    exploded first half of main_block).

    The input repartitions BY THE KEY before the explode (the
    shingle_tokens pattern): the narrow page rows move once, the
    regex-heavy block scoring runs at full width even when the scan is
    one unsplittable file/row-group, and every downstream keyed
    window/groupBy (main_chain, justext) is already clustered by the
    key — hashpartitioning(key) satisfies their distribution — so NO
    additional exchange appears: same single keyed shuffle as before,
    moved ahead of the heavy work instead of after it."""
    from tuatara_spark.ops.dedup import _wide
    blocks = F.split(F.col(col), r"(?i)</(?:p|div|td|li|article|section)>")
    exploded = (df.repartition(_wide(df), F.col(key_col))
                .select(F.col(key_col),
                        F.posexplode(blocks).alias("block_idx", "_raw")))
    txt = F.col("_raw")
    for tag in BOILER_BLOCKS:
        txt = F.regexp_replace(txt, _block_re(tag), " ")
    txt = F.regexp_replace(txt, COMMENT_RE, " ")
    n_links = F.size(F.split(F.col("_raw"), r"(?i)<a\b")) - 1
    txt = F.regexp_replace(txt, TAG_RE, " ")
    txt = F.trim(F.regexp_replace(txt, WS_RE, " "))
    return (exploded.withColumn("block_text", txt)
            .withColumn("n_links", n_links)
            .withColumn("score",
                        F.length("block_text")
                        - F.lit(link_penalty) * F.col("n_links"))
            .drop("_raw"))


def main_chain(df: DataFrame, col: str = "html", key_col: str = "url",
               link_penalty: int = 10, min_score: int = 20) -> DataFrame:
    """Readability/boilerpipe-style block CHAINING: main content is
    usually a contiguous RUN of content-dense blocks (article paragraphs),
    not a single block — so classify each block as content
    (``score >= min_score``, the same integer text−link_penalty·links
    score as main_block), merge ADJACENT content blocks into chains
    (gaps-and-islands: ``block_idx − row_number`` is constant within a
    run), and keep the chain with the highest total score per document
    (ties → earliest chain). This is the block-fusion step of the
    published boilerpipe heuristic (Kohlschütter et al., WSDM'10) on top
    of main_block's density classifier.

    Returns (key, chain_start, chain_len, chain_text, chain_score);
    documents with no content block produce no row (both this and the
    SQL oracle drop them identically).

    All arithmetic is integer, the in-chain concatenation is ordered by
    block_idx (array_sort on (idx, text) structs — deterministic, never
    a bare collect_list), so the result is bit-exact across engines.

    Shuffle shape (100 TB): one url-keyed shuffle for the island window —
    unavoidable for run-detection, but the extraction job already
    partitions by url-hash (job.py), so in-pipeline the exchange is
    reused; block rows per url are bounded by page size (the engine's
    large-page salting covers the skew tail). The final argmax is again
    map-side-combinable groupBy/max_by: one chain row per url crosses the
    last shuffle. The per-chain ``transform`` HOF only projects a struct
    field over a handful of elements — not a hot path."""
    from pyspark.sql import Window
    scored = _scored_blocks(df, col, key_col, link_penalty)
    content = scored.filter(F.col("score") >= min_score)
    w = Window.partitionBy(key_col).orderBy("block_idx")
    isl = content.withColumn(
        "_island", F.col("block_idx") - F.row_number().over(w))
    chains = (isl.groupBy(key_col, "_island")
              .agg(F.min("block_idx").alias("chain_start"),
                   F.count("*").alias("chain_len"),
                   F.sum("score").alias("chain_score"),
                   F.concat_ws(" ", F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("block_idx", "block_text"))),
                       lambda s: s.block_text)).alias("chain_text")))
    best = (chains.groupBy(key_col)
            .agg(F.max_by(
                F.struct("chain_start", "chain_len", "chain_text",
                         "chain_score"),
                F.struct(F.col("chain_score").alias("s"),
                         (-F.col("chain_start")).alias("ni"))).alias("_c")))
    return best.select(key_col, "_c.chain_start", "_c.chain_len",
                       "_c.chain_text", "_c.chain_score")


# href must be a WHOLE attribute name (lazy prefix ending in whitespace
# so data-href never matches and the FIRST real href wins, not the last);
# the value alternation accepts double-quoted, single-quoted and bare
# (unquoted) forms — all valid HTML seen in crawls
A_TAG_RE = (r"(?is)<a\s(?:[^>]*?\s)?href\s*=\s*"
            r"(\"[^\"]*\"|'[^']*'|[^\s>]+)[^>]*>(.*?)</a>")


def extract_links(df: DataFrame, col: str = "html",
                  key_col: str = "url") -> DataFrame:
    """Outlink extraction (the WAT link signal / anchor-text training
    signal): one row per <a href> with its href and tag-stripped,
    whitespace-collapsed anchor text, in document order. Two parallel
    ``regexp_extract_all`` passes over the SAME pattern (Spark returns
    one capture group per call) zipped positionally — matches align
    because both runs see identical match spans. The captured href
    keeps its quotes (single regex group across the three value forms);
    they are stripped in a follow-up projection. Pure Catalyst: explode
    over the zipped arrays, no shuffle, no Python."""
    hrefs = F.regexp_extract_all(F.col(col), F.lit(A_TAG_RE), 1)
    anchors = F.regexp_extract_all(F.col(col), F.lit(A_TAG_RE), 2)
    z = F.arrays_zip(hrefs.alias("href"), anchors.alias("anchor"))
    out = df.select(F.col(key_col),
                    F.posexplode(z).alias("link_pos", "_l"))
    href = F.regexp_replace(F.col("_l.href"),
                            "^[\"']|[\"']$", "")
    anchor_txt = F.trim(F.regexp_replace(
        F.regexp_replace(F.col("_l.anchor"), TAG_RE, " "), WS_RE, " "))
    return out.select(key_col, "link_pos",
                      href.alias("href"),
                      anchor_txt.alias("anchor"))


# the high-frequency English function words JusText-style stopword
# density keys on; a fixed tuple so the Spark expression and the
# generated oracle SQL share one source of truth
JUSTEXT_STOPWORDS = ("the", "of", "and", "to", "in", "a", "is", "that",
                     "it", "for", "on", "with", "as", "was", "at", "by",
                     "be", "this", "are", "from")
JUSTEXT_LENGTH_LOW = 8      # words: below this a block is 'short'
JUSTEXT_STOP_PCT = 30       # percent: stopword density for 'good'
JUSTEXT_LINK_RATIO = 5      # links*ratio >= words ⇒ link-dense 'bad'


def justext_extract(df: DataFrame, col: str = "html",
                    key_col: str = "url",
                    length_low: int = JUSTEXT_LENGTH_LOW,
                    stop_pct: int = JUSTEXT_STOP_PCT,
                    link_ratio: int = JUSTEXT_LINK_RATIO) -> DataFrame:
    """JusText-style context-sensitive block classification (Pomikálek
    2011, "Removing boilerplate and duplicate content from web corpora"
    — the public thesis behind the justext library): stopword density
    separates prose from boilerplate, and SHORT blocks inherit their
    neighborhood's judgment instead of being scored on too little
    evidence. The repo's third main-content extractor, adding the
    stopword dimension and the context pass that main_block/main_chain
    (pure text-vs-link density) do not have.

    Semantics, integer-exact and stated precisely:

    * blocks = the same split/strip as main_block (shared
      `_scored_blocks`); empty blocks are dropped before classification;
      words = space-separated tokens of the stripped text, lowercased
      for the stopword test;
    * context-free pass, first match wins::

          bad    if n_links · link_ratio ≥ n_words     (link-dense)
          short  if n_words < length_low
          good   if n_stop · 100 ≥ stop_pct · n_words  (prose density)
          bad    otherwise

    * context pass: a short block becomes good iff its NEAREST
      non-short neighbor in either direction is good (the thesis's
      near-good promotion collapsed to one deterministic rule).

    → (key, n_blocks, n_good, main_text): counts over surviving blocks
    and the good blocks' text joined in document order ('' when none).

    Shuffle shape (100 TB): one url-keyed exchange feeds BOTH context
    windows and the final aggregation (same partitioning, planned once)
    — the same shape as main_chain, reusing the job's url-hash
    partitioning in-pipeline; blocks of a url are bounded by page size.
    No Python anywhere; the whole classifier is codegen'd conditionals.
    """
    scored = _scored_blocks(df, col, key_col, 10)
    stop_arr = F.array(*[F.lit(wd) for wd in JUSTEXT_STOPWORDS])
    words = F.expr("filter(split(lower(block_text), ' '), x -> x != '')")
    b = (scored.where(F.col("block_text") != "")
         .withColumn("_words", words)
         .withColumn("n_words", F.size("_words"))
         .withColumn("n_stop", F.size(F.filter(
             F.col("_words"), lambda wd: F.array_contains(stop_arr, wd))))
         .drop("_words"))
    cls = (F.when(F.col("n_links") * link_ratio >= F.col("n_words"),
                  F.lit("bad"))
           .when(F.col("n_words") < length_low, F.lit("short"))
           .when(F.col("n_stop") * 100 >= stop_pct * F.col("n_words"),
                 F.lit("good"))
           .otherwise(F.lit("bad")))
    b = b.withColumn("cls", cls)
    from pyspark.sql import Window
    prev_w = (Window.partitionBy(key_col).orderBy("block_idx")
              .rowsBetween(Window.unboundedPreceding, -1))
    next_w = (Window.partitionBy(key_col).orderBy("block_idx")
              .rowsBetween(1, Window.unboundedFollowing))
    nonshort = F.when(F.col("cls") != "short", F.col("cls"))
    b = (b.withColumn("_prev", F.last(nonshort, ignorenulls=True)
                      .over(prev_w))
         .withColumn("_next", F.first(nonshort, ignorenulls=True)
                     .over(next_w)))
    final_good = ((F.col("cls") == "good")
                  | ((F.col("cls") == "short")
                     & ((F.col("_prev") == "good")
                        | (F.col("_next") == "good"))))
    b = b.withColumn("_good", final_good)
    return (b.groupBy(key_col)
            .agg(F.count("*").cast("long").alias("n_blocks"),
                 F.sum(F.col("_good").cast("long")).alias("n_good"),
                 F.concat_ws(" ", F.transform(
                     F.array_sort(F.collect_list(F.when(
                         F.col("_good"),
                         F.struct("block_idx", "block_text")))),
                     lambda s: s.block_text)).alias("main_text")))


# DOM container elements whose open/close tags move the nesting depth;
# one tuple shared by the Spark fold and the generated oracle SQL
DOM_CONTAINERS = ("article", "aside", "blockquote", "div", "footer",
                  "header", "li", "nav", "ol", "p", "section", "table",
                  "td", "tr", "ul")


def _dom_tag_alt() -> str:
    return "|".join(DOM_CONTAINERS)


def dom_depth_stats(df: DataFrame, col: str = "html",
                    key_col: str = "url") -> DataFrame:
    """Per-document DOM nesting-depth profile — the structural
    heuristic family (how deep the text lives) that complements the
    repo's density-based extractors: boilerplate chrome typically nests
    deeper than main content, so the text-weighted centroid depth and
    max depth are cheap page-shape features for extraction routing and
    template clustering.

    Semantics, integer-exact: the page splits at every ``<``; each
    segment up to its first ``>`` is a tag, the remainder is text.
    Opening tags of DOM_CONTAINERS count +1, their closing tags -1,
    all else 0 (no clamp — malformed pages may dip negative, and the
    raw cumulative sum is exactly replayable in SQL). A segment's text
    weight is its non-whitespace character count, attributed at the
    depth AFTER its tag applies. Outputs per document:

    * ``max_depth`` — the deepest running depth reached;
    * ``text_chars`` — total non-whitespace text characters;
    * ``centroid_depth_e2`` — ``(100 · Σ depth·chars) div Σ chars``
      (0 for a textless page): where the page's text mass sits.

    Scale shape: a single shuffle-free projection — the whole profile
    is ONE in-row ``aggregate`` fold over the split array, codegen'd;
    nothing leaves the row.
    """
    alt = _dom_tag_alt()
    open_re = f"^(?i:{alt})[\\\\s>]"
    close_re = f"^/(?i:{alt})[\\\\s>]"
    delta = ("CASE WHEN instr(s, '>') = 0 THEN 0 "
             f"WHEN s rlike '{open_re}' THEN 1 "
             f"WHEN s rlike '{close_re}' THEN -1 ELSE 0 END")
    tlen = ("cast(length(regexp_replace("
            "if(instr(s, '>') = 0, s, substring(s, instr(s, '>') + 1)), "
            "'\\\\s', '')) as bigint)")
    fold = f"""aggregate(
      split({col}, '<'),
      struct(0 AS d, 0 AS maxd, cast(0 AS bigint) AS wsum,
             cast(0 AS bigint) AS tl),
      (a, s) -> struct(
        a.d + ({delta}) AS d,
        greatest(a.maxd, a.d + ({delta})) AS maxd,
        a.wsum + cast(a.d + ({delta}) AS bigint) * ({tlen}) AS wsum,
        a.tl + ({tlen}) AS tl),
      a -> struct(a.maxd AS maxd, a.wsum AS wsum, a.tl AS tl))"""
    prof = F.expr(fold)
    return (df.select(
        F.col(key_col),
        prof["maxd"].cast("long").alias("max_depth"),
        prof["tl"].cast("long").alias("text_chars"),
        prof["wsum"].alias("_wsum"))
        .withColumn(
            "centroid_depth_e2",
            F.when(F.col("text_chars") > 0,
                   F.expr("(100 * _wsum) div text_chars"))
            .otherwise(F.lit(0)).cast("long"))
        .drop("_wsum"))


def extract_tables(df: DataFrame, col: str = "html",
                   key_col: str = "url") -> DataFrame:
    """Flat HTML table extraction — the layout-parse step that turns
    ``<table>`` markup into structured rows (the public WebTables /
    WDC-table-corpus extraction shape: Cafarella et al. VLDB'08 mined
    relational tables from the crawl with exactly this flat
    table→tr→td decomposition).

    Semantics, deterministic: tables are the non-overlapping lazy
    ``<table…>…</table>`` matches in document order (nested tables
    collapse into their outer match — the flat heuristic the WebTables
    line uses for the dominant non-nested case); within each, rows are
    the lazy ``<tr…>…</tr>`` matches, cells the lazy ``<td|th>``
    matches; every cell is tag-stripped (tags become spaces),
    whitespace-collapsed and trimmed. ``is_header`` flags rows
    containing any ``<th``. Indices are 0-based in document order.

    → (key_col, table_idx, row_idx, is_header, n_cells, cells_str —
    cells joined by '|').

    Scale shape: a shuffle-free Generate chain — two posexplodes over
    in-row regexp_extract_all arrays; nothing leaves the row and the
    scan ships only (key, html).
    """
    tables = df.select(
        F.col(key_col),
        F.posexplode(F.expr(
            f"regexp_extract_all({col}, "
            "'(?is)<table[^>]*>(.*?)</table>', 1)"))
        .alias("table_idx", "_tbody"))
    rows = tables.select(
        key_col, "table_idx",
        F.posexplode(F.expr(
            "regexp_extract_all(_tbody, '(?is)<tr[^>]*>(.*?)</tr>', 1)"))
        .alias("row_idx", "_trow"))
    cells = F.expr(
        "transform(regexp_extract_all(_trow, "
        "'(?is)<t[dh][^>]*>(.*?)</t[dh]>', 1), "
        "c -> trim(regexp_replace(regexp_replace(c, '<[^>]*>', ' '), "
        "'\\\\s+', ' ')))")
    return rows.select(
        F.col(key_col),
        F.col("table_idx").cast("long").alias("table_idx"),
        F.col("row_idx").cast("long").alias("row_idx"),
        F.expr("_trow rlike '(?is)<th[\\\\s>]'").alias("is_header"),
        F.size(cells).cast("long").alias("n_cells"),
        F.array_join(cells, "|").alias("cells_str"))


def template_fingerprint(df: DataFrame, col: str = "html",
                         key_col: str = "url") -> DataFrame:
    """Per-page DOM template fingerprint — the tag-sequence hash the
    template-detection literature clusters on (Gibson/Punera/Tomkins
    WWW'05 "The volume and evolution of web page templates" measured
    templates via shingled tag sequences): two pages rendered from the
    same CMS template share the tag stream even though their text
    differs, so ``md5(tag sequence)`` buckets a host's pages into
    templates for boilerplate discovery and crawl de-biasing.

    Semantics: the tag stream is every ``<tag`` / ``</tag`` name in
    document order, lowercased, attributes and text ignored;
    ``template_md5`` hashes the comma-joined stream, ``n_tags`` counts
    it (0 → the md5 of the empty string, deterministic).

    → (key_col, n_tags, template_md5).

    Scale shape: shuffle-free codegen projection — the downstream
    per-host clustering (see ``q_template_cluster_docs``) groups
    32-byte digests, never pages.
    """
    tags = F.expr(
        f"transform(regexp_extract_all({col}, "
        "'<\\\\s*(/?[a-zA-Z][a-zA-Z0-9]*)', 1), t -> lower(t))")
    return df.select(
        F.col(key_col),
        F.size(tags).cast("long").alias("n_tags"),
        F.md5(F.array_join(tags, ",")).alias("template_md5"))


def spam_features(df: DataFrame, col: str = "html",
                  key_col: str = "url") -> DataFrame:
    """Content-spam feature vector (Ntoulas, Najork, Manasse,
    Fetterly, WWW 2006 — "Detecting Spam Web Pages through Content
    Analysis", the public paper): the per-page signals their study
    found most discriminative, minus the ones needing a compressor.
    All integers (×1000 fixed-point fractions, floor division):

    * ``n_words`` — visible-text word count (spam pages cluster at
      extreme lengths);
    * ``avg_word_len_milli`` — 1000·chars div words (keyword-stuffed
      pages skew long);
    * ``anchor_word_fraction_milli`` — words inside ``<a>`` elements
      over all visible words (link farms approach 1000);
    * ``visible_fraction_milli`` — visible-text chars over raw HTML
      bytes (spam hides little markup: high fraction ≈ machine-
      generated text walls);
    * ``title_words`` — ``<title>`` word count (stuffed titles).

    Scale shape: shuffle-free codegen projection over the scan —
    regex strips + length/count arithmetic per row; no UDF, no
    exchange. Classification thresholds belong downstream (the paper
    trains a tree; the features are the operator)."""
    stripped = strip_boilerplate(df.select(key_col, col), col=col,
                                 out_col="_v")
    vis = F.col("_v")
    words = F.size(F.filter(F.split(F.trim(vis), " +"),
                            lambda x: x != ""))
    wchars = F.length(F.regexp_replace(vis, " ", ""))
    anchors = F.array_join(
        F.expr(f"regexp_extract_all({col}, '(?is)<a\\\\b[^>]*>(.*?)</a>',"
               " 1)"), " ")
    avis = F.trim(F.regexp_replace(
        F.regexp_replace(anchors, "<[^>]*>", " "), r"\s+", " "))
    awords = F.size(F.filter(F.split(avis, " +"), lambda x: x != ""))
    title = F.regexp_extract(F.col(col), r"(?is)<title[^>]*>(.*?)</title>",
                             1)
    twords = F.size(F.filter(F.split(F.trim(title), r"\s+"),
                             lambda x: x != ""))
    raw_len = F.length(F.col(col))
    base = stripped.select(
        F.col(key_col), vis, words.alias("_w"),
        wchars.alias("_wc"), awords.alias("_aw"),
        twords.alias("_tw"), raw_len.alias("_raw"))
    return base.select(
        key_col,
        F.col("_w").cast("long").alias("n_words"),
        F.expr("(1000 * _wc) div greatest(_w, 1)").cast("long")
        .alias("avg_word_len_milli"),
        F.expr("(1000 * _aw) div greatest(_w, 1)").cast("long")
        .alias("anchor_word_fraction_milli"),
        F.expr("(1000 * length(_v)) div greatest(_raw, 1)").cast("long")
        .alias("visible_fraction_milli"),
        F.col("_tw").cast("long").alias("title_words"))
