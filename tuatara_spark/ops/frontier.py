"""Crawl-frontier scheduling: politeness-aware fetch ordering.

Reference parity: jackvial/tuatara has no crawler (README.md:1-15); this
completes the crawl lifecycle around the WARC source — schedule → fetch
→ parse (sources/warc.py) → index (sources/cdx.py) → rank
(ops/linkgraph.py). Clean-room from the public politeness conventions
(RFC 9309's crawl-delay extension and the one-connection-per-host rule
every major crawler documents).

Semantics: within a host, URLs fetch in (priority DESC, url ASC) order
— deterministic, resumable — at ``delay_ms`` spacing, so URL k's
offset is (k−1)·delay_ms. Hosts are assigned to ``n_slots`` worker
slots by an md5-derived hash (engine-portable, seedable via ``salt``),
so one host's fetches land on ONE slot — politeness needs a single
serializing owner per host, and hashing gives it without coordination.

Scale notes: the per-host rank is a window over the host partition.
That is a per-host SORT, which is exactly the work the problem
requires — a host's queue is sequential by definition (the crawler
fetches it one URL at a time), so a mega-host means a long QUEUE, not
a parallelizable workload; the slot hash spreads distinct hosts evenly
across workers, which is where the real parallelism lives. No
cross-host state, no driver involvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def schedule(urls: DataFrame, host_col: str = "host",
             url_col: str = "url", priority_col: str | None = None,
             delay_ms: int = 1000, n_slots: int = 32,
             salt: str = "s1") -> DataFrame:
    """(host, url, fetch_rank, fetch_offset_ms, slot): the politeness
    schedule (see module docstring). ``priority_col`` orders within a
    host (higher first); omitted → pure url order."""
    order = ([F.col(priority_col).desc()] if priority_col else []) + \
        [F.col(url_col).asc()]
    w = Window.partitionBy(host_col).orderBy(*order)
    rank = F.row_number().over(w)
    slot = (F.conv(F.substring(F.md5(
        F.concat(F.col(host_col), F.lit(salt))), 1, 8), 16, 10)
        .cast("long") % n_slots).cast("int")
    return urls.select(
        F.col(host_col).alias("host"), F.col(url_col).alias("url"),
        rank.alias("fetch_rank"),
        ((rank - 1) * delay_ms).cast("long").alias("fetch_offset_ms"),
        slot.alias("slot"))


def parse_sitemaps(df: DataFrame, host_col: str = "host",
                   xml_col: str = "sitemap_xml") -> DataFrame:
    """Sitemap parsing (the public sitemaps.org 0.9 protocol) — the URL
    discovery feed for :func:`schedule`: one row per ``<url>`` entry
    with its ``loc`` (required), and optional ``lastmod``,
    ``changefreq`` and ``priority``. ``<sitemapindex>`` documents yield
    rows flagged ``is_index`` whose ``loc`` is a child sitemap URL to
    fetch, not a page.

    Pure Catalyst: the entry blocks come from one ``regexp_extract_all``
    over the document and each field from an anchored extract within
    its block — a shuffle-free projection at any scale. Deliberately a
    tag-scanner, not an XML parser (same trade the HTML ops make):
    malformed XML yields fewer rows, never a failed task. ``doc_pos``
    preserves document order."""
    entry_re = r"(?s)<(?:url|sitemap)\b[^>]*>(.*?)</(?:url|sitemap)>"
    blocks = F.regexp_extract_all(F.col(xml_col), F.lit(entry_re), 1)
    is_index = F.col(xml_col).rlike(r"(?s)<sitemapindex[\s>]")
    e = df.select(F.col(host_col).alias("host"), is_index.alias("is_index"),
                  F.posexplode(blocks).alias("doc_pos", "_b"))
    def field(tag: str):
        return F.regexp_extract(
            "_b", rf"(?s)<{tag}[^>]*>\s*(.*?)\s*</{tag}>", 1)
    return (e.select("host", "doc_pos", "is_index",
                     field("loc").alias("loc"),
                     field("lastmod").alias("lastmod"),
                     field("changefreq").alias("changefreq"),
                     field("priority").alias("priority"))
            .where(F.col("loc") != ""))


# --- Bloom-filter seen-set -------------------------------------------------
# The classic crawl-frontier membership structure (Bloom 1970, CACM): at
# web scale the "have we already fetched this URL" set is 10^11+ entries,
# far too big for an exact broadcast — a bit array with k hashes answers
# "definitely new" / "possibly seen" in O(k) with a tunable false-positive
# rate ((1-e^{-kn/m})^k). Hashes are md5-derived (first 8 hex chars per
# (value, salt) pair → a 32-bit integer) so the DuckDB oracle reproduces
# every bit position exactly — xxhash64 would be faster but is not
# portable across engines (see round-workflow notes).

def _bloom_positions(col, m_bits: int, k: int):
    """k portable hash positions in [0, m_bits) for a string column."""
    return [
        (F.conv(F.substring(F.md5(F.concat(col, F.lit(f":{i}"))), 1, 8),
                16, 10).cast("long") % m_bits)
        for i in range(k)]


def bloom_build(df: DataFrame, col: str = "url",
                m_bits: int = 1 << 20, k: int = 4) -> DataFrame:
    """Distributed Bloom bitmap build: → (word_idx, bits) — the m_bits
    array packed into 64-bit words, one row per NON-ZERO word. The
    explode produces k rows per input value; ``bit_or`` is map-side
    combinable, so each task emits at most m_bits/64 partial words and
    the shuffle carries words, not URLs — the reduction is bounded by
    the bitmap size regardless of input cardinality. No driver
    collect: the bitmap stays a DataFrame (persist + reuse across
    candidate batches is the intended pattern)."""
    c = F.col(col)
    pos = F.explode(F.array(*_bloom_positions(c, m_bits, k))).alias("p")
    p = df.select(pos)
    return (p.groupBy(F.expr("p div 64").alias("word_idx"))
            .agg(F.bit_or(F.expr(
                "shiftleft(cast(1 as bigint), cast(p % 64 as int))"))
                 .alias("bits")))


def bloom_might_contain(candidates: DataFrame, bloom: DataFrame,
                        col: str = "url", m_bits: int = 1 << 20,
                        k: int = 4) -> DataFrame:
    """Adds ``possibly_seen``: True iff all k of the candidate's bit
    positions are set in ``bloom`` (same ``m_bits``/``k`` as the
    build); a word absent from the bitmap is an unset bit.

    The bitmap - at most m_bits/64 rows, ~128 KiB per 2^20 bits -
    collapses into a ONE-ROW ``map<long, long>`` cross-joined broadcast
    against the candidates, and ``forall`` over the k positions
    evaluates entirely inside whole-stage codegen. The candidate table
    NEVER shuffles - the probe is a per-row map lookup, which is what
    makes this viable as a filter stage in front of a 10^10-row fetch
    list. A bitmap over the broadcast budget is resized to fit it."""
    c = F.col(col)
    bm = bloom.agg(F.map_from_entries(
        F.collect_list(F.struct("word_idx", "bits"))).alias("_bm"))
    ps = F.array(*_bloom_positions(c, m_bits, k))
    return (candidates.select(c.alias(col), ps.alias("_ps"))
            .crossJoin(F.broadcast(bm))
            .select(col, F.expr(
                "forall(_ps, p -> shiftright(coalesce("
                "element_at(_bm, p div 64), cast(0 as bigint)), "
                "cast(p % 64 as int)) % 2 != 0)")
                .alias("possibly_seen")))


# --- Revisit scheduling (change-rate estimation) ---------------------------

REVISIT_BASE_DAYS = 7
REVISIT_MIN_DAYS = 1
REVISIT_MAX_DAYS = 365


def revisit_schedule(captures: DataFrame, url_col: str = "url",
                     ts_col: str = "warc_ts",
                     digest_col: str = "payload_digest",
                     base_days: int = REVISIT_BASE_DAYS) -> DataFrame:
    """Per-URL re-crawl interval from observed change history — the
    freshness-driven scheduling step of an incremental crawler (Cho &
    Garcia-Molina 2003, "Effective Page Refresh Policies for Web
    Crawlers", ACM TODS — the public result that revisit frequency
    should track each page's observed change rate).

    Per URL over its captures ordered by ``ts_col`` (ties by digest):
    ``n_intervals = n_captures - 1``; ``n_changes`` counts consecutive
    capture pairs whose payload digest differs;
    ``change_rate_e6 = (10^6 · n_changes) div n_intervals`` (0 when a
    URL was captured once); and the integer scheduling rule

        next_days = clamp(REVISIT_MIN_DAYS, REVISIT_MAX_DAYS,
                          (base_days · (n_intervals + 1))
                            div (n_changes + 1))

    — a page that changed every interval is re-crawled at base_days,
    a never-changing page backs off linearly with the evidence, and
    the clamp keeps pathological histories inside crawl policy.

    → (url, n_captures, n_changes, change_rate_e6, next_days).

    Scale shape (10^12 captures): ONE url-keyed exchange; the lag
    window runs inside each url's bounded capture history and the
    follow-up groupBy reuses the same partitioning — no second
    shuffle, everything integer.
    """
    w = (Window.partitionBy(url_col)
         .orderBy(ts_col, digest_col))
    changed = (F.lag(digest_col).over(w).isNotNull()
               & (F.col(digest_col) != F.lag(digest_col).over(w)))
    per = (captures
           .withColumn("_chg", changed.cast("long"))
           .groupBy(url_col)
           .agg(F.count("*").cast("long").alias("n_captures"),
                F.sum("_chg").cast("long").alias("n_changes")))
    n_int = F.col("n_captures") - 1
    rate = F.when(n_int > 0,
                  F.expr("(1000000 * n_changes) div (n_captures - 1)")
                  ).otherwise(F.lit(0))
    # n_intervals + 1 == n_captures, so the rule is one integer div
    days = F.expr(
        f"greatest({REVISIT_MIN_DAYS}L, least({REVISIT_MAX_DAYS}L, "
        f"(({base_days} * cast(n_captures as bigint)) "
        "div (n_changes + 1))))")
    return per.select(
        F.col(url_col).alias("url"), "n_captures", "n_changes",
        rate.cast("long").alias("change_rate_e6"),
        days.cast("long").alias("next_days"))


# --- RSS/Atom feed parsing --------------------------------------------------

def feed_parse(df: DataFrame, col: str = "xml",
               key_col: str = "url") -> DataFrame:
    """RSS 2.0 / Atom feed item extraction — the discovery companion
    to the sitemap parser (RSS 2.0 per the public Harvard/RSS-board
    spec: ``<item><link>url</link><title>…``; Atom per RFC 4287:
    ``<entry><link href="url"/><title>…``). Feeds are how an
    incremental crawler finds NEW urls between sitemap refreshes.

    Per feed document, in document order: every ``<item>`` block
    yields a kind='rss' row (link = the ``<link>`` element text),
    every ``<entry>`` block a kind='atom' row (link = the first
    ``<link … href="…">`` attribute); titles are tag-inner text,
    whitespace-trimmed; missing fields become ''. ``item_idx`` is
    0-based over the rss items followed by the atom entries (a real
    feed is one kind or the other).

    → (key_col, item_idx, kind, link, title).

    Scale shape: shuffle-free — one in-row concat of the two
    extract_all arrays, one posexplode, regex projections; the feed
    body never leaves its row.
    """
    combined = F.expr(
        f"concat("
        f"transform(regexp_extract_all({col}, "
        "'(?is)<item[\\\\s>](.*?)</item>', 1), "
        "x -> struct('rss' AS kind, x AS body)), "
        f"transform(regexp_extract_all({col}, "
        "'(?is)<entry[\\\\s>](.*?)</entry>', 1), "
        "x -> struct('atom' AS kind, x AS body)))")
    items = df.select(
        F.col(key_col),
        F.posexplode(combined).alias("item_idx", "_it"))
    link = F.when(
        F.expr("_it.kind = 'rss'"),
        F.expr("regexp_extract(_it.body, "
               "'(?is)<link[^>]*>(.*?)</link>', 1)")
    ).otherwise(
        F.expr("regexp_extract(_it.body, "
               "'(?is)<link[^>]*?href=\"([^\"]*)\"', 1)"))
    return items.select(
        F.col(key_col),
        F.col("item_idx").cast("long").alias("item_idx"),
        F.expr("_it.kind").alias("kind"),
        F.trim(link).alias("link"),
        F.trim(F.expr("regexp_extract(_it.body, "
                      "'(?is)<title[^>]*>(.*?)</title>', 1)"))
        .alias("title"))
