"""Corpus search scoring: an integer-exact BM25-family ranker.

Reference parity: jackvial/tuatara has no retrieval layer; this is the
standard bag-of-words relevance score (Robertson/Spärck Jones BM25,
public SIGIR/TREC literature) used to mine topical subsets of a crawl
corpus for curriculum/finetuning data.

Why integer arithmetic: float BM25 differs across engines in summation
order and ln() ulps, which would break the value-hash oracle. Two exact
substitutions make every intermediate a BIGINT (documented semantics,
not silent approximation):

* k1 = 12/10 and b = 3/4 enter as rationals; multiplying the Robertson
  term through by 10·avgdl_e3 clears all denominators::

      term = idf_e6 · 22 · tf · A  //  (10·tf·A + 3·A + 9·dl·1000)

  where A = avgdl_e3 = (total_tokens·1000) // n_docs and dl is the
  document's token count.
* idf is the LOG-FREE rational surrogate
  ``((2(N − df) + 1)·10^6) // (2·df + 1)`` — exactly the argument of
  Robertson's ln, un-compressed. Monotone in df (rare terms weigh
  more), bit-exact everywhere; rankings differ from log-BM25 only in
  how steeply rarity is rewarded.

BIGINT headroom: the largest intermediate is idf_e6·22·tf·avgdl_e3;
at extreme corpus sizes (idf_e6 grows with N/df) shrink ``IDF_SCALE``
so the product stays under 2^63 — the scale is a knob, not a constant
the math depends on.

Scale shape: the token explode filters to the query's terms FIRST
(a broadcast ``isin`` over a handful of literals), so only matching
tokens ever shuffle; tf/df/dl are map-side-combinable aggregations; the
global scalars (N, avgdl) are one tiny aggregate broadcast back via a
1-row cross join. No windows, no Python, no floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

IDF_SCALE = 10 ** 6


def bm25_rank(df: DataFrame, terms: list[str], text_col: str = "text",
              id_col: str = "doc_id", limit: int = 50) -> DataFrame:
    """(doc_id, n_terms_hit, score_e6) for documents matching ≥1 query
    term, ordered by (score DESC, doc_id) and truncated to ``limit``
    (compiles to TakeOrdered — no global sort)."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.expr(
            rf"filter(split(lower(trim({text_col})), '\\s+'), "
            "x -> x != '')")).alias("_w"))
    dl = toks.groupBy("_id").agg(F.count("*").alias("dl"))
    scalars = dl.agg(
        F.count("*").alias("n_docs"),
        F.expr("(sum(dl) * 1000) div count(*)").alias("avgdl_e3"))
    hit = toks.where(F.col("_w").isin([t.lower() for t in terms]))
    tf = hit.groupBy("_id", "_w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("_w").agg(F.count("*").alias("term_df"))
    scored = (tf.join(dfreq, "_w").join(dl, "_id")
              .crossJoin(F.broadcast(scalars))
              .withColumn("idf_e6", F.expr(
                  f"((2 * (n_docs - term_df) + 1) * {IDF_SCALE}) "
                  "div (2 * term_df + 1)"))
              .withColumn("term_score", F.expr(
                  "(idf_e6 * 22 * tf * avgdl_e3) div "
                  "(10 * tf * avgdl_e3 + 3 * avgdl_e3 + 9 * dl * 1000)")))
    return (scored.groupBy("_id")
            .agg(F.count("*").alias("n_terms_hit"),
                 F.sum("term_score").alias("score_e6"))
            .select(F.col("_id").alias(id_col),
                    F.col("n_terms_hit").cast("long").alias("n_terms_hit"),
                    F.col("score_e6").cast("long").alias("score_e6"))
            .orderBy(F.col("score_e6").desc(), F.col(id_col))
            .limit(limit))


def inverted_index(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   max_df: int | None = None) -> DataFrame:
    """Positional inverted index → one row per term:
    ``(term, doc_freq, total_tf, postings)`` where ``postings`` is the
    canonical wire string ``"id:p0,p1 id:p0 …"`` — documents ascending
    by id, 0-based token positions ascending within each document. A
    deterministic string (not array<struct>) so the index is directly
    writable/diffable and the driver's value-hash compare sees
    identical bytes from any engine.

    ``max_df`` prunes stopword-grade terms (df > max_df) BEFORE any
    postings are materialized — the skew guard: a term's final-stage
    group size is its document frequency, and the head of the Zipf
    curve is exactly the part retrieval systems cut anyway.

    Scale shape: positions come from one posexplode; the (term, doc)
    reduction collapses each document's occurrences to a single row
    (count + sorted position list) with the per-doc position string
    built in-row; ``doc_freq`` is a map-side-combinable count computed
    on the COLLAPSED rows and joined back (shuffle reuse: same term
    key), so the df filter sees one row per (term, doc), never raw
    token rows. The final per-term gather moves exactly the postings
    content — the index itself — and nothing else.
    """
    from tuatara_spark.ops.dedup import _wide
    # id-keyed widening repartition (shingle_tokens pattern): the
    # tokenize + position explode and the (term, doc) partial
    # aggregation run at full width even off a one-row-group scan
    toks = df.repartition(_wide(df), F.col(id_col)).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.expr(
            rf"filter(split(lower(trim({text_col})), '\\s+'), "
            "x -> x != '')")).alias("_pos", "_w"))
    per_doc = (toks.groupBy("_w", "_id")
               .agg(F.count("*").alias("_tf"),
                    F.array_join(
                        F.transform(F.array_sort(F.collect_list("_pos")),
                                    lambda x: x.cast("string")),
                        ",").alias("_poss"))
               .withColumn("_entry", F.concat_ws(":", F.col("_id"),
                                                 F.col("_poss"))))
    dfreq = per_doc.groupBy("_w").agg(F.count("*").alias("doc_freq"))
    if max_df is not None:
        dfreq = dfreq.where(F.col("doc_freq") <= max_df)
    return (per_doc.join(dfreq, "_w")
            .groupBy("_w", "doc_freq")
            .agg(F.sum("_tf").alias("total_tf"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct(F.col("_id"), F.col("_entry")))),
                         lambda s: s["_entry"]), " ").alias("postings"))
            .select(F.col("_w").alias("term"),
                    F.col("doc_freq").cast("long").alias("doc_freq"),
                    F.col("total_tf").cast("long").alias("total_tf"),
                    "postings"))


def _merge_fold_expr(expr, left: str, right: str):
    """Catalyst left-fold applying ONE merge rule (left, right) →
    left+right over a symbol array with the standard leftmost-first
    non-overlapping semantics ("a a a" under (a,a) → ["aa", "a"]): the
    fold's accumulator tail can never re-match as `right` because the
    merged token is strictly longer than `left`."""
    def step(acc, s):
        hit = ((F.size(acc) > 0)
               & (F.element_at(acc, -1) == F.lit(left))
               & (s == F.lit(right)))
        return F.when(hit, F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(F.lit(left + right)))) \
            .otherwise(F.concat(acc, F.array(s)))
    return F.aggregate(expr, F.array().cast("array<string>"), step)


def bpe_train(df: DataFrame, col: str = "syms",
              k: int = 8) -> list[tuple[int, str, str, str]]:
    """Distributed BPE merge training (Sennrich/Haddow/Birch 2016, the
    public ACL paper): ``k`` rounds of count-all-adjacent-pairs →
    merge the most frequent pair corpus-wide. Input is a DataFrame of
    symbol ARRAYS (characters, bytes, or pre-split units — the op is
    representation-agnostic); returns [(rank, left, right, merged)].

    Determinism: the winning pair each round is (count DESC, left ASC,
    right ASC) — bit-stable across engines, partitionings and cluster
    sizes, which is what makes a tokenizer reproducible.

    Scale shape: each round is one explode of adjacent pairs (via two
    shifted slices zipped — no self-join) into a map-side-combinable
    count, then a TakeOrdered(1); the single winning rule is a SCALAR,
    so the driver round-trip is one row per round — the irreducible
    sequential core of BPE (rule r+1 depends on r), not a
    collect-the-data antipattern. The merge applies corpus-wide as a
    left FOLD over each array (``aggregate`` HOF): a left fold gives
    the standard leftmost-first non-overlapping semantics ("a a a"
    under (a,a) → ["aa", "a"]) for free. The fold is Catalyst-
    interpreted per element — the documented slow path traded for
    correct sequential-merge semantics inside one row; rows stay
    embarrassingly parallel.
    """
    from tuatara_spark.ops.dedup import _persist

    def apply_merge(left: str, right: str):
        return _merge_fold_expr(F.col(col), left, right)

    cur = _persist(df.select(col))
    merges: list[tuple[int, str, str, str]] = []
    for rank in range(1, k + 1):
        n = F.size(F.col(col))
        pairs = (cur.where(n >= 2)   # slice(length<1) would refuse
                 .select(F.explode(F.arrays_zip(
                     F.slice(F.col(col), 1, n - 1).alias("l"),
                     F.slice(F.col(col), 2, n - 1).alias("r")))
                     .alias("p")))
        top = (pairs.groupBy(F.col("p.l").alias("l"),
                             F.col("p.r").alias("r"))
               .agg(F.count("*").alias("c"))
               .orderBy(F.col("c").desc(), F.col("l").asc(),
                        F.col("r").asc())
               .limit(1).collect())
        if not top:
            break
        left, right = top[0].l, top[0].r
        merges.append((rank, left, right, left + right))
        cur = _persist(cur.select(apply_merge(left, right).alias(col)))
    return merges


def bpe_encode(df: DataFrame, merges, col: str = "syms",
               out_col: str = "tokens") -> DataFrame:
    """Corpus-scale BPE tokenization: apply a TRAINED merge table to
    every document as ONE shuffle-free projection (the op a training
    pipeline runs nightly over 10^12 documents; `bpe_train` runs once).

    ``merges`` is the [(rank, left, right, merged)] list `bpe_train`
    returns. Rules are applied corpus-wide in rank order — rule r+1
    sees rule r's merged tokens, so multi-level merges ((t,h)→th then
    (th,e)→the) compose exactly as they did during training. Each rule
    is the same leftmost-first non-overlapping left fold training used
    between rounds (`_merge_fold_expr`), chained into a single Catalyst
    expression: the merge table rides inside the serialized plan to
    every executor (broadcast-equivalent for the tables this path is
    for), and the scan→project pipeline has no shuffle, no Python, no
    driver round-trips.

    Scale shape: per-row cost is O(len · k) with k plan-literal rules —
    right for char-level/analysis vocabularies (k ≲ 100). A
    production 50k-rule tokenizer would overflow a literal plan, and no
    encoder here serves that regime. Queries use `bpe_encode_replace`;
    this fold is the reference the tests compare it against.
    """
    expr = F.col(col)
    for _, left, right, _ in sorted(merges):
        expr = _merge_fold_expr(expr, left, right)
    return df.withColumn(out_col, expr)


def bpe_encode_replace(df: DataFrame, merges, col: str = "syms",
                       out_col: str = "tokens") -> DataFrame:
    """`bpe_encode` via the double-delimiter string isomorphism — the
    same trick the DuckDB oracle uses: the symbol array renders as
    ``||t1||t2||…||``; one merge rule is one plain string
    ``replace('|l||r|' → '|lr|')``, because left-to-right
    resume-after-replacement replace IS the leftmost-first
    non-overlapping left fold (pinned by the shared-boundary /
    false-boundary pytest cases and the rank-order chain). Replaces
    the per-rule Catalyst ``aggregate`` fold — which is INTERPRETED
    per array element — with k codegen'd string replaces: measured
    3.7 s → ~0.6 s on the bench encode (8 rules × 24-char docs at
    sf0.1), identical output (equivalence pytest over random corpora).

    Precondition (checked): no rule token contains ``|``; rows whose
    SYMBOLS contain ``|`` would make the rendering ambiguous, so
    callers use this path only over known-delimiter-free alphabets
    (the general fold `bpe_encode` has no such restriction).
    """
    for _, left, right, merged in merges:
        if "|" in left + right + merged:
            raise ValueError("bpe_encode_replace needs '|'-free tokens")
    s = F.concat(F.lit("||"), F.array_join(F.col(col), "||"), F.lit("||"))
    for _, left, right, merged in sorted(merges):
        s = F.replace(s, F.lit(f"|{left}||{right}|"), F.lit(f"|{merged}|"))
    toks = F.split(F.expr("substring(_s, 3, length(_s) - 4)"), r"\|\|")
    return (df.withColumn("_s", s)
            .withColumn(out_col,
                        F.when(F.size(F.col(col)) == 0,
                               F.expr("cast(array() as array<string>)"))
                        .otherwise(toks))
            .drop("_s"))


# ----------------------------------------------------------- WordPiece ----

WORDPIECE_UNK = "[UNK]"
WORDPIECE_CONT = "##"
WORDPIECE_MAX_WORD = 16   # chars; longer words become [UNK] (BERT's
# max_input_chars_per_word rule, public BERT repo tokenization.py)
WORDPIECE_MAX_PIECE = 8   # longest vocab piece tried per position


def wordpiece_encode(df: DataFrame, vocab: list[str],
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """WordPiece greedy encoding — the BERT tokenizer family (Wu et
    al. 2016; the public BERT repo's greedy longest-match-first over a
    piece vocabulary, continuation pieces prefixed ``##``), completing
    the repo's tokenizer coverage next to BPE train/encode.

    Per whitespace word: starting at position 0, take the LONGEST
    vocab piece matching at the cursor (``##``-prefixed when not
    word-initial, pieces up to WORDPIECE_MAX_PIECE chars), advance;
    any position with no match — or a word longer than
    WORDPIECE_MAX_WORD — encodes as ``[UNK]``. Deterministic and
    integer-exact by construction.

    → (id_col, n_words, n_tokens, tokens_str — pieces joined by ' ').

    Scale shape: ONE shuffle-free codegen projection — the greedy
    loop is an in-row bounded ``aggregate`` fold (each step consumes
    ≥1 char, so WORDPIECE_MAX_WORD steps suffice) nested in a
    per-word ``transform``; the vocabulary is inlined into the
    expression (tokenizer vocabs are driver-side files; for 30k-piece
    production vocabs the same fold applies with the vocab broadcast
    as a map-side array). Nothing leaves the row.
    """
    for v in vocab:
        if "'" in v or "\\" in v:
            raise ValueError("vocab pieces must not contain quotes")
    vlit = "array(" + ", ".join(f"'{v}'" for v in vocab) + ")"
    maxw, maxp = WORDPIECE_MAX_WORD, WORDPIECE_MAX_PIECE
    match = (f"filter(sequence(least(length(w) - a.pos, {maxp}), 1, -1), "
             f"l -> array_contains({vlit}, "
             f"concat(IF(a.pos = 0, '', '{WORDPIECE_CONT}'), "
             "substring(w, a.pos + 1, l))))")
    step = (
        "IF(a.fail OR a.pos >= length(w), a, "
        f"IF(size({match}) = 0, "
        "named_struct('pos', a.pos, 'toks', a.toks, 'fail', true), "
        f"named_struct('pos', a.pos + element_at({match}, 1), "
        "'toks', array_append(a.toks, "
        f"concat(IF(a.pos = 0, '', '{WORDPIECE_CONT}'), "
        f"substring(w, a.pos + 1, element_at({match}, 1)))), "
        "'fail', false)))")
    enc = (
        f"CASE WHEN length(w) > {maxw} THEN array('{WORDPIECE_UNK}') "
        f"ELSE aggregate(sequence(1, {maxw}), "
        "named_struct('pos', 0, "
        "'toks', cast(array() as array<string>), 'fail', false), "
        f"(a, i) -> {step}, "
        f"a -> IF(a.fail, array('{WORDPIECE_UNK}'), a.toks)) END")
    words = rf"filter(split({text_col}, '\\s+'), x -> x != '')"
    pieces = f"flatten(transform({words}, w -> {enc}))"
    return df.select(
        F.col(id_col),
        F.expr(f"cast(size({words}) as bigint)").alias("n_words"),
        F.expr(f"cast(size({pieces}) as bigint)").alias("n_tokens"),
        F.expr(f"array_join({pieces}, ' ')").alias("tokens_str"))
