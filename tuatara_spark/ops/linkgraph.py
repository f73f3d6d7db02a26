"""Link-graph operators: integer-exact PageRank (Page/Brin/Motwani/
Winograd 1999, the public tech report).

Reference parity: jackvial/tuatara has no graph layer (README.md:1-15);
this extends the crawl front end with the standard web-corpus ranking
signal (used as a quality prior when sampling pretraining data).

Why INTEGER arithmetic: float PageRank accumulates engine-specific ulp
drift (sum order differs between Spark partial aggregation and any
oracle), so ranks here live on a fixed-point 10^9 scale with floor
division — every engine computes bit-identical values, and the driver's
hash compare is meaningful. Semantics (stated precisely because
implementations vary): damping 0.85 as the exact rational 85/100;
per-iteration rank = 0.15·scale + floor(85 · Σ floor(r(u)/outdeg(u)) /
100) over in-neighbors u; DANGLING nodes (no out-edges) contribute to
no one — their mass decays rather than redistributing (documented
choice, identical in the oracle).

Scale shape (10^12 edges): each iteration is ONE shuffle join of the
edge table with the narrow (node, rank) table on src — the edge table
can be pre-partitioned by src once and every iteration reuses that
partitioning — followed by a map-side-combinable groupBy(dst). Rank
tables persist per iteration and release at the end. Skewed in-degree
(everyone links to the big hosts) is absorbed by partial aggregation:
per-partition sums collapse before the dst shuffle, so a mega-host
receives one row per partition, not one per in-link.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SCALE = 10 ** 9


def pagerank(edges: DataFrame, iters: int = 3,
             scale: int = SCALE) -> DataFrame:
    """(node, rank) after ``iters`` fixed-point iterations (see module
    docstring for the exact integer recurrence). ``edges`` is a distinct
    (src, dst) table; the node set is the union of both endpoints."""
    from tuatara_spark.ops.dedup import _persist
    edges = _persist(edges.select("src", "dst").distinct())
    outdeg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
    nodes = _persist(edges.select(F.col("src").alias("node"))
                     .union(edges.select(F.col("dst").alias("node")))
                     .distinct())
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    base = (15 * scale) // 100
    for _ in range(iters):
        contrib = (edges
                   .join(ranks.withColumnRenamed("node", "src"), "src")
                   .join(outdeg, "src")
                   .select(F.col("dst").alias("node"),
                           F.expr("rank div _deg").alias("_c")))
        s = contrib.groupBy("node").agg(F.sum("_c").alias("_m"))
        ranks = _persist(
            nodes.join(s, "node", "left")
            .select("node",
                    (F.lit(base)
                     + F.expr("(85 * coalesce(_m, 0L)) div 100"))
                    .cast("long").alias("rank")))
    return ranks


def trustrank(edges: DataFrame, seeds: list[str], iters: int = 3,
              scale: int = SCALE) -> DataFrame:
    """Integer-exact TrustRank (Gyöngyi, Garcia-Molina, Pedersen,
    VLDB 2004 — "Combating Web Spam with TrustRank") → (node, trust).

    Same fixed-point frame as :func:`pagerank`, but the teleport mass
    lands ONLY on a hand-vetted seed set: trust flows outward from
    known-good hosts, so spam farms that manufacture in-links among
    themselves stay near zero (their only inbound paths start outside
    the seed neighborhood). Exact recurrence on the 10^9 scale, stated
    because biasing conventions vary: seeds start at ``scale``,
    non-seeds at 0; per iteration
    ``t(v) = d_v + (85 · Σ_{u→v} (t(u) div outdeg(u))) div 100`` with
    static mass ``d_v = (15·scale) div 100`` for seeds, else 0 (the
    per-seed form — no division by |S|, so seed trust is comparable
    across seed-set sizes; documented, mirrored in the oracle).
    Dangling mass decays, as in :func:`pagerank`.

    Scale shape (10^12 edges): identical to PageRank — per iteration
    ONE shuffle join of the edge table (pre-partitioned by src, reused
    every iteration) with the narrow (node, trust) table, then a
    map-side-combinable groupBy(dst) that collapses mega-host in-degree
    skew to one partial row per partition. The seed set is driver-side
    (vetted lists are thousands of hosts, not billions) and enters the
    plan as a broadcast ``isin``-free join, never a shuffle.
    """
    from tuatara_spark.ops.dedup import _persist
    spark = edges.sparkSession
    edges = _persist(edges.select("src", "dst").distinct())
    outdeg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
    seed_df = F.broadcast(
        spark.createDataFrame([(s,) for s in sorted(set(seeds))],
                              "node string")
        .withColumn("_seed", F.lit(1)))
    nodes = _persist(edges.select(F.col("src").alias("node"))
                     .union(edges.select(F.col("dst").alias("node")))
                     .distinct()
                     .join(seed_df, "node", "left")
                     .select("node", F.coalesce("_seed", F.lit(0))
                             .alias("_seed")))
    base = (15 * scale) // 100
    ranks = nodes.select(
        "node", (F.col("_seed") * scale).cast("long").alias("trust"))
    for _ in range(iters):
        contrib = (edges
                   .join(ranks.withColumnRenamed("node", "src"), "src")
                   .join(outdeg, "src")
                   .select(F.col("dst").alias("node"),
                           F.expr("trust div _deg").alias("_c")))
        s = contrib.groupBy("node").agg(F.sum("_c").alias("_m"))
        ranks = _persist(
            nodes.join(s, "node", "left")
            .select("node",
                    (F.col("_seed") * base
                     + F.expr("(85 * coalesce(_m, 0L)) div 100"))
                    .cast("long").alias("trust")))
    return ranks


def hits(edges: DataFrame, iters: int = 2,
         scale: int = SCALE) -> DataFrame:
    """Integer-exact HITS hubs/authorities (Kleinberg 1999, the public
    JACM paper) → (node, hub, auth) on a fixed-point ``scale``.

    Exact semantics (stated because normalization varies): hubs start
    at ``scale``; each iteration computes raw authority
    ``a_raw(v) = Σ_{u→v} h(u)`` then renormalizes by the corpus max —
    ``a(v) = (a_raw·scale) div max(a_raw)`` — and symmetrically
    ``h_raw(u) = Σ_{u→v} a(v)``, ``h = (h_raw·scale) div max(h_raw)``.
    Max-normalization with floor division replaces the float L2 norm:
    values stay in [0, scale], every intermediate is a BIGINT, and the
    result is bit-identical across engines and partitionings (the
    driver's value-hash compare stays meaningful). Nodes with no
    in-edges hold authority 0; no out-edges, hub 0 after round 1.

    Scale shape (same as :func:`pagerank`): each half-iteration is ONE
    shuffle join of the edge table with the narrow (node, score) table
    on its key — the edge table pre-partitions once per direction and
    every iteration reuses it — plus a map-side-combinable groupBy on
    the other endpoint, so mega-host in-degree skew collapses to one
    partial row per partition. The renormalizing max is a 1-row
    aggregate broadcast back via a cross join. BIGINT headroom:
    ``a_raw ≤ in_degree·scale``; at 10^9-in-degree hubs shrink
    ``scale`` — a knob, not load-bearing.
    """
    from tuatara_spark.ops.dedup import _persist
    edges = _persist(edges.select("src", "dst").distinct())
    nodes = _persist(edges.select(F.col("src").alias("node"))
                     .union(edges.select(F.col("dst").alias("node")))
                     .distinct())

    # Inside the iterations, zero-score nodes are NEVER materialized:
    # a node absent from the score table contributes exactly 0 to every
    # neighbor sum (inner join drops it) and 0 never wins the
    # renormalizing max, so the per-round left-join-with-nodes of the
    # old formulation bought nothing but an extra join + exchange per
    # half-iteration. Each half-iteration's raw aggregate persists
    # (narrow (node, score) rows) and its renormalizing max is a
    # 1-row driver round-trip baked into the next plan as a literal —
    # the bpe_train precedent: one scalar per sequential round is the
    # algorithm's irreducible core, and replacing the scalar-subquery
    # broadcast with a literal halves the blocking stage chain
    # (measured 3.2 s → 1.2 s on a 40-host graph, where the whole
    # cost is stage latency). Zero-filling happens once, in the final
    # nodes-keyed select.
    def _norm(raw: DataFrame, col: str) -> DataFrame:
        raw = _persist(raw)
        # collect(), not first(): .first() takes the limit/head path,
        # which a micro-probe measures ~120 ms slower per call on a
        # 1-row aggregate (in-context A/B at bench scale the difference
        # washes into regime noise — kept because it is never worse and
        # this runs once per half-iteration)
        mx = raw.agg(F.max(col).alias("_mx")).collect()[0][0]
        if mx is None:      # empty graph: raw has no rows to rescale
            mx = 1
        return raw.select("node",
                          F.expr(f"({col} * {scale}) div {mx}")
                          .cast("long").alias(col))

    hub = nodes.select("node", F.lit(scale).cast("long").alias("hub"))
    auth = None
    for _ in range(iters):
        a_raw = (edges.join(hub.withColumnRenamed("node", "src"), "src")
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.sum("hub").alias("auth")))
        auth = _norm(a_raw, "auth")
        h_raw = (edges.join(auth.withColumnRenamed("node", "dst"), "dst")
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.sum("auth").alias("hub")))
        hub = _norm(h_raw, "hub")
    return (nodes.join(hub, "node", "left").join(auth, "node", "left")
            .select("node",
                    F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
                    F.coalesce("auth", F.lit(0)).cast("long")
                    .alias("auth")))


def anchor_stats(links: DataFrame, dst_col: str = "href",
                 src_col: str = "url", anchor_col: str = "anchor",
                 k: int = 3, min_count: int = 1) -> DataFrame:
    """Per link TARGET: in-degree, distinct source count, and the top-k
    anchor texts by count — the classic external document signal (anchor
    text describes the target better than the target describes itself;
    used for retrieval and as a pretraining quality prior).

    Scale shape: in-degree and the (dst, anchor) counts are map-side-
    combinable aggregations, so a mega-target (everyone links to the big
    sites) receives one partial row per upstream partition — in-link
    skew never concentrates raw rows. The top-k window then runs over
    COLLAPSED (dst, anchor, count) rows: its partition size is the
    target's distinct-anchor count, not its in-degree. ``min_count``
    prunes singleton anchors before the window for further headroom.
    Determinism: ties rank by (count DESC, anchor ASC).
    """
    from pyspark.sql import Window
    e = links.select(F.col(dst_col).alias("dst"),
                     F.col(src_col).alias("src"),
                     F.trim(F.col(anchor_col)).alias("anchor"))
    deg = e.groupBy("dst").agg(
        F.count("*").alias("in_degree"),
        F.count_distinct("src").alias("n_sources"))
    ac = (e.where(F.col("anchor") != "")
          .groupBy("dst", "anchor").agg(F.count("*").alias("anchor_n"))
          .where(F.col("anchor_n") >= min_count))
    w = Window.partitionBy("dst").orderBy(F.col("anchor_n").desc(),
                                          F.col("anchor").asc())
    top = (ac.withColumn("anchor_rank", F.row_number().over(w))
           .where(F.col("anchor_rank") <= k))
    return (deg.join(top, "dst", "left")
            .select("dst", "in_degree", "n_sources",
                    F.coalesce("anchor_rank", F.lit(0)).cast("int")
                    .alias("anchor_rank"),
                    F.coalesce("anchor", F.lit("")).alias("anchor"),
                    F.coalesce("anchor_n", F.lit(0)).cast("long")
                    .alias("anchor_n")))


def host_components(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """(host, component_id) — connected components over the UNDIRECTED
    host graph; component_id is the lexicographically smallest host
    reachable from each node. The mirror/site-family detector: hosts
    serving the same content link densely among themselves (www/m/cdn
    variants, country mirrors), and collapsing a component to one
    representative prevents a single site family from dominating a
    training corpus beyond the per-host caps.

    Reuses the dedup layer's min-label propagation
    (ops/dedup.py cluster_ids — Rastogi et al. ICDE'13 family), which
    is id-type-agnostic: one narrow (node, label) join + map-side
    groupBy per round, O(component diameter) rounds; host graphs are
    shallow (families are near-cliques), so rounds stay single-digit.
    """
    from tuatara_spark.ops.dedup import cluster_ids
    nodes = (edges.select(F.col("src").alias("host"))
             .union(edges.select(F.col("dst").alias("host")))
             .distinct())
    pairs = edges.select(F.col("src").alias("id_a"),
                         F.col("dst").alias("id_b"))
    out = cluster_ids(nodes, pairs, id_col="host", max_iters=max_iters)
    return out.withColumnRenamed("cluster_id", "component_id")


def opic(edges: DataFrame, iters: int = 3,
         scale: int = SCALE) -> DataFrame:
    """Integer-exact OPIC — Adaptive On-line Page Importance
    Computation (Abiteboul, Preda, Cobena, WWW 2003, the public
    paper) → (node, cash, history). The crawl-ordering importance
    estimate that needs NO convergence wait: each node starts with an
    equal cash share; a "visit" banks the node's cash into its history
    and distributes it equally to its successors. Importance ≈
    history; pages can be prioritized after any number of rounds (the
    on-line property PageRank lacks).

    Exact recurrence (synchronous variant — every node visited each
    round, stated because visit policies vary): with outdeg(u) > 0,
    ``cash_{t+1}(v) = Σ_{u→v} (cash_t(u) div outdeg(u))``;
    ``history_{t+1}(v) = history_t(v) + cash_t(v)``. Dangling nodes
    bank their cash but distribute to no one (mass decays, as in
    :func:`pagerank`; documented, mirrored in the oracle). Initial
    cash = ``scale div n_nodes``; all arithmetic BIGINT floor division
    — bit-identical across engines.

    Scale shape: identical per-round plan to :func:`pagerank` — one
    src-keyed edge join (partitioning reusable every round) + a
    map-side-combinable groupBy(dst); history rides the narrow
    (node, cash, history) table. The on-line property matters at
    10^12 URLs: the frontier can consume importance estimates after
    round 1 while later rounds refine them.
    """
    from tuatara_spark.ops.dedup import _persist
    edges = _persist(edges.select("src", "dst").distinct())
    outdeg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
    nodes = _persist(edges.select(F.col("src").alias("node"))
                     .union(edges.select(F.col("dst").alias("node")))
                     .distinct())
    n_df = nodes.agg(F.count("*").alias("_n"))
    state = (nodes.crossJoin(F.broadcast(n_df))
             .select("node",
                     F.expr(f"{scale}L div _n").cast("long").alias("cash"),
                     F.lit(0).cast("long").alias("history")))
    for _ in range(iters):
        contrib = (edges
                   .join(state.withColumnRenamed("node", "src")
                         .select("src", "cash"), "src")
                   .join(outdeg, "src")
                   .select(F.col("dst").alias("node"),
                           F.expr("cash div _deg").alias("_c")))
        inflow = contrib.groupBy("node").agg(F.sum("_c").alias("_in"))
        state = _persist(
            state.join(inflow, "node", "left")
            .select("node",
                    F.coalesce("_in", F.lit(0).cast("long"))
                    .cast("long").alias("cash"),
                    (F.col("history") + F.col("cash")).cast("long")
                    .alias("history")))
    return state
