"""Market-basket co-occurrence mining and graph triangle counting.

The reference pipeline ships product/event rows to a behavioral
analytics API; the first analysis every such API runs on them is
"what co-occurs with what" (feature adoption pairs, co-purchased
parts, co-fired events). This module implements the two classical
primitives Spark-first:

- :func:`frequent_item_pairs` — A-PRIORI PRUNED pairwise
  co-occurrence. The naive per-basket self-join is quadratic in basket
  size and linear in baskets; the a-priori property (a pair can only
  be frequent if both items are) lets us semi-join each side to the
  frequent-item set FIRST, which at 100 TB is the difference between
  joining the full corpus against itself and joining two
  support-filtered slivers. All JVM: two groupBys + one
  basket-keyed self-join, no Python, no windows.

- :func:`triangle_count` — triangles in an undirected graph given as
  an edge list (here: the co-occurrence graph, but any edge table
  works — near-dup pairs, entity clusters). Uses the canonical
  orientation trick: orient every edge from the lower-DEGREE endpoint
  to the higher (tiebreak by id), enumerate wedges from the oriented
  list, then semi-join wedges against oriented edges. Degree
  orientation bounds the wedge count by sum(min-degree^2) — the
  standard bound that keeps skewed hub nodes from exploding the
  intermediate (a hub of degree d contributes wedges only through its
  LOW-degree neighbors).

Scale shape: support thresholds bound every intermediate; the only
unbounded join (basket self-join) is pre-filtered by the a-priori
semi-joins and optionally by ``max_basket_size`` (a pathological
billion-item basket is a data bug, not a signal — cap it and report).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_items(
    df: DataFrame, basket_col: str, item_col: str, min_support: int
) -> DataFrame:
    """Items appearing in at least ``min_support`` distinct baskets.
    One groupBy over deduplicated (basket, item) pairs."""
    return (
        df.select(F.col(basket_col).alias("basket"),
                  F.col(item_col).alias("item"))
        .distinct()
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("item_support"))
        .where(F.col("item_support") >= min_support)
    )


def frequent_item_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_support: int,
    min_item_support: int | None = None,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Pairs of items co-occurring in >= ``min_pair_support`` baskets,
    a-priori pruned: each side of the basket self-join is first
    semi-joined to the frequent-item set (``min_item_support``,
    defaulting to ``min_pair_support`` — the a-priori bound itself).

    Pairs are canonical ``item_a < item_b`` so each unordered pair
    counts once. Output: pair, pair_support, and each item's own
    support (numerators/denominators for lift or confidence downstream,
    computed here because the joins are already paid for).

    ``max_basket_size`` drops baskets above the cap BEFORE the
    self-join (quadratic guard); dropped-basket count is the caller's
    to report (see ``curation`` stage pattern) — here we keep the
    operator pure. The cap affects PAIR counting only: item supports
    (``support_a``/``support_b`` and the a-priori prune) are always
    computed over the UNCAPPED basket universe, so an item's own
    support is its true global support regardless of the cap, and the
    prune stays a valid superset filter (pre-cap support >= capped
    support >= capped pair support).
    """
    min_item = min_item_support if min_item_support is not None else min_pair_support
    pairs_base = (
        df.select(F.col(basket_col).alias("basket"),
                  F.col(item_col).alias("item"))
        .distinct()
    )
    # item supports derive from the SAME deduplicated (basket, item)
    # relation — recomputing them from `df` (the old frequent_items
    # call) paid a second scan + distinct of the fact table for
    # identical numbers. Supports are taken BEFORE any basket-size
    # cap (see docstring); the pin makes the uncapped relation a
    # single materialization feeding supports + sizes + the capped
    # relation (dual-consumption rule, SCALE.md item 0).
    pairs_base = pairs_base.localCheckpoint(eager=True)
    freq = (
        pairs_base.groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("item_support"))
        .where(F.col("item_support") >= min_item)
    )
    if max_basket_size is not None:
        sizes = (
            pairs_base.groupBy("basket")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .where(F.col("__bsz") <= max_basket_size)
            .select("basket")
        )
        pairs_base = pairs_base.join(sizes, "basket", "left_semi")
    # a-priori prune: only frequent items enter the self-join. The
    # frequent set is support-bounded but NOT forced-broadcast (same
    # rule as curation stages) — AQE picks the strategy. The pruned
    # relation is pinned so BOTH self-join sides read one
    # materialization (dual-consumption rule, SCALE.md item 0).
    pruned = pairs_base.join(
        freq.select("item"), "item", "left_semi"
    ).localCheckpoint(eager=True)
    left = pruned.select("basket", F.col("item").alias("item_a"))
    right = pruned.select("basket", F.col("item").alias("item_b"))
    pair_support = (
        left.join(right.hint("shuffle_hash"), "basket")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_support"))
        .where(F.col("pair_support") >= min_pair_support)
    )
    sup_a = freq.select(F.col("item").alias("item_a"),
                        F.col("item_support").alias("support_a"))
    sup_b = freq.select(F.col("item").alias("item_b"),
                        F.col("item_support").alias("support_b"))
    return (
        pair_support.join(sup_a, "item_a").join(sup_b, "item_b")
        .select("item_a", "item_b", "pair_support", "support_a", "support_b")
    )


def undirected_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """The simple undirected graph of an edge list: each edge once as
    ``(a, b)`` with ``a < b`` (least/greatest of its endpoints), with
    self-loops and duplicates dropped. Every graph operator reads its
    input through this one canonical form."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def mirror(canon: DataFrame) -> DataFrame:
    """Both orientations ``(u, v)`` of every canonical ``(a, b)`` edge:
    the adjacency relation, 2|E| rows, so ``groupBy("u")`` is the
    degree and a join on ``u`` walks every neighbor."""
    return canon.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        canon.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


def _degrees(canon: DataFrame, name: str) -> DataFrame:
    """(node, ``name``) degree of every node of a canonical edge set."""
    return mirror(canon).groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias(name)
    )


def orient_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Degree-orient an undirected edge list: every edge points from
    its lower-degree endpoint to the higher (ties broken by node id,
    so the orientation is a total order and acyclic). Input edges may
    be in either canonical form; duplicates and self-loops are
    dropped. Output columns: ``u`` (low side), ``v`` (high side)."""
    canon = undirected_edges(edges, src, dst)
    deg = _degrees(canon, "deg")
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    # degree hydration: big-big equi-joins — shuffle_hash, not SMJ (the
    # sort buys nothing; repo-wide join discipline, see SCALE.md).
    with_deg = canon.join(da.hint("shuffle_hash"), "a").join(
        db.hint("shuffle_hash"), "b"
    )
    low_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return with_deg.select(
        F.when(low_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(low_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global triangle count of the undirected simple graph.

    Wedge enumeration over the degree-oriented edge list: for each
    node u, every pair of its out-neighbors (v, w) is a wedge; the
    wedge closes iff (min(v,w) -> max(v,w)) is itself an oriented
    edge... but with DEGREE orientation the closing edge can point
    either way, so the closure probe joins against the CANONICAL
    (undirected) edge set keyed least/greatest. Each triangle is
    counted exactly once (it has exactly one wedge at its
    lowest-orientation-rank vertex).

    Returns one row: n_nodes, n_edges, n_triangles — the audit shape.
    """
    oriented = orient_edges(edges, src, dst)
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    # wedge enumeration + closure probe: both are big-big equi-joins on
    # hash-partitionable keys — shuffle_hash keeps them sort-free.
    wedges = (
        e1.join(e2.hint("shuffle_hash"), "u")
        .where(F.col("x") < F.col("y"))
        .select("u", "x", "y")
    )
    undirected = oriented.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    )
    closed = wedges.join(
        undirected.select(
            F.col("x"), F.col("y"), F.lit(1).alias("__hit")
        ).hint("shuffle_hash"),
        ["x", "y"],
        "left_semi",
    )
    n_tri = closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    n_edges = undirected.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_nodes = (
        oriented.select(F.col("u").alias("node"))
        .unionAll(oriented.select(F.col("v").alias("node")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    # three scalar aggregates -> one row; the cross joins are 1x1x1.
    return n_nodes.crossJoin(n_edges).crossJoin(n_tri)


def association_rules(
    edges: DataFrame, n_baskets: int, top_k: int = 30
) -> DataFrame:
    """Directed association rules from a mined pair table
    (frequent_item_pairs output): both orientations of every pair with

        confidence_ppm = pair_support * 1e6 div support(antecedent)
        lift_ppm       = pair_support * n_baskets * 1e6
                           div (support_a * support_b)

    — all BIGINT (lift > 1e6 means positive association), top-k by
    lift with deterministic tiebreaks. Runs on the (already
    support-bounded) edge relation: a union + projection + top-k, no
    new corpus pass; ``n_baskets`` is the one scalar the caller
    supplies (a count the mining pass already touched)."""
    fwd = edges.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "pair_support",
        F.col("support_a").alias("sup_ante"),
        F.col("support_b").alias("sup_cons"),
    )
    rev = edges.select(
        F.col("item_b").alias("antecedent"),
        F.col("item_a").alias("consequent"),
        "pair_support",
        F.col("support_b").alias("sup_ante"),
        F.col("support_a").alias("sup_cons"),
    )
    n = int(n_baskets)
    return (
        fwd.unionAll(rev)
        .select(
            "antecedent",
            "consequent",
            "pair_support",
            F.expr("pair_support * 1000000L div sup_ante").cast("long")
            .alias("confidence_ppm"),
            # DECIMAL(38,0): support x n_baskets x 1e6 is ~1e26 at
            # corpus scale — far past BIGINT (abc_analysis class)
            F.expr(
                f"CAST(pair_support AS DECIMAL(38,0)) * {n}"
                " * 1000000 div (CAST(sup_ante AS DECIMAL(38,0))"
                " * sup_cons)"
            ).cast("long").alias("lift_ppm"),
        )
        .orderBy(
            F.desc("lift_ppm"), F.asc("antecedent"), F.asc("consequent")
        )
        .limit(top_k)
    )


def degree_distribution(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree histogram of an undirected simple graph — the first
    diagnostic read off any mined graph (hub detection before the
    triangle pass, power-law sanity). Canonicalizes/dedups edges, one
    union + two groupBys: (node degree) then (degree n_nodes)."""
    deg = _degrees(undirected_edges(edges, src, dst), "degree")
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


def frequent_item_triples(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_triple_support: int,
    min_pair_support: int | None = None,
) -> DataFrame:
    """Frequent TRIPLES via the a-priori lattice: a triple {a,b,c} can
    only be frequent if all three of its pairs are, so candidates come
    from joining the frequent-PAIR relation with itself on the shared
    first item ((a,b) ⋈ (a,c), b < c) and semi-checking the third edge
    (b,c) — the depth-3 step of the a-priori algorithm, bounded by the
    pair relation, never by baskets³. The verified support then comes
    from one 3-way basket join restricted to candidate triples.

    Shape: pair mining reuses frequent_item_pairs (support-bounded);
    candidate generation runs entirely on that bounded relation; the
    counting join is basket-keyed, each side pre-pruned to items that
    appear in some candidate triple."""
    min_pair = (
        min_pair_support if min_pair_support is not None
        else min_triple_support
    )
    # the pair lattice feeds THREE candidate branches (ab, ac, bc) and
    # the candidate relation feeds three more — pin both so the mining
    # pipeline runs once, not once per consumer (dual-consumption rule)
    pairs = frequent_item_pairs(
        df, basket_col, item_col, min_pair, min_pair
    ).select("item_a", "item_b").localCheckpoint(eager=True)
    # candidate triples: (a,b) + (a,c) with b<c, third edge (b,c) present
    ab = pairs.select(F.col("item_a").alias("a"), F.col("item_b").alias("b"))
    ac = pairs.select(F.col("item_a").alias("a"), F.col("item_b").alias("c"))
    bc = pairs.select(F.col("item_a").alias("b"), F.col("item_b").alias("c"))
    cand = (
        ab.join(ac.hint("shuffle_hash"), "a")
        .where(F.col("b") < F.col("c"))
        .join(bc.hint("shuffle_hash"), ["b", "c"], "left_semi")
    ).localCheckpoint(eager=True)
    bi = (
        df.select(F.col(basket_col).alias("basket"),
                  F.col(item_col).alias("item"))
        .distinct()
    )
    # prune the basket relation to items appearing in ANY candidate
    items_in_cand = (
        cand.select(F.col("a").alias("item"))
        .unionAll(cand.select(F.col("b").alias("item")))
        .unionAll(cand.select(F.col("c").alias("item")))
        .distinct()
    )
    # r11: pruned feeds all three join legs (t1, t2, t3) — exchange
    # reuse only deduplicated two of the three basket-keyed shuffles
    # (profiled: the 6.2 MB basket-item distinct map stage still ran
    # twice per run); one narrow materialization serves every leg
    pruned = bi.join(
        items_in_cand.hint("shuffle_hash"), "item", "left_semi"
    ).localCheckpoint(eager=False)
    t1 = pruned.select("basket", F.col("item").alias("a"))
    t2 = pruned.select("basket", F.col("item").alias("b"))
    t3 = pruned.select("basket", F.col("item").alias("c"))
    # prune the widest intermediate at the PAIR level: of all item
    # pairs co-present in a basket, only those that are an (a,b) edge
    # of SOME candidate triple can extend to a counted triple — the
    # semi-join before t3 keeps the 3-way join's left side
    # candidate-edge-bounded instead of co-presence-bounded (round 7:
    # the biggest intermediate in the registry's slowest query).
    ab_edges = cand.select("a", "b").distinct()
    counted = (
        t1.join(t2.hint("shuffle_hash"), "basket")
        .where(F.col("a") < F.col("b"))
        .join(ab_edges.hint("shuffle_hash"), ["a", "b"], "left_semi")
        .join(t3.hint("shuffle_hash"), "basket")
        .where(F.col("b") < F.col("c"))
        .join(cand.hint("shuffle_hash"), ["a", "b", "c"], "left_semi")
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("triple_support"))
        .where(F.col("triple_support") >= min_triple_support)
    )
    return counted.select(
        F.col("a").alias("item_a"), F.col("b").alias("item_b"),
        F.col("c").alias("item_c"), "triple_support",
    )


def k_core(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph where
    every node keeps degree >= k — the standard community/spam-ring
    densifier (near-dup rings and co-purchase cliques live in high
    cores; degree-1 chaff doesn't). Iterative peel: drop nodes with
    degree < k, recompute degrees on the induced subgraph, repeat to
    the fixpoint. A peel only removes edges, so a round that keeps the
    edge count is the fixpoint and there are at most |E| rounds. Each
    round is one degree groupBy + two semi-joins behind a lazy
    localCheckpoint, and ONE count job that both materializes the
    checkpoint and tests convergence against the previous round's
    count. Returns (node, degree-in-core).

    Not SQL-expressible as one query (the fixpoint is genuinely
    iterative) — certified by property test: every member has >= k
    in-core neighbors, and no dropped node could re-enter."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cur = undirected_edges(edges, src, dst).localCheckpoint(eager=False)
    n_cur = cur.count()
    while True:
        keep = _degrees(cur, "degree").where(F.col("degree") >= k).select("node")
        cur = (
            cur.join(
                keep.hint("shuffle_hash").withColumnRenamed("node", "a"),
                "a", "left_semi",
            )
            .join(
                keep.hint("shuffle_hash").withColumnRenamed("node", "b"),
                "b", "left_semi",
            )
        ).localCheckpoint(eager=False)
        n_prev, n_cur = n_cur, cur.count()
        if n_cur == n_prev:
            return _degrees(cur, "core_degree")


def _integer_pagerank(
    adj: DataFrame, nodes: DataFrame, rank0, teleport, n_iter: int,
    damping_ppm: int,
) -> DataFrame:
    """The integer PageRank recurrence shared by ``pagerank_fixed`` and
    ``personalized_pagerank``, which differ only in the starting rank
    ``rank0`` and the ``teleport`` term (Column expressions over
    ``node``). Per iteration:

        rank'(v) = teleport(v)
                   + damping_ppm * sum_{u~v} (rank(u) div deg(u)) div 1e6

    (integer floor-div everywhere; all terms non-negative, so Spark's
    truncating ``div`` and DuckDB's flooring ``//`` agree). A FIXED
    iteration count (not convergence detection) keeps the result a
    deterministic function of the graph, unrollable as k chained CTEs
    by an independent engine.

    Shape per iteration: one nodes-sized projection (per-node share =
    rank div degree), one edge join + dst-keyed groupBy (THE PageRank
    shuffle), one left join back to the node relation; localCheckpoint
    truncates lineage so round N's plan doesn't replay rounds 1..N-1.
    All joins shuffle_hash: node and edge relations are corpus-sized.
    ``adj`` is the ``mirror`` adjacency, so every node has degree >= 1
    and there is no dangling-mass term."""
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("__deg")
    )
    ranks = nodes.withColumn("rank", rank0.cast("long"))
    for _ in range(n_iter):
        shares = ranks.join(deg.hint("shuffle_hash"), "node").select(
            F.col("node").alias("u"),
            F.expr("rank div __deg").alias("__share"),
        )
        inflow = (
            adj.join(shares.hint("shuffle_hash"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("__share").alias("__s"))
        )
        ranks = (
            nodes.join(inflow.hint("shuffle_hash"), "node", "left")
            .select(
                "node",
                (
                    teleport
                    + F.expr(
                        f"{damping_ppm}L * coalesce(__s, 0L) div 1000000L"
                    )
                ).cast("long").alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def pagerank_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    damping_ppm: int = 850_000,
    mass: int = 1_000_000_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank over an UNDIRECTED simple graph in pure
    integer arithmetic — the graph-centrality read on any mined edge
    list (co-purchase hubs, near-dup ring centers), exact cross-engine
    because nothing ever becomes a float: total mass is ``mass``
    (parts-per-trillion units), every node starts at mass div N, and
    the teleport term of ``_integer_pagerank`` is

        base = (mass div N) * (1e6 - damping_ppm) div 1e6

    for every node. Returns (node, rank) — rank in ppt of total mass."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    adj = mirror(undirected_edges(edges, src, dst))
    nodes = adj.select(F.col("u").alias("node")).distinct()
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    base = (mass // n) * (1_000_000 - damping_ppm) // 1_000_000
    return _integer_pagerank(
        adj, nodes, F.lit(mass // n), F.lit(base), n_iter, damping_ppm
    )


def k_hop_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Shortest-hop distance (<= k) from a seed set over an undirected
    simple graph — the blast-radius primitive (fraud-ring expansion
    from flagged accounts, contamination spread from known-bad
    documents): every node within k hops of ANY seed, labeled with its
    minimum hop distance.

    Frontier BFS: per round, the frontier joins the edge list (dst
    groupBy dedups), an anti-join against the visited set keeps only
    NEW nodes (so each node is labeled with its first — minimal —
    distance and no node is ever expanded twice), and localCheckpoint
    truncates lineage (the connected-components discipline). Exactly k
    rounds, each 2 shuffle_hash joins + a distinct — cost is
    O(k · frontier-edges), never O(k · |E|) once frontiers stop
    growing. A FIXED k keeps the result unrollable as chained CTEs by
    an independent engine (the pagerank_fixed contract).

    Returns (node, dist) with dist in 0..k; seeds are dist 0."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    directed = mirror(undirected_edges(edges, src, dst))
    visited = seeds.select(
        F.col(seed_col).alias("node"), F.lit(0).cast("long").alias("dist")
    ).distinct().localCheckpoint()
    frontier = visited.select("node")
    for r in range(1, k + 1):
        expanded = (
            directed.join(
                frontier.withColumnRenamed("node", "u").hint("shuffle_hash"),
                "u",
            )
            .select(F.col("v").alias("node"))
            .distinct()
        )
        new = expanded.join(
            visited.select("node").hint("shuffle_hash"), "node", "left_anti"
        ).withColumn("dist", F.lit(r).cast("long")).localCheckpoint()
        visited = visited.unionByName(new).localCheckpoint()
        frontier = new.select("node")
    return visited


def related_items(
    edges: DataFrame, n_baskets: int, per_item_k: int = 3
) -> DataFrame:
    """Per-item top-k related items by lift — the SERVING artifact of
    market-basket mining (the 'customers also bought' table), where
    `association_rules`' global top-k is the diagnostic view: both
    orientations of every mined pair, integer-ppm confidence/lift, and
    an antecedent-partitioned rank keeping each item's k best
    consequents (lift desc, consequent asc — deterministic).

    Runs entirely on the support-bounded edge relation; the rank<=k
    window compiles to WindowGroupLimit (map tasks forward at most k
    rows per antecedent before the exchange — the sketch-family
    contract), so output is |items|·k, never |pairs|."""
    from pyspark.sql import Window

    fwd = edges.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "pair_support",
        F.col("support_a").alias("sup_ante"),
        F.col("support_b").alias("sup_cons"),
    )
    rev = edges.select(
        F.col("item_b").alias("antecedent"),
        F.col("item_a").alias("consequent"),
        "pair_support",
        F.col("support_b").alias("sup_ante"),
        F.col("support_a").alias("sup_cons"),
    )
    n = int(n_baskets)
    scored = fwd.unionAll(rev).select(
        "antecedent", "consequent", "pair_support",
        F.expr("pair_support * 1000000L div sup_ante").cast("long")
        .alias("confidence_ppm"),
        # DECIMAL(38,0): same overflow class as association_rules' lift
        F.expr(
            f"CAST(pair_support AS DECIMAL(38,0)) * {n}"
            " * 1000000 div (CAST(sup_ante AS DECIMAL(38,0))"
            " * sup_cons)"
        ).cast("long").alias("lift_ppm"),
    )
    w = Window.partitionBy("antecedent").orderBy(
        F.desc("lift_ppm"), F.asc("consequent")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= per_item_k)
    )


def lpa_communities(
    edges: DataFrame,
    src: str = "item_a",
    dst: str = "item_b",
    n_iter: int = 3,
) -> DataFrame:
    """Synchronous label propagation (fixed n_iter rounds) over an
    undirected simple graph — the linear-time community detector next
    to connected components: each round every node adopts the MOST
    FREQUENT label among its neighbors (ties -> smallest label), all
    nodes updating simultaneously. Fully deterministic: integer
    labels, count-desc/label-asc vote, fixed round count — so the
    result hash-checks cross-engine against an oracle unrolling the
    same rounds as chained CTEs.

    Scale shape per round: one edge⋈labels join (shuffle on the node
    key) + one (node, label) count agg + a node-partitioned window for
    the vote — O(E) per round, O(n_iter · E) total, no quadratic
    blowup; labels relation stays |V| rows. Output: per surviving
    community, its label, size, and member id range."""
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    from pyspark.sql import Window

    for _ in range(n_iter):
        votes = (
            sym.join(
                labels.select(F.col("node").alias("b"), "lab"), "b"
            )
            .groupBy(F.col("a").alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lab"))
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "lab")
        )
    return labels.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
        F.max("node").cast("long").alias("max_node"),
    )


def hitrate_at_k(
    train_baskets: DataFrame,
    test_baskets: DataFrame,
    basket_col: str,
    item_col: str,
    per_item_k: int = 3,
    min_pair_support: int = 3,
    min_item_support: int = 2,
) -> DataFrame:
    """Offline recommender evaluation: mine the 'customers also
    bought' serving table from TRAIN baskets only, then measure the
    hit rate on held-out TEST baskets — a basket counts as a hit when
    any of its items' top-k recommendations contains another item of
    the same basket. The honest check that the mined lift table
    predicts unseen co-purchases rather than memorizing them.

    Shape: mining/ranking inherit the a-priori + WindowGroupLimit
    bounds (output |items|·k); the evaluation is two joins of the
    (basket, item) test relation against the item-keyed rec table —
    linear, shuffle on the item key then the basket key. Output is a
    single exact-count row."""
    from pyspark.sql import Window  # noqa: F401  (parity with siblings)

    edges = frequent_item_pairs(
        train_baskets, basket_col, item_col,
        min_pair_support=min_pair_support,
        min_item_support=min_item_support,
    )
    n_train = train_baskets.select(basket_col).distinct().count()
    recs = related_items(edges, n_train, per_item_k=per_item_k).select(
        "antecedent", "consequent"
    )
    ti = test_baskets.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    sizes = ti.groupBy("b").agg(F.count(F.lit(1)).alias("sz"))
    eligible = sizes.where(F.col("sz") >= 2).select("b")
    preds = ti.join(recs, ti["i"] == recs["antecedent"]).select(
        "b", F.col("consequent").alias("i2")
    )
    hits = (
        preds.join(
            ti.select("b", F.col("i").alias("i2")), ["b", "i2"], "left_semi"
        )
        .select("b").distinct()
        .join(eligible, "b", "left_semi")
    )
    # single-action form (r11): the old eligible.count() driver scalar
    # re-executed the whole test subtree in its own job; both counts
    # now land in one plan via a 1-row cross join, same values
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
    ).crossJoin(
        eligible.agg(F.count(F.lit(1)).cast("long").alias("n_test_baskets"))
    ).select(
        "n_test_baskets", "n_hits",
        # truncating div (never float-then-cast: Spark casts truncate,
        # DuckDB casts ROUND — they disagree on x.5)
        F.expr("n_hits * 1000L div greatest(n_test_baskets, 1L)")
        .cast("long").alias("hitrate_pm"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    src: str = "item_a",
    dst: str = "item_b",
    n_iter: int = 3,
    damping_ppm: int = 850_000,
    mass: int = 1_000_000_000_000,
) -> DataFrame:
    """Personalized PageRank — `pagerank_fixed`'s query-biased sibling:
    teleport mass returns to the SEED set instead of everywhere, so
    rank measures relevance TO the seeds (the 'more like these'
    graph expansion behind seed-based data selection). Same exact
    integer contract: fixed iterations, floor-div, ppt mass units —
    unrollable as chained CTEs by an independent engine.

    Seeds start at mass div |seeds| and every other node at 0; the
    teleport term of ``_integer_pagerank`` is
    (mass div |seeds|) * (1e6 - damping_ppm) div 1e6 on seeds and 0
    elsewhere. The seed set is an enum-bounded literal by contract and
    must be non-empty."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if not seeds:
        raise ValueError("seeds must be non-empty")
    adj = mirror(undirected_edges(edges, src, dst))
    nodes = adj.select(F.col("u").alias("node")).distinct()
    n_seeds = len(seeds)
    is_seed = F.col("node").isin([int(s) for s in seeds])
    seed_base = (mass // n_seeds) * (1_000_000 - damping_ppm) // 1_000_000

    def on_seeds(value: int):
        return F.when(is_seed, F.lit(value)).otherwise(F.lit(0))

    return _integer_pagerank(
        adj, nodes, on_seeds(mass // n_seeds), on_seeds(seed_base),
        n_iter, damping_ppm,
    )


def resource_allocation_links(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    scale: int = 10**6, top_k: int = 20, max_deg: int | None = None,
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009 —
    the exact-integer sibling of Adamic-Adar): for each NON-adjacent
    pair (x, y), score = sum over common neighbors z of 1/deg(z),
    surfaced as ``ra_fp = sum(scale div deg(z))`` — an exact integer
    per wedge, where Adamic-Adar's 1/ln(deg) would drag a libm log
    through the cross-engine hash. Returns the top-``top_k`` candidate
    edges ``(item_x, item_y, cn, ra_fp)`` (cn = common-neighbor count,
    ties broken by ids).

    Shape: wedges open at the COMMON NEIGHBOR (both of z's endpoints —
    RA needs all pairs of z's neighborhood, O(sum deg_z^2) by
    definition). ``max_deg`` optionally drops hub centers above a
    degree cap before pairing — the standard web-scale screen: a hub's
    per-wedge contribution scale/deg is the smallest in the graph, so
    the score loss is bounded by n_hubs * scale/cap while the wedge
    count drops quadratically. Already-adjacent pairs leave via
    left_anti against the canonical edge set; the final top-k is a
    TakeOrderedAndProject, never a global sort.
    """
    canon = undirected_edges(edges, src, dst)
    adj = mirror(canon)  # u: the common-neighbor center z, v: its neighbor
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    centers = adj.join(deg.hint("shuffle_hash"), "u")
    if max_deg is not None:
        centers = centers.where(F.col("deg") <= int(max_deg))
    left = centers.select("u", F.col("v").alias("x"), "deg")
    right = centers.select("u", F.col("v").alias("y"))
    wedges = (
        left.join(right.hint("shuffle_hash"), "u")
        .where(F.col("x") < F.col("y"))
        .select(
            "x", "y",
            F.expr(f"CAST({int(scale)} AS BIGINT) div deg").alias("w"),
        )
    )
    scored = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum("w").cast("long").alias("ra_fp"),
    )
    candidates = scored.join(
        canon.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    return (
        candidates.select(
            F.col("x").alias("item_x"), F.col("y").alias("item_y"),
            "cn", "ra_fp",
        )
        .orderBy(F.desc("ra_fp"), F.asc("item_x"), F.asc("item_y"))
        .limit(int(top_k))
    )


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    scale: int = 10**6,
) -> DataFrame:
    """Per-node local clustering coefficient of the undirected simple
    graph: cc(v) = 2*T(v) / (deg(v)*(deg(v)-1)), surfaced fixed-point
    as ``cc_fp = 2*scale*T(v) div (deg*(deg-1))`` — exact integers end
    to end. Emits (node, deg, n_tri, cc_fp) for every node with
    deg >= 2 (cc undefined below).

    Per-node triangle counts ride the SAME degree-oriented wedge
    enumeration as `triangle_count` (wedges open only at the
    low-degree endpoint — the hub-skew-proof bound); each closed
    triangle (u, x, y) then credits all three corners via a 3-row
    inline explode, and one groupBy(node) folds the credits.
    """
    oriented = orient_edges(edges, src, dst)
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = (
        e1.join(e2.hint("shuffle_hash"), "u")
        .where(F.col("x") < F.col("y"))
        .select("u", "x", "y")
    )
    undirected = oriented.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    )
    closed = wedges.join(
        undirected.hint("shuffle_hash"), ["x", "y"], "left_semi"
    )
    corners = closed.select(
        F.explode(F.array("u", "x", "y")).alias("node")
    )
    tri = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_tri")
    )
    deg = (
        undirected.select(F.col("x").alias("node"))
        .unionAll(undirected.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(tri.hint("shuffle_hash"), "node", "left")
        .select(
            "node", "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
            F.expr(
                f"CAST(2 * {int(scale)} * coalesce(n_tri, 0L) "
                "div (deg * (deg - 1)) AS BIGINT)"
            ).alias("cc_fp"),
        )
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    scale: int = 10**6,
) -> DataFrame:
    """Degree assortativity coefficient of the undirected simple graph
    (Newman 2002): the Pearson correlation of endpoint degrees over
    edges — positive = hubs link to hubs (social-style), negative =
    hubs link to leaves (dependency/star-style). The one-number
    topology read before choosing a partitioning strategy for graph
    joins (disassortative graphs hub-skew worse).

    Each undirected edge contributes BOTH orientations (the standard
    symmetric estimator), so the sufficient statistics are exact
    integers over the 2|E|-row orientation relation: with m = 2|E|,
    Sx = sum deg_u, Sxx = sum deg_u^2, Sxy = sum deg_u*deg_v (Sx ==
    Sy by symmetry),

        r = (m*Sxy - Sx^2) / (m*Sxx - Sx^2)

    surfaced as r_fp = scale*(m*Sxy - Sx^2) div (m*Sxx - Sx^2). One
    degree groupBy + two degree hydrations (shuffle_hash) + one fold.
    Returns one row (n_edges, r_fp); NULL r_fp for degree-regular
    graphs (denominator 0).
    """
    canon = undirected_edges(edges, src, dst)
    adj = mirror(canon)
    deg = _degrees(canon, "deg")
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    hydrated = adj.join(du.hint("shuffle_hash"), "u").join(
        dv.hint("shuffle_hash"), "v"
    )
    folded = hydrated.agg(
        F.count(F.lit(1)).cast("long").alias("__m"),
        F.sum(F.col("du")).cast("decimal(38,0)").alias("__sx"),
        F.sum(F.col("du").cast("decimal(38,0)") * F.col("du"))
        .alias("__sxx"),
        F.sum(F.col("du").cast("decimal(38,0)") * F.col("dv"))
        .alias("__sxy"),
    )
    den = F.expr("__m * __sxx - __sx * __sx")
    return folded.select(
        F.expr("__m div 2").cast("long").alias("n_edges"),
        F.when(
            den != 0,
            F.expr(
                f"CAST((__m * __sxy - __sx * __sx) * {int(scale)}"
                " AS DECIMAL(38,0))"
                " div (__m * __sxx - __sx * __sx)"
            ),
        ).cast("long").alias("r_fp"),
    )
