"""Graph analytics over the materialized KG edges table.

The reference pipeline stops at nodes/edges materialization
(reference: llmaix scripts' structured-output → report tables); a
KG consumer's first downstream question is "which entities matter" —
answered here with a fixed-iteration PageRank expressed as pure
DataFrame joins/aggregations so Catalyst plans every step (no GraphX
dependency, no RDDs).

Scale notes (100 TB):
- The edge list is deduplicated once, repartitioned by ``src`` and
  persisted: every iteration's contribution join then reuses the same
  hash partitioning on the big side, so only the (much smaller) rank
  table shuffles per iteration.
- Per-iteration state is persisted and the PREVIOUS iteration
  explicitly unpersisted (the repo's landmine #1: leaked lineage
  re-executes the whole upstream DAG once per remaining iteration).
- The dangling-mass term is a one-row aggregate broadcast via
  crossJoin — no driver collect inside the loop.
- Ranks are rounded to 10dp at every iteration boundary so the
  cross-engine state divergence stays bounded by the rounding grid
  (double sums are order-dependent; ~1e-15 per iteration would
  otherwise compound), and to 6dp at the output surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "subj_id",
    dst: str = "obj_id",
    iterations: int = 3,
    damping: float = 0.85,
    state_dp: int = 10,
    out_dp: int = 6,
) -> DataFrame:
    """Fixed-iteration PageRank over a (possibly multi-)edge table.

    Edges are deduplicated on (src, dst); self-loops participate like
    any other edge. Dangling nodes (no out-edges) redistribute their
    mass uniformly. Returns (entity_id, pagerank) for EVERY node, with
    pagerank rounded to ``out_dp`` — the full result set, so the
    driver's order-insensitive hash compare needs no top-k threshold.
    """
    spark = edges.sparkSession
    e0 = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .distinct()
        .persist()
    )
    m = e0.count()  # one scalar action; also sizes the loop (below)
    if m == 0:
        e0.unpersist()
        return spark.createDataFrame([], "entity_id string, pagerank double")
    # Scale-adaptive loop parallelism (guide §2: derive partitioning from
    # input size, not a constant): per-iteration state is O(nodes) and
    # the edge list is measured — with the session default (one shuffle
    # partition per core) a small graph pays hundreds of empty tasks
    # across the iterations (measured ~0.8 s/iter for a 600-edge graph).
    # The conf is restored in the finally below; every shuffle inside the
    # loop plans under the derived width. Grows linearly with edge count
    # up to the session default, so big graphs keep full parallelism.
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    parts = max(1, min(int(old_sp), m // 100_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        return _pagerank_loop(
            spark, e0, parts, iterations, damping, state_dp, out_dp
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        e0.unpersist()


def _pagerank_loop(
    spark,
    e0: DataFrame,
    parts: int,
    iterations: int,
    damping: float,
    state_dp: int,
    out_dp: int,
) -> DataFrame:
    # every persisted frame is released in the finally, also when an
    # action inside the loop raises (leaked executor cache degrades all
    # later work on the session)
    held: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return df

    try:
        e = hold(e0.repartition(parts, "src"))
        nodes = hold(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        n = nodes.count()

        outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        # co-partitioned with e on src; tiny relative to e — persist with it
        e_deg = hold(e.join(outdeg, "src"))

        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
        prev = None
        for _ in range(iterations):
            contrib = (
                e_deg.join(ranks, e_deg["src"] == ranks["node"])
                .select(
                    F.col("dst"), (F.col("rank") / F.col("outdeg")).alias("c")
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("contrib"))
            )
            dangling = (
                ranks.join(outdeg, ranks["node"] == outdeg["src"], "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
            )
            new_ranks = hold(
                nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    F.round(
                        (1.0 - damping) / n
                        + damping
                        * (F.coalesce(F.col("contrib"), F.lit(0.0))
                           + F.col("dm") / n),
                        state_dp,
                    ).alias("rank"),
                )
            )
            new_ranks.count()  # materialize BEFORE dropping the old state
            if prev is not None:
                held.remove(prev)
                prev.unpersist()
            prev = ranks = new_ranks

        out = ranks.select(
            F.col("node").alias("entity_id"),
            F.round("rank", out_dp).alias("pagerank"),
        )
        # the output is tiny (one row per entity); localCheckpoint cuts the
        # iterative lineage so downstream consumers never re-run the loop,
        # then every intermediate can be dropped
        return out.localCheckpoint(eager=True)
    finally:
        for df in held:
            df.unpersist()


def triangle_counts(
    edges: DataFrame,
    src: str = "subj_id",
    dst: str = "obj_id",
) -> DataFrame:
    """Per-node triangle counts of the undirected simple graph induced
    by ``edges`` (direction, multiplicity and self-loops discarded).
    Returns (node, n_triangles) for EVERY node, zeros included.

    Degree-ordered compact-forward enumeration: each undirected edge
    is oriented from its lower (degree, node) endpoint to the higher,
    so every triangle is generated exactly once at its lowest-rank
    corner and — the scale property — the post-orientation out-degree
    is O(sqrt(m)) even for a celebrity hub node, bounding the wedge
    self-join a naive enumeration lets explode quadratically. The
    closing-edge check is a plain equi-join. The oracle
    (SQL_TRIANGLE_COUNTS) deliberately uses the OTHER algorithm —
    brute-force 3-way join over the a<b canonical edge list — so the
    engines cross-check independent formulations."""
    e0 = edges.select(F.col(src).alias("x"), F.col(dst).alias("y")).where(
        F.col(src).isNotNull()
        & F.col(dst).isNotNull()
        & (F.col(src) != F.col(dst))
    )
    und = (
        e0.select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)  # consumers: deg, orientation
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .localCheckpoint(eager=False)  # consumers: 2 rank joins, zeros
    )
    key = lambda d, n: F.struct(F.col(d).alias("d"), F.col(n).alias("n"))
    ranked = (
        und.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("da")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("db")),
            "b",
        )
        .select(key("da", "a").alias("ra"), key("db", "b").alias("rb"))
    )
    # orient low-rank -> high-rank; keep full (deg, node) keys so the
    # wedge ordering and the closing equality both compare structs
    o = ranked.select(
        F.when(F.col("ra") < F.col("rb"), F.col("ra"))
        .otherwise(F.col("rb"))
        .alias("ru"),
        F.when(F.col("ra") < F.col("rb"), F.col("rb"))
        .otherwise(F.col("ra"))
        .alias("rv"),
    ).localCheckpoint(eager=False)  # consumers: 2 wedge sides + close
    w1 = o.select(F.col("ru").alias("u"), F.col("rv").alias("r1"))
    w2 = o.select(F.col("ru").alias("u"), F.col("rv").alias("r2"))
    wedges = w1.join(w2, "u").where(F.col("r1") < F.col("r2"))
    closing = o.select(F.col("ru").alias("r1"), F.col("rv").alias("r2"))
    closed = wedges.join(closing, ["r1", "r2"])
    corners = closed.select(
        F.explode(
            F.array(F.col("u.n"), F.col("r1.n"), F.col("r2.n"))
        ).alias("node")
    )
    counts = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    return deg.select("node").join(counts, "node", "left").select(
        "node",
        F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
    )


def edge_support(
    edges: DataFrame,
    src: str = "subj_id",
    dst: str = "obj_id",
) -> DataFrame:
    """Per-EDGE triangle support of the undirected simple graph: for
    every canonical edge (a<b), the number of common neighbors closing
    a triangle through it — the quantity k-truss decomposition peels on
    (an edge is in the k-truss iff support ≥ k−2), and the edge-level
    complement of triangle_counts' node grain. Returns
    (a, b, support) for EVERY edge, zeros included.

    Shape: the symmetric adjacency self-joins on the neighbor column —
    wedge enumeration bounded by Σ deg(v)², the same budget the
    triangle oracle pays; the closing check is the edge equi-join.
    For celebrity-hub graphs route through the degree-oriented variant
    (triangle_counts' compact-forward orientation) before joining."""
    e0 = edges.select(F.col(src).alias("x"), F.col(dst).alias("y")).where(
        F.col(src).isNotNull()
        & F.col(dst).isNotNull()
        & (F.col(src) != F.col(dst))
    )
    und = (
        e0.select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)  # consumers: sym×2, zeros join
    )
    sym = und.select("a", "b").unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    s1 = sym.select(F.col("a").alias("ea"), F.col("b").alias("v"))
    s2 = sym.select(F.col("a").alias("eb"), F.col("b").alias("v"))
    support = (
        und.join(s1, und.a == s1.ea)
        .join(s2, (und.b == s2.eb) & (s1.v == s2.v))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    return und.join(support, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce("support", F.lit(0)).cast("bigint").alias("support"),
    )


def two_hop_counts(
    edges: DataFrame,
    src: str = "subj_id",
    dst: str = "obj_id",
) -> DataFrame:
    """Per-node count of distinct nodes within ≤ 2 undirected hops
    (self excluded) — the KG "local neighborhood size" statistic that
    separates hub entities from leaf mentions. One wedge self-join on
    the directed adjacency (same O(Σ deg²) bound as triangle
    counting, and the same skew caveat: a celebrity hub's wedge set
    is deg² — cap or sample hot nodes upstream if the degree
    distribution calls for it), then a distinct + count per node."""
    e0 = edges.select(F.col(src).alias("x"), F.col(dst).alias("y")).where(
        F.col(src).isNotNull()
        & F.col(dst).isNotNull()
        & (F.col(src) != F.col(dst))
    )
    adj = (
        e0.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionAll(e0.select(F.col("y").alias("a"), F.col("x").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)  # consumers: 1-hop, 2 wedge sides
    )
    two = (
        adj.select(F.col("a").alias("a"), F.col("b").alias("m"))
        .join(adj.select(F.col("a").alias("m"), F.col("b").alias("c")), "m")
        .select("a", F.col("c").alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    reach = adj.unionAll(two).distinct()
    return reach.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_within_2hops")
    )


def cooccurrence_pmi(
    mentions: DataFrame,
    group_col: str = "conv_id",
    item_col: str = "surface",
    min_df: int = 5,
    min_pair: int = 2,
    out_dp: int = 4,
) -> DataFrame:
    """Pointwise mutual information over item co-occurrence in groups.

    The KG-linking signal "which entity pairs appear together more than
    chance": PMI(a,b) = log10( P(a,b) / (P(a)·P(b)) ) with probabilities
    over groups (documents/conversations). Input is any (group, item)
    table; rows are deduplicated so presence is boolean per group.

    Cross-engine contract: each log10 is rounded to 6dp BEFORE the
    add/subtract (the dsir_importance trick — double log10 of the same
    integer is then bit-identical in Spark and DuckDB), and the sum is
    rounded to ``out_dp``.

    Scale notes (100 TB): one distinct on (group, item); items below
    ``min_df`` group-support are dropped BEFORE pairing (PMI is
    meaningless for rare items and the filter bounds the pair fan-out);
    the per-group pair join is quadratic in items-per-group — bounded
    here by the mention gate upstream, cap per-group items for corpora
    that don't bound it. Pair counts are map-side combinable; the two
    marginal tables are vocabulary-sized and join on item keys; the
    group total is a 1-row aggregate broadcast via crossJoin.
    """
    m = (
        mentions.select(
            F.col(group_col).alias("g"), F.col(item_col).alias("item")
        )
        .where(F.col(group_col).isNotNull() & F.col(item_col).isNotNull())
        .distinct()
        .localCheckpoint(eager=False)  # consumers: df-filter join, pairs
    )
    dfc = (
        m.groupBy("item")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
    )
    mf = m.join(dfc, "item").select("g", "item", "df")
    n_groups = m.select("g").distinct().agg(
        F.count(F.lit(1)).alias("n_groups")
    )
    a = mf.alias("a")
    b = mf.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"),
            F.col("b.item").alias("item_b"),
            F.col("a.df").alias("df_a"),
            F.col("b.df").alias("df_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_pair)
    )

    def l6(c):
        return F.round(F.log10(c.cast("double")), 6)

    return pairs.crossJoin(F.broadcast(n_groups)).select(
        "item_a",
        "item_b",
        F.col("n_ab").cast("bigint").alias("n_ab"),
        F.round(
            l6(F.col("n_ab")) + l6(F.col("n_groups"))
            - l6(F.col("df_a")) - l6(F.col("df_b")),
            out_dp,
        ).alias("pmi"),
    )


def common_neighbor_scores(
    edges: DataFrame,
    src: str = "subj_id",
    dst: str = "obj_id",
    out_dp: int = 6,
) -> DataFrame:
    """Link prediction by common neighbors over the undirected graph.

    For every NON-adjacent node pair sharing at least one neighbor,
    returns the common-neighbor count and the neighborhood Jaccard
    coefficient cn / (deg_a + deg_b - cn) — the classic "who should be
    linked next" score a KG-completion consumer ranks by.

    Scale notes (100 TB): one wedge self-join on the directed adjacency
    (O(Σ deg²) like triangle counting — same celebrity-hub caveat: cap
    or sample hot nodes upstream when the degree distribution demands
    it); the direct-edge exclusion is a left-anti on the normalized
    a<b edge set; degrees join back on node keys. Pair counts are
    map-side combinable.
    """
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(
            F.col(src).isNotNull()
            & F.col(dst).isNotNull()
            & (F.col(src) != F.col(dst))
        )
        .distinct()
        .localCheckpoint(eager=False)  # consumers: adjacency, anti-join
    )
    adj = (
        e0.select("a", "b")
        .unionAll(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint(eager=False)  # consumers: 2 wedge sides, degrees
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    wedge = (
        adj.select(F.col("b").alias("m"), F.col("a").alias("x"))
        .join(adj.select(F.col("a").alias("m"), F.col("b").alias("y")), "m")
        .where(F.col("x") < F.col("y"))
        .groupBy(
            F.col("x").alias("node_a"), F.col("y").alias("node_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nonadj = wedge.join(
        e0.select(F.col("a").alias("node_a"), F.col("b").alias("node_b")),
        ["node_a", "node_b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("db"))
    return (
        nonadj.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(
                F.col("n_common")
                / (F.col("da") + F.col("db") - F.col("n_common")),
                out_dp,
            ).alias("score"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    source_node: str | None = None,
    max_hops: int = 4,
) -> DataFrame:
    """Single-source BFS hop distances over the undirected graph,
    bounded at ``max_hops``. Returns (node, dist) for every node
    reachable within the bound; ``source_node`` defaults to the
    lexicographically smallest node (deterministic without caller
    input). Self-loops and edge direction are normalized away.

    Plan shape (the classic frontier-expansion BFS as DataFrame ops —
    Pregel without GraphX): the symmetrized edge table is repartitioned
    on the join side and persisted ONCE; each hop is one join
    (frontier ⨝ edges) + distinct + one anti-join against the visited
    set. Per-hop state is localCheckpointed eagerly — the repo's
    landmine #1: without it hop h's lineage contains h nested joins
    and Spark re-executes the whole prefix every iteration — and the
    loop exits early on an empty frontier (one tiny count per hop;
    driver-side, but O(max_hops) scalar actions, not per-row). The
    frontier and visited tables carry ONE row per node — executor
    memory is O(|V| / partitions) regardless of path multiplicity
    (the oracle's recursive CTE enumerates (node, dist) pairs; the
    Spark side never materializes paths at all).
    """
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .where(F.col("a") != F.col("b"))
    )
    sym0 = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    m = sym0.count()  # sizes the loop below; also materializes the cache
    if m == 0:
        sym0.unpersist()
        return spark.createDataFrame([], "node string, dist bigint")
    if source_node is None:
        source_node = sym0.agg(F.min("a")).collect()[0][0]
    # scale-adaptive loop parallelism (same rationale as pagerank): the
    # per-hop frontier is O(nodes); plan the loop's shuffles at a width
    # derived from the measured edge count, restore the conf after
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    parts = max(1, min(int(old_sp), m // 100_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    sym = None
    try:
        sym = sym0.repartition(parts, "a").persist()
        visited = spark.createDataFrame(
            [(source_node, 0)], "node string, dist bigint"
        ).localCheckpoint(eager=True)
        frontier = visited
        for hop in range(1, max_hops + 1):
            reached = (
                frontier.join(sym, frontier["node"] == sym["a"])
                .select(F.col("b").alias("node"))
                .distinct()
            )
            frontier = (
                reached.join(visited, "node", "left_anti")
                .select("node", F.lit(hop).cast("bigint").alias("dist"))
                .localCheckpoint(eager=True)
            )
            if frontier.isEmpty():
                break
            visited = visited.union(frontier).localCheckpoint(eager=True)
        return visited
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        if sym is not None:
            sym.unpersist()
        sym0.unpersist()


def hits(
    edges: DataFrame,
    hub_col: str = "hub",
    auth_col: str = "auth",
    iterations: int = 2,
    out_dp: int = 6,
) -> DataFrame:
    """Fixed-iteration HITS over a bipartite edge table: authority
    scores for the ``auth`` side (hubs are the dual and are folded
    into the iteration). Kleinberg 1999 semantics, L1-normalized.

    Partition-invariance discipline: scores live in BIGINT nano-units;
    each half-iteration sums bigint contributions (exact, commutative)
    and renormalizes to 1e9 with one 1-row aggregate broadcast — the
    double scale factor (1e9 / mass) is a scalar applied per row, so
    the result is bit-identical at any partitioning and matches the
    unrolled SQL oracle.

    Scale: the deduplicated edge list is persisted and repartitioned
    once; every half-iteration is one equi-join + one
    map-side-combinable sum. State chains persist-materialize-unpersist
    (landmine #1). No driver collect inside the loop.
    """
    e = (
        edges.select(F.col(hub_col).alias("h"), F.col(auth_col).alias("a"))
        .where(F.col(hub_col).isNotNull() & F.col(auth_col).isNotNull())
        .distinct()
        .persist()
    )
    auth = e.select("a").distinct().select(
        "a", F.lit(10**9).cast("bigint").alias("nano")
    )
    prev = None
    for _ in range(iterations):
        hraw = (
            e.join(auth, "a")
            .groupBy("h")
            .agg(F.sum("nano").alias("raw"))
        )
        hmass = hraw.agg(F.sum("raw").alias("m"))
        hub = hraw.crossJoin(F.broadcast(hmass)).select(
            "h",
            F.round(F.col("raw") * (1e9 / F.col("m")), 0)
            .cast("bigint")
            .alias("nano"),
        )
        araw = (
            e.join(hub, "h")
            .groupBy("a")
            .agg(F.sum("nano").alias("raw"))
        )
        amass = araw.agg(F.sum("raw").alias("m"))
        new_auth = (
            araw.crossJoin(F.broadcast(amass))
            .select(
                "a",
                F.round(F.col("raw") * (1e9 / F.col("m")), 0)
                .cast("bigint")
                .alias("nano"),
            )
            .persist()
        )
        new_auth.count()
        if prev is not None:
            prev.unpersist()
        prev = auth = new_auth
    # final rounding in INTEGER nano-space: round(nano/1e9, dp) on a
    # double hits cross-engine half-tie divergence whenever
    # nano % 10^(9-dp) == half (Spark BigDecimal HALF_UP vs DuckDB
    # double rounding); (nano + half) div scale is exact and identical
    scale = 10 ** (9 - out_dp)
    out = auth.select(
        F.col("a").alias("auth_id"),
        (
            F.expr(f"(nano + {scale // 2}) div {scale}")
            / F.lit(float(10**out_dp))
        ).alias("authority"),
    ).localCheckpoint(eager=True)
    if prev is not None:
        prev.unpersist()
    e.unpersist()
    return out


def kcore_peel_rounds(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = 2,
    rounds: int = 4,
) -> DataFrame:
    """Fixed-round k-core peeling: per round, drop every node whose
    degree in the CURRENT induced subgraph is < k, then induce edges on
    the survivors. Returns one row per round
    (round, n_nodes, n_edges) — n_nodes = nodes passing the degree
    test that round, n_edges = edges induced among them.

    Full k-core needs iterate-to-fixpoint; a fixed round count is the
    distributed-safe contract (bounded stage count — the same reason
    pagerank/hits/bfs here run fixed iterations). At small SF the
    fixture converges within the default 4 rounds (pinned by the
    wave test); at 100 TB the round count is the operator's explicit
    depth budget.

    Scale: each round is ONE map-side-combinable degree aggregate and
    two semi-joins on node ids; the peeled edge set shrinks
    monotonically and is localCheckpointed per round so no round
    re-executes its predecessors.
    """
    cur = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("s"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("d"),
        )
        .where(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    out = []
    for r in range(1, rounds + 1):
        deg = (
            cur.select(F.col("s").alias("node"))
            .unionAll(cur.select(F.col("d").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        keep = (
            deg.where(F.col("c") >= k)
            .select("node")
            .localCheckpoint(eager=True)
        )
        nxt = (
            cur.join(keep, cur["s"] == keep["node"], "semi")
            .join(keep, cur["d"] == keep["node"], "semi")
            .localCheckpoint(eager=True)
        )
        out.append((r, keep.count(), nxt.count()))
        cur = nxt
    return spark.createDataFrame(
        out, "round bigint, n_nodes bigint, n_edges bigint"
    )
