"""Canonicalization — connected components over match edges (second wide
stage).

The reference's canonicalization is order-preserving dedup, first surface
wins (OrderedDict.fromkeys, webapp/llm_processing/utils.py:61) — a
single-machine notion of "first". The distributed recast picks the
lexicographically *smallest* normalized surface per component: a total
order every executor agrees on with zero coordination.

`connected_components` takes the cheapest path that fits, each bounded by
`driver_threshold` edges on the driver:

1. Arrow probe. One action fetches at most threshold+1 edges with
   `toArrow()` (no per-row pickling). If they fit, a driver union-find
   finishes: the graph of fuzzy-linked *distinct* surfaces is usually
   orders of magnitude smaller than the corpus.
2. Hook contraction. On overflow, one distributed round of min-neighbour
   hooking (Kiveris et al., *Connected Components in MapReduce and
   Beyond*, SoCC 2014), in built-in Spark SQL:
       hook(u) = least(u, min_{(u,v)∈E} v)
       E' = {(v, hook(u)) : (u,v) ∈ E} ∪ {(u, hook(u)) : u ∈ V}
   with self-loops dropped, pairs ordered and deduplicated. E' has the
   same nodes and components as E, but a clique of k name variants — the
   skewed-token regime where every 1-char variant matches every other —
   shrinks from k(k-1)/2 edges to at most k-1. E' is probed with the same
   limit and, if it fits, finished by the driver union-find.
3. Label propagation, only if E' still overflows: iterative min-label
   propagation over undirected edges —
       label(x) ← min(label(x), min_{(x,y)∈E'} label(y))
   plus pointer doubling, until a round changes nothing. Each round is one
   salted join + one map-side-combinable groupBy.min; `localCheckpoint()`
   truncates the plan lineage every round (SURVEY §4.2 rule 3 — an
   un-checkpointed iterative self-join grows the plan exponentially and
   dies at scale). Not converging within `max_iterations` is an error.

Each call logs the path it took on the `llmaix_spark.operators.canonicalize`
logger at INFO.
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def salted_count(
    df: DataFrame, key: str, salt_buckets: int = 32
) -> DataFrame:
    """Two-phase salted aggregation for power-law keys (north-rule
    requirement): phase 1 counts per (key, salt) — spreading one hot key
    over `salt_buckets` reducers — phase 2 sums the partials.

    Equivalent to groupBy(key).count() but immune to single-reducer
    hot-key stalls when partial aggregation is defeated (e.g. after an
    explode that interleaves millions of identical keys per partition).
    """
    salt = (F.rand(seed=42) * salt_buckets).cast("int")
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return phase1.groupBy(key).agg(F.sum("_partial").alias("n"))


def _probe(edges: DataFrame, limit: int):
    """At most `limit`+1 edges as an Arrow table — one action; more than
    `limit` rows means the graph overflows the driver."""
    return edges.select("norm_a", "norm_b").limit(limit + 1).toArrow()


def _driver_cc(spark, edges) -> DataFrame:
    """Union-find on the driver over an Arrow table of edges.

    The iterative DataFrame CC costs ~10 scheduler round-trips regardless
    of data size — pure serial overhead (Amdahl) when the match graph is
    small. Union by smaller root keeps every root the minimum of its set,
    so `find` returns the component's min label directly. The result goes
    back through Arrow, broadcast-hinted: the hint travels with the
    returned plan, so a ≤threshold-row table joined against the (huge)
    mention table is map-side. (isLocal() is False for createDataFrame
    output, so hinting at the caller based on it never fired.)"""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges.column(0).to_pylist(), edges.column(1).to_pylist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    nodes = list(parent)
    out = pd.DataFrame(
        {"norm": nodes, "component": [find(n) for n in nodes]}, dtype=object
    )
    return F.broadcast(
        spark.createDataFrame(out, "norm string, component string")
    )


def _hook_contract(edges: DataFrame) -> DataFrame:
    """One min-neighbour hooking round: edges(norm_a, norm_b) → edges with
    the same node set and components, and far fewer edges on dense
    clusters. A node whose only edges are self-loops keeps one (u, u) row
    so it stays in the node set."""
    sym = edges.select(
        F.col("norm_a").alias("u"), F.col("norm_b").alias("v")
    ).union(
        edges.select(F.col("norm_b").alias("u"), F.col("norm_a").alias("v"))
    )
    # least() skips nulls: a node with only self-loops hooks to itself
    nbr = F.min(F.when(F.col("v") != F.col("u"), F.col("v")))
    hooks = sym.groupBy("u").agg(
        F.least(F.col("u"), nbr).alias("h"), nbr.isNull().alias("lone")
    )
    pairs = (
        sym.where(F.col("u") != F.col("v"))
        .join(hooks, "u")
        .select(F.col("v").alias("x"), "h", F.lit(False).alias("lone"))
        .union(hooks.select(F.col("u").alias("x"), "h", "lone"))
        .where((F.col("x") != F.col("h")) | F.col("lone"))
    )
    return pairs.select(
        F.least("x", "h").alias("norm_a"), F.greatest("x", "h").alias("norm_b")
    ).distinct()


def _log_path(path, raw_overflow, contracted_edges, iterations, converged):
    log.info(
        "connected_components path=%s raw_overflow=%s contracted_edges=%s "
        "iterations=%d converged=%s",
        path, raw_overflow, contracted_edges, iterations, converged,
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
    checkpoint_every: int = 1,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """edges(norm_a, norm_b) → assignments(norm, component).

    component = min normalized surface reachable in the match graph.
    Nodes with no edges keep themselves as component (handled by the
    caller joining assignments back with a coalesce, or by unioning
    isolated nodes in — `canonical_assignments` does the latter).

    Size-adaptive (module docstring): at most `driver_threshold` edges
    ever reach the driver. An Arrow probe of the raw edges; if it
    overflows, one hook-contraction round and a probe of the contracted
    edges; driver union-find on whichever probe fits. Only when both
    overflow does the distributed label-propagation loop run, on the
    contracted edges. `driver_threshold=0` skips the probes and runs the
    loop on the raw edges. Raises RuntimeError if the loop has not
    converged after `max_iterations` rounds.
    """
    spark = edges.sparkSession
    raw_overflow = contracted_edges = None
    if driver_threshold:
        head = _probe(edges, driver_threshold)
        raw_overflow = head.num_rows > driver_threshold
        if not raw_overflow:
            _log_path("driver", raw_overflow, None, 0, True)
            return _driver_cc(spark, head)
        edges = _hook_contract(edges)
        head = _probe(edges, driver_threshold)
        if head.num_rows <= driver_threshold:
            _log_path("contracted", raw_overflow, head.num_rows, 0, True)
            return _driver_cc(spark, head)
        contracted_edges = f">{driver_threshold}"
    labels, iterations, converged = _label_propagation(
        edges, max_iterations, checkpoint_every
    )
    _log_path("loop", raw_overflow, contracted_edges, iterations, converged)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iterations="
            f"{max_iterations} rounds; components would be split — raise "
            "max_iterations"
        )
    return labels


def _label_propagation(
    edges: DataFrame, max_iterations: int, checkpoint_every: int
) -> tuple[DataFrame, int, bool]:
    """Distributed min-label propagation with pointer doubling →
    (labels(norm, component), rounds run, converged)."""
    sym = edges.select(
        F.col("norm_a").alias("src"), F.col("norm_b").alias("dst")
    ).union(
        edges.select(
            F.col("norm_b").alias("src"), F.col("norm_a").alias("dst")
        )
    )
    # SALTED join key (north-rule hot-entity handling): a hub node has
    # millions of adjacency rows under ONE src key — a plain label join
    # lands them on one reducer. Edges get salt = hash(dst) % k; the
    # (tiny, one-row-per-norm) label side is replicated k times, and the
    # join runs on (src, salt) so every hub spreads over k partitions.
    # The follow-up groupBy(dst).min is algebraic — map-side combine
    # absorbs the same hub on the aggregation side.
    k = 8
    sym = sym.withColumn(
        "salt", F.pmod(F.hash(F.col("dst")), F.lit(k)).cast("int")
    ).localCheckpoint()

    labels = (
        sym.select(F.col("src").alias("norm"))
        .distinct()
        .withColumn("component", F.col("norm"))
        .localCheckpoint()
    )
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(k - 1))
    ).alias("salt")

    changed = rounds = 0
    for rounds in range(1, max_iterations + 1):
        replicated = labels.select(
            F.col("norm").alias("src"), "component", salts
        )
        # candidate labels arriving over edges
        neighbor_min = (
            sym.join(replicated, ["src", "salt"])
            .groupBy(F.col("dst").alias("norm"))
            .agg(F.min("component").alias("nbr_component"))
        )
        propagated = labels.join(neighbor_min, "norm", "left").select(
            "norm",
            F.col("component").alias("_prev"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )
        # pointer doubling: component ← label(component). 1-hop min-label
        # propagation alone needs `diameter` rounds — a long near-dup
        # chain deeper than max_iterations would silently return split
        # components; the shortcut join halves remaining path lengths
        # every round (O(log d) total). Safe: label(y) ≤ y and is
        # reachable from y, so monotonicity and reachability both hold.
        cmap = propagated.select(
            F.col("norm").alias("component"), F.col("component").alias("_cc")
        )
        updated = propagated.join(cmap, "component", "left").select(
            "norm",
            F.coalesce("_cc", "component").alias("component"),
            (F.coalesce("_cc", "component") != F.col("_prev")).alias(
                "_changed"
            ),
        )
        if rounds % checkpoint_every == 0:
            updated = updated.localCheckpoint()
        changed = updated.filter("_changed").limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    return labels, rounds, changed == 0


def canonical_assignments(
    mentions: DataFrame, edges: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """mentions(surface, norm, n_refs) + match edges →
    assignments(surface, norm, entity_id, canonical_name).

    entity_id is a content hash of the canonical name — stable across
    runs, partitionings and cluster sizes (a monotonically_increasing_id
    would not be).

    Callers should persist mentions/edges first (the pipeline does):
    both are consumed by multiple downstream actions (CC + two joins +
    the stage write) and their lineage is the expensive LSH linking DAG —
    without a persist the whole linking plan re-executes ~5×.

    The CC table (fuzzy-linked norms only) is far smaller than mentions;
    the driver fast path returns it broadcast-hinted, so the assignment
    join is map-side — no shuffle of the mention table."""
    cc = connected_components(edges, max_iterations)
    assigned = mentions.join(cc, "norm", "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col("norm"))
    )
    out = assigned.select(
        "surface",
        "norm",
        "n_refs",
        F.col("component").alias("canonical_name"),
        F.sha2(F.col("component"), 256).substr(1, 16).alias("entity_id"),
    )
    return out
