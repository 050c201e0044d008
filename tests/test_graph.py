"""Graph analytics: triangle counting, and cache release when a pagerank or
BFS loop fails."""

import pytest

from llmaix_spark.operators.graph import triangle_counts, two_hop_counts


def test_triangle_counts_hand_computed(spark):
    """K3 {1,2,3} + K3 {2,3,4} sharing edge 2-3; reversed duplicates,
    a multi-edge, a self-loop and an isolated edge 5-6 must all be
    normalized away."""
    edges = spark.createDataFrame(
        [
            ("1", "2"), ("2", "1"), ("2", "3"), ("1", "3"),
            ("3", "4"), ("2", "4"), ("5", "6"), ("4", "4"), ("1", "2"),
        ],
        "subj_id string, obj_id string",
    )
    got = sorted(
        (r["node"], r["n_triangles"])
        for r in triangle_counts(edges).collect()
    )
    assert got == [
        ("1", 1), ("2", 2), ("3", 2), ("4", 1), ("5", 0), ("6", 0),
    ]


def test_triangle_counts_triangle_free(spark):
    """A star graph (hub with 4 leaves) has wedges but no triangles —
    the closing join must kill every wedge."""
    edges = spark.createDataFrame(
        [("h", x) for x in "abcd"], "subj_id string, obj_id string"
    )
    got = triangle_counts(edges).collect()
    assert len(got) == 5 and all(r["n_triangles"] == 0 for r in got)


def test_two_hop_counts_path_graph(spark):
    """Path 1-2-3-4-5: node 3 reaches all 4 others within 2 hops,
    the ends reach 2."""
    edges = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("3", "4"), ("4", "5")],
        "subj_id string, obj_id string",
    )
    got = {
        r["node"]: r["n_within_2hops"]
        for r in two_hop_counts(edges).collect()
    }
    assert got == {"1": 2, "2": 3, "3": 4, "4": 3, "5": 2}


def test_cooccurrence_pmi_hand_computed(spark):
    """4 groups; a appears in g1-g3, b in g1-g2, c only in g4.
    With min_df=2, min_pair=1: only (a,b) survives with n_ab=2;
    pmi = log10(2) + log10(4) - log10(3) - log10(2) = log10(4/3)."""
    import math

    from llmaix_spark.operators.graph import cooccurrence_pmi

    m = spark.createDataFrame(
        [
            ("g1", "a"), ("g1", "b"), ("g2", "a"), ("g2", "b"),
            ("g3", "a"), ("g4", "c"), ("g1", "a"),  # dup row collapses
        ],
        "conv_id string, surface string",
    )
    rows = cooccurrence_pmi(
        m, "conv_id", "surface", min_df=2, min_pair=1
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    want = round(
        round(math.log10(2), 6) + round(math.log10(4), 6)
        - round(math.log10(3), 6) - round(math.log10(2), 6),
        4,
    )
    assert (r["item_a"], r["item_b"], r["n_ab"]) == ("a", "b", 2)
    assert r["pmi"] == want


def test_cooccurrence_pmi_min_gates(spark):
    """min_df drops rare items BEFORE pairing; min_pair drops weak
    pairs after counting."""
    from llmaix_spark.operators.graph import cooccurrence_pmi

    m = spark.createDataFrame(
        [("g1", "x"), ("g1", "y"), ("g2", "x"), ("g2", "y"),
         ("g3", "x"), ("g3", "z")],
        "conv_id string, surface string",
    )
    # z has df=1 → gone at min_df=2; (x,y) n_ab=2 survives min_pair=2
    got = cooccurrence_pmi(
        m, "conv_id", "surface", min_df=2, min_pair=2
    ).collect()
    assert [(r["item_a"], r["item_b"], r["n_ab"]) for r in got] == [
        ("x", "y", 2)
    ]


def test_common_neighbor_scores_hand_computed(spark):
    """Path 1-2-3 plus edge 2-4: non-adjacent pairs through hub 2 are
    (1,3), (1,4), (3,4), each with 1 common neighbor; jaccard =
    1/(deg_a + deg_b - 1). Pair (1,3) must survive even though 1 and
    3 are ALSO connected through nothing else; adjacent pairs are
    excluded."""
    from llmaix_spark.operators.graph import common_neighbor_scores

    edges = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("2", "4")],
        "subj_id string, obj_id string",
    )
    got = {
        (r["node_a"], r["node_b"]): (r["n_common"], r["score"])
        for r in common_neighbor_scores(edges).collect()
    }
    assert got == {
        ("1", "3"): (1, 1.0),
        ("1", "4"): (1, 1.0),
        ("3", "4"): (1, 1.0),
    }


def test_common_neighbor_scores_excludes_adjacent(spark):
    """Triangle 1-2-3: every pair is adjacent → empty result."""
    from llmaix_spark.operators.graph import common_neighbor_scores

    edges = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("1", "3")],
        "subj_id string, obj_id string",
    )
    assert common_neighbor_scores(edges).count() == 0


def _fail_on_call(monkeypatch, cls, method, n):
    """Make the n-th call of ``cls.method`` raise (an injected mid-loop
    failure); earlier calls run normally."""
    real = getattr(cls, method)
    calls = []

    def patched(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == n:
            raise RuntimeError("injected failure")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, method, patched)


def _record_persists(monkeypatch, cls):
    persisted = []
    real = cls.persist

    def patched(self, *args, **kwargs):
        persisted.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", patched)
    return persisted


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_pagerank_failure_mid_loop_releases_cache(spark, monkeypatch):
    """An action failing in the second iteration must leave no persisted
    frame behind: every RDD the call persisted is gone afterwards (ids
    compared, since other tests' leftovers may be cleaned meanwhile)."""
    from pyspark import StorageLevel

    from llmaix_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")],
        "subj_id string, obj_id string",
    )
    cls = type(edges)
    before = _persistent_rdd_ids(spark)
    persisted = _record_persists(monkeypatch, cls)
    # counts: edge total, node total, iteration 1 ranks, iteration 2 ranks
    _fail_on_call(monkeypatch, cls, "count", 4)
    with pytest.raises(RuntimeError, match="injected failure"):
        pagerank(edges, iterations=3)
    monkeypatch.undo()
    assert len(persisted) >= 5  # e0, e, nodes, e_deg, ranks
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
    assert _persistent_rdd_ids(spark) - before == set()


def test_bfs_failure_mid_loop_releases_cache(spark, monkeypatch):
    """A failing hop leaves no persisted frame or checkpoint behind, and a
    successful call leaves only the returned frame's checkpoint."""
    from pyspark import StorageLevel

    from llmaix_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    cls = type(edges)
    before = _persistent_rdd_ids(spark)
    persisted = _record_persists(monkeypatch, cls)
    _fail_on_call(monkeypatch, cls, "isEmpty", 2)  # the second hop
    with pytest.raises(RuntimeError, match="injected failure"):
        bfs_distances(edges, max_hops=3)
    monkeypatch.undo()
    assert len(persisted) == 2  # sym0, sym
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
    assert _persistent_rdd_ids(spark) - before == set()
    # a successful 3-hop call keeps only the returned frame's checkpoint:
    # every superseded frontier/visited one is released
    out = bfs_distances(edges, max_hops=3)
    kept = out._jdf.queryExecution().analyzed().rdd().id()
    assert _persistent_rdd_ids(spark) - before == {kept}
    assert sorted(map(tuple, out.collect())) == [
        ("a", 0), ("b", 1), ("c", 2), ("d", 3)
    ]
