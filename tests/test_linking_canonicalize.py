"""Linking (MinHash-LSH + verify) and CC canonicalization unit tests."""

import logging

import pytest
from pyspark.sql import functions as F

from llmaix_spark.operators.canonicalize import (
    _hook_contract,
    canonical_assignments,
    connected_components,
    salted_count,
)
from llmaix_spark.operators.linking import (
    match_edges,
    mention_table,
    minhash_signatures,
    lsh_candidate_pairs,
    verify_pairs,
)


def _triples(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, subj_surface string, pred string, obj_surface string"
    )


def test_mention_table_counts_and_norms(spark):
    t = _triples(
        spark,
        [
            ("c1", "Anna Müller", "works_at", "Acme Corp"),
            ("c2", "Anna Müller", "works_at", "Acme Corp"),
            ("c3", "anna mueller", "lives_in", "Köln"),
        ],
    )
    m = {r["surface"]: (r["n_refs"], r["norm"]) for r in mention_table(t).collect()}
    assert m["Anna Müller"] == (2, "anna mueller")
    assert m["anna mueller"] == (1, "anna mueller")
    assert m["Köln"] == (1, "koeln")


def test_minhash_identical_norms_identical_sigs(spark):
    norms = spark.createDataFrame([("anna mueller",), ("anna mueller x",)], ["norm"]).distinct()
    sigs = {r["norm"]: r["sig"] for r in minhash_signatures(norms).collect()}
    assert len(sigs["anna mueller"]) == 16
    # near-duplicate shares most minhashes
    same = sum(a == b for a, b in zip(sigs["anna mueller"], sigs["anna mueller x"]))
    assert same >= 8


def test_lsh_finds_typo_pair_and_verify_rejects_unrelated(spark):
    norms = spark.createDataFrame(
        [("soeren zimmermann",), ("soeren zimmxrmann",), ("acme corporation",)],
        ["norm"],
    )
    pairs = lsh_candidate_pairs(minhash_signatures(norms))
    got = {(r["norm_a"], r["norm_b"]) for r in pairs.collect()}
    assert ("soeren zimmermann", "soeren zimmxrmann") in got
    verified = {
        (r["norm_a"], r["norm_b"]) for r in verify_pairs(pairs, 90.0).collect()
    }
    assert verified == {("soeren zimmermann", "soeren zimmxrmann")}


def test_verify_threshold_boundary(spark):
    # 1 edit / 10 chars = ratio 90.0 → kept; 1 edit / 5 chars = 80 → dropped
    pairs = spark.createDataFrame(
        [("abcdefghij", "abcdefghix"), ("abcde", "abcdx")],
        ["norm_a", "norm_b"],
    )
    got = verify_pairs(pairs, 90.0).collect()
    assert [(r["norm_a"], r["norm_b"]) for r in got] == [("abcdefghij", "abcdefghix")]


def test_connected_components_chain_and_islands(spark):
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], ["norm_a", "norm_b"]
    )
    got = {r["norm"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_iterative_path(spark):
    """driver_threshold=0 forces the distributed min-label-propagation
    loop (the 100 TB path) — must agree with the driver union-find."""
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y"), ("c", "d"), ("d", "e"),
         ("m", "n")],
        ["norm_a", "norm_b"],
    )
    it = {
        r["norm"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    drv = {
        r["norm"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert it == drv
    assert it["e"] == "a" and it["n"] == "m" and it["y"] == "x"


def test_connected_components_long_chain_pointer_doubling(spark):
    """A 40-node chain has diameter 39 — plain 1-hop propagation needs 39
    rounds; the pointer-doubling shortcut must converge well inside 10
    (not converging raises)."""
    nodes = [f"n{i:03d}" for i in range(40)]
    edges = spark.createDataFrame(
        list(zip(nodes[:-1], nodes[1:])), ["norm_a", "norm_b"]
    )
    got = {
        r["norm"]: r["component"]
        for r in connected_components(
            edges, max_iterations=10, driver_threshold=0
        ).collect()
    }
    assert set(got.values()) == {"n000"}
    assert len(got) == 40


def test_connected_components_raises_when_iteration_capped(spark):
    nodes = [f"n{i:03d}" for i in range(12)]
    edges = spark.createDataFrame(
        list(zip(nodes[:-1], nodes[1:])), ["norm_a", "norm_b"]
    )
    with pytest.raises(RuntimeError, match="max_iterations=1"):
        connected_components(edges, max_iterations=1, driver_threshold=0)


def _reference_components(pairs):
    """Pure-Python CC: BFS over the undirected adjacency, each node labelled
    with the smallest node of its component."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {}
    for start in sorted(adj):
        if start in label:
            continue
        seen, todo = {start}, [start]
        while todo:
            for y in adj[todo.pop()] - seen:
                seen.add(y)
                todo.append(y)
        for x in seen:
            label[x] = start
    return label


def _variants(name):
    return [name] + [name[:i] + "x" + name[i + 1:] for i in range(len(name))]


# linkgen-like: every 1-char variant of a name matches every other one
CLIQUES = [
    (a, b)
    for name in ("annelies", "bernhard", "carolina")
    for i, a in enumerate(_variants(name))
    for b in _variants(name)[i + 1:]
]
CC_SHAPES = {
    "clique": CLIQUES,
    "chain": [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(39)],
    "star": [("hub", f"s{i:02d}") for i in range(30)] + [("a", "s07")],
    "self": [("a", "a"), ("b", "c"), ("c", "c"), ("d", "d"), ("d", "d")],
    "dup": [
        ("b", "a"), ("a", "b"), ("a", "b"), ("c", "b"), ("e", "d"), ("d", "e")
    ],
}
# one graph, the shapes as disjoint components (node names prefixed per
# shape): each path runs once, and the cliques make contraction shrink it
CC_GRAPHS = {
    "shapes": [
        (f"{k}:{a}", f"{k}:{b}")
        for k, pairs in CC_SHAPES.items()
        for a, b in pairs
    ],
    "empty": [],
}


@pytest.mark.parametrize(
    "path", ["driver", "contracted", "loop", "contracted_overflow"]
)
@pytest.mark.parametrize("graph", sorted(CC_GRAPHS))
def test_connected_components_paths_match_reference(
    spark, caplog, graph, path
):
    """Every CC path, forced through driver_threshold, gives the node set and
    min labels of a pure-Python CC — and logs the path it took."""
    pairs = CC_GRAPHS[graph]
    edges = spark.createDataFrame(pairs, "norm_a string, norm_b string")
    if path in ("contracted", "contracted_overflow") and not pairs:
        pytest.skip("no edges to overflow")
    if path == "driver":
        threshold = max(len(pairs), 1)
        logged = "path=driver raw_overflow=False"
    elif path == "loop":
        threshold, logged = 0, "path=loop raw_overflow=None"
    elif path == "contracted":
        # a threshold between the contracted and the raw edge count
        threshold = _hook_contract(edges).count()
        assert threshold < len(pairs)
        logged = (
            f"path=contracted raw_overflow=True contracted_edges={threshold}"
        )
    else:  # both probes overflow: the loop runs on the contracted edges
        threshold = 1
        logged = "path=loop raw_overflow=True contracted_edges=>1"
    with caplog.at_level(
        logging.INFO, logger="llmaix_spark.operators.canonicalize"
    ):
        cc = connected_components(edges, driver_threshold=threshold)
        got = {r["norm"]: r["component"] for r in cc.collect()}
    assert got == _reference_components(pairs)
    (msg,) = [r.getMessage() for r in caplog.records]
    assert logged in msg and "converged=True" in msg


def test_hook_contraction_shrinks_cliques(spark):
    """One hooking round turns each clique of k variants into <= k-1 edges."""
    edges = spark.createDataFrame(CLIQUES, "norm_a string, norm_b string")
    nodes = {x for p in CLIQUES for x in p}
    got = _hook_contract(edges).collect()
    assert len(got) <= len(nodes) - 3 < len(CLIQUES)
    assert all(r["norm_a"] < r["norm_b"] for r in got)


def test_canonical_assignments_isolated_nodes_self_canonical(spark):
    t = _triples(spark, [("c1", "Solo Entity", "uses", "Another Thing")])
    mentions, edges = match_edges(t)
    a = {r["surface"]: r["canonical_name"] for r in canonical_assignments(mentions, edges).collect()}
    assert a["Solo Entity"] == "solo entity"
    assert a["Another Thing"] == "another thing"


def test_umlaut_variants_collapse_exactly(spark):
    t = _triples(
        spark,
        [
            ("c1", "Anna Müller", "works_at", "Acme Corporation"),
            ("c2", "Anna Mueller", "works_at", "Acme Corporation"),
            ("c3", "ANNA MÜLLER", "lives_in", "Köln"),
        ],
    )
    mentions, edges = match_edges(t)
    a = canonical_assignments(mentions, edges)
    canon = {r["surface"]: r["canonical_name"] for r in a.collect()}
    assert (
        canon["Anna Müller"] == canon["Anna Mueller"] == canon["ANNA MÜLLER"]
        == "anna mueller"
    )
    # entity_id identical across the cluster
    ids = {r["entity_id"] for r in a.filter(F.col("canonical_name") == "anna mueller").collect()}
    assert len(ids) == 1


def test_salted_count_matches_plain_count(spark):
    df = spark.createDataFrame(
        [("hot",)] * 500 + [("cold",)] * 3, ["k"]
    )
    got = {r["k"]: r["n"] for r in salted_count(df, "k").collect()}
    assert got == {"hot": 500, "cold": 3}
