"""Adversarial skew: one entity dominating the corpus must not break or
mis-canonicalize the pipeline (north-rule hot-entity handling)."""

import logging

import pytest
from pyspark.sql import functions as F

from llmaix_spark.operators.canonicalize import salted_count
from llmaix_spark.pipeline import PipelineConfig, canonical_triples, run_pipeline


def test_pipeline_under_extreme_skew(spark, caplog):
    """95% of turns mention the same entity (with surface variants)."""
    hot = [
        ("c%05d" % i, 0, "user",
         ["Hot Entity works at Acme Corporation.",
          "hot entity works at Acme Corporation.",
          "Hot Entxty works at Acme Corporation.",
          "Hot Entity lives in München."][i % 4],
         None, None)
        for i in range(1900)
    ]
    cold = [
        ("d%05d" % i, 0, "user",
         f"Cold Person{i:02d}x works at Vandelay Industries.", None, None)
        for i in range(100)
    ]
    df = spark.createDataFrame(
        hot + cold,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).repartition(8)
    with caplog.at_level(logging.INFO, logger="llmaix_spark.operators.linking"):
        res = run_pipeline(spark, df, PipelineConfig(num_partitions=8))
    # the bucket stats are filled by the linking stage's own actions
    assert [r.getMessage() for r in caplog.records if r.levelno == logging.INFO
            ][-1].startswith("lsh_candidate_pairs skipped_buckets=0 ")
    triples = canonical_triples(res["edges"])
    subs = {r["subj"] for r in triples.select("subj").distinct().collect()}
    # the hot entity's variants all collapse into one canonical subject
    hot_forms = {s for s in subs if "ent" in s and "hot" in s}
    assert hot_forms == {"hot entity"}, subs
    # node table carries the skew-aware counts
    hot_node = (
        res["nodes"].filter(F.col("canonical_name") == "hot entity").collect()[0]
    )
    # 3 of 4 surface variants are extractable (lowercase is invisible to
    # the capitalized-entity grammar, by design) → ~1425 of 1900
    assert hot_node["n_refs"] >= 1400
    assert "Hot Entxty" in hot_node["aliases"]


def test_knn_cap_bounds_every_arrow_group_under_degenerate_centroids(spark):
    """Worst-case IVF skew (round-4 verdict item 1): every vector lands
    in ONE bucket. The hash-blocked grouping must (a) keep every Arrow
    group's per-side row count ≤ max_bucket_members and (b) cover each
    (query, index) pair EXACTLY once — the two facts that make the
    capped scorer memory-bounded and bit-identical to the flat one."""
    from llmaix_spark.operators.similarity import _capped_group_keys

    n, cap = 2000, 64
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("float") + 1.0,
            (F.col("id") % 5).cast("float") + 1.0,
        ).alias("v"),
    )
    idx = vecs.select(
        F.lit(0).alias("bucket"), F.lit(False).alias("is_q"), "vec_id", "v"
    )
    qry = vecs.select(
        F.lit(0).alias("bucket"), F.lit(True).alias("is_q"), "vec_id", "v"
    )
    keyed = _capped_group_keys(idx.unionByName(qry), cap)
    per_side = (
        keyed.groupBy("bucket", "qc", "ic", "is_q")
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    assert max(r["rows"] for r in per_side) <= cap, sorted(
        r["rows"] for r in per_side
    )[-5:]
    # pair coverage: Σ over groups of |q side| × |ix side| == n², i.e.
    # every pair is scored in exactly one group (≥ would be dup pairs,
    # ≤ would be silently dropped candidates)
    sides = {}
    for r in per_side:
        key = (r["bucket"], r["qc"], r["ic"])
        sides.setdefault(key, {})[r["is_q"]] = r["rows"]
    covered = sum(s.get(True, 0) * s.get(False, 0) for s in sides.values())
    assert covered == n * n


def test_knn_capped_join_equals_exact_on_degenerate_buckets(spark):
    """End-to-end pin of the blocked-matmul identity inside the suite:
    with a duplicated centroid (100% of vectors in bucket 0, both
    buckets probed) the capped bucketed join must reproduce the exact
    kNN graph bit-for-bit."""
    from llmaix_spark.operators import similarity as sim

    n = 300
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    F.pmod(F.xxhash64(F.col("id") + F.lit(d * 1000)), 97)
                    / 97.0
                    + 0.01
                ).cast("float")
                for d in range(8)
            ]
        ).alias("embedding"),
    )
    v0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("centv")
    )
    cents = v0.select(F.lit(0).alias("centroid_id"), "centv").unionByName(
        v0.select(F.lit(1).alias("centroid_id"), "centv")
    )
    exact = {
        tuple(r)
        for r in sim.knn_join_exact(emb, k=5).collect()
    }
    capped = {
        tuple(r)
        for r in sim.knn_join_bucketed(
            emb, k=5, nprobe=2, centroids=cents, max_bucket_members=32
        ).collect()
    }
    assert capped == exact


def test_lsh_band_cap_skips_the_hot_bucket(spark, caplog):
    """One band shared by every norm (the low-information-band
    pathology): with max_bucket_size the O(|bucket|²) pairs inside
    the hot band must be SKIPPED, not materialized — pair count drops
    to the selective-band pairs only — and the skip is counted."""
    from pyspark.sql import Observation

    from llmaix_spark.operators.linking import (
        BANDS,
        N_HASHES,
        ROWS,
        log_bucket_stats,
        lsh_candidate_pairs,
    )

    n = 400
    # band 0 identical for everyone (the hot bucket); the other bands'
    # hash values are distinct per row except rows i and i+n (paired)
    rows = []
    for i in range(n):
        sig = [7] * ROWS + [i * N_HASHES + j for j in range(ROWS, N_HASHES)]
        rows.append((f"norm{i:04d}", sig))
    # one genuine near-pair sharing a SELECTIVE band too (band 1)
    rows.append(("norm_pair_a", [7] * ROWS + [5] * ROWS
                 + [10**6 + j for j in range(2 * ROWS, N_HASHES)]))
    rows.append(("norm_pair_b", [7] * ROWS + [5] * ROWS
                 + [2 * 10**6 + j for j in range(2 * ROWS, N_HASHES)]))
    sigs = spark.createDataFrame(rows, "norm string, sig array<bigint>")
    buckets = Observation("buckets")
    capped = lsh_candidate_pairs(
        sigs, max_bucket_size=100, observation=buckets
    ).collect()
    # only the selective-band pair survives; the hot band contributes 0
    assert {(r["norm_a"], r["norm_b"]) for r in capped} == {
        ("norm_pair_a", "norm_pair_b")
    }
    with caplog.at_level(logging.INFO, logger="llmaix_spark.operators.linking"):
        log_bucket_stats(buckets)
    (rec,) = caplog.records
    assert rec.levelno == logging.WARNING
    assert rec.getMessage().endswith(
        f"skipped_buckets=1 largest_bucket={n + 2}"
    )
    uncapped = lsh_candidate_pairs(sigs, max_bucket_size=None)
    # all-pairs blowup inside the hot band, minus the length
    # gate (the 11-char norm_pair_* rows can't pair with 8-char norms);
    # distinct() — multi-band collisions collapse downstream, in verify
    assert uncapped.distinct().count() == n * (n - 1) // 2 + 1
    assert BANDS * ROWS == N_HASHES


def test_salted_count_extreme_skew(spark):
    df = spark.range(0, 200_000).select(
        F.when(F.col("id") % 100 < 99, F.lit("hot")).otherwise(
            F.concat(F.lit("cold"), (F.col("id") % 37).cast("string"))
        ).alias("k")
    )
    got = {r["k"]: r["n"] for r in salted_count(df, "k", salt_buckets=16).collect()}
    assert got["hot"] == 198_000
    assert sum(v for k, v in got.items() if k.startswith("cold")) == 2_000
