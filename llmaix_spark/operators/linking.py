"""Entity linking — blocking + candidate scoring (the first wide stage).

The reference links PII mentions by exact substring match ∪ fuzzy
WRatio/QRatio ≥ 90 ∪ umlaut-variant expansion
(webapp/llm_processing/utils.py:171-244, webapp/report_redaction/
utils.py:413-437) — all O(n·m) single-machine loops. The scalable recast
(SURVEY §2.11):

  mentions (groupBy surface, map-side count)                 1 shuffle
  → char-3-gram shingles → 16-fn MinHash (groupBy norm, min) 1 shuffle
  → banded LSH bucket rows (b=8, r=2): one row per
    (band, value) holding its members; buckets over
    max_bucket_size skipped (counted, see log_bucket_stats)  1 shuffle
  → candidate pairs inside each bucket row: every member ×
    the greater members that pass the length gate (explode)  narrow
  → verify candidates with normalized-Levenshtein ≥ θ        narrow
  → distinct → match edges                                   1 shuffle

There is no self-join: the signatures are planned once, and the verify
filter runs on the generated candidates — it cannot be pushed into a join
condition ahead of the cheap gates.

Everything is built-in Column expressions (md5/conv/levenshtein — JVM,
codegen'd); no Python in the path. Umlaut expansion becomes
normalize-then-match: both sides are umlaut-folded + lowercased first, so
`Müller`/`Mueller` collapse *exactly* and never reach the fuzzy stage.

LSH parameters: b=8 bands × r=2 rows. For a 1-char typo in a ~15-char
name (3-gram Jaccard ≈ 0.65-0.75) pair-recall is ≥ 0.99; unrelated names
(J < 0.2) almost never collide, and false collisions are killed by the
verify step anyway — LSH affects recall only.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from llmaix_spark.functions.fuzzy import ratio_expr
from llmaix_spark.functions.text import norm_surface_expr

log = logging.getLogger(__name__)

# deterministic MinHash parameters: x -> (a*x + b) mod P, P = 2^31 - 1
# (h is pre-reduced mod P so a*h < 2^62 never overflows a bigint)
_P = 2_147_483_647
_MINHASH_AB = [
    (1_103_515_245, 12_345),
    (214_013, 2_531_011),
    (134_775_813, 1),
    (22_695_477, 1_234_567),
    (1_664_525, 1_013_904_223),
    (69_069, 362_437),
    (1_013_904_223, 1_664_525),
    (48_271, 399_268_537),
    (16_807, 1_345_678),
    (65_539, 999_999_937),
    (1_229_782_938, 777_777_777),
    (987_654_321, 192_837_465),
    (557_788_991, 665_544_332),
    (321_321_321, 123_123_123),
    (909_090_909, 808_080_808),
    (111_111_113, 222_222_227),
]
N_HASHES = len(_MINHASH_AB)
BANDS = 8
ROWS = N_HASHES // BANDS


def stable_hash60_expr(col) -> F.Column:
    """60-bit deterministic hash shared with the DuckDB oracle:
    first 15 hex chars of md5 → bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def mention_table(triples_raw: DataFrame) -> DataFrame:
    """triples_raw → mentions(surface, norm, n_refs).

    One shuffle (groupBy surface, map-side combinable). Hot entities
    (power-law mention frequency) are exactly the keys this groupBy
    sees most — partial aggregation absorbs the skew; the downstream
    joins operate on *distinct* surfaces where skew no longer exists.
    """
    surfaces = triples_raw.select(
        F.explode(
            F.array(F.col("subj_surface"), F.col("obj_surface"))
        ).alias("surface")
    ).filter(F.col("surface").isNotNull() & (F.length("surface") > 0))
    return (
        surfaces.groupBy("surface")
        .agg(F.count(F.lit(1)).alias("n_refs"))
        .withColumn("norm", norm_surface_expr(F.col("surface")))
    )


def _shingles(norms: DataFrame, n: int = 3) -> DataFrame:
    """norm → exploded char-n-gram shingles (norms shorter than n use the
    whole string as their single shingle)."""
    sh = F.when(F.length("norm") < n, F.array(F.col("norm"))).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length("norm") - (n - 1)),
            lambda i: F.col("norm").substr(i, F.lit(n)),
        )
    )
    return norms.select("norm", F.explode(sh).alias("shingle"))


def minhash_signatures(norms: DataFrame, n: int = 3) -> DataFrame:
    """norm → sig array<bigint> of N_HASHES MinHash values (one shuffle:
    groupBy norm with per-column min — fully map-side combinable)."""
    sh = _shingles(norms, n)
    # hash ONCE per shingle in a projection (16 hash-fn columns each
    # embedded the whole md5 chain otherwise)
    pre = sh.select(
        "norm",
        (stable_hash60_expr(F.col("shingle")) % F.lit(_P)).alias("_hp"),
    )
    h = F.col("_hp")
    hashed = pre.select(
        "norm",
        *[
            ((F.lit(a) * h + F.lit(b)) % F.lit(_P)).alias(f"h{i}")
            for i, (a, b) in enumerate(_MINHASH_AB)
        ],
    )
    agg = hashed.groupBy("norm").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(N_HASHES)]
    )
    return agg.select(
        "norm", F.array(*[f"h{i}" for i in range(N_HASHES)]).alias("sig")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    max_bucket_size: int | None = 5000,
    threshold: float = 90.0,
    observation: Observation | None = None,
) -> DataFrame:
    """Banded LSH: two norms are candidates iff they agree on all ROWS
    hashes of at least one band. One shuffle builds the bucket rows —
    (band_idx, band_val) → the array of its members — and the pairs are
    generated inside each bucket row, with no self-join:

      * each member is paired with every member of its bucket with a
        greater norm that passes the length gate: ratio ≥ θ implies
        |len_a − len_b| ≤ (1−θ/100)·max(len), so pairs violating it can
        never verify and are never emitted;
      * `max_bucket_size`: buckets larger than this are *skipped*
        (a band shared by 10⁵ norms is low-information — e.g. every
        surface containing one common word; pairs inside it that are
        real matches almost surely share a selective band too). The cap
        turns worst-case O(Σ|bucket|²) into O(Σ min(|bucket|,K)²).
        `observation`, if given, records the skipped bucket count and
        the largest bucket size (see `log_bucket_stats`).

    Output: (norm_a, norm_b) with norm_a < norm_b, one row per bucket the
    pair shares — a pair colliding in several bands appears once per
    band. `verify_pairs` scores every row and deduplicates after.
    """
    bands = signatures.select(
        "norm",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        *[
                            F.col("sig")[b * ROWS + r].cast("string")
                            for r in range(ROWS)
                        ],
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    # An explicit width, derived from the session: the bucket rows are few
    # bytes but expand into every candidate pair and its verify, and AQE
    # coalesced them into one task. The aggregation reuses this hash
    # partitioning, so it adds no exchange, and AQE leaves it uncoalesced.
    width = int(
        signatures.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    buckets = bands.repartition(width, "band_idx", "band_val").groupBy(
        "band_idx", "band_val"
    ).agg(F.collect_list("norm").alias("m"))
    size = F.size("m")
    if observation is not None:
        over = size > max_bucket_size if max_bucket_size else F.lit(False)
        buckets = buckets.observe(
            observation,
            F.coalesce(F.sum(over.cast("long")), F.lit(0)).alias(
                "skipped_buckets"
            ),
            F.coalesce(F.max(size), F.lit(0)).alias("largest_bucket"),
        )
    keep = size >= 2
    if max_bucket_size:
        keep = keep & (size <= max_bucket_size)
    max_rel_diff = 1.0 - threshold / 100.0
    a, b = F.col("norm_a"), F.col("norm_b")
    len_a, len_b = F.length(a), F.length(b)
    # Two plain explodes and a Filter over arrays of bare norms, all
    # whole-stage codegen'd. A higher-order `filter(slice(m, ..), ..)` per
    # member runs interpreted and allocates for every element it scans:
    # over (norm, len) struct arrays it allocated about 3x the heap for
    # the same candidates (link_heavy seed 26: 1.4 GB against 0.45 GB).
    return (
        buckets.where(keep)
        .select("m", F.explode("m").alias("norm_a"))
        .select("norm_a", F.explode("m").alias("norm_b"))
        .where(
            (b > a)
            & (
                F.abs(len_a - len_b)
                <= max_rel_diff * F.greatest(len_a, len_b)
            )
        )
    )


def log_bucket_stats(observation: Observation) -> None:
    """Log what `lsh_candidate_pairs` recorded in `observation`: INFO, or
    WARNING when buckets over `max_bucket_size` were skipped (their pairs
    never reach the verify — recall the cap traded away). Logs nothing if
    no action has filled the observation yet; never waits for one. When
    no pair verified, the plan that held the observation is pruned and the
    counts are lost; that is logged at INFO."""
    # Observation.get blocks until an action fills it; its JVM future says
    # whether one has (a resumed run, say, never executes the plan)
    jo = getattr(observation, "_jo", None)
    if jo is None or not jo.future().isCompleted():
        return
    if jo.getRow().length() == 0:
        # filled empty: when no candidate verifies, AQE replaces the whole
        # observed subtree by an empty relation and no metrics come back
        log.info("lsh_candidate_pairs bucket stats not recorded: no match "
                 "edges, the observed plan was pruned")
        return
    stats = observation.get
    level = logging.WARNING if stats["skipped_buckets"] else logging.INFO
    log.log(
        level,
        "lsh_candidate_pairs skipped_buckets=%d largest_bucket=%d",
        stats["skipped_buckets"], stats["largest_bucket"],
    )


def verify_pairs(
    pairs: DataFrame, threshold: float = 90.0
) -> DataFrame:
    """Candidate scoring: normalized-Levenshtein ratio ≥ threshold
    (the reference's fuzzy gate of 90,
    webapp/report_redaction/utils.py:431-433). Pure JVM `levenshtein`.

    `levenshtein` runs once per candidate row — in the same stage as the
    in-bucket pair generation, after its cheap gates — and the dedup comes
    AFTER scoring: re-scoring multi-band collisions (narrow, codegen'd)
    is cheaper than shuffling the raw candidate stream, and distinct()
    here only moves the verified pairs (link_heavy benchmark, seed 1:
    1,160,981 candidates, 277,533 verified edges)."""
    return pairs.filter(
        ratio_expr(F.col("norm_a"), F.col("norm_b")) >= F.lit(threshold)
    ).distinct()


def match_edges(
    triples_raw: DataFrame,
    threshold: float = 90.0,
    shingle_n: int = 3,
    observation: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full linking stage. Returns (mentions, edges(norm_a, norm_b)).

    No separate norms.distinct() pass: minhash_signatures ends in a
    groupBy(norm), so duplicate norms (case variants of one surface)
    collapse there for free — one less shuffle. `observation` is passed
    to `lsh_candidate_pairs`."""
    mentions = mention_table(triples_raw)
    sigs = minhash_signatures(mentions.select("norm"), shingle_n)
    pairs = lsh_candidate_pairs(
        sigs, threshold=threshold, observation=observation
    )
    edges = verify_pairs(pairs, threshold)
    return mentions, edges
