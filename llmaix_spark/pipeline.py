"""End-to-end KG pipeline: extract → link → canonicalize → materialize.

Stage dataflow (shuffle boundaries marked ▲ — only linking and
canonicalization are wide, per the north rule):

  transcripts
    ─ assemble (▲ groupBy conv_id — map-side combinable)
    ─ mapInPandas extraction (narrow)
    ─ from_json + explode → triples_raw (narrow)
    ─ mention distinct + MinHash (▲ linking) → LSH bucket rows
      (▲ groupBy band; candidate pairs generated inside each bucket, no
      self-join) → Levenshtein verify → distinct (▲)
    ─ CC (▲ canonicalization): Arrow probe → driver union-find; on
      overflow one hook-contraction round first; label-propagation
      loop (localCheckpoint per round) only if that still overflows
    ─ assignments join back to triples (▲ broadcast when small / AQE)
    ─ write nodes/edges + lineage (narrow)

With `out_dir` set, every stage materializes through
operators.materialize.write_stage and a rerun with resume=True continues
from the last complete manifest — identical outputs (the pipeline is
fully deterministic).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from llmaix_spark.functions.text import norm_surface_expr
from llmaix_spark.operators.canonicalize import canonical_assignments
from llmaix_spark.operators.extraction import ExtractionConfig, extract_triples
from llmaix_spark.operators.linking import log_bucket_stats, match_edges
from llmaix_spark.operators.materialize import load_if_complete, write_stage


@dataclass
class PipelineConfig:
    extraction: ExtractionConfig = field(default_factory=ExtractionConfig)
    link_threshold: float = 90.0
    shingle_n: int = 3
    num_partitions: int | None = None
    out_dir: str | None = None
    resume: bool = False
    # "all": every stage checkpointed (resume-grade, default);
    # "final": only nodes/edges materialized — intermediate stages stay
    # as persisted DataFrames (throughput mode; resume restarts the run)
    checkpoint_stages: str = "all"


def _stage(
    spark: SparkSession,
    cfg: PipelineConfig,
    name: str,
    compute,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Compute-or-resume one stage."""
    if cfg.out_dir and cfg.resume:
        cached = load_if_complete(spark, cfg.out_dir, name)
        if cached is not None:
            return cached
    df = compute()
    if cfg.out_dir:
        df = write_stage(df, cfg.out_dir, name, partition_by)
    return df


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """Full pipeline from transcripts (stub-LLM extraction)."""
    cfg = cfg or PipelineConfig()
    return run_pipeline_from_triples(
        spark,
        lambda: extract_triples(
            transcripts, cfg.extraction, cfg.num_partitions
        )[0],
        cfg,
    )


def run_pipeline_from_triples(
    spark: SparkSession,
    triples_factory,
    cfg: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """Linking + canonicalization + materialization over any triples_raw
    source (conv_id, subj_surface, pred, obj_surface) — the extraction
    grammar is pluggable (stub LLM, HTTP LLM, or rule-based)."""
    cfg = cfg or PipelineConfig()
    final_only = bool(cfg.out_dir) and cfg.checkpoint_stages == "final"
    if final_only and cfg.resume:
        # Resume short-circuit: when BOTH final stages are already
        # materialized, return them without building the compute DAG at
        # all. Without this, constructing `assignments` eagerly runs the
        # whole linking DAG (connected_components' bounded Arrow probe is an
        # action) even though no downstream consumer needs it — a resumed
        # read paid ~2.5 s of recompute per invocation at sf0.1. The
        # intermediate entries are None on this path (final-only mode
        # never materializes them; no caller consumes them on resume).
        nodes_c = load_if_complete(spark, cfg.out_dir, "nodes")
        edges_c = load_if_complete(spark, cfg.out_dir, "edges")
        if nodes_c is not None and edges_c is not None:
            return {
                "triples_raw": None,
                "assignments": None,
                "nodes": nodes_c,
                "edges": edges_c,
                "cleanup": lambda: None,
            }
    _to_unpersist: list[DataFrame] = []

    def stage(name, compute, partition_by=None, final=False):
        if cfg.out_dir and not (final_only and not final):
            return _stage(spark, cfg, name, compute, partition_by)
        df = compute()
        # not written to disk → consumed by several downstream actions
        # (nodes + edges + whatever the caller runs). Persist, or the
        # extraction mapInPandas stage (paid LLM calls on a real backend)
        # re-executes per action. Released by _cleanup / result["cleanup"].
        df = df.persist()
        _to_unpersist.append(df)
        return df

    triples_raw = stage("triples_raw", triples_factory)

    def _link():
        buckets = Observation("lsh_buckets")
        mentions, edges = match_edges(
            triples_raw, cfg.link_threshold, cfg.shingle_n, buckets
        )
        # persist: CC + two joins + the stage write all re-consume these
        # and their lineage is the whole LSH DAG. Unpersisted after the
        # stage materializes (leaked caches degrade successive runs).
        mentions = mentions.persist()
        edges = edges.persist()
        _to_unpersist.extend([mentions, edges])
        assignments = canonical_assignments(mentions, edges)
        # connected_components' first probe ran the LSH plan, which
        # filled the observation; a resumed run never gets here
        log_bucket_stats(buckets)
        return assignments

    assignments = stage("assignments", _link)

    def _nodes():
        return (
            assignments.groupBy("entity_id", "canonical_name")
            .agg(
                F.array_sort(F.collect_set("surface")).alias("aliases"),
                F.sum("n_refs").alias("n_refs"),
            )
            .withColumn("kind", F.lit("entity"))
            .select("entity_id", "canonical_name", "aliases", "kind", "n_refs")
        )

    nodes = stage("nodes", _nodes, final=True)

    def _edges():
        # assignments keyed by norm — join triples' normalized surfaces to
        # entity ids. The assignment table is tiny relative to triples
        # (distinct surfaces << mentions); AQE broadcasts it when it fits.
        amap = assignments.select("norm", "entity_id", "canonical_name").distinct()
        t = triples_raw.withColumn(
            "subj_norm", norm_surface_expr(F.col("subj_surface"))
        ).withColumn("obj_norm", norm_surface_expr(F.col("obj_surface")))
        subj = amap.select(
            F.col("norm").alias("subj_norm"),
            F.col("entity_id").alias("subj_id"),
            F.col("canonical_name").alias("subj_canonical"),
        )
        obj = amap.select(
            F.col("norm").alias("obj_norm"),
            F.col("entity_id").alias("obj_id"),
            F.col("canonical_name").alias("obj_canonical"),
        )
        return (
            t.join(subj, "subj_norm")
            .join(obj, "obj_norm")
            .select(
                "subj_id",
                "pred",
                "obj_id",
                "conv_id",
                F.concat_ws(
                    " ", "subj_surface", "pred", "obj_surface"
                ).alias("evidence"),
                "subj_canonical",
                "obj_canonical",
            )
        )

    edges = stage("edges", _edges, partition_by=["pred"], final=True)

    def _cleanup() -> None:
        for df in _to_unpersist:
            df.unpersist()
        _to_unpersist.clear()

    if cfg.out_dir:  # final outputs materialized → caches now dead weight
        _cleanup()

    # Without out_dir the returned DataFrames are lazy views over the
    # persisted intermediates, so the caches must outlive this call —
    # callers release them via result["cleanup"]() once done consuming
    # (leaked persists degrade successive runs 2-3×).
    return {
        "triples_raw": triples_raw,
        "assignments": assignments,
        "nodes": nodes,
        "edges": edges,
        "cleanup": _cleanup,
    }


def canonical_triples(edges: DataFrame) -> DataFrame:
    """Distinct (subj, pred, obj) with canonical names — the comparison
    unit for the P/R gate (north rule M8)."""
    return edges.select(
        F.col("subj_canonical").alias("subj"),
        "pred",
        F.col("obj_canonical").alias("obj"),
    ).distinct()
