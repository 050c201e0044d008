#!/usr/bin/env python3
"""KG-pipeline benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload transcripts --seed 1 --seconds 1 --trace 0

Runs the public pipeline API (`run_pipeline` / `run_pipeline_from_triples`)
at local[<cores>] in this process, from inputs generated from --seed under
perfbench/.work/ (removed again at exit). With --trace 0 it reports the
end-to-end metrics; with --trace 1 it adds a traced run, with every layer
under a span and a Spark job group, and reports the per-layer metrics (see
perfbench/README.md). Every pipeline run is one operation: a run that
raises or fails an output check counts as failed. Progress goes to stderr;
the last stdout line is the result.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import Counter

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

TRANSCRIPTS_SF = 0.005
DRIVER_THRESHOLD = 200_000  # connected_components' default driver_threshold
RESUMES = 3  # resumed reruns timed by the traced invocation
# The program's default 8g heap lets G1 grow lazily, so the driver's
# high-water mark varied by +-20% between identical runs; both workloads
# run at unchanged speed within 2g, where it varies by 5-10%.
DRIVER_HEAP = "2g"
PIPELINE_GROUP = "run_pipeline"  # job group of the traced invocation's first run


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}] {msg}", file=sys.stderr, flush=True)


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


class OutputCheckError(Exception):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise OutputCheckError(msg)


# ---------------------------------------------------------------- workloads


def stub_evidence(transcripts) -> Counter:
    """(conv_id, evidence) multiset the edges must hold: the stub backend
    and JSON repair applied conversation by conversation in plain Python.
    Every extracted triple becomes exactly one edge."""
    from llmaix_spark.functions.json_repair import repair_and_parse
    from llmaix_spark.operators.extraction import (
        DEFAULT_PROMPT,
        ExtractionConfig,
        StubBackend,
    )

    backend = StubBackend(ExtractionConfig())
    out: Counter = Counter()
    t = transcripts.sort_values(["conv_id", "turn_idx"])
    for conv_id, texts in t.groupby("conv_id", sort=False)["text"]:
        prompt = DEFAULT_PROMPT.format(report=" ".join(x for x in texts if x is not None))
        parsed, _, _ = repair_and_parse(backend.complete([prompt])[0][0])
        for tr in parsed.get("triples") or []:
            if tr.get("subj") and tr.get("obj"):
                out[(conv_id, f"{tr['subj']} {tr['pred']} {tr['obj']}")] += 1
    return out


class Workload:
    """Inputs generated from a seed under the work dir, read once at set-up."""

    path: str

    def read(self, spark) -> None:
        self.df = spark.read.parquet(self.path)
        self.df.count()


class Transcripts(Workload):
    """Generated transcripts through the full pipeline, every stage
    checkpointed (the default `checkpoint_stages="all"`)."""

    name = "transcripts"

    def __init__(self, work: str, seed: int):
        from llmaix_spark import datagen

        d = datagen.ensure_transcripts(TRANSCRIPTS_SF, os.path.join(work, "data"), seed)
        self.path = os.path.join(d, "transcripts.parquet")
        import pandas as pd

        ref = pd.read_parquet(os.path.join(d, "triples_ref.parquet"))
        self.truth = list(zip(ref["subj"], ref["pred"], ref["obj"]))
        self.expected = stub_evidence(pd.read_parquet(self.path))

    def config(self, out_dir: str, resume: bool = False):
        from llmaix_spark.pipeline import PipelineConfig

        return PipelineConfig(
            num_partitions=8 * n_cores(), out_dir=out_dir, resume=resume
        )

    def run(self, spark, cfg):
        from llmaix_spark.pipeline import run_pipeline

        return run_pipeline(spark, self.df, cfg)

    def quality(self, edges: list, nodes: list) -> tuple[float, float]:
        from quality import triple_scores

        ours = {(r["subj_canonical"], r["pred"], r["obj_canonical"]) for r in edges}
        return triple_scores(ours, self.truth)


class LinkHeavy(Workload):
    """Generated raw triples straight into linking + canonicalization,
    every stage checkpointed."""

    name = "link_heavy"

    def __init__(self, work: str, seed: int):
        from linkgen import generate

        data = generate(seed)
        check(
            data.guaranteed_pairs > DRIVER_THRESHOLD,
            f"generator made {data.guaranteed_pairs} sure match pairs, "
            f"not above the CC driver threshold {DRIVER_THRESHOLD}",
        )
        d = os.path.join(work, "data")
        os.makedirs(d, exist_ok=True)
        self.path = os.path.join(d, f"link_heavy_{seed}.parquet")
        data.triples.to_parquet(self.path, index=False)
        self.truth = data.truth
        t = data.triples
        self.expected = Counter(
            (c, f"{s} {p} {o}")
            for c, s, p, o in zip(t.conv_id, t.subj_surface, t.pred, t.obj_surface)
        )

    def config(self, out_dir: str, resume: bool = False):
        from llmaix_spark.pipeline import PipelineConfig

        return PipelineConfig(out_dir=out_dir, resume=resume)

    def run(self, spark, cfg):
        from llmaix_spark.pipeline import run_pipeline_from_triples

        return run_pipeline_from_triples(spark, lambda: self.df, cfg)

    def quality(self, edges: list, nodes: list) -> tuple[float, float]:
        from quality import pair_scores

        return pair_scores((r["aliases"] for r in nodes), self.truth)


WORKLOADS = {w.name: w for w in (Transcripts, LinkHeavy)}


# ---------------------------------------------------------------- processes


def _stat(pid: int) -> list[str]:
    """/proc/<pid>/stat fields after the command name: state, ppid, ..."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return []


def _ppid(pid: int) -> int | None:
    fields = _stat(pid)
    return int(fields[1]) if len(fields) > 1 else None


def _alive(pid: int) -> bool:
    fields = _stat(pid)
    return bool(fields) and fields[0] != "Z"


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            parent = _ppid(int(entry))
            if parent is not None:
                children.setdefault(parent, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def vmhwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus its Python workers."""
    pid = jvm_pid(spark)
    workers = [vmhwm_kb(p) for p in descendants(pid)]
    return (vmhwm_kb(pid) + sum(workers)) / 1024.0


# ---------------------------------------------------------------- session


def session_conf(work: str, event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(work: str, event_dir: str | None):
    # everything Spark, the JVMs and Python write goes under the work dir;
    # -UsePerfData stops HotSpot writing /tmp/hsperfdata_<user>
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None
    from llmaix_spark.session import get_spark

    spark = get_spark(
        master=f"local[{n_cores()}]",
        app_name="perfbench",
        extra_conf=session_conf(work, event_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, its gateway JVM and the Python workers, and wait."""
    from pyspark import SparkContext

    pid = jvm_pid(spark)
    pids = [pid, *descendants(pid)]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark processes still alive: {pids}")
        time.sleep(0.1)


# ---------------------------------------------------------------- runs


def check_graph(expected: Counter, edges: list, nodes: list) -> None:
    """Exact checks of one run's graph: one edge per extracted triple, and
    edges point at nodes with the same canonical names."""
    got = Counter((r["conv_id"], r["evidence"]) for r in edges)
    check(got == expected, f"edges differ from the extracted triples: "
          f"{sum((got - expected).values())} extra, "
          f"{sum((expected - got).values())} missing")
    names = {r["entity_id"]: r["canonical_name"] for r in nodes}
    check(len(names) == len(nodes), "duplicate entity ids in nodes")
    for r in edges:
        check(
            names.get(r["subj_id"]) == r["subj_canonical"]
            and names.get(r["obj_id"]) == r["obj_canonical"],
            f"edge {r['evidence']!r} does not match its nodes",
        )


class Runs:
    """Pipeline runs as operations: timing, output checks, failure count."""

    def __init__(self, spark, wl, work: str):
        self.spark, self.wl = spark, wl
        self.out_dir = os.path.join(work, "out")
        self.attempted = 0
        self.failed = 0
        self.digest: str | None = None
        self.edges_n = 0
        self.nodes_n = 0
        self.quality: tuple[float, float] | None = None

    def once(self, resume: bool = False, fresh: bool = True):
        """One pipeline run; returns (seconds, result) or None if it failed.
        Timed through the call, which materializes nodes and edges."""
        from quality import rows_digest

        self.attempted += 1
        try:
            if fresh:
                shutil.rmtree(self.out_dir, ignore_errors=True)
            t0 = time.perf_counter()
            res = self.wl.run(self.spark, self.wl.config(self.out_dir, resume))
            dt = time.perf_counter() - t0
            edges = res["edges"].collect()
            nodes = res["nodes"].collect()
            check(len(edges) > 0 and len(nodes) > 0, "empty graph")
            digest = rows_digest(edges + nodes)
            if self.digest is None:
                check_graph(self.wl.expected, edges, nodes)
                self.digest, self.edges_n = digest, len(edges)
                p, r = self.quality = self.wl.quality(edges, nodes)
                log(f"edges={len(edges)} nodes={len(nodes)} P={p:.4f} R={r:.4f}")
            check(digest == self.digest, "nodes/edges differ from the first run's")
            self.nodes_n = len(nodes)
            log(f"run {self.attempted}: {dt:.3f} s{' (resume)' if resume else ''}")
            return dt, res
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def resume(self) -> float | None:
        """Rerun with resume=True after removing the nodes/edges stages of
        the previous run; they must come back identical."""
        for stage in ("nodes", "edges"):
            shutil.rmtree(os.path.join(self.out_dir, f"stage={stage}"), ignore_errors=True)
        r = self.once(resume=True, fresh=False)
        return None if r is None else r[0]


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(spark, wl, work: str, seconds: float, setup_s: float) -> tuple[Runs, dict]:
    """The process's first pipeline run is the measurement. Resumed reruns
    follow for `seconds` (at least one) as output checks."""
    runs = Runs(spark, wl, work)
    first = runs.once()
    check(first is not None, "the first pipeline run failed")
    t_end = time.perf_counter() + seconds
    while runs.resume() is not None and time.perf_counter() < t_end:
        pass
    rss = peak_rss_mb(spark)
    p, r = runs.quality
    return runs, {
        "triples_per_s": metric(runs.edges_n / first[0], "triples/s"),
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(rss, "MB"),
        "precision": metric(p, "ratio"),
        "recall": metric(r, "ratio"),
    }


def traced_runs(spark, wl, work: str) -> tuple[Runs, object, dict]:
    """First run untraced (its jobs counted under PIPELINE_GROUP), then one
    traced run, then, after the traced outputs are released, one untraced
    warm run to compare against, then RESUMES timed resumed reruns.
    Returns the runs, the tracer and the numbers measured outside it."""
    import eventlog
    from layers import Tracer
    from llmaix_spark.operators.materialize import load_if_complete

    runs = Runs(spark, wl, work)
    tracer = Tracer(spark)
    sc = spark.sparkContext
    sc.setLocalProperty(eventlog.GROUP_KEY, PIPELINE_GROUP)
    first = runs.once()
    sc.setLocalProperty(eventlog.GROUP_KEY, None)
    with tracer.traced_layers():
        traced = runs.once()
    check(first is not None and traced is not None, "a pipeline run failed")
    counts = {
        "components": runs.nodes_n,
        "errors": 0,
        "truncated": 0,
        "traced_s": traced[0],
        "edges": runs.edges_n,
    }
    if "extraction.udf" in tracer.outputs:
        from llmaix_spark.operators.extraction import extraction_run_metrics

        row = extraction_run_metrics(tracer.outputs["extraction.udf"]).first()
        counts["errors"], counts["truncated"] = row["n_errors"], row["n_truncated"]
    stages = sorted(os.listdir(runs.out_dir))
    with tracer.span("materialize.load"):
        for stage in stages:
            name = stage.split("=", 1)[1]
            check(
                load_if_complete(spark, runs.out_dir, name) is not None,
                f"stage {name} did not load back",
            )
    counts["files"] = sum(
        f.endswith(".parquet")
        for stage in stages
        for _, _, fs in os.walk(os.path.join(runs.out_dir, stage, "data"))
        for f in fs
    )
    tracer.release()
    warm = runs.once()
    check(warm is not None, "the untraced warm run failed")
    counts["warm_s"] = warm[0]
    resumes = [t for t in (runs.resume() for _ in range(RESUMES)) if t is not None]
    check(bool(resumes), "every resumed run failed")
    counts["resume_s"] = statistics.median(resumes)
    return runs, tracer, counts


def layer_metrics(stats: dict, tracer, counts: dict, wl) -> dict:
    """Per-layer metrics from the tracer's spans and counts, the event-log
    stats per job group, and the numbers `traced_runs` measured."""
    import eventlog

    g = functools.partial(eventlog.merge, stats)
    s, c = tracer.seconds, tracer.counts
    extraction_s = s.get("extraction.udf", 0.0) + s.get("extraction.explode", 0.0)
    convs = c.get("extraction.convs", 0)
    cands, verified = c.get("linking.candidates", 0), c.get("linking.verified", 0)
    check(
        wl.name != "link_heavy" or verified > DRIVER_THRESHOLD,
        f"link_heavy verified {verified} match edges, not above {DRIVER_THRESHOLD}",
    )
    raw = {
        "assembly.s": (s.get("assembly", 0.0), "s"),
        "assembly.rows_out": (c.get("assembly.rows_out", 0), "count"),
        "assembly.shuffle_bytes": (g("assembly").shuffle_bytes, "bytes"),
        "assembly.task_skew": (g("assembly").task_skew, "ratio"),
        "extraction.s": (extraction_s, "s"),
        "extraction.convs": (convs, "count"),
        "extraction.triples": (c.get("extraction.triples", 0), "count"),
        "extraction.errors": (counts["errors"], "count"),
        "extraction.truncated": (counts["truncated"], "count"),
        "extraction.task_skew": (g("extraction").task_skew, "ratio"),
        "linking.mentions.s": (s.get("linking.mentions", 0.0), "s"),
        "linking.minhash.s": (s.get("linking.minhash", 0.0), "s"),
        "linking.lsh.s": (s.get("linking.lsh", 0.0), "s"),
        "linking.verify.s": (s.get("linking.verify", 0.0), "s"),
        "linking.mentions": (c.get("linking.mentions", 0), "count"),
        "linking.norms": (c.get("linking.norms", 0), "count"),
        "linking.candidates": (cands, "count"),
        "linking.verified": (verified, "count"),
        "linking.verify_yield": (verified / cands if cands else 0.0, "ratio"),
        "linking.shuffle_bytes": (g("linking").shuffle_bytes, "bytes"),
        "linking.spill_bytes": (g("linking").spill_bytes, "bytes"),
        "linking.lsh.task_skew": (g("linking.lsh").task_skew, "ratio"),
        "canonicalize.cc.s": (s.get("canonicalize.cc", 0.0), "s"),
        "canonicalize.cc.jobs": (g("canonicalize.cc").jobs, "count"),
        "canonicalize.components": (counts["components"], "count"),
        "canonicalize.assign.s": (
            s.get("canonicalize", 0.0) - s.get("canonicalize.cc", 0.0), "s"
        ),
        "canonicalize.shuffle_bytes": (g("canonicalize").shuffle_bytes, "bytes"),
        "materialize.write.s": (s.get("materialize.write", 0.0), "s"),
        "materialize.files": (counts["files"], "count"),
        "materialize.load.s": (s.get("materialize.load", 0.0), "s"),
        "materialize.resume_s": (counts["resume_s"], "s"),
        "pipeline.jobs": (g(PIPELINE_GROUP).jobs, "count"),
        "pipeline.residual_s": (counts["traced_s"] - tracer.layer_seconds(), "s"),
        "trace.overhead_s": (counts["traced_s"] - counts["warm_s"], "s"),
        "pipeline.warm_triples_per_s": (counts["edges"] / counts["warm_s"], "triples/s"),
    }
    return {k: metric(v, u) for k, (v, u) in raw.items()}


# ---------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "llmaix_spark")):
        log(f"llmaix_spark package not found next to {HERE}")
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        log("generating inputs")
        wl = WORKLOADS[args.workload](work, args.seed)
        log("inputs ready")
        event_dir = os.path.join(work, "events") if args.trace else None
        t0 = time.perf_counter()
        spark = start_session(work, event_dir)
        wl.read(spark)
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.3f} s")
        if args.trace:
            runs, tracer, counts = traced_runs(spark, wl, work)
        else:
            runs, metrics = end_to_end(spark, wl, work, args.seconds, setup_s)
        stop_session(spark)  # also completes the event log
        spark = None
        if args.trace:
            import eventlog

            stats = eventlog.parse(eventlog.find_log(event_dir))
            metrics = layer_metrics(stats, tracer, counts, wl)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # fails while another run is active
            os.rmdir(os.path.dirname(work))
    result = {
        "correct": runs.failed == 0,
        "attempted": runs.attempted,
        "failed": runs.failed,
        "metrics": metrics,
    }
    log("done")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
