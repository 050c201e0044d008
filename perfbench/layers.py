"""Traced pipeline run: spans and Spark job groups around each layer call.

`traced_layers` swaps the layer functions the pipeline reaches through
module attributes for wrappers, for the duration of one `run_pipeline*`
call, and restores them afterwards. Each wrapper

  * puts the call under a Spark job group named after the layer, so the
    event log attributes its stages, shuffle and spill to that layer;
  * times the call as a span;
  * persists and counts the layer's output inside the span, so the layer
    that builds a plan also pays for executing it, and the next layer
    reads a materialized input.

`write_stage` is wrapped differently: its (lazy) input is materialized
first under the `pipeline.glue` group, outside any layer span, so the
nodes/edges joins land in the residual and the span holds only the write.

The persisted outputs stay cached until `Tracer.release()`; call it
before timing another run in the same session, or that run silently
reuses them through identical plans.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict

from eventlog import GROUP_KEY

GLUE = "pipeline.glue"

# (module, attribute, span name, output count key or None) in pipeline order
LAYER_CALLS = [
    ("llmaix_spark.operators.assembly", "assemble_conversations",
     "assembly", "assembly.rows_out"),
    ("llmaix_spark.operators.extraction", "extract_raw",
     "extraction.udf", "extraction.convs"),
    ("llmaix_spark.operators.extraction", "triples_from_raw",
     "extraction.explode", "extraction.triples"),
    ("llmaix_spark.operators.linking", "mention_table",
     "linking.mentions", "linking.mentions"),
    ("llmaix_spark.operators.linking", "minhash_signatures",
     "linking.minhash", "linking.norms"),
    ("llmaix_spark.operators.linking", "lsh_candidate_pairs",
     "linking.lsh", "linking.candidates"),
    ("llmaix_spark.operators.linking", "verify_pairs",
     "linking.verify", "linking.verified"),
    ("llmaix_spark.pipeline", "canonical_assignments",
     "canonicalize", None),
    ("llmaix_spark.operators.canonicalize", "connected_components",
     "canonicalize.cc", None),
]
# spans whose sum is compared with the traced run's wall time: each
# layer's outermost span (canonicalize.cc nests inside canonicalize)
TOP_SPANS = (
    "assembly", "extraction.udf", "extraction.explode", "linking.mentions",
    "linking.minhash", "linking.lsh", "linking.verify", "canonicalize",
    "materialize.write",
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.seconds: dict[str, float] = defaultdict(float)
        self.counts: dict[str, int] = {}
        self.outputs: dict[str, object] = {}  # span name -> last output
        self._persisted = []
        self._group: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        prev = self._group
        self._set_group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] += time.perf_counter() - t0
            self._set_group(prev)

    def _set_group(self, name: str | None) -> None:
        self._group = name
        self.spark.sparkContext.setLocalProperty(GROUP_KEY, name)

    def materialize(self, df, count_key: str | None = None):
        df = df.persist()
        self._persisted.append(df)
        n = df.count()
        if count_key:
            self.counts[count_key] = n
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        self.outputs.clear()
        self.spark.catalog.clearCache()

    def _wrap(self, fn, name: str, count_key: str | None):
        def traced(*args, **kwargs):
            with self.span(name):
                out = self.materialize(fn(*args, **kwargs), count_key)
            self.outputs[name] = out
            return out

        return traced

    def _wrap_write(self, write_stage):
        def traced(df, *args, **kwargs):
            with self.span(GLUE):
                df = self.materialize(df)
            with self.span("materialize.write"):
                return write_stage(df, *args, **kwargs)

        return traced

    @contextlib.contextmanager
    def traced_layers(self):
        import importlib

        saved = []
        try:
            for mod_name, attr, name, count_key in LAYER_CALLS:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr)
                saved.append((mod, attr, fn))
                setattr(mod, attr, self._wrap(fn, name, count_key))
            pipeline = importlib.import_module("llmaix_spark.pipeline")
            saved.append((pipeline, "write_stage", pipeline.write_stage))
            pipeline.write_stage = self._wrap_write(pipeline.write_stage)
            yield self
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)
            self._set_group(None)

    def layer_seconds(self) -> float:
        return sum(self.seconds.get(n, 0.0) for n in TOP_SPANS)
