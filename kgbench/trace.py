"""Per-layer tracing from outside the engine.

A traced job runs with each layer function of ``bioner_spark`` replaced,
for the duration of the job only, by a wrapper that

1. materializes the layer's DataFrame inputs under the enclosing span's
   job group, once per input and job (so upstream work is not billed to
   this layer); cached inputs, earlier layers' outputs and plain storage
   scans are passed through as they are,
2. sets ``sc.setJobGroup("<layer>|<workload>|<job>")``, calls the layer,
   and materializes its output at the boundary (local checkpoint + count,
   which also cuts the lineage, so later layers plan only their own
   work),
3. records the span's wall time and output rows.

Jobs, stages, task time, shuffle write and spill are then attributed to
layers from the Spark event log by job group. The enclosing span
("pipeline" around ``run_checkpointed``, "kg_analytics" around
``write_analytics``) reports self time: its wall minus its children's.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import statistics
import time
from collections import defaultdict

from pyspark.sql import DataFrame

# (module, attribute) → layer name. The attribute is the name the CALLER
# looks up at call time, so the patch is seen by the engine's own calls.
PATCHES = (
    ("bioner_spark.pipeline", "with_extracted_text", "extract"),
    ("bioner_spark.pipeline", "tokenize", "tokenizer"),
    ("bioner_spark.pipeline", "dict_mentions", "linking"),
    ("bioner_spark.pipeline", "link_mentions", "linking"),
    ("bioner_spark.ner.infer", "encoded_sentences", "ner.encode"),
    ("bioner_spark.ner.infer", "ner_tag_sentences", "ner.forward"),
    ("bioner_spark.pipeline", "decode_spans", "spans"),
    ("bioner_spark.pipeline", "canonical_map", "graph"),
    ("bioner_spark.pipeline", "extract_triples", "triples"),
    ("bioner_spark.kg_analytics", "entity_degree", "kg_analytics.entity_degree"),
    ("bioner_spark.kg_analytics", "cooccurrence_pmi", "kg_analytics.cooccurrence_pmi"),
    ("bioner_spark.kg_analytics", "pagerank", "kg_analytics.pagerank"),
    ("bioner_spark.kg_analytics", "khop_neighbors", "kg_analytics.khop_neighbors"),
)
LAYERS = (
    "extract", "tokenizer", "linking", "ner.encode", "ner.forward", "spans",
    "graph", "triples", "pipeline", "kg_analytics",
    "kg_analytics.entity_degree", "kg_analytics.cooccurrence_pmi",
    "kg_analytics.pagerank", "kg_analytics.khop_neighbors",
)
FIELDS = (
    ("wall_s", "s", "lower"),
    ("task_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("rows_out", "count", "higher"),
)
GROUP_SEP = "|"


def _is_storage_scan(df: DataFrame) -> bool:
    """True if df is a table read with nothing on top: it has no upstream
    layer work, and the layer should plan its own column-pruned scan."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.getClass().getSimpleName() in ("LogicalRelation", "DataSourceV2Relation")


def _materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """Compute df once and cut its lineage: later plans read the stored
    rows and no longer carry (and re-plan) the upstream layers."""
    df = df.localCheckpoint(eager=True)
    return df, df.count()


class Tracer:
    """Spans of traced jobs. ``job(parent)`` traces one job; the Spark jobs
    of layer L in traced job k run in job group ``L|<tag>|k``."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag  # keeps groups of several tracers in one session apart
        self.spans: list[dict] = []  # {layer, job, wall_s, rows_out}
        self.linked_frac: list[float] = []  # per link_mentions call
        self._job = -1
        # id of each DataFrame a layer takes or returns in this job → the
        # DataFrame to hand to layers; the key DataFrame is kept alive so
        # its id stays its own
        self._inputs: dict[int, tuple[DataFrame, DataFrame]] = {}

    @contextlib.contextmanager
    def _group(self, layer: str | None):
        """Run the body under the layer's job group (no group for None)."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(GROUP_SEP.join((layer, self.tag, str(self._job))), layer)
        try:
            yield
        finally:
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev, prev.split(GROUP_SEP)[0])

    def _input(self, df: DataFrame) -> DataFrame:
        """df as a layer should receive it: materialized at most once."""
        if id(df) not in self._inputs:
            keep = df.is_cached or _is_storage_scan(df)
            self._inputs[id(df)] = (df, df if keep else _materialize(df)[0])
        return self._inputs[id(df)][1]

    def _wrap(self, fn, layer: str):
        def traced(*args, **kwargs):
            args = [self._input(a) if isinstance(a, DataFrame) else a for a in args]
            span = {"layer": layer, "job": self._job, "rows_out": 0}
            t0 = time.perf_counter()
            with self._group(layer):
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out, span["rows_out"] = _materialize(out)
                    self._inputs[id(out)] = (out, out)
            span["wall_s"] = time.perf_counter() - t0
            self.spans.append(span)
            if fn.__name__ == "link_mentions":
                with self._group(None):
                    n_linked = out.filter(out["canonical_id"].isNotNull()).count()
                self.linked_frac.append(
                    n_linked / span["rows_out"] if span["rows_out"] else 0.0
                )
            return out

        traced.__name__ = fn.__name__
        return traced

    @contextlib.contextmanager
    def job(self, parent: str):
        """Trace one job: patch the layers, open the parent span, and on
        exit restore the layers and record the parent's self time. The
        checkpointed layer outputs are freed by Spark's context cleaner
        once nothing references them."""
        self._job += 1
        self._inputs = {}
        saved = []
        for mod_name, attr, layer in PATCHES:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, layer))
        n_before = len(self.spans)
        span = {"layer": parent, "job": self._job, "rows_out": 0}
        t0 = time.perf_counter()
        try:
            with self._group(parent):
                yield span
        finally:
            wall = time.perf_counter() - t0
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)
        children = sum(s["wall_s"] for s in self.spans[n_before:])
        span["wall_s"] = wall - children
        span["total_wall_s"] = wall
        self.spans.append(span)

    def layer_metrics(self, event_log_dir: str) -> dict[str, float]:
        """Median over traced jobs of each layer's metrics; layers a
        workload never calls report 0."""
        per = defaultdict(lambda: defaultdict(float))  # (layer, job) → field
        for s in self.spans:
            key = (s["layer"], s["job"])
            per[key]["wall_s"] += s["wall_s"]
            per[key]["rows_out"] += s["rows_out"]
        for key, agg in parse_event_log(event_log_dir, self.tag).items():
            per[key].update(agg)
        jobs = range(self._job + 1)
        out = {}
        for layer in LAYERS:
            for field, _unit, _better in FIELDS:
                vals = [per[(layer, j)].get(field, 0.0) for j in jobs]
                out[f"{layer}.{field}"] = statistics.median(vals) if vals else 0.0
        return out

    def parent_walls(self) -> list[float]:
        return [s["total_wall_s"] for s in self.spans if "total_wall_s" in s]


def _event_lines(event_log_dir: str):
    """JSON events of every log under the directory (plain files or
    Spark 4 eventlog_v2 directories); a log still being written may end
    in a partial line, which is skipped."""
    for base, _sub, names in os.walk(event_log_dir):
        for name in sorted(names):
            if name.startswith("appstatus") or name.startswith("."):
                continue
            with open(os.path.join(base, name), encoding="utf-8") as f:
                for line in f:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        continue


def parse_event_log(event_log_dir: str, tag: str) -> dict[tuple, dict]:
    """{(layer, job): {jobs, stages, task_s, shuffle_write_bytes,
    spill_bytes}} from the event logs, keyed by the ``<layer>|<tag>|<job>``
    job group. Jobs outside this tracer's groups are ignored; skipped
    stages are not counted (they never submit)."""
    agg: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    stage_key: dict[int, tuple] = {}

    def key_of(props: dict | None):
        parts = ((props or {}).get("spark.jobGroup.id") or "").split(GROUP_SEP)
        if len(parts) != 3 or parts[1] != tag:
            return None
        return parts[0], int(parts[2])

    for ev in _event_lines(event_log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = key_of(ev.get("Properties"))
            if key:
                agg[key]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            key = key_of(ev.get("Properties"))
            if key:
                agg[key]["stages"] += 1
                stage_key[ev["Stage Info"]["Stage ID"]] = key
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            if key and m:
                a = agg[key]
                a["task_s"] += m.get("Executor Run Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return agg
