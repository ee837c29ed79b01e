"""Spans around the engine's public layer functions, Spark job tagging,
and the per-layer readout from Spark's in-process status store.

Spans are recorded from the benchmark's side only: ``install`` wraps the
module attributes ``pipeline.run_batch`` calls through (parse, enrich,
route, aggregate) and the two action methods it triggers
(``DataFrameWriter.parquet``, ``DataFrame.collect``). Each action runs
under ``sc.setJobDescription("<span>#<id>")``, so every Spark job --
including the adaptive-execution map-stage jobs whose call site reads
``CompletableFuture.java`` -- names the span that caused it. The status
store (``sc._jsc.sc().statusStore()``) works with the UI disabled.
"""

from __future__ import annotations

import contextlib
import statistics
import threading
import time
from dataclasses import dataclass, field

# output directories of one run_batch, as the write spans name them
WRITE_DIRS = ("sinks_by", "sink_counts", "edge_agg", "lineage")

# span name -> layer for every tagged action except the sink write,
# whose jobs are split by stage_layer
SPAN_LAYER = {
    "write:sink_counts": "route.sink_counts",
    "write:edge_agg": "aggregate.edge_agg",
    "write:lineage": "pipeline.lineage_commit",
    "collect:sink_part": "route.sink_part_collect",
    "collect:hosts": "enrich.hosts_collect",
}
SINK_WRITE_SPAN = "write:sinks_by"
LAYERS = (
    "parse.map", "route.write", "pipeline.broadcast", *SPAN_LAYER.values(),
    "pipeline.untagged",
)


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


# ── pure helpers ──────────────────────────────────────────────────────


def covered(window: tuple[float, float], intervals) -> float:
    """Length of the union of ``intervals`` clipped to ``window``."""
    lo, hi = window
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered((s.start, s.end), children.get(s.span_id, []))
        for s in spans
    }


def stage_layer(stage: dict) -> str:
    """Layer of a stage run under the sink-write span: the stage that
    scans the input table is the fused scan+parse+enrich map up to the
    turn-order shuffle; the stage that writes files is route+write; the
    rest (the broadcast build of the enrichment dimension) is neither."""
    if stage["input_bytes"] > 0:
        return "parse.map"
    if stage["output_bytes"] > 0:
        return "route.write"
    return "pipeline.broadcast"


def job_layer(job: dict, span_names: dict[int, str], stages: dict[int, dict]) -> str:
    name = span_names.get(job["span_id"])
    if name == SINK_WRITE_SPAN:
        layers = {stage_layer(stages[s]) for s in job["stage_ids"] if s in stages}
        for layer in ("parse.map", "route.write"):
            if layer in layers:
                return layer
        return "pipeline.broadcast"
    return SPAN_LAYER.get(name, "pipeline.untagged")


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


# ── tracer ────────────────────────────────────────────────────────────


class Tracer:
    """Keeps spans in memory; ``install`` patches the layer functions."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, tag_jobs: bool = False, force: bool = False, **attrs):
        if not (self.enabled or force):
            yield None
            return
        with self._lock:
            sid, self._next_id = self._next_id, self._next_id + 1
        parent = self.current()
        span = Span(name, sid, parent.span_id if parent else None, time.time(), attrs=attrs)
        stack = self._stack()
        stack.append(span)
        if tag_jobs:
            prev = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(f"{name}#{sid}")
        try:
            yield span
        finally:
            if tag_jobs:
                self.sc.setLocalProperty("spark.job.description", prev)
            span.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self, traced_batch) -> None:
        """Wrap the layer functions. ``traced_batch(batch_id)`` picks the
        batches whose inner spans and job tags are recorded; every
        run_batch call still gets its own span, so untraced batches give
        the comparison the tracing overhead is measured against."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from logshipper_spark import aggregate, enrich, parse, pipeline, route

        def plain(name):
            def make(orig):
                def wrapper(*args, **kwargs):
                    with self.span(name):
                        return orig(*args, **kwargs)
                return wrapper
            return make

        for owner, attr in (
            (parse, "parse_normalized"),
            (enrich, "enrich_roles"),
            (enrich, "resolve_services"),
            (route, "routed_rows"),
            (route, "sink_counts"),
            (aggregate, "edge_agg"),
        ):
            self._patch(owner, attr, plain(f"{owner.__name__.split('.')[-1]}.{attr}"))

        def run_batch(orig):
            def wrapper(*args, **kwargs):
                batch_id = kwargs.get("batch_id", 0)
                self.enabled = traced_batch(batch_id)
                with self.span("pipeline.run_batch", force=True, batch_id=batch_id,
                               traced=self.enabled):
                    return orig(*args, **kwargs)
            return wrapper

        def parquet(orig):
            def wrapper(writer, path, *args, **kwargs):
                parts = str(path).replace("\\", "/").split("/")
                target = next((d for d in WRITE_DIRS if d in parts), "other")
                with self.span(f"write:{target}", tag_jobs=True, path=str(path)):
                    return orig(writer, path, *args, **kwargs)
            return wrapper

        def collect(orig):
            def wrapper(df, *args, **kwargs):
                parent = self.current()
                name = {
                    "enrich.resolve_services": "collect:hosts",
                    "pipeline.run_batch": "collect:sink_part",
                }.get(parent.name if parent else "", "collect:other")
                with self.span(name, tag_jobs=True):
                    return orig(df, *args, **kwargs)
            return wrapper

        self._patch(pipeline, "run_batch", run_batch)
        self._patch(DataFrameWriter, "parquet", parquet)
        self._patch(DataFrame, "collect", collect)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        self.enabled = True


# ── status store ──────────────────────────────────────────────────────


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """All finished jobs and completed stages of this application."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        j = seq.apply(i)
        start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if start is None or end is None:
            continue
        desc = j.description().get() if j.description().isDefined() else ""
        span_id = int(desc.rsplit("#", 1)[1]) if "#" in desc else None
        ids = j.stageIds()
        jobs.append({
            "job_id": j.jobId(), "description": desc, "span_id": span_id,
            "start": start, "end": end, "num_tasks": j.numTasks(),
            "stage_ids": [ids.apply(k) for k in range(ids.size())],
        })
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    seq = store.stageList(None, False, False, no_quantiles, None)
    stages: dict[int, dict] = {}
    for i in range(seq.size()):
        s = seq.apply(i)
        if s.status().toString() != "COMPLETE":
            continue
        stages[s.stageId()] = {
            "num_tasks": s.numTasks(),
            "executor_run_s": s.executorRunTime() / 1e3,
            "executor_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "spill_bytes": s.diskBytesSpilled(),
            "input_bytes": s.inputBytes(),
            "output_bytes": s.outputBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
        }
    return jobs, stages


def batch_layers(batch: Span, spans: list[Span], jobs: list[dict],
                 stages: dict[int, dict], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced run_batch span."""
    names = {s.span_id: s.name for s in spans}
    window = (batch.start, batch.end)
    in_batch = [j for j in jobs if batch.start <= j["start"] <= batch.end]
    by_layer: dict[str, list[dict]] = {layer: [] for layer in LAYERS}
    for j in in_batch:
        by_layer[job_layer(j, names, stages)].append(j)

    def layer_stages(layer):
        if layer in ("parse.map", "route.write", "pipeline.broadcast"):
            return [stages[s] for j in in_batch if names.get(j["span_id"]) == SINK_WRITE_SPAN
                    for s in j["stage_ids"] if s in stages and stage_layer(stages[s]) == layer]
        return [stages[s] for j in by_layer[layer] for s in j["stage_ids"] if s in stages]

    def total(layer, key):
        return sum(st[key] for st in layer_stages(layer))

    def wall(layer):
        return covered(window, [(j["start"], j["end"]) for j in by_layer[layer]])

    all_stages = [stages[s] for j in in_batch for s in j["stage_ids"] if s in stages]
    uncovered = batch.duration - covered(window, [(j["start"], j["end"]) for j in in_batch])
    out = {f"{layer}_wall_s": wall(layer) for layer in LAYERS}
    out["trace.wall_sum_ratio"] = (sum(out.values()) + uncovered) / batch.duration
    out.update({
        "parse.map_executor_s": total("parse.map", "executor_run_s"),
        "parse.map_cpu_s": total("parse.map", "executor_cpu_s"),
        "tables.scan_input_bytes": total("parse.map", "input_bytes"),
        "pipeline.order_shuffle_bytes": total("parse.map", "shuffle_write_bytes"),
        "route.write_executor_s": total("route.write", "executor_run_s"),
        "route.sink_part_jobs": len(by_layer["route.sink_part_collect"]),
        "route.sink_counts_shuffle_bytes": total("route.sink_counts", "shuffle_write_bytes"),
        "aggregate.edge_agg_executor_s": total("aggregate.edge_agg", "executor_run_s"),
        "aggregate.edge_agg_shuffle_bytes": total("aggregate.edge_agg", "shuffle_write_bytes"),
        "pipeline.jobs_per_batch": len(in_batch),
        "pipeline.tasks_per_batch": sum(st["num_tasks"] for st in all_stages),
        "pipeline.batch_wall_s": batch.duration,
        "pipeline.driver_uncovered_s": uncovered,
        "pipeline.core_busy_ratio":
            sum(st["executor_run_s"] for st in all_stages) / (batch.duration * cores),
        "pipeline.gc_s": sum(st["gc_s"] for st in all_stages),
        "pipeline.spill_bytes": sum(st["spill_bytes"] for st in all_stages),
    })
    return out
