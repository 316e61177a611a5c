"""Spans and per-layer job accounting for the traced run.

The traced run wraps the package's public functions from outside: each
pipeline layer below is replaced, for the duration of the run, by a
wrapper in ``nbody6_data_pipeline_spark.pipeline``'s namespace that
records a span and tags the Spark jobs submitted inside it with a job
group. Spans are kept in memory and summarized when the run ends.

A job belongs to the layer whose ``layer:<name>`` description the
pipeline set for it, wherever it was submitted: the lazy plans of
parse, align and assemble run inside the parquet writes, under the
description of the layer that writes them. Layers the pipeline gives
no description (discovery, checkpoints and the parquet sink) report
the jobs submitted inside their own calls instead, so the sink's jobs
are also counted in the layer whose plan each write ran. A layer's
``exec_s`` is the union, not the sum, of its jobs' intervals, so
overlapping jobs count once.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import time
from concurrent.futures import ThreadPoolExecutor

GROUP_PREFIX = "perfbench:"

# layer -> (names in the pipeline module's namespace, job descriptions
# the pipeline sets while the layer's lazy plans run)
PIPELINE_LAYERS: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "sources.discovery.fetch_sim_runs": (("fetch_sim_runs",), ()),
    "plans.checkpoints.completed_runs": (("completed_runs",), ()),
    "sources.nbody6.load_runs": (("load_runs",), ("layer:parse",)),
    "operators.align.align_runs": (("align_runs",), ("layer:align",)),
    "operators.assemble.assemble_runs": (("assemble_runs",), ("layer:assemble",)),
    "operators.observe.observe": (("observe",), ("layer:observe",)),
    "operators.statistics": (
        ("overall_statistics", "annular_statistics"),
        ("layer:overall_stats", "layer:annular_stats"),
    ),
    "sources.sinks.write_parquet": (("write_parquet",), ()),
}


def union_s(intervals) -> float:
    """Total length covered by ``[(start, end), ...]``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclasses.dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    result: object = None

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        s = Span(name, time.perf_counter())
        self._stack.append(s)
        sc.setLocalProperty("spark.jobGroup.id", GROUP_PREFIX + name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._stack[-1].child_s += s.end - s.start
            self.spans.append(s)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                s.result = fn(*args, **kwargs)
                return s.result
        return traced

    @contextlib.contextmanager
    def pipeline_layers(self):
        """Wrap every pipeline layer in the orchestrator's namespace."""
        from nbody6_data_pipeline_spark import pipeline

        saved = {}
        for layer, (names, _) in PIPELINE_LAYERS.items():
            for attr in names:
                saved[attr] = getattr(pipeline, attr)
                setattr(pipeline, attr, self.wrap(layer, saved[attr]))
        try:
            yield
        finally:
            for attr, fn in saved.items():
                setattr(pipeline, attr, fn)

    def covered_s(self, start: float, end: float) -> float:
        """Time in [start, end] that some span covers."""
        return union_s((max(s.start, start), min(s.end, end))
                       for s in self.spans if s.end > start and s.start < end)


def job_stats(jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Counts, task CPU, shuffle, spill and busy time of ``jobs``."""
    stage_ids = {i for j in jobs for i in j["stageIds"]}
    ran = [stages[i] for i in stage_ids
           if i in stages and stages[i]["status"] == "COMPLETE"]
    n_skipped = sum(1 for i in stage_ids
                    if i in stages and stages[i]["status"] == "SKIPPED")
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "skipped_stages": n_skipped,
        "tasks": sum(s["numTasks"] for s in ran),
        "task_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / 2**20,
        "spill_mb": sum(s["diskBytesSpilled"] for s in ran) / 2**20,
        "output_rows": sum(s["outputRecords"] for s in ran),
        "exec_s": union_s((j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
                          for j in jobs if j.get("completionTime")),
    }


def described_layer(job: dict) -> str | None:
    """The layer whose ``layer:<name>`` description ``job`` carries."""
    for layer, (_, descriptions) in PIPELINE_LAYERS.items():
        if job.get("description") in descriptions:
            return layer
    return None


def span_layer(job: dict) -> str | None:
    """The innermost span open when ``job`` was submitted."""
    group = job.get("jobGroup") or ""
    return group[len(GROUP_PREFIX):] if group.startswith(GROUP_PREFIX) else None


def _frames(obj, depth: int = 3):
    """DataFrames reachable from a layer's return value."""
    from pyspark.sql import DataFrame

    if isinstance(obj, DataFrame):
        yield obj
    elif depth == 0 or obj is None:
        return
    elif isinstance(obj, dict):
        for v in obj.values():
            yield from _frames(v, depth - 1)
    elif isinstance(obj, (list, tuple)):
        for v in obj:
            yield from _frames(v, depth - 1)
    elif hasattr(obj, "__dict__"):
        for v in vars(obj).values():
            yield from _frames(v, depth - 1)


def _count(result) -> int:
    """Rows in the DataFrames a layer returned (counted concurrently),
    or the size of a returned collection."""
    frames = list({id(df): df for df in _frames(result)}.values())
    if frames:
        with ThreadPoolExecutor(4) as pool:
            return sum(pool.map(lambda df: df.count(), frames))
    return len(result) if hasattr(result, "__len__") else 0


def pipeline_layers(tracer: Tracer, jobs: list[dict], stages: dict[int, dict],
                    written_rows: dict[str, int]) -> dict:
    """Per-layer metrics, keyed ``<layer>.<metric>``.

    ``rows_out`` is, in this order of preference: ``written_rows[layer]``
    (the rows of the parquet layers the caller read back), the rows the
    layer's own write jobs wrote, or a count of what the layer returned,
    taken after the timed pass."""
    described: dict[str | None, list[dict]] = {}
    in_span: dict[str | None, list[dict]] = {}
    for j in jobs:
        described.setdefault(described_layer(j), []).append(j)
        in_span.setdefault(span_layer(j), []).append(j)
    out: dict[str, float] = {}
    for layer, (_, descriptions) in PIPELINE_LAYERS.items():
        spans = [s for s in tracer.spans if s.name == layer]
        owned = described if descriptions else in_span
        st = job_stats(owned.get(layer, []), stages)
        results = [s.result for s in spans if s.result is not None]
        if layer in written_rows:
            rows = written_rows[layer]
        elif not results:
            rows = st["output_rows"]
        else:
            rows = sum(_count(r) for r in results)
        m = {
            "span_s": sum(s.self_s for s in spans),
            "exec_s": st["exec_s"],
            "jobs": st["jobs"],
            "tasks": st["tasks"],
            "task_cpu_s": st["task_cpu_s"],
            "shuffle_write_mb": st["shuffle_write_mb"],
            "spill_mb": st["spill_mb"],
            "rows_out": rows,
        }
        out.update({f"{layer}.{k}": v for k, v in m.items()})
    by_span = {layer for layer, (_, d) in PIPELINE_LAYERS.items() if not d}
    out["unattributed.jobs"] = sum(1 for j in described.get(None, [])
                                   if span_layer(j) not in by_span)
    return out
