"""Per-layer tracing from outside the engine.

:class:`Tracer` wraps the engine's public functions (``LAYERS``) in
spans. On entry a span tags the calling thread's Spark jobs with its own
job group; on exit it materializes a DataFrame result (``persist`` +
``count``) so the work that call planned runs inside its span, then
restores the caller's group. Spans live in memory until the run ends.

:func:`layer_metrics` joins the spans with Spark's event log (job group
→ jobs → stages → tasks) and rolls both up per layer.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

# layer -> [(module, function, options)]; option "count_input" also
# counts the rows of the first positional argument.
LAYERS: dict[str, list[tuple[str, str, tuple[str, ...]]]] = {
    "sources.records": [("reflexiv_spark.sources.records", "read_fastq", ())],
    "operators.counter_packed": [
        ("reflexiv_spark.operators.counter_packed", "count_kmers_packed", ())
    ],
    "operators.counter_blocks": [
        ("reflexiv_spark.operators.counter_blocks", "count_kmers_blocks", ())
    ],
    "pipelines.assemble": [
        ("reflexiv_spark.pipelines.assemble", name, opts)
        for name, opts in (
            ("assemble", ()),
            ("assemble_from_packed_counts", ()),
            ("assemble_from_blocks_counts", ()),
            ("expand_orientations_packed", ()),
            ("expand_orientations_blocks", ()),
            ("prune_forks_packed", ("count_input",)),
            ("prune_forks_blocks", ("count_input",)),
        )
    ],
    "operators.extension": [
        ("reflexiv_spark.operators.extension", "rank_paths_packed", ()),
        ("reflexiv_spark.operators.extension", "rank_paths_blocks", ()),
    ],
    "pipelines.meta": [("reflexiv_spark.pipelines.meta", "meta_assemble", ())],
    "plans.stages": [("reflexiv_spark.plans.stages", "stage", ())],
    "operators.fixing": [("reflexiv_spark.operators.fixing", "fix_junctions", ())],
    "operators.dedup": [("reflexiv_spark.operators.dedup", "dedup_contigs", ())],
    "sources.fastq": [("reflexiv_spark.sources.fastq", "write_fasta", ())],
    "datapipe.text": [("reflexiv_spark.datapipe.text", "quality_score", ())],
    "datapipe.dedup": [
        ("reflexiv_spark.datapipe.dedup", "exact_dedup", ()),
        ("reflexiv_spark.datapipe.dedup", "minhash_dedup", ()),
        # the LSH candidate set is only visible at this private seam
        ("reflexiv_spark.datapipe.dedup", "_verify_candidates", ("count_input",)),
    ],
    "datapipe.pipeline": [
        ("reflexiv_spark.datapipe.pipeline", "clean_corpus", ())
    ],
}

LAYER_FIELDS = (
    "wall_s", "self_s", "driver_s", "jobs", "executor_cpu_s",
    "shuffle_write_mb", "spill_mb", "gc_s", "task_skew",
)

# per-layer metrics beyond the LAYER_FIELDS of every layer
EXTRA_METRICS = (
    "pipelines.assemble.prune_kept_ratio",
    "datapipe.dedup.candidate_pairs",
    "datapipe.dedup.verified_ratio",
    "plans.stages.bytes_written_mb",
    "plans.barriers.leaked_rdds",
    "trace_overhead_s",
)
_UNITS = {
    "jobs": "count", "task_skew": "ratio", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "bytes_written_mb": "MB", "candidate_pairs": "count",
    "leaked_rdds": "count", "prune_kept_ratio": "ratio", "verified_ratio": "ratio",
}


def metric_names() -> list[str]:
    return [f"{layer}.{f}" for layer in LAYERS for f in LAYER_FIELDS] + list(EXTRA_METRICS)


def unit(name: str) -> str:
    return _UNITS.get(name.rsplit(".", 1)[-1], "s")


_GROUP_PREFIX = "perfbench-span-"
_MB = 1e6


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    rows_in: int | None = None
    rows_out: int | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    """Installs span wrappers on enter, removes them on exit."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.cached: list[DataFrame] = []
        self._patches: list[tuple[object, str, object]] = []

    def __enter__(self) -> "Tracer":
        for layer, targets in LAYERS.items():
            for mod_name, fn_name, opts in targets:
                orig = getattr(importlib.import_module(mod_name), fn_name)
                self._patch_everywhere(orig, self._wrap(layer, fn_name, orig, opts))
        return self

    def __exit__(self, *exc) -> None:
        for mod, name, orig in reversed(self._patches):
            setattr(mod, name, orig)
        self._patches.clear()
        self._set_group(None)

    def release(self) -> None:
        """Unpersist every result the spans materialized."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def _patch_everywhere(self, orig, wrapper) -> None:
        # callers bind engine functions at import time (``from x import
        # f``), so every module-level alias is replaced, not just the
        # defining module's
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("reflexiv_spark"):
                continue
            for name, value in list(vars(mod).items()):
                if value is orig:
                    self._patches.append((mod, name, orig))
                    setattr(mod, name, wrapper)

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            span = self.spans[sid]
            self.sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", f"{span.layer}:{span.name}")

    def _materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        df = df.persist()
        self.cached.append(df)
        return df, df.count()

    def _wrap(self, layer: str, name: str, fn, opts: tuple[str, ...]):
        tracer = self

        def wrapper(*args, **kwargs):
            if name == "stage":
                args, kwargs = tracer._wrap_stage_build(args, kwargs)
            label = f"stage:{args[1]}" if name == "stage" else name
            with tracer.span(layer, label) as span:
                if "count_input" in opts:
                    first, span.rows_in = tracer._materialize(args[0])
                    args = (first,) + tuple(args[1:])
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out, span.rows_out = tracer._materialize(out)
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_stage_build(self, args, kwargs):
        """``plans.stages.stage(spark, name, workdir, build)``: the build
        callback is one meta-ladder rung, traced as ``pipelines.meta``."""
        args = list(args)
        rung, build = args[1], args[3]

        def traced_build():
            with self.span("pipelines.meta", f"rung:{rung}") as span:
                out, span.rows_out = self._materialize(build())
                return out

        args[3] = traced_build
        return tuple(args), kwargs

    def span(self, layer: str, name: str) -> "_SpanCtx":
        return _SpanCtx(self, layer, name)


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.t, self.layer, self.name = tracer, layer, name

    def __enter__(self) -> Span:
        t = self.t
        parent = t.stack[-1] if t.stack else None
        span = Span(len(t.spans), self.layer, self.name, parent, time.time())
        t.spans.append(span)
        if parent is not None:
            t.spans[parent].children.append(span.sid)
        t.stack.append(span.sid)
        t._set_group(span.sid)
        return span

    def __exit__(self, *exc) -> None:
        t = self.t
        sid = t.stack.pop()
        t.spans[sid].end = time.time()
        t._set_group(t.stack[-1] if t.stack else None)


# ---------------------------------------------------------------- event log


@dataclass
class _Job:
    group: str | None
    start: float
    end: float
    stages: list[int]
    tasks: list[dict] = field(default_factory=list)


def read_event_log(log_dir: str) -> dict[int, _Job]:
    """Jobs of the single application log in ``log_dir``, each with the
    metrics of the tasks its own stages ran."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    jobs: dict[int, _Job] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = _Job(
                    props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0,
                    ev["Submission Time"] / 1000.0,
                    ev["Stage IDs"],
                )
                for st in ev["Stage IDs"]:
                    stage_job.setdefault(st, jid)  # first job lists the stage it runs
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None or not ev.get("Task Metrics"):
                    continue
                m, info = ev["Task Metrics"], ev["Task Info"]
                jobs[jid].tasks.append(
                    {
                        "run_s": m["Executor Run Time"] / 1000.0,
                        "cpu_s": m["Executor CPU Time"] / 1e9,
                        "gc_s": m["JVM GC Time"] / 1000.0,
                        "shuffle_b": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                        "spill_b": m.get("Disk Bytes Spilled", 0),
                        "out_b": m.get("Output Metrics", {}).get("Bytes Written", 0),
                        "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    }
                )
    return jobs


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _inside_layer(spans: list[Span], s: Span) -> bool:
    """True when an enclosing span belongs to ``s``'s own layer."""
    p = s.parent
    while p is not None:
        if spans[p].layer == s.layer:
            return True
        p = spans[p].parent
    return False


def layer_metrics(spans: list[Span], jobs: dict[int, _Job]) -> tuple[dict, dict]:
    """Roll spans and jobs up per layer → (metrics, detail).

    ``self_s`` is a span's duration minus its child spans; ``driver_s``
    is self time during which none of the span's own jobs ran. A job
    belongs to the innermost span that was open when it was submitted.
    ``task_skew`` is the layer's longest task over its median task;
    ``spill_mb`` is what its tasks spilled to disk. Rows in and out of
    every span are in the detail."""
    by_span: dict[int, list[_Job]] = {}
    unattributed = 0
    first = min((s.start for s in spans), default=0.0)
    last = max((s.end for s in spans), default=0.0)
    for job in jobs.values():
        if job.group and job.group.startswith(_GROUP_PREFIX):
            by_span.setdefault(int(job.group[len(_GROUP_PREFIX):]), []).append(job)
        elif first <= job.start <= last:
            unattributed += 1  # submitted while traced, outside every span
    metrics: dict[str, float] = {}
    for layer in LAYERS:
        own = [s for s in spans if s.layer == layer]
        acc = dict.fromkeys(LAYER_FIELDS, 0.0)
        durs: list[float] = []
        for s in own:
            dur = s.end - s.start
            if not _inside_layer(spans, s):
                acc["wall_s"] += dur
            self_s = dur - _union_len(
                [(spans[c].start, spans[c].end) for c in s.children]
            )
            acc["self_s"] += self_s
            sjobs = by_span.get(s.sid, [])
            busy = _union_len(
                [(max(j.start, s.start), min(j.end, s.end)) for j in sjobs if j.end > j.start]
            )
            acc["driver_s"] += max(0.0, self_s - busy)
            acc["jobs"] += len(sjobs)
            for j in sjobs:
                for t in j.tasks:
                    acc["executor_cpu_s"] += t["cpu_s"]
                    acc["shuffle_write_mb"] += t["shuffle_b"] / _MB
                    acc["spill_mb"] += t["spill_b"] / _MB
                    acc["gc_s"] += t["gc_s"]
                    durs.append(t["dur_s"])
        med = statistics.median(durs) if durs else 0.0
        acc["task_skew"] = max(durs) / med if med > 0 else 0.0
        for k, v in acc.items():
            metrics[f"{layer}.{k}"] = v

    def rows(layer: str, name: str, attr: str) -> int:
        return sum(
            getattr(s, attr) or 0 for s in spans if s.layer == layer and s.name == name
        )

    prune_in = rows("pipelines.assemble", "prune_forks_packed", "rows_in") + rows(
        "pipelines.assemble", "prune_forks_blocks", "rows_in"
    )
    prune_out = rows("pipelines.assemble", "prune_forks_packed", "rows_out") + rows(
        "pipelines.assemble", "prune_forks_blocks", "rows_out"
    )
    cands = rows("datapipe.dedup", "_verify_candidates", "rows_in")
    verified = rows("datapipe.dedup", "_verify_candidates", "rows_out")
    stage_out = sum(
        t["out_b"]
        for s in spans
        if s.layer == "plans.stages"
        for j in by_span.get(s.sid, [])
        for t in j.tasks
    )
    metrics["pipelines.assemble.prune_kept_ratio"] = prune_out / prune_in if prune_in else 0.0
    metrics["datapipe.dedup.candidate_pairs"] = float(cands)
    metrics["datapipe.dedup.verified_ratio"] = verified / cands if cands else 0.0
    metrics["plans.stages.bytes_written_mb"] = stage_out / _MB
    detail = {
        "unattributed_jobs": unattributed,
        "spans": [
            {
                "layer": s.layer,
                "name": s.name,
                "parent": s.parent,
                "wall_s": round(s.end - s.start, 4),
                "jobs": len(by_span.get(s.sid, [])),
                "rows_in": s.rows_in,
                "rows_out": s.rows_out,
            }
            for s in spans
        ],
    }
    return metrics, detail
