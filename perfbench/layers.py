"""Per-layer tracing from outside the package.

:class:`Tracer` wraps the public functions the pipeline calls (the
table below) wherever a package module has bound them, so every call
opens a span: name, start, end, parent. While a span is open its layer
name is the Spark job tag ``layer:<name>``, which the event-log reader
uses to attribute executor task metrics to the layer.

Lazy results are forced inside their own span (``localCheckpoint``),
and row counts are taken in ``perfbench.count`` spans that coverage
excludes; both happen only in the traced run. A ``cut_lineage`` call
opens a span named after the layer whose result it cuts (the issue's
"function + its cut"), or ``checkpoint`` for the other cuts.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

from host import tree_cpu_s

PKG = "cellphe_data_pipeline_spark"
COUNT = "perfbench.count"


@dataclass(frozen=True)
class Hook:
    module: str
    function: str
    layer: str
    force: bool = False          # localCheckpoint the result in its span
    count_in: str | None = None  # count the first argument into this key
    count_out: str | None = None  # count the (forced) result into this key
    bytes_key: str | None = None  # du of the path argument (the second) after the call


HOOKS = [
    Hook("domain.images", "scan_images", "images.scan", bytes_key="bytes_in"),
    Hook("plans.pipeline", "run_pipeline", "pipeline"),
    Hook("domain.images", "decode_segment_centroid", "images.fused_kernel"),
    Hook("domain.tracking", "track_detections", "tracking"),
    Hook("domain.lineage", "renumber_tracks", "lineage", force=True),
    Hook("operators.qc_filters", "filter_size_and_observations", "qc_filters",
         count_in="rows_in"),
    Hook("operators.movement", "movement_features", "movement", force=True),
    Hook("operators.timeseries", "timeseries_features_multi", "timeseries", force=True),
    Hook("domain.features", "static_features_fused", "features.m4", force=True,
         count_out="cells_out"),
    Hook("operators.joins", "density_self_join", "joins.density", force=True),
    Hook("sources.io", "publish", "io.publish", bytes_key="bytes_out"),
]

#: cut_lineage(name=...) -> (owning layer, count key for the cut rows)
CUT_OWNERS = {
    "fused_frames": ("images.fused_kernel", "frames_out"),
    "edges": ("tracking", "edges_out"),
    "filtered": ("qc_filters", "rows_out"),
}
CUT = Hook("checkpoint", "cut_lineage", "checkpoint")

#: spans that are not pipeline layers: the run root, the pipeline's
#: own code between layers, and the tracer's own counting jobs
NOT_LAYERS = {"run", "pipeline", COUNT}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run: int
    end: float = 0.0
    cpu_s: float = 0.0
    cut: bool = False
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def du(path: str) -> int:
    path = path.removeprefix("file:")
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.root_pid = os.getpid()
        self.spans: list[Span] = []
        self.run = -1
        self.active = False  # hooks pass straight through when False
        self._stack: list[int] = []
        self._tag: str | None = None
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------

    def _set_tag(self, name: str | None) -> None:
        if self._tag is not None:
            self.spark.removeTag(self._tag)
        self._tag = f"layer:{name}" if name else None
        if self._tag is not None:
            self.spark.addTag(self._tag)

    @contextmanager
    def traced_run(self, run: int):
        """Trace everything called inside, as run ``run``."""
        self.run, self.active = run, True
        try:
            with self.span("run"):
                yield
        finally:
            self.active = False

    @contextmanager
    def span(self, name: str, cut: bool = False):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent, self.run, cut=cut)
        cpu0 = tree_cpu_s(self.root_pid)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self._set_tag(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu_s = tree_cpu_s(self.root_pid) - cpu0
            self._stack.pop()
            self._set_tag(self.spans[self._stack[-1]].name if self._stack else None)

    def count(self, span: Span, key: str, df) -> None:
        with self.span(COUNT):
            span.counts[key] = span.counts.get(key, 0) + df.count()

    # -- wrapping ------------------------------------------------------

    def _wrap(self, hook: Hook, fn):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(hook.layer) as s:
                out = fn(*args, **kwargs)
                if hook.force:
                    out = out.localCheckpoint(eager=True)
            if hook.count_in:
                tracer.count(s, hook.count_in, args[0])
            if hook.count_out:
                tracer.count(s, hook.count_out, out)
            if hook.bytes_key:
                s.counts[hook.bytes_key] = du(args[1])
            return out

        return traced

    def _wrap_cut(self, fn):
        tracer = self

        def traced(df, eager=True, name="cut"):
            if not tracer.active:
                return fn(df, eager=eager, name=name)
            layer, key = CUT_OWNERS.get(name, ("checkpoint", None))
            with tracer.span(layer, cut=True) as s:
                out = fn(df, eager=eager, name=name)
            if key:
                tracer.count(s, key, out)
            return out

        return traced

    def install(self) -> None:
        """Rebind every hooked function in every loaded package module."""
        for hook in HOOKS + [CUT]:
            mod = importlib.import_module(f"{PKG}.{hook.module}")
            orig = getattr(mod, hook.function)
            wrapped = self._wrap_cut(orig) if hook is CUT else self._wrap(hook, orig)
            for name, m in list(sys.modules.items()):
                if not name.startswith(PKG) or m is None:
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        self._restore.append((m, attr, orig))
                        setattr(m, attr, wrapped)

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._restore):
            setattr(m, attr, orig)
        self._restore.clear()
        self._set_tag(None)


# ---------------------------------------------------------------------
# span-tree arithmetic


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return [s.dur - _covered(kids[i], s.start, s.end) for i, s in enumerate(spans)]


def _outermost(spans: list[Span]) -> list[Span]:
    """Spans with no ancestor of the same name, so a nested repeat of a
    layer is not counted twice."""
    out = []
    for s in spans:
        p = s.parent
        while p is not None and spans[p].name != s.name:
            p = spans[p].parent
        if p is None:
            out.append(s)
    return out


def layer_walls(spans: list[Span]) -> dict[str, float]:
    """Inclusive wall per name, over the outermost spans of each name."""
    out: dict[str, float] = defaultdict(float)
    for s in _outermost(spans):
        out[s.name] += s.dur
    return dict(out)


def spans_of_run(spans: list[Span], run: int) -> list[Span]:
    """The spans of one run, parents re-indexed into the returned list."""
    index = {i: n for n, i in enumerate(i for i, s in enumerate(spans) if s.run == run)}
    return [
        replace(s, parent=index.get(s.parent))
        for i, s in enumerate(spans)
        if i in index
    ]


def summarise_run(spans: list[Span]) -> dict:
    """Per-layer numbers for one run's span tree (the root is ``run``)."""
    selfs = self_times(spans)
    walls = layer_walls(spans)
    by_self: dict[str, float] = defaultdict(float)
    cpu: dict[str, float] = defaultdict(float)
    counts: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s, st in zip(spans, selfs):
        by_self[s.name] += st
        for k, v in s.counts.items():
            counts[s.name][k] += v
    for s in _outermost(spans):
        cpu[s.name] += s.cpu_s
    root = walls.get("run", 0.0)
    timed = root - walls.get(COUNT, 0.0)
    named = sum(v for k, v in by_self.items() if k not in NOT_LAYERS)
    cuts = [s for s in spans if s.cut]
    return {
        "wall": walls,
        "self": dict(by_self),
        "tree_cpu": dict(cpu),
        "counts": {k: dict(v) for k, v in counts.items()},
        "pipeline_self": by_self.get("pipeline", 0.0),
        "coverage": named / timed if timed > 0 else 0.0,
        "cuts": len(cuts),
        "cut_wall": sum(s.dur for s in cuts),
        "count_wall": walls.get(COUNT, 0.0),
    }


# ---------------------------------------------------------------------
# event log


def _layer_of(tags: str) -> str:
    for t in tags.split(","):
        if "layer:" in t:
            return t.split("layer:", 1)[1]
    return "untagged"


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """One record per job: start/end (epoch s), layer and task totals."""
    files = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, f"*{app_id}*"))
        + glob.glob(os.path.join(log_dir, f"*{app_id}*", "*"))
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "layer": _layer_of(
                            (ev.get("Properties") or {}).get("spark.job.tags", "")
                        ),
                        "tasks": 0,
                        "run_s": 0.0,
                        "cpu_s": 0.0,
                        "gc_s": 0.0,
                        "shuffle_bytes": 0,
                        "spill_bytes": 0,
                        "sched_wait_s": 0.0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    info = ev["Task Info"]
                    run_ms = m["Executor Run Time"]
                    job["tasks"] += 1
                    job["run_s"] += run_ms / 1000.0
                    job["cpu_s"] += m["Executor CPU Time"] / 1e9
                    job["gc_s"] += m["JVM GC Time"] / 1000.0
                    job["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    # the Spark UI's scheduler delay: task wall not spent
                    # deserialising, running or shipping the result
                    total_ms = info["Finish Time"] - info["Launch Time"]
                    delay_ms = (
                        total_ms
                        - run_ms
                        - m["Executor Deserialize Time"]
                        - m["Result Serialization Time"]
                        - info.get("Getting Result Time", 0)
                    )
                    job["sched_wait_s"] += max(0, delay_ms) / 1000.0
    return [j for _, j in sorted(jobs.items())]


def jobs_in(jobs: list[dict], t0: float, t1: float) -> list[dict]:
    """Jobs submitted inside the epoch interval [t0, t1]."""
    return [j for j in jobs if t0 <= j["start"] <= t1]
