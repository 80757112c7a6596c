"""Per-layer tracing from outside the engine.

``Tracer.install`` wraps public stage functions of ``waka_spark``. Each
wrapped call opens a span (layer, name, start, end, parent) and sets the
Spark job group of its layer. When the call returns, its span stays open
and its group stays set until the next wrapped call at the same nesting
level, or until the enclosing span closes. So the lazy plan a stage
returns is computed, by whatever action forces it next, under that
stage's group; in ``KGPipeline.run`` and ``run_checkpointed`` that action
is the stage-boundary checkpoint.

``CheckpointManager.stage`` and ``VersionedTable.commit`` write a frame
that another layer produced. Their parquet write is billed to that
producer layer (the stage's layer, or ``incremental`` for a commit); the
rest (counter pass, rename, manifest, pointer) to their own layer.

Self time of a span is its duration minus the time its child spans cover.
A root span per pass (layer ``spark``) collects what no layer covers.
Jobs and stages per layer come from ``statusTracker``; shuffle, spill,
task times, Python/Arrow bytes and broadcast jobs from the JSON event log.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from dataclasses import dataclass, field

# stage name of plans.checkpoint.run_checkpointed -> layer
STAGE_LAYER = {
    "documents": "assembly",
    "mentions": "ner",
    "raw_triples": "ner",
    "candidates": "linking",
    "entities": "clustering",
    "linked_triples": "rel_linking",
    "fused": "fusion",
    "triples": "conflicts",
    "final_entities": "conflicts",
}

LAYERS = [
    "assembly", "ner", "linking", "clustering", "rel_linking", "fusion",
    "conflicts", "checkpoint", "unionfind", "sinks", "incremental",
    "versioned", "dedup", "graph", "spark",
]


@dataclass
class Span:
    layer: str
    name: str
    start: float
    parent: int | None
    end: float | None = None
    active: bool = True        # the wrapped call has not returned yet
    write_through: str | None = None  # producer layer of the next write


@dataclass
class Tracer:
    sc: object                      # SparkContext
    tag: str                        # job-group prefix, unique per pass
    spans: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)
    cuts: dict[str, int] = field(default_factory=dict)  # localCheckpoints
    _undo: list = field(default_factory=list)

    def group(self, layer: str) -> str:
        return f"{self.tag}:{layer}"

    @property
    def layer(self) -> str:
        return self.spans[self.stack[-1]].layer if self.stack else "spark"

    def _set_group(self) -> None:
        self.sc.setJobGroup(self.group(self.layer), self.layer)

    def _close_top(self) -> None:
        self.spans[self.stack.pop()].end = time.perf_counter()

    def _close_finished(self) -> None:
        """Close spans whose call has returned (finished siblings)."""
        while self.stack and not self.spans[self.stack[-1]].active:
            self._close_top()

    def open(self, layer: str, name: str, active: bool = True) -> int:
        self._close_finished()
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(layer, name, time.perf_counter(), parent,
                               active=active))
        self.stack.append(len(self.spans) - 1)
        self._set_group()
        return self.stack[-1]

    def finish(self, idx: int) -> None:
        """The call of span ``idx`` returned: close its children and leave
        it open, with its group set, until a sibling starts."""
        while self.stack[-1] != idx:
            self._close_top()
        self.spans[idx].active = False
        self._set_group()

    def close_all(self) -> None:
        while self.stack:
            self._close_top()
        self._set_group()

    # ---- hooks --------------------------------------------------------
    def after_write(self) -> None:
        """A parquet write returned: inside a write-through span, what
        follows is that span's own work."""
        for i in reversed(self.stack):
            if self.spans[i].active:
                if self.spans[i].write_through:
                    while self.stack[-1] != i:
                        self._close_top()
                    self.spans[i].write_through = None
                    self._set_group()
                return

    def wrap(self, owner, attr: str, layer: str, producer=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper. ``producer``: a
        layer, or a function of the call's arguments giving one, that the
        call's parquet write is billed to."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(layer, attr)
            if producer is not None:
                prod = producer(*args) if callable(producer) else producer
                self.spans[idx].write_through = prod
                self.open(prod, f"{attr}:compute", active=False)
            try:
                return fn(*args, **kwargs)
            finally:
                self.finish(idx)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, fn))

    def hook(self, owner, attr: str, after) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def hooked(*args, **kwargs):
            out = fn(*args, **kwargs)
            after()
            return out

        setattr(owner, attr, hooked)
        self._undo.append((owner, attr, fn))

    def install(self) -> None:
        """Wrap every public stage function the workloads reach."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from waka_spark.operators import conflicts, dedup, graph
        from waka_spark.plans import (checkpoint, incremental, pipeline,
                                      unionfind, versioned)
        from waka_spark.sources import sinks

        KG = pipeline.KGPipeline
        for attr, layer in [
            ("documents", "assembly"), ("scan_products", "ner"),
            ("mentions", "ner"), ("raw_triples", "ner"),
            ("candidates", "linking"), ("entities", "clustering"),
            ("linked_triples", "rel_linking"), ("fused", "fusion"),
        ]:
            self.wrap(KG, attr, layer)
        # run() binds the name at import; run_checkpointed imports it late
        self.wrap(pipeline, "apply_conflict_resolution", "conflicts")
        self.wrap(conflicts, "apply_conflict_resolution", "conflicts")
        self.wrap(checkpoint.CheckpointManager, "stage", "checkpoint",
                  producer=lambda mgr, name, *_: STAGE_LAYER.get(name, "spark"))
        self.wrap(unionfind, "canonicalize_graph", "unionfind")
        self.wrap(unionfind, "connected_components", "unionfind")
        self.wrap(sinks, "write_graph", "sinks")
        self.wrap(incremental, "edges_from_triples", "incremental")
        self.wrap(incremental, "merge_edges", "incremental")
        self.wrap(versioned.VersionedTable, "commit", "versioned",
                  producer="incremental")
        self.wrap(dedup, "ngram_jaccard_pairs", "dedup")
        self.wrap(dedup, "dedup_clusters", "dedup")
        self.wrap(graph, "label_propagation", "graph")
        self.hook(DataFrameWriter, "parquet", self.after_write)

        def count_cut():
            self.cuts[self.layer] = self.cuts.get(self.layer, 0) + 1

        self.hook(DataFrame, "localCheckpoint", count_cut)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    # ---- results ------------------------------------------------------
    def self_seconds(self) -> dict[str, float]:
        return self_time_by_layer(self.spans)

    def job_counts(self) -> dict[str, tuple[int, int]]:
        """layer -> (jobs, stages that ran) from statusTracker."""
        st = self.sc.statusTracker()
        out = {}
        for layer in LAYERS:
            jobs = st.getJobIdsForGroup(self.group(layer))
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    sinfo = st.getStageInfo(s)
                    if sinfo is not None and sinfo.numCompletedTasks > 0:
                        stages.add(s)
            out[layer] = (len(jobs), len(stages))
        return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """Sum over spans of (duration - time covered by child spans), by
    layer. Children of one parent never overlap (siblings close before
    the next opens), so coverage is the sum of child durations."""
    covered = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            covered[s.parent] += s.end - s.start
    out: dict[str, float] = {}
    for s, c in zip(spans, covered):
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - c
    return out


# ------------------------------------------------------------- event log

@dataclass
class GroupStats:
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    run_ms: int = 0
    python_bytes: int = 0
    broadcasts: int = 0
    # accumulator id -> rows, for the "number of output rows" of joins
    join_rows: dict[int, int] = field(default_factory=dict)
    # stage id -> executor run times of its tasks
    task_ms: dict[int, list[int]] = field(default_factory=dict)

    def task_skew(self) -> float:
        """max / median task time in the layer's busiest stage."""
        if not self.task_ms:
            return 0.0
        times = max(self.task_ms.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 0.0


_PY_ACCUMS = ("data sent to Python workers",
              "data returned from Python workers")


def _join_row_accums(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the "number of output rows" of join nodes."""
    if plan.get("nodeName", "").endswith("Join"):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _join_row_accums(child, out)


def parse_event_log(lines, prefix: str) -> dict[str, GroupStats]:
    """Aggregate task and job events by job group, for groups starting
    with ``prefix``. ``lines``: the JSON lines of an uncompressed,
    non-rolling Spark event log."""
    stage_group: dict[int, str] = {}
    join_accums: set[int] = set()
    out: dict[str, GroupStats] = {}
    for line in lines:
        e = json.loads(line)
        ev = e.get("Event", "")
        if ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _join_row_accums(e.get("sparkPlanInfo") or {}, join_accums)
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id", "")
            if g.startswith(prefix):
                tags = props.get("spark.job.tags", "")
                if "broadcast exchange" in tags:
                    out.setdefault(g, GroupStats()).broadcasts += 1
        elif ev == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id", "")
            if g.startswith(prefix):
                stage_group[e["Stage Info"]["Stage ID"]] = g
        elif ev == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if g is None or not m:
                continue
            st = out.setdefault(g, GroupStats())
            st.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            st.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            st.run_ms += m["Executor Run Time"]
            st.task_ms.setdefault(e["Stage ID"], []).append(m["Executor Run Time"])
            for acc in e["Task Info"].get("Accumulables", []):
                if acc.get("Name") in _PY_ACCUMS:
                    st.python_bytes += int(acc.get("Update", 0))
                elif acc.get("ID") in join_accums:
                    st.join_rows[acc["ID"]] = (st.join_rows.get(acc["ID"], 0)
                                               + int(acc.get("Update", 0)))
    return out
