"""Outside-in instrumentation: spans around calls into each engine layer,
and Spark job/task counts per benchmark operation.

Nothing inside ``engine/`` is edited.  :meth:`Tracer.installed` swaps
wrapped versions of the layers' public functions into their modules and
classes for the length of a ``with`` block and restores the originals
afterwards.  Spans stay in memory; :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

import engine.checkpoint as checkpoint_mod
import engine.corpus as corpus_mod
import engine.ops.cluster as cluster_mod
import engine.ops.compact as compact_mod
import engine.ops.delete as delete_mod
import engine.ops.expire as expire_mod
import engine.ops.manifest as manifest_mod
import engine.ops.merge as merge_mod
import engine.tablefmt as tablefmt_mod

# (owner, attribute, span name, layer).  Workloads call the module-level
# functions through their module, so a patched attribute is what runs.
TRACED = [
    (tablefmt_mod.Table, "write_data_files", "Table.write_data_files", "tablefmt"),
    (tablefmt_mod.Table, "commit", "Table.commit", "tablefmt"),
    (tablefmt_mod.Table, "files", "Table.files", "tablefmt"),
    (tablefmt_mod.Table, "scan", "Table.scan", "tablefmt"),
    (tablefmt_mod, "append", "tablefmt.append", "tablefmt"),
    (checkpoint_mod.Ledger, "save", "Ledger.save", "checkpoint"),
    (merge_mod, "merge_into", "merge_into", "ops.merge"),
    (compact_mod, "compact", "compact", "ops.compact"),
    (cluster_mod, "cluster", "cluster", "ops.cluster"),
    (delete_mod, "delete_where", "delete_where", "ops.delete"),
    (manifest_mod, "rewrite_manifests", "rewrite_manifests", "ops.manifest"),
    (expire_mod, "expire_snapshots", "expire_snapshots", "ops.expire"),
    (corpus_mod, "generate_corpus", "generate_corpus", "corpus"),
]
# "benchmark" is the span ctx.op puts around each operation call
LAYERS = sorted({layer for *_, layer in TRACED} | {"queries", "benchmark"})


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op_id: str | None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op_id: str | None = None
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, fn, name: str, layer: str):
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def installed(self):
        saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, *_ in TRACED]
        try:
            for owner, attr, name, layer in TRACED:
                setattr(owner, attr, self.wrap(getattr(owner, attr), name, layer))
            yield self
        finally:
            for owner, attr, original in saved:
                setattr(owner, attr, original)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the time its child spans cover.
        Spans are opened from one thread, so children never overlap."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.layer] += (s.end - s.start) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
                     "parent": s.parent, "op_id": s.op_id}
                    for s in self.spans
                ],
                f,
            )


class SparkCounters:
    """One Spark job group per benchmark operation call; job, task and
    failed-task counts are read back through ``statusTracker``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: dict[str, list[str]] = defaultdict(list)
        self._n = 0

    def begin(self, op: str) -> None:
        self._n += 1
        gid = f"{op}#{self._n}"
        self.groups[op].append(gid)
        self.sc.setJobGroup(gid, op)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def per_call(self, op: str) -> list[tuple[int, int, int]]:
        """(jobs, completed tasks, failed tasks) for each call of ``op``."""
        tracker = self.sc.statusTracker()
        out = []
        for gid in self.groups.get(op, []):
            jobs = tracker.getJobIdsForGroup(gid)
            tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
            out.append((len(jobs), tasks, failed))
        return out
