"""Run context shared by the workloads: timed operations, checks, the
measurement window and the statistics the report is made of."""

from __future__ import annotations

import gc
import os
import statistics
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field

from tracing import SparkCounters, Tracer


MIN_UNITS = 2  # units per window at least, so every median has two samples
RELEASE_WAIT_S = 2.0  # longest wait for Spark's cleaner between units


class OpFailed(Exception):
    """An engine call raised; the workload stops its loop."""


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]); 0.0 when empty."""
    if not values:
        return 0.0
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dir_usage(path: str) -> tuple[int, int]:
    """(file count, total bytes) under ``path``."""
    n = total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n += 1
            total += os.path.getsize(os.path.join(dirpath, f))
    return n, total


def merge_stats(table, result) -> tuple[float, float]:
    """(candidate files, rows written per changed row) of a committed
    merge, read from its snapshot before anything expires it."""
    snap = table.snapshot(result.snapshot_id)
    before = {e.path for e in table.files(snap.parent_id)}
    rows = sum(e.rows for e in table.files(result.snapshot_id) if e.path not in before)
    changed = max(1, sum(result.counts))
    return float(snap.summary.get("candidate_files", 0)), rows / changed


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    cores: int
    counters: SparkCounters
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # per operation name: wall time of every call, in seconds
    times: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))

    def op(self, name: str, fn, *args, **kwargs):
        """Run one engine operation: counted, timed, in its own job group."""
        self.attempted += 1
        self.counters.begin(name)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, "benchmark") if self.tracer else nullcontext():
                out = fn(*args, **kwargs)
        except Exception as e:  # an engine failure is a measured outcome
            self.failed += 1
            self.errors.append(f"{name}: {e!r}\n{traceback.format_exc(limit=4)}")
            raise OpFailed(name) from e
        finally:
            self.counters.end()
        self.times[name].append(time.perf_counter() - t0)
        return out

    def release(self) -> None:
        """Off the clock: let Spark's cleaner delete the shuffle files of
        finished work now, before the kernel writes them back.  On a disk
        mounted with online discard, unlinking a written-back file costs
        about 10 ms; unlinking one still in the page cache costs nothing."""
        gc.collect()  # drops the py4j handles of finished DataFrames
        self.spark._jvm.System.gc()  # the cleaner sees their shuffles
        local = os.path.join(self.work, "spark-local")
        last, t0 = None, time.perf_counter()
        while time.perf_counter() - t0 < RELEASE_WAIT_S:  # until the cleaner is idle
            time.sleep(0.1)
            now = dir_usage(local)
            if now == last:
                break
            last = now

    def check(self, ok: bool, what: str) -> bool:
        """A failed output check counts as a failed operation."""
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}")
        return ok

    def window(self, seconds: float):
        """Yield unit-of-work indices until ``seconds`` have passed and at
        least MIN_UNITS have run; a unit that has started runs to its end."""
        t0 = time.perf_counter()
        i = 0
        while i < MIN_UNITS or time.perf_counter() - t0 < seconds:
            yield i
            i += 1

    def spark_counts(self, ops: list[str]) -> dict[str, float]:
        """``<op>.spark_jobs`` / ``<op>.tasks`` (median per call) and the
        run's ``spark.failed_tasks``."""
        out: dict[str, float] = {}
        failed = 0
        for op in ops:
            calls = self.counters.per_call(op)
            out[f"{op}.spark_jobs"] = median([c[0] for c in calls])
            out[f"{op}.tasks"] = median([c[1] for c in calls])
            failed += sum(c[2] for c in calls)
        out["spark.failed_tasks"] = failed
        return out
