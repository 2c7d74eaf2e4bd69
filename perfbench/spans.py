"""Spans around the calls into each package layer, with Spark counts.

The traced run wraps layer entry points (``bronze.ingest_bulk``,
``silver.run_batch``, ...) from the benchmark's side, so the package is
measured unchanged. Each span sets its own Spark job group; after an
operation ends, the jobs of every group are read back from Spark's status
store, so each job -- and through it each stage and task -- is attributed to
the innermost span that submitted it. Spans are kept in memory and written
out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder for one Spark session. ``op`` names the operation
    (one build, one interval, one query) the spans opened now belong to."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._gc_beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self._ids = itertools.count()
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._seen_stages: set[int] = set()
        self.spans: list[dict] = []
        self.op: str | None = None
        self.files_written = 0
        self.bytes_written = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
        }
        sp["group"] = f"perfbench-{os.getpid()}-{sp['id']}"
        self._sc.setJobGroup(sp["group"], name)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._pending.append(sp)

    def gc_seconds(self) -> float:
        """Cumulative JVM garbage-collection time over all collectors."""
        beans = self._gc_beans
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def collect(self) -> list[dict]:
        """Attach Spark counts to the spans closed since the last call and
        return them. Call between operations: it waits for Spark's listener
        bus to drain, which must not land inside a timed span."""
        self._bus.waitUntilEmpty()
        done, self._pending = self._pending, []
        for sp in done:
            sp.update(self._group_counts(sp.pop("group")))
        self.spans.extend(done)
        return done

    def _group_counts(self, group: str) -> dict:
        c = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "input_bytes": 0,
             "shuffle_bytes": 0, "spill_bytes": 0, "task_s": 0.0}
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            c["jobs"] += 1
            info = self._sc.statusTracker().getJobInfo(job_id)
            for stage_id in info.stageIds if info else []:
                # A reused shuffle map stage can be listed by several jobs;
                # count its work once, for the job that ran it first.
                if stage_id in self._seen_stages:
                    continue
                self._seen_stages.add(stage_id)
                sd = self._store.lastStageAttempt(stage_id)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["tasks"] += sd.numCompleteTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["input_bytes"] += sd.inputBytes()
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.diskBytesSpilled()
                c["task_s"] += sd.executorRunTime() / 1000.0
        return c

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a version that runs inside span ``name``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def count_writes(self, module, attr: str) -> None:
        """Replace the writer ``module.attr(df, path, ...)`` with a version
        that counts the data files and bytes it adds under ``path``. Writers
        are counted, not timed: Spark runs the upstream parse inside the
        write action, so a writer span would swallow the caller's work."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def counted(df, path, *args, **kwargs):
            before = _data_files(path)
            result = fn(df, path, *args, **kwargs)
            new = _data_files(path).items() - before.items()
            self.files_written += len(new)
            self.bytes_written += sum(size for _, size in new)
            return result

        setattr(module, attr, counted)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _data_files(path: str) -> dict[str, int]:
    """Relative path -> size of every data file under ``path`` (hidden and
    ``_``-prefixed marker/checksum files excluded)."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                full = os.path.join(d, f)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus its direct children's."""
    own = {sp["id"]: sp["end"] - sp["start"] for sp in spans}
    for sp in spans:
        if sp["parent"] in own:
            own[sp["parent"]] -= sp["end"] - sp["start"]
    return own


def layer_totals(spans: list[dict], cores: int) -> dict[str, dict]:
    """Span name -> summed self time and Spark counts, with ``core_util`` =
    task time / (self time x cores); counts are already per innermost span."""
    own = self_times(spans)
    out: dict[str, dict] = {}
    for sp in spans:
        t = out.setdefault(sp["name"], {"s": 0.0, "jobs": 0, "tasks": 0,
                                        "failed_tasks": 0, "input_bytes": 0, "shuffle_bytes": 0,
                                        "spill_bytes": 0, "task_s": 0.0})
        t["s"] += own[sp["id"]]
        for k in ("jobs", "tasks", "failed_tasks", "input_bytes", "shuffle_bytes", "spill_bytes", "task_s"):
            t[k] += sp[k]
    for t in out.values():
        t["core_util"] = t["task_s"] / (t["s"] * cores) if t["s"] > 0 else 0.0
    return out
