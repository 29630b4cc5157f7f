"""Spans around the calls the benchmark makes into each layer.

Tracing is installed from here only: ``Tracer.install`` wraps the
public entry points of ``store.dataset``, ``streaming.aggstream`` and
the ``operators.segment`` functions where ``aggstream`` looks them
up, and restores them on ``uninstall``. Nothing inside the library is
changed. Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time

from perfbench import metrics


class NullTracer:
    """Tracing off: every hook is a no-op."""

    def span(self, name, **attrs):
        return contextlib.nullcontext({})

    def watch_group(self, group):
        pass


class Tracer:
    """Records ``(name, start, end, parent, op)`` spans with the
    counts taken across each span: Spark jobs and tasks started,
    driver and JVM CPU seconds, and span-specific attributes."""

    def __init__(self, spark, jvm_pid: int):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._op = None
        self._st = spark.sparkContext.statusTracker()
        self._jvm = spark.sparkContext._jvm
        self._groups = [None]  # streaming queries run under their own
        self.jvm_pid = jvm_pid
        self._saved: list[tuple] = []

    def watch_group(self, group: str) -> None:
        """Count jobs of a job group too (a streaming query's run id)."""
        self._groups.append(group)

    def _last_job(self) -> int:
        # job ids are one global sequence: the highest id seen in any
        # group before and after a span bounds the jobs it started. The
        # max is taken JVM-side: copying the id array costs one py4j
        # round trip per element.
        arrays = self._jvm.java.util.Arrays
        return max(
            arrays.stream(self._st._jtracker.getJobIdsForGroup(g)).max().orElse(-1)
            for g in self._groups
        )

    def _tasks(self, first: int, last: int) -> int:
        n = 0
        for j in range(first, last + 1):
            info = self._st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self._st.getStageInfo(s)
                n += st.numTasks if st is not None else 0
        return n

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        job0 = self._last_job()
        cpu0 = metrics.driver_cpu_s()
        jcpu0 = metrics.jvm_cpu_s(self.jvm_pid)
        with self._lock:
            idx = len(self.spans)
            if not self._stack:
                self._op = idx  # a top-level span opens an op
            rec = {
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "op": self._op,
                **attrs,
            }
            self.spans.append(rec)
            self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            job1 = self._last_job()
            rec["jobs"] = job1 - job0
            rec["tasks"] = self._tasks(job0 + 1, job1)
            rec["py_cpu_s"] = metrics.driver_cpu_s() - cpu0
            rec["jvm_cpu_s"] = metrics.jvm_cpu_s(self.jvm_pid) - jcpu0
            with self._lock:
                self._stack.pop()
            # bookkeeping outside [start, end]: the tracing overhead
            rec["overhead_s"] = (rec["start"] - t_in) + (
                time.perf_counter() - rec["end"]
            )

    # ------------------------------------------------------ wrappers
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def install(self) -> None:
        import oups_spark.operators.segment as segment
        import oups_spark.streaming.aggstream as aggstream
        from oups_spark.store.dataset import OrderedDataset

        tr = self

        def live(ds):
            man = ds.manifest
            return {e.name: e for e in man.files} if man is not None else {}

        def sizes(ds, names):
            return sum(os.path.getsize(os.path.join(ds.path, n)) for n in names)

        def mutating(name):
            def wrap(orig):
                def call(ds, *args, **kw):
                    before = live(ds)
                    with tr.span(name) as rec:
                        out = orig(ds, *args, **kw)
                    after = live(ds)
                    added = after.keys() - before.keys()
                    # replaced files stay on disk for the deletion grace
                    removed = before.keys() - after.keys()
                    rec["files_added"] = len(added)
                    rec["files_removed"] = len(removed)
                    rec["bytes_added"] = sizes(ds, added)
                    rec["bytes_removed"] = sizes(ds, removed)
                    batch = args[0] if args else kw.get("df")
                    if hasattr(batch, "nbytes"):  # an Arrow table
                        rec["user_bytes"] = batch.nbytes
                    return out

                return call

            return wrap

        def opener(orig):
            def call(ds, *args, **kw):
                with tr.span("store.manifest.open"):
                    return orig(ds, *args, **kw)

            return call

        def reader(orig):
            def call(ds, start=None, end_excl=None, *args, **kw):
                with tr.span("store.read.plan") as rec:
                    man = ds.manifest
                    if man is not None and man.files:
                        rec["files_scanned_ratio"] = len(
                            man.files_in_range(start, end_excl)
                        ) / len(man.files)
                    return orig(ds, start, end_excl, *args, **kw)

            return call

        def plain(name):
            def wrap(orig):
                def call(*args, **kw):
                    with tr.span(name):
                        return orig(*args, **kw)

                return call

            return wrap

        self._patch(OrderedDataset, "__init__", opener)
        self._patch(OrderedDataset, "read", reader)
        self._patch(OrderedDataset, "write", mutating("store.write"))
        self._patch(OrderedDataset, "merge_into", mutating("store.merge_into"))
        self._patch(OrderedDataset, "compact", mutating("store.compact"))
        self._patch(aggstream.AggStream, "__init__", plain("aggstream.open"))
        self._patch(aggstream.AggStream, "agg", plain("aggstream.agg"))
        # where aggstream looks the operators up: its own module
        # globals, and operators.segment for the lazily imported one
        plan = plain("operators.segment.plan")
        self._patch(aggstream, "segment_agg", plan)
        self._patch(aggstream, "snapshot_agg", plan)
        self._patch(segment, "add_row_count_bins", plan)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)

