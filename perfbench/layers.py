"""Per-layer metrics derived from a traced run's spans.

Each metric is the median per call (or per op) unless it is a count
or a ratio; ``MAP`` gives the end-to-end metric and workload each one
should move.
"""

from __future__ import annotations

import os
from collections import defaultdict
from statistics import median

# the per-layer metrics a traced run reports (BENCHMARK.json per_layer);
# a metric the workload has no sample for reports 0: no call into its
# layer, or for store.write.bytes_per_user_byte only Spark DataFrame
# writes, whose Arrow size is not known
PER_LAYER = (
    "session.start_s",
    "store.manifest.open_s",
    "store.manifest.bytes",
    "store.manifest.live_files",
    "store.write.s",
    "store.write.jobs",
    "store.write.tasks",
    "store.write.files_added",
    "store.write.bytes_per_user_byte",
    "store.write.zero_job_share",
    "store.merge_into.s",
    "store.merge_into.jobs",
    "store.merge_into.tasks",
    "store.merge_into.files_rewritten",
    "store.read.plan_s",
    "store.read.s",
    "store.read.jobs",
    "store.read.files_scanned_ratio",
    "store.compact.s",
    "store.compact.jobs",
    "store.compact.bytes_rewritten",
    "aggstream.open_s",
    "aggstream.agg.self_s",
    "aggstream.agg.jobs",
    "aggstream.agg.tasks",
    "aggstream.flush_write_s",
    "operators.segment.plan_s",
    "operators.segment.calls",
    "streaming.batch.trigger_s",
    "streaming.batch.planning_s",
    "streaming.batch.add_batch_s",
    "streaming.batch.wal_commit_s",
    "streaming.batch.commit_offsets_s",
    "streaming.batch.latest_offset_s",
    "streaming.batch.get_batch_s",
    "streaming.start_s",
    "streaming.stop_s",
    "streaming.batches",
    "streaming.state.rows_total",
    "streaming.state.memory_bytes",
    "streaming.state.commit_s",
    "streaming.sink.store_s",
    "driver.py_cpu_s",
    "jvm.cpu_s",
)

UNITS = {"bytes": "bytes", "live_files": "count", "jobs": "count",
         "tasks": "count", "files_added": "count", "files_rewritten": "count",
         "calls": "count", "batches": "count", "rows_total": "count",
         "memory_bytes": "bytes", "bytes_rewritten": "bytes"}

MAP = {
    "session.start_s": "setup_s (all)",
    "store.manifest.open_s": "ingest_p50_s (aggstream_restart), read_p50_s (store_mixed)",
    "store.manifest.bytes": "stored_bytes_per_user_byte, read_p50_s (store_mixed)",
    "store.manifest.live_files": "stored_bytes_per_user_byte, read_p50_s (store_mixed)",
    "store.write.*": "ingest_p50_s/ingest_tail_s (store_mixed); ingest_p50_s (aggstream_restart, stream_windows)",
    "store.merge_into.*": "ingest_p50_s (cdc_merge); ingest_tail_s (store_mixed)",
    "store.read.*": "read_p50_s (store_mixed)",
    "store.compact.*": "ingest_tail_s, stored_bytes_per_user_byte (store_mixed)",
    "aggstream.*": "ingest_p50_s, rows_per_s (aggstream_restart)",
    "operators.segment.*": "ingest_p50_s (aggstream_restart)",
    "streaming.batch*": "ingest_p50_s, rows_per_s (stream_windows, cdc_merge)",
    "streaming.start_s": "setup_s (stream_windows, cdc_merge)",
    "streaming.stop_s": "not in a timed op (stream_windows, cdc_merge)",
    "streaming.state.*": "ingest_p50_s (stream_windows)",
    "streaming.sink.store_s": "ingest_p50_s (stream_windows, cdc_merge)",
    "driver.py_cpu_s": "driver gaps vs Spark work (all)",
    "jvm.cpu_s": "driver gaps vs Spark work (all)",
}


def moves(name: str) -> str:
    """The end-to-end metric and workload a per-layer metric should move."""
    for key, what in MAP.items():
        if name == key or (key.endswith("*") and name.startswith(key[:-1])):
            return what
    return ""


def unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith("_s") or last == "s":
        return "s"
    if last.endswith("ratio") or last.endswith("share") or "per_user_byte" in last:
        return "ratio"
    return UNITS.get(last, "count")


def manifest_stats(paths: list[str]) -> tuple[int, int, int]:
    """``(live data bytes, manifest bytes, live files)`` over datasets:
    only files the manifest references, not tombstoned ones."""
    from oups_spark.store.manifest import MANIFEST_NAME, Manifest

    data = man = files = 0
    stem = MANIFEST_NAME[: -len(".json")]
    for p in paths:
        names = [e.name for e in Manifest.load(p, None).files]
        files += len(names)
        data += sum(os.path.getsize(os.path.join(p, n)) for n in names)
        man += sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p)
            if f.startswith(stem) and not f.endswith((".tmp", ".lock"))
        )
    return data, man, files


def derive(spans: list[dict], progress: list[dict], extra: dict) -> dict:
    """Every per-layer metric this run has samples for."""
    kids = defaultdict(list)
    by_name = defaultdict(list)
    for i, s in enumerate(spans):
        s["i"] = i
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
        by_name[s["name"]].append(s)
    ops = [s for s in spans if s["parent"] is None]
    read_ops = {s["i"] for s in ops if s["name"] == "op.read"}

    def dur(s):
        return s["end"] - s["start"]

    def med(name, f=dur, where=lambda s: True):
        vals = [f(s) for s in by_name[name] if where(s)]
        return median(vals) if vals else None

    def below(s, prefix):
        """Time of descendant spans named ``prefix*``, outermost only."""
        t = 0.0
        for c in kids[s["i"]]:
            t += dur(c) if c["name"].startswith(prefix) else below(c, prefix)
        return t

    out = dict(extra)
    # self time: a span's duration minus the part its children cover
    # (children of one span run one after another)
    for name, ss in by_name.items():
        out[f"{name}.self_s"] = median(
            [max(0.0, dur(s) - sum(dur(c) for c in kids[s["i"]])) for s in ss]
        )
    out["store.manifest.open_s"] = med("store.manifest.open")
    out["store.read.plan_s"] = med("store.read.plan", where=lambda s: s["op"] in read_ops)
    out["store.read.s"] = med("op.read")
    out["store.read.jobs"] = med("op.read", f=lambda s: s["jobs"])
    out["store.read.files_scanned_ratio"] = med(
        "store.read.plan",
        f=lambda s: s.get("files_scanned_ratio", 0.0),
        where=lambda s: s["op"] in read_ops,
    )
    out["driver.py_cpu_s"] = median([s["py_cpu_s"] for s in ops])
    out["jvm.cpu_s"] = median([s["jvm_cpu_s"] for s in ops])

    w = by_name["store.write"]
    if w:
        out["store.write.s"] = med("store.write")
        out["store.write.jobs"] = med("store.write", f=lambda s: s["jobs"])
        out["store.write.tasks"] = med("store.write", f=lambda s: s["tasks"])
        out["store.write.files_added"] = med("store.write", f=lambda s: s["files_added"])
        amp = [s["bytes_added"] / s["user_bytes"] for s in w if s.get("user_bytes")]
        if amp:
            out["store.write.bytes_per_user_byte"] = median(amp)
        out["store.write.zero_job_share"] = sum(s["jobs"] == 0 for s in w) / len(w)
    if by_name["store.merge_into"]:
        out["store.merge_into.s"] = med("store.merge_into")
        out["store.merge_into.jobs"] = med("store.merge_into", f=lambda s: s["jobs"])
        out["store.merge_into.tasks"] = med("store.merge_into", f=lambda s: s["tasks"])
        out["store.merge_into.files_rewritten"] = med(
            "store.merge_into", f=lambda s: s["files_removed"]
        )
    if by_name["store.compact"]:
        out["store.compact.s"] = med("store.compact")
        out["store.compact.jobs"] = med("store.compact", f=lambda s: s["jobs"])
        out["store.compact.bytes_rewritten"] = med(
            "store.compact", f=lambda s: s["bytes_removed"]
        )
    if by_name["aggstream.agg"]:
        out["aggstream.open_s"] = med("aggstream.open")
        out["aggstream.agg.self_s"] = med(
            "aggstream.agg", f=lambda s: dur(s) - below(s, "store.")
        )
        out["aggstream.agg.jobs"] = med("aggstream.agg", f=lambda s: s["jobs"])
        out["aggstream.agg.tasks"] = med("aggstream.agg", f=lambda s: s["tasks"])
        out["aggstream.flush_write_s"] = med(
            "aggstream.agg", f=lambda s: below(s, "store.write")
        )
        out["operators.segment.plan_s"] = med("operators.segment.plan")
        out["operators.segment.calls"] = median(
            [
                sum(1 for x in by_name["operators.segment.plan"] if x["op"] == s["i"])
                for s in ops
                if s["name"] == "op.ingest"
            ]
        )
    if progress:
        d = [p["durationMs"] for p in progress]
        for key, name in (
            ("triggerExecution", "trigger_s"),
            ("queryPlanning", "planning_s"),
            ("addBatch", "add_batch_s"),
            ("walCommit", "wal_commit_s"),
            ("commitOffsets", "commit_offsets_s"),
            ("latestOffset", "latest_offset_s"),
            ("getBatch", "get_batch_s"),
        ):
            vals = [x[key] / 1000 for x in d if key in x]
            if vals:
                out[f"streaming.batch.{name}"] = median(vals)
        out["streaming.batches"] = len(progress)
        states = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
        if states:
            out["streaming.state.rows_total"] = states[-1]["numRowsTotal"]
            out["streaming.state.memory_bytes"] = states[-1]["memoryUsedBytes"]
            out["streaming.state.commit_s"] = median(
                [st["commitTimeMs"] / 1000 for st in states]
            )
        out["streaming.sink.store_s"] = median(
            [
                below(s, "store.write") + below(s, "store.merge_into")
                for s in ops
                if s["name"] == "op.ingest"
            ]
        )
    return {k: v for k, v in out.items() if v is not None}
