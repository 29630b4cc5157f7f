"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload store_mixed --seed 1 --seconds 10 --trace 0

One driver process, Spark ``local[N]`` (N = min(3, cores)), one client
issuing each op after the previous one returned. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics). The lines before it are the human-readable report.
Exits non-zero when any output differs from the pandas reference.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Spark cores; on a bigger machine the JVM is pinned to CPUS cores and
# this process to the others (``Session.start``), which keeps run-to-run
# noise down
CPUS = min(3, os.cpu_count() or 1)
SETUP_ROUNDS = 3
DEADLINE_S = 100  # the timed phase stops issuing ops after this
SKIPPED = "not run: deadline"

E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "ingest_p50_s": "s",
    "ingest_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "stored_bytes_per_user_byte": "ratio",
    "peak_rss_mb": "MB",
}


class Session:
    """The Spark session, created through the library's own factory,
    and the JVM behind it, which ``close`` stops and waits for."""

    def __init__(self, work: str):
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        os.makedirs(tmp)
        os.makedirs(local)
        # keep every scratch file of this process and its JVMs in the
        # checkout; -UsePerfData stops each JVM (the spark-submit
        # launcher too) from writing /tmp/hsperfdata_<user>
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
        )
        self.conf = {
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # one micro-batch per op: no extra batch just to move the
            # watermark, so each op's output is deterministic
            "spark.sql.streaming.noDataMicroBatches.enabled": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        self.spark = None

    def start(self) -> float:
        """Get the session; returns the seconds ``get_spark`` took. The
        first call starts the JVM; later calls find the session running."""
        from oups_spark.session import get_spark

        cores = sorted(os.sched_getaffinity(0))
        first = self.spark is None and len(cores) > CPUS
        if first:
            # the JVM (launched now) gets the Spark cores, this process
            # the remaining one: no placement noise between the two
            os.sched_setaffinity(0, cores[-CPUS:])
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=CPUS, extra_conf=self.conf)
        took = time.perf_counter() - t0
        if first:
            os.sched_setaffinity(0, cores[: len(cores) - CPUS])
        self.spark.sparkContext.setLogLevel("ERROR")
        return took

    @property
    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is None:
            return
        proc = gw.proc
        kids = _descendants(proc.pid)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        end = time.monotonic() + 10
        while kids and time.monotonic() < end:
            kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
            time.sleep(0.1)
        for k in kids:
            try:
                os.kill(k, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _import_library() -> None:
    """The library must come from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import oups_spark

    where = os.path.dirname(os.path.abspath(oups_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"oups_spark imported from {where}, not from {ROOT}")


def _set_up(args, session: Session, work: str):
    """Set up ``SETUP_ROUNDS`` times: session, inputs, staging, warm
    state. Returns the last round's workload and the round times."""
    from perfbench import generate
    from perfbench.workloads import WORKLOADS

    setup, starts, wl = [], [], None
    for r in range(SETUP_ROUNDS):
        if wl is not None:
            wl.teardown()
        t0 = time.perf_counter()
        starts.append(session.start())
        wl = WORKLOADS[args.workload](args.seed, args.seconds, generate.Traffic())
        wl.stage(session.spark, os.path.join(work, f"round{r}"))
        setup.append(time.perf_counter() - t0)
    return wl, setup, starts


def _closed_loop(ops, tracer) -> float:
    """Issue each op after the previous one returned; returns the wall
    time of the timed phase."""
    t_start = time.perf_counter()
    for op in ops:
        if time.perf_counter() - t_start > DEADLINE_S:
            op.error = SKIPPED
            continue
        t0 = time.perf_counter()
        with tracer.span(f"op.{op.kind}", label=op.label):
            try:
                op.result = op.fn()
            except Exception as e:  # noqa: BLE001 — a failed op is a result
                op.error = f"{type(e).__name__}: {e}"[:300]
        op.latency = time.perf_counter() - t0
    return time.perf_counter() - t_start


def run(args, session: Session, work: str) -> dict:
    from perfbench import layers, metrics, tracing

    wl, setup, starts = _set_up(args, session, work)
    jvm = session.jvm_pid
    tracer = tracing.Tracer(session.spark, jvm) if args.trace else tracing.NullTracer()
    for q in wl.queries:
        tracer.watch_group(str(q.runId))
    progress0 = [len(q.recentProgress) for q in wl.queries]
    if args.trace:
        tracer.install()

    ops = list(wl.ops())
    wall = _closed_loop(ops, tracer)

    progress = []
    for q, n0 in zip(wl.queries, progress0):
        progress += list(q.recentProgress)[n0:]
    n_streams = len(wl.queries)
    t0 = time.perf_counter()
    wl.teardown()
    stop_s = time.perf_counter() - t0
    if args.trace:
        tracer.uninstall()
    peak = metrics.peak_rss_mb(jvm)

    # ---- untimed: compare with the pandas reference
    t_check = time.perf_counter()
    read_bad, final_bad = wl.check(ops)
    data_b, man_b, n_files = layers.manifest_stats(wl.datasets())
    stored = (data_b + man_b) / wl.ref_bytes()
    check_s = time.perf_counter() - t_check

    ingest = [op for op in ops if op.kind == "ingest" and op.error != SKIPPED]
    reads = [op for op in ops if op.kind == "read" and op.error != SKIPPED]
    lat_i = [op.latency for op in ingest]
    lat_r = [op.latency for op in reads]
    i_tail, i_pct, i_n = metrics.tail(lat_i)
    r_tail, r_pct, r_n = metrics.tail(lat_r)
    attempted = len(ops) + 1  # + the final-state check
    failed = sum(1 for op in ops if op.error) + (1 if final_bad else 0)
    e2e = {
        "setup_s": statistics.median(setup),
        "rows_per_s": sum(op.rows for op in ingest) / wall,
        "ingest_p50_s": statistics.median(lat_i),
        "ingest_tail_s": i_tail,
        "read_p50_s": statistics.median(lat_r),
        "read_tail_s": r_tail,
        "stored_bytes_per_user_byte": stored,
        "peak_rss_mb": peak,
    }

    by_label: dict = {}
    for op in ingest + reads:
        by_label.setdefault(f"{op.kind}/{op.label}", []).append(op.latency)
    lines = [
        f"perfbench {args.workload}: seed {args.seed}, local[{CPUS}], one client, "
        f"closed loop, trace {args.trace}",
        f"  ops: {len(ingest)} ingest + {len(reads)} read in {wall:.2f} s; "
        f"attempted {attempted}, failed {failed}, "
        f"failed_ops_ratio {failed / attempted:.4f}",
        f"  setup_s rounds: {', '.join(f'{s:.3f}' for s in setup)} "
        f"(median reported; the first round starts the JVM and the session); "
        f"check {check_s:.2f} s",
        "  p50 by op: "
        + ", ".join(
            f"{k} {statistics.median(v):.3f} s (n={len(v)})" for k, v in by_label.items()
        ),
    ]
    notes = {
        "ingest_tail_s": f"p{i_pct:.1f} of {i_n} samples",
        "read_tail_s": f"p{r_pct:.1f} of {r_n} samples",
        "stored_bytes_per_user_byte": f"{data_b} data + {man_b} manifest bytes "
        f"in {n_files} live files",
    }
    for k, v in e2e.items():
        lines.append(f"  {k:<28} {v:>14.6g} {E2E_UNITS[k]:<7} {notes.get(k, '')}")
    lines += [f"  MISMATCH {p}" for p in (read_bad + final_bad)[:20]]
    lines += [
        f"  FAILED {op.kind} {op.label}: {op.error}"
        for op in ops
        if op.error and op.error != "mismatch"
    ]

    result_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        tracer.dump(stem + ".spans.json")
        extra = {
            "session.start_s": starts[0],  # JVM launch and session
            "store.manifest.bytes": man_b,
            "store.manifest.live_files": n_files,
        }
        if n_streams:
            extra["streaming.start_s"] = wl.start_s
            extra["streaming.stop_s"] = stop_s
        lay = layers.derive(tracer.spans, progress, extra)
        lines += _trace_lines(lay, tracer.spans, e2e["ingest_p50_s"])
        untraced = _load(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json"))
        if untraced:
            base = untraced["metrics"]["ingest_p50_s"]["value"]
            lines.append(
                f"  tracing overhead: traced - untraced ingest_p50_s = "
                f"{e2e['ingest_p50_s'] - base:+.6f} s (same seed, untraced {base:.6f} s)"
            )
        result_metrics = {
            k: {"value": lay.get(k, 0), "unit": layers.unit(k)} for k in layers.PER_LAYER
        }
    with open(stem + ".json", "w") as f:
        json.dump(
            {
                "metrics": result_metrics,
                "ops": [(op.kind, op.label, getattr(op, "latency", None)) for op in ops],
            },
            f,
        )
    return {
        "lines": lines,
        "json": {
            "correct": not (read_bad or final_bad) and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": result_metrics,
        },
    }


def _trace_lines(lay: dict, spans: list[dict], ingest_p50: float) -> list[str]:
    from perfbench import layers

    lines = ["  per-layer metrics (median per call or op; -> what they move):"]
    for k in sorted(k for k in lay if not k.endswith(".self_s")):
        lines.append(
            f"    {k:<36} {lay[k]:>12.6g} {layers.unit(k):<6} -> {layers.moves(k)}"
        )
    lines.append("  self time per span (median s):")
    lines += [
        f"    {k:<36} {lay[k]:>12.6g}" for k in sorted(lay) if k.endswith(".self_s")
    ]
    overhead = statistics.median(
        [
            sum(s["overhead_s"] for s in spans if s["op"] == top["op"])
            for top in spans
            if top["parent"] is None and top["name"] == "op.ingest"
        ]
    )
    lines.append(
        f"  tracing overhead: {overhead:.6f} s of span bookkeeping per ingest op "
        f"(traced ingest_p50_s {ingest_p50:.6f} s)"
    )
    return lines


def _load(path: str):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["store_mixed", "aggstream_restart", "stream_windows", "cdc_merge"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        _import_library()
    except ImportError as e:
        print(f"perfbench: cannot import the library from this checkout: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    session = Session(work)
    try:
        res = run(args, session, work)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print("\n".join(res["lines"]))
    print(json.dumps(res["json"]), flush=True)
    return 0 if res["json"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
