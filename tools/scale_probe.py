#!/usr/bin/env python
"""Scale-up probe: materialize a k×-scaled copy of the sf0.1 dataset
(events/documents/embeddings unioned k times with shifted ids /
timestamps; identical text copies — a deliberately dup-heavy corpus
that stresses the dedup family), run a subset of heavy registry
queries at 1× and k×, and report the wall-time ratio per query.

A bucketed/blocked/broadcast operator should scale ~linearly in rows
(ratio ≈ k on CPU-bound work, much less when fixed job overhead
dominates at this toy scale); a ratio ≫ k exposes quadratic pair
volume or a driver bottleneck before a cluster run would.

Usage: python tools/scale_probe.py [k] [query ...]
Writes nothing outside .scratch/; prints one line per query.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
SMALL_TABLES = (
    "region nation customer supplier part orders lineitem".split()
)

@contextlib.contextmanager
def _distributed():
    """Store writes inside the block take their distributed path: the
    driver gate's row cap is 0 (restored afterwards)."""
    from oups_spark.store import driver_gate

    cap = driver_gate.MAX_ROWS
    driver_gate.MAX_ROWS = 0
    try:
        yield
    finally:
        driver_gate.MAX_ROWS = cap


DEFAULT_QUERIES = [
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_neardup_pairs",
    "neardup_clusters",
    "leakage_safe_splits",
    "simhash_neardup_pairs",
    "duplicate_span_removal",
    "semdedup_prune",
    "packed_training_sequences",
    "dsir_importance_weights",
    "lm_quality_score",
    "bm25_topk",
    "kmeans_clusters",
    "ann_ivf_topk",
    "segment_bins_1h",
    "session_windows",
    "row_count_bins_500",
    "snapshot_1d_6h",
    "aggstream_hourly_restart",
    "store_merge_keep_last",
]


def build_scaled(spark, out_dir: str, k: int) -> None:
    import pyspark.sql.functions as F

    os.makedirs(out_dir, exist_ok=True)
    for t in SMALL_TABLES:
        src = os.path.join(BASE, f"{t}.parquet")
        if os.path.exists(src):
            shutil.copy(src, os.path.join(out_dir, f"{t}.parquet"))

    from oups_spark.tables import load as load_table

    # go through load(): it normalizes the ns-long ts to a true
    # timestamp, so the scaled copy round-trips as timestamp[us]
    ev = load_table(spark, BASE, "events")
    n_ev = ev.agg(F.max("event_id")).collect()[0][0] + 1
    span_days = 40
    parts = []
    for i in range(k):
        parts.append(
            ev.select(
                (F.col("event_id") + i * n_ev).alias("event_id"),
                (F.col("ts") + F.expr(f"INTERVAL {i * span_days} DAYS")).alias("ts"),
                (F.col("user_id") + i * 100_000).alias("user_id"),
                "event_type", "value", "props",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # the driver's events file is globally ts-sorted and single-file;
    # store queries rely on that (validate_monotonic) — reproduce it
    out.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )

    docs = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    n_d = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = [
        docs.select(
            (F.col("doc_id") + i * n_d).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.coalesce(8).write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
    n_e = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    parts = [
        emb.select(
            (F.col("vec_id") + i * n_e).alias("vec_id"), "embedding", "label"
        )
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.coalesce(4).write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))


def write_probe() -> int:
    """Write-path scale probe (VERDICT r9 ask #6): appends and
    overlapping merges against datasets whose FILE COUNTS are 10×
    apart (fixed 2,500-row target: 4 files at sf0.01, 40 at sf0.1).

    Claims probed (`python tools/scale_probe.py write`):
    - APPEND cost is ~flat in dataset size: the manifest overlap scan
      selects nothing, no file is rewritten, cost ∝ batch only.
    - MERGE cost ∝ OVERLAP, not table size: a batch spanning exactly
      2 interior files (5,000 stored rows at either sf by
      construction) costs the same against 4 files as against 40.
    Both run the DISTRIBUTED write path (driver gate row cap 0) —
    the driver fast path would flatten everything at this scale and
    hide a regression in the path a cluster actually exercises.
    """
    import pyspark.sql.functions as F

    from oups_spark.queries import load_all_query_modules
    from oups_spark.session import get_spark
    from oups_spark.store.dataset import OrderedDataset
    from oups_spark.tables import load as load_table

    load_all_query_modules()
    spark = get_spark("write-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", f"writeprobe_pid{os.getpid()}",
    )
    results: dict[str, dict[str, float]] = {}
    # two passes per sf (fresh dataset each), min per metric: the
    # first pass of each plan shape absorbs its Janino compile, which
    # would otherwise land entirely on the first-measured sf
    for sf_dir, rep in (
        ("/root/testdata/sf0.01", 0), ("/root/testdata/sf0.1", 0),
        ("/root/testdata/sf0.01", 1), ("/root/testdata/sf0.1", 1),
    ):
        sf = sf_dir.rsplit("sf", 1)[-1]
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "event_id", "value"
        )
        path = os.path.join(root, f"ds_{sf}_r{rep}")

        def timed(fn):
            t0 = time.time()
            fn()
            return round(time.time() - t0, 3)

        base = ev.orderBy("ts")
        with _distributed():
            OrderedDataset(spark, path).write(
                df=base, ordered_on="ts", row_group_target_size=2_500,
                validate_monotonic=False,
            )
        ds = OrderedDataset(spark, path)
        nf = ds.n_files
        entries = ds.manifest.files

        # APPEND: 2,000 rows strictly past the dataset max
        mx = entries[-1].max
        app = spark.range(2_000).select(
            (F.lit(mx).cast("timestamp_ntz")
             + F.expr("make_interval(0,0,0,0,0,0,id+1)")).alias("ts"),
            (F.col("id") + 10_000_000).alias("event_id"),
            F.rand(7).alias("value"),
        )
        with _distributed():
            t_append = timed(lambda: OrderedDataset(spark, path).write(
                df=app, validate_monotonic=False,
                row_group_target_size=2_500,
            ))

        # MERGE: 1,000 rows spanning exactly 2 interior files
        # (files 1-2: 5,000 stored rows at EITHER sf — fixed overlap)
        lo, hi = entries[1].min, entries[2].max
        span_us = int((hi - lo).total_seconds() * 1_000_000)
        mrg = spark.range(1_000).select(
            (F.lit(lo).cast("timestamp_ntz") + F.expr(
                f"make_interval(0,0,0,0,0,0, (id*{span_us // 1_000})/1e6)"
            )).alias("ts"),
            (F.col("id") + 20_000_000).alias("event_id"),
            F.rand(11).alias("value"),
        ).orderBy("ts")
        before_rows = OrderedDataset(spark, path).n_rows
        with _distributed():
            t_merge = timed(lambda: OrderedDataset(spark, path).write(
                df=mrg, validate_monotonic=False,
                row_group_target_size=2_500,
            ))
        after = OrderedDataset(spark, path)
        assert after.n_rows == before_rows + 1_000
        prev = results.get(sf)
        results[sf] = {
            "files_before_probe": nf,
            "append_2k_sec": min(t_append, prev["append_2k_sec"]) if prev else t_append,
            "merge_2file_overlap_sec": min(t_merge, prev["merge_2file_overlap_sec"]) if prev else t_merge,
        }
        print(f"sf{sf} pass{rep}: files={nf} append={t_append}s "
              f"merge(2-file overlap)={t_merge}s", flush=True)

    a = results["0.01"]
    b = results["0.1"]
    print(
        f"append ratio (40 vs 4 files): "
        f"{b['append_2k_sec'] / a['append_2k_sec']:.2f}x  "
        f"merge ratio (same 2-file overlap): "
        f"{b['merge_2file_overlap_sec'] / a['merge_2file_overlap_sec']:.2f}x",
        flush=True,
    )
    import shutil as _sh

    _sh.rmtree(root, ignore_errors=True)
    return 0


def merge_wide_probe() -> int:
    """Wide-manifest merge_into probe (VERDICT r12 ask #7): a keyed
    CDC merge against a dataset whose DELTA-LOG manifest carries 0 /
    10k / 100k extra synthetic entries (disjoint key + time spans,
    files never created on disk — any un-pruned candidate would
    FileNotFound). Asserts wall time and the candidate set are pinned
    by stats pruning, not manifest width: the ArrowFileList
    `prune_key_range` vectorized pre-prune rejects the synthetic
    entries in Arrow compute, so the merge never materializes them.

    `python tools/scale_probe.py merge_wide`
    """
    import pandas as pd
    import pyspark.sql.functions as F

    from oups_spark.session import get_spark
    from oups_spark.store.dataset import OrderedDataset
    from oups_spark.store.manifest import (
        DeltaLogManifest,
        FileEntry,
        Manifest,
        PosixTransport,
    )
    from oups_spark.tables import load as load_table

    spark = get_spark("merge-wide-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", f"mergewide_pid{os.getpid()}",
    )
    ev = load_table(spark, "/root/testdata/sf0.1", "events").select(
        "ts", "event_id", "value"
    )
    t_far = pd.Timestamp("2030-01-01")
    for rep in (0, 1):  # rep 0 absorbs plan compiles; report rep 1
        for extra in (0, 10_000, 100_000):
            path = os.path.join(root, f"ds_x{extra}_r{rep}")
            be = DeltaLogManifest(PosixTransport())
            ds = OrderedDataset(spark, path, backend=be)
            with _distributed():
                ds.write(
                    df=ev.orderBy("ts"), ordered_on="ts",
                    row_group_target_size=2_500, validate_monotonic=False,
                )
            if extra:
                man = ds.manifest
                files = list(man.files)
                files += [
                    FileEntry(
                        name=f"synthetic{i:06d}.parquet", n_rows=1000,
                        min=t_far + pd.Timedelta(hours=i),
                        max=t_far + pd.Timedelta(hours=i, minutes=59),
                        cols={
                            "event_id": (
                                10_000_000 + i * 1000,
                                10_000_000 + i * 1000 + 999,
                            ),
                            "value": (0.0, 1.0),
                        },
                    )
                    for i in range(extra)
                ]
                man.files = files
                man.save(path, be)
            ds2 = OrderedDataset(spark, path, backend=be)
            src = ev.filter(F.col("event_id") % 997 == 0).select(
                "event_id", F.lit(-1.0).alias("value"),
            ).limit(100).localCheckpoint()
            n_src = src.count()
            t0 = time.time()
            res = ds2.merge_into(
                src, on="event_id",
                when_matched_update={"value": F.col("s.value")},
                when_not_matched_insert=False,
            )
            dt = round(time.time() - t0, 3)
            assert res["updated"] == n_src, res
            if rep:
                print(
                    f"[merge_wide] extra_entries={extra:>6}: merge "
                    f"{dt}s (updated {res['updated']}; real files "
                    f"{ds2.n_files - extra})",
                    flush=True,
                )
    import shutil as _sh

    _sh.rmtree(root, ignore_errors=True)
    return 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "write":
        return write_probe()
    if len(sys.argv) > 1 and sys.argv[1] == "merge_wide":
        return merge_wide_probe()
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    names = sys.argv[2:] or DEFAULT_QUERIES

    from oups_spark.queries import REGISTRY, load_all_query_modules
    from oups_spark.session import get_spark

    load_all_query_modules()
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", f"scaleprobe_x{k}",
    )
    if not os.path.exists(os.path.join(root, "embeddings.parquet")):
        print(f"[probe] building {k}x dataset at {root} ...", flush=True)
        build_scaled(spark, root, k)

    def run(name, sf_dir):
        t0 = time.time()
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()
        return dt

    def out_rows(name, sf_dir):
        n = REGISTRY[name].fn(spark, sf_dir).count()
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()
        return n

    # A dup-heavy k× corpus (k identical copies per doc) has
    # quadratically more TRUE pairs per group — wall ratio alone
    # cannot separate candidate waste from contractual output growth,
    # so report the output-row ratio next to it: wall <= output
    # growth means the operator is output-bound, not wasteful.
    hdr_rows = f"rows@1x rows@{k}x o-ratio"
    print(f"{'query':34s} {'1x':>7s} {'%dx' % k:>8s} {'ratio':>6s}  {hdr_rows}")
    for name in names:
        if name not in REGISTRY:
            continue
        try:
            run(name, BASE)  # warm plan shape
            t1 = min(run(name, BASE), run(name, BASE))
            tk = min(run(name, root), run(name, root))
            r1 = out_rows(name, BASE)
            rk = out_rows(name, root)
            orat = (rk / r1) if r1 else float("inf")
            print(
                f"{name:34s} {t1:7.2f} {tk:8.2f} {tk / t1:6.2f}"
                f"  {r1} {rk} {orat:.1f}",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001
            print(f"{name:34s} FAILED: {type(exc).__name__}: {exc}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
