#!/usr/bin/env python
"""Distributed-fallback probe (round 15, VERDICT r14 ask #2).

The rounds-14/15 driver fast paths (merge write, merge_into, DML,
CDC merge_latest, zorder rewrite, register folds) are row/byte-gated:
under the caps the work runs driver-side, over them the ORIGINAL
distributed plans run. The fast paths are bench-visible; the
fallbacks are the 100 TB story and must be measured, not assumed.

This probe builds k×-scaled events (default k=10 → 1M rows, every
driver gate exceeded) and times each operator at 1× (gates pass →
driver path) and k× (gates exceeded → distributed path), printing
which path the gate arithmetic selects at each size. A healthy
fallback scales ~linearly in rows; a super-linear ratio or an error
means the distributed plan rotted behind the fast path.

Usage: python tools/fallback_probe.py [k]
Writes only under .scratch/; prints one table row per operator.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"


def main() -> int:
    import pyspark.sql.functions as F

    from oups_spark.queries._scratch import fresh
    from oups_spark.session import get_spark
    from oups_spark.store import driver_gate
    from oups_spark.store.dataset import OrderedDataset
    from oups_spark.streaming.aggstream import AggStream, KeyConfig
    from oups_spark.streaming.cdc import commit_state, merge_latest
    from oups_spark.tables import load

    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("oups-fallback-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    root = fresh("fallback_probe")

    def scaled_events(mult: int):
        ev = load(spark, BASE, "events")
        if mult == 1:
            return ev
        n_ev = 100_000
        parts = [
            ev.select(
                (F.col("event_id") + i * n_ev).alias("event_id"),
                (F.col("ts") + F.expr(f"INTERVAL {i * 40} DAYS")).alias("ts"),
                (F.col("user_id") + i * 100_000).alias("user_id"),
                "event_type", "value",
            )
            for i in range(mult)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def path_for(mult, rows):
        return "driver" if rows <= driver_gate.MAX_ROWS else "DISTRIBUTED"

    results = []

    def probe(op, mult, fn, gate_rows):
        t0 = time.time()
        fn()
        wall = time.time() - t0
        results.append((op, mult, gate_rows, path_for(mult, gate_rows), wall))
        print(
            f"{op:<28} x{mult:<3} rows={gate_rows:<9} "
            f"path={path_for(mult, gate_rows):<12} {wall:6.2f}s",
            flush=True,
        )

    for mult in (1, k):
        n = 100_000 * mult
        ev = scaled_events(mult).select("event_id", "ts", "user_id", "value")
        base_rows = (
            ev.orderBy("event_id")
            .withColumn("event_id", F.col("event_id").cast("long"))
        )
        d = os.path.join(root, f"x{mult}")

        # ---- ordered merge write: batch overlapping the whole table
        ds_w = OrderedDataset(spark, os.path.join(d, "w"))
        ds_w.write(df=base_rows, ordered_on="event_id",
                   row_group_target_size=250_000)
        upd = base_rows.withColumn("value", F.col("value") + 1.0)
        probe("write merge (full overlap)", mult,
              lambda: ds_w.write(df=upd, ordered_on="event_id",
                                 duplicates_on=["event_id"],
                                 row_group_target_size=250_000,
                                 validate_monotonic=False),
              2 * n)

        # ---- merge_into: update half the keys, insert a tail
        ds_m = OrderedDataset(spark, os.path.join(d, "m"))
        ds_m.write(df=base_rows, ordered_on="event_id",
                   row_group_target_size=250_000)
        src = base_rows.filter(F.col("event_id") % 2 == 0).withColumn(
            "value", F.col("value") * 2.0
        )
        n_src = n // 2
        probe("merge_into (update half)", mult,
              lambda: ds_m.merge_into(
                  src, on="event_id",
                  when_matched_update={"value": F.col("s.value")},
                  when_not_matched_insert=False,
              ),
              n_src)

        # ---- DML: delete a 10% range, update a 10% range
        ds_d = OrderedDataset(spark, os.path.join(d, "dml"))
        ds_d.write(df=base_rows, ordered_on="event_id",
                   row_group_target_size=250_000)
        probe("delete_where (10% range)", mult,
              lambda: ds_d.delete_where(
                  [[("event_id", ">=", 0), ("event_id", "<", n // 10)]]
              ),
              min(n, 250_000))  # gate = rows of the touched files
        probe("update_where (10% range)", mult,
              lambda: ds_d.update_where(
                  [[("event_id", ">=", n // 2),
                    ("event_id", "<", n // 2 + n // 10)]],
                  {"value": F.lit(0.0)},
              ),
              min(n, 250_000))

        # ---- CDC merge_latest: one changelog batch into 32 buckets
        cdc_path = os.path.join(d, "cdc_state")
        batch = base_rows.select(
            F.col("event_id").alias("k"), "ts", "value",
            F.lit(False).alias("is_delete"),
        )

        def run_cdc():
            cur, flat, touched = merge_latest(
                spark, batch, cdc_path,
                key="k", order_cols=["ts"], n_buckets=32,
            )
            if touched:
                flat.write.format("noop").mode("overwrite").save()
                commit_state(cdc_path, touched)

        probe("cdc merge_latest (1 batch)", mult, run_cdc, n)

        # ---- AggStream: one chunk into hourly bins and daily bins
        # with 6h snapshots (over the cap: the limit(cap+1) probe, then
        # the persisted Spark path)
        keys = {
            "h": KeyConfig(path=os.path.join(d, "agg_h"), bin_by="1h",
                           agg={"s": ("value", "sum"), "f": ("value", "first")}),
            "d": KeyConfig(path=os.path.join(d, "agg_d"), bin_by="1D",
                           snap_by="6h", snap_path=os.path.join(d, "agg_ds"),
                           agg={"s": ("value", "sum"), "hi": ("value", "max")}),
        }
        probe("aggstream chunk (2 keys)", mult,
              lambda: AggStream(spark, ordered_on="ts", keys=keys).agg(
                  ev, discard_last=False),
              n)

        # ---- OPTIMIZE ZORDER over the whole dataset
        ds_z = OrderedDataset(spark, os.path.join(d, "z"))
        ds_z.write(
            df=scaled_events(mult).select("user_id", "ts", "value"),
            ordered_on="ts", row_group_target_size=max(700, 700 * mult),
        )
        probe("compact zorder (full)", mult,
              lambda: ds_z.compact(zorder_by=["user_id", "value"],
                                   row_group_target_size=max(700, 700 * mult)),
              n)

    print("\nop, 1x wall, kx wall, ratio (k=%d)" % k)
    by_op = {}
    for op, mult, _rows, _path, wall in results:
        by_op.setdefault(op, {})[mult] = wall
    for op, t in by_op.items():
        r = t.get(k, float("nan")) / t.get(1, float("nan"))
        print(f"{op:<28} {t.get(1, -1):6.2f}s {t.get(k, -1):6.2f}s  {r:5.2f}x")
    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
