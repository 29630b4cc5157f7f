"""Streaming sink on the object-store backend (round-13): the native
sink's exactly-once story must compose with conditional-put CAS — a
crash AFTER a micro-batch's manifest commit but BEFORE the checkpoint
records the batch makes Spark REDELIVER it on restart, and the
keep-last merge + put-if-match must absorb the replay; a concurrent
batch writer through the same backend must serialize via the CAS."""

import os

import pandas as pd
import pyspark.sql.functions as F
import pytest

from oups_spark.store.dataset import OrderedDataset
from oups_spark.store.manifest import DeltaLogManifest, InMemoryObjectStore
from oups_spark.streaming.native import (
    streaming_segment_agg,
    write_stream_to_dataset,
)

SCHEMA = "ts timestamp, val double"
AGG = {"sum_val": ("val", "sum"), "max_val": ("val", "max")}


def _mk_rows(n=72, start="2024-01-01"):
    return pd.DataFrame(
        {
            "ts": pd.Timestamp(start)
            + pd.to_timedelta([i * 25 for i in range(n)], "min"),
            "val": [float((i * 13) % 37 - 18) for i in range(n)],
        }
    )


def _run(spark, src, path, ckpt, backend):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(src, "*"))
    )
    agged = streaming_segment_agg(
        stream, "ts", AGG, bin_by="1h", watermark="0 seconds"
    )
    write_stream_to_dataset(
        agged, path, checkpoint_dir=ckpt, backend=backend,
        conflict_retries=3,
    )


def test_crash_after_commit_redelivers_and_converges(
    spark, scratch, monkeypatch
):
    """Kill the sink right after batch 1's CAS commit (data durable,
    checkpoint not advanced): the restarted query REDELIVERS the
    batch; the keep-last merge on the bin label re-lands identical
    rows through a fresh put-if-match, and the final state equals the
    one-shot run. Then a later chunk resumes incrementally from the
    same checkpoint."""
    pdf = _mk_rows()
    cut = pd.Timestamp("2024-01-01 12:00")
    src = os.path.join(scratch, "src")
    path = os.path.join(scratch, "ds")
    ckpt = os.path.join(scratch, "ckpt")
    backend = DeltaLogManifest(InMemoryObjectStore())
    spark.createDataFrame(pdf[pdf["ts"] < cut], SCHEMA).coalesce(
        1
    ).write.parquet(os.path.join(src, "b1"))

    real_write = OrderedDataset.write
    armed = {"on": True}

    def crash_after_commit(self, *a, **k):
        real_write(self, *a, **k)
        # arm on the first write that actually COMMITTED: the sink now
        # routes empty micro-batches through write() too (they no-op
        # without a commit), and the pin is crash-after-first-commit
        if armed["on"] and self.exists:
            armed["on"] = False
            raise RuntimeError("injected crash after batch commit")

    monkeypatch.setattr(OrderedDataset, "write", crash_after_commit)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises((RuntimeError, StreamingQueryException)):
        _run(spark, src, path, ckpt, backend)
    monkeypatch.setattr(OrderedDataset, "write", real_write)
    # the commit IS durable in the object store (no posix manifest)
    assert OrderedDataset(spark, path, backend=backend).exists

    # restart: Spark redelivers the uncheckpointed batch
    _run(spark, src, path, ckpt, backend)
    got1 = (
        OrderedDataset(spark, path, backend=backend)
        .read().toPandas().sort_values("bin", ignore_index=True)
    )

    def one_shot(frame):
        df = spark.createDataFrame(frame, SCHEMA)
        wm = frame["ts"].max()
        return (
            df.groupBy(F.date_trunc("hour", "ts").alias("bin"))
            .agg(F.sum("val").alias("sum_val"), F.max("val").alias("max_val"))
            .filter(F.col("bin") + F.expr("INTERVAL 1 HOUR") <= F.lit(wm))
            .orderBy("bin")
            .toPandas()
            .reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(got1, one_shot(pdf[pdf["ts"] < cut]))

    # incremental resume with a second chunk
    spark.createDataFrame(pdf[pdf["ts"] >= cut], SCHEMA).coalesce(
        1
    ).write.parquet(os.path.join(src, "b2"))
    _run(spark, src, path, ckpt, backend)
    got2 = (
        OrderedDataset(spark, path, backend=backend)
        .read().toPandas().sort_values("bin", ignore_index=True)
    )
    pd.testing.assert_frame_equal(got2, one_shot(pdf))


def test_concurrent_batch_writer_serializes_via_cas(spark, scratch):
    """A plain batch writer committing through the SAME object-store
    backend between streaming runs: both commits land (generation
    advances per commit), the stream's next run resumes cleanly, and
    the union of rows is exact — CAS serialization, not last-writer-
    wins clobbering."""
    pdf = _mk_rows(48)
    cut = pd.Timestamp("2024-01-01 10:00")
    src = os.path.join(scratch, "src")
    path = os.path.join(scratch, "ds")
    ckpt = os.path.join(scratch, "ckpt")
    backend = DeltaLogManifest(InMemoryObjectStore())
    spark.createDataFrame(pdf[pdf["ts"] < cut], SCHEMA).coalesce(
        1
    ).write.parquet(os.path.join(src, "b1"))
    _run(spark, src, path, ckpt, backend)
    ds = OrderedDataset(spark, path, backend=backend)
    gen1 = ds.manifest.generation

    # concurrent batch writer: a far-future bin through the same CAS
    extra = pd.DataFrame(
        {"bin": [pd.Timestamp("2030-01-01")], "sum_val": [1.0],
         "max_val": [1.0]}
    )
    OrderedDataset(spark, path, backend=backend).write(
        df=spark.createDataFrame(extra),
        ordered_on="bin",
        duplicates_on=[],
        validate_monotonic=False,
    )

    spark.createDataFrame(pdf[pdf["ts"] >= cut], SCHEMA).coalesce(
        1
    ).write.parquet(os.path.join(src, "b2"))
    _run(spark, src, path, ckpt, backend)
    final = OrderedDataset(spark, path, backend=backend)
    assert final.manifest.generation >= gen1 + 2
    got = final.read().toPandas()
    assert pd.Timestamp("2030-01-01") in set(got["bin"])
    # every closed hour of the real data present exactly once
    wm = pdf["ts"].max()
    hours = pdf[pdf["ts"].dt.floor("h") + pd.Timedelta("1h") <= wm][
        "ts"
    ].dt.floor("h").nunique()
    assert (got["bin"] < pd.Timestamp("2030-01-01")).sum() == hours


def test_live_stream_absorbs_concurrent_compact_and_merge(
    spark, scratch, monkeypatch
):
    """Round-14 (VERDICT r13 ask #5): a LIVE streaming sink racing
    concurrent batch maintenance on the SAME dataset. Between batch
    2's manifest load and its commit, another handle lands a
    compact() (rewriting batch 1's files) AND a merge_into (updating
    an old bin) — the sink's commit loses the CAS and must absorb
    both through rebase/re-run (conflict_retries), never clobbering
    or losing either side. Final read equals the serial result:
    every closed bin once, the merge's update applied, generations
    strictly advancing."""
    import pyspark.sql.functions as SF

    pdf = _mk_rows(96)  # 40 h at 25-min cadence
    cuts = [pd.Timestamp("2024-01-01 12:00"), pd.Timestamp("2024-01-02 02:00")]
    src = os.path.join(scratch, "src")
    path = os.path.join(scratch, "ds")
    ckpt = os.path.join(scratch, "ckpt")
    backend = DeltaLogManifest(InMemoryObjectStore())
    parts = [
        pdf[pdf["ts"] < cuts[0]],
        pdf[(pdf["ts"] >= cuts[0]) & (pdf["ts"] < cuts[1])],
        pdf[pdf["ts"] >= cuts[1]],
    ]
    for i, part in enumerate(parts):
        spark.createDataFrame(part, SCHEMA).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}")
        )

    target_bin = pd.Timestamp("2024-01-01 01:00")  # a batch-1 bin
    real_write = OrderedDataset.write
    state = {"n": 0, "conflicts": 0, "injected": False}

    def racing_write(self, *a, **k):
        mine = os.path.abspath(self.path) == os.path.abspath(path)
        # inject on the first sink write AFTER a data commit landed
        # (the sink now routes empty micro-batches through write()
        # too, so call order no longer implies a prior commit)
        if mine and self.exists and not state["injected"]:
            state["injected"] = True
            # the sink handle already loaded its manifest (in the
            # constructor) — these two commits make it stale, forcing
            # a genuine CAS race on the sink's commit
            OrderedDataset(spark, path, backend=backend).compact(
                row_group_target_size=500
            )
            upd = spark.createDataFrame(
                pd.DataFrame({"bin": [target_bin], "sum_val": [999.0],
                              "max_val": [999.0]})
            )
            OrderedDataset(spark, path, backend=backend).merge_into(
                upd, on="bin",
                when_matched_update={"sum_val": SF.lit(999.0)},
                when_not_matched_insert=False,
            )
        if mine:
            state["n"] += 1
        out = real_write(self, *a, **k)
        if mine:
            state["conflicts"] += self.conflict_reruns + self.conflict_rebases
        return out

    monkeypatch.setattr(OrderedDataset, "write", racing_write)
    _run(spark, src, path, ckpt, backend)
    monkeypatch.setattr(OrderedDataset, "write", real_write)

    assert state["n"] >= 3  # three batches went through the sink
    assert state["conflicts"] >= 1, "the race never materialized"

    # serial result: one-shot agg over all rows, closed bins only,
    # with the merge's update applied to the target bin
    wm = pdf["ts"].max()
    want = (
        spark.createDataFrame(pdf, SCHEMA)
        .groupBy(F.date_trunc("hour", "ts").alias("bin"))
        .agg(F.sum("val").alias("sum_val"), F.max("val").alias("max_val"))
        .filter(F.col("bin") + F.expr("INTERVAL 1 HOUR") <= F.lit(wm))
        .withColumn(
            "sum_val",
            F.when(F.col("bin") == F.lit(target_bin), 999.0)
            .otherwise(F.col("sum_val")),
        )
        .orderBy("bin")
        .toPandas()
        .reset_index(drop=True)
    )
    got = (
        OrderedDataset(spark, path, backend=backend)
        .read().toPandas().sort_values("bin", ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want)
