"""AggStream acceptance gate (FIXTURES F2, reference test model
``test_aggstream_simple.py``): *restart equivalence* — any chunking
of the seed, including process restarts between chunks, must produce
byte-identical results to a one-shot run."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from oups_spark.store import driver_gate
from oups_spark.streaming.aggstream import AggStream, KeyConfig

AGG = {
    "first_val": ("val", "first"),
    "last_val": ("val", "last"),
    "min_val": ("val", "min"),
    "max_val": ("val", "max"),
    "sum_val": ("val", "sum"),
    "sum_qty": ("qty", "sum"),
}


def make_ticks(n=97, start="2024-01-01", freq="21min", seed=7):
    """F2 shape: ~30-min-spaced ticks across several days, duplicate
    trailing timestamps, negative values, no zeros."""
    rng = np.random.default_rng(seed)
    ts = pd.date_range(start, periods=n, freq=freq)
    # duplicate the final timestamp 3x (discard_last holdback case)
    ts = ts.append(pd.DatetimeIndex([ts[-1], ts[-1]]))
    vals = rng.normal(10, 5, len(ts)).round(3)
    vals[vals == 0] = 1.0
    return pd.DataFrame(
        {
            "ts": ts,
            "id": range(len(ts)),
            "val": vals,
            "qty": rng.integers(1, 100, len(ts)),
        }
    )


def run_stream(spark, path, chunks, *, snap_path=None, snap_by=None,
               restart_each_chunk=False, discard_last=False, filters=None):
    cfg = KeyConfig(
        path=path, agg=AGG, bin_by="1h", snap_by=snap_by, snap_path=snap_path,
        tiebreak=["id"], filter=filters,
    )
    if restart_each_chunk:
        for c in chunks:
            stream = AggStream(spark, ordered_on="ts", keys={"k": cfg})
            stream.agg(spark.createDataFrame(c), discard_last=discard_last)
    else:
        stream = AggStream(spark, ordered_on="ts", keys={"k": cfg})
        stream.agg(
            [spark.createDataFrame(c) for c in chunks], discard_last=discard_last
        )


def read_bins(spark, path):
    from oups_spark.store.dataset import OrderedDataset

    return (
        OrderedDataset(spark, path)
        .read()
        .toPandas()
        .sort_values("bin", ignore_index=True)
    )


@pytest.mark.parametrize("split_points", [
    [40],            # one split inside a bin
    [33, 66],        # two splits
    [1, 2, 3, 50],   # tiny leading chunks
])
def test_chunked_equals_one_shot(spark, scratch, split_points):
    pdf = make_ticks()
    chunks = np.split(pdf, split_points)
    run_stream(spark, f"{scratch}/one", [pdf])
    run_stream(spark, f"{scratch}/many", chunks)
    pd.testing.assert_frame_equal(
        read_bins(spark, f"{scratch}/one"), read_bins(spark, f"{scratch}/many")
    )


def test_restart_from_metadata_equals_one_shot(spark, scratch):
    """Fresh AggStream objects per chunk: state must round-trip
    through the dataset's kv metadata (reference
    ``aggstream.py:274-369``)."""
    pdf = make_ticks()
    chunks = np.split(pdf, [30, 60, 80])
    run_stream(spark, f"{scratch}/one", [pdf])
    run_stream(spark, f"{scratch}/re", chunks, restart_each_chunk=True)
    pd.testing.assert_frame_equal(
        read_bins(spark, f"{scratch}/one"), read_bins(spark, f"{scratch}/re")
    )


@pytest.mark.parametrize("split_points", [[40], [33, 66], [1, 2, 3, 50]])
def test_chunked_equals_one_shot_spark_path(spark, scratch, monkeypatch, split_points):
    """The same gate with every chunk over the driver cap: the persisted
    Spark path."""
    monkeypatch.setattr(driver_gate, "MAX_ROWS", 0)
    test_chunked_equals_one_shot(spark, scratch, split_points)


def test_restart_from_metadata_equals_one_shot_spark_path(spark, scratch, monkeypatch):
    monkeypatch.setattr(driver_gate, "MAX_ROWS", 0)
    test_restart_from_metadata_equals_one_shot(spark, scratch)


@pytest.mark.parametrize("max_rows", [None, 0], ids=["driver", "spark"])
def test_mid_chunk_key_failure_replays_whole_chunk(spark, scratch, monkeypatch, max_rows):
    """Key 2's frame producer raising on chunk 2 moves no key's restart
    state, buffers or the held-back remainder; rerunning chunk 2 on the
    same stream replays it whole and converges to the one-shot result."""
    import pyspark.sql.functions as F

    from oups_spark.operators import segment_table
    from oups_spark.streaming.aggstream import _SparkChunk

    if max_rows is not None:
        monkeypatch.setattr(driver_gate, "MAX_ROWS", max_rows)
    pdf = make_ticks()
    chunks = np.split(pdf, [40, 70])

    def keys(tag):
        return {
            "a": KeyConfig(path=f"{scratch}/{tag}_a", agg=AGG, bin_by="1h",
                           snap_by="15min", snap_path=f"{scratch}/{tag}_as",
                           tiebreak=["id"]),
            "b": KeyConfig(path=f"{scratch}/{tag}_b", agg={"s": ("val", "sum")},
                           bin_by=7, tiebreak=["id"], bin_col="bin_id"),
            "c": KeyConfig(path=f"{scratch}/{tag}_c", agg=AGG, bin_by="1D",
                           tiebreak=["id"]),
        }

    def frozen(stream):
        def frames(fs):
            return [f.to_json(date_unit="us") for f in fs]

        return (
            {
                k: (st.restart_index, st.rows_so_far, frames(st.bin_buffer),
                    frames(st.snap_buffer))
                for k, st in stream.state.items()
            },
            stream.seed_remainder.to_json(date_unit="us"),
        )

    def key2_fails_spark(self, rows, cfg, rank_offset):
        return rows.select(F.raise_error(F.lit("key 2 failed")))

    def key2_fails_driver(on, rows, cfg, rank_offset):
        raise RuntimeError("key 2 failed")

    AggStream(spark, ordered_on="ts", keys=keys("one")).agg(spark.createDataFrame(pdf))
    stream = AggStream(spark, ordered_on="ts", keys=keys("re"))
    stream.agg(spark.createDataFrame(chunks[0]), final_write=False)
    before = frozen(stream)
    with monkeypatch.context() as m:
        m.setattr(_SparkChunk, "row_bins", key2_fails_spark)
        m.setattr(segment_table, "row_count_bins", key2_fails_driver)
        with pytest.raises(Exception, match="key 2 failed"):
            stream.agg(spark.createDataFrame(chunks[1]), final_write=False)
    assert frozen(stream) == before
    assert stream._pool is None  # the stream's executor is shut down
    stream.agg([spark.createDataFrame(c) for c in chunks[1:]])
    from oups_spark.store.dataset import OrderedDataset

    for k, sort in (("a", "bin"), ("as", ["bin", "snap"]), ("b", "bin_id"), ("c", "bin")):
        got, exp = (
            OrderedDataset(spark, f"{scratch}/{tag}_{k}").read().toPandas()
            .sort_values(sort, ignore_index=True)
            for tag in ("re", "one")
        )
        pd.testing.assert_frame_equal(got, exp)


def test_discard_last_holdback_reenters(spark, scratch):
    """Held-back trailing rows must be aggregated exactly once, when
    the next chunk arrives."""
    pdf = make_ticks()
    chunks = np.split(pdf, [50])
    # chunked run with discard_last: chunk 1's trailing ts re-enters
    # with chunk 2; chunk 2's trailing ts (the duplicated final ts)
    # stays held back in both runs.
    run_stream(spark, f"{scratch}/dl", chunks, discard_last=True)
    run_stream(spark, f"{scratch}/os", [pdf], discard_last=True)
    got, exp = read_bins(spark, f"{scratch}/dl"), read_bins(spark, f"{scratch}/os")
    pd.testing.assert_frame_equal(got, exp)
    # and the final duplicated timestamp must NOT be in the result
    final_bin = pdf["ts"].iloc[-1].floor("1h")
    last_rows = pdf[pdf["ts"] == pdf["ts"].iloc[-1]]
    full = read_bins(spark, f"{scratch}/os")
    got_sum = full.loc[full["bin"] == final_bin, "sum_val"]
    if len(got_sum):
        # bin sum excludes the held-back rows
        in_bin = pdf[(pdf["ts"] >= final_bin) & (pdf["ts"] < pdf["ts"].iloc[-1])]
        assert got_sum.iloc[0] == pytest.approx(in_bin["val"].sum())


def test_trim_start_no_double_count(spark, scratch):
    pdf = make_ticks()
    c1, c2 = np.split(pdf, [60])
    path = f"{scratch}/trim"
    run_stream(spark, path, [c1])
    # re-feed chunk 1 (already processed) + chunk 2: trim must drop c1
    stream = AggStream(
        spark, ordered_on="ts",
        keys={"k": KeyConfig(path=path, agg=AGG, bin_by="1h", tiebreak=["id"])},
    )
    stream.agg([spark.createDataFrame(pdf)], discard_last=False)
    run_stream(spark, f"{scratch}/one", [pdf])
    pd.testing.assert_frame_equal(
        read_bins(spark, path), read_bins(spark, f"{scratch}/one")
    )


def test_tail_chunk_below_restart_is_noop(spark, scratch):
    pdf = make_ticks()
    path = f"{scratch}/tail"
    run_stream(spark, path, [pdf])
    before = read_bins(spark, path)
    stream = AggStream(
        spark, ordered_on="ts",
        keys={"k": KeyConfig(path=path, agg=AGG, bin_by="1h", tiebreak=["id"])},
    )
    stream.agg([spark.createDataFrame(pdf.iloc[:20])], discard_last=False)
    pd.testing.assert_frame_equal(before, read_bins(spark, path))


def test_multi_key_filter_fanout(spark, scratch):
    """Two keys off one seed, each with its own DNF filter and bin
    width (reference F2 fan-out, ``aggstream.py:571-591``)."""
    pdf = make_ticks()
    keys = {
        "big": KeyConfig(
            path=f"{scratch}/big", agg={"sum_val": ("val", "sum")}, bin_by="2h",
            filter=[("val", ">", 10.0)], tiebreak=["id"],
        ),
        "small": KeyConfig(
            path=f"{scratch}/small", agg={"sum_val": ("val", "sum")}, bin_by="1h",
            filter=[("val", "<=", 10.0)], tiebreak=["id"],
        ),
    }
    stream = AggStream(spark, ordered_on="ts", keys=keys)
    chunks = np.split(pdf, [40, 70])
    stream.agg([spark.createDataFrame(c) for c in chunks], discard_last=False)

    big = read_bins(spark, f"{scratch}/big")
    exp_big = (
        pdf[pdf["val"] > 10.0].set_index("ts").resample("2h")["val"].sum(min_count=1)
    ).dropna()
    assert list(big["sum_val"]) == pytest.approx(list(exp_big))
    small = read_bins(spark, f"{scratch}/small")
    exp_small = (
        pdf[pdf["val"] <= 10.0].set_index("ts").resample("1h")["val"].sum(min_count=1)
    ).dropna()
    assert list(small["sum_val"]) == pytest.approx(list(exp_small))


def test_snapshots_chunked_equals_one_shot(spark, scratch):
    pdf = make_ticks()
    chunks = np.split(pdf, [25, 50, 75])
    run_stream(spark, f"{scratch}/sone", [pdf],
               snap_path=f"{scratch}/sone_snap", snap_by="15min")
    run_stream(spark, f"{scratch}/smany", chunks,
               snap_path=f"{scratch}/smany_snap", snap_by="15min",
               restart_each_chunk=True)
    from oups_spark.store.dataset import OrderedDataset

    one = OrderedDataset(spark, f"{scratch}/sone_snap").read().toPandas().sort_values(
        ["bin", "snap"], ignore_index=True
    )
    many = OrderedDataset(spark, f"{scratch}/smany_snap").read().toPandas().sort_values(
        ["bin", "snap"], ignore_index=True
    )
    pd.testing.assert_frame_equal(one, many)


def test_pre_failure_flushes_prefix_and_restart_resumes(spark, scratch):
    """A pre hook failing mid-stream must leave the store equal to a
    clean run over the good prefix (buffered bins + restart state are
    flushed before the exception propagates), and a restarted stream
    over the remaining chunks must land exactly on the one-shot
    result (reference SeedPreException path, aggstream.py:1508-1528)."""
    from oups_spark.streaming.aggstream import SeedPreException

    pdf = make_ticks()
    chunks = np.split(pdf, [40, 70])

    run_stream(spark, f"{scratch}/golden", chunks)
    run_stream(spark, f"{scratch}/prefix", chunks[:2])

    calls = {"n": 0}

    def pre(chunk, buf):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("boom")
        return chunk

    cfg = KeyConfig(
        path=f"{scratch}/fail", agg=AGG, bin_by="1h", tiebreak=["id"]
    )
    stream = AggStream(spark, ordered_on="ts", keys={"k": cfg}, pre=pre)
    with pytest.raises(SeedPreException, match="boom"):
        stream.agg(
            [spark.createDataFrame(c) for c in chunks], discard_last=False
        )
    pd.testing.assert_frame_equal(
        read_bins(spark, f"{scratch}/fail"),
        read_bins(spark, f"{scratch}/prefix"),
    )

    # restart (fresh object, state from kv metadata) over the
    # remaining chunk completes to the one-shot result
    stream2 = AggStream(spark, ordered_on="ts", keys={"k": cfg})
    stream2.agg(spark.createDataFrame(chunks[2]), discard_last=False)
    pd.testing.assert_frame_equal(
        read_bins(spark, f"{scratch}/fail"),
        read_bins(spark, f"{scratch}/golden"),
    )


def test_pre_post_hooks_with_buffers(spark, scratch):
    import pyspark.sql.functions as F

    pdf = make_ticks()

    def pre(chunk, buffer):
        buffer["n_chunks"] = buffer.get("n_chunks", 0) + 1
        return chunk.withColumn("val", F.col("val") * 2)

    def post(buffer, bins):
        buffer["n_posts"] = buffer.get("n_posts", 0) + 1
        out = bins.copy()
        out["doubled_sum"] = out["sum_val"]
        return out

    cfg = KeyConfig(path=f"{scratch}/hooks", agg=AGG, bin_by="1h",
                    tiebreak=["id"], post=post)
    stream = AggStream(spark, ordered_on="ts", keys={"k": cfg}, pre=pre)
    stream.agg([spark.createDataFrame(pdf)], discard_last=False)
    out = read_bins(spark, f"{scratch}/hooks")
    assert "doubled_sum" in out.columns
    exp = pdf.set_index("ts").resample("1h")["val"].sum(min_count=1).dropna() * 2
    assert list(out["sum_val"]) == pytest.approx(list(exp))
    assert stream.pre_buffer["n_chunks"] == 1


def test_row_count_bins_chunked_equals_one_shot(spark, scratch):
    """AggStream with bin_by=int (by_x_rows): bin ids and labels must
    continue across chunks and process restarts."""
    pdf = make_ticks()

    def run(path, chunks):
        for c in chunks:
            s = AggStream(
                spark, ordered_on="ts",
                keys={"k": KeyConfig(path=path, agg={"sum_val": ("val", "sum")},
                                      bin_by=7, tiebreak=["id"], bin_col="bin_id")},
            )
            s.agg(spark.createDataFrame(c), discard_last=False)

    run(f"{scratch}/one", [pdf])
    run(f"{scratch}/many", np.split(pdf, [20, 45, 46, 80]))
    from oups_spark.store.dataset import OrderedDataset

    one = OrderedDataset(spark, f"{scratch}/one").read().toPandas().sort_values(
        "bin_id", ignore_index=True
    )
    many = OrderedDataset(spark, f"{scratch}/many").read().toPandas().sort_values(
        "bin_id", ignore_index=True
    )
    pd.testing.assert_frame_equal(one, many)
    # oracle: pandas fixed-size grouping
    exp_sum = [g["val"].sum() for _, g in pdf.groupby(pdf.reset_index().index // 7)]
    assert list(one["sum_val"]) == pytest.approx(exp_sum)
    exp_labels = [g["ts"].iloc[0] for _, g in pdf.groupby(pdf.reset_index().index // 7)]
    assert list(one["bin_label"]) == exp_labels


def test_memory_budget_flush_equals_one_shot(spark, scratch):
    """T7: a tiny max_buffered_bins forces a store flush after every
    chunk; the final result must still equal the one-shot run."""
    pdf = make_ticks()
    chunks = np.split(pdf, [30, 60])
    run_stream(spark, f"{scratch}/one", [pdf])
    cfg = KeyConfig(path=f"{scratch}/budget", agg=AGG, bin_by="1h", tiebreak=["id"])
    stream = AggStream(
        spark, ordered_on="ts", keys={"k": cfg}, max_buffered_bins=1
    )
    stream.agg([spark.createDataFrame(c) for c in chunks], discard_last=False)
    pd.testing.assert_frame_equal(
        read_bins(spark, f"{scratch}/one"), read_bins(spark, f"{scratch}/budget")
    )


def test_lagged_key_restart_no_double_count(spark, scratch):
    """A key whose kv write lagged (its post returned nothing, so the
    flush skipped the write) must catch up from its OWN watermark on
    restart — and must not force the up-to-date keys to re-aggregate
    rows already folded into their persisted accumulators (sums would
    double-count)."""
    pdf = make_ticks()
    c1, c2 = np.split(pdf, [40])
    calls = {"n": 0}

    def flaky_post(buffer, bins):
        calls["n"] += 1
        # second flush (chunk 2) produces nothing -> kv write skipped,
        # key "b" restart index stays at chunk 1's watermark
        return bins.iloc[0:0] if calls["n"] == 2 else bins

    def keys():
        return {
            "a": KeyConfig(path=f"{scratch}/lag_a", agg=AGG, bin_by="1h",
                           tiebreak=["id"]),
            "b": KeyConfig(path=f"{scratch}/lag_b", agg=AGG, bin_by="1h",
                           tiebreak=["id"], post=flaky_post),
        }

    AggStream(spark, ordered_on="ts", keys=keys()).agg(
        spark.createDataFrame(c1), discard_last=False
    )
    AggStream(spark, ordered_on="ts", keys=keys()).agg(
        spark.createDataFrame(c2), discard_last=False
    )
    # restart: key b's kv is at chunk 1's watermark, key a's at chunk
    # 2's. Re-feed from b's watermark (chunk 2 onward): b reprocesses
    # chunk 2, a must skip it entirely.
    AggStream(spark, ordered_on="ts", keys=keys()).agg(
        spark.createDataFrame(c2), discard_last=False
    )
    run_stream(spark, f"{scratch}/lag_one", [pdf])
    exp = read_bins(spark, f"{scratch}/lag_one")
    pd.testing.assert_frame_equal(read_bins(spark, f"{scratch}/lag_a"), exp)
    pd.testing.assert_frame_equal(read_bins(spark, f"{scratch}/lag_b"), exp)


def test_new_key_joins_running_stream(spark, scratch):
    """A key added after other keys have progressed (restart index
    None) must see ALL rows of the re-fed seed — the global trim must
    not cut it to the veteran keys' watermark."""
    pdf = make_ticks()
    c1, c2 = np.split(pdf, [60])
    cfg_a = KeyConfig(path=f"{scratch}/vet", agg=AGG, bin_by="1h", tiebreak=["id"])
    AggStream(spark, ordered_on="ts", keys={"a": cfg_a}).agg(
        spark.createDataFrame(c1), discard_last=False
    )
    cfg_b = KeyConfig(path=f"{scratch}/new", agg=AGG, bin_by="2h", tiebreak=["id"])
    AggStream(spark, ordered_on="ts", keys={"a": cfg_a, "b": cfg_b}).agg(
        spark.createDataFrame(pdf), discard_last=False
    )
    run_stream(spark, f"{scratch}/vet_one", [pdf])
    pd.testing.assert_frame_equal(
        read_bins(spark, f"{scratch}/vet"), read_bins(spark, f"{scratch}/vet_one")
    )
    exp_b = (
        pdf.set_index("ts").resample("2h")["val"].sum(min_count=1).dropna()
    )
    got_b = read_bins(spark, f"{scratch}/new")
    assert list(got_b["sum_val"]) == pytest.approx(list(exp_b))


def test_disordered_seed_across_chunks_rejected(spark, scratch):
    """T9: a chunk starting before the restart index (seed went
    backwards) raises instead of silently corrupting bins."""
    pdf = make_ticks()
    first, second = np.split(pdf, [60])
    cfg = KeyConfig(path=f"{scratch}/dis", agg=AGG, bin_by="1h", tiebreak=["id"])
    stream = AggStream(spark, ordered_on="ts", keys={"k": cfg})
    stream.agg(spark.createDataFrame(first), discard_last=False)
    stream2 = AggStream(spark, ordered_on="ts", keys={"k": cfg})
    with pytest.raises(ValueError, match="not ordered across chunks"):
        stream2.agg(spark.createDataFrame(pdf), trim_start=False)


def test_custom_binner_chunked_equals_one_shot(spark, scratch):
    """AggStream with a custom BinBy (volume bars): bin ids and the
    carried accumulator must continue across chunks and process
    restarts via kv metadata."""
    from oups_spark.operators.binby import VolumeBarBinner

    pdf = make_ticks()
    pdf["vol"] = (pdf["qty"] * 1.0).astype("float64")

    def run(path, chunks):
        for c in chunks:
            s = AggStream(
                spark, ordered_on="ts",
                keys={"k": KeyConfig(
                    path=path, agg={"sum_val": ("val", "sum")},
                    bin_by=VolumeBarBinner("vol", 500.0),
                    tiebreak=["id"], bin_col="bin_id",
                )},
            )
            s.agg(spark.createDataFrame(c), discard_last=False)

    run(f"{scratch}/vb_one", [pdf])
    run(f"{scratch}/vb_many", np.split(pdf, [25, 60, 61]))
    from oups_spark.store.dataset import OrderedDataset

    one = OrderedDataset(spark, f"{scratch}/vb_one").read().toPandas().sort_values(
        "bin_id", ignore_index=True
    )
    many = OrderedDataset(spark, f"{scratch}/vb_many").read().toPandas().sort_values(
        "bin_id", ignore_index=True
    )
    pd.testing.assert_frame_equal(one, many)
    # oracle: pandas exclusive prefix over vol
    excl = pdf["vol"].cumsum() - pdf["vol"]
    exp_bins = (excl // 500.0).astype("int64")
    exp = pdf.groupby(exp_bins)["val"].sum()
    assert list(one["sum_val"]) == pytest.approx(list(exp))


def test_chunked_anchored_and_quarter_bins_equal_one_shot(spark, scratch):
    """Round-3 grid generality flows through AggStream: offset-anchored
    fixed bins and multi-period calendar bins must both satisfy the
    restart-equivalence gate."""
    pdf = make_ticks(n=300, freq="7h")  # spans several months
    chunks = np.split(pdf, [100, 200])

    def run(path, chunk_list, bin_by, **cfg_kw):
        cfg = KeyConfig(
            path=path, agg=AGG, bin_by=bin_by, tiebreak=["id"], **cfg_kw
        )
        stream = AggStream(spark, ordered_on="ts", keys={"k": cfg})
        stream.agg([spark.createDataFrame(c) for c in chunk_list],
                   discard_last=False)

    # multi-period calendar bins (quarters)
    run(f"{scratch}/q_one", [pdf], "3MS")
    run(f"{scratch}/q_many", chunks, "3MS")
    pd.testing.assert_frame_equal(
        read_bins(spark, f"{scratch}/q_one"),
        read_bins(spark, f"{scratch}/q_many"),
    )

    # offset-anchored fixed bins (grid shifted to 09:30)
    run(f"{scratch}/o_one", [pdf], "1D", offset="9h30min")
    run(f"{scratch}/o_many", chunks, "1D", offset="9h30min")
    one = read_bins(spark, f"{scratch}/o_one")
    pd.testing.assert_frame_equal(one, read_bins(spark, f"{scratch}/o_many"))
    assert (one["bin"].dt.strftime("%H:%M") == "09:30").all()


def test_calendar_snapshots_chunked_equals_one_shot(spark, scratch):
    """Monthly snapshots inside yearly bins flow through chunked
    AggStream with restarts: the label-keyed stitching is grid-shape
    agnostic, so calendar snap grids satisfy the equivalence gate."""
    rng = np.random.default_rng(3)
    ts = pd.date_range("2023-01-05", periods=200, freq="3D")
    pdf = pd.DataFrame(
        {
            "ts": ts,
            "id": range(len(ts)),
            "val": rng.normal(10, 5, len(ts)).round(3),
            "qty": rng.integers(1, 50, len(ts)),
        }
    )
    agg = {"sum_val": ("val", "sum"), "max_val": ("val", "max")}

    def run(path, chunk_list):
        # FRESH AggStream per chunk: state (year-bin accumulator,
        # restart index) must round-trip through kv metadata
        for c in chunk_list:
            cfg = KeyConfig(
                path=f"{path}/bins", snap_path=f"{path}/snaps", agg=agg,
                bin_by="1Y", snap_by="MS", tiebreak=["id"],
            )
            stream = AggStream(spark, ordered_on="ts", keys={"k": cfg})
            stream.agg(spark.createDataFrame(c), discard_last=False)
        from oups_spark.store.dataset import OrderedDataset

        return OrderedDataset(spark, f"{path}/snaps").read().toPandas(
        ).sort_values(["bin", "snap"], ignore_index=True)

    one = run(f"{scratch}/cs_one", [pdf])
    many = run(f"{scratch}/cs_many", np.split(pdf, [70, 140]))
    pd.testing.assert_frame_equal(one, many)
    assert (one["snap"].dt.day == 1).all()  # month-start grid


def test_edge_bins_chunked_equals_one_shot(spark, scratch):
    """Explicit-edge bin_by (reference by_scale Series in the
    streamed engine): chunked + process-restarted runs must match a
    one-shot run, including empty bins (which materialize exactly
    once, when the watermark passes their end) and a bin straddling
    a chunk boundary."""
    pdf = make_ticks(n=97)  # ~34h of 21-min ticks from Jan 1
    edges = pd.to_datetime([
        "2024-01-01 02:00", "2024-01-01 02:00:00.000001",  # near-empty sliver
        "2024-01-01 11:30", "2024-01-01 18:45", "2024-01-02 09:00",
    ], format="mixed")

    def run(path, chunks, restart_each=False):
        def mk():
            return AggStream(
                spark, ordered_on="ts",
                keys={"k": KeyConfig(
                    path=path, agg=AGG, bin_by=list(edges), tiebreak=["id"],
                )},
            )
        if restart_each:
            for c in chunks:
                mk().agg(spark.createDataFrame(c), discard_last=False)
        else:
            mk().agg([spark.createDataFrame(c) for c in chunks],
                     discard_last=False)

    run(f"{scratch}/e_one", [pdf])
    run(f"{scratch}/e_many", np.split(pdf, [10, 40, 41, 70]))
    run(f"{scratch}/e_restart", np.split(pdf, [33, 66]), restart_each=True)
    one = read_bins(spark, f"{scratch}/e_one")
    pd.testing.assert_frame_equal(one, read_bins(spark, f"{scratch}/e_many"))
    pd.testing.assert_frame_equal(one, read_bins(spark, f"{scratch}/e_restart"))

    # pandas oracle: closed-left chunks ending at each edge, rows past
    # the last edge dropped, empty chunks as null rows
    idx = np.searchsorted(edges.values, pdf["ts"].values, side="right")
    kept = pdf[idx < len(edges)].copy()
    kept["bin"] = edges[np.searchsorted(edges.values, kept["ts"].values, side="right")]
    exp = kept.groupby("bin")["val"].sum()
    got = one.set_index("bin")["sum_val"]
    for e in edges:
        if e in exp.index:
            assert got[e] == pytest.approx(exp[e])
        else:
            assert e in got.index and pd.isna(got[e])


def test_restart_with_changed_config_rejected(spark, scratch):
    """A fresh AggStream resuming against persisted state must use
    the SAME bin/agg layout that produced it (reference raises on
    mismatched restart indexes, aggstream.py:360); a changed bin_by
    or agg spec would silently corrupt the carried accumulator."""
    pdf = make_ticks()
    chunks = np.split(pdf, [50])
    path = f"{scratch}/cfg_guard"
    cfg = KeyConfig(path=path, agg=AGG, bin_by="1h", tiebreak=["id"])
    # discard_last=False: with disjoint chunks across process
    # restarts, held-back rows would live only in the dead process's
    # seed_remainder (same protocol as
    # test_restart_from_metadata_equals_one_shot)
    AggStream(spark, ordered_on="ts", keys={"k": cfg}).agg(
        spark.createDataFrame(chunks[0]), discard_last=False
    )

    # different bin_by -> refused
    bad_bin = KeyConfig(path=path, agg=AGG, bin_by="4h", tiebreak=["id"])
    with pytest.raises(ValueError, match="restart config"):
        AggStream(spark, ordered_on="ts", keys={"k": bad_bin})

    # different agg spec -> refused
    bad_agg = KeyConfig(
        path=path, agg={"sum_val": ("val", "sum")}, bin_by="1h", tiebreak=["id"]
    )
    with pytest.raises(ValueError, match="restart config"):
        AggStream(spark, ordered_on="ts", keys={"k": bad_agg})

    # unchanged config resumes and still equals the one-shot run
    AggStream(spark, ordered_on="ts", keys={"k": cfg}).agg(
        spark.createDataFrame(chunks[1]), discard_last=False
    )
    run_stream(spark, f"{scratch}/cfg_oneshot", [pdf])
    pd.testing.assert_frame_equal(
        read_bins(spark, path), read_bins(spark, f"{scratch}/cfg_oneshot")
    )


def test_foreign_dataset_and_shared_path_rejected(spark, scratch):
    """Reference parity (test_aggstream_init.py): a key must not point
    at an existing dataset AggStream did not produce, and two keys
    must not share one dataset path."""
    import os

    from oups_spark.store.dataset import OrderedDataset

    foreign = os.path.join(scratch, "foreign_ds")
    pdf = make_ticks(n=10)
    OrderedDataset(spark, foreign).write(
        df=spark.createDataFrame(pdf), ordered_on="ts"
    )
    cfg = KeyConfig(path=foreign, agg=AGG, bin_by="1h", tiebreak=["id"])
    with pytest.raises(ValueError, match="not written by AggStream"):
        AggStream(spark, ordered_on="ts", keys={"k": cfg})

    shared = os.path.join(scratch, "shared_ds")
    c1 = KeyConfig(path=shared, agg=AGG, bin_by="1h")
    c2 = KeyConfig(path=shared, agg=AGG, bin_by="4h")
    with pytest.raises(ValueError, match="share a dataset path"):
        AggStream(spark, ordered_on="ts", keys={"a": c1, "b": c2})


def test_dual_sink_crash_between_commits_converges(spark, scratch, monkeypatch):
    """T8 dual-sink atomicity: bins and snapshots are two separate
    commits, with restart state carried by the BINS dataset alone —
    so the snaps commit lands first, and a crash BETWEEN the commits
    leaves snaps ahead of the recorded restart_index. Re-invocation
    must reprocess that window (the bins cursor never advanced) and
    converge to the one-shot result on BOTH sinks, the re-emitted
    snap rows absorbed by the keep-last merge."""
    from oups_spark.store.dataset import OrderedDataset

    pdf = make_ticks()
    chunks = np.split(pdf, [35, 70])
    run_stream(spark, f"{scratch}/one", [pdf],
               snap_path=f"{scratch}/one_snap", snap_by="15min")

    bins_path = f"{scratch}/c_bins"
    snap_path = f"{scratch}/c_snaps"

    def mk():
        cfg = KeyConfig(
            path=bins_path, agg=AGG, bin_by="1h", snap_by="15min",
            snap_path=snap_path, tiebreak=["id"],
        )
        return AggStream(spark, ordered_on="ts", keys={"k": cfg})

    mk().agg(spark.createDataFrame(chunks[0]), discard_last=False)
    ri_before = OrderedDataset(spark, bins_path).key_value_metadata[
        "aggstream"
    ]["restart_index"]

    # inject a crash exactly between the two commits of chunk 2's
    # flush: the snaps write (first) succeeds, the bins write raises
    armed = {"on": True}
    real_write = OrderedDataset.write

    def boom(self, *a, **k):
        if armed["on"] and str(self.path).endswith("c_bins"):
            armed["on"] = False
            raise RuntimeError("injected crash between dual-sink commits")
        return real_write(self, *a, **k)

    monkeypatch.setattr(OrderedDataset, "write", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        mk().agg(spark.createDataFrame(chunks[1]), discard_last=False)
    monkeypatch.setattr(OrderedDataset, "write", real_write)

    # the torn state is real: snaps are AHEAD of the bins cursor
    snaps_mid = OrderedDataset(spark, snap_path).read().toPandas()
    ri_mid = OrderedDataset(spark, bins_path).key_value_metadata[
        "aggstream"
    ]["restart_index"]
    assert ri_mid == ri_before
    assert snaps_mid["snap"].max() > ri_mid

    # restart re-feeds from the (unadvanced) cursor: chunk 2 re-enters
    # fully via trim_start, chunk 3 follows
    mk().agg([spark.createDataFrame(chunks[1]),
              spark.createDataFrame(chunks[2])], discard_last=False)

    pd.testing.assert_frame_equal(
        read_bins(spark, bins_path), read_bins(spark, f"{scratch}/one")
    )
    got_snaps = OrderedDataset(spark, snap_path).read().toPandas(
    ).sort_values(["bin", "snap"], ignore_index=True)
    exp_snaps = OrderedDataset(spark, f"{scratch}/one_snap").read().toPandas(
    ).sort_values(["bin", "snap"], ignore_index=True)
    pd.testing.assert_frame_equal(got_snaps, exp_snaps)
