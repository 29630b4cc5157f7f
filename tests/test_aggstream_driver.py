"""AggStream's two per-key frame producers: a chunk under the driver
gate is aggregated from one Arrow table (``operators.segment_table``),
any other chunk by the Spark plans. Both must hand the same frames,
dtypes included, to the same per-key finish step."""

from __future__ import annotations

import datetime as dt
import time

import numpy as np
import pandas as pd
import pytest

from oups_spark.operators.binby import VolumeBarBinner
from oups_spark.streaming.aggstream import (
    AggStream,
    KeyConfig,
    _SparkChunk,
    _TableChunk,
)

DDL = "ts timestamp, id long, val double, qty long, vol double, tag string"
AGG = {
    "f": ("val", "first"),
    "l": ("val", "last"),
    "lo": ("val", "min"),
    "hi": ("val", "max"),
    "s": ("val", "sum"),
    "q": ("qty", "sum"),
    "qf": ("qty", "first"),
    "tlo": ("tag", "min"),
    "tl": ("tag", "last"),
}
T0 = dt.datetime(2024, 1, 30, 7, 10)


def _rows(n=160, seed=5):
    """Ordered rows over ~10 days crossing a month end, with repeated
    timestamps (``id`` breaks ties), NULL agg inputs — among them whole
    NULL hours and a NULL first row — and whole-number volumes."""
    rng = np.random.default_rng(seed)
    gaps = rng.choice([0, 7, 23, 61, 180], size=n, p=[0.2, 0.3, 0.2, 0.2, 0.1])
    ts = [T0 + dt.timedelta(minutes=int(m)) for m in np.cumsum(gaps)]
    rows = []
    for i, t in enumerate(ts):
        null_val = i == 0 or i % 9 == 4 or (t.day == 2 and t.hour in (3, 4))
        rows.append((
            t, i,
            None if null_val else float(rng.integers(-50, 50)) / 4,
            None if i % 7 == 3 else int(rng.integers(1, 9)),
            float(rng.integers(1, 20)),
            None if i % 5 == 1 else f"t{int(rng.integers(0, 30)):02d}",
        ))
    return rows


EDGES = [pd.Timestamp(x) for x in (
    "2024-01-30 12:00", "2024-01-30 12:00:00.000001", "2024-02-01 09:30",
    "2024-02-03", "2024-02-07 18:00", "2024-03-01",
)]
SNAP_EDGES = [pd.Timestamp(x) for x in (
    "2024-01-29 22:00", "2024-01-31", "2024-01-31 13:15", "2024-02-01",
    "2024-02-02 05:00", "2024-02-05 23:59", "2024-02-06",
)]

KEYS = {
    "1h": dict(bin_by="1h"),
    "1D": dict(bin_by="1D"),
    "MS": dict(bin_by="MS"),
    "4h_anchored": dict(bin_by="4h", origin="2024-01-01 01:00", offset="30min"),
    "snap_freq": dict(bin_by="1D", snap_by="2h"),
    "snap_month": dict(bin_by="MS", snap_by="1D"),
    "snap_edges": dict(bin_by="1D", snap_by=SNAP_EDGES),
    "edges": dict(bin_by=EDGES),
    "edges_labelled": dict(bin_by=(list(range(len(EDGES))), EDGES)),
    "rows": dict(bin_by=7, bin_col="bin_id"),
    "custom": dict(bin_by=VolumeBarBinner("vol", 40.0), bin_col="bin_id"),
}


def _stream(spark, scratch, kind, **extra):
    cfg = KeyConfig(path=f"{scratch}/{kind}", snap_path=f"{scratch}/{kind}_snap",
                    tiebreak=["id"], **{"agg": AGG, **KEYS[kind], **extra})
    if cfg.snap_by is None:
        cfg.snap_path = None
    return AggStream(spark, ordered_on="ts", keys={"k": cfg})


def _produce(spark, scratch, kind, df, driver, carry=None, **extra):
    """Frames each key's finish step received, and the key state after
    them, from one chunk on the chosen path."""
    stream = _stream(spark, scratch, kind, **extra)
    st = stream.state["k"]
    for k, v in (carry or {}).items():
        setattr(st, k, v)
    src = stream._driver_chunk(df) if driver else _SparkChunk(stream, df)
    assert isinstance(src, _TableChunk) == driver
    got = []
    frames = src.frames

    def record(plans):
        out = frames(plans)
        got.extend(out)
        return out

    src.frames = record
    watermark = pd.Timestamp("2024-02-05 12:00")
    stream._agg_chunk_all_keys(src, watermark, trim_start=True)
    return got, st


def _assert_same(spark, scratch, kind, df, carry=None, **extra):
    spark_frames, spark_st = _produce(spark, scratch, kind, df, False, carry, **extra)
    drv_frames, drv_st = _produce(spark, scratch, kind, df, True, carry, **extra)
    assert len(spark_frames) == len(drv_frames)
    for a, b in zip(spark_frames, drv_frames):
        pd.testing.assert_frame_equal(b, a, check_dtype=True)
    assert (drv_st.restart_index, drv_st.rows_so_far, drv_st.binner_state) == (
        spark_st.restart_index, spark_st.rows_so_far, spark_st.binner_state
    )
    return drv_frames


@pytest.fixture(scope="module")
def chunk(spark):
    return spark.createDataFrame(_rows(), DDL)


@pytest.mark.parametrize("kind", sorted(KEYS))
def test_driver_frames_equal_spark_frames(spark, scratch, chunk, kind):
    """Every key kind, over rows with NULL inputs and tied
    timestamps; row-count bins continue a carried rank offset."""
    carry = {"rows_so_far": 5} if kind == "rows" else None
    frames = _assert_same(spark, scratch, kind, chunk, carry)
    assert all(len(f) for f in frames)


@pytest.mark.parametrize("kind", ["1h", "snap_freq", "snap_edges", "edges", "rows", "custom"])
def test_filter_emptying_the_chunk(spark, scratch, chunk, kind):
    """A DNF filter no row passes: both paths hand over the same empty
    (or all-NULL edge) frames."""
    _assert_same(spark, scratch, kind, chunk, filter=[("val", ">", 1e9)])


@pytest.fixture(params=["UTC", "America/New_York"])
def process_zone(request, monkeypatch):
    """The Python process's local zone, in which ``F.lit`` reads a naive
    datetime (the Spark session zone stays UTC)."""
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


def test_filter_and_trim_select_the_same_rows(spark, scratch, chunk):
    """OR-of-AND filters with NULL inputs, an IN list and a timestamp
    bound inside the chunk, plus the per-key trim past a carried
    restart index."""
    flt = [
        [("qty", "in", [1, 2, 3]), ("tag", "!=", "t05")],
        [("ts", ">=", dt.datetime(2024, 2, 1, 2)), ("val", ">", 0.0)],
    ]
    carry = {"restart_index": pd.Timestamp("2024-01-31 10:00")}
    _assert_same(spark, scratch, "1h", chunk, carry, filter=flt)


def test_dnf_expression_reads_datetimes_as_spark(spark, scratch, chunk, process_zone):
    """The Arrow DNF filter reads a naive datetime as ``F.lit`` does, in
    the process's zone; the driver path itself runs only when that zone
    is UTC."""
    from oups_spark.functions.filters import dnf_expression, dnf_filter
    from oups_spark.store import driver_gate

    flt = [[("ts", ">=", dt.datetime(2024, 2, 1, 2)), ("val", ">", 0.0)],
           [("ts", "in", [T0, pd.Timestamp("2024-02-01 06:30")])]]
    tbl = driver_gate.collect(chunk)
    got = tbl.filter(dnf_expression(flt, tbl.schema))["id"].to_pylist()
    want = [r["id"] for r in dnf_filter(chunk, flt).collect()]
    assert sorted(got) == sorted(want) and want
    utc = process_zone == "UTC"
    assert isinstance(_stream(spark, scratch, "1h")._driver_chunk(chunk), _TableChunk) == utc


def test_fully_held_back_chunk(spark, scratch):
    """A chunk whose rows all share one timestamp is held back whole:
    nothing aggregated, and the same remainder frame on both paths."""
    rows = [(T0, i, float(i), i, 1.0, "a") for i in range(4)]
    held = {}
    for driver in (False, True):
        stream = _stream(spark, scratch, "1h")
        df = spark.createDataFrame(rows, DDL)
        src = stream._driver_chunk(df) if driver else _SparkChunk(stream, df)
        held[driver] = stream._run_chunk(src, None, trim_start=True, discard_last=True)
        assert stream.state["k"].bin_buffer == []
    pd.testing.assert_frame_equal(held[True], held[False], check_dtype=True)
    assert len(held[True]) == 4


def test_nan_chunk_takes_the_spark_path(spark, scratch):
    """Spark orders NaN above every value where Arrow skips it, so a
    chunk holding NaN in a float column is not collected for the driver
    path — and the stream still aggregates it."""
    rows = _rows(20)
    rows[3] = (*rows[3][:2], float("nan"), *rows[3][3:])
    df = spark.createDataFrame(rows, DDL)
    stream = _stream(spark, scratch, "1h")
    assert stream._driver_chunk(df) is None
    stream.agg(df, discard_last=False)
    assert len(stream.state["k"].bin_acc)


@pytest.mark.parametrize("kind", ["1D", "snap_freq", "edges", "rows"])
def test_timestamp_ntz_ordering(spark, scratch, chunk, kind):
    """A timestamp_ntz ``ordered_on`` (how the events table reads)
    takes the driver path too, with the same frames."""
    _assert_same(spark, scratch, kind, chunk.withColumn("ts", chunk["ts"].cast("timestamp_ntz")))


def test_unknown_agg_func_raises_as_on_spark(spark, scratch, chunk):
    """An aggregate the Spark plan does not know is not computed by
    Arrow's kernel of the same name: the chunk takes the Spark path,
    which raises."""
    stream = _stream(spark, scratch, "1h", agg={"m": ("val", "mean")})
    assert stream._driver_chunk(chunk) is None
    with pytest.raises(ValueError, match="unknown agg func 'mean'"):
        stream.agg(chunk)
