"""The driver gate (``oups_spark.store.driver_gate``) owns every
driver-vs-distributed decision: one patch of its caps must reach every
fast path, only a too-big collect may fall back to the distributed
plan, and the CDC state gate must price decoded, not on-disk, bytes."""

import os
import shutil

import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

import oups_spark.streaming.cdc as cdc
from oups_spark.operators.sketch import fold_register_write, hll_register_table
from oups_spark.store import driver_gate
from oups_spark.store.dataset import OrderedDataset
from oups_spark.streaming.aggstream import AggStream, KeyConfig


def _sorted_rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _spy(monkeypatch, owner, attr):
    """Record, per call of ``owner.attr``, whether it returned a
    result (True = the driver path ran)."""
    calls = []
    real = getattr(owner, attr)

    def spy(*a, **k):
        r = real(*a, **k)
        calls.append(r is not None)
        return r

    monkeypatch.setattr(owner, attr, spy)
    return calls


# ------------------------------------------- one patch reaches every site
def _base(spark, path):
    """Three overlapping-free flushes of 40 rows in 10-row files: the
    small off-target layout every store op below starts from."""
    ds = OrderedDataset(spark, path)
    for lo in (0, 40, 80):
        pdf = pd.DataFrame(
            {
                "ts": list(range(lo, lo + 40)),
                "k": [(i * 7) % 13 for i in range(lo, lo + 40)],
                "v": [float(i) for i in range(lo, lo + 40)],
            }
        )
        ds.write(df=spark.createDataFrame(pdf), ordered_on="ts",
                 row_group_target_size=10)
    return ds


def _base_null_scope(spark, path):
    """Two 30-row flushes in 10-row files whose scope column ``g`` is
    NULL on every third row."""
    ds = OrderedDataset(spark, path)
    for lo in (0, 30):
        rows = [
            (i, i % 4, float(i), None if i % 3 == 0 else i % 2)
            for i in range(lo, lo + 30)
        ]
        ds.write(df=spark.createDataFrame(rows, "ts long, k long, v double, g long"),
                 ordered_on="ts", row_group_target_size=10)
    return ds


def _changelog(spark, lo):
    rows = [(f"u{i % 30}", lo + i, float(i), i % 11 == 0) for i in range(60)]
    return spark.createDataFrame(rows, "user_id string, ts long, v double, d boolean")


def _regs(spark, parity):
    df = spark.range(400).selectExpr(
        "concat('s', id % 3) AS source", "concat('tok', id) AS tok"
    ).filter(F.expr(f"id % 2 = {parity}"))
    return hll_register_table(df, "tok", ["source"], p=6)


def _patch(spark):
    return spark.range(30, 70).selectExpr(
        "id AS ts", "CAST(id % 5 AS BIGINT) AS k", "CAST(-id AS DOUBLE) AS v"
    )


def _source(spark):
    return spark.range(100, 140, 3).selectExpr(
        "id AS ts", "CAST(1 AS BIGINT) AS k", "CAST(-id AS DOUBLE) AS v"
    )


_CDC = dict(key="user_id", order_cols=["ts"], n_buckets=4)
_FOLD = dict(keys=["source", "j"], value_col="M", merge="max", ordered_on="source")


def _ds_rows(spark, p):
    return _sorted_rows(OrderedDataset(spark, p).read())


def _layout(spark, p):
    ds = OrderedDataset(spark, p)
    return _sorted_rows(ds.read()), [e.n_rows for e in ds.manifest.files]


def _cdc_rows(spark, p):
    return _sorted_rows(cdc.read_current(spark, p, delete_col="d"))


def _ds(spark, p):
    return OrderedDataset(spark, p)


def _ticks(spark, lo, n):
    rows = [(lo + i, i % 4, float(i % 7) - 2.0) for i in range(n)]
    return spark.createDataFrame(rows, "t long, k long, v double").selectExpr(
        "timestamp_seconds(t * 600) AS ts", "k", "v"
    )


def _agg_stream(sp, p):
    keys = {
        "h": KeyConfig(path=f"{p}/h", agg={"s": ("v", "sum"), "f": ("v", "first")},
                       bin_by="1h", snap_by="20min", snap_path=f"{p}/hs",
                       tiebreak=["k"]),
        "r": KeyConfig(path=f"{p}/r", agg={"s": ("v", "sum")}, bin_by=5,
                       bin_col="bin_id", filter=[("k", "!=", 2)]),
    }
    return AggStream(sp, ordered_on="ts", keys=keys)


def _agg_rows(spark, p):
    return [_ds_rows(spark, f"{p}/{k}") for k in ("h", "hs", "r")]


# op -> (set-up, the op, its output, and the driver helper whose
# non-None return marks the driver path; merge_into stages through the
# Arrow stager only on its driver branch)
_SITES = {
    "write": (
        _base,
        lambda sp, p: _ds(sp, p).write(
            df=_patch(sp), ordered_on="ts", duplicates_on=["ts"],
            row_group_target_size=10,
        ),
        _ds_rows, OrderedDataset, "_merge_write_driver",
    ),
    "merge_into": (
        _base,
        lambda sp, p: _ds(sp, p).merge_into(
            _source(sp), on="ts", when_matched_update={"v": F.col("s.v")},
            when_not_matched_insert=True,
        ),
        _ds_rows, OrderedDataset, "_stage_arrow",
    ),
    # a NULL scope value is out of scope on both paths: those rows
    # survive the by-source delete
    "merge_into_by_source": (
        _base_null_scope,
        lambda sp, p: _ds(sp, p).merge_into(
            _source(sp), on="ts", when_not_matched_by_source_delete=True,
            by_source_scope=[("g", "==", 1)],
        ),
        _ds_rows, OrderedDataset, "_stage_arrow",
    ),
    "delete_where": (
        _base,
        lambda sp, p: _ds(sp, p).delete_where([("k", "=", 3)]),
        _ds_rows, OrderedDataset, "_rewrite_where_driver",
    ),
    "update_where": (
        _base,
        lambda sp, p: _ds(sp, p).update_where(
            [("k", "<", 4)], {"v": F.col("v") * 10}
        ),
        _ds_rows, OrderedDataset, "_rewrite_where_driver",
    ),
    "compact": (
        _base,
        lambda sp, p: _ds(sp, p).compact(row_group_target_size=60),
        _layout, OrderedDataset, "_compact_run_driver",
    ),
    "compact_zorder": (
        _base,
        lambda sp, p: _ds(sp, p).compact(
            zorder_by=["k", "v"], row_group_target_size=60
        ),
        _ds_rows, OrderedDataset, "_zorder_rewrite_driver",
    ),
    "cdc_sink": (
        lambda sp, p: cdc.cdc_merge_batch(sp, _changelog(sp, 0), p, **_CDC),
        lambda sp, p: cdc.cdc_merge_batch(sp, _changelog(sp, 30), p, **_CDC),
        _cdc_rows, cdc, "_probe_batch",
    ),
    "aggstream": (
        lambda sp, p: _agg_stream(sp, p).agg(_ticks(sp, 0, 30)),
        lambda sp, p: _agg_stream(sp, p).agg(_ticks(sp, 29, 40)),
        _agg_rows, AggStream, "_driver_chunk",
    ),
    "fold_register_write": (
        lambda sp, p: fold_register_write(sp, _ds(sp, p), _regs(sp, 0), **_FOLD),
        lambda sp, p: fold_register_write(sp, _ds(sp, p), _regs(sp, 1), **_FOLD),
        _ds_rows, driver_gate, "collect",
    ),
}


@pytest.mark.parametrize("op", sorted(_SITES))
def test_one_cap_patch_reaches_every_site(spark, scratch, monkeypatch, op):
    """With only ``driver_gate.MAX_ROWS`` patched to 0, each op takes
    its distributed path and leaves the same output as the default
    (driver) run, both starting from one copy of the same state."""
    setup, run, output, owner, attr = _SITES[op]
    base = os.path.join(scratch, "base")
    setup(spark, base)
    out = {}
    for cap in (None, 0):
        path = os.path.join(scratch, f"cap{cap}")
        shutil.copytree(base, path)
        with monkeypatch.context() as m:
            calls = _spy(m, owner, attr)
            if cap is not None:
                m.setattr(driver_gate, "MAX_ROWS", cap)
            run(spark, path)
        assert any(calls) == (cap is None), (op, cap, calls)
        out[cap] = output(spark, path)
    assert out[None] == out[0]


def test_merge_into_two_column_key_same_at_both_caps(spark, scratch, monkeypatch):
    """A two-column key (``on=["ts", "id"]``): matched updates, a
    matched delete and inserts give the same rows and counts on the
    driver branch (default cap) and the distributed one (cap 0)."""
    base = os.path.join(scratch, "base")
    ds = OrderedDataset(spark, base)
    # two ids per ts, 10-row files
    ds.write(
        df=spark.range(40).selectExpr(
            "id DIV 2 AS ts", "id % 2 AS id", "CAST(id AS DOUBLE) AS v"
        ),
        ordered_on="ts", row_group_target_size=10,
    )
    src = [
        (2, 0, -1.0, "U"), (2, 1, -2.0, "D"), (15, 1, -3.0, "U"),
        (5, 7, -4.0, "U"), (25, 0, -5.0, "U"),
    ]
    out = {}
    for cap in (None, 0):
        path = os.path.join(scratch, f"cap{cap}")
        shutil.copytree(base, path)
        with monkeypatch.context() as m:
            calls = _spy(m, OrderedDataset, "_stage_arrow")
            if cap is not None:
                m.setattr(driver_gate, "MAX_ROWS", cap)
            res = _ds(spark, path).merge_into(
                spark.createDataFrame(src, "ts long, id long, v double, op string"),
                on=["ts", "id"],
                when_matched_update={"v": F.col("s.v")},
                when_matched_delete=F.col("s.op") == "D",
            )
        assert any(calls) == (cap is None), (cap, calls)
        assert res == {"updated": 2, "deleted": 1, "inserted": 2}, cap
        out[cap] = _ds_rows(spark, path)
    assert out[None] == out[0]
    want = {(t, i): float(2 * t + i) for t in range(20) for i in (0, 1)}
    want.update({(2, 0): -1.0, (15, 1): -3.0, (5, 7): -4.0, (25, 0): -5.0})
    del want[(2, 1)]
    assert out[None] == sorted((t, i, v) for (t, i), v in want.items())


# ------------------------------------------------ narrow collect fallback
def test_result_size_refusal_falls_back(spark, scratch, monkeypatch):
    """A collect Spark refuses (``spark.driver.maxResultSize``) sends
    write and merge_into to their distributed paths, which still give
    the right rows."""
    ds = OrderedDataset(spark, os.path.join(scratch, "ds"))
    ds.write(
        df=spark.range(0, 20000, 2).selectExpr("id AS ts", "'a' AS doc"),
        ordered_on="ts", row_group_target_size=5000,
    )
    batch = spark.range(20000).selectExpr("id AS ts", "repeat('x', 100) AS doc")
    src = spark.range(0, 20000, 3).selectExpr("id AS ts", "repeat('y', 100) AS doc")
    collected = _spy(monkeypatch, driver_gate, "collect")
    conf = spark.sparkContext._conf
    prev = conf.get("spark.driver.maxResultSize")
    # the Arrow collects (~2 MB) exceed this; the distributed plans'
    # own collects (stats, range sketch, compressed broadcast) do not
    conf.set("spark.driver.maxResultSize", "256k")
    try:
        ds.write(df=batch, ordered_on="ts", duplicates_on=["ts"],
                 row_group_target_size=5000, validate_monotonic=False)
        res = ds.merge_into(src, on="ts", when_matched_update={"doc": F.col("s.doc")})
    finally:
        if prev is None:
            spark.sparkContext._jsc.sc().conf().remove("spark.driver.maxResultSize")
        else:
            conf.set("spark.driver.maxResultSize", prev)
    assert collected and not any(collected), "every driver collect must be refused"
    assert res == {"updated": 6667, "deleted": 0, "inserted": 0}
    pdf = ds.read().toPandas()
    assert len(pdf) == 20000
    want = ["y" if ts % 3 == 0 else "x" for ts in pdf["ts"]]
    assert pdf["doc"].str[0].tolist() == want


def test_collect_error_is_not_swallowed(spark, scratch, monkeypatch):
    """Only a too-big result falls back: any other collect error
    surfaces instead of silently re-running the distributed plan."""

    def boom(self):
        raise RuntimeError("boom")

    batch = spark.range(10).selectExpr("id AS ts")
    monkeypatch.setattr(type(batch), "toArrow", boom)
    ds = OrderedDataset(spark, os.path.join(scratch, "ds"))
    with pytest.raises(RuntimeError, match="boom"):
        ds.write(df=batch, ordered_on="ts", validate_monotonic=False)


# ---------------------------------------------------- CDC state gate bytes
def test_cdc_state_gate_prices_decoded_bytes(spark, scratch, monkeypatch):
    """Repetitive strings compress far below their decoded size: state
    that is small on disk but over the byte cap once decoded must send
    the sink distributed, with the same state as the distributed run."""
    kw = dict(key="user_id", order_cols=["ts"], n_buckets=1)
    big = spark.range(2000).selectExpr(
        "concat('u', id) AS user_id", "id AS ts",
        "concat(repeat('x', 400), id) AS doc",
    )
    small = spark.createDataFrame(
        [("u1", 5000, "new"), ("u9999", 5000, "ins")], "user_id string, ts long, doc string"
    )
    cap = 256 << 10

    def run(path, force_distributed):
        cdc.cdc_merge_batch(spark, big, path, **kw)
        with monkeypatch.context() as m:
            m.setattr(driver_gate, "MAX_BYTES", cap)
            if force_distributed:
                m.setattr(cdc, "_probe_batch", lambda b: None)
            calls = _spy(m, cdc, "_read_buckets_arrow")
            cdc.cdc_merge_batch(spark, small, path, **kw)
        return calls, _sorted_rows(cdc.read_current(spark, path))

    path = os.path.join(scratch, "gated")
    calls, got = run(path, False)
    on_disk = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    assert on_disk < cap, on_disk  # the old on-disk gate let this through
    assert calls == [False], "decoded state is over the cap: distributed"
    _, want = run(os.path.join(scratch, "dist"), True)
    assert got == want and len(got) == 2001


# ------------------------------------------ fold_register_write row cap
def test_fold_register_write_cap_boundary(spark, scratch, monkeypatch):
    """At ``MAX_ROWS`` register rows the fold runs driver-side (an
    Arrow table reaches ``write``), at ``MAX_ROWS + 1`` distributed;
    both leave the register table the distributed plan writes."""
    regs = _regs(spark, 0)
    n = regs.count()
    want = _sorted_rows(regs)
    for cap, driver in ((n, True), (n - 1, False)):
        ds = OrderedDataset(spark, os.path.join(scratch, f"cap{cap}"))
        written = []
        real = OrderedDataset.write
        with monkeypatch.context() as m:
            m.setattr(driver_gate, "MAX_ROWS", cap)
            m.setattr(
                OrderedDataset, "write",
                lambda self, *a, **k: (written.append(k["df"]), real(self, *a, **k))[1],
            )
            fold_register_write(
                spark, ds, regs, keys=["source", "j"], value_col="M",
                merge="max", ordered_on="source",
            )
        assert isinstance(written[0], pa.Table) == driver, (cap, n)
        assert _sorted_rows(ds.read()) == want


def test_range_read_bounds_are_half_open(spark, scratch):
    """A range read compares against struct-wrapped bounds (passed by
    reference, no codegen compile per bound): the rows are those of
    the full read in ``[start, end_excl)``."""
    ds = _base(spark, os.path.join(scratch, "ds"))
    every = _sorted_rows(ds.read())
    for lo, hi in ((13, 57), (None, 40), (41, None), (200, 300)):
        want = [
            r for r in every
            if (lo is None or r[0] >= lo) and (hi is None or r[0] < hi)
        ]
        assert _sorted_rows(ds.read(lo, hi)) == want, (lo, hi)
    rows = _sorted_rows(ds.read(13, 57))
    assert (len(rows), rows[0][0], rows[-1][0]) == (44, 13, 56)
