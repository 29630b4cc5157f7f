"""Driver-built Arrow flush path (round 15).

``pandas_to_spark_arrow`` must be byte-equivalent to the
``spark.createDataFrame(pdf).toArrow()`` round trip it replaces —
the store writes whichever table it is handed straight to parquet,
so any divergence (type width, timezone interpretation, null
handling) would change the files a flush produces. These tests pin
that equivalence and the write-path behavior for a pyarrow.Table
batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from oups_spark.store import driver_gate
from oups_spark.store.dataset import OrderedDataset, pandas_to_spark_arrow


@pytest.fixture(scope="module")
def spark():
    from oups_spark.session import get_spark

    return get_spark("test-arrow-write")


def _mixed_frame() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:00.000001",
                    "2024-01-02 03:04:05.000000",
                    None,
                ]
            ),
            "d": [1.5, np.nan, -7.25],
            "f32": np.array([1.0, 2.5, 3.0], dtype="float32"),
            "n64": pd.array([3, None, -9], dtype="Int64"),
            "i32": np.array([1, 2, 3], dtype="int32"),
            "b": [True, None, False],
            "s": ["a", None, "ζ"],
        }
    )


def test_matches_createdataframe_toarrow_roundtrip(spark):
    pdf = _mixed_frame()
    tz = spark.conf.get("spark.sql.session.timeZone")
    ours = pandas_to_spark_arrow(pdf, tz)
    assert ours is not None
    theirs = spark.createDataFrame(pdf).toArrow()
    # schema equality up to nullability (createDataFrame marks every
    # field nullable; so do we)
    assert [f.name for f in ours.schema] == [f.name for f in theirs.schema]
    for a, b in zip(ours.schema, theirs.schema):
        assert a.type == b.type, f"{a.name}: {a.type} != {b.type}"
    assert ours.to_pydict() == theirs.to_pydict()


def test_rejects_types_outside_the_audited_mapping(spark):
    # unsigned ints: Spark widens them; we refuse instead of guessing
    assert (
        pandas_to_spark_arrow(
            pd.DataFrame({"u": np.array([1, 2], dtype="uint32")}), "UTC"
        )
        is None
    )
    # non-UTC session: naive wall times would be reinterpreted
    assert pandas_to_spark_arrow(pd.DataFrame({"x": [1]}), "Asia/Tokyo") is None
    # mixed object column: no clean arrow type
    assert (
        pandas_to_spark_arrow(pd.DataFrame({"m": ["a", 1]}), "UTC") is None
    )


@pytest.mark.parametrize(
    "max_rows", [driver_gate.MAX_ROWS, 0], ids=["driver", "distributed"]
)
def test_write_arrow_table_equals_write_dataframe(
    spark, tmp_path, monkeypatch, max_rows
):
    """A pyarrow.Table batch and its createDataFrame twin must leave
    IDENTICAL datasets behind: same read-back rows, same parquet
    schema, same manifest stats — on the driver merge and, with the
    row cap at 0 (the table then only summarizes the batch), on the
    distributed merge."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(driver_gate, "MAX_ROWS", max_rows)

    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-03"]
            ),
            "v": [1.0, 2.0, 3.0, 4.0],
            "k": ["a", "b", "b", None],
        }
    )
    tz = spark.conf.get("spark.sql.session.timeZone")
    tbl = pandas_to_spark_arrow(pdf, tz)
    assert tbl is not None

    ds_a = OrderedDataset(spark, str(tmp_path / "arrow_ds"))
    ds_a.write(
        df=tbl, ordered_on="ts", duplicates_on=["k"],
        row_group_target_size=2, validate_monotonic=False,
    )
    ds_b = OrderedDataset(spark, str(tmp_path / "spark_ds"))
    ds_b.write(
        df=spark.createDataFrame(pdf), ordered_on="ts", duplicates_on=["k"],
        row_group_target_size=2, validate_monotonic=False,
    )

    rows_a = [r.asDict() for r in ds_a.read().collect()]
    rows_b = [r.asDict() for r in ds_b.read().collect()]
    assert rows_a == rows_b
    ents_a = [(e.n_rows, e.min, e.max) for e in ds_a._manifest.files]
    ents_b = [(e.n_rows, e.min, e.max) for e in ds_b._manifest.files]
    assert ents_a == ents_b
    import os

    sch_a = pq.read_schema(
        os.path.join(ds_a.path, ds_a._manifest.files[0].name)
    )
    sch_b = pq.read_schema(
        os.path.join(ds_b.path, ds_b._manifest.files[0].name)
    )
    assert sch_a == sch_b
    assert ds_a._manifest.schema_json == ds_b._manifest.schema_json


def test_write_arrow_merge_with_existing_files(spark, tmp_path):
    """An arrow-table batch overlapping existing files replays the
    same keep-last merge as the classic path."""
    path = str(tmp_path / "merge_ds")
    ds = OrderedDataset(spark, path)
    base = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01", "2024-01-02"]), "v": [1.0, 2.0]}
    )
    ds.write(
        df=spark.createDataFrame(base), ordered_on="ts",
        duplicates_on=[], row_group_target_size=100,
        validate_monotonic=False,
    )
    upd = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-02", "2024-01-03"]), "v": [20.0, 3.0]}
    )
    tbl = pandas_to_spark_arrow(
        upd, spark.conf.get("spark.sql.session.timeZone")
    )
    ds.write(
        df=tbl, ordered_on="ts", duplicates_on=[],
        row_group_target_size=100, validate_monotonic=False,
    )
    got = {
        r["ts"].isoformat(): r["v"] for r in ds.read().collect()
    }
    assert got == {
        "2024-01-01T00:00:00": 1.0,
        "2024-01-02T00:00:00": 20.0,  # keep-last: the batch wins
        "2024-01-03T00:00:00": 3.0,
    }


def _last_job(spark) -> int:
    """The highest Spark job id started so far (one global sequence)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


def _ts(*hours):
    return pa.array(
        [None if h is None else pd.Timestamp("2024-01-01", tz="UTC")
         + pd.Timedelta(hours=h) for h in hours],
        pa.timestamp("us", tz="UTC"),
    )


@pytest.mark.parametrize("validate", [True, False], ids=["validated", "unvalidated"])
def test_driver_arrow_write_runs_no_spark_job(spark, tmp_path, monkeypatch, validate):
    """A pyarrow.Table batch merged on the driver starts no Spark job
    and never builds its DataFrame twin, with or without the order
    check, also when it overlaps (and dedups against) stored files."""

    def no_twin(*a, **k):
        raise AssertionError("spark.createDataFrame called")

    ds = OrderedDataset(spark, str(tmp_path / "ds"))
    kw = dict(ordered_on="ts", duplicates_on=["k"], row_group_target_size=2,
              validate_monotonic=validate)
    monkeypatch.setattr(spark, "createDataFrame", no_twin)
    j0 = _last_job(spark)
    ds.write(pa.table({"ts": _ts(0, 1, 2), "k": [1, 1, 1], "v": [1.0, 2.0, 3.0]}), **kw)
    ds.write(pa.table({"ts": _ts(2, 3), "k": [1, 1], "v": [20.0, 4.0]}), **kw)
    assert _last_job(spark) == j0
    monkeypatch.undo()
    assert ds.read_arrow().column("v").to_pylist() == [1.0, 2.0, 20.0, 4.0]


@pytest.mark.parametrize("ntz", [False, True], ids=["ltz", "ntz"])
def test_batch_schema_is_createdataframe_schema(spark, ntz):
    """The schema a Table batch records is the one its createDataFrame
    twin reports, under either session timestamp type."""
    import datetime as dt
    import decimal

    from oups_spark.store.dataset import _Batch

    tbl = pa.table({
        "naive": pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("us")),
        "utc": _ts(0),
        "i32": pa.array([1], pa.int32()),
        "big": pa.array(["x"], pa.large_string()),
        "day": pa.array([dt.date(2024, 1, 1)], pa.date32()),
        "dec": pa.array([decimal.Decimal("1.5")], pa.decimal128(5, 2)),
        "f": pa.array([1.0], pa.float32()),
        "b": pa.array([True], pa.bool_()),
    })
    conf = "spark.sql.timestampType"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "TIMESTAMP_NTZ" if ntz else "TIMESTAMP_LTZ")
    try:
        assert _Batch(spark, tbl).schema == spark.createDataFrame(tbl).schema
    finally:
        spark.conf.set(conf, prev)


def test_table_in_other_arrow_form_writes_like_its_twin(spark, tmp_path):
    """A Table whose Arrow types are not Spark's own (nanosecond,
    non-UTC and zone-less timestamps, large strings) leaves the dataset its
    createDataFrame twin leaves: Spark can read it back, with the same
    rows, file types and recorded schema."""
    import datetime as dt

    tbl = pa.table({
        "ts": pa.array([dt.datetime(2024, 1, 1, h) for h in range(3)],
                       pa.timestamp("ns", tz="UTC")),
        "ny": pa.array([dt.datetime(2024, 1, 1, h) for h in range(3)],
                       pa.timestamp("us", tz="America/New_York")),
        "naive": pa.array([dt.datetime(2024, 1, 1, h) for h in range(3)],
                          pa.timestamp("us")),
        "s": pa.array(["a", None, "c"], pa.large_string()),
    })
    got = {}
    for name, batch in (("arrow", tbl), ("spark", spark.createDataFrame(tbl))):
        ds = OrderedDataset(spark, str(tmp_path / name))
        ds.write(batch, ordered_on="ts")
        got[name] = (ds.read_arrow(), ds._manifest.schema_json, ds.read().collect())
    assert got["arrow"][0].equals(got["spark"][0])
    assert got["arrow"][1:] == got["spark"][1:]


@pytest.mark.parametrize("case", ["unsorted", "null"])
def test_arrow_and_dataframe_batches_raise_the_same_error(spark, tmp_path, case):
    """With the order check on, an unsorted or NULL ``ordered_on``
    raises the same ValueError for a Table batch (checked in Arrow)
    and for a DataFrame batch (checked by Spark)."""
    hours = {"unsorted": (3, 1, 2), "null": (1, None, 2)}[case]
    tbl = pa.table({"ts": _ts(*hours), "v": [1.0, 2.0, 3.0]})
    msgs = []
    for name, batch in (("arrow", tbl), ("spark", spark.createDataFrame(tbl))):
        with pytest.raises(ValueError) as err:
            OrderedDataset(spark, str(tmp_path / name)).write(batch, ordered_on="ts")
        msgs.append(str(err.value))
    assert msgs[0] == msgs[1]
    assert ("null values" if case == "null" else "is not ordered") in msgs[0]


def test_distributed_merge_equals_driver_merge(spark, tmp_path, monkeypatch):
    """The distributed merge (keep-last window after the range
    repartition) leaves the rows the driver merge leaves, with
    duplicate keys spanning old files, the new batch, and rows within
    the batch."""
    base = pa.table({
        "ts": _ts(*range(12)), "k": [h % 2 for h in range(12)],
        "v": [float(h) for h in range(12)],
    })
    # (ts 4, k 0) twice in the batch: the later row wins
    batch = pa.table({
        "ts": _ts(3, 4, 4, 5, 9, 12, 13), "k": [1, 0, 0, 1, 1, 0, 1],
        "v": [-3.0, -4.0, -40.0, -5.0, -9.0, -12.0, -13.0],
    })
    kw = dict(ordered_on="ts", duplicates_on=["k"], row_group_target_size=4,
              validate_monotonic=False)
    got = {}
    for name, max_rows in (("driver", driver_gate.MAX_ROWS), ("distributed", 0)):
        ds = OrderedDataset(spark, str(tmp_path / name))
        ds.write(base, **kw)
        monkeypatch.setattr(driver_gate, "MAX_ROWS", max_rows)
        ds.write(batch, **kw)
        monkeypatch.undo()
        got[name] = sorted(
            (r["ts"], r["k"], r["v"]) for r in ds.read().collect()
        )
        assert ds.n_rows == len(got[name])
    assert got["driver"] == got["distributed"]
    v = {r[0].hour: r[2] for r in got["driver"] if r[0].day == 1}
    assert (v[3], v[4], v[5], v[9], v[2]) == (-3.0, -40.0, -5.0, -9.0, 2.0)
