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
