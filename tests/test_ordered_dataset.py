"""Ordered merge write semantics (FIXTURES F3): appends, overlapping
inserts, keep-last dedup, row-group sizing/coalescing, monotonicity
rejection, period-sized files, kv metadata. Oracle = pandas emulation
of the reference's merge: concat in physical order, stable sort on
ordered_on, drop_duplicates keep-last (reference
``iter_merge_split_data.py:112-119``)."""

from __future__ import annotations

import pandas as pd
import pytest

from oups_spark.store import driver_gate
from oups_spark.store.dataset import OrderedDataset


def ts(h, m=0, d=1):
    return pd.Timestamp(2024, 1, d, h, m)


def make_df(spark, rows, cols=("ts", "val", "sym")):
    pdf = pd.DataFrame(rows, columns=list(cols))
    return spark.createDataFrame(pdf)


def read_sorted(ds, extra_sort=("val",)):
    pdf = ds.read().toPandas()
    return pdf.sort_values(["ts", *extra_sort], ignore_index=True)


def merge_oracle(batches, duplicates_on=None, ordered_on="ts"):
    """Pandas emulation of ordered merge of successive batches."""
    out = batches[0]
    for b in batches[1:]:
        out = pd.concat([out, b], ignore_index=True).sort_values(
            ordered_on, kind="stable", ignore_index=True
        )
    if duplicates_on is not None:
        subset = list(duplicates_on)
        if ordered_on not in subset:
            subset.append(ordered_on)
        out = out.drop_duplicates(subset=subset, keep="last", ignore_index=True)
    return out


def test_first_write_and_read(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/d1")
    b1 = pd.DataFrame({"ts": [ts(0), ts(1), ts(2)], "val": [1.0, 2.0, 3.0], "sym": list("aaa")})
    ds.write(df=spark.createDataFrame(b1), ordered_on="ts")
    assert ds.exists and ds.n_rows == 3 and ds.n_files == 1
    got = read_sorted(ds)
    pd.testing.assert_frame_equal(got[["ts", "val", "sym"]], b1)


def test_pure_append_does_not_rewrite(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/d2")
    b1 = pd.DataFrame({"ts": [ts(0), ts(1)], "val": [1.0, 2.0], "sym": list("aa")})
    b2 = pd.DataFrame({"ts": [ts(5), ts(6)], "val": [3.0, 4.0], "sym": list("bb")})
    ds.write(df=spark.createDataFrame(b1), ordered_on="ts")
    first_files = {e.name for e in ds.manifest.files}
    ds.write(df=spark.createDataFrame(b2))
    assert first_files <= {e.name for e in ds.manifest.files}, "append rewrote old files"
    assert ds.n_rows == 4
    got = read_sorted(ds)
    exp = merge_oracle([b1, b2])
    pd.testing.assert_frame_equal(got[["ts", "val", "sym"]], exp)


def test_overlap_rewrites_only_overlapping_files(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/d3")
    # 3 files of 2 rows each: [0,1] [2,3] [4,5] hours
    b1 = pd.DataFrame(
        {"ts": [ts(h) for h in range(6)], "val": [float(h) for h in range(6)], "sym": list("aaaaaa")}
    )
    ds.write(df=spark.createDataFrame(b1), ordered_on="ts", row_group_target_size=2)
    assert ds.n_files == 3
    by_min = sorted(ds.manifest.files, key=lambda e: e.min)
    untouched = by_min[0].name  # file [0h,1h] must survive
    # insert spanning hours 2.5-4.5 -> overlaps files 2 and 3 only
    b2 = pd.DataFrame(
        {"ts": [ts(2, 30), ts(4, 30)], "val": [20.0, 40.0], "sym": list("bb")}
    )
    ds.write(df=spark.createDataFrame(b2), row_group_target_size=2)
    names = {e.name for e in ds.manifest.files}
    assert untouched in names, "non-overlapping file was rewritten"
    assert by_min[1].name not in names and by_min[2].name not in names
    got = read_sorted(ds)
    exp = merge_oracle([b1, b2])
    pd.testing.assert_frame_equal(got[["ts", "val", "sym"]], exp)


@pytest.mark.parametrize("dup_cols", [["sym"], []])
def test_keep_last_dedup(spark, scratch, dup_cols):
    ds = OrderedDataset(spark, f"{scratch}/d4")
    b1 = pd.DataFrame(
        {
            "ts": [ts(0), ts(1), ts(1), ts(2)],
            "val": [1.0, 2.0, 3.0, 4.0],
            "sym": ["a", "a", "b", "a"],
        }
    )
    # b2 collides with b1 on (sym, ts) at ts(1) 'a' and ts(2) 'a';
    # also contains an internal duplicate pair -> later row wins.
    b2 = pd.DataFrame(
        {
            "ts": [ts(1), ts(2), ts(2)],
            "val": [20.0, 40.0, 41.0],
            "sym": ["a", "a", "a"],
        }
    )
    ds.write(df=spark.createDataFrame(b1), ordered_on="ts", duplicates_on=dup_cols or None)
    ds.write(df=spark.createDataFrame(b2), duplicates_on=dup_cols)
    got = read_sorted(ds)
    exp = (
        merge_oracle([b1, b2], duplicates_on=dup_cols)
        .sort_values(["ts", "val"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got[["ts", "val", "sym"]], exp)


def test_duplicate_boundary_file_merged(spark, scratch):
    """Batch whose min equals an existing file's max: that file must be
    selected for merge so dedup applies across the boundary."""
    ds = OrderedDataset(spark, f"{scratch}/d5")
    b1 = pd.DataFrame({"ts": [ts(0), ts(1), ts(2), ts(3)], "val": [1.0, 2.0, 3.0, 4.0], "sym": list("aaaa")})
    ds.write(df=spark.createDataFrame(b1), ordered_on="ts", row_group_target_size=2)
    b2 = pd.DataFrame({"ts": [ts(1)], "val": [99.0], "sym": ["a"]})
    ds.write(df=spark.createDataFrame(b2), duplicates_on=["sym"])
    got = read_sorted(ds)
    exp = merge_oracle([b1, b2], duplicates_on=["sym"])
    pd.testing.assert_frame_equal(got[["ts", "val", "sym"]], exp)
    assert len(got) == 4 and got.loc[got.ts == ts(1), "val"].iloc[0] == 99.0


def test_monotonic_rejection(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/d6")
    bad = pd.DataFrame({"ts": [ts(2), ts(0), ts(1)], "val": [1.0, 2.0, 3.0], "sym": list("aaa")})
    with pytest.raises(ValueError, match="not ordered"):
        ds.write(df=spark.createDataFrame(bad), ordered_on="ts")


def test_ordered_on_immutable(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/d7")
    b1 = pd.DataFrame({"ts": [ts(0)], "val": [1.0], "sym": ["a"]})
    ds.write(df=spark.createDataFrame(b1), ordered_on="ts")
    with pytest.raises(ValueError, match="immutable"):
        ds.write(df=spark.createDataFrame(b1), ordered_on="val")


def test_row_group_sizing(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/d8")
    n = 20
    b = pd.DataFrame({"ts": [ts(0) + pd.Timedelta(minutes=i) for i in range(n)],
                      "val": [float(i) for i in range(n)], "sym": ["a"] * n})
    ds.write(df=spark.createDataFrame(b), ordered_on="ts", row_group_target_size=6)
    assert ds.n_files == 4  # ceil(20/6)
    sizes = sorted(e.n_rows for e in ds.manifest.files)
    assert sum(sizes) == n and max(sizes) <= 6


def test_off_target_coalescing(spark, scratch):
    """Repeated 1-row appends fragment the dataset; with
    max_n_off_target_rgs=3 the trailing small files get coalesced."""
    ds = OrderedDataset(spark, f"{scratch}/d9")
    for i in range(6):
        b = pd.DataFrame({"ts": [ts(i)], "val": [float(i)], "sym": ["a"]})
        ds.write(df=spark.createDataFrame(b), ordered_on="ts",
                 row_group_target_size=10, max_n_off_target_rgs=3)
    # without coalescing this would be 6 files; the trigger should
    # have merged trailing runs of >=3 off-target files
    assert ds.n_files < 6
    assert ds.n_rows == 6
    got = read_sorted(ds)
    assert list(got["val"]) == [float(i) for i in range(6)]


def test_period_row_groups(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/d10")
    b = pd.DataFrame({
        "ts": [ts(0), ts(0, 30), ts(2), ts(2, 30), ts(5)],
        "val": [1.0, 2.0, 3.0, 4.0, 5.0],
        "sym": list("aaaaa"),
    })
    ds.write(df=spark.createDataFrame(b), ordered_on="ts", row_group_target_size="2h")
    # periods: [0h,2h) -> 2 rows, [2h,4h) -> 2 rows, [4h,6h) -> 1 row
    assert ds.n_files == 3
    assert sorted(e.n_rows for e in ds.manifest.files) == [1, 2, 2]
    got = read_sorted(ds)
    pd.testing.assert_frame_equal(got[["ts", "val", "sym"]], b)


def test_range_read_prunes_files(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/d11")
    b = pd.DataFrame({"ts": [ts(h) for h in range(8)], "val": [float(h) for h in range(8)],
                      "sym": ["a"] * 8})
    ds.write(df=spark.createDataFrame(b), ordered_on="ts", row_group_target_size=2)
    got = ds.read(start=ts(3), end_excl=ts(6)).toPandas().sort_values("ts", ignore_index=True)
    assert list(got["val"]) == [3.0, 4.0, 5.0]
    # pruning: the plan should only reference 2 of the 4 files
    df = ds.read(start=ts(3), end_excl=ts(6))
    n_files_in_plan = df.select(
        __import__("pyspark.sql.functions", fromlist=["F"]).input_file_name()
    ).distinct().count()
    assert n_files_in_plan == 2


def test_kv_metadata_roundtrip(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/d12")
    b = pd.DataFrame({"ts": [ts(0)], "val": [1.0], "sym": ["a"]})
    state = {"restart_index": ts(0), "buffer": {"acc": [1, 2, 3]}}
    ds.write(df=spark.createDataFrame(b), ordered_on="ts",
             key_value_metadata={"aggstream": state, "note": "hi"})
    ds2 = OrderedDataset(spark, f"{scratch}/d12")
    assert ds2.key_value_metadata["note"] == "hi"
    assert ds2.key_value_metadata["aggstream"]["restart_index"] == ts(0)
    assert ds2.key_value_metadata["aggstream"]["buffer"]["acc"] == [1, 2, 3]
    # metadata-only update + removal via None
    ds2.write(key_value_metadata={"note": None, "other": 5})
    ds3 = OrderedDataset(spark, f"{scratch}/d12")
    assert "note" not in ds3.key_value_metadata
    assert ds3.key_value_metadata["other"] == 5
    assert ds3.n_rows == 1  # data untouched


def test_period_compact_coalesces_fragmented_days(spark, scratch):
    """Period-target compaction (reference one-file-per-period rule):
    several appends inside the same day fragment it into multiple
    files; compact('1D') rewrites exactly the fragmented days."""
    ds = OrderedDataset(spark, f"{scratch}/pc1")
    # day 1: three separate appends (3 files); day 2: one append
    batches = [
        pd.DataFrame({"ts": [ts(0), ts(2)], "val": [1.0, 2.0], "sym": ["a", "a"]}),
        pd.DataFrame({"ts": [ts(5), ts(8)], "val": [3.0, 4.0], "sym": ["a", "a"]}),
        pd.DataFrame({"ts": [ts(10), ts(22)], "val": [5.0, 6.0], "sym": ["a", "a"]}),
        pd.DataFrame({"ts": [ts(3, d=2)], "val": [7.0], "sym": ["a"]}),
    ]
    for b in batches:
        ds.write(df=spark.createDataFrame(b), ordered_on="ts",
                 row_group_target_size="1D")
    assert ds.n_files == 4  # 3 fragments of day 1 + day 2
    before = read_sorted(ds)
    n = ds.compact(row_group_target_size="1D")
    assert n == 3  # only day 1's fragments rewritten
    assert ds.n_files == 2  # one file per day
    after = read_sorted(ds)
    pd.testing.assert_frame_equal(before, after)
    # day 2's file was untouched (still on target) and day 1 is whole
    days = sorted(
        (e.min.floor("D") if hasattr(e.min, "floor") else e.min, e.n_rows)
        for e in ds.manifest.files
    )
    assert [d[1] for d in days] == [6, 1]


def test_period_compact_splits_straddling_file(spark, scratch):
    """A single file spanning two periods violates one-file-per-period
    and must be split by compact even though it has no run partner."""
    ds = OrderedDataset(spark, f"{scratch}/pc2")
    b = pd.DataFrame({
        "ts": [ts(6), ts(6, d=2)], "val": [1.0, 2.0], "sym": ["a", "a"],
    })
    # write with a row-count target so both days land in ONE file
    ds.write(df=spark.createDataFrame(b), ordered_on="ts",
             row_group_target_size=10)
    assert ds.n_files == 1
    n = ds.compact(row_group_target_size="1D")
    assert n == 1
    assert ds.n_files == 2
    got = read_sorted(ds)
    assert list(got["val"]) == [1.0, 2.0]


def test_period_compact_noop_when_on_target(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/pc3")
    b = pd.DataFrame({
        "ts": [ts(1), ts(2), ts(1, d=2)], "val": [1.0, 2.0, 3.0],
        "sym": ["a", "a", "a"],
    })
    ds.write(df=spark.createDataFrame(b), ordered_on="ts",
             row_group_target_size="1D")
    names_before = sorted(e.name for e in ds.manifest.files)
    assert ds.compact(row_group_target_size="1D") == 0
    assert sorted(e.name for e in ds.manifest.files) == names_before


def test_period_write_coalesces_off_target_neighbors(spark, scratch):
    """max_n_off_target_rgs with a period target: appending new data
    adjacent to a fragmented day folds the fragments into the write."""
    ds = OrderedDataset(spark, f"{scratch}/pc4")
    # fragment day 1 into two files
    for b in [
        pd.DataFrame({"ts": [ts(0)], "val": [1.0], "sym": ["a"]}),
        pd.DataFrame({"ts": [ts(5)], "val": [2.0], "sym": ["a"]}),
    ]:
        ds.write(df=spark.createDataFrame(b), ordered_on="ts",
                 row_group_target_size="1D")
    assert ds.n_files == 2
    # append day 2 with coalescing enabled: the two day-1 fragments
    # are adjacent off-target files -> folded into this write
    b = pd.DataFrame({"ts": [ts(1, d=2)], "val": [3.0], "sym": ["a"]})
    ds.write(df=spark.createDataFrame(b), ordered_on="ts",
             row_group_target_size="1D", max_n_off_target_rgs=2)
    assert ds.n_files == 2  # day 1 coalesced + day 2
    got = read_sorted(ds)
    assert list(got["val"]) == [1.0, 2.0, 3.0]


def test_schema_evolution_add_column(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/evo")
    ds.write(
        df=make_df(spark, [(ts(1), 1.0, "a"), (ts(2), 2.0, "b")]),
        ordered_on="ts",
    )
    # adding a column without opting in raises (reference fixed-schema posture)
    batch2 = make_df(
        spark,
        [(ts(3), 3.0, "c", 30), (ts(4), 4.0, "d", 40)],
        cols=("ts", "val", "sym", "extra"),
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        ds.write(df=batch2)
    ds.write(df=batch2, evolve_schema=True)
    out = ds.read().toPandas().sort_values("ts", ignore_index=True)
    assert list(out.columns) == ["ts", "val", "sym", "extra"]
    assert out["extra"].tolist()[:2] == [None, None] or out[
        "extra"
    ].isna().tolist()[:2] == [True, True]
    assert out["extra"].tolist()[2:] == [30, 40]
    # reopened handle sees the evolved schema too
    again = OrderedDataset(spark, f"{scratch}/evo").read().toPandas()
    assert list(again.columns) == ["ts", "val", "sym", "extra"]


def test_schema_evolution_missing_column_and_overlap_merge(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/evo2")
    ds.write(
        df=make_df(
            spark,
            [(ts(1), 1.0, "a", 10), (ts(2), 2.0, "b", 20)],
            cols=("ts", "val", "sym", "extra"),
        ),
        ordered_on="ts",
    )
    # an overlapping batch WITHOUT 'extra': replaces ts(2) via keep-last
    # dedup; the replacing row reads back NULL for 'extra'
    ds.write(
        df=make_df(spark, [(ts(2), 9.0, "B")]),
        duplicates_on=["ts"],
        evolve_schema=True,
    )
    out = ds.read().toPandas().sort_values("ts", ignore_index=True)
    assert out["val"].tolist() == [1.0, 9.0]
    assert out["extra"].tolist()[0] == 10
    assert pd.isna(out["extra"].tolist()[1])


def test_schema_evolution_type_conflict_raises(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/evo3")
    ds.write(
        df=make_df(spark, [(ts(1), 1.0, "a")]), ordered_on="ts"
    )
    bad = make_df(spark, [(ts(2), "not-a-double", "b")])
    with pytest.raises(ValueError, match="cannot change column"):
        ds.write(df=bad, evolve_schema=True)


def test_column_stats_file_skipping(spark, scratch):
    from oups_spark.functions.filters import dnf_file_can_match

    # pure predicate: OR-groups, unknown cols, conservative defaults
    st = {"v": (10, 20), "s": ("a", "m")}
    assert not dnf_file_can_match(st, [[("v", ">", 25)]])
    assert dnf_file_can_match(st, [[("v", ">", 15)]])
    assert dnf_file_can_match(st, [[("v", ">", 25)], [("s", "==", "b")]])
    assert not dnf_file_can_match(st, [[("v", ">", 25)], [("s", "==", "z")]])
    assert dnf_file_can_match(st, [[("unknown", "==", 1)]])
    assert dnf_file_can_match(None, [[("v", ">", 25)]])
    assert not dnf_file_can_match(st, [[("v", "in", [1, 2, 30])]])
    assert dnf_file_can_match(st, [[("v", "in", [1, 15])]])
    assert dnf_file_can_match(st, [[("v", "!=", 99)]])  # never provable

    # NaN safety (PARQUET-1246): parquet min/max exclude NaN but Spark
    # orders NaN above every double, so float stats must NOT prune
    # '>' / '>=' (a NaN row would satisfy them) while '<' / '<=' / '=='
    # / 'in' stay prunable (NaN never satisfies those)
    fst = {"f": (10.0, 20.0)}
    assert dnf_file_can_match(fst, [[("f", ">", 25.0)]])
    assert dnf_file_can_match(fst, [[("f", ">=", 25.0)]])
    assert not dnf_file_can_match(fst, [[("f", "<", 5.0)]])
    assert not dnf_file_can_match(fst, [[("f", "<=", 5.0)]])
    assert not dnf_file_can_match(fst, [[("f", "==", 25.0)]])
    assert not dnf_file_can_match(fst, [[("f", "in", [5.0, 25.0])]])
    # int stats with a float probe value are float-contaminated too
    assert dnf_file_can_match(st, [[("v", ">", 25.0)]])

    # end to end: val correlates with ts, so val filters prune files
    # ('<' on the float column — the op that stays NaN-safe to prune)
    rows = [(ts(h), float(h), f"s{h:02d}") for h in range(1, 21)]
    ds = OrderedDataset(spark, f"{scratch}/skip")
    ds.write(df=make_df(spark, rows), ordered_on="ts", row_group_target_size=5)
    assert ds.n_files == 4
    out = ds.read(filters=[("val", "<", 6.5)])
    assert len(out.inputFiles()) < 4  # files pruned driver-side
    got = sorted(r.val for r in out.collect())
    assert got == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    # string column stats prune too
    out2 = ds.read(filters=[("sym", "<=", "s03")])
    assert len(out2.inputFiles()) == 1
    assert sorted(r.sym for r in out2.collect()) == ["s01", "s02", "s03"]
    # fully pruned -> empty frame with the dataset schema
    out3 = ds.read(filters=[("val", ">", 99.0)])
    assert out3.count() == 0 and out3.columns == ["ts", "val", "sym"]


def test_driver_merge_fast_path_equals_spark_path(spark, scratch):
    """The driver-side pyarrow merge (small-batch fast path) must produce the same readable dataset as the distributed
    path: same rows after overlapping keep-last merges, same manifest
    stat quality, same file sizing."""
    import os

    import pandas as pd

    from oups_spark.store.dataset import OrderedDataset

    def batch(lo, hi, tag):
        return pd.DataFrame(
            {
                "ts": pd.date_range("2024-01-01", periods=hi - lo, freq="h")
                + pd.Timedelta(hours=lo),
                "sym": [f"s{i % 3}" for i in range(lo, hi)],
                "val": [float(tag * 1000 + i) for i in range(lo, hi)],
            }
        )

    batches = [batch(0, 40, 1), batch(30, 70, 2), batch(10, 50, 3)]

    fast = OrderedDataset(spark, os.path.join(scratch, "fp_fast"))
    slow = OrderedDataset(spark, os.path.join(scratch, "fp_slow"))
    for b in batches:
        fast.write(
            df=spark.createDataFrame(b),
            ordered_on="ts",
            duplicates_on=["sym"],
            row_group_target_size=16,
            validate_monotonic=False,
        )
        with pytest.MonkeyPatch.context() as m:
            m.setattr(driver_gate, "MAX_ROWS", 0)  # the distributed path
            slow.write(
                df=spark.createDataFrame(b),
                ordered_on="ts",
                duplicates_on=["sym"],
                row_group_target_size=16,
            )
    got = fast.read().toPandas().sort_values(["ts", "sym"], ignore_index=True)
    want = slow.read().toPandas().sort_values(["ts", "sym"], ignore_index=True)
    pd.testing.assert_frame_equal(got, want)
    # manifest parity: bounds agree file-by-file is not required (file
    # boundaries are an implementation detail) but totals and per-file
    # stats presence are
    assert fast.n_rows == slow.n_rows
    assert all(e.min is not None and e.max is not None for e in fast.manifest.files)
    assert all(e.cols for e in fast.manifest.files)
    # a later DISTRIBUTED write on the fast-path dataset still works
    # (mixed-writer datasets must interoperate)
    extra = batch(60, 90, 4)
    fast.write(
        df=spark.createDataFrame(extra),
        ordered_on="ts",
        duplicates_on=["sym"],
        row_group_target_size=16,
    )
    with pytest.MonkeyPatch.context() as m:
        m.setattr(driver_gate, "MAX_ROWS", 0)
        slow.write(
            df=spark.createDataFrame(extra),
            ordered_on="ts",
            duplicates_on=["sym"],
            row_group_target_size=16,
        )
    pd.testing.assert_frame_equal(
        fast.read().toPandas().sort_values(["ts", "sym"], ignore_index=True),
        slow.read().toPandas().sort_values(["ts", "sym"], ignore_index=True),
    )
    # and range reads prune + filter identically
    r1 = fast.read(
        start=pd.Timestamp("2024-01-01 20:00"),
        end_excl=pd.Timestamp("2024-01-02 10:00"),
    ).toPandas().sort_values(["ts", "sym"], ignore_index=True)
    r2 = slow.read(
        start=pd.Timestamp("2024-01-01 20:00"),
        end_excl=pd.Timestamp("2024-01-02 10:00"),
    ).toPandas().sort_values(["ts", "sym"], ignore_index=True)
    pd.testing.assert_frame_equal(r1, r2)


def test_compact_preserves_evolved_columns(spark, scratch):
    """Compacting a run that mixes pre- and post-evolution files must
    not lose evolved-column values: the rewrite reads through the
    manifest union schema (a bare parquet read would take one file's
    footer schema and silently null the evolved column)."""
    import os

    import pandas as pd

    from oups_spark.store.dataset import OrderedDataset

    path = os.path.join(scratch, "evo_compact_guard")
    ds = OrderedDataset(spark, path)
    b1 = pd.DataFrame(
        {"ts": pd.date_range("2024-01-01", periods=3, freq="h"), "v": [1.0, 2.0, 3.0]}
    )
    ds.write(df=spark.createDataFrame(b1), ordered_on="ts", row_group_target_size=100)
    b2 = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01 03:00", periods=3, freq="h"),
            "v": [4.0, 5.0, 6.0],
            "extra": [40, 50, 60],
        }
    )
    ds.write(
        df=spark.createDataFrame(b2), evolve_schema=True, row_group_target_size=100
    )
    before = ds.read().toPandas().sort_values("ts", ignore_index=True)
    assert ds.compact(row_group_target_size=100) == 2
    after = ds.read().toPandas().sort_values("ts", ignore_index=True)
    pd.testing.assert_frame_equal(after, before)
    assert after["extra"].notna().sum() == 3  # the evolved values survived


def test_overlap_merge_preserves_evolved_columns(spark, scratch):
    """An overlapping write whose merge touches BOTH pre- and
    post-evolution files must keep the evolved column's values in the
    rewritten files (same manifest-schema-read guard as compact)."""
    import os

    import pandas as pd

    from oups_spark.store.dataset import OrderedDataset

    path = os.path.join(scratch, "evo_overlap_guard")
    ds = OrderedDataset(spark, path)
    b1 = pd.DataFrame(
        {"ts": pd.date_range("2024-01-01", periods=3, freq="h"), "v": [1.0, 2.0, 3.0]}
    )
    ds.write(df=spark.createDataFrame(b1), ordered_on="ts", row_group_target_size=100)
    b2 = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01 03:00", periods=3, freq="h"),
            "v": [4.0, 5.0, 6.0],
            "extra": [40, 50, 60],
        }
    )
    ds.write(
        df=spark.createDataFrame(b2), evolve_schema=True, row_group_target_size=100
    )
    b3 = pd.DataFrame(
        {
            "ts": [
                pd.Timestamp("2024-01-01 01:30"),
                pd.Timestamp("2024-01-01 03:30"),
            ],
            "v": [9.9, 8.8],
            "extra": [99, 88],
        }
    )
    ds.write(
        df=spark.createDataFrame(b3),
        evolve_schema=True,
        duplicates_on=[],
        row_group_target_size=100,
    )
    out = ds.read().toPandas().sort_values("ts", ignore_index=True)
    assert out["extra"].notna().sum() == 5  # 40/50/60 survive + 99/88
    assert sorted(out["extra"].dropna()) == [40, 50, 60, 88, 99]


def test_byte_gate_forces_distributed_for_wide_strings(spark, scratch, monkeypatch):
    """The driver-merge auto gate must refuse batches whose STRING
    payload would blow the collected-Arrow budget even when the row
    count is tiny (100k multi-KB docs is multi-GB), and must also
    price in replaced files' on-disk bytes on a follow-up merge."""
    import oups_spark.store.dataset as dsmod
    from oups_spark.store import driver_gate

    calls = []
    real = dsmod.OrderedDataset._merge_write_driver

    def spy(self, *a, **k):
        r = real(self, *a, **k)
        calls.append(r is not None)  # True = driver path actually used
        return r

    monkeypatch.setattr(dsmod.OrderedDataset, "_merge_write_driver", spy)
    # shrink the budget so the test stays fast: 1 MB
    monkeypatch.setattr(driver_gate, "MAX_BYTES", 1 << 20)

    wide = spark.range(200).selectExpr(
        "id AS ts", "repeat('x', 20000) AS doc"  # 200 x 20 KB = 4 MB
    )
    ds = OrderedDataset(spark, f"{scratch}/wide")
    ds.write(wide, ordered_on="ts", row_group_target_size=1000)
    assert not calls, (
        "wide-string batch: the measured-bytes gate must refuse "
        "BEFORE any collect"
    )

    narrow = spark.range(200).selectExpr("id AS ts", "'ab' AS doc")
    ds2 = OrderedDataset(spark, f"{scratch}/narrow")
    ds2.write(narrow, ordered_on="ts", row_group_target_size=1000)
    assert calls == [True], "small-string batch should take the driver fast path"

    # overlap merge against the existing WIDE files: those files
    # dictionary-encode (repeated strings) so the footer-based
    # estimate can undercount — the HARD actual-bytes cap inside
    # _merge_write_driver must then bail to the distributed path
    calls.clear()
    wide2 = spark.range(100).selectExpr(
        "id AS ts", "'tiny' AS doc"
    )
    ds.write(wide2, ordered_on="ts", duplicates_on=["ts"], row_group_target_size=1000)
    assert True not in calls, (
        "decoding multi-MB old files must trip the hard cap and fall "
        "back to the distributed merge"
    )
    # both datasets still read back correctly
    assert ds.read().count() == 200
    assert ds2.read().count() == 200


def test_driver_merge_chunks_balanced(spark, scratch):
    """target*k+1 rows must split into near-equal files, not k full
    files plus a 1-row tail (the fragment-accumulation failure)."""
    df = spark.range(2001).selectExpr("id AS ts", "id * 2 AS val")
    ds = OrderedDataset(spark, f"{scratch}/bal")
    ds.write(df, ordered_on="ts", row_group_target_size=1000)
    sizes = sorted(e.n_rows for e in ds._manifest.files)
    assert sizes == [667, 667, 667], sizes


def test_compact_driver_and_distributed_paths_agree(spark, scratch, monkeypatch):
    """The driver-side pyarrow compact fast path and the distributed
    rewrite must produce identical reads and equivalent manifests."""
    import os

    import pandas as pd

    from oups_spark.store import driver_gate
    from oups_spark.store.dataset import OrderedDataset

    def build(path):
        ds = OrderedDataset(spark, path)
        for lo in (0, 30, 60):
            b = pd.DataFrame(
                {
                    "ts": pd.date_range(
                        "2024-01-01", periods=90, freq="min"
                    )[lo : lo + 30],
                    "v": list(range(lo, lo + 30)),
                }
            )
            ds.write(df=spark.createDataFrame(b), ordered_on="ts",
                     row_group_target_size=10)
        return ds

    d1 = build(os.path.join(scratch, "cmp_drv"))
    assert d1.compact(row_group_target_size=60) > 0
    out_driver = d1.read().toPandas().sort_values("ts", ignore_index=True)
    files_driver = [e.n_rows for e in d1._manifest.files]

    d2 = build(os.path.join(scratch, "cmp_dist"))
    monkeypatch.setattr(driver_gate, "MAX_ROWS", 0)
    assert d2.compact(row_group_target_size=60) > 0
    out_dist = d2.read().toPandas().sort_values("ts", ignore_index=True)
    files_dist = [e.n_rows for e in d2._manifest.files]

    pd.testing.assert_frame_equal(out_driver, out_dist)
    assert files_driver == files_dist


def test_bloom_skipping_prunes_point_lookups(spark, scratch):
    """Per-file Bloom index (store/bloom.py): a point lookup on a
    CLUSTERED-but-unordered column prunes to the one file actually
    holding the key — [min, max] stats alone cannot prune this shape
    (every file's id range spans the key space). Also pins: a probe
    for an absent key scans ZERO files, NULL values set no bits, and
    the driver-merge write path attaches blooms too."""
    import pyspark.sql.functions as SF

    from oups_spark.store.manifest import Manifest

    path = f"{scratch}/bloom_ds"
    n = 8_000
    # session ids cluster by time (i // 2000) -> 4 files, one session
    # each; the probe column the files are NOT ordered by
    df = spark.range(n).select(
        SF.col("id").alias("seq"),
        (SF.col("id") / SF.lit(2_000)).cast("long").alias("session"),
        SF.when(SF.col("id") % 100 == 0, None)
        .otherwise(SF.concat(SF.lit("u"), (SF.col("id") % 7).cast("string")))
        .alias("tag"),
    )
    ds = OrderedDataset(spark, path)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(driver_gate, "MAX_ROWS", 0)  # the distributed path
        ds.write(
            df=df, ordered_on="seq", row_group_target_size=2_000,
            validate_monotonic=False, bloom_cols=["session", "tag"],
        )
    man = Manifest.load(path)
    assert all(e.blooms and set(e.blooms) == {"session", "tag"}
               for e in man.files)

    # point lookup -> EXACTLY the files whose data holds session 2
    # (the range partitioner's boundaries are sampling-dependent, so
    # the truth set is computed from the data, not assumed; with <=3
    # distinct sessions per file the false-positive odds are ~1e-9,
    # so planned == truth, and pruning must drop the files that only
    # hold other sessions)
    n_total = len(man.files)
    assert n_total >= 3

    def files_of(df):
        return {r[0] for r in df.select(SF.input_file_name()).distinct().collect()}

    truth2 = files_of(ds.read().where(SF.col("session") == 2))
    hit = ds.read(filters=[("session", "=", 2)])
    assert files_of(hit) == truth2
    assert len(truth2) < n_total
    assert hit.count() == 2_000

    # IN over two sessions -> exactly their files, fewer than all
    truth03 = files_of(ds.read().where(SF.col("session").isin(0, 3)))
    two = ds.read(filters=[("session", "in", [0, 3])])
    assert files_of(two) == truth03
    assert len(truth03) < n_total
    assert two.count() == 4_000

    # absent key: bloom proves emptiness, zero files planned, empty
    # result through the recorded schema (no scan, no crash)
    miss = ds.read(filters=[("session", "=", 99)])
    assert miss.count() == 0

    # string column probe; NULLs in the column set no bits and an
    # equality probe never matches NULL anyway
    tagged = ds.read(filters=[("tag", "=", "u3")])
    assert tagged.count() == df.filter(SF.col("tag") == "u3").count()

    # DRIVER-MERGE path (small overlapping batch, auto gate) must
    # attach blooms to its rewritten files as well
    upd = spark.range(10).select(
        (SF.col("id") + 4_100).alias("seq"),
        SF.lit(77).cast("long").alias("session"),
        SF.lit("u9").alias("tag"),
    )
    OrderedDataset(spark, path).write(
        df=upd, duplicates_on=["seq"], validate_monotonic=False,
        bloom_cols=["session", "tag"], row_group_target_size=2_000,
    )
    man2 = Manifest.load(path)
    assert all(e.blooms for e in man2.files)
    got = OrderedDataset(spark, path).read(filters=[("session", "=", 77)])
    assert got.count() == 10
    # the rewritten file now holds sessions {2, 77}: probing 2 keeps
    # it, probing 77 finds only it
    assert (
        OrderedDataset(spark, path)
        .read(filters=[("session", "=", 77)])
        .select(SF.input_file_name()).distinct().count() == 1
    )


def test_bloom_rejects_unbloomable_column_types(spark, scratch):
    import pytest

    import pyspark.sql.functions as SF

    path = f"{scratch}/bloom_badcol"
    df = spark.range(10).select(
        SF.col("id").alias("seq"), SF.rand(1).alias("v")
    )
    with pytest.raises(ValueError, match="only int/long/string"):
        OrderedDataset(spark, path).write(
            df=df, ordered_on="seq", validate_monotonic=False,
            bloom_cols=["v"],
        )
    with pytest.raises(ValueError, match="not in dataset schema"):
        OrderedDataset(spark, path).write(
            df=df, ordered_on="seq", validate_monotonic=False,
            bloom_cols=["nope"],
        )


def test_bloom_jvm_and_driver_hashes_agree(spark):
    """The write side (F.md5 JVM expression) and the probe side
    (hashlib.md5) must place every value at identical bit positions —
    the cross-engine contract the skipping correctness rests on."""
    import pyspark.sql.functions as SF

    from oups_spark.store.bloom import _positions_col, bloom_positions_py

    vals = [0, 1, 42, -7, 123456789012345, "u3", "", "späce:colon"]
    df = spark.createDataFrame(
        [(str(v), v if isinstance(v, str) else None, v if not isinstance(v, str) else None) for v in vals],
        "s string, vs string, vl long",
    )
    m, k = 8192, 3
    rows = df.select(
        "s",
        _positions_col(SF.coalesce(SF.col("vs"), SF.col("vl").cast("string")), m, k).alias("p"),
    ).collect()
    for r in rows:
        v = r["s"]
        # recover the original typed value for the python side
        pv = v if any(isinstance(x, str) and str(x) == v for x in vals) else int(v)
        assert list(r["p"]) == bloom_positions_py(pv, m, k), v


def test_bloom_cols_sticky_across_appends(spark, scratch):
    """write(bloom_cols=...) persists in the manifest: later appends
    that omit it still index their new files (a silently-unindexed
    append would make reads stop pruning); bloom_cols=[] clears."""
    import pyspark.sql.functions as SF

    from oups_spark.store.manifest import Manifest

    path = f"{scratch}/bloom_sticky"

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            SF.col("id").alias("seq"),
            (SF.col("id") / SF.lit(1_000)).cast("long").alias("session"),
        )

    ds = OrderedDataset(spark, path)
    ds.write(df=batch(0, 2_000), ordered_on="seq",
             row_group_target_size=1_000, validate_monotonic=False,
             bloom_cols=["session"])
    # append WITHOUT bloom_cols: new files must still carry blooms
    OrderedDataset(spark, path).write(
        df=batch(2_000, 4_000), row_group_target_size=1_000,
        validate_monotonic=False,
    )
    man = Manifest.load(path)
    assert man.kv["oups.bloom_cols"] == ["session"]
    assert all(e.blooms and "session" in e.blooms for e in man.files)
    got = OrderedDataset(spark, path).read(filters=[("session", "=", 3)])
    assert got.count() == 1_000

    # bloom_cols=[] clears the sticky setting: further appends stop
    OrderedDataset(spark, path).write(
        df=batch(4_000, 5_000), row_group_target_size=1_000,
        validate_monotonic=False, bloom_cols=[],
    )
    OrderedDataset(spark, path).write(
        df=batch(5_000, 6_000), row_group_target_size=1_000,
        validate_monotonic=False,
    )
    man2 = Manifest.load(path)
    assert man2.kv["oups.bloom_cols"] == []
    newest = [e for e in man2.files if e.min >= 4_000]
    assert newest and all(e.blooms is None for e in newest)


def test_bloom_build_aggregates_exploded_ints(spark):
    """Scale shape of the bloom build (store/bloom.py): the distinct
    aggregation runs over EXPLODED scalar positions, so executor agg
    state per (file, column) group is bounded by m integers — not by
    the column's distinct-value count (a collect_set of whole
    position arrays buffers one array per distinct value, which at
    reference-default 6.3M-row files is millions of arrays)."""
    import pyspark.sql.functions as SF
    from pyspark.sql.types import ArrayType, LongType

    from oups_spark.store.bloom import _distinct_positions_df

    df = spark.range(100).select(
        SF.col("id").alias("a"), SF.col("id").cast("string").alias("b")
    )
    agg = _distinct_positions_df(df, ["a", "b"], m=1024, k=3)
    # the collect_set output is an array of scalar ints (bounded by
    # m per group), never an array of arrays
    ps_type = agg.schema["__ps"].dataType
    assert isinstance(ps_type, ArrayType)
    assert isinstance(ps_type.elementType, LongType)
    # and the plan explodes before aggregating
    plan = agg._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate explode" in plan or "explode" in plan.lower()


def test_bloom_probe_type_coercion_no_false_negative(spark, scratch):
    """ADVICE r10: dnf_filter matches with SQL numeric coercion, but
    the bloom hashed str() of the stored value. A long column probed
    with 7.0 / True / '7' must still return its rows (the probe is
    normalized through int()), and a string column probed with a
    non-string must never be bloom-pruned (SQL casts the COLUMN, so
    '07' == 7 — no canonical probe string exists)."""
    import pyspark.sql.functions as SF

    path = f"{scratch}/bloom_coerce"
    df = spark.range(4_000).select(
        SF.col("id").alias("seq"),
        (SF.col("id") / SF.lit(1_000)).cast("long").alias("session"),
        # one file holds only '07'-style zero-padded numeric strings
        SF.when(SF.col("id") < 1_000, SF.lit("07"))
        .otherwise(SF.lit("x"))
        .alias("code"),
    )
    ds = OrderedDataset(spark, path)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(driver_gate, "MAX_ROWS", 0)  # the distributed path
        ds.write(
            df=df, ordered_on="seq", row_group_target_size=1_000,
            validate_monotonic=False, bloom_cols=["session", "code"],
        )
    ds = OrderedDataset(spark, path)
    # float probe of a long column: SQL says session == 2.0 matches
    # session 2 rows; the bloom must not prune them
    assert ds.read(filters=[("session", "=", 2.0)]).count() == 1_000
    # bool probe: True coerces to 1
    assert ds.read(filters=[("session", "=", True)]).count() == 1_000
    # numeric-string probe of a long column
    assert ds.read(filters=[("session", "=", "2")]).count() == 1_000
    assert ds.read(filters=[("session", "in", [2.0, 99.0])]).count() == 1_000
    # non-integral float can never equal a long: keep-file is fine,
    # result must simply match the SQL semantics (empty)
    assert ds.read(filters=[("session", "=", 2.5)]).count() == 0
    # string column probed with an int: whatever SQL coercion yields,
    # the bloom path must agree with the row-level filter
    expect = df.where(SF.col("code") == 7).count()
    assert ds.read(filters=[("code", "=", 7)]).count() == expect
    # absent long key still prunes to zero files through normalization
    assert ds.read(filters=[("session", "=", 99.0)]).count() == 0


def _dml_frame(spark, n=40):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
            "uid": [i % 5 for i in range(n)],
            "v": [float(i) for i in range(n)],
        }
    )
    return spark.createDataFrame(pdf), pdf


def test_delete_where_rewrites_only_touched_files(spark, scratch):
    """Row-level DELETE (Delta-style copy-on-write): stats/bloom
    pruning picks candidate files, only files that truly contain
    matches are rewritten — untouched files keep their physical
    identity — and a fully-matching file leaves the manifest with no
    rewrite at all."""
    import os

    from oups_spark.store.dataset import OrderedDataset

    path = os.path.join(scratch, "dml_del")
    df, pdf = _dml_frame(spark)
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)
    before = {e.name: e for e in ds.manifest.files}
    assert len(before) == 4

    # range delete inside ONE file's span: hours 12..15 live in file 2
    n = ds.delete_where([
        ("ts", ">=", pdf["ts"][12]), ("ts", "<", pdf["ts"][16]),
    ])
    assert n == 4
    after = {e.name: e for e in ds.manifest.files}
    # 3 of 4 original files untouched (same names), 1 replaced
    assert len(set(before) & set(after)) == 3
    got = ds.read().toPandas().sort_values("ts", ignore_index=True)
    exp = pdf[(pdf["ts"] < pdf["ts"][12]) | (pdf["ts"] >= pdf["ts"][16])]
    assert got["v"].tolist() == exp["v"].tolist()
    # replacement entry carries tightened bounds
    replaced = [e for name, e in after.items() if name not in before]
    assert len(replaced) == 1 and replaced[0].n_rows == 6

    # delete matching a whole file -> entry dropped, no replacement
    n2 = ds.delete_where([
        ("ts", ">=", pdf["ts"][20]), ("ts", "<", pdf["ts"][30]),
    ])
    assert n2 == 10
    assert len(ds.manifest.files) == 3
    assert ds.read().count() == 26

    # predicate matching nothing is a no-op (0 rows, no commit)
    gen = ds.manifest.generation
    assert ds.delete_where([("v", "==", -1.0)]) == 0
    assert ds.manifest.generation == gen

    # full-table DML without filters is refused
    import pytest

    with pytest.raises(ValueError, match="explicit filters"):
        ds.delete_where(None)


def test_update_where_sets_values_and_preserves_schema(spark, scratch):
    """Row-level UPDATE: assignments see PRE-update values, are cast
    to the column's existing type, non-matching rows and untouched
    files are byte-identical, and the ordering column is protected."""
    import os

    import pyspark.sql.functions as F
    import pytest

    from oups_spark.store.dataset import OrderedDataset

    path = os.path.join(scratch, "dml_upd")
    df, pdf = _dml_frame(spark)
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)
    before = {e.name for e in ds.manifest.files}

    # expression assignment referencing the row's own pre-update value
    n = ds.update_where(
        [("uid", "==", 2)], {"v": F.col("v") * 100, "uid": 99},
    )
    assert n == 8
    after = {e.name for e in ds.manifest.files}
    assert len(after) == 4 and before != after  # every file had a uid=2
    got = ds.read().toPandas().sort_values("ts", ignore_index=True)
    mask = pdf["uid"] == 2
    assert (got.loc[mask, "v"] == pdf.loc[mask, "v"] * 100).all()
    assert (got.loc[mask, "uid"] == 99).all()
    assert (got.loc[~mask, "v"] == pdf.loc[~mask, "v"]).all()
    # int literal cast to the column's long type: schema unchanged
    assert ds.read().schema == df.schema

    with pytest.raises(ValueError, match="ordering column"):
        ds.update_where([("uid", "==", 1)], {"ts": pdf["ts"][0]})
    with pytest.raises(ValueError, match="unknown columns"):
        ds.update_where([("uid", "==", 1)], {"nope": 1})


def test_delete_where_uses_bloom_pruning(spark, scratch):
    """A bloom-indexed equality delete prunes to the files whose
    bloom admits the value: candidate count < file count, result
    exact."""
    import os

    import pandas as pd

    from oups_spark.store.dataset import OrderedDataset

    path = os.path.join(scratch, "dml_bloom")
    n = 400
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=n, freq="min"),
            "key": [f"k{i}" for i in range(n)],  # unique: 1 file holds k7
            "v": [float(i) for i in range(n)],
        }
    )
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(
        df=spark.createDataFrame(pdf), ordered_on="ts",
        row_group_target_size=50, bloom_cols=["key"],
    )
    before = {e.name for e in ds.manifest.files}
    assert len(before) == 8
    assert ds.delete_where([("key", "==", "k7")]) == 1
    after = {e.name for e in ds.manifest.files}
    # bloom pruning: at most a couple of files rewritten, not all 8
    assert len(before & after) >= 6
    assert ds.read().count() == n - 1
    # replacement files are re-indexed (sticky bloom_cols)
    new = [e for e in ds.manifest.files if e.name not in before]
    assert new and all(e.blooms and "key" in e.blooms for e in new)


def test_delete_where_preserves_time_travel_snapshots(spark, scratch):
    """DML commits participate in time travel like any write: the
    pre-delete generation stays pinned and fully readable, the new
    generation reads filtered, and vacuum reclaims as usual."""
    import os

    from oups_spark.store.dataset import OrderedDataset

    path = os.path.join(scratch, "dml_tt")
    df, pdf = _dml_frame(spark)
    ds = OrderedDataset(spark, path, retain_versions=True)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)
    g1 = ds.versions()[-1]

    n = ds.delete_where([("uid", "==", 3)])
    assert n == 8
    g2 = ds.versions()[-1]
    assert g2 > g1
    assert ds.read(as_of=g1).count() == 40  # pinned history intact
    assert ds.read(as_of=g2).count() == 32
    assert ds.read().filter("uid = 3").count() == 0


def test_dml_commit_rebases_on_disjoint_concurrent_append(spark, scratch):
    """A delete_where that loses the manifest CAS to a concurrent
    append touching a DISJOINT range lands via commit rebase — zero
    merge re-runs, no retry budget consumed — and both effects
    survive."""
    import os

    from oups_spark.store.dataset import OrderedDataset

    path = os.path.join(scratch, "dml_rebase")
    df, pdf = _dml_frame(spark)  # 40 hourly rows
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)

    a = OrderedDataset(spark, path, deletion_grace_s=0)
    b = OrderedDataset(spark, path, deletion_grace_s=0)
    # a appends a range far past the data; b (stale) deletes early rows
    import pandas as pd

    later = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.date_range("2024-02-01", periods=3, freq="h"),
                "uid": [7, 7, 7],
                "v": [1.5, 2.5, 3.5],
            }
        )
    )
    a.write(df=later)
    n = b.delete_where([
        ("ts", ">=", pdf["ts"][0]), ("ts", "<", pdf["ts"][4]),
    ])
    assert n == 4
    assert b.conflict_rebases == 1 and b.conflict_reruns == 0
    got = OrderedDataset(spark, path).read()
    assert got.count() == 40 - 4 + 3
    assert got.filter("v = 2.5").count() == 1  # the append survived
    assert got.filter(f"ts < '{pdf['ts'][4]}'").count() == 0


def test_merge_into_update_delete_insert_one_commit(spark, scratch):
    """MERGE INTO: update + delete + insert land in ONE manifest
    commit; only files truly holding matches are rewritten (untouched
    files keep their physical identity); inserts become new files;
    counts are exact."""
    import os

    import pyspark.sql.functions as SF

    path = os.path.join(scratch, "merge_into")
    df, pdf = _dml_frame(spark)  # 40 hourly rows, 4 files of 10
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)
    before = {e.name for e in ds.manifest.files}
    gen0 = ds.manifest.generation

    src = spark.createDataFrame(
        pd.DataFrame(
            {
                # rows 2,3 (file 0) match; 35 (file 3) matches;
                # two brand-new keys insert, one mid-range one past-end
                "ts": [pdf["ts"][2], pdf["ts"][3], pdf["ts"][35],
                       pd.Timestamp("2024-01-01 05:30"),
                       pd.Timestamp("2024-03-01")],
                "uid": [100, 101, 102, 103, 104],
                "key": [2, 3, 35, 500, 501],
                "v": [-2.0, -3.0, -35.0, 77.0, 88.0],
                "op": ["U", "D", "U", "I", "I"],
            }
        )
    )
    # the dataset's key is its row index encoded in v (v == float(i))
    ds2 = OrderedDataset(spark, path, deletion_grace_s=0)
    res = ds2.merge_into(
        src.withColumn("k", SF.col("key")),
        on="ts",
        when_matched_update={"v": SF.col("s.v"), "uid": SF.col("s.uid")},
        when_matched_delete=SF.col("s.op") == "D",
        when_not_matched_insert=True,
    )
    assert res == {"updated": 2, "deleted": 1, "inserted": 2}
    after = {e.name for e in ds2.manifest.files}
    # ONE commit for the whole merge
    assert ds2.manifest.generation == gen0 + 1
    # files 1 and 2 held no matches: physical identity preserved
    assert len(before & after) == 2
    got = ds2.read(ordered=True).toPandas()
    assert len(got) == 40 - 1 + 2
    assert got[got["uid"] == 100]["v"].tolist() == [-2.0]
    assert got[got["uid"] == 102]["v"].tolist() == [-35.0]
    assert pdf["ts"][3] not in set(got["ts"])  # deleted
    assert got[got["uid"] == 104]["v"].tolist() == [88.0]
    # extra source columns (key, op) were dropped, not inserted
    assert set(got.columns) == {"ts", "uid", "v"}


def test_merge_into_source_sentinel_and_insert_only(spark, scratch):
    """The 'source' update sentinel sets every common non-key column
    from the source row; an insert-only merge (no matched clauses)
    rewrites NOTHING — matched source rows are simply ignored."""
    import os

    path = os.path.join(scratch, "merge_sentinel")
    df, pdf = _dml_frame(spark)
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)
    before = {e.name for e in ds.manifest.files}

    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": [pdf["ts"][5], pd.Timestamp("2024-03-01")],
                "uid": [200, 201],
                "v": [-5.0, 99.0],
            }
        )
    )
    # insert-only: the matched row (ts[5]) is ignored, no rewrite
    res = ds.merge_into(
        src, on="ts",
        when_matched_update=None,
        when_matched_delete=False,
        when_not_matched_insert=True,
    )
    assert res == {"updated": 0, "deleted": 0, "inserted": 1}
    assert before <= {e.name for e in ds.manifest.files}
    assert ds.read().filter("uid = 200").count() == 0  # not updated
    assert ds.read().filter("uid = 201").count() == 1

    # 'source' sentinel: uid and v both come from the source row
    res2 = ds.merge_into(
        src, on="ts",
        when_matched_update="source",
        when_not_matched_insert=False,
    )
    assert res2 == {"updated": 2, "deleted": 0, "inserted": 0}
    got = ds.read().filter(f"ts = '{pdf['ts'][5]}'").toPandas()
    assert got["uid"].tolist() == [200] and got["v"].tolist() == [-5.0]


def test_merge_into_validations(spark, scratch):
    """MERGE INTO rejects: no clauses, non-unique source keys, NULL
    source keys, assigning the ordering column, inserts without the
    ordering column, and unknown update columns."""
    import os

    import pyspark.sql.functions as SF

    path = os.path.join(scratch, "merge_valid")
    df, pdf = _dml_frame(spark)
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=20)

    src = spark.createDataFrame(
        pd.DataFrame({"ts": [pdf["ts"][0]], "uid": [9], "v": [1.0]})
    )
    with pytest.raises(ValueError, match="no-op"):
        ds.merge_into(src, on="ts", when_not_matched_insert=False)
    dup = src.union(src)
    with pytest.raises(ValueError, match="not unique"):
        ds.merge_into(dup, on="ts", when_matched_update={"v": 0.0})
    nullk = spark.createDataFrame(
        pd.DataFrame({"ts": [pd.NaT], "uid": [9], "v": [1.0]})
    )
    with pytest.raises(ValueError, match="NULL values in the merge keys"):
        ds.merge_into(nullk, on="ts", when_matched_update={"v": 0.0})
    with pytest.raises(ValueError, match="ordering column"):
        ds.merge_into(
            src, on="uid",
            when_matched_update={"ts": SF.col("s.ts")},
        )
    with pytest.raises(ValueError, match="needs the ordering column"):
        ds.merge_into(
            src.drop("ts"), on="uid", when_not_matched_insert=True
        )
    with pytest.raises(ValueError, match="unknown columns"):
        ds.merge_into(
            src, on="ts", when_matched_update={"nope": 1.0},
            when_not_matched_insert=False,
        )


def test_merge_into_not_matched_by_source(spark, scratch):
    """WHEN NOT MATCHED BY SOURCE (full-snapshot sync): scoped target
    rows absent from the source are deleted (or updated), matched rows
    update, source-only rows insert — one commit; rows OUTSIDE the
    scope are never touched even when they share a file with affected
    rows, and an EMPTY source still clears the scope."""
    import os

    import pyspark.sql.functions as SF

    path = os.path.join(scratch, "merge_nbs")
    df, pdf = _dml_frame(spark)  # 40 hourly rows, 4 files of 10
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)
    t10, t20 = pdf["ts"][10], pdf["ts"][20]
    scope = [("ts", ">=", t10), ("ts", "<", t20)]

    # snapshot of the scope: keeps rows 12 and 14 (updated), adds one
    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": [pdf["ts"][12], pdf["ts"][14],
                       pd.Timestamp("2024-01-01 16:30")],
                "uid": [400, 401, 402],
                "v": [-12.0, -14.0, 77.0],
            }
        )
    )
    res = ds.merge_into(
        src, on="ts",
        when_matched_update={"v": SF.col("s.v"), "uid": SF.col("s.uid")},
        when_not_matched_insert=True,
        when_not_matched_by_source_delete=True,
        by_source_scope=scope,
    )
    # scope rows 10..19: 12/14 matched-update, the other 8 deleted
    assert res == {"updated": 2, "deleted": 8, "inserted": 1}
    got = ds.read(ordered=True).toPandas()
    assert len(got) == 40 - 8 + 1
    in_scope = got[(got["ts"] >= t10) & (got["ts"] < t20)]
    assert sorted(in_scope["uid"].tolist()) == [400, 401, 402]
    # rows outside the scope untouched (row 9 shares file 0 with 10s)
    assert got[got["ts"] == pdf["ts"][9]]["v"].tolist() == [9.0]
    assert got[got["ts"] == pdf["ts"][20]]["v"].tolist() == [20.0]

    # by-source UPDATE variant (flag instead of delete)
    ds2 = OrderedDataset(
        spark, os.path.join(scratch, "merge_nbs_upd"), deletion_grace_s=0
    )
    ds2.write(df=df, ordered_on="ts", row_group_target_size=10)
    res2 = ds2.merge_into(
        src, on="ts",
        when_matched_update={"v": SF.col("s.v")},
        when_not_matched_insert=False,
        when_not_matched_by_source_update={"v": -999.0},
        by_source_scope=scope,
    )
    assert res2 == {"updated": 2 + 8, "deleted": 0, "inserted": 0}
    got2 = ds2.read(ordered=True).toPandas()
    flagged = got2[(got2["ts"] >= t10) & (got2["ts"] < t20)]
    assert (flagged["v"] == -999.0).sum() == 8
    assert set(flagged["v"]) == {-999.0, -12.0, -14.0}
    assert got2[got2["ts"] == pdf["ts"][5]]["v"].tolist() == [5.0]

    # EMPTY source + by-source delete clears the scope in one commit
    ds3 = OrderedDataset(
        spark, os.path.join(scratch, "merge_nbs_empty"), deletion_grace_s=0
    )
    ds3.write(df=df, ordered_on="ts", row_group_target_size=10)
    res3 = ds3.merge_into(
        src.limit(0), on="ts",
        when_not_matched_insert=False,
        when_not_matched_by_source_delete=True,
        by_source_scope=scope,
    )
    assert res3 == {"updated": 0, "deleted": 10, "inserted": 0}
    assert ds3.read().count() == 30
    assert (
        ds3.read().filter(
            (SF.col("ts") >= t10) & (SF.col("ts") < t20)
        ).count()
        == 0
    )


def test_merge_into_rebases_on_disjoint_concurrent_append(spark, scratch):
    """A merge_into that loses the manifest CAS to a concurrent
    append touching a DISJOINT range lands via commit rebase — the
    same zero-re-run conflict path writes and row-level DML use —
    and both effects survive."""
    import os

    import pyspark.sql.functions as SF

    path = os.path.join(scratch, "merge_rebase")
    df, pdf = _dml_frame(spark)
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)

    a = OrderedDataset(spark, path, deletion_grace_s=0)
    b = OrderedDataset(spark, path, deletion_grace_s=0)
    later = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.date_range("2024-02-01", periods=3, freq="h"),
                "uid": [7, 7, 7],
                "v": [1.5, 2.5, 3.5],
            }
        )
    )
    a.write(df=later)  # b's manifest is now stale
    src = spark.createDataFrame(
        pd.DataFrame(
            {"ts": [pdf["ts"][2]], "uid": [300], "v": [-2.0]}
        )
    )
    res = b.merge_into(
        src, on="ts",
        when_matched_update={"v": SF.col("s.v"), "uid": SF.col("s.uid")},
        when_not_matched_insert=False,
    )
    assert res == {"updated": 1, "deleted": 0, "inserted": 0}
    assert b.conflict_rebases == 1 and b.conflict_reruns == 0
    got = OrderedDataset(spark, path).read()
    assert got.count() == 43
    assert got.filter("uid = 300").count() == 1
    assert got.filter("v = 2.5").count() == 1  # the append survived


def test_merge_into_conflict_abort_leaves_no_orphans(spark, scratch):
    """A merge that loses the manifest CAS to an OVERLAPPING winner
    (rebase impossible) with no retry budget aborts cleanly: the
    dataset reads exactly the winner's state, none of the merge's
    effects leak, and the aborted attempt's staged files are removed
    (no orphan parquet outside the manifest)."""
    import os

    import pyspark.sql.functions as SF

    path = os.path.join(scratch, "merge_abort")
    df, pdf = _dml_frame(spark)
    # a reader-isolation grace window (the deployment default): the
    # winner's replaced files stay on disk as tombstones, so the stale
    # merge reaches the CAS instead of failing its scan
    ds = OrderedDataset(spark, path, deletion_grace_s=3600)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)

    a = OrderedDataset(spark, path, deletion_grace_s=3600)
    b = OrderedDataset(spark, path, deletion_grace_s=3600)
    # a rewrites the SAME range b's merge will touch -> no rebase
    a.update_where(
        [("ts", ">=", pdf["ts"][0]), ("ts", "<", pdf["ts"][5])],
        {"v": -100.0},
    )
    src = spark.createDataFrame(
        pd.DataFrame(
            {"ts": [pdf["ts"][1], pd.Timestamp("2024-03-01")],
             "uid": [800, 801], "v": [-1.0, 50.0]}
        )
    )
    from oups_spark.store.manifest import ManifestConflictError

    with pytest.raises(ManifestConflictError):
        b.merge_into(
            src, on="ts",
            when_matched_update={"v": SF.col("s.v")},
            when_not_matched_insert=True,
            conflict_retries=0,
        )
    # winner's state intact, no merge effects
    fresh = OrderedDataset(spark, path, deletion_grace_s=3600)
    got = fresh.read().toPandas()
    assert len(got) == 40
    assert (got["v"] == -100.0).sum() == 5
    assert got[got["uid"] >= 800].empty
    # no orphan parquet files: on-disk set == manifest set
    on_disk = {
        n for n in os.listdir(path) if n.endswith(".parquet")
    }
    referenced = {e.name for e in fresh.manifest.files} | {
        t["name"] if isinstance(t, dict) else t
        for t in (fresh.manifest.tombstones or [])
    }
    assert on_disk <= referenced, on_disk - referenced
    # and a retry budget makes the same merge land
    res = b.merge_into(
        src, on="ts",
        when_matched_update={"v": SF.col("s.v")},
        when_not_matched_insert=True,
        conflict_retries=1,
    )
    assert res == {"updated": 1, "deleted": 0, "inserted": 1}
    assert OrderedDataset(spark, path).read().count() == 41


def test_merge_into_preserves_time_travel_snapshots(spark, scratch):
    """A merge commit participates in time travel like any write: the
    pre-merge generation stays pinned and fully readable (updated,
    deleted, AND inserted rows all absent from it), the new generation
    reads merged, and the whole merge is ONE generation step."""
    import os

    import pyspark.sql.functions as SF

    path = os.path.join(scratch, "merge_tt")
    df, pdf = _dml_frame(spark)
    ds = OrderedDataset(spark, path, retain_versions=True)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)
    g1 = ds.versions()[-1]

    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": [pdf["ts"][1], pdf["ts"][2],
                       pd.Timestamp("2024-03-01")],
                "uid": [600, 601, 602],
                "v": [-1.0, -2.0, 55.0],
                "op": ["U", "D", "I"],
            }
        )
    )
    res = ds.merge_into(
        src, on="ts",
        when_matched_update={"v": SF.col("s.v"), "uid": SF.col("s.uid")},
        when_matched_delete=SF.col("s.op") == "D",
        when_not_matched_insert=True,
    )
    assert res == {"updated": 1, "deleted": 1, "inserted": 1}
    g2 = ds.versions()[-1]
    assert g2 == g1 + 1  # the whole merge is one generation step
    old = ds.read(as_of=g1)
    assert old.count() == 40
    assert old.filter("uid >= 600").count() == 0  # no merge effects
    assert old.filter(f"ts = '{pdf['ts'][2]}'").count() == 1
    new = ds.read(as_of=g2)
    assert new.count() == 40
    assert new.filter("uid = 600").count() == 1
    assert new.filter(f"ts = '{pdf['ts'][2]}'").count() == 0
    assert new.filter("uid = 602").count() == 1


def test_merge_into_evolve_schema(spark, scratch):
    """merge_into(evolve_schema=True): source-only columns extend the
    dataset schema metadata-only — untouched rows read back NULL,
    inserts carry the new column, the 'source' sentinel assigns it on
    matched rows, and without the flag extra columns are dropped (the
    documented default). Type collisions are rejected either way."""
    import os

    import pyspark.sql.functions as SF

    path = os.path.join(scratch, "merge_evo")
    df, pdf = _dml_frame(spark)
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)

    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": [pdf["ts"][3], pd.Timestamp("2024-03-01")],
                "uid": [500, 501],
                "v": [-3.0, 99.0],
                "grade": ["A", "B"],  # not in the target schema
            }
        )
    )
    # default: extra source columns are DROPPED
    res = ds.merge_into(
        src, on="ts", when_matched_update="source",
        when_not_matched_insert=True,
    )
    assert res == {"updated": 1, "deleted": 0, "inserted": 1}
    assert "grade" not in ds.read().columns

    # evolve_schema: the column lands in the schema; matched rows get
    # it via the sentinel, inserts carry it, untouched rows read NULL
    ds2 = OrderedDataset(spark, os.path.join(scratch, "merge_evo2"),
                         deletion_grace_s=0)
    ds2.write(df=df, ordered_on="ts", row_group_target_size=10)
    res2 = ds2.merge_into(
        src, on="ts", when_matched_update="source",
        when_not_matched_insert=True, evolve_schema=True,
    )
    assert res2 == {"updated": 1, "deleted": 0, "inserted": 1}
    got = ds2.read(ordered=True).toPandas()
    assert "grade" in got.columns
    assert got[got["uid"] == 500]["grade"].tolist() == ["A"]
    assert got[got["uid"] == 501]["grade"].tolist() == ["B"]
    assert got["grade"].isna().sum() == 39  # everyone else reads NULL

    # a later plain read/merge sees the evolved schema; a type
    # collision is rejected with or without the flag
    bad = spark.createDataFrame(
        pd.DataFrame({"ts": [pdf["ts"][0]], "uid": [1], "v": [1]})
    ).withColumn("v", SF.col("v").cast("int"))
    with pytest.raises(ValueError, match="cannot change column"):
        ds2.merge_into(bad, on="ts", when_matched_update={"v": 0.0})


def test_merge_commit_hammer_interleaved_conflicts(spark, scratch):
    """Merge-commit conflict hammer: two handles alternate merge_into
    and append commits while each is STALE from the other's wins —
    every commit must land through the rebase-or-rerun path (range-
    disjoint losses rebase at zero Spark cost, overlapping ones
    re-run), the generation advances once per logical commit, and the
    final state equals the serial application."""
    import os

    import pyspark.sql.functions as SF

    path = os.path.join(scratch, "merge_hammer")
    df, pdf = _dml_frame(spark)  # 40 hourly rows
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)
    gen0 = ds.manifest.generation

    a = OrderedDataset(spark, path, deletion_grace_s=0)
    b = OrderedDataset(spark, path, deletion_grace_s=0)
    # 3 rounds: a appends a fresh far range (making b stale), then b
    # merges an update into the ORIGINAL range without reloading
    for i in range(3):
        later = spark.createDataFrame(
            pd.DataFrame(
                {
                    "ts": pd.date_range(
                        f"2024-0{2 + i}-01", periods=2, freq="h"
                    ),
                    "uid": [900 + i] * 2,
                    "v": [float(1000 + i)] * 2,
                }
            )
        )
        a.write(df=later, conflict_retries=5)
        src = spark.createDataFrame(
            pd.DataFrame(
                {
                    "ts": [pdf["ts"][2 * i]],
                    "uid": [700 + i],
                    "v": [-float(i + 1)],
                }
            )
        )
        res = b.merge_into(
            src, on="ts",
            when_matched_update={
                "v": SF.col("s.v"), "uid": SF.col("s.uid"),
            },
            when_not_matched_insert=False,
            conflict_retries=5,
        )
        assert res == {"updated": 1, "deleted": 0, "inserted": 0}
    # every loser landed via rebase (disjoint ranges) or re-run;
    # nothing was lost and the generation counted every commit
    final = OrderedDataset(spark, path, deletion_grace_s=0)
    assert final.manifest.generation == gen0 + 6
    got = final.read().toPandas()
    assert len(got) == 40 + 6
    for i in range(3):
        assert got[got["uid"] == 700 + i]["v"].tolist() == [-float(i + 1)]
        assert (got["uid"] == 900 + i).sum() == 2
    assert (b.conflict_rebases + b.conflict_reruns) >= 1


def test_delete_where_null_predicate_rows_survive(spark, scratch):
    """SQL DELETE semantics: rows where the predicate evaluates NULL
    are NOT matches and must survive, even when they share a file with
    true matches (the rewrite path, not the drop-whole-file path).
    Exercises both a null column value and a pre-schema-evolution row
    reading an evolved column as NULL inside a rewritten file."""
    ds = OrderedDataset(spark, f"{scratch}/null_pred_dml")
    # one file holding a TRUE match, a FALSE row, and a NULL-sym row
    ds.write(
        df=make_df(
            spark, [(ts(1), 1.0, "a"), (ts(2), 2.0, None), (ts(3), 3.0, "b")]
        ),
        ordered_on="ts",
        row_group_target_size=10,
    )
    assert ds.delete_where([("sym", "==", "a")]) == 1
    out = ds.read().toPandas().sort_values("ts", ignore_index=True)
    # the NULL-sym row survived alongside the FALSE row, and the
    # reported count equals the rows actually removed
    assert out["val"].tolist() == [2.0, 3.0]
    assert out["sym"].isna().tolist() == [True, False]

    # schema-evolution variant: pre-evolution rows read the evolved
    # column as NULL; a file holding both them and a true match must
    # keep them through the rewrite
    ds2 = OrderedDataset(spark, f"{scratch}/null_pred_evo")
    ds2.write(
        df=make_df(spark, [(ts(1), 1.0, "a"), (ts(2), 2.0, "b")]),
        ordered_on="ts",
        row_group_target_size=10,
    )
    ds2.write(
        df=make_df(
            spark,
            [(ts(3), 3.0, "c", 30)],
            cols=("ts", "val", "sym", "extra"),
        ),
        evolve_schema=True,
        row_group_target_size=10,
    )
    ds2.compact()  # co-locate pre- and post-evolution rows in one file
    assert ds2.delete_where([("extra", "==", 30)]) == 1
    out2 = ds2.read().toPandas().sort_values("ts", ignore_index=True)
    assert out2["val"].tolist() == [1.0, 2.0]


def test_delete_where_on_schema_evolved_dataset(spark, scratch):
    """DML over a dataset whose files straddle a schema evolution: a
    predicate on the evolved column never matches pre-evolution rows
    (their value reads back NULL), and a rewrite of a pre-evolution
    file materializes the union schema without changing what a read
    returns."""
    ds = OrderedDataset(spark, f"{scratch}/evo_dml")
    ds.write(
        df=make_df(spark, [(ts(1), 1.0, "a"), (ts(2), 2.0, "b")]),
        ordered_on="ts",
        row_group_target_size=1,
    )
    ds.write(
        df=make_df(
            spark,
            [(ts(3), 3.0, "c", 30), (ts(4), 4.0, "d", 40)],
            cols=("ts", "val", "sym", "extra"),
        ),
        evolve_schema=True,
        row_group_target_size=1,
    )
    # evolved-column predicate: only the post-evolution match goes
    assert ds.delete_where([("extra", "==", 30)]) == 1
    out = ds.read().toPandas().sort_values("ts", ignore_index=True)
    assert out["val"].tolist() == [1.0, 2.0, 4.0]

    # predicate matching a PRE-evolution row: its rewrite keeps the
    # union schema and the surviving rows' nulls
    assert ds.update_where([("sym", "==", "a")], {"val": -1.0}) == 1
    out2 = ds.read().toPandas().sort_values("ts", ignore_index=True)
    assert out2["val"].tolist() == [-1.0, 2.0, 4.0]
    assert out2["extra"].isna().tolist() == [True, True, False]


def test_compact_zorder_prunes_preserves_and_time_travels(spark, scratch):
    """compact(zorder_by=...) — in-place OPTIMIZE ZORDER: (1) the
    rows are layout-independent (same read before/after, same box
    answer), (2) the pruning ASYMMETRY is real — the time-ordered
    layout's per-file stats cannot skip anything for a (uid, v) box
    while the re-clustered layout skips most files, (3) time travel
    to the pre-compact generation still resolves, (4) range reads on
    the ordering column stay correct over the now-overlapping file
    ranges."""
    import os

    import pandas as pd

    from oups_spark.functions.filters import dnf_file_can_match

    n = 4000
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=n, freq="min"),
            # uid/v deliberately uncorrelated with ts so the ordered
            # layout's footers are useless for the box
            "uid": [(i * 7919) % 500 for i in range(n)],
            "v": [float((i * 104729) % 1000) / 10 for i in range(n)],
        }
    )
    ds = OrderedDataset(
        spark, os.path.join(scratch, "zc"), retain_versions=True
    )
    ds.write(df=spark.createDataFrame(pdf), ordered_on="ts",
             row_group_target_size=250)
    gen0 = ds.manifest.generation
    box = [
        ("uid", ">=", 100), ("uid", "<=", 160),
        ("v", ">=", 20.0), ("v", "<=", 45.0),
    ]
    match_before = sum(
        dnf_file_can_match(e.cols, [box], blooms=e.blooms)
        for e in ds.manifest.files
    )
    n_files = len(ds.manifest.files)
    exp_box = ds.read(filters=[box]).toPandas().sort_values(
        ["ts"], ignore_index=True
    )
    assert match_before == n_files  # ordered layout: zero skipping

    rewritten = ds.compact(zorder_by=["uid", "v"], row_group_target_size=250)
    assert rewritten == n_files
    assert ds.manifest.generation == gen0 + 1

    match_after = sum(
        dnf_file_can_match(e.cols, [box], blooms=e.blooms)
        for e in ds.manifest.files
    )
    assert match_after <= n_files // 2  # the asymmetry is the point
    got_box = ds.read(filters=[box]).toPandas().sort_values(
        ["ts"], ignore_index=True
    )
    pd.testing.assert_frame_equal(got_box, exp_box)
    # full contents unchanged, ordering-column range read still exact
    got_all = ds.read(ordered=True).toPandas()
    pd.testing.assert_frame_equal(
        got_all.sort_values("ts", ignore_index=True), pdf
    )
    lo, hi = pdf["ts"][1000], pdf["ts"][2000]
    assert ds.read(start=lo, end_excl=hi).count() == 1000
    # time travel: pre-compact generation resolves to identical rows
    tt = ds.read(as_of=gen0).toPandas().sort_values("ts", ignore_index=True)
    pd.testing.assert_frame_equal(tt, pdf)
    # validation: period targets and unknown columns are rejected
    with pytest.raises(ValueError, match="row-count target"):
        ds.compact(zorder_by=["uid", "v"], row_group_target_size="1D")
    with pytest.raises(ValueError, match="absent"):
        ds.compact(zorder_by=["uid", "nope"])


def test_compact_zorder_conflict_hammer(spark, scratch):
    """The re-clustering commit goes through the same CAS path as
    every write: a concurrent append between the z-order read and its
    commit forces reload-and-re-run (conflict_retries), and the final
    state holds BOTH the re-clustered rows and the winner's append —
    the re-run re-clusters the winner's files too."""
    import os

    import pandas as pd

    from oups_spark.store.dataset import ManifestConflictError

    path = os.path.join(scratch, "zc_hammer")
    df, pdf = _dml_frame(spark)
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)

    writer = OrderedDataset(spark, path, deletion_grace_s=0)
    later = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.date_range("2024-03-01", periods=4, freq="h"),
                "uid": [99] * 4,
                "v": [500.0] * 4,
            }
        )
    )

    # make the compacting handle stale, then compact WITHOUT retries:
    # must surface the conflict (the failed attempt reloads, so a
    # followup would see the winner)
    writer.write(df=later.limit(2), conflict_retries=0)
    with pytest.raises(ManifestConflictError):
        ds.compact(zorder_by=["uid", "v"], row_group_target_size=10)
    # retry path: stale AGAIN (second concurrent append), the retried
    # attempt conflicts once, reloads and re-runs over the winner's
    # files
    import pyspark.sql.functions as SF

    cut = pd.Timestamp("2024-03-01 02:00")
    writer.write(
        df=later.filter(SF.col("ts") >= SF.lit(cut)), conflict_retries=0
    )
    n = ds.compact(
        zorder_by=["uid", "v"], row_group_target_size=10, conflict_retries=3
    )
    assert n >= 1 and ds.conflict_reruns >= 1
    final = OrderedDataset(spark, path, deletion_grace_s=0)
    got = final.read().toPandas()
    assert len(got) == len(pdf) + 4
    assert (got["uid"] == 99).sum() == 4


def test_compact_rebases_over_disjoint_concurrent_append(spark, scratch):
    """Plain compact commits through the same CAS/rebase path as every
    write: a concurrent append range-disjoint from the coalesced run
    is absorbed by a rebase (no re-run, no conflict surfaced), and
    the final state holds both the coalesced file and the append."""
    import os

    import pandas as pd

    path = os.path.join(scratch, "compact_rebase")
    df, pdf = _dml_frame(spark)
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)
    later = pd.DataFrame(
        {
            "ts": pd.date_range("2024-03-01", periods=4, freq="h"),
            "uid": [99] * 4,
            "v": [500.0] * 4,
        }
    )
    OrderedDataset(spark, path, deletion_grace_s=0).write(
        df=spark.createDataFrame(later), ordered_on="ts"
    )
    assert ds.compact(row_group_target_size=40) == 4
    assert ds.conflict_rebases == 1 and ds.conflict_reruns == 0
    fresh = OrderedDataset(spark, path)
    assert [e.n_rows for e in fresh.manifest.files] == [40, 4]
    got = fresh.read().toPandas().sort_values("ts", ignore_index=True)
    want = pd.concat([pdf, later], ignore_index=True)
    pd.testing.assert_frame_equal(got[["ts", "uid", "v"]], want)


def test_merge_into_failure_leaves_no_orphan_files(spark, scratch):
    """A merge that fails AFTER the copy-on-write replacements are
    finalized (here: the step-5 null-ordered_on insert raise) must
    delete the staged-but-uncommitted files — reads were never at
    risk (manifest-driven) but every failed/retried merge used to
    leak disk. After the failure: same manifest generation, same
    rows, and the dataset dir holds exactly the manifest's files
    (plus manifest artifacts)."""
    import glob
    import os

    import pandas as pd

    df, pdf = _dml_frame(spark)
    ds = OrderedDataset(spark, os.path.join(scratch, "mo"), deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)
    gen0 = ds.manifest.generation

    # source keyed on uid: one matched update (forces the COW rewrite
    # to stage replacement files) and one not-matched row whose
    # ordered_on is NULL — the step-5 raise fires AFTER staging
    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": [pdf["ts"][0], pd.NaT],
                "uid": [0, 777],
                "v": [1.5, 2.5],
            }
        )
    )
    with pytest.raises(ValueError, match="null values in ordered_on"):
        ds.merge_into(
            src, on="uid",
            when_matched_update={"v": 99.0},
            when_not_matched_insert=True,
        )

    ds2 = OrderedDataset(spark, os.path.join(scratch, "mo"))
    assert ds2.manifest.generation == gen0
    got = ds2.read().toPandas().sort_values("ts", ignore_index=True)
    pd.testing.assert_frame_equal(got[["ts", "uid", "v"]], pdf)
    on_disk = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(scratch, "mo", "*.parquet"))
    }
    referenced = {os.path.basename(e.name) for e in ds2.manifest.files}
    orphans = {
        f for f in on_disk - referenced if not f.startswith("manifest")
    }
    assert orphans == set(), f"leaked files: {orphans}"


def _run_failing_op(spark, ds, op, pdf):
    import pandas as pd

    if op == "write":
        # overlaps the two middle files: a keep-last rewrite of both
        batch = pdf.iloc[12:28].assign(v=-1.0)
        ds.write(df=spark.createDataFrame(batch), ordered_on="ts",
                 duplicates_on=["uid"], row_group_target_size=10)
    elif op == "merge_into":
        src = pd.DataFrame(
            {
                "ts": [pdf["ts"][3], pdf["ts"][39] + pd.Timedelta(hours=1)],
                "uid": [3, 777],
                "v": [99.0, 2.5],
            }
        )
        ds.merge_into(spark.createDataFrame(src), on="ts",
                      when_matched_update={"v": 99.0})
    elif op == "delete_where":
        ds.delete_where([("uid", "=", 3)])
    else:
        ds.compact(row_group_target_size=40)


@pytest.mark.parametrize("cap", [None, 0])
@pytest.mark.parametrize("op", ["write", "merge_into", "delete_where", "compact"])
def test_failure_before_cas_removes_staged_files(
    spark, scratch, monkeypatch, op, cap
):
    """Every data change stages its files into the dataset dir before
    the manifest CAS references them. A failure between the two —
    here ``_attach_blooms`` raising, or for ``compact`` the manifest
    save itself — must remove them, on the driver path (default
    caps) and the distributed one (row cap 0): afterwards the dataset
    dir holds exactly the manifest's files and the rows are
    unchanged."""
    import os

    import pandas as pd

    from oups_spark.store.manifest import Manifest

    df, pdf = _dml_frame(spark)
    path = os.path.join(scratch, f"fail_{op}_{cap}")
    ds = OrderedDataset(spark, path, deletion_grace_s=0)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)
    gen0 = ds.manifest.generation

    def boom(*a, **k):
        raise OSError("simulated failure before the CAS")

    with monkeypatch.context() as m:
        if cap is not None:
            m.setattr(driver_gate, "MAX_ROWS", cap)
        if op == "compact":
            m.setattr(Manifest, "save", boom)
        else:
            m.setattr(OrderedDataset, "_attach_blooms", boom)
        with pytest.raises(OSError, match="before the CAS"):
            _run_failing_op(spark, ds, op, pdf)

    assert ds.manifest.generation == gen0  # the handle never moved
    fresh = OrderedDataset(spark, path)
    assert fresh.manifest.generation == gen0
    on_disk = {n for n in os.listdir(path) if n.endswith(".parquet")}
    assert on_disk == {e.name for e in fresh.manifest.files}
    got = fresh.read().toPandas().sort_values("ts", ignore_index=True)
    pd.testing.assert_frame_equal(got[["ts", "uid", "v"]], pdf)


def test_compact_zorder_scoped_rewrites_only_in_scope_files(spark, scratch):
    """Incremental OPTIMIZE (round-13): compact(zorder_by=...,
    scope=DNF) re-clusters ONLY the files whose stats can match the
    scope — out-of-scope files keep their physical identity — and the
    table reads back identical. At 100 TB the weekly pass re-clusters
    last week's appends, never the table."""
    import glob
    import os

    import pandas as pd

    n = 2000
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
            "uid": [(i * 7919) % 300 for i in range(n)],
            "v": [float((i * 104729) % 900) / 9 for i in range(n)],
        }
    )
    ds = OrderedDataset(
        spark, os.path.join(scratch, "zs"), deletion_grace_s=0
    )
    ds.write(df=spark.createDataFrame(pdf), ordered_on="ts",
             row_group_target_size=250)
    cut = pd.Timestamp("2024-02-15")
    before = {
        e.name: e for e in ds.manifest.files
    }
    out_of_scope = {n_ for n_, e in before.items() if e.max < cut}
    assert out_of_scope and len(out_of_scope) < len(before)

    rewritten = ds.compact(
        zorder_by=["uid", "v"],
        scope=[[("ts", ">=", cut)]],
        row_group_target_size=250,
    )
    assert rewritten == len(before) - len(out_of_scope)
    after = {e.name for e in ds.manifest.files}
    # out-of-scope files untouched (same manifest entries, same bytes
    # on disk); in-scope ones replaced
    assert out_of_scope <= after
    assert not (set(before) - out_of_scope) & after
    got = ds.read(ordered=True).toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values("ts", ignore_index=True), pdf
    )
    # a scope matching nothing is a no-op commit-free pass
    gen = ds.manifest.generation
    assert ds.compact(
        zorder_by=["uid", "v"],
        scope=[[("ts", ">=", pd.Timestamp("2030-01-01"))]],
    ) == 0
    assert ds.manifest.generation == gen


def test_compact_reindexes_sticky_blooms(spark, scratch):
    """Sticky bloom_cols survive BOTH compaction paths (round-13: the
    documented 'rewritten files lose their blooms' degrade removed):
    after a plain coalescing compact and after a z-order recluster,
    every live file carries a bloom on the sticky column and a point
    read still prunes."""
    import os

    import pandas as pd

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=600, freq="min"),
            "uid": [(i * 7919) % 400 for i in range(600)],
            "v": [float(i % 37) for i in range(600)],
        }
    )
    ds = OrderedDataset(spark, os.path.join(scratch, "bl"), deletion_grace_s=0)
    # many tiny files -> a coalescing run exists for plain compact
    ds.write(df=spark.createDataFrame(pdf), ordered_on="ts",
             row_group_target_size=40, bloom_cols=["uid"])
    assert all(e.blooms for e in ds.manifest.files)

    assert ds.compact(row_group_target_size=200) > 0
    assert all(e.blooms for e in ds.manifest.files), "plain compact dropped blooms"

    assert ds.compact(zorder_by=["uid", "v"], row_group_target_size=200) > 0
    assert all(e.blooms for e in ds.manifest.files), "zorder compact dropped blooms"
    # the bloom still prunes a point probe on a value that exists
    from oups_spark.functions.filters import dnf_file_can_match

    probe = [[("uid", "==", 123456)]]  # absent value: blooms prove it
    n_match = sum(
        dnf_file_can_match(e.cols, probe, blooms=e.blooms)
        for e in ds.manifest.files
    )
    assert n_match == 0
    assert ds.read(filters=[[("uid", "==", pdf["uid"][5])]]).count() > 0


def test_merge_into_post_commit_failure_keeps_referenced_files(
    spark, scratch, monkeypatch
):
    """ADVICE r13 (medium): a failure AFTER the manifest CAS lands —
    here the retain_versions snapshot write — must NOT trigger the
    staged-file cleanup: the committed manifest references the
    rewrites + inserts, so deleting them would be permanent data
    loss. The merge's effects must be fully readable afterwards."""
    import glob
    import os

    import pandas as pd

    from oups_spark.store import manifest as manifest_mod

    df, pdf = _dml_frame(spark)
    path = os.path.join(scratch, "pc_merge")
    ds = OrderedDataset(spark, path, retain_versions=True)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)

    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": [pdf["ts"][0], pdf["ts"][39] + pd.Timedelta(hours=1)],
                "uid": [0, 777],
                "v": [99.0, 2.5],
            }
        )
    )

    def boom(*a, **k):
        raise OSError("simulated snapshot-write failure (post-CAS)")

    monkeypatch.setattr(manifest_mod, "write_snapshot", boom)
    with pytest.raises(OSError, match="post-CAS"):
        ds.merge_into(
            src, on="uid",
            when_matched_update={"v": 99.0},
            when_not_matched_insert=True,
        )
    monkeypatch.undo()

    ds2 = OrderedDataset(spark, path, retain_versions=True)
    # every referenced file survived the failure
    for e in ds2.manifest.files:
        assert os.path.exists(os.path.join(path, e.name)), e.name
    got = ds2.read().toPandas()
    # insert landed, and all 8 uid==0 rows carry the update
    assert len(got) == len(pdf) + 1
    assert (got.loc[got["uid"] == 0, "v"] == 99.0).all()
    assert (got["uid"] == 777).sum() == 1


def test_compact_zorder_post_commit_failure_keeps_rewrite(
    spark, scratch, monkeypatch
):
    """ADVICE r13 (medium), zorder twin: compact(zorder_by=...)
    rewrites the WHOLE table; a post-CAS snapshot-write failure used
    to delete every replacement file while the reloaded manifest
    pointed at them. The committed re-clustered layout must remain
    fully readable."""
    import os

    import pandas as pd

    from oups_spark.store import manifest as manifest_mod

    df, pdf = _dml_frame(spark)
    path = os.path.join(scratch, "pc_z")
    ds = OrderedDataset(spark, path, retain_versions=True)
    ds.write(df=df, ordered_on="ts", row_group_target_size=10)

    def boom(*a, **k):
        raise OSError("simulated snapshot-write failure (post-CAS)")

    monkeypatch.setattr(manifest_mod, "write_snapshot", boom)
    with pytest.raises(OSError, match="post-CAS"):
        ds.compact(zorder_by=["uid", "v"], row_group_target_size=20)
    monkeypatch.undo()

    ds2 = OrderedDataset(spark, path, retain_versions=True)
    for e in ds2.manifest.files:
        assert os.path.exists(os.path.join(path, e.name)), e.name
    got = (
        ds2.read().toPandas().sort_values("ts", ignore_index=True)
    )
    pd.testing.assert_frame_equal(got[["ts", "uid", "v"]], pdf)


def test_rebase_post_commit_failure_keeps_staged_files(
    spark, scratch, monkeypatch
):
    """The post-commit contract holds on the REBASE path too: when the
    retain_versions snapshot write fails after the rebase CAS landed,
    the staged files stay and the handle adopts the rebased
    manifest."""
    import os

    from oups_spark.store import manifest as manifest_mod
    from oups_spark.store.manifest import Manifest

    path = os.path.join(scratch, "pc_rebase")
    ds = OrderedDataset(spark, path, retain_versions=True)
    ds.write(df=make_df(spark, [(ts(h), float(h), "a") for h in range(4)]),
             ordered_on="ts")
    a = OrderedDataset(spark, path, retain_versions=True)
    b = OrderedDataset(spark, path, retain_versions=True)
    a.write(df=make_df(spark, [(ts(h, d=3), 30.0 + h, "c") for h in range(2)]))

    def boom(*a, **k):
        raise OSError("simulated snapshot-write failure (post-CAS)")

    monkeypatch.setattr(manifest_mod, "write_snapshot", boom)
    with pytest.raises(OSError, match="post-CAS"):
        # range-disjoint from a's append: the lost CAS rebases
        b.write(df=make_df(spark, [(ts(h, d=2), 20.0 + h, "b") for h in range(2)]))
    monkeypatch.undo()

    stored = Manifest.load(path)
    assert b.manifest.generation == stored.generation == 3
    assert sorted(e.name for e in b.manifest.files) == sorted(
        e.name for e in stored.files
    )
    for e in stored.files:
        assert os.path.exists(os.path.join(path, e.name)), e.name
    got = OrderedDataset(spark, path).read().toPandas()
    assert sorted(got["val"]) == [0.0, 1.0, 2.0, 3.0, 20.0, 21.0, 30.0, 31.0]


def test_kv_only_write_failed_cas_leaves_handle_as_stored(
    spark, scratch, monkeypatch
):
    """A kv-only write whose head write raises leaves the handle's
    kv and generation as stored, so the handle's next commit does not
    land the failed kv."""
    import os

    from oups_spark.store.manifest import Manifest, PosixTransport

    path = os.path.join(scratch, "kv_fail")
    ds = OrderedDataset(spark, path)
    ds.write(df=make_df(spark, [(ts(0), 1.0, "a")]), ordered_on="ts",
             key_value_metadata={"a": 1})
    cas_head = PosixTransport.cas_head
    failures = [OSError("simulated head write failure")]

    def flaky(self, *args, **kw):
        if failures:
            raise failures.pop()
        return cas_head(self, *args, **kw)

    monkeypatch.setattr(PosixTransport, "cas_head", flaky)
    with pytest.raises(OSError, match="head write"):
        ds.write(key_value_metadata={"failed": 1})
    assert ds.key_value_metadata == {"a": 1}
    assert ds.manifest.generation == 1
    ds.write(key_value_metadata={"b": 2})
    stored = Manifest.load(path)
    assert stored.kv == {"a": 1, "b": 2}
    assert stored.generation == ds.manifest.generation == 2


def test_compact_zorder_driver_equals_distributed(spark, scratch, monkeypatch):
    """Round 15: the driver-side z-order rewrite must preserve the
    row multiset exactly and prune a (uid, v) box at least as well as
    the distributed rewrite (exact equi-depth quantiles vs the approx
    sketch). The distributed path stays covered by forcing the driver
    cap to 0."""
    import os

    import pandas as pd

    from oups_spark.functions.filters import dnf_file_can_match

    n = 3000
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=n, freq="min"),
            "uid": [(i * 7919) % 400 for i in range(n)],
            "v": [float((i * 104729) % 900) / 10 for i in range(n)],
        }
    )
    box = [
        ("uid", ">=", 50), ("uid", "<=", 120),
        ("v", ">=", 15.0), ("v", "<=", 40.0),
    ]

    from oups_spark.store import driver_gate

    def run(path, force_distributed: bool):
        ds = OrderedDataset(spark, os.path.join(scratch, path))
        ds.write(df=spark.createDataFrame(pdf), ordered_on="ts",
                 row_group_target_size=200)
        with monkeypatch.context() as m:
            if force_distributed:
                m.setattr(driver_gate, "MAX_ROWS", 0)
            ds.compact(zorder_by=["uid", "v"], row_group_target_size=200)
        pruned = sum(
            dnf_file_can_match(e.cols, [box], blooms=e.blooms)
            for e in ds.manifest.files
        )
        rows = ds.read().toPandas().sort_values("ts", ignore_index=True)
        return pruned, len(ds.manifest.files), rows

    m_drv, n_drv, rows_drv = run("zd_driver", False)
    m_dist, n_dist, rows_dist = run("zd_dist", True)
    pd.testing.assert_frame_equal(rows_drv, rows_dist)  # layout-only
    pd.testing.assert_frame_equal(rows_drv, pdf)
    # driver path writes exactly the balanced ceil(n/target) files;
    # the distributed range partitioner may split a couple more
    assert n_drv == 15
    assert abs(n_dist - n_drv) <= 3
    # both layouts prune; exact quantiles must not cluster worse
    # (compare FRACTIONS — the file counts differ slightly)
    assert m_dist < n_dist
    assert m_drv / n_drv <= m_dist / n_dist + 0.15
