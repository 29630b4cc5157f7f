"""Property-based tests (hypothesis) for the reference's two oracle
patterns (SURVEY §5): *merge equivalence* — any sequence of ordered
writes equals one sorted+deduped write — and *restart equivalence* —
any chunking of a seed equals the one-shot aggregation. Plus
``compact()`` invariants."""

from __future__ import annotations

import contextlib

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from oups_spark.store import driver_gate
from oups_spark.store.dataset import OrderedDataset
from oups_spark.streaming.aggstream import AggStream, KeyConfig


def _mk_batch(draw_rows: list[tuple[int, int, float]]) -> pd.DataFrame:
    rows = sorted(draw_rows, key=lambda r: r[0])
    return pd.DataFrame(
        {
            "ts": [pd.Timestamp(2024, 1, 1) + pd.Timedelta(minutes=m) for m, _, _ in rows],
            "sym": [f"s{s}" for _, s, _ in rows],
            "val": [v for _, _, v in rows],
        }
    )


@contextlib.contextmanager
def _gate_cap(cap):
    """Run the block with ``driver_gate.MAX_ROWS`` at ``cap`` (0 sends
    every store op distributed); None keeps the default."""
    with pytest.MonkeyPatch.context() as m:
        if cap is not None:
            m.setattr(driver_gate, "MAX_ROWS", cap)
        yield


batch_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=120),  # minute
        st.integers(min_value=0, max_value=2),    # symbol
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(batch_strategy, min_size=1, max_size=4),
    target=st.sampled_from([3, 5, 100]),
    # cover BOTH writers: the driver-side pyarrow fast path (auto for
    # these small batches) and the distributed merge path (row cap 0)
    cap=st.sampled_from([None, 0]),
)
def test_merge_equivalence_property(
    spark, tmp_path_factory, batches, target, cap
):
    """N successive merge writes == pandas emulation (concat in write
    order, stable sort, keep-last dedup on (sym, ts))."""
    root = tmp_path_factory.mktemp("prop")
    ds = OrderedDataset(spark, str(root / "ds"))
    frames = [_mk_batch(b) for b in batches]
    with _gate_cap(cap):
        for f in frames:
            ds.write(
                df=spark.createDataFrame(f),
                ordered_on="ts",
                duplicates_on=["sym"],
                row_group_target_size=target,
            )
    got = (
        ds.read().toPandas().sort_values(["ts", "sym"], ignore_index=True)
    )
    exp = frames[0]
    for f in frames[1:]:
        exp = pd.concat([exp, f], ignore_index=True).sort_values(
            "ts", kind="stable", ignore_index=True
        )
    exp = exp.drop_duplicates(subset=["sym", "ts"], keep="last", ignore_index=True)
    exp = exp.sort_values(["ts", "sym"], ignore_index=True)
    pd.testing.assert_frame_equal(got[["ts", "sym", "val"]], exp)
    # manifest stats faithful
    assert ds.n_rows == len(exp)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    splits=st.lists(st.integers(min_value=1, max_value=59), min_size=0, max_size=3, unique=True)
)
def test_restart_equivalence_property(spark, tmp_path_factory, splits):
    """Any chunking (with per-chunk process restart) == one-shot."""
    import numpy as np

    root = tmp_path_factory.mktemp("prop_rs")
    n = 60
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=n, freq="13min"),
            "id": range(n),
            "val": [float((i * 7) % 23 - 11 or 1) for i in range(n)],
        }
    )
    agg = {"sum_val": ("val", "sum"), "first_val": ("val", "first")}

    def run(path, chunks):
        for c in chunks:
            s = AggStream(
                spark, ordered_on="ts",
                keys={"k": KeyConfig(path=path, agg=agg, bin_by="1h", tiebreak=["id"])},
            )
            s.agg(spark.createDataFrame(c), discard_last=False)

    run(str(root / "one"), [pdf])
    run(str(root / "many"), np.split(pdf, sorted(splits)))
    one = OrderedDataset(spark, str(root / "one")).read().toPandas().sort_values("bin", ignore_index=True)
    many = OrderedDataset(spark, str(root / "many")).read().toPandas().sort_values("bin", ignore_index=True)
    pd.testing.assert_frame_equal(one, many)


def test_compact_coalesces_off_target_runs(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/c1")
    for i in range(6):
        b = pd.DataFrame(
            {"ts": [pd.Timestamp(2024, 1, 1, i)], "val": [float(i)], "sym": ["a"]}
        )
        ds.write(df=spark.createDataFrame(b), ordered_on="ts", row_group_target_size=10)
    assert ds.n_files == 6
    before = ds.read().toPandas().sort_values("ts", ignore_index=True)
    rewritten = ds.compact(row_group_target_size=10)
    assert rewritten == 6
    assert ds.n_files == 1
    after = ds.read().toPandas().sort_values("ts", ignore_index=True)
    pd.testing.assert_frame_equal(before, after)
    # idempotent: nothing left to compact
    assert ds.compact(row_group_target_size=10) == 0


def test_compact_leaves_on_target_files(spark, scratch):
    ds = OrderedDataset(spark, f"{scratch}/c2")
    big = pd.DataFrame(
        {
            "ts": [pd.Timestamp(2024, 1, 1) + pd.Timedelta(hours=i) for i in range(10)],
            "val": [float(i) for i in range(10)],
            "sym": ["a"] * 10,
        }
    )
    ds.write(df=spark.createDataFrame(big), ordered_on="ts", row_group_target_size=10)
    names = {e.name for e in ds.manifest.files}
    assert ds.compact(row_group_target_size=10) == 0
    assert {e.name for e in ds.manifest.files} == names


_asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200),  # minute offset
        st.integers(min_value=0, max_value=2),    # key
        st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left_rows=_asof_rows, right_rows=_asof_rows,
       direction=st.sampled_from(["backward", "forward"]))
def test_asof_join_matches_merge_asof_property(
    spark, left_rows, right_rows, direction
):
    """asof_join == pandas merge_asof on arbitrary keyed inputs (right
    side deduped per (key, ts) so the match is unique)."""
    from oups_spark.operators.asof import asof_join

    base = pd.Timestamp("2024-01-01")

    def frame(rows, val):
        df = pd.DataFrame(
            {
                "ts": [base + pd.Timedelta(minutes=m) for m, _k, _v in rows],
                "k": [k for _m, k, _v in rows],
                val: [v for _m, _k, v in rows],
            }
        )
        return df

    left = frame(left_rows, "lv").drop_duplicates(
        subset=["k", "ts"], ignore_index=True
    )
    right = (
        frame(right_rows, "rv")
        .groupby(["k", "ts"], as_index=False)["rv"]
        .max()
    )
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            on="ts", by="k", value_cols=["rv"], direction=direction,
        )
        .orderBy("k", "ts")
        .toPandas()
    )
    exp = pd.merge_asof(
        left.sort_values(["ts", "k"], ignore_index=True),
        right.sort_values(["ts", "k"], ignore_index=True),
        on="ts", by="k", direction=direction,
    ).sort_values(["k", "ts"], ignore_index=True)
    pd.testing.assert_series_equal(
        got["rv"].astype(float), exp["rv"].astype(float), check_names=False
    )


_interval_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=100),   # start hour
        st.integers(min_value=-2, max_value=60),   # duration hours (may be <= 0)
        st.integers(min_value=0, max_value=1),     # key
    ),
    min_size=1,
    max_size=15,
)

_point_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=160),   # hour
        st.integers(min_value=0, max_value=1),     # key
    ),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(intervals=_interval_rows, points=_point_rows)
def test_range_join_matches_naive_inequality_join(spark, intervals, points):
    """Bucketed range_join == naive inequality join on arbitrary keyed
    intervals (including zero-length/inverted ones, which match
    nothing) at a grid much coarser than many intervals."""
    from oups_spark.operators.asof import range_join

    base = pd.Timestamp("2024-01-01")
    iv = pd.DataFrame(
        {
            "k": [k for _s, _d, k in intervals],
            "iid": range(len(intervals)),
            "s": [base + pd.Timedelta(hours=s) for s, _d, _k in intervals],
            "e": [
                base + pd.Timedelta(hours=s + d) for s, d, _k in intervals
            ],
        }
    )
    pts = pd.DataFrame(
        {
            "k": [k for _h, k in points],
            "pid": range(len(points)),
            "ts": [base + pd.Timedelta(hours=h) for h, _k in points],
        }
    )
    got = (
        range_join(
            spark.createDataFrame(pts), spark.createDataFrame(iv),
            left_on="ts", start_col="s", end_col="e", by="k", grid="1D",
        )
        .select("pid", "iid")
        .toPandas()
    )
    exp = pts.merge(iv, on="k")
    exp = exp[(exp["ts"] >= exp["s"]) & (exp["ts"] < exp["e"])][["pid", "iid"]]
    got_set = set(map(tuple, got.values))
    exp_set = set(map(tuple, exp.values))
    assert got_set == exp_set


# ---------------------------------------------------------------- round 4

salted_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),   # join key (0 = hot)
        st.integers(min_value=0, max_value=10_000),  # salt-source id
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=salted_rows, n_salts=st.sampled_from([1, 2, 8]))
def test_salted_join_property(spark, rows, n_salts):
    """salted_join == plain join for ANY input and salt count
    (inner and left), including duplicate salt-source values and
    keys absent from the dimension side."""
    from oups_spark.operators.asof import salted_join

    left = spark.createDataFrame(
        pd.DataFrame(
            {"k": [k for k, _ in rows], "rid": [r for _, r in rows]}
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [0, 1, 2], "name": ["a", "b", "c"]})
    )
    for how in ("inner", "left"):
        got = (
            salted_join(left, right, "k", salt_from="rid", n_salts=n_salts, how=how)
            .toPandas()
            .sort_values(["k", "rid", "name"], ignore_index=True, na_position="last")
        )
        want = (
            left.join(right, on="k", how=how)
            .toPandas()
            .sort_values(["k", "rid", "name"], ignore_index=True, na_position="last")
        )
        pd.testing.assert_frame_equal(got[sorted(got.columns)], want[sorted(want.columns)])


vec_strategy = st.lists(
    st.floats(min_value=-1000, max_value=1000, allow_nan=False, width=32),
    min_size=1,
    max_size=16,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=st.lists(vec_strategy.map(tuple), min_size=1, max_size=8, unique=True))
def test_quantize_int8_property(spark, vecs):
    """For any float vectors: per-component reconstruction error is
    bounded by scale/2 (+ float slack), codes stay in [-127, 127],
    and the zero vector maps to scale 0 / zero error."""
    import numpy as np

    vecs = [list(v) for v in vecs]
    from oups_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(vecs)), "v": vecs})
    )
    got = quantize_int8(df, "vec_id", "v").toPandas().set_index("vec_id")
    for i, v in enumerate(vecs):
        scale = np.abs(np.asarray(v, dtype=np.float64)).max() / 127
        row = got.loc[i]
        if scale == 0:
            assert row["scale"] == 0 and row["mse"] == 0
        else:
            # mse is rounded to 6dp on output; allow that slack
            assert row["mse"] <= (scale / 2) ** 2 + 1e-6


evo_batch = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200),  # minute offset
        st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.tuples(evo_batch, st.sampled_from(["base", "plus", "minus"])),
        min_size=1,
        max_size=4,
    )
)
def test_schema_evolution_equivalence_property(
    spark, tmp_path_factory, batches
):
    """A random sequence of evolving appends (adding and omitting
    columns) == the pandas emulation (outer concat, NaN for absent
    columns). Ordering column strictly increases across batches so
    every write is a pure append."""
    import numpy as np

    root = tmp_path_factory.mktemp("evo_prop")
    ds = OrderedDataset(spark, str(root / "ds"))
    pdfs = []
    base_min = 0
    for rows, shape in batches:
        ts = [
            pd.Timestamp(2024, 1, 1) + pd.Timedelta(minutes=base_min + i)
            for i in range(len(rows))
        ]
        base_min += len(rows) + 1
        pdf = pd.DataFrame({"ts": ts, "v": [float(v) for _, v in rows]})
        if shape == "plus":
            pdf["extra"] = [int(m) for m, _ in rows]
        elif shape == "minus" and pdfs:
            pdf = pdf.drop(columns=["v"])
        pdfs.append(pdf)
        ds.write(
            df=spark.createDataFrame(pdf),
            ordered_on="ts",
            row_group_target_size=5,
            evolve_schema=True,
        )
    want = pd.concat(pdfs, ignore_index=True).sort_values(
        "ts", ignore_index=True
    )
    got = ds.read().toPandas().sort_values("ts", ignore_index=True)
    assert sorted(got.columns) == sorted(want.columns)
    for c in sorted(want.columns):
        if c == "ts":
            assert got["ts"].tolist() == want["ts"].tolist()
        else:
            g = got[c].astype("float64").to_numpy()
            w = want[c].astype("float64").to_numpy()
            assert np.allclose(g, w, equal_nan=True, atol=1e-6)


# op alphabet for the retention-invariant property: writes (plain and
# schema-evolving), compact, vacuum — the four ops whose interaction
# guards the reproducible-training contract
_tt_op = st.one_of(
    st.tuples(
        st.just("write"),
        st.integers(min_value=0, max_value=40),   # range start
        st.integers(min_value=2, max_value=10),   # range width
    ),
    st.tuples(st.just("evolve"), st.integers(min_value=0, max_value=40),
              st.integers(min_value=2, max_value=10)),
    st.tuples(st.just("compact"), st.just(0), st.just(0)),
    st.tuples(st.just("vacuum"), st.integers(min_value=1, max_value=3),
              st.just(0)),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_tt_op, min_size=2, max_size=7))
def test_time_travel_retention_invariant_property(
    spark, tmp_path_factory, ops
):
    """Any interleaving of write / evolving-write / compact / vacuum
    preserves the time-travel contract: every RETAINED generation
    reads back exactly the rows and columns it was committed with
    (later evolution, overlapping rewrites, and compaction do not
    leak into pinned snapshots), and every vacuumed generation raises
    rather than partially reading."""
    import os

    root = tmp_path_factory.mktemp("tt_prop")
    ds = OrderedDataset(spark, str(root / "ds"), retain_versions=True)

    committed: list[tuple[int, pd.DataFrame]] = []  # (gen, frame-at-commit)
    n_evo = 0
    tag = 0.0
    for kind, a, b in ops:
        if kind == "write" or kind == "evolve":
            tag += 1.0
            pdf = pd.DataFrame(
                {"ts": list(range(a, a + b)), "v": [tag] * b}
            )
            kw = {}
            if kind == "evolve":
                n_evo += 1
                pdf[f"x{n_evo}"] = list(range(b))
            if n_evo:
                # once the dataset has evolved, a (ts, v)-only batch
                # is a column SUBSET — allowed only in evolve mode
                # (the engine refuses silent column mismatch otherwise)
                kw["evolve_schema"] = True
            ds.write(
                df=spark.createDataFrame(pdf),
                ordered_on="ts",
                duplicates_on=[],
                row_group_target_size=4,
                **kw,
            )
        elif kind == "compact":
            if not ds.exists:
                continue
            pre = ds.read().toPandas().sort_values(
                ["ts", "v"], ignore_index=True
            )
            ds.compact(row_group_target_size=8)
            # compact is a LAYOUT op: current-read content must be
            # untouched (guards the evolved-column-loss class of bug)
            post = ds.read().toPandas().sort_values(
                ["ts", "v"], ignore_index=True
            )
            pd.testing.assert_frame_equal(post, pre, check_dtype=False)
        else:  # vacuum
            if not ds.exists:
                continue
            ds.vacuum(keep_last=a)
            continue  # no new generation
        committed.append((ds.versions()[-1], ds.read().toPandas()))

    retained = set(ds.versions())
    for gen, want in committed:
        if gen not in retained:
            with pytest.raises(FileNotFoundError):
                ds.read(as_of=gen)
            continue
        got = ds.read(as_of=gen).toPandas()
        assert list(got.columns) == list(want.columns), gen
        key = ["ts", "v"]
        got = got.sort_values(key, ignore_index=True)
        want = want.sort_values(key, ignore_index=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


# --- cmidx flatten/unflatten round-trip property ---------------------

_level_name = st.sampled_from(["a", "b", "c", "x_y", "t"])


@st.composite
def _nested_schema(draw):
    """A random schema tree: {col: leaf | nested dict}, depth <= 3,
    guaranteed at least one struct column."""

    def node(depth):
        if depth >= 3 or draw(st.booleans()):
            return "leaf"
        names = draw(
            st.lists(_level_name, min_size=1, max_size=3, unique=True)
        )
        return {n: node(depth + 1) for n in names}

    names = draw(
        st.lists(_level_name, min_size=2, max_size=4, unique=True)
    )
    tree = {n: node(1) for n in names}
    if all(v == "leaf" for v in tree.values()):
        tree[names[0]] = {"inner": "leaf"}
    return tree


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tree=_nested_schema())
def test_flatten_unflatten_roundtrip_property(spark, tree):
    """flatten(return_mapping) then unflatten restores the exact
    schema and rows for arbitrary nesting — or flatten refuses with
    the documented collision error when two paths alias (the '_' in a
    level name can collide with a nested path, e.g. x_y vs x{y})."""
    import pyspark.sql.functions as F

    from oups_spark.functions.fills import (
        flatten_struct_columns,
        unflatten_struct_columns,
    )

    def build(node, seed):
        if node == "leaf":
            return F.lit(seed).cast("long")
        return F.struct(
            *[build(sub, seed + i).alias(k)
              for i, (k, sub) in enumerate(node.items())]
        )

    df = spark.range(3).select(
        *[
            build(node, i * 10).alias(name)
            for i, (name, node) in enumerate(tree.items())
        ]
    )
    try:
        flat, mapping = flatten_struct_columns(df, return_mapping=True)
    except ValueError as e:
        assert "collide" in str(e) or "flatten to the same name" in str(e)
        return
    assert all("." not in c for c in flat.columns)
    back = unflatten_struct_columns(flat, mapping)
    assert back.schema == df.schema
    assert (
        [r.asDict(recursive=True) for r in back.collect()]
        == [r.asDict(recursive=True) for r in df.collect()]
    )


# --- bloom index: no false negatives, pure-python side only ----------
@given(
    values=st.lists(
        st.one_of(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.text(
                alphabet=st.characters(codec="utf-8"), max_size=40
            ),
        ),
        min_size=1,
        max_size=200,
    ),
    m=st.sampled_from([256, 1024, 8192]),
    k=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=200, deadline=None)
def test_bloom_never_false_negative(values, m, k):
    """The skipping-correctness contract: every inserted value MUST
    probe positive (a false negative would silently drop rows from a
    filtered read); positions always land in [0, m)."""
    from oups_spark.store.bloom import (
        _pack,
        bloom_might_contain,
        bloom_positions_py,
    )

    positions = set()
    for v in values:
        ps = bloom_positions_py(v, m, k)
        assert len(ps) == k and all(0 <= p < m for p in ps)
        positions.update(ps)
    bloom = {"m": m, "k": k, "b64": _pack(positions, m)}
    for v in values:
        assert bloom_might_contain(bloom, v)


# ---------------------------------------------------------------- DML
_dml_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=120),  # minute
        st.integers(min_value=0, max_value=2),    # symbol
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=4,
    max_size=24,
)
_dml_conj = st.lists(
    st.one_of(
        st.tuples(st.just("sym"), st.just("=="),
                  st.sampled_from(["s0", "s1", "s2"])),
        st.tuples(st.just("ts"), st.sampled_from([">=", "<"]),
                  st.integers(min_value=0, max_value=120)),
        st.tuples(st.just("val"), st.sampled_from([">=", "<"]),
                  st.integers(min_value=-100, max_value=100)),
    ),
    min_size=1,
    max_size=2,
)


def _dml_mask(pdf: pd.DataFrame, conj) -> pd.Series:
    m = pd.Series(True, index=pdf.index)
    for col, op, v in conj:
        if col == "ts":
            v = pd.Timestamp(2024, 1, 1) + pd.Timedelta(minutes=v)
        s = pdf[col]
        m &= {"==": s == v, ">=": s >= v, "<": s < v}[op]
    return m


def _dml_engine_pred(conj):
    out = []
    for col, op, v in conj:
        if col == "ts":
            v = pd.Timestamp(2024, 1, 1) + pd.Timedelta(minutes=v)
        out.append((col, op, v))
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=_dml_rows,
    del_conj=_dml_conj,
    upd_conj=_dml_conj,
    target=st.sampled_from([3, 6, 100]),
    # the driver fast path (default) or the distributed path (cap 0)
    cap=st.sampled_from([None, 0]),
)
def test_dml_matches_pandas_ground_truth_property(
    spark, tmp_path_factory, rows, del_conj, upd_conj, target, cap
):
    """PROPERTY: for any dataset layout (1..many files) and any DNF
    conjunction over the three column types, `delete_where` then
    `update_where` read back exactly the pandas ground truth — the
    stats/bloom candidate pruning, true-hit detection, per-file
    rewrite, and whole-file drop paths may each engage or not, the
    result must not depend on which did."""
    import os

    pdf = _mk_batch(rows)
    d = str(tmp_path_factory.mktemp("dml_prop"))
    ds = OrderedDataset(spark, os.path.join(d, "ds"), deletion_grace_s=0)
    ds.write(
        df=spark.createDataFrame(pdf), ordered_on="ts",
        row_group_target_size=target, validate_monotonic=False,
    )

    with _gate_cap(cap):
        n_del = ds.delete_where(_dml_engine_pred(del_conj))
        n_upd = ds.update_where(_dml_engine_pred(upd_conj), {"val": -999.0})
    truth = pdf[~_dml_mask(pdf, del_conj)].reset_index(drop=True)
    assert n_del == len(pdf) - len(truth)

    m = _dml_mask(truth, upd_conj)
    assert n_upd == int(m.sum())
    truth = truth.copy()
    truth.loc[m, "val"] = -999.0

    got = (
        ds.read()
        .toPandas()
        .sort_values(["ts", "sym", "val"], ignore_index=True)
    )
    truth = truth.sort_values(["ts", "sym", "val"], ignore_index=True)
    pd.testing.assert_frame_equal(got, truth)


# ---------------------------------------------------------- MERGE INTO
_merge_target_rows = st.lists(
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    min_size=4,
    max_size=20,
)
# source ops keyed by int key: key space [0, 30) so some keys match the
# target (keys 0..len-1) and some don't; op D deletes, anything else
# updates; unmatched keys insert
_merge_src_ops = st.dictionaries(
    st.integers(min_value=0, max_value=29),
    st.tuples(
        st.sampled_from(["U", "D"]),
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=_merge_target_rows,
    ops=_merge_src_ops,
    target=st.sampled_from([3, 7, 100]),
    # the driver branch (default) or the distributed one (cap 0)
    cap=st.sampled_from([None, 0]),
)
def test_merge_into_matches_pandas_ground_truth_property(
    spark, tmp_path_factory, vals, ops, target, cap
):
    """PROPERTY: for any dataset layout and any unique-keyed source of
    update/delete/insert ops, `merge_into` reads back exactly the
    pandas ground truth — whichever of the stats/bloom candidate
    pruning, true-hit detection, per-file COW rewrite, whole-file
    drop, and overlapping-insert paths engage."""
    import os

    import pyspark.sql.functions as SF

    t0 = pd.Timestamp(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "ts": [t0 + pd.Timedelta(minutes=k) for k in range(len(vals))],
            "k": list(range(len(vals))),
            "val": vals,
        }
    )
    d = str(tmp_path_factory.mktemp("merge_prop"))
    ds = OrderedDataset(spark, os.path.join(d, "ds"), deletion_grace_s=0)
    ds.write(
        df=spark.createDataFrame(pdf), ordered_on="ts",
        row_group_target_size=target, validate_monotonic=False,
    )

    src = pd.DataFrame(
        {
            # inserts interleave INSIDE the existing minute grid (the
            # overlapping-new-file path) via the +30s offset
            "ts": [t0 + pd.Timedelta(minutes=k, seconds=30) for k in ops],
            "k": list(ops),
            "val": [v for _, v in ops.values()],
            "op": [o for o, _ in ops.values()],
        }
    )
    with _gate_cap(cap):
        res = ds.merge_into(
            spark.createDataFrame(src),
            on="k",
            when_matched_update={"val": SF.col("s.val")},
            when_matched_delete=SF.col("s.op") == "D",
            when_not_matched_insert=True,
        )

    matched = {k: ov for k, ov in ops.items() if k < len(vals)}
    truth = pdf[~pdf["k"].isin([k for k, (o, _) in matched.items() if o == "D"])].copy()
    upd = {k: v for k, (o, v) in matched.items() if o != "D"}
    truth.loc[truth["k"].isin(upd), "val"] = truth.loc[
        truth["k"].isin(upd), "k"
    ].map(upd)
    ins = src[~src["k"].isin(matched)][["ts", "k", "val"]]
    truth = pd.concat([truth, ins], ignore_index=True)

    assert res == {
        "updated": len(upd),
        "deleted": len(matched) - len(upd),
        "inserted": len(ins),
    }
    got = ds.read().toPandas().sort_values(["ts", "k"], ignore_index=True)
    truth = truth.sort_values(["ts", "k"], ignore_index=True)
    pd.testing.assert_frame_equal(got, truth)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=_merge_target_rows,
    snap=st.dictionaries(
        st.integers(min_value=0, max_value=29),
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        min_size=0,
        max_size=10,
    ),
    lo=st.integers(min_value=0, max_value=10),
    span=st.integers(min_value=1, max_value=15),
    target=st.sampled_from([3, 7, 100]),
    # the driver fast path (default) or the distributed path (cap 0)
    cap=st.sampled_from([None, 0]),
)
# every row in scope and an empty snapshot: the sync deletes all rows
@example(vals=[0.0] * 4, snap={}, lo=0, span=4, target=3, cap=None)
@example(vals=[0.0] * 4, snap={}, lo=0, span=4, target=3, cap=0)
def test_merge_full_sync_matches_pandas_ground_truth_property(
    spark, tmp_path_factory, vals, snap, lo, span, target, cap
):
    """PROPERTY: full-snapshot sync (WHEN NOT MATCHED BY SOURCE
    DELETE + matched update + insert, scoped) reads back exactly the
    pandas ground truth for any layout, snapshot, and scope — scoped
    rows absent from the snapshot vanish, matched rows take the
    snapshot value, snapshot-only keys insert, out-of-scope rows are
    untouched."""
    import os

    import pyspark.sql.functions as SF

    t0 = pd.Timestamp(2024, 1, 1)
    n = len(vals)
    pdf = pd.DataFrame(
        {
            "ts": [t0 + pd.Timedelta(minutes=k) for k in range(n)],
            "k": list(range(n)),
            "val": vals,
        }
    )
    d = str(tmp_path_factory.mktemp("sync_prop"))
    ds = OrderedDataset(spark, os.path.join(d, "ds"), deletion_grace_s=0)
    ds.write(
        df=spark.createDataFrame(pdf), ordered_on="ts",
        row_group_target_size=target, validate_monotonic=False,
    )
    t_lo = t0 + pd.Timedelta(minutes=lo)
    t_hi = t0 + pd.Timedelta(minutes=lo + span)
    src = pd.DataFrame(
        {
            "ts": [t0 + pd.Timedelta(minutes=k, seconds=30) for k in snap],
            "k": list(snap),
            "val": list(snap.values()),
        }
    )
    with _gate_cap(cap):
        res = ds.merge_into(
            spark.createDataFrame(
                src, "ts timestamp, k long, val double"
            ),
            on="k",
            when_matched_update={"val": SF.col("s.val")},
            when_not_matched_insert=True,
            when_not_matched_by_source_delete=True,
            by_source_scope=[("ts", ">=", t_lo), ("ts", "<", t_hi)],
        )

    in_scope = (pdf["ts"] >= t_lo) & (pdf["ts"] < t_hi)
    matched = pdf["k"].isin(snap)
    truth = pdf[~(in_scope & ~matched)].copy()
    upd_keys = {k for k in snap if k < n}
    truth.loc[truth["k"].isin(upd_keys), "val"] = truth.loc[
        truth["k"].isin(upd_keys), "k"
    ].map(snap)
    ins = src[~src["k"].isin(range(n))][["ts", "k", "val"]]
    truth = pd.concat([truth, ins], ignore_index=True).astype(
        # empty-concat dtype promotion
        {"ts": "datetime64[ns]", "k": "int64", "val": "float64"}
    )

    assert res == {
        "updated": len(upd_keys),
        "deleted": int((in_scope & ~matched).sum()),
        "inserted": len(ins),
    }
    got = ds.read().toPandas().sort_values(["ts", "k"], ignore_index=True)
    truth = truth.sort_values(["ts", "k"], ignore_index=True)
    pd.testing.assert_frame_equal(got, truth)


# ---------------------------------------------------------------------------
# Round-13 property pins: CDC-via-MERGE and the delta-log chain
# ---------------------------------------------------------------------------

cdc_ops_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),    # key
        st.integers(min_value=0, max_value=50),   # order value
        st.integers(min_value=0, max_value=9),    # payload
        st.booleans(),                            # is_delete
    ),
    min_size=1,
    max_size=18,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=cdc_ops_strategy,
    n_splits=st.integers(min_value=0, max_value=3),
    redeliver=st.booleans(),
)
def test_cdc_merge_equals_one_shot_property(
    spark, tmp_path_factory, ops, n_splits, redeliver
):
    """ANY changelog, ANY batch split, with or without redelivery of
    the final batch: the merge_into-backed CDC state equals the
    one-shot keep-last over the whole changelog (ordered by (ord,
    seq) — seq is the tiebreak within equal order values), with keys
    whose latest op is a delete absent. The ops are applied in
    batches split at increasing ORD cuts (the time-ordered replay the
    sink contracts for)."""
    import os

    from oups_spark.streaming.cdc import cdc_merge_batch_into, read_current_ds

    # global order = (ord, seq); make batches time-ordered by sorting
    rows = [
        (k, o, i, float(p), d) for i, (k, o, p, d) in enumerate(sorted(
            ops, key=lambda t: (t[1],)
        ))
    ]
    # split points on positions (rows already ord-sorted)
    cuts = sorted({(i + 1) * len(rows) // (n_splits + 1) for i in range(n_splits)})
    batches, prev = [], 0
    for c in cuts + [len(rows)]:
        if c > prev:
            batches.append(rows[prev:c])
            prev = c

    root = tmp_path_factory.mktemp("cdcprop")
    schema = "k long, ord long, seq long, v double, is_delete boolean"
    ds = OrderedDataset(spark, str(root / "state"))
    for b in batches:
        cdc_merge_batch_into(
            spark.createDataFrame(b, schema), ds,
            key="k", order_cols=["ord", "seq"], delete_col="is_delete",
            row_group_target_size=8,
        )
    if redeliver and batches:
        cdc_merge_batch_into(
            spark.createDataFrame(batches[-1], schema), ds,
            key="k", order_cols=["ord", "seq"], delete_col="is_delete",
            row_group_target_size=8,
        )
    got = {
        r["k"]: (r["ord"], r["seq"], r["v"])
        for r in read_current_ds(ds, delete_col="is_delete").collect()
    }
    # one-shot keep-last oracle in pandas
    pdf = pd.DataFrame(rows, columns=["k", "ord", "seq", "v", "is_delete"])
    last = (
        pdf.sort_values(["ord", "seq"])
        .groupby("k", as_index=False)
        .last()
    )
    expect = {
        int(r.k): (int(r.ord), int(r.seq), float(r.v))
        for r in last.itertuples()
        if not r.is_delete
    }
    assert got == expect


deltalog_ops_strategy = st.lists(
    st.one_of(
        st.tuples(st.just("add"), st.integers(min_value=1, max_value=3)),
        st.tuples(st.just("remove"), st.integers(min_value=0, max_value=20)),
        st.tuples(st.just("kv"), st.integers(min_value=0, max_value=9)),
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=25, deadline=None)
@given(
    ops=deltalog_ops_strategy,
    interval=st.sampled_from([2, 3, 20]),
    fresh_reader_every=st.sampled_from([1, 3]),
)
def test_deltalog_equals_full_backend_property(
    tmp_path_factory, ops, interval, fresh_reader_every
):
    """ANY commit sequence (adds, removals, kv-only commits), ANY
    checkpoint interval, reloaded through fresh readers at arbitrary
    points: the delta-log encoding's reconstructed manifest equals the
    inline JSON encoding's, entry for entry, order included."""
    from oups_spark.store.manifest import (
        DeltaLogManifest,
        FileEntry,
        JsonManifest,
        Manifest,
        PosixTransport,
    )

    import os

    root = tmp_path_factory.mktemp("dlprop")
    d_full, d_delta = str(root / "full"), str(root / "delta")
    os.makedirs(d_full)
    os.makedirs(d_delta)
    be_full = JsonManifest(PosixTransport())
    be_delta = DeltaLogManifest(PosixTransport())
    be_delta.checkpoint_interval = interval

    def entry(i):
        t0 = pd.Timestamp("2024-01-01")
        # non-monotone mins exercise the reconstruction sort
        return FileEntry(
            name=f"f{i:04d}.parquet", n_rows=1,
            min=t0 + pd.Timedelta(hours=(i * 37) % 101),
            max=t0 + pd.Timedelta(hours=(i * 37) % 101, minutes=30),
            cols={"uid": (i, i + 1)},
        )

    m_full = Manifest(ordered_on="ts")
    m_delta = Manifest(ordered_on="ts")
    counter = 0
    for step, (op, arg) in enumerate(ops):
        if op == "add":
            new = [entry(counter + j) for j in range(arg)]
            counter += arg
            m_full.files = list(m_full.files) + new
            m_delta.files = list(m_delta.files) + new
        elif op == "remove":
            cur = list(m_full.files)
            if cur:
                victim = cur[arg % len(cur)].name
                m_full.files = [e for e in cur if e.name != victim]
                m_delta.files = [
                    e for e in m_delta.files if e.name != victim
                ]
        else:
            m_full.kv["x"] = arg
            m_delta.kv["x"] = arg
        m_full.save(d_full, be_full)
        m_delta.save(d_delta, be_delta)
        if step % fresh_reader_every == 0:
            got = Manifest.load(d_delta, DeltaLogManifest(PosixTransport()))
            exp = Manifest.load(d_full, JsonManifest(PosixTransport()))
            assert [
                (e.name, e.n_rows, e.min, e.max, e.cols) for e in got.files
            ] == [
                (e.name, e.n_rows, e.min, e.max, e.cols) for e in exp.files
            ]
            assert got.kv.get("x") == exp.kv.get("x")
            assert got.generation == exp.generation
            # the cached-writer view must match the fresh reader too
            m_delta = Manifest.load(d_delta, be_delta)
            m_full = Manifest.load(d_full, be_full)
