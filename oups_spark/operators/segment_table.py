"""Driver twins of AggStream's per-key Spark plans, over one Arrow table.

Each producer takes one key's rows of a chunk (DNF filter and trims
applied) and returns the Arrow table of the key's Spark plan result:
same columns, order, types and values. :func:`to_spark_pandas`
converts it the way the plan's ``toPandas()`` does. Spark semantics,
not pandas': ``first``/``last`` are the value at the min/max of
``(ordered_on, *tiebreak)``, NULL included (``min_by``/``max_by``);
``min``/``max``/``sum`` skip NULLs and are NULL over no values;
snapshots follow :func:`~oups_spark.operators.segment.snapshot_agg`.
Callers keep NaN out (Spark orders NaN above every value; Arrow's
kernels skip it) and run under a UTC session with a timestamp
``ordered_on``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from oups_spark.functions.dates import floor_ts_scalar, months_per, next_edge_us
from oups_spark.operators.segment import edge_labels, edge_values, snap_grid
from oups_spark.store.dataset import pandas_to_spark_arrow

_KEEP_NULLS = pc.ScalarAggregateOptions(skip_nulls=False)


def to_spark_pandas(tbl: pa.Table, tz: str) -> pd.DataFrame:
    """``tbl`` as Spark's Arrow ``toPandas()`` converts a result of the
    same schema: an empty result is a bare frame of the column names,
    then every column goes through Spark's per-type converter. That
    converter is PySpark-private (checked against PySpark 4.1): after
    a PySpark upgrade, rerun ``tests/test_aggstream_driver.py``."""
    from pyspark.sql.pandas.types import _create_converter_to_pandas, from_arrow_type

    names = tbl.column_names
    if not tbl.num_rows:
        pdf = pd.DataFrame(columns=names)
    else:
        pdf = tbl.rename_columns([f"c{i}" for i in range(len(names))]).to_pandas(
            date_as_object=True, coerce_temporal_nanoseconds=True
        )
        pdf.columns = names
    convert = [
        _create_converter_to_pandas(from_arrow_type(f.type), timezone=tz)
        for f in tbl.schema
    ]
    return pd.concat([c(pdf.iloc[:, i]) for i, c in enumerate(convert)], axis="columns")


def _us(col) -> np.ndarray:
    return pc.cast(col, pa.int64()).to_numpy(zero_copy_only=False)


def _floor(us: np.ndarray, freq: str, origin=None, offset=None) -> np.ndarray:
    return floor_ts_scalar(us.view("datetime64[us]"), freq, origin=origin, offset=offset).view(
        "int64"
    )


def _group(rows: pa.Table, on: str, cfg, keys: dict, extra=()) -> pa.Table:
    """The key's aggregates of ``rows`` (sorted here by ``(on,
    *tiebreak)``, NULLs first) grouped by ``keys`` (name -> column
    builder over the sorted rows), after the ``extra`` specs ``(out,
    in_col, func)``; groups in key order."""
    sort = [(c, "ascending") for c in (on, *(cfg.tiebreak or []))]
    rows = rows.take(pc.sort_indices(rows, sort_keys=sort, null_placement="at_start"))
    specs = [*extra, *((out, col, func) for out, (col, func) in cfg.agg.items())]
    cols = {f"__g{i}": build(rows) for i, build in enumerate(keys.values())}
    aggs, names = [], []
    for j, (_out, col, func) in enumerate(specs):
        if func == "count":
            aggs.append(([], "count_all"))
            names.append("count_all")
            continue
        cols[f"__v{j}"] = rows[col]
        aggs.append((f"__v{j}", func, _KEEP_NULLS if func in ("first", "last") else None))
        names.append(f"__v{j}_{func}")
    gk = [f"__g{i}" for i in range(len(keys))]
    res = pa.table(cols).group_by(gk, use_threads=False).aggregate(aggs)
    res = res.sort_by([(g, "ascending") for g in gk])
    return pa.table(
        [res[c] for c in gk + names], names=[*keys, *(out for out, _c, _f in specs)]
    )


def time_bins(on, rows, cfg) -> pa.Table:
    """``segment_agg`` with a period ``bin_by`` (closed, labelled left)."""
    return _group(rows, on, cfg, {cfg.bin_col: lambda r: pa.array(
        _floor(_us(r[on]), cfg.bin_by, cfg.origin, cfg.offset), r[on].type
    )})


def edge_bins(on, rows, cfg, labels: pa.Array) -> pa.Table:
    """``segment_agg_edges`` (closed left): one row per label (the label
    column as Spark reads it), NULL aggregates for an empty chunk, rows
    past the last end dropped."""
    ends = np.asarray(edge_values(edge_labels(cfg.bin_by)[1])[1])
    idx = np.searchsorted(ends, _us(rows[on]), side="right")
    rows = rows.append_column("__i", pa.array(idx)).filter(pa.array(idx < len(ends)))
    agged = _group(rows, on, cfg, {"i": lambda r: r["__i"]})
    pos = np.full(len(ends), -1)
    pos[agged["i"].to_numpy()] = np.arange(agged.num_rows)
    take = pa.array(pos, mask=pos < 0)
    return pa.table(
        [labels] + [agged[out].take(take) for out in cfg.agg], names=[cfg.bin_col, *cfg.agg]
    )


def row_count_bins(on, rows, cfg, rank_offset: int) -> pa.Table:
    """The row-count plan: bin ``(rank_offset + rank) // n``, its label
    (first ``on``) and its row count ``__n``."""
    return _group(
        rows, on, cfg,
        {cfg.bin_col: lambda r: pa.array((rank_offset + np.arange(r.num_rows)) // cfg.bin_by)},
        extra=[("bin_label", on, "min"), ("__n", None, "count")],
    )


def custom_bins(on, rows, cfg, state, tz: str):
    """The custom ``BinBy`` plan: the binner's own ``summarize`` /
    ``combine`` / ``assign`` over the whole sorted chunk as one bucket.
    Returns the bins and the state after the chunk."""
    from pyspark.sql.pandas.types import to_arrow_type

    from oups_spark.operators.binby import _parse_dtype

    binner, after = cfg.bin_by, [state]
    typ = to_arrow_type(_parse_dtype(binner.bin_dtype))

    def assign(r):
        if not r.num_rows:
            return pa.array([], typ)
        pdf = to_spark_pandas(r, tz)
        after[0] = binner.combine(state, binner.summarize(pdf))
        return pa.array(binner.assign(pdf, state), typ)

    return _group(rows, on, cfg, {cfg.bin_col: assign}, [("bin_label", on, "min")]), after[0]


def _seq(lo: int, hi: int, freq: str) -> np.ndarray:
    """``F.sequence(lo, hi, freq)`` over epoch microseconds."""
    months = months_per(freq)
    if months is None:
        return np.arange(lo, hi + 1, next_edge_us(0, freq))
    span = np.array([lo, hi]).view("datetime64[us]").astype("datetime64[M]")
    return next_edge_us(np.int64(lo), freq, np.arange(int(np.diff(span)[0]) // months + 1))


def _running(p: pa.Array, grp: pd.Series, func: str) -> pa.Array:
    """``snapshot_agg``'s running window aggregate of partials ``p``
    (sorted by bin, then instant; ``grp`` the bin of each row):
    first/last ignore NULLs, min/max/sum skip them, NULL until a bin's
    first value."""
    n = len(p)
    valid = p.is_valid().to_numpy(zero_copy_only=False)
    if func == "sum":
        seen = pd.Series(valid).astype(int).groupby(grp).cummax().to_numpy()
        v = pd.Series(pc.fill_null(p, 0).to_numpy(zero_copy_only=False))
        return pa.array(v.groupby(grp).cumsum().to_numpy(), p.type, mask=seen == 0)
    if func in ("first", "last"):
        idx = pd.Series(np.where(valid, np.arange(n), n if func == "first" else -1))
        idx = (idx.groupby(grp).cummin() if func == "first" else idx.groupby(grp).cummax())
        idx = idx.to_numpy()
    else:
        order = "ascending" if func == "min" else "descending"
        rank = pc.rank(p, order, null_placement="at_end", tiebreaker="first")
        rank = rank.to_numpy().astype(np.int64)
        best = pd.Series(np.where(valid, rank, n + 1)).groupby(grp).cummin().to_numpy()
        at = np.full(n + 2, -1)
        at[rank] = np.arange(n)
        idx = at[best]
    return p.take(pa.array(idx, mask=(idx < 0) | (idx >= n)))


def snapshots(on, rows, cfg) -> pa.Table:
    """``snapshot_agg`` with ``snap_closed='left'``."""
    bin_col, snap_col, ts = cfg.bin_col, cfg.snap_col, rows[on].type
    edges = snap_grid(cfg.bin_by, cfg.snap_by, origin=cfg.origin, offset=cfg.offset)

    def start(r):
        return _floor(_us(r[on]), cfg.bin_by, cfg.origin, cfg.offset)

    def visible(r):
        us = _us(r[on])
        if edges is None:  # first instant after t, clamped to the bin's end
            snap = _floor(us, cfg.snap_by, cfg.origin, cfg.offset)
            return pa.array(np.minimum(
                next_edge_us(snap, cfg.snap_by), next_edge_us(start(r), cfg.bin_by)
            ), ts)
        i = np.searchsorted(e, us, side="right")
        return pa.array(e[np.minimum(i, len(e) - 1)], ts, mask=i >= len(e))

    e = None if edges is None else np.array([x.value // 1000 for x in edges])
    parts = _group(rows, on, cfg, {
        bin_col: lambda r: pa.array(start(r), ts), snap_col: visible,
    })
    if not parts.num_rows:
        return pa.table(
            [parts[bin_col], parts[snap_col]] + [pa.nulls(0)] * len(cfg.agg),
            names=[bin_col, snap_col, *cfg.agg],
        )
    lo, hi = (int(v) for v in _us(parts[bin_col])[[0, -1]])
    if e is None:
        bins = _seq(lo, hi, cfg.bin_by)
        snaps = [
            _seq(next_edge_us(b, cfg.snap_by), next_edge_us(b, cfg.bin_by), cfg.snap_by)
            for b in bins
        ]
        g_bin, g_snap = np.repeat(bins, [len(s) for s in snaps]), np.concatenate(snaps)
    else:  # each instant observes the bin whose (start, end] holds it
        b = _floor(e - 1, cfg.bin_by)
        on_grid = (b >= lo) & (b <= hi)
        g_bin, g_snap = b[on_grid], e[on_grid]
    grid = pa.table({bin_col: pa.array(g_bin, ts), snap_col: pa.array(g_snap, ts)})
    joined = grid.join(parts, [bin_col, snap_col], join_type="left outer").sort_by(
        [(bin_col, "ascending"), (snap_col, "ascending")]
    )
    grp = pd.Series(_us(joined[bin_col]))
    return pa.table(
        [joined[bin_col], joined[snap_col]]
        + [_running(joined[o].combine_chunks(), grp, f) for o, (_c, f) in cfg.agg.items()],
        names=[bin_col, snap_col, *cfg.agg],
    )


def edge_label_array(bin_by, tz: str) -> pa.Array | None:
    """An explicit edge grid's labels as Spark reads them back, or None
    when the driver producers cannot take the grid: its ends are not
    timestamps, or Arrow cannot stage its labels."""
    labels, ends = edge_labels(bin_by)
    if not edge_values(ends)[0]:
        return None
    tbl = pandas_to_spark_arrow(pd.DataFrame({"label": labels}), tz)
    return None if tbl is None else tbl.column(0).combine_chunks()
