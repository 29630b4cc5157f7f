"""Segment aggregation: time-grid bins, row-count bins, empty-bin
materialization, and point-in-time snapshots.

Re-expresses the reference's segmentation + cumulative segmented
aggregation (reference: ``oups/aggstream/segmentby.py`` and
``oups/aggstream/cumsegagg.py``) as declarative Spark plans:

- time bins        -> ``groupBy(floor_ts(ordered_on, freq))`` — a
  map-side partial + final hash agg; Catalyst/Tungsten replace the
  reference's numba kernel (``jcumsegagg.py:231-417``).
- the 5 agg funcs  -> ``first``/``last`` become order-explicit
  ``min_by``/``max_by`` on ``(ordered_on, *tiebreak)`` (Spark has no
  physical row order to lean on); ``min``/``max``/``sum`` map 1:1.
- empty bins       -> the reference's kernel tracks and null-fills
  empty bins (``cumsegagg.py:532-541``); ``groupBy`` never emits
  empty groups, so a generated calendar (``F.sequence`` + explode)
  left-joins the agg result — nulls appear naturally.
- row-count bins   -> deterministic global row numbering via
  range-bucketed two-phase counting (no single-partition window),
  then ``floor(rn/n)`` (reference ``by_x_rows``,
  ``segmentby.py:371-520``).
- snapshots        -> cumulative intra-bin aggregates at a snapshot
  grid: rows are bucketed by the first snapshot instant that can
  observe them (closed-left excludes the instant, closed-right
  includes it, reference ``cumsegagg.py:243-252``), partial
  aggregates per (bin, bucket), then running accumulation over the
  in-bin grid; a snapshot at a bin's end observes the bin *before*
  it closes (reference ``segmentby.py:965-1012``).

Scale posture: everything is hash-aggregation over bounded group
counts plus windows partitioned by bin — no global single-partition
operation anywhere.
"""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from oups_spark.functions.dates import (
    floor_ts,
    is_fixed_freq,
    months_per,
    next_edge,
    period_duration,
    step_interval_sql,
    unix_us,
)

AGG_FUNCS = ("first", "last", "min", "max", "sum")


def _agg_exprs(agg: dict, order_key: Column) -> list[Column]:
    """Compile ``{out: (in_col, func)}`` into Spark agg expressions
    (the reference's agg-plan compilation, ``cumsegagg.py:47-155``,
    is Catalyst's job here)."""
    exprs = []
    for out, (col, func) in agg.items():
        if func == "first":
            exprs.append(F.min_by(F.col(col), order_key).alias(out))
        elif func == "last":
            exprs.append(F.max_by(F.col(col), order_key).alias(out))
        elif func == "min":
            exprs.append(F.min(F.col(col)).alias(out))
        elif func == "max":
            exprs.append(F.max(F.col(col)).alias(out))
        elif func == "sum":
            exprs.append(F.sum(F.col(col)).alias(out))
        else:
            raise ValueError(f"unknown agg func {func!r}; valid: {AGG_FUNCS}")
    return exprs


def assign_time_bin(
    col: Column,
    freq: str,
    *,
    closed: str = "left",
    label: str = "left",
    origin=None,
    offset=None,
) -> Column:
    """Bin label for a timestamp under closed/label conventions.

    ``closed='left'``: bin is [start, end) — on-edge rows open a new
    bin. ``closed='right'``: bin is (start, end] — on-edge rows close
    the previous bin (implemented by flooring ``t - 1µs``).
    ``label``: report the left or right edge as the bin's label.
    ``origin``/``offset`` shift the grid of fixed frequencies
    (pandas ``TimeGrouper`` anchoring).
    """
    if closed == "left":
        start = floor_ts(col, freq, origin=origin, offset=offset)
    elif closed == "right":
        start = floor_ts(
            F.timestamp_micros(unix_us(col) - 1), freq,
            origin=origin, offset=offset,
        )
    else:
        raise ValueError(f"closed must be left|right, got {closed!r}")
    if label == "left":
        return start
    if label == "right":
        # calendar-exact right edge (add_months for month/year bins —
        # a seconds constant would mislabel every non-30-day month)
        return next_edge(start, freq)
    raise ValueError(f"label must be left|right, got {label!r}")


def assign_edge_bin(
    col: Column,
    ends: "list",
    *,
    closed: str = "left",
    max_codegen_edges: int = 256,
) -> Column:
    """Chunk index for an explicit sorted edge grid (reference
    ``by_scale`` with a Series, ``segmentby.py:225-236``): chunk ``i``
    covers values up to ``ends[i]`` — exclusive under
    ``closed='left'``, inclusive under ``'right'``; values past the
    last end get index ``len(ends)`` (callers drop them).

    Two physical forms, both O(1) driver data:
    - small grids: count-of-ends-passed via ``F.aggregate`` over a
      constant-folded literal array — pure JVM, whole-stage codegen;
    - large grids: Arrow-batched ``np.searchsorted`` pandas UDF —
      O(log k) per row, vectorized; the grid ships once per executor
      in the UDF closure, never through a shuffle.
    """
    import numpy as np
    import pandas as pd

    if closed not in ("left", "right"):
        raise ValueError(f"closed must be left|right, got {closed!r}")
    is_ts, ends_us = edge_values(ends)
    t = unix_us(col) if is_ts else col
    if len(ends_us) <= max_codegen_edges:
        arr = F.array(*[F.lit(v) for v in ends_us])
        if closed == "left":
            # smallest i with t < ends[i]  ==  #{ends <= t}
            cmp = lambda e: (e <= t).cast("int")  # noqa: E731
        else:
            # smallest i with t <= ends[i]  ==  #{ends < t}
            cmp = lambda e: (e < t).cast("int")  # noqa: E731
        return F.aggregate(arr, F.lit(0), lambda acc, e: acc + cmp(e)).cast(
            "long"
        )
    side = "right" if closed == "left" else "left"
    grid = np.asarray(ends_us, dtype="int64")

    def _bucket(s):
        vals = s.to_numpy(dtype="int64", copy=False)
        return pd.Series(np.searchsorted(grid, vals, side=side))

    return F.pandas_udf(_bucket, "long")(t)


def edge_values(ends) -> tuple[bool, list]:
    """``(is_ts, values)`` of a sorted edge grid: epoch microseconds
    for timestamp edges, the edges themselves otherwise."""
    import pandas as pd

    ends = list(ends)
    is_ts = isinstance(ends[0], (pd.Timestamp,)) or "datetime" in str(
        getattr(ends[0], "dtype", "")
    )
    vals = [int(pd.Timestamp(e).value // 1000) for e in ends] if is_ts else ends
    if sorted(vals) != vals:
        raise ValueError("bin edges must be sorted ascending")
    return is_ts, vals


def edge_labels(bin_by) -> tuple[list, list]:
    """``(labels, ends)`` of an explicit edge ``bin_by``: a sequence of
    ends (each end labels its own chunk) or a ``(labels, ends)``
    tuple."""
    if isinstance(bin_by, tuple) and len(bin_by) == 2:
        labels, ends = list(bin_by[0]), list(bin_by[1])
    else:
        labels = ends = list(bin_by)
    if len(labels) != len(ends):
        raise ValueError(
            "number of chunk labels has to be equal to number of chunk ends"
        )
    return labels, ends


def segment_agg_edges(
    df: DataFrame,
    ordered_on: str,
    agg: dict,
    *,
    ends,
    labels=None,
    closed: str = "left",
    tiebreak: list[str] | None = None,
    bin_col: str = "bin",
) -> DataFrame:
    """Aggregate into an EXPLICIT irregular bin grid (reference
    ``by_scale`` Series / ``(labels, ends)`` contract,
    ``segmentby.py:227-234``): chunk ``i`` ends at ``ends[i]``
    (exclusive for ``closed='left'``, inclusive for ``'right'``),
    rows past the last end are not aggregated, and EVERY given chunk
    materializes — empty ones as null rows (reference
    ``n_null_chunks``).  ``labels`` defaults to the ends themselves.

    Plan shape: O(log k) / O(k) map-side index assignment (plan
    literals, no data-sized driver state), one hash agg on the index,
    then a broadcast left join from the (tiny) label table.
    """
    import pandas as pd

    labels, ends = edge_labels(
        (labels, ends) if labels is not None else ends
    )
    order_key = F.struct(ordered_on, *(tiebreak or []))
    idx = assign_edge_bin(F.col(ordered_on), ends, closed=closed)
    binned = df.withColumn("__edge_idx", idx).filter(
        F.col("__edge_idx") < len(ends)
    )
    agged = binned.groupBy("__edge_idx").agg(*_agg_exprs(agg, order_key))
    spark = df.sparkSession
    lab = spark.createDataFrame(
        pd.DataFrame({"__edge_idx": range(len(labels)), bin_col: labels})
    )
    return (
        lab.join(F.broadcast(agged), on="__edge_idx", how="left")
        .orderBy("__edge_idx")
        .drop("__edge_idx")
    )


def segment_agg(
    df: DataFrame,
    ordered_on: str,
    agg: dict,
    *,
    bin_by,
    closed: str = "left",
    label: str = "left",
    empty_bins: bool = False,
    tiebreak: list[str] | None = None,
    bin_col: str = "bin",
    origin=None,
    offset=None,
) -> DataFrame:
    """Aggregate into time bins of period ``bin_by``.

    ``bin_by`` accepts a period string, an explicit sorted sequence of
    bin ENDS, or a ``(labels, ends)`` tuple (reference ``by_scale``
    Series contract) — the latter two dispatch to
    :func:`segment_agg_edges`.

    ``agg``: ``{out_col: (in_col, func)}`` with func one of
    first/last/min/max/sum (the reference's closed set,
    ``aggstream.py:47``).

    ``tiebreak``: extra columns appended to ``ordered_on`` to make
    first/last deterministic when timestamps repeat.

    ``empty_bins=True`` materializes bins with no rows as null rows
    across the data's observed span (reference ``NULL_DICT``
    semantics: null, not zero).
    """
    if not isinstance(bin_by, str):
        labels, ends = edge_labels(bin_by)
        return segment_agg_edges(
            df, ordered_on, agg, ends=ends, labels=labels, closed=closed,
            tiebreak=tiebreak, bin_col=bin_col,
        )
    order_key = F.struct(ordered_on, *(tiebreak or []))
    binned = df.withColumn(
        bin_col,
        assign_time_bin(
            F.col(ordered_on), bin_by, closed=closed, label=label,
            origin=origin, offset=offset,
        ),
    )
    agged = binned.groupBy(bin_col).agg(*_agg_exprs(agg, order_key))
    if not empty_bins:
        return agged.orderBy(bin_col)

    spark = df.sparkSession
    bounds = agged.agg(
        F.min(bin_col).alias("mn"), F.max(bin_col).alias("mx")
    ).collect()[0]
    if bounds["mn"] is None:
        return agged.orderBy(bin_col)
    calendar = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(bounds["mn"]).cast("timestamp"),
                F.lit(bounds["mx"]).cast("timestamp"),
                F.expr(step_interval_sql(bin_by)),
            )
        ).alias(bin_col)
    )
    return calendar.join(agged, on=bin_col, how="left").orderBy(bin_col)


def bucketize(
    df: DataFrame,
    ordered_on: str,
    *,
    n_buckets: int = 128,
    bucket_col: str = "__bucket",
) -> DataFrame:
    """Add a uniform range-bucket column over ``ordered_on``.

    ``width_bucket`` over the collected [min, max] — an O(1)
    expression per row. (A quantile-cut comparison chain balances
    skew better but costs O(n_buckets) per row and Catalyst re-inlines
    it per consumer — measured 6x slower at 128 buckets. For an
    ordering column, near-uniform is the normal case; skewed
    distributions only lose load balance, never correctness.)
    """
    is_ts = dict(df.dtypes)[ordered_on].startswith("timestamp")
    key = unix_us(F.col(ordered_on)) if is_ts else F.col(ordered_on).cast("long")
    num = df.withColumn("__key", key)
    b = num.agg(F.min("__key").alias("mn"), F.max("__key").alias("mx")).collect()[0]
    if b["mn"] is None or b["mn"] == b["mx"]:
        return num.withColumn(bucket_col, F.lit(1)).drop("__key")
    bucket = F.width_bucket(
        F.col("__key"), F.lit(b["mn"]), F.lit(b["mx"] + 1), F.lit(n_buckets)
    )
    return num.withColumn(bucket_col, bucket).drop("__key")


def _offset_lookup(offsets: dict[int, float | int]) -> Column:
    """O(1) per-row offset lookup: literal array indexed by bucket id
    (a WHEN-chain re-evaluates every branch condition). An input with
    no rows has no buckets."""
    size = max(offsets, default=0) + 1
    arr = [float(offsets.get(i, 0)) for i in range(size)]
    return F.element_at(
        F.array(*[F.lit(v) for v in arr]), (F.col("__bucket") + 1).cast("int")
    )


def add_row_count_bins(
    df: DataFrame,
    ordered_on: str,
    n: int,
    *,
    tiebreak: list[str] | None = None,
    bin_col: str = "bin_id",
    n_buckets: int = 128,
    rank_offset: int = 0,
) -> DataFrame:
    """Assign fixed-size row-count bins (reference ``by_x_rows``,
    ``segmentby.py:371-520``): bin_id = floor((rank_offset +
    global_rank) / n) under the total order ``(ordered_on,
    *tiebreak)``. ``rank_offset`` lets an incremental caller continue
    a partially-filled bin across chunks (the reference's
    ``rows_in_prev_last_bin`` buffer).

    Scalable global numbering without a single-partition window:
    (1) uniform range buckets over ``ordered_on`` (plan literals);
    (2) per-bucket counts -> driver-side offsets (tiny);
    (3) ``row_number`` windowed *per bucket* + offset.
    """
    tiebreak = tiebreak or []
    sort_cols = [ordered_on, *tiebreak]
    num = bucketize(df, ordered_on, n_buckets=n_buckets)
    counts = {
        r["__bucket"]: r["c"]
        for r in num.groupBy("__bucket").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    w = Window.partitionBy("__bucket").orderBy(*[F.col(c) for c in sort_cols])
    rn = (
        _offset_lookup(offsets).cast("long")
        + F.row_number().over(w)
        - 1
        + F.lit(rank_offset)
    )
    return num.withColumn(bin_col, ((rn - rn % n) / n).cast("long")).drop("__bucket")


def row_count_bin_agg(
    df: DataFrame,
    ordered_on: str,
    agg: dict,
    *,
    n: int,
    tiebreak: list[str] | None = None,
    bin_col: str = "bin_id",
    label_col: str = "bin_label",
) -> DataFrame:
    """Row-count bins + aggregation; label = first ``ordered_on`` in
    the bin (reference label convention, ``segmentby.py:471-474``)."""
    order_key = F.struct(ordered_on, *(tiebreak or []))
    binned = add_row_count_bins(df, ordered_on, n, tiebreak=tiebreak, bin_col=bin_col)
    return (
        binned.groupBy(bin_col)
        .agg(
            F.min(ordered_on).alias(label_col),
            *_agg_exprs(agg, order_key),
        )
        .orderBy(bin_col)
    )


def snap_grid(bin_by: str, snap_by, *, snap_closed="left", origin=None, offset=None):
    """Validate a snapshot grid against its bins (the compatibility
    rules of :func:`snapshot_agg`); returns the explicit ``snap_by``
    instants (``pd.Timestamp``), or None for a frequency grid."""
    import pandas as pd

    if snap_closed not in ("left", "right"):
        raise ValueError(f"snap_closed must be left|right, got {snap_closed!r}")
    anchored = origin is not None or offset is not None
    if not isinstance(snap_by, str):
        # explicit instants: no divisibility constraint
        snap_edges = [pd.Timestamp(e) for e in list(snap_by)]
        if not snap_edges:
            raise ValueError("snap_by edge sequence must be non-empty")
        if any(a >= b for a, b in zip(snap_edges, snap_edges[1:])):
            raise ValueError(
                "snap_by edge sequence must be strictly ascending"
            )
        if anchored:
            raise ValueError(
                "origin/offset anchoring applies to frequency grids, "
                "not explicit snap_by edges"
            )
        return snap_edges
    if anchored and not (is_fixed_freq(bin_by) and is_fixed_freq(snap_by)):
        raise ValueError(
            "origin/offset anchoring requires fixed bin_by AND snap_by"
        )
    if is_fixed_freq(snap_by):
        snap_us = int(period_duration(snap_by) * 1_000_000)
        if is_fixed_freq(bin_by):
            bin_us = int(period_duration(bin_by) * 1_000_000)
            if bin_us % snap_us:
                raise ValueError("snap_by must evenly divide bin_by")
        else:
            # calendar bins hold a whole number of days, so any snap
            # period dividing a day divides every bin
            if (86400 * 1_000_000) % snap_us:
                raise ValueError(
                    "snap_by must evenly divide a day for calendar bin_by"
                )
    else:
        bm, sm = months_per(bin_by), months_per(snap_by)
        if bm is None or sm is None or bm % sm:
            raise ValueError(
                "calendar snap_by requires a calendar bin_by it evenly "
                f"divides, got bin_by={bin_by!r}, snap_by={snap_by!r}"
            )
    return None


def snapshot_agg(
    df: DataFrame,
    ordered_on: str,
    agg: dict,
    *,
    bin_by: str,
    snap_by,
    snap_closed: str = "left",
    tiebreak: list[str] | None = None,
    bin_col: str = "bin",
    snap_col: str = "snap",
    origin=None,
    offset=None,
) -> DataFrame:
    """Point-in-time snapshots: at every ``snap_by`` instant, the
    cumulative aggregate of the in-progress ``bin_by`` bin.

    ``origin``/``offset`` anchor BOTH grids (fixed frequencies only)
    — bin edges must stay on the snapshot grid, so the two share one
    anchor.

    Semantics (reference ``cumsegagg.py:186-196,243-252``):
    - bins reset the accumulator, snapshots observe it;
    - ``snap_closed='left'`` -> a snapshot at instant s observes rows
      with ts < s; ``'right'`` -> ts <= s;
    - the snapshot grid within a bin is (bin_start, bin_end] — a
      snapshot falling exactly on a bin end observes that bin just
      before it closes (snap-before-bin rule,
      ``segmentby.py:965-1012``);
    - snapshot instants with no new rows repeat the accumulator
      (forward-fill); instants before any data in their bin are null
      (``cumsegagg.py:556-569``).

    ``snap_by`` accepts a frequency string OR an explicit sorted
    sequence of snapshot instants (reference ``by_scale`` Series
    generality, ``segmentby.py:860-911``) — irregular observation
    grids like market-session closes. Edge-list snapshots need no
    divisibility relation with ``bin_by``: each instant observes the
    bin whose ``(bin_start, bin_end]`` span contains it, and a row
    whose next observing instant falls past its bin's end is simply
    never observed (its bin closes before any snapshot looks).

    Grid compatibility for FREQUENCY ``snap_by`` (the grid must land
    on bin edges):
    - fixed ``snap_by`` + fixed ``bin_by``: snap must divide bin;
    - fixed ``snap_by`` + calendar ``bin_by`` (``MS``/``YS`` and
      multiples): snap must divide a day (calendar bins hold whole
      days);
    - calendar ``snap_by`` + calendar ``bin_by``: snap months must
      divide bin months (e.g. monthly snapshots in yearly bins,
      quarterly snapshots in biennial bins — reference ``by_scale``
      generality, ``segmentby.py:860-911``).

    Plan shape: partial agg per (bin, first-observing-snapshot) —
    this collapses the data to ≤ rows/snap_count groups — then
    windowed running accumulation partitioned by bin, then a
    calendar left-join to materialize quiet instants. No
    single-partition stage.
    """
    import pandas as pd

    tiebreak = tiebreak or []
    snap_edges = snap_grid(
        bin_by, snap_by, snap_closed=snap_closed, origin=origin, offset=offset
    )
    o = F.col(ordered_on)
    bin_start = floor_ts(o, bin_by, origin=origin, offset=offset)
    bin_end = next_edge(bin_start, bin_by)
    if snap_edges is not None:
        # first observing instant from the explicit grid: index i =
        # #{edges <= t} ('left': first edge > t) or #{edges < t}
        # ('right': first edge >= t); past-the-last rows get null and
        # are never observed
        idx = assign_edge_bin(o, snap_edges, closed=snap_closed)
        edges_arr = F.array(
            *[F.lit(e.to_pydatetime()).cast("timestamp") for e in snap_edges]
        )
        e_at = F.element_at(edges_arr, (idx + 1).cast("int"))
        if snap_closed == "right":
            # a row exactly at bin_start sits on an edge owned by the
            # PREVIOUS bin (snap-before-bin: that instant observes the
            # closing bin) — its first observing instant inside its
            # own bin is the next edge up
            visible = F.when(
                e_at == bin_start, F.element_at(edges_arr, (idx + 2).cast("int"))
            ).otherwise(e_at)
        else:
            visible = e_at
    else:
        snap_floor = floor_ts(o, snap_by, origin=origin, offset=offset)
        if snap_closed == "left":
            # first snapshot instant strictly after t (on-grid rows are
            # excluded from the snapshot at their own instant)
            visible = next_edge(snap_floor, snap_by)
        else:
            # first snapshot instant >= t (on-grid rows included) —
            # except exactly at bin_start, where that instant belongs
            # to the PREVIOUS bin (snap-before-bin rule): the row's
            # first observing instant in its own bin is one snap up
            visible = F.when(
                snap_floor == o,
                F.when(o == bin_start, next_edge(o, snap_by)).otherwise(o),
            ).otherwise(next_edge(snap_floor, snap_by))
        # clamp into the bin's grid (bin_start, bin_end]
        visible = F.least(visible, bin_end)

    order_key = F.struct(ordered_on, *tiebreak)
    partial_exprs = []
    for out, (col, func) in agg.items():
        if func == "first":
            partial_exprs.append(F.min_by(F.col(col), order_key).alias(f"__p_{out}"))
        elif func == "last":
            partial_exprs.append(F.max_by(F.col(col), order_key).alias(f"__p_{out}"))
        elif func in ("min", "max", "sum"):
            partial_exprs.append(getattr(F, func)(F.col(col)).alias(f"__p_{out}"))
        else:
            raise ValueError(f"unknown agg func {func!r}")

    partials = (
        df.withColumn(bin_col, bin_start)
        .withColumn(snap_col, visible)
        .groupBy(bin_col, snap_col)
        .agg(*partial_exprs)
    )

    spark = df.sparkSession
    bounds = partials.agg(
        F.min(bin_col).alias("mn"), F.max(bin_col).alias("mx")
    ).collect()[0]
    if bounds["mn"] is None:
        return partials.select(bin_col, snap_col, *[F.lit(None).alias(o_) for o_ in agg])
    if snap_edges is not None:
        # each explicit instant belongs to the bin whose
        # (bin_start, bin_end] span contains it: closed='right' time
        # binning maps an on-boundary instant to the PREVIOUS bin
        grid = (
            spark.createDataFrame(pd.DataFrame({snap_col: snap_edges}))
            .select(
                assign_time_bin(
                    F.col(snap_col), bin_by, closed="right", label="left"
                ).alias(bin_col),
                F.col(snap_col),
            )
            .filter(
                (F.col(bin_col) >= F.lit(bounds["mn"]))
                & (F.col(bin_col) <= F.lit(bounds["mx"]))
            )
        )
    else:
        grid = (
            spark.range(1)
            .select(
                F.explode(
                    F.sequence(
                        F.lit(bounds["mn"]).cast("timestamp"),
                        F.lit(bounds["mx"]).cast("timestamp"),
                        F.expr(step_interval_sql(bin_by)),
                    )
                ).alias(bin_col)
            )
            .select(
                bin_col,
                F.explode(
                    F.sequence(
                        next_edge(F.col(bin_col), snap_by),
                        # per-bin right edge — calendar bins vary in length
                        next_edge(F.col(bin_col), bin_by),
                        F.expr(step_interval_sql(snap_by)),
                    )
                ).alias(snap_col),
            )
        )
    joined = grid.join(partials, on=[bin_col, snap_col], how="left")
    w = (
        Window.partitionBy(bin_col)
        .orderBy(snap_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out_cols = [F.col(bin_col), F.col(snap_col)]
    for out, (_col, func) in agg.items():
        p = F.col(f"__p_{out}")
        if func == "first":
            out_cols.append(F.first(p, ignorenulls=True).over(w).alias(out))
        elif func == "last":
            out_cols.append(F.last(p, ignorenulls=True).over(w).alias(out))
        elif func == "min":
            out_cols.append(F.min(p).over(w).alias(out))
        elif func == "max":
            out_cols.append(F.max(p).over(w).alias(out))
        elif func == "sum":
            out_cols.append(F.sum(p).over(w).alias(out))
    return joined.select(*out_cols).orderBy(bin_col, snap_col)
