"""AggStream: restartable, incremental segmented aggregation.

Re-expresses the reference's streamed aggregation engine (reference:
``oups/aggstream/aggstream.py``) as a batch-incremental driver over
Spark plans:

- the seed is an iterable of ordered DataFrame chunks (a Structured
  Streaming ``foreachBatch`` adapter lives in
  ``oups_spark.streaming.bridge``);
- per chunk and per key: DNF filter fan-out
  (``aggstream.py:571-591``), ``segment_agg`` / ``snapshot_agg``
  over the chunk (or their driver twins), then stitching of the
  (small, aggregated) bin results across chunk boundaries — the
  reference's accumulator carry (``jcumsegagg`` ``initial/use_init``
  machinery, ``cumsegagg.py:437-442,516-517``) reduced to a
  combine-by-bin of partial aggregates;
- results are flushed to ordered datasets via the store's merge
  write with keep-last dedup on the bin label, so re-emitting the
  open (in-progress) bin *overwrites* its previous partial row —
  the reference's last-row rewrite rule (``aggstream.py:875-887``);
- restart state (restart index, open-bin accumulator, pre/post
  buffers) rides the same manifest swap as the data
  (``key_value_metadata``), making flush atomic: a crash either
  kept the old data+state or the new data+state
  (reference persists the same way, ``aggstream.py:799-806``).

Scale posture: a chunk within the driver gate (``driver_gate.MAX_ROWS``
rows, Arrow-safe columns) is collected once and every key aggregates
it on the driver from that one Arrow table
(``operators.segment_table``), as the reference runs each chunk on its
driver (``aggstream.py:928-994``): one Spark job per chunk instead of
~27 jobs and ~60 codegen compiles of per-chunk plans. A bigger chunk
is persisted and Spark does the heavy aggregation (hash agg over the
chunk); only *aggregated bins* (thousands, not billions of rows) cross
the driver for stitching. Both paths hand the same frames to one
stitching, restart-state and flush core.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegralType,
    TimestampNTZType,
    TimestampType,
)

from oups_spark.functions.filters import dnf_expression, dnf_filter
from oups_spark.operators import segment_table as seg
from oups_spark.operators.segment import (
    AGG_FUNCS,
    _agg_exprs,
    edge_labels,
    segment_agg,
    snapshot_agg,
)
from oups_spark.store import driver_gate
from oups_spark.store.dataset import OrderedDataset, pandas_to_spark_arrow

_META_KEY = "aggstream"
_EDGE_TYPES = (list, tuple, np.ndarray, pd.Series, pd.Index)


class SeedPreException(RuntimeError):
    """The user ``pre`` hook failed on a seed chunk.

    Crash ergonomics match the reference (``aggstream.py:1508-1528``,
    its ``SeedPreException`` path): everything aggregated from chunks
    BEFORE the failing one — buffered bin/snap frames and restart
    state — is flushed before the exception propagates, so a restart
    resumes from the completed prefix instead of recomputing it."""


@dataclass
class KeyConfig:
    """Per-key aggregation pipeline config (reference keys_config,
    ``aggstream.py:115-271``)."""

    path: str                       # bins dataset directory
    agg: dict                       # {out: (in_col, func)}
    bin_by: str | int | Any         # period string, int = row-count bins,
                                    # an explicit edge sequence / (labels,
                                    # ends) tuple (reference by_scale
                                    # Series), or a BinBy object
    snap_by: str | None = None      # optional snapshot period
    snap_path: str | None = None    # snapshots dataset directory
    filter: list | None = None      # DNF filter for this key
    post: Callable | None = None    # post(buffer, bin_df[, snap_df]) -> df(s)
    tiebreak: list[str] | None = None
    bin_col: str = "bin"
    snap_col: str = "snap"
    row_group_target_size: int | str = 100_000
    origin: Any = None              # TimeGrouper grid anchoring for
    offset: Any = None              # fixed bin_by/snap_by frequencies


def _config_fingerprint(ordered_on: str, cfg: "KeyConfig") -> str:
    """Stable description of the state-shaping parts of a key's
    config. Persisted with the kv state and validated at restart: a
    fresh AggStream pointed at the same datasets with a DIFFERENT
    ``bin_by`` / ``agg`` / ordering would otherwise silently fold its
    output into incompatible carried state (the reference raises on
    mismatched restart indexes/keys, ``aggstream.py:360``). The
    ``filter`` is deliberately excluded — refining a key's DNF filter
    changes which future rows flow in, not the meaning of the state
    already accumulated."""

    import datetime

    def desc(v) -> str:
        if v is None or isinstance(v, (str, int, float, bool)):
            return repr(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(desc(x) for x in v) + "]"
        if isinstance(v, (datetime.date, datetime.datetime, pd.Timestamp)):
            return repr(str(v))  # stable value repr for edge lists
        # custom binners / callables / anything else: type identity
        # only — default reprs embed memory addresses, and a binner's
        # parameters live in binner_state, carried separately
        return f"<{type(v).__name__}>"

    agg = ",".join(
        f"{k}:{cfg.agg[k][0]}/{cfg.agg[k][1]}" for k in sorted(cfg.agg)
    )
    return (
        f"ordered_on={ordered_on};bin_by={desc(cfg.bin_by)};"
        f"snap_by={desc(cfg.snap_by)};agg={agg};bin_col={cfg.bin_col};"
        f"snap_col={cfg.snap_col};origin={desc(cfg.origin)};"
        f"offset={desc(cfg.offset)}"
    )


@dataclass
class _KeyState:
    restart_index: Any = None       # max ordered_on fully processed
    bin_acc: pd.DataFrame | None = None   # 1-row open-bin accumulator
    post_buffer: dict = field(default_factory=dict)
    bin_buffer: list = field(default_factory=list)   # unflushed bin frames
    snap_buffer: list = field(default_factory=list)  # unflushed snap frames
    rows_so_far: int = 0            # row-count bins: global rank offset
    binner_state: Any = None        # custom BinBy carried state


def _combine_bins(frames: list[pd.DataFrame], agg: dict, bin_col: str) -> pd.DataFrame:
    """Fold chronologically-ordered per-chunk bin frames into one:
    first = first non-null, last = last non-null, min/max elementwise,
    sum with null-preservation (no 0-for-empty: NULL_DICT semantics,
    reference ``cumsegagg.py:42``)."""
    frames = [f for f in frames if f is not None and len(f)]
    if not frames:
        return pd.DataFrame()
    both = pd.concat(frames, ignore_index=True)
    g = both.groupby(bin_col, sort=True)
    # extra columns (e.g. the row-count bin's first-ts label) carry
    # the first non-null value — a continued bin keeps its original
    # label from the earlier chunk
    funcs = {out: func for out, (_c, func) in agg.items()}
    cols = [*agg, *(c for c in both.columns if c != bin_col and c not in agg)]
    parts = {
        c: g[c].sum(min_count=1)
        if funcs.get(c) == "sum"
        else getattr(g[c], funcs.get(c, "first"))()
        for c in cols
    }
    combined = pd.DataFrame(parts).reset_index()
    # restore integer dtypes as nullable Int64 (reference nullable-int
    # rule, cumsegagg.py:521-530)
    for c in combined.columns:
        src = both[c]
        if pd.api.types.is_integer_dtype(src) and not pd.api.types.is_integer_dtype(
            combined[c]
        ):
            combined[c] = combined[c].astype("Int64")
    return combined


def _fold_snapshots(
    snap_frames: list[pd.DataFrame],
    bin_frames: list[pd.DataFrame],
    acc0: pd.DataFrame | None,
    agg: dict,
    bin_col: str,
    snap_col: str,
) -> pd.DataFrame:
    """Stitch per-chunk snapshot frames: each chunk's cumulative
    intra-bin values are combined with the open-bin accumulator as of
    the previous chunks (pass-through accumulator semantics,
    reference ``jcumsegagg.py:403-408``)."""
    out_frames: list[pd.DataFrame] = []
    acc = acc0
    for snaps, bins in zip(snap_frames, bin_frames):
        if snaps is None or not len(snaps):
            continue
        s = snaps.copy()
        if acc is not None and len(acc):
            acc_row = acc.iloc[-1]
            mask = s[bin_col] == acc_row[bin_col]
            if mask.any():
                for out, (_c, func) in agg.items():
                    a = acc_row[out]
                    if pd.isna(a):
                        continue
                    cur = s.loc[mask, out]
                    if func == "sum":
                        s.loc[mask, out] = cur.fillna(0) + a
                    elif func == "min":
                        s.loc[mask, out] = np.fmin(cur.astype(float), a)
                    elif func == "max":
                        s.loc[mask, out] = np.fmax(cur.astype(float), a)
                    elif func == "first":
                        s.loc[mask, out] = a
                    elif func == "last":
                        s.loc[mask, out] = cur.where(cur.notna(), a)
        out_frames.append(s)
        acc = _combine_bins([acc, bins], agg, bin_col)
    if not out_frames:
        return pd.DataFrame()
    folded = pd.concat(out_frames, ignore_index=True)
    # later chunks re-emit quiet instants of the same (bin, snap):
    # last write wins
    return folded.drop_duplicates(subset=[bin_col, snap_col], keep="last").sort_values(
        [bin_col, snap_col], ignore_index=True
    )


class AggStream:
    """Incremental multi-key segmented aggregation with restart.

    Usage::

        stream = AggStream(spark, ordered_on="ts", keys={
            "hourly": KeyConfig(path=..., agg={...}, bin_by="1h"),
        })
        stream.agg(seed_chunks)              # incremental
        stream.agg(more_chunks)              # resumes seamlessly
        # process restart: a fresh AggStream re-reads state from the
        # datasets' kv metadata and continues identically.
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        ordered_on: str,
        keys: dict[str, KeyConfig],
        pre: Callable | None = None,
        max_buffered_bins: int = 100_000,
    ):
        self.spark = spark
        self.ordered_on = ordered_on
        self.keys = keys
        self.pre = pre
        self.pre_buffer: dict = {}
        self.max_buffered_bins = max_buffered_bins
        self.state: dict[str, _KeyState] = {}
        self.seed_remainder: pd.DataFrame | None = None
        self._pool = None
        # two keys writing the same dataset would interleave
        # incompatible accumulators (reference refuses shared keys,
        # test_aggstream_init.py "not possible to have key")
        paths = [cfg.path for cfg in keys.values()] + [
            cfg.snap_path for cfg in keys.values() if cfg.snap_path
        ]
        if len(set(paths)) != len(paths):
            raise ValueError(
                f"AggStream keys share a dataset path: {sorted(paths)}"
            )
        for name, cfg in keys.items():
            st = _KeyState()
            ds = OrderedDataset(spark, cfg.path)
            meta = ds.key_value_metadata.get(_META_KEY)
            if meta is None and ds.exists and ds.n_rows > 0:
                # existing data that AggStream did not produce: merging
                # aggregation output into it would corrupt both
                # (reference: "provided 'agg_res' not output of a
                # streamagg", test_exception_not_key_of_streamagg_results)
                raise ValueError(
                    f"AggStream key {name!r}: dataset at {cfg.path} exists "
                    f"but was not written by AggStream (no carried state); "
                    f"refusing to merge aggregation output into it"
                )
            if meta:
                want = _config_fingerprint(ordered_on, cfg)
                have = meta.get("config")
                if have is not None and have != want:
                    raise ValueError(
                        f"AggStream key {name!r}: restart config does not "
                        f"match the state recorded at {cfg.path}:\n"
                        f"  recorded: {have}\n  restart:  {want}\n"
                        f"Resuming with a different bin/agg layout would "
                        f"corrupt the carried accumulator; delete the "
                        f"dataset or restore the original config."
                    )
                st.restart_index = meta.get("restart_index")
                st.bin_acc = meta.get("bin_acc")
                st.post_buffer = meta.get("post_buffer", {})
                st.rows_so_far = meta.get("rows_so_far", 0)
                st.binner_state = meta.get("binner_state")
                self.pre_buffer = meta.get("pre_buffer", self.pre_buffer)
            self.state[name] = st

    # ------------------------------------------------------------------
    def agg(
        self,
        seed: Iterable[DataFrame] | DataFrame,
        *,
        trim_start: bool = True,
        discard_last: bool = True,
        final_write: bool = True,
    ) -> None:
        """Consume seed chunks (reference ``agg``,
        ``aggstream.py:1383-1526``).

        ``trim_start``: drop rows already processed (ordered_on <=
        restart index). ``discard_last``: hold back the trailing rows
        sharing each chunk's max ordered_on — they re-enter with the
        next chunk (completeness gate, ``aggstream.py:566-569``).
        """
        if isinstance(seed, DataFrame):
            seed = [seed]
        try:
            for chunk in seed:
                try:
                    self._process_chunk(
                        chunk, trim_start=trim_start, discard_last=discard_last
                    )
                except SeedPreException:
                    # flush the completed prefix + restart state before
                    # propagating (see SeedPreException docstring)
                    self._flush()
                    raise
                n_buf = max(
                    (sum(len(f) for f in st.bin_buffer) for st in self.state.values()),
                    default=0,
                )
                if n_buf >= self.max_buffered_bins:
                    self._flush()
            if final_write:
                self._flush()
        finally:
            if self._pool is not None:
                self._pool.shutdown()
                self._pool = None

    def _executor(self):
        """The stream's one thread pool for concurrent Spark actions: the
        remainder pull plus up to four per-key plans. It lives for one
        ``agg`` call."""
        if self._pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._pool = ThreadPoolExecutor(max_workers=5)
        return self._pool

    # ------------------------------------------------------------------
    def _process_chunk(self, chunk: DataFrame, *, trim_start: bool, discard_last: bool):
        o = F.col(self.ordered_on)
        if self.pre is not None:
            try:
                chunk = self.pre(chunk, self.pre_buffer)
            except Exception as exc:
                raise SeedPreException(
                    f"pre hook failed on seed chunk: {exc}"
                ) from exc

        # prepend the previous chunk's held-back remainder
        if self.seed_remainder is not None and len(self.seed_remainder):
            rem = self.spark.createDataFrame(self.seed_remainder)
            chunk = rem.unionByName(chunk)

        # Global trim is only safe at the min watermark when EVERY key
        # has one: a key with no restart index (new key, or its kv
        # write lagged a crash) still needs the early rows — keys that
        # are ahead skip them via the per-key trim in
        # _plan_chunk_all_keys instead.
        indexes = [st.restart_index for st in self.state.values()]
        restart = (
            None
            if not indexes or any(ix is None for ix in indexes)
            else min(indexes)
        )
        if trim_start and restart is not None:
            chunk = chunk.filter(o > F.lit(restart))

        # The held-back rows replace the consumed remainder only once
        # every key took the chunk: a chunk that raises leaves the
        # stream as it was, so a rerun replays it whole.
        kw = dict(trim_start=trim_start, discard_last=discard_last)
        small = self._driver_chunk(chunk)
        if small is not None:
            self.seed_remainder = self._run_chunk(small, restart, **kw)
            return
        # persist BEFORE the driver probes: the bounds agg, the
        # discard_last remainder pull and every key's filter+agg all
        # consume this same chunk — caching here collapses what was
        # one source re-scan per probe into a single materialization
        base = chunk.persist()
        try:
            self.seed_remainder = self._run_chunk(
                _SparkChunk(self, base), restart, **kw
            )
        finally:
            base.unpersist()

    def _driver_chunk(self, chunk: DataFrame) -> "_TableChunk | None":
        """The chunk collected for the driver path, or None (the
        persisted Spark path runs): it needs a UTC session and a UTC
        Python process zone (PySpark reads naive datetimes, such as
        snapshot edges and restart indexes, in the process's zone), a
        timestamp (or timestamp_ntz) ``ordered_on``, Arrow-safe columns
        every key can read, explicit edges the driver producers take,
        and at most ``driver_gate.MAX_ROWS`` rows with no NULL
        ``ordered_on`` and no float NaN (Spark orders NaN above every
        value; Arrow's kernels skip it)."""
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        schema = chunk.schema
        types = {f.name: f.dataType for f in schema.fields}
        labels = {
            cfg.path: seg.edge_label_array(cfg.bin_by, tz)
            for cfg in self.keys.values() if isinstance(cfg.bin_by, _EDGE_TYPES)
        }
        if not (
            tz in ("UTC", "Etc/UTC")
            and time.timezone == time.altzone == 0
            and driver_gate.arrow_safe(schema)
            and isinstance(types.get(self.ordered_on), (TimestampType, TimestampNTZType))
            and all(self._driver_key_ok(cfg, types) for cfg in self.keys.values())
            and all(a is not None for a in labels.values())
        ):
            return None
        tbl = driver_gate.collect(chunk, max_rows=driver_gate.MAX_ROWS)
        if tbl is None or tbl[self.ordered_on].null_count or any(
            pa.types.is_floating(c.type) and pc.any(pc.is_nan(c)).as_py()
            for c in tbl.columns
        ):
            return None
        return _TableChunk(self, tbl, tz, labels)

    @staticmethod
    def _driver_key_ok(cfg: KeyConfig, types: dict) -> bool:
        """The key's columns exist, its aggregates are known (the Spark
        plan raises on any other) and it sums only integer or float
        columns."""
        flt = cfg.filter or []
        groups = [flt] if flt and isinstance(flt[0], tuple) else flt
        cols = [c for c, _f in cfg.agg.values()] + list(cfg.tiebreak or [])
        cols += [t[0] for g in groups for t in g]
        return all(c in types for c in cols) and not any(
            f not in AGG_FUNCS
            or f == "sum" and not isinstance(types[c], (IntegralType, FloatType, DoubleType))
            for c, f in cfg.agg.values()
        )

    def _run_chunk(self, src, restart, *, trim_start: bool, discard_last: bool):
        """Bounds, ``discard_last`` holdback and every key's aggregation
        of one chunk; returns the held-back rows."""
        mn, chunk_max = src.bounds()
        if mn is None:
            return None  # chunk fully trimmed (FIXTURES F2 tail-chunk case)
        if restart is not None and mn < restart:
            raise ValueError(
                f"seed chunk starts at {mn} before restart index "
                f"{restart}: seed is not ordered across chunks"
            )

        held = None
        if discard_last:
            # hold back trailing rows sharing the max ordered_on —
            # a possibly-incomplete group (reference rationale,
            # aggstream.py:1429-1448); they re-enter next chunk. On the
            # Spark path the pull is a CONCURRENT action (guide §2.6):
            # it reads the same persisted chunk as the per-key agg
            # jobs below and nothing depends on its result until the
            # next chunk, so it overlaps them instead of serializing
            # one more job floor ahead of them.
            held = src.hold_back(chunk_max)
            if mn == chunk_max:
                return held()  # whole chunk held back
            # Watermark: any value w with processed_max <= w < chunk_max
            # is equivalent to the exact processed max — no row exists in
            # (processed_max, chunk_max), every future row is >= chunk_max,
            # and both the `> watermark` trim and snapshot finality only
            # compare against it. For timestamp/integer streams the
            # predecessor of chunk_max is exact and saves a full second
            # scan of the chunk; other types fall back to the scan.
            import datetime as _dt

            if isinstance(chunk_max, (_dt.datetime, pd.Timestamp)):
                processed_max = pd.Timestamp(chunk_max) - pd.Timedelta(
                    microseconds=1
                )
            elif isinstance(chunk_max, (int, np.integer)):
                processed_max = chunk_max - 1
            else:
                processed_max = src.max()
        else:
            processed_max = chunk_max

        try:
            self._agg_chunk_all_keys(
                src,
                processed_max,
                trim_start=trim_start,
                global_restart=restart if trim_start else None,
            )
        finally:
            # resolve the concurrent remainder pull even when a key's
            # agg failed mid-chunk: it must not leave a dangling Spark
            # action on the unpersisted chunk
            rows = held() if held is not None else None
        return rows

    def _agg_chunk_all_keys(
        self, src, processed_max, *, trim_start=True, global_restart=None
    ) -> None:
        """Per-key filter+agg fan-out over the chunk.

        Three phases, so no key's state moves unless every key's
        frames were produced, and the Spark path's independent per-key
        ACTIONS overlap (guide §2.6 — the scheduler happily runs them
        together):

        1. per key, BUILD the aggregation plan(s) or driver tables and
           a ``finish`` closure holding the key's state updates;
        2. turn them into frames — every Spark plan concurrently, or
           the driver tables converted the way ``toPandas`` does;
        3. apply the ``finish`` closures in key order (state updates
           stay deterministic and single-threaded).
        """
        actions: list[tuple] = []  # (plans, finish(frames))
        self._plan_chunk_all_keys(
            src, processed_max, actions,
            trim_start=trim_start, global_restart=global_restart,
        )
        frames = src.frames([p for plans, _fin in actions for p in plans])
        i = 0
        for plans, fin in actions:
            fin(*frames[i : i + len(plans)])
            i += len(plans)

    def _plan_chunk_all_keys(
        self, src, processed_max, actions, *, trim_start, global_restart
    ) -> None:
        for name, cfg in self.keys.items():
            st = self.state[name]
            # Per-key trim: the chunk is only trimmed to the GLOBAL
            # watermark (min across keys, or nothing when a key has no
            # restart index yet), so a key whose kv write lagged (e.g.
            # post returned empty -> flush skipped) or a newly added
            # key would force the OTHER keys to re-aggregate rows
            # already folded into their persisted bin_acc — sums would
            # double-count.  Each key ahead of the applied global trim
            # resumes from its own watermark instead (the reference
            # raises on mismatched restart indexes, aggstream.py:360;
            # per-key trim preserves its no-double-count invariant
            # while letting the lagged key catch up).
            after = None
            if (
                trim_start
                and st.restart_index is not None
                and (global_restart is None or st.restart_index > global_restart)
            ):
                after = st.restart_index
            rows = src.rows(cfg.filter, after)
            if isinstance(cfg.bin_by, int):
                # row-count bins (reference by_x_rows): global bin id
                # continues across chunks via the persisted row count
                if cfg.snap_by is not None:
                    raise ValueError("snapshots require a time-grid bin_by")
                plan = src.row_bins(rows, cfg, st.rows_so_far)

                def fin_rows(agged, st=st):
                    st.rows_so_far += int(agged["__n"].sum())
                    st.bin_buffer.append(agged.drop(columns="__n"))
                    st.restart_index = self._advance(
                        st.restart_index, processed_max
                    )

                actions.append(([plan], fin_rows))
                continue
            if isinstance(cfg.bin_by, _EDGE_TYPES):
                # explicit edge grid (reference by_scale Series in the
                # streamed engine, segmentby.py:225-236): the grid is
                # a plan constant, so no carried binner state is
                # needed — each chunk aggregates into the same labeled
                # chunks and _combine_bins folds them across chunk
                # boundaries and restarts (a bin straddling chunks
                # combines exactly like a time bin would)
                if cfg.snap_by is not None:
                    raise ValueError("snapshots require a time-grid bin_by")
                _labels, ends = edge_labels(cfg.bin_by)
                plan = src.edge_bins(rows, cfg)

                def fin_edges(agged, st=st, cfg=cfg, ends=ends):
                    # segment_agg_edges materializes EVERY chunk as a
                    # row (nulls for empty) — but re-emitting a
                    # completed bin as all-null would overwrite its
                    # flushed value via the keep-last merge. Keep (a)
                    # bins this chunk put data in, and (b) empty bins
                    # that became FINAL now (end <= watermark, not
                    # final before): each empty bin materializes
                    # exactly once; trailing bins past the stream's
                    # watermark stay unwritten until they close.
                    has_data = agged[list(cfg.agg)].notna().any(axis=1)
                    ends_s = pd.Series(ends)
                    final_now = ends_s <= processed_max
                    if st.restart_index is not None:
                        final_now &= ends_s > st.restart_index
                    st.bin_buffer.append(
                        agged[(has_data | final_now).to_numpy()]
                    )
                    st.restart_index = self._advance(
                        st.restart_index, processed_max
                    )

                actions.append(([plan], fin_edges))
                continue
            if not isinstance(cfg.bin_by, str):
                # custom BinBy object (reference bin_by callable,
                # segmentby.py:735-800): the carried state is
                # persisted in kv like rows_so_far
                if cfg.snap_by is not None:
                    raise ValueError("snapshots require a time-grid bin_by")
                initial = (
                    st.binner_state
                    if st.binner_state is not None
                    else cfg.bin_by.initial_state()
                )
                plan, new_state = src.custom_bins(rows, cfg, initial)

                def fin_custom(agged, st=st, new_state=new_state):
                    st.binner_state = new_state
                    st.bin_buffer.append(agged)
                    st.restart_index = self._advance(
                        st.restart_index, processed_max
                    )

                actions.append(([plan], fin_custom))
                continue
            plans = [src.time_bins(rows, cfg)]
            if cfg.snap_by is not None:
                plans.append(src.snapshots(rows, cfg))

            def fin_time(agged, snaps=None, st=st, cfg=cfg):
                st.bin_buffer.append(agged)
                if snaps is not None:
                    # A snapshot instant s <= previous restart index
                    # is FINAL: under closed-left/right alike, rows
                    # arriving later (ts > restart) are never visible
                    # at s. This chunk's regenerated quiet instants
                    # before its own data would otherwise overwrite
                    # those correct values with the bin-total
                    # accumulator.
                    if st.restart_index is not None:
                        snaps = snaps[snaps[cfg.snap_col] > st.restart_index]
                    st.snap_buffer.append(snaps)
                st.restart_index = self._advance(
                    st.restart_index, processed_max
                )

            actions.append((plans, fin_time))

    @staticmethod
    def _advance(current, new):
        """Watermarks only move forward: a chunk entirely within a
        key's already-processed range must not regress its restart
        index (the per-key trim above makes such chunks no-ops)."""
        return new if current is None or new > current else current

    # ------------------------------------------------------------------
    def _flush_frame(self, pdf: pd.DataFrame, tz: str):
        """The flush payload for the store write: the stitched frames
        are already driver-local pandas, so convert them straight to
        the Arrow table Spark's own pandas→JVM→Arrow round trip would
        produce (``pandas_to_spark_arrow``) and hand THAT to
        ``write`` — the store's probe then runs with zero Spark jobs
        per flush (guide §1.2: the old shape paid one collect job per
        sink per flush just to round-trip driver-built rows through
        the JVM). Frames with dtypes outside the audited mapping
        (e.g. a ``post`` hook emitting exotic columns) fall back to
        the classic ``createDataFrame`` path — identical semantics,
        one job. ``tz``: the session time zone, read once per flush."""
        tbl = pandas_to_spark_arrow(pdf, tz)
        return tbl if tbl is not None else self.spark.createDataFrame(pdf)

    def _flush(self) -> None:
        tz = self.spark.conf.get("spark.sql.session.timeZone", "UTC")
        for name, cfg in self.keys.items():
            st = self.state[name]
            if not st.bin_buffer:
                continue  # nothing new since last flush
            combined = _combine_bins(
                [st.bin_acc, *st.bin_buffer], cfg.agg, cfg.bin_col
            )
            if not len(combined):
                continue
            snaps_folded = None
            if cfg.snap_by is not None and st.snap_buffer:
                snaps_folded = _fold_snapshots(
                    st.snap_buffer, st.bin_buffer, st.bin_acc, cfg.agg,
                    cfg.bin_col, cfg.snap_col,
                )

            bin_out, snap_out = combined, snaps_folded
            if cfg.post is not None:
                res = (
                    cfg.post(st.post_buffer, combined, snaps_folded)
                    if cfg.snap_by is not None
                    else cfg.post(st.post_buffer, combined)
                )
                if res is not None:
                    if isinstance(res, tuple):
                        bin_out, snap_out = res
                    else:
                        bin_out = res

            meta = {
                "restart_index": st.restart_index,
                "bin_acc": combined.iloc[[-1]],
                "post_buffer": st.post_buffer,
                "pre_buffer": self.pre_buffer,
                "rows_so_far": st.rows_so_far,
                "binner_state": st.binner_state,
                "config": _config_fingerprint(self.ordered_on, cfg),
            }
            # Dual-sink crash atomicity (T8): the two sinks are two
            # separate commits, and restart state (restart_index +
            # accumulator) lives in the BINS dataset's metadata alone
            # — so the snaps commit must land FIRST (WAL ordering:
            # data before the cursor). A crash between the commits
            # then leaves snaps AHEAD of the recorded restart_index;
            # the re-invocation reprocesses that window (seed trim is
            # driven by the bins metadata) and the deterministic
            # recomputation re-emits identical snap rows, which the
            # keep-last merge on (snap, bin) absorbs. The reverse
            # order would advance the cursor with the snaps missing —
            # the window's rows are trimmed on restart and those
            # snapshots are lost for good
            # (test_dual_sink_crash_between_commits_converges).
            #
            # Each write opens a fresh handle: a maintenance commit
            # (e.g. ``compact``) landed since the last flush would
            # make a kept handle's manifest stale and its CAS fail.
            if snap_out is not None and len(snap_out) and cfg.snap_path:
                sds = OrderedDataset(self.spark, cfg.snap_path)
                sds.write(
                    df=self._flush_frame(snap_out, tz),
                    ordered_on=cfg.snap_col,
                    duplicates_on=[cfg.bin_col],
                    row_group_target_size=cfg.row_group_target_size,
                    key_value_metadata={_META_KEY: {"restart_index": st.restart_index}},
                    validate_monotonic=False,
                )
            if bin_out is not None and len(bin_out):
                ds = OrderedDataset(self.spark, cfg.path)
                ds.write(
                    df=self._flush_frame(bin_out, tz),
                    ordered_on=cfg.bin_col,
                    duplicates_on=[],  # dedup on bin label (ordered_on)
                    row_group_target_size=cfg.row_group_target_size,
                    key_value_metadata={_META_KEY: meta},
                    validate_monotonic=False,  # sorted by construction
                )
            st.bin_acc = combined.iloc[[-1]]
            st.bin_buffer = []
            st.snap_buffer = []


class _SparkChunk:
    """A persisted chunk: every key's frames are its Spark plans'
    ``toPandas()``, run concurrently on the stream's executor."""

    def __init__(self, stream: AggStream, df: DataFrame):
        self.stream, self.df = stream, df
        self.on = stream.ordered_on
        self.o = F.col(self.on)

    def bounds(self):
        b = self.df.agg(F.min(self.on).alias("mn"), F.max(self.on).alias("mx"))
        b = b.collect()[0]
        return b["mn"], b["mx"]

    def hold_back(self, mx):
        rem = self.df.filter(self.o == F.lit(mx))
        self.df = self.df.filter(self.o < F.lit(mx))
        return self.stream._executor().submit(rem.toPandas).result

    def max(self):
        return self.df.agg(F.max(self.on).alias("mx")).collect()[0]["mx"]

    def rows(self, filters, after):
        rows = dnf_filter(self.df, filters)
        return rows if after is None else rows.filter(self.o > F.lit(after))

    def _bin_plan(self, binned, cfg, *extra):
        """Aggregates per ``bin_col`` of rows a binner labelled, after
        the bin's first ``ordered_on`` and the ``extra`` columns."""
        order_key = F.struct(self.on, *(cfg.tiebreak or []))
        return (
            binned.groupBy(cfg.bin_col)
            .agg(
                F.min(self.on).alias("bin_label"), *extra,
                *_agg_exprs(cfg.agg, order_key),
            )
            .orderBy(cfg.bin_col)
        )

    def row_bins(self, rows, cfg, rank_offset):
        from oups_spark.operators.segment import add_row_count_bins

        binned = add_row_count_bins(
            rows, self.on, cfg.bin_by, tiebreak=cfg.tiebreak,
            bin_col=cfg.bin_col, rank_offset=rank_offset,
        )
        return self._bin_plan(binned, cfg, F.count(F.lit(1)).alias("__n"))

    def edge_bins(self, rows, cfg):
        return segment_agg(
            rows, self.on, cfg.agg, bin_by=edge_labels(cfg.bin_by),
            tiebreak=cfg.tiebreak, bin_col=cfg.bin_col,
        )

    def custom_bins(self, rows, cfg, state):
        from oups_spark.operators.binby import assign_custom_bins

        binned, new_state = assign_custom_bins(
            rows, self.on, cfg.bin_by, tiebreak=cfg.tiebreak,
            bin_col=cfg.bin_col, initial_state=state,
        )
        return self._bin_plan(binned, cfg), new_state

    def time_bins(self, rows, cfg):
        return segment_agg(
            rows, self.on, cfg.agg, bin_by=cfg.bin_by, tiebreak=cfg.tiebreak,
            bin_col=cfg.bin_col, origin=cfg.origin, offset=cfg.offset,
        )

    def snapshots(self, rows, cfg):
        return snapshot_agg(
            rows, self.on, cfg.agg, bin_by=cfg.bin_by, snap_by=cfg.snap_by,
            tiebreak=cfg.tiebreak, origin=cfg.origin, offset=cfg.offset,
            bin_col=cfg.bin_col, snap_col=cfg.snap_col,
        )

    def frames(self, plans):
        if len(plans) == 1:
            return [plans[0].toPandas()]
        return list(self.stream._executor().map(lambda d: d.toPandas(), plans))


class _TableChunk:
    """A chunk collected under the driver gate: every key's frames come
    from the one Arrow table through ``operators.segment_table``, with
    no Spark job. Bounds and trims go through Spark's own timestamp
    conversions, so watermarks match the Spark path's."""

    def __init__(self, stream: AggStream, tbl: pa.Table, tz: str, labels: dict):
        # labels: each explicit-edge key's staged labels, by its path
        self.tbl, self.tz, self.labels = tbl, tz, labels
        self.on = on = stream.ordered_on
        ntz = tbl.schema.field(on).type.tz is None
        self.ts = TimestampNTZType() if ntz else TimestampType()
        self.row_bins = functools.partial(seg.row_count_bins, on)
        self.custom_bins = functools.partial(seg.custom_bins, on, tz=tz)
        self.time_bins = functools.partial(seg.time_bins, on)
        self.snapshots = functools.partial(seg.snapshots, on)

    def _us(self, tbl):
        return pc.cast(tbl[self.on], pa.int64())

    def bounds(self):
        if not self.tbl.num_rows:
            return None, None
        mm = pc.min_max(self._us(self.tbl))
        return self.ts.fromInternal(mm["min"].as_py()), self.ts.fromInternal(mm["max"].as_py())

    def hold_back(self, mx):
        held = pc.equal(self._us(self.tbl), self.ts.toInternal(mx))
        rem = seg.to_spark_pandas(self.tbl.filter(held), self.tz)
        self.tbl = self.tbl.filter(pc.invert(held))
        return lambda: rem

    def rows(self, filters, after):
        rows = self.tbl
        if filters:
            rows = rows.filter(dnf_expression(filters, rows.schema))
        if after is not None:
            # the instant F.lit makes of a datetime (a naive one is
            # read in the process's local zone)
            after_us = TimestampType().toInternal(after)
            rows = rows.filter(pc.greater(self._us(rows), after_us))
        return rows

    def edge_bins(self, rows, cfg):
        return seg.edge_bins(self.on, rows, cfg, self.labels[cfg.path])

    def frames(self, tables):
        return [seg.to_spark_pandas(t, self.tz) for t in tables]
