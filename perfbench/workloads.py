"""The four closed-loop workloads.

A workload stages its inputs and initial state (``stage``, run once
per set-up round), then yields its ops (``ops``): each op is issued by
the single client only after the previous one returned. After the
timed phase ``check`` compares every read and the final state with
the pandas reference built from the same generated inputs.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import generate, reference

EVENT_DDL = "ts timestamp, price double, qty double"
CHANGE_DDL = "id long, seq long, val double, deleted boolean"


def _utc(us: int) -> dt.datetime:
    """A naive UTC datetime, the form the store's manifest stats use."""
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))


@dataclass
class Op:
    kind: str  # "ingest" or "read"
    label: str  # what the op does, e.g. "write", "big", "tail"
    rows: int  # user rows ingested (0 for reads)
    fn: Callable[[], Any]
    window: tuple = ()
    after: int = -1  # the input index a read follows
    result: Any = None
    error: str | None = None


def read_rows(spark, path: str, lo, hi) -> int:
    """One range read by a fresh reader handle, materialized to Arrow
    on the client."""
    from oups_spark.store.dataset import OrderedDataset

    return OrderedDataset(spark, path).read(lo, hi).toArrow().num_rows


def read_all(spark, path: str) -> pd.DataFrame:
    from oups_spark.store.dataset import OrderedDataset

    return reference.to_pandas(OrderedDataset(spark, path).read().toArrow())


def _stage_files(tables: list[pa.Table], staging: str) -> list[str]:
    os.makedirs(staging, exist_ok=True)
    paths = []
    for i, t in enumerate(tables):
        p = os.path.join(staging, f"part-{i:05d}.parquet")
        pq.write_table(t, p)
        paths.append(p)
    return paths


class Workload:
    """A run does a fixed amount of work, ``units``, sized so that it
    takes about ``--seconds`` on a 4-core machine: a faster
    program then does the same work in less time, on the same inputs."""

    name = ""
    per_second = 1.0  # work units per second of run length
    min_units = 11  # a tail percentile needs more than 10 samples

    def __init__(self, seed: int, seconds: float, traffic: generate.Traffic):
        self.seed = seed
        self.traffic = traffic
        self.units = max(self.min_units, round(self.per_second * seconds))
        self.queries: list = []  # running streaming queries

    def datasets(self) -> list[str]:
        raise NotImplementedError

    def check(self, done: list[Op]) -> tuple[list[str], list[str]]:
        """``(read mismatches, final-state mismatches)``; a read whose
        row count differs from the reference is marked failed."""
        reads = []
        for n, op in enumerate(done):
            if op.kind != "read" or op.error:
                continue
            want = self.expected_rows(n, op)
            if op.result != want:
                reads.append(f"read {n}: {op.result} rows, expected {want}")
                op.error = "mismatch"
        return reads, self.check_final()

    def teardown(self) -> None:
        for q in self.queries:
            q.stop()
        self.queries = []


# ------------------------------------------------------------ store_mixed
class StoreMixed(Workload):
    """Ordered writes (driver path, distributed path, late overlap),
    scattered ``merge_into`` upserts and ``compact`` beside range
    reads, on one dataset of hundreds of small files."""

    name = "store_mixed"
    # cycles of 20 writes + merge_into + compact: 22 ingest ops each
    per_second = 1 / 12
    min_units = 1
    TARGET = 5_000  # rows per file: keeps the dataset in the hundreds of files
    N_HISTORY = 3
    WARM_READS = 3

    def datasets(self):
        return [self.path]

    def _write(self, tbl: pa.Table) -> None:
        self.ds.write(
            tbl,
            ordered_on="ts",
            duplicates_on=["id"],
            row_group_target_size=self.TARGET,
            validate_monotonic=False,
        )

    def _merge(self, tbl: pa.Table) -> dict:
        return self.ds.merge_into(
            self.spark.createDataFrame(tbl),
            on=["ts", "id"],
            when_matched_update="source",
            row_group_target_size=self.TARGET,
        )

    def _compact(self) -> int:
        return self.ds.compact(row_group_target_size=self.TARGET)

    def stage(self, spark, root: str) -> None:
        from oups_spark.store.dataset import OrderedDataset

        self.spark = spark
        self.path = os.path.join(root, "ds")
        self.history, self.plan = generate.store_ops(
            self.seed, self.traffic, self.N_HISTORY, self.units
        )
        self.ds = OrderedDataset(spark, self.path)
        for t in self.history:
            self._write(t)
        # warm the read path: minutes spread over the history
        ts = np.concatenate([_us(t, "ts") for t in self.history])
        for lo in ts[:: len(ts) // self.WARM_READS][: self.WARM_READS]:
            read_rows(spark, self.path, _utc(lo), _utc(lo + 60_000_000))

    def ops(self):
        for i, (kind, tbl, (lo, hi)) in enumerate(self.plan):
            if kind == "merge_into":
                fn = lambda t=tbl: self._merge(t)  # noqa: E731
            elif kind == "compact":
                fn = self._compact
            else:
                fn = lambda t=tbl: self._write(t)  # noqa: E731
            yield Op("ingest", kind, tbl.num_rows if tbl is not None else 0, fn)
            yield Op(
                "read",
                "range",
                0,
                lambda a=lo, b=hi: read_rows(self.spark, self.path, _utc(a), _utc(b)),
                window=(lo, hi),
                after=i,
            )

    @functools.cached_property
    def _key_ts(self) -> list[np.ndarray]:
        """The key timestamps after each plan step, replayed op by op."""
        tl = generate.StoreTimeline()
        for t in self.history:
            tl.add(_us(t, "ts"), t.column("id").to_numpy())
        out = []
        for kind, tbl, _w in self.plan:
            if kind in ("write", "late", "big"):
                tl.add(_us(tbl, "ts"), tbl.column("id").to_numpy())
            out.append(tl.ts)
        return out

    def expected_rows(self, n: int, op: Op) -> int:
        return _count(self._key_ts[op.after], *op.window)

    def check_final(self) -> list[str]:
        bad = []
        applied = self.history + [t for _k, t, _w in self.plan if t is not None]
        self.ref = reference.store_final(applied)
        got = read_all(self.spark, self.path)
        d = reference.diff(got, self.ref, ["ts", "id"])
        if d:
            bad.append(f"final state: {d}")
        return bad

    def ref_bytes(self) -> int:
        return reference.arrow_bytes(self.ref)


def _us(tbl: pa.Table, col: str) -> np.ndarray:
    return tbl.column(col).cast(pa.int64()).to_numpy()


def _count(sorted_keys: np.ndarray, lo, hi) -> int:
    """Keys in ``[lo, hi)``."""
    return int(np.searchsorted(sorted_keys, hi) - np.searchsorted(sorted_keys, lo))


# ------------------------------------------------------------ aggstream_restart
class AggStreamRestart(Workload):
    """Every chunk is processed by a freshly constructed ``AggStream``,
    so its restart state comes from the datasets' kv metadata."""

    name = "aggstream_restart"
    per_second = 0.75  # chunks
    RC_AGG = {"vol": ("qty", "sum"), "first": ("price", "first")}
    RC_FILTER = [[("qty", ">=", 3)]]

    def datasets(self):
        return [self.paths[k] for k in ("h1", "d1", "d1_snap", "rc")]

    def _keys(self):
        from oups_spark.streaming.aggstream import KeyConfig

        p = self.paths
        return {
            "h1": KeyConfig(path=p["h1"], agg=reference.AGG, bin_by="1h"),
            "d1": KeyConfig(
                path=p["d1"],
                agg=reference.AGG,
                bin_by="1D",
                snap_by="1h",
                snap_path=p["d1_snap"],
            ),
            "rc": KeyConfig(
                path=p["rc"], agg=self.RC_AGG, bin_by=1000, filter=self.RC_FILTER
            ),
        }

    def _chunk(self, i: int) -> None:
        from oups_spark.streaming.aggstream import AggStream

        chunk = self.spark.read.schema(EVENT_DDL).parquet(self.files[i])
        stream = AggStream(self.spark, ordered_on="ts", keys=self._keys())
        stream.agg(chunk, discard_last=i < len(self.files) - 1)

    def stage(self, spark, root: str) -> None:
        self.spark = spark
        self.paths = {k: os.path.join(root, k) for k in ("h1", "d1", "d1_snap", "rc")}
        # one chunk builds the initial state, then the timed chunks
        self.chunks = generate.event_chunks(self.seed, self.traffic, self.units + 1)
        # a restarted client re-sends from the restart point: the row
        # the previous chunk held back (discard_last) leads the next one
        fed = [self.chunks[0]] + [
            pa.concat_tables([prev.slice(prev.num_rows - 1), cur])
            for prev, cur in zip(self.chunks, self.chunks[1:])
        ]
        self.files = _stage_files(fed, os.path.join(root, "staging"))
        self._chunk(0)
        read_rows(spark, self.paths["h1"], None, None)

    def _processed_hours(self, i: int) -> np.ndarray:
        """Hour labels of the rows processed after chunk ``i``: the
        last row of a chunk is held back (``discard_last``) except on
        the final chunk."""
        ts = np.concatenate([_us(c, "ts") for c in self.chunks[: i + 1]])
        if i < len(self.chunks) - 1:
            ts = ts[:-1]
        return np.unique(ts - ts % generate.HOUR_US)

    def ops(self):
        rng = np.random.default_rng([self.seed, 5])
        day = 24 * generate.HOUR_US
        first = int(_us(self.chunks[0], "ts")[0])
        for i in range(1, len(self.chunks)):
            yield Op(
                "ingest",
                "restart+agg",
                self.chunks[i].num_rows,
                lambda i=i: self._chunk(i),
            )
            # two reads per chunk: the latest day, then an older day
            hi_us = int(_us(self.chunks[i], "ts")[-1])
            older = int(rng.integers(first, max(first + 1, hi_us - day)))
            for lo in (hi_us - day, older):
                yield Op(
                    "read",
                    "range",
                    0,
                    lambda a=lo: read_rows(
                        self.spark, self.paths["h1"], _utc(a), _utc(a + day)
                    ),
                    window=(lo, lo + day),
                    after=i,
                )

    def expected_rows(self, n: int, op: Op) -> int:
        return _count(self._processed_hours(op.after), *op.window)

    def check_final(self) -> list[str]:
        bad = []
        ev = reference.to_pandas(pa.concat_tables(self.chunks))
        self.refs = {
            "h1": reference.time_bins(ev, "1h"),
            "d1": reference.time_bins(ev, "1D"),
            "d1_snap": reference.snapshots(ev, "1D", "1h"),
            "rc": reference.row_count_bins(ev[ev["qty"] >= 3], 1000, self.RC_AGG),
        }
        keys = {"h1": ["bin"], "d1": ["bin"], "d1_snap": ["bin", "snap"], "rc": ["bin"]}
        for k, want in self.refs.items():
            d = reference.diff(read_all(self.spark, self.paths[k]), want, keys[k])
            if d:
                bad.append(f"{k}: {d}")
        return bad

    def ref_bytes(self) -> int:
        return reference.arrow_bytes(*self.refs.values())


# ------------------------------------------------------------ stream workloads
class _FileStream(Workload):
    """A staged backlog of files moved one at a time into the source
    directory of a running query; each op waits for its micro-batch."""

    per_second = 1.6  # files
    WARM_FILES = 1

    @staticmethod
    def bound(v):
        """A read bound on the sink's ordering column."""
        return v

    def _feed(self, i: int) -> None:
        os.rename(self.files[i], os.path.join(self.src, os.path.basename(self.files[i])))
        self.query.processAllAvailable()

    def _start(self, spark, root: str, tables: list[pa.Table]) -> None:
        self.spark = spark
        self.tables = tables
        self.files = _stage_files(tables, os.path.join(root, "staging"))
        self.src = os.path.join(root, "source")
        os.makedirs(self.src)
        self.ckpt = os.path.join(root, "checkpoint")
        t0 = time.perf_counter()
        self.query = self._query()
        self.queries.append(self.query)
        self.query.processAllAvailable()
        self.start_s = time.perf_counter() - t0
        for i in range(self.WARM_FILES):
            self._feed(i)
        read_rows(spark, self.path, None, None)

    def ops(self):
        rng = np.random.default_rng([self.seed, 6])
        for i in range(self.WARM_FILES, len(self.files)):
            yield Op(
                "ingest",
                "micro-batch",
                self.tables[i].num_rows,
                lambda i=i: self._feed(i),
            )
            lo, hi = self._window(i, rng)
            yield Op(
                "read",
                "range",
                0,
                lambda a=lo, b=hi: read_rows(
                    self.spark, self.path, self.bound(a), self.bound(b)
                ),
                window=(lo, hi),
                after=i,
            )

    def datasets(self):
        return [self.path]

    def ref_bytes(self) -> int:
        return reference.arrow_bytes(self.ref)


class StreamWindows(_FileStream):
    """``streaming_segment_agg`` (watermarked 1 h windows) into
    ``write_stream_to_dataset``."""

    name = "stream_windows"
    WATERMARK_US = 10 * 60 * 1_000_000
    # a file spans 75 min, so the second file's batch closes the first
    # window and the sink dataset exists before the first timed read
    WARM_FILES = 2

    bound = staticmethod(_utc)  # the sink is ordered on the bin label

    def _query(self):
        from oups_spark.streaming.native import (
            streaming_segment_agg,
            write_stream_to_dataset,
        )

        events = (
            self.spark.readStream.schema(EVENT_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        agged = streaming_segment_agg(
            events, "ts", reference.AGG, bin_by="1h", watermark="10 minutes"
        )
        return write_stream_to_dataset(
            agged, self.path, checkpoint_dir=self.ckpt, available_now=False
        )

    def stage(self, spark, root: str) -> None:
        self.path = os.path.join(root, "bins")
        n = self.units + self.WARM_FILES
        self._start(
            spark,
            root,
            generate.event_files(self.seed, self.traffic, n, self.WARM_FILES),
        )

    def _watermark_us(self, i: int) -> int:
        """Event-time watermark in effect while file ``i`` is processed:
        the max event time of the earlier files (Spark keeps it in ms)
        minus the delay."""
        if i == 0:
            return 0
        mx = max(int(_us(t, "ts").max()) for t in self.tables[:i])
        return mx // 1000 * 1000 - self.WATERMARK_US

    def _emitted(self, i: int) -> np.ndarray:
        """Labels of the windows in the sink after file ``i``: a window
        is emitted once the watermark reaches its end."""
        ts = np.concatenate([_us(t, "ts") for t in self.tables[: i + 1]])
        bins = np.unique(ts - ts % generate.HOUR_US)
        return bins[bins + generate.HOUR_US <= self._watermark_us(i)]

    def _window(self, i: int, rng):
        span = 6 * generate.HOUR_US
        file_us = self.traffic.file_span_s * 1_000_000
        now = generate.T0_US + (i + 1) * file_us
        if i % 2:
            lo = now - span
        else:
            lo = int(rng.integers(generate.T0_US, max(generate.T0_US + 1, now - span)))
        return lo, lo + span

    def expected_rows(self, n: int, op: Op) -> int:
        return _count(self._emitted(op.after), *op.window)

    def check_final(self) -> list[str]:
        bad = []
        ev = reference.to_pandas(pa.concat_tables(self.tables))
        ref = reference.time_bins(ev, "1h")
        final = self._emitted(len(self.tables) - 1).astype("datetime64[us]")
        self.ref = ref[ref["bin"].isin(final)].reset_index(drop=True)
        d = reference.diff(read_all(self.spark, self.path), self.ref, ["bin"])
        if d:
            bad.append(f"final bins: {d}")
        return bad


class CdcMerge(_FileStream):
    """A changelog through ``cdc_merge_sink`` into a dataset keyed on
    ``id``: one ``merge_into`` per micro-batch."""

    name = "cdc_merge"
    per_second = 1.2
    TARGET = 5_000
    WINDOW_IDS = 2_500

    def _query(self):
        from oups_spark.store.dataset import OrderedDataset
        from oups_spark.streaming.cdc import cdc_merge_sink

        changes = (
            self.spark.readStream.schema(CHANGE_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        return cdc_merge_sink(
            changes,
            OrderedDataset(self.spark, self.path),
            key="id",
            order_cols=["seq"],
            delete_col="deleted",
            row_group_target_size=self.TARGET,
            checkpoint_dir=self.ckpt,
            available_now=False,
        )

    def stage(self, spark, root: str) -> None:
        self.path = os.path.join(root, "state")
        n = self.units + self.WARM_FILES
        self._start(spark, root, generate.changelog_files(self.seed, self.traffic, n))

    def _window(self, i: int, rng):
        lo = int(rng.integers(0, self.traffic.key_space - self.WINDOW_IDS))
        return lo, lo + self.WINDOW_IDS

    def expected_rows(self, n: int, op: Op) -> int:
        # every id seen so far has a row: deletes stay as tombstones
        seen = self.tables[: op.after + 1]
        ids = np.unique(np.concatenate([t.column("id").to_numpy() for t in seen]))
        return _count(ids, *op.window)

    def check_final(self) -> list[str]:
        from oups_spark.store.dataset import OrderedDataset
        from oups_spark.streaming.cdc import read_current_ds

        bad = []
        self.ref = reference.cdc_current(
            reference.to_pandas(pa.concat_tables(self.tables))
        )
        got = reference.to_pandas(
            read_current_ds(
                OrderedDataset(self.spark, self.path), delete_col="deleted"
            ).toArrow()
        )
        d = reference.diff(got, self.ref, ["id"])
        if d:
            bad.append(f"current state: {d}")
        return bad


WORKLOADS = {
    w.name: w for w in (StoreMixed, AggStreamRestart, StreamWindows, CdcMerge)
}
