"""Seeded input generator: everything a workload feeds the library.

Pure numpy/pyarrow (no Spark), so the same ``seed`` and ``Traffic``
give byte-identical Arrow tables on every machine. The traffic
dimensions the workloads depend on are the fields of ``Traffic``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# 2024-01-01T00:00:00Z in microseconds: every generated clock starts here
T0_US = 1_704_067_200_000_000
HOUR_US = 3_600_000_000

STORE_SCHEMA = pa.schema(
    [("ts", pa.timestamp("us", tz="UTC")), ("id", pa.int64()), ("v", pa.float64())]
)
EVENT_SCHEMA = pa.schema(
    [("ts", pa.timestamp("us", tz="UTC")), ("price", pa.float64()), ("qty", pa.float64())]
)
CHANGE_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("seq", pa.int64()),
        ("val", pa.float64()),
        ("deleted", pa.bool_()),
    ]
)


@dataclass(frozen=True)
class Traffic:
    """The input properties the workloads vary."""

    # store_mixed: write batches
    driver_cap_rows: int = 100_000  # the store's driver-merge row cap
    batch_rows: tuple[int, int] = (2_000, 20_000)
    big_every: int = 10  # one write batch in this many is above the cap
    cycle_writes: int = 20  # write batches between merge_into/compact
    big_over_cap: float = 1.1  # big batch rows = cap * this
    late_share: float = 0.2  # share of write batches carrying late rows
    late_rows: float = 0.3  # late rows in such a batch / its rows
    dup_share: float = 0.6  # late rows that replace an existing key
    late_depth_rows: int = 6_000  # late rows reach back this many keys
    id_space: int = 1_000
    upsert_keys: int = 1_000  # keys per merge_into upsert
    upsert_ranges: int = 4  # old ranges those keys are spread over
    # aggstream_restart: bursty event stream cut into chunks
    chunk_rows: tuple[int, int] = (10_000, 50_000)
    quiet_share: float = 0.15  # share of hours with no events
    hour_rows: tuple[int, int] = (800, 6_000)  # events in an active hour
    # stream_windows: staged event files
    file_rows: tuple[int, int] = (2_000, 4_000)
    file_span_s: int = 4_500  # event time one file covers
    disorder_rows: int = 50  # rows may appear this far out of order
    # cdc_merge: changelog files
    ops_per_file: int = 2_000
    key_space: int = 50_000
    key_skew: float = 1.1  # Zipf exponent over the key space
    delete_share: float = 0.10
    redelivery_share: float = 0.05


def _sizes(lo_hi: tuple[int, int], n: int) -> np.ndarray:
    """``n`` sizes spread evenly over ``lo_hi``, small and large taking
    turns. The schedule is the same for every seed, so seeds change
    the data and not the load: a run's volume and op order are fixed."""
    sizes = np.linspace(*lo_hi, n).round().astype(np.int64)
    turns = np.empty(n, dtype=np.int64)
    turns[0::2] = sizes[: (n + 1) // 2]
    turns[1::2] = sizes[(n + 1) // 2 :][::-1]
    return turns


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us", tz="UTC"))


def _store_table(ts_us, ids, vals) -> pa.Table:
    order = np.lexsort((ids, ts_us))
    return pa.table(
        [_ts(ts_us[order]), pa.array(ids[order]), pa.array(vals[order])],
        schema=STORE_SCHEMA,
    )


class StoreTimeline:
    """Keys written so far, as sorted ``(ts_us, id)`` pairs, so late
    rows and upserts can target existing keys."""

    def __init__(self):
        self.ts = np.empty(0, dtype=np.int64)
        self.ids = np.empty(0, dtype=np.int64)
        self.last_us = T0_US

    def add(self, ts_us: np.ndarray, ids: np.ndarray) -> None:
        # new keys land in the tail, so only the tail is re-sorted
        cut = int(np.searchsorted(self.ts, ts_us.min()))
        code = np.unique(
            np.concatenate([self.ts[cut:], ts_us]) * 1024
            + np.concatenate([self.ids[cut:], ids])
        )
        self.ts = np.concatenate([self.ts[:cut], code // 1024])
        self.ids = np.concatenate([self.ids[:cut], code % 1024])
        self.last_us = max(self.last_us, int(ts_us.max()))


def store_ops(seed: int, traffic: Traffic, n_history: int, n_cycles: int):
    """``store_mixed`` inputs: ``(history, ops)``.

    ``history``: tables written during set-up (each under the driver
    cap). ``ops``: cycles of ``cycle_writes`` write batches, then one
    ``merge_into`` upsert and one ``compact``; each op is
    ``(kind, table | None, read_window)``: the read that follows it,
    the recent tail and a random older window taking turns.
    """
    if traffic.id_space > 1024:
        raise ValueError("id_space must fit the 10-bit key code")
    rng = np.random.default_rng([seed, 1])
    tl = StoreTimeline()

    def fresh(n: int):
        # even microsecond steps: late "new" keys take the odd slots
        steps = rng.integers(1, 10_000, n) * 2
        ts = tl.last_us + np.cumsum(steps)
        return ts, rng.integers(0, traffic.id_space, n), rng.standard_normal(n)

    history = []
    hist_rows = int(traffic.driver_cap_rows * 0.95)
    for _ in range(n_history):
        ts, ids, vals = fresh(hist_rows)
        history.append(_store_table(ts, ids, vals))
        tl.add(ts, ids)

    win_us = 60_000_000  # reads cover one minute of event time
    n_late_slots = int(traffic.big_every * traffic.late_share)
    late_slots = {
        int((i + 0.5) * traffic.big_every / n_late_slots)
        for i in range(n_late_slots)
    }
    ops = []
    for _c in range(n_cycles):
        n_big = traffic.cycle_writes // traffic.big_every
        small = iter(
            _sizes(traffic.batch_rows, traffic.cycle_writes - n_big)
        )
        kinds = []
        for pos in range(traffic.cycle_writes):
            if pos % traffic.big_every == traffic.big_every // 2:
                kinds.append("big")
            elif pos % traffic.big_every in late_slots:
                kinds.append("late")
            else:
                kinds.append("write")
        kinds += ["merge_into", "compact"]
        for kind in kinds:
            tbl = None
            if kind in ("write", "late", "big"):
                if kind == "big":
                    n = int(traffic.driver_cap_rows * traffic.big_over_cap)
                else:
                    n = int(next(small))
                n_late = int(n * traffic.late_rows) if kind == "late" else 0
                ts, ids, vals = fresh(n - n_late)
                if n_late:
                    depth = min(traffic.late_depth_rows, len(tl.ts))
                    pick = len(tl.ts) - depth + rng.choice(
                        depth, n_late, replace=False
                    )
                    n_dup = int(n_late * traffic.dup_share)
                    late_ts = tl.ts[pick].copy()
                    late_ids = tl.ids[pick].copy()
                    # new keys inside the overlapped range: odd slots
                    late_ts[n_dup:] += 1
                    late_ids[n_dup:] = rng.integers(
                        0, traffic.id_space, n_late - n_dup
                    )
                    ts = np.concatenate([ts, late_ts])
                    ids = np.concatenate([ids, late_ids])
                    vals = np.concatenate([vals, rng.standard_normal(n_late)])
                tbl = _store_table(ts, ids, vals)
                tl.add(ts, ids)
            elif kind == "merge_into":
                # upsert existing keys spread over old ranges (outside
                # the recent tail that late rows touch)
                old = len(tl.ts) - traffic.late_depth_rows
                per = traffic.upsert_keys // traffic.upsert_ranges
                starts = rng.choice(old - per, traffic.upsert_ranges, replace=False)
                pick = np.unique(
                    np.concatenate([np.arange(s, s + per) for s in starts])
                )
                tbl = _store_table(
                    tl.ts[pick], tl.ids[pick], rng.standard_normal(len(pick))
                )
            if len(ops) % 2:
                lo = int(rng.integers(int(tl.ts[0]), tl.last_us - win_us))
            else:
                lo = tl.last_us - win_us
            ops.append((kind, tbl, (lo, lo + win_us)))
    return history, ops


def _bursty_events(rng, traffic: Traffic, n_rows: int, start_us: int):
    """At least ``n_rows`` ordered events, hour by hour; a share of
    hours is quiet. Timestamps are unique. Which hours are quiet and
    how many events the others hold is the same for every seed."""
    shape = np.random.default_rng(0)
    ts_parts, hour = [], 0
    total = 0
    while total < n_rows:
        h0 = start_us + hour * HOUR_US
        hour += 1
        # the first and last hour of a day always carry events, so no
        # calendar day is empty
        quiet = shape.random() < traffic.quiet_share
        k = int(shape.integers(*traffic.hour_rows, endpoint=True))
        if quiet and (hour - 1) % 24 not in (0, 23):
            continue
        off = np.sort(rng.integers(0, HOUR_US - k, k)) + np.arange(k)
        ts_parts.append(h0 + off)
        total += k
    ts = np.concatenate(ts_parts)
    n = len(ts)
    price = np.round(100 + np.cumsum(rng.standard_normal(n)) * 0.05, 2)
    # whole-number quantities as doubles: AggStream carries sums as
    # doubles across restarts, and sums of whole numbers stay exact
    qty = rng.integers(1, 11, n).astype(np.float64)
    return ts, price, qty


def event_chunks(seed: int, traffic: Traffic, n_chunks: int) -> list[pa.Table]:
    """``aggstream_restart`` inputs: consecutive chunks of one ordered,
    bursty event stream. The first chunk, which builds the initial
    state, has the smallest size."""
    rng = np.random.default_rng([seed, 2])
    sizes = np.concatenate(
        [[traffic.chunk_rows[0]], _sizes(traffic.chunk_rows, n_chunks - 1)]
    )
    ts, price, qty = _bursty_events(rng, traffic, int(sizes.sum()), T0_US)
    out, at = [], 0
    for k in sizes:
        sl = slice(at, at + int(k))
        out.append(
            pa.table(
                [_ts(ts[sl]), pa.array(price[sl]), pa.array(qty[sl])],
                schema=EVENT_SCHEMA,
            )
        )
        at += int(k)
    return out


def event_files(
    seed: int, traffic: Traffic, n_files: int, lead: int = 0
) -> list[pa.Table]:
    """``stream_windows`` inputs: consecutive event files; each covers
    ``file_span_s`` of event time and is shuffled locally, so rows
    arrive out of order by at most ``disorder_rows`` positions. The
    first ``lead`` files have the smallest size."""
    rng = np.random.default_rng([seed, 3])
    sizes = np.concatenate(
        [[traffic.file_rows[0]] * lead, _sizes(traffic.file_rows, n_files - lead)]
    )
    out = []
    start = T0_US
    span = traffic.file_span_s * 1_000_000
    price0 = 100.0
    for k in sizes:
        k = int(k)
        ts = start + np.sort(rng.integers(0, span - k, k)) + np.arange(k)
        price = np.round(price0 + np.cumsum(rng.standard_normal(k)) * 0.05, 2)
        price0 = float(price[-1])
        qty = rng.integers(1, 11, k).astype(np.float64)
        order = np.argsort(
            np.arange(k) + rng.uniform(0, traffic.disorder_rows, k), kind="stable"
        )
        out.append(
            pa.table(
                [_ts(ts[order]), pa.array(price[order]), pa.array(qty[order])],
                schema=EVENT_SCHEMA,
            )
        )
        start += span
    return out


def changelog_files(seed: int, traffic: Traffic, n_files: int) -> list[pa.Table]:
    """``cdc_merge`` inputs: changelog files of ``ops_per_file`` ops.
    Keys are Zipf-skewed over ``key_space`` (hot keys scattered over
    the id range); ``delete_share`` of ops are deletes and
    ``redelivery_share`` re-send an op from an earlier file."""
    rng = np.random.default_rng([seed, 4])
    ranks = np.arange(1, traffic.key_space + 1, dtype=np.float64)
    p = ranks ** -traffic.key_skew
    p /= p.sum()
    key_of_rank = rng.permutation(traffic.key_space).astype(np.int64)
    seq = 0
    sent: list[pa.Table] = []
    for _ in range(n_files):
        n = traffic.ops_per_file
        n_re = int(n * traffic.redelivery_share) if sent else 0
        n_new = n - n_re
        ids = key_of_rank[rng.choice(traffic.key_space, n_new, p=p)]
        seqs = np.arange(seq, seq + n_new, dtype=np.int64)
        seq += n_new
        vals = np.round(rng.standard_normal(n_new) * 100, 3)
        deleted = rng.random(n_new) < traffic.delete_share
        tbl = pa.table(
            [pa.array(ids), pa.array(seqs), pa.array(vals), pa.array(deleted)],
            schema=CHANGE_SCHEMA,
        )
        if n_re:
            prev = pa.concat_tables(sent)
            redo = prev.take(pa.array(rng.choice(prev.num_rows, n_re, replace=False)))
            tbl = pa.concat_tables([tbl, redo])
            tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        sent.append(tbl)
    return sent
