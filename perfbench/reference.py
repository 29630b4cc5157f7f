"""pandas references, computed from the generated inputs alone, and
the comparison the workloads run after the timed phase."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

AGG = {  # {out: (in_col, func)}: the agg spec of every event workload
    "first": ("price", "first"),
    "last": ("price", "last"),
    "lo": ("price", "min"),
    "hi": ("price", "max"),
    "vol": ("qty", "sum"),
}


def to_pandas(tbl: pa.Table) -> pd.DataFrame:
    """Arrow to pandas with timestamps as naive UTC."""
    df = tbl.to_pandas()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df


def diff(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> str | None:
    """``None`` when the frames hold the same rows (any order, float
    values to 1e-9 relative), else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} expected"
    got = got[list(want.columns)].sort_values(keys, ignore_index=True)
    want = want.sort_values(keys, ignore_index=True)
    try:
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=False, rtol=1e-9
        )
    except AssertionError as e:
        return " ".join(str(e).split())[:300]
    return None


def arrow_bytes(*frames: pd.DataFrame) -> int:
    return sum(pa.Table.from_pandas(f, preserve_index=False).nbytes for f in frames)


# ------------------------------------------------------------ store
def store_final(tables: list[pa.Table]) -> pd.DataFrame:
    """Keep-last on ``(ts, id)`` over every batch and upsert, in order."""
    df = pd.concat([to_pandas(t) for t in tables], ignore_index=True)
    return df.drop_duplicates(["ts", "id"], keep="last").reset_index(drop=True)


# ------------------------------------------------------------ events
def _agg(g) -> pd.DataFrame:
    return g.agg(**{out: (col, f) for out, (col, f) in AGG.items()})


def time_bins(events: pd.DataFrame, freq: str) -> pd.DataFrame:
    """Bins labelled by their left edge; bins without rows are absent."""
    events = events.sort_values("ts", kind="stable")
    out = _agg(events.groupby(events["ts"].dt.floor(freq).rename("bin")))
    return out.reset_index()


def snapshots(events: pd.DataFrame, bin_freq: str, snap_freq: str) -> pd.DataFrame:
    """At every ``snap_freq`` instant ``s`` in ``(bin, bin_end]`` of
    every bin from the first to the last: the aggregate of the bin's
    rows with ``ts < s`` (null before its first row)."""
    events = events.sort_values("ts", kind="stable")
    day = events["ts"].dt.floor(bin_freq)
    inst = (events["ts"].dt.floor(snap_freq) + pd.Timedelta(snap_freq)).clip(
        upper=day + pd.Timedelta(bin_freq)
    )
    part = _agg(events.groupby([day.rename("bin"), inst.rename("snap")]))
    bins = pd.date_range(day.min(), day.max(), freq=bin_freq)
    per = int(pd.Timedelta(bin_freq) / pd.Timedelta(snap_freq))
    grid = pd.DataFrame(
        {
            "bin": np.repeat(bins, per),
            "snap": np.repeat(bins, per)
            + np.tile(np.arange(1, per + 1), len(bins)) * pd.Timedelta(snap_freq),
        }
    )
    df = grid.merge(part.reset_index(), on=["bin", "snap"], how="left")
    running = {
        "first": lambda s: s.where(s.notna().cumsum() == 1).ffill(),
        "last": lambda s: s.ffill(),
        "min": lambda s: s.cummin().ffill(),
        "max": lambda s: s.cummax().ffill(),
        "sum": lambda s: s.cumsum().ffill(),
    }
    g = df.groupby("bin")
    for out, (_col, f) in AGG.items():
        df[out] = g[out].transform(running[f])
    return df


def row_count_bins(events: pd.DataFrame, n: int, agg: dict) -> pd.DataFrame:
    ev = events.sort_values("ts", ignore_index=True)
    key = pd.Series(np.arange(len(ev)) // n, name="bin")
    g = ev.groupby(key)
    out = g.agg(
        bin_label=("ts", "min"),
        **{o: (c, f) for o, (c, f) in agg.items()},
    )
    return out.reset_index()


# ------------------------------------------------------------ cdc
def cdc_current(changes: pd.DataFrame) -> pd.DataFrame:
    """Latest op per id by ``seq``, deletes removed."""
    last = changes.sort_values("seq").drop_duplicates("id", keep="last")
    return last[~last["deleted"]].drop(columns="deleted").reset_index(drop=True)
