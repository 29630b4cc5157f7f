"""Timestamp flooring/ceiling robust to fixed and non-fixed periods.

Re-expresses the semantics of the reference's ``floor_ts`` /
``ceil_ts`` (reference: ``oups/date_utils.py:13-62``) on Spark
columns: fixed frequencies (``s``/``min``/``h`` and multiples) floor
by epoch arithmetic; non-fixed ones (``D``, ``W``, ``MS``/month,
``YS``/year) use ``date_trunc``.

Period strings accept a pandas-ish subset: ``<n><unit>`` with unit in
``s, min, h, D, W, MS, M, YS, Y`` — multiples are allowed everywhere
(``3MS`` = quarters anchored at Jan 1970, ``2Y`` = biennia).

Fixed frequencies additionally accept ``origin``/``offset`` anchoring
(the pandas ``TimeGrouper`` contract, reference
``oups/aggstream/segmentby.py:211-222``): the grid is shifted so that
``origin + offset`` is an edge — e.g. 4h bins starting at 09:30.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column

_FIXED_SECONDS = {"s": 1, "sec": 1, "min": 60, "m": 60, "h": 3600}
_PERIOD_RE = re.compile(r"^(\d*)\s*([A-Za-z]+)$")
# Monday 1969-12-29 00:00 UTC in epoch µs — the week-grid anchor
# (epoch itself is a Thursday); n=1 coincides with date_trunc('week')
_MONDAY_EPOCH_US = -3 * 86400 * 1_000_000


def unix_us(col: Column) -> Column:
    """Epoch microseconds, tolerant of TIMESTAMP_NTZ inputs (parquet
    isAdjustedToUTC=false columns): NTZ is interpreted as UTC wall
    clock via cast, matching DuckDB's treatment of the same files."""
    return F.unix_micros(col.cast("timestamp"))


def _parse(freq: str) -> tuple[int, str]:
    m = _PERIOD_RE.match(freq.strip())
    if not m:
        raise ValueError(f"unparseable period: {freq!r}")
    n = int(m.group(1)) if m.group(1) else 1
    unit = m.group(2)
    return n, unit


def period_duration(freq: str) -> float:
    """Approximate period length in seconds — exact for fixed freqs,
    a 30/365-day approximation for months/years.  ONLY for sizing
    heuristics (file targets, buffer budgets); every grid/label
    computation must use :func:`floor_ts` / :func:`next_edge` /
    :func:`step_interval_sql`, which are calendar-exact."""
    n, unit = _parse(freq)
    if unit in _FIXED_SECONDS:
        return n * _FIXED_SECONDS[unit]
    approx = {"D": 86400, "W": 7 * 86400, "MS": 30 * 86400, "M": 30 * 86400,
              "YS": 365 * 86400, "Y": 365 * 86400}
    if unit in approx:
        return n * approx[unit]
    raise ValueError(f"unsupported period unit: {unit!r}")


def months_per(freq: str) -> int | None:
    """Number of months per period for calendar frequencies
    (``MS``/``M``/``YS``/``Y`` and multiples), else ``None``."""
    n, unit = _parse(freq)
    if unit in ("MS", "M"):
        return n
    if unit in ("YS", "Y"):
        return n * 12
    return None


def anchor_us(origin=None, offset=None) -> int:
    """Grid anchor in epoch microseconds: ``origin + offset`` (both
    optional; origin defaults to the epoch). Accepts anything
    ``pd.Timestamp`` / ``pd.Timedelta`` accept."""
    import pandas as pd

    a = 0
    if origin is not None:
        a = int(pd.Timestamp(origin).value // 1000)
    if offset is not None:
        a += int(pd.Timedelta(offset).value // 1000)
    return a


def floor_ts_scalar(ts, freq: str, *, origin=None, offset=None):
    """Driver-side twin of :func:`floor_ts` — same epoch anchoring for
    fixed freqs, same calendar anchoring for D/W/MS/YS. ``ts`` is one
    timestamp (returns a ``pd.Timestamp``) or an array of naive UTC
    timestamps (returns ``datetime64[us]``)."""
    import numpy as np
    import pandas as pd

    n, unit = _parse(freq)
    anchored = origin is not None or offset is not None
    if anchored and not is_fixed_freq(freq):
        raise ValueError("origin/offset anchoring requires a fixed frequency")
    scalar = np.ndim(ts) == 0
    us = (
        np.array([pd.Timestamp(ts).value // 1000])
        if scalar
        else np.asarray(ts, dtype="datetime64[us]").view("int64")
    )
    if unit in ("MS", "M", "YS", "Y"):
        mper = months_per(freq)
        m = us.view("datetime64[us]").astype("datetime64[M]").view("int64")
        out = (m - m % mper).view("datetime64[M]").astype("datetime64[us]")
    elif unit in _FIXED_SECONDS or unit in ("D", "W"):
        # D is epoch-anchored like the fixed units (date_trunc('day')
        # in UTC at n=1); W is anchored at the epoch Monday
        # (date_trunc('week') at n=1); origin/offset move either anchor
        step = int(period_duration(freq) * 1_000_000)  # exact: fixed units
        if anchored:
            a = anchor_us(origin, offset)
        else:
            a = _MONDAY_EPOCH_US if unit == "W" else 0
        rel = us - a
        out = (rel - rel % step + a).view("datetime64[us]")
    else:
        raise ValueError(f"unsupported period unit: {unit!r}")
    return pd.Timestamp(out[0]) if scalar else out


def next_edge_us(us, freq: str, k=1):
    """Driver-side twin of :func:`next_edge` over epoch microseconds:
    the grid point ``k`` periods after each on-grid value (``k`` may be
    an array) — calendar-exact for month/year units."""
    import numpy as np

    mper = months_per(freq)
    if mper is None:
        return us + k * int(period_duration(freq) * 1_000_000)
    m = np.asarray(us).view("datetime64[us]").astype("datetime64[M]").view("int64")
    return (m + k * mper).view("datetime64[M]").astype("datetime64[us]").view("int64")


def is_fixed_freq(freq: str) -> bool:
    """True when every period of ``freq`` has the same physical
    duration (UTC, no DST): s/min/h multiples, D, W.  Months and
    years are calendar periods — arithmetic on them must go through
    ``add_months``, never a seconds constant."""
    _n, unit = _parse(freq)
    return unit in _FIXED_SECONDS or unit in ("D", "W")


def step_interval_sql(freq: str) -> str:
    """SQL interval literal advancing one ``freq`` period — the step
    for ``F.sequence`` calendar generation, calendar-exact for
    month/year units."""
    n, unit = _parse(freq)
    if unit in _FIXED_SECONDS:
        return f"INTERVAL {n * _FIXED_SECONDS[unit] * 1_000_000} MICROSECOND"
    if unit == "D":
        return f"INTERVAL {n * 86400 * 1_000_000} MICROSECOND"
    if unit == "W":
        return f"INTERVAL {n * 7 * 86400 * 1_000_000} MICROSECOND"
    if unit in ("MS", "M"):
        return f"INTERVAL '{n}' MONTH"
    if unit in ("YS", "Y"):
        return f"INTERVAL '{n * 12}' MONTH"
    raise ValueError(f"unsupported period unit: {unit!r}")


def floor_ts(col: Column, freq: str, *, origin=None, offset=None) -> Column:
    """Floor a timestamp column to the period grid (epoch-anchored for
    fixed frequencies, calendar-anchored for D/W/MS/YS, multi-period
    months/years anchored at Jan 1970 — ``3MS`` gives standard
    quarters). ``origin``/``offset`` shift the grid of FIXED
    frequencies so ``origin + offset`` is an edge (pandas
    ``TimeGrouper`` anchoring; reference ``segmentby.py:211-222``).

    ``pmod`` (not ``%``, which follows the dividend's sign) keeps the
    floor exact for pre-anchor timestamps."""
    n, unit = _parse(freq)
    anchored = origin is not None or offset is not None
    if anchored and not is_fixed_freq(freq):
        raise ValueError("origin/offset anchoring requires a fixed frequency")
    if unit in _FIXED_SECONDS or (anchored and unit in ("D", "W")):
        secs = n * (
            _FIXED_SECONDS.get(unit) or 86400 * (7 if unit == "W" else 1)
        )
        micros = F.lit(secs * 1_000_000)
        a = anchor_us(origin, offset)
        t = unix_us(col) - F.lit(a)
        return F.timestamp_micros(t - F.pmod(t, micros) + F.lit(a))
    if unit == "D":
        if n == 1:
            return F.date_trunc("day", col)
        t = unix_us(col)
        micros = F.lit(n * 86400 * 1_000_000)
        return F.timestamp_micros(t - F.pmod(t, micros))
    if unit == "W":
        if n == 1:
            return F.date_trunc("week", col)
        # n-week grid anchored at the Monday preceding the epoch
        # (1969-12-29) — n=1 coincides with date_trunc('week')
        t = unix_us(col) - F.lit(_MONDAY_EPOCH_US)
        micros = F.lit(n * 7 * 86400 * 1_000_000)
        return F.timestamp_micros(
            t - F.pmod(t, micros) + F.lit(_MONDAY_EPOCH_US)
        )
    if unit in ("MS", "M", "YS", "Y"):
        mper = months_per(freq)
        if mper == 1:
            return F.date_trunc("month", col)
        if mper == 12:
            return F.date_trunc("year", col)
        m = (F.year(col) - F.lit(1970)) * 12 + F.month(col) - 1
        fm = (m - F.pmod(m, F.lit(mper))).cast("int")
        return F.to_timestamp(
            F.add_months(F.lit("1970-01-01").cast("date"), fm)
        )
    raise ValueError(f"unsupported period unit: {unit!r}")


def ceil_ts(col: Column, freq: str, *, origin=None, offset=None) -> Column:
    """Ceiling: the next grid point strictly above unless already on
    the grid (on-grid values are returned unchanged, matching the
    reference's ceil semantics, ``oups/date_utils.py:38-62``)."""
    floored = floor_ts(col, freq, origin=origin, offset=offset)
    return F.when(floored == col, col).otherwise(next_edge(floored, freq))


def next_edge(on_grid: Column, freq: str) -> Column:
    """The grid point one ``freq`` period after an on-grid timestamp —
    calendar-exact for month/year units (``add_months``), epoch
    arithmetic for fixed ones."""
    n, unit = _parse(freq)
    if unit in _FIXED_SECONDS:
        secs = n * _FIXED_SECONDS[unit]
        return F.timestamp_micros(unix_us(on_grid) + secs * 1_000_000)
    if unit == "D":
        return F.timestamp_micros(unix_us(on_grid) + n * 86400 * 1_000_000)
    if unit == "W":
        return F.timestamp_micros(unix_us(on_grid) + n * 7 * 86400 * 1_000_000)
    if unit in ("MS", "M"):
        return F.to_timestamp(F.add_months(on_grid.cast("date"), n))
    if unit in ("YS", "Y"):
        return F.to_timestamp(F.add_months(on_grid.cast("date"), n * 12))
    raise ValueError(f"unsupported period unit: {unit!r}")


_next_edge = next_edge  # backward-compat alias
