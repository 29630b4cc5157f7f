"""DNF (disjunctive-normal-form) filters.

Same filter language as the reference's ``dataframe_filter``
(reference: ``oups/aggstream/utils.py:16-71``): a filter is a list of
AND-groups, OR-ed together; each term is ``(column, op, value)`` with
ops ``== = != > >= < <= in not-in ~`` (``~`` = boolean NOT of the
column). This is also exactly the shape of parquet pushdown
predicates, so expressing it as Spark ``Column`` logic keeps the
whole thing pushable into the scan.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

_OPS = {
    "==": lambda c, v: c == v,
    "=": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    "in": lambda c, v: c.isin(list(v)),
    "not-in": lambda c, v: ~c.isin(list(v)),
    "~": lambda c, v: ~c,
}


def dnf_term(col: str, op: str, value) -> Column:
    if op not in _OPS:
        raise ValueError(f"unknown filter op {op!r}; valid: {sorted(_OPS)}")
    return _OPS[op](F.col(col), value)


def _dnf(filters, term):
    """OR of AND-groups of ``term(*t)`` (a flat list of tuples is one
    AND-group)."""
    if filters and isinstance(filters[0], tuple):
        filters = [filters]
    return reduce(or_, [reduce(and_, [term(*t) for t in group]) for group in filters])


def dnf_condition(filters: list[list[tuple]] | list[tuple]) -> Column:
    """Build a Column from DNF filters.

    ``[[("a", ">", 1), ("b", "==", "x")], [("c", "in", [1, 2])]]``
    means ``(a > 1 AND b = 'x') OR c IN (1, 2)``. A flat list of
    tuples is treated as one AND-group.
    """
    return _dnf(filters, dnf_term)


def dnf_expression(filters: list[list[tuple]] | list[tuple], schema):
    """The pyarrow twin of :func:`dnf_condition` for a table of Arrow
    ``schema``: the op table over ``pc.field``. As in SQL, a term on a
    NULL drops the row and a ``not-in`` list holding None keeps none;
    a datetime value is the instant ``F.lit`` makes of it (a naive one
    in the process's local zone, ``TimestampType.toInternal``)."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import TimestampType

    def instant(v):
        return TimestampType().toInternal(v) if isinstance(v, datetime.datetime) else v

    def term(col: str, op: str, value):
        if op not in _OPS:
            raise ValueError(f"unknown filter op {op!r}; valid: {sorted(_OPS)}")
        if op == "not-in" and None in list(value):
            return pc.scalar(False)
        typ = schema.field(col).type
        if pa.types.is_timestamp(typ) and op != "~":
            many = op in ("in", "not-in")
            vals = pa.array([instant(v) for v in (value if many else [value])]).cast(typ)
            value = vals if many else vals[0]
        c = pc.field(col)
        return _OPS[op](c, value) & c.is_valid()

    return _dnf(filters, term)


def dnf_filter(df: DataFrame, filters: list[list[tuple]] | list[tuple] | None) -> DataFrame:
    """Apply DNF filters (None / empty -> unchanged)."""
    if not filters:
        return df
    return df.filter(dnf_condition(filters))


def dnf_file_can_match(
    col_stats: dict | None,
    filters: list[list[tuple]] | list[tuple] | None,
    blooms: dict | None = None,
) -> bool:
    """Data-skipping predicate: can a file whose per-column [min, max]
    stats are ``col_stats`` contain ANY row satisfying the DNF
    filter? Conservative — ``True`` whenever the stats cannot PROVE
    emptiness (unknown column, unknown op, no stats).

    A file is skippable iff EVERY or-group has at least one conjunct
    the stats disprove. This is the same footer-stats argument
    Spark's parquet reader applies per row group, lifted to manifest
    granularity so pruning happens before any scan task is planned —
    the Delta/Iceberg file-skipping model.

    ``blooms``: optional per-column Bloom filters of the same file
    (``FileEntry.blooms``) — equality and IN conjuncts are also
    disproved when the bloom proves every probed value absent, which
    prunes point lookups on clustered-but-unordered columns that
    [min, max] can never prune (see ``store/bloom.py``).
    """
    if not filters:
        return True
    if filters and isinstance(filters[0], tuple):
        filters = [filters]
    if not col_stats and not blooms:
        return True
    col_stats = col_stats or {}

    def disproved(col: str, op: str, value) -> bool:
        if blooms is not None:
            from oups_spark.store.bloom import blooms_disprove_term

            if blooms_disprove_term(blooms, col, op, value):
                return True
        st = col_stats.get(col)
        if st is None:
            return False
        lo, hi = st
        if lo is None or hi is None:
            return False
        # NaN safety (PARQUET-1246): parquet footer min/max EXCLUDE
        # NaN, but Spark orders NaN above every double, so a float
        # file whose non-NaN max is below a '>' / '>=' threshold can
        # still hold NaN rows the row-level filter would return.
        # Only those two ops are affected: NaN never satisfies
        # < / <= / == / IN against non-NaN values, and an == NaN /
        # IN(NaN) probe falls through (NaN comparisons are False),
        # keeping the file. Mirrors Delta's NaN-aware skipping.
        is_float = (
            isinstance(lo, float)
            or isinstance(hi, float)
            or isinstance(value, float)
        )
        try:
            if op in ("==", "="):
                return value < lo or value > hi
            if op == ">":
                return False if is_float else hi <= value
            if op == ">=":
                return False if is_float else hi < value
            if op == "<":
                return lo >= value
            if op == "<=":
                return lo > value
            if op == "in":
                return all(v < lo or v > hi for v in value)
        except TypeError:  # incomparable types -> cannot prune
            return False
        return False  # !=, not-in, ~ : never file-provable

    return any(
        not any(disproved(*term) for term in group) for group in filters
    )
