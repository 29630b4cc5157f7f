"""Mergeable distinct-count sketches (HyperLogLog) as pure Catalyst
expressions.

At 100 TB "how many distinct tokens / urls / docs per source" cannot
afford ``count(distinct x)``: the exact plan shuffles every distinct
value. A HyperLogLog register table is the classic fix — each scan
partition folds its rows into ``m`` one-byte registers (map-side
``max``), the shuffle moves at most ``m`` rows per group, and register
tables from independent slices merge by elementwise max (so sketches
can be persisted per ingest batch and unioned later without rescanning
history).

Spark ships an opaque HLL (``approx_count_distinct``) but its sketch
is not portable across engines, which matters here twice: the driver
hash-compares results against DuckDB, and a production lakehouse wants
sketch bytes that any engine can merge. This implementation therefore
derives everything from ``md5`` — available and bit-identical in Spark
and DuckDB — and keeps all arithmetic either integral or dyadic
(``sum(2^-M_j)`` over ``m ≤ 4096`` registers with ``rho ≤ 25`` needs
< 38 mantissa bits, so the fold is EXACT in a double regardless of
summation order — cross-engine hash-stable without rounding tricks).

Hash layout per item: ``h = int(md5(item)[:8], 16)`` (32 bits);
register ``j = h % m``; remainder ``w = h // m`` (``32 - p`` bits);
``rho = (32 - p) - bitlen(w) + 1`` leading-zero rank (``w = 0`` →
``rho = 32 - p + 1``). Estimator is Flajolet et al. 2007: raw
``alpha_m * m^2 / S`` with the small-range linear-counting correction
``m * ln(m / V)`` when ``E <= 2.5 m`` and empty registers remain.

Reference semantics anchor: the reference engine has no sketch layer
(oups/store scans are exact); this module is part of the
beyond-reference LLM-pipeline surface, next to the dedup/selection
operators.
"""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    if m == 64:
        return 0.709
    if m == 32:
        return 0.697
    return 0.673


def hll_rho(item: Column, p: int) -> tuple[Column, Column]:
    """(register j, rank rho) for one item under precision ``p``.

    JVM-only: md5 → conv(hex→dec) → integer div/mod → bin-length.
    ``conv`` returns a string; the cast back to long is exact for
    32-bit inputs. DuckDB twin of the hash:
    ``CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)`` and of the
    bit length: ``length(format('{:b}', w))``.
    """
    m = 1 << p
    wbits = 32 - p
    h = F.conv(F.substring(F.md5(item), 1, 8), 16, 10).cast("long")
    j = (h % m).cast("int")
    w = (h / m).cast("long")  # floor div: h >= 0
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    return j, rho.cast("int")


def hll_register_table(
    df: DataFrame,
    item: Column | str,
    group_cols: list[str] | None = None,
    p: int = 8,
) -> DataFrame:
    """Fold items into an HLL register table: one row per
    ``(*group_cols, register j)`` with the max rank ``M_j``.

    This is the mergeable, persistable form — the shuffle after the
    map-side partial ``max`` carries at most ``m`` rows per group no
    matter how many items the scan saw, and two register tables for
    the same groups merge with ``union → groupBy → max(M)``.
    """
    group_cols = list(group_cols or [])
    j, rho = hll_rho(F.col(item) if isinstance(item, str) else item, p)
    return (
        df.select(*group_cols, j.alias("j"), rho.alias("rho"))
        .groupBy(*group_cols, "j")
        .agg(F.max("rho").alias("M"))
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str] | None = None,
    p: int = 8,
    decimals: int = 4,
) -> DataFrame:
    """Distinct-count estimate per group from a register table.

    ``S = sum(2^-M_j) + V`` (each of the ``V`` never-hit registers
    contributes ``2^0 = 1``); raw estimate ``alpha_m m^2 / S``;
    linear counting ``m ln(m / V)`` when ``E <= 2.5 m`` and
    ``V > 0``. All terms of ``S`` are dyadic rationals with denominator
    ``2^(33-p)`` and the sum stays under ``2^p``, so ``S`` is exact in
    a double in ANY summation order — the only libm call is the
    small-range ``ln``, and both engines round the final estimate to
    ``decimals``.
    """
    group_cols = list(group_cols or [])
    m = 1 << p
    # 2^-M via an integer shift, not pow(): exact by construction on
    # both engines (M <= 33 - p fits an int shift).
    folded = registers.groupBy(*group_cols).agg(
        F.sum(F.lit(1.0) / F.expr("shiftleft(1, M)")).alias("s_used"),
        F.count(F.lit(1)).alias("n_used"),
    )
    v = F.lit(m) - F.col("n_used")
    s = F.col("s_used") + v.cast("double")
    raw = F.lit(_alpha(m) * m * m) / s
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return folded.select(
        *group_cols, F.round(est, decimals).alias("approx_distinct")
    )


def hll_distinct(
    df: DataFrame,
    item: Column | str,
    group_cols: list[str] | None = None,
    p: int = 8,
    decimals: int = 4,
) -> DataFrame:
    """One-shot grouped approximate distinct count (register fold +
    estimate). Standard error ≈ ``1.04 / sqrt(2^p)`` (p=8 → 6.5%)."""
    return hll_estimate(
        hll_register_table(df, item, group_cols, p),
        group_cols,
        p,
        decimals,
    )


def hll_oracle_sql(
    source_cte: str,
    item_expr: str,
    group_cols: list[str],
    p: int = 8,
    decimals: int = 4,
) -> str:
    """DuckDB replay of :func:`hll_distinct` over ``source_cte``
    (a CTE body named ``items`` exposing ``item_expr`` and the group
    columns). Bit-for-bit the same sketch: same md5 slice, same
    register split, same exact dyadic fold, same estimator branches.
    """
    m = 1 << p
    wbits = 32 - p
    alpha = _alpha(m)
    gsel = ", ".join(group_cols)
    gpre = gsel + ", " if gsel else ""
    return f"""
    WITH items AS ({source_cte}),
    hashed AS (
      SELECT {gpre}
             CAST(('0x' || substr(md5({item_expr}), 1, 8)) AS BIGINT) AS h
      FROM items),
    regs AS (
      SELECT {gpre} CAST(h % {m} AS INT) AS j,
             max(CASE WHEN h // {m} = 0 THEN {wbits + 1}
                 ELSE {wbits + 1} - length(format('{{:b}}', h // {m}))
                 END) AS M
      FROM hashed GROUP BY {gpre} j),
    folded AS (
      SELECT {gpre} sum(1.0 / (1 << M)) AS s_used, count(*) AS n_used
      FROM regs GROUP BY {gsel if gsel else "()"}),
    est AS (
      SELECT {gpre}
             CASE WHEN (CAST({alpha!r} AS DOUBLE) * {m} * {m})
                       / (s_used + ({m} - n_used)) <= {2.5 * m}
                       AND {m} - n_used > 0
                  THEN CAST({m} AS DOUBLE)
                       * ln(CAST({m} AS DOUBLE) / ({m} - n_used))
                  ELSE (CAST({alpha!r} AS DOUBLE) * {m} * {m})
                       / (s_used + ({m} - n_used))
             END AS e
      FROM folded)
    SELECT {gpre} round(e, {decimals}) AS approx_distinct FROM est
    ORDER BY {gsel if gsel else "1"}
    """


# --------------------------------------------------------- count-min


def countmin_register_table(
    df: DataFrame,
    item: Column | str,
    group_cols: list[str] | None = None,
    *,
    depth: int = 4,
    width: int = 1024,
    weight: Column | None = None,
) -> DataFrame:
    """Count-Min register table: one row per ``(*group_cols, row i,
    bucket b)`` with the summed count. The frequency twin of the HLL
    register table — after the map-side partial sum the shuffle
    carries at most ``depth * width`` rows per group, the table is
    mergeable by elementwise ``sum``, and a persisted table answers
    point frequency queries over history without rescanning it.

    Bucket for row ``i``: ``int(md5(i || ':' || item)[:8], 16) %
    width`` — engine-portable, replayed verbatim by
    :func:`countmin_oracle_sql`. Counters are exact integer sums, so
    cross-engine comparison is hash-stable with no rounding.
    """
    group_cols = list(group_cols or [])
    c = F.col(item) if isinstance(item, str) else item
    w = weight if weight is not None else F.lit(1).cast("long")
    rows = df.select(
        *group_cols,
        c.alias("__it"),
        w.alias("__w"),
        F.explode(
            F.array(*[F.lit(i) for i in range(depth)])
        ).alias("i"),
    )
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("i"), F.col("__it"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % width
    ).cast("int")
    return (
        rows.select(*group_cols, "i", b.alias("b"), "__w")
        .groupBy(*group_cols, "i", "b")
        .agg(F.sum("__w").alias("c"))
    )


def countmin_estimate(
    registers: DataFrame,
    candidates: DataFrame,
    item_col: str,
    group_cols: list[str] | None = None,
    *,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-frequency estimates: for each candidate item, the min
    over the ``depth`` counters its hashes land in (the classic CM
    upper bound — never an undercount). ``registers`` is broadcast
    when small (≤ depth×width rows per group makes it a natural
    broadcast side); candidates stream map-side through the join.

    ``group_cols`` must name the SAME grouping the register table was
    built with (:func:`countmin_register_table`'s ``group_cols``) and
    the candidate table must carry those columns: the probe joins on
    ``group_cols + [i, b]``, so a grouped register table never sums
    counters across groups. When ``group_cols`` is empty, the register
    schema is required to be exactly ``(i, b, c)`` — probing a grouped
    table ungrouped would silently inflate every estimate.
    """
    group_cols = list(group_cols or [])
    extra = set(registers.columns) - {"i", "b", "c"} - set(group_cols)
    if extra:
        raise ValueError(
            "register table carries grouping columns not named in "
            f"group_cols: {sorted(extra)} — probing would sum "
            "counters across groups"
        )
    cand = candidates.select(
        *group_cols, F.col(item_col).alias("__it")
    ).distinct()
    cand = cand.select(
        *group_cols,
        "__it",
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("i"),
    )
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("i"), F.col("__it"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % width
    ).cast("int")
    cand = cand.select(*group_cols, "__it", "i", b.alias("b"))
    joined = cand.join(
        F.broadcast(registers), group_cols + ["i", "b"], "left"
    ).na.fill({"c": 0})
    return (
        joined.groupBy(*group_cols, "__it")
        .agg(F.min("c").alias("cm_count"))
        .withColumnRenamed("__it", item_col)
    )


def countmin_oracle_sql(
    source_cte: str,
    item_expr: str,
    *,
    depth: int = 4,
    width: int = 1024,
    top_k: int | None = None,
) -> str:
    """DuckDB replay of register build + estimation over the SAME
    items used as their own candidate set; ``top_k`` adds the
    heavy-hitter cut (count desc, item asc)."""
    tail = (
        f"ORDER BY cm_count DESC, tok LIMIT {top_k}"
        if top_k
        else "ORDER BY tok"
    )
    return f"""
    WITH items AS ({source_cte}),
    rows_ AS (
      SELECT {item_expr} AS it, i
      FROM items, LATERAL unnest(range(0, {depth})) AS t(i)),
    regs AS (
      SELECT i,
             CAST(CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || it), 1, 8))
                  AS BIGINT) % {width} AS INT) AS b,
             count(*) AS c
      FROM rows_ GROUP BY i, b),
    cand AS (
      SELECT DISTINCT {item_expr} AS it FROM items),
    lookups AS (
      SELECT c2.it, r.c
      FROM (SELECT it, i,
                   CAST(CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || it), 1, 8))
                        AS BIGINT) % {width} AS INT) AS b
            FROM cand, LATERAL unnest(range(0, {depth})) AS t(i)) c2
      LEFT JOIN regs r USING (i, b)),
    est AS (
      SELECT it AS tok, min(coalesce(c, 0)) AS cm_count
      FROM lookups GROUP BY it)
    SELECT tok, cm_count FROM est {tail}
    """


# ------------------------------------------------- histogram quantile


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: list[float],
    group_cols: list[str] | None = None,
    *,
    n_bins: int = 128,
    decimals: int = 6,
) -> DataFrame:
    """Approximate grouped quantiles from a fixed-grid histogram —
    the sortless scale path next to the exact ``percentile`` query:
    one bounds agg + one bucket-count agg (both map-side partial), a
    shuffle bounded by ``n_bins`` rows per group, and bucket counts
    that merge across batches by elementwise sum. Error is bounded by
    the bucket width ``(max-min)/n_bins``.

    Estimator: continuous rank ``r = q * (n - 1)`` (0-based, matching
    ``quantile_cont``'s rank definition) falls in the bucket where the
    running count first exceeds it; the value interpolates linearly
    inside that bucket by the rank's position between the bucket's
    cumulative bounds. Every step is IEEE ``-``/``/``/``*``/``floor``
    on both engines, so results are hash-exact against the DuckDB
    replay after rounding.
    """
    group_cols = list(group_cols or [])
    v = F.col(value_col).cast("double")
    # NULL values must not reach the bucketing: they would land in a
    # NULL bucket that Spark's ASC window default (NULLS FIRST) sorts
    # BEFORE bucket 0, inflating every cumulative count — while __n
    # (count(v)) already excludes them, so the rank math assumes they
    # are absent. Filter up front; the oracle mirrors this with an
    # IS NOT NULL in its bucketing CTE.
    df = df.where(v.isNotNull())
    bounds = df.groupBy(*group_cols).agg(
        F.min(v).alias("__lo"),
        F.max(v).alias("__hi"),
        F.count(v).alias("__n"),
    )
    joined = (
        df.join(F.broadcast(bounds), group_cols)
        if group_cols
        else df.crossJoin(F.broadcast(bounds))
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    b = F.least(
        F.floor((v - F.col("__lo")) / width).cast("int"),
        F.lit(n_bins - 1),
    )
    # degenerate group (all values equal): width 0 -> bucket 0
    b = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(b)
    counts = (
        joined.select(*group_cols, "__lo", "__hi", "__n", b.alias("b"))
        .groupBy(*group_cols, "__lo", "__hi", "__n", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy(*(group_cols or [F.lit(1)])).orderBy("b")
    cum = counts.withColumn("cum", F.sum("c").over(w)).withColumn(
        "cum_prev", F.col("cum") - F.col("c")
    )
    out = []
    for q in quantiles:
        r = F.lit(q) * (F.col("__n") - 1).cast("double")
        # the target bucket: first with cum > r (cum_prev <= r < cum)
        hit = cum.where(
            (F.col("cum_prev").cast("double") <= r)
            & (r < F.col("cum").cast("double"))
        )
        width_ = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
        frac = (r - F.col("cum_prev").cast("double")) / F.col("c").cast(
            "double"
        )
        val = F.when(
            F.col("__hi") == F.col("__lo"), F.col("__lo")
        ).otherwise(
            F.col("__lo") + width_ * (F.col("b").cast("double") + frac)
        )
        out.append(
            hit.select(
                *group_cols,
                F.lit(q).alias("q"),
                F.round(val, decimals).alias("approx_value"),
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


def histogram_quantile_oracle_sql(
    source_cte: str,
    value_expr: str,
    quantiles: list[float],
    group_cols: list[str],
    *,
    n_bins: int = 128,
    decimals: int = 6,
) -> str:
    """DuckDB replay of :func:`histogram_quantiles`: same grid, same
    bucket assignment, same rank interpolation, same rounding."""
    gsel = ", ".join(group_cols)
    gpre = gsel + ", " if gsel else ""
    gby = gsel if gsel else "()"
    qvals = ", ".join(f"({q!r})" for q in quantiles)
    part = f"PARTITION BY {gsel} " if gsel else ""
    join_on = f"USING ({gsel})" if gsel else "ON true"
    return f"""
    WITH items AS ({source_cte}),
    bounds AS (
      SELECT {gpre} min(CAST({value_expr} AS DOUBLE)) AS lo,
             max(CAST({value_expr} AS DOUBLE)) AS hi,
             count({value_expr}) AS n
      FROM items GROUP BY {gby}),
    bucketed AS (
      SELECT {gpre}
             lo, hi, n,
             CASE WHEN hi = lo THEN 0
                  ELSE least(CAST(floor((CAST({value_expr} AS DOUBLE) - lo)
                       / ((hi - lo) / CAST({n_bins} AS DOUBLE))) AS INT),
                       {n_bins - 1})
             END AS b
      FROM items JOIN bounds {join_on}
      WHERE {value_expr} IS NOT NULL),
    counts AS (
      SELECT {gpre} lo, hi, n, b, count(*) AS c
      FROM bucketed GROUP BY {gpre} lo, hi, n, b),
    cum AS (
      SELECT *, sum(c) OVER ({part}ORDER BY b) AS cum,
             sum(c) OVER ({part}ORDER BY b) - c AS cum_prev
      FROM counts),
    qs(q) AS (VALUES {qvals})
    SELECT {gpre} CAST(q AS DOUBLE) AS q,
           round(CASE WHEN hi = lo THEN lo
                 ELSE lo + ((hi - lo) / CAST({n_bins} AS DOUBLE))
                      * (CAST(b AS DOUBLE)
                         + (CAST(q AS DOUBLE) * (n - 1) - cum_prev) / c)
                 END, {decimals}) AS approx_value
    FROM cum, qs
    WHERE CAST(cum_prev AS DOUBLE) <= CAST(q AS DOUBLE) * (n - 1)
      AND CAST(q AS DOUBLE) * (n - 1) < CAST(cum AS DOUBLE)
    ORDER BY {gpre} q
    """


# ------------------------------------------------------- bloom filter


def bloom_word_table(
    df: DataFrame,
    item: Column | str,
    *,
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom filter as a word table: rows ``(w, bits)`` where ``bits``
    ORs together the filter bits falling in 32-bit word ``w`` (words
    stored in BIGINT so the shift never overflows on either engine —
    DuckDB raises on ``1 << 63``). The membership twin of the other
    sketch register tables: ≤ ``m_bits/32`` rows after the map-side
    partial ``bit_or``, mergeable across batches by elementwise OR,
    and small enough to broadcast for map-side probing.

    Bit positions for hash ``i``: ``int(md5(i || ':' || item)[:8], 16)
    % m_bits`` — same portable derivation as Count-Min's buckets.
    """
    c = F.col(item) if isinstance(item, str) else item
    rows = df.select(
        c.alias("__it"),
        F.explode(F.array(*[F.lit(i) for i in range(k_hashes)])).alias("i"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("i"), F.col("__it"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % m_bits
    )
    # Python F.shiftleft takes an int literal, so the variable shift
    # goes through the SQL function (column-typed there)
    return (
        rows.select(
            (h / 32).cast("int").alias("w"),
            (h % 32).cast("int").alias("__b"),
        )
        .select(
            "w",
            F.expr("shiftleft(CAST(1 AS BIGINT), __b)").alias("__bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("__bit").alias("bits"))
    )


def bloom_probe(
    words: DataFrame,
    candidates: DataFrame,
    item_col: str,
    carry_cols: list[str] | None = None,
    *,
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
) -> DataFrame:
    """Membership probe: an item tests positive iff ALL ``k_hashes``
    of its bits are set (no false negatives; false-positive rate
    ``(1 - e^{-kn/m})^k``). The word table broadcasts; candidates
    stream map-side. Returns ``(*carry_cols, item_col, bloom_hit)``
    — one row per distinct ``(*carry_cols, item)``."""
    carry = list(carry_cols or [])
    cand = candidates.select(
        *carry, F.col(item_col).alias("__it")
    ).distinct()
    cand = cand.select(
        *carry,
        "__it",
        F.explode(F.array(*[F.lit(i) for i in range(k_hashes)])).alias("i"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("i"), F.col("__it"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % m_bits
    )
    probes = cand.select(
        *carry,
        "__it",
        (h / 32).cast("int").alias("w"),
        (h % 32).cast("int").alias("__b"),
    ).select(
        *carry,
        "__it",
        "w",
        F.expr("shiftleft(CAST(1 AS BIGINT), __b)").alias("__bit"),
    )
    joined = probes.join(F.broadcast(words), ["w"], "left")
    hit = (F.col("bits").isNotNull()) & (
        F.col("bits").bitwiseAND(F.col("__bit")) != 0
    )
    return (
        joined.groupBy(*carry, "__it")
        .agg((F.count(F.lit(1)) == F.sum(hit.cast("int"))).alias("bloom_hit"))
        .withColumnRenamed("__it", item_col)
    )


def bloom_oracle_cte(
    build_cte: str,
    probe_cte: str,
    *,
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
) -> str:
    """CTE chain replaying build + probe: ``build`` / ``probe`` are
    CTE bodies exposing an ``it`` column; the chain ends in
    ``bloomed(it, bloom_hit)`` for the caller's final SELECT."""
    pos = (
        "CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || it), 1, 8)) "
        f"AS BIGINT) % {m_bits}"
    )
    return f"""
    bf_build AS ({build_cte}),
    bf_probe AS ({probe_cte}),
    bf_words AS (
      SELECT CAST(h // 32 AS INT) AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INT)) AS bits
      FROM (SELECT {pos} AS h
            FROM bf_build, LATERAL unnest(range(0, {k_hashes})) AS t(i))
      GROUP BY w),
    bf_lookups AS (
      SELECT p.it, wt.bits, p.bit
      FROM (SELECT it, CAST(h // 32 AS INT) AS w,
                   CAST(1 AS BIGINT) << CAST(h % 32 AS INT) AS bit
            FROM (SELECT DISTINCT it FROM bf_probe) d,
                 LATERAL unnest(range(0, {k_hashes})) AS t(i),
                 LATERAL (SELECT {pos} AS h) hh) p
      LEFT JOIN bf_words wt USING (w)),
    bloomed AS (
      SELECT it,
             count(*) = sum(CASE WHEN bits IS NOT NULL
                                  AND (bits & bit) != 0
                            THEN 1 ELSE 0 END) AS bloom_hit
      FROM bf_lookups GROUP BY it)
    """


def hll_pairwise_overlap(
    registers: DataFrame,
    group_col: str,
    p: int = 8,
    decimals: int = 4,
) -> DataFrame:
    """Pairwise distinct-overlap estimates between groups, computed
    from the register table ALONE — sketch algebra, no rescan of the
    items: the union sketch of two groups is the elementwise max of
    their registers, and inclusion–exclusion gives the intersection
    (``|A∩B| ≈ E_A + E_B − E_{A∪B}``, the standard HLL overlap
    estimator; its relative error grows as the true intersection
    shrinks vs the union — a caveat, not a scale problem).

    One self-free pass: every register row fans out to the pairs its
    group participates in (groups × groups join on a tiny distinct
    list), then the per-pair max-merge and estimate run exactly like
    any other sketch fold. With G groups and m registers the working
    set is ``G² m / 2`` rows — registers, not items.

    M=0 padding note: a register row with ``M = 0`` contributes
    ``2^0 = 1`` to the harmonic sum — identical to the term an absent
    register adds via the ``V`` correction — so the estimator is
    invariant to whether empty registers are materialized.
    """
    a = registers.select(
        F.col(group_col).alias("ga"), F.col("j"), F.col("M").alias("Ma")
    )
    b = registers.select(
        F.col(group_col).alias("gb"), F.col("j"), F.col("M").alias("Mb")
    )
    pairs = (
        a.select("ga")
        .distinct()
        .crossJoin(b.select("gb").distinct())
        .where(F.col("ga") < F.col("gb"))
    )
    # union registers per pair: rows from either side, max-merged
    ua = pairs.join(a, "ga").select("ga", "gb", "j", F.col("Ma").alias("M"))
    ub = pairs.join(b, "gb").select("ga", "gb", "j", F.col("Mb").alias("M"))
    union_regs = (
        ua.unionByName(ub).groupBy("ga", "gb", "j").agg(F.max("M").alias("M"))
    )
    e_union = hll_estimate(union_regs, ["ga", "gb"], p, decimals=10).select(
        "ga", "gb", F.col("approx_distinct").alias("e_u")
    )
    singles = hll_estimate(registers, [group_col], p, decimals=10)
    e_a = singles.select(
        F.col(group_col).alias("ga"), F.col("approx_distinct").alias("e_a")
    )
    e_b = singles.select(
        F.col(group_col).alias("gb"), F.col("approx_distinct").alias("e_b")
    )
    return (
        e_union.join(F.broadcast(e_a), "ga")
        .join(F.broadcast(e_b), "gb")
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            F.round(F.col("e_u"), decimals).alias("approx_union"),
            F.round(
                F.col("e_a") + F.col("e_b") - F.col("e_u"), decimals
            ).alias("approx_intersection"),
        )
    )


def hll_overlap_oracle_sql(
    source_cte: str,
    item_expr: str,
    group_col: str,
    p: int = 8,
    decimals: int = 4,
) -> str:
    """DuckDB replay of :func:`hll_pairwise_overlap` over a fresh
    sketch of ``source_cte`` — same registers, same per-pair
    max-merge, same estimator with the same intermediate rounding
    (10 decimals before the inclusion–exclusion, ``decimals`` after,
    mirroring the Spark plan exactly)."""
    m = 1 << p
    wbits = 32 - p
    alpha = _alpha(m)

    def est(expr_s, expr_n):
        a = f"CAST({alpha!r} AS DOUBLE) * {m} * {m}"
        raw = f"({a}) / ({expr_s} + ({m} - {expr_n}))"
        lin = f"CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / ({m} - {expr_n}))"
        return (
            f"round(CASE WHEN {raw} <= {2.5 * m} AND {m} - {expr_n} > 0 "
            f"THEN {lin} ELSE {raw} END, 10)"
        )

    return f"""
    WITH items AS ({source_cte}),
    hashed AS (
      SELECT {group_col} AS g,
             CAST(('0x' || substr(md5({item_expr}), 1, 8)) AS BIGINT) AS h
      FROM items),
    regs AS (
      SELECT g, CAST(h % {m} AS INT) AS j,
             max(CASE WHEN h // {m} = 0 THEN {wbits + 1}
                 ELSE {wbits + 1} - length(format('{{:b}}', h // {m}))
                 END) AS M
      FROM hashed GROUP BY g, j),
    singles AS (
      SELECT g, {est("sum(1.0 / (1 << M))", "count(*)")} AS e
      FROM regs GROUP BY g),
    pairs AS (
      SELECT a.g AS ga, b.g AS gb
      FROM (SELECT DISTINCT g FROM regs) a,
           (SELECT DISTINCT g FROM regs) b
      WHERE a.g < b.g),
    uregs AS (
      SELECT ga, gb, j, max(M) AS M FROM (
        SELECT p.ga, p.gb, r.j, r.M FROM pairs p JOIN regs r ON r.g = p.ga
        UNION ALL
        SELECT p.ga, p.gb, r.j, r.M FROM pairs p JOIN regs r ON r.g = p.gb)
      GROUP BY ga, gb, j),
    uest AS (
      SELECT ga, gb, {est("sum(1.0 / (1 << M))", "count(*)")} AS e_u
      FROM uregs GROUP BY ga, gb)
    SELECT u.ga AS group_a, u.gb AS group_b,
           round(u.e_u, {decimals}) AS approx_union,
           round(sa.e + sb.e - u.e_u, {decimals}) AS approx_intersection
    FROM uest u
    JOIN singles sa ON sa.g = u.ga
    JOIN singles sb ON sb.g = u.gb
    ORDER BY group_a, group_b
    """


# ------------------------------------------------ fixed-grid (streaming)
def fixed_grid_counts(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    *,
    lo: float,
    hi: float,
    n_bins: int = 256,
) -> DataFrame:
    """Mergeable fixed-grid histogram counts — the quantile twin of
    the HLL register table: bucket counts keyed by (group, bucket)
    merge across batches/datasets by elementwise SUM, so a streaming
    ingest folds each micro-batch into a persisted count table and
    never rescans the corpus. The grid is FIXED a priori (``lo``,
    ``hi``, ``n_bins``) — the streaming precondition that
    :func:`histogram_quantiles`'s data-derived bounds cannot meet —
    and out-of-range values clamp into the edge buckets (quantiles
    near the edges then saturate at lo/hi; pick the grid to cover the
    domain). NULLs are excluded (and excluded from the rank's n)."""
    group_cols = list(group_cols or [])
    v = F.col(value_col).cast("double")
    width = (float(hi) - float(lo)) / float(n_bins)
    b = F.least(
        F.greatest(
            F.floor((v - F.lit(float(lo))) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    )
    return (
        df.where(v.isNotNull())
        .groupBy(*group_cols, b.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def fixed_grid_quantiles(
    counts: DataFrame,
    quantiles: list[float],
    group_cols: list[str] | None = None,
    *,
    lo: float,
    hi: float,
    n_bins: int = 256,
    decimals: int = 6,
) -> DataFrame:
    """Quantile estimates from merged fixed-grid counts — same
    continuous-rank estimator as :func:`histogram_quantiles`
    (r = q·(n−1); linear interpolation inside the hit bucket), every
    step IEEE arithmetic on both engines so a DuckDB replay is
    hash-exact after rounding."""
    group_cols = list(group_cols or [])
    w = Window.partitionBy(*(group_cols or [F.lit(1)])).orderBy("b")
    tot = Window.partitionBy(*(group_cols or [F.lit(1)]))
    cum = (
        counts.withColumn("cum", F.sum("c").over(w))
        .withColumn("cum_prev", F.col("cum") - F.col("c"))
        .withColumn("__n", F.sum("c").over(tot))
    )
    width = (float(hi) - float(lo)) / float(n_bins)
    out = []
    for q in quantiles:
        r = F.lit(q) * (F.col("__n") - 1).cast("double")
        hit = cum.where(
            (F.col("cum_prev").cast("double") <= r)
            & (r < F.col("cum").cast("double"))
        )
        frac = (r - F.col("cum_prev").cast("double")) / F.col("c").cast(
            "double"
        )
        val = F.lit(float(lo)) + F.lit(width) * (
            F.col("b").cast("double") + frac
        )
        out.append(
            hit.select(
                *group_cols,
                F.lit(q).alias("q"),
                F.round(val, decimals).alias("approx_value"),
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


def fold_register_write(
    spark,
    ds,
    regs,
    *,
    keys: list[str],
    value_col: str,
    merge: str,
    ordered_on: str,
    row_group_target_size: int = 100_000,
) -> None:
    """Fold one batch's register table into a persisted register
    dataset — the maintenance step of every mergeable-sketch ingest
    (HLL = max, Count-Min / fixed-grid counts = sum).

    Register tables are O(sketch) rows at ANY corpus size (that is
    the point of a sketch), so the fold itself never needs a cluster:
    ONE job collects the batch's registers (the O(batch) aggregation
    — that part stays fully distributed), the persisted registers are
    read back driver-side (``read_arrow``, no job), the elementwise
    merge runs in Arrow, and the merged table is written through the
    store's zero-job Arrow flush. The previous shape re-scanned the
    register dataset and re-shuffled the union per batch — 2-3 extra
    jobs and a plan analysis per micro-batch for a 4k-row fold
    (guide §1.2: fewer passes, fewer jobs).

    Merge semantics are IDENTICAL by construction: ``sum``/``max``
    grouped by ``keys`` over exact integers, written sorted by
    (``keys``) exactly as the distributed ``union → groupBy →
    orderBy`` plan wrote it (register keys are unique post-group, so
    the sort has no ties). Anything unexpected — a batch or state
    over the driver gate's caps (``driver_gate``), state that cannot
    be cast to the batch schema — falls back to that distributed
    plan verbatim.
    """
    import pyarrow as pa
    import pyspark.sql.functions as F

    from oups_spark.store import driver_gate as gate

    assert merge in ("sum", "max")
    tbl = gate.collect(regs, max_rows=gate.MAX_ROWS)
    old = None
    if tbl is not None and ds.exists:
        old = ds.read_arrow()
        if old is not None:
            try:
                old = old.select(tbl.schema.names).cast(
                    pa.schema(
                        [f.with_nullable(True) for f in tbl.schema]
                    )
                )
            except (KeyError, pa.ArrowInvalid, pa.ArrowNotImplementedError):
                old = None
    if tbl is None or (ds.exists and old is None):
        # distributed fallback: the exact pre-round-15 plan
        merged = regs
        if ds.exists:
            agg = F.sum(value_col) if merge == "sum" else F.max(value_col)
            merged = (
                ds.read()
                .unionByName(regs)
                .groupBy(*keys)
                .agg(agg.alias(value_col))
            )
        ds.write(
            df=merged.orderBy(*keys),
            ordered_on=ordered_on,
            duplicates_on=list(keys),
            row_group_target_size=row_group_target_size,
            validate_monotonic=False,
        )
        return
    merged_tbl = tbl
    if old is not None:
        both = pa.concat_tables(
            [old, tbl.cast(pa.schema([f.with_nullable(True) for f in tbl.schema]))]
        )
        folded = both.group_by(keys).aggregate([(value_col, merge)])
        folded = folded.rename_columns(
            [
                value_col if c == f"{value_col}_{merge}" else c
                for c in folded.column_names
            ]
        )
        # arrow sum widens small ints; restore the batch table's types
        merged_tbl = folded.select(tbl.schema.names).cast(
            pa.schema([f.with_nullable(True) for f in tbl.schema])
        )
    merged_tbl = merged_tbl.sort_by([(k, "ascending") for k in keys])
    ds.write(
        df=merged_tbl,
        ordered_on=ordered_on,
        duplicates_on=list(keys),
        row_group_target_size=row_group_target_size,
        validate_monotonic=False,
    )
