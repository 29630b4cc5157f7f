"""Driver-facing queries exercising the ordered-store semantics:
merge writes with keep-last dedup, append + pruned range reads, DNF
filters. Each query materializes a scratch dataset under
``.scratch/`` (gitignored), runs the store operation for real, and
returns the final state; the oracle states the same end state in
plain SQL over the input table."""

from __future__ import annotations

import os

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from oups_spark.queries import register
from oups_spark.queries._scratch import fresh as _fresh
from oups_spark.store.dataset import OrderedDataset
from oups_spark.tables import load

T1 = "2024-01-10 00:00:00"
T2 = "2024-01-20 00:00:00"


@register(
    "store_merge_keep_last",
    oracle=f"""
    SELECT event_id, ts, user_id, event_type,
           CASE WHEN ts >= TIMESTAMP '{T1}' AND ts < TIMESTAMP '{T2}'
                THEN value + 100 ELSE value END AS value,
           props
    FROM events
    ORDER BY ts, event_id
    """,
)
def store_merge_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered merge write with keep-last dedup (SURVEY S6/J1-J2/A0).

    Writes the events table, then merges an overlapping corrected
    batch (value+100 for a 10-day window) deduped on event_id — the
    corrected rows must replace the originals (new-over-old rule,
    reference ``iter_merge_split_data.py:112-119``). Only files
    overlapping the window are rewritten.
    """
    path = os.path.join(_fresh("store_merge_keep_last"), "events_ds")
    events = load(spark, sf_dir, "events")
    ds = OrderedDataset(spark, path)
    ds.write(df=events, ordered_on="ts", row_group_target_size=2500)
    batch2 = (
        events.filter(
            (F.col("ts") >= F.lit(T1).cast("timestamp"))
            & (F.col("ts") < F.lit(T2).cast("timestamp"))
        )
        .withColumn("value", F.col("value") + F.lit(100.0))
    )
    ds.write(df=batch2, duplicates_on=["event_id"])
    return ds.read().orderBy("ts", "event_id").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@register(
    "store_append_range_read",
    oracle=f"""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    WHERE ts >= TIMESTAMP '{T1}' AND ts < TIMESTAMP '{T2}'
    ORDER BY ts, event_id
    """,
)
def store_append_range_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append + manifest-pruned range read (S4/S5/F4).

    Writes events in two appends (split at T1), then reads back
    ``[T1, T2)`` — the manifest prunes non-overlapping files before
    Spark is even involved; the residual predicate is pushed into the
    parquet scan.
    """
    path = os.path.join(_fresh("store_append_range_read"), "events_ds")
    events = load(spark, sf_dir, "events")
    ds = OrderedDataset(spark, path)
    t1 = F.lit(T1).cast("timestamp")
    ds.write(df=events.filter(F.col("ts") < t1), ordered_on="ts",
             row_group_target_size=2000)
    ds.write(df=events.filter(F.col("ts") >= t1), row_group_target_size=2000)
    import datetime

    start = datetime.datetime.fromisoformat(T1)
    end = datetime.datetime.fromisoformat(T2)
    return ds.read(start=start, end_excl=end).orderBy("ts", "event_id").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@register(
    "dnf_filter_events",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE (event_type IN ('click', 'view') AND value > 50.0)
       OR (event_type = 'purchase' AND user_id < 100)
    ORDER BY event_id
    """,
)
def dnf_filter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DNF filter language (F1): OR of AND-groups, pushdown-shaped
    (reference ``oups/aggstream/utils.py:16-71``)."""
    from oups_spark.functions.filters import dnf_filter

    events = load(spark, sf_dir, "events")
    filtered = dnf_filter(
        events,
        [
            [("event_type", "in", ["click", "view"]), ("value", ">", 50.0)],
            [("event_type", "==", "purchase"), ("user_id", "<", 100)],
        ],
    )
    return filtered.select("event_id", "ts", "user_id", "event_type", "value").orderBy(
        "event_id"
    )


@register(
    "store_compact_roundtrip",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events ORDER BY ts, event_id
    """,
)
def store_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-target file coalescing (S10 / reference off-target
    coalescing; Delta OPTIMIZE equivalent): write events in many
    deliberately undersized appends, ``compact()`` the fragmented
    layout, and read back — the data must be byte-identical to the
    input and the file count strictly smaller.
    """
    path = os.path.join(_fresh("store_compact_roundtrip"), "events_ds")
    events = load(spark, sf_dir, "events")
    ds = OrderedDataset(spark, path)
    # 4 appends split on day-of-month quartiles -> fragmented files
    d = F.dayofmonth("ts")
    bounds = [(1, 8), (8, 16), (16, 24), (24, 32)]
    for lo, hi in bounds:
        chunk = events.filter((d >= lo) & (d < hi))
        ds.write(df=chunk, ordered_on="ts", row_group_target_size=1000)
    n_before = ds.n_files
    ds.compact(row_group_target_size=20000)
    assert ds.n_files < n_before, (ds.n_files, n_before)
    return ds.read().orderBy("ts", "event_id").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@register(
    "store_time_travel",
    oracle="""
    SELECT event_id, ts, user_id, round(value, 6) AS value
    FROM events WHERE ts < TIMESTAMP '2024-01-15'
    ORDER BY event_id
    """,
)
def store_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: two ordered writes under ``retain_versions=True``
    (immutable manifest snapshot per commit, replaced files retained
    until ``vacuum``), then ``read(as_of=<first generation>)`` must
    return EXACTLY the first batch — the reproducible-training
    contract a 100 TB pipeline pins dataset versions with. The oracle
    states the first batch's contents directly."""
    import pyspark.sql.functions as _F

    path = os.path.join(_fresh("store_time_travel"), "events_ds")
    events = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    cut = "2024-01-15"
    ds = OrderedDataset(spark, path, retain_versions=True)
    ds.write(
        df=events.filter(_F.col("ts") < cut),
        ordered_on="ts",
        row_group_target_size=5000,
    )
    ds.write(
        df=events.filter(_F.col("ts") >= cut),
        ordered_on="ts",
        row_group_target_size=5000,
    )
    g_first = ds.versions()[0]
    return (
        ds.read(as_of=g_first)
        .select(
            "event_id", "ts", "user_id", _F.round("value", 6).alias("value")
        )
        .orderBy("event_id")
    )


@register(
    "store_schema_evolution",
    oracle=f"""
    SELECT event_id, ts, value,
           CASE WHEN ts >= TIMESTAMP '{T1}'
                THEN round(value * 2, 6) END AS v2
    FROM events
    ORDER BY ts, event_id
    """,
)
def store_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the ordered store (beyond reference — the
    reference is fixed-schema, SURVEY §1.3): the first append carries
    (event_id, ts, value); the second adds a ``v2`` column with
    ``evolve_schema=True``. No old file is rewritten — the manifest
    records the union schema and ``read`` projects every file
    through it, so pre-evolution rows come back with ``v2`` NULL.
    At 100 TB this is the only affordable way to add a column: a
    metadata commit, zero data movement."""
    path = os.path.join(_fresh("store_schema_evolution"), "events_ds")
    events = load(spark, sf_dir, "events").select("event_id", "ts", "value")
    t1 = F.lit(T1).cast("timestamp")
    ds = OrderedDataset(spark, path)
    ds.write(
        df=events.filter(F.col("ts") < t1),
        ordered_on="ts",
        row_group_target_size=2000,
    )
    ds.write(
        df=events.filter(F.col("ts") >= t1).withColumn(
            "v2", F.round(F.col("value") * 2, 6)
        ),
        row_group_target_size=2000,
        evolve_schema=True,
    )
    return ds.read().orderBy("ts", "event_id").select(
        "event_id", "ts", "value", "v2"
    )


@register(
    "store_stats_skipping",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE event_id < 1000
       OR (event_id > 9500 AND value > 500.0)
    ORDER BY event_id
    """,
)
def store_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column file statistics as a data-skipping index (beyond
    reference — the reference prunes only on the ordering column;
    this is the Delta/Iceberg file-stats model): the write records
    [min, max] bounds for EVERY flat column in the manifest, and a
    DNF-filtered read drops whole files the bounds disprove BEFORE a
    single scan task is planned. Here event_id is time-correlated,
    so both or-groups prune to a handful of head/tail files; at
    100 TB any column correlated with the layout order (ids,
    ingestion dates, monotone metrics) gets the same free pruning,
    and uncorrelated columns degrade to a normal pushdown scan."""
    path = os.path.join(_fresh("store_stats_skipping"), "events_ds")
    events = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ds = OrderedDataset(spark, path)
    ds.write(df=events, ordered_on="ts", row_group_target_size=1000)
    out = ds.read(
        filters=[
            [("event_id", "<", 1000)],
            [("event_id", ">", 9500), ("value", ">", 500.0)],
        ]
    )
    return out.select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).orderBy("event_id")


@register(
    "store_bloom_skipping",
    oracle="""
    SELECT event_id, ts, user_id, value
    FROM events
    WHERE user_id IN (7, 11, 13)
    ORDER BY event_id
    """,
)
def store_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file BLOOM FILTER index for equality data skipping (beyond
    reference; the Delta/Iceberg bloom-index model, see
    ``store/bloom.py``): ``write(bloom_cols=['user_id'])`` attaches a
    1 KiB bitset per (file, column) to the manifest, and a point
    lookup prunes files whose bloom PROVES the probed ids absent —
    the shape [min, max] stats can never prune (user ids are
    clustered by activity but not ordered, so every file's id range
    spans the key space). False positives only cost a scanned file;
    false negatives cannot occur (tests pin the JVM/driver hash
    agreement bit for bit). At 100 TB the probe stays a driver-side
    bit test per (file, value) over the manifest."""
    path = os.path.join(_fresh("store_bloom_skipping"), "events_ds")
    events = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    ds = OrderedDataset(spark, path)
    ds.write(
        df=events, ordered_on="ts", row_group_target_size=1000,
        bloom_cols=["user_id"],
    )
    out = ds.read(filters=[("user_id", "in", [7, 11, 13])])
    return out.select("event_id", "ts", "user_id", "value").orderBy(
        "event_id"
    )


@register(
    "csv_ingest_roundtrip",
    oracle="""
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents ORDER BY doc_id
    """,
)
def csv_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion (the other format corpora actually arrive in):
    export -> SCHEMA-PINNED read (no inference scan) -> ordered-store
    merge. CSV's sharp edges are exactly what the md5 check pins:
    quoted fields holding commas, double-quote escaping, and embedded
    NEWLINES (multiLine=true on the read — the text column contains
    real linebreaks). Same beyond-reference source layer as JSONL."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    base = _fresh("csv_ingest_roundtrip")
    cdir = os.path.join(base, "docs_csv")
    path = os.path.join(base, "docs_ds")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    (
        docs.write.mode("overwrite")
        .option("header", "true")
        .option("escape", '"')  # RFC-4180 double-quote escaping
        .csv(cdir)
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("escape", '"')
        .option("multiLine", "true")  # text holds real newlines
        .csv(cdir)
    )
    ds = OrderedDataset(spark, path)
    ds.write(df=back.orderBy("doc_id"), ordered_on="doc_id",
             validate_monotonic=False)
    out = ds.read()
    return out.select(
        "doc_id", "lang", "source", "n_chars",
        F.md5(F.col("text")).alias("text_md5"),
    ).orderBy("doc_id")


@register(
    "orc_ingest_roundtrip",
    oracle="""
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents ORDER BY doc_id
    """,
)
def orc_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingestion (the Hive-ecosystem columnar format Spark ships
    natively): export -> read -> ordered-store merge, byte-checked
    against the parquet source. Columnar-to-columnar, so unlike
    CSV/JSONL no text-escaping hazards — what this pins is type
    fidelity (longs and strings survive the format hop untouched)."""
    base = _fresh("orc_ingest_roundtrip")
    odir = os.path.join(base, "docs_orc")
    path = os.path.join(base, "docs_ds")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    docs.write.mode("overwrite").orc(odir)
    back = spark.read.orc(odir)
    ds = OrderedDataset(spark, path)
    ds.write(df=back.orderBy("doc_id"), ordered_on="doc_id",
             validate_monotonic=False)
    out = ds.read()
    return out.select(
        "doc_id", "lang", "source", "n_chars",
        F.md5(F.col("text")).alias("text_md5"),
    ).orderBy("doc_id")


@register(
    "jsonl_ingest_roundtrip",
    oracle="""
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents ORDER BY doc_id
    """,
)
def jsonl_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion — the interchange format every LLM corpus
    actually arrives in: the documents table is exported to
    newline-delimited JSON (distributed write), read back through a
    SCHEMA-PINNED ``spark.read.json`` (no inference pass — at 100 TB
    schema inference is a full extra scan of the corpus), and merged
    into an ordered-store dataset. The roundtrip must reproduce the
    parquet source byte-for-byte (text via md5 — JSON escaping of
    control characters must round-trip exactly).

    Reference parity: the reference is parquet-only (S12); the
    source-format layer is beyond-reference."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    base = _fresh("jsonl_ingest_roundtrip")
    jdir = os.path.join(base, "docs_jsonl")
    path = os.path.join(base, "docs_ds")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    docs.write.mode("overwrite").json(jdir)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    back = spark.read.schema(schema).json(jdir)
    ds = OrderedDataset(spark, path)
    ds.write(df=back.orderBy("doc_id"), ordered_on="doc_id",
             validate_monotonic=False)
    out = ds.read()
    return out.select(
        "doc_id", "lang", "source", "n_chars",
        F.md5(F.col("text")).alias("text_md5"),
    ).orderBy("doc_id")


def _incr_hll_oracle() -> str:
    from oups_spark.operators.sketch import hll_oracle_sql

    # the merge property makes the incremental two-batch sketch equal
    # the one-shot sketch over the WHOLE corpus — so the oracle is
    # simply the full-corpus replay, and the hash check proves the
    # store-roundtripped merge is lossless.
    return hll_oracle_sql(
        "SELECT source, unnest(list_filter("
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x != ''))"
        " AS tok FROM documents",
        "tok",
        ["source"],
        p=8,
    )


@register("incremental_hll_ingest", oracle=_incr_hll_oracle())
def incremental_hll_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-count maintenance: batch A's HLL register
    table persists to an ordered store dataset; when batch B arrives,
    only B is scanned — its registers merge with the PERSISTED table
    by elementwise max and the merged sketch lands back in the store.
    The returned estimates must hash-equal the one-shot sketch over
    A ∪ B (the mergeability contract). This is the ingest shape that
    matters at 100 TB: per-batch cost is O(batch) + O(sketch), and
    history is never rescanned — the same pattern as
    ``incremental_neardup_ingest`` for near-dup signatures."""
    from oups_spark.operators.sketch import hll_estimate, hll_register_table
    from oups_spark.operators.text import tokens

    docs = load(spark, sf_dir, "documents")

    def regs_of(batch):
        t = batch.select(
            "source", F.explode(tokens(F.col("text"))).alias("tok")
        )
        return hll_register_table(t, "tok", ["source"], p=8)

    path = os.path.join(_fresh("incremental_hll_ingest"), "hll_registers")
    ds = OrderedDataset(spark, path)
    # batch A: even doc ids — registers written ordered on (source, j)
    ds.write(
        df=regs_of(docs.filter(F.col("doc_id") % 2 == 0)).orderBy(
            "source", "j"
        ),
        ordered_on="source",
        row_group_target_size=100_000,
    )
    # batch B: odd doc ids — merge B's registers with the persisted
    # table (elementwise max per register), rewrite via keep-last
    # dedup. The fold is driver-side: one job aggregates batch B's
    # O(sketch) registers, the persisted table reads back without a
    # job, and the merged table flushes through the zero-job Arrow
    # write (distributed union+groupBy fallback over the caps).
    from oups_spark.operators.sketch import fold_register_write

    fold_register_write(
        spark, ds, regs_of(docs.filter(F.col("doc_id") % 2 == 1)),
        keys=["source", "j"], value_col="M", merge="max",
        ordered_on="source",
    )
    return hll_estimate(ds.read(), ["source"], p=8).orderBy("source")


@register(
    "zorder_box_scan",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 6) AS sum_val,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id BETWEEN 100 AND 220 AND value BETWEEN 10.0 AND 60.0
    """,
)
def zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered rewrite + box-predicate scan: events are
    laid out along a Morton curve over (user_id, value) — equi-depth
    rank buckets bit-interleaved, range-partitioned, one file per
    range — so parquet footer min/max stay TIGHT on BOTH columns and
    a conjunctive range predicate prunes most files regardless of
    which column it leads with (a single-column sort prunes only its
    own column; pruning factor asserted against footer stats in
    tests/test_round8_ops.py). The oracle states the layout changes
    the scan, never the answer."""
    from oups_spark.store.zorder import zorder_write

    base = _fresh("zorder_box_scan")
    path = os.path.join(base, "events_z")
    events = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    zorder_write(events, path, cols=["user_id", "value"], n_files=16)
    z = spark.read.parquet(path).filter(
        (F.col("user_id").between(100, 220))
        & (F.col("value").between(10.0, 60.0))
    )
    return z.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("sum_val"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "zorder_compact_scan",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 6) AS sum_val,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id BETWEEN 100 AND 220 AND value BETWEEN 10.0 AND 60.0
    """,
)
def zorder_compact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-PLACE re-clustering maintenance (``OPTIMIZE ZORDER``
    equivalent, round-13): events land in the store time-ordered —
    the layout every ordered append produces, on which a
    (user_id, value) box predicate prunes nothing — then
    ``compact(zorder_by=...)`` rewrites the live files along the
    Morton curve through the same tombstone/CAS/rebase commit as any
    write, preserving time travel and snapshot isolation, and the
    same box scan now prunes most files from the manifest's per-file
    column stats (asymmetry pinned in tests/test_ordered_dataset.py).
    The oracle states the layout changes the scan, never the answer."""
    path = os.path.join(_fresh("zorder_compact_scan"), "events_ds")
    events = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    ds = OrderedDataset(spark, path)
    ds.write(df=events, ordered_on="ts", row_group_target_size=700)
    ds.compact(zorder_by=["user_id", "value"], row_group_target_size=700)
    box = [
        ("user_id", ">=", 100), ("user_id", "<=", 220),
        ("value", ">=", 10.0), ("value", "<=", 60.0),
    ]
    return ds.read(filters=[box]).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("sum_val"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "store_cmidx_roundtrip",
    oracle="""
    SELECT ts AS t, event_id AS e, event_type, value
    FROM events
    ORDER BY t, e
    """,
)
def store_cmidx_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tuple (column-MultiIndex) ``ordered_on`` parity (reference
    ``write.py:98-100`` + ``conform_cmidx``,
    ``parquet_adapter.py:45-85``): events nest under a struct column
    ``m(t, e)``, two interleaved halves are merge-written ordered on
    the tuple ``("m", "t")`` with tuple ``duplicates_on``, and the
    read rebuilds the struct from the manifest's flat-name mapping —
    the result is accessed THROUGH the struct, proving the
    round-trip. The oracle states the same rows from the raw table."""
    path = os.path.join(_fresh("store_cmidx_roundtrip"), "events_cmidx")
    events = load(spark, sf_dir, "events").select(
        F.struct(F.col("ts").alias("t"), F.col("event_id").alias("e")).alias(
            "m"
        ),
        "event_type",
        "value",
    )
    ds = OrderedDataset(spark, path)
    even = events.filter(F.col("m.e") % 2 == 0)
    odd = events.filter(F.col("m.e") % 2 == 1)
    ds.write(df=even, ordered_on=("m", "t"), row_group_target_size=2500)
    ds.write(df=odd, duplicates_on=[("m", "t"), ("m", "e")])
    return (
        ds.read()
        .select(
            F.col("m.t").alias("t"),
            F.col("m.e").alias("e"),
            "event_type",
            "value",
        )
        .orderBy("t", "e")
    )


@register(
    "store_delete_where",
    oracle=f"""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    WHERE NOT (event_type = 'click'
               AND ts >= TIMESTAMP '{T1}' AND ts < TIMESTAMP '{T2}')
    ORDER BY ts, event_id
    """,
)
def store_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE with bounded rewrite (beyond reference;
    Delta-style copy-on-write DML, ``dataset.py delete_where``):
    stats pruning narrows candidates to the [T1, T2) files via the
    ordering column's own bounds, one scan finds the files that truly
    hold matching rows, and only those are rewritten — every other
    file keeps its physical identity. The read-back equals a plain
    anti-filter of the source."""
    path = os.path.join(_fresh("store_delete_where"), "events_ds")
    events = load(spark, sf_dir, "events")
    ds = OrderedDataset(spark, path)
    ds.write(df=events, ordered_on="ts", row_group_target_size=2500)
    ds.delete_where([
        ("event_type", "==", "click"),
        ("ts", ">=", pd.Timestamp(T1)),
        ("ts", "<", pd.Timestamp(T2)),
    ])
    return ds.read().orderBy("ts", "event_id").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@register(
    "store_update_where",
    oracle=f"""
    SELECT event_id, ts, user_id,
           CASE WHEN event_type = 'purchase'
                     AND ts >= TIMESTAMP '{T1}' AND ts < TIMESTAMP '{T2}'
                THEN 'audited' ELSE event_type END AS event_type,
           CASE WHEN event_type = 'purchase'
                     AND ts >= TIMESTAMP '{T1}' AND ts < TIMESTAMP '{T2}'
                THEN value * 2 ELSE value END AS value,
           props
    FROM events
    ORDER BY ts, event_id
    """,
)
def store_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE (beyond reference; ``dataset.py
    update_where``): assignments — one an expression over the row's
    own PRE-update value, one a literal re-labeling the very column
    the predicate filters on — apply to matching rows only, cast to
    the existing column types, with the same bounded per-file rewrite
    and commit path as delete_where. Oracle is the equivalent CASE
    projection."""
    path = os.path.join(_fresh("store_update_where"), "events_ds")
    events = load(spark, sf_dir, "events")
    ds = OrderedDataset(spark, path)
    ds.write(df=events, ordered_on="ts", row_group_target_size=2500)
    ds.update_where(
        [
            ("event_type", "==", "purchase"),
            ("ts", ">=", pd.Timestamp(T1)),
            ("ts", "<", pd.Timestamp(T2)),
        ],
        {"value": F.col("value") * 2, "event_type": "audited"},
    )
    return ds.read().orderBy("ts", "event_id").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@register(
    "store_merge_into",
    oracle=f"""
    WITH m AS (
        SELECT event_id, user_id, value
        FROM events
        WHERE event_type = 'click'
          AND ts >= TIMESTAMP '{T1}' AND ts < TIMESTAMP '{T2}'
    )
    SELECT e.event_id, e.ts, e.user_id,
           CASE WHEN m.event_id IS NOT NULL THEN 'merged'
                ELSE e.event_type END AS event_type,
           CASE WHEN m.event_id IS NOT NULL THEN e.value * 2
                ELSE e.value END AS value,
           e.props
    FROM events e LEFT JOIN m ON e.event_id = m.event_id
    WHERE m.event_id IS NULL OR m.user_id % 3 <> 0
    UNION ALL
    SELECT e.event_id + 10000000 AS event_id,
           e.ts + INTERVAL 45 DAY AS ts,
           e.user_id,
           'inserted' AS event_type,
           e.value + 1000 AS value,
           CAST(NULL AS VARCHAR) AS props
    FROM m JOIN events e ON e.event_id = m.event_id
    ORDER BY ts, event_id
    """,
)
def store_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO — conditional upsert + delete as ONE atomic commit
    (beyond reference; Delta-style ``WHEN MATCHED UPDATE/DELETE WHEN
    NOT MATCHED INSERT``, ``dataset.py merge_into``). The source is
    the window's click events twice over: once keyed to MATCH
    (delete every third user's row, re-label and double the rest)
    and once under fresh keys to INSERT at shifted timestamps —
    exercising the stats/bloom candidate pruning, the true-hit COW
    rewrite, and the overlapping-insert file path in a single
    tombstone/CAS commit. The oracle replays the same clauses as a
    LEFT JOIN + anti-filter + UNION ALL."""
    path = os.path.join(_fresh("store_merge_into"), "events_ds")
    events = load(spark, sf_dir, "events")
    ds = OrderedDataset(spark, path)
    ds.write(df=events, ordered_on="ts", row_group_target_size=2500)
    base = events.filter(
        (F.col("event_type") == "click")
        & (F.col("ts") >= F.lit(T1).cast("timestamp"))
        & (F.col("ts") < F.lit(T2).cast("timestamp"))
    ).select("event_id", "ts", "user_id", "value")
    matched_src = base.select(
        "event_id", "ts", "user_id", "value",
        F.when(F.col("user_id") % 3 == 0, "D").otherwise("U").alias("op"),
        F.lit(None).cast("string").alias("event_type"),
    )
    insert_src = base.select(
        (F.col("event_id") + F.lit(10_000_000)).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 45 DAYS")).alias("ts"),
        "user_id",
        (F.col("value") + F.lit(1000.0)).alias("value"),
        F.lit("I").alias("op"),
        F.lit("inserted").alias("event_type"),
    )
    ds.merge_into(
        matched_src.unionByName(insert_src),
        on="event_id",
        when_matched_update={
            "event_type": "merged",
            "value": F.col("t.value") * 2,
        },
        when_matched_delete=F.col("s.op") == "D",
        when_not_matched_insert=True,
    )
    return ds.read().orderBy("ts", "event_id").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


from oups_spark.store.indexer import toplevel as _toplevel  # noqa: E402
from oups_spark.store.store import Store as _Store  # noqa: E402


@_toplevel
class _EventTypeKey:
    event_type: str


@register(
    "store_catalog_objectstore",
    oracle="""
    SELECT event_type,
           count(*)             AS n_rows,
           min(ts)              AS first_ts,
           max(ts)              AS last_ts,
           round(sum(value), 6) AS sum_val
    FROM events
    WHERE event_type <> 'error'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def store_catalog_objectstore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store catalog on an OBJECT-STORE transport, end to end
    (S2/S3/S9 over ``DeltaLogManifest(InMemoryObjectStore())``): one
    dataset per event type written through the delta-log encoding's
    conditional puts (no posix manifest exists anywhere), DISCOVERY
    via bucket prefix listing (``keys()``), membership via one object
    GET, and ``del store[key]`` removing the dataset's manifest objects with
    its data. The result unions every dataset the catalog still
    discovers after deleting the 'error' key — so the oracle is the
    source table minus that type."""
    from oups_spark.store.manifest import DeltaLogManifest, InMemoryObjectStore

    base = _fresh("store_catalog_objectstore")
    st = _Store(
        spark, os.path.join(base, "catalog"), _EventTypeKey,
        backend=DeltaLogManifest(InMemoryObjectStore()),
    )
    events = load(spark, sf_dir, "events")
    types = sorted(
        r[0] for r in events.select("event_type").distinct().collect()
    )
    for t in types:
        st[_EventTypeKey(t)].write(
            df=events.filter(F.col("event_type") == t),
            ordered_on="ts",
            row_group_target_size=2500,
        )
    assert _EventTypeKey("error") in st
    del st[_EventTypeKey("error")]
    # discovery after delete: bucket listing, not a posix walk
    keys = st.keys()
    out = None
    for k in keys:
        part = st[k].read()
        out = part if out is None else out.unionByName(part)
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.round(F.sum("value"), 6).alias("sum_val"),
        )
        .orderBy("event_type")
    )


@register(
    "store_merge_full_sync",
    oracle=f"""
    WITH p AS (
        SELECT event_id, ts, user_id, value
        FROM events
        WHERE event_type = 'purchase'
          AND ts >= TIMESTAMP '{T1}' AND ts < TIMESTAMP '{T2}'
    )
    SELECT e.event_id, e.ts, e.user_id,
           CASE WHEN p.event_id IS NOT NULL THEN 'synced'
                ELSE e.event_type END AS event_type,
           CASE WHEN p.event_id IS NOT NULL THEN round(e.value * 3, 6)
                ELSE round(e.value, 6) END AS value
    FROM events e LEFT JOIN p ON e.event_id = p.event_id
    WHERE p.event_id IS NOT NULL
       OR e.ts < TIMESTAMP '{T1}' OR e.ts >= TIMESTAMP '{T2}'
    UNION ALL
    SELECT event_id + 10000000 AS event_id,
           ts + INTERVAL 45 DAY AS ts,
           user_id,
           'inserted' AS event_type,
           round(value + 1000, 6) AS value
    FROM p
    ORDER BY ts, event_id
    """,
)
def store_merge_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with the WHEN NOT MATCHED BY SOURCE clause — the
    full-snapshot sync shape (beyond reference; SQL 2023 / Delta):
    the source is the window's purchases, declared to be the COMPLETE
    state of the [T1, T2) scope — matched rows re-label and triple,
    scoped rows ABSENT from the snapshot are deleted by the by-source
    clause, fresh keys insert at shifted timestamps, and everything
    outside the scope is untouched even inside shared files (the
    scope gates the clause row-level AND prunes the scanned files
    driver-side). One tombstone/CAS commit; the oracle replays the
    sync as LEFT JOIN + scope filter + UNION ALL."""
    path = os.path.join(_fresh("store_merge_full_sync"), "events_ds")
    events = load(spark, sf_dir, "events")
    ds = OrderedDataset(spark, path)
    ds.write(df=events, ordered_on="ts", row_group_target_size=2500)
    snap = events.filter(
        (F.col("event_type") == "purchase")
        & (F.col("ts") >= F.lit(T1).cast("timestamp"))
        & (F.col("ts") < F.lit(T2).cast("timestamp"))
    ).select("event_id", "ts", "user_id", "value")
    insert_src = snap.select(
        (F.col("event_id") + F.lit(10_000_000)).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 45 DAYS")).alias("ts"),
        "user_id",
        (F.col("value") + F.lit(1000.0)).alias("value"),
        F.lit("inserted").alias("event_type"),
    )
    src = snap.withColumn(
        "event_type", F.lit(None).cast("string")
    ).unionByName(insert_src)
    ds.merge_into(
        src,
        on="event_id",
        when_matched_update={
            "event_type": "synced",
            "value": F.col("t.value") * 3,
        },
        when_not_matched_insert=True,
        when_not_matched_by_source_delete=True,
        by_source_scope=[
            ("ts", ">=", pd.Timestamp(T1)),
            ("ts", "<", pd.Timestamp(T2)),
        ],
    )
    return ds.read().orderBy("ts", "event_id").select(
        "event_id", "ts", "user_id", "event_type",
        F.round("value", 6).alias("value"),
    )


@register(
    "store_deltalog_roundtrip",
    oracle=f"""
    SELECT event_type,
           count(*)             AS n_rows,
           min(ts)              AS first_ts,
           max(ts)              AS last_ts,
           round(sum(CASE WHEN ts >= TIMESTAMP '{T1}'
                           AND ts < TIMESTAMP '{T2}'
                          THEN value * 2 ELSE value END), 6) AS sum_val
    FROM events
    WHERE event_type <> 'error'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def store_deltalog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dataset lifecycle over the DELTA-LOG manifest backend
    (round-14; S8 backend #5/#6): initial write = checkpoint commit,
    then an ordered APPEND, a row-level UPDATE, a row-level DELETE
    and a COMPACT — each an O(changed-entries) delta commit (added
    entries as one parquet object, removed names inline in the head)
    — and the final read through a FRESH handle exercises the lazy
    chain reconstruction path end to end (base checkpoint + deltas,
    global removed filter, (min, max) sort). The oracle replays the
    surviving state in SQL: errors deleted, window values doubled.

    Scale: commit I/O is bounded by each commit's touched files, not
    the manifest width (SCALE.md round-13/14 tables: 1M entries —
    commit 5.4 s -> 1.2-3.8 s, fresh load 1.98 s -> ~0 ms lazy /
    1.47x on first selection); every handle below re-opens the
    dataset as a new reader/writer, matching the many-short-sessions
    posture of a shared lakehouse table."""
    from oups_spark.store.manifest import (
        ChainFileList,
        DeltaLogManifest,
        Manifest,
        PosixTransport,
    )

    base = _fresh("store_deltalog_roundtrip")
    path = os.path.join(base, "events_dl")
    events = load(spark, sf_dir, "events")
    split = F.col("ts") < F.lit(T2).cast("timestamp")

    # (1) checkpoint commit: the bulk history
    OrderedDataset(spark, path, backend=DeltaLogManifest(PosixTransport())).write(
        df=events.filter(split), ordered_on="ts",
        row_group_target_size=2500,
    )
    # (2) delta commit: ordered append of the tail (fresh handle)
    OrderedDataset(spark, path, backend=DeltaLogManifest(PosixTransport())).write(
        df=events.filter(~split), ordered_on="ts",
        row_group_target_size=2500,
    )
    # (3) delta commit: row-level UPDATE (COW rewrite -> add + remove)
    OrderedDataset(spark, path, backend=DeltaLogManifest(PosixTransport())).update_where(
        [[("ts", ">=", pd.Timestamp(T1)), ("ts", "<", pd.Timestamp(T2))]],
        {"value": F.col("value") * 2},
    )
    # (4) delta commit: row-level DELETE
    OrderedDataset(spark, path, backend=DeltaLogManifest(PosixTransport())).delete_where(
        [[("event_type", "==", "error")]]
    )
    # (5) delta commit: maintenance compact coalesces off-target runs
    OrderedDataset(spark, path, backend=DeltaLogManifest(PosixTransport())).compact(
        row_group_target_size=10000
    )

    # the head must really be a CHAIN (checkpoint + >=2 deltas), and
    # the fresh read must really take the lazy reconstruction path
    man = Manifest.load(path, DeltaLogManifest(PosixTransport()))
    assert isinstance(man.files, ChainFileList), type(man.files)
    ds = OrderedDataset(spark, path, backend=DeltaLogManifest(PosixTransport()))
    return (
        ds.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.round(F.sum("value"), 6).alias("sum_val"),
        )
        .orderBy("event_type")
    )
