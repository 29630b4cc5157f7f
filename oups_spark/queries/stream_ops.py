"""Driver-facing AggStream queries (SURVEY §2.7): the incremental
chunked aggregation with process restarts between chunks must equal a
one-shot computation — the oracle is that one-shot, stated in plain
DuckDB SQL. This is the reference's restart-equivalence acceptance
gate (``test_segmentby_restart.py`` model) run cross-engine."""

from __future__ import annotations

import os

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from oups_spark.queries import register
from oups_spark.queries._scratch import fresh as _fresh
from oups_spark.store.dataset import OrderedDataset
from oups_spark.streaming.aggstream import AggStream, KeyConfig
from oups_spark.tables import load

_CUTS = ["2024-01-08", "2024-01-15", "2024-01-23"]

_AGG = {
    "first_val": ("value", "first"),
    "last_val": ("value", "last"),
    "min_val": ("value", "min"),
    "max_val": ("value", "max"),
    "sum_val": ("value", "sum"),
}


def _events_stream_reader(spark, sf_dir, raw_schema):
    """File-source reader for the events table that works for BOTH
    layouts: a single file named ``events.parquet`` (the driver
    testdata) and a directory ``events.parquet/`` of part files (any
    Spark-written copy, e.g. the scale probe's). FileStreamSource
    needs a directory base path, so the single-file case streams the
    parent dir narrowed by a glob filter."""
    src = os.path.join(sf_dir, "events.parquet")
    rs = spark.readStream.schema(raw_schema)
    if os.path.isdir(src):
        return rs.parquet(src)
    return rs.option("pathGlobFilter", "events.parquet").parquet(sf_dir)


def _run_chunked(spark, sf_dir, base, *, bin_by, snap_by=None):
    """Feed events in 4 cumulative chunks, each through a FRESH
    AggStream (state restored from dataset metadata every time);
    intermediate chunks use discard_last, the final call does not —
    so every row is processed exactly once."""
    events = load(spark, sf_dir, "events")
    chunks = [
        events.filter(F.col("ts") < F.lit(c).cast("timestamp")) for c in _CUTS
    ] + [events]
    for i, chunk in enumerate(chunks):
        cfg = KeyConfig(
            path=os.path.join(base, "bins"),
            snap_path=os.path.join(base, "snaps"),
            agg=_AGG,
            bin_by=bin_by,
            snap_by=snap_by,
        )
        stream = AggStream(spark, ordered_on="ts", keys={"k": cfg})
        stream.agg(chunk, discard_last=(i < len(chunks) - 1))
    return base


_BIN_ORACLE = """
    SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
           arg_min(value, ts)   AS first_val,
           arg_max(value, ts)   AS last_val,
           round(min(value), 6) AS min_val,
           round(max(value), 6) AS max_val,
           round(sum(value), 6) AS sum_val
    FROM events GROUP BY 1 ORDER BY 1
"""


@register("aggstream_hourly_restart", oracle=_BIN_ORACLE)
def aggstream_hourly_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly bins built incrementally in 4 chunks with a process
    restart (fresh AggStream, state from kv metadata) between each;
    must equal the one-shot SQL aggregation."""
    base = _run_chunked(
        spark, sf_dir, _fresh("aggstream_hourly_restart"), bin_by="1h"
    )
    out = OrderedDataset(spark, os.path.join(base, "bins")).read()
    return out.select(
        "bin",
        "first_val",
        "last_val",
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
        F.round("sum_val", 6).alias("sum_val"),
    ).orderBy("bin")


_SNAP_ORACLE = """
    WITH partials AS (
      SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 86400000000) AS bin,
             make_timestamp(least(
               epoch_us(ts) - epoch_us(ts) % 21600000000 + 21600000000,
               epoch_us(ts) - epoch_us(ts) % 86400000000 + 86400000000)) AS snap,
             arg_min(value, ts) AS p_first,
             arg_max(value, ts) AS p_last,
             min(value) AS p_min, max(value) AS p_max, sum(value) AS p_sum
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT bin, bin + k * (INTERVAL 6 HOUR) AS snap
      FROM (SELECT unnest(generate_series((SELECT min(bin) FROM partials),
                                          (SELECT max(bin) FROM partials),
                                          INTERVAL 1 DAY)) AS bin),
           (SELECT unnest(generate_series(1, 4)) AS k)
    )
    SELECT bin, snap,
           first_value(p_first IGNORE NULLS) OVER w AS first_val,
           last_value(p_last IGNORE NULLS)   OVER w AS last_val,
           round(min(p_min) OVER w, 6)       AS min_val,
           round(max(p_max) OVER w, 6)       AS max_val,
           round(sum(p_sum) OVER w, 6)       AS sum_val
    FROM grid LEFT JOIN partials USING (bin, snap)
    WINDOW w AS (PARTITION BY bin ORDER BY snap
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY bin, snap
"""


@register("aggstream_snapshots_restart", oracle=_SNAP_ORACLE)
def aggstream_snapshots_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bins + 6h point-in-time snapshots built incrementally
    with restarts; the open bin's snapshot rows are overwritten by
    later flushes via keep-last dedup on (bin, snap)."""
    base = _run_chunked(
        spark, sf_dir, _fresh("aggstream_snapshots_restart"),
        bin_by="1D", snap_by="6h",
    )
    out = OrderedDataset(spark, os.path.join(base, "snaps")).read()
    return out.select(
        "bin",
        "snap",
        "first_val",
        "last_val",
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
        F.round("sum_val", 6).alias("sum_val"),
    ).orderBy("bin", "snap")


@register(
    "streaming_native_hourly",
    oracle="""
    WITH agged AS (
      SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
             arg_min(value, ts)   AS first_val,
             arg_max(value, ts)   AS last_val,
             round(min(value), 6) AS min_val,
             round(max(value), 6) AS max_val,
             round(sum(value), 6) AS sum_val
      FROM events GROUP BY 1
    ), mx AS (SELECT max(ts) AS m FROM events)
    SELECT bin, first_val, last_val, min_val, max_val, sum_val
    FROM agged, mx
    WHERE bin + INTERVAL 1 HOUR <= m
    ORDER BY bin
    """,
)
def streaming_native_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE Structured Streaming path (readStream -> watermarked
    tumbling window -> append-mode foreachBatch into the ordered
    store, availableNow trigger): hourly bins emit exactly once when
    the watermark passes their end, so the result equals the batch
    aggregation MINUS the unclosed final bin — the streaming twin of
    AggStream's discard_last completeness gate, and the oracle states
    exactly that."""
    from oups_spark.streaming.native import (
        streaming_segment_agg,
        write_stream_to_dataset,
    )
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_hourly")
    path = os.path.join(base, "bins_ds")
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema
    stream = _events_stream_reader(spark, sf_dir, raw_schema)
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agged = streaming_segment_agg(
        stream, "ts", _AGG, bin_by="1h", watermark="0 seconds"
    )
    write_stream_to_dataset(
        agged, path, checkpoint_dir=os.path.join(base, "ckpt")
    )
    out = OrderedDataset(spark, path).read()
    return out.select(
        "bin",
        "first_val",
        "last_val",
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
        F.round("sum_val", 6).alias("sum_val"),
    ).orderBy("bin")


@register(
    "streaming_native_weekly",
    oracle="""
    WITH agged AS (
      SELECT date_trunc('week', ts) AS bin,
             arg_min(value, ts)   AS first_val,
             arg_max(value, ts)   AS last_val,
             round(min(value), 6) AS min_val,
             round(max(value), 6) AS max_val,
             round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2)
               AS sum_val
      FROM events GROUP BY 1
    ), mx AS (SELECT max(ts) AS m FROM events)
    SELECT bin, first_val, last_val, min_val, max_val, sum_val
    FROM agged, mx
    WHERE bin + INTERVAL 7 DAY <= m
    ORDER BY bin
    """,
)
def streaming_native_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly MONDAY-anchored bins through the native streaming path
    (VERDICT r10 #3; reference weekly grids via pandas TimeGrouper,
    ``segmentby.py:211-222``): ``F.window`` anchors buckets at the
    epoch — a Thursday — so ``streaming_segment_agg`` shifts the grid
    with ``startTime='4 days'`` (``window_start_time``) to coincide
    with batch ``floor_ts('W')``; the oracle's ``date_trunc('week')``
    is the Monday convention stated independently. Completeness gate
    as in the hourly twin: only bins whose end the watermark passed
    emit. The weekly sum spans ~10x more rows than the hourly query,
    so it is summed on the integer cent grid (exact in any partial
    order) instead of relying on 6dp rounding."""
    from oups_spark.streaming.native import (
        streaming_segment_agg,
        write_stream_to_dataset,
    )
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_weekly")
    path = os.path.join(base, "bins_ds")
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema
    stream = _events_stream_reader(spark, sf_dir, raw_schema)
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    stream = stream.withColumn(
        "value_c", F.round(F.col("value") * 100).cast("long")
    )
    agg = dict(_AGG, sum_val=("value_c", "sum"))
    agged = streaming_segment_agg(
        stream, "ts", agg, bin_by="1W", watermark="0 seconds"
    )
    write_stream_to_dataset(
        agged, path, checkpoint_dir=os.path.join(base, "ckpt")
    )
    out = OrderedDataset(spark, path).read()
    return out.select(
        "bin",
        "first_val",
        "last_val",
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
        F.round(F.col("sum_val") / 100.0, 2).alias("sum_val"),
    ).orderBy("bin")


# Irregular bin ends for the streamed by_scale gate — mid-stream
# edges (some between chunk cuts, one straddling a cut, one empty
# sliver, one past the data) exercise fold-across-chunks, the
# exactly-once empty-bin materialization, and the final open bin.
_STREAM_EDGES = [
    "2024-01-03 07:11:00",
    "2024-01-08 00:00:00",       # exactly on a chunk cut
    "2024-01-08 00:00:01",       # near-empty sliver just after it
    "2024-01-17 18:30:00",
    "2024-01-26 12:00:00",
]
_EDGE_BIN_ORACLE = (
    "WITH ends AS (SELECT * FROM (VALUES "
    + ", ".join(f"({i}, TIMESTAMP '{e}')" for i, e in enumerate(_STREAM_EDGES))
    + """) AS t(i, e)),
    assigned AS (
      SELECT (SELECT min(i) FROM ends WHERE ts < e) AS i, value, ts
      FROM events
    ), agged AS (
      SELECT i,
             arg_min(value, ts)   AS first_val,
             arg_max(value, ts)   AS last_val,
             round(min(value), 6) AS min_val,
             round(max(value), 6) AS max_val,
             round(sum(value), 6) AS sum_val
      FROM assigned WHERE i IS NOT NULL GROUP BY i
    )
    SELECT e AS bin, first_val, last_val, min_val, max_val, sum_val
    FROM ends LEFT JOIN agged USING (i)
    WHERE e <= (SELECT max(ts) FROM events) OR first_val IS NOT NULL
    ORDER BY i
    """
)


@register("aggstream_edge_bins_restart", oracle=_EDGE_BIN_ORACLE)
def aggstream_edge_bins_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-edge bin_by through the chunked/restarted AggStream
    (reference streamed ``by_scale`` Series, ``segmentby.py:225-236``):
    4 chunks, fresh AggStream per chunk, irregular bin ends including
    one exactly on a chunk cut and an empty sliver — must equal the
    one-shot SQL edge binning. Empty bins materialize once their end
    passes the watermark; an edge past the stream's end stays
    unwritten unless it holds data (the open bin)."""
    import pandas as pd

    base = _run_chunked(
        spark, sf_dir, _fresh("aggstream_edge_bins"),
        bin_by=[pd.Timestamp(e) for e in _STREAM_EDGES],
    )
    out = OrderedDataset(spark, os.path.join(base, "bins")).read()
    return out.select(
        "bin",
        "first_val",
        "last_val",
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
        F.round("sum_val", 6).alias("sum_val"),
    ).orderBy("bin")


@register(
    "streaming_native_sessions",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 2 DAY
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), y AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    ), s AS (
      SELECT user_id,
             min(ts)                  AS session_start,
             max(ts) + INTERVAL 2 DAY AS session_end,
             count(*)                 AS n_events,
             round(sum(value), 6)     AS sum_val
      FROM y GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events, sum_val
    FROM s WHERE session_end <= (SELECT max(ts) FROM events)
    ORDER BY user_id, session_start
    """,
)
def streaming_native_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization on a NATIVE Structured Stream: the
    SAME batch operator (``session_agg`` — one declarative
    ``F.session_window`` plan) runs unchanged over a watermarked
    ``readStream``, append mode, foreachBatch into the ordered store.
    The state store merges session fragments across micro-batches; a
    session emits exactly once, when the watermark passes its end
    (last event + gap). Result == the batch sessionization MINUS
    sessions whose end is still ahead of the final watermark — the
    session twin of ``streaming_native_hourly``'s completeness gate,
    and the oracle states exactly that."""
    from oups_spark.operators.sessionize import session_agg
    from oups_spark.streaming.native import write_stream_to_dataset
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_sessions")
    path = os.path.join(base, "sessions_ds")
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema
    stream = _events_stream_reader(spark, sf_dir, raw_schema)
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agged = session_agg(
        stream.withWatermark("ts", "0 seconds"),
        "ts",
        {"n_events": ("event_id", "count"), "sum_val": ("value", "sum")},
        gap="2 days",
        partition_by=["user_id"],
    )
    write_stream_to_dataset(
        agged,
        path,
        bin_col="session_start",
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    out = OrderedDataset(spark, path).read()
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("sum_val", 6).alias("sum_val"),
    ).orderBy("user_id", "session_start")


@register(
    "streaming_stateful_ffill",
    oracle="""
    WITH m AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type <> 'error' THEN value END AS v
      FROM events
    )
    SELECT event_id,
           round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS v_ffill
    FROM m ORDER BY event_id
    """,
)
def streaming_stateful_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator (applyInPandasWithState):
    per-user forward fill where the carry is a single checkpointed
    state-store value per key — semantics Spark's built-in streaming
    aggregations can't express (T5 accumulator carry, reference
    ``aggstream.py`` buffer model, re-expressed on the native state
    store). Equals the batch window form since micro-batches arrive
    event-time-ordered."""
    from oups_spark.streaming.stateful import stateful_ffill
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_stateful_ffill")
    path = os.path.join(base, "ffill_ds")
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema
    stream = _events_stream_reader(spark, sf_dir, raw_schema)
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    masked = stream.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
    )
    filled = stateful_ffill(
        masked,
        key="user_id",
        ordered_on="ts",
        tiebreak="event_id",
        value_col="v",
        id_col="event_id",
    )
    from oups_spark.streaming.native import write_stream_to_dataset

    write_stream_to_dataset(
        filled, path, bin_col="event_id",
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    out = OrderedDataset(spark, path).read()
    return out.select(
        "event_id", F.round("v_ffill", 6).alias("v_ffill")
    ).orderBy("event_id")


@register(
    "streaming_dedup_ingest",
    oracle="""
    SELECT event_id, ts, user_id, event_type, round(value, 6) AS value
    FROM events ORDER BY event_id
    """,
)
def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest: the source is deliberately
    DOUBLED (every row emitted twice — the at-least-once delivery a
    real queue gives you) and ``dropDuplicatesWithinWatermark`` on
    the event id collapses the redeliveries with state bounded by the
    watermark horizon (keys older than the watermark are evicted —
    state is O(events per horizon), not O(stream)). The ordered-store
    sink's keep-last merge would absorb any residual duplicate that
    slipped past a longer redelivery gap. Result == the source table
    exactly, and the oracle states that."""
    from oups_spark.streaming.native import write_stream_to_dataset
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_dedup_ingest")
    path = os.path.join(base, "ingest_ds")
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema
    stream = _events_stream_reader(spark, sf_dir, raw_schema)
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    doubled = stream.withColumn(
        "__copy", F.explode(F.array(F.lit(1), F.lit(2)))
    ).drop("__copy")
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    ).select("event_id", "ts", "user_id", "event_type", "value")
    write_stream_to_dataset(
        deduped, path, bin_col="event_id",
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    out = OrderedDataset(spark, path).read()
    return out.select(
        "event_id", "ts", "user_id", "event_type",
        F.round("value", 6).alias("value"),
    ).orderBy("event_id")


@register(
    "streaming_interval_join",
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id  AS user_id,
           c.ts       AS click_ts,
           round(epoch(p.ts) - epoch(c.ts), 6) AS delay_s
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 6 HOUR
    ORDER BY click_id, purchase_id
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE stream-stream interval join: clicks joined to the same
    user's purchases within the following 6 hours, both sides
    watermarked so the state store can evict a click once no
    qualifying purchase can still arrive (state is O(events per
    horizon), not O(stream) — the event-time range condition is what
    makes the join state bounded; without it Spark rejects the plan).
    Inner-join matches emit in the micro-batch they complete in, so
    the result equals the batch interval join exactly — the oracle
    states that plain join. Sink: append-mode foreachBatch into the
    ordered store, keep-last dedup on (click_id, purchase_id)
    absorbing checkpoint-recovery redelivery.

    Reference parity: none (the reference has no joins,
    SURVEY.md §2.3) — beyond-reference streaming layer.
    """
    from oups_spark.streaming.native import write_stream_to_dataset
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_interval_join")
    path = os.path.join(base, "pairs_ds")
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema

    def _stream():
        s = _events_stream_reader(spark, sf_dir, raw_schema)
        for c in _ns_timestamp_cols(src):
            s = s.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return s.withColumn("ts", F.col("ts").cast("timestamp"))

    clicks = (
        _stream()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "0 seconds")
    )
    purchases = (
        _stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "0 seconds")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL 6 HOURS")),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        "click_ts",
        F.round(
            F.unix_micros("purchase_ts") / 1e6
            - F.unix_micros("click_ts") / 1e6,
            6,
        ).alias("delay_s"),
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            OrderedDataset(spark, path).write(
                df=batch_df.orderBy("click_id"),
                ordered_on="click_id",
                duplicates_on=["click_id", "purchase_id"],
                row_group_target_size=100_000,
                validate_monotonic=False,
            )

    from oups_spark.streaming.native import scoped_shuffle_partitions

    with scoped_shuffle_partitions(
        spark, int(os.environ.get("OUPS_STREAM_STATE_PARTITIONS", "8"))
    ):
        q = (
            joined.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option(
                "checkpointLocation", os.path.join(base, "ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = OrderedDataset(spark, path).read()
    return out.select(
        "click_id", "purchase_id", "user_id", "click_ts", "delay_s"
    ).orderBy("click_id", "purchase_id")


@register(
    "streaming_sliding_hourly",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, min(ts)) AS lo, max(ts) AS hi
      FROM events
    ),
    ws AS (
      SELECT unnest(generate_series(lo - INTERVAL 45 MINUTE, hi, INTERVAL 15 MINUTE)) AS w
      FROM b
    ),
    agged AS (
      SELECT ws.w AS win_start,
             count(e.ts)            AS n_events,
             round(sum(e.value), 6) AS sum_val
      FROM ws JOIN events e
        ON e.ts >= ws.w AND e.ts < ws.w + INTERVAL 1 HOUR
      GROUP BY ws.w
      HAVING count(e.ts) > 0
    )
    SELECT win_start, n_events, sum_val
    FROM agged, (SELECT max(ts) AS m FROM events) mx
    WHERE win_start + INTERVAL 1 HOUR <= mx.m
    ORDER BY win_start
    """,
)
def streaming_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING windows on a NATIVE Structured Stream (1h length, 15m
    slide): the stateful window operator fans each row into 4 open
    windows, append mode emits each window once at watermark passage
    — so the result equals the batch hopping aggregation
    (``sliding_window_1h_15m``) minus windows still open at the
    final watermark, and the oracle states exactly that."""
    from oups_spark.streaming.native import (
        streaming_segment_agg,
        write_stream_to_dataset,
    )
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_sliding_hourly")
    path = os.path.join(base, "wins_ds")
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema
    stream = _events_stream_reader(spark, sf_dir, raw_schema)
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    # count = sum of ones (the agg spec is the reference's closed
    # 5-func set, aggstream.py:47)
    stream = stream.withColumn("__one", F.lit(1).cast("long"))
    agged = streaming_segment_agg(
        stream,
        "ts",
        {"n_events": ("__one", "sum"), "sum_val": ("value", "sum")},
        bin_by="1h",
        slide_by="15min",
        watermark="0 seconds",
        bin_col="win_start",
    )
    write_stream_to_dataset(
        agged, path, bin_col="win_start",
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    out = OrderedDataset(spark, path).read()
    return out.select(
        "win_start",
        "n_events",
        F.round("sum_val", 6).alias("sum_val"),
    ).orderBy("win_start")


@register(
    "streaming_native_snapshots",
    oracle="""
    WITH fanned AS (
      -- literal replay of the implementation's fan-out: each row is
      -- observed by EVERY grid instant from its first observer
      -- (next 6h edge strictly above ts) through its bin's end, so
      -- trailing quiet instants of a populated bin carry the
      -- cumulative value forward
      SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 86400000000) AS bin,
             unnest(generate_series(
               make_timestamp(epoch_us(ts) - epoch_us(ts) % 21600000000
                              + 21600000000),
               make_timestamp(epoch_us(ts) - epoch_us(ts) % 86400000000
                              + 86400000000),
               INTERVAL 6 HOUR)) AS snap,
             value, ts
      FROM events
    ), wm AS (
      SELECT make_timestamp(epoch_us(max(ts)) - epoch_us(max(ts)) % 86400000000
                            + 86400000000) AS final_wm
      FROM events
    ), agged AS (
      SELECT bin, snap,
             arg_min(value, ts) AS first_val,
             arg_max(value, ts) AS last_val,
             round(min(value), 6) AS min_val,
             round(max(value), 6) AS max_val,
             round(sum(value), 6) AS sum_val
      FROM fanned GROUP BY 1, 2
    )
    SELECT bin, snap, first_val, last_val, min_val, max_val, sum_val
    FROM agged, wm WHERE snap + INTERVAL 6 HOUR <= wm.final_wm
    ORDER BY bin, snap
    """,
)
def streaming_native_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOTS on a NATIVE Structured Stream (W5/W6's one missing
    native twin, VERDICT r9 ask #5): every 6h instant, the cumulative
    aggregate of the in-progress daily bin — each row fans out to the
    ≤4 grid instants of its bin that observe it, then ONE watermarked
    window aggregation computes every snapshot directly (no running
    accumulation in state). Within a populated bin this EQUALS batch
    ``snapshot_agg`` including its forward-fill: every grid instant
    from the bin's first observation through bin end is emitted, and
    trailing quiet instants carry the cumulative value (they observe
    the same rows). Absent relative to the batch twin: instants
    BEFORE a bin's first observation, entirely-empty bins, and
    instants past the final watermark. The oracle replays the
    fan-out literally (each row fans to all later instants of its
    bin), cut at snap + 6h <= final watermark (the newest populated
    bin's end)."""
    from oups_spark.streaming.native import (
        streaming_snapshot_agg,
        write_stream_to_dataset,
    )
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_snapshots")
    path = os.path.join(base, "snaps_ds")
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema
    stream = _events_stream_reader(spark, sf_dir, raw_schema)
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agged = streaming_snapshot_agg(
        stream,
        "ts",
        {
            "first_val": ("value", "first"),
            "last_val": ("value", "last"),
            "min_val": ("value", "min"),
            "max_val": ("value", "max"),
            "sum_val": ("value", "sum"),
        },
        bin_by="1D",
        snap_by="6h",
        watermark="0 seconds",
    )
    write_stream_to_dataset(
        agged, path, bin_col="snap",
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    out = OrderedDataset(spark, path).read()
    return out.select(
        "bin",
        "snap",
        "first_val",
        "last_val",
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
        F.round("sum_val", 6).alias("sum_val"),
    ).orderBy("bin", "snap")


@register(
    "streaming_native_monthly",
    oracle="""
    WITH wm AS (
      SELECT date_trunc('day', max(o_orderdate) - INTERVAL 1 DAY)
             + INTERVAL 1 DAY AS final
      FROM orders
    ), m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS sum_price,
             round(min(o_totalprice), 2) AS min_price,
             round(max(o_totalprice), 2) AS max_price
      FROM orders GROUP BY 1
    )
    SELECT month, n_orders, sum_price, min_price, max_price
    FROM m, wm
    WHERE month + INTERVAL 1 MONTH <= wm.final
    ORDER BY month
    """,
)
def streaming_native_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR-frequency native streaming (months vary in length, so
    Spark's constant-duration window operator cannot stream them
    directly): stream FIXED daily windows — state bounded, each day
    emitted once at watermark passage — sink them, then an EXACT
    batch rollup (``rollup_closed_bins``) folds closed daily partials
    into calendar months, emitting only months whose end has passed
    the sink's final watermark (max emitted day + 1 day): the same
    completeness gate append mode applies to fixed windows, lifted to
    the calendar grid. count/sum/min/max fold losslessly from daily
    partials; the oracle is the one-shot monthly aggregation under
    the same cutoff."""
    from oups_spark.streaming.native import streaming_calendar_agg
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_monthly")
    src = os.path.join(sf_dir, "orders.parquet")
    raw_schema = spark.read.parquet(src).schema
    rs = spark.readStream.schema(raw_schema)
    stream = (
        rs.parquet(src)
        if os.path.isdir(src)
        else rs.option("pathGlobFilter", "orders.parquet").parquet(sf_dir)
    )
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn(
        "ts", F.col("o_orderdate").cast("timestamp")
    ).withColumn("__one", F.lit(1).cast("long"))
    # ONE restartable unit: daily stream + rollup behind a single
    # driver call with a shared checkpoint story (idempotent stages)
    out = streaming_calendar_agg(
        stream,
        "ts",
        {
            "n_orders": ("__one", "sum"),
            "sum_price": ("o_totalprice", "sum"),
            "min_price": ("o_totalprice", "min"),
            "max_price": ("o_totalprice", "max"),
        },
        bin_by="1MS",
        base_path=base,
        bin_col="month",
    )
    out = _read_or_fail(out, "streaming_native_monthly")
    return out.select(
        "month",
        "n_orders",
        F.round("sum_price", 2).alias("sum_price"),
        F.round("min_price", 2).alias("min_price"),
        F.round("max_price", 2).alias("max_price"),
    ).orderBy("month")


@register(
    "streaming_native_objectstore",
    oracle="""
    WITH agged AS (
      SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
             arg_min(value, ts)   AS first_val,
             arg_max(value, ts)   AS last_val,
             round(min(value), 6) AS min_val,
             round(max(value), 6) AS max_val,
             round(sum(value), 6) AS sum_val
      FROM events GROUP BY 1
    ), mx AS (SELECT max(ts) AS m FROM events)
    SELECT bin, first_val, last_val, min_val, max_val, sum_val
    FROM agged, mx
    WHERE bin + INTERVAL 1 HOUR <= m
    ORDER BY bin
    """,
)
def streaming_native_objectstore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming sink on the OBJECT-STORE transport (round-13:
    checkpoint-resume + conditional-put CAS compose): the hourly
    windowed aggregation streams in THREE micro-batches
    (maxFilesPerTrigger=1 over time-chunked copies), each batch's
    manifest commit going through ``InMemoryObjectStore``'s
    put-if-match protocol as one delta-log commit — no POSIX manifest
    exists anywhere — then a SECOND invocation resumes from the same
    checkpoint as a no-op (nothing new to commit; redelivery would be
    absorbed by the keep-last merge + CAS). Oracle = the batch hourly
    aggregation minus the unclosed final bin, identical to the
    POSIX-JSON twin's (``streaming_native_hourly``) — the manifest
    encoding and transport change the commit path, never the
    result."""
    from oups_spark.store.manifest import DeltaLogManifest, InMemoryObjectStore
    from oups_spark.streaming.native import (
        streaming_segment_agg,
        write_stream_to_dataset,
    )
    from oups_spark.tables import ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_objectstore")
    path = os.path.join(base, "bins_ds")
    src_dir = os.path.join(base, "chunks")
    events = load(spark, sf_dir, "events").select("ts", "value")
    _write_replay_chunks(events, _replay_cuts(events), src_dir)
    schema = _chunk_schema(spark, src_dir)
    backend = DeltaLogManifest(InMemoryObjectStore())

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agged = streaming_segment_agg(
            stream, "ts", _AGG, bin_by="1h", watermark="0 seconds"
        )
        write_stream_to_dataset(
            agged, path, checkpoint_dir=os.path.join(base, "ckpt"),
            backend=backend, conflict_retries=3,
        )

    run()
    run()  # checkpoint resume: a no-op second invocation
    out = OrderedDataset(spark, path, backend=backend).read()
    return out.select(
        "bin",
        "first_val",
        "last_val",
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
        F.round("sum_val", 6).alias("sum_val"),
    ).orderBy("bin")


@register(
    "streaming_native_snapshots_calendar",
    oracle="""
    WITH wm AS (
      SELECT date_trunc('day', max(o_orderdate) - INTERVAL 1 DAY)
             + INTERVAL 1 DAY AS final
      FROM orders
    ), base AS (
      SELECT CAST(o_orderdate AS TIMESTAMP) AS ts, o_totalprice AS value
      FROM orders, wm WHERE o_orderdate < wm.final
    ), partials AS (
      SELECT date_trunc('year', ts) AS bin,
             least(date_trunc('month', ts) + INTERVAL 1 MONTH,
                   date_trunc('year', ts) + INTERVAL 1 YEAR) AS snap,
             CAST(count(*) AS BIGINT) AS p_n,
             max(value) AS p_max,
             sum(value) AS p_sum
      FROM base GROUP BY 1, 2
    ), grid AS (
      SELECT bin, bin + to_months(CAST(k AS INT)) AS snap
      FROM (SELECT unnest(generate_series((SELECT min(bin) FROM partials),
                                          (SELECT max(bin) FROM partials),
                                          INTERVAL 1 YEAR)) AS bin),
           (SELECT unnest(generate_series(1, 12)) AS k)
    )
    SELECT bin, snap,
           CAST(coalesce(sum(p_n) OVER w, 0) AS BIGINT) AS n_orders,
           round(max(p_max) OVER w, 2)                  AS max_price,
           round(sum(p_sum) OVER w, 2)                  AS sum_price
    FROM grid LEFT JOIN partials USING (bin, snap), wm
    WHERE snap <= wm.final
    WINDOW w AS (PARTITION BY bin ORDER BY snap
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY bin, snap
    """,
)
def streaming_native_snapshots_calendar(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CALENDAR snapshots on the NATIVE streaming path (round-13 lift
    of the fixed-frequency restriction): monthly year-to-date
    snapshots inside yearly bins — both grids calendar-exact — from a
    stream, via the daily-tile two-level shape: fixed daily windows
    stream into a tiles dataset, then the batch ``snapshot_agg``
    re-observes the closed tiles at every month start (closed-left on
    the tile label ≡ whole-tile observation on the day-aligned month
    grid), cut at the final watermark. The oracle is the batch
    calendar-in-calendar snapshot statement (``snapshot_1y_1ms``'s)
    under the same cutoff — proving streamed == batch cut at the
    watermark."""
    from oups_spark.streaming.native import streaming_snapshot_calendar_agg
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_snapshots_calendar")
    src = os.path.join(sf_dir, "orders.parquet")
    raw_schema = spark.read.parquet(src).schema
    rs = spark.readStream.schema(raw_schema)
    stream = (
        rs.parquet(src)
        if os.path.isdir(src)
        else rs.option("pathGlobFilter", "orders.parquet").parquet(sf_dir)
    )
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn(
        "ts", F.col("o_orderdate").cast("timestamp")
    ).withColumn("__one", F.lit(1).cast("long"))
    out = streaming_snapshot_calendar_agg(
        stream,
        "ts",
        {
            "n_orders": ("__one", "sum"),
            "max_price": ("o_totalprice", "max"),
            "sum_price": ("o_totalprice", "sum"),
        },
        bin_by="1Y",
        snap_by="MS",
        base_path=base,
    )
    out = _read_or_fail(out, "streaming_native_snapshots_calendar")
    return out.select(
        "bin",
        "snap",
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
        F.round("max_price", 2).alias("max_price"),
        F.round("sum_price", 2).alias("sum_price"),
    ).orderBy("bin", "snap")


@register(
    "streaming_native_quarterly",
    oracle="""
    WITH wm AS (
      SELECT date_trunc('day', max(o_orderdate) - INTERVAL 1 DAY)
             + INTERVAL 1 DAY AS final
      FROM orders
    ), q AS (
      SELECT date_trunc('quarter', o_orderdate) AS quarter,
             arg_min(o_totalprice,
                     printf('%020d-%012d', epoch_us(o_orderdate),
                            o_orderkey)) AS first_price,
             arg_max(o_totalprice,
                     printf('%020d-%012d', epoch_us(o_orderdate),
                            o_orderkey)) AS last_price,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT quarter, first_price, last_price, n_orders
    FROM q, wm
    WHERE quarter + INTERVAL 3 MONTH <= wm.final
    ORDER BY quarter
    """,
)
def streaming_native_quarterly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarterly native streaming through the SAME two-level shape as
    ``streaming_native_monthly`` (daily windows + exact calendar
    rollup, bin_by='3MS'), but exercising the ORDER-DEPENDENT fold
    paths in the driver gate: quarterly first/last are min_by/max_by
    of the daily first/last partials over the day label, with an
    o_orderkey tiebreak inside each day (many orders share a date).
    The oracle keys arg_min/arg_max on the padded
    (epoch, orderkey) string — lexicographically identical to the
    engine's (ts, orderkey) struct ordering."""
    from oups_spark.streaming.native import streaming_calendar_agg
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_quarterly")
    src = os.path.join(sf_dir, "orders.parquet")
    raw_schema = spark.read.parquet(src).schema
    rs = spark.readStream.schema(raw_schema)
    stream = (
        rs.parquet(src)
        if os.path.isdir(src)
        else rs.option("pathGlobFilter", "orders.parquet").parquet(sf_dir)
    )
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn(
        "ts", F.col("o_orderdate").cast("timestamp")
    ).withColumn("__one", F.lit(1).cast("long"))
    out = streaming_calendar_agg(
        stream,
        "ts",
        {
            "first_price": ("o_totalprice", "first"),
            "last_price": ("o_totalprice", "last"),
            "n_orders": ("__one", "sum"),
        },
        bin_by="3MS",
        base_path=base,
        bin_col="quarter",
        tiebreak=["o_orderkey"],
    )
    out = _read_or_fail(out, "streaming_native_quarterly")
    return out.select(
        "quarter", "first_price", "last_price", "n_orders"
    ).orderBy("quarter")


@register(
    "streaming_native_snapshots_ffill",
    oracle="""
    WITH fanned AS (
      SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 86400000000) AS bin,
             unnest(generate_series(
               make_timestamp(epoch_us(ts) - epoch_us(ts) % 21600000000
                              + 21600000000),
               make_timestamp(epoch_us(ts) - epoch_us(ts) % 86400000000
                              + 86400000000),
               INTERVAL 6 HOUR)) AS snap,
             value, ts
      FROM events
    ), wm AS (
      SELECT make_timestamp(epoch_us(max(ts)) - epoch_us(max(ts)) % 86400000000
                            + 86400000000) AS final_wm
      FROM events
    ), agged AS (
      SELECT bin, snap,
             arg_min(value, ts) AS first_val,
             arg_max(value, ts) AS last_val,
             round(min(value), 6) AS min_val,
             round(max(value), 6) AS max_val,
             round(sum(value), 6) AS sum_val
      FROM fanned GROUP BY 1, 2
    ), emitted AS (
      SELECT a.* FROM agged a, wm WHERE a.snap + INTERVAL 6 HOUR <= wm.final_wm
    ), b AS (
      SELECT min(bin) AS lo, max(bin) AS hi, max(snap) AS cut FROM emitted
    ), grid AS (
      SELECT bins.bin,
             unnest(generate_series(bins.bin + INTERVAL 6 HOUR,
                                    bins.bin + INTERVAL 24 HOUR,
                                    INTERVAL 6 HOUR)) AS snap
      FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bin
            FROM b) bins
    )
    SELECT g.bin, g.snap,
           e.first_val, e.last_val, e.min_val, e.max_val, e.sum_val
    FROM grid g
    LEFT JOIN emitted e ON e.bin = g.bin AND e.snap = g.snap
    CROSS JOIN b
    WHERE g.snap <= b.cut
    ORDER BY g.bin, g.snap
    """,
)
def streaming_native_snapshots_ffill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``streaming_native_snapshots`` + the sink-side calendar fill
    (``fill_snapshot_grid``): quiet instants the append-mode stream
    never emitted — instants before a bin's first observation and
    entirely-empty bins — are materialized with NULL aggregates,
    exactly the batch ``snapshot_agg`` values for them (reference
    ``cumsegagg.py:556-569``). The result equals the batch twin cut
    at the final watermark (``snap <= max emitted instant``), which
    the pytest twin test asserts literally; the oracle replays the
    streamed fan-out, then left-joins the full calendar grid of the
    emitted bin span."""
    from oups_spark.streaming.native import (
        fill_snapshot_grid,
        streaming_snapshot_agg,
        write_stream_to_dataset,
    )
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_snapshots_ffill")
    path = os.path.join(base, "snaps_ds")
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema
    stream = _events_stream_reader(spark, sf_dir, raw_schema)
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agged = streaming_snapshot_agg(
        stream,
        "ts",
        {
            "first_val": ("value", "first"),
            "last_val": ("value", "last"),
            "min_val": ("value", "min"),
            "max_val": ("value", "max"),
            "sum_val": ("value", "sum"),
        },
        bin_by="1D",
        snap_by="6h",
        watermark="0 seconds",
    )
    write_stream_to_dataset(
        agged, path, bin_col="snap",
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    out = fill_snapshot_grid(
        OrderedDataset(spark, path).read(), bin_by="1D", snap_by="6h"
    )
    return out.select(
        "bin",
        "snap",
        "first_val",
        "last_val",
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
        F.round("sum_val", 6).alias("sum_val"),
    ).orderBy("bin", "snap")


_FGQ_W = (1000.0 - 0.0) / 256.0  # 3.90625, exact in binary


@register(
    "streaming_quantile_ingest",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             LEAST(GREATEST(CAST(floor((value - 0.0) / {_FGQ_W!r}) AS INT),
                            0), 255) AS b,
             count(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, b, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY b) AS cum,
             sum(c) OVER (PARTITION BY event_type ORDER BY b) - c AS cum_prev,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM c
    ), qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
    SELECT event_type, q,
           round(0.0 + {_FGQ_W!r} * (CAST(b AS DOUBLE)
                 + (q * (n - 1) - CAST(cum_prev AS DOUBLE))
                   / CAST(c AS DOUBLE)), 6) AS approx_value
    FROM cum, qs
    WHERE CAST(cum_prev AS DOUBLE) <= q * (n - 1)
      AND q * (n - 1) < CAST(cum AS DOUBLE)
    ORDER BY event_type, q
    """,
)
def streaming_quantile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch maintenance under Structured Streaming — the
    fixed-grid twin of ``streaming_hll_ingest``: events arrive in 3
    micro-batches, each batch's (event_type, bucket) counts fold into
    the persisted count table by elementwise SUM inside
    ``foreachBatch`` (per-batch cost O(batch) + O(grid); the corpus
    is never rescanned), and the final p50/p90/p99 estimates from the
    merged counts must hash-equal the one-shot fixed-grid sketch over
    all events — sum-merge is commutative/associative, so any batch
    arrival order lands the same table."""
    from oups_spark.operators.sketch import (
        fixed_grid_counts,
        fixed_grid_quantiles,
    )

    base = _fresh("streaming_quantile_ingest")
    src_dir = os.path.join(base, "src")
    load(spark, sf_dir, "events").select(
        "event_type", "value"
    ).repartition(3).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    path = os.path.join(base, "grid_counts")
    grid = {"lo": 0.0, "hi": 1000.0, "n_bins": 256}

    def merge_batch(batch_df, _batch_id):
        from oups_spark.operators.sketch import fold_register_write

        counts = fixed_grid_counts(
            batch_df, "value", ["event_type"], **grid
        )
        # one job collects the batch's O(grid) counts; the sum-merge
        # into the persisted table runs driver-side (zero-job flush)
        fold_register_write(
            spark, OrderedDataset(spark, path), counts,
            keys=["event_type", "b"], value_col="c", merge="sum",
            ordered_on="event_type",
        )

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return fixed_grid_quantiles(
        OrderedDataset(spark, path).read(),
        [0.5, 0.9, 0.99],
        ["event_type"],
        **grid,
    ).orderBy("event_type", "q")


def _streaming_cm_oracle() -> str:
    # elementwise-sum merge is commutative and associative, so any
    # micro-batch arrival order produces the SAME register table as
    # one shot over the whole corpus — the oracle is the one-shot
    # heavy-hitters replay countmin_heavy_hitters already pins.
    from oups_spark.queries.quality_ops import _countmin_oracle

    return _countmin_oracle()


@register("streaming_countmin_ingest", oracle=_streaming_cm_oracle())
def streaming_countmin_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-sketch maintenance under Structured Streaming — the
    Count-Min member of the ingest family (HLL = max-merge,
    fixed-grid quantiles = bucket-sum, CM = counter-sum): documents
    arrive in 3 micro-batches and each batch's 4x1024 exact integer
    counters fold into the persisted register table by elementwise
    SUM inside ``foreachBatch``. Per-batch cost is O(batch) +
    O(depth x width); history is never rescanned. The final top-25
    heavy hitters from the merged table must hash-equal the one-shot
    sketch, whatever order the batches committed in."""
    from oups_spark.operators.sketch import (
        countmin_estimate,
        countmin_register_table,
    )
    from oups_spark.operators.text import tokens

    base = _fresh("streaming_countmin_ingest")
    src_dir = os.path.join(base, "src")
    load(spark, sf_dir, "documents").repartition(3).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    path = os.path.join(base, "cm_registers")

    def merge_batch(batch_df, _batch_id):
        from oups_spark.operators.sketch import fold_register_write

        regs = countmin_register_table(
            batch_df.select(F.explode(tokens(F.col("text"))).alias("tok")),
            "tok",
        )
        # one job collects the batch's O(sketch) registers; the fold
        # into the persisted table runs driver-side (zero-job flush)
        fold_register_write(
            spark, OrderedDataset(spark, path), regs,
            keys=["i", "b"], value_col="c", merge="sum", ordered_on="i",
        )

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    toks = load(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    est = countmin_estimate(OrderedDataset(spark, path).read(), toks, "tok")
    return est.orderBy(F.desc("cm_count"), "tok").limit(25)


def _streaming_hll_oracle() -> str:
    # max-merge is commutative and associative, so any micro-batch
    # arrival order produces the SAME register table as one shot over
    # the whole corpus — the oracle is that one shot (the same
    # mergeability contract incremental_hll_ingest pins batch-wise).
    from oups_spark.queries.store_ops import _incr_hll_oracle

    return _incr_hll_oracle()


@register("streaming_hll_ingest", oracle=_streaming_hll_oracle())
def streaming_hll_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch maintenance under Structured Streaming: documents
    arrive in 3 micro-batches (file source, ``maxFilesPerTrigger=1``,
    availableNow) and each batch's HLL registers fold into the
    persisted store table inside ``foreachBatch`` — per-batch cost is
    O(batch) + O(sketch); the corpus is never rescanned. The final
    per-source estimates must hash-equal the one-shot sketch over all
    documents, whatever order the batches committed in."""
    from oups_spark.operators.sketch import hll_estimate, hll_register_table
    from oups_spark.operators.text import tokens

    base = _fresh("streaming_hll_ingest")
    src_dir = os.path.join(base, "src")
    load(spark, sf_dir, "documents").repartition(3).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    path = os.path.join(base, "hll_registers")

    def merge_batch(batch_df, _batch_id):
        from oups_spark.operators.sketch import fold_register_write

        regs = hll_register_table(
            batch_df.select(
                "source", F.explode(tokens(F.col("text"))).alias("tok")
            ),
            "tok",
            ["source"],
            p=8,
        )
        # one job collects the batch's O(sketch) registers; the
        # max-merge into the persisted table runs driver-side
        fold_register_write(
            spark, OrderedDataset(spark, path), regs,
            keys=["source", "j"], value_col="M", merge="max",
            ordered_on="source",
        )

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return hll_estimate(
        OrderedDataset(spark, path).read(), ["source"], p=8
    ).orderBy("source")


def _read_or_fail(ds, qname: str):
    """Calendar-streaming units return None when no bin/snapshot has
    closed yet (empty source, or all rows in the still-open first
    bin) — surface that as a clear error instead of an
    AttributeError; real callers decide between retrying later and
    treating it as an empty result."""
    if ds is None:
        raise ValueError(
            f"{qname}: no calendar bin has closed yet — nothing to read"
        )
    return ds.read()


def _replay_cuts(events):
    """Three time-ordered chunk predicates for replaying events as a
    changelog. Approx percentiles are fine: the cuts only SPLIT the
    replay into batches, and any split is equally correct because
    the keep-last merge is order-insensitive."""
    cuts = events.select(
        F.expr("approx_percentile(unix_micros(cast(ts as timestamp)), 0.34)"),
        F.expr("approx_percentile(unix_micros(cast(ts as timestamp)), 0.67)"),
    ).first()
    c1, c2 = int(cuts[0]), int(cuts[1])
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return [us <= c1, (us > c1) & (us <= c2), us > c2]


def _write_replay_chunks(df, conds, src_dir: str) -> None:
    """Write every replay chunk in ONE Spark job: tag each row with
    its chunk id (``conds`` must be disjoint and exhaustive),
    repartition by the tag so each chunk lands wholly in one task
    (=> exactly one file per ``__chunk=i`` dir), and partitionBy-write.
    Replaces N separate filter+coalesce(1) writes, each of which
    re-scanned the source (guide §2: one pass instead of N).

    The streaming readers use ``recursiveFileLookup`` with an explicit
    schema, so the partition dirs are opaque and the per-file rows are
    identical to the old per-chunk writes. ``maxFilesPerTrigger=1``
    orders micro-batches by file modification time — pinned here
    explicitly (chunk i at +i seconds) so time-ordered replays stay
    time-ordered; a single write job would otherwise leave the tie to
    the filesystem, and watermarked consumers would drop late rows if
    a later chunk ever sorted first."""
    import glob
    import time as _time

    tag = F.when(conds[0], 0)
    for i, c in enumerate(conds[1:], start=1):
        tag = tag.when(c, i)
    (
        df.withColumn("__chunk", tag)
        .repartition(len(conds), "__chunk")
        .write.mode("overwrite")
        .partitionBy("__chunk")
        .parquet(src_dir)
    )
    now = _time.time()
    for i in range(len(conds)):
        for f in glob.glob(os.path.join(src_dir, f"__chunk={i}", "*.parquet")):
            os.utime(f, (now + i, now + i))


def _chunk_schema(spark, src_dir: str):
    """Data schema of the replay chunk files (recursiveFileLookup
    disables partition-column inference, so ``__chunk`` stays a
    directory name, not a column)."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(src_dir)
        .schema
    )


@register(
    "cdc_upsert_stream",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           round(value, 6) AS last_value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
    """,
)
def cdc_upsert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert (MERGE-shaped sink): events replayed as a
    keyed changelog — user_id is the key, 'error' rows are DELETE
    tombstones, everything else upserts — in THREE micro-batches
    (maxFilesPerTrigger=1 over a time-chunked copy), each merged into
    a bucket-partitioned current-state table that rewrites ONLY the
    buckets the batch touches (dynamic partition overwrite). The
    oracle is the one-shot statement: latest row per key, keys whose
    latest op is a delete absent. Work per batch is O(batch +
    touched buckets), never O(table) — the lakehouse MERGE shape."""
    from oups_spark.streaming.cdc import cdc_upsert_sink, read_current
    from oups_spark.tables import ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("cdc_upsert_stream")
    src_dir = os.path.join(base, "changelog_src")
    table = os.path.join(base, "state")

    events = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    # three time-ordered chunk files -> three real merge rounds
    # (users recur across chunks, so later batches genuinely update
    # keys written by earlier ones)
    _write_replay_chunks(events, _replay_cuts(events), src_dir)
    schema = _chunk_schema(spark, src_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
        .withColumn("is_delete", F.col("event_type") == "error")
        .drop("event_type")
    )
    cdc_upsert_sink(
        stream,
        table,
        key="user_id",
        order_cols=["ts", "event_id"],
        n_buckets=16,
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    cur = read_current(spark, table, delete_col="is_delete")
    return cur.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.round("value", 6).alias("last_value"),
    ).orderBy("user_id")


@register(
    "cdc_merge_stream",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           round(value, 6) AS last_value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
    """,
)
def cdc_merge_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC through the store's MERGE INTO (round-13
    unification — one store, one commit protocol): the same keyed
    changelog replay as ``cdc_upsert_stream`` (user_id key, 'error'
    rows are DELETE tombstones, THREE micro-batches), but the sink is
    a foreachBatch ``OrderedDataset.merge_into`` — matched rows
    update to the source values gated on keep-last order, unmatched
    rows insert, deletes persist as tombstone rows, and each batch is
    one tombstone/CAS/rebase commit with stats-pruned rewrites (time
    travel and conflict rebase apply automatically). A final
    ``delete_where`` vacuum GCs the tombstones (the stream is fully
    drained, so none still guards late data). Oracle = the one-shot
    keep-last statement — identical to the bucketed sink's, proving
    the two sinks compute the same state."""
    from oups_spark.streaming.cdc import (
        cdc_merge_sink,
        cdc_merge_vacuum,
        read_current_ds,
    )
    from oups_spark.tables import ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("cdc_merge_stream")
    src_dir = os.path.join(base, "changelog_src")

    events = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    _write_replay_chunks(events, _replay_cuts(events), src_dir)
    schema = _chunk_schema(spark, src_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
        .withColumn("is_delete", F.col("event_type") == "error")
        .drop("event_type")
    )
    ds = OrderedDataset(spark, os.path.join(base, "state_ds"))
    cdc_merge_sink(
        stream,
        ds,
        key="user_id",
        order_cols=["ts", "event_id"],
        delete_col="is_delete",
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    cdc_merge_vacuum(ds, delete_col="is_delete")
    cur = read_current_ds(ds, delete_col="is_delete")
    return cur.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.round("value", 6).alias("last_value"),
    ).orderBy("user_id")


@register(
    "cdc_incremental_minmax",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT event_type AS g,
           round(min(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 6)
             AS min_val,
           round(max(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 6)
             AS max_val,
           CAST(count(value) AS BIGINT) AS n_valued
    FROM ranked WHERE rn = 1 AND event_type <> 'error' AND value IS NOT NULL
    GROUP BY event_type ORDER BY g
    """,
)
def cdc_incremental_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON-INVERTIBLE aggregates under retraction: min/max of each
    user's latest state per event type, maintained across three
    changelog batches. min/max cannot retract directly, so the
    maintenance rides a counted VALUE MULTISET per group (the classic
    IVM auxiliary structure) — count deltas are invertible even
    though the aggregate is not, updates move keys between groups,
    deletes retract, and the read-time min/max over count>0 values is
    bit-equal to the one-shot oracle on the integer grid."""
    from oups_spark.streaming.ivm import (
        cdc_merge_batch_with_minmax,
        read_minmax,
    )
    from oups_spark.tables import ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("cdc_incremental_minmax")
    state = os.path.join(base, "state")
    hist = os.path.join(base, "hist")
    events = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    chunk = events.withColumn(
        "is_delete", F.col("event_type") == "error"
    )
    for cond in _replay_cuts(events):
        cdc_merge_batch_with_minmax(
            spark,
            chunk.filter(cond),
            state,
            hist,
            key="user_id",
            order_cols=["ts", "event_id"],
            group_col="event_type",
            value_col="value",
            delete_col="is_delete",
            n_buckets=16,
        )
    return read_minmax(spark, hist).orderBy("g")


@register(
    "cdc_incremental_agg",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT event_type AS g,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 6)
             AS sum_val
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    GROUP BY event_type ORDER BY g
    """,
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained aggregate over a CDC upsert table
    (the delta rule): per-event-type count and value sum of each
    user's LATEST state, updated across three changelog batches by
    retracting old contributions and adding new ones — updates move
    a key between groups, deletes retract without adding, and
    history is never rescanned. The value sum rides an integer grid
    so the incremental total is bit-EQUAL to the one-shot oracle —
    the equality IS the retraction-correctness proof."""
    from oups_spark.streaming.ivm import cdc_merge_batch_with_agg, read_agg
    from oups_spark.tables import ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("cdc_incremental_agg")
    state = os.path.join(base, "state")
    aggp = os.path.join(base, "agg")
    events = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    chunk = events.withColumn(
        "is_delete", F.col("event_type") == "error"
    )
    for cond in _replay_cuts(events):
        cdc_merge_batch_with_agg(
            spark,
            chunk.filter(cond),
            state,
            aggp,
            key="user_id",
            order_cols=["ts", "event_id"],
            group_col="event_type",
            value_col="value",
            delete_col="is_delete",
            n_buckets=16,
        )
    return read_agg(spark, aggp).orderBy("g")


@register(
    "streaming_native_volume_bars",
    oracle="""
    WITH x AS (
      SELECT ts, event_id, value,
             coalesce(sum(value) OVER (
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cv
      FROM events
    ), y AS (
      SELECT *, CAST(floor(cv / 5000) AS BIGINT) AS bin_id FROM x
    )
    SELECT bin_id,
           min(ts)              AS bin_start,
           max(ts)              AS bin_end,
           count(*)             AS n_rows,
           round(sum(value), 6) AS sum_vol
    FROM y
    GROUP BY bin_id
    HAVING bin_id < (SELECT CAST(floor(sum(value) / 5000) AS BIGINT)
                     FROM events)
    ORDER BY bin_id
    """,
)
def streaming_native_volume_bars(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUSTOM segmentation on the NATIVE streaming path — the last
    aggstream concept whose native twin was the foreachBatch bridge
    (reference W4 custom ``bin_by``, ``segmentby.py:735-800``).
    ``streaming_volume_bars`` carries the accumulator and the open
    bar's partial aggregates in the checkpointed state store
    (``applyInPandasWithState``, seven scalars per key); each
    micro-batch emits only bars that CLOSED (the accumulator is
    non-decreasing, so bars below the open one are final), and the
    open bar is withheld — T5 carry + T6 last-bin withholding on the
    native path. Result == batch ``volume_bars`` minus the still-open
    last bar; the oracle replays exactly that with a window prefix
    sum."""
    from oups_spark.streaming.native import write_stream_to_dataset
    from oups_spark.streaming.stateful import streaming_volume_bars
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_volume_bars")
    path = os.path.join(base, "bars_ds")
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema
    stream = _events_stream_reader(spark, sf_dir, raw_schema)
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    barred = streaming_volume_bars(
        stream.select("ts", "event_id", "value"),
        ordered_on="ts",
        volume_col="value",
        threshold=5000.0,
        tiebreak="event_id",
    )
    write_stream_to_dataset(
        barred, path, bin_col="bin_id",
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    out = OrderedDataset(spark, path).read()
    return out.select(
        "bin_id", "bin_start", "bin_end", "n_rows",
        F.round("sum_vol", 6).alias("sum_vol"),
    ).orderBy("bin_id")


@register(
    "streaming_native_rowcount_bins",
    oracle="""
    WITH x AS (
      SELECT ts, event_id, value,
             row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
      FROM events
    ), y AS (
      SELECT *, CAST(floor(rn / 500) AS BIGINT) AS bin_id FROM x
    )
    SELECT bin_id,
           min(ts)              AS bin_start,
           max(ts)              AS bin_end,
           count(*)             AS n_rows,
           round(sum(value), 6) AS sum_val
    FROM y
    GROUP BY bin_id
    HAVING bin_id < (SELECT CAST(floor(count(*) / 500) AS BIGINT)
                     FROM events)
    ORDER BY bin_id
    """,
)
def streaming_native_rowcount_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROW-COUNT bins on the NATIVE streaming path (reference W3's
    streaming twin): every 500 rows open a new bin, counted ACROSS
    micro-batches and restarts. Falls out of the volume-bar state
    machine with unit volume — bin = floor(rows_before / 500) — so the
    carried accumulator IS the global row count and the same
    closed-bars-only emission applies (the open, under-filled tail bin
    is withheld exactly like batch ``row_count_bins``' trailing
    partial under discard_last). Oracle replays the assignment with a
    window row_number minus the open bin."""
    from oups_spark.streaming.native import write_stream_to_dataset
    from oups_spark.streaming.stateful import streaming_volume_bars
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_rowcount_bins")
    path = os.path.join(base, "bins_ds")
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema
    stream = _events_stream_reader(spark, sf_dir, raw_schema)
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    barred = streaming_volume_bars(
        stream.select(
            "ts", "event_id", "value", F.lit(1.0).alias("__one")
        ),
        ordered_on="ts",
        volume_col="__one",
        threshold=500.0,
        tiebreak="event_id",
        value_col="value",
    )
    write_stream_to_dataset(
        barred, path, bin_col="bin_id",
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    out = OrderedDataset(spark, path).read()
    return out.select(
        "bin_id", "bin_start", "bin_end",
        F.col("sum_vol").cast("long").alias("n_rows"),
        F.round("sum_val", 6).alias("sum_val"),
    ).orderBy("bin_id")


@register(
    "streaming_native_autocompact",
    oracle="""
    WITH agged AS (
      SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bin,
             arg_min(value, ts)   AS first_val,
             arg_max(value, ts)   AS last_val,
             round(min(value), 6) AS min_val,
             round(max(value), 6) AS max_val,
             round(sum(value), 6) AS sum_val
      FROM events GROUP BY 1
    ), mx AS (SELECT max(ts) AS m FROM events)
    SELECT bin, first_val, last_val, min_val, max_val, sum_val
    FROM agged, mx
    WHERE bin + INTERVAL 1 HOUR <= m
    ORDER BY bin
    """,
)
def streaming_native_autocompact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sink AUTO-MAINTENANCE (round-14; reference
    auto-coalesces off-target row groups on every write,
    ``write.py:204-217``): the events replay as 4 week-long
    micro-batches (maxFilesPerTrigger=1 over time-cut chunk files),
    each committing ~180 closed hourly bins against a 150-row file
    target — every batch's files are UNDERSIZED (~90-row halves), so
    an unmaintained sink ends at ~2 small files per batch (~8). With
    ``max_n_off_target_rgs=3`` each write folds the trailing
    undersized run once it reaches 3 files, and ``compact_every=4``
    adds a periodic maintenance commit (here: once, on the final
    batch): the END-STATE FILE COUNT is pinned near the data-sized
    count while the rows are bit-identical to the single-shot
    statement (same oracle as streaming_native_hourly — maintenance
    commits must never change query results).

    Scale: this is the 100-TB posture for long-running sinks — a
    week of 1-minute micro-batches is ~10k files/dataset without
    coalescing; with it, file count tracks data size / target, not
    commit count, and each fold touches only the adjacent undersized
    run (bounded work per batch)."""
    from oups_spark.streaming.native import (
        streaming_segment_agg,
        write_stream_to_dataset,
    )
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_autocompact")
    path = os.path.join(base, "bins_ds")
    src_dir = os.path.join(base, "chunks")
    src = os.path.join(sf_dir, "events.parquet")

    # chunk prep is driver-side pyarrow (a raw slice of the source
    # file, ns timestamps untouched): 4 sequential Spark write jobs
    # would cost ~7 s of pure job overhead at this size. Sequential
    # writes give the file source its modification-time order.
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    raw = pq.read_table(src)
    os.makedirs(src_dir, exist_ok=True)
    cuts = [
        (pd.Timestamp("2024-01-01") + pd.Timedelta(days=8 * i),
         pd.Timestamp("2024-01-01") + pd.Timedelta(days=8 * (i + 1)))
        for i in range(4)
    ]
    ts_col = raw.column("ts")
    for i, (lo, hi) in enumerate(cuts):
        mask = pc.and_(
            pc.greater_equal(ts_col, pa.scalar(lo, type=ts_col.type)),
            pc.less(ts_col, pa.scalar(hi, type=ts_col.type)),
        )
        pq.write_table(
            raw.filter(mask), os.path.join(src_dir, f"chunk{i:02d}.parquet")
        )

    schema = spark.read.parquet(
        os.path.join(src_dir, "chunk00.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agged = streaming_segment_agg(
        stream, "ts", _AGG, bin_by="1h", watermark="0 seconds"
    )
    write_stream_to_dataset(
        agged,
        path,
        checkpoint_dir=os.path.join(base, "ckpt"),
        row_group_target_size=150,
        max_n_off_target_rgs=3,
        compact_every=4,
    )
    ds = OrderedDataset(spark, path)
    # maintenance pin: 719 closed bins / 150-row target. Unmaintained
    # = ~2 undersized files per batch (~8); maintained must sit near
    # the data-sized count (ceil(719/150) = 5, +tail slack)
    assert ds.n_files <= 6, f"auto-maintenance left {ds.n_files} files"
    out = ds.read()
    return out.select(
        "bin",
        "first_val",
        "last_val",
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
        F.round("sum_val", 6).alias("sum_val"),
    ).orderBy("bin")


@register(
    "streaming_native_snapshots_right",
    oracle="""
    WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
    wm AS (
      SELECT CAST(max(o_orderdate) AS TIMESTAMP) + INTERVAL 1 DAY AS final
      FROM orders, mx WHERE o_orderdate < mx.m
    ), base AS (
      SELECT CAST(o_orderdate AS TIMESTAMP) AS ts, o_totalprice AS value
      FROM orders, wm WHERE CAST(o_orderdate AS TIMESTAMP) < wm.final
    ), partials AS (
      SELECT date_trunc('year', ts) AS bin,
             CASE WHEN ts = date_trunc('month', ts)
                       AND ts <> date_trunc('year', ts) THEN ts
                  ELSE date_trunc('month', ts) + INTERVAL 1 MONTH
             END AS snap,
             CAST(count(*) AS BIGINT) AS p_n,
             max(value) AS p_max,
             sum(value) AS p_sum
      FROM base GROUP BY 1, 2
    ), grid AS (
      SELECT bin, bin + to_months(CAST(k AS INT)) AS snap
      FROM (SELECT unnest(generate_series((SELECT min(bin) FROM partials),
                                          (SELECT max(bin) FROM partials),
                                          INTERVAL 1 YEAR)) AS bin),
           (SELECT unnest(generate_series(1, 12)) AS k)
    )
    SELECT bin, snap,
           CAST(coalesce(sum(p_n) OVER w, 0) AS BIGINT) AS n_orders,
           round(max(p_max) OVER w, 2)                  AS max_price,
           round(sum(p_sum) OVER w, 2)                  AS sum_price
    FROM grid LEFT JOIN partials USING (bin, snap), wm
    WHERE snap < wm.final
    WINDOW w AS (PARTITION BY bin ORDER BY snap
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY bin, snap
    """,
)
def streaming_native_snapshots_right(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLOSED-RIGHT calendar snapshots on the NATIVE streaming path
    (round-14, the last semantic asymmetry vs batch/AggStream;
    reference ``cumsegagg.py:243-252``: a snapshot at instant s
    observes rows ts <= s). On orders every event time is a midnight
    DATE — every row sits exactly ON the daily tile grid, so this
    query is ALL boundary cases: each month-start snapshot observes
    that day's orders (closed-left would not), a row on a YEAR
    boundary counts toward the opening year and is invisible to that
    instant's snapshot, and the final cut is strict (a closed-right
    snapshot AT the watermark would need the unemitted tile).
    Mechanism: the daily tile stage splits each tile into an EDGE
    partial (rows at the label, keyed there) and an INTERIOR partial
    (keyed +1µs) inside one streaming aggregation — one extra group
    key, no extra pass — then batch ``snapshot_agg`` re-observes
    closed-right over the synthetic keys. The oracle assigns each
    row its first closed-right observer (month-start rows observe
    themselves) and cuts snap < final watermark."""
    from oups_spark.streaming.native import streaming_snapshot_calendar_agg
    from oups_spark.tables import _ns_timestamp_cols, ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("streaming_native_snapshots_right")
    src = os.path.join(sf_dir, "orders.parquet")
    raw_schema = spark.read.parquet(src).schema
    rs = spark.readStream.schema(raw_schema)
    stream = (
        rs.parquet(src)
        if os.path.isdir(src)
        else rs.option("pathGlobFilter", "orders.parquet").parquet(sf_dir)
    )
    for c in _ns_timestamp_cols(src):
        stream = stream.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    stream = stream.withColumn(
        "ts", F.col("o_orderdate").cast("timestamp")
    ).withColumn("__one", F.lit(1).cast("long"))
    out = streaming_snapshot_calendar_agg(
        stream,
        "ts",
        {
            "n_orders": ("__one", "sum"),
            "max_price": ("o_totalprice", "max"),
            "sum_price": ("o_totalprice", "sum"),
        },
        bin_by="1Y",
        snap_by="MS",
        base_path=base,
        snap_closed="right",
    )
    out = _read_or_fail(out, "streaming_native_snapshots_right")
    return out.select(
        "bin",
        "snap",
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
        F.round("max_price", 2).alias("max_price"),
        F.round("sum_price", 2).alias("sum_price"),
    ).orderBy("bin", "snap")


@register(
    "cdc_schema_drift",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           round(value, 6) AS last_value,
           CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                THEN event_type END AS channel
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
    """,
)
def cdc_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog SCHEMA DRIFT through the streaming CDC merge sink
    (round-14; Delta-style metadata-only evolution, ``merge_into
    (evolve_schema=True)``): the producer upgrades mid-stream — the
    first two micro-batches carry the original changelog schema, the
    later two add a NEW ``channel`` column. Two streaming phases (a
    file stream's schema is fixed per query) share ONE state table
    and ONE merge sink: phase 2 widens the dataset schema in its
    first commit (metadata-only — no committed file is rewritten for
    the evolution itself), pre-drift rows read NULL for the new
    column, keep-last gating and delete tombstones work identically
    across the boundary, and a final vacuum GCs the tombstones. The
    oracle replays the one-shot keep-last statement with the drifted
    column present exactly on winners at or after the drift cut —
    users whose latest event precedes the upgrade stay NULL."""
    from oups_spark.streaming.cdc import (
        cdc_merge_sink,
        cdc_merge_vacuum,
        read_current_ds,
    )
    from oups_spark.tables import ensure_session_confs

    ensure_session_confs(spark)
    base = _fresh("cdc_schema_drift")
    drift = pd.Timestamp("2024-01-16 00:00:00")
    mid1 = pd.Timestamp("2024-01-08 00:00:00")
    mid2 = pd.Timestamp("2024-01-23 00:00:00")

    events = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    old = events.filter(F.col("ts") < F.lit(drift))
    new = events.filter(F.col("ts") >= F.lit(drift)).withColumn(
        "channel", F.col("event_type")
    )
    src1 = os.path.join(base, "changelog_v1")
    src2 = os.path.join(base, "changelog_v2")
    _write_replay_chunks(
        old, [F.col("ts") < F.lit(mid1), F.col("ts") >= F.lit(mid1)], src1
    )
    _write_replay_chunks(
        new, [F.col("ts") < F.lit(mid2), F.col("ts") >= F.lit(mid2)], src2
    )

    ds = OrderedDataset(spark, os.path.join(base, "state_ds"))

    def run_phase(src_dir, ckpt, evolve):
        schema = _chunk_schema(spark, src_dir)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
            .withColumn("is_delete", F.col("event_type") == "error")
            .drop("event_type")
        )
        cdc_merge_sink(
            stream,
            ds,
            key="user_id",
            order_cols=["ts", "event_id"],
            delete_col="is_delete",
            checkpoint_dir=os.path.join(base, ckpt),
            evolve_schema=evolve,
        )

    run_phase(src1, "ckpt_v1", False)
    run_phase(src2, "ckpt_v2", True)  # drifted batches widen the state
    cdc_merge_vacuum(ds, delete_col="is_delete")
    cur = read_current_ds(ds, delete_col="is_delete")
    return cur.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.round("value", 6).alias("last_value"),
        "channel",
    ).orderBy("user_id")
