"""Streaming CDC upsert sink: materialize a keyed changelog into a
bucket-partitioned current-state table, rewriting only the buckets a
micro-batch touches.

The MERGE problem at 100 TB: a changelog stream carries
insert/update/delete ops per key, and the materialized view must
always hold each key's latest row. A naive sink rewrites the whole
table per batch; a per-key random-access store doesn't exist in
plain parquet. The scalable middle is the bucketed-merge shape used
by every production lakehouse MERGE (Delta/Iceberg/Hudi, public
docs): hash keys into a fixed number of bucket partitions, and per
micro-batch (1) find the buckets the batch touches, (2) read ONLY
those buckets back, (3) keep-last per key over existing ∪ batch,
(4) dynamic-partition-overwrite exactly those buckets. Work per
batch is O(batch + touched-bucket bytes), never O(table); untouched
buckets are neither read nor written.

Deletes persist as TOMBSTONES (``is_delete`` row wins keep-last and
stays in the table) so a late-arriving older update cannot resurrect
a deleted key; readers filter tombstones via :func:`read_current`.

Exactly-once: after a checkpoint-recovery replay the same batch
re-merges idempotently — keep-last by the (order, tiebreak) VALUE is
insensitive to redelivery.
"""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from oups_spark.store import driver_gate as gate

_BUCKET = "__bucket"


def _probe_batch(b: DataFrame):
    """Row/byte-capped Arrow collect of the bucketed batch (the same
    probe gate as merge_into's small-source fast path): one
    CollectLimit job replaces the touched-bucket distinct collect,
    and — when the touched state is also driver-sized — the keep-last
    merge itself. Returns None when the batch is oversized or carries
    nested/binary columns (classic distributed path)."""
    if not gate.arrow_safe(b.schema):
        return None
    return gate.collect(b, max_rows=gate.MAX_ROWS, max_bytes=gate.MAX_BYTES)


def _read_buckets_arrow(path: str, touched: list[int], schema):
    """The touched bucket dirs as one Arrow table (``_BUCKET``
    reattached from the dir name), cast to the batch schema — or None
    when the state is over the driver gate's caps (distributed
    fallback) or a file carries a column the cast cannot reconcile."""
    import pyarrow as pa

    files = [
        (f, bk)
        for bk in touched
        for f in glob.glob(os.path.join(path, f"{_BUCKET}={bk}", "*.parquet"))
    ]
    paths = [f for f, _ in files]
    if gate.decoded_bytes(paths) > gate.MAX_BYTES:
        return None
    tables = gate.decode(paths)
    if tables is None or not gate.fits(sum(t.num_rows for t in tables)):
        return None
    data_names = [n for n in schema.names if n != _BUCKET]
    parts = []
    for t, (_, bk) in zip(tables, files):
        try:
            t = t.select(data_names).append_column(
                _BUCKET, pa.array([bk] * t.num_rows, schema.field(_BUCKET).type)
            )
            parts.append(t.select(schema.names).cast(schema))
        except (KeyError, pa.ArrowInvalid, pa.ArrowNotImplementedError, ValueError):
            return None
    if not parts:
        return pa.table(
            {n: pa.array([], schema.field(n).type) for n in schema.names}
        )
    return pa.concat_tables(parts)


def _keep_last_arrow(tbl, key: str, order_cols: list[str]):
    """Latest row per key — the Arrow twin of
    ``max_by(struct(payload), struct(order_cols))``: sort key asc /
    order cols desc (nulls smallest, as Spark orders struct fields),
    keep the first row of each key group. Pure row SELECTION — no
    value is recomputed, so the surviving rows are byte-identical to
    the distributed path's."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    sort_keys = [(key, "ascending")] + [
        (c, "descending") for c in order_cols
    ]
    idx = pc.sort_indices(tbl, sort_keys=sort_keys, null_placement="at_end")
    s = tbl.take(idx).combine_chunks()
    enc = pc.dictionary_encode(s.column(key).combine_chunks())
    codes = pc.fill_null(enc.indices, -1).to_numpy(zero_copy_only=False)
    first = np.r_[True, codes[1:] != codes[:-1]]
    return s.filter(pa.array(first))


def _bucketed(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn(
        _BUCKET,
        F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"),
    )


def _tmp_of(path: str) -> str:
    return path.rstrip("/") + ".__tmp"


def merge_latest(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    *,
    key: str,
    order_cols: list[str],
    n_buckets: int,
) -> tuple[DataFrame | None, DataFrame | None, list[int]]:
    """The merge core shared by the plain CDC sink and the
    IVM-maintaining variant: bucketize the batch, read back ONLY the
    buckets it touches (partition pruning), keep the latest row per
    key over existing ∪ batch. Returns ``(cur, flat, touched)``:
    ``cur`` is the pre-merge state of the touched buckets (None on
    first batch), ``flat`` the merged latest rows. ``touched`` is
    empty for an empty batch (cur/flat None) — callers skip the
    commit, which also folds the sink's old per-batch ``isEmpty``
    probe job into the touched-bucket collect.

    ``flat`` is MATERIALIZED by writing it (one file per touched
    bucket dir) to a ``.__tmp`` sibling of ``path``; what comes back
    is a re-read of those files. :func:`commit_state` later swaps the
    tmp bucket dirs into the table with driver-side renames. Compared
    to the previous eager localCheckpoint + dynamic-partition
    overwrite, this drops one Spark job per batch AND removes the
    stage-retry hazard structurally: no write job ever replaces files
    its own lineage reads, because the state files are only renamed
    after every consuming job has run.

    A CDC-micro-batch-sized batch takes the DRIVER fast path (the
    same row/byte-gated Arrow probe as merge_into's small-source
    path): ONE CollectLimit job collects the bucketed batch, touched
    buckets derive from the collected table instead of a distinct
    job, and — when the touched state is also driver-sized —
    keep-last is a pure Arrow row selection and the tmp bucket dirs
    are written without a second Spark job. Oversized batches or
    state fall back to the identical distributed plan."""
    b = _bucketed(batch_df, key, n_buckets)
    probe = _probe_batch(b)
    state_tbl = None
    if probe is not None:
        if probe.num_rows == 0:
            return None, None, []
        import pyarrow.compute as pc

        touched = sorted(
            int(v) for v in pc.unique(probe.column(_BUCKET)).to_pylist()
        )
        if os.path.exists(path):
            state_tbl = _read_buckets_arrow(path, touched, probe.schema)
    else:
        touched = [r[_BUCKET] for r in b.select(_BUCKET).distinct().collect()]
        if not touched:
            return None, None, []
    cur = None
    if os.path.exists(path):
        cur = spark.read.parquet(path).filter(F.col(_BUCKET).isin(touched))
    tmp = _tmp_of(path)

    if probe is not None and (cur is None or state_tbl is not None):
        import shutil

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        merged_tbl = (
            probe.replace_schema_metadata(None)
            if state_tbl is None
            else pa.concat_tables(
                [
                    state_tbl.replace_schema_metadata(None),
                    probe.replace_schema_metadata(None),
                ]
            )
        )
        win = _keep_last_arrow(merged_tbl, key, order_cols)
        shutil.rmtree(tmp, ignore_errors=True)
        data = win.drop_columns([_BUCKET])
        buckets = win.column(_BUCKET)
        for bk in touched:
            part = data.filter(pc.equal(buckets, bk))
            d = os.path.join(tmp, f"{_BUCKET}={bk}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(part, os.path.join(d, "part-00000.parquet"))
        return cur, spark.read.parquet(tmp), touched

    # distributed keep-last (oversized batch or touched state); a
    # probed batch still re-enters as a LOCAL relation so the write
    # job does not re-execute the batch plan
    local_b = (
        b
        if probe is None
        else spark.createDataFrame(probe, schema=b.schema)
    )
    merged = local_b if cur is None else cur.unionByName(local_b)
    payload = [c for c in merged.columns if c != key]
    latest = merged.groupBy(key).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload]),
            F.struct(*[F.col(c) for c in order_cols]),
        ).alias("__row")
    )
    (
        latest.select(F.col(key), "__row.*")
        .repartition(len(touched), F.col(_BUCKET))
        .write.mode("overwrite")
        .partitionBy(_BUCKET)
        .parquet(tmp)
    )
    return cur, spark.read.parquet(tmp), touched


def commit_state(path: str, touched: list[int]) -> None:
    """Swap the tmp-written bucket dirs into the state table —
    driver-side renames only; every Spark job reading the replaced
    files must have run by now (see merge_latest)."""
    import shutil

    tmp = _tmp_of(path)
    if not os.path.exists(path):
        os.replace(tmp, path)
        return
    for b in touched:
        src = os.path.join(tmp, f"{_BUCKET}={b}")
        dst = os.path.join(path, f"{_BUCKET}={b}")
        if os.path.exists(src):
            shutil.rmtree(dst, ignore_errors=True)
            os.replace(src, dst)
    shutil.rmtree(tmp, ignore_errors=True)


def swap_dir(path: str, tmp: str) -> None:
    """Replace ``path`` wholesale with the tmp-written ``tmp`` dir
    (small whole-table artifacts, e.g. maintained aggregates)."""
    import shutil

    trash = path.rstrip("/") + ".__old"
    shutil.rmtree(trash, ignore_errors=True)
    if os.path.exists(path):
        os.replace(path, trash)
    os.replace(tmp, path)
    shutil.rmtree(trash, ignore_errors=True)


def cdc_merge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    *,
    key: str,
    order_cols: list[str],
    n_buckets: int = 32,
) -> None:
    """Merge one changelog micro-batch into the state table at
    ``path`` (see module docstring for the bucket-rewrite shape)."""
    _, _, touched = merge_latest(
        spark, batch_df, path,
        key=key, order_cols=order_cols, n_buckets=n_buckets,
    )
    if touched:
        commit_state(path, touched)


def cdc_upsert_sink(
    changelog: DataFrame,
    path: str,
    *,
    key: str,
    order_cols: list[str],
    n_buckets: int = 32,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Run a streaming changelog into the bucketed upsert table via
    ``foreachBatch``; blocks until the available data is processed
    when ``available_now`` (the test/batch-replay mode)."""
    spark = changelog.sparkSession

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # no isEmpty probe: an empty batch touches no buckets and
        # cdc_merge_batch skips the commit (one fewer job per batch)
        cdc_merge_batch(
            spark, batch_df, path,
            key=key, order_cols=order_cols, n_buckets=n_buckets,
        )

    writer = changelog.writeStream.outputMode("append").foreachBatch(sink)
    if available_now:
        writer = writer.trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


def read_current(
    spark: SparkSession, path: str, *, delete_col: str | None = None
) -> DataFrame:
    """Current state of the upsert table: latest row per key,
    tombstones filtered when ``delete_col`` is given."""
    df = spark.read.parquet(path).drop(_BUCKET)
    if delete_col is not None:
        df = df.filter(~F.col(delete_col)).drop(delete_col)
    return df


def cdc_vacuum(
    spark: SparkSession,
    path: str,
    *,
    delete_col: str,
    safe_to_drop,
) -> int:
    """Garbage-collect tombstones from the upsert table: drop delete
    rows for which ``safe_to_drop`` (a boolean Column over the row)
    holds — typically "older than the ingest watermark", the point
    past which no out-of-order update the tombstone still guards
    against can arrive. Rewrites ONLY buckets that contain droppable
    tombstones (same dynamic-partition-overwrite shape as the merge;
    untouched buckets keep their files byte-for-byte). Returns the
    number of tombstones dropped.

    At 100 TB this is the periodic maintenance pass that keeps
    delete-heavy tables from accreting dead keys; cost is
    proportional to the buckets holding droppable tombstones, not
    the table.
    """
    cur = spark.read.parquet(path)
    droppable = F.col(delete_col) & safe_to_drop
    victims = (
        cur.filter(droppable)
        .groupBy(_BUCKET)
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    if not victims:
        return 0
    touched = [r[_BUCKET] for r in victims]
    n_dropped = int(sum(r["c"] for r in victims))
    # rewrite the touched buckets into the .__tmp sibling (one job;
    # reads the files it will REPLACE, but the replacement is a
    # post-job driver-side rename, so no retry hazard), then swap. A
    # bucket whose every row dropped writes no tmp dir — its live dir
    # is removed outright (the lakehouse-log remove-file analogue).
    import shutil

    tmp = _tmp_of(path)
    (
        cur.filter(F.col(_BUCKET).isin(touched))
        .filter(~droppable)
        .repartition(len(touched), F.col(_BUCKET))
        .write.mode("overwrite")
        .partitionBy(_BUCKET)
        .parquet(tmp)
    )
    for b in touched:
        src = os.path.join(tmp, f"{_BUCKET}={b}")
        dst = os.path.join(path, f"{_BUCKET}={b}")
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.exists(src):
            os.replace(src, dst)
    shutil.rmtree(tmp, ignore_errors=True)
    return n_dropped


# ---------------------------------------------------------------------------
# MERGE INTO-backed CDC sink (round-13): the store IS the state table
# ---------------------------------------------------------------------------

def cdc_merge_batch_into(
    batch_df: DataFrame,
    ds,
    *,
    key: str,
    order_cols: list[str],
    delete_col: str,
    row_group_target_size: int = 100_000,
    conflict_retries: int = 5,
    evolve_schema: bool = False,
) -> None:
    """Merge one changelog micro-batch into an :class:`OrderedDataset`
    via ``merge_into`` — the unification of the CDC sink with the
    store's commit protocol (one store, one tombstone/CAS/rebase
    commit per batch; time travel, per-file stats/bloom pruning and
    conflict rebase all apply automatically, unlike the parallel
    bucket-table in :func:`cdc_merge_batch`).

    Semantics (idempotent + order-insensitive keep-last):

    1. the batch is reduced to its LATEST op per key
       (``max_by(struct(payload), struct(order_cols))`` — the same
       keep-last the bucketed sink uses), so the merge source is
       unique on the key as SQL MERGE requires;
    2. deletes persist as TOMBSTONE ROWS (``delete_col`` true), never
       physical deletes — a redelivered or late-arriving batch can
       therefore never resurrect a deleted key, and replaying ANY
       prefix-complete batch converges to the same state;
    3. matched rows update to the source values ONLY when the source
       op is at-or-after the target row in ``order_cols`` (a CASE per
       column over the matched pair), so re-merging an old batch is a
       no-op — exactly-once under checkpoint-recovery redelivery.

    The dataset is ordered (and thus min/max-indexed) on the KEY, so
    merge_into's driver-side stats pruning bounds each batch's
    rewrite to the files holding touched keys — O(batch + touched
    files), never O(table), the same scale shape as the bucketed
    sink but with real commit isolation.

    Tombstone GC is a normal ``delete_where`` on ``delete_col`` (see
    :func:`cdc_merge_vacuum`).

    ``evolve_schema``: changelog SCHEMA DRIFT — a batch carrying
    columns the state table lacks extends its schema through
    ``merge_into(evolve_schema=True)`` (Delta-style, metadata-only:
    existing rows read the new columns back NULL); the order-gated
    update then assigns them like any payload column. Off by default:
    an unexpected column is more often a producer bug than an
    intentional evolution.
    """
    if delete_col not in batch_df.columns:
        raise ValueError(
            f"cdc_merge_batch_into: delete_col {delete_col!r} absent from "
            f"the changelog columns {batch_df.columns} — tombstone rows "
            "must carry it"
        )
    payload = [c for c in batch_df.columns if c != key]
    latest = (
        batch_df.groupBy(key)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload]),
                F.struct(*[F.col(c) for c in order_cols]),
            ).alias("__row")
        )
        .select(F.col(key), "__row.*")
    )
    if not ds.exists:
        ds.write(
            df=latest.orderBy(key),
            ordered_on=key,
            duplicates_on=[key],
            row_group_target_size=row_group_target_size,
            conflict_retries=conflict_retries,
        )
        return
    newer = F.struct(
        *[F.col(f"s.{c}") for c in order_cols]
    ) >= F.struct(*[F.col(f"t.{c}") for c in order_cols])
    ds.merge_into(
        latest,
        on=key,
        when_matched_update={
            c: F.when(newer, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
            for c in payload
        },
        when_not_matched_insert=True,
        evolve_schema=evolve_schema,
        row_group_target_size=row_group_target_size,
        conflict_retries=conflict_retries,
    )


def cdc_merge_sink(
    changelog: DataFrame,
    ds,
    *,
    key: str,
    order_cols: list[str],
    delete_col: str,
    row_group_target_size: int = 100_000,
    conflict_retries: int = 5,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    evolve_schema: bool = False,
):
    """Run a streaming changelog into an OrderedDataset through
    ``merge_into`` (``foreachBatch``; see :func:`cdc_merge_batch_into`
    for the per-batch semantics). Blocks until the available data is
    processed when ``available_now``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # no isEmpty pre-probe (one job per batch): merge_into's own
        # source probe short-circuits an empty batch to a no-op, and
        # an empty FIRST batch no longer creates a schema-less
        # dataset (the write path's kv-only guard covers all paths)
        cdc_merge_batch_into(
            batch_df, ds,
            key=key, order_cols=order_cols, delete_col=delete_col,
            row_group_target_size=row_group_target_size,
            conflict_retries=conflict_retries,
            evolve_schema=evolve_schema,
        )

    writer = changelog.writeStream.outputMode("append").foreachBatch(sink)
    if available_now:
        writer = writer.trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


def cdc_merge_vacuum(ds, *, delete_col: str, extra_filters=None) -> int:
    """Tombstone GC for the merge_into-backed CDC table: DELETE rows
    whose ``delete_col`` is true (optionally AND ``extra_filters``,
    e.g. "older than the ingest watermark" — the point past which no
    out-of-order update the tombstone still guards against can
    arrive). A plain bounded-rewrite ``delete_where`` commit; cost ∝
    files holding droppable tombstones."""
    clause = [(delete_col, "==", True)] + list(extra_filters or [])
    return ds.delete_where([clause])


def read_current_ds(ds, *, delete_col: str) -> DataFrame:
    """Current state of the merge_into-backed CDC table: every row is
    already the latest per key; tombstones filtered."""
    return ds.read().filter(~F.col(delete_col)).drop(delete_col)
