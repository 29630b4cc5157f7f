"""OrderedDataset: a manifest-backed ordered parquet dataset with
rewrite-minimal merge writes.

Re-expresses the reference's core sink — ordered merge/update write
with keep-last dedup and row-group size control (reference:
``oups/store/ordered_parquet_dataset/write/write.py:78-271`` and the
OAR merge strategies) — as a single Spark DataFrame plan per write:

    overlap file selection (manifest min/max, the OAR analysis
    collapsed to file granularity)
    → read ONLY overlapping files, union with the new batch under an
      explicit source-rank (old=0, new=1) + in-batch position
    → keep-last window dedup on ``duplicates_on ∪ {ordered_on}``
      (tiebreak: src_rank desc, position desc — the reference's
      "stable sort, new after old" rule made explicit, reference
      ``iter_merge_split_data.py:112-119``)
    → ``repartitionByRange(ordered_on)`` + ``sortWithinPartitions``
      + ``maxRecordsPerFile`` for row-count targets, or a
      period-column ``partitionBy`` for time-period targets
    → atomic manifest swap; untouched files are never rewritten.

Scale posture: the only data ever moved is (overlapping files + new
batch); the shuffle is a range-repartition of exactly that data; the
manifest prunes before any Spark job is launched, so an append to a
100 TB dataset touches one file.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import os
import shutil
import urllib.parse
import uuid
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import StructType

from oups_spark.functions.dates import floor_ts, floor_ts_scalar
from oups_spark.store import driver_gate as gate
from oups_spark.store.manifest import (
    DEFAULT_BACKEND,
    FileEntry,
    Manifest,
    ManifestConflictError,
)

# Reference default: 6_345_000 rows ≈ 290 MB for 6 numeric columns
# (reference: write.py:32,107-111). Same order of magnitude as a
# healthy parquet file at cluster scale.
DEFAULT_ROW_GROUP_TARGET_SIZE = 6_345_000
# A file is "off target" below 80% of target (reference:
# n_rows_strategy.py:33,136).
ON_TARGET_SCALE_FACTOR = 0.8

_SRC = "__oups_src"
_FIDX = "__oups_fidx"
_FNAME = "__oups_fname"
_POS = "__oups_pos"
_ZCOL = "__oups_zorder"  # transient Morton-curve layout key
# manifest kv key remembering write(bloom_cols=...) so later appends
# keep indexing (plain name: dunder-keyed kv dicts read as codec tags)
_BLOOM_COLS_KV = "oups.bloom_cols"
_NULL_ORDERED_ON = "null values in ordered_on are not allowed"
_PERIOD = "__oups_period"
# DML rewrite: source-file id carrying each surviving row back to its
# (single) replacement file
_FID = "__oups_fid"
# row-action flags of the copy-on-write projections (_merge_rows,
# _dml_rows): matched, matched-delete, by-source delete/update
_M, _DM, _ND, _NU = "__oups_m", "__oups_dm", "__oups_nd", "__oups_nu"
# z-order rewrite input cache budget: the in-scope files are persisted
# for the sketch, range-sample and write passes when they fit
_COMPACT_CACHE_MAX_BYTES = 4 << 30


class OrderedDataset:
    """Handle on one ordered dataset directory (may not exist yet)."""

    def __init__(
        self, spark: SparkSession, path: str, *, backend=None,
        retain_versions: bool = False,
        deletion_grace_s: float | None = None,
    ):
        # backend: optional manifest encoding over a transport, e.g.
        # DeltaLogManifest(PosixTransport()) for lakehouse file counts
        # or an encoding over an object-store transport (conditional
        # put); None = JsonManifest(PosixTransport())
        #
        # retain_versions: keep an immutable manifest snapshot per
        # commit and DEFER physical deletion of replaced data files,
        # enabling `read(as_of=<generation>)` time travel until
        # `vacuum()` reclaims space. POSIX-path mechanism — on object
        # stores, bucket versioning snapshots the manifest object per
        # commit already, so the engine-level copies are refused to
        # avoid a second, divergent history.
        if retain_versions and backend is not None:
            raise ValueError(
                "retain_versions uses filesystem manifest snapshots; "
                "with an object-store backend use bucket versioning"
            )
        # deletion_grace_s: READER ISOLATION under concurrent writers.
        # A reader's scan resolves manifest entries to file paths
        # lazily; a concurrent commit that replaced those files would
        # otherwise delete them while the scan is still running
        # (FileNotFound mid-job — the reference cannot hit this only
        # because it holds the dataset lock for the whole read,
        # ``base.py:240-255``). Replaced files are therefore
        # TOMBSTONED in the manifest and physically deleted by a later
        # commit (or vacuum) once older than this grace window. A
        # reader is exposed only if its scan outlives the window
        # across a subsequent commit. 0 = delete immediately (the
        # pre-round-10 single-writer posture). Default from
        # $OUPS_DELETION_GRACE_S, else 60 s.
        if deletion_grace_s is None:
            deletion_grace_s = float(
                os.environ.get("OUPS_DELETION_GRACE_S", "60")
            )
        self.spark = spark
        self.path = os.path.abspath(path)
        self.backend = backend
        self.retain_versions = retain_versions
        self.deletion_grace_s = deletion_grace_s
        self._manifest = Manifest.load(self.path, backend)
        # concurrency instrumentation: how often a lost manifest CAS
        # was resolved by a commit REBASE (winner's changes disjoint
        # from ours — manifest merged, no recompute) vs a full merge
        # re-run (ranges overlapped: overlap analysis/dedup were
        # computed against a superseded manifest and must re-run)
        self.conflict_rebases = 0
        self.conflict_reruns = 0
        # True once the most recent commit attempt's CAS landed —
        # cleanup handlers that delete staged data files on failure
        # must skip the deletion when this is set (see _land)
        self._commit_landed = False

    # ------------------------------------------------------------- state
    @property
    def exists(self) -> bool:
        return self._manifest is not None

    @property
    def manifest(self) -> Manifest | None:
        return self._manifest

    @property
    def ordered_on(self) -> str | None:
        return self._manifest.ordered_on if self._manifest else None

    @property
    def key_value_metadata(self) -> dict:
        return dict(self._manifest.kv) if self._manifest else {}

    @property
    def n_files(self) -> int:
        return len(self._manifest.files) if self._manifest else 0

    @property
    def n_rows(self) -> int:
        return self._manifest.n_rows if self._manifest else 0

    def file_paths(self) -> list[str]:
        return self._paths(self._manifest.files) if self._manifest else []

    def schema(self) -> StructType | None:
        if self._manifest and self._manifest.schema_json:
            return StructType.fromJson(__import__("json").loads(self._manifest.schema_json))
        return None

    # ------------------------------------------------------------- read
    def read_arrow(self):
        """The live rows as ONE pyarrow Table in manifest order —
        driver-side parquet reads, no Spark job. For driver-sized
        state tables (sketch registers, small incremental folds) this
        replaces a full scan+shuffle plan per maintenance step.

        Conservative: returns ``None`` (caller falls back to the
        distributed ``read()``) when the dataset is over the driver
        gate's caps (``driver_gate``), stores flattened cmidx columns,
        or carries files whose schemas cannot be unified under the
        manifest schema — a ``None`` is never wrong, only slower."""
        if not self.exists:
            return None
        man = self._manifest
        paths = self._paths(man.files)
        if man.cmidx or not gate.fits(sum(e.n_rows for e in man.files), paths=paths):
            return None
        try:
            tables = gate.decode(paths)
            if not tables:
                return None
            schema = tables[0].schema
            if man.schema_json and set(schema.names) != {
                f["name"]
                for f in __import__("json").loads(man.schema_json)["fields"]
            }:
                # evolved dataset: read() would project missing
                # columns as NULL — leave that to the Spark path
                return None
            return pa.concat_tables(
                [tables[0]] + [t.select(schema.names).cast(schema) for t in tables[1:]]
            )
        except (
            OSError,
            KeyError,
            pa.ArrowInvalid,
            pa.ArrowNotImplementedError,
        ):
            return None  # schema drift / missing file: fall back

    def _paths(self, entries) -> list[str]:
        return [os.path.join(self.path, e.name) for e in entries]

    def read(
        self,
        start=None,
        end_excl=None,
        columns: list[str] | None = None,
        filters=None,
        ordered: bool = False,
        as_of: int | None = None,
        unflatten: bool = True,
    ) -> DataFrame:
        """Scan, with manifest file pruning for ``[start, end_excl)``.

        File pruning happens driver-side from manifest stats (the
        reference's row-group slicing, ``base.py:297-330``); the range
        predicate then filters the rows of the boundary files.

        ``as_of``: TIME TRAVEL — read the dataset exactly as of an
        earlier commit generation (``versions()`` lists them;
        requires the dataset to be written with
        ``retain_versions=True``). Reproducible-training contract: a
        pinned generation always returns the same rows until
        ``vacuum`` reclaims it, after which it raises — never a
        silent partial read.

        Datasets written with tuple (column-MultiIndex) names store
        FLAT columns: ``columns``/``filters``/``start`` address the
        flattened names and leaf values; ``unflatten`` (default True)
        rebuilds the struct columns at the end from the manifest's
        mapping.
        """
        if as_of is not None:
            from oups_spark.store.manifest import load_snapshot

            man = load_snapshot(self.path, as_of)
        else:
            if not self.exists:
                raise FileNotFoundError(f"no ordered dataset at {self.path}")
            man = self._manifest
        # [start, end) file selection — vectorized (Arrow compute, only
        # survivors materialized) on parquet-sidecar-backed manifests
        entries = man.files_in_range(start, end_excl)
        if filters:
            # data-skipping on ANY filtered column from the per-file
            # stats recorded at write time (Delta/Iceberg file-stats
            # model) — pruning happens before a single scan task is
            # planned; files without stats are conservatively kept
            from oups_spark.functions.filters import dnf_file_can_match

            entries = [
                e for e in entries
                if dnf_file_can_match(e.cols, filters, blooms=e.blooms)
            ]
        if not entries:
            schema_json = man.schema_json
            if schema_json is None:
                raise ValueError("empty dataset with no recorded schema")
            schema = StructType.fromJson(__import__("json").loads(schema_json))
            df = self.spark.createDataFrame([], schema)
        else:
            reader = self.spark.read
            if man.schema_json:
                # explicit manifest schema: (a) files written before a
                # schema evolution read back NULL for later columns,
                # (b) no footer schema-inference job on the scan
                reader = reader.schema(
                    StructType.fromJson(
                        __import__("json").loads(man.schema_json)
                    )
                )
            df = reader.parquet(*self._paths(entries))
        o = F.col(man.ordered_on)
        if start is not None or end_excl is not None:
            # The bounds are compared wrapped in structs: Spark inlines
            # a timestamp literal into its generated code, so each new
            # bound would compile a fresh whole-stage class (~35 ms on
            # a cold JVM), while a struct literal is passed by
            # reference and the compiled class is reused. Parquet
            # pushdown gets only the not-null test; the manifest
            # already pruned the files.
            typ = df.schema[man.ordered_on].dataType.simpleString()

            def bound(v):
                return F.struct(F.lit(v).cast(typ).alias(man.ordered_on))

            keep = o.isNotNull()
            if start is not None:
                keep &= F.struct(o) >= bound(start)
            if end_excl is not None:
                keep &= F.struct(o) < bound(end_excl)
            df = df.filter(keep)
        if filters:
            from oups_spark.functions.filters import dnf_filter

            df = dnf_filter(df, filters)
        if columns:
            df = df.select(*columns)
        if ordered:
            df = df.orderBy(man.ordered_on)
        if unflatten and man.cmidx:
            # dataset written with tuple (column-MultiIndex) names:
            # rebuild the struct columns the writer flattened; filters
            # and pruning above ran on the stored flat names
            from oups_spark.functions.fills import unflatten_struct_columns

            df = unflatten_struct_columns(df, man.cmidx)
        return df

    # ------------------------------------------------------------- write
    def write(
        self,
        df: DataFrame | None = None,
        *,
        ordered_on: str | None = None,
        duplicates_on: list[str] | str | None = None,
        row_group_target_size: int | str = DEFAULT_ROW_GROUP_TARGET_SIZE,
        max_n_off_target_rgs: int | None = None,
        key_value_metadata: dict | None = None,
        validate_monotonic: bool = True,
        evolve_schema: bool = False,
        conflict_retries: int = 0,
        bloom_cols: list[str] | None = None,
    ) -> None:
        """Ordered merge write with optimistic-concurrency retry.

        ``bloom_cols``: optional int/long/string columns to index
        with a per-file Bloom filter (``store/bloom.py``) — point
        lookups (``==`` / ``in`` filters) on these columns then prune
        files at read time even though [min, max] stats cannot
        (clustered-but-unordered columns). Costs one extra bounded
        pass over the NEW files; per-write opt-in and STICKY — later
        appends, DML rewrites and ``compact`` (plain or z-order)
        re-index their new files; files written before the setting
        degrade to "cannot skip".

        ``conflict_retries``: on a manifest CAS conflict (another
        writer committed between this writer's manifest read and its
        commit), the commit first attempts a REBASE (``_try_rebase``):
        when the winner's file changes are range-disjoint from
        everything this write read or wrote, the already-computed
        merge is re-applied onto the winner's manifest — no Spark
        re-run, counted in ``conflict_rebases``. Otherwise reload the
        manifest and RE-RUN the whole write up to this many times
        (counted in ``conflict_reruns``). The full re-run is required
        for correctness when ranges overlap: the overlap analysis,
        keep-last dedup and file split were all computed against the
        superseded manifest. Data files staged by the failed attempt
        are removed before retrying (they were never referenced).
        Default 0 = raise, caller decides (a successful rebase never
        raises and consumes no retry).

        ``ordered_on`` (and entries of ``duplicates_on``) may be a
        TUPLE of names — the reference's column-MultiIndex form
        (``write.py:98-100``): the tuple names a field path inside
        struct columns. The dataset then stores every struct column
        flattened (``conform_cmidx`` semantics,
        ``parquet_adapter.py:45-85``) with the name mapping in the
        manifest, and ``read`` rebuilds the structs.
        """
        # A pyarrow.Table batch (driver-built flushes, e.g. AggStream's
        # stitched bin frames) stays Arrow: its schema comes from
        # PySpark's own Arrow mapping, its summary and order check from
        # Arrow compute, and its Spark DataFrame twin is built only when
        # a Spark plan runs (see _Batch) — the common small flush then
        # runs with ZERO Spark jobs and no JVM transfer.
        batch = None if df is None else _Batch(self.spark, df)

        def attempt():
            # conform INSIDE the retry loop: a conflict reloads the
            # manifest, and the cmidx merge must re-run against the
            # winning writer's mapping or this commit would overwrite
            # entries that writer just added
            cbatch, c_on, c_dup, cmidx = self._conform_cmidx(
                batch, ordered_on, duplicates_on
            )
            # bloom_cols is STICKY: an explicit list persists in the
            # manifest kv, and later writes that omit it keep indexing
            # their new files (a silently-unindexed append would make
            # reads stop pruning without anyone noticing). Pass [] to
            # clear. _commit resolves an omitted setting against this
            # attempt's manifest — a conflict reload may carry another
            # writer's setting.
            kv = key_value_metadata
            if bloom_cols is not None:
                kv = {**(kv or {}), _BLOOM_COLS_KV: list(bloom_cols)}
            return self._write_attempt(
                cbatch,
                ordered_on=c_on,
                duplicates_on=c_dup,
                cmidx=cmidx,
                row_group_target_size=row_group_target_size,
                max_n_off_target_rgs=max_n_off_target_rgs,
                key_value_metadata=kv,
                validate_monotonic=validate_monotonic,
                evolve_schema=evolve_schema,
                bloom_cols=bloom_cols,
            )

        return self._retrying(attempt, conflict_retries)

    def _retrying(self, attempt, conflict_retries: int):
        """Run ``attempt()``; on a lost manifest CAS that no rebase
        absorbed, reload the manifest and re-run it, up to
        ``conflict_retries`` times (counted in ``conflict_reruns``)."""
        n = 0
        while True:
            try:
                return attempt()
            except ManifestConflictError:
                if n >= conflict_retries:
                    raise
                n += 1
                self.conflict_reruns += 1
                self._manifest = Manifest.load(self.path, self.backend)

    _CMIDX_SEP = "_"

    def _conform_cmidx(self, batch, ordered_on, duplicates_on):
        """Normalize tuple column names (the reference's MultiIndex
        form) and flatten struct columns when cmidx mode is engaged —
        by a tuple ``ordered_on`` on first write, or by the stored
        mapping on later ones. Plain-named datasets pass through
        untouched (struct columns then persist as parquet nested
        groups, the Spark-idiomatic default)."""
        stored = self._manifest.cmidx if self._manifest else None
        has_tuple_dup = isinstance(duplicates_on, tuple) or (
            isinstance(duplicates_on, list)
            and any(isinstance(d, tuple) for d in duplicates_on)
        )
        if not (isinstance(ordered_on, tuple) or stored or has_tuple_dup):
            return batch, ordered_on, duplicates_on, None
        sep = self._CMIDX_SEP
        mapping: dict[str, list[str]] = {}
        if batch is not None and any(
            f.dataType.typeName() == "struct" for f in batch.schema.fields
        ):
            from oups_spark.functions.fills import flatten_struct_columns

            df, mapping = flatten_struct_columns(
                batch.frame(), sep=sep, return_mapping=True
            )
            batch = _Batch(self.spark, df)
        for flat, levels in (stored or {}).items():
            if flat in mapping and mapping[flat] != list(levels):
                raise ValueError(
                    f"column {flat!r} maps to path {mapping[flat]} in this "
                    f"batch but {list(levels)} in the dataset"
                )
        if isinstance(ordered_on, tuple):
            ordered_on = sep.join(ordered_on)
        if duplicates_on is not None:
            if isinstance(duplicates_on, tuple):
                duplicates_on = sep.join(duplicates_on)
            elif isinstance(duplicates_on, list):
                duplicates_on = [
                    sep.join(d) if isinstance(d, tuple) else d
                    for d in duplicates_on
                ]
        return batch, ordered_on, duplicates_on, {**(stored or {}), **mapping}

    def _write_attempt(
        self,
        batch: _Batch | None = None,
        *,
        ordered_on: str | None = None,
        duplicates_on: list[str] | str | None = None,
        cmidx: dict[str, list[str]] | None = None,
        row_group_target_size: int | str = DEFAULT_ROW_GROUP_TARGET_SIZE,
        max_n_off_target_rgs: int | None = None,
        key_value_metadata: dict | None = None,
        validate_monotonic: bool = True,
        evolve_schema: bool = False,
        bloom_cols: list[str] | None = None,
    ) -> None:
        """Ordered merge write (see module docstring for the plan).

        ``batch``: the new rows (``_Batch``). When they arrived as a
        pyarrow Table, that table is the batch summary (bounds, order
        check, bytes) and the driver merge's input, so no Spark job
        runs for them; their Spark DataFrame is built only when a
        Spark plan does run (the distributed merge).

        ``key_value_metadata``: dict merged into the manifest kv;
        a ``None`` value removes the key (reference semantics,
        ``base.py:600-649``).

        ``evolve_schema``: SCHEMA EVOLUTION (beyond reference — the
        reference is fixed-schema-on-first-write, SURVEY §1.3). When
        True, a batch may add columns (existing rows read back NULL
        for them) or omit existing ones (the batch's rows carry
        NULL); same-named columns must keep their type. The manifest
        records the evolved union schema and ``read`` projects every
        file through it, so on-disk files are never rewritten just
        for a schema change. When False (default), a column-set
        mismatch raises — the reference's posture.
        """
        if self._manifest is None:
            if batch is not None and ordered_on is None:
                raise ValueError("ordered_on required on first write")
        else:
            if ordered_on is not None and ordered_on != self._manifest.ordered_on:
                raise ValueError(
                    f"ordered_on is immutable: dataset uses "
                    f"{self._manifest.ordered_on!r}, got {ordered_on!r}"
                )
            ordered_on = self._manifest.ordered_on

        if batch is None:
            self._update_kv_only(ordered_on, key_value_metadata)
            return

        if ordered_on not in batch.columns:
            raise ValueError(f"ordered_on column {ordered_on!r} not in DataFrame")

        target_schema = None
        if self._manifest is not None and self._manifest.schema_json:
            old_schema = self.schema()
            old_by = {f.name: f for f in old_schema.fields}
            new_by = {f.name: f for f in batch.schema.fields}
            for c in set(new_by) & set(old_by):
                # a same-named column must keep its type in ALL cases:
                # without this, a non-overlapping append could land a
                # differently-typed file that only explodes at read time
                if old_by[c].dataType != new_by[c].dataType:
                    raise ValueError(
                        f"schema evolution cannot change column {c!r}: "
                        f"{old_by[c].dataType} -> {new_by[c].dataType}"
                    )
            if set(new_by) != set(old_by):
                if not evolve_schema:
                    raise ValueError(
                        f"batch columns {sorted(new_by)} != dataset columns "
                        f"{sorted(old_by)}; pass evolve_schema=True to evolve"
                    )
                target_schema = StructType(
                    list(old_schema.fields)
                    + [f for f in batch.schema.fields if f.name not in old_by]
                )

        @functools.cache
        def new():
            # the batch tagged with its in-batch position and source
            # rank, for the Spark-side order check and merge
            return (
                batch.frame().withColumn(_POS, F.monotonically_increasing_id())
                .withColumn(_SRC, F.lit(1))
                .withColumn(_FIDX, F.lit(0))
            )

        # whether the merge may run driver-side at all; the size gate
        # below decides the rest
        driver_ok = (
            isinstance(row_group_target_size, int)
            and target_schema is None
            and gate.arrow_safe(batch.schema)
        )
        # THE batch summary (min, max, n_rows, Arrow bytes), from
        # exactly one source, each a single pass over the batch:
        # - an Arrow table on the driver: the caller's pyarrow batch
        #   (no job; its order is checked there too), or, when the
        #   caller skips the order check, one capped collect of a
        #   driver-sized batch, which is also the data the driver
        #   merge then uses (an oversized batch falls through to the
        #   stats agg);
        # - the monotonic check, which stitches per-batch summaries;
        # - one stats agg.
        # The last two measure string bytes in the same job, so the
        # driver-merge byte gate never re-scans the batch.
        tbl = batch.tbl
        if tbl is None and driver_ok and not validate_monotonic:
            tbl = gate.collect(batch.frame(), max_rows=gate.MAX_ROWS)
        if tbl is not None:
            df_min, df_max = _arrow_bounds(tbl, ordered_on, validate_monotonic)
            n_new, new_bytes = tbl.num_rows, tbl.nbytes
        else:
            str_cols = [
                f.name for f in batch.schema.fields
                if f.dataType.simpleString() == "string"
            ]
            if validate_monotonic:
                df_min, df_max, n_new, str_bytes = self._check_monotonic(
                    new(), ordered_on, str_cols
                )
            else:
                stats = batch.frame().agg(
                    F.min(ordered_on).alias("mn"),
                    F.max(ordered_on).alias("mx"),
                    F.count(F.lit(1)).alias("n"),
                    *[
                        F.sum(
                            F.octet_length(F.coalesce(F.col(c), F.lit("")))
                        ).alias(f"__sb{i}")
                        for i, c in enumerate(str_cols)
                    ],
                ).collect()[0]
                df_min, df_max, n_new = stats["mn"], stats["mx"], stats["n"]
                str_bytes = sum(
                    int(stats[f"__sb{i}"] or 0) for i in range(len(str_cols))
                )
            new_bytes = self._estimate_new_bytes(batch.schema, n_new, str_bytes)
        if n_new == 0:
            self._update_kv_only(ordered_on, key_value_metadata)
            return
        # df_min may be None (Spark) or NaT/NaN (pandas summaries)
        if df_min is None or df_min != df_min or (self.exists and any(
            e.min is None or e.max is None for e in self._manifest.files
        )):
            raise ValueError(_NULL_ORDERED_ON)

        old_entries = self._manifest.files if self._manifest else []
        replaced = self._select_overlap(
            old_entries, df_min, df_max, row_group_target_size, max_n_off_target_rgs
        )
        replaced_names = {e.name for e in replaced}

        # SMALL-BATCH DRIVER FAST PATH: batch + overlapping files are
        # small, so the whole merge runs driver-side with pyarrow — at
        # most ONE Spark job (the arrow collect, none when ``tbl`` is
        # already here) instead of the merge/sample/write/cache job
        # train. This is the latency shape frequent incremental
        # flushes need even at 100 TB: the SEED processing stays
        # distributed; only the small flush avoids the ~0.5 s-per-job
        # floor. Semantics are identical (same overlap selection
        # upstream, same keep-last tiebreak, same footer-stats
        # manifest entries via _footer_stats); any arrow
        # incompatibility falls back to the Spark path below. Caps and
        # column-type policy: driver_gate.
        n_old = sum(e.n_rows for e in replaced)
        use_driver = driver_ok and gate.fits(
            n_new + n_old, new_bytes, self._paths(replaced)
        )
        with self._committing(
            replaced_names, target_schema or batch.schema, ordered_on=ordered_on,
            key_value_metadata=key_value_metadata, cmidx=cmidx,
            bloom_cols=bloom_cols,
        ) as staged:
            new_entries = None
            if use_driver:
                new_entries = self._merge_write_driver(
                    tbl if tbl is not None else gate.collect(batch.frame()),
                    replaced, ordered_on, duplicates_on, row_group_target_size,
                )
            if new_entries is None:
                new_entries = self._merge_write_distributed(
                    new(), replaced, ordered_on, duplicates_on,
                    row_group_target_size, n_old + n_new,
                )
            staged += new_entries

    def _merge_write_distributed(
        self, new, replaced, ordered_on, duplicates_on, target, n_rows
    ) -> list[FileEntry]:
        """The Spark merge write: old overlapping files and the new
        batch under the (src, file rank, position) keep-last order,
        deduped and written as size-controlled files."""
        merged = new
        if replaced:
            # Dataset order for the old side comes from the MANIFEST
            # file index (Spark orders scan splits by size, so raw
            # monotonically_increasing_id would not reflect it): the
            # per-file rank is looked up from input_file_name, and the
            # in-file id only breaks ties within one file.
            # Read through the MANIFEST schema (like read()): replaced
            # files can mix pre- and post-evolution schemas, and a
            # bare parquet read takes ONE file's footer schema —
            # silently nulling evolved columns out of the rewrite.
            old = _with_file_rank(
                self.spark,
                self._reader()
                .parquet(*self._paths(replaced))
                .withColumn(_POS, F.monotonically_increasing_id())
                .withColumn(_SRC, F.lit(0)),
                replaced,
            )
            # allowMissingColumns: under schema evolution either side
            # may lack columns the other has — absent values are NULL
            merged = old.unionByName(new, allowMissingColumns=True)
        return self._write_files(
            merged, ordered_on, target, n_rows, duplicates_on=duplicates_on
        )

    def _reader(self):
        """``spark.read`` under the manifest schema (when recorded):
        files written before a schema evolution read back NULL for
        later columns, and the scan infers no footer schema."""
        schema = self.schema()
        return self.spark.read.schema(schema) if schema else self.spark.read

    def _attach_blooms(self, new_entries, bloom_cols, schema) -> None:
        """Index the just-written files' ``bloom_cols`` values (one
        bounded Spark job over the NEW files only) and attach the
        bitsets to their manifest entries — committed atomically with
        the data change by the caller's ``_commit``."""
        if not bloom_cols or not new_entries:
            return
        from oups_spark.store.bloom import build_file_blooms

        data_schema = StructType(
            [f for f in schema.fields if not f.name.startswith("__oups_")]
        )
        by_file = build_file_blooms(
            self.spark,
            self._paths(new_entries),
            data_schema,
            bloom_cols,
        )
        for e in new_entries:
            if e.name in by_file:
                e.blooms = by_file[e.name]

    @contextlib.contextmanager
    def _committing(self, replaced_names, schema, **commit_kw):
        """THE guarded commit of every data change. The body stages
        the change's new files and appends their (finalized) entries
        to the yielded list; on a clean exit they replace
        ``replaced_names`` in ONE ``_commit`` (blooms, tombstones,
        CAS, rebase), skipped when the change is empty. Staged files
        are moved into the dataset dir before any manifest references
        them, so ANY failure before the CAS lands — in the body, in
        ``_attach_blooms``, a lost CAS that no rebase absorbed, a
        failed save — removes them here, the one cleanup point. A
        failure after the CAS landed (e.g. the time-travel snapshot
        write) keeps them: the committed manifest references them."""
        staged: list[FileEntry] = []
        self._commit_landed = False
        try:
            yield staged
            if staged or replaced_names:
                self._commit(staged, replaced_names, schema, **commit_kw)
        except BaseException:
            if not self._commit_landed:
                self._remove_files([e.name for e in staged])
            raise

    def _commit(
        self, new_entries, replaced_names, schema, *, ordered_on=None,
        key_value_metadata=None, cmidx=None, bloom_cols=None, rebase=True,
    ) -> None:
        """THE commit of every manifest change, data or kv-only: index
        ``new_entries`` (``bloom_cols``, default the sticky manifest
        setting) and swap them in for ``replaced_names`` in one
        manifest CAS. ``schema``: the dataset schema to record (None
        keeps the current one). On a lost CAS the change is re-applied
        onto the winner's manifest when ``_try_rebase`` allows it and
        ``rebase`` is set; otherwise ``ManifestConflictError``
        propagates (the caller's ``_committing`` removes the staged
        files, and ``_retrying`` may re-run the whole write)."""
        base = self._manifest
        if bloom_cols is None and base is not None:
            bloom_cols = base.kv.get(_BLOOM_COLS_KV)
        if schema is not None:
            self._attach_blooms(new_entries, bloom_cols, schema)
        land = functools.partial(
            self._land, new_entries=new_entries,
            replaced_names=replaced_names,
            schema_json=schema.json() if schema is not None else None,
            key_value_metadata=key_value_metadata, cmidx=cmidx,
        )
        try:
            return land(base or Manifest(ordered_on=ordered_on))
        except ManifestConflictError:
            latest = rebase and self._try_rebase(replaced_names, new_entries)
            if not latest:
                raise
        # a third writer racing this CAS raises ManifestConflictError
        land(latest)
        self.conflict_rebases += 1

    def _land(
        self, base, *, new_entries, replaced_names, schema_json,
        key_value_metadata, cmidx,
    ) -> None:
        """The one manifest save: CAS a copy of ``base`` with the
        change applied. ``base`` is never mutated, so a save that
        raised before its CAS landed leaves the handle as stored. Once
        the CAS has landed the handle adopts the copy, even when a
        later step (the time-travel snapshot write) raises: the stored
        manifest references the staged files, and ``_committing``
        keeps them when ``_commit_landed`` is set (a delete there
        would be permanent data loss). Expired tombstones are deleted
        after a clean save only."""
        replaced = set(replaced_names)
        man = dataclasses.replace(
            base,
            files=[e for e in base.files if e.name not in replaced]
            + list(new_entries),
            kv=_merged_kv(base.kv, key_value_metadata),
            schema_json=schema_json or base.schema_json,
            cmidx=cmidx or base.cmidx,
        )
        expired = self._stage_tombstones(man, replaced_names)
        try:
            man.save(self.path, self.backend, snapshot=self.retain_versions)
        finally:
            if man.last_commit_landed:
                self._commit_landed = True
                self._manifest = man
        self._remove_files(expired)

    def _try_rebase(self, replaced_names, new_entries) -> Manifest | None:
        """After a lost manifest CAS: the winner's manifest when this
        handle's change may be re-applied onto it (a commit REBASE,
        Delta-style conflict resolution), else None.

        Correctness argument: the failed write's overlap analysis,
        keep-last dedup and file split were computed against the base
        manifest this handle had loaded. They remain valid against the
        WINNER's manifest iff the winner's changes could not have
        participated in them, i.e. iff
        - every file our merge consumed (``replaced_names``) is still
          present, untouched, in the winner's manifest, and
        - every file the winner added or removed is strictly
          range-disjoint from the ``ordered_on`` span our write
          touched (replaced + new files) — INCLUSIVE boundaries,
          since a winner file merely touching our span could carry
          duplicate-key rows the dedup needed to see, and
        - the winner changed neither the schema, nor the cmidx
          mapping, nor the sticky bloom-column setting this write's
          plan was resolved against.
        When all hold, the rebased manifest is the winner's files
        minus ours replaced plus ours added, with our kv merged on
        top — exactly what re-running the merge against the winner's
        manifest would produce, at zero Spark-job cost. Any doubt
        returns None and the caller falls back to the full re-run
        (``conflict_retries``).
        """
        base = self._manifest
        if base is None:
            return None  # concurrent creation: nothing safe to rebase onto
        latest = Manifest.load(self.path, self.backend)
        if (
            latest is None
            or latest.ordered_on != base.ordered_on
            or latest.schema_json != base.schema_json
            or latest.cmidx != base.cmidx
            or latest.kv.get(_BLOOM_COLS_KV) != base.kv.get(_BLOOM_COLS_KV)
        ):
            return None
        replaced = set(replaced_names)
        latest_names = {f.name for f in latest.files}
        if not replaced <= latest_names:
            return None  # the winner rewrote files our merge consumed
        base_by_name = {f.name: f for f in base.files}
        touched = [f for f in latest.files if f.name not in base_by_name]
        touched += [
            f for f in base.files if f.name not in latest_names
        ]
        ours = list(new_entries) + [
            base_by_name[n] for n in replaced if n in base_by_name
        ]
        if ours and touched:
            lo = min(e.min for e in ours)
            hi = max(e.max for e in ours)
            if any(not (f.max < lo or f.min > hi) for f in touched):
                return None
        return latest

    def _stage_tombstones(self, man, replaced_names) -> list[str]:
        """Move ``replaced_names`` onto the candidate manifest's
        tombstone ledger and sweep entries older than the grace
        window. Returns the file names whose physical deletion is due
        AFTER the commit lands (deleting before would reintroduce the
        race for the files the previous commit tombstoned). With
        ``retain_versions`` the snapshot machinery owns old files
        (``vacuum`` reclaims them) and the ledger stays empty."""
        if self.retain_versions:
            return []
        import time

        now = time.time()
        pending = list(man.tombstones) + [
            {"name": n, "ts": now} for n in replaced_names
        ]
        expired = [t["name"] for t in pending
                   if now - t["ts"] >= self.deletion_grace_s]
        man.tombstones = [t for t in pending
                          if now - t["ts"] < self.deletion_grace_s]
        return expired

    def _remove_files(self, names) -> None:
        for name in names:
            p = os.path.join(self.path, name)
            if os.path.exists(p):
                os.remove(p)

    # ----------------------------------------------------------- helpers
    def _update_kv_only(self, ordered_on, key_value_metadata) -> None:
        """Commit a kv change that carries no data, without rebase.
        Without kv there is nothing to commit: an existing dataset
        skips the manifest rewrite (an empty micro-batch would
        otherwise pay a commit per batch), and a new one must not be
        created schema-less."""
        if key_value_metadata:
            os.makedirs(self.path, exist_ok=True)
            self._commit(
                [], (), None, ordered_on=ordered_on or "",
                key_value_metadata=key_value_metadata, rebase=False,
            )

    _FIXED_WIDTHS = {
        "boolean": 1, "byte": 1, "short": 2, "int": 4, "date": 4,
        "float": 4, "long": 8, "double": 8, "timestamp": 8,
        "timestamp_ntz": 8,
    }

    def _estimate_new_bytes(
        self, schema: StructType, n_new: int, str_bytes: int
    ) -> int:
        """Estimated in-memory Arrow bytes of the new batch for the
        driver-merge gate: fixed-width columns priced from the schema,
        string columns at ``str_bytes``, measured in the same pass as
        the batch bounds (``_check_monotonic`` or the stats agg). The
        overlapped files are priced by ``driver_gate.decoded_bytes``.
        """
        fixed = sum(
            self._FIXED_WIDTHS.get(s.split("(")[0], 16)
            for f in schema.fields
            if (s := f.dataType.simpleString()) != "string"
        )
        return fixed * n_new + str_bytes

    def _check_monotonic(self, new: DataFrame, ordered_on: str, str_cols=()):
        """Reject unsorted input (reference: ``write.py:182-185``) or a
        NULL ``ordered_on``, and return the batch bounds
        ``(min, max, n_rows, str_bytes)``.

        Fully distributed: each Arrow batch of the narrow
        (ordered_on, position, NULL flag[, per-row string bytes])
        projection reports (first/last position, first/last value, row
        count, locally-sorted flag, NULL count, summed string bytes);
        the driver stitches the tiny summaries in position order and
        checks the boundaries — no global sort, no single-partition
        window — and the same summaries yield min/max/count plus the
        string payload size the driver-merge byte gate needs, so the
        write path never scans the new data a second time for stats.
        Disable with ``validate_monotonic=False`` when the producer
        guarantees order. A pyarrow Table batch is checked in Arrow
        instead (``_arrow_bounds``), with no Spark job.
        """
        from pyspark.sql.types import BooleanType, LongType, StructField, StructType

        sb = sum(
            (F.octet_length(F.coalesce(F.col(c), F.lit(""))).cast("long")
             for c in str_cols),
            F.lit(0).cast("long"),
        )
        proj = new.select(
            F.col(ordered_on).alias("v"), F.col(_POS).alias("p"), sb.alias("sb"),
            F.col(ordered_on).isNull().cast("long").alias("nl"),
        )
        val_type = proj.schema["v"].dataType
        out_schema = StructType(
            [
                StructField("first_p", LongType()),
                StructField("last_p", LongType()),
                StructField("first_v", val_type),
                StructField("last_v", val_type),
                StructField("n", LongType()),
                StructField("ok", BooleanType()),
                StructField("sb", LongType()),
                StructField("nl", LongType()),
            ]
        )

        def summarize(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                pdf = pdf.sort_values("p", ignore_index=True)
                yield pd.DataFrame(
                    {
                        "first_p": [pdf["p"].iloc[0]],
                        "last_p": [pdf["p"].iloc[-1]],
                        "first_v": [pdf["v"].iloc[0]],
                        "last_v": [pdf["v"].iloc[-1]],
                        "n": [len(pdf)],
                        "ok": [bool(pdf["v"].is_monotonic_increasing)],
                        "sb": [int(pdf["sb"].sum())],
                        "nl": [int(pdf["nl"].sum())],
                    }
                )

        parts = sorted(
            proj.mapInPandas(summarize, out_schema).collect(),
            key=lambda r: r["first_p"],
        )
        if not parts:
            return None, None, 0, 0
        if any(r["nl"] for r in parts):
            raise ValueError(_NULL_ORDERED_ON)
        for prev, cur in zip(parts, parts[1:]):
            if prev["last_v"] > cur["first_v"]:
                raise ValueError(f"column {ordered_on!r} is not ordered")
        if any(not r["ok"] for r in parts):
            raise ValueError(f"column {ordered_on!r} is not ordered")
        return (
            parts[0]["first_v"],
            parts[-1]["last_v"],
            sum(r["n"] for r in parts),
            sum(r["sb"] for r in parts),
        )

    def _select_overlap(
        self,
        entries: list[FileEntry],
        df_min,
        df_max,
        target,
        max_n_off_target_rgs: int | None,
    ) -> list[FileEntry]:
        """Pick files to rewrite: those overlapping [df_min, df_max]
        (inclusive — equal boundary values must merge so keep-last
        dedup sees them, reference ``merge_split_strategies/base.py:279-288``),
        plus adjacent off-target runs when they exceed
        ``max_n_off_target_rgs`` (coalescing, reference
        ``base.py:505-633``)."""
        overlap_idx = [
            i for i, e in enumerate(entries) if e.max >= df_min and e.min <= df_max
        ]
        selected = set(overlap_idx)
        if max_n_off_target_rgs is not None and entries:
            flags = _off_target_flags(entries, target)

            def off(i):
                return flags[i]

            lo = min(overlap_idx) if overlap_idx else len(entries)
            hi = max(overlap_idx) if overlap_idx else len(entries) - 1
            left_run = []
            for i in range(lo - 1, -1, -1):
                if off(i):
                    left_run.append(i)
                else:
                    break
            right_run = []
            for i in range(hi + 1, len(entries)):
                if off(i):
                    right_run.append(i)
                else:
                    break
            if len(left_run) >= max_n_off_target_rgs:
                selected.update(left_run)
            if len(right_run) >= max_n_off_target_rgs:
                selected.update(right_run)
        return [entries[i] for i in sorted(selected)]

    def _dedup_keep_last(
        self, merged: DataFrame, ordered_on: str, duplicates_on
    ) -> DataFrame:
        """Keep-last dedup on ``duplicates_on ∪ {ordered_on}``.

        "Last" = later physical position, new data after old
        (reference: ``write.py:35-75,199-203``;
        ``iter_merge_split_data.py:112-119``). Spark has no physical
        row order, so the tiebreaker is explicit:
        (src_rank desc, in-batch position desc).
        """
        if isinstance(duplicates_on, str):
            duplicates_on = [duplicates_on]
        subset = list(duplicates_on)
        if ordered_on not in subset:
            subset.append(ordered_on)
        w = Window.partitionBy(*subset).orderBy(
            F.desc(_SRC), F.desc(_FIDX), F.desc(_POS)
        )
        return (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _merge_write_driver(
        self, new_tbl, replaced, ordered_on, duplicates_on, target: int,
    ) -> list[FileEntry] | None:
        """Driver-side pyarrow merge for small batches: take the batch
        as Arrow (type-exact — pandas would widen nullable ints to
        float), read the overlapping files with pyarrow, replay the
        keep-last tiebreak on key columns only (the data itself never
        round-trips through pandas), and write size-capped chunks into
        the dataset. File stats come from the SAME ``_footer_stats``
        reader the Spark path uses, so manifest entries are
        indistinguishable. Returns None when ``new_tbl`` is None (the
        collect was refused), when the files cannot be unified under
        the batch's Arrow schema (caller falls back to the distributed
        path) or when the batch and the decoded files pass the driver
        gate's hard bail (``driver_gate``)."""
        if new_tbl is None:
            return None
        # relax nullability: a batch built from literals arrives with
        # non-nullable fields, but the DATASET schema is nullable —
        # casting old files (which may hold NULLs) to the stricter
        # schema would fail, and the stored schema must never tighten
        # just because one batch happened to be dense
        relaxed = pa.schema([f.with_nullable(True) for f in new_tbl.schema])
        new_tbl = new_tbl.cast(relaxed)
        try:
            tables = gate.decode(self._paths(replaced), used=new_tbl.nbytes)
            if tables is None:
                return None
            merged = pa.concat_tables(
                [t.select(new_tbl.schema.names).cast(relaxed) for t in tables]
                + [new_tbl]
            )
        except (KeyError, pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return None  # schema drift (e.g. pre-evolution files)

        # concat order IS ascending (src, file_rank, pos): old files in
        # manifest order then the new batch — the same total order the
        # Spark path encodes in (_SRC, _FIDX, _POS)
        subset = None
        if duplicates_on is not None:
            subset = list(
                [duplicates_on] if isinstance(duplicates_on, str) else duplicates_on
            )
            if ordered_on not in subset:
                subset.append(ordered_on)
        import pandas as pd

        keys = merged.select(
            sorted(set((subset or []) + [ordered_on]))
        ).to_pandas(types_mapper=pd.ArrowDtype)
        if subset is not None:
            idx = np.flatnonzero(
                ~keys.duplicated(subset=subset, keep="last").to_numpy()
            )
        else:
            idx = np.arange(len(keys))
        # final layout order: ordered_on, ties in concat order
        # (= the Spark path's sort by ordered_on, _SRC, _FIDX, _POS)
        order = idx[
            np.argsort(keys[ordered_on].take(idx).to_numpy(), kind="stable")
        ]
        merged = merged.take(pa.array(order))
        return self._stage_arrow(merged, ordered_on, _balanced(len(order), target))

    def _compact_run_driver(
        self, run: list[FileEntry], ordered_on: str, target: int
    ) -> list[FileEntry] | None:
        """Driver-side pyarrow coalesce of one off-target run.

        Files in a run are already globally ordered (manifest order =
        ascending bounds; rows within a file sorted by ``ordered_on``
        — equal boundary values never split across files thanks to the
        inclusive overlap selection on write), so the rewrite is a
        plain ordered concat + rechunk: no sort, no dedup. Requires
        every file to carry the IDENTICAL Arrow schema (compact must
        not silently null evolved columns — mixed-schema runs take the
        distributed path, which projects through the manifest schema);
        bails to the distributed path past the driver gate's hard
        bail."""
        try:
            tables = gate.decode(self._paths(run))
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, OSError):
            return None
        if tables is None or any(
            not t.schema.equals(tables[0].schema) for t in tables
        ):
            return None  # too big, or mixed pre/post-evolution schemas
        tbl = pa.concat_tables(tables)
        return self._stage_arrow(tbl, ordered_on, _balanced(tbl.num_rows, target))

    def _stage(self, ordered_on: str, write, exact_stats) -> list[FileEntry]:
        """Stage one write: ``write(dir)`` fills a fresh hidden staging
        dir with parquet files; their per-file stats come from the
        footers (``_footer_stats``), or from ``exact_stats(dir)`` when
        those are untrusted for the ordering column (binary/string
        truncation). The files then move into the dataset under fresh
        opaque names (manifest order = ascending bounds) and their
        entries are returned — unreferenced until a ``_commit``, which
        is why every caller runs inside ``_committing``."""
        staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex[:12]}")
        os.makedirs(staging, exist_ok=True)
        try:
            write(staging)
            stats = _footer_stats(staging, ordered_on)
            if stats is None:
                stats = exact_stats(staging)
            entries = []
            for src, n, mn, mx, cols in sorted(stats, key=lambda t: (t[2], t[3])):
                name = f"file_{uuid.uuid4().hex}.parquet"
                os.replace(src, os.path.join(self.path, name))
                entries.append(
                    FileEntry(name=name, n_rows=n, min=mn, max=mx, cols=cols)
                )
            return entries
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _stage_arrow(self, tbl, ordered_on: str, slices) -> list[FileEntry]:
        """The Arrow stager of every driver path: each non-empty
        ``(offset, length)`` slice of the already-ordered table
        ``tbl`` becomes one file (same footer-stats entries as the
        Spark writes, so the two are indistinguishable)."""
        chunks = [tbl.slice(off, ln) for off, ln in slices if ln]

        def part(d, j):
            return os.path.join(d, f"part-{j:05d}.parquet")

        def write(d):
            for j, c in enumerate(chunks):
                pq.write_table(c, part(d, j), compression="snappy")

        def exact_stats(d):
            # bounds straight from the in-memory chunks
            out = []
            for j, c in enumerate(chunks):
                mm = pc.min_max(c.column(ordered_on))
                out.append((
                    part(d, j), c.num_rows, _norm_tz(mm["min"].as_py()),
                    _norm_tz(mm["max"].as_py()), None,
                ))
            return out

        return self._stage(ordered_on, write, exact_stats)

    def _stage_spark(self, writer, ordered_on: str) -> list[FileEntry]:
        """The Spark stager: run ``writer`` (a configured
        DataFrameWriter) into staging with µs timestamps (INT96
        carries no footer min/max stats; the session's own setting is
        restored after), stats from the footers or, when untrusted,
        one Spark scan of the staged files."""
        ts_conf = "spark.sql.parquet.outputTimestampType"
        prev_ts_conf = self.spark.conf.get(ts_conf, None)
        self.spark.conf.set(ts_conf, "TIMESTAMP_MICROS")

        def exact_stats(d):
            rows = (
                self.spark.read.parquet(d)
                .groupBy(F.input_file_name().alias("f"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min(ordered_on).alias("mn"),
                    F.max(ordered_on).alias("mx"),
                )
                .collect()
            )
            # input_file_name() yields a URI: strip scheme and
            # percent-decoding (Spark also escapes ':' etc. in
            # partition dir names on disk — one decode recovers the
            # on-disk path)
            return [
                (
                    urllib.parse.unquote(urllib.parse.urlparse(r["f"]).path),
                    r["n"], r["mn"], r["mx"], None,
                )
                for r in rows
            ]

        try:
            return self._stage(
                ordered_on,
                lambda d: writer.mode("overwrite").parquet(d),
                exact_stats,
            )
        finally:
            if prev_ts_conf is None:
                self.spark.conf.unset(ts_conf)
            else:
                self.spark.conf.set(ts_conf, prev_ts_conf)

    def _stage_cow(self, rows, touched, o: str) -> list[FileEntry]:
        """Stage a copy-on-write rewrite: ``rows`` (a Spark frame over
        the ``touched`` files, or a collected Arrow table) holds the
        data columns plus ``_FID`` (the row's source file name) and
        ``_POS`` (stable order among equal ordering values). Each
        source file's rows become exactly ONE replacement file sorted
        ``(o, pos)`` — entries stay range-disjoint with untouched
        neighbors — and a file whose every row was dropped writes
        nothing."""
        if isinstance(rows, DataFrame):
            # the fid hash-repartition puts each file's rows in one
            # partition, partitionBy splits collisions back apart
            return self._stage_spark(
                rows.repartition(len(touched), F.col(_FID))
                .sortWithinPartitions(_FID, o, _POS)
                .drop(_POS)
                .write.partitionBy(_FID),
                o,
            )
        fid = pc.index_in(rows[_FID], value_set=pa.array([e.name for e in touched]))
        rows = rows.drop_columns([_FID]).append_column(_FID, fid).sort_by(
            [(_FID, "ascending"), (o, "ascending"), (_POS, "ascending")]
        )
        bounds = np.searchsorted(
            rows[_FID].to_numpy(zero_copy_only=False), np.arange(len(touched) + 1)
        )
        return self._stage_arrow(
            rows.drop_columns([_FID, _POS]), o,
            zip(bounds[:-1].tolist(), np.diff(bounds).tolist()),
        )

    def _write_files(
        self,
        merged: DataFrame,
        ordered_on: str,
        target,
        approx_rows: int,
        cluster_col: str | None = None,
        duplicates_on=None,
    ) -> list[FileEntry]:
        """Write merged data into size-controlled files, return stats.

        ``cluster_col``: optional alternative LAYOUT key (a column
        already on ``merged``, e.g. a Morton curve) — files are
        range-partitioned and sorted on it instead of ``ordered_on``
        and it is dropped before writing. Per-file stats still record
        the ordering column's [min, max] (ranges may then overlap,
        which the store tolerates) plus every column's bounds for the
        data-skipping index. Row-count targets only.

        Row-count target: ``repartitionByRange`` into
        ``ceil(rows/target)`` splits + ``maxRecordsPerFile`` cap.
        Period target (e.g. ``'1D'``): one file per period via a
        derived period column (reference's TimePeriod strategy,
        ``time_period_strategy.py``).

        ``duplicates_on``: apply the keep-last dedup
        (``_dedup_keep_last``) on the way. For a row-count target it
        runs AFTER the range repartition on ``ordered_on``, which is
        part of the dedup key: that partitioning already clusters the
        window, so the plan has ONE shuffle, and the range sampler
        reads the plain union (nothing to persist for it). A period
        target dedups before its period shuffle.

        Per-file stats come from the parquet footers driver-side (no
        second Spark scan of the written data); a Spark scan remains as
        the fallback for ordering columns whose footer stats are
        unreliable (binary/string truncation).
        """
        if isinstance(target, int):
            n_out = max(1, -(-approx_rows // target))
            layout_key = cluster_col or ordered_on
            if n_out == 1:
                # one output split: the range partitioner would only
                # add its child-re-executing sample pass
                out = merged.coalesce(1)
            else:
                out = merged.repartitionByRange(n_out, F.col(layout_key))
            if duplicates_on is not None:
                out = self._dedup_keep_last(out, ordered_on, duplicates_on)
            sort_cols = [cluster_col, ordered_on] if cluster_col else [ordered_on]
            out = out.sortWithinPartitions(
                *sort_cols, _SRC, _FIDX, _POS
            ).drop(_SRC, _FIDX, _POS)
            if cluster_col:
                out = out.drop(cluster_col)
            writer = out.write.option("maxRecordsPerFile", target)
        else:
            if duplicates_on is not None:
                merged = self._dedup_keep_last(merged, ordered_on, duplicates_on)
            writer = (
                merged.withColumn(_PERIOD, floor_ts(F.col(ordered_on), target))
                .repartition(F.col(_PERIOD))
                .sortWithinPartitions(_PERIOD, ordered_on, _SRC, _FIDX, _POS)
                .drop(_SRC, _FIDX, _POS)
                .write.partitionBy(_PERIOD)
            )
        return self._stage_spark(writer, ordered_on)

    # ---------------------------------------------------------- compact
    def compact(
        self,
        *,
        row_group_target_size: int | str = DEFAULT_ROW_GROUP_TARGET_SIZE,
        zorder_by: list[str] | None = None,
        scope=None,
        conflict_retries: int = 0,
    ) -> int:
        """Coalesce runs of off-target files without new data — the
        reference's off-target coalescing as a standalone maintenance
        op (Delta's OPTIMIZE equivalent). Returns the number of files
        rewritten; on-target files are never rewritten. Commits like
        ``write``: a concurrent commit range-disjoint from the
        rewritten runs is absorbed by a rebase, otherwise the compact
        re-runs up to ``conflict_retries`` times.

        Row-count target: off-target = undersized (< 80% of target);
        only contiguous runs of 2+ such files are touched.
        Period target (e.g. ``'1D'``): off-target = the file shares
        its period with another file or spans several periods
        (reference one-file-per-period rule,
        ``time_period_strategy.py:166-199``); a run of 1 is rewritten
        when that lone file straddles periods (the rewrite splits it).

        ``zorder_by``: IN-PLACE RE-CLUSTERING (Delta ``OPTIMIZE
        ZORDER BY`` equivalent; beyond reference) — rewrite EVERY
        file along the Morton curve over the named columns
        (equi-depth rank buckets, bit-interleaved, range-partitioned
        into row-count-targeted files), through the same
        tombstone/CAS commit as every other write: readers see either
        the old layout or the new one, ``as_of`` time travel keeps
        resolving the pre-compact generation, and a concurrent
        writer's commit triggers reload-and-re-run, never a rebase
        (bounded by ``conflict_retries``; the re-run re-clusters the
        winner's files too, so no rows are lost). At 100 TB this is the weekly
        maintenance pass: clustering degrades under ordered appends
        and DML, and the per-file [min, max] the manifest records on
        every column is only as tight as the layout. File ranges on
        the ordering column widen/overlap after re-clustering — the
        store tolerates overlap (``read`` sorts; range reads stay
        correct, just less pruned), which is the explicit trade for
        tight multi-column boxes. Returns the number of files
        rewritten. Row-count targets only; sticky ``bloom_cols``
        re-index the rewritten files (one bounded pass), so equality
        skipping survives the re-clustering.

        ``scope``: optional DNF filter bounding the re-clustering to
        the FILES whose stats can match it (same skipping index the
        reads use; conservative — a stats-less file is in scope) —
        the incremental OPTIMIZE shape: at 100 TB a weekly pass never
        rewrites the whole table, it re-clusters the region recent
        appends and DML degraded (e.g. ``[("ts", ">=", <last week>)]``).
        File-granular: every row of an in-scope file is re-clustered
        (the curve is a LAYOUT, so moving whole files keeps
        out-of-scope bytes untouched); the sketch pass sizes the
        curve's buckets from the in-scope rows only.
        """
        if zorder_by is not None:
            return self._retrying(
                lambda: self._compact_zorder_attempt(
                    zorder_by, row_group_target_size, scope
                ),
                conflict_retries,
            )
        return self._retrying(
            lambda: self._compact_attempt(row_group_target_size),
            conflict_retries,
        )

    def _compact_attempt(self, row_group_target_size) -> int:
        """One optimistic attempt of plain ``compact`` — see
        :meth:`compact`."""
        if not self.exists or not self._manifest.files:
            return 0
        files = self._manifest.files
        off = _off_target_flags(files, row_group_target_size)
        period_target = not isinstance(row_group_target_size, int)

        def qualifies(run: list[FileEntry]) -> bool:
            if len(run) > 1:
                return True
            if period_target and run:
                e = run[0]
                return floor_ts_scalar(
                    e.min, row_group_target_size
                ) != floor_ts_scalar(e.max, row_group_target_size)
            return False

        runs: list[list[FileEntry]] = []
        cur: list[FileEntry] = []
        for e, is_off in zip(files, off):
            if is_off:
                cur.append(e)
            else:
                if qualifies(cur):
                    runs.append(cur)
                cur = []
        if qualifies(cur):
            runs.append(cur)
        if not runs:
            return 0
        ordered_on = self._manifest.ordered_on
        # sticky bloom_cols re-index the coalesced files (one bounded
        # pass over the new files only, inside _commit)
        with self._committing(
            [e.name for run in runs for e in run], self.schema()
        ) as staged:
            for run in runs:
                # DRIVER FAST PATH: a small homogeneous-schema run
                # coalesces driver-side with pyarrow — zero Spark jobs
                # for the exact workload compact exists for (many tiny
                # flush files). Gated on the row cap and the hard bail
                # (driver_gate); mixed-schema or big runs fall through
                # to the distributed rewrite below.
                new_entries = (
                    self._compact_run_driver(run, ordered_on, row_group_target_size)
                    if isinstance(row_group_target_size, int)
                    and gate.fits(sum(e.n_rows for e in run))
                    else None
                )
                if new_entries is None:
                    # read runs through the MANIFEST schema, exactly
                    # like read(): a run can mix pre- and
                    # post-evolution files, and a bare parquet read
                    # would take ONE file's footer schema — silently
                    # nulling evolved columns out of the rewrite
                    merged = _with_file_rank(
                        self.spark,
                        self._reader()
                        .parquet(*self._paths(run))
                        .withColumn(_POS, F.monotonically_increasing_id())
                        .withColumn(_SRC, F.lit(0)),
                        run,
                    )
                    new_entries = self._write_files(
                        merged, ordered_on, row_group_target_size,
                        sum(e.n_rows for e in run),
                    )
                staged += new_entries
        return sum(len(run) for run in runs)

    def _compact_zorder_attempt(
        self, zorder_by: list[str], target, scope=None
    ) -> int:
        """One optimistic attempt of ``compact(zorder_by=...)`` — see
        :meth:`compact`. Reads the in-scope live files through the
        manifest schema, lays the rows along the Morton curve
        (``store/zorder.py`` — one approx-percentile sketch pass, then
        map-side bucket fold + interleave, all JVM expressions), and
        swaps that file subset in one manifest commit."""
        from oups_spark.functions.filters import dnf_file_can_match

        if not isinstance(target, int):
            raise ValueError(
                "compact(zorder_by=...) needs a row-count target (a "
                "period target would re-impose the single-column layout "
                "the re-clustering replaces)"
            )
        if not self.exists or not self._manifest.files:
            return 0
        man = self._manifest
        ordered_on = man.ordered_on
        schema = self.schema()
        known = {f.name for f in schema.fields} if schema is not None else set()
        missing = [c for c in zorder_by if c not in known]
        if missing:
            raise ValueError(f"zorder_by columns absent from dataset: {missing}")
        old = list(man.files)
        if scope is not None:
            # incremental OPTIMIZE: bound the rewrite to files whose
            # stats can match the scope (driver-side, conservative)
            old = [
                e for e in old
                if dnf_file_can_match(
                    {ordered_on: (e.min, e.max), **(e.cols or {})},
                    scope,
                    blooms=e.blooms,
                )
            ]
            if not old:
                return 0
        # DRIVER FAST PATH (round 15): a driver-sized rewrite scope —
        # the frequent shape for incremental OPTIMIZE over recent
        # appends, and the whole table at bench SF — re-clusters with
        # numpy/pyarrow: exact equi-depth buckets, the same Morton
        # spread, one take() and N small file writes, ZERO Spark jobs
        # for what was a sketch job + range-sample job + a write job
        # with one task per output file. The curve is a LAYOUT: rows
        # are preserved bit-for-bit (same reader, same writer as the
        # driver compact path), only their file assignment differs,
        # so readers see identical data either way. Gated by
        # driver_gate, with the distributed rewrite below as the
        # 100 TB path.
        #
        # A conflict re-runs rather than rebases: the rewrite's input
        # set is every in-scope file, not an ordering-column range, so
        # the rebase's range-disjointness proof does not cover a
        # winner's new in-scope file — the re-run re-clusters it too.
        with self._committing(
            [e.name for e in old], schema, rebase=False
        ) as staged:
            new_entries = None
            if gate.fits(sum(e.n_rows for e in old), paths=self._paths(old)):
                new_entries = self._zorder_rewrite_driver(
                    old, ordered_on, target, zorder_by
                )
            if new_entries is None:
                new_entries = self._zorder_rewrite_distributed(
                    old, ordered_on, target, zorder_by
                )
            staged += new_entries
        return len(old)

    def _zorder_rewrite_distributed(self, old, ordered_on, target, zorder_by):
        df = self._reader().parquet(*self._paths(old))
        # the rewrite input is consumed THREE times (percentile
        # sketch, range-partitioner sample, write) — persist it when
        # it fits a bounded budget so the file set is scanned once
        # (guide §5: reuse justifies the cache; MEMORY_AND_DISK spills
        # rather than OOMs). Oversized scopes stay uncached — at
        # 100 TB an incremental OPTIMIZE bounds `old` via `scope=`.
        cached = None
        if gate.decoded_bytes(self._paths(old)) <= _COMPACT_CACHE_MAX_BYTES:
            from pyspark import StorageLevel

            cached = df = df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            from oups_spark.store.zorder import zorder_column

            merged = _with_file_rank(
                self.spark,
                df.withColumn(_POS, F.monotonically_increasing_id())
                .withColumn(_SRC, F.lit(0))
                .withColumn(_ZCOL, zorder_column(df, zorder_by)),
                old,
            )
            return self._write_files(
                merged, ordered_on, target, sum(e.n_rows for e in old),
                cluster_col=_ZCOL,
            )
        finally:
            if cached is not None:
                cached.unpersist()

    def _zorder_rewrite_driver(
        self, old: list[FileEntry], ordered_on: str, target: int,
        zorder_by: list[str],
    ) -> list[FileEntry] | None:
        """Driver-side twin of the distributed z-order rewrite: read
        the in-scope files with pyarrow, bucket each clustered column
        on exact equi-depth quantiles (the approx-percentile sketch's
        only job is balancing the curve; with the rows in hand the
        exact quantiles are strictly better), Morton-spread and OR the
        bucket indices (the same ``_spread`` mapping the JVM
        expression uses), then sort by (z nulls-first, ordered_on,
        position) — the distributed path's
        ``repartitionByRange(__z) + sortWithinPartitions(__z,
        ordered_on, ...)`` total order — and stage size-balanced
        files through the same ``_stage_arrow`` as the driver compact
        path. Returns None on any schema surprise (caller runs the
        distributed rewrite)."""
        from oups_spark.store.zorder import _ZBITS

        try:
            tables = gate.decode(self._paths(old))
            if tables is None:
                return None
            schema = tables[0].schema
            tbl = pa.concat_tables(
                [t.select(schema.names).cast(schema) for t in tables]
            )
        except (KeyError, OSError, pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return None
        n_rows = tbl.num_rows
        if n_rows == 0:
            return None

        n_buckets = 2 ** _ZBITS
        pcts = [i / (n_buckets - 1) for i in range(1, n_buckets - 1)]
        n_cols = len(zorder_by)
        z = np.zeros(n_rows, dtype=np.int64)
        z_null = np.zeros(n_rows, dtype=bool)
        for j, c in enumerate(zorder_by):
            try:
                col = pc.cast(tbl.column(c), pa.float64())
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                return None
            v = col.to_numpy(zero_copy_only=False)  # nulls -> nan
            isnan = np.isnan(v)
            vals = v[~isnan]
            bounds = (
                np.unique(np.quantile(vals, pcts))
                if len(vals)
                else np.array([0.0])
            )
            # bucket index = #bounds <= v, as the CASE tree counts it
            idx = np.searchsorted(bounds, np.nan_to_num(v), side="right")
            # spread bit i of column j to position i*n + j — the same
            # mapping zorder._spread precomputes into the JVM CASE
            # tree's leaf literals
            spread = np.zeros(n_rows, dtype=np.int64)
            for i in range(_ZBITS):
                spread |= ((idx >> i) & 1) << (i * n_cols + j)
            z |= spread
            z_null |= isnan
        # total order: z ascending with nulls FIRST (Spark's
        # asc_nulls_first), then ordered_on, then original position
        sort_tbl = pa.table(
            {
                "__z": pa.array(
                    np.where(z_null, None, z), type=pa.int64()
                ),
                "__o": tbl.column(ordered_on),
                "__p": pa.array(np.arange(n_rows, dtype=np.int64)),
            }
        )
        order = pc.sort_indices(
            sort_tbl,
            sort_keys=[
                ("__z", "ascending"),
                ("__o", "ascending"),
                ("__p", "ascending"),
            ],
            null_placement="at_start",
        )
        return self._stage_arrow(tbl.take(order), ordered_on, _balanced(n_rows, target))

    # ------------------------------------------------------------- DML
    def delete_where(
        self, filters, *, conflict_retries: int = 0
    ) -> int:
        """Row-level DELETE with bounded rewrite (Delta-style
        copy-on-write; beyond reference — the reference store has no
        row-level DML).

        Plan: (1) prune candidate files DRIVER-side from per-file
        [min, max] stats + blooms (the same skipping index
        ``read(filters=)`` uses, with the ordering column's own
        bounds included), (2) one scan of the candidates finds which
        files truly contain matches and how many rows, (3) one job
        rewrites ONLY those files — each source file's surviving
        rows land in exactly one replacement file, so entries stay
        range-disjoint with untouched neighbors and the cost is
        ∝ matching files, never dataset size. A file whose every
        row matches is dropped with no replacement. The commit goes
        through the same tombstone/CAS/rebase path as ``write``;
        sticky ``bloom_cols`` re-index the replacement files.

        ``filters`` is required — refuse an implicit full-table
        delete (drop the dataset with ``delete()`` instead).

        Returns the number of rows deleted.
        """
        return self._retrying(
            lambda: self._rewrite_where(filters, None), conflict_retries
        )

    def update_where(
        self, filters, assignments: dict, *, conflict_retries: int = 0
    ) -> int:
        """Row-level UPDATE: set ``assignments`` (``{col: Column or
        literal}``, evaluated against the PRE-update row) on rows
        matching the DNF ``filters``; same bounded-rewrite plan and
        commit path as :meth:`delete_where`. Assigning the ordering
        column is rejected (it would invalidate file ranges — that
        reshape is a delete + write). Values are cast to the
        column's existing type, so the dataset schema never drifts.

        Returns the number of rows updated.
        """
        if not assignments:
            raise ValueError("update_where needs at least one assignment")
        return self._retrying(
            lambda: self._rewrite_where(filters, assignments), conflict_retries
        )

    _MERGE_IN_KEYS_CAP = 2048

    def merge_into(
        self,
        source: DataFrame,
        on: list[str] | str,
        *,
        when_matched_update: dict | str | None = None,
        when_matched_delete=False,
        when_not_matched_insert: bool = True,
        when_not_matched_by_source_update: dict | None = None,
        when_not_matched_by_source_delete=False,
        by_source_scope=None,
        evolve_schema: bool = False,
        row_group_target_size: int = DEFAULT_ROW_GROUP_TARGET_SIZE,
        conflict_retries: int = 0,
    ) -> dict:
        """MERGE INTO: conditional upsert + delete as ONE atomic
        commit (beyond reference — the reference's closest shape is
        keep-last dedup on the write path,
        ``iter_merge_split_data.py:113-119``; this is the Delta/SQL
        ``WHEN MATCHED ... WHEN NOT MATCHED ... WHEN NOT MATCHED BY
        SOURCE ...`` lakehouse op).

        ``on``: equi-join key column(s), present on both sides. The
        source must be UNIQUE on them and carry no NULL keys (the
        multiple-matches case SQL MERGE rejects).

        ``when_matched_update``: ``{target_col: value}`` applied to
        matched target rows. A Column value is an expression over the
        matched pair — reference source columns as ``F.col("s.<col>")``
        and target columns as ``F.col("t.<col>")`` (bare names work
        when unambiguous); any other value is a literal (the
        ``update_where`` rule). The dict sentinel ``"source"`` sets
        every common non-key column from the source row. The ordering
        column cannot be assigned (same rule as ``update_where``).

        ``when_matched_delete``: ``True`` deletes every matched row;
        a Column / expression string deletes matched rows satisfying
        it (evaluated before the update, like a ``WHEN MATCHED AND
        <cond> THEN DELETE`` clause listed first).

        ``when_not_matched_insert``: insert source rows with no match,
        projected onto the target schema (absent target columns read
        NULL; extra source columns are dropped — they remain available
        to the update expressions — unless ``evolve_schema=True``).

        ``evolve_schema``: Delta-style automatic schema evolution —
        source columns absent from the target EXTEND the dataset
        schema (existing rows read back NULL, the store's
        metadata-only evolution model; same-typed collisions are
        always enforced). Inserts carry the new columns and update
        clauses may assign them.

        ``when_not_matched_by_source_update`` / ``_delete``: the SQL
        2023 / Delta clause family for TARGET rows with no source
        match — the full-snapshot sync shape (source = the complete
        current state of a scope; target rows the snapshot no longer
        contains are deleted or flagged). There is no source row, so
        update values reference target columns only and the delete
        condition is a Column over ``t.``/bare target names (``True``
        = every not-matched row in scope). By SQL semantics these
        clauses consider the WHOLE target, which no key pruning can
        bound — so ``by_source_scope`` (a DNF filter over target
        columns) both prunes the scanned files driver-side AND gates
        the clauses row-level (a row outside the scope is never
        touched, keeping semantics independent of file layout). Pass
        no scope only when a full-table sweep is intended. Delete is
        evaluated before update, mirroring the matched side. Counts
        fold into the returned ``updated``/``deleted`` totals
        (Delta's top-level metrics convention).

        Plan — one flow (cost ∝ matched files + insert volume +
        scoped files, never unscoped table size): (1) the clauses are
        validated and normalized; (2) the source summary (count, key
        uniqueness, per-key bounds) comes from a capped Arrow probe of
        the source, or from one Spark aggregate when the probe is
        refused; (3) candidate target files are pruned DRIVER-side
        from the manifest's per-file [min, max] stats on every key
        column, and per-file Blooms when the distinct key set is small
        enough to collect; (4) ``_merge_rows`` is the row-action
        projection of the files the clauses can touch; (5) the driver
        gate decides its form — a probed source, a row-count target,
        an ``arrow_safe`` schema and a scan within the caps collect it
        as Arrow, otherwise (or when Spark refuses the collect) it
        stays a Spark frame; (6) one tally finds the files truly
        holding affected rows and the update/delete counts, and those
        files are rewritten copy-on-write (one replacement per source
        file, the ``delete_where`` shape) — both steps take either
        form; (7) not-matched source rows are inserted as NEW
        size-controlled files: a left-anti Arrow join of the probe
        against the matched keys on the driver branch, a left-anti
        join against the candidates on the Spark one (pruning is
        conservative, so no other file can hold a matching key).
        Inserts may overlap existing files' ordering ranges, which the
        store tolerates (``read(ordered=True)`` sorts; a later
        ``compact`` or overlapping ``write`` re-merges), exactly
        Delta's MERGE file shape. Replacements + inserts commit in ONE
        tombstone/CAS/rebase manifest swap. The driver branch costs 2
        Spark jobs (probe + scan).

        Returns ``{"updated": n, "deleted": n, "inserted": n}``.
        """
        return self._retrying(
            lambda: self._merge_into_attempt(
                source, on,
                when_matched_update=when_matched_update,
                when_matched_delete=when_matched_delete,
                when_not_matched_insert=when_not_matched_insert,
                nbs_update=when_not_matched_by_source_update,
                nbs_delete=when_not_matched_by_source_delete,
                by_source_scope=by_source_scope,
                evolve_schema=evolve_schema,
                row_group_target_size=row_group_target_size,
            ),
            conflict_retries,
        )

    def _merge_into_attempt(
        self,
        source: DataFrame,
        on,
        *,
        when_matched_update,
        when_matched_delete,
        when_not_matched_insert,
        nbs_update=None,
        nbs_delete=False,
        by_source_scope=None,
        evolve_schema=False,
        row_group_target_size=DEFAULT_ROW_GROUP_TARGET_SIZE,
    ) -> dict:
        from pyspark.sql import Column
        from pyspark.sql.pandas.types import to_arrow_schema

        from oups_spark.functions.filters import (
            dnf_condition,
            dnf_file_can_match,
        )

        on = [on] if isinstance(on, str) else list(on)
        if not on:
            raise ValueError("merge_into needs at least one key column")
        if (
            when_matched_update is None
            and not when_matched_delete
            and not when_not_matched_insert
            and nbs_update is None
            and not nbs_delete
        ):
            raise ValueError("merge_into with no clauses is a no-op")
        if not self.exists:
            raise FileNotFoundError(f"no ordered dataset at {self.path}")
        man = self._manifest
        o = man.ordered_on
        schema = self.schema()
        if schema is None:
            raise ValueError("dataset has no recorded schema")
        tcols = {f.name: f for f in schema.fields}
        missing_t = [c for c in on if c not in tcols]
        missing_s = [c for c in on if c not in source.columns]
        if missing_t or missing_s:
            raise ValueError(
                f"merge keys absent from target {missing_t} / source {missing_s}"
            )
        if when_not_matched_insert and o not in source.columns:
            raise ValueError(
                f"when_not_matched_insert needs the ordering column {o!r} "
                "in the source"
            )
        # same-named columns must keep their type (the write path's
        # rule — a differently-typed file would explode at read time)
        src_by = {f.name: f for f in source.schema.fields}
        for c in set(src_by) & set(tcols):
            if src_by[c].dataType != tcols[c].dataType:
                raise ValueError(
                    f"merge source cannot change column {c!r}: "
                    f"{tcols[c].dataType} -> {src_by[c].dataType}"
                )
        if evolve_schema:
            # Delta-style automatic schema evolution: source columns
            # absent from the target extend the schema (existing rows
            # read back NULL — the store's metadata-only evolution
            # model, no file rewritten just for the schema change);
            # inserts carry them, and update clauses may assign them
            new_fields = [
                f for f in source.schema.fields if f.name not in tcols
            ]
            if new_fields:
                schema = StructType(list(schema.fields) + new_fields)
                tcols = {f.name: f for f in schema.fields}

        # (1) normalize the clauses
        def _cond(v):
            if v is None or v is False:
                return None
            if v is True:
                return F.lit(True)
            return F.expr(v) if isinstance(v, str) else v

        def _assign(clause, name):
            if clause is None:
                return None
            if o in clause:
                raise ValueError(
                    f"merge_into cannot assign the ordering column {o!r}"
                )
            unknown = set(clause) - set(tcols)
            if unknown:
                raise ValueError(f"unknown columns in {name}: {sorted(unknown)}")
            # non-Column values are LITERALS (update_where's rule);
            # expressions over s./t. come in as Columns (F.col/F.expr)
            return {
                c: (v if isinstance(v, Column) else F.lit(v))
                for c, v in clause.items()
            }

        delcond = _cond(when_matched_delete)
        if when_matched_update == "source":
            when_matched_update = {
                c: F.col(f"s.{c}")
                for c in source.columns
                if c in tcols and c not in on and c != o
            }
            if not when_matched_update:
                raise ValueError(
                    "when_matched_update='source': no common non-key "
                    "columns to set"
                )
        clauses = dict(
            upd=_assign(when_matched_update, "when_matched_update"),
            delcond=delcond,
            nbs_upd=_assign(nbs_update, "when_not_matched_by_source_update"),
            nbs_delcond=_cond(nbs_delete),
            # the scope gates the by-source clauses ROW-level (so
            # semantics never depend on file layout) and prunes the
            # scanned files below; columns are t.-prefixed — on the
            # joined frame a bare name shared with the source would
            # be ambiguous
            scope_cond=(
                dnf_condition(
                    [
                        [(f"t.{c}", op, v) for c, op, v in grp]
                        for grp in (
                            by_source_scope
                            if isinstance(by_source_scope[0], list)
                            else [by_source_scope]
                        )
                    ]
                )
                if by_source_scope
                else F.lit(True)
            ),
        )
        want_matched = delcond is not None or clauses["upd"] is not None
        want_nbs = (
            clauses["nbs_delcond"] is not None or clauses["nbs_upd"] is not None
        )

        # (2) one source pass: count, key uniqueness, per-key bounds.
        # A row/byte-capped Arrow probe collects the source ONCE: the
        # stats, the uniqueness check, the IN-filter key set and the
        # driver branch below all derive from that one CollectLimit
        # job, and every later pass joins the collected rows as a
        # LOCAL relation instead of re-executing a computed source.
        # An oversized source takes the distributed stats pass at the
        # cost of the bounded probe.
        probe_tbl = (
            gate.collect(
                source, max_rows=gate.MAX_ROWS, max_bytes=gate.MAX_BYTES
            )
            if gate.arrow_safe(source.schema)
            else None
        )
        if probe_tbl is not None:
            n_src = probe_tbl.num_rows
            n_null = sum(probe_tbl[c].null_count for c in on)
            distinct = probe_tbl.group_by(on).aggregate([])
            nd = distinct.num_rows
            smn, smx = {}, {}
            for c in on:
                mm = pc.min_max(probe_tbl[c])
                smn[c] = _norm_tz(mm["min"].as_py())
                smx[c] = _norm_tz(mm["max"].as_py())
        else:
            sstats = source.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(*[F.col(c) for c in on]).alias("nd"),
                F.sum(
                    F.when(
                        functools.reduce(
                            lambda a, b: a | b, [F.col(c).isNull() for c in on]
                        ),
                        1,
                    ).otherwise(0)
                ).alias("nnull"),
                *[
                    e
                    for c in on
                    for e in (
                        F.min(c).alias(f"__mn_{c}"),
                        F.max(c).alias(f"__mx_{c}"),
                    )
                ],
            ).collect()[0]
            n_src = int(sstats["n"])
            n_null = int(sstats["nnull"] or 0)
            nd = int(sstats["nd"])
            smn = {c: sstats[f"__mn_{c}"] for c in on}
            smx = {c: sstats[f"__mx_{c}"] for c in on}
        if n_src == 0 and not want_nbs:
            # an EMPTY source still drives the not-matched-by-source
            # clauses (a full-snapshot sync of an emptied scope), so
            # only short-circuit without them
            return {"updated": 0, "deleted": 0, "inserted": 0}
        if n_null:
            raise ValueError("merge source has NULL values in the merge keys")
        if nd < n_src:
            raise ValueError(
                "merge source is not unique on the merge keys "
                f"({n_src} rows, {nd} distinct keys)"
            )

        # (3) driver-side candidate pruning: per-key [min, max] overlap
        # on every key column; a small distinct key set upgrades to an
        # IN filter, which also engages the per-file Blooms
        cands: list[FileEntry] = []
        if n_src:
            filters = [
                [
                    c_op
                    for c in on
                    for c_op in (
                        (c, ">=", smn[c]),
                        (c, "<=", smx[c]),
                    )
                ]
            ]
            if len(on) == 1 and nd <= self._MERGE_IN_KEYS_CAP:
                if probe_tbl is not None:
                    keys = [_norm_tz(v) for v in distinct[on[0]].to_pylist()]
                else:
                    keys = [
                        r[0]
                        for r in source.select(on[0]).distinct().collect()
                    ]
                filters = [[(on[0], "in", keys)]]
            # wide-manifest fast path: an Arrow-lazy file list
            # pre-prunes on the key-column [min, max] ranges in
            # vectorized compute, materializing only survivors — the
            # candidate set (and the Python exact filter below, which
            # adds the IN/bloom precision) is then pinned by the
            # source's key span, never the manifest width
            pre = man.files
            prune_keys = getattr(pre, "prune_key_range", None)
            if prune_keys is not None:
                pre = prune_keys(
                    {c: (smn[c], smx[c]) for c in on},
                    ordered_on=o,
                )
            cands = [
                e for e in pre
                if dnf_file_can_match(
                    {o: (e.min, e.max), **(e.cols or {})}, filters,
                    blooms=e.blooms,
                )
            ]
        # a CDC-sized source joins broadcast on every pass (hit scan,
        # rewrite, anti-join) — declared explicitly so the plan never
        # depends on AQE's runtime size estimate of a computed source.
        # A probed source becomes a LOCAL relation: the broadcast then
        # materializes driver-side with no job and no re-execution of
        # the source plan per consuming pass (guide §2.1).
        if probe_tbl is not None:
            src_hinted = F.broadcast(
                self.spark.createDataFrame(probe_tbl, schema=source.schema)
            )
        else:
            src_hinted = F.broadcast(source) if gate.fits(n_src) else source

        # files the not-matched-by-source clauses must consider:
        # scope-pruned driver-side (every file when no scope is given —
        # the SQL whole-target semantics, opted into explicitly)
        nbs_cands: list[FileEntry] = []
        if want_nbs:
            nbs_cands = [
                e for e in man.files
                if dnf_file_can_match(
                    {o: (e.min, e.max), **(e.cols or {})},
                    by_source_scope,
                    blooms=e.blooms,
                )
            ]

        # (4) the row-action projection (``_merge_rows``) of the files
        # the clauses can touch — a matching row can only live in
        # `cands`, the key pruning is conservative. (5) THE DRIVER
        # GATE decides its form: a probed source, a row-count target
        # and a scan within the caps collect it as Arrow, and the rest
        # of the merge is driver-side pyarrow work (the scan then
        # covers `cands` for inserts too: their matched keys are the
        # anti-join). Otherwise, or when the collect is refused, it
        # stays a Spark frame that one aggregate tallies per file.
        scan = _union(
            cands if want_matched or when_not_matched_insert else [], nbs_cands
        )
        rows = None
        driver = (
            probe_tbl is not None
            and isinstance(row_group_target_size, int)
            and gate.arrow_safe(schema)
            and gate.fits(
                sum(e.n_rows for e in scan) + n_src,
                probe_tbl.nbytes,
                self._paths(scan),
            )
        )
        if driver and scan:
            rows = gate.collect(
                self._merge_rows(scan, src_hinted, on, schema, **clauses)
            )
            driver = rows is not None
        if not driver:
            # the Spark inserts anti-join `cands` themselves
            scan = _union(cands if want_matched else [], nbs_cands)
            if scan:
                rows = self._merge_rows(scan, src_hinted, on, schema, **clauses)
        touched, result = _merge_tally(
            rows, scan, want_matched, clauses["upd"] is not None
        )
        with self._committing([e.name for e in touched], schema) as staged:
            # (6) copy-on-write rewrite of the truly-affected files (a
            # Spark frame re-scans only those)
            if touched:
                if not driver:
                    rows = self._merge_rows(
                        touched, src_hinted, on, schema, **clauses
                    )
                staged += self._stage_cow(
                    _kept_rows(rows, touched, [_DM, _ND], schema), touched, o
                )
            # (7) not-matched source rows -> NEW files: source rows
            # whose key no candidate holds (pruning is conservative, no
            # other file can hold a matching key), projected onto the
            # target schema
            if when_not_matched_insert and driver:
                ins = probe_tbl
                if rows is not None:
                    hits = rows.filter(rows[_M]).select(
                        [f"__oups_k{i}" for i in range(len(on))]
                    ).rename_columns(on)
                    # join the keys plus a row index, then take: the
                    # inserts keep the source order
                    keep = probe_tbl.select(on).append_column(
                        _POS, pa.array(np.arange(n_src))
                    ).join(hits, on, join_type="left anti")[_POS]
                    ins = probe_tbl.take(keep.sort())
                n_ins = result["inserted"] = ins.num_rows
                if n_ins:
                    tschema = pa.schema(
                        [f.with_nullable(True) for f in to_arrow_schema(schema)]
                    )
                    ins = pa.table(
                        [
                            ins[f.name].cast(f.type)
                            if f.name in ins.column_names
                            else pa.nulls(n_ins, f.type)
                            for f in tschema
                        ],
                        schema=tschema,
                    ).sort_by(o)
                    if ins[o].null_count:
                        raise ValueError(_NULL_ORDERED_ON)
                    staged += self._stage_arrow(
                        ins, o, _balanced(n_ins, row_group_target_size)
                    )
            elif when_not_matched_insert:
                ins = source.alias("s")
                if cands:
                    ins = ins.join(
                        self.spark.read.schema(schema)
                        .parquet(*self._paths(cands))
                        .select(*on)
                        .alias("t"),
                        _key_cond(on),
                        "left_anti",
                    )
                istats = ins.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.when(F.col(o).isNull(), 1).otherwise(0)
                    ).alias("nnull"),
                ).collect()[0]
                n_ins = result["inserted"] = int(istats["n"])
                if n_ins and int(istats["nnull"] or 0):
                    raise ValueError(_NULL_ORDERED_ON)
                if n_ins:
                    proj = ins.select(
                        *[
                            (
                                F.col(f.name).cast(f.dataType)
                                if f.name in source.columns
                                else F.lit(None).cast(f.dataType)
                            ).alias(f.name)
                            for f in schema.fields
                        ]
                    ).withColumns(
                        {
                            _POS: F.monotonically_increasing_id(),
                            _SRC: F.lit(1),
                            _FIDX: F.lit(0),
                        }
                    )
                    staged += self._write_files(
                        proj, o, row_group_target_size, n_ins
                    )
        # _committing: replacements + inserts in ONE
        # tombstone/CAS/rebase manifest swap
        return result

    def _scan_rows(self, entries, schema, where=None) -> DataFrame:
        """``entries`` scanned under ``schema`` (only the rows where
        ``where`` holds, when given — a filter on the raw scan, so it
        reaches the parquet reader), each row tagged with its source
        file's name (``_FID`` — taken at the scan: ``input_file_name``
        is empty past a join, and being nondeterministic it stops any
        later filter from being pushed into the scan) and its in-scan
        position (``_POS``)."""
        df = self.spark.read.schema(schema).parquet(*self._paths(entries))
        if where is not None:
            df = df.filter(where)
        return df.withColumn(
            _FID, F.substring_index(F.input_file_name(), "/", -1)
        ).withColumn(_POS, F.monotonically_increasing_id())

    def _merge_rows(
        self, entries, src, on, schema, *, upd, delcond, nbs_upd,
        nbs_delcond, scope_cond,
    ) -> DataFrame:
        """THE row-action projection of ``merge_into``, shared by both
        paths (the driver collects it, the distributed path aggregates
        it per file and then rewrites from it): every row of the
        target files ``entries`` left-joined to ``src`` on the keys,
        with its post-update value of each ``schema`` column, ``_FID``
        and ``_POS``, the matched source keys (``__oups_k<i>``), and
        the clause flags, each coalesced to a non-NULL boolean —
        ``_M`` matched; ``_DM`` matched and deleted; ``_ND`` / ``_NU``
        not matched, in scope, and deleted / updated by the by-source
        clauses. A NULL condition is false, so a row whose scope
        column is NULL is out of scope (SQL semantics) on both paths.
        Delete is evaluated before update on each side."""

        def flag(c):
            return F.lit(False) if c is None else F.coalesce(c, F.lit(False))

        # source keys are non-null (validated), so a non-null key on
        # the s side IS the match indicator
        matched = F.col(f"s.{on[0]}").isNotNull()
        in_scope = flag(~matched & scope_cond)
        nd = in_scope & flag(nbs_delcond)
        nu = in_scope & ~nd if nbs_upd is not None else F.lit(False)
        sel = []
        for fld in schema.fields:
            expr = F.col(f"t.{fld.name}")
            if nbs_upd is not None and fld.name in nbs_upd:
                expr = F.when(
                    in_scope, nbs_upd[fld.name].cast(fld.dataType)
                ).otherwise(expr)
            if upd is not None and fld.name in upd:
                expr = F.when(
                    matched, upd[fld.name].cast(fld.dataType)
                ).otherwise(expr)
            sel.append(expr.alias(fld.name))
        return (
            self._scan_rows(entries, schema)
            .alias("t")
            .join(src.alias("s"), _key_cond(on), "left")
            .select(
                *sel,
                F.col(_FID),
                F.col(_POS),
                matched.alias(_M),
                (matched & flag(delcond)).alias(_DM),
                nd.alias(_ND),
                nu.alias(_NU),
                *[F.col(f"s.{c}").alias(f"__oups_k{i}") for i, c in enumerate(on)],
            )
        )

    def _dml_rows(self, entries, schema, pred, assignments, where=None) -> DataFrame:
        """THE row-action projection of ``delete_where`` /
        ``update_where``, shared by both paths: every row of
        ``entries`` with its post-update values (one select: every
        assignment and the predicate see the PRE-update row),
        ``_FID``/``_POS``, and ``_M`` = the predicate holds, coalesced
        — a NULL predicate (null values, or pre-schema-evolution rows
        reading an evolved column as NULL) is NOT a match (SQL DML
        semantics)."""
        from pyspark.sql import Column

        match = F.coalesce(pred, F.lit(False))
        sel = []
        for fld in schema.fields:
            expr = F.col(fld.name)
            if assignments and fld.name in assignments:
                v = assignments[fld.name]
                vcol = v if isinstance(v, Column) else F.lit(v)
                expr = F.when(match, vcol.cast(fld.dataType)).otherwise(expr)
            sel.append(expr.alias(fld.name))
        return self._scan_rows(entries, schema, where).select(
            *sel, F.col(_FID), F.col(_POS), match.alias(_M)
        )

    def _rewrite_where(self, filters, assignments) -> int:
        from oups_spark.functions.filters import (
            dnf_condition,
            dnf_file_can_match,
        )

        if not self.exists:
            raise FileNotFoundError(f"no ordered dataset at {self.path}")
        if not filters:
            raise ValueError(
                "row-level DML requires explicit filters; to drop the "
                "whole dataset use delete()"
            )
        man = self._manifest
        o = man.ordered_on
        if assignments and o in assignments:
            raise ValueError(
                f"update_where cannot assign the ordering column {o!r}"
            )
        schema = self.schema()
        if schema is None:
            raise ValueError("dataset has no recorded schema")
        if assignments:
            known = {f.name for f in schema.fields}
            unknown = set(assignments) - known
            if unknown:
                raise ValueError(f"unknown columns in assignments: {sorted(unknown)}")
        # (1) driver-side file pruning, ordering-column bounds included
        cands = [
            e for e in man.files
            if dnf_file_can_match(
                {o: (e.min, e.max), **(e.cols or {})}, filters,
                blooms=e.blooms,
            )
        ]
        if not cands:
            return 0
        pred = dnf_condition(filters)
        # (2) which candidates REALLY match (stats/bloom pruning is
        # conservative): the driver path's collected projection, or
        # one aggregate of its matching rows over the candidate files
        rows = self._rewrite_where_driver(cands, schema, pred, assignments)
        n_m = _per_file(
            self._dml_rows(cands, schema, pred, assignments, where=pred)
            if rows is None
            else rows,
            cands, [_M],
        )[_M]
        hit = np.flatnonzero(n_m)
        if not len(hit):
            return 0
        touched = [cands[i] for i in hit]
        delete = assignments is None
        with self._committing([e.name for e in touched], schema) as staged:
            # a DELETE of every row of every touched file writes
            # nothing: the files just leave the manifest
            if not delete or any(n_m[i] < cands[i].n_rows for i in hit):
                # (3) one replacement per touched file: DELETE drops
                # the matches, UPDATE keeps every row with the
                # post-update values
                if rows is None:
                    rows = self._dml_rows(touched, schema, pred, assignments)
                staged += self._stage_cow(
                    _kept_rows(rows, touched, [_M] if delete else [], schema),
                    touched, o,
                )
        return int(n_m.sum())

    def _rewrite_where_driver(self, cands, schema, pred, assignments):
        """Driver-side DELETE/UPDATE fast path (round-14, guide
        §1.2): when the candidate files fit the driver gate, ONE scan
        job collects their row-action projection (``_dml_rows``) as
        Arrow; per-file hit counts, the full-file-delete shortcut and
        the copy-on-write replacements are then driver-side pyarrow
        work, replacing the hit-count aggregate + distributed rewrite
        (2 jobs + shuffle) per DML statement. Returns None to fall
        back (complex column types, oversized candidates, a result
        too big for the driver)."""
        if not gate.arrow_safe(schema) or not gate.fits(
            sum(e.n_rows for e in cands), paths=self._paths(cands)
        ):
            return None
        return gate.collect(self._dml_rows(cands, schema, pred, assignments))

    # ------------------------------------------------------ time travel
    def versions(self) -> list[int]:
        """Generations available for ``read(as_of=...)`` (ascending).
        Non-empty only for datasets written with
        ``retain_versions=True`` (or after snapshots were created out
        of band); see ``vacuum`` for reclaiming old ones."""
        from oups_spark.store.manifest import list_snapshots

        return list_snapshots(self.path)

    def vacuum(self, keep_last: int = 1) -> int:
        """Reclaim storage from time travel: keep the newest
        ``keep_last`` snapshot generations, drop older snapshot
        manifests, and delete data files referenced by NO retained
        snapshot and not by the current manifest. Returns the number
        of data files deleted.

        Mirrors Delta's VACUUM at manifest granularity: time travel
        to a vacuumed generation raises (its snapshot is gone), never
        silently reads partial data.

        Also reclaims TOMBSTONED files (replaced data kept for the
        ``deletion_grace_s`` reader-isolation window) regardless of
        age — vacuum is the explicit "no readers in flight" signal.
        """
        from oups_spark.store.manifest import drop_snapshot, load_snapshot

        gens = self.versions()
        keep = gens[-keep_last:] if keep_last > 0 else []
        live: set[str] = {e.name for e in (self._manifest.files if self._manifest else [])}
        for g in keep:
            live |= {e.name for e in load_snapshot(self.path, g).files}
        removed = 0
        for g in gens:
            if g not in keep:
                drop_snapshot(self.path, g)
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return 0
        for n in names:
            if n.endswith(".parquet") and n not in live:
                os.remove(os.path.join(self.path, n))
                removed += 1
        return removed

    # ----------------------------------------------------------- delete
    def delete(self) -> None:
        """Drop the dataset directory (reference: ``base.py:405-438``);
        the transport also purges manifest objects stored elsewhere
        (an object store's head + sidecars), so membership checks and
        discovery stop seeing it."""
        (self.backend or DEFAULT_BACKEND).transport.purge(self.path)
        shutil.rmtree(self.path, ignore_errors=True)
        self._manifest = None


def _norm_tz(v):
    """pyarrow returns tz-aware UTC for isAdjustedToUTC timestamps;
    Spark collect (session TZ = UTC) returns naive — align."""
    from datetime import timezone

    if hasattr(v, "tzinfo") and v.tzinfo is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    return v


def _footer_stats(
    staging: str, ordered_on: str
) -> list[tuple[str, int, Any, Any]] | None:
    """Per-file ``(path, n_rows, min, max)`` of the ordering column
    from the parquet footers — metadata-only reads, no Spark job.

    Scope is the staging dir of ONE write (the files just written),
    so the driver-side walk is bounded by the write size, not the
    dataset size. Returns ``None`` (caller falls back to a Spark
    scan) when stats can't be trusted: binary/string physical types
    (parquet min/max may be truncated), INT96 (no stats at all), or
    any row group missing stats."""
    out: list[tuple[str, int, Any, Any, dict | None]] = []
    for root, _dirs, names in os.walk(staging):
        for nm in names:
            if not nm.endswith(".parquet"):
                continue
            p = os.path.join(root, nm)
            md = pq.read_metadata(p)
            if md.num_rows == 0:
                continue
            sch = md.schema
            idx = next(
                (
                    i
                    for i in range(md.num_columns)
                    if sch.column(i).path == ordered_on
                ),
                None,
            )
            if idx is None:
                return None
            if sch.column(idx).physical_type in (
                "BYTE_ARRAY",
                "FIXED_LEN_BYTE_ARRAY",
                "INT96",
            ):
                return None
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                mins.append(_norm_tz(st.min))
                maxs.append(_norm_tz(st.max))
            # Per-column [min, max] BOUNDS for the data-skipping index
            # (every other flat column with trustworthy stats).
            # Strings are included: parquet statistics are bounds by
            # spec (a truncated max is rounded UP), which is exactly
            # what pruning needs; INT96 carries no stats; nested
            # leaves (dotted paths) are not filterable columns here.
            cols: dict[str, tuple] = {}
            for i in range(md.num_columns):
                c = sch.column(i)
                if i == idx or "." in c.path or c.physical_type == "INT96":
                    continue
                cmins, cmaxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(i).statistics
                    if st is None or not st.has_min_max:
                        cmins = []
                        break
                    cmins.append(_norm_tz(st.min))
                    cmaxs.append(_norm_tz(st.max))
                if cmins:
                    cols[c.path] = (min(cmins), max(cmaxs))
            out.append((p, md.num_rows, min(mins), max(maxs), cols or None))
    return out


def _balanced(n: int, target: int) -> list[tuple[int, int]]:
    """``(offset, length)`` slices of ``n`` ordered rows into
    ``ceil(n/target)`` BALANCED files, mirroring the distributed
    path's ``repartitionByRange(ceil(n/target))``: fixed target-row
    slices would leave a 1-row tail file on ``target*k+1`` rows, and
    repeated small flushes accumulate off-target fragments that later
    force coalescing rewrites."""
    n_files = max(1, -(-n // target))
    base, extra = divmod(n, n_files)
    out, off = [], 0
    for j in range(n_files):
        ln = base + (1 if j < extra else 0)
        out.append((off, ln))
        off += ln
    return out


def _union(a: list[FileEntry], b: list[FileEntry]) -> list[FileEntry]:
    return list({e.name: e for e in [*a, *b]}.values())


def _key_cond(on: list[str]):
    return functools.reduce(
        lambda x, y: x & y, [F.col(f"t.{c}") == F.col(f"s.{c}") for c in on]
    )


def _per_file(rows, entries: list[FileEntry], flags: list[str]) -> dict:
    """Per-file counts of the boolean ``flags`` columns of a row-action
    projection (``_merge_rows`` / ``_dml_rows``), as arrays indexed
    like ``entries``: bincounts over a collected Arrow table, or ONE
    grouped aggregate over the flagged rows of a Spark frame."""
    n = len(entries)
    if isinstance(rows, DataFrame):
        pos = {e.name: i for i, e in enumerate(entries)}
        out = {f: np.zeros(n, dtype=np.int64) for f in flags}
        agg = (
            rows.select(_FID, *flags)
            .filter(functools.reduce(lambda x, y: x | y, [F.col(f) for f in flags]))
            .groupBy(_FID)
            .agg(*[F.sum(F.col(f).cast("long")).alias(f) for f in flags])
            .collect()
        )
        for r in agg:
            for f in flags:
                out[f][pos[r[_FID]]] = r[f]
        return out
    names = pa.array([e.name for e in entries], type=rows.schema.field(_FID).type)
    fid = pc.index_in(rows[_FID], value_set=names).to_numpy(zero_copy_only=False)
    return {
        f: np.bincount(fid[rows[f].to_numpy(zero_copy_only=False)], minlength=n)
        for f in flags
    }


def _merge_tally(rows, scan, want_matched: bool, has_update: bool):
    """The files of ``scan`` a merge truly touches (a matched row when
    a matched clause is set, or a by-source delete/update) and its
    result counts over those files, the by-source clauses folded into
    the totals (Delta's top-level metrics convention)."""
    if rows is None:
        return [], {"updated": 0, "deleted": 0, "inserted": 0}
    c = _per_file(rows, scan, [_M, _DM, _ND, _NU])
    hit = ((c[_M] > 0) & want_matched) | (c[_ND] > 0) | (c[_NU] > 0)
    n_dm = int(c[_DM][hit].sum())
    n_upd = int(c[_M][hit].sum()) - n_dm if has_update else 0
    return [scan[i] for i in np.flatnonzero(hit)], {
        "updated": n_upd + int(c[_NU][hit].sum()),
        "deleted": n_dm + int(c[_ND][hit].sum()),
        "inserted": 0,
    }


def _kept_rows(rows, touched: list[FileEntry], drop: list[str], schema):
    """The rows a copy-on-write rewrite writes back — those of the
    ``touched`` files with none of the ``drop`` flags set — as the
    data columns plus ``_FID``/``_POS``. A Spark frame is already a
    scan of ``touched`` only."""
    cols = [f.name for f in schema.fields] + [_FID, _POS]
    if isinstance(rows, DataFrame):
        if drop:
            rows = rows.filter(
                ~functools.reduce(lambda x, y: x | y, [F.col(f) for f in drop])
            )
        return rows.select(*cols)
    names = pa.array([e.name for e in touched], type=rows.schema.field(_FID).type)
    keep = pc.is_in(rows[_FID], value_set=names)
    for f in drop:
        keep = pc.and_(keep, pc.invert(rows[f]))
    return rows.filter(keep).select(cols)


def _with_file_rank(
    spark: SparkSession, df: DataFrame, entries: list[FileEntry]
) -> DataFrame:
    """Attach the manifest-order rank (``_FIDX``) of each row's source
    file: the dataset-order component of the old-side keep-last
    tiebreak (the in-file monotonic id only orders rows WITHIN one
    file).

    Implemented as a broadcast hash join on the file basename — O(1)
    per row and a compact codegen plan, vs the O(n_files)-per-row
    ``create_map`` literal probe it replaces (which also produced an
    expression whose Janino compile time grew with file count)."""
    ranks = spark.createDataFrame(
        [(e.name, i) for i, e in enumerate(entries)],
        f"{_FNAME} string, {_FIDX} int",
    )
    name = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return (
        df.withColumn(_FNAME, name)
        .join(F.broadcast(ranks), _FNAME, "left")
        .drop(_FNAME)
        .withColumn(_FIDX, F.coalesce(F.col(_FIDX), F.lit(-1)))
    )


def _off_target_flags(entries: list[FileEntry], target) -> list[bool]:
    """Which files violate the size target (driver-side manifest
    arithmetic, no Spark job).

    Row-count target: n_rows < 80% of target (reference
    ``n_rows_strategy.py:33,136``).  Period target: a file is ON
    target iff it fits entirely inside one period AND is the only
    file whose span touches that period (reference one-file-per-period
    rule, ``time_period_strategy.py:166-199``)."""
    if isinstance(target, int):
        return [e.n_rows < ON_TARGET_SCALE_FACTOR * target for e in entries]
    from collections import Counter

    spans = [
        (floor_ts_scalar(e.min, target), floor_ts_scalar(e.max, target))
        for e in entries
    ]
    touched = Counter()
    for pmin, pmax in spans:
        touched[pmin] += 1
        if pmax != pmin:
            touched[pmax] += 1
    return [
        pmin != pmax or touched[pmin] > 1 for pmin, pmax in spans
    ]


def pandas_to_spark_arrow(pdf, session_tz: str):
    """Driver-side twin of ``spark.createDataFrame(pdf).toArrow()``:
    the Arrow table Spark would produce for this pandas frame, built
    with NO JVM round trip. Returns ``None`` whenever any dtype falls
    outside the audited mapping below — the caller then takes the
    classic ``createDataFrame`` path, so a ``None`` is never wrong,
    only slower. Equivalence to the round trip is pinned in
    tests/test_arrow_write.py.

    Only valid under a UTC session time zone: Spark interprets naive
    pandas timestamps as SESSION-zone wall clock, while Arrow's
    naive→tz cast assumes UTC — the two agree exactly when the
    session zone is UTC (which ``ensure_session_confs`` guarantees
    for every query session)."""
    if session_tz not in ("UTC", "Etc/UTC"):
        return None
    try:
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
        return None
    fields = []
    for f in tbl.schema:
        t = f.type
        if pa.types.is_timestamp(t):
            if t.tz not in (None, "UTC", "Etc/UTC"):
                return None
            t = pa.timestamp("us", tz="UTC")
        elif pa.types.is_large_string(t):
            t = pa.string()
        elif not (
            (pa.types.is_integer(t) and not pa.types.is_unsigned_integer(t))
            or pa.types.is_floating(t)
            or pa.types.is_boolean(t)
            or pa.types.is_string(t)
            or pa.types.is_date32(t)
        ):
            return None
        # createDataFrame(pandas) always records nullable fields
        fields.append(pa.field(f.name, t, nullable=True))
    try:
        # safe cast: sub-microsecond timestamps or overflow raise and
        # fall back rather than silently diverging from Spark
        return tbl.cast(pa.schema(fields))
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None


class _Batch:
    """The new rows of one ``write``: a Spark DataFrame, or a pyarrow
    Table (``tbl``) that stays the only copy until a Spark plan needs
    it. ``schema`` and ``columns`` are known either way; ``frame()``
    is the DataFrame, for a Table built at most once, by
    ``createDataFrame``. The Table's ``schema`` is PySpark's own Arrow
    mapping (``from_arrow_schema``, what that call applies), so the
    recorded dataset schema does not depend on whether the frame was
    built. A Table in another Arrow form than Spark's own (nanosecond
    or non-UTC timestamps, large strings) is converted to it the way
    ``createDataFrame`` converts it, so the driver merge writes the
    values and types the Spark twin would."""

    def __init__(self, spark: SparkSession, data):
        self._spark = spark
        if isinstance(data, DataFrame):
            self.tbl, self._frame, self.schema = None, data, data.schema
        else:
            from pyspark.sql.pandas.types import (
                _check_arrow_table_timestamps_localize,
                from_arrow_schema,
                to_arrow_schema,
            )
            from pyspark.sql.utils import is_timestamp_ntz_preferred

            self._frame = None
            self.schema = from_arrow_schema(data.schema)
            # the session's timestamp type matters (one JVM call) only
            # for zone-less Arrow timestamps
            ntz = from_arrow_schema(data.schema, prefer_timestamp_ntz=True)
            if ntz != self.schema and is_timestamp_ntz_preferred():
                self.schema = ntz
            spark_arrow = to_arrow_schema(self.schema)
            if data.schema.types != spark_arrow.types:
                # zone-less LTZ values are wall times in the session
                # zone
                tz = spark.conf.get("spark.sql.session.timeZone")
                data = _check_arrow_table_timestamps_localize(
                    data, self.schema, True, tz
                ).cast(spark_arrow)
            self.tbl = data
        self.columns = self.schema.names

    def frame(self) -> DataFrame:
        if self._frame is None:
            self._frame = self._spark.createDataFrame(self.tbl)
        return self._frame


def _arrow_bounds(tbl, ordered_on: str, validate: bool):
    """``(min, max)`` of ``tbl[ordered_on]``. With ``validate``, a
    NULL value or a descending step raises the errors
    ``_check_monotonic`` raises for a Spark batch."""
    col = tbl.column(ordered_on)
    if validate:
        if col.null_count:
            raise ValueError(_NULL_ORDERED_ON)
        if not pc.all(pc.less_equal(col[:-1], col[1:]), min_count=0).as_py():
            raise ValueError(f"column {ordered_on!r} is not ordered")
    mm = pc.min_max(col)
    return _norm_tz(mm["min"].as_py()), _norm_tz(mm["max"].as_py())


def _merged_kv(kv: dict, update: dict | None) -> dict:
    """A copy of ``kv`` with ``update``'s keys added or updated; a
    None value removes the key (reference ``base.py:600-649``
    semantics)."""
    out = dict(kv)
    for k, v in (update or {}).items():
        if v is None:
            out.pop(k, None)
        else:
            out[k] = v
    return out
