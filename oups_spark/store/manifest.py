"""Dataset manifest: the sidecar that makes a parquet directory an
*ordered* dataset.

Replaces the reference's ``_opdmd`` metadata file (reference:
``oups/store/ordered_parquet_dataset/ordered_parquet_dataset/base.py:58-62,600-649``):
records ``ordered_on``, one entry per data file with
``(n_rows, min, max)`` of the ordering column, the dataset schema,
and user/system key-value metadata (e.g. AggStream restart state).

Two layers, composed as ``Encoding(transport)``:

- A TRANSPORT owns storage: get and compare-and-swap of the one head
  object, immutable put / get / delete of sidecar objects, the
  listing behind catalog discovery, and the transport's single
  sidecar GC policy. :class:`PosixTransport` swaps the head with an
  atomic tmp-file + ``os.replace`` under a ``flock``-guarded
  generation check — a guarantee POSIX filesystems and HDFS provide
  but object stores (S3) do NOT. :class:`ObjectStoreTransport`
  commits the head with CONDITIONAL PUTs (put-if-match on the
  generation / ETag, put-if-absent for creation);
  :class:`InMemoryObjectStore` is the in-tree mock (swap in an
  S3/GCS client by implementing its five primitives).
- An ENCODING owns layout. :class:`JsonManifest` inlines every entry
  in the head (gzip past ``GZIP_MIN_BYTES``) — the default, fine up
  to ~100k files. :class:`DeltaLogManifest` keeps entries in typed
  parquet sidecars: a checkpoint plus a chain of per-commit deltas,
  folded every ``checkpoint_interval`` commits, so commit I/O is
  O(changed entries) at lakehouse file counts.

``backend=`` on ``OrderedDataset``, ``Store`` and
``write_stream_to_dataset`` takes an encoding; None means
``JsonManifest(PosixTransport())``. Either way a stale writer raises
:class:`ManifestConflictError` instead of silently clobbering a
concurrent commit. The swap contract — a reader sees old-or-new,
never partial; a losing writer leaves no staged object; a reader of
the previous head still resolves after one more commit — is pinned
for every encoding × transport pair by
``tests/test_manifest_contract.py``.
"""

from __future__ import annotations

import base64
import json
import os
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any

MANIFEST_NAME = "_oups_manifest.json"
# name prefix of every parquet sidecar object (checkpoints and deltas)
_FILES_PREFIX = MANIFEST_NAME[: -len(".json")] + ".files.g"

# Payloads above this size are gzip-compressed on commit (JSON file
# lists compress ~10x, so a 100k-file dataset's manifest drops from
# ~40 MB to ~4 MB — both the object-store PUT/GET and the driver
# parse stay snappy at lakehouse file counts). Readers sniff the gzip
# magic, so compressed and plain manifests interoperate freely and
# old datasets need no migration. Monkeypatch-able for tests.
GZIP_MIN_BYTES = 256 * 1024
_GZIP_MAGIC = b"\x1f\x8b"


def _maybe_compress(data: bytes) -> bytes:
    if len(data) <= GZIP_MIN_BYTES:
        return data
    import gzip

    # mtime=0: deterministic bytes, so identical payloads commit
    # identical objects (useful for dedup'ing object stores)
    return gzip.compress(data, mtime=0)


def _plain(data: bytes) -> bytes:
    if data[:2] == _GZIP_MAGIC:
        import gzip

        return gzip.decompress(data)
    return data


class ManifestConflictError(RuntimeError):
    """A conditional manifest commit lost a race: the manifest changed
    (or appeared) since this writer read it. The writer must re-read,
    re-apply its change on top, and retry."""


class PosixTransport:
    """Atomic tmp-file + ``os.replace`` swap (POSIX / HDFS), with a
    ``flock``-guarded compare-and-swap on the head.

    Readers never take the lock — the atomic rename already gives
    them old-or-new visibility. Writers serialize through an
    advisory ``fcntl.flock`` on a sidecar lock file for the
    read-check-swap window only: the commit re-reads the head under
    the lock and requires its generation to equal the token this
    writer read earlier (absence, for creation), raising
    :class:`ManifestConflictError` otherwise. Two concurrent local
    writers therefore both land (one retries via
    ``conflict_retries``) instead of one silently clobbering the
    other — the concurrency posture the reference gets from holding
    a ``flufl.lock`` for the dataset lifetime
    (``oups/store/ordered_parquet_dataset/ordered_parquet_dataset/base.py:240-255``),
    except held only for the microseconds of the swap and
    crash-safe (the kernel drops a dead writer's flock; a stale
    flufl lock must time out). Advisory-lock caveat: like all
    flock schemes this serializes only processes on one host/mount —
    cross-host coordination belongs to :class:`ObjectStoreTransport`.

    Sidecar GC: a listing sweep removes every sidecar outside the
    encoding's ``keep`` set once it is older than ``gc_grace_s``. The
    mtime grace also covers a concurrent writer's sidecar staged
    before its head CAS, and a reader of an older head.
    """

    gc_grace_s = 300.0

    @staticmethod
    def _gen_of(data: bytes) -> int:
        return json.loads(_plain(data)).get("generation", 0)

    def read_head(self, dirpath: str):  # -> tuple[bytes, token] | None
        path = os.path.join(dirpath, MANIFEST_NAME)
        if not os.path.exists(path):
            return None
        with open(path, "rb") as fh:
            data = fh.read()
        return data, self._gen_of(data)

    def cas_head(self, dirpath: str, data: bytes, expect_token) -> Any:
        import fcntl

        path = os.path.join(dirpath, MANIFEST_NAME)
        lock_path = path + ".lock"
        with open(lock_path, "a+b") as lock_fh:
            fcntl.flock(lock_fh, fcntl.LOCK_EX)
            # no explicit unlock: closing the fd releases the flock,
            # and the kernel releases it if the process dies mid-swap
            if os.path.exists(path):
                with open(path, "rb") as fh:
                    current = self._gen_of(fh.read())
            else:
                current = None
            if current != expect_token:
                raise ManifestConflictError(
                    f"manifest at {path} changed since read (expected "
                    f"generation {expect_token}, found {current})"
                )
            tmp = path + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.replace(tmp, path)
        return self._gen_of(data)

    def put(self, dirpath: str, ref: str, data: bytes) -> None:
        path = os.path.join(dirpath, ref)
        tmp = path + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)

    def get(self, dirpath: str, ref: str) -> bytes:
        with open(os.path.join(dirpath, ref), "rb") as fh:
            return fh.read()

    def delete(self, dirpath: str, ref: str) -> None:
        p = os.path.join(dirpath, ref)
        if os.path.exists(p):
            os.remove(p)

    def sweep(self, dirpath: str, *, keep: set, drop: set) -> None:
        import time

        now = time.time()
        for n in os.listdir(dirpath):
            if n in keep or not (
                n.startswith(_FILES_PREFIX) and n.endswith(".parquet")
            ):
                continue
            p = os.path.join(dirpath, n)
            try:
                if now - os.path.getmtime(p) >= self.gc_grace_s:
                    os.remove(p)
            except FileNotFoundError:
                continue  # concurrent sweeper got it first

    def has_head(self, dirpath: str) -> bool:
        # an existence check: membership never reads the manifest
        return os.path.exists(os.path.join(dirpath, MANIFEST_NAME))

    def heads(self, basepath: str) -> list[str]:
        """Every directory under ``basepath`` holding a head."""
        return [
            dirpath
            for dirpath, _dirnames, filenames in os.walk(basepath)
            if MANIFEST_NAME in filenames
        ]

    def purge(self, dirpath: str) -> None:
        """Nothing to do: the head and sidecars live in the dataset
        directory, which the caller removes with the data."""


class ObjectStoreTransport:
    """Conditional-put commit protocol for object stores (S3 / GCS):

    - creation  = put-if-absent  (S3 ``If-None-Match: *``),
    - overwrite = put-if-match on the generation read earlier
      (S3 ``If-Match: <etag>`` / GCS ``ifGenerationMatch``).

    A stale writer — one whose read token no longer matches — gets
    :class:`ManifestConflictError` instead of clobbering a concurrent
    commit, which upgrades the store's concurrency posture from
    last-writer-wins to optimistic CAS. Subclasses supply the
    primitive object operations; :class:`InMemoryObjectStore` is the
    reference implementation the contract tests run against.

    Sidecar GC deletes only the refs the encoding says THIS writer
    released (``drop``), never by listing: a listing sweep could
    delete a concurrent writer's staged-but-not-yet-CASed sidecar,
    and object stores carry no trustworthy local clock for a grace
    window. Other writers' superseded objects fall to a bucket
    lifecycle rule, as do all of them on stores without DELETE.
    """

    def _get(self, key: str):  # -> tuple[bytes, Any] | None
        raise NotImplementedError

    def _put_if_absent(self, key: str, data: bytes) -> Any:
        raise NotImplementedError

    def _put_if_match(self, key: str, data: bytes, token) -> Any:
        raise NotImplementedError

    # S3 LIST / DELETE: LIST backs catalog discovery and dataset
    # deletion; without DELETE, reclamation is a lifecycle rule's job
    def _list(self, prefix: str) -> list[str]:
        raise NotImplementedError

    def _delete(self, key: str) -> None:
        raise NotImplementedError

    def read_head(self, dirpath: str):
        return self._get(os.path.join(dirpath, MANIFEST_NAME))

    def cas_head(self, dirpath: str, data: bytes, expect_token) -> Any:
        key = os.path.join(dirpath, MANIFEST_NAME)
        if expect_token is None:
            return self._put_if_absent(key, data)
        return self._put_if_match(key, data, expect_token)

    def put(self, dirpath: str, ref: str, data: bytes) -> None:
        self._put_if_absent(os.path.join(dirpath, ref), data)

    def get(self, dirpath: str, ref: str) -> bytes:
        hit = self._get(os.path.join(dirpath, ref))
        if hit is None:
            raise FileNotFoundError(
                f"manifest sidecar {ref} missing under {dirpath} "
                "(reader stale past the sidecar GC window?)"
            )
        return hit[0]

    def delete(self, dirpath: str, ref: str) -> None:
        try:
            self._delete(os.path.join(dirpath, ref))
        except NotImplementedError:
            pass

    def sweep(self, dirpath: str, *, keep: set, drop: set) -> None:
        for r in drop - keep:
            self.delete(dirpath, r)

    def has_head(self, dirpath: str) -> bool:
        return self.read_head(dirpath) is not None  # one object GET

    def heads(self, basepath: str) -> list[str]:
        return [
            os.path.dirname(k)
            for k in self._list(basepath + "/")
            if os.path.basename(k) == MANIFEST_NAME
        ]

    def purge(self, dirpath: str) -> None:
        """Delete the dataset's head and sidecars, so membership and
        discovery stop seeing it."""
        try:
            for k in self._list(dirpath + "/"):
                self._delete(k)
        except NotImplementedError:
            pass  # lifecycle rules own reclamation on such stores


class InMemoryObjectStore(ObjectStoreTransport):
    """Dict-backed mock with monotone generation tokens — the
    conditional-put semantics of S3/GCS without a network."""

    def __init__(self):
        self._objects: dict[str, tuple[bytes, int]] = {}

    def _get(self, key: str):
        return self._objects.get(key)

    def _put_if_absent(self, key: str, data: bytes) -> Any:
        if key in self._objects:
            raise ManifestConflictError(
                f"manifest already exists at {key}: concurrent creation"
            )
        self._objects[key] = (data, 1)
        return 1

    def _put_if_match(self, key: str, data: bytes, token) -> Any:
        hit = self._objects.get(key)
        if hit is None or hit[1] != token:
            raise ManifestConflictError(
                f"manifest at {key} changed since read (expected generation "
                f"{token}, found {hit[1] if hit else 'absent'})"
            )
        self._objects[key] = (data, token + 1)
        return token + 1

    def _list(self, prefix: str) -> list[str]:
        return sorted(k for k in self._objects if k.startswith(prefix))

    def _delete(self, key: str) -> None:
        self._objects.pop(key, None)


class _ParquetFilesCodec:
    """Typed-parquet (de)serialization of ``FileEntry`` lists — the
    delta log's sidecar layout on every transport: name, n_rows, the
    ordering-column min/max in their natural type (timestamp[ns] at
    full nanosecond fidelity), per-column skip stats as typed
    ``c_min:<col>``/``c_max:<col>`` pairs, blooms as a JSON-string
    column. No per-entry JSON encode/decode anywhere."""

    # -- typed columns for stats values --------------------------------
    @staticmethod
    def _typed_array(values):
        """pyarrow array for decoded stats values, or None when the
        values don't fit a single clean type (then the JSON-string
        fallback column is used)."""
        import pyarrow as pa

        present = [v for v in values if v is not None]
        if not present:
            return pa.array(values, type=pa.string())
        if all(isinstance(v, datetime) for v in present):
            if any(v.tzinfo is not None for v in present):
                return None
            return pa.array(values, type=pa.timestamp("ns"))
        if any(isinstance(v, bool) for v in present):
            return None  # bool min/max is exotic; keep tagged JSON
        if all(isinstance(v, int) for v in present):
            return pa.array(values, type=pa.int64())
        if all(isinstance(v, (int, float)) for v in present):
            return pa.array([None if v is None else float(v) for v in values],
                            type=pa.float64())
        if all(isinstance(v, str) for v in present):
            return pa.array(values, type=pa.string())
        return None

    def _files_to_parquet_bytes(self, files: list[FileEntry]) -> bytes:
        import pyarrow as pa
        import pyarrow.parquet as pq

        arrays: dict[str, Any] = {
            "name": pa.array([f.name for f in files], type=pa.string()),
            "n_rows": pa.array([f.n_rows for f in files], type=pa.int64()),
        }
        for stat in ("min", "max"):
            vals = [getattr(f, stat) for f in files]
            arr = self._typed_array(vals)
            if arr is not None:
                arrays[stat] = arr
            else:
                arrays[stat + "_json"] = pa.array(
                    [json.dumps(_enc_tree(v)) for v in vals],
                    type=pa.string(),
                )
        # per-column skip stats as typed pairs; any column whose
        # values defy clean typing demotes ALL cols to the JSON
        # fallback (rare: mixed-type stats within one dataset)
        col_names = sorted({c for f in files if f.cols for c in f.cols})
        col_arrays: dict[str, Any] = {}
        for c in col_names:
            for side, pick in (("c_min:", 0), ("c_max:", 1)):
                vals = [
                    f.cols[c][pick] if f.cols and c in f.cols else None
                    for f in files
                ]
                arr = self._typed_array(vals)
                if arr is None:
                    col_arrays = None
                    break
                col_arrays[side + c] = arr
            if col_arrays is None:
                break
        if col_arrays is not None:
            arrays.update(col_arrays)
        elif col_names:
            arrays["cols_json"] = pa.array(
                [
                    None if f.cols is None
                    else json.dumps({
                        c: [_enc_tree(lo), _enc_tree(hi)]
                        for c, (lo, hi) in f.cols.items()
                    })
                    for f in files
                ],
                type=pa.string(),
            )
        blooms = [f.blooms for f in files]
        if any(b is not None for b in blooms):
            arrays["blooms_json"] = pa.array(
                [None if b is None else json.dumps(b) for b in blooms],
                type=pa.string(),
            )
        # zstd: ~4x smaller sidecars than snappy on stats columns
        # (monotone timestamps delta-encode well), negligible cpu
        sink = pa.BufferOutputStream()
        pq.write_table(pa.table(arrays), sink, compression="zstd")
        return sink.getvalue().to_pybytes()

    @classmethod
    def _stat_values(cls, table, col: str) -> list:
        import pyarrow.types as pat

        import pandas as pd

        column = table.column(col)
        if pat.is_timestamp(column.type):
            # to_pandas keeps pd.Timestamp at ns fidelity; NaT -> None
            # (nulls appear for per-column stats absent on some files)
            return [None if v is pd.NaT else v for v in column.to_pandas()]
        return column.to_pylist()

    @classmethod
    def _files_from_table(cls, table) -> list[FileEntry]:
        have = set(table.column_names)
        names = table.column("name").to_pylist()
        n_rows = table.column("n_rows").to_pylist()
        stats = {}
        for stat in ("min", "max"):
            if stat in have:
                stats[stat] = cls._stat_values(table, stat)
            else:
                stats[stat] = [
                    _dec_tree(json.loads(v))
                    for v in table.column(stat + "_json").to_pylist()
                ]
        col_stats = []  # [(col, mins, maxs)]
        for cn in have:
            if cn.startswith("c_min:"):
                c = cn[len("c_min:"):]
                if ("c_max:" + c) not in have:
                    # half-populated pair (possible after delta-chain
                    # concat with schema promotion): an unusable stat
                    # — drop it rather than KeyError; readers treat a
                    # missing stat conservatively
                    continue
                col_stats.append((
                    c,
                    cls._stat_values(table, "c_min:" + c),
                    cls._stat_values(table, "c_max:" + c),
                ))
        cols_json = (
            table.column("cols_json").to_pylist()
            if "cols_json" in have else None
        )
        blooms = (
            table.column("blooms_json").to_pylist()
            if "blooms_json" in have else None
        )
        out = []
        for i, name in enumerate(names):
            cols = None
            if col_stats:
                cols = {
                    c: (mins[i], maxs[i])
                    for c, mins, maxs in col_stats
                    if mins[i] is not None or maxs[i] is not None
                } or None
            elif cols_json is not None and cols_json[i] is not None:
                cols = {
                    c: (_dec_tree(lo), _dec_tree(hi))
                    for c, (lo, hi) in json.loads(cols_json[i]).items()
                }
            out.append(FileEntry(
                name=name,
                n_rows=int(n_rows[i]),
                min=stats["min"][i],
                max=stats["max"][i],
                cols=cols,
                blooms=(
                    json.loads(blooms[i])
                    if blooms is not None and blooms[i] is not None
                    else None
                ),
            ))
        return out


class ArrowFileList:
    """Lazy Arrow-backed sequence of :class:`FileEntry` — what the
    delta-log encoding hands to ``Manifest.files``.

    At ~1M files the dominant load cost is materializing a million
    Python ``FileEntry`` objects (~10 s), not the parquet read
    (~0.5 s). This view defers that: iteration/indexing materializes
    (once, cached) for the write paths that genuinely walk every
    entry, while :meth:`prune_range` answers the READ path's
    ``[start, end)`` file selection with vectorized Arrow compute and
    materializes ONLY the survivors — a point read on a million-file
    table touches a handful of Python objects. ``Manifest.save``
    converts to a plain list before mutating/sorting, so writers are
    unaffected.
    """

    def __init__(self, table):
        self._table = table
        self._materialized: list[FileEntry] | None = None

    # -- sequence protocol (materializes, cached) ----------------------
    def _all(self) -> list[FileEntry]:
        if self._materialized is None:
            self._materialized = _ParquetFilesCodec._files_from_table(self._table)
        return self._materialized

    def __len__(self) -> int:
        return (
            self._table.num_rows
            if self._materialized is None
            else len(self._materialized)
        )

    def __iter__(self):
        return iter(self._all())

    def __getitem__(self, i):
        return self._all()[i]

    def __eq__(self, other):
        try:
            other_items = list(other)
        except TypeError:
            return NotImplemented
        return list(self) == other_items

    def __repr__(self) -> str:
        state = "lazy" if self._materialized is None else "materialized"
        return f"<ArrowFileList n={len(self)} {state}>"

    # -- mutation (materializes; the Arrow table is no longer
    #    authoritative afterwards, so the fast paths below fall back) --
    def append(self, entry: FileEntry) -> None:
        self._all().append(entry)

    def extend(self, entries) -> None:
        self._all().extend(entries)

    # -- vectorized fast paths -----------------------------------------
    @property
    def total_rows(self) -> int:
        if self._materialized is not None:
            return sum(f.n_rows for f in self._materialized)
        import pyarrow.compute as pc

        return int(pc.sum(self._table.column("n_rows")).as_py() or 0)

    def prune_range(self, start=None, end_excl=None) -> list[FileEntry]:
        """Entries whose ``[min, max]`` intersects ``[start,
        end_excl)``, materializing only the survivors. Falls back to
        the Python filter when the list was already materialized (or
        mutated), or when the ordering stats live in the
        JSON-fallback columns (mixed-type stats)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        t = self._table
        if start is None and end_excl is None:
            return self._all()
        if (
            self._materialized is not None
            or "min" not in t.column_names
            or "max" not in t.column_names
            or not t.num_rows  # an empty table's stats columns are untyped
        ):
            return [
                e for e in self._all()
                if (start is None or e.max >= start)
                and (end_excl is None or e.min < end_excl)
            ]
        mask = None
        if start is not None:
            mask = pc.greater_equal(
                t.column("max"),
                pa.scalar(start, type=t.column("max").type),
            )
        if end_excl is not None:
            m2 = pc.less(
                t.column("min"),
                pa.scalar(end_excl, type=t.column("min").type),
            )
            mask = m2 if mask is None else pc.and_(mask, m2)
        return _ParquetFilesCodec._files_from_table(t.filter(mask))

    def prune_key_range(self, bounds: dict, *, ordered_on: str | None = None) -> list[FileEntry]:
        """Vectorized pre-prune on PER-COLUMN skip stats: entries
        whose typed ``c_min:<col>``/``c_max:<col>`` sidecar stats can
        intersect every ``{col: (lo, hi)}`` range — the wide-manifest
        fast path for ``merge_into``'s candidate selection, so a CDC
        merge against a 100k-file manifest prunes in Arrow compute
        and materializes only survivors, instead of building 100k
        ``FileEntry`` objects to reject in Python. Conservative:
        entries with missing/untyped stats for a column are KEPT, and
        columns with no typed stats at all cannot prune. Falls back
        to full materialization when the list was already
        materialized (the caller's exact filter re-checks every
        survivor anyway).

        ``ordered_on``: the manifest's ordering column, whose bounds
        live in the top-level ``min``/``max`` sidecar columns (never
        ``c_min:*`` — ``_footer_stats`` excludes it from the skip
        stats) — without it a merge keyed ON the ordering column (the
        CDC state-table layout) could not prune at all."""
        import pyarrow as pa
        import pyarrow.compute as pc

        t = self._table
        if self._materialized is not None or not bounds:
            return self._all()
        mask = None
        for c, (lo, hi) in bounds.items():
            if c == ordered_on:
                cmin_name, cmax_name = "min", "max"
            else:
                cmin_name, cmax_name = f"c_min:{c}", f"c_max:{c}"
            if (
                cmin_name not in t.column_names
                or cmax_name not in t.column_names  # half-populated
                # stats are possible after delta-chain concat with
                # schema promotion — never KeyError on the twin
                or lo is None
                or hi is None
            ):
                continue
            cmin, cmax = t.column(cmin_name), t.column(cmax_name)
            try:
                inter = pc.and_kleene(
                    pc.greater_equal(cmax, pa.scalar(lo, type=cmax.type)),
                    pc.less_equal(cmin, pa.scalar(hi, type=cmin.type)),
                )
            except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
                continue  # incomparable scalar: cannot prune on this col
            keep = pc.or_kleene(pc.is_null(cmin), inter)
            mask = keep if mask is None else pc.and_(mask, keep)
        if mask is None:
            return self._all()
        # keep-on-unknown: a null mask slot (e.g. cmin non-null but
        # cmax null — kleene leaves the slot null, and Table.filter
        # DROPS null rows) must KEEP the entry, or a file whose
        # matched keys the merge then misses gets its rows silently
        # re-inserted as duplicates
        return _ParquetFilesCodec._files_from_table(
            t.filter(pc.fill_null(mask, True))
        )


class _LazyNames:
    """Deferred chain name-set (round-14 lazy fresh-load): building a
    frozenset of 1M Python strings costs ~1.4 s — the dominant cost
    of a delta-log fresh load — and only the WRITER's next delta
    commit needs it. The thunk resolves from the COMMITTED sidecars
    (never from a caller-visible entry list, which the caller mutates
    between commits), so late resolution is mutation-proof."""

    __slots__ = ("_thunk", "_names")

    def __init__(self, thunk):
        self._thunk = thunk
        self._names: frozenset | None = None

    def get(self) -> frozenset:
        if self._names is None:
            self._names = self._thunk()
            self._thunk = None
        return self._names


class ChainFileList(ArrowFileList):
    """Delta-chain manifest view with DEFERRED reconstruction
    (round-14): a fresh reader handle pays only the head read —
    sidecar reads, the removed-name filter, concat and the (min, max)
    sort all run on FIRST USE of the file list (then cache). A fresh
    1M-entry load drops from 1.6 s eager to ~0 ms; first use costs
    about one checkpoint read. Delta's own lazy checkpoint-read path
    is the model.

    Staleness posture unchanged, just moved to first use: a handle
    that waits past the chain's GC grace before first touching files
    fails LOUDLY on the missing sidecar (same contract as an eagerly
    stale reader).

    Every public entry point resolves first, so the inherited
    vectorized paths (``prune_range`` / ``prune_key_range`` /
    ``total_rows``) and the sequence protocol behave exactly like the
    eager :class:`ArrowFileList` afterwards — including the rare
    mixed-encoding fallback, which materializes Python entries
    instead of a table."""

    def __init__(self, encoding, dirpath: str, ref: str, deltas: list):
        self._encoding = encoding
        self._dirpath = dirpath
        self._ref = ref
        self._deltas = [dict(d) for d in deltas]
        self._table = None
        self._materialized: list[FileEntry] | None = None

    def _resolve(self) -> None:
        if self._table is None and self._materialized is None:
            files = self._encoding._resolve_chain(
                self._dirpath, self._ref, self._deltas
            )
            if isinstance(files, ArrowFileList):
                self._table = files._table
            else:  # mixed-encoding fallback: already-decoded entries
                self._materialized = files

    # resolve-first delegation: parent methods consult _materialized
    # and _table in orders that assume a settled state
    def _all(self) -> list[FileEntry]:
        self._resolve()
        return super()._all()

    def __len__(self) -> int:
        self._resolve()
        return super().__len__()

    @property
    def total_rows(self) -> int:
        self._resolve()
        return ArrowFileList.total_rows.fget(self)

    def prune_range(self, start=None, end_excl=None) -> list[FileEntry]:
        self._resolve()
        return super().prune_range(start, end_excl)

    def prune_key_range(self, bounds: dict, *, ordered_on: str | None = None) -> list[FileEntry]:
        self._resolve()
        return super().prune_key_range(bounds, ordered_on=ordered_on)



class JsonManifest:
    """Inline-JSON encoding: the head carries every file entry, so a
    commit is ONE head CAS and there are no sidecars to collect. The
    default (``JsonManifest(PosixTransport())``) for datasets up to
    ~100k files; past that the per-commit JSON encode and the CAS's
    generation parse grow with the file count — use
    :class:`DeltaLogManifest`."""

    def __init__(self, transport):
        self.transport = transport

    def read(self, dirpath: str):
        """-> (head_payload_dict, list[FileEntry], token) | None."""
        hit = self.transport.read_head(dirpath)
        if hit is None:
            return None
        data, token = hit
        payload = json.loads(_plain(data))
        if "files" not in payload:
            raise ValueError(
                f"manifest at {dirpath} keeps its entries in parquet "
                "sidecars: open it with DeltaLogManifest"
            )
        files = [FileEntry.from_json(d) for d in payload.pop("files")]
        return payload, files, token

    def commit(
        self, dirpath: str, head: dict, files: list[FileEntry],
        *, expect_token,
    ) -> Any:
        payload = {**head, "files": [f.to_json() for f in files]}
        return self.transport.cas_head(
            dirpath, _maybe_compress(json.dumps(payload).encode()),
            expect_token,
        )


class DeltaLogManifest(_ParquetFilesCodec):
    """DELTA-ENCODED manifest commits — O(changed entries) commit I/O
    instead of a full entry rewrite per commit (a full typed sidecar
    cost ~5–6 s per commit at 1M entries in SCALE.md's round-13
    probe). The Delta-Lake log architecture proper: actions per
    commit, periodic checkpoints — here with the actions themselves
    typed parquet (``_ParquetFilesCodec`` layout).

    Layout: the head (committed through the transport's CAS) points
    at a BASE checkpoint sidecar (``files_ref``) plus an ordered
    chain ``deltas: [{"ref": <adds sidecar|null>, "removed": [names]}
    ...]`` — each commit writes ONLY its added entries as a parquet
    object and lists its removed names inline in the head (both
    bounded by the commit's touched files, never table width).
    Readers reconstruct vectorized: one global removed-name filter is
    EXACT because data-file names are uuid-fresh and never reused (a
    name can never be re-added after removal), then concat with
    schema promotion and a typed sort on (min, max) restores the
    manifest order invariant. A head without ``deltas`` — every
    freshly folded chain, and every head the former full-sidecar
    backends wrote — is a zero-delta chain: its checkpoint already is
    in manifest order.

    The writer proves its delta against the true predecessor via the
    CAS itself: the delta is computed vs the name-set this instance
    last read/committed (cached per dirpath), and the head commit
    carries ``expect_token`` from that same state — so the CAS
    succeeds only when that state IS the committed predecessor. Any
    doubt (foreign token, no cache) and every ``checkpoint_interval``
    commits, the chain folds into a fresh full checkpoint;
    correctness never depends on the fast path.

    Sidecars are immutable nonce-named objects
    (``_oups_manifest.files.g<generation>.<nonce>[.delta].parquet`` —
    the nonce keeps two same-generation racers apart), staged before
    the head CAS decides; a loser drops its staged object. Refs a
    commit releases stay one extra commit, so a reader of the
    previous head still resolves its chain; the transport's sweep
    then reclaims them. Legacy inline-JSON heads read as-is and the
    next commit upgrades them. Time-travel snapshots are unaffected —
    they are written from the full inline payload.
    """

    checkpoint_interval = 20

    def __init__(self, transport):
        self.transport = transport
        # dirpath -> (token, frozenset(names), base_ref, deltas_payload)
        self._seen: dict[str, tuple] = {}
        # dirpath -> the PREVIOUS commit's reachable refs: kept for one
        # extra commit so a reader that loaded the previous head can
        # still resolve its chain
        self._prev_keep: dict[str, set] = {}
        # dirpath -> refs THIS instance released at its previous
        # commit: the only objects a drop-list sweep may delete
        self._pending_drop: dict[str, set] = {}

    # -- read ----------------------------------------------------------
    def read(self, dirpath: str):
        """-> (head_payload_dict, list[FileEntry], token) | None."""
        hit = self.transport.read_head(dirpath)
        if hit is None:
            return None
        data, token = hit
        payload = json.loads(_plain(data))
        ref = payload.pop("files_ref", None)
        deltas = payload.pop("deltas", [])
        if ref is None:  # legacy inline-JSON manifest
            files = [FileEntry.from_json(d) for d in payload.pop("files")]
            return payload, files, token
        # LAZY fresh load (round-14): chain reconstruction and the
        # name-set both defer — a reader handle pays only this head
        # read. The name-set thunk re-reads name COLUMNS from the
        # committed sidecars rather than borrowing the ChainFileList,
        # so a caller mutating the returned list between commits can
        # never corrupt the next delta computation.
        files = ChainFileList(self, dirpath, ref, deltas)
        self._seen[dirpath] = (
            token,
            _LazyNames(lambda: self._chain_names(dirpath, ref, deltas)),
            ref,
            deltas,
        )
        return payload, files, token

    def _sidecar_table(self, dirpath: str, ref: str, columns=None):
        import pyarrow as pa
        import pyarrow.parquet as pq

        return pq.read_table(
            pa.BufferReader(self.transport.get(dirpath, ref)),
            columns=columns,
        )

    def _sidecar_names(self, dirpath: str, ref: str) -> list:
        # column-pruned decode: the name-set resolver never needs stats
        return self._sidecar_table(
            dirpath, ref, columns=["name"]
        ).column("name").to_pylist()

    def _chain_names(self, dirpath: str, ref: str, deltas: list) -> frozenset:
        """Name-set of a committed chain, resolved from the sidecars
        (mutation-proof — see read_split). Data-file names are
        uuid-fresh and never reused, so one global removed filter is
        exact, same as _resolve_chain."""
        names = set(self._sidecar_names(dirpath, ref))
        for d in deltas:
            if d.get("ref"):
                names.update(self._sidecar_names(dirpath, d["ref"]))
        for d in deltas:
            names.difference_update(d.get("removed", []))
        return frozenset(names)

    def _resolve_chain(self, dirpath: str, ref: str, deltas: list):
        import pyarrow as pa
        import pyarrow.compute as pc

        if not deltas:
            # a bare checkpoint is written from Manifest.save after
            # sort_files(): it already is in manifest order, so there
            # is nothing to filter, concat or re-sort
            return ArrowFileList(self._sidecar_table(dirpath, ref))
        tables = [self._sidecar_table(dirpath, ref)]
        removed: set = set()
        for d in deltas:
            if d.get("ref"):
                tables.append(self._sidecar_table(dirpath, d["ref"]))
            removed.update(d.get("removed", []))
        if removed:
            rm = pa.array(sorted(removed), type=pa.string())
            tables = [
                t.filter(
                    pc.invert(pc.is_in(t.column("name"), value_set=rm))
                )
                for t in tables
            ]
        # heterogeneous skip-stat encodings across the chain (one
        # sidecar typed c_min:*, another demoted to cols_json — e.g. a
        # post-schema-evolution column whose type defies clean typing)
        # cannot concat losslessly: _files_from_table's typed branch
        # would silently null the cols_json rows' stats. Decode each
        # self-consistent sidecar separately and merge in Python —
        # rare, and only this path pays the materialization.
        # EMPTY sidecars (a checkpoint of an emptied dataset, or a
        # filter that dropped every row) carry untyped stats columns —
        # they contribute no entries, so drop them before concat
        # (keeping one only when everything is empty, for the names
        # pass below)
        non_empty = [t for t in tables if t.num_rows]
        tables = non_empty or tables[:1]
        has_json = any(
            "cols_json" in t.column_names or "min_json" in t.column_names
            for t in tables
        )
        has_typed = any(
            "min" in t.column_names
            or any(c.startswith("c_min:") for c in t.column_names)
            for t in tables
        )
        if has_json and has_typed and len(tables) > 1:
            entries = [e for t in tables for e in self._files_from_table(t)]
            entries.sort(key=lambda f: (f.min, f.max))
            return entries
        table = (
            pa.concat_tables(tables, promote_options="default")
            if len(tables) > 1
            else tables[0]
        )
        if "min" in table.column_names and "max" in table.column_names:
            table = table.take(
                pc.sort_indices(
                    table,
                    sort_keys=[("min", "ascending"), ("max", "ascending")],
                )
            )
            return ArrowFileList(table)
        # mixed-type (JSON-fallback) ordering stats: materialize and
        # sort in Python — rare, and the exact filter above still ran
        entries = self._files_from_table(table)
        entries.sort(key=lambda f: (f.min, f.max))
        return entries

    # -- commit --------------------------------------------------------
    def commit(
        self, dirpath: str, head: dict, files: list[FileEntry],
        *, expect_token,
    ) -> Any:
        import uuid

        gen = head.get("generation", 0)
        seen = self._seen.get(dirpath)
        nonce = uuid.uuid4().hex[:12]
        if (
            seen is not None
            and seen[0] == expect_token
            and len(seen[3]) + 1 < self.checkpoint_interval
            and isinstance(seen[1], _LazyNames)
        ):
            # the delta path is about to need the predecessor's
            # name-set, which (round-14 lazy posture) resolves from
            # sidecars AT COMMIT time. If a foreign writer committed
            # and its sweep reclaimed our chain in between, that read
            # fails — and pre-lazy code could not hit this (names
            # were captured at read time). Treat it as an unprovable
            # predecessor: fall through to the FULL CHECKPOINT
            # attempt, whose CAS then loses with the
            # ManifestConflictError callers' retry loops expect.
            try:
                seen = (seen[0], seen[1].get(), seen[2], seen[3])
                self._seen[dirpath] = seen  # cache the resolution
            except (FileNotFoundError, OSError):
                seen = None
        if (
            seen is None
            or seen[0] != expect_token
            or len(seen[3]) + 1 >= self.checkpoint_interval
        ):
            # FULL CHECKPOINT: no provable predecessor, or the chain
            # is due for folding
            ref = f"{_FILES_PREFIX}{gen:08d}.{nonce}.parquet"
            self.transport.put(
                dirpath, ref, self._files_to_parquet_bytes(files)
            )
            new_head = {**head, "files_ref": ref}
            keep = {ref}
            new_deltas: list = []
            staged = ref
            # name-set for the NEXT delta commit: defer to a sidecar
            # re-read (round-14 lazy posture — a 1M-entry checkpoint
            # commit must not pay a 1.4 s frozenset it may never
            # need). The thunk binds the committed ref, so later
            # caller mutations of `files` cannot leak in.
            ckpt_ref = ref
            next_names = _LazyNames(
                lambda: frozenset(self._sidecar_names(dirpath, ckpt_ref))
            )
            # the REPLACED head's chain must survive this commit's
            # sweep one extra commit: a reader that loaded that head
            # just before our CAS may still be mid-chain-resolve, and
            # when the chain is a FOREIGN writer's (not in our
            # _prev_keep) its BASE checkpoint is typically far older
            # than gc_grace_s — without this it is deleted
            # immediately, failing that reader systematically
            # (ADVICE r13). Mirrors the two-phase posture used for
            # this instance's own released refs. The chain is this
            # instance's cached read of that head when it has one,
            # else the head itself (a fresh instance, or one whose
            # cache is of an older head); a head that moved past
            # expect_token fails the CAS below, sweeping nothing.
            if seen is not None and seen[0] == expect_token:
                replaced = (seen[2], seen[3])
            else:
                hit = self.transport.read_head(dirpath)
                if hit is not None and hit[1] == expect_token:
                    cur = json.loads(_plain(hit[0]))
                    replaced = (cur.get("files_ref"), cur.get("deltas", []))
                else:
                    replaced = (None, [])
            replaced_chain = (
                {replaced[0]} | {d["ref"] for d in replaced[1] if d.get("ref")}
                if replaced[0]
                else set()
            )
        else:
            _tok, prev_names, base_ref, deltas = seen
            cur_names = {f.name for f in files}
            added = [f for f in files if f.name not in prev_names]
            removed = sorted(prev_names - cur_names)
            if added:
                ref = f"{_FILES_PREFIX}{gen:08d}.{nonce}.delta.parquet"
                self.transport.put(
                    dirpath, ref, self._files_to_parquet_bytes(added)
                )
                staged = ref
            else:
                ref = None  # removal-only / head-only commit
                staged = None
            new_deltas = list(deltas) + (
                [{"ref": ref, "removed": removed}]
                if (added or removed)
                else []
            )
            new_head = {**head, "files_ref": base_ref, "deltas": new_deltas}
            keep = {base_ref} | {
                d["ref"] for d in new_deltas if d.get("ref")
            }
            ref = base_ref
            replaced_chain = set()  # delta commit: keep covers the chain
            next_names = frozenset(cur_names)  # already computed here
        data = _maybe_compress(json.dumps(new_head).encode())
        try:
            token = self.transport.cas_head(dirpath, data, expect_token)
        except ManifestConflictError:
            if staged is not None:  # never referenced by any head
                self.transport.delete(dirpath, staged)
            raise
        self._seen[dirpath] = (token, next_names, ref, new_deltas)
        # two-phase reclamation: refs released by THIS commit stay in
        # `keep` until the NEXT one (a reader on the just-replaced head
        # can still resolve its chain); `drop` names the refs this
        # instance released one commit ago. The transport's policy
        # decides what goes: posix sweeps everything outside `keep`
        # past its mtime grace, object stores delete `drop` only
        released = (
            self._prev_keep.get(dirpath, set()) | replaced_chain
        ) - keep
        drop_now = self._pending_drop.get(dirpath, set()) - keep
        self.transport.sweep(dirpath, keep=keep | released, drop=drop_now)
        self._pending_drop[dirpath] = released
        self._prev_keep[dirpath] = keep
        return token


# Only explicitly tagged types round-trip through kv metadata — a
# manifest read from a shared dataset directory must never execute
# code on the driver, so there is deliberately NO pickle fallback
# (an unknown tag raises instead of deserializing).
_TAGS = ("__ts__", "__pdts__", "__pqdf__")


def _enc(v: Any) -> Any:
    import numpy as np
    import pandas as pd

    if isinstance(v, (bool, int, float, str)) or v is None:
        return v
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return float(v)
    if isinstance(v, pd.Timestamp):
        # pandas parses its own isoformat back at full (ns) precision
        return {"__pdts__": v.isoformat()}
    if isinstance(v, datetime):
        return {"__ts__": v.isoformat()}
    if isinstance(v, pd.DataFrame):
        import io

        buf = io.BytesIO()
        v.to_parquet(buf)  # parquet: dtype-faithful and code-free
        return {"__pqdf__": base64.b64encode(buf.getvalue()).decode()}
    raise TypeError(
        f"kv metadata value of type {type(v).__name__} is not "
        "serializable: use JSON-safe scalars, timestamps, or small "
        "pandas DataFrames (nested dicts/lists of these are fine)"
    )


def _dec(v: dict) -> Any:
    import pandas as pd

    if "__pdts__" in v:
        return pd.Timestamp(v["__pdts__"])
    if "__ts__" in v:
        return datetime.fromisoformat(v["__ts__"])
    if "__pqdf__" in v:
        import io

        return pd.read_parquet(io.BytesIO(base64.b64decode(v["__pqdf__"])))
    raise ValueError(f"unknown kv metadata tag in {sorted(v)}")


def _is_tagged(v: dict) -> bool:
    return any(t in v for t in _TAGS) or any(
        k.startswith("__") and k.endswith("__") for k in v
    )


def _enc_tree(v: Any) -> Any:
    if isinstance(v, dict):
        return {k: _enc_tree(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_enc_tree(x) for x in v]
    return _enc(v)


def _dec_tree(v: Any) -> Any:
    if isinstance(v, dict):
        if _is_tagged(v):
            return _dec(v)
        return {k: _dec_tree(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_dec_tree(x) for x in v]
    return v


@dataclass
class FileEntry:
    """Stats of one data file (≈ one row group in reference terms).

    ``cols``: optional per-column ``{name: [min, max]}`` footer stats
    beyond the ordering column — the data-skipping index
    (Delta/Iceberg file-stats model). Absent for files written before
    the feature or via the Spark-scan stats fallback; pruning
    degrades gracefully to "cannot skip".
    """

    name: str  # path relative to the dataset directory
    n_rows: int
    min: Any  # ordered_on min
    max: Any  # ordered_on max
    cols: dict | None = None
    # optional per-column Bloom filters for equality-predicate data
    # skipping: {col: {"m": bits, "k": hashes, "b64": bitset}} —
    # written by write(bloom_cols=[...]), probed by read(filters=...)
    # (see store/bloom.py); absence degrades to "cannot skip"
    blooms: dict | None = None

    def to_json(self) -> dict:
        d = {"name": self.name, "n_rows": self.n_rows,
             "min": _enc(self.min), "max": _enc(self.max)}
        if self.cols:
            d["cols"] = {
                c: [_enc(lo), _enc(hi)] for c, (lo, hi) in self.cols.items()
            }
        if self.blooms:
            d["blooms"] = self.blooms
        return d

    @classmethod
    def from_json(cls, d: dict) -> FileEntry:
        cols = d.get("cols")
        return cls(name=d["name"], n_rows=d["n_rows"],
                   min=_dec_tree(d["min"]), max=_dec_tree(d["max"]),
                   cols={
                       c: (_dec_tree(lo), _dec_tree(hi))
                       for c, (lo, hi) in cols.items()
                   } if cols else None,
                   blooms=d.get("blooms"))


DEFAULT_BACKEND = JsonManifest(PosixTransport())


@dataclass
class Manifest:
    ordered_on: str
    files: list[FileEntry] = field(default_factory=list)
    kv: dict[str, Any] = field(default_factory=dict)
    schema_json: str | None = None  # Spark StructType json of the dataset
    # column-MultiIndex mapping (reference: tuple column names /
    # ``conform_cmidx``): {flat_column_name: [level, level, ...]} for
    # datasets written with tuple ``ordered_on`` — ``read`` uses it to
    # rebuild the struct columns the writer flattened
    cmidx: dict[str, list[str]] | None = None
    # monotone commit counter: incremented by every save(); the key of
    # time-travel snapshots (see snapshot_* helpers)
    generation: int = 0
    # deferred-deletion ledger: files no longer referenced by this
    # generation but kept on disk for a grace window so a reader whose
    # scan resolved paths from a superseded manifest is not yanked
    # mid-job (reader/writer isolation — the reference instead holds
    # the dataset lock for the whole read, ``base.py:240-255``).
    # Entries are ``{"name": <file>, "ts": <unix seconds>}``; the
    # write path sweeps entries older than its grace window.
    tombstones: list = field(default_factory=list)
    # transport commit token of the version this instance was loaded
    # from (None = freshly created) — save() passes it as the
    # compare-and-swap precondition, making read-modify-write
    # optimistic CAS on every transport
    token: Any = field(default=None, compare=False, repr=False)
    # True iff the most recent save() got its head CAS accepted —
    # distinguishes post-commit failures (snapshot write, expired-file
    # deletion) from pre-commit ones in callers' cleanup handlers.
    # Reset to False at the top of every save(); a copy
    # (``dataclasses.replace``) starts False.
    last_commit_landed: bool = field(
        default=False, init=False, compare=False, repr=False
    )

    @property
    def n_rows(self) -> int:
        if isinstance(self.files, ArrowFileList):
            return self.files.total_rows  # vectorized, no materialization
        return sum(f.n_rows for f in self.files)

    def files_in_range(self, start=None, end_excl=None) -> list[FileEntry]:
        """Entries whose ``[min, max]`` span intersects
        ``[start, end_excl)`` — THE read-path file selection. On an
        Arrow-backed lazy list (the delta-log encoding) the
        selection runs vectorized and materializes only survivors, so
        a pruned read of a million-file dataset touches a handful of
        Python objects."""
        if isinstance(self.files, ArrowFileList):
            return self.files.prune_range(start, end_excl)
        entries = self.files
        if start is not None:
            entries = [e for e in entries if e.max >= start]
        if end_excl is not None:
            entries = [e for e in entries if e.min < end_excl]
        return list(entries)

    def sort_files(self) -> None:
        if not isinstance(self.files, list):
            self.files = list(self.files)
        self.files.sort(key=lambda f: (f.min, f.max))

    def _head_payload(self) -> dict:
        payload = {
            "version": 1,
            "ordered_on": self.ordered_on,
            "generation": self.generation,
            "kv": _enc_tree(self.kv),
            "schema_json": self.schema_json,
        }
        if self.cmidx:
            payload["cmidx"] = self.cmidx
        if self.tombstones:
            payload["tombstones"] = self.tombstones
        return payload

    def _payload(self) -> bytes:
        payload = self._head_payload()
        payload["files"] = [f.to_json() for f in self.files]
        return json.dumps(payload).encode()

    def save(
        self,
        dirpath: str,
        backend: JsonManifest | DeltaLogManifest | None = None,
        *,
        snapshot: bool = False,
    ) -> None:
        backend = backend or DEFAULT_BACKEND
        # post-commit failure discrimination: a caller whose cleanup
        # handler deletes staged data files MUST NOT do so once the
        # CAS has landed (the committed manifest references them) —
        # this flag is False until the backend commit returns, so
        # handlers can tell pre-commit failures (clean up) from
        # post-commit ones like a snapshot-write error (propagate,
        # never touch data files)
        self.last_commit_landed = False
        self.sort_files()
        self.generation += 1
        try:
            self.token = backend.commit(
                dirpath, self._head_payload(), self.files,
                expect_token=self.token,
            )
        except ManifestConflictError:
            # a failed commit must not leave this instance claiming a
            # generation that never landed — callers retry with it
            self.generation -= 1
            raise
        self.last_commit_landed = True
        if snapshot:
            # snapshots are always the full inline payload, whatever
            # the encoding's live layout — load_snapshot stays
            # encoding-free and old generations never dangle on a
            # swept sidecar
            write_snapshot(
                dirpath, self.generation, _maybe_compress(self._payload())
            )

    @classmethod
    def _from_head(cls, payload: dict, token: Any = None) -> Manifest:
        return cls(
            ordered_on=payload["ordered_on"],
            files=[],
            kv=_dec_tree(payload.get("kv", {})),
            schema_json=payload.get("schema_json"),
            generation=payload.get("generation", 0),
            cmidx=payload.get("cmidx"),
            tombstones=payload.get("tombstones", []),
            token=token,
        )

    @classmethod
    def _from_payload(cls, data: bytes, token: Any = None) -> Manifest:
        payload = json.loads(_plain(data))
        man = cls._from_head(payload, token)
        man.files = [FileEntry.from_json(d) for d in payload["files"]]
        return man

    @classmethod
    def load(
        cls, dirpath: str,
        backend: JsonManifest | DeltaLogManifest | None = None,
    ) -> Manifest | None:
        hit = (backend or DEFAULT_BACKEND).read(dirpath)
        if hit is None:
            return None
        head, files, token = hit
        man = cls._from_head(head, token)
        man.files = files
        return man


# ------------------------------------------------- time-travel snapshots
# Immutable per-generation manifest copies (`_oups_manifest.v%08d.json`)
# power `OrderedDataset.read(as_of=...)`. POSIX-path mechanism only: on
# object stores, bucket versioning already snapshots the single manifest
# object per commit, so the engine-level copies would be redundant.
_SNAP_PREFIX = MANIFEST_NAME[: -len(".json")] + ".v"


def snapshot_name(generation: int) -> str:
    return f"{_SNAP_PREFIX}{generation:08d}.json"


def write_snapshot(dirpath: str, generation: int, data: bytes) -> None:
    path = os.path.join(dirpath, snapshot_name(generation))
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)


def list_snapshots(dirpath: str) -> list[int]:
    """Available snapshot generations, ascending."""
    out = []
    try:
        names = os.listdir(dirpath)
    except FileNotFoundError:
        return []
    for n in names:
        if n.startswith(_SNAP_PREFIX) and n.endswith(".json"):
            try:
                out.append(int(n[len(_SNAP_PREFIX) : -len(".json")]))
            except ValueError:
                continue
    return sorted(out)


def load_snapshot(dirpath: str, generation: int) -> Manifest:
    path = os.path.join(dirpath, snapshot_name(generation))
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no manifest snapshot for generation {generation} at {dirpath} "
            f"(available: {list_snapshots(dirpath)})"
        )
    with open(path, "rb") as fh:
        return Manifest._from_payload(fh.read())


def drop_snapshot(dirpath: str, generation: int) -> None:
    p = os.path.join(dirpath, snapshot_name(generation))
    if os.path.exists(p):
        os.remove(p)
