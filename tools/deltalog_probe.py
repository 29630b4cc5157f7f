#!/usr/bin/env python
"""Manifest-encoding metadata probe at lakehouse file counts.

Builds a manifest of n entries (default 1M) three ways on the posix
transport and times one fresh reader/writer handle on each:

- ``inline json``: ``JsonManifest`` — every entry inline in the head,
- ``zero-delta log``: ``DeltaLogManifest`` right after a checkpoint
  (one commit) — also the shape every head written by the former
  full-sidecar backend reads as,
- ``2-delta log``: ``DeltaLogManifest``, checkpoint + 2 delta commits.

Columns:

- ``fresh_load``: ``Manifest.load`` on a new handle (head read only
  for the delta log, which resolves lazily),
- ``first_prune``: the first pruned range selection (pays the
  delta log's checkpoint read / chain reconstruction),
- ``point_prune``: a later point selection (cached),
- ``incr_commit_fresh``: an incremental commit (+1/-1 entries) on the
  fresh handle (the delta log resolves its lazy name-set here),
- ``incr_commit_warm``: a second such commit on the now-warm handle.

No Spark needed — manifest arithmetic is driver-side by design.
Usage: python tools/deltalog_probe.py [n_entries]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from oups_spark.store.manifest import (
        DeltaLogManifest,
        FileEntry,
        JsonManifest,
        Manifest,
        PosixTransport,
    )

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000

    def build(dirpath, backend, n_deltas):
        man = Manifest(ordered_on="ts")
        man.files = [
            FileEntry(name=f"file_{i:07d}.parquet", n_rows=100,
                      min=i * 100, max=i * 100 + 99)
            for i in range(n)
        ]
        man.save(dirpath, backend)
        for j in range(n_deltas):
            man.files = man.files[1:] + [
                FileEntry(name=f"extra_{j}.parquet", n_rows=100,
                          min=(n + j) * 100, max=(n + j) * 100 + 99)
            ]
            man.save(dirpath, backend)

    def probe(label, mk, n_deltas):
        # one function scope per encoding: the previous encoding's 1M
        # entries are freed before this one's clock starts
        d = tempfile.mkdtemp(prefix="dlp_")
        try:
            build(d, mk(PosixTransport()), n_deltas)

            b2 = mk(PosixTransport())  # another process's reader/writer
            t0 = time.time()
            m2 = Manifest.load(d, b2)
            t_load = time.time() - t0

            t0 = time.time()
            sel = m2.files_in_range(500 * 100, 600 * 100)
            t_first = time.time() - t0
            assert len(list(sel)) > 0

            t0 = time.time()
            m2.files_in_range(700 * 100, 701 * 100)
            t_point = time.time() - t0

            m2.files = list(m2.files)[1:] + [
                FileEntry(name="probe_commit.parquet", n_rows=1,
                          min=10**12, max=10**12)
            ]
            t0 = time.time()
            m2.save(d, b2)
            t_commit = time.time() - t0

            m2.files = list(m2.files)[1:] + [
                FileEntry(name="probe_commit2.parquet", n_rows=1,
                          min=10**12 + 1, max=10**12 + 1)
            ]
            t0 = time.time()
            m2.save(d, b2)
            t_commit2 = time.time() - t0
            print(
                f"{label:<15} fresh_load={t_load:7.3f}s "
                f"first_prune={t_first:7.3f}s point_prune={t_point * 1e3:6.1f}ms "
                f"incr_commit_fresh={t_commit:7.3f}s "
                f"incr_commit_warm={t_commit2:7.3f}s",
                flush=True,
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)

    probe("inline json", JsonManifest, 0)
    probe("zero-delta log", DeltaLogManifest, 0)
    probe("2-delta log", DeltaLogManifest, 2)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
