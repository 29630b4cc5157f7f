"""The manifest swap contract, once, over every encoding × transport
pair: {inline JSON, delta log} × {posix, in-memory object store}.

1. A reader sees the old or the new manifest, never a partial one.
2. A writer holding a stale token raises ManifestConflictError and
   leaves no staged object behind.
3. A reader that loaded the previous head still resolves it after one
   more commit (the delta log keeps a released chain one extra
   commit, whatever the transport's sweep policy).

Plus the two-process posix hammer for both encodings: every
read-modify-write commit from both writers lands exactly once.
"""

import multiprocessing as mp
import os

import pandas as pd
import pytest

from oups_spark.store.manifest import (
    MANIFEST_NAME,
    DeltaLogManifest,
    FileEntry,
    InMemoryObjectStore,
    JsonManifest,
    Manifest,
    ManifestConflictError,
    PosixTransport,
)

ENCODINGS = {"json": JsonManifest, "deltalog": DeltaLogManifest}


def _entry(i):
    t0 = pd.Timestamp("2024-01-01")
    return FileEntry(
        name=f"f{i:04d}.parquet", n_rows=10 + i,
        min=t0 + pd.Timedelta(days=i),
        max=t0 + pd.Timedelta(days=i, hours=23),
        cols={"v": (float(i), float(i) + 1.0)},
    )


def _storage(kind, tmp_path):
    if kind == "posix":
        t = PosixTransport()
        t.gc_grace_s = 0.0  # sweep as eagerly as the policy allows
        return t, str(tmp_path)
    return InMemoryObjectStore(), "bucket/ds"


def _stored(transport, d) -> set:
    """Every manifest object the transport holds for dataset ``d``:
    the head and all sidecars (lock files are not objects)."""
    stem = MANIFEST_NAME[: -len(".json")]
    if isinstance(transport, PosixTransport):
        names = os.listdir(d)
    else:
        names = [
            os.path.basename(k) for k in transport._objects
            if k.startswith(d + "/")
        ]
    return {n for n in names if n.startswith(stem) and not n.endswith(".lock")}


def _names(man) -> list:
    return [f.name for f in man.files]


@pytest.mark.parametrize("transport_kind", ["posix", "memory"])
@pytest.mark.parametrize("encoding", ["json", "deltalog"])
def test_manifest_contract(tmp_path, encoding, transport_kind):
    transport, d = _storage(transport_kind, tmp_path)

    def handle():  # another process's reader/writer on the same storage
        be = ENCODINGS[encoding](transport)
        if encoding == "deltalog":
            be.checkpoint_interval = 2  # fold every other commit
        return be

    w = handle()
    m = Manifest(ordered_on="ts")
    m.files = [_entry(0), _entry(1)]
    m.save(d, w)
    states = {m.generation: _names(m)}

    # adds, a replace, a removal and a kv-only commit: with interval
    # 2 the delta log alternates checkpoint folds and delta commits
    steps = [
        lambda f: f + [_entry(2)],
        lambda f: [e for e in f if e.name != "f0001.parquet"] + [_entry(5)],
        lambda f: [e for e in f if e.name != "f0000.parquet"],
        lambda f: f,
        lambda f: f + [_entry(3), _entry(4)],
    ]
    for step in steps:
        # (3) a reader on the head this commit replaces — its file
        # list untouched, so a lazy chain resolves only afterwards
        prev = Manifest.load(d, handle())
        prev_gen = prev.generation
        m.files = step(list(m.files))
        m.kv["gen"] = prev_gen + 1
        m.save(d, w)
        states[m.generation] = _names(m)
        assert _names(prev) == states[prev_gen]

        # (1) old-or-new: a fresh reader sees exactly the newest
        # committed state, entries and head together
        now = Manifest.load(d, handle())
        assert now.generation == m.generation
        assert _names(now) == states[now.generation]
        assert now.kv["gen"] == now.generation

        # (2) a stale writer conflicts and leaves no staged object
        stale_be, winner_be = handle(), handle()
        stale = Manifest.load(d, stale_be)
        winner = Manifest.load(d, winner_be)
        winner.kv["winner"] = winner.generation
        winner.save(d, winner_be)
        states[winner.generation] = _names(winner)
        before = _stored(transport, d)
        stale.files = list(stale.files) + [_entry(90 + len(states))]
        with pytest.raises(ManifestConflictError):
            stale.save(d, stale_be)
        assert _stored(transport, d) == before
        assert stale.generation == winner.generation - 1
        m = Manifest.load(d, w)

    final = Manifest.load(d, handle())
    assert _names(final) == states[final.generation]
    assert final.generation == 1 + 2 * len(steps)


@pytest.mark.parametrize("transport_kind", ["posix", "memory"])
def test_fresh_instance_fold_keeps_replaced_chain(tmp_path, transport_kind):
    """A delta-log commit through an encoding instance that never read
    the head it replaces (no cached chain: it folds a full
    checkpoint) keeps that head's chain for one more commit, so a
    reader that loaded the head lazily still resolves it — even when
    the posix sweep reclaims everything else at once."""
    transport, d = _storage(transport_kind, tmp_path)
    w = DeltaLogManifest(transport)
    m = Manifest(ordered_on="ts")
    m.files = [_entry(0)]
    m.save(d, w)
    m.files = list(m.files) + [_entry(1)]
    m.save(d, w)  # a delta commit: the head is a base + one delta
    reader = Manifest.load(d, DeltaLogManifest(transport))
    loaded = Manifest.load(d, DeltaLogManifest(transport))
    loaded.files = list(loaded.files) + [_entry(2)]
    loaded.save(d, DeltaLogManifest(transport))
    assert _names(reader) == ["f0000.parquet", "f0001.parquet"]
    assert _names(Manifest.load(d, DeltaLogManifest(transport))) == [
        "f0000.parquet", "f0001.parquet", "f0002.parquet"
    ]


def _contender(encoding: str, dirpath: str, tag: str, n: int) -> None:
    """Two-process hammer child: n read-modify-write commits with
    reload-and-retry on conflict."""
    be = ENCODINGS[encoding](PosixTransport())
    for i in range(n):
        while True:
            m = Manifest.load(dirpath, be) or Manifest(ordered_on="ts")
            m.files.append(
                FileEntry(
                    name=f"{tag}_{i}.parquet", n_rows=1,
                    min=i * 10, max=i * 10 + 9,
                )
            )
            try:
                m.save(dirpath, be)
                break
            except ManifestConflictError:
                continue


@pytest.mark.parametrize("encoding", ["json", "deltalog"])
def test_two_process_hammer_zero_lost_updates(tmp_path, encoding):
    """TWO OS PROCESSES hammer the same dataset manifest with
    read-modify-write commits (the reference serializes this with a
    held flufl.lock, base.py:240-255): under the flock'd CAS every
    commit from both writers lands exactly once and the generation is
    the commit count — last-writer-wins would silently drop entries.
    The encoding changes commit I/O, not the CAS contract."""
    d = str(tmp_path)
    n = 25
    ctx = mp.get_context("fork")
    ps = [
        ctx.Process(target=_contender, args=(encoding, d, tag, n))
        for tag in ("p1", "p2")
    ]
    for p in ps:
        p.start()
    for p in ps:
        p.join(timeout=120)
        assert p.exitcode == 0
    final = Manifest.load(d, ENCODINGS[encoding](PosixTransport()))
    names = [f.name for f in final.files]
    expect = {f"{tag}_{i}.parquet" for tag in ("p1", "p2") for i in range(n)}
    assert set(names) == expect and len(names) == 2 * n
    assert final.generation == 2 * n
