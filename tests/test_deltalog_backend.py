"""DeltaLogManifest: delta-encoded manifest commits (round-13).

Commit I/O must be O(changed entries) — each commit writes only its
added entries (plus removed names inline in the head) — while readers
reconstruct the exact same manifest a full rewrite would hold: same
entries, same (min, max) order, same typed stats, same CAS contract
under the two-process hammer."""

import json
import multiprocessing as mp
import os

import pandas as pd
import pytest

from oups_spark.store.manifest import (
    MANIFEST_NAME,
    DeltaLogManifest,
    FileEntry,
    InMemoryObjectStore,
    Manifest,
    ManifestConflictError,
    PosixTransport,
)


def _dl():
    return DeltaLogManifest(PosixTransport())


def _entry(i, name=None):
    t0 = pd.Timestamp("2024-01-01")
    return FileEntry(
        name=name or f"f{i:04d}.parquet", n_rows=10 + i,
        min=t0 + pd.Timedelta(days=i),
        max=t0 + pd.Timedelta(days=i, hours=23),
        cols={"v": (float(i), float(i) + 1.0)},
    )


def _head(d):
    return json.loads(open(os.path.join(d, MANIFEST_NAME), "rb").read())


def test_delta_commits_and_exact_reconstruction(tmp_path):
    d = str(tmp_path)
    be = _dl()
    m = Manifest(ordered_on="ts")
    m.files = [_entry(i) for i in range(5)]
    m.save(d, be)  # gen 1: full checkpoint (no predecessor)
    base_ref = _head(d)["files_ref"]
    assert "deltas" not in _head(d)

    # gen 2: add 2 entries -> ONE delta sidecar, base untouched
    m.files.extend([_entry(10), _entry(11)])
    m.save(d, be)
    h = _head(d)
    assert h["files_ref"] == base_ref
    assert len(h["deltas"]) == 1 and h["deltas"][0]["removed"] == []
    assert ".delta.parquet" in h["deltas"][0]["ref"]

    # gen 3: replace f0001 with a new name (add+remove in one commit)
    m.files = [e for e in m.files if e.name != "f0001.parquet"] + [
        _entry(1, name="f0001_v2.parquet")
    ]
    m.save(d, be)
    h = _head(d)
    assert len(h["deltas"]) == 2
    assert h["deltas"][1]["removed"] == ["f0001.parquet"]

    # gen 4: removal-only commit -> no new sidecar object
    m.files = [e for e in m.files if e.name != "f0004.parquet"]
    m.save(d, be)
    h = _head(d)
    assert h["deltas"][2]["ref"] is None
    assert h["deltas"][2]["removed"] == ["f0004.parquet"]

    # gen 5: head-only commit (kv change) -> chain unchanged
    m.kv["note"] = 1
    m.save(d, be)
    assert len(_head(d)["deltas"]) == 3

    # FRESH reader reconstructs exactly the committed manifest
    back = Manifest.load(d, _dl())
    names = [f.name for f in back.files]
    assert "f0001.parquet" not in names and "f0004.parquet" not in names
    assert "f0001_v2.parquet" in names and len(names) == 6
    # manifest order invariant: sorted by (min, max); typed stats and
    # per-column skip stats survive the chain
    mins = [f.min for f in back.files]
    assert mins == sorted(mins)
    by = {f.name: f for f in back.files}
    assert by["f0010.parquet"].cols == {"v": (10.0, 11.0)}
    assert isinstance(by["f0010.parquet"].min, pd.Timestamp)
    assert back.kv["note"] == 1 and back.generation == 5
    # vectorized prune paths work on the reconstructed list
    hit = back.files_in_range(
        pd.Timestamp("2024-01-11"), pd.Timestamp("2024-01-13")
    )
    assert {e.name for e in hit} == {"f0010.parquet", "f0011.parquet"}


def test_chain_folds_into_checkpoint_and_sweep_keeps_chain(tmp_path):
    d = str(tmp_path)
    be = _dl()
    be.checkpoint_interval = 3  # chain may hold at most 2 deltas
    be.transport.gc_grace_s = 0.0
    m = Manifest(ordered_on="ts")
    m.files = [_entry(0)]
    m.save(d, be)  # checkpoint
    for i in range(1, 3):
        m.files.append(_entry(i))
        m.save(d, be)  # deltas 1, 2
    h = _head(d)
    assert len(h["deltas"]) == 2
    # all chain objects survive the zero-grace sweep (still referenced)
    on_disk = {n for n in os.listdir(d) if ".files.g" in n}
    assert h["files_ref"] in on_disk
    assert all(dd["ref"] in on_disk for dd in h["deltas"] if dd["ref"])

    m.files.append(_entry(3))
    m.save(d, be)  # would be the 3rd delta -> chain folds: checkpoint
    h = _head(d)
    assert "deltas" not in h or h["deltas"] == []
    # the superseded chain survives ONE commit (a reader that loaded
    # the previous head can still resolve it), then sweeps
    assert h["files_ref"] in {n for n in os.listdir(d) if ".files.g" in n}
    m.files.append(_entry(4))
    m.save(d, be)  # first delta on the new checkpoint
    h = _head(d)
    expect = {h["files_ref"], h["deltas"][0]["ref"]}
    assert {n for n in os.listdir(d) if ".files.g" in n} == expect
    back = Manifest.load(d, _dl())
    assert len(back.files) == 5 and back.generation == 5


def test_cas_conflict_cleans_staged_objects_both_paths(tmp_path):
    """A losing writer leaves no orphan sidecar whichever attempt
    shape it took: the DELTA attempt (its backend cache matches its
    read token) and the FULL-CHECKPOINT attempt (foreign/absent
    cache) both remove their staged object on the CAS loss, and a
    reload-retry lands as a delta on the winner."""
    d = str(tmp_path)
    be = _dl()
    m = Manifest(ordered_on="ts")
    m.files = [_entry(0)]
    m.save(d, be)

    be_f = _dl()
    stale_delta = Manifest.load(d, be_f)      # be_f cache at gen 1
    stale_ckpt = Manifest.load(d, _dl())  # cache lost
    winner = Manifest.load(d, be)
    winner.files.append(_entry(1))
    winner.save(d, be)                         # gen 2

    n_objs = lambda: sum(1 for n in os.listdir(d) if ".files.g" in n)  # noqa: E731
    before = n_objs()
    # delta-attempt loser (be_f cache token == its read token)
    stale_delta.files.append(_entry(2))
    with pytest.raises(ManifestConflictError):
        stale_delta.save(d, be_f)
    assert n_objs() == before
    # checkpoint-attempt loser (fresh instance, no cache)
    stale_ckpt.files.append(_entry(3))
    with pytest.raises(ManifestConflictError):
        stale_ckpt.save(d, _dl())
    assert n_objs() == before
    # reload-retry lands as a delta on the winner's state
    retry = Manifest.load(d, be_f)
    retry.files.append(_entry(2))
    retry.save(d, be_f)
    assert len(_head(d)["deltas"]) >= 1
    final = Manifest.load(d, _dl())
    assert {f.name for f in final.files} == {
        "f0000.parquet", "f0001.parquet", "f0002.parquet"
    }


def test_reads_interop_with_full_parquet_backend(tmp_path):
    """A head in the layout the former full-sidecar backends wrote —
    ``files_ref`` to a typed checkpoint, no ``deltas`` — reads as a
    zero-delta chain on BOTH transports, and the next delta-log
    commit chains on top of that checkpoint instead of rewriting
    it. The inline JSON encoding refuses such a head loudly."""
    from oups_spark.store.manifest import JsonManifest

    for transport, d in (
        (PosixTransport(), str(tmp_path)),
        (InMemoryObjectStore(), "bucket/legacy"),
    ):
        # hand-built legacy head: checkpoint sidecar + pointer head
        ref = "_oups_manifest.files.g00000001.0123456789ab.parquet"
        transport.put(
            d, ref, _dl()._files_to_parquet_bytes([_entry(0), _entry(1)])
        )
        head = {
            "version": 1, "ordered_on": "ts", "generation": 1,
            "kv": {"note": "legacy"}, "schema_json": None,
            "files_ref": ref,
        }
        transport.cas_head(d, json.dumps(head).encode(), None)
        with pytest.raises(ValueError, match="DeltaLogManifest"):
            Manifest.load(d, JsonManifest(transport))

        dl = DeltaLogManifest(transport)
        back = Manifest.load(d, dl)
        assert [f.name for f in back.files] == [
            "f0000.parquet", "f0001.parquet"
        ]
        assert back.kv == {"note": "legacy"} and back.generation == 1
        back.files.append(_entry(2))
        back.save(d, dl)
        new_head = json.loads(transport.read_head(d)[0])
        assert new_head["files_ref"] == ref  # chained, not rewritten
        assert len(new_head["deltas"]) == 1
        again = Manifest.load(d, DeltaLogManifest(transport))
        assert [f.name for f in again.files] == [
            "f0000.parquet", "f0001.parquet", "f0002.parquet"
        ]
        assert again.generation == 2


def _dl_contender(dirpath: str, tag: str, n: int) -> None:
    be = _dl()
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


def test_deltalog_hammer_zero_lost_updates(tmp_path):
    """The adversarial two-process hammer: every appended entry lands
    exactly once through the delta chain, the generation is the
    commit count, and the reconstruction equals the serial union —
    the delta encoding changes commit I/O, not the CAS contract."""
    d = str(tmp_path)
    n = 15
    ctx = mp.get_context("fork")
    ps = [
        ctx.Process(target=_dl_contender, args=(d, tag, n))
        for tag in ("p1", "p2")
    ]
    for p in ps:
        p.start()
    for p in ps:
        p.join(timeout=120)
        assert p.exitcode == 0
    final = Manifest.load(d, _dl())
    names = [f.name for f in final.files]
    expect = {f"{tag}_{i}.parquet" for tag in ("p1", "p2") for i in range(n)}
    assert set(names) == expect and len(names) == 2 * n
    assert final.generation == 2 * n


def test_ordered_dataset_end_to_end_on_deltalog(spark, scratch):
    """Full store stack over the delta-log backend: ordered writes,
    keep-last merge, DML, merge_into and compact all commit through
    the chain; reads (range, filters) reconstruct correctly at every
    step."""
    import pyspark.sql.functions as SF

    from oups_spark.store.dataset import OrderedDataset

    be = _dl()
    path = os.path.join(scratch, "dl_ds")
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=200, freq="h"),
            "uid": [i % 7 for i in range(200)],
            "v": [float(i) for i in range(200)],
        }
    )
    ds = OrderedDataset(spark, path, backend=be, deletion_grace_s=0)
    ds.write(df=spark.createDataFrame(pdf[:120]), ordered_on="ts",
             row_group_target_size=30)
    ds.write(df=spark.createDataFrame(pdf[120:]),
             row_group_target_size=30)
    assert len(_head(path).get("deltas", [])) >= 1  # chained commit
    assert ds.delete_where([("uid", "==", 3)]) == len(pdf[pdf.uid == 3])
    target_ts = pdf["ts"][11]  # uid 4 — survives the uid==3 delete
    src = spark.createDataFrame(
        pd.DataFrame({"ts": [target_ts], "uid": [99], "v": [-1.0]})
    )
    res = ds.merge_into(
        src, on="ts", when_matched_update={"uid": SF.col("s.uid")},
        when_not_matched_insert=False,
    )
    assert res["updated"] == 1
    ds.compact(row_group_target_size=100)

    fresh = OrderedDataset(spark, path, backend=_dl())
    got = fresh.read(ordered=True).toPandas()
    exp = pdf[pdf.uid != 3].copy().reset_index(drop=True)
    exp.loc[exp["ts"] == target_ts, "uid"] = 99
    pd.testing.assert_frame_equal(got, exp)


def test_objectstore_deltalog_chain_cas_and_reachability_sweep(tmp_path):
    """The object-store twin: same chain protocol over conditional
    puts — delta commits, exact reconstruction, stale-writer CAS loss
    with orphan delete, and the reachability sweep keeping the
    previous head's chain for one commit."""
    d = str(tmp_path / "bucket/ds")
    be = DeltaLogManifest(InMemoryObjectStore())
    be.checkpoint_interval = 3
    m = Manifest(ordered_on="ts")
    m.files = [_entry(0)]
    m.save(d, be)
    m.files.extend([_entry(1), _entry(2)])
    m.save(d, be)  # delta 1
    m.files = [e for e in m.files if e.name != "f0000.parquet"]
    m.save(d, be)  # delta 2... interval 3 folds -> checkpoint
    heads = [k for k in be.transport._objects if k.endswith("_oups_manifest.json")]
    head = json.loads(be.transport._objects[heads[0]][0])
    sidecars = lambda: {  # noqa: E731
        k for k in be.transport._objects if ".files.g" in k
    }
    # gen 2's delta chain survives gen 3's fold for one commit
    assert len(sidecars()) >= 2

    be_reader = DeltaLogManifest(be.transport)  # same bucket, fresh reader
    back = Manifest.load(d, be_reader)
    assert {f.name for f in back.files} == {"f0001.parquet", "f0002.parquet"}
    assert back.generation == 3

    # stale writer: CAS loss deletes the staged delta object
    be2 = DeltaLogManifest(be.transport)  # same bucket
    stale = Manifest.load(d, be2)
    winner = Manifest.load(d, be)
    winner.files.append(_entry(5))
    winner.save(d, be)
    n_before = len(sidecars())
    stale.files.append(_entry(6))
    with pytest.raises(ManifestConflictError):
        stale.save(d, be2)
    assert len(sidecars()) == n_before
    # one more winner commit: reachability sweep drops everything but
    # the current chain + the previous head's
    winner.files.append(_entry(7))
    winner.save(d, be)
    h = json.loads(be.transport._objects[heads[0]][0])
    reachable = {h["files_ref"]} | {
        dd["ref"] for dd in h.get("deltas", []) if dd.get("ref")
    }
    on_store = {os.path.basename(k) for k in sidecars()}
    assert {os.path.basename(r) for r in reachable} <= on_store
    final = Manifest.load(d, be)
    assert {f.name for f in final.files} == {
        "f0001.parquet", "f0002.parquet", "f0005.parquet", "f0007.parquet"
    }


def test_streaming_sink_composes_with_objectstore_deltalog(spark, scratch):
    """Cross-feature: the native streaming sink's per-micro-batch
    commits route through the delta-log object-store backend — each
    batch is ONE delta commit (O(batch files)), the chain reconstructs
    the full bins dataset, and the result equals the POSIX twin's."""
    import pyspark.sql.functions as F

    from oups_spark.store.dataset import OrderedDataset
    from oups_spark.streaming.native import (
        streaming_segment_agg,
        write_stream_to_dataset,
    )

    src = os.path.join(scratch, "src")
    pdf = pd.DataFrame(
        {
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta([i * 25 for i in range(72)], "min"),
            "val": [float(i % 13) for i in range(72)],
        }
    )
    cut = pd.Timestamp("2024-01-01 12:00")
    schema = "ts timestamp, val double"
    for name, sl in (("b1", pdf[pdf.ts < cut]), ("b2", pdf[pdf.ts >= cut])):
        spark.createDataFrame(sl, schema).coalesce(1).write.parquet(
            os.path.join(src, name)
        )
    be = DeltaLogManifest(InMemoryObjectStore())
    path = os.path.join(scratch, "bins")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(src, "*"))
    )
    agged = streaming_segment_agg(
        stream, "ts", {"sum_val": ("val", "sum")}, bin_by="1h",
    )
    write_stream_to_dataset(
        agged, path, checkpoint_dir=os.path.join(scratch, "ckpt"),
        backend=be, conflict_retries=3,
    )
    got = (
        OrderedDataset(spark, path, backend=be)
        .read().toPandas().sort_values("bin", ignore_index=True)
    )
    wm = pdf["ts"].max()
    exp = (
        spark.createDataFrame(pdf, schema)
        .groupBy(F.date_trunc("hour", "ts").alias("bin"))
        .agg(F.sum("val").alias("sum_val"))
        .filter(F.col("bin") + F.expr("INTERVAL 1 HOUR") <= F.lit(wm))
        .orderBy("bin").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    # the second batch landed as a DELTA on the first's checkpoint
    heads = [k for k in be.transport._objects if k.endswith("_oups_manifest.json")]
    h = json.loads(be.transport._objects[heads[0]][0])
    assert h.get("deltas"), "micro-batch commits should chain"


def test_objectstore_sweep_never_touches_foreign_staged_objects(tmp_path):
    """Own-refs-only two-phase reclamation: the object-store sweep
    deletes refs THIS instance released, one commit later — a
    concurrent writer's staged-but-not-yet-CASed sidecar, and the
    chain a 1-commit-old head points at, both survive."""
    d = "bucket/ds"
    be = DeltaLogManifest(InMemoryObjectStore())
    be.checkpoint_interval = 3
    m = Manifest(ordered_on="ts")
    m.files = [_entry(0)]
    m.save(d, be)
    m.files.append(_entry(1))
    m.save(d, be)  # delta 1
    chain_before = {k for k in be.transport._objects if ".files.g" in k}

    # a concurrent writer stages its sidecar but has NOT CASed yet
    foreign = os.path.join(d, "_oups_manifest.files.g00000003.feedfeedfeed.delta.parquet")
    be.transport._objects[foreign] = (b"staged", 1)

    m.files.append(_entry(2))
    m.save(d, be)  # delta 2 (chain at interval-1)
    m.files.append(_entry(3))
    m.save(d, be)  # FOLDS -> releases the whole old chain
    after_fold = {k for k in be.transport._objects if ".files.g" in k}
    # foreign staged object untouched; the replaced chain still
    # resolvable (released, not yet dropped)
    assert foreign in after_fold
    assert chain_before <= after_fold

    m.files.append(_entry(4))
    m.save(d, be)  # next commit drops the released chain — only it
    final = {k for k in be.transport._objects if ".files.g" in k}
    assert foreign in final  # never listed, never deleted
    assert not (chain_before & final)  # own released refs reclaimed


def test_prune_key_range_on_ordering_column(tmp_path):
    """A merge keyed ON the ordering column (the CDC state-table
    layout) must prune from the top-level min/max sidecar stats —
    c_min:* never exists for ordered_on."""
    from oups_spark.store.manifest import ArrowFileList

    d = str(tmp_path)
    be = _dl()
    m = Manifest(ordered_on="uid")
    m.files = [
        FileEntry(
            name=f"f{i:03d}.parquet", n_rows=100,
            min=i * 100, max=i * 100 + 99,
        )
        for i in range(50)
    ]
    m.save(d, be)
    fl = Manifest.load(d, _dl()).files
    assert isinstance(fl, ArrowFileList)
    hit = fl.prune_key_range({"uid": (250, 320)}, ordered_on="uid")
    assert [e.name for e in hit] == ["f002.parquet", "f003.parquet"]
    assert fl._materialized is None  # stayed lazy


def test_chain_mixed_stats_encodings_keep_skip_stats(tmp_path):
    """A chain mixing typed c_min:* sidecars with a cols_json-demoted
    one must not null out the demoted entries' skip stats."""
    d = str(tmp_path)
    be = _dl()
    m = Manifest(ordered_on="ts")
    m.files = [_entry(0)]  # typed float stats
    m.save(d, be)
    # a delta whose per-column stats defy clean typing -> cols_json
    weird = FileEntry(
        name="weird.parquet", n_rows=5,
        min=pd.Timestamp("2024-06-01"), max=pd.Timestamp("2024-06-02"),
        cols={"v": (0.0, 1.0), "mix": (1, "zz")},  # mixed-type pair
    )
    m.files.append(weird)
    m.save(d, be)
    back = Manifest.load(d, _dl())
    by = {f.name: f for f in back.files}
    assert by["weird.parquet"].cols is not None
    assert by["weird.parquet"].cols["v"] == (0.0, 1.0)
    assert by["f0000.parquet"].cols == {"v": (0.0, 1.0)}
    mins = [f.min for f in back.files]
    assert mins == sorted(mins)


def test_store_catalog_over_deltalog_backend(spark, scratch):
    """The Store catalog composes with the delta-log backend: every
    keyed dataset commits through its own chain, discovery and
    deletion behave, and multi-commit datasets read back exactly."""
    from oups_spark.store.indexer import toplevel
    from oups_spark.store.store import Store

    @toplevel
    class Key:
        name: str

    st = Store(
        spark, os.path.join(scratch, "cat"), Key,
        backend=_dl(),
    )
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=40, freq="h"),
            "v": [float(i) for i in range(40)],
        }
    )
    for tag, sl in (("a", pdf[:20]), ("b", pdf[20:])):
        st[Key(tag)].write(
            df=spark.createDataFrame(sl), ordered_on="ts",
            row_group_target_size=8,
        )
    # a second commit per key -> the chain is exercised
    extra = pdf.copy()
    extra["ts"] = extra["ts"] + pd.Timedelta(days=30)
    st[Key("a")].write(df=spark.createDataFrame(extra[:5]))
    assert sorted(k.name for k in st.keys()) == ["a", "b"]
    assert st[Key("a")].read().count() == 25
    del st[Key("b")]
    assert sorted(k.name for k in st.keys()) == ["a"]
    got = st[Key("a")].read(ordered=True).toPandas()
    exp = pd.concat([pdf[:20], extra[:5]], ignore_index=True)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), exp)


def test_prune_key_range_half_populated_and_null_stats_keep(tmp_path):
    """ADVICE r13: half-populated stat pairs (c_min:<col> present,
    c_max:<col> absent — possible after delta-chain concat with
    schema promotion) must not KeyError, and a null cmax slot must
    KEEP the entry (kleene leaves the mask slot null and Table.filter
    DROPS null rows — a silently pruned file would miss its matched
    keys and re-insert them as duplicates)."""
    import pyarrow as pa

    from oups_spark.store.manifest import ArrowFileList

    t = pa.table(
        {
            "name": pa.array(["a.parquet", "b.parquet", "c.parquet"]),
            "n_rows": pa.array([10, 10, 10], type=pa.int64()),
            "min": pa.array([0, 100, 200], type=pa.int64()),
            "max": pa.array([99, 199, 299], type=pa.int64()),
            # half-populated pair: c_min:w with NO c_max:w
            "c_min:w": pa.array([1.0, 2.0, 3.0]),
            # full pair, but b's cmax is null (cmin known)
            "c_min:u": pa.array([0, 50, 900], type=pa.int64()),
            "c_max:u": pa.array([40, None, 950], type=pa.int64()),
        }
    )
    # (1) no KeyError on the half-populated pair; unusable -> keeps
    # all (that call materializes via the mask-None fallback, so each
    # probe gets a fresh lazy view)
    hit = ArrowFileList(t).prune_key_range(
        {"w": (0.0, 0.5)}
    )
    assert [e.name for e in hit] == ["a.parquet", "b.parquet", "c.parquet"]

    # (2) probe (60, 70): a's span [0,40] is provably disjoint (drop);
    # b has cmin=50 <= 70 but cmax unknown -> MUST be kept; c's
    # cmin=900 > 70 is provably disjoint even with a known cmax
    hit = ArrowFileList(t).prune_key_range(
        {"u": (60, 70)}
    )
    assert [e.name for e in hit] == ["b.parquet"]

    # (3) materialization of survivors with the half-populated pair
    # drops the unusable stat instead of KeyError-ing
    assert hit[0].cols is not None and "w" not in hit[0].cols
    assert hit[0].cols["u"] == (50, None)


def test_foreign_chain_survives_checkpoint_fold_one_commit(tmp_path):
    """ADVICE r13: when an instance full-checkpoints over a FOREIGN
    writer's head (its _prev_keep knows nothing of that chain), the
    replaced chain's refs — whose BASE checkpoint is typically far
    older than gc_grace_s — must survive this commit's sweep, so a
    reader that loaded the just-replaced head mid-chain-resolve still
    finds them; they are reclaimed one commit later (the same
    two-phase posture as the instance's own released refs)."""
    import time

    d = str(tmp_path)

    # "foreign" writer builds a chain: base checkpoint + one delta
    w1 = _dl()
    m = Manifest(ordered_on="ts")
    m.files = [_entry(i) for i in range(3)]
    m.save(d, w1)
    m.files.append(_entry(10))
    m.save(d, w1)
    h = _head(d)
    foreign_chain = {h["files_ref"]} | {
        x["ref"] for x in h["deltas"] if x.get("ref")
    }
    # age the chain past the gc grace window (the systematic case:
    # an old base checkpoint)
    for r in foreign_chain:
        p = os.path.join(d, r)
        os.utime(p, (time.time() - 7 * 86400, time.time() - 7 * 86400))

    # a FRESH instance (e.g. another process) loads the head, then
    # folds it with a full checkpoint (seen is from read only;
    # _prev_keep is empty -> the old code swept the foreign chain
    # immediately)
    w2 = _dl()
    w2.checkpoint_interval = 1  # force the fold on the next commit
    m2 = Manifest.load(d, w2)
    m2.files = list(m2.files) + [_entry(20)]
    m2.save(d, w2)

    for r in foreign_chain:
        assert os.path.exists(os.path.join(d, r)), (
            f"replaced foreign chain ref {r} swept in the same commit"
        )
    # a reader holding the REPLACED head can still resolve its chain
    files = w2._resolve_chain(
        d, h["files_ref"], h.get("deltas", [])
    )
    assert len(files) == 4

    # one commit later the replaced chain is reclaimed (two-phase)
    m2.files = list(m2.files) + [_entry(21)]
    m2.save(d, w2)
    assert not any(
        os.path.exists(os.path.join(d, r)) for r in foreign_chain
    )


def test_fresh_load_is_lazy_and_fails_loudly_when_stale(tmp_path):
    """Round-14 lazy fresh load: Manifest.load on a delta chain reads
    ONLY the head (no sidecar I/O — the reconstruction cost moved to
    first use), and a handle that outlives the chain's sidecars fails
    LOUDLY on first use, never silently empty — the same posture as
    an eagerly stale reader."""
    from oups_spark.store.manifest import ChainFileList

    d = str(tmp_path)
    be = _dl()
    m = Manifest(ordered_on="ts")
    m.files = [_entry(i) for i in range(4)]
    m.save(d, be)
    m.files.append(_entry(9))
    m.save(d, be)

    # remove every sidecar: a LAZY load must still succeed (head only)
    refs = [n for n in os.listdir(d) if ".files.g" in n]
    assert refs
    blob = {r: open(os.path.join(d, r), "rb").read() for r in refs}
    for r in refs:
        os.remove(os.path.join(d, r))
    back = Manifest.load(d, _dl())
    assert isinstance(back.files, ChainFileList)
    with pytest.raises(FileNotFoundError):
        len(back.files)  # first use resolves -> loud failure

    # restore: the same deferred handle states are NOT poisoned for a
    # fresh load, and reconstruction is exact
    for r, b in blob.items():
        open(os.path.join(d, r), "wb").write(b)
    back = Manifest.load(d, _dl())
    assert {f.name for f in back.files} == {
        f"f{i:04d}.parquet" for i in range(4)
    } | {"f0009.parquet"}
    # vectorized prune still works through the resolved chain
    hit = back.files_in_range(
        pd.Timestamp("2024-01-02"), pd.Timestamp("2024-01-04")
    )
    assert {e.name for e in hit} == {"f0001.parquet", "f0002.parquet"}


def test_lazy_seen_names_are_mutation_proof(tmp_path):
    """Round-14: the deferred name-set for the writer's next delta
    commit resolves from the COMMITTED sidecars, never from the
    caller-visible list — so mutating manifest.files between load and
    save cannot corrupt the delta computation (an added entry must
    appear in the delta, not vanish into a wrong prev-names set)."""
    d = str(tmp_path)
    be = _dl()
    m = Manifest(ordered_on="ts")
    m.files = [_entry(i) for i in range(3)]
    m.save(d, be)

    # fresh handle: lazy seen; the caller mutates files IN PLACE
    # (materializes the ChainFileList) before saving
    be2 = _dl()
    h = Manifest.load(d, be2)
    h.files.append(_entry(7))
    h.save(d, be2)  # delta commit: prev-names resolve AFTER mutation
    head = _head(d)
    assert len(head["deltas"]) == 1
    assert head["deltas"][0]["ref"] is not None  # the add was seen

    back = Manifest.load(d, _dl())
    assert {f.name for f in back.files} == {
        "f0000.parquet", "f0001.parquet", "f0002.parquet", "f0007.parquet"
    }

    # and after a CHECKPOINT commit (lazy next-names bound to the new
    # ref), a follow-up mutation + delta commit is still exact
    be3 = _dl()
    be3.checkpoint_interval = 1  # force fold
    h3 = Manifest.load(d, be3)
    h3.files.append(_entry(8))
    h3.save(d, be3)  # checkpoint (fold)
    be3.checkpoint_interval = 20
    h3.files.append(_entry(9))
    h3.save(d, be3)  # delta on the fold; prev-names from ckpt sidecar
    final = Manifest.load(d, _dl())
    assert len(final.files) == 6
    assert "f0009.parquet" in {f.name for f in final.files}


def test_commit_with_swept_chain_raises_conflict_not_filenotfound(tmp_path):
    """Round-14 lazy-names race: the writer resolves its
    predecessor's name-set from sidecars AT COMMIT time — if a
    foreign writer committed (making our token stale) and its sweeps
    reclaimed our chain in between, the stale commit must still
    raise ManifestConflictError (the retry contract), never leak the
    resolver's FileNotFoundError."""
    d = str(tmp_path)
    w1 = _dl()
    m = Manifest(ordered_on="ts")
    m.files = [_entry(0)]
    m.save(d, w1)
    m.files.append(_entry(1))
    m.save(d, w1)  # chain: ckpt + 1 delta

    # stale handle with a LAZY (unresolved) seen cache; its FILE LIST
    # is materialized now (before the sweep) — the commit-time
    # sidecar I/O under test is the _seen name-set resolution alone
    w_stale = _dl()
    stale = Manifest.load(d, w_stale)
    assert len(stale.files) == 2

    # foreign writer folds twice with zero grace: the first fold
    # keeps the replaced chain one commit (two-phase), the second
    # reclaims it — the stale handle's chain is gone from disk
    wf = _dl()
    wf.transport.gc_grace_s = 0.0
    wf.checkpoint_interval = 1
    for i in (2, 3):
        mf = Manifest.load(d, wf)
        mf.files.append(_entry(i))
        mf.save(d, wf)
    import os as _os

    import time as _time
    _time.sleep(0.01)
    live = {n for n in _os.listdir(d) if ".files.g" in n}

    stale.files.append(_entry(9))
    with pytest.raises(ManifestConflictError):
        stale.save(d, w_stale)
    # reload-retry lands on the winner's state
    retry = Manifest.load(d, w_stale)
    retry.files.append(_entry(9))
    retry.save(d, w_stale)
    final = Manifest.load(d, _dl())
    assert {f.name for f in final.files} == {
        f"f{i:04d}.parquet" for i in (0, 1, 2, 3, 9)
    }


def test_zero_delta_chain_keeps_json_order_without_resort(tmp_path, monkeypatch):
    """A zero-delta chain (a bare checkpoint) is already in manifest
    order — ``Manifest.save`` sorts before writing it — so resolving
    it runs no Arrow sort, and its entry order equals the inline JSON
    encoding's for entries inserted in non-monotone ``min`` order,
    (min, max) ties included."""
    import pyarrow.compute as pc

    from oups_spark.store.manifest import JsonManifest

    order = [7, 2, 9, 0, 4, 4, 1, 8, 3, 3]
    entries = [
        _entry(i, name=f"g{k:02d}_{i}.parquet") for k, i in enumerate(order)
    ]
    d_json, d_dl = str(tmp_path / "json"), str(tmp_path / "dl")
    for d, be in ((d_json, JsonManifest(PosixTransport())), (d_dl, _dl())):
        os.makedirs(d)
        m = Manifest(ordered_on="ts")
        m.files = list(entries)
        m.save(d, be)
    assert "deltas" not in _head(d_dl)

    def no_sort(*a, **k):
        raise AssertionError("zero-delta chain must not re-sort")

    monkeypatch.setattr(pc, "sort_indices", no_sort)
    got = [f.name for f in Manifest.load(d_dl, _dl()).files]
    exp = [f.name for f in Manifest.load(d_json, JsonManifest(PosixTransport())).files]
    assert got == exp
    assert exp[:2] == ["g03_0.parquet", "g06_1.parquet"]
    assert exp.index("g04_4.parquet") + 1 == exp.index("g05_4.parquet")


def test_empty_checkpoint_prunes_to_nothing(tmp_path):
    """A checkpoint of an emptied dataset has untyped (string) stats
    columns: a typed range prune over it returns no entries instead
    of raising ArrowTypeError on the bound's scalar cast."""
    d = str(tmp_path)
    m = Manifest(ordered_on="ts")
    m.files = [_entry(0)]
    m.save(d, _dl())
    m.files = []
    fold = _dl()
    fold.checkpoint_interval = 1  # the emptying commit is a checkpoint
    Manifest.load(d, fold)
    m.save(d, fold)
    assert "deltas" not in _head(d)
    back = Manifest.load(d, _dl())
    assert back.files_in_range(
        pd.Timestamp("2024-01-01"), pd.Timestamp("2024-02-01")
    ) == []
    assert len(back.files) == 0 and back.n_rows == 0
