"""Tests of the harness itself (no Spark): input determinism, the tail
rule and the pandas references.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from perfbench import generate, layers, metrics, reference, run

T = generate.Traffic()


def _ipc(tables: list[pa.Table]) -> bytes:
    out = io.BytesIO()
    for t in tables:
        with pa.ipc.new_stream(out, t.schema) as w:
            w.write_table(t)
    return out.getvalue()


def _store(seed):
    history, ops = generate.store_ops(seed, T, 1, 1)
    return history + [t for _k, t, _w in ops if t is not None]


GENERATORS = {
    "store": _store,
    "chunks": lambda s: generate.event_chunks(s, T, 3),
    "files": lambda s: generate.event_files(s, T, 3),
    "changelog": lambda s: generate.changelog_files(s, T, 3),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_gives_byte_identical_inputs(name):
    gen = GENERATORS[name]
    assert _ipc(gen(7)) == _ipc(gen(7))
    assert _ipc(gen(7)) != _ipc(gen(8))


def test_store_ops_straddle_the_driver_cap():
    _h, ops = generate.store_ops(1, T, 1, 2)
    kinds = [k for k, _t, _w in ops]
    c = T.cycle_writes + 2
    assert kinds[:c] == kinds[c:]  # one fixed cycle
    sizes = {
        k: [t.num_rows for kk, t, _w in ops if kk == k and t is not None]
        for k in set(kinds)
    }
    assert all(n > T.driver_cap_rows for n in sizes["big"])
    assert all(n <= T.batch_rows[1] for n in sizes["write"] + sizes["late"])
    cycle = kinds[:c]
    assert cycle[-2:] == ["merge_into", "compact"]
    assert cycle.count("big") * T.big_every == T.cycle_writes
    assert cycle.count("late") == T.cycle_writes * T.late_share


def test_late_rows_replace_recent_keys():
    history, ops = generate.store_ops(3, T, 1, 1)
    at = next(i for i, (k, _t, _w) in enumerate(ops) if k == "late")
    seen = reference.store_final(history + [t for _k, t, _w in ops[:at]])
    late = ops[at][1]
    keys = set(zip(seen["ts"], seen["id"]))
    df = reference.to_pandas(late)
    dup = sum((a, b) in keys for a, b in zip(df["ts"], df["id"]))
    n_late = int(late.num_rows * T.late_rows)
    assert dup == int(n_late * T.dup_share)


def test_changelog_shape():
    files = generate.changelog_files(5, T, 4)
    ops = pa.concat_tables(files).to_pandas()
    assert len(ops) == 4 * T.ops_per_file
    # redelivered ops repeat an earlier (id, seq) exactly
    redelivered = ops.duplicated(["id", "seq"]).sum()
    assert redelivered == 3 * int(T.ops_per_file * T.redelivery_share)
    assert abs(ops["deleted"].mean() - T.delete_share) < 0.03
    # Zipf skew: the hottest key takes far more than a uniform share
    assert ops["id"].value_counts().iloc[0] > 50 * len(ops) / T.key_space


def test_event_files_are_ordered_across_files_only():
    files = generate.event_files(2, T, 3)
    ts = [t.column("ts").cast(pa.int64()).to_numpy() for t in files]
    assert all(a.max() < b.min() for a, b in zip(ts, ts[1:]))
    assert any((np.diff(t) < 0).any() for t in ts)


@pytest.mark.parametrize(
    "n, value, pct",
    [(11, 1, 100 / 11), (20, 10, 50.0), (100, 90, 90.0), (1000, 990, 99.0)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, value, pct):
    samples = list(range(n, 0, -1))  # order must not matter
    got, got_pct, got_n = metrics.tail([float(s) for s in samples])
    assert (got, got_n) == (value, n)
    assert got_pct == pytest.approx(pct)
    assert sum(s > got for s in samples) == 10


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        metrics.tail([1.0] * 10)


def test_snapshot_reference_by_hand():
    ev = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:30", "2024-01-01 01:00", "2024-01-01 02:10"]
            ).astype("datetime64[us]"),
            "price": [1.0, 3.0, 2.0],
            "qty": [1.0, 2.0, 4.0],
        }
    )
    snaps = reference.snapshots(ev, "1D", "1h")
    assert len(snaps) == 24
    head = snaps.iloc[:4]  # the 01:00 .. 04:00 instants
    # closed left: the 01:00 row is seen from the 02:00 instant on
    assert head["vol"].tolist() == [1.0, 3.0, 7.0, 7.0]
    assert head["first"].tolist() == [1.0] * 4
    assert head["last"].tolist() == [1.0, 3.0, 2.0, 2.0]
    assert head["lo"].tolist() == [1.0] * 4
    assert head["hi"].tolist() == [1.0, 3.0, 3.0, 3.0]
    assert snaps["vol"].iloc[-1] == 7.0


def test_cdc_reference_keeps_latest_op_and_drops_deletes():
    ch = pd.DataFrame(
        {
            "id": [1, 1, 2, 3, 3, 1],
            "seq": [0, 2, 1, 3, 4, 0],  # the last op re-sends seq 0
            "val": [1.0, 2.0, 3.0, 4.0, 5.0, 1.0],
            "deleted": [False, False, False, False, True, False],
        }
    )
    cur = reference.cdc_current(ch).sort_values("id", ignore_index=True)
    assert cur.to_dict("list") == {"id": [1, 2], "seq": [2, 1], "val": [2.0, 3.0]}


def test_diff_reports_mismatches():
    a = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})
    assert reference.diff(a[::-1], a, ["k"]) is None
    assert "rows" in reference.diff(a.iloc[:1], a, ["k"])
    assert reference.diff(a.assign(v=[1.0, 2.5]), a, ["k"]) is not None


def test_layers_self_time_and_store_time_under_an_op():
    spans = [
        {"name": "op.ingest", "parent": None, "op": 0, "start": 0.0, "end": 1.0,
         "jobs": 2, "py_cpu_s": 0.1, "jvm_cpu_s": 0.5},
        {"name": "aggstream.agg", "parent": 0, "op": 0, "start": 0.1, "end": 0.9,
         "jobs": 2, "tasks": 8},
        {"name": "store.write", "parent": 1, "op": 0, "start": 0.5, "end": 0.8,
         "jobs": 0, "tasks": 0, "files_added": 1, "bytes_added": 50,
         "user_bytes": 100},
    ]
    out = layers.derive(spans, [], {})
    assert out["op.ingest.self_s"] == pytest.approx(0.2)
    assert out["aggstream.agg.self_s"] == pytest.approx(0.5)
    assert out["aggstream.flush_write_s"] == pytest.approx(0.3)
    assert out["store.write.bytes_per_user_byte"] == 0.5
    assert out["store.write.zero_job_share"] == 1.0
    assert layers.moves("streaming.batches").startswith("ingest_p50_s")


def test_benchmark_json_names_what_the_harness_reports():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert [m["name"] for m in bench["per_layer"]] == list(layers.PER_LAYER)
    assert all(m["unit"] == layers.unit(m["name"]) for m in bench["per_layer"])
