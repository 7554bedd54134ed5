"""Inputs are a pure function of the seed: same seed, same bytes."""

import hashlib
import os

import pyarrow.parquet as pq

import datagen


def _digests(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_tables_are_byte_identical_per_seed(tmp_path):
    datagen.write_tables(str(tmp_path / "a"), 5, 0.001)
    datagen.write_tables(str(tmp_path / "b"), 5, 0.001)
    datagen.write_tables(str(tmp_path / "c"), 6, 0.001)
    a, b, c = (_digests(str(tmp_path / k)) for k in "abc")
    assert len(a) == 10 and a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_event_log_slices_are_byte_identical_per_seed(tmp_path):
    for k, seed in (("a", 3), ("b", 3), ("c", 4)):
        datagen.write_slices(datagen.event_log(seed, 5000, 500),
                             str(tmp_path / k), 3)
    a, b, c = (_digests(str(tmp_path / k)) for k in "abc")
    assert len(a) == 3 and a == b and a != c


def test_slices_replay_in_file_order(tmp_path):
    paths = datagen.write_slices(datagen.event_log(1, 3000, 100),
                                 str(tmp_path), 3)
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3


def test_event_log_shape():
    log = datagen.event_log(2, 20_000, 1000).to_pydict()
    n = len(log["event_id"])
    ids = log["event_id"][:-1]
    assert log["event_id"][-1] == -1 and log["user_id"][-1] == -1
    assert log["ts"][-1] > max(log["ts"][:-1])
    assert 0.01 < (len(ids) - len(set(ids))) / len(set(ids)) < 0.03
    late = sum(1 for a, b in zip(log["ts"], log["ts"][1:-1]) if b < a)
    assert 0.02 * n < late < 0.08 * n
    # Zipf: the heaviest user has far more than a uniform share
    top = log["user_id"].count(0)
    assert top > 20 * n / 1000


def test_wire_pool_is_deterministic_and_mixed():
    a = datagen.wire_pool(9, 2000)
    assert [r["value"] for r in a] == [r["value"] for r in datagen.wire_pool(9, 2000)]
    kinds = {k: sum(1 for r in a if r["kind"] == k)
             for k in ("json", "avro", "proto", "bad")}
    assert min(kinds["json"], kinds["avro"], kinds["proto"]) > 500
    assert 5 <= kinds["bad"] <= 50
    assert all(r["value"][0] != 0 for r in a if r["kind"] == "bad")
    assert all(r["value"][0] == 0 for r in a if r["kind"] != "bad")


def test_schedule_offsets_are_consecutive():
    plan = datagen.schedule([(1000, 1.0), (2500, 0.4)], 0.1, 4)
    assert len(plan) == 14
    assert sum(k for _, _, k in plan) == 2000
    for (_, first, k), (_, nxt, _) in zip(plan, plan[1:]):
        assert nxt == first + k
    assert abs(plan[-1][0] - 1.3) < 1e-9


def test_replay_log_reads_back(tmp_path):
    paths = datagen.write_slices(datagen.event_log(1, 1000, 50), str(tmp_path), 2)
    t = pq.read_table(paths[0])
    assert t.column_names == ["event_id", "ts", "user_id", "event_type",
                              "value", "props"]
