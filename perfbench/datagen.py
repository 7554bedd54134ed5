"""Seeded input generation for the benchmark.

Everything here is a pure function of its arguments (numpy `default_rng`
streams seeded from the workload seed), so the same seed writes
byte-identical parquet files. Nothing in this module imports Spark: the
engine only ever sees the files written here.

Three input families:

* `write_tables` — the ten TPC-H-ish / stream / document tables the
  registered batch queries read (`<dir>/<table>.parquet`), with the same
  schemas and value domains as the test data described in TESTDATA.md.
* `event_log` + `write_slices` — the replay log: an `events`-schema log with
  Zipf-skewed users, a share of late events and re-delivered duplicates,
  staged as time-ordered slice files for a `maxFilesPerTrigger=1` replay.
* `wire_pool` / `schedule` — the ingest record pool (Confluent
  wire-format JSON `ProductTransaction`, Avro `Avenger` and Proto
  `Avenger` payloads, plus malformed records) and the open-loop send
  schedule the generator process follows.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
MIN_US = 60_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01T00:00:00Z in µs

WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
         "a the line sort window small data column join customer query order "
         "filter group stream big vector").split()
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> None:
    # one row group, no statistics-dependent options: byte-identical output
    # for identical tables
    pq.write_table(table, path, compression="snappy")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


# ---------------------------------------------------------------------------
# batch tables
# ---------------------------------------------------------------------------

def table_sizes(scale: float) -> dict[str, int]:
    """Row counts per table at `scale` (1.0 = the sf1 layout of TESTDATA.md)."""
    return {"customer": int(150_000 * scale), "supplier": int(10_000 * scale),
            "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
            "events": int(1_000_000 * scale),
            "documents": int(50_000 * scale), "embeddings": int(20_000 * scale)}


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten tables under `out_dir`; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_sizes(scale)
    rows = {}

    def put(name, cols):
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())})

    r = _rng(seed, 1)
    nc = n["customer"]
    put("customer", {
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": r.integers(0, 25, nc).astype("int32"),
        "c_acctbal": _money(r, -999.99, 9999.99, nc),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], nc)})

    r = _rng(seed, 2)
    ns = n["supplier"]
    put("supplier", {
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": r.integers(0, 25, ns).astype("int32"),
        "s_acctbal": _money(r, -999.99, 9999.99, ns)})

    r = _rng(seed, 3)
    npart = n["part"]
    colors = ["red", "blue", "green", "small", "large", "shiny", "matte",
              "black"]
    nouns = ["ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "plate"]
    put("part", {
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(r.integers(0, 8, npart), r.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, npart)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], npart),
        "p_size": r.integers(1, 51, npart).astype("int32"),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0})

    r = _rng(seed, 4)
    no = n["orders"]
    put("orders", {
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": r.integers(0, nc, no).astype("int64"),
        "o_orderstatus": r.choice(["F", "O", "P"], no),
        "o_totalprice": _money(r, 1000, 500000, no),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], no)})

    r = _rng(seed, 5)
    per_order = r.integers(1, 8, no)
    nl = int(per_order.sum())
    okey = np.repeat(np.arange(no, dtype="int64"), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    put("lineitem", {
        "l_orderkey": okey,
        "l_partkey": r.integers(0, npart, nl).astype("int64"),
        "l_suppkey": r.integers(0, ns, nl).astype("int64"),
        "l_linenumber": (np.arange(nl) - starts + 1).astype("int32"),
        "l_quantity": r.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(r, 900, 100000, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], nl),
        "l_linestatus": r.choice(["F", "O"], nl),
        "l_shipdate": _ts(EPOCH_1995 + (1 + r.integers(0, 2498, nl)) * DAY_US)})

    r = _rng(seed, 6)
    ne = n["events"]
    ts = EPOCH_2024 + np.sort(r.integers(0, 30 * DAY_US, ne))
    put("events", {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(ts),
        "user_id": r.integers(0, max(ne // 66, 10), ne).astype("int64"),
        "event_type": r.choice(EVENT_TYPES, ne),
        "value": _money(r, 0, 500, ne),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne).tolist()]})

    r = _rng(seed, 7)
    nd = n["documents"]
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), k)])
             for k in r.integers(8, 80, nd)]
    for i in range(0, nd, 97):            # ~1% planted exact duplicates
        texts[i] = texts[(i * 7 + 3) % nd]
    put("documents", {
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": ["en"] * nd,
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    r = _rng(seed, 8)
    nv = n["embeddings"]
    label = r.integers(0, 10, nv)
    centres = r.normal(0, 1, (10, 64))
    vec = centres[label] * 0.6 + r.normal(0, 1, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    put("embeddings", {
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype("int32")})
    return rows


# ---------------------------------------------------------------------------
# replay log
# ---------------------------------------------------------------------------

LATE_SHARE = 0.05      # share of events that arrive out of order ...
LATE_MAX_MIN = 20      # ... by up to this many minutes of event time
DUP_SHARE = 0.02       # share of events re-delivered (a retry)
ZIPF_A = 0.9           # user skew
SPAN_DAYS = 2.0        # event-time span of the log


def event_log(seed: int, n_events: int, n_users: int) -> pa.Table:
    """The replay log in ARRIVAL order, over SPAN_DAYS of event time.

    * event time advances monotonically except for LATE_SHARE of events,
      whose `ts` lies up to LATE_MAX_MIN minutes before their arrival
      position's event time (out-of-order arrival);
    * users follow a bounded Zipf(ZIPF_A) law (rank 1 = user 0);
    * DUP_SHARE of events are re-delivered right after the original with
      the same event_id and ts (a retry), the case `dedup_ids_stream`
      removes;
    * the last row is a sentinel (event_id = user_id = -1, type
      'sentinel', ts = max + 3 h) whose only job is to move the watermark
      past every real window so that append-mode operators flush them.
    Columns: event_id, ts, user_id, event_type, value, props."""
    r = _rng(seed, 20)
    base = EPOCH_2024 + np.sort(
        r.integers(0, int(SPAN_DAYS * DAY_US), n_events))
    late = r.random(n_events) < LATE_SHARE
    shift = r.integers(1, LATE_MAX_MIN * MIN_US, n_events)
    ts = np.where(late, base - shift, base)
    ranks = np.arange(1, n_users + 1, dtype="float64")
    p = ranks ** -ZIPF_A
    users = r.choice(n_users, n_events, p=p / p.sum()).astype("int64")
    etype = r.integers(0, len(EVENT_TYPES), n_events)
    value = r.integers(0, 50001, n_events) / 100.0
    eid = np.arange(n_events, dtype="int64")
    dup = np.flatnonzero(r.random(n_events) < DUP_SHARE)
    order = np.sort(np.concatenate([np.arange(n_events), dup]), kind="stable")
    types = np.array(EVENT_TYPES + ("sentinel",))
    etype = np.append(etype[order], len(EVENT_TYPES))
    eid = np.append(eid[order], -1)
    return pa.table({
        "event_id": eid,
        "ts": _ts(np.append(ts[order], ts.max() + 180 * MIN_US)),
        "user_id": np.append(users[order], -1),
        "event_type": pa.array(types[etype]),
        "value": np.append(value[order], 0.0),
        "props": pa.array([f'{{"k": {k % 100}}}' for k in eid])})


def write_slices(log: pa.Table, out_dir: str, n_slices: int) -> list[str]:
    """Stage `log` (arrival order) as `n_slices` contiguous slice files;
    returns the paths. File sources replay files in modification-time
    order, so slice i gets mtime base + i seconds: files written within
    the same millisecond would otherwise replay in listing order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, log.num_rows, n_slices + 1).astype(int)
    base = int(os.path.getmtime(out_dir)) - n_slices
    paths = []
    for i in range(n_slices):
        p = os.path.join(out_dir, f"slice-{i:04d}.parquet")
        _write(log.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        os.utime(p, (base + i, base + i))
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# ingest records
# ---------------------------------------------------------------------------

#: schema ids the generator stamps into the Confluent header
SID_JSON, SID_AVRO, SID_PROTO = 1, 2, 3
HEROES = [("Iron Man", "Tony Stark"), ("Thor", "Thor Odinson"),
          ("Black Widow", "Natasha Romanoff"), ("Hulk", "Bruce Banner"),
          ("Hawkeye", "Clint Barton"), ("Captain America", "Steve Rogers"),
          ("Spider-Man", "Peter Parker"), ("Vision", "Vision")]
MOVIES = ["Avengers", "Age of Ultron", "Infinity War", "Endgame",
          "Civil War", "Homecoming"]
CUSTOMERS = ["alice", "bob", "carol", "dave", "erin", "frank", "CUSTOM"]
PRODUCTS = ["apples", "bananas", "cherries", "dates", "eggs", "flour"]


def _header(sid: int) -> bytes:
    return b"\x00" + struct.pack(">i", sid)


def wire_pool(seed: int, size: int) -> list[dict]:
    """`size` pre-encoded records; each dict holds the wire `value` bytes
    and the fields a correct consumer must decode from it (kind 'bad' =
    malformed magic byte, must be skipped). The encoders are the
    package's own reference codecs (functions.binary_codecs)."""
    from kafka_streams_in_action_spark.functions.binary_codecs import (
        avro_encode_avenger_py, proto_encode_avenger_py)

    r = _rng(seed, 30)
    out = []
    kinds = r.choice(4, size, p=[0.33, 0.33, 0.33, 0.01])
    for i in range(size):
        k = int(kinds[i])
        if k == 0:
            rec = {"customer_name": CUSTOMERS[int(r.integers(len(CUSTOMERS)))],
                   "product_name": PRODUCTS[int(r.integers(len(PRODUCTS)))],
                   "quantity": int(r.integers(1, 20)),
                   "price": int(r.integers(50, 5000)) / 100.0}
            body = json.dumps(rec).encode()
            out.append({"kind": "json", "value": _header(SID_JSON) + body,
                        **rec})
            continue
        name, real = HEROES[int(r.integers(len(HEROES)))]
        movies = [MOVIES[int(j)] for j in
                  r.choice(len(MOVIES), int(r.integers(0, 4)), replace=False)]
        if k == 1:
            value = _header(SID_AVRO) + avro_encode_avenger_py(
                name, real, movies)
            kind = "avro"
        elif k == 2:
            value = _header(SID_PROTO) + b"\x00" + proto_encode_avenger_py(
                name, real, movies)
            kind = "proto"
        else:
            value = b"\x01" + _header(SID_AVRO)[1:] + avro_encode_avenger_py(
                name, real, movies)
            kind = "bad"
        out.append({"kind": kind, "value": value, "name": name,
                    "real_name": real, "movies": movies})
    return out


def schedule(steps: list[tuple[float, float]], tick_s: float,
             n_partitions: int) -> list[tuple[float, int, int]]:
    """Open-loop send plan: `steps` is [(rate_rps, seconds), ...]. Returns
    one (due_offset_s, first_offset, n_records) per tick; records are
    numbered consecutively (the global offset), and record o lives on
    partition o % n_partitions."""
    plan, t, sent, owed = [], 0.0, 0, 0.0
    for rate, secs in steps:
        for _ in range(int(round(secs / tick_s))):
            owed += rate * tick_s
            k = int(owed)
            owed -= k
            plan.append((t, sent, k))
            sent += k
            t += tick_s
    return plan
