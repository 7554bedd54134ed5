"""Open-loop load generator for `ingest_open_loop` (a separate,
single-threaded process).

    python3 perfbench/generator.py TOPIC_DIR SEED START STEPS TICK PARTS POOL REPORT

Writes one parquet record file per tick into TOPIC_DIR on a fixed
schedule that does not slow down when the consumer does. STEPS is
"rate:seconds,rate:seconds,..."; START is the wall-clock epoch second of
the first tick. Records are drawn from a pre-encoded pool so encoding never
holds the schedule back. Each record carries its partition, its offset (the
global record number) and the time it was due; each file is written under
a hidden name and renamed into place, so the consumer never sees a partial
file. At the end the per-tick lateness (write completion minus due time)
is written to REPORT as JSON."""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402

RECORD_SCHEMA = pa.schema([("partition", pa.int32()), ("offset", pa.int64()),
                           ("value", pa.binary()), ("due_us", pa.int64())])


def parse_steps(text: str) -> list[tuple[float, float]]:
    return [(float(r), float(s)) for r, s in
            (part.split(":") for part in text.split(","))]


def write_tick(topic: str, i: int, first: int, k: int, pool: list[bytes],
               due: float, parts: int) -> None:
    """Write records first .. first+k-1 as the topic's i-th record file."""
    offs = range(first, first + k)
    table = pa.table({
        "partition": pa.array([o % parts for o in offs], pa.int32()),
        "offset": pa.array(offs, pa.int64()),
        "value": pa.array([pool[o % len(pool)] for o in offs], pa.binary()),
        "due_us": pa.array([int(due * 1e6)] * k, pa.int64()),
    }, schema=RECORD_SCHEMA)
    tmp = os.path.join(topic, f".rec-{i:06d}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(topic, f"rec-{i:06d}.parquet"))


def main(argv: list[str]) -> int:
    topic, seed, start, steps, tick, parts, pool_n, report = argv
    seed, start, tick = int(seed), float(start), float(tick)
    parts, pool_n = int(parts), int(pool_n)
    pool = [r["value"] for r in datagen.wire_pool(seed, pool_n)]
    plan = datagen.schedule(parse_steps(steps), tick, parts)
    late_ms = []
    for i, (due_off, first, k) in enumerate(plan):
        due = start + due_off
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        write_tick(topic, i, first, k, pool, due, parts)
        late_ms.append((time.time() - due) * 1000.0)
    with open(report, "w") as f:
        json.dump({"late_ms": late_ms, "records": sum(p[2] for p in plan)}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
