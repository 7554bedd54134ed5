"""`stream_replay`: a bounded closed loop over the stateful streaming
operators.

A seeded `events`-schema log (Zipf users, late and re-delivered events,
one trailing watermark sentinel) is staged as time-ordered slice files and
replayed with `availableNow` + `maxFilesPerTrigger=1` through each
operator as its own query, one after another, into a memory sink. The
measured pass is one replay of every operator; its sinks are compared
with batch computations over the same log (DuckDB, and a Python replay of the Holt
recurrence with the same batch split)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import stats

# Two 50k-event batches per operator. Below ~30k events a batch costs the
# per-batch floor (0.6-1.5 s) whatever its size; at 100k the session, dedup
# and join batches take about twice their floor
# (stream_replay.floor_pass_s in the traced run gives the split)
N_EVENTS = 100_000
N_USERS = 20_000
N_SLICES = 2
WARM_EVENTS = 2_000
LOCAL1_EVENTS = 5_000
WARM_OPS = ("streaming.stateful.tumbling_counts_stream",
            "streaming.stateful.holt_stream")
HOLT_USERS = 20              # holt_stream replays the 20 heaviest users
STATE_PARTITIONS = 4
TAIL_Q = 90.0                 # 10 data batches a pass: the slowest two
DSUM = "(sum(floor({x} * 1000000.0 + 0.5)::BIGINT)::DOUBLE / 1000000)"


def _ops():
    from pyspark.sql import functions as F

    from kafka_streams_in_action_spark.streaming import joins, stateful
    return [
        ("streaming.stateful.tumbling_counts_stream",
         lambda s: stateful.tumbling_counts_stream(s, watermark="30 minutes")),
        ("streaming.stateful.session_counts_stream",
         lambda s: stateful.session_counts_stream(s, watermark="30 minutes")),
        ("streaming.stateful.dedup_ids_stream", stateful.dedup_ids_stream),
        ("streaming.joins.windowed_click_view_join",
         joins.windowed_click_view_join),
        ("streaming.stateful.holt_stream",
         lambda s: stateful.holt_stream(
             s.filter(F.col("user_id").between(0, HOLT_USERS - 1)))),
    ]


#: state-store posture: one state partition per core, RocksDB changelog
#: checkpointing, memory bounded across all store instances, no per-commit
#: full-store row count
STREAM_CONF = {
    "spark.sql.shuffle.partitions": str(STATE_PARTITIONS),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
    "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB": "256",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": "false",
}


def batch_rows(progress: list[dict]) -> list[dict]:
    """Progress entries of the micro-batches that carried data."""
    return [p for p in progress if p.get("numInputRows", 0) > 0]


class StreamReplay:
    def __init__(self, ctx):
        self.ctx = ctx
        self.src = ctx.work.sub("log")
        self.warm_src = ctx.work.sub("warm_log")
        self.attempted = 0
        self.failed = 0
        self.sinks = {}
        for k, v in STREAM_CONF.items():
            ctx.spark.conf.set(k, v)

    def make_inputs(self) -> None:
        for path, n, k in ((self.src, N_EVENTS, N_SLICES),
                           (self.warm_src, WARM_EVENTS, 1)):
            shutil.rmtree(path, ignore_errors=True)
            datagen.write_slices(
                datagen.event_log(self.ctx.seed, n, N_USERS), path, k)

    def _schema(self):
        from kafka_streams_in_action_spark.schemas import TABLES
        return TABLES["events"]

    def _start(self, name: str, fn, src: str):
        spark = self.ctx.spark
        sink = f"{name.rsplit('.', 1)[1]}_{uuid.uuid4().hex[:8]}"
        stream = (spark.readStream.schema(self._schema())
                  .option("maxFilesPerTrigger", 1).parquet(src))
        return (fn(stream).writeStream.format("memory").queryName(sink)
                .outputMode("append")
                .option("checkpointLocation", self.ctx.work.sub("ckpt", sink))
                .trigger(availableNow=True).start())

    def _finish(self, name: str, q) -> tuple[str, list[dict]]:
        if not q.awaitTermination(170):
            q.stop()
            raise TimeoutError(f"{name} replay did not finish")
        if q.exception() is not None:
            raise RuntimeError(f"{name}: {q.exception()}")
        progress = [json.loads(p.json) for p in q.recentProgress]
        shutil.rmtree(self.ctx.work.sub("ckpt", q.name), ignore_errors=True)
        return q.name, progress

    def _replay(self, name: str, fn, src: str) -> tuple[str, list[dict]]:
        """One operator's replay of `src` as its own query."""
        return self._finish(name, self._start(name, fn, src))

    def warm_up(self) -> None:
        """Two operators at once over a small log of the same shape: the
        first query of a session pays the engine's one-time costs (class
        loading, code generation, RocksDB start) and `holt_stream` those of
        the Python workers. The other operators' own first-batch costs are
        a few hundred ms, left in the measured pass."""
        started = [(n, self._start(n, fn, self.warm_src))
                   for n, fn in _ops() if n in WARM_OPS]
        for name, q in started:
            self._drop(self._finish(name, q)[0])

    def _drop(self, sink: str) -> None:
        self.ctx.spark.catalog.dropTempView(sink)

    def measure(self, seconds: float) -> dict:
        """One timed pass: every operator replays the whole log once. The
        log size (N_EVENTS), not `seconds`, sets how long the pass takes."""
        ctx, tr = self.ctx, self.ctx.tracer
        for sink in self.sinks.values():      # a pass taken again replaces
            self._drop(sink)                  # the last one's sinks
        ops = _ops()
        trig, per_op = [], {}
        engine = {k: [] for k in ("planning_ms", "wal_commit_ms",
                                  "offset_commit_ms", "add_batch_ms",
                                  "offset_ms")}
        rows_per_pass = 0
        t_pass = time.perf_counter()
        with tr.span("stream_replay.pass"):
            for name, fn in ops:
                mark = None
                if tr.enabled:
                    with tr.bookkeeping():
                        mark = ctx.counters.mark()
                t0 = time.perf_counter()
                with tr.span(name) as sp:
                    sink, prog = self._replay(name, fn, self.src)
                wall = time.perf_counter() - t0
                self.sinks[name] = sink
                self.attempted += 1
                data = batch_rows(prog)
                rows = sum(p["numInputRows"] for p in data)
                rows_per_pass += rows
                rec = {"wall_s": wall, "rows": rows, "batches": data}
                if tr.enabled:
                    with tr.bookkeeping():
                        rec["counters"] = ctx.counters.since(mark)
                    sp.update(rec["counters"])
                per_op[name] = rec
                for p in data:
                    d = p["durationMs"]
                    trig.append(float(d["triggerExecution"]))
                    engine["planning_ms"].append(d.get("queryPlanning", 0))
                    engine["wal_commit_ms"].append(d.get("walCommit", 0))
                    engine["offset_commit_ms"].append(
                        d.get("commitOffsets", 0))
                    engine["add_batch_ms"].append(d.get("addBatch", 0))
                    engine["offset_ms"].append(
                        d.get("latestOffset", 0) + d.get("getBatch", 0))
        pass_s = time.perf_counter() - t_pass
        e2e = {
            "throughput_per_s": rows_per_pass / pass_s,
            "latency_p50_ms": stats.median(trig),
            "latency_tail_ms": stats.percentile(trig, TAIL_Q),
        }
        layers = {f"streaming.{k}" if k != "offset_ms" else "sources.offset_ms":
                  stats.median(v) for k, v in engine.items()}
        layers["stream_replay.pass_s"] = pass_s
        for name, rec in per_op.items():
            layers.update(self._op_layers(name, rec))
        info = {"pass_s": round(pass_s, 2), "data_batches": len(trig),
                "op_wall_s": [round(r["wall_s"], 2) for r in per_op.values()],
                "op_trig_s": [round(sum(p["durationMs"]["triggerExecution"]
                                        for p in r["batches"]) / 1000, 2)
                              for r in per_op.values()],
                "tail_percentile": TAIL_Q, "events_per_pass": rows_per_pass}
        return {"e2e": e2e, "layers": layers, "info": info}

    @staticmethod
    def _op_layers(name: str, rec: dict) -> dict:
        commit, changelog, load, updated, memory = [], [], [], [], []
        for p in rec["batches"]:
            ops = p.get("stateOperators") or []
            commit.append(sum(o.get("commitTimeMs", 0) for o in ops))
            cm = [o.get("customMetrics") or {} for o in ops]
            changelog.append(sum(
                c.get("rocksdbChangeLogWriterCommitLatencyMs", 0) for c in cm))
            load.append(sum(c.get("rocksdbLoadLatencyMs", 0) for c in cm))
            updated.append(sum(o.get("numRowsUpdated", 0) for o in ops))
            memory.append(sum(o.get("memoryUsedBytes", 0) for o in ops))
        out = {
            f"{name}.events_per_s": rec["rows"] / rec["wall_s"],
            f"{name}.state_commit_ms": stats.median(commit),
            f"{name}.rocksdb_changelog_ms": stats.median(changelog),
            f"{name}.rocksdb_load_ms": stats.median(load),
            f"{name}.state_rows_updated": sum(updated),
            f"{name}.state_memory_bytes": max(memory),
        }
        if name.endswith("holt_stream") and "counters" in rec:
            out[f"{name}.python_ms"] = rec["counters"]["python_run_ms"]
        return out

    # -- correctness ---------------------------------------------------------

    def _sink(self, name: str, cols: str, where: str) -> pa.Table:
        return self.ctx.spark.sql(
            f"SELECT {cols} FROM {self.sinks[name]} WHERE {where}").toArrow()

    def check(self) -> list[str]:
        """Each operator's sink against a batch computation over the same
        log, as exact multisets (the sums are integer-exact by construction
        and the Holt series repeats the stream's IEEE operations). Rows of
        the watermark sentinel (user -1) are left out on both sides."""
        import duckdb
        con = duckdb.connect()
        bad = []
        try:
            con.execute(f"CREATE VIEW log AS SELECT * FROM "
                        f"'{self.src}/*.parquet' WHERE user_id >= 0")
            expect = {
                "streaming.stateful.tumbling_counts_stream": (
                    "hour_start, event_type, n, sum_value",
                    "event_type <> 'sentinel'",
                    f"""SELECT date_trunc('hour', ts), event_type, count(*),
                           {DSUM.format(x='value')} FROM log GROUP BY 1, 2"""),
                "streaming.stateful.session_counts_stream": (
                    "user_id, session_start, n, sum_value", "user_id >= 0",
                    self._session_sql()),
                "streaming.stateful.dedup_ids_stream": (
                    "event_id, user_id, event_type, value", "user_id >= 0",
                    "SELECT DISTINCT event_id, user_id, event_type, value "
                    "FROM log"),
                "streaming.joins.windowed_click_view_join": (
                    "user_id, window_start, click_id, view_id", "TRUE",
                    """SELECT c.user_id, date_trunc('hour', c.ts), c.event_id,
                              v.event_id
                       FROM log c JOIN log v ON c.user_id = v.user_id
                        AND date_trunc('hour', c.ts) = date_trunc('hour', v.ts)
                       WHERE c.event_type = 'click'
                         AND v.event_type = 'view'"""),
            }
            for name, (cols, where, sql) in expect.items():
                diff = _multiset_diff(self._sink(name, cols, where),
                                      con.execute(sql).arrow())
                if diff:
                    bad.append(f"{name}: {diff}")
            holt_cols = ["user_id", "event_id", "level", "trend", "forecast"]
            diff = _multiset_diff(
                self._sink("streaming.stateful.holt_stream",
                           ", ".join(holt_cols), "user_id >= 0"),
                pa.table(list(zip(*self.holt_oracle())), names=holt_cols))
            if diff:
                bad.append(f"streaming.stateful.holt_stream: {diff}")
        finally:
            con.close()
        self.attempted += 5
        self.failed += len(bad)
        return bad

    @staticmethod
    def _session_sql() -> str:
        """Gap sessions (30 min) per user. Re-delivered copies tie on every
        ordering key, so they are folded into one row first: window
        functions over tied rows may order them differently per call."""
        return """
        WITH d AS (
            SELECT user_id, ts, event_id, count(*) AS c,
                   sum(floor(value * 1000000.0 + 0.5)::BIGINT) AS micros
            FROM log GROUP BY 1, 2, 3),
        flagged AS (
            SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                           THEN 1 ELSE 0 END AS new_s
            FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessioned AS (
            SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts,
                                       event_id ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged)
        SELECT user_id, min(ts), sum(c)::BIGINT,
               sum(micros)::DOUBLE / 1000000
        FROM sessioned GROUP BY user_id, sid"""

    def holt_oracle(self) -> list[tuple]:
        """Holt (alpha = beta = 0.5) per user, continuing across the slice
        files in order, each slice's rows sorted by (ts, event_id) — the
        recurrence the stream's per-batch state machine runs."""
        state: dict[int, tuple[float, float]] = {}
        out = []
        for f in sorted(os.listdir(self.src)):
            t = pq.read_table(os.path.join(self.src, f),
                              columns=["event_id", "ts", "user_id", "value"])
            d = t.to_pandas()
            d = d[(d.user_id >= 0) & (d.user_id < HOLT_USERS)]
            d = d.sort_values(["user_id", "ts", "event_id"], kind="stable")
            for uid, g in d.groupby("user_id", sort=False):
                lev_trd = state.get(uid)
                for eid, x in zip(g.event_id.to_numpy(), g.value.to_numpy()):
                    if lev_trd is None:
                        lev_trd = (float(x), 0.0)
                    else:
                        lev, trd = lev_trd
                        l_new = 0.5 * x + 0.5 * (lev + trd)
                        lev_trd = (l_new, 0.5 * (l_new - lev) + 0.5 * trd)
                    lev, trd = float(lev_trd[0]), float(lev_trd[1])
                    out.append((int(uid), int(eid), lev, trd, lev + trd))
                state[uid] = lev_trd
        return out

    # -- traced extras -------------------------------------------------------

    def trace_extras(self) -> dict:
        tr = self.ctx.tracer
        with tr.span("stream_replay.floor"):
            out = self._floor()
        with tr.span("stream_replay.local1"):
            out.update(self._local1())
        return out

    def _floor(self) -> dict:
        """The fixed part of a pass: every operator over the small warm-up
        log, against `stream_replay.pass_s` and the data batches'
        `triggerExecution`."""
        trig = []
        t = time.perf_counter()
        for name, fn in _ops():
            sink, prog = self._replay(name, fn, self.warm_src)
            self._drop(sink)
            trig += [float(p["durationMs"]["triggerExecution"])
                     for p in batch_rows(prog)]
        return {"stream_replay.floor_pass_s": time.perf_counter() - t,
                "stream_replay.floor_batch_p50_ms": stats.median(trig)}

    def _local1(self) -> dict:
        """Single-thread baseline: every operator replays the log's first
        LOCAL1_EVENTS events in a fresh local[1] session (a child process,
        since a session's master is fixed), cold; compare its events x
        operators per second with `throughput_per_s`. The small input keeps
        the traced run inside the 180-s run limit."""
        one = self.ctx.work.sub("local1_log", "slice-0000.parquet")
        first = pq.read_table(os.path.join(self.src, "slice-0000.parquet"))
        pq.write_table(first.slice(0, LOCAL1_EVENTS), one)
        cmd = [sys.executable, os.path.abspath(__file__), "--baseline",
               os.path.dirname(one), str(self.ctx.seed)]
        out = subprocess.run(cmd, capture_output=True, text=True,
                             timeout=150, cwd=os.getcwd())
        if out.returncode != 0:
            raise RuntimeError(f"local[1] baseline failed:\n{out.stderr[-2000:]}")
        return {"stream_replay.local1_events_per_s":
                float(out.stdout.strip().splitlines()[-1])}


def _normalised(t: pa.Table) -> pa.Table:
    """Positional column names, timestamps as UTC epoch microseconds,
    integers as int64, floats as float64; rows sorted."""
    cols = []
    for c in t.columns:
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.timestamp("us", tz=c.type.tz)).cast(pa.int64())
        elif pa.types.is_integer(c.type):
            c = c.cast(pa.int64())
        elif pa.types.is_floating(c.type):
            c = c.cast(pa.float64())
        cols.append(c)
    names = [f"c{i}" for i in range(len(cols))]
    return pa.table(cols, names=names).sort_by([(n, "ascending")
                                                for n in names])


def _multiset_diff(got: pa.Table, want: pa.Table) -> str:
    """'' when both tables hold the same rows (as multisets), else a short
    description with the first differing row."""
    g, w = _normalised(got), _normalised(want)
    if g.num_rows == w.num_rows and g.equals(w):
        return ""
    first = next(((a, b) for a, b in zip(g.to_pylist(), w.to_pylist())
                  if a != b), None)
    return (f"{g.num_rows} rows vs batch {w.num_rows}; first difference "
            f"(stream, batch): {first}")


def _baseline(src: str, seed: int) -> None:
    """Child-process body of the local[1] baseline: prints events x
    operators per second over the log in `src`."""
    import harness

    work = harness.WorkDir("stream_replay-local1", seed)
    try:
        spark = harness.start_session(work, cores="1")
        wl = StreamReplay(harness.Context(spark, work, seed,
                                          harness.Tracer(False)))
        rows = 0
        t = time.perf_counter()
        for name, fn in _ops():
            sink, progress = wl._replay(name, fn, src)
            wl._drop(sink)
            rows += sum(p["numInputRows"] for p in batch_rows(progress))
        print(rows / (time.perf_counter() - t))
    finally:
        try:
            harness.stop_tree()
        finally:
            work.close()


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--baseline":
        sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)),
                        os.path.dirname(os.path.dirname(
                            os.path.abspath(__file__)))]
        _baseline(sys.argv[2], int(sys.argv[3]))
