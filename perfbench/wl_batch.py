"""`batch_mix`: a one-client closed loop over registered batch queries.

Each query is built through its registered function
(`plans.queries.QUERIES[name].fn`) over tables generated from the seed and
executed through the noop sink; the seed also fixes the query order. The
warm-up pass collects every result and compares it with the query's
registered DuckDB oracle, canonicalised the way `scripts/driver_sim.py`
does it."""

from __future__ import annotations

import random
import time

import numpy as np
import pyarrow as pa

import datagen
import harness
import stats

#: (query, module whose operator does the work)
QUERY_MIX = [
    ("c3_pricing_summary", "relational"),
    ("c7_multiway_join", "joins"),
    ("sql_q21_waiting_supplier", "sql"),
    ("c12_analytic_frames", "windows"),
    ("c24_session_window", "event_time"),
    ("c28_exact_dedup", "dedup"),
    ("c30_word_frequency", "text"),
    ("c29_cosine_topk", "similarity"),
    ("c12_holt", "windows"),
    ("c21_ols_fit", "udx"),
    ("c38_reach", "graph"),
    ("a9_wire_roundtrip", "serde"),
]
WARM_THREADS = 4
# 12 query latencies a pass: a percentile above the median is one order
# statistic, which jumps when two slow queries swap places, so the tail is
# the mean of the slowest quarter (the 75% expected shortfall)
TAIL_SHARE = 0.25
SCALE = 0.02                  # sf0.02: ~120k lineitem rows, 20k events
FLOOR_SCALE = 0.0005          # near-empty tables: the per-query floor
NAN_KEY = float.fromhex("0x1.fffffffffffffp+1023")   # NaN, made comparable
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
COUNTERS = ("jobs", "stages", "shuffle_write_bytes", "spill_bytes",
            "python_run_ms")


def _column(c: pa.ChunkedArray) -> pa.Array:
    c = c.combine_chunks()
    t = c.type
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        v = np.round(c.cast(pa.float64()).fill_null(0.0).to_numpy(), 6)
        v[np.isnan(v)] = NAN_KEY
        return pa.array(v, mask=c.is_null().to_numpy(zero_copy_only=False))
    if pa.types.is_timestamp(t):
        return c.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    if pa.types.is_integer(t):
        return c.cast(pa.int64())
    if pa.types.is_large_string(t):
        return c.cast(pa.string())
    if pa.types.is_nested(t):
        return pa.array([None if x is None else str(x) for x in c.to_pylist()],
                        pa.string())
    return c


def canonical(t: pa.Table) -> pa.Table:
    """The canonical form of `scripts/driver_sim.py` on Arrow: columns
    sorted by name, floats rounded to 6 decimals, rows sorted."""
    names = sorted(t.column_names)
    out = pa.table([_column(t.column(n)) for n in names], names=names)
    return out.sort_by([(n, "ascending") for n in names])


class BatchMix:
    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = ctx.work.sub("tables")
        self.results = {}
        self.attempted = 0
        self.failed = 0

    def make_inputs(self) -> None:
        datagen.write_tables(self.dir, self.ctx.seed, SCALE)

    def warm_up(self) -> None:
        """One pass over the mix, four queries at a time (the one-time
        costs of a fresh session overlap well), collecting each result for
        the oracle check."""
        from concurrent.futures import ThreadPoolExecutor

        from kafka_streams_in_action_spark.plans.queries import QUERIES
        spark = self.ctx.spark

        def one(name):
            return name, QUERIES[name].fn(spark, self.dir).toArrow()

        with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
            for name, res in pool.map(one, [n for n, _ in QUERY_MIX]):
                self.results[name] = res
                self.attempted += 1

    def measure(self, seconds: float) -> dict:
        """The timed passes, taken again when a neighbour's CPU burst hit
        them (harness.measure_quietly). Traced runs do not retry: their
        per-layer figures have no bound and must stay in the run limit."""
        res, steal, tries = harness.measure_quietly(
            lambda: self._passes(seconds), retry=not self.ctx.tracer.enabled)
        res["info"].update(measured_steal_pct=round(steal, 2), tries=tries)
        return res

    def _passes(self, seconds: float) -> dict:
        from kafka_streams_in_action_spark.plans.queries import QUERIES
        ctx, tr = self.ctx, self.ctx.tracer
        order = [q for q in QUERY_MIX]
        rng = random.Random(ctx.seed)
        lat, build, run = [], {}, {}
        per_pass_counts, passes = [], []
        t_start = time.perf_counter()
        # whole passes, at least one, while the next is expected to end
        # within the measured time
        while not passes or (time.perf_counter() - t_start
                             + stats.median(passes) <= seconds * 1.1):
            rng.shuffle(order)
            t_pass = time.perf_counter()
            counts = dict.fromkeys(COUNTERS, 0.0)
            with tr.span("batch_mix.pass"):
                for name, module in order:
                    mark = None
                    if tr.enabled:
                        with tr.bookkeeping():
                            mark = ctx.counters.mark()
                    t0 = time.perf_counter()
                    with tr.span(f"plans.{name}.build"):
                        df = QUERIES[name].fn(ctx.spark, self.dir)
                    t1 = time.perf_counter()
                    with tr.span(f"operators.{module}.{name}.run") as sp:
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    if tr.enabled:
                        with tr.bookkeeping():
                            c = ctx.counters.since(mark)
                        sp.update(c)
                        for k in COUNTERS:
                            counts[k] += c[k]
                    self.attempted += 1
                    lat.append((t2 - t0) * 1000.0)
                    build.setdefault(name, []).append(t1 - t0)
                    run.setdefault((module, name), []).append(t2 - t1)
            passes.append(time.perf_counter() - t_pass)
            per_pass_counts.append(counts)
        e2e = {
            "throughput_per_s": len(QUERY_MIX) / stats.median(passes),
            "latency_p50_ms": stats.median(lat),
            "latency_tail_ms": stats.tail_mean(lat, TAIL_SHARE),
        }
        layers = {f"plans.{n}.build_s": stats.median(v)
                  for n, v in build.items()}
        layers.update({f"operators.{m}.{n}.run_s": stats.median(v)
                       for (m, n), v in run.items()})
        if tr.enabled:
            layers.update({f"operators.{k}": stats.median(
                [c[k] for c in per_pass_counts]) for k in COUNTERS})
        layers["batch_mix.pass_s"] = stats.median(passes)
        info = {"passes": [round(p, 2) for p in passes],
                "query_samples": len(lat),
                "tail_share": TAIL_SHARE}
        return {"e2e": e2e, "layers": layers, "info": info}

    def trace_extras(self) -> dict:
        """The fixed part of a pass: the same mix over near-empty tables,
        against `batch_mix.pass_s`."""
        from kafka_streams_in_action_spark.plans.queries import QUERIES
        floor_dir = self.ctx.work.sub("floor_tables")
        datagen.write_tables(floor_dir, self.ctx.seed, FLOOR_SCALE)
        t = time.perf_counter()
        with self.ctx.tracer.span("batch_mix.floor"):
            for name, _ in QUERY_MIX:
                QUERIES[name].fn(self.ctx.spark, floor_dir).write \
                    .format("noop").mode("overwrite").save()
        return {"batch_mix.floor_pass_s": time.perf_counter() - t}

    def check(self) -> list[str]:
        """Oracle comparison of the warm-up results; returns failures."""
        import duckdb
        from kafka_streams_in_action_spark.plans.queries import QUERIES
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.dir}/{t}.parquet'")
            bad = []
            for name, _ in QUERY_MIX:
                got = canonical(self.results[name])
                want = canonical(con.execute(QUERIES[name].oracle)
                                 .fetch_arrow_table())
                if got.column_names != want.column_names \
                        or not got.equals(want):
                    bad.append(f"{name}: oracle mismatch "
                               f"({got.num_rows} vs {want.num_rows} rows)")
            self.attempted += len(QUERY_MIX)
            self.failed += len(bad)
            return bad
        finally:
            con.close()
