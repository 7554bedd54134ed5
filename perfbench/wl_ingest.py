"""`ingest_open_loop`: the producer → topic → consumer pipeline as an
open loop.

A separate generator process (generator.py) writes Confluent wire-format
records (JSON ProductTransaction, Avro Avenger, Proto Avenger, ~1%
malformed) into a topic directory at fixed rate steps. The consumer is a
default-trigger file stream whose foreachBatch validates and decodes each
record with the package's serde functions, routes by schema id, derives
`total`, computes per-partition commit offsets (max(offset) + 1) and emits
the decoded records to the driver, stamping the emit time. Latency is
emit time minus the time the record was due."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import datagen
import stats

#: (rate rec/s, seconds) — the open-loop schedule; the last step is meant
#: to sit above the consumer's knee. Each step needs a few of the
#: consumer's ~3-s batches, so this schedule wants --seconds 20 or more.
STEPS = [(2000.0, 10.0), (16000.0, 5.0), (128000.0, 5.0)]
NOMINAL_STEP = 0              # the step latency is reported at
LATENCY_LIMIT_MS = 10000.0    # p99 a step must meet to count as sustained
SLOPE_SHARE = 0.1             # ... and its backlog may grow at most this
                              # share of its rate (steps count in order)
TICK_S = 0.1
PARTITIONS = 4
POOL = 4096
DRAIN_TIMEOUT_S = 60.0
BACKLOG_GRID_S = 0.1
WARM_RECORDS = 8000


def _steps_arg(steps) -> str:
    return ",".join(f"{r:g}:{s:g}" for r, s in steps)


def step_bounds(steps) -> list[tuple[float, float]]:
    out, t = [], 0.0
    for _, secs in steps:
        out.append((t, t + secs))
        t += secs
    return out


class IngestOpenLoop:
    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.pool = None
        self.emitted = []            # (batch emit time, arrow table)
        self.commits = []            # per batch {partition: commit offset}
        self.gen_report = None
        self.slow = 0                # nominal-step records past the limit
        self.query = None
        self.generator = None

    # -- inputs --------------------------------------------------------------

    def make_inputs(self) -> None:
        self.pool = datagen.wire_pool(self.ctx.seed, POOL)

    # -- consumer ------------------------------------------------------------

    def _decode(self, df):
        """The consumer's per-batch plan: validate → route by schema id →
        decode, plus one commit row per partition (max(offset) + 1, which
        covers the skipped malformed records too). One action per batch."""
        from pyspark.sql import functions as F

        from kafka_streams_in_action_spark.functions import binary_codecs as bc
        from kafka_streams_in_action_spark.functions import serde
        from kafka_streams_in_action_spark.schemas import PRODUCT_TRANSACTION

        v = F.col("value")
        keep = ["offset", "partition", "due_us"]
        valid = (df.filter(serde.wire_is_valid(v))
                 .withColumn("sid", serde.wire_schema_id(v)))
        js = (valid.filter(F.col("sid") == datagen.SID_JSON)
              .select(*keep, serde.json_decode(serde.wire_payload(v),
                                               PRODUCT_TRANSACTION).alias("r"))
              .select(*keep, F.lit("json").alias("kind"), "r.*",
                      (F.col("r.quantity") * F.col("r.price")).alias("total")))
        av = (valid.filter(F.col("sid") == datagen.SID_AVRO)
              .select(*keep, F.lit("avro").alias("kind"),
                      bc.from_avro_avenger(serde.wire_payload(v)).alias("a"))
              .select(*keep, "kind", "a.*"))
        pr = (valid.filter(F.col("sid") == datagen.SID_PROTO)
              .select(*keep, F.lit("proto").alias("kind"),
                      bc.from_proto_avenger(serde.wire_payload_proto(v))
                      .alias("a"))
              .select(*keep, "kind", "a.*"))
        commit = (df.groupBy("partition")
                  .agg((F.max("offset") + 1).alias("offset"))
                  .select("offset", "partition", F.lit("commit").alias("kind")))
        return (js.unionByName(av, allowMissingColumns=True)
                .unionByName(pr, allowMissingColumns=True)
                .unionByName(commit, allowMissingColumns=True))

    def _on_batch(self, df, batch_id: int) -> None:
        import pyarrow.compute as pc
        table = self._decode(df).toArrow()
        t_emit = time.time()
        is_commit = pc.equal(table.column("kind"), "commit")
        commits = table.filter(is_commit)
        self.commits.append(dict(zip(commits.column("partition").to_pylist(),
                                     commits.column("offset").to_pylist())))
        self.emitted.append((t_emit, table.filter(pc.invert(is_commit))))

    def _consume(self, topic: str, available_now: bool):
        spark = self.ctx.spark
        stream = spark.readStream.schema(
            "partition int, offset long, value binary, due_us long"
        ).parquet(topic)
        w = (stream.writeStream.foreachBatch(self._on_batch)
             .option("checkpointLocation",
                     self.ctx.work.sub("ckpt", os.path.basename(topic))))
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    def _start_generator(self, topic: str, steps, start: float, tag: str):
        report = self.ctx.work.sub(f"gen-{tag}.json")
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__),
                                          "generator.py"),
             topic, str(self.ctx.seed), repr(start), _steps_arg(steps),
             str(TICK_S), str(PARTITIONS), str(POOL), report])
        self.ctx.sampler.exclude.add(gen.pid)
        return gen, report

    def warm_up(self) -> None:
        """A small topic written in place and replayed once, so the decode
        path (Python workers, codegen) is warm before the measured stream
        starts."""
        import generator
        topic = self.ctx.work.sub("warm_topic", "x")[:-2]
        os.makedirs(topic, exist_ok=True)
        values = [r["value"] for r in self.pool]
        for i in range(4):
            generator.write_tick(topic, i, i * WARM_RECORDS // 4,
                                 WARM_RECORDS // 4, values, time.time(),
                                 PARTITIONS)
        q = self._consume(topic, available_now=True)
        q.awaitTermination(120)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.emitted.clear()
        self.commits.clear()

    # -- measurement ---------------------------------------------------------

    def measure(self, seconds: float, steps=None) -> dict:
        """The open loop over `steps` ([(rate rec/s, seconds)]; default:
        STEPS stretched to `seconds`)."""
        ctx, tr = self.ctx, self.ctx.tracer
        if steps is None:
            scale = seconds / sum(s for _, s in STEPS)
            steps = [(r, s * scale) for r, s in STEPS]
        plan = datagen.schedule(steps, TICK_S, PARTITIONS)
        n_total = sum(p[2] for p in plan)
        n_valid = sum(1 for o in range(n_total)
                      if self.pool[o % POOL]["kind"] != "bad")
        topic = self.ctx.work.sub("topic", "x")[:-2]
        os.makedirs(topic, exist_ok=True)
        mark = None
        if tr.enabled:
            with tr.bookkeeping():
                mark = ctx.counters.mark()
        with tr.span("ingest.consumer_start"):
            self.query = self._consume(topic, available_now=False)
        t0 = time.time() + 1.0
        self.generator, report = self._start_generator(topic, steps, t0, "run")
        with tr.span("ingest.stream"):
            deadline = t0 + sum(s for _, s in steps) + DRAIN_TIMEOUT_S
            while time.time() < deadline:
                if sum(t.num_rows for _, t in self.emitted) >= n_valid \
                        and self.generator.poll() is not None:
                    break
                if self.query.exception() is not None:
                    raise RuntimeError(str(self.query.exception()))
                time.sleep(0.05)
            progress = [json.loads(p.json) for p in self.query.recentProgress]
            self.query.stop()
        if self.generator.wait(timeout=30) != 0:
            raise RuntimeError("generator failed")
        with open(report) as f:
            self.gen_report = json.load(f)
        counters = None
        if tr.enabled:
            with tr.bookkeeping():
                counters = ctx.counters.since(mark)
        return self._metrics(steps, plan, t0, progress, counters)

    def _metrics(self, steps, plan, t0, progress, counters) -> dict:
        due, emit = [], []
        for t_emit, table in self.emitted:
            d = table.column("due_us").to_pylist()
            due.extend(x / 1e6 for x in d)
            emit.extend([t_emit] * len(d))
        lat = stats.latencies_ms(due, emit)
        all_due = [t0 + off for off, _, k in plan for _ in range(k)]
        # the step's own records due but not yet emitted, right after each
        # emit inside the step but the first (the troughs of the sawtooth,
        # less the batch that is still settling to the new rate): their
        # slope is how fast the consumer falls behind at that rate
        data = [p for p in progress if p.get("numInputRows", 0) > 0]
        batch_t = sorted({t for t, _ in self.emitted})
        grid = [t0 + k * BACKLOG_GRID_S for k in
                range(int(sum(s for _, s in steps) / BACKLOG_GRID_S) + 1)]
        backlog = stats.backlog_series(all_due, emit, grid)
        layers, sustained = {}, 0.0
        for i, ((rate, _), (lo, hi)) in enumerate(zip(steps,
                                                      step_bounds(steps))):
            sl = [x for x, d in zip(lat, due) if lo <= d - t0 < hi]
            q = stats.tail_q(len(sl), 99.0)
            p50, tail = stats.median(sl), stats.percentile(sl, q)
            at = [t for t in batch_t if lo < t - t0 <= hi][1:]
            mine = [(d, e) for d, e in zip(due, emit) if lo <= d - t0 < hi]
            step_due = [d for d in all_due if lo <= d - t0 < hi]
            slope = stats.slope(at, stats.backlog_series(
                step_due, [e for _, e in mine], at))
            layers[f"ingest.step{i}.latency_p50_ms"] = p50
            layers[f"ingest.step{i}.latency_p99_ms"] = tail
            layers[f"sources.step{i}.backlog_slope_rps"] = slope
            if tail <= LATENCY_LIMIT_MS and slope <= SLOPE_SHARE * rate \
                    and sustained == (steps[i - 1][0] if i else 0.0):
                sustained = rate
            if i == NOMINAL_STEP:
                nominal = (p50, tail, q)
                self.slow = sum(1 for x in sl if x > LATENCY_LIMIT_MS)
        # consumer capacity: rows over processing time of the batches that
        # end once the top step (above the knee) has begun, drain included
        top_lo = step_bounds(steps)[-1][0]
        top = [p for p in data if _ts(p["timestamp"]) - t0 + p["durationMs"][
            "triggerExecution"] / 1000.0 >= top_lo]
        e2e = {"latency_p50_ms": nominal[0], "latency_tail_ms": nominal[1],
               "throughput_per_s": 1000.0 * sum(
                   p["numInputRows"] for p in top) / max(sum(
                       p["durationMs"]["triggerExecution"] for p in top), 1)}
        dur = [p["durationMs"] for p in data]
        layers.update({
            "ingest.sustained_step_rps": sustained,
            "ingest.generator_late_ms": stats.percentile(
                self.gen_report["late_ms"], 99.0),
            "sources.backlog_records_max": float(max(backlog or [0])),
            "streaming.planning_ms": stats.median(
                [d.get("queryPlanning", 0) for d in dur]),
            "streaming.wal_commit_ms": stats.median(
                [d.get("walCommit", 0) for d in dur]),
            "streaming.offset_commit_ms": stats.median(
                [d.get("commitOffsets", 0) for d in dur]),
            "streaming.add_batch_ms": stats.median(
                [d.get("addBatch", 0) for d in dur]),
            "sources.offset_ms": stats.median(
                [d.get("latestOffset", 0) + d.get("getBatch", 0)
                 for d in dur]),
            "ingest.batch_rows_p50": stats.median(
                [p["numInputRows"] for p in data]),
        })
        if counters:
            n = max(len(data), 1)
            layers["ingest.python_run_ms_per_batch"] = \
                counters["python_run_ms"] / n
            layers["ingest.arrow_bytes_per_batch"] = (
                counters["arrow_sent_bytes"]
                + counters["arrow_returned_bytes"]) / n
        info = {"records": len(lat), "batches": len(data),
                "nominal_tail_percentile": nominal[2],
                "top_step_batches": len(top)}
        return {"e2e": e2e, "layers": layers, "info": info}

    # -- correctness ---------------------------------------------------------

    def check(self) -> list[str]:
        n_total = self.gen_report["records"]
        expected = [o for o in range(n_total)
                    if self.pool[o % POOL]["kind"] != "bad"]
        emitted, wrong = [], 0
        for _, table in self.emitted:
            for row in table.to_pylist():
                o = row["offset"]
                emitted.append(o)
                if not _matches(row, self.pool[o % POOL], o % PARTITIONS):
                    wrong += 1
        acc = stats.exactly_once(expected, emitted)
        want_commit = {}
        for o in range(n_total):
            want_commit[o % PARTITIONS] = o + 1
        got_commit = {}
        for c in self.commits:
            for p, v in c.items():
                got_commit[p] = max(got_commit.get(p, 0), v)
        bad = []
        if acc["missing"] or acc["duplicated"] or acc["unexpected"]:
            bad.append(f"ingest: exactly-once violated {acc}")
        if wrong:
            bad.append(f"ingest: {wrong} records decoded wrongly")
        if got_commit != want_commit:
            bad.append(f"ingest: commit offsets {got_commit} != {want_commit}")
        self.attempted += n_total
        self.failed += (acc["missing"] + acc["duplicated"]
                        + acc["unexpected"] + wrong + self.slow)
        return bad

    def trace_extras(self) -> dict:
        with self.ctx.tracer.span("functions.decode_rates"):
            return decode_rates(self.ctx.spark, self.ctx.seed)

    def close(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()
        if self.generator is not None and self.generator.poll() is None:
            self.generator.kill()
            self.generator.wait(timeout=10)


def _ts(iso: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _matches(row: dict, src: dict, partition: int) -> bool:
    if row["partition"] != partition or row["kind"] != src["kind"]:
        return False
    if src["kind"] == "json":
        return (row["customer_name"] == src["customer_name"]
                and row["product_name"] == src["product_name"]
                and row["quantity"] == src["quantity"]
                and row["price"] == src["price"]
                and row["total"] == src["quantity"] * src["price"])
    return (row["name"] == src["name"] and row["real_name"] == src["real_name"]
            and list(row["movies"] or []) == src["movies"])


def decode_rates(spark, seed: int, n: int = 20_000) -> dict:
    """Standalone decode throughput of each codec of the functions layer
    on a staged batch of `n` wire records (median of three timed
    noop-sink actions per codec)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from kafka_streams_in_action_spark.functions import binary_codecs as bc
    from kafka_streams_in_action_spark.functions import serde
    from kafka_streams_in_action_spark.schemas import PRODUCT_TRANSACTION

    pool = datagen.wire_pool(seed, POOL)
    v = F.col("value")
    decoders = {
        "json": lambda: serde.json_decode(serde.wire_payload(v),
                                          PRODUCT_TRANSACTION),
        "avro": lambda: bc.from_avro_avenger(serde.wire_payload(v)),
        "proto": lambda: bc.from_proto_avenger(serde.wire_payload_proto(v)),
    }
    out = {}
    for kind, dec in decoders.items():
        vals = [r["value"] for r in pool if r["kind"] == kind]
        vals = (vals * (n // len(vals) + 1))[:n]
        df = spark.createDataFrame(
            pa.table({"value": pa.array(vals, pa.binary())}).to_pandas()
        ).cache()
        df.count()
        times = []
        for _ in range(3):
            t = time.perf_counter()
            df.select(dec().alias("d")).write.format("noop") \
                .mode("overwrite").save()
            times.append(time.perf_counter() - t)
        df.unpersist()
        out[f"functions.{kind}_decode_rps"] = n / stats.median(times)
    return out
