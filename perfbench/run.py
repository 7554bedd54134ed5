"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 20 --trace 0

Runs one workload of BENCHMARK.json from the root of a checkout: builds a
Spark session through `session.get_spark`, generates the workload's inputs
from the seed, warms up, measures (for `--seconds`, or one replay pass),
checks every output for correctness and prints one JSON object as the last
line of stdout:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1` (spans are written to .perfbench_out/). Exits non-zero without
a result line on any correctness failure or error."""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import harness  # noqa: E402
import stats  # noqa: E402

INPUT_REPEATS = 3


#: workload name → (module, class). BENCHMARK.json lists batch_mix and
#: stream_mix (ingest_open_loop + stream_replay in one session); the two
#: parts also run alone by name.
WORKLOADS = {"batch_mix": ("wl_batch", "BatchMix"),
             "stream_mix": ("wl_stream", "StreamMix"),
             "stream_replay": ("wl_replay", "StreamReplay"),
             "ingest_open_loop": ("wl_ingest", "IngestOpenLoop")}


def load_spec() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    spec = load_spec()
    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; "
                         f"known: {sorted(WORKLOADS)}")
    try:                  # fail fast, before any set-up
        import kafka_streams_in_action_spark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"the package is not in this checkout: {e}")

    work = harness.WorkDir(workload, seed)
    sampler = harness.TreeSampler().start()
    tracer = harness.Tracer(trace)
    wl = None
    try:
        t_setup = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = harness.start_session(work)
        session_s = time.perf_counter() - t_setup
        ctx = harness.Context(spark, work, seed, tracer, sampler)
        mod, cls = WORKLOADS[workload]
        wl = getattr(importlib.import_module(mod), cls)(ctx)
        gens = []
        for _ in range(INPUT_REPEATS):
            t = time.perf_counter()
            with tracer.span("setup.inputs"):
                wl.make_inputs()
            gens.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("setup.warm_up"):
            wl.warm_up()
        warm_s = time.perf_counter() - t
        # session start swings with host load far more than the work the
        # benchmark sets up; it is reported apart, as session.start_s
        setup_s = stats.median(gens) + warm_s

        cpu0 = sampler.python_worker_cpu_ms()
        steal0 = harness.cpu_steal()
        t = time.perf_counter()
        with tracer.span(f"{workload}.measure"):
            res = wl.measure(seconds)
        measure_s = time.perf_counter() - t
        py_cpu_ms = sampler.python_worker_cpu_ms() - cpu0
        steal_pct = harness.cpu_steal(steal0)
        sampler.sample()
        peak_rss_mb = sampler.peak_rss / 1e6
        resident_mb = harness.resident_after_gc(spark, sampler) / 1e6

        t = time.perf_counter()
        with tracer.span("host.sentinel"):
            sentinel = harness.sentinel_s(spark)
        sentinel_wall = time.perf_counter() - t
        extra = {}
        if trace and hasattr(wl, "trace_extras"):
            extra.update(wl.trace_extras())
        t = time.perf_counter()
        failures = wl.check()
        check_s = time.perf_counter() - t
    finally:
        try:
            if wl is not None and hasattr(wl, "close"):
                wl.close()
        finally:
            sampler.stop()
            try:
                harness.stop_tree()
            finally:
                work.close()

    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    e2e = {"setup_s": setup_s, "resident_mb": resident_mb, **res["e2e"]}
    layers = {"session.start_s": session_s,
              "peak_rss_mb": peak_rss_mb,
              "setup.inputs_s": stats.median(gens),
              "setup.warmup_s": warm_s,
              "host.sentinel_s": sentinel,
              "host.steal_pct": steal_pct,
              "python.worker_cpu_ms": py_cpu_ms,
              **res["layers"], **extra}
    if trace:
        layers["trace.overhead_pct"] = 100.0 * tracer.own_s / measure_s
        os.makedirs(harness.OUT_ROOT, exist_ok=True)
        tracer.dump(os.path.join(
            harness.OUT_ROOT, f"trace-{workload}-{seed}.json"))
    section = "per_layer" if trace else "end_to_end"
    values = layers if trace else e2e
    metrics = {}
    for m in spec[section]:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    unknown = sorted(set(values) - {m["name"] for m in spec[section]})
    if unknown:
        print(f"# measured but not declared in BENCHMARK.json: {unknown}",
              file=sys.stderr)
    phases = {"setup": setup_s, "measure": measure_s,
              "sentinel": sentinel_wall, "check": check_s}
    print(f"# {workload} seed={seed} info={json.dumps(res.get('info', {}))} "
          f"phases_s={json.dumps({k: round(v, 2) for k, v in phases.items()})}",
          file=sys.stderr)
    for k, v in sorted({**e2e, **layers}.items()):
        print(f"# {k} = {v:.6g}", file=sys.stderr)
    return {"correct": not failures, "attempted": int(wl.attempted),
            "failed": int(wl.failed), "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a SIGTERM unwinds through run()'s clean-up like any other error
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = run(a.workload, a.seed, a.seconds, bool(a.trace))
    if not out["correct"]:
        print("correctness check failed; no result", file=sys.stderr)
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
