"""`stream_mix`: the two streaming workloads in one session.

A short open-loop ingest at the nominal rate (wl_ingest, for INGEST_SHARE
of `--seconds`) runs first, then the stateful replay pass (wl_replay).
Both drive the same micro-batch engine in opposite ways: small,
latency-bound, stateless batches with Python-UDF decode, and large,
throughput-bound batches through the state store.

The end-to-end metrics are the replay's: `throughput_per_s` (events x
operators per second), `latency_p50_ms` and `latency_tail_ms` (p50 and
p90 `triggerExecution` of its data batches). The ingest part reports
per-layer metrics only (`ingest.*`, `sources.step0.*`): its ~3-s batches
give too few samples in a run this short for a steady end-to-end figure,
and too few for rate steps; the knee and the sustained rate come from
`ingest_open_loop` run on its own. Where both parts report a layer under
the same name (the engine's per-batch durations), the ingest copy is
prefixed `ingest.`."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import harness
import wl_ingest
from wl_ingest import IngestOpenLoop
from wl_replay import StreamReplay


INGEST_SHARE = 0.5


class StreamMix:
    def __init__(self, ctx):
        self.replay = StreamReplay(ctx)
        self.ingest = IngestOpenLoop(ctx)
        self.parts = (self.ingest, self.replay)

    @property
    def attempted(self) -> int:
        return sum(p.attempted for p in self.parts)

    @property
    def failed(self) -> int:
        return sum(p.failed for p in self.parts)

    def make_inputs(self) -> None:
        for p in self.parts:
            p.make_inputs()

    def warm_up(self) -> None:
        """Both parts at once: most of a cold start is single-threaded
        (class loading, code generation, Python worker start)."""
        with ThreadPoolExecutor(max_workers=len(self.parts)) as pool:
            list(pool.map(lambda p: p.warm_up(), self.parts))

    def measure(self, seconds: float) -> dict:
        tr = self.ingest.ctx.tracer
        with tr.span("ingest.measure"):
            rate = wl_ingest.STEPS[wl_ingest.NOMINAL_STEP][0]
            ing = self.ingest.measure(
                seconds, steps=[(rate, seconds * INGEST_SHARE)])
        # the replay sets the end-to-end metrics, so it is the part taken
        # again after a neighbour's CPU burst (not in traced runs, whose
        # figures have no bound and must stay in the run limit)
        with tr.span("stream_replay.measure"):
            rep, steal, tries = harness.measure_quietly(
                lambda: self.replay.measure(seconds), retry=not tr.enabled)
        rep["info"].update(measured_steal_pct=round(steal, 2), tries=tries)
        layers = dict(rep["layers"])
        layers["ingest.latency_p50_ms"] = ing["e2e"]["latency_p50_ms"]
        layers["ingest.latency_p99_ms"] = ing["e2e"]["latency_tail_ms"]
        for k, v in ing["layers"].items():
            layers[f"ingest.{k}" if k in layers else k] = v
        return {"e2e": rep["e2e"], "layers": layers,
                "info": {"ingest": ing["info"], "replay": rep["info"]}}

    def check(self) -> list[str]:
        return [f for p in self.parts for f in p.check()]

    def trace_extras(self) -> dict:
        out = self.ingest.trace_extras()
        out.update(self.replay.trace_extras())
        return out

    def close(self) -> None:
        self.ingest.close()
