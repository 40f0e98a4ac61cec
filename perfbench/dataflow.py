"""dataflow: the paper's system, the batch path then the real-time path, in
one Spark session.

- The batch half (``batch_daily.py``) runs the reference batch v2 job for one
  event date over a seeded 40,000-posting JSON lake: regex and expression
  CPU, the dedup shuffle, 6 group-bys over a cached frame and 7 writes.
- The streaming half (``stream_fanout.py``) drains a 16,000-posting backlog
  through the fan-out query, then holds it at a fixed 1,000 postings/s:
  per-micro-batch fixed costs (listing, planning, commit, one job per sink).

End-to-end figures: ``work_s`` is the batch job's median wall time;
``op_p50_s`` and ``op_p90_s`` are the steady-state latencies from when a
file was due to when the last sink of its micro-batch finished;
``ops_per_s`` is the catch-up rate in postings per second.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from perfbench.batch_daily import BatchDaily
from perfbench.stream_fanout import StreamFanout


class Dataflow:
    @classmethod
    def layer_units(cls) -> dict:
        return {**BatchDaily.layer_units(), **StreamFanout.layer_units()}

    def __init__(self, run):
        self.run = run
        self.batch = BatchDaily(run)
        self.stream = StreamFanout(run)

    def setup(self) -> None:
        self.batch.stage_inputs()
        self.stream.stage_inputs()
        self.run.mark("inputs")
        # the two warm-ups (one untimed repetition of each half) share the
        # session, so they run side by side
        with ThreadPoolExecutor(2) as pool:
            for fut in [pool.submit(self.batch.warm_up), pool.submit(self.stream.warm_up)]:
                fut.result()
        self.run.mark("warmup")

    def measure(self, seconds: float, tracer) -> dict:
        # batch first: its repetitions leave the shared chain compiled for
        # the stream's single catch-up sample (stream first measured ~20%
        # slower latencies and catch-up)
        with tracer.span("measure"):
            batch = self.batch.measure(seconds / 2, tracer)
            stream = self.stream.measure(seconds / 2, tracer)
        return {
            "work_s": batch["batch_s"][0],
            "op_p50_s": stream["stream_latency_p50_s"][0],
            "op_p90_s": stream["stream_latency_p90_s"][0],
            "ops_per_s": stream["stream_catchup_rows_per_s"][0],
            "named": {**batch, **stream},
        }

    def layers(self, tracer) -> dict:
        return {
            **self.batch.layers(tracer),
            **self.stream.layers(tracer),
        }

    def check(self) -> None:
        self.batch.check()
        self.stream.check()
