"""The streaming half of the dataflow workload: the reference real-time path
on a file source (standing in for Kafka), one streaming query run in two
phases on one checkpoint.

The query is ``file_stream`` (JSON, ``RAW_POSTING_SCHEMA``), then the
stateless part of the chain (``normalize_raw``, required fields, the
canonicalized keys, ``enrich_postings``), then ``fan_out_foreach_batch`` with
a detail sink and the reference's 4 windowed aggregates through
``windowed_agg``: company, location and work type on 5-minute tumbling
windows, category on 10-minute windows. Every sink writes with
``upsert_by_key``; the aggregates are keyed by ``windows.upsert_key`` and
re-emit the full total of each window a micro-batch touches (computed over
the detail sink, which holds every delivered row), so a late event re-opens
its window and the latest emitted row is the window's total.

- Phase a, restart catch-up: a staged backlog drains;
  ``stream_catchup_rows_per_s`` is the backlog's rows divided by the time
  from ``start()`` until the sinks of the batch holding the last backlog file
  complete.
- Phase b, steady state: an open-loop thread writes 50-posting JSON files at
  a fixed 1,000 postings/s, each renamed into the watched directory when due.
  An operation's latency runs from when its file was due to when the last
  sink of the micro-batch that consumed it finished; files are attributed to
  batches from the file source's checkpoint log, so no Spark job is added.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.run import quantile
from perfbench.tracing import NullTracer

BACKLOG_ROWS = 16_000
BACKLOG_FILE_ROWS = 500
FILE_ROWS = 50
RATE = 1_000.0  # postings per second; a constant, never derived from a measurement
LATE_MS = 15 * 60 * 1000
MIN_STEADY_S = 6.0
AGGS = {  # sink -> (dims, window)
    "by_company": (["company_name_clean"], "5 minutes"),
    "by_location": (["location_city"], "5 minutes"),
    "by_worktype": (["work_type_clean"], "5 minutes"),
    "by_category": (["job_category"], "10 minutes"),
}
SINKS = ["detail", *AGGS]


def prepare(raw):
    """The stateless chain on the stream. ``clean_postings`` also dedups,
    which a stream cannot do without state, so its required-field filter
    and canonicalized keys are applied here directly. ``normalize_raw``
    nulls ``ingest_timestamp``; the producer's stamp arrives as the
    listing time."""
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.domain import pipeline as domain
    from bigdata_storage_and_proccess_job_data_spark.functions import cleaning

    postings = cleaning.require_fields(
        domain.normalize_raw(raw), "job_id", "company_name", "title")
    keyed = postings.withColumns({
        "company_name_clean": cleaning.canonicalize("company_name"),
        "location_country_clean": cleaning.canonicalize("location_country"),
        "work_type_clean": cleaning.canonicalize(
            F.coalesce(F.col("work_type"), F.col("formatted_work_type"))),
        "ingest_timestamp": F.col("listed_time") / 1000.0,
    })
    return domain.enrich_postings(keyed, gen.EVENT_DATE).withColumn(
        "event_ts", F.timestamp_millis(F.col("listed_time")))


def window_totals(df, name: str):
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.streaming import windows

    dims, duration = AGGS[name]
    return windows.windowed_agg(
        df, "event_ts", duration,
        {"postings": F.count(F.lit(1)), "salary_sum": F.sum("salary_avg")},
        dims=dims,
    )


def _batches_of_files(ckpt: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's log."""
    log = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


class Phase:
    """One run of the query: its directories, the backlog it drains, the
    files the open-loop thread writes, and when each batch finished."""

    def __init__(self, run, tag: str, backlog_rows: int, pgen: gen.PostingGen):
        self.run = run
        self.dir = run.path("stream", tag)
        self.watch = os.path.join(self.dir, "in")
        self.staged = os.path.join(self.dir, "staged")
        self.ckpt = os.path.join(self.dir, "ckpt")
        self.pgen = pgen
        self.tag = tag
        os.makedirs(self.watch)
        os.makedirs(self.staged)
        self.valid = 0
        self.backlog = []
        start_ms = int(time.time() * 1000) - 20 * 60 * 1000
        for i in range(backlog_rows // BACKLOG_FILE_ROWS):
            stamp = start_ms + i * 20 * 60 * 1000 * BACKLOG_FILE_ROWS // backlog_rows
            rows = pgen.stream_rows(BACKLOG_FILE_ROWS, f"{tag}B{i:04d}-", stamp, LATE_MS)
            name = f"backlog-{i:04d}.json"
            gen.write_json_lines(os.path.join(self.staged, name), rows)
            self.valid += sum(gen.valid(r) for r in rows)
            self.backlog.append(name)
        self.backlog_rows = backlog_rows
        self.due: dict[str, float] = {}
        self.late: list[float] = []
        self.done: dict[int, float] = {}
        self.hist = None
        self.batch_of: dict[str, int] = {}
        self.progress: list = []
        self.catchup_s = 0.0
        self.latency: list[float] = []

    def sink_dir(self, name: str) -> str:
        return os.path.join(self.dir, "sinks", name)

    def generate(self, stop: threading.Event, t_end: float) -> None:
        """Open loop: file k is due at t0 + k * FILE_ROWS / RATE, whatever
        the query is doing; lateness is how far behind the schedule the
        write happened."""
        t0, wall0 = time.perf_counter(), time.time()
        k = 0
        while not stop.is_set():
            due = t0 + k * FILE_ROWS / RATE
            if due > t_end:
                break
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            stamp = int((wall0 + (due - t0)) * 1000)
            rows = self.pgen.stream_rows(FILE_ROWS, f"{self.tag}S{k:05d}-", stamp, LATE_MS)
            name = f"live-{k:05d}.json"
            gen.write_json_lines(os.path.join(self.watch, name), rows)
            self.late.append(time.perf_counter() - due)
            self.valid += sum(gen.valid(r) for r in rows)
            self.due[name] = due
            k += 1


class StreamFanout:
    @classmethod
    def layer_units(cls) -> dict:
        return {
            "stream.build_s": "s",
            "stream.overhead_s": "s", "stream.jobs_per_batch": "count",
            "stream.batches": "count", "stream.trigger_s": "s", "stream.add_batch_s": "s",
            "stream.rows_per_batch": "count",
            **{f"stream.sink_s.{s}": "s" for s in SINKS},
            "stream.generator_late_s": "s", "stream.backlog_files_max": "count",
        }

    def __init__(self, run):
        self.run = run
        self.phases: list[Phase] = []

    def stage_inputs(self) -> None:
        self.pgen = gen.PostingGen(self.run.seed + 1)
        self.staged = [Phase(self.run, f"p{i}", BACKLOG_ROWS, self.pgen)
                       for i in range(2 if self.run.trace else 1)]
        self.warm = Phase(self.run, "warm", BACKLOG_ROWS // 4, self.pgen)

    def warm_up(self) -> None:
        self._run_phase(self.warm, 0.0, NullTracer(), min_steady_s=0.0)

    def _writers(self, ph: Phase, tracer):
        from pyspark.sql import functions as F

        from bigdata_storage_and_proccess_job_data_spark.domain.pipeline import DETAIL_COLUMNS
        from bigdata_storage_and_proccess_job_data_spark.sources import lake
        from bigdata_storage_and_proccess_job_data_spark.streaming import windows

        spark = self.run.spark

        def detail(df, batch_id):
            with tracer.span("stream.sink.detail"):
                lake.upsert_by_key(spark, df.select(*DETAIL_COLUMNS, "event_ts"),
                                   ph.sink_dir("detail"), key="job_id", version_col="event_ts")
                # every delivered row so far: the aggregates re-total from it
                if ph.hist is not None:
                    ph.hist.unpersist()
                ph.hist = spark.read.parquet(ph.sink_dir("detail")).persist()

        def agg_writer(name):
            dims = AGGS[name][0]

            def write(df, batch_id):
                with tracer.span(f"stream.sink.{name}"):
                    out = df.withColumns({
                        "upsert_id": windows.upsert_key(dims),
                        "batch_id": F.lit(batch_id),
                    })
                    lake.upsert_by_key(spark, out, ph.sink_dir(name), key="upsert_id",
                                       version_col="batch_id")
                if name == SINKS[-1]:
                    ph.done[batch_id] = time.perf_counter()
            return write

        def builder(name):
            dims = AGGS[name][0]

            def build(batch_df):
                touched = window_totals(batch_df, name).select("window_start", *dims)
                return window_totals(ph.hist, name).join(touched, ["window_start", *dims])
            return build

        return detail, {n: builder(n) for n in AGGS}, {n: agg_writer(n) for n in AGGS}

    def _run_phase(self, ph: Phase, seconds: float, tracer, min_steady_s: float) -> None:
        from bigdata_storage_and_proccess_job_data_spark.domain.schemas import RAW_POSTING_SCHEMA
        from bigdata_storage_and_proccess_job_data_spark.streaming import pipeline as stream

        spark = self.run.spark
        for name in ph.backlog:
            os.replace(os.path.join(ph.staged, name), os.path.join(ph.watch, name))
        detail, builders, writers = self._writers(ph, tracer)
        with tracer.span("stream.build"):
            src = stream.file_stream(spark, ph.watch, RAW_POSTING_SCHEMA, fmt="json")
            postings = prepare(src)
        t_start = time.perf_counter()
        stop = threading.Event()
        q = stream.fan_out_foreach_batch(postings, detail, builders, writers, ph.ckpt)
        try:
            with tracer.span("stream.phase_a"):
                q.processAllAvailable()
            n_a = len(q.recentProgress)
            # phase b fills what phase a left of the window, but never less
            # than MIN_STEADY_S, so the latency sample keeps its size
            steady_s = max(min_steady_s, seconds - (time.perf_counter() - t_start))
            with tracer.span("stream.phase_b"):
                if steady_s > 0:
                    gen_thread = threading.Thread(
                        target=ph.generate, args=(stop, time.perf_counter() + steady_s))
                    gen_thread.start()
                    gen_thread.join()
                    q.processAllAvailable()
            ph.progress = [p for p in q.recentProgress[n_a:] if p.numInputRows > 0]
        finally:
            stop.set()
            q.stop()
            if ph.hist is not None:
                ph.hist.unpersist()
        ph.batch_of = _batches_of_files(ph.ckpt)
        self.run.attempt(len(ph.done))
        ph.catchup_s = ph.done[max(ph.batch_of[f] for f in ph.backlog)] - t_start
        ph.latency = [ph.done[ph.batch_of[f]] - due for f, due in ph.due.items()]

    def measure(self, seconds: float, tracer) -> dict:
        ph = self.staged[len(self.phases)]
        self.phases.append(ph)
        self._run_phase(ph, seconds, tracer, MIN_STEADY_S)
        ends = sorted(ph.done.values())
        print("stream batch ends:", " ".join(f"{e - ends[0]:.2f}" for e in ends),
              "catch-up", f"{ph.catchup_s:.3f}")
        return {
            "stream_catchup_rows_per_s": (ph.backlog_rows / ph.catchup_s, "1/s"),
            "stream_latency_p50_s": (statistics.median(ph.latency), "s"),
            "stream_latency_p90_s": (quantile(ph.latency, 0.9), "s"),
            "stream_latency_samples": (len(ph.latency), "count"),
            "stream.generator_late_s": (max(ph.late), "s"),
        }

    def layers(self, tracer) -> dict:
        ph = self.phases[-1]
        prog = ph.progress
        trig = [p.durationMs.get("triggerExecution", 0) / 1e3 for p in prog]
        add = [p.durationMs.get("addBatch", 0) / 1e3 for p in prog]
        (span_b,) = tracer.named("stream.phase_b")
        live = {ph.batch_of[f] for f in ph.due}
        pending = 0
        for b in sorted(live):
            waiting = sum(1 for f, due in ph.due.items()
                          if due <= ph.done[b] and ph.batch_of[f] > b)
            pending = max(pending, waiting)
        out = {
            "stream.build_s": (tracer.named("stream.build")[0].duration, "s"),
            "stream.overhead_s": (statistics.median(t - a for t, a in zip(trig, add)), "s"),
            "stream.jobs_per_batch": (span_b.counters["jobs"] / len(live), "count"),
            "stream.batches": (len(live), "count"),
            "stream.trigger_s": (statistics.median(trig), "s"),
            "stream.add_batch_s": (statistics.median(add), "s"),
            "stream.rows_per_batch": (statistics.median(p.numInputRows for p in prog), "count"),
            "stream.generator_late_s": (max(ph.late), "s"),
            "stream.backlog_files_max": (pending, "count"),
        }
        for name in SINKS:
            spans = tracer.named(f"stream.sink.{name}")
            out[f"stream.sink_s.{name}"] = (statistics.median(sp.duration for sp in spans), "s")
        return out

    def check(self) -> None:
        self._check(self.warm, windows=False)  # its windows run the same code
        for ph in self.phases:
            self._check(ph, windows=True)

    def _check(self, ph: Phase, windows: bool) -> None:
        """Detail rows = valid rows delivered; the latest-wins window totals
        equal ``windowed_agg`` run in batch mode over the delivered input."""
        from bigdata_storage_and_proccess_job_data_spark.domain.schemas import RAW_POSTING_SCHEMA
        from bigdata_storage_and_proccess_job_data_spark.sources import lake

        spark = self.run.spark
        n_batches = len(ph.done)
        detail = pq.read_table(ph.sink_dir("detail"), columns=["job_id"]).num_rows
        if detail != ph.valid:
            self.run.fail(n_batches, f"{ph.tag}: detail rows {detail} != valid delivered {ph.valid}")
            return
        if not windows:
            return
        delivered = prepare(lake.read_json_lake(spark, ph.watch, RAW_POSTING_SCHEMA))
        for name, (dims, _) in AGGS.items():
            keys = ["window_start", *dims]
            got = lake.read_upserted(spark, ph.sink_dir(name), "upsert_id", "batch_id")
            got = {tuple(r[k] for k in keys): (r.postings, r.salary_sum)
                   for r in got.select(*keys, "postings", "salary_sum").collect()}
            want = {tuple(r[k] for k in keys): (r.postings, r.salary_sum)
                    for r in window_totals(delivered, name).collect()}
            if got.keys() != want.keys() or any(
                    got[k][0] != w[0] or not _close(got[k][1], w[1]) for k, w in want.items()):
                self.run.fail(n_batches, f"{ph.tag}/{name}: window totals differ from batch")
                return


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))
