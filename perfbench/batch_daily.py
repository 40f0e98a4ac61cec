"""The batch half of the dataflow workload: the reference batch v2 job for
one event date.

Each repetition runs ``read_json_lake -> normalize_raw -> batch_job`` and
writes the 7 sinks: the detail table through ``upsert_by_key`` and the 6
cubes through ``write_partitioned`` by ``report_date``. A repetition reads
its own hard-linked copy of the seeded JSON lake, so its plan is new and the
``enriched`` frame ``batch_job`` caches (and never releases) cannot serve a
later repetition; ``clearCache()`` is never called, so the leak shows in
``storage.cached_bytes`` and ``process.peak_rss_mb``.

``batch_s`` is the median time of a repetition, from input to all 7 sinks
committed.
"""

from __future__ import annotations

import itertools
import os
import statistics
import time

import duckdb
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.tracing import NullTracer

ROWS = 40_000
N_FILES = 8
WARM_REPS = 1
SINKS = ["jobs_detail", "company_stats", "location_stats", "category_experience_stats",
         "worktype_stats", "temporal_stats", "salary_distribution"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class BatchDaily:
    MIN_REPS = 3  # the median then skips the first, still-warming repetition

    @classmethod
    def layer_units(cls) -> dict:
        return {
            "storage.cached_bytes": "bytes",
            "domain.build_s": "s", "domain.normalize_s": "s", "domain.clean_s": "s",
            "domain.enrich_s": "s", "lake.read_s": "s", "dedup.shuffle_bytes": "bytes",
            **{f"lake.sink_s.{s}": "s" for s in SINKS},
            "lake.bytes_written": "bytes", "lake.files_written": "count",
            "batch.accounted_ratio": "ratio",
        }

    def __init__(self, run):
        self.run = run
        self._ids = itertools.count()
        self.last = ""  # output root of the latest repetition
        self.cached: list[int] = []

    def stage_inputs(self) -> None:
        self.base = self.run.path("input", "base")
        rows = gen.PostingGen(self.run.seed).batch_rows(ROWS)
        self.expected_detail = gen.expected_detail_rows(rows)
        gen.write_json_lake(self.base, rows, N_FILES)

    def warm_up(self) -> None:
        """Untimed full-size repetitions (outputs checked like the rest). The
        driver-side planning code is still being compiled after the first,
        so the first measured repetition runs slower; the median of
        MIN_REPS leaves it out."""
        for _ in range(WARM_REPS):
            self._repetition(NullTracer())

    def _input(self, i: int) -> str:
        dest = self.run.path("input", f"rep{i}")
        os.makedirs(dest)
        for name in os.listdir(self.base):
            os.link(os.path.join(self.base, name), os.path.join(dest, name))
        return dest

    def _repetition(self, tracer) -> float | None:
        """One repetition, timed; None when it raised (counted as failed)."""
        from bigdata_storage_and_proccess_job_data_spark.domain import pipeline as domain
        from bigdata_storage_and_proccess_job_data_spark.domain.schemas import RAW_POSTING_SCHEMA
        from bigdata_storage_and_proccess_job_data_spark.sources import lake

        spark = self.run.spark
        i = next(self._ids)
        src = self._input(i)
        out = self.run.path("lake", f"rep{i}")
        self.run.attempt()
        t0 = time.perf_counter()
        try:
            with tracer.span("batch.repetition"):
                with tracer.span("lake.read_json_lake"):
                    raw = lake.read_json_lake(spark, src, RAW_POSTING_SCHEMA)
                with tracer.span("domain.normalize_raw"):
                    postings = domain.normalize_raw(raw)
                with tracer.span("domain.batch_job"):
                    outputs = domain.batch_job(postings, gen.EVENT_DATE)
                for name, df in outputs.items():
                    dest = os.path.join(out, name)
                    with tracer.span(f"lake.sink.{name}"):
                        if name == "jobs_detail":
                            lake.upsert_by_key(spark, df, dest, key="job_id",
                                               version_col="listed_date")
                        else:
                            lake.write_partitioned(df, dest, ["report_date"])
        except Exception as exc:  # a failed operation is counted, the run goes on
            self.run.fail(1, f"repetition {i}: {exc!r}")
            return None
        wall = time.perf_counter() - t0
        self.cached.append(self.run.cached_bytes())
        self._check_rep(out)
        self.last = out
        return wall

    def _prefixes(self, tracer) -> None:
        """Force each lazy prefix of the chain with a noop sink, so a
        stage's self time is the difference of consecutive prefixes."""
        from bigdata_storage_and_proccess_job_data_spark.domain import pipeline as domain
        from bigdata_storage_and_proccess_job_data_spark.domain.schemas import RAW_POSTING_SCHEMA
        from bigdata_storage_and_proccess_job_data_spark.sources import lake

        raw = lake.read_json_lake(self.run.spark, self.base, RAW_POSTING_SCHEMA)
        with tracer.span("prefix.read"):
            _noop(raw)
        norm = domain.normalize_raw(raw)
        with tracer.span("prefix.normalize"):
            _noop(norm)
        clean = domain.clean_postings(norm)
        with tracer.span("prefix.clean"):
            _noop(clean)
        with tracer.span("prefix.enrich"):
            _noop(domain.enrich_postings(clean, gen.EVENT_DATE))

    def measure(self, seconds: float, tracer) -> dict:
        walls = []
        deadline = time.perf_counter() + seconds
        n = 0
        while time.perf_counter() < deadline or n < self.MIN_REPS:
            n += 1
            if tracer.enabled:
                self._prefixes(tracer)
            wall = self._repetition(tracer)
            if wall is not None:
                walls.append(wall)
        batch_s = statistics.median(walls)
        print("batch repetitions:", " ".join(f"{w:.3f}" for w in walls))
        return {
            "batch_s": (batch_s, "s"),
            "batch_samples": (len(walls), "count"),
            "batch_rows_per_s": (ROWS / batch_s, "1/s"),
            "storage.cached_bytes": (self.cached[-1], "bytes"),
        }

    def layers(self, tracer) -> dict:
        def per_rep(name: str) -> float:
            spans = tracer.named(name)
            return statistics.median(sp.duration for sp in spans)

        read, norm = per_rep("prefix.read"), per_rep("prefix.normalize")
        clean, enrich = per_rep("prefix.clean"), per_rep("prefix.enrich")
        out = {
            "storage.cached_bytes": (self.cached[-1], "bytes"),
            "domain.build_s": (per_rep("domain.batch_job") + per_rep("domain.normalize_raw"), "s"),
            "domain.normalize_s": (norm - read, "s"),
            "domain.clean_s": (clean - norm, "s"),
            "domain.enrich_s": (enrich - clean, "s"),
            "lake.read_s": (read, "s"),
            "dedup.shuffle_bytes": (statistics.median(
                sp.counters["shuffle_write_bytes"] for sp in tracer.named("prefix.clean")), "bytes"),
        }
        for s in SINKS:
            out[f"lake.sink_s.{s}"] = (per_rep(f"lake.sink.{s}"), "s")
        # the share of each repetition's wall time (less the tracer's own
        # boundary work) that its read, build and sink spans account for
        ratios = []
        for rep in tracer.named("batch.repetition"):
            inside = sum(sp.duration for sp in tracer.spans if sp.parent == rep.id)
            ratios.append(inside / (rep.duration - rep.tracer_s))
        out["batch.accounted_ratio"] = (statistics.median(ratios), "ratio")
        n_bytes = n_files = 0
        for dirpath, _, files in os.walk(self.last):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(dirpath, f))
        out["lake.bytes_written"] = (n_bytes, "bytes")
        out["lake.files_written"] = (n_files, "count")
        return out

    def _check_rep(self, out: str) -> None:
        """Detail rows = distinct valid job_ids; every cube's job_count sums
        to the detail row count. Read from the parquet files, no Spark job."""
        detail = pq.read_table(os.path.join(out, "jobs_detail")).num_rows
        if detail != self.expected_detail:
            self.run.fail(1, f"{out}: detail rows {detail} != {self.expected_detail}")
            return
        for name in SINKS[1:]:
            total = pq.read_table(os.path.join(out, name), columns=["job_count"])
            n = sum(v for v in total.column("job_count").to_pylist())
            if n != detail:
                self.run.fail(1, f"{out}/{name}: sum(job_count) {n} != {detail}")
                return

    def check(self) -> None:
        """Spot values of the last repetition against DuckDB over the same
        JSON: per-work-type counts and the five largest companies."""
        last = self.last
        con = duckdb.connect()
        con.execute(f"""
            CREATE VIEW winners AS
            SELECT * FROM (
              SELECT *, row_number() OVER (
                PARTITION BY job_id
                ORDER BY CAST(CAST(listed_time AS DOUBLE) AS BIGINT) DESC NULLS LAST, job_id
              ) AS rn
              FROM read_json('{self.base}/*.json', format='newline_delimited',
                columns={{job_id: 'VARCHAR', company_name: 'VARCHAR', title: 'VARCHAR',
                          listed_time: 'VARCHAR', work_type: 'VARCHAR',
                          formatted_work_type: 'VARCHAR'}})
            ) WHERE rn = 1 AND trim(coalesce(job_id, '')) <> ''
              AND trim(coalesce(company_name, '')) <> '' AND trim(coalesce(title, '')) <> ''
        """)
        want_wt = dict(con.execute(
            "SELECT upper(trim(coalesce(work_type, formatted_work_type))), count(*) "
            "FROM winners GROUP BY 1").fetchall())
        got = pq.read_table(os.path.join(last, "worktype_stats")).to_pylist()
        got_wt = {r["work_type_clean"]: r["job_count"] for r in got}
        if got_wt != want_wt:
            self.run.fail(1, f"worktype_stats {got_wt} != duckdb {want_wt}")
        want_co = con.execute(
            "SELECT upper(trim(company_name)) c, count(*) n FROM winners "
            "GROUP BY 1 ORDER BY n DESC, c LIMIT 5").fetchall()
        got = pq.read_table(os.path.join(last, "company_stats"),
                            columns=["company_name_clean", "job_count"]).to_pylist()
        got_co = {r["company_name_clean"]: r["job_count"] for r in got}
        for company, n in want_co:
            if got_co.get(company) != n:
                self.run.fail(1, f"company_stats[{company}] {got_co.get(company)} != duckdb {n}")
