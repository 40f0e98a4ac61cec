"""query_mix: the 27 headline entries, closed loop, one client.

The entries are ``registry.headline_queries()`` plus
``bench_probes.bench_probes()``, over star-schema tables generated at
``SF`` = 0.003 (lineitem ~18k rows). At that size every table is one file, so
``bench.py``'s multi-file mirror (``ensure_lake``) would be a plain copy and
is not built; the probes' layouts are (``ensure_*``), as set-up. Passes run
round-robin while one more pass fits the window; each entry is timed from
the query function call (plan build, including eager operator work) through
its noop sink. An operation is one entry execution: ``op_p50_s`` and ``op_p90_s`` are
taken over every execution, and ``work_s`` (printed as ``query_mix_s``) is
the sum of the per-entry medians, comparable with ``bench.py``'s ``value``.
"""

from __future__ import annotations

import math
import statistics
import time
import types
from concurrent.futures import ThreadPoolExecutor

from perfbench import gen
from perfbench.run import quantile

SF = 0.003
TWINS = [("join_hot_naive", "join_hot_split"), ("skew_distinct_naive", "skew_distinct_spread"),
         ("full_agg_recompute", "incr_agg_refresh")]
# entries (besides the versioned module's) that read a probe layout
LAYOUT_READERS = ["point_lookup_lineitem", "incr_agg_refresh", "full_agg_recompute"]
# operator module -> entries whose plans run through it
MODULES = {
    "aggregates": ["skew_distinct_spread", "kmv_zipf_build", "incr_agg_refresh",
                   "full_agg_recompute", "company_stats_v2", "location_stats"],
    "graph": ["graph_triangles"],
    "similarity": ["knn_lsh", "knn_lsh_probed"],
    "neardup": ["minhash_near_dups"],
    "versioned": ["version_prune_orders", "version_bloom_lookup", "cow_delete_clustered",
                  "cow_delete_fragmented"],
    "joins": ["join_hot_split"],
    "rangejoin": ["range_join_incidents"],
    "spatial": ["geo_self_pairs"],
}


def entry_names() -> list[str]:
    from bigdata_storage_and_proccess_job_data_spark.plans import bench_probes, registry

    return [*registry.headline_queries(), *bench_probes.bench_probes()]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryMix:
    @classmethod
    def layer_units(cls) -> dict:
        units = {}
        for name in entry_names():
            units[f"query.{name}.build_s"] = "s"
            units[f"query.{name}.exec_s"] = "s"
        units.update({f"{m}.shuffle_bytes": "bytes" for m in MODULES})
        units["query.scan_rows"] = "count"
        return units

    def __init__(self, run):
        self.run = run

    def setup(self) -> None:
        from bigdata_storage_and_proccess_job_data_spark.plans import bench_probes, registry

        spark = self.run.spark
        self.sf_dir = self.run.path("sf")
        gen.write_star_tables(self.sf_dir, SF, self.run.seed)
        self.run.mark("inputs")
        self.entries = {name: qd.fn for name, qd in registry.headline_queries().items()}
        self.entries.update(bench_probes.bench_probes())
        self.oracles = {name: qd.oracle for name, qd in registry.headline_queries().items()}
        self.oracles["skew_distinct_naive"] = self.oracles["skew_distinct_spread"]
        self.executions = dict.fromkeys(self.entries, 0)
        # The probes' layouts (the versioned table alone is ten commits and an
        # OPTIMIZE) build on a second thread while the warm-up pass runs the
        # entries that do not read them, one at a time as the measured passes
        # will; their readers run once they are built. The first calls build
        # the probes' remaining state; entries with an oracle or a twin are
        # collected for check().
        checked = {*self.oracles, *(n for pair in TWINS for n in pair)}
        self.results = {}
        later = [*MODULES["versioned"], *LAYOUT_READERS]
        with ThreadPoolExecutor(1) as builds:
            layouts = builds.submit(self._layouts, bench_probes)
            for name in [n for n in self.entries if n not in later] + later:
                if name == later[0]:
                    layouts.result()
                df = self.entries[name](spark, self.sf_dir)
                if name in checked:
                    self.results[name] = df.toArrow()
                else:
                    _noop(df)
        self.run.mark("warmup")

    def _layouts(self, bench_probes) -> None:
        for ensure in (bench_probes.ensure_versioned_table, bench_probes.ensure_layouts,
                       bench_probes.ensure_ivm_state):
            ensure(self.run.spark, self.sf_dir)

    def _pass(self, tracer) -> dict[str, float]:
        spark = self.run.spark
        times = {}
        for name, fn in self.entries.items():
            self.run.attempt()
            self.executions[name] += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(f"query.{name}.build"):
                    df = fn(spark, self.sf_dir)
                with tracer.span(f"query.{name}.exec"):
                    _noop(df)
            except Exception as exc:  # a failed execution is counted, the pass goes on
                self.run.fail(1, f"{name}: {exc!r}")
                continue
            times[name] = time.perf_counter() - t0
        return times

    def measure(self, seconds: float, tracer) -> dict:
        samples: dict[str, list[float]] = {name: [] for name in self.entries}
        t0 = time.perf_counter()
        last = 0.0
        passes = 0
        with tracer.span("measure"):
            # a pass starts only if a pass as long as the last one still fits
            while not last or time.perf_counter() + last < t0 + seconds:
                t_pass = time.perf_counter()
                with tracer.span("query.pass"):
                    for name, t in self._pass(tracer).items():
                        samples[name].append(t)
                last = time.perf_counter() - t_pass
                passes += 1
        window = time.perf_counter() - t0
        print("query medians:", " ".join(
            f"{n}={statistics.median(ts):.3f}" for n, ts in samples.items() if ts))
        every = [t for ts in samples.values() for t in ts]
        mix_s = sum(statistics.median(ts) for ts in samples.values() if ts)
        return {
            "op_p50_s": statistics.median(every),
            "op_p90_s": quantile(every, 0.9),
            "work_s": mix_s,
            "ops_per_s": len(every) / window,
            "named": {
                "query_mix_s": (mix_s, "s"),
                "query_p50_s": (statistics.median(every), "s"),
                "query_p90_s": (quantile(every, 0.9), "s"),
                "query_samples": (len(every), "count"),
                "query_passes": (passes, "count"),
            },
        }

    def layers(self, tracer) -> dict:
        out = {}
        for name in self.entries:
            for part in ("build", "exec"):
                spans = tracer.named(f"query.{name}.{part}")
                out[f"query.{name}.{part}_s"] = (statistics.median(sp.duration for sp in spans), "s")
        n_pass = len(tracer.named("query.pass"))
        for module, names in MODULES.items():
            total = sum(sp.counters["shuffle_write_bytes"] for name in names
                        for part in ("build", "exec") for sp in tracer.named(f"query.{name}.{part}"))
            out[f"{module}.shuffle_bytes"] = (total / n_pass, "bytes")
        rows = sum(sp.counters["input_records"] for sp in tracer.named("query.pass"))
        out["query.scan_rows"] = (rows / n_pass, "count")
        return out

    def check(self) -> None:
        """Oracle SQL through DuckDB (tests/parity.py) and equal results for
        each measured twin pair, on the warm-up pass's outputs. A mismatch
        fails every execution of the entry."""
        from tests.parity import compare, duckdb_connect

        con = duckdb_connect(self.sf_dir)
        for name, sql in self.oracles.items():
            result = types.SimpleNamespace(toArrow=lambda t=self.results[name]: t)
            problems = compare(result, con, sql)
            if problems:
                self.run.fail(self.executions[name], f"{name}: {problems[:3]}")
        for a, b in TWINS:
            if not _same(_canonical(self.results[a]), _canonical(self.results[b])):
                self.run.fail(self.executions[a] + self.executions[b], f"twins {a} != {b}")


def _canonical(table) -> list[tuple]:
    rows = (tuple(r.values()) for r in table.to_pylist())
    return sorted(rows, key=lambda r: tuple(map(str, r)))


def _same(ra: list[tuple], rb: list[tuple]) -> bool:
    """Equal up to float summation order (relative 1e-9)."""
    if len(ra) != len(rb):
        return False
    for x, y in zip(ra, rb):
        if len(x) != len(y):
            return False
        for u, v in zip(x, y):
            if isinstance(u, float) and isinstance(v, float):
                if not math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif u != v:
                return False
    return True
