"""``analytics``: the 18 headline queries over the repository's sf0.01 test lake.

The analyst's path: ``tables`` loads (with the warehouse re-layout and
bucketed fact tables ``bench.py`` turns on), ``plans`` builds each
query once, and the Spark engine executes it again and again through a
noop write. It never touches ``weather.*``.

The lake is a copy of the sf0.01 test lake the plans and their DuckDB
twins are checked against, kept in ``data/sf0.01`` so a run reads
nothing outside its checkout. The seed sets the order of the queries
in every pass.
"""

from __future__ import annotations

import glob
import os
import random
import sys
import time

from . import common

# bench.py's HEADLINE list, copied so an edit to bench.py cannot change
# this workload
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "customer_order_counts",
    "top_orders_per_customer",
    "events_daily_rollup_two_level",
    "events_forward_fill",
    "events_asof_view_before_purchase",
    "events_outcome_scoring",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_ann_lsh_hyperplane",
    "text_fingerprint_winnow",
    "q9_product_type_profit",
    "q21_waiting_suppliers",
    "orders_scd2_status_intervals",
    "decontam_ngram_overlap",
]

# The engine keeps getting faster over the first passes after the warm
# collect (the JVM compiles the hot generated code as it runs): passes
# 0-5 took 4.9, 3.6, 3.3, 3.2, 3.0, 3.1 s on 4 cores, then stayed near
# 2.8 s. Set-up runs the first passes untimed, off the steep part.
WARM_PASSES = 2

LAKE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def env() -> dict[str, str]:
    # bench.py's session profile: bucketed fact tables and the
    # multi-file warehouse re-layout
    return {"SPARK_GRAFT_BUCKETED": "1", "SPARK_GRAFT_WAREHOUSE": "1"}


class Analytics:
    """The headline queries, run in an order drawn from ``seed``."""

    iteration_s = 3.0  # baseline wall of a measured pass on 4 cores

    def __init__(self, seed: int, work: str, names: list[str] | None = None):
        self.seed, self.work = seed, work
        self.names = names or HEADLINE
        self.lake = LAKE
        self.frames = {}
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {n: [] for n in self.names}
        self.passes: list[float] = []
        self.setup_checks = len(self.names)
        self._roots: list[tuple] = []

    # -- layers --------------------------------------------------------

    def install(self, tracer) -> None:
        from noaa_data_pipeline_spark import tables

        tracer.wrap(tables, "_warehouse_copy", "tables.warehouse_build")
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("noaa_data_pipeline_spark") and (
                vars(mod).get("load_table") is tables.load_table
            ):
                tracer.wrap(mod, "load_table", "tables.load_table")

    # -- set-up --------------------------------------------------------

    def setup(self, spark, tracer) -> None:
        from noaa_data_pipeline_spark import tables
        from noaa_data_pipeline_spark.plans import scale

        import __spark_entry__ as entrymod

        # the program's re-layout caches land in the run's work dir
        self._roots = [(tables, "_WAREHOUSE_ROOT", tables._WAREHOUSE_ROOT),
                       (scale, "_BUCKET_ROOT", scale._BUCKET_ROOT)]
        tables._WAREHOUSE_ROOT = os.path.join(self.work, "warehouse")
        scale._BUCKET_ROOT = os.path.join(self.work, "bucketed")
        queries = entrymod.queries()
        for n in self.names:
            tracer.op = f"build:{n}"
            with tracer.span(f"plans.build.{n}", count_jobs=True):
                self.frames[n] = queries[n](spark, self.lake)
        oracles = entrymod.oracle_sql()
        self._check(oracles, tracer)
        for _ in range(WARM_PASSES):
            for n in self.names:
                self.frames[n].write.format("noop").mode("overwrite").save()

    def _check(self, oracles: dict[str, str], tracer) -> None:
        """Warm every frame once by collecting it, and compare the
        result with the query's DuckDB twin over the same files."""
        import duckdb

        from tools.check_correctness import frame_digest

        con = duckdb.connect()
        for path in self._tables():
            t = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for n in self.names:
            tracer.op = f"warm:{n}"
            with tracer.span(f"engine.warm_collect.{n}", count_jobs=True):
                df = self.frames[n]
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            res = con.execute(oracles[n])
            ocols, orows = [d[0] for d in res.description], res.fetchall()
            if sorted(cols) != sorted(ocols) or frame_digest(cols, rows)[0] != frame_digest(ocols, orows)[0]:
                self.failures.append(f"{n}: result differs from its DuckDB twin")
        con.close()

    # -- measured loop -------------------------------------------------

    def _tables(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.lake, "*.parquet")))

    def iteration(self, spark, tracer, i: int) -> tuple[int, int]:
        """One pass over the queries in a seeded order; returns
        (attempted, failed)."""
        order = list(self.names)
        random.Random(f"{self.seed}:pass:{i}").shuffle(order)
        t_pass = time.perf_counter()
        failed = 0
        for n in order:
            tracer.op = f"pass{i}:{n}"
            t0 = time.perf_counter()
            try:
                with tracer.span(f"engine.exec_noop_save.{n}", count_jobs=True):
                    self.frames[n].write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — a failed query is counted, the loop goes on
                failed += 1
                self.failures.append(f"{n}: {type(exc).__name__}: {exc}"[:300])
                continue
            self.samples[n].append(time.perf_counter() - t0)
        self.passes.append(time.perf_counter() - t_pass)
        return len(self.names), failed

    def finish(self, spark, tracer) -> tuple[int, int]:
        return 0, 0

    def close(self) -> None:
        for module, attr, value in self._roots:
            setattr(module, attr, value)
        self._roots = []

    # -- results -------------------------------------------------------

    def end_to_end(self, measured_s: float) -> dict[str, float]:
        per_query = [common.median(v) for v in self.samples.values() if v]
        all_ops = [x for v in self.samples.values() for x in v]
        import pyarrow.parquet as pq

        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in self._tables())
        relayout = sum(common.dir_stats(os.path.join(self.work, d))[1] for d in ("warehouse", "bucketed"))
        return {
            "pass_s": common.median(self.passes),
            "op_geomean_s": common.geomean(per_query),
            "op_p50_s": common.median(all_ops),
            "ops_per_s": len(all_ops) / measured_s,
            "lake_bytes_per_row": relayout / rows,
        }

    def detail(self, measured_s: float) -> dict:
        """The workload's own figures: the pass count and each query's
        median latency."""
        return {
            "query_geomean_s": common.geomean([common.median(v) for v in self.samples.values() if v]),
            "pass_s": common.median(self.passes),
            "passes": len(self.passes),
            "query_median_s": {n: common.median(v) for n, v in self.samples.items() if v},
        }

    def layers(self, spans: list[dict], traced: set) -> dict[str, float]:
        """Per-layer figures from the traced spans: set-up layers as
        totals, loop layers per pass."""
        from .trace import layer_totals

        setup, loop, n = layer_totals(spans, {"setup"}), layer_totals(spans, traced), len(traced)
        g = lambda t, k, f="self": t.get(k, {}).get(f, 0)  # noqa: E731
        out = {
            "tables.load_table_s": g(setup, "tables.load_table"),
            "tables.load_table_calls": g(setup, "tables.load_table", "calls"),
            "tables.warehouse_build_s": g(setup, "tables.warehouse_build"),
        }
        for q in self.names:
            out[f"plans.build_s.{q}"] = g(setup, f"plans.build.{q}")
            out[f"plans.side_jobs.{q}"] = g(setup, f"plans.build.{q}", "jobs")
            k = f"engine.exec_noop_save.{q}"
            out[f"engine.exec_s.{q}"] = g(loop, k) / n
            out[f"engine.jobs.{q}"] = g(loop, k, "jobs") / n
            out[f"engine.tasks.{q}"] = g(loop, k, "tasks") / n
        return out
