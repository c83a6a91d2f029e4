"""The benchmark's workloads.

Each is a closed loop with one client: an op is one call into the library
that runs to completion before the next starts. A pass runs every op of
the workload once.

- ``driver_panel``: queries whose driver-side construction, and the jobs
  it launches eagerly, carry most of the time.
- ``etl_upsert``: the EP1-EP3 epidemic pipelines, a backfill then daily
  upsert batches into one parquet warehouse.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time
from collections.abc import Callable

import gen
from check import Oracle, check_warehouse

#: (op name, kind, fn(spark, tracer)); kind "load" marks the ETL backfill
Op = tuple[str, str, Callable]


def span(tracer, layer: str, name: str):
    return tracer.span(layer, name) if tracer is not None else contextlib.nullcontext()


class DriverPanel:
    """``queries()`` entries over generated panel tables, each built then
    collected; the check compares the collected results.

    The tables come from ``gen.PANEL_SEED`` whatever the run's seed, which
    only orders the ops, so pinned digests stay valid across seeds.
    """

    OPS = [
        "e9_pq_topk", "e11_pq_portable", "e8_sq_topk", "jl1_random_projection",
        "pj1c_prefix_jaccard_capped", "er1_entity_resolution", "cc1_dup_clusters",
        "sps1_streaming_psi", "tp4_release_pipeline",
    ]
    #: the tables the ops read
    TABLES = ["customer", "documents", "embeddings", "events"]
    SF = 0.01
    LOAD_SCANS = 9

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data = os.path.join(work, "panel")
        self.outputs: dict = {}
        self.counts: dict[str, int] = {}
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def generate(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        self.counts = gen.write_panel(self.data, self.SF)

    def load(self, spark) -> list[float]:
        """Seconds to load the ops' input tables through the library's read
        path (``sources.readers.read_table``, the same parquet read as the
        queries' table helper): one full scan of each table to the noop
        sink, ``LOAD_SCANS`` times. Little library code runs here, so this
        is mostly Spark's parquet scan of the inputs. A load takes about
        half a second, so it runs after the timed phase, on a warm engine,
        and many times: a few loads in each set-up, still warming up,
        spread 31% over ten runs."""
        from etl_oms_spark.sources.readers import read_table

        times = []
        for _ in range(self.LOAD_SCANS):
            t0 = time.perf_counter()
            for t in self.TABLES:
                read_table(spark, self.data, t).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return times

    def sizes(self) -> dict:
        return {"sf": self.SF, "rows": self.counts, "ops": len(self.OPS)}

    def pass_ops(self, p: int) -> list[Op]:
        # The first pass keeps the listed order: ops share generated code
        # and compiled engine paths, so the op that runs first pays their
        # one-time costs, and a shuffled first pass would move that cost
        # between ops from run to run. Later passes are shuffled.
        order = list(self.OPS)
        if p > 0:
            random.Random(f"{self.seed}/{p}").shuffle(order)
        return [(n, "op", self._op(n)) for n in order]

    def _op(self, name: str) -> Callable:
        def run(spark, tracer):
            with span(tracer, "entry", name):
                df = self.queries[name](spark, self.data)
            with span(tracer, "exec", "toPandas"):
                self.outputs[name] = df.toPandas()

        return run

    def check(self, spark) -> dict[str, list[str]]:
        oracle = Oracle(self.data, list(self.counts))
        problems = {}
        try:
            for name in self.OPS:
                if name not in self.outputs:
                    continue  # never completed: already counted as failed
                found = oracle.check(name, self.outputs[name], self.oracles.get(name))
                if found:
                    problems[name] = found
        finally:
            oracle.close()
        return problems


class EtlUpsert:
    """Backfill then daily upsert batches through the EP1-EP3 pipelines.

    A pass is one backfill into an empty warehouse followed by
    ``BATCHES`` daily batches onto it. Each pipeline call is an op: the
    backfill's three (``ep1_long``, ``ep2_star``, ``ep3_backfill``) are
    the load, and every daily batch is a sample of one op, ``batch``.
    """

    BATCHES = 3

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "etl-in")
        self.bilans: list[tuple[str, str, dict, dict]] = []
        self.batch_keys: list[int] = []
        self.target_keys: list[int] = []
        self.truth: dict = {}
        self.files = 0
        self.last_target = ""

    def generate(self) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        g = gen.EpidemicGenerator(self.seed)
        self.backfill_bilan = g.write_backfill(os.path.join(self.inputs, "backfill"))
        self.batch_bilans = []
        self.batch_keys, self.target_keys = [], []
        for k in range(self.BATCHES):
            bilan, keys = g.write_batch(os.path.join(self.inputs, f"batch{k:03d}"), k)
            self.batch_bilans.append(bilan)
            self.batch_keys.append(keys)
            self.target_keys.append(len(g.truth))
        self.truth = dict(g.truth)
        self.files = sum(len(f) for _r, _d, f in os.walk(self.inputs))

    def load(self, spark) -> list[float]:
        """The ETL's load is its backfill, measured in the timed phase."""
        return []

    def sizes(self) -> dict:
        g = gen.EpidemicGenerator
        return {"countries": g.COUNTRIES, "mpox_countries": g.MPOX_COUNTRIES,
                "territories": g.TERRITORIES, "backfill_days": g.BACKFILL_DAYS,
                "batches": self.BATCHES, "files": self.files,
                "warehouse_keys": len(self.truth)}

    def pass_ops(self, p: int) -> list[Op]:
        base = os.path.join(self.work, f"etl-pass{p}")
        shutil.rmtree(base, ignore_errors=True)
        target = os.path.join(base, "warehouse")
        self.last_target = target
        return [
            ("ep1_long", "load", self._ep1(base)),
            ("ep2_star", "load", self._ep2(base)),
            ("ep3_backfill", "load", self._ep3(target)),
        ] + [("batch", "op", self._batch(k, target)) for k in range(self.BATCHES)]

    def _ep1(self, base: str) -> Callable:
        from etl_oms_spark.plans.pipelines import long_format_pipeline
        from etl_oms_spark.sources.readers import read_csv

        src = os.path.join(self.inputs, "backfill", "covid_global_3.csv")

        def run(spark, tracer):
            long = long_format_pipeline(read_csv(spark, src), "COVID-19")
            with span(tracer, "exec", "write.long"):
                long.write.mode("overwrite").parquet(os.path.join(base, "long"))

        return run

    def _ep2(self, base: str) -> Callable:
        from etl_oms_spark.plans.pipelines import star_schema_pipeline
        from etl_oms_spark.sources.readers import read_csv

        src = os.path.join(self.inputs, "backfill", "covid_global_3.csv")

        def run(spark, tracer):
            star = star_schema_pipeline(read_csv(spark, src), "COVID-19")
            with span(tracer, "exec", "write.star"):
                for name, table in star.items():
                    table.write.mode("overwrite").parquet(os.path.join(base, "star", name))

        return run

    def _ep3(self, target: str) -> Callable:
        from etl_oms_spark.plans.pipelines import warehouse_directory_to_parquet

        src = os.path.join(self.inputs, "backfill")

        def run(spark, tracer):
            _, bilan = warehouse_directory_to_parquet(spark, src, target)
            self.bilans.append(("ep3_backfill", "", bilan, self.backfill_bilan.as_dict()))

        return run

    def _batch(self, k: int, target: str) -> Callable:
        from etl_oms_spark.plans.pipelines import warehouse_directory_to_parquet

        src = os.path.join(self.inputs, f"batch{k:03d}")

        def run(spark, tracer):
            if tracer is not None:  # for merge_table.write_amp
                tracer.annotate(batch_keys=self.batch_keys[k], target_keys=self.target_keys[k])
            _, bilan = warehouse_directory_to_parquet(spark, src, target)
            self.bilans.append(("batch", f"batch{k:03d} ", bilan, self.batch_bilans[k].as_dict()))

        return run

    def check(self, spark) -> dict[str, list[str]]:
        problems: dict[str, list[str]] = {}
        for op, which, got, want in self.bilans:
            if got != want:
                problems.setdefault(op, []).append(f"{which}bilan {got} != {want}")
        found = check_warehouse(self.last_target, self.last_target + "__dims", self.truth)
        if found:
            problems["*"] = found
        return problems


WORKLOADS = {"driver_panel": DriverPanel, "etl_upsert": EtlUpsert}
