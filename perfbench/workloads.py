"""The benchmark's workloads. Each is a closed loop with one client.

An op is the unit whose latency is reported: one registry key for
``key_queries``, one simulated hour for ``hourly_dag``. Every op is
recorded as a list of contiguous spans ``(module, phase, t0, t1)`` in
wall-clock seconds, taken around calls into the package's public
functions, so an op's phase times add up to its wall time and the
traced run can map Spark jobs onto them.
"""

from __future__ import annotations

import glob
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from time import time as now

from . import checks, datagen

# One key for each package module the key workload measures, with that
# module: the plan-heavy dashboard side (TPC-H, KPI, temporal windows)
# and the construction-heavy LLM-data side. Iterative graph keys
# (orders_kcore: 2-3 s warm, 5 s cold, and the noisiest op) would cost
# more than a run can spend.
KEY_QUERIES = {
    "tpch_q6_forecast_revenue": "operators.tpch_extra",
    "tpch_q1_pricing_summary": "operators.analytics",
    "kpi_weight_distribution": "operators.kpi",
    "events_interarrival_stats": "operators.temporal",
    "docs_exact_dedup": "llm.dedup",
    "docs_fingerprint": "llm.text",
    "docs_split_assign": "llm.curation",
    "emb_label_centroids": "llm.similarity",
    "multimodal_resize": "llm.multimodal",
}

# Modules of the hourly DAG's steps, in step order.
HOUR_STEPS = [
    ("land", "sources.generator"),
    ("ingest", "streaming.ingest"),
    ("stream_to_minio", "orchestration"),
    ("load_to_duckdb", "sources.bronze"),
    ("data_quality_check", "operators.quality"),
    ("dbt_transform", "pipeline.transform"),
    ("dbt_test", "operators.schema_tests"),
    ("dashboards", "dashboards"),
    ("write_gold", "pipeline.write_gold"),
]
_STEP_MODULE = dict(HOUR_STEPS)


@dataclass
class OpSample:
    op: str
    spans: list[tuple[str, str, float, float]] = field(default_factory=list)
    error: str | None = None

    @property
    def wall(self) -> float:
        return self.spans[-1][3] - self.spans[0][2] if self.spans else 0.0


def _noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class KeyQueries:
    """Registry keys against seeded tables, one pass = every key once in
    a seed-shuffled order. The session's silver and shared-asset caches
    stay warm across passes, as in a long-lived serving session."""

    name = "key_queries"
    python_workers = True
    # A pass is short (about 4.5 s on 4 CPUs) and mostly driver time, so a
    # burst of host CPU contention can slow one pass by half; the median
    # of three passes skips one such pass.
    MIN_PASSES = 3
    stats = ()  # no per-op counts beyond the spans
    SCALE = 1.0  # × datagen.BASE_ROWS

    def __init__(self, seed: int, scratch: str):
        self.seed = seed
        self.data_dir = os.path.join(scratch, "data")
        self.rows = datagen.write_tables(self.data_dir, seed, self.SCALE)
        from logistics_data_pipeline_spark import registry

        self.registry = registry
        self.fns = {k: registry.queries()[k] for k in KEY_QUERIES}
        self.expected: dict | None = None
        self.passes = 0

    def collect(self, spark) -> tuple[dict[str, float], dict, dict[str, str]]:
        """Each key once, collected: (seconds per key, outputs, errors)."""
        times, outputs, errors = {}, {}, {}
        for key, fn in self.fns.items():
            t0 = now()
            try:
                outputs[key] = fn(spark, self.data_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 — counted as a failed op
                errors[key] = f"{type(exc).__name__}: {exc}"[:500]
            times[key] = now() - t0
        return times, outputs, errors

    first_execution = collect

    def check(self, spark, outputs: dict) -> dict[str, list[str]]:
        """The first execution's outputs, and every key collected once
        more in the warm state the timed passes ran in (kept layers and
        shared assets reused), each against its oracle."""
        _, warm, errors = self.collect(spark)
        if self.expected is None:  # the inputs never change within a run
            self.expected = checks.oracle_frames(
                self.fns, self.registry.oracle_sql(), self.data_dir
            )
        out = {f"first:{k}": v for k, v in checks.check_keys(outputs, self.expected).items()}
        out.update((f"warm:{k}", v) for k, v in checks.check_keys(warm, self.expected).items())
        out.update((f"warm:{k}", [e]) for k, e in errors.items())
        return out

    def timed_pass(self, spark) -> list[OpSample]:
        order = list(self.fns)
        random.Random(self.seed * 7919 + self.passes).shuffle(order)
        self.passes += 1
        samples = []
        for key in order:
            mod = KEY_QUERIES[key]
            s = OpSample(key)
            t0 = now()
            try:
                df = self.fns[key](spark, self.data_dir)
                t1 = now()
                df._jdf.queryExecution().executedPlan()
                t2 = now()
                _noop_write(df)
                t3 = now()
                s.spans = [(mod, "construct", t0, t1), (mod, "plan", t1, t2), (mod, "exec", t2, t3)]
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                s.spans = [(mod, "error", t0, now())]
                s.error = f"{type(exc).__name__}: {exc}"[:500]
            samples.append(s)
        self.registry.clear_session_caches(spark)
        return samples

    def settle(self, spark) -> None:
        """Nothing to count outside the timed passes."""

    def reset(self, spark) -> None:
        self.registry.clear_session_caches(spark, keep_layers=False)


@dataclass
class Warehouse:
    root: str
    table: str
    landing: str = ""
    bronze: str = ""
    checkpoint: str = ""
    gold: str = ""
    hours: int = 0
    landed_bytes: int = 0
    bronze_rows: int = 0
    table_rows: int = 0
    stats: list[dict] = field(default_factory=list)

    def __post_init__(self):
        for d in ("landing", "bronze", "checkpoint", "gold"):
            setattr(self, d, os.path.join(self.root, d))
        os.makedirs(self.landing, exist_ok=True)


class HourlyDag:
    """The reference pipeline hour after hour: land a seeded batch (plus
    redeliveries of the previous hour) as JSON, stream it into bronze
    with one checkpoint for the whole run, run the five-task DAG, collect
    both dashboards and write the gold tables. The warehouse grows every
    hour.

    Set-up runs hour 0 of a fresh warehouse in full: the first load
    creates the bronze table, and the DQ gate, star build, schema tests,
    dashboards and gold write run once, so their first-execution cost is
    paid there. Every timed hour is then warm and takes the incremental
    path: the stream drops the previous hour's redeliveries and the load
    inserts by anti-join."""

    name = "hourly_dag"
    python_workers = False
    MIN_PASSES = 1  # an hour takes about 20 s; a second one does not fit the budget
    EVENTS_PER_HOUR = 2000
    REDELIVERED = 100
    AS_OF_DATE = "2026-01-01"
    CLOCK_BASE = "2026-01-01 00:00:00"

    def __init__(self, seed: int, scratch: str):
        self.seed = seed
        self.scratch = scratch
        # synthetic_events hashes ids as id * 2654435761 in a signed
        # 64-bit long, so ids must stay below ~3.4e9.
        self.id_base = (seed % 30_000) * 100_000
        self.charts: dict[tuple[str, int], dict] = {}
        self.warehouses: list[Warehouse] = []
        self.checked: set[str] = set()
        self.wh: Warehouse | None = None
        self.unsettled: list[dict] = []  # stats of hours not yet counted

    def new_warehouse(self, tag: str) -> None:
        self.wh = Warehouse(os.path.join(self.scratch, f"wh_{tag}"), f"raw_logistics_{tag}")
        self.warehouses.append(self.wh)

    @property
    def stats(self) -> list[dict]:
        """Counts of every settled hour of the current warehouse."""
        return self.wh.stats if self.wh else []

    def first_execution(self, spark) -> tuple[dict[str, float], dict, dict[str, str]]:
        """Hour 0 of a fresh warehouse, the whole DAG."""
        self.new_warehouse(f"s{len(self.warehouses)}")
        s = self.hour(spark)
        return {s.op: s.wall}, {}, ({s.op: s.error} if s.error else {})

    def timed_pass(self, spark) -> list[OpSample]:
        return [self.hour(spark)]

    def reset(self, spark) -> None:
        from logistics_data_pipeline_spark import registry

        registry.clear_session_caches(spark, keep_layers=False)

    def _land(self, spark, h: int) -> int:
        from pyspark.sql import functions as F

        from logistics_data_pipeline_spark.sources.generator import synthetic_events

        n = self.EVENTS_PER_HOUR
        ev = synthetic_events(spark, n, start=self.id_base + h * n)
        if h:
            ev = ev.unionByName(
                synthetic_events(spark, self.REDELIVERED, start=self.id_base + (h - 1) * n)
            )
        stage = os.path.join(self.wh.root, f"stage_{h}")
        ev.select(F.to_json(F.struct(*ev.columns)).alias("value")).write.text(stage)
        landed = 0
        for p in sorted(glob.glob(os.path.join(stage, "part-*"))):
            dst = os.path.join(self.wh.landing, f"h{h:04d}-{os.path.basename(p)}")
            landed += os.path.getsize(p)
            os.rename(p, dst)
        return landed

    def hour(self, spark) -> OpSample:
        from logistics_data_pipeline_spark.streaming.ingest import (
            bronze_sink,
            text_replay_source,
        )

        wh, h = self.wh, self.wh.hours
        clock = datetime.fromisoformat(self.CLOCK_BASE) + timedelta(hours=h)
        s = OpSample(f"hour{h}")
        bounds: list[tuple[str, float]] = []  # (step, start time)
        stat = {"hour": h}

        def mark(step: str) -> None:
            bounds.append((step, now()))

        try:
            mark("land")
            wh.landed_bytes += self._land(spark, h)
            stat["landed_rows"] = self.EVENTS_PER_HOUR + (self.REDELIVERED if h else 0)

            mark("ingest")
            q = bronze_sink(text_replay_source(spark, wh.landing), wh.bronze, wh.checkpoint)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"ingest stream failed: {q.exception()}")

            self._dag_and_outputs(spark, wh, h, clock, mark)
            mark("end")
        except Exception as exc:  # noqa: BLE001 — a failed hour is counted, not fatal
            mark("end")
            s.error = f"{type(exc).__name__}: {exc}"[:800]
        s.spans = [
            (_STEP_MODULE.get(step, "orchestration"), step, t0, t1)
            for (step, t0), (_, t1) in zip(bounds, bounds[1:])
        ]
        wh.hours += 1
        if s.error is None:
            self.unsettled.append(stat)
        return s

    def settle(self, spark) -> None:
        """Counts of the hour just run, taken outside every timed span:
        rows the stream kept, rows the load inserted, gold bytes."""
        wh = self.wh
        for stat in self.unsettled:
            bronze_total = _parquet_rows(os.path.join(wh.bronze, "*.parquet"))
            stat["kept_rows"] = bronze_total - wh.bronze_rows
            rows_before = wh.table_rows
            wh.table_rows = spark.table(wh.table).count()
            stat["inserted_rows"] = wh.table_rows - rows_before
            stat["bronze_rows_read"] = wh.bronze_rows = bronze_total
            stat["gold_bytes"] = _dir_bytes(wh.gold)
            stat["landed_bytes"] = wh.landed_bytes
            wh.stats.append(stat)
        self.unsettled.clear()

    def _dag_and_outputs(self, spark, wh: Warehouse, h: int, clock, mark) -> None:
        """The five-task DAG, both dashboards (collected) and the gold
        write; ``mark(step)`` opens each step's span."""
        from logistics_data_pipeline_spark import dashboards, orchestration, pipeline

        tasks = orchestration.build_pipeline_tasks(
            spark, f"{wh.bronze}/*.parquet", self.AS_OF_DATE, clock, table_name=wh.table
        )

        def timed(task_id, fn):
            def run():
                mark(task_id)
                return fn()

            return run

        retries: list[float] = []
        run = orchestration.run_dag(
            [(tid, timed(tid, fn)) for tid, fn in tasks], sleep=retries.append
        )
        if not run.succeeded or retries:
            states = [(t.task_id, t.state, t.attempts, repr(t.error)[:300]) for t in run.tasks]
            raise RuntimeError(f"DAG run failed or retried: {states}")

        mark("dashboards")
        charts = dashboards.business_kpi_dashboard(
            spark.table("fact_event"),
            spark.table("dim_carrier"),
            spark.table("dim_location"),
            spark.table("dim_status"),
        ) + dashboards.monitoring_dashboard(
            spark.table(wh.table), spark.table("dq_invalid_delivery_summary")
        )
        self.charts[(wh.table, h)] = {c.chart_id: c.df.toPandas() for c in charts}

        mark("write_gold")
        pipeline.write_gold(
            {
                n: spark.table(n)
                for n in (
                    "fact_event",
                    "stg_logistics_events",
                    "dim_time",
                    "dim_location",
                    "dim_status",
                    "dim_carrier",
                    "dim_order",
                    "dq_invalid_delivery_summary",
                )
            },
            wh.gold,
        )

    def check(self, spark, outputs: dict) -> dict[str, list[str]]:
        """Per warehouse: the stored rows are exactly the distinct
        generated events, the stream dropped exactly the redeliveries,
        and every hour's dashboards equal DuckDB over the landed files."""
        from pyspark.sql import functions as F

        out: dict[str, list[str]] = {}
        for wh in self.warehouses:
            if wh.table in self.checked:
                continue  # checked in its own session; the catalog is gone
            self.checked.add(wh.table)
            problems = []
            expected = wh.hours * self.EVENTS_PER_HOUR
            if not spark.catalog.tableExists(wh.table):
                out[f"{wh.table}:rows"] = [f"bronze table {wh.table} was never created"]
                continue
            row = spark.table(wh.table).agg(
                F.count("*").alias("n"), F.countDistinct("event_id").alias("d")
            ).first()
            if row.n != expected or row.d != expected:
                problems.append(
                    f"stored {row.n} rows / {row.d} distinct event_ids, "
                    f"generated {expected} distinct"
                )
            for st in wh.stats:
                if st["kept_rows"] != self.EVENTS_PER_HOUR:
                    problems.append(
                        f"hour {st['hour']}: stream kept {st['kept_rows']} of "
                        f"{st['landed_rows']} landed, expected {self.EVENTS_PER_HOUR}"
                    )
            out[f"{wh.table}:rows"] = problems
            for h in range(wh.hours):
                charts = self.charts.get((wh.table, h))
                out[f"{wh.table}:hour{h}:dashboards"] = (
                    [f"hour {h}: no dashboards collected"]
                    if charts is None
                    else checks.check_dashboards(charts, wh.landing, h, self.CLOCK_BASE)
                )
        return out


def _parquet_rows(pattern: str) -> int:
    """Rows in the parquet files matching ``pattern``, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in glob.glob(pattern))


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
