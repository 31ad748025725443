"""Benchmark of the logistics pipeline package.

    python3 perfbench/run.py --workload {hourly_dag,key_queries} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. One run, in one process:

1. pins the environment: ``local[nproc]``, a driver heap that fits the
   host, the repository on the workers' ``PYTHONPATH``, UTC, and a fresh
   scratch directory (warehouse, Spark local dirs, temp files) that is
   deleted at exit;
2. generates the workload's inputs from the seed;
3. sets up once: session start, warm-up and the untimed first execution
   of every op (``setup_s``). One set-up costs 30-50 s on a 4-CPU host,
   so a run cannot afford several within the benchmark's time budget;
4. runs timed passes until ``--seconds`` have elapsed (at least one);
5. checks the outputs (``checks.py``); a wrong output is a failed op.

With ``--trace 1`` the run sets up in the cold JVM without timed
passes, then goes on with two more Spark contexts in the now warm JVM,
a reference one and one with the event log on, each repeating set-up
and the timed passes. It reports per-layer metrics: span times per
module from this harness and Spark job, task, shuffle and spill totals
from the event log, attributed to ops by time window (``eventlog.py``).
The tracing overhead is the traced minus the reference pass time.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
holding the end-to-end metrics (trace 0) or the per-layer ones (trace 1).
Details (every op, every setup cycle, the host sentinel) go to stderr as
``PERFBENCH_DETAIL {...}`` and to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

now = time.time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "logistics_data_pipeline_spark"

# Modules whose per-layer metrics are reported, by workload family.
DAG_MODULES = [
    "sources.generator",
    "streaming.ingest",
    "orchestration",
    "sources.bronze",
    "operators.quality",
    "pipeline.transform",
    "operators.schema_tests",
    "dashboards",
    "pipeline.write_gold",
]
KEY_MODULES = [
    "operators.tpch_extra",
    "operators.analytics",
    "operators.kpi",
    "operators.temporal",
    "llm.dedup",
    "llm.text",
    "llm.curation",
    "llm.similarity",
    "llm.multimodal",
]
E2E_UNITS = {"setup_s": "s", "pass_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in output order."""
    units = {
        "session.start_s": "s",
        "session.warm_s": "s",
        "registry.cold_extra_s": "s",
        "registry.storage_mb": "MB",
        "process.peak_rss_mb": "MB",
        "trace.overhead_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.task_s": "s",
        "spark.gc_share": "ratio",
        "spark.shuffle_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.driver_only_s": "s",
        "ops.p50_s": "s",
        "ops.construct_share": "ratio",
        "ops.plan_share": "ratio",
        "ops.exec_share": "ratio",
        "dag.events_per_s": "1/s",
        "streaming.ingest.rows_kept_ratio": "ratio",
        "sources.bronze.rows_inserted_ratio": "ratio",
        "pipeline.write_gold.bytes_per_input_byte": "ratio",
        "run.failed_ratio": "ratio",
        "host.load1_start": "load",
        "host.load1_end": "load",
        "host.calib_start_s": "s",
        "host.calib_end_s": "s",
    }
    for m in DAG_MODULES + KEY_MODULES:
        units[f"{m}.share"] = "ratio"
        units[f"{m}.jobs"] = "count"
        units[f"{m}.shuffle_mb"] = "MB"
        units[f"{m}.driver_only_share"] = "ratio"
    for m in KEY_MODULES:
        units[f"{m}.construct_share"] = "ratio"
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_env(scratch: str) -> None:
    """Environment for the driver JVM and the Python workers; must run
    before pyspark starts the JVM."""
    from perfbench import host

    tmp, local = os.path.join(scratch, "tmp"), os.path.join(scratch, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(host.nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = host.driver_memory()
    os.environ.pop("SPARK_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: no hsperfdata files in the system temp dir
    java_opts = f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}"),
            "--conf", shlex.quote(f"spark.local.dir={local}"),
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
            "pyspark-shell",
        ]
    )
    time.tzset()


def start_session(app: str, event_log_dir: str | None = None):
    """A new Spark session. The first call launches the JVM; later calls
    stop the active context and start another in the same JVM, with the
    event log switched on or off through JVM system properties (read by
    every new SparkConf), so the package's ``get_spark`` is used as is."""
    from pyspark import SparkContext

    from logistics_data_pipeline_spark.session import get_spark

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if SparkContext._jvm is not None:
        props = SparkContext._jvm.System
        props.setProperty("spark.eventLog.enabled", "true" if event_log_dir else "false")
        if event_log_dir:
            props.setProperty("spark.eventLog.compress", "false")
            props.setProperty("spark.eventLog.dir", f"file://{event_log_dir}")
    return get_spark(app)


def warm(spark, python_workers: bool) -> None:
    """One shuffle query, plus one pass through the Python workers when
    the workload uses them."""
    n = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(0, 20000, numPartitions=n).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    if python_workers:
        spark.range(0, 64, numPartitions=n).mapInPandas(
            lambda it: it, schema="id long"
        ).write.mode("overwrite").format("noop").save()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None


def shutdown_spark() -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as exc:  # noqa: BLE001 — the JVM may already be gone
        print(f"perfbench: gateway shutdown: {exc}", file=sys.stderr)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


def median(xs):
    return statistics.median(xs) if xs else 0.0


@dataclass
class Round:
    """One Spark context's share of a run."""

    start_s: float
    warm_s: float
    first: dict[str, float]  # op → seconds of its untimed first execution
    setup_s: float  # start + warm-up + first executions
    samples: list
    walls: list[float]  # seconds per timed pass
    problems: dict[str, list[str]]  # failed output checks
    storage_mb: float  # cached RDD bytes after the timed passes
    stats: list[dict]  # the workload's per-op counts (hourly_dag)


class Run:
    def __init__(self, args, scratch: str):
        from perfbench import host

        self.args = args
        self.scratch = scratch
        self.host = host
        self.spark = None
        self.detail: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": host.nproc(),
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "host": {"load1_start": host.load1(), "calib_start_s": host.calibrate()},
        }
        self.attempted = 0
        self.failures: list[str] = []
        self.cpu_ticks_start = host.cpu_ticks()

    def round(self, wl, tag: str, timed: bool = True, event_log_dir: str | None = None) -> Round:
        """Start a context (the first launches the JVM), warm up, run
        every op once untimed, then (if ``timed``) timed passes until at
        least ``wl.MIN_PASSES`` ran and ``--seconds`` have elapsed, then
        check."""
        if self.spark is not None:
            wl.reset(self.spark)
        t0 = now()
        self.spark = spark = start_session(f"perfbench-{wl.name}-{tag}", event_log_dir)
        t1 = now()
        warm(spark, wl.python_workers)
        t2 = now()
        first, outputs, errors = wl.first_execution(spark)
        t3 = now()
        wl.settle(spark)
        self.attempted += len(first)
        self.failures += [f"{tag} first {op}: {e}" for op, e in errors.items()]

        samples, walls = [], []
        p_start = now()
        while timed and (len(walls) < wl.MIN_PASSES or now() - p_start < self.args.seconds):
            p0 = now()
            samples += wl.timed_pass(spark)
            walls.append(now() - p0)
            wl.settle(spark)
        stored = storage_mb(spark)
        self.attempted += len(samples)
        self.failures += [f"{tag} {s.op}: {s.error}" for s in samples if s.error]

        c0 = now()
        checked = wl.check(spark, outputs)
        self.detail.setdefault("check_s", []).append(now() - c0)
        self.attempted += len(checked)
        problems = {k: v for k, v in checked.items() if v}
        self.failures += [f"{tag} check {k}: " + "; ".join(v)[:1500] for k, v in problems.items()]
        return Round(
            t1 - t0, t2 - t1, first, t3 - t0, samples, walls, problems, stored, list(wl.stats)
        )

    def execute(self) -> tuple[dict, dict]:
        from perfbench import workloads

        classes = {c.name: c for c in (workloads.HourlyDag, workloads.KeyQueries)}
        d = self.detail
        t0 = now()
        wl = classes[self.args.workload](self.args.seed, self.scratch)
        d["inputs_s"] = now() - t0
        if not self.args.trace:
            main = self.round(wl, "main")
            d["main"] = _round_record(main)
            d["peak_rss_mb"] = self.peak_rss_mb()
            d["e2e"] = e2e = {"setup_s": main.setup_s, "pass_s": median(main.walls)}
            shutdown_spark()
            self._finish()
            return e2e, d
        # Traced run: set-up in the cold JVM, then two timed rounds in the
        # warm one, one untraced (the reference) and one with the event
        # log on; the tracing overhead is the difference of their pass
        # times. Their order alternates with the seed, so the JVM warming
        # on between rounds does not bias the difference.
        main = self.round(wl, "main", timed=False)
        log_dir = os.path.join(self.scratch, "eventlog")
        os.makedirs(log_dir)
        if self.args.seed % 2:
            traced = self.round(wl, "traced", event_log_dir=log_dir)
            ref = self.round(wl, "reference")
        else:
            ref = self.round(wl, "reference")
            traced = self.round(wl, "traced", event_log_dir=log_dir)
        d["peak_rss_mb"] = self.peak_rss_mb()
        for tag, r in (("main", main), ("reference", ref), ("traced", traced)):
            d[tag] = _round_record(r)
        shutdown_spark()  # completes the event log
        layers = {
            "session.start_s": main.start_s,
            "session.warm_s": main.warm_s,
            "registry.cold_extra_s": cold_extra(main.first, ref.samples),
            "registry.storage_mb": ref.storage_mb,
            "process.peak_rss_mb": d["peak_rss_mb"],
            "ops.p50_s": median([s.wall for s in ref.samples if not s.error]),
            "trace.overhead_s": median(traced.walls) - median(ref.walls),
            **_dag_layers(ref.stats, ref.samples),
            **self.spark_layers(traced, log_dir, d),
        }
        self._finish()
        h = d["host"]
        layers["run.failed_ratio"] = len(self.failures) / max(1, self.attempted)
        for k in ("load1_start", "load1_end", "calib_start_s", "calib_end_s"):
            layers[f"host.{k}"] = h[k]
        return layers, d

    def peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM plus this process so far."""
        return self.host.vm_hwm_mb(jvm_pid()) + self.host.python_peak_rss_mb()

    def _finish(self) -> None:
        (steal0, total0), (steal1, total1) = self.cpu_ticks_start, self.host.cpu_ticks()
        self.detail["host"].update(
            load1_end=self.host.load1(),
            calib_end_s=self.host.calibrate(),
            steal_share=(steal1 - steal0) / max(1, total1 - total0),
        )
        self.detail["failures"] = self.failures

    def spark_layers(self, traced: Round, log_dir: str, d: dict) -> dict:
        """Per-layer metrics of the traced passes, from this harness's
        spans and the completed event log."""
        from perfbench import eventlog

        t_samples = traced.samples
        n_pass = max(1, len(traced.walls))
        windows = [
            (f"{i}\t{mod}\t{phase}", int(t0 * 1000), int(t1 * 1000))
            for i, s in enumerate(t_samples)
            for mod, phase, t0, t1 in s.spans
        ]
        per = eventlog.attribute(eventlog.read_log(log_dir), windows)
        mod_time: dict[str, float] = {}
        phase_time: dict[str, float] = {}
        mod_construct: dict[str, float] = {}
        mod_spark: dict[str, dict] = {}
        total_spark = {k: 0.0 for k in ("jobs", "stages", "tasks", "task_s", "gc_s",
                                         "shuffle_mb", "spill_mb", "driver_only_s")}
        ops_out = {}
        for i, s in enumerate(t_samples):
            rec = {}
            for mod, phase, t0, t1 in s.spans:
                dur = t1 - t0
                mod_time[mod] = mod_time.get(mod, 0.0) + dur
                phase_time[phase] = phase_time.get(phase, 0.0) + dur
                if phase == "construct":
                    mod_construct[mod] = mod_construct.get(mod, 0.0) + dur
                sp = per.get(f"{i}\t{mod}\t{phase}", {})
                acc = mod_spark.setdefault(mod, {k: 0.0 for k in total_spark})
                for k in total_spark:
                    acc[k] += sp.get(k, 0.0)
                    total_spark[k] += sp.get(k, 0.0)
                    rec[k] = rec.get(k, 0.0) + sp.get(k, 0.0)
            rec["wall_s"] = s.wall
            rec["phases_s"] = {f"{m}:{p}": t1 - t0 for m, p, t0, t1 in s.spans}
            ops_out[f"{i}:{s.op}"] = rec
        d["traced_op_layers"] = ops_out
        total = sum(mod_time.values()) or 1.0
        out = {
            "spark.jobs": total_spark["jobs"] / n_pass,
            "spark.stages": total_spark["stages"] / n_pass,
            "spark.tasks": total_spark["tasks"] / n_pass,
            "spark.task_s": total_spark["task_s"] / n_pass,
            "spark.gc_share": total_spark["gc_s"] / (total_spark["task_s"] or 1.0),
            "spark.shuffle_mb": total_spark["shuffle_mb"] / n_pass,
            "spark.spill_mb": total_spark["spill_mb"] / n_pass,
            "spark.driver_only_s": total_spark["driver_only_s"] / n_pass,
            "ops.construct_share": phase_time.get("construct", 0.0) / total,
            "ops.plan_share": phase_time.get("plan", 0.0) / total,
            "ops.exec_share": phase_time.get("exec", 0.0) / total,
        }
        for m in DAG_MODULES + KEY_MODULES:
            t = mod_time.get(m, 0.0)
            sp = mod_spark.get(m, {})
            out[f"{m}.share"] = t / total
            out[f"{m}.jobs"] = sp.get("jobs", 0.0) / n_pass
            out[f"{m}.shuffle_mb"] = sp.get("shuffle_mb", 0.0) / n_pass
            out[f"{m}.driver_only_share"] = sp.get("driver_only_s", 0.0) / t if t else 0.0
        for m in KEY_MODULES:
            t = mod_time.get(m, 0.0)
            out[f"{m}.construct_share"] = mod_construct.get(m, 0.0) / t if t else 0.0
        return out


def cold_extra(first: dict[str, float], samples) -> float:
    """First execution (cold JVM) minus the warm median (``samples``),
    summed over ops. A key is compared with its own warm runs; an hour
    (each hour is a new op) with the median warm hour."""
    warm: dict[str, list[float]] = {}
    for s in samples:
        if not s.error:
            warm.setdefault(s.op, []).append(s.wall)
    every = [w for ws in warm.values() for w in ws]
    return sum(t - median(warm.get(op, every)) for op, t in first.items())


def _dag_layers(stats: list[dict], samples) -> dict:
    """Ingest, insert and gold ratios plus event throughput of one
    round's timed hours (zero for workloads without a DAG)."""
    out = {
        "dag.events_per_s": 0.0,
        "streaming.ingest.rows_kept_ratio": 0.0,
        "sources.bronze.rows_inserted_ratio": 0.0,
        "pipeline.write_gold.bytes_per_input_byte": 0.0,
    }
    stats = [st for st in stats if st["hour"] > 0]
    secs = sum(s.wall for s in samples if not s.error)
    if stats and secs:
        out["dag.events_per_s"] = sum(st["landed_rows"] for st in stats) / secs
        out["streaming.ingest.rows_kept_ratio"] = sum(st["kept_rows"] for st in stats) / sum(
            st["landed_rows"] for st in stats
        )
        out["sources.bronze.rows_inserted_ratio"] = sum(
            st["inserted_rows"] for st in stats
        ) / sum(st["bronze_rows_read"] for st in stats)
        out["pipeline.write_gold.bytes_per_input_byte"] = stats[-1]["gold_bytes"] / stats[-1][
            "landed_bytes"
        ]
    return out


def _round_record(r: Round) -> dict:
    return {
        "start_s": r.start_s,
        "warm_s": r.warm_s,
        "setup_s": r.setup_s,
        "first_s": r.first,
        "passes_s": r.walls,
        "problems": r.problems,
        "ops": [
            {
                "op": s.op,
                "wall_s": s.wall,
                "phases_s": {f"{m}:{p}": t1 - t0 for m, p, t0, t1 in s.spans},
                "error": s.error,
            }
            for s in r.samples
        ],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in ("hourly_dag", "key_queries"):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    scratch = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        pin_env(scratch)
        run = Run(args, scratch)
        metrics, detail = run.execute()
    finally:
        shutdown_spark()
        shutil.rmtree(scratch, ignore_errors=True)
    units = per_layer_units() if args.trace else E2E_UNITS
    missing = [m for m in units if m not in metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print("PERFBENCH_DETAIL " + json.dumps(detail, default=str), file=sys.stderr)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(
        os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w"
    ) as fh:
        json.dump(detail, fh, indent=1, default=str)
    failed = len(run.failures)
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()},
    }
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
