"""Output checks. Every failure is returned as a message and counts
against the run's ``failed`` total; nothing is dropped.

Registry keys are compared with their ``registry.oracle_sql()`` twin on
DuckDB through the repository's own comparator
(``tools/check_correctness.compare``); keys without an oracle get a
row-count check. The hourly DAG's dashboards are compared with the same
oracle SQL, its bronze layer replaced by the landed JSON files.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

from . import datagen

_COMPARE = None


def compare(name, spark_pdf, oracle_pdf) -> list[str]:
    """``tools/check_correctness.compare``, loaded from the checkout."""
    global _COMPARE
    if _COMPARE is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path = os.path.join(root, "tools", "check_correctness.py")
        spec = importlib.util.spec_from_file_location("_perfbench_check_correctness", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _COMPARE = mod.compare
    try:
        return _COMPARE(name, spark_pdf, oracle_pdf)
    except TypeError as exc:  # unhashable cells (lists, arrays) cannot be canonicalized
        return [f"uncomparable output: {exc}"]


def table_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in datagen.BASE_ROWS.keys() | {"region", "nation"}:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def oracle_frames(keys, oracles: dict[str, str], data_dir: str) -> dict:
    """DuckDB result of the oracle of every key that has one."""
    con = table_views(data_dir)
    try:
        return {k: con.execute(oracles[k]).df() for k in keys if k in oracles}
    finally:
        con.close()


def check_keys(outputs: dict, expected: dict) -> dict[str, list[str]]:
    """Problems per key (empty list = correct); ``expected`` holds the
    oracle frames (``oracle_frames``)."""
    out = {}
    for key, pdf in outputs.items():
        if key not in expected:
            out[key] = [] if len(pdf) > 0 else ["no oracle and no rows"]
        else:
            out[key] = compare(key, pdf, expected[key])
    return out


# DuckDB twin of the bronze table the hourly DAG builds: every landed
# event once, stamped with the clock of the hour it first landed in.
_LANDED_BRONZE_SQL = """
SELECT event_id, order_id, "timestamp", status, origin, destination,
       carrier_name, latitude, longitude, weight_kg, estimated_delivery,
       TIMESTAMP '{base}' + INTERVAL 1 HOUR * hour AS ingestion_timestamp
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY hour) AS rn
  FROM (
    SELECT *, CAST(regexp_extract(filename, '/h(\\d+)-[^/]*$', 1) AS INTEGER) AS hour
    FROM read_json('{landing}/h*', format = 'newline_delimited', filename = true,
      columns = {{event_id: 'VARCHAR', order_id: 'VARCHAR', "timestamp": 'VARCHAR',
                 status: 'VARCHAR', origin: 'VARCHAR', destination: 'VARCHAR',
                 carrier_name: 'VARCHAR', latitude: 'DOUBLE', longitude: 'DOUBLE',
                 weight_kg: 'DOUBLE', estimated_delivery: 'VARCHAR'}})
  ) WHERE hour <= {hour}
) WHERE rn = 1
"""


def dashboard_oracles() -> dict[str, str]:
    """Chart id → oracle SQL for both reference dashboards."""
    from logistics_data_pipeline_spark import oracles as o

    return {
        "carrier_performance": o.KPI_CARRIER_SQL,
        "active_shipment_map": o.KPI_ACTIVE_SHIPMENTS_SQL,
        "weight_distribution": o.KPI_WEIGHT_SQL,
        "events_by_status": o.KPI_STATUS_SQL,
        "headline_metrics": o.MONITOR_SCALAR_SQL,
        "ingestion_trend": o.MONITOR_TREND_SQL,
        "dq_issues": o.MONITOR_DQ_ROLLUP_SQL,
        "recent_raw": o.MONITOR_RECENT_SQL,
    }


def check_dashboards(charts: dict, landing: str, hour: int, base_ts: str) -> list[str]:
    """Compare one hour's collected charts with DuckDB over the files
    landed up to and including ``hour``."""
    from logistics_data_pipeline_spark.adapters.testdata import BRONZE_SQL

    bronze = _LANDED_BRONZE_SQL.format(base=base_ts, landing=landing, hour=hour)
    problems = []
    con = duckdb.connect()
    try:
        for chart_id, sql in dashboard_oracles().items():
            if chart_id not in charts:
                problems.append(f"hour {hour}: chart {chart_id} missing")
                continue
            if BRONZE_SQL not in sql:
                problems.append(f"hour {hour}: oracle for {chart_id} has no bronze CTE")
                continue
            expected = con.execute(sql.replace(BRONZE_SQL, bronze, 1)).df()
            problems += [
                f"hour {hour} {chart_id}: {p}"
                for p in compare(chart_id, charts[chart_id], expected)
            ]
    finally:
        con.close()
    return problems
