"""Expected report values, computed in DuckDB from the repo's oracle SQL.

The expected values for one input are computed once per (workload, seed)
from the same bytes the program reads, with the oracle fragments the
declared queries are checked against (``derived_cte``, ``classify_cte``,
``summarize_sql``, ``EXPLODE_EVENTS_CTE``, ``RUNNING_SUMS_SQL``,
``SWEEP_MAXIMA_SQL``, ``utilization_sql``, ``size_matrix_sql`` and, for API
docs, ``oracle_api_flatten``). The rows are then assembled into the same
shape :func:`plans.reports.collect_report_values` returns, with the same
Python-side rounding, so one equality test checks every op.

The tie-break column ``seq = xxhash64(query_id)`` has no DuckDB twin; the
caller computes it once in Spark and passes it in as a table.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import pyarrow as pa

from impala_base_to_cdw_sizing_spark.config import SizingParams
from impala_base_to_cdw_sizing_spark.operators.aggregates import (
    size_matrix_sql,
    summarize_sql,
    utilization_sql,
)
from impala_base_to_cdw_sizing_spark.operators.classify import (
    classify_cte,
    tsize_case_sql,
)
from impala_base_to_cdw_sizing_spark.operators.derive import derived_cte
from impala_base_to_cdw_sizing_spark.operators.sweep import (
    EXPLODE_EVENTS_CTE,
    RUNNING_SUMS_SQL,
    SWEEP_MAXIMA_SQL,
)
from impala_base_to_cdw_sizing_spark.plans.reports import (
    CONSTRAINT_DIMS,
    DIM_ORDER,
    ReportValues,
)
from impala_base_to_cdw_sizing_spark.schemas import SIZE_ORDER

_REPLAY_COLUMNS = (
    "{'query_id': 'VARCHAR', 'pool': 'VARCHAR', 'start_time': 'VARCHAR', "
    "'end_time': 'VARCHAR', 'duration_millis': 'BIGINT', "
    "'reqd_cache_gb': 'DOUBLE', 'reqd_agg_mem': 'DOUBLE', "
    "'memory_spilled_gb': 'DOUBLE', 'cpu_time_sec': 'DOUBLE', "
    "'query_type': 'VARCHAR', 'admission_wait': 'INTEGER', "
    "'num_backends': 'INTEGER'}"
)


def _epoch_ms(col: str) -> str:
    # ISO-8601 with millis and a trailing Z, as prepare_query_history parses it
    return f"epoch_ms(CAST(left({col}, 23) AS TIMESTAMP))"


def _prepared(source: str, has_mem_metric: str) -> str:
    """SQL twin of ``plans.pipeline.prepare_query_history`` over ``source``
    joined to the Spark-computed ``seqs(query_id, seq)`` table."""
    return f"""
SELECT h.query_id, h.pool, h.start_time, h.end_time,
  {_epoch_ms('h.start_time')} AS start_ms,
  {_epoch_ms('h.end_time')} AS end_ms,
  CAST(h.duration_millis AS BIGINT) AS duration_millis,
  h.reqd_cache_gb, h.reqd_agg_mem, h.memory_spilled_gb, h.cpu_time_sec,
  h.query_type,
  CAST(h.admission_wait AS BIGINT) AS admission_wait,
  CAST(h.num_backends AS BIGINT) AS num_backends,
  {has_mem_metric} AS has_mem_metric,
  s.seq
FROM {source} h JOIN seqs s USING (query_id)
"""


@dataclass(frozen=True)
class Expected:
    """What one op over one input must produce."""

    report: dict
    sinks: dict[str, int]  # rows in the main, pruned and skipped outputs
    rows: int  # query-history rows the op sizes


def report_dict(v: ReportValues) -> dict:
    return {
        "individual": v.individual,
        "concurrent": v.concurrent,
        "cluster_sizing": v.cluster_sizing,
        "query_counts": v.query_counts,
        "utilization": v.utilization,
    }


def expected_replay(csv_path: str, seqs: pa.Table, params: SizingParams) -> Expected:
    """Expected values for an EP2 replay CSV (no skip route: replay rows
    carry no ``memory_aggregate_peak`` flag)."""
    con = duckdb.connect()
    try:
        con.register("seqs", seqs)
        src = f"read_csv('{csv_path}', header = true, columns = {_REPLAY_COLUMNS})"
        con.execute(f"CREATE TABLE query_history AS {_prepared(src, 'TRUE')}")
        return _expected(con, params)
    finally:
        con.close()


def expected_api(docs: pa.Table, seqs: pa.Table, params: SizingParams) -> Expected:
    """Expected values for an EP1 doc corpus, flattened by the
    ``sizing_api_flatten`` oracle SQL."""
    from impala_base_to_cdw_sizing_spark.operators.api_flatten import (
        FIXTURE,
        oracle_api_flatten,
    )

    fixture_scan = f"read_parquet('{FIXTURE}')"
    flatten = oracle_api_flatten()
    if fixture_scan not in flatten:
        raise RuntimeError("oracle_api_flatten no longer scans its fixture file")
    con = duckdb.connect()
    try:
        con.register("seqs", seqs)
        con.register("api_docs", docs)
        con.execute(f"CREATE TABLE flat AS {flatten.replace(fixture_scan, 'api_docs')}")
        con.execute(
            f"CREATE TABLE query_history AS {_prepared('flat', 'h.has_mem_metric')}"
        )
        return _expected(con, params)
    finally:
        con.close()


def _expected(con: duckdb.DuckDBPyConnection, p: SizingParams) -> Expected:
    chain = ",\n".join(
        [
            "accepted AS (SELECT * FROM query_history "
            "WHERE query_type = 'QUERY' AND has_mem_metric)",
            derived_cte(p, source="accepted"),
            classify_cte(source="derived"),
            f"kept AS (SELECT * FROM classified WHERE min_executor_pod <= {p.pod_limit})",
            EXPLODE_EVENTS_CTE.strip(),
            f"running AS ({RUNNING_SUMS_SQL})",
            f"summary AS ({summarize_sql(p)})",
        ]
    )

    def rows(body: str, ctes: str = chain) -> list[dict]:
        cur = con.execute(f"WITH {ctes}\n{body}")
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    summary = rows("SELECT * FROM summary")[0]
    maxima = rows(SWEEP_MAXIMA_SQL)[0]
    util = rows(utilization_sql(p))[0]
    tsize_workload = rows(
        f"SELECT {tsize_case_sql('min_executor_pod_workload')} AS t FROM summary"
    )[0]["t"]
    argmax = rows(
        "SELECT query_id FROM kept ORDER BY min_executor_pod DESC, seq ASC LIMIT 1"
    )
    pools = sorted(r["pool"] for r in rows("SELECT DISTINCT pool FROM kept"))
    counts = rows(
        f"""SELECT
  (SELECT COUNT(*) FROM kept) AS kept,
  (SELECT COUNT(*) FROM classified WHERE min_executor_pod > {p.pod_limit}) AS pruned,
  (SELECT COUNT(*) FROM query_history
   WHERE query_type = 'QUERY' AND NOT has_mem_metric) AS skipped,
  (SELECT COUNT(*) FROM query_history) AS total"""
    )[0]
    matrix_ctes = ",\n".join(
        [
            "accepted AS (SELECT * FROM query_history "
            "WHERE query_type = 'QUERY' AND has_mem_metric)",
            derived_cte(p, source="accepted"),
            classify_cte(source="derived"),
        ]
    )
    # size_matrix_sql opens with ", kept AS (...)" to extend a CTE chain
    matrix = {
        (r["dim"], r["tsize"]): r["n"]
        for r in rows("", ctes=matrix_ctes + size_matrix_sql(p))
        if r["tsize"] is not None
    }

    # assembled exactly as plans.reports.collect_report_values does
    query_counts = {
        size: {dim: int(matrix.get((dim, size), 0)) for dim in DIM_ORDER}
        for size in SIZE_ORDER
    }
    report = ReportValues(
        individual={
            "total_queries": summary["total_queries"],
            "total_query_time_sec": round(summary["total_query_time"], 2),
            "highest_resources_query_id": argmax[0]["query_id"] if argmax else None,
            "max_nodes": summary["max_backends"],
            "max_cores_per_node": summary["max_vcores"],
            "max_data_per_node_gb": summary["max_data"],
            "max_spill_per_node_gb": summary["max_spill"],
            "max_memory_per_node_gb": summary["max_mem"],
            "max_data_rate": summary["max_data_rate"],
            "pools": pools,
            "prune_count": counts["pruned"],
            "pod_limit": p.pod_limit,
        },
        concurrent={
            "max_concurrent_queries": maxima["max_concurrent_queries"],
            "max_concurrent_resources_ts_ms": maxima["max_pods_workload_ts_ms"],
            "max_concurrent_cores": maxima["max_concurrent_cores"],
            "max_concurrent_data_gb": round(maxima["max_concurrent_cache"] or 0, 2),
            "max_concurrent_spill_gb": round(maxima["max_concurrent_spill"] or 0, 2),
            "max_concurrent_memory_gb": round(maxima["max_concurrent_memory"] or 0, 2),
            "max_concurrent_data_rate": maxima["max_concurrent_data_rate"],
        },
        cluster_sizing={
            "tsize_workload": tsize_workload,
            "min_pods": summary["min_executor_pod_workload"],
            "max_pods": int(-(-(maxima["max_pods_workload"] or 0) // 1)),
            "constrained_by": [
                d for d in CONSTRAINT_DIMS
                if query_counts.get(tsize_workload, {}).get(d, 0) > 0
            ],
        },
        query_counts=query_counts,
        utilization=dict(util),
    )
    return Expected(
        report=report_dict(report),
        sinks={k: counts[k] for k in ("kept", "pruned", "skipped")},
        rows=counts["total"],
    )


def mismatches(got: dict, want: dict, prefix: str = "") -> list[str]:
    """Paths at which two nested report dicts differ (exact comparison,
    the oracle contract's rule)."""
    out = []
    for key in sorted(set(got) | set(want), key=str):
        a, b = got.get(key), want.get(key)
        path = f"{prefix}{key}"
        if isinstance(a, dict) and isinstance(b, dict):
            out += mismatches(a, b, path + ".")
        elif a != b:
            out.append(f"{path}: got {a!r}, want {b!r}")
    return out
