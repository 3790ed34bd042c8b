"""The fused report pass: the CLI's job count, NULL pools, and the report
values on degenerate inputs checked against DuckDB.

``collect_report_values`` reads every report value from one global
aggregate over the run's cached table plus one sweep-maxima action. The
expected values here come from the oracle SQL fragments the declared
``sizing_*`` queries are checked against, run in DuckDB over the same
rows, with ``seq`` passed in as data.
"""

from __future__ import annotations

import contextlib
import csv
import io
from pathlib import Path

import duckdb
import pytest

from impala_base_to_cdw_sizing_spark import session
from impala_base_to_cdw_sizing_spark.__main__ import main
from impala_base_to_cdw_sizing_spark.config import DEFAULT_PARAMS, SizingParams
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
from impala_base_to_cdw_sizing_spark.plans.pipeline import run_sizing
from impala_base_to_cdw_sizing_spark.plans.reports import (
    CONSTRAINT_DIMS,
    DIM_ORDER,
    collect_report_values,
)
from impala_base_to_cdw_sizing_spark.schemas import SIZE_ORDER

from tests.test_pipeline import QH_SCHEMA, ROWS

REPLAY_HEADER = [
    "query_id", "pool", "start_time", "end_time", "duration_millis",
    "reqd_cache_gb", "reqd_agg_mem", "memory_spilled_gb", "cpu_time_sec",
    "query_type", "admission_wait", "num_backends",
]
REPLAY_ROWS = [
    ("q1", "etl", "2021-07-12T01:00:00.000Z", "2021-07-12T01:00:10.000Z",
     10000, 100.0, 150.0, 0.0, 20.0, "QUERY", 0, 2),
    ("q2", "", "2021-07-12T01:00:05.500Z", "2021-07-12T01:00:25.500Z",
     20000, 2500.0, 900.0, 1200.0, 120.0, "QUERY", 500, 4),  # NULL pool
    ("q3", "bi", "2021-07-12T01:00:20.000Z", "2021-07-12T01:01:00.000Z",
     40000, 90000.0, 45000.0, 0.0, 400.0, "QUERY", 0, 8),  # pruned
]
# jobs of one replay run with all three sinks: two report actions (the
# aggregate, the segmented sweep) and one write per sink
REPLAY_JOBS = 13


def _run_cli(spark, monkeypatch, tmp_path: Path, rows) -> tuple[int, str]:
    """The CLI's replay path, in-process on the test session."""
    input_csv = tmp_path / "history.csv"
    with input_csv.open("w", newline="") as f:
        w = csv.writer(f)
        w.writerow(REPLAY_HEADER)
        w.writerows(rows)
    conf = tmp_path / "sizing.conf"
    conf.write_text(
        f"input_file={input_csv}\n"
        f"output_file={tmp_path}/out_main\n"
        f"prune_output_file={tmp_path}/out_pruned\n"
        f"skip_query_file={tmp_path}/out_skipped\n"
        "pod_limit=100\n"
    )
    # main() builds its session; hand it the test's so no conf changes leak
    monkeypatch.setattr(session, "build_spark", lambda *a, **k: spark)
    spark.catalog.clearCache()
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = main(["impala_base_to_cdw_sizing_spark", str(conf)])
    spark.catalog.clearCache()
    return rc, out.getvalue()


def test_cli_replay_job_count(spark, monkeypatch, tmp_path):
    """Every job the CLI issues runs on the caller's thread, so one job
    group holds the whole run and its count is pinned."""
    sc = spark.sparkContext
    group = "test_report_pass.cli_replay"
    sc.setJobGroup(group, group)
    try:
        rc, _ = _run_cli(spark, monkeypatch, tmp_path, REPLAY_ROWS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rc == 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == REPLAY_JOBS


def test_cli_null_pool_is_not_a_pool(spark, monkeypatch, tmp_path):
    """An empty ``pool`` field reads as NULL: it is dropped from the pool
    list (as ``n_pools`` drops it) instead of failing the sort."""
    rc, out = _run_cli(spark, monkeypatch, tmp_path, REPLAY_ROWS[:2])
    assert rc == 0, out
    pools = out.split(" Pools:\n", 1)[1].split("\n\n", 1)[0]
    assert pools.splitlines() == ["   etl"]


# --- report values on degenerate inputs, against DuckDB --------------------


def _duckdb_report(rows, params: SizingParams) -> dict:
    """Expected report values for ``rows`` (QH_SCHEMA tuples, ``seq``
    included) from the oracle fragments, assembled as the CLI assembles
    them."""
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE query_history (seq BIGINT, query_id VARCHAR, "
            "pool VARCHAR, start_ms BIGINT, end_ms BIGINT, "
            "duration_millis BIGINT, reqd_cache_gb DOUBLE, reqd_agg_mem DOUBLE, "
            "memory_spilled_gb DOUBLE, cpu_time_sec DOUBLE, query_type VARCHAR, "
            "admission_wait BIGINT, num_backends BIGINT, has_mem_metric BOOLEAN)"
        )
        if rows:
            con.executemany(f"INSERT INTO query_history VALUES ({', '.join('?' * 14)})", rows)
        base = [
            "accepted AS (SELECT * FROM query_history "
            "WHERE query_type = 'QUERY' AND has_mem_metric)",
            derived_cte(params, source="accepted"),
            classify_cte(source="derived"),
        ]
        chain = ",\n".join(
            base
            + [
                f"kept AS (SELECT * FROM classified "
                f"WHERE min_executor_pod <= {params.pod_limit})",
                EXPLODE_EVENTS_CTE.strip(),
                f"running AS ({RUNNING_SUMS_SQL})",
                f"summary AS ({summarize_sql(params)})",
            ]
        )

        def q(body: str, ctes: str = chain) -> list[dict]:
            cur = con.execute(f"WITH {ctes}\n{body}")
            names = [d[0] for d in cur.description]
            return [dict(zip(names, r)) for r in cur.fetchall()]

        s = q("SELECT * FROM summary")[0]
        x = q(SWEEP_MAXIMA_SQL)[0]
        util = q(utilization_sql(params))[0]
        tsize = q(
            f"SELECT {tsize_case_sql('min_executor_pod_workload')} AS t FROM summary"
        )[0]["t"]
        top = q("SELECT query_id FROM kept ORDER BY min_executor_pod DESC, seq LIMIT 1")
        pools = [r["pool"] for r in q("SELECT DISTINCT pool FROM kept WHERE pool IS NOT NULL ORDER BY pool")]
        pruned = q(
            f"SELECT COUNT(*) AS n FROM classified "
            f"WHERE min_executor_pod > {params.pod_limit}"
        )[0]["n"]
        matrix = {
            (r["dim"], r["tsize"]): r["n"]
            for r in q("", ctes=",\n".join(base) + size_matrix_sql(params))
        }
    finally:
        con.close()

    counts = {
        size: {dim: matrix.get((dim, size), 0) for dim in DIM_ORDER}
        for size in SIZE_ORDER
    }
    t = s["total_query_time"]
    return {
        "individual": {
            "total_queries": s["total_queries"],
            "total_query_time_sec": None if t is None else round(t, 2),
            "highest_resources_query_id": top[0]["query_id"] if top else None,
            "max_nodes": s["max_backends"],
            "max_cores_per_node": s["max_vcores"],
            "max_data_per_node_gb": s["max_data"],
            "max_spill_per_node_gb": s["max_spill"],
            "max_memory_per_node_gb": s["max_mem"],
            "max_data_rate": s["max_data_rate"],
            "pools": pools,
            "prune_count": pruned,
            "pod_limit": params.pod_limit,
        },
        "concurrent": {
            "max_concurrent_queries": x["max_concurrent_queries"],
            "max_concurrent_resources_ts_ms": x["max_pods_workload_ts_ms"],
            "max_concurrent_cores": x["max_concurrent_cores"],
            "max_concurrent_data_gb": round(x["max_concurrent_cache"] or 0, 2),
            "max_concurrent_spill_gb": round(x["max_concurrent_spill"] or 0, 2),
            "max_concurrent_memory_gb": round(x["max_concurrent_memory"] or 0, 2),
            "max_concurrent_data_rate": x["max_concurrent_data_rate"],
        },
        "cluster_sizing": {
            "tsize_workload": tsize,
            "min_pods": s["min_executor_pod_workload"],
            "max_pods": int(-(-(x["max_pods_workload"] or 0) // 1)),
            "constrained_by": [
                d for d in CONSTRAINT_DIMS if counts.get(tsize, {}).get(d, 0) > 0
            ],
        },
        "query_counts": counts,
        "utilization": util,
    }


def _with(row: tuple, **changes) -> tuple:
    names = [c.split()[0] for c in QH_SCHEMA.split(", ")]
    out = list(row)
    for name, value in changes.items():
        out[names.index(name)] = value
    return tuple(out)


@pytest.mark.parametrize(
    "case,rows,params",
    [
        # kept is empty: sweep bounds fall back to (0, 0), argmax is None
        ("all_pruned", ROWS, SizingParams(pod_limit=0)),
        # every row lacks the memory metric (API docs without
        # memory_aggregate_peak): nothing is accepted
        ("all_skipped", [_with(r, has_mem_metric=False) for r in ROWS], DEFAULT_PARAMS),
        ("single_row", ROWS[:1], DEFAULT_PARAMS),
        ("null_pool", [_with(r, pool=None) for r in ROWS[:2]] + ROWS[2:4], DEFAULT_PARAMS),
    ],
)
def test_report_values_on_edge_inputs(spark, case, rows, params):
    res = run_sizing(spark.createDataFrame(rows, QH_SCHEMA), params)
    try:
        v = collect_report_values(res, params)
    finally:
        res.routed.derived.unpersist()
    got = {
        "individual": v.individual,
        "concurrent": v.concurrent,
        "cluster_sizing": v.cluster_sizing,
        "query_counts": v.query_counts,
        "utilization": v.utilization,
    }
    assert got == _duckdb_report(rows, params)
    if case == "all_pruned":
        assert v.individual["highest_resources_query_id"] is None
        assert v.individual["prune_count"] == v.individual["total_queries"] > 0
