"""Report assembly — SURVEY.md §2.H (H1-H5), values-first.

The reference prints five formatted text sections
(``impala_query_sizing.py:399-458``); parity is checked on *values*
(SURVEY §7.3.4), with the text rendering kept as a faithful-but-fixed
presentation (canonical dim order in ``constrained_by`` — the reference
iterates a set literal at ``:431``, which is nondeterministic).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SizingParams
from ..functions import ceil_long, round2
from ..operators.aggregates import (
    MATRIX_LABELS,
    argmax_order,
    matrix_cell,
    matrix_cells,
    pools_agg,
    summary_aggs,
    utilization_cols,
)
from ..operators.classify import tsize_expr
from ..operators.route import prune_split, pruned_condition
from ..operators.sweep import event_bounds, explode_events, running_sums, sweep_maxima
from ..schemas import SIZE_ORDER
from .pipeline import SizingResult

DIM_ORDER = list(MATRIX_LABELS)
CONSTRAINT_DIMS = ["cache", "mem", "cpu", "spill"]


@dataclass
class ReportValues:
    individual: dict[str, Any] = field(default_factory=dict)   # H1
    concurrent: dict[str, Any] = field(default_factory=dict)   # H2
    cluster_sizing: dict[str, Any] = field(default_factory=dict)  # H3
    query_counts: dict[str, dict[str, int]] = field(default_factory=dict)  # H4
    utilization: dict[str, float] = field(default_factory=dict)  # H5


def report_aggregate(classified: DataFrame, params: SizingParams) -> DataFrame:
    """Every report value that is an aggregate of the classified pre-prune
    table, as ONE row from ONE global aggregate: G1-G8 (kept rows only,
    G1 over all), the prune count, the sorted pools, the argmax query
    (G4), the size-matrix cells (G5), ``tsize_workload`` and
    ``constrained_by`` (H3), utilization (G7), and the event-time bounds
    the sweep buckets on (``ts_lo``/``ts_hi``).

    The expressions are the operators' own (``summary_aggs``,
    ``matrix_cells``, ``utilization_cols``, ``event_bounds``), each
    restricted to the kept rows; only the sweep maxima need a second
    pass. ``constrained_by`` is the canonical-dim-order string (SURVEY
    §7.0 declared fix: the reference iterates a set literal at :431,
    which is nondeterministic across Python runs); absent dims are
    skipped by ``concat_ws``, so "no dimension constrained" is the empty
    string.
    """
    pruned = pruned_condition(params)
    keep = ~pruned
    agg = classified.agg(
        F.count("*").alias("total_queries"),
        *summary_aggs(keep),
        pools_agg(keep),
        F.count_if(pruned).alias("prune_count"),
        F.max_by(F.col("query_id"), argmax_order(keep)).alias(
            "highest_resources_query_id"
        ),
        *matrix_cells(keep),
        *event_bounds(keep),
    )
    tsize = F.col("tsize_workload")

    def constrained(dim: str):
        n = F.coalesce(
            *[F.when(tsize == size, F.col(matrix_cell(dim, size))) for size in SIZE_ORDER]
        )
        return F.when(n > 0, F.lit(dim))

    # tsize_workload in its own step: the twenty cell lookups read the
    # column instead of each repeating the CASE chain
    return agg.withColumn(
        "tsize_workload", tsize_expr(F.col("min_executor_pod_workload"))
    ).select(
        "*",
        F.concat_ws(" ", *[constrained(d) for d in CONSTRAINT_DIMS]).alias(
            "constrained_by"
        ),
        *utilization_cols(params),
    )


def collect_report_values(
    result: SizingResult, params: SizingParams
) -> ReportValues:
    """The five report sections from two actions over the run's cached
    table: :func:`report_aggregate` (which also materializes the cache),
    then the sweep maxima, bucketed on the bounds the first action read —
    so the sweep issues no bounds job of its own."""
    agg = report_aggregate(result.routed.derived, params).collect()[0]
    maxima = result.maxima((agg.ts_lo, agg.ts_hi)).collect()[0]
    total_time = agg.total_query_time

    return ReportValues(
        individual={
            "total_queries": agg.total_queries,
            "total_query_time_sec": None if total_time is None else round(total_time, 2),
            "highest_resources_query_id": agg.highest_resources_query_id,
            "max_nodes": agg.max_backends,
            "max_cores_per_node": agg.max_vcores,
            "max_data_per_node_gb": agg.max_data,
            "max_spill_per_node_gb": agg.max_spill,
            "max_memory_per_node_gb": agg.max_mem,
            "max_data_rate": agg.max_data_rate,
            "pools": agg.pools,
            "prune_count": agg.prune_count,
            "pod_limit": params.pod_limit,
        },
        concurrent={
            "max_concurrent_queries": maxima.max_concurrent_queries,
            "max_concurrent_resources_ts_ms": maxima.max_pods_workload_ts_ms,
            "max_concurrent_cores": maxima.max_concurrent_cores,
            "max_concurrent_data_gb": round(maxima.max_concurrent_cache or 0, 2),
            "max_concurrent_spill_gb": round(maxima.max_concurrent_spill or 0, 2),
            "max_concurrent_memory_gb": round(maxima.max_concurrent_memory or 0, 2),
            "max_concurrent_data_rate": maxima.max_concurrent_data_rate,
        },
        cluster_sizing={
            "tsize_workload": agg.tsize_workload,
            "min_pods": agg.min_executor_pod_workload,
            "max_pods": int(-(-(maxima.max_pods_workload or 0) // 1)),
            "constrained_by": agg.constrained_by.split(),
        },
        query_counts={
            size: {dim: agg[matrix_cell(dim, size)] for dim in DIM_ORDER}
            for size in SIZE_ORDER
        },
        utilization={
            "cache_util_pct": agg.cache_util_pct,
            "mem_util_pct": agg.mem_util_pct,
            "cpu_util_pct": agg.cpu_util_pct,
            "spill_util_pct": agg.spill_util_pct,
        },
    )


def report_values_df(classified: DataFrame, params: SizingParams) -> DataFrame:
    """The five report sections (H1-H5 + G9) as ONE oracle-checkable row
    (``impala_query_sizing.py:399-458``; ``constrained_by`` :428-437).

    :func:`collect_report_values` collects the same numbers driver-side
    to render text; this is the declared-tier twin — the same
    :func:`report_aggregate` row broadcast-joined to the sweep maxima,
    with every value a column so the DuckDB oracle can hash it. Rounding
    uses the deterministic ``round2`` twin.
    """
    kept, _ = prune_split(classified, params)
    maxima = sweep_maxima(running_sums(explode_events(kept), segmented=True))
    row = report_aggregate(classified, params).crossJoin(F.broadcast(maxima))
    z = F.lit(0.0)
    return row.select(
        F.col("total_queries"),
        round2(F.col("total_query_time")).alias("total_query_time_sec"),
        F.col("highest_resources_query_id"),
        F.col("max_backends").alias("max_nodes"),
        F.col("max_vcores").alias("max_cores_per_node"),
        F.col("max_data").alias("max_data_per_node_gb"),
        F.col("max_spill").alias("max_spill_per_node_gb"),
        F.col("max_mem").alias("max_memory_per_node_gb"),
        F.col("max_data_rate"),
        F.col("n_pools"),
        F.col("prune_count"),
        F.col("max_concurrent_queries"),
        F.col("max_pods_workload_ts_ms").alias("max_concurrent_ts_ms"),
        F.col("max_concurrent_cores"),
        round2(F.coalesce(F.col("max_concurrent_cache"), z)).alias(
            "max_concurrent_data_gb"
        ),
        round2(F.coalesce(F.col("max_concurrent_spill"), z)).alias(
            "max_concurrent_spill_gb"
        ),
        round2(F.coalesce(F.col("max_concurrent_memory"), z)).alias(
            "max_concurrent_memory_gb"
        ),
        F.col("max_concurrent_data_rate"),
        F.col("tsize_workload"),
        F.col("min_executor_pod_workload").alias("min_pods"),
        ceil_long(F.coalesce(F.col("max_pods_workload"), z)).alias("max_pods"),
        F.col("constrained_by"),
        F.col("cache_util_pct"),
        F.col("mem_util_pct"),
        F.col("cpu_util_pct"),
        F.col("spill_util_pct"),
    )


def format_reports(v: ReportValues) -> str:
    """Render the five sections (presentation only; values are the API)."""
    ind, con, cs, util = v.individual, v.concurrent, v.cluster_sizing, v.utilization
    lines = [
        "",
        "Individual Query Analysis",
        f" Total Queries: {ind['total_queries']}",
        f" Total Query Time: {ind['total_query_time_sec']} sec",
        f" Highest Resources Query ID: {ind['highest_resources_query_id']}",
        f" Max Nodes: {ind['max_nodes']}",
        f" Max Cores Per Node: {ind['max_cores_per_node']}",
        f" Max Data Per Node: {ind['max_data_per_node_gb']} GB",
        f" Max Spill Per Node: {ind['max_spill_per_node_gb']} GB",
        f" Max Memory Per Node: {ind['max_memory_per_node_gb']} GB/s",
        f" Max Data Rate: {ind['max_data_rate']} GB",
        " Pools:",
        *[f"   {p}" for p in ind["pools"]],
    ]
    if ind["prune_count"] > 0:
        lines.append(
            f" Queries Over Pod Limit ( {ind['pod_limit']} ): {ind['prune_count']}"
        )
    lines += [
        "",
        "Concurrent Query Analysis",
        f" Max Concurrent Queries: {con['max_concurrent_queries']}",
        f" Max Concurrent Resources Time (epoch ms): {con['max_concurrent_resources_ts_ms']}",
        f" Max Concurrent Cores Per Node: {con['max_concurrent_cores']}",
        f" Max Concurrent Data Per Node: {con['max_concurrent_data_gb']} GB",
        f" Max Concurrent Spill Per Node: {con['max_concurrent_spill_gb']} GB",
        f" Max Concurrent Memory Per Node: {con['max_concurrent_memory_gb']} GB",
        f" Max Concurrent Data Rate: {con['max_concurrent_data_rate']} GB/s",
        "",
        "\t\t\t    Cluster Sizing",
        "Size\t\tMin Pods\tMax Pods\tConstrained By",
        f"{cs['tsize_workload']}\t\t{cs['min_pods']}\t\t{cs['max_pods']}\t\t"
        + " ".join(cs["constrained_by"]),
        "",
        "\t\t\t    Query Counts",
        "                     Cache       Mem         CPU         Spill",
        "Size     Count       Constrained Constrained Constrained Constrained",
    ]
    for size in SIZE_ORDER:
        row = size.rjust(8)
        for dim in DIM_ORDER:
            row += " " + str(v.query_counts[size][dim]).rjust(11)
        lines.append(row)
    lines += [
        "",
        "\t\t\t    Average Cluster Utilization",
        "Cache    Memory    CPU       Spill",
        f"{str(util['cache_util_pct']).rjust(6)} %  {str(util['mem_util_pct']).rjust(6)} % "
        f" {str(util['cpu_util_pct']).rjust(6)} %  {str(util['spill_util_pct']).rjust(6)} %",
    ]
    return "\n".join(lines)
