"""Workload-level aggregations — SURVEY.md §2.G (G1-G9).

The reference accumulates these in module-level globals during its
row loop (``impala_query_sizing.py:272-305``); here each is a Spark
aggregate with map-side partial aggregation — one shuffle of one row per
partition, scale-independent output.

Float-determinism note: unordered floating SUM is order-dependent, so
oracle-checked sums are accumulated in DECIMAL(38,6) (exact, commutative)
and cast back to DOUBLE — both engines produce identical bits. MAX needs
no such treatment.

Semantics preserved:
- G1 ``total_queries`` counts pool-filtered rows *including* later-pruned
  ones (:215 before :262).
- G4 argmax uses strict ``>`` → earliest tie wins (:272-274); implemented
  as a total order (pod DESC, seq ASC).
- G6 asymmetry: ``total_query_time`` excludes admission wait while the
  utilization integrals weight by the *full* duration (:300-305).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import SizingParams
from ..schemas import SIZE_ORDER

DEC = "decimal(38,6)"


def dsum(c: Column) -> Column:
    """Order-independent exact sum: accumulate in decimal, emit double."""
    return F.sum(c.cast(DEC)).cast("double")


def dec_to_double_sql(dec_expr: str) -> str:
    """DuckDB decimal→double, CORRECTLY rounded via the exact string
    form. DuckDB's direct ``CAST(decimal AS DOUBLE)`` converts the
    scaled integer to double and then divides by 10^scale — two
    roundings, which differs from the correctly-rounded value by 1 ulp
    once the scaled integer exceeds 2^53 (measured at sf0.1:
    86047380724.118065 → …11806 direct vs …11807 correct). Spark's
    BigDecimal path and strtod are both correctly rounded, so routing
    the oracle through VARCHAR keeps the engines bit-equal at any
    magnitude."""
    return f"CAST(CAST(({dec_expr}) AS STRING) AS DOUBLE)"


def dsum_sql(x: str) -> str:
    return dec_to_double_sql(f"SUM(CAST(({x}) AS DECIMAL(38,6)))")


def _where(c: Column, keep: Column | None) -> Column:
    """``c`` on the rows where ``keep`` holds, NULL elsewhere — so an
    aggregate over it skips the other rows (every row when ``keep`` is
    None)."""
    return c if keep is None else F.when(keep, c)


def _pool_set(keep: Column | None = None) -> Column:
    return F.collect_set(_where(F.col("pool"), keep))  # drops NULL pools


def summary_aggs(keep: Column | None = None) -> list[Column]:
    """G2+G3+G6+G8 as aggregate columns over the rows where ``keep``
    holds — shared by :func:`summarize` and the fused report pass."""

    def w(c: Column) -> Column:
        return _where(c, keep)

    return [
        F.max(w(F.col("num_backends"))).alias("max_backends"),
        F.max(w(F.col("avg_vcores"))).alias("max_vcores"),
        F.max(w(F.col("avg_mem"))).alias("max_mem"),
        F.max(w(F.col("avg_data"))).alias("max_data"),
        F.max(w(F.col("avg_data_rate"))).alias("max_data_rate"),
        F.max(w(F.col("avg_spill"))).alias("max_spill"),
        F.max(w(F.col("min_executor_pod"))).alias("min_executor_pod_workload"),
        F.size(_pool_set(keep)).cast("long").alias("n_pools"),
        dsum(w((F.col("duration_millis") - F.col("admission_wait")) / 1000.0)).alias(
            "total_query_time"
        ),
        dsum(w(F.col("reqd_agg_mem") * F.col("duration_sec"))).alias("util_mem"),
        dsum(w(F.col("cpu_time_sec"))).alias("util_cpu"),
        dsum(w(F.col("reqd_cache_gb") * F.col("duration_sec"))).alias("util_cache"),
        dsum(w(F.col("memory_spilled_gb") * F.col("duration_sec"))).alias(
            "util_spill"
        ),
    ]


def pools_agg(keep: Column | None = None) -> Column:
    """The sorted distinct pools (NULL dropped, as ``n_pools`` counts)."""
    return F.sort_array(_pool_set(keep)).alias("pools")


def summarize(kept: DataFrame, total_queries_df: DataFrame) -> DataFrame:
    """G1+G2+G3+G6+G8 as one single-row DataFrame.

    ``kept``: derived rows within the pod limit (post D3).
    ``total_queries_df``: the pre-prune accepted set (G1 counts it).
    """
    total = total_queries_df.agg(F.count("*").alias("total_queries"))
    # two 1-row frames: crossJoin is a no-shuffle broadcast at this size
    return total.crossJoin(kept.agg(*summary_aggs()))


def summarize_sql(params: SizingParams) -> str:
    """Oracle body for :func:`summarize` given the classified/derived CTEs
    (expects ``derived`` with kept/pruned split applied by the caller via
    WHERE)."""
    return f"""
SELECT
  (SELECT COUNT(*) FROM derived) AS total_queries,
  MAX(num_backends) AS max_backends,
  MAX(avg_vcores) AS max_vcores,
  MAX(avg_mem) AS max_mem,
  MAX(avg_data) AS max_data,
  MAX(avg_data_rate) AS max_data_rate,
  MAX(avg_spill) AS max_spill,
  MAX(min_executor_pod) AS min_executor_pod_workload,
  COUNT(DISTINCT pool) AS n_pools,
  {dsum_sql("(duration_millis - admission_wait) / 1000.0")} AS total_query_time,
  {dsum_sql("reqd_agg_mem * duration_sec")} AS util_mem,
  {dsum_sql("cpu_time_sec")} AS util_cpu,
  {dsum_sql("reqd_cache_gb * duration_sec")} AS util_cache,
  {dsum_sql("memory_spilled_gb * duration_sec")} AS util_spill
FROM derived
WHERE min_executor_pod <= {params.pod_limit}
"""


def argmax_order(keep: Column | None = None) -> Column:
    """G4's ordering key for ``max_by``: highest pod demand, then the
    earliest ``seq`` (strict ``>`` at :272-274). ``~seq`` reverses the
    order without the overflow ``-seq`` has at the minimum long."""
    return _where(
        F.struct(F.col("min_executor_pod"), F.bitwise_not(F.col("seq"))), keep
    )


def argmax_query(kept: DataFrame) -> DataFrame:
    """G4: query id with the highest pod demand, earliest tie wins.
    Total order → deterministic row; no row on empty input."""
    top = F.max_by(F.struct("query_id", "min_executor_pod"), argmax_order())
    return kept.agg(top.alias("top")).filter(F.col("top").isNotNull()).select("top.*")


# G5 dimension → the label column counted for it (:294-298)
MATRIX_LABELS = {
    "count": "recommended_tsize",
    "cache": "tsize_cache",
    "mem": "tsize_mem",
    "cpu": "tsize_cpu",
    "spill": "tsize_spill",
}
# every label tsize_expr can emit; None is past the last bucket
MATRIX_SIZES: list[str | None] = [*SIZE_ORDER, None]


def matrix_cell(dim: str, size: str | None) -> str:
    return f"n_{dim}_{size or 'none'}"


def matrix_cells(keep: Column | None = None) -> list[Column]:
    """G5 as one count per (dimension, size) cell over the rows where
    ``keep`` holds — shared by :func:`size_matrix` and the fused report
    pass."""
    cells = []
    for dim, label in MATRIX_LABELS.items():
        tsize = F.col(label)
        for size in MATRIX_SIZES:
            hit = tsize.isNull() if size is None else tsize == size
            cells.append(
                F.count_if(hit if keep is None else keep & hit).alias(
                    matrix_cell(dim, size)
                )
            )
    return cells


def size_matrix(classified_kept: DataFrame) -> DataFrame:
    """G5: the size × dimension count matrix, long form.

    The reference increments 5 counters per row into
    ``size_matrix[size][dim]`` (:294-298). Here: one global aggregate of
    the 30 cell counts, unpivoted to ``(dim, tsize, n)`` rows for the
    non-empty cells — no shuffle of data rows at any scale.
    """
    cells = F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(dim).alias("dim"),
                    F.lit(size).cast("string").alias("tsize"),
                    F.col(matrix_cell(dim, size)).alias("n"),
                )
                for dim in MATRIX_LABELS
                for size in MATRIX_SIZES
            ]
        )
    )
    return classified_kept.agg(*matrix_cells()).select(cells).filter(F.col("n") > 0)


def size_matrix_sql(params: SizingParams) -> str:
    """Oracle body for :func:`size_matrix` over the ``classified`` CTE."""
    return f"""
, kept AS (SELECT * FROM classified WHERE min_executor_pod <= {params.pod_limit})
, long AS (
  SELECT 'count' AS dim, recommended_tsize AS tsize FROM kept
  UNION ALL SELECT 'cache', tsize_cache FROM kept
  UNION ALL SELECT 'mem', tsize_mem FROM kept
  UNION ALL SELECT 'cpu', tsize_cpu FROM kept
  UNION ALL SELECT 'spill', tsize_spill FROM kept
)
SELECT dim, tsize, COUNT(*) AS n FROM long GROUP BY dim, tsize
"""


def utilization_cols(params: SizingParams) -> list[Column]:
    """G7 as select columns over a row holding the summary columns —
    shared by :func:`utilization` and the fused report pass."""
    from ..functions import round2

    denom = F.col("min_executor_pod_workload") * F.col("total_query_time")

    def pct(util: str, per_node: float) -> Column:
        return round2(100 * F.col(util) / (denom * per_node))

    return [
        pct("util_cache", params.cache_gb_per_node).alias("cache_util_pct"),
        pct("util_mem", params.query_mem_per_node).alias("mem_util_pct"),
        pct("util_cpu", params.vcores_per_node).alias("cpu_util_pct"),
        pct("util_spill", params.scratch_gb_per_node).alias("spill_util_pct"),
    ]


def utilization(summary: DataFrame, params: SizingParams) -> DataFrame:
    """G7: average cluster-utilization percentages
    (``impala_query_sizing.py:449-453``). Pure arithmetic over the
    single-row summary; rounding matches the reference's ``round(_, 2)``
    via the deterministic round2 twin."""
    return summary.select(*utilization_cols(params))


def utilization_sql(params: SizingParams) -> str:
    """Oracle body for :func:`utilization` over a ``summary`` CTE —
    the identical floor-quantized expression text in both dialects."""
    def pct(util: str, per_node: float) -> str:
        return (
            f"(floor((100 * {util} / ((min_executor_pod_workload"
            f" * total_query_time) * {per_node})) * 100.0 + 0.5) / 100.0)"
        )

    return f"""
SELECT
  {pct('util_cache', params.cache_gb_per_node)} AS cache_util_pct,
  {pct('util_mem', params.query_mem_per_node)} AS mem_util_pct,
  {pct('util_cpu', params.vcores_per_node)} AS cpu_util_pct,
  {pct('util_spill', params.scratch_gb_per_node)} AS spill_util_pct
FROM summary
"""
