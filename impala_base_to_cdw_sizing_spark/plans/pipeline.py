"""End-to-end sizing pipeline (the reference's EP2 replay lifecycle,
SURVEY.md §3): ingest → derive → classify → route → aggregate → sweep →
report values.

:func:`run_sizing` caches one table, the classified derived rows, and
issues no job: every branch is a lazy filter, aggregate or sweep over
that table, built when something reads it (mirrors the reference's
single row loop feeding multiple sinks). The CLI reads it with two report
actions (:func:`..plans.reports.collect_report_values`) and the sink
writes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..config import SizingParams
from ..operators.aggregates import argmax_query, size_matrix, summarize, utilization
from ..operators.classify import classify
from ..operators.derive import derive
from ..operators.route import RoutedPlan, route
from ..operators.sweep import explode_events, running_sums, sweep_maxima


@dataclass
class SizingResult:
    """The routed plan plus lazy views over its cached table; reading a
    view builds its frame and runs nothing."""

    routed: RoutedPlan  # kept/pruned carry the t-shirt labels
    params: SizingParams
    segmented_sweep: bool = True

    @property
    def summary(self) -> DataFrame:  # single row: G1-G3, G6, G8
        return summarize(self.routed.kept, self.routed.derived)

    @property
    def argmax(self) -> DataFrame:  # single row: G4
        return argmax_query(self.routed.kept)

    @property
    def matrix(self) -> DataFrame:  # long-form size × dim counts (G5)
        return size_matrix(self.routed.kept)

    @property
    def utilization(self) -> DataFrame:  # single row: G7
        return utilization(self.summary, self.params)

    def maxima(self, bounds: tuple[int | None, int | None]) -> DataFrame:
        """Single row (F4) over the per-event running sums (F1-F3);
        ``bounds`` is the events' ``(min, max)`` ``ts_ms``
        (``operators.sweep.event_bounds``), so the sweep runs no bounds
        job of its own."""
        events = explode_events(self.routed.kept)
        return sweep_maxima(
            running_sums(events, segmented=self.segmented_sweep, bounds=bounds)
        )


def prepare_query_history(flat: DataFrame) -> DataFrame:
    """Boundary adapter: ISO-string timestamps (API/replay form) → the
    engine's epoch-millis interval columns + a deterministic ``seq``
    ordering key (SURVEY §7.3.3: one canonical internal schema, two
    boundary adapters).

    ``seq`` only has to be a deterministic total tie-break for the sweep
    and argmax — it is derived per-row as ``xxhash64(query_id)``
    (query_id is unique), NOT a global ``row_number()`` window, which
    would collapse every ingest to a single partition. Shuffle-free and
    partitioning-independent."""
    from pyspark.sql import functions as F

    return flat.withColumns(
        {
            "start_ms": F.unix_millis(F.to_timestamp("start_time")),
            "end_ms": F.unix_millis(F.to_timestamp("end_time")),
            "admission_wait": F.col("admission_wait").cast("long"),
            "num_backends": F.col("num_backends").cast("long"),
            "seq": F.xxhash64("query_id"),
        }
    )


def run_api_sizing(
    spark,
    params: SizingParams,
    fetcher=None,
    segmented_sweep: bool = True,
) -> SizingResult:
    """EP1: the reference's API-mode program (``impala_query_sizing.py:
    309-341``) — paged CM fetch → flatten → the shared sizing pipeline.

    ``fetcher`` is injectable (tests drive a loopback ``http.server``);
    by default it is the production ``requests_fetcher`` built from the
    params' CM connection fields. Everything downstream of the flatten is
    the SAME code path as EP2 replay, so EP1 ≡ EP2 on equivalent data is
    structural — pinned end-to-end in tests/test_ep1_e2e.py.
    """
    from ..sources.cm_api import (
        flatten_api_docs,
        load_api_queries,
        requests_fetcher,
    )

    if fetcher is None:
        fetcher = requests_fetcher(
            params.cm_url, params.cluster_name,
            params.user_name, params.password,
        )
    docs = load_api_queries(
        spark, fetcher, params.from_date, params.to_date, params.pool or None
    )
    qh = prepare_query_history(flatten_api_docs(docs))
    return run_sizing(qh, params, segmented_sweep=segmented_sweep)


def run_sizing(
    query_history: DataFrame,
    params: SizingParams,
    segmented_sweep: bool = True,
) -> SizingResult:
    routed = route(query_history, params, lambda df, p: classify(derive(df, p)))
    return SizingResult(routed, params, segmented_sweep)
