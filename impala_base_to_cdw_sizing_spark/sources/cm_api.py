"""Cloudera Manager REST source — SURVEY.md §2.A3/A4, driver-side paged
fetch feeding ``createDataFrame`` batches.

The reference GETs ``/api/v32/clusters/<c>/services/impala/impalaQueries``
with a server-side filter string, ``limit=1000&offset=N``, and a
warning-driven time-window shrink protocol
(``impala_query_sizing.py:136-162,338-339``):

- page returns < 1000 rows AND exactly 1 warning → parse the warning's
  last token as the new ``to`` date, reset offset, continue (retry with a
  tightened predicate);
- else offset += 1000;
- terminate on a short page with no warnings.

A DataSourceV2 is not justified for an auth'd, rate-limited admin API
(SURVEY §4.3.1): the loop is inherently sequential and tiny relative to
the analytics. The fetcher is injectable so tests run network-free; the
real fetcher uses ``requests`` with basic auth (import-gated).

In Spark terms the filter/limit are *manual source-level predicate and
limit pushdown* — the same predicates are re-expressible in-plan for file
sources (operators.route.accepted_filter).

The fetched docs reach Spark as an in-memory ``LocalRelation``, and
Catalyst's ``ConvertToLocalRelation`` rule folds a projection or filter
directly above one into a new relation by evaluating it row by row, interpreted,
on one driver thread at plan time. Left alone, it folds flatten, derive
and classify into the relation the pipeline caches; the rule's cost grows
with the corpus (measured on a 4-vCPU host: 1.3 s at 20k docs and 6.1 s
at 80k, nearly all of the optimization phase; an earlier probe read
574 ms of 610 ms and 2469 ms). :func:`load_api_queries` therefore ends in a
round-robin ``repartition``: the plan barrier leaves the raw 8-column doc
relation as the only ``LocalRelation`` and runs the chain above it as
whole-stage-codegen tasks.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import API_DOC_SCHEMA

PAGE_SIZE = 1000

# fetcher(from_date, to_date, pool, offset) -> {"queries": [...], "warnings": [...]}
Fetcher = Callable[[str, str, str | None, int], dict]


def build_filter(pool: str | None) -> str:
    """Server-side filter string (impala_query_sizing.py:138-141)."""
    base = "queryType=QUERY and executing=false"
    return f"{base} and pool={pool}" if pool else base


def requests_fetcher(
    cm_url: str, cluster_name: str, user: str, password: str
) -> Fetcher:
    """Production fetcher against CM API v32 (basic auth).

    One ``requests.Session`` for the fetcher's lifetime (r14): the page
    loop issues hundreds of GETs against one host, and a bare
    ``requests.get`` opens a fresh TCP connection (plus TLS handshake on
    https) per page — the session's keep-alive pool reuses it (guide
    §4.5's initialise-once rule applied to the ingestion client)."""
    import requests  # gated: not needed for tests

    session = requests.Session()
    session.auth = (user, password)

    def fetch(from_date: str, to_date: str, pool: str | None, offset: int) -> dict:
        url = (
            f"{cm_url}/api/v32/clusters/{cluster_name}/services/impala/"
            f"impalaQueries?from={from_date}&to={to_date}"
            f"&filter={build_filter(pool)}&limit={PAGE_SIZE}&offset={offset}"
        )
        resp = session.get(url, timeout=60)
        resp.raise_for_status()
        return resp.json()

    return fetch


def fetch_pages(
    fetcher: Fetcher,
    from_date: str,
    to_date: str,
    pool: str | None = None,
    max_pages: int = 10_000,
) -> Iterator[list[dict]]:
    """A4 pagination protocol with warning-driven window shrink."""
    offset = 0
    for _ in range(max_pages):
        page = fetcher(from_date, to_date, pool, offset)
        queries = page.get("queries", [])
        warnings = page.get("warnings", [])
        if queries:
            yield queries
        if len(queries) < PAGE_SIZE and len(warnings) == 1:
            # shrink the window: warning's last token is the new to-date
            to_date = warnings[0].split()[-1]
            offset = 0
            continue
        if len(queries) < PAGE_SIZE and not warnings:
            return
        offset += PAGE_SIZE


def load_api_queries(
    spark: SparkSession,
    fetcher: Fetcher,
    from_date: str,
    to_date: str,
    pool: str | None = None,
) -> DataFrame:
    """Fetch all pages and return one DataFrame of nested API docs.

    All pages land in ONE DataFrame (split into partitions by Spark),
    NOT a per-page union chain: a chain of N unions builds an N-deep
    plan whose analysis cost grows super-linearly with page count —
    measured r13 at a 10-page loopback corpus: 5.4 s for the chain vs
    0.6 s for the single batch, and the gap widens quadratically.

    Conversion is INCREMENTAL (r13 ADVICE): each page of raw dicts is
    turned into a columnar Arrow ``RecordBatch`` as soon as it arrives,
    so the page's Python dicts are released before the next fetch and
    peak driver memory is the compact Arrow columns plus ONE page of
    dicts — not the whole raw corpus and its converted rows coexisting.
    The batches concatenate zero-copy into a single ``pyarrow.Table``
    fed to one ``createDataFrame`` (Arrow path). The page loop itself
    stays driver-side by design — the reference's own ingestion shape
    (``impala_query_sizing.py``'s urllib2 page loop) against a
    rate-limited admin API.

    The frame ends in a ``repartition`` to the scheduler's parallelism,
    the plan barrier described in the module docstring. The explicit
    width keeps AQE from coalescing the exchange into one task, so the
    chain above it runs on every core. The route filters, pushed below
    the barrier, still fold into the relation: cheap predicates that
    keep its 8 columns.
    """
    import pyarrow as pa

    arrow_schema = pa.schema(
        [
            pa.field("queryId", pa.string(), nullable=False),
            pa.field("startTime", pa.string()),
            pa.field("endTime", pa.string()),
            pa.field("durationMillis", pa.int64()),
            pa.field("queryState", pa.string()),
            pa.field("user", pa.string()),
            pa.field("queryType", pa.string()),
            pa.field("attributes", pa.map_(pa.string(), pa.string())),
        ]
    )
    batches = [
        pa.RecordBatch.from_pylist(page, schema=arrow_schema)
        for page in fetch_pages(fetcher, from_date, to_date, pool)
    ]
    table = (
        pa.Table.from_batches(batches, schema=arrow_schema)
        if batches
        else arrow_schema.empty_table()
    )
    # One contiguous chunk before the JVM handoff (r15): createDataFrame
    # ships and registers each Arrow chunk separately, and hundreds of
    # page-sized chunks cost more py4j/IPC round-trips than one compact
    # batch (measured 0.52 -> 0.40 s at 100 pages; the concat itself is
    # 0.02 s and arrow-to-arrow, so the incremental page conversion above
    # still bounds peak memory — raw dicts never coexist with more than
    # one page). The arrow schema matches to_arrow_schema(API_DOC_SCHEMA)
    # exactly, so no cast pass runs inside createDataFrame (verified:
    # Table.cast to the derived schema is a no-op).
    docs = spark.createDataFrame(table.combine_chunks(), API_DOC_SCHEMA)
    return docs.repartition(spark.sparkContext.defaultParallelism)


def flatten_api_docs(docs: DataFrame) -> DataFrame:
    """C1+C2: nested API doc → the flat query-history schema with typed
    casts and GB/sec unit conversions (impala_query_sizing.py:189-208).

    The ``has_mem_metric`` flag carries the D1 skip-route condition
    (missing ``memory_aggregate_peak``) downstream. Rounding goes through
    :func:`..functions.round2` (not ``F.round``) — identical HALF_UP
    result for these non-negative byte/ms counts, and the same IEEE op
    sequence DuckDB runs, so the ``sizing_api_flatten`` oracle row
    hash-matches (the repo-wide cross-engine rounding rule).
    """
    from ..functions import round2

    attr = F.col("attributes")
    gb = 1024 * 1024 * 1024
    return docs.select(
        F.col("queryId").alias("query_id"),
        F.try_element_at(attr, F.lit("pool")).alias("pool"),
        F.col("startTime").alias("start_time"),
        F.col("endTime").alias("end_time"),
        F.col("durationMillis").cast("long").alias("duration_millis"),
        round2(F.try_element_at(attr, F.lit("hdfs_bytes_read")).cast("double") / gb).alias(
            "reqd_cache_gb"
        ),
        round2(
            F.try_element_at(attr, F.lit("memory_aggregate_peak")).cast("double") / gb
        ).alias("reqd_agg_mem"),
        round2(F.try_element_at(attr, F.lit("memory_spilled")).cast("double") / gb).alias(
            "memory_spilled_gb"
        ),
        round2(
            F.try_element_at(attr, F.lit("thread_cpu_time")).cast("double") / 1000
        ).alias("cpu_time_sec"),
        F.col("queryType").alias("query_type"),
        F.try_element_at(attr, F.lit("admission_wait")).cast("int").alias("admission_wait"),
        F.try_element_at(attr, F.lit("num_backends")).cast("int").alias("num_backends"),
        F.try_element_at(attr, F.lit("memory_aggregate_peak")).isNotNull().alias(
            "has_mem_metric"
        ),
        F.col("queryState").alias("query_state"),
        F.col("user").alias("user_id"),
    )
