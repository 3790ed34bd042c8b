"""Seeded inputs for the sizing benchmark.

Every input is a pure function of ``(seed, shape, size)``: the same seed
gives byte-identical files and HTTP pages. The program under test only
ever sees the generated bytes.

Column distributions follow FIXTURES.md F1 (query history) and F2 (API
docs), plus a heavy tail on each pod dimension so that all five t-shirt
buckets and the prune route fire at every workload size:

- ``duration_millis``: log-uniform 500 ms .. 2 h.
- ``reqd_cache_gb`` / ``reqd_agg_mem`` / ``memory_spilled_gb``: log-uniform
  per F1 (spill is 0 for ~70% of rows); 1.5% of rows per dimension draw
  from a heavy range worth 10..150 pods, which covers MEDIUM, LARGE,
  CUSTOM and the prune route (> 100 pods).
- ``cpu_time_sec``: ``duration_sec * U(0.5, 64)``; 1.5% of rows are
  multiplied by ``U(10, 40)`` so the CPU dimension reaches 128 pods.
- ``admission_wait``: 0 for 80% of rows, else ``U(1, min(60000, dur-1))``.
- ``query_type``: 94% QUERY, 3% DDL, 3% DML.

Arrival shapes (off-peak rows arrive uniformly over the window):

- ``nightly_etl``: a month of history where 45% of rows arrive in a
  02:00-04:00 UTC batch window and belong to the ``etl`` pool, so one pool
  carries about half the rows and the sweep's time buckets are skewed.
- ``business_hours``: 60% of rows arrive between 08:00 and 18:00 UTC.
"""

from __future__ import annotations

import base64
import json
import threading
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

GB = 1 << 30
PAGE_SIZE = 1000  # sources.cm_api.PAGE_SIZE; the CM API's fixed page length
DAY_MS = 86_400_000
WINDOW_START_MS = 1_625_097_600_000  # 2021-07-01T00:00:00Z
POOLS = np.array(["etl", "bi", "adhoc", "reporting"])
REPLAY_COLUMNS = [
    "query_id", "pool", "start_time", "end_time", "duration_millis",
    "reqd_cache_gb", "reqd_agg_mem", "memory_spilled_gb", "cpu_time_sec",
    "query_type", "admission_wait", "num_backends",
]
HEAVY_SHARE = 0.015


def _log_uniform(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return lo * (hi / lo) ** rng.random(n)


def _with_heavy_tail(
    rng: np.random.Generator, base: np.ndarray, lo: float, hi: float
) -> np.ndarray:
    heavy = rng.random(base.size) < HEAVY_SHARE
    return np.where(heavy, _log_uniform(rng, lo, hi, base.size), base)


def _iso(ms: np.ndarray) -> np.ndarray:
    """Epoch millis -> ``YYYY-MM-DDTHH:MM:SS.mmmZ`` (the replay format)."""
    text = np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms")
    return np.char.add(text, "Z")


def _arrivals(
    rng: np.random.Generator, n: int, days: int, shape: str
) -> tuple[np.ndarray, np.ndarray]:
    """Start times (epoch ms) and a per-row 'in the peak' flag."""
    span = days * DAY_MS
    uniform = WINDOW_START_MS + rng.integers(0, span, n)
    if shape == "nightly_etl":
        share, lo_h, hi_h = 0.45, 2, 4
    elif shape == "business_hours":
        share, lo_h, hi_h = 0.60, 8, 18
    else:
        raise ValueError(f"unknown arrival shape {shape!r}")
    peak = rng.random(n) < share
    day = rng.integers(0, days, n)
    in_window = rng.integers(lo_h * 3_600_000, hi_h * 3_600_000, n)
    return np.where(peak, WINDOW_START_MS + day * DAY_MS + in_window, uniform), peak


def query_history(seed: int, n: int, days: int, shape: str) -> pa.Table:
    """One F1 query-history table (replay column order, ISO timestamps)."""
    rng = np.random.default_rng(seed)
    start_ms, peak = _arrivals(rng, n, days, shape)
    duration = np.rint(_log_uniform(rng, 500, 7_200_000, n)).astype(np.int64)
    waits = np.minimum(60_000, duration - 1)
    admission = np.where(
        rng.random(n) < 0.8, 0, 1 + (rng.random(n) * waits).astype(np.int64)
    )
    cache = _with_heavy_tail(rng, _log_uniform(rng, 0.01, 5000, n), 10_000, 150_000)
    mem = _with_heavy_tail(rng, _log_uniform(rng, 0.1, 2000, n), 2000, 30_000)
    spill = np.where(rng.random(n) < 0.7, 0.0, _log_uniform(rng, 0.1, 3000, n))
    spill = _with_heavy_tail(rng, spill, 10_000, 150_000)
    par = rng.uniform(0.5, 64, n)
    par = np.where(rng.random(n) < HEAVY_SHARE, par * rng.uniform(10, 40, n), par)
    cpu = duration / 1000.0 * par
    kind = rng.random(n)
    query_type = np.where(kind < 0.94, "QUERY", np.where(kind < 0.97, "DDL", "DML"))
    backends = rng.integers(1, 41, n)
    pool = POOLS[rng.integers(0, POOLS.size, n)]
    if shape == "nightly_etl":
        # off-peak rows rarely come from the ETL pool, so ETL carries ~half
        off_peak = np.where(rng.random(n) < 0.1, 0, rng.integers(1, POOLS.size, n))
        pool = np.where(peak, "etl", POOLS[off_peak])
    tags = rng.integers(0, 1 << 32, n)
    ids = [f"q{i:07d}:{t:08x}" for i, t in enumerate(tags.tolist())]
    return pa.table(
        {
            "query_id": ids,
            "pool": pool,
            "start_time": _iso(start_ms),
            "end_time": _iso(start_ms + duration),
            "duration_millis": duration,
            "reqd_cache_gb": np.round(cache, 2),
            "reqd_agg_mem": np.round(mem, 2),
            "memory_spilled_gb": np.round(spill, 2),
            "cpu_time_sec": np.round(cpu, 2),
            "query_type": query_type,
            "admission_wait": admission.astype(np.int32),
            "num_backends": backends.astype(np.int32),
        }
    )


def write_replay_csv(table: pa.Table, path: Path) -> None:
    """The EP2 replay file: header row, one line per query."""
    pacsv.write_csv(
        table.select(REPLAY_COLUMNS),
        str(path),
        write_options=pacsv.WriteOptions(quoting_style="none"),
    )


# --- EP1: the CM API corpus -------------------------------------------------

API_FROM = "2021-07-01T00:00:00Z"
API_TO = "2021-07-31T00:00:00Z"
# the window-shrink warning names this as the new ``to`` date
API_SHRUNK_TO = "2021-07-20T00:00:00Z"
MISSING_MEM_SHARE = 0.03


def api_docs(seed: int, n: int, days: int, shape: str) -> list[dict]:
    """F2 documents: the query history re-expressed as CM API elements
    (byte and millisecond counters in a string map); ~3% lack
    ``memory_aggregate_peak`` and so take the skip route."""
    t = query_history(seed, n, days, shape).to_pydict()
    missing = np.random.default_rng([seed, 1]).random(n) < MISSING_MEM_SHARE
    users = [f"user{i % 23}" for i in range(n)]
    docs = []
    for i in range(n):
        attrs = {
            "pool": t["pool"][i],
            "hdfs_bytes_read": str(int(t["reqd_cache_gb"][i] * GB)),
            "memory_spilled": str(int(t["memory_spilled_gb"][i] * GB)),
            "thread_cpu_time": str(int(t["cpu_time_sec"][i] * 1000)),
            "admission_wait": str(t["admission_wait"][i]),
            "num_backends": str(t["num_backends"][i]),
        }
        if not missing[i]:
            attrs["memory_aggregate_peak"] = str(int(t["reqd_agg_mem"][i] * GB))
        docs.append(
            {
                "queryId": t["query_id"][i],
                "startTime": t["start_time"][i],
                "endTime": t["end_time"][i],
                "durationMillis": t["duration_millis"][i],
                "queryState": "FINISHED",
                "user": users[i],
                "queryType": t["query_type"][i],
                "attributes": attrs,
            }
        )
    return docs


def api_docs_table(docs: list[dict]) -> pa.Table:
    """The docs as one Arrow table (the shape ``load_api_queries`` builds),
    for the DuckDB side of the output check."""
    schema = pa.schema(
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
    rows = [{**d, "attributes": list(d["attributes"].items())} for d in docs]
    return pa.Table.from_pylist(rows, schema=schema)


def api_pages(docs: list[dict]) -> dict[tuple[str, int], bytes]:
    """Pre-serialized page bodies keyed by ``(to, offset)``.

    The wide window (``to=API_TO``) serves the first ~90% of the docs and
    ends on a short page carrying one warning; the client then shrinks its
    window to ``API_SHRUNK_TO`` and pages through the rest. Both windows end
    on a short page, so each doc is served exactly once per op."""
    split = (len(docs) * 9 // 10 // PAGE_SIZE) * PAGE_SIZE + PAGE_SIZE // 2
    split = min(split, len(docs))
    warning = (
        "Impala query scan limit reached. Last end time considered is "
        + API_SHRUNK_TO
    )
    pages: dict[tuple[str, int], bytes] = {}
    for to, part, last_warnings in (
        (API_TO, docs[:split], [warning]),
        (API_SHRUNK_TO, docs[split:], []),
    ):
        for offset in range(0, len(part) + 1, PAGE_SIZE):
            chunk = part[offset: offset + PAGE_SIZE]
            short = len(chunk) < PAGE_SIZE
            body = {"queries": chunk, "warnings": last_warnings if short else []}
            pages[(to, offset)] = json.dumps(body).encode()
    return pages


@dataclass
class CMServer:
    """A loopback Cloudera Manager ``impalaQueries`` endpoint serving
    pre-serialized pages per cluster name; counts requests and bytes
    served."""

    clusters: dict[str, dict[tuple[str, int], bytes]]
    requests: int = 0
    bytes_sent: int = 0
    _httpd: ThreadingHTTPServer | None = field(default=None, repr=False)
    _thread: threading.Thread | None = field(default=None, repr=False)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    @property
    def url(self) -> str:
        assert self._httpd is not None
        return f"http://127.0.0.1:{self._httpd.server_address[1]}"

    def start(self) -> CMServer:
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"  # keep-alive, as the CM API does

            def do_GET(self):  # noqa: N802 - http.server hook name
                from urllib.parse import parse_qs, urlparse

                url = urlparse(self.path)
                # /api/v32/clusters/<cluster>/services/impala/impalaQueries
                parts = url.path.split("/")
                cluster = parts[4] if len(parts) > 4 else ""
                qs = {k: v[0] for k, v in parse_qs(url.query).items()}
                key = (qs.get("to", ""), int(qs.get("offset", "0")))
                body = server.clusters.get(cluster, {}).get(key)
                if body is None:
                    self.send_error(404, f"no page for {cluster} {key}")
                    return
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                with server._lock:
                    server.requests += 1
                    server.bytes_sent += len(body)

            def log_message(self, *args):
                pass

        # a thread per connection: an op's keep-alive connection may outlive it
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)


def write_api_conf(path: Path, url: str, cluster: str) -> None:
    """A reference-style EP1 config pointing at the loopback server."""
    pfile = path.with_suffix(".pfile")
    pfile.write_text(base64.b64encode(b"bench").decode())
    path.write_text(
        "\n".join(
            [
                f"from={API_FROM}",
                f"to={API_TO}",
                f"cm_url={url}",
                f"cluster_name={cluster}",
                "user_name=bench",
                f"pfile={pfile}",
            ]
        )
        + "\n"
    )
