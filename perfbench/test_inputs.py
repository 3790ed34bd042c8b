"""The benchmark's inputs exercise every sizing route at the chosen sizes.

Run with ``python3 -m pytest perfbench/test_inputs.py``. Needs no Spark:
the routes are counted by the DuckDB oracle the benchmark checks with.
"""

from __future__ import annotations

import json

import pyarrow as pa
import pytest

from impala_base_to_cdw_sizing_spark.config import SizingParams
from impala_base_to_cdw_sizing_spark.schemas import SIZE_ORDER
from perfbench import inputs, oracle
from perfbench.run import WORKLOADS

SEEDS = [0, 1, 7]


def _seqs(ids: list[str]) -> pa.Table:
    # any distinct BIGINT tie-break will do for counting routes
    return pa.table({"query_id": ids, "seq": pa.array(range(len(ids)), pa.int64())})


def _expected(name: str, seed: int, tmp_path) -> oracle.Expected:
    w = WORKLOADS[name]
    if w.kind == "replay":
        table = inputs.query_history(seed, w.rows, w.days, w.shape)
        csv = tmp_path / "history.csv"
        inputs.write_replay_csv(table, csv)
        ids = table.column("query_id").to_pylist()
        return oracle.expected_replay(str(csv), _seqs(ids), SizingParams())
    docs = inputs.api_docs(seed, w.rows, w.days, w.shape)
    ids = [d["queryId"] for d in docs]
    return oracle.expected_api(inputs.api_docs_table(docs), _seqs(ids), SizingParams())


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_every_bucket_and_route_fires(name, seed, tmp_path):
    want = _expected(name, seed, tmp_path)
    counts = want.report["query_counts"]
    empty = [
        (size, dim)
        for size in SIZE_ORDER
        for dim, n in counts[size].items()
        if n == 0
    ]
    assert not empty, f"t-shirt buckets that never fire: {empty}"
    assert want.sinks["pruned"] > 0
    assert want.sinks["kept"] > 0
    if WORKLOADS[name].kind == "api":
        assert want.sinks["skipped"] > 0  # only API docs can lack the metric


def test_same_seed_same_bytes(tmp_path):
    w = WORKLOADS["replay_large"]
    paths = [tmp_path / "a.csv", tmp_path / "b.csv"]
    for p in paths:
        inputs.write_replay_csv(inputs.query_history(3, w.rows, w.days, w.shape), p)
    assert paths[0].read_bytes() == paths[1].read_bytes()
    w = WORKLOADS["api_replay"]
    pages = [inputs.api_pages(inputs.api_docs(3, w.rows, w.days, w.shape)) for _ in "ab"]
    assert pages[0] == pages[1]
    other = inputs.api_pages(inputs.api_docs(4, w.rows, w.days, w.shape))
    assert other != pages[0]


def test_pages_serve_each_doc_once_with_one_shrink():
    from impala_base_to_cdw_sizing_spark.sources.cm_api import fetch_pages

    w = WORKLOADS["api_replay"]
    docs = inputs.api_docs(5, w.rows, w.days, w.shape)
    pages = inputs.api_pages(docs)
    served = []

    def fetcher(from_date, to_date, pool, offset):
        served.append(to_date)
        return json.loads(pages[(to_date, offset)])

    got = [d["queryId"] for page in fetch_pages(fetcher, inputs.API_FROM, inputs.API_TO)
           for d in page]
    assert got == [d["queryId"] for d in docs]
    assert served.count(inputs.API_SHRUNK_TO) >= 1
    assert served[-1] == inputs.API_SHRUNK_TO
