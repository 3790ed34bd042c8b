"""CM API source protocol (A3/A4), CSV sinks (B1-B3), multimodal plumbing,
and report assembly."""

from __future__ import annotations

import csv
import dataclasses
import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from impala_base_to_cdw_sizing_spark.config import DEFAULT_PARAMS
from impala_base_to_cdw_sizing_spark.operators.classify import classify
from impala_base_to_cdw_sizing_spark.operators.derive import derive
from impala_base_to_cdw_sizing_spark.operators.multimodal import (
    decode_media,
    sample_frames,
    with_payload,
)
from impala_base_to_cdw_sizing_spark.operators.route import (
    accepted_filter,
    skip_split,
)
from impala_base_to_cdw_sizing_spark.plans.pipeline import (
    prepare_query_history,
    run_api_sizing,
    run_sizing,
)
from impala_base_to_cdw_sizing_spark.plans.reports import (
    collect_report_values,
    format_reports,
)
from impala_base_to_cdw_sizing_spark.schemas import API_DOC_SCHEMA, SIZE_ORDER
from impala_base_to_cdw_sizing_spark.sinks import write_sizing_outputs
from impala_base_to_cdw_sizing_spark.sources.cm_api import (
    PAGE_SIZE,
    fetch_pages,
    flatten_api_docs,
    load_api_queries,
)
from impala_base_to_cdw_sizing_spark.sources.files import read_query_history_csv
from impala_base_to_cdw_sizing_spark.sources.synthetic import (
    query_history_from_events,
)

from tests.conftest import SF_SMALL


def _doc(i: int, with_mem: bool = True) -> dict:
    attrs = {
        "pool": "etl",
        "hdfs_bytes_read": str(i * 1024**3),
        "memory_spilled": "0",
        "thread_cpu_time": "12000",
        "admission_wait": "5",
        "num_backends": "4",
    }
    if with_mem:
        attrs["memory_aggregate_peak"] = str(2 * 1024**3)
    return {
        "queryId": f"api-{i}",
        "startTime": "2021-07-12T00:00:01.123Z",
        "endTime": "2021-07-12T00:00:05.000Z",
        "durationMillis": 4000,
        "queryState": "FINISHED",
        "user": "u1",
        "queryType": "QUERY",
        "attributes": attrs,
    }


def test_pagination_protocol_offset_advance():
    calls = []

    def fetcher(from_date, to_date, pool, offset):
        calls.append((to_date, offset))
        if offset == 0 and to_date == "T1":
            return {"queries": [_doc(i) for i in range(1000)], "warnings": []}
        return {"queries": [_doc(2000)], "warnings": []}  # short, no warning

    pages = list(fetch_pages(fetcher, "T0", "T1"))
    assert [len(p) for p in pages] == [1000, 1]
    assert calls == [("T1", 0), ("T1", 1000)]


def test_pagination_warning_shrinks_window():
    calls = []

    def fetcher(from_date, to_date, pool, offset):
        calls.append((to_date, offset))
        if to_date == "T9":
            # short page + exactly 1 warning → new to_date = last token
            return {
                "queries": [_doc(1)],
                "warnings": ["window truncated, retry before T5"],
            }
        return {"queries": [_doc(2)], "warnings": []}

    pages = list(fetch_pages(fetcher, "T0", "T9"))
    assert [len(p) for p in pages] == [1, 1]
    assert calls == [("T9", 0), ("T5", 0)]  # offset reset + shrunk window


def test_api_load_and_flatten_skip_route(spark):
    def fetcher(from_date, to_date, pool, offset):
        return {
            "queries": [_doc(1), _doc(2, with_mem=False), _doc(3)],
            "warnings": [],
        }

    docs = load_api_queries(spark, fetcher, "T0", "T1")
    flat = flatten_api_docs(docs)
    rows = {r.query_id: r for r in flat.collect()}
    assert len(rows) == 3
    assert rows["api-2"].has_mem_metric is False  # D1 skip route flag
    assert rows["api-1"].reqd_cache_gb == 1.0  # bytes→GB round 2
    assert rows["api-1"].cpu_time_sec == 12.0  # ms→sec
    assert rows["api-1"].num_backends == 4


def _paged(docs: list[dict]):
    """A fetcher that pages ``docs`` as the CM API does."""
    def fetcher(from_date, to_date, pool, offset):
        return {"queries": docs[offset : offset + PAGE_SIZE], "warnings": []}

    return fetcher


def test_api_plan_folds_no_derived_column(spark):
    """The API path's optimized plan keeps derive and classify above the
    doc relation: Catalyst's ConvertToLocalRelation would otherwise
    evaluate every derived column row by row on the driver at plan time
    and leave the whole chain as one LocalRelation."""
    docs = load_api_queries(
        spark, _paged([_doc(i) for i in range(2000)]), "T0", "T1"
    )
    qh = prepare_query_history(flatten_api_docs(docs))
    with_metrics, _ = skip_split(accepted_filter(qh, DEFAULT_PARAMS))
    plan = (
        classify(derive(with_metrics, DEFAULT_PARAMS))
        ._jdf.queryExecution().optimizedPlan()
    )
    assert plan.nodeName() != "LocalRelation"
    leaves = plan.collectLeaves()
    relations = [
        leaf for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LocalRelation"
    ]
    assert relations
    for rel in relations:
        out = rel.output()
        names = [out.apply(i).name() for i in range(out.size())]
        assert names == API_DOC_SCHEMA.fieldNames()


def _replay_row(doc: dict) -> list:
    """The replay CSV row of an API doc, converted in Python."""
    attrs = doc["attributes"]

    def gb(key: str) -> float:
        return math.floor(int(attrs[key]) / 1024**3 * 100 + 0.5) / 100

    return [
        doc["queryId"], attrs["pool"], doc["startTime"], doc["endTime"],
        doc["durationMillis"], gb("hdfs_bytes_read"), gb("memory_aggregate_peak"),
        gb("memory_spilled"), int(attrs["thread_cpu_time"]) / 1000,
        doc["queryType"], attrs["admission_wait"], attrs["num_backends"],
    ]


@pytest.mark.parametrize(
    "docs",
    [
        [],
        [_doc(3)],
        [_doc(i, with_mem=False) for i in range(1, 6)],
    ],
    ids=["no_docs", "one_doc", "all_missing_mem"],
)
def test_api_degenerate_inputs_match_replay(spark, tmp_path, docs):
    """EP1 on an empty, single-doc or all-skipped corpus gives the report
    the replay path gives on the equivalent CSV (skipped docs never reach
    a replay export)."""
    kept = [d for d in docs if "memory_aggregate_peak" in d["attributes"]]
    history = tmp_path / "history.csv"
    with history.open("w", newline="") as f:
        w = csv.writer(f)
        w.writerow([
            "query_id", "pool", "start_time", "end_time", "duration_millis",
            "reqd_cache_gb", "reqd_agg_mem", "memory_spilled_gb",
            "cpu_time_sec", "query_type", "admission_wait", "num_backends",
        ])
        w.writerows(_replay_row(d) for d in kept)
    api = run_api_sizing(spark, DEFAULT_PARAMS, fetcher=_paged(docs))
    replay = run_sizing(
        prepare_query_history(read_query_history_csv(spark, str(history))),
        DEFAULT_PARAMS,
    )
    try:
        got, want = (
            dataclasses.asdict(collect_report_values(r, DEFAULT_PARAMS))
            for r in (api, replay)
        )
        assert api.routed.skipped.count() == len(docs) - len(kept)
    finally:
        for r in (api, replay):
            r.routed.derived.unpersist()
    assert got == want
    assert got["individual"]["total_queries"] == len(kept)


def _data_rows(path: Path, header: bool) -> int:
    """Data lines in a Spark output directory's part files."""
    return sum(
        max(0, len(p.read_text().splitlines()) - int(header))
        for p in path.glob("part-*")
    )


def test_sizing_sinks(spark, tmp_path: Path):
    qh = query_history_from_events(spark, SF_SMALL)
    res = run_sizing(qh, DEFAULT_PARAMS)
    prune_count = collect_report_values(res, DEFAULT_PARAMS).individual["prune_count"]
    write_sizing_outputs(
        kept=res.routed.kept,
        pruned=res.routed.pruned,
        skipped=res.routed.skipped,
        output_cols=["query_id", "pool", "min_executor_pod", "recommended_tsize"],
        main_path=str(tmp_path / "main"),
        pruned_path=str(tmp_path / "pruned"),
        skipped_path=str(tmp_path / "skipped"),
        prune_count=prune_count,
    )
    # the files hold exactly the routed rows
    kept_n = _data_rows(tmp_path / "main", header=True)
    skipped_n = _data_rows(tmp_path / "skipped", header=False)
    assert kept_n == res.routed.kept.count() > 0
    assert skipped_n == res.routed.skipped.count() > 0
    assert _data_rows(tmp_path / "pruned", header=True) == prune_count
    assert prune_count == res.routed.pruned.count()
    main_files = list((tmp_path / "main").glob("*.csv"))
    assert main_files, "main CSV parts written"
    header = main_files[0].read_text().splitlines()[0]
    assert header == "query_id,pool,min_executor_pod,recommended_tsize"
    skipped_line = (
        list((tmp_path / "skipped").glob("part-*"))[0].read_text().splitlines()[0]
    )
    assert skipped_line.count("|") == 3  # id|duration|start|end
    # lazy prune sink: dir exists iff pruned rows exist
    assert (tmp_path / "pruned").exists() == (prune_count > 0)


def test_report_values_and_render(spark):
    qh = query_history_from_events(spark, SF_SMALL)
    res = run_sizing(qh, DEFAULT_PARAMS)
    values = collect_report_values(res, DEFAULT_PARAMS)
    assert values.individual["total_queries"] > 0
    assert values.cluster_sizing["tsize_workload"] in SIZE_ORDER
    assert set(values.query_counts) == set(SIZE_ORDER)
    text = format_reports(values)
    for section in (
        "Individual Query Analysis",
        "Concurrent Query Analysis",
        "Cluster Sizing",
        "Query Counts",
        "Average Cluster Utilization",
    ):
        assert section in text


def test_ep1_api_mode_end_to_end(spark):
    """EP1: fake CM pages → flatten → full pipeline → report values."""
    def fetcher(from_date, to_date, pool, offset):
        docs = [_doc(i) for i in range(1, 40)]
        docs.append(_doc(99, with_mem=False))  # skip-routed
        return {"queries": docs, "warnings": []}

    flat = flatten_api_docs(load_api_queries(spark, fetcher, "T0", "T1"))
    qh = prepare_query_history(flat)
    res = run_sizing(qh, DEFAULT_PARAMS)
    values = collect_report_values(res, DEFAULT_PARAMS)
    assert values.individual["total_queries"] == 39  # skip-routed row excluded
    assert res.routed.skipped.count() == 1
    assert values.concurrent["max_concurrent_queries"] >= 1


def test_quote_nonnumeric_writer_byte_exact(spark, tmp_path: Path):
    import csv as _csv
    import io

    from impala_base_to_cdw_sizing_spark.sinks.csv_sinks import (
        write_csv_quote_nonnumeric,
    )

    rows = [("a|1", 1, 1.5), ("b", 2, 2.25)]
    df = spark.createDataFrame(rows, "name string, k long, x double")
    out = tmp_path / "golden"
    write_csv_quote_nonnumeric(df, str(out))
    got = "\n".join(
        p.read_text().rstrip("\n")
        for p in sorted(out.glob("part-*"))
        if p.read_text().strip()
    )
    buf = io.StringIO()
    # \n terminator: the engine's text sink dialect (quoting semantics are
    # the fidelity target; the reference's \r\n is a py2-csv artifact)
    w = _csv.writer(buf, quoting=_csv.QUOTE_NONNUMERIC, lineterminator="\n")
    w.writerow(["name", "k", "x"])
    for r in rows:
        w.writerow(r)
    assert got == buf.getvalue().rstrip("\n")


def test_multimodal_decode_and_frames(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(20)
    payloads = with_payload(docs)
    decoded = decode_media(payloads)
    rows = decoded.collect()
    assert len(rows) == 20
    for r in rows:
        assert r.n_pixels == r.width * r.height
        assert 0 <= r.mean_byte <= 255
    frames = sample_frames(payloads, n_frames=4)
    assert frames.count() == 80
    one = frames.filter(F.col("frame_idx") == 0).first()
    assert isinstance(one.frame_bytes, (bytes, bytearray))
