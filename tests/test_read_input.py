"""sources/files.read_input — the adaptive scan fan-out.

Pins the guard's decision branches (fan out / too small / already
splittable) and that fan-out changes ONLY the partitioning, never the
rows. The fan-out exists because parquet splits at row-group
boundaries: a single-file single-row-group table scans as one task and
serializes every expression above it (measured: the MinHash signature
build at 4.8 s in 1 task with 31 cores idle, r14). Since r15 the WIDTH
scales with input rows and the consumer's per-row cost class instead of
a flat core count (r14 verdict #2: 32 partitions of 62 rows taxed every
cheap chain ~0.2-1 s at local[32] while buying nothing — the 8c/32c
scaling ratios were ~1)."""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from impala_base_to_cdw_sizing_spark.sources.files import (  # noqa: E402
    _FANOUT_MIN_ROWS,
    ROWS_PER_TASK_COLLAPSING,
    ROWS_PER_TASK_HEAVY,
    ROWS_PER_TASK_LIGHT,
    _scan_fanout,
    read_input,
)


def _write(path: Path, n_rows: int, row_group_size: int | None = None) -> None:
    tbl = pa.table({"k": list(range(n_rows)), "v": [f"x{i}" for i in range(n_rows)]})
    pq.write_table(tbl, path, row_group_size=row_group_size or n_rows)


def test_fans_out_single_row_group_table(spark, tmp_path):
    _write(tmp_path / "t.parquet", _FANOUT_MIN_ROWS)
    cpus = spark.sparkContext.defaultParallelism
    # heavy consumer: 2 000 rows / 64 rows-per-task reaches the core cap
    assert _scan_fanout(
        str(tmp_path / "t.parquet"), cpus, ROWS_PER_TASK_HEAVY
    ) == min(cpus, _FANOUT_MIN_ROWS // ROWS_PER_TASK_HEAVY)
    df = read_input(spark, str(tmp_path), "t", ROWS_PER_TASK_HEAVY)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
    # rows identical to the direct read
    direct = spark.read.parquet(str(tmp_path / "t.parquet"))
    assert sorted(r.k for r in df.collect()) == sorted(
        r.k for r in direct.collect()
    )


def test_width_scales_with_rows_and_cost_class(tmp_path):
    # light consumer over a small table: 2 000 rows / 16 Ki rows-per-task
    # is under 2 tasks -> scan left alone (the r14 cheap-chain tax)
    _write(tmp_path / "t.parquet", _FANOUT_MIN_ROWS)
    assert _scan_fanout(str(tmp_path / "t.parquet"), 32) == 0
    # light consumer over a mid-size table: row-scaled width, NOT the
    # core count (100 k rows -> 6 tasks at 16 Ki rows/task)
    _write(tmp_path / "mid.parquet", 100_000)
    assert _scan_fanout(str(tmp_path / "mid.parquet"), 32) == (
        100_000 // ROWS_PER_TASK_LIGHT
    )
    # the core count stays the cap for both classes
    assert _scan_fanout(str(tmp_path / "mid.parquet"), 4) == 4
    _write(tmp_path / "big.parquet", 4_000_000 // 4)  # 1M rows, 1 row group
    assert _scan_fanout(str(tmp_path / "big.parquet"), 32) == 32


def test_leaves_small_tables_alone(spark, tmp_path):
    _write(tmp_path / "small.parquet", _FANOUT_MIN_ROWS - 1)
    assert _scan_fanout(str(tmp_path / "small.parquet"), 32, ROWS_PER_TASK_HEAVY) == 0
    plan = (
        read_input(spark, str(tmp_path), "small", ROWS_PER_TASK_HEAVY)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "RoundRobinPartitioning" not in plan


def test_leaves_splittable_tables_alone(spark, tmp_path):
    # 64 row groups >= cpus/2: the input already splits; the guard must
    # not add a shuffle (at scale this is the only branch ever taken)
    _write(tmp_path / "big.parquet", 6400, row_group_size=100)
    assert _scan_fanout(str(tmp_path / "big.parquet"), 32, ROWS_PER_TASK_HEAVY) == 0


@pytest.mark.parametrize("cpus", [4, 32])
@pytest.mark.parametrize(
    "rows_per_task",
    [ROWS_PER_TASK_HEAVY, ROWS_PER_TASK_LIGHT, ROWS_PER_TASK_COLLAPSING],
    ids=["heavy", "light", "collapsing"],
)
def test_splittable_input_never_fans_in_any_class(tmp_path, cpus, rows_per_task):
    """The scale guarantee: an input with at least cpus/2 row groups (any
    real-scale table) is left alone whatever the consumer's cost class,
    although the same rows in one row group would fan out for the heavy
    and light classes."""
    rows, groups = 20 * ROWS_PER_TASK_LIGHT, cpus // 2
    _write(tmp_path / "split.parquet", rows, row_group_size=-(-rows // groups))
    assert pq.ParquetFile(tmp_path / "split.parquet").metadata.num_row_groups == groups
    assert _scan_fanout(str(tmp_path / "split.parquet"), cpus, rows_per_task) == 0
    _write(tmp_path / "one.parquet", rows)
    fan = _scan_fanout(str(tmp_path / "one.parquet"), cpus, rows_per_task)
    assert fan == min(cpus, rows // rows_per_task)
    assert (fan > 0) == (rows_per_task != ROWS_PER_TASK_COLLAPSING)


def test_unreadable_path_is_left_alone():
    assert _scan_fanout("/nonexistent/nowhere.parquet", 32) == 0
