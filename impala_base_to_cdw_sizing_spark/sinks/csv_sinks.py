"""File sinks mirroring the reference's three outputs — SURVEY.md §2.B.

- B1 main CSV: header + one row per *kept* query (pruned rows are
  ``continue``d before the main write, ``impala_query_sizing.py:262-269``
  vs ``:336``).
- B2 pruned CSV: lazily created — the reference only opens the file on the
  first pruned row (``:263-266``); mirrored by the caller's prune count.
- B3 skipped list: ``id|duration|start|end|state``-style pipe-joined lines
  (``:198,341-344``).

Exact ``csv.QUOTE_NONNUMERIC`` byte-layout is an accepted divergence
(SURVEY §2.B1): values are identical, quoting differs; a ``mapInPandas``
writer exists for byte-golden needs but is not the default path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_csv(df: DataFrame, path: str) -> None:
    """Distributed CSV write with header. One directory of part files —
    the scale-correct layout (a single file would serialize the write)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def write_csv_quote_nonnumeric(df: DataFrame, path: str) -> None:
    """Byte-exact ``csv.QUOTE_NONNUMERIC`` writer (strings quoted, numbers
    bare) — the reference's exact CSV dialect (``impala_query_sizing.py:123``).

    Spark's native CSV sink cannot express per-type quoting, so this goes
    through ``mapInPandas`` + ``pandas.to_csv``. Single partition by
    design: byte-golden output implies one ordered file; use the
    distributed :func:`write_csv` when layout fidelity is not required
    (SURVEY §2.B1 accepted divergence).
    """
    import csv as _csv
    from collections.abc import Iterator

    import pandas as pd

    cols = df.columns

    def _to_lines(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        first = True
        for pdf in it:
            text = pdf.to_csv(
                index=False, header=first, quoting=_csv.QUOTE_NONNUMERIC
            )
            first = False
            yield pd.DataFrame({"line": text.splitlines()})

    lines = df.coalesce(1).mapInPandas(_to_lines, "line string")
    lines.write.mode("overwrite").text(path)


def write_sizing_outputs(
    kept: DataFrame,
    pruned: DataFrame,
    skipped: DataFrame,
    output_cols: list[str],
    main_path: str,
    pruned_path: str,
    skipped_path: str,
    prune_count: int,
) -> None:
    """Write the three sinks: one write job each, and none for the pruned
    sink when ``prune_count`` (the caller's count of ``pruned``) is 0.

    ``kept``/``pruned`` must already carry ``output_cols`` (the 24-column
    contract); ``skipped`` needs query_id/duration_millis/start_ms/end_ms.
    """
    write_csv(kept.select(*output_cols), main_path)

    if prune_count > 0:  # lazy-open mirror of :263-266
        write_csv(pruned.select(*output_cols), pruned_path)

    skipped.select(
        F.concat_ws(
            "|",
            F.col("query_id"),
            F.col("duration_millis").cast("string"),
            F.col("start_ms").cast("string"),
            F.col("end_ms").cast("string"),
        ).alias("value")
    ).write.mode("overwrite").text(skipped_path)
