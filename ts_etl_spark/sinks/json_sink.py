"""JSON sink with the reference's exact framing (O16).

Reference src/renderers/jsonRenderer.ts:4-49: a pretty JSON array —
``[\\n  {row},\\n  {row}\\n]\\n`` with compact ``JSON.stringify`` rows in
canonical key order; empty input renders ``[]`` (no newline).

Spark-first split of the work (SURVEY.md §4.1 hard part 1):
- per-row JSON strings are computed DISTRIBUTED via ``to_json(struct(...))``
  (Jackson, codegen; same minimal-escaping behavior as ``JSON.stringify``),
- only the final framing/concatenation runs on the driver, which streams
  the frame's partitions in source order (``sinks.ordered``: no sort, one
  Spark job per partition, a frame out of source order is rejected) —
  O(1 partition) driver memory, no ``collect()`` of the whole dataset.

The contract is a single ordered text artifact, so a single writer is
inherent to the format, not a scalability bug; the relational surface uses
normal distributed writers instead.
"""

from __future__ import annotations

from typing import IO

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_etl_spark.schema import EXPECTED_HEADERS
from ts_etl_spark.sinks.ordered import source_order_rows


def write_json(df: DataFrame, out: IO) -> None:
    """Stream the framed array to ``out`` (text mode)."""
    present = set(df.columns)
    cols = [c for c in EXPECTED_HEADERS if c in present]
    row_json = F.to_json(F.struct(*[F.col(f"`{c}`") for c in cols]))
    first = True
    for (js,) in source_order_rows(df, row_json):
        out.write("[\n  " if first else ",\n  ")
        out.write(js)
        first = False
    out.write("[]" if first else "\n]\n")
