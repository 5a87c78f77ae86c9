"""Source-order streaming shared by the rendered sinks.

Ordering contract: every source assigns ``__row_id`` with
``monotonically_increasing_id`` on a narrow scan, so ids increase within a
partition and from one partition to the next, and partition order is
source order. A sink therefore needs no sort: it streams the frame's own
partitions in order (``toLocalIterator``, the next partition prefetched
while the driver renders the current one; one Spark job per partition)
and checks on the driver that ``__row_id`` strictly increases. A frame
that was reordered after the source (repartition, sort, join) fails that
check with a ``ValueError`` instead of rendering rows in the wrong order.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame

from ts_etl_spark.schema import ROW_ID


def source_order_rows(df: DataFrame, *cols: str | Column) -> Iterator[tuple]:
    """Stream the ``cols`` projection of ``df`` to the driver in source
    order, one tuple per row. A frame without ``__row_id`` streams in
    partition order unchecked. Raises ``ValueError`` at the first row
    whose ``__row_id`` does not exceed the previous one; the rows yielded
    before it were in order."""
    if ROW_ID not in df.columns:
        for row in df.select(*cols).toLocalIterator(prefetchPartitions=True):
            yield row
        return
    last = None
    for row in df.select(ROW_ID, *cols).toLocalIterator(prefetchPartitions=True):
        rid = row[0]
        if rid is None or (last is not None and rid <= last):
            raise ValueError(
                f"sink input is not in source order: {ROW_ID} {rid} follows "
                f"{last}; sinks stream partitions in order, so the frame must "
                "keep the partitioning of its source (no repartition, sort or "
                "join after it)"
            )
        last = rid
        yield row[1:]
