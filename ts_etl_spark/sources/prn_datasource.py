"""PRN fixed-width format as a Spark Python DataSource (DataSource V2 API)
— the idiomatic "custom connector" packaging of the reference's PRN parser
(src/parsers/prnParser.ts:16-187), registered as ``spark.read.format("prn")``.

Division of labor (vs the ``read_prn`` adapter in ``prn_source.py``, which
stays the CLI's parity path): the SOURCE does physical parsing only —
header-span inference, byte-range splitting, line slicing, JS-exact trim —
and emits RAW sliced strings; typed normalization stays in the query plan
(``normalize_row_exprs``), where Catalyst can prune/pushdown around it.

Scale design — the part a naive "read the file in one task" source gets
wrong: ``partitions()`` splits the file into byte ranges (Hadoop
TextInputFormat convention: every partition except the first skips forward
past its first newline, and every partition reads THROUGH the newline past
its end, so each line is owned by exactly one partition). Header spans are
inferred ONCE on the driver by reading only the file head, then shipped to
executors inside the pickled partition objects — the same single-pass
header specialization the reference does per run (prnParser.ts:36-110).
"""

from __future__ import annotations

import sys
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ts_etl_spark.functions.normalize import js_strip
from ts_etl_spark.sources.prn_source import ColumnSpec, infer_specs

DEFAULT_PARTITION_BYTES = 32 * 1024 * 1024


def _slice_line(line: str, spec: ColumnSpec) -> str:
    """processDataLine slice+trim (prnParser.ts:121-128); out-of-range
    slices yield '' exactly like the JS guard."""
    if spec.start >= len(line):
        return ""
    return js_strip(line[spec.start : spec.end])


@dataclass
class PrnPartition(InputPartition):
    path: str
    start: int
    end: int
    specs: list  # list[ColumnSpec]; picklable (frozen dataclass)
    encoding: str


class PrnDataSourceReader(DataSourceReader):
    def __init__(self, path: str, encoding: str, partition_bytes: int):
        self.path = path
        self.encoding = encoding
        self.partition_bytes = partition_bytes
        # Driver-side header specialization: read only the file head.
        self.specs, self.data_start = _header_specs(path, encoding)

    def partitions(self):
        import os

        size = os.path.getsize(self.path)
        if not self.specs:
            return [PrnPartition(self.path, 0, 0, [], self.encoding)]
        out = []
        pos = self.data_start
        while pos < size:
            end = min(pos + self.partition_bytes, size)
            out.append(
                PrnPartition(self.path, pos, end, self.specs, self.encoding)
            )
            pos = end
        return out or [PrnPartition(self.path, 0, 0, self.specs, self.encoding)]

    def read(self, part: PrnPartition):
        if not part.specs or part.end <= part.start:
            return
        with open(part.path, "rb") as f:
            f.seek(part.start)
            if part.start > 0:
                # TextInputFormat convention: the partition that CONTAINS a
                # line's first byte... does not own it unless the previous
                # byte was a newline; skip forward past the first newline
                f.seek(part.start - 1)
                chunk = f.read(1)
                if chunk != b"\n":
                    f.readline()
            while True:
                line_start = f.tell()
                raw = f.readline()
                if not raw:
                    break
                # a line belongs to the partition containing its first byte
                if line_start >= part.end:
                    break
                line = raw.decode(part.encoding).rstrip("\r\n")
                if not js_strip(line):
                    continue  # blank-line filter (O7)
                yield tuple(_slice_line(line, s) for s in part.specs)


def _header_specs(path: str, encoding: str):
    """First non-blank line -> ColumnSpecs + byte offset where data starts."""
    with open(path, "rb") as f:
        while True:
            raw = f.readline()
            if not raw:
                return [], 0
            line = raw.decode(encoding).rstrip("\r\n")
            if js_strip(line):
                return infer_specs(line), f.tell()


class PrnDataSource(DataSource):
    """``spark.read.format("prn").option("encoding", ...).load(path)``."""

    @classmethod
    def name(cls) -> str:
        return "prn"

    def schema(self):
        path = self.options.get("path")
        if path is None:
            raise ValueError("prn datasource requires a path")
        encoding = self.options.get("encoding", "ISO-8859-1")
        specs, _ = _header_specs(path, encoding)
        if not specs:
            # headerless/empty file: surface a single raw column so the
            # schema is never empty (reader yields no rows)
            return "line STRING"
        return ", ".join(f"`{s.name}` STRING" for s in specs)

    def reader(self, schema) -> DataSourceReader:
        path = self.options.get("path")
        encoding = self.options.get("encoding", "ISO-8859-1")
        pb = int(self.options.get("partitionbytes", DEFAULT_PARTITION_BYTES))
        return PrnDataSourceReader(path, encoding, pb)


def register(spark: SparkSession) -> None:
    """Register the format (idempotent).

    The DataSource class and its partitions are cloudpickled into Python
    worker processes that may not have this package on their path (the
    driver's bare-session harness) — register the module chain for
    BY-VALUE pickling, the same closure-shipping discipline the
    ``mapInPandas`` operators follow."""
    from pyspark import cloudpickle

    import ts_etl_spark.functions.normalize as _nm
    import ts_etl_spark.schema as _sc
    import ts_etl_spark.sources.prn_datasource as _pd
    import ts_etl_spark.sources.prn_source as _ps

    for mod in (_pd, _ps, _nm, _sc):
        cloudpickle.register_pickle_by_value(mod)
    spark.dataSource.register(PrnDataSource)


def read_prn_format(
    spark: SparkSession,
    path: str,
    encoding: str = "ISO-8859-1",
    partition_bytes: int | None = None,
) -> DataFrame:
    """Canonical normalized frame via the DSv2 source: raw slices from the
    connector, cents pre-scale + normalization in the query plan (same
    downstream expressions as ``read_prn``)."""
    from pyspark.sql import Column

    from ts_etl_spark.functions.normalize import normalize_row_exprs
    from ts_etl_spark.schema import H_CREDIT_LIMIT
    from ts_etl_spark.sources.prn_source import _prescale_cents

    register(spark)
    reader = spark.read.format("prn").option("encoding", encoding)
    if partition_bytes is not None:
        reader = reader.option("partitionBytes", str(partition_bytes))
    raw = reader.load(path)
    if raw.columns == ["line"]:
        from ts_etl_spark.sources.prn_source import empty_canonical

        return empty_canonical(spark, with_row_id=False)
    present: dict[str, Column] = {}
    for name in raw.columns:
        c = F.col(f"`{name}`")
        present[name] = _prescale_cents(c) if name == H_CREDIT_LIMIT else c
    return raw.select(normalize_row_exprs(present))
