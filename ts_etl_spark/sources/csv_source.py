"""CSV source adapter (reference operators O2/O3/O4/O7).

The reference's CSV parser (src/parsers/csvParser.ts:8-88) is the csv-parse
library configured with ``columns:true, skip_empty_lines:true, trim:false``
plus a per-cell normalization cast (csvParser.ts:24-29) and a canonical
projection with case-insensitive header matching, extra-column dropping and
per-column defaults (csvParser.ts:30-43). All of that is native to Spark's
CSV datasource plus one narrow ``select``:

    driver reads the header record from the file head  # no Spark job
    spark.read.schema(one string per header cell)
         .csv(header, delimiter, quote='"', escape='"',
              encoding=ISO-8859-1)                    # O1+O2
      -> select(normalize_row_exprs(matched cols))     # O3+O4+O8..O15

The header is parsed on the driver with the reader's own rules (first line
Spark does not skip as blank, same delimiter and quoting), so the names
stay exactly as written and no schema-inference job runs; Spark drops the
header line itself (``header=True``). Building the frame launches no job.

Scale notes: the scan is splittable (multiLine=False by default), all
normalization is a single whole-stage-codegen projection, and column pruning
reaches the scan because the canonical projection is declared, not computed
row-by-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ts_etl_spark.fs import open_lines
from ts_etl_spark.functions.normalize import normalize_row_exprs
from ts_etl_spark.schema import EXPECTED_HEADERS, ROW_ID

#: Java ``String.trim`` strips every char up to U+0020
_JAVA_TRIM = "".join(map(chr, range(0x21)))


def match_headers(actual: list[str]) -> dict[str, str]:
    """Case-insensitive header reconciliation (csvParser.ts:32-35,
    normalization.ts:37-42): canonical header -> actual column name.
    First case-insensitive match wins; unmatched canonicals are absent
    (filled with defaults); extra actual columns are dropped."""
    out: dict[str, str] = {}
    lowered = [(a.lower(), a) for a in actual]
    for canonical in EXPECTED_HEADERS:
        for low, a in lowered:
            if low == canonical.lower():
                out[canonical] = a
                break
    return out


def reader_skips(line: str) -> bool:
    """Spark's line-mode CSV reader drops a line whose Java ``String.trim``
    is empty, before header handling and before ids are assigned."""
    return not line.strip(_JAVA_TRIM)


def split_record(text: str, delimiter: str) -> tuple[list[str], bool]:
    """Cells of one CSV record with the reader's quoting (quote and escape
    both ``"``; a quote opens a quoted cell only at the start of a cell),
    and whether ``text`` ends inside an open quote."""
    cells: list[str] = []
    cell: list[str] = []
    in_quotes, at_start = False, True
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_quotes:
            if ch == '"' and text.startswith('"', i + 1):
                cell.append('"')
                i += 1
            elif ch == '"':
                in_quotes = False
            else:
                cell.append(ch)
            i += 1
        elif text.startswith(delimiter, i):
            cells.append("".join(cell))
            cell, at_start = [], True
            i += len(delimiter)
        else:
            if ch == '"' and at_start:
                in_quotes = True
            else:
                cell.append(ch)
            at_start = False
            i += 1
    cells.append("".join(cell))
    return cells, in_quotes


def read_header(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    encoding: str = "ISO-8859-1",
    multi_line: bool = False,
) -> list[str] | None:
    """Header cells of the CSV file ``path`` as Spark's reader takes them
    with ``header=True``: the first line it does not skip as blank, split
    with the source's delimiter and quote rules (``multi_line`` lets a
    quoted cell span lines). ``None`` when the file has no such line.
    Reads the file head on the driver; no Spark job."""
    if "\\" in delimiter:  # Spark's escapes such as "\\t"
        delimiter = spark._jvm.org.apache.spark.sql.catalyst.csv.CSVExprUtils.toDelimiterStr(
            delimiter
        )
    record = None
    with open_lines(spark, path) as lines:
        for _, raw in lines:
            line = raw.decode(encoding, "replace")
            if record is None and reader_skips(line):
                continue
            record = line if record is None else f"{record}\n{line}"
            cells, open_quote = split_record(record, delimiter)
            if not (multi_line and open_quote):
                return cells
    return None if record is None else cells


def _field_names(header: list[str]) -> list[str]:
    """Unique schema names, one per header cell: the cell itself where it
    is non-empty and unique ignoring case (so Spark's header check finds
    what it reads), else the positional ``_c<i>``."""
    lowered = [h.lower() for h in header]
    names = [
        h if h and lowered.count(h.lower()) == 1 else f"_c{i}"
        for i, h in enumerate(header)
    ]
    if len({n.lower() for n in names}) < len(names):
        names = [f"_c{i}" for i in range(len(header))]
    return names


def read_csv(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    encoding: str = "ISO-8859-1",
    multi_line: bool = False,
    with_row_id: bool = True,
) -> DataFrame:
    """Read the CSV file ``path`` into the canonical normalized 6-column
    string frame. Building the frame runs no Spark job: the header comes
    from ``read_header`` and the scan has an explicit all-string schema.

    ``with_row_id`` prepends ``__row_id`` (``monotonically_increasing_id``
    on the narrow scan), so ids increase in partition order and partition
    order is file order: the order contract the rendered sinks check.
    """
    header = read_header(spark, path, delimiter, encoding, multi_line) or []
    names = _field_names(header)
    raw = (
        spark.read.schema(T.StructType([T.StructField(n, T.StringType()) for n in names]))
        .option("header", True)
        .option("delimiter", delimiter)
        .option("quote", '"')
        .option("escape", '"')  # RFC4180 doubled quotes, like csv-parse
        .option("encoding", encoding)
        .option("multiLine", multi_line)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )
    exprs = normalize_row_exprs(
        {h: F.col(f"`{names[header.index(a)]}`") for h, a in match_headers(header).items()}
    )
    if with_row_id:
        exprs = [F.monotonically_increasing_id().alias(ROW_ID), *exprs]
    return raw.select(exprs)


def validate_csv_text(text: str, delimiter: str = ",") -> None:
    """Strict RFC4180 quote validation for the CLI/stdin path, mirroring the
    reference's hard error on malformed CSV (csvParser.ts:55-57; reference
    test csvParser.test.ts:220-230).

    Driver-side only: the input is already materialized as one blob there.
    The distributed file reader stays permissive (quotes may legitimately
    span partition boundaries only in multiLine mode).
    """
    in_quotes = False
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_quotes:
            if ch == '"':
                if i + 1 < n and text[i + 1] == '"':
                    i += 1  # escaped quote
                else:
                    in_quotes = False
                    # a closing quote must be followed by delimiter/EOL
                    if i + 1 < n and text[i + 1] not in (delimiter, "\n", "\r"):
                        raise ValueError(
                            "CSV parsing error: Invalid closing quote at "
                            f"character {i + 1}"
                        )
        else:
            if ch == '"':
                # only a quote at field start opens a quoted field
                prev = text[i - 1] if i > 0 else delimiter
                if prev in (delimiter, "\n", "\r"):
                    in_quotes = True
        i += 1
    if in_quotes:
        raise ValueError("CSV parsing error: Quote is not closed at end of input")
