"""End-to-end differential acceptance (the reference's true acceptance test,
README.md:35-44): the same logical dataset in CSV and PRN dialects must
produce BYTE-IDENTICAL JSON and HTML output. Also CLI arg validation
(E20/E21)."""

import io
import json

import pytest

from tests.golden import CSV_FIXTURE, GOLDEN_ROWS, PRN_FIXTURE
from ts_etl_spark.cli import main, run_conversion
from ts_etl_spark.schema import EXPECTED_HEADERS


@pytest.fixture(scope="module")
def outputs(spark):
    out = {}
    for in_type, path in (("csv", CSV_FIXTURE), ("prn", PRN_FIXTURE)):
        data = open(path, "rb").read()
        for out_type in ("json", "html"):
            buf = io.StringIO()
            run_conversion(in_type, out_type, data, buf, spark=spark)
            out[(in_type, out_type)] = buf.getvalue()
    return out


def test_differencing_property_json(outputs):
    assert outputs[("csv", "json")] == outputs[("prn", "json")]


def test_differencing_property_html(outputs):
    assert outputs[("csv", "html")] == outputs[("prn", "html")]


def test_json_matches_golden(outputs):
    rows = [
        json.dumps(dict(zip(EXPECTED_HEADERS, r)), separators=(",", ":"), ensure_ascii=False)
        for r in GOLDEN_ROWS
    ]
    expected = "[\n  " + ",\n  ".join(rows) + "\n]\n"
    assert outputs[("csv", "json")] == expected


def test_html_contains_golden_in_order(outputs):
    html = outputs[("csv", "html")]
    names = [r[0] for r in GOLDEN_ROWS]
    positions = [html.index(f"<td>{n}</td>") for n in names]
    assert positions == sorted(positions)
    assert "Børkestraße 32" in html


def test_cli_rejects_invalid_types(capsys):  # E21
    assert main(["xml", "json"]) == 1
    assert "Invalid input type" in capsys.readouterr().err
    assert main(["csv", "pdf"]) == 1
    assert "Invalid output type" in capsys.readouterr().err


def test_malformed_csv_errors(spark):  # E7 end-to-end
    buf = io.StringIO()
    with pytest.raises(ValueError, match="CSV parsing error"):
        run_conversion("csv", "json", b'Name,Address\n"Unclosed,B\n', buf, spark=spark)


def _write_big_csv(tmp_path):
    """300 rows: splits into several scan partitions at 512-byte splits."""
    text = "Name,Credit Limit\n" + "".join(f"P{i:04d},{i}\n" for i in range(300))
    path = tmp_path / "big.csv"
    path.write_text(text)
    return str(path)


def test_json_order_preserved_across_partitions(spark, tmp_path):
    """The rendered sinks must emit rows in input order even when the file
    splits into multiple scan partitions (__row_id ordering)."""
    import io

    from ts_etl_spark.sinks.json_sink import write_json
    from ts_etl_spark.sources.csv_source import read_csv

    path = _write_big_csv(tmp_path)

    def render(df):
        buf = io.StringIO()
        write_json(df, buf)
        return buf.getvalue()

    single = render(read_csv(spark, path))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "512")
        multi_df = read_csv(spark, path)
        assert multi_df.rdd.getNumPartitions() > 1
        multi = render(multi_df)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert multi == single
    names = [i["Name"] for i in __import__("json").loads(single)]
    assert names == [f"P{i:04d}" for i in range(300)]


@pytest.mark.parametrize("sink", ["json", "html", "csv"])
def test_sinks_reject_frame_out_of_source_order(spark, tmp_path, sink):
    """Sinks stream partitions without sorting, so a frame reordered after
    its source is refused, not rendered in the wrong order."""
    from ts_etl_spark import sinks
    from ts_etl_spark.sources.csv_source import read_csv

    path = _write_big_csv(tmp_path)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "512")
        shuffled = read_csv(spark, path).repartition(3)
        with pytest.raises(ValueError, match="not in source order"):
            sinks.create_sink(sink)(shuffled, io.StringIO())
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


@pytest.mark.parametrize("in_type, out_type", [("csv", "json"), ("prn", "html"), ("csv", "csv")])
def test_conversion_runs_one_spark_job(spark, count_jobs, in_type, out_type):
    """A single-partition file converts in exactly one Spark job: the
    sources read their header on the driver and the sinks do not sort."""
    from ts_etl_spark.cli import run_conversion_path

    path = {"csv": CSV_FIXTURE, "prn": PRN_FIXTURE}[in_type]

    def convert():
        run_conversion_path(in_type, out_type, str(path), io.StringIO(), spark=spark)

    assert count_jobs(convert) == 1


def test_cli_path_mode_matches_stdin_mode(tmp_path):
    """`python -m ts_etl_spark csv json <path>` must produce byte-identical
    output to the stdin pipe mode on the same file."""
    import io

    from ts_etl_spark.cli import run_conversion, run_conversion_path
    from tests.golden import CSV_FIXTURE
    from ts_etl_spark.session import get_spark

    spark = get_spark(app_name="cli-path-test")
    with open(CSV_FIXTURE, "rb") as f:
        data = f.read()
    out_stdin, out_path = io.StringIO(), io.StringIO()
    run_conversion("csv", "json", data, out_stdin, spark=spark)
    run_conversion_path("csv", "json", str(CSV_FIXTURE), out_path, spark=spark)
    assert out_path.getvalue() == out_stdin.getvalue()
    assert out_path.getvalue()  # non-empty


def test_sql_subcommand_jsonl(spark):
    """The sql entry point: views registered, result streamed as JSON
    lines, row count returned."""
    import io as _io

    from ts_etl_spark.cli import run_sql

    buf = _io.StringIO()
    n = run_sql(
        "SELECT r_name, COUNT(*) AS n FROM region GROUP BY r_name ORDER BY r_name",
        "/root/testdata/sf0.001",
        buf,
        spark=spark,
    )
    lines = [json.loads(x) for x in buf.getvalue().splitlines()]
    assert n == len(lines) > 0
    assert all(set(x) == {"r_name", "n"} for x in lines)


def test_sql_subcommand_matches_duckdb(spark):
    """An ad-hoc aggregate through the sql entry point hash-matches the
    same SQL run by DuckDB over the same files."""
    import io as _io

    import duckdb

    from ts_etl_spark.cli import run_sql

    q = (
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    buf = _io.StringIO()
    run_sql(q, "/root/testdata/sf0.001", buf, spark=spark)
    got = [json.loads(x) for x in buf.getvalue().splitlines()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM '/root/testdata/sf0.001/orders.parquet'"
    )
    want = [
        {"o_orderstatus": s, "n": n} for s, n in con.execute(q).fetchall()
    ]
    assert got == want
