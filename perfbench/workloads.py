"""The benchmark's workloads. Each is a closed loop with one client: the next
operation (op) starts only when the previous one has returned.

- ``translate`` — the reference job: one seeded row set written as CSV and as
  PRN, each converted to JSON and to HTML through ``cli.run_conversion_path``
  (one pass = 4 conversions). Stresses ``sources``, ``functions.normalize``,
  ``sinks`` and the CLI's CSV validation; no shuffle operator or state.
- ``analytics`` — eight ``operators.relational`` queries over seeded
  TPC-H-shaped parquet tables, each forced with the noop writer, in a seeded
  order. Stresses parquet scans, joins, aggregation and shuffle; no text
  parsing or driver-side rendering, so a ``translate`` optimisation should
  not move it, and the reverse.
- ``ingest`` — seeded micro-batches with planted exact and near
  re-submissions, each committed with ``streaming.ingest.ingest_batch`` and
  followed by one reader query over the growing corpus. Stresses per-batch
  fixed overhead, state writes and ``operators.dedup``.

A workload generates its inputs when constructed, names a fixed ``cold_op``
and the ops of one ``pass``, runs an op, checks recorded outputs, and under
tracing reports its per-layer metrics.
"""

from __future__ import annotations

import io
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

import checks
import gen


@dataclass
class Op:
    kind: str
    rows: int
    arg: object = None


@dataclass
class Record:
    op: Op
    seconds: float
    output: object = None
    error: str | None = None
    traced: bool = False


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, repeat: int = 3) -> float:
    times = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


@contextmanager
def _patched(obj, attr_or_key, wrapper_factory):
    """Swap a module attribute (or a registry dict entry) for a wrapper
    around it for the duration of the block."""
    is_dict = isinstance(obj, dict)
    orig = obj[attr_or_key] if is_dict else getattr(obj, attr_or_key)
    wrapped = wrapper_factory(orig)
    if is_dict:
        obj[attr_or_key] = wrapped
    else:
        setattr(obj, attr_or_key, wrapped)
    try:
        yield
    finally:
        if is_dict:
            obj[attr_or_key] = orig
        else:
            setattr(obj, attr_or_key, orig)


def _spanned(tracer, name_of):
    def factory(fn):
        def wrapper(*args, **kwargs):
            with tracer.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)
        return wrapper
    return factory


class Workload:
    """Defaults: nothing to do after an op, no module calls to wrap."""

    # window ops (four translate passes, two analytics passes), as many as
    # fit a run of about a minute; a fixed count keeps the tail percentile
    # (the highest with 10 samples beyond it, p37.5 of 16) from moving
    # between runs
    MIN_OPS = 16

    def after_op(self, spark, op: Op, tracer) -> None:
        pass

    @contextmanager
    def instrumented(self, tracer):
        yield


class Translate(Workload):
    name = "translate"
    ROWS = 2000
    CONVERSIONS = (("csv", "json"), ("csv", "html"), ("prn", "json"), ("prn", "html"))

    def __init__(self, seed: int, work_dir: str, scale: float = 1.0):
        self.n_rows = max(int(self.ROWS * scale), 1)
        self.inputs = gen.write_translate_inputs(seed, self.n_rows, os.path.join(work_dir, "translate"))

    def cold_op(self) -> Op:
        # what a one-shot `python -m ts_etl_spark csv json` pays after set-up
        return Op("csv->json", self.n_rows, ("csv", "json"))

    def pass_ops(self) -> list[Op]:
        return [Op(f"{i}->{o}", self.n_rows, (i, o)) for i, o in self.CONVERSIONS]

    def run(self, spark, op: Op, tracer, keep: bool = False) -> str:
        from ts_etl_spark.cli import run_conversion_path

        fmt_in, fmt_out = op.arg
        out = io.StringIO()
        with tracer.span("translate.op", kind=op.kind):
            run_conversion_path(fmt_in, fmt_out, self.inputs["paths"][fmt_in], out, spark=spark)
        return out.getvalue()

    @contextmanager
    def instrumented(self, tracer):
        """Spans around the module calls ``run_conversion_path`` makes:
        ``cli.validate_csv_text``, ``sources.create_source`` and the JSON
        and HTML sinks."""
        from ts_etl_spark import cli, sinks, sources

        with _patched(cli, "validate_csv_text",
                      _spanned(tracer, lambda *a, **k: "cli.validate_csv")), \
             _patched(sources, "create_source",
                      _spanned(tracer, lambda name, *a, **k: f"sources.{name.lower()}.create")), \
             _patched(sinks.SINKS, "json", _spanned(tracer, lambda *a, **k: "sinks.json.call")), \
             _patched(sinks.SINKS, "html", _spanned(tracer, lambda *a, **k: "sinks.html.call")):
            yield

    def check(self, spark, records: list[Record]) -> None:
        for r in records:
            if r.error is None:
                fmt = r.op.arg[1]
                r.error = checks.rendering_mismatch(
                    fmt, r.output, self.inputs["render"][fmt], self.inputs["rows"])
            r.output = None

    def layer_metrics(self, spark, tracer) -> dict[str, tuple[float, str]]:
        from ts_etl_spark import sources

        m = {"cli.validate_csv_s": (tracer.median_seconds("cli.validate_csv"), "s")}
        for fmt in ("json", "html"):
            m[f"sinks.{fmt}.call_s"] = (tracer.median_seconds(f"sinks.{fmt}.call"), "s")
            m[f"sinks.{fmt}.spark_jobs"] = (tracer.median_count(f"sinks.{fmt}.call", "jobs"), "count")
        for fmt in ("csv", "prn"):
            path = self.inputs["paths"][fmt]
            m[f"sources.{fmt}.create_s"] = (tracer.median_seconds(f"sources.{fmt}.create"), "s")
            m[f"sources.{fmt}.scan_s"] = (
                _median_time(lambda: _noop(sources.create_source(fmt, spark, path))), "s")
            m[f"sources.{fmt}.raw_scan_s"] = (
                _median_time(lambda: _noop(_raw_read(spark, fmt, path))), "s")
        m["sources.partitions"] = (
            float(sources.create_source("csv", spark, self.inputs["paths"]["csv"]).rdd.getNumPartitions()),
            "count")
        return m


def _raw_read(spark, fmt: str, path: str):
    """The file read with no normalization: the CSV reader with the source's
    options, or (PRN) one string column per line."""
    reader = spark.read.option("encoding", "ISO-8859-1")
    if fmt == "csv":
        return reader.option("header", True).option("quote", '"').option("escape", '"').csv(path)
    return (reader.schema("line STRING").option("delimiter", "\x01")
            .option("quote", "").csv(path))


# tables each query reads: an analytics op's input rows are their row counts
QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_segment_revenue": ("customer", "orders", "lineitem"),
    "q5_local_supplier_volume": ("region", "nation", "customer", "supplier", "orders", "lineitem"),
    "q6_revenue_forecast": ("lineitem",),
    "q9_product_profit": ("lineitem", "part", "supplier", "nation"),
    "q13_order_count_distribution": ("customer", "orders"),
    "q18_large_orders": ("customer", "orders", "lineitem"),
    "window_functions": ("orders",),
}


class Analytics(Workload):
    name = "analytics"
    ORDERS = 20000

    def __init__(self, seed: int, work_dir: str, scale: float = 1.0):
        self.dir = os.path.join(work_dir, "tables")
        self.counts = gen.write_tables(seed, max(int(self.ORDERS * scale), 50), self.dir)
        self.order = gen.shuffled(QUERY_TABLES, seed)

    def _op(self, q: str) -> Op:
        return Op(q, sum(self.counts[t] for t in QUERY_TABLES[q]), q)

    def cold_op(self) -> Op:
        return self._op("q1_pricing_summary")

    def pass_ops(self) -> list[Op]:
        return [self._op(q) for q in self.order]

    def run(self, spark, op: Op, tracer, keep: bool = False):
        """Build the query and force it with the noop writer; with ``keep``,
        collect the result instead (returns columns and rows)."""
        from ts_etl_spark.operators.relational import QUERIES

        with tracer.span("analytics.op", kind=op.kind):
            with tracer.span(f"relational.{op.kind}.build"):
                df = QUERIES[op.kind](spark, self.dir)
            with tracer.span(f"relational.{op.kind}.exec"):
                if keep:
                    return df.columns, [tuple(r) for r in df.collect()]
                _noop(df)
        return None

    def check(self, spark, records: list[Record]) -> None:
        """Each query's collected result (a kept op's output, else a fresh
        collect) matched against its DuckDB ``oracle_sql`` twin; a mismatch
        fails every op of that query."""
        import duckdb

        from ts_etl_spark.operators.relational import ORACLE, QUERIES

        con = duckdb.connect()
        try:
            for t in self.counts:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            kept = {r.op.kind: r.output for r in records if r.output is not None}
            verdict = {}
            for q in {r.op.kind for r in records}:
                if q not in kept:
                    sdf = QUERIES[q](spark, self.dir)
                    kept[q] = (sdf.columns, [tuple(r) for r in sdf.collect()])
                res = con.execute(ORACLE[q])
                verdict[q] = checks.oracle_mismatch(
                    *kept[q], [d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        for r in records:
            r.output = None
            if r.error is None and verdict[r.op.kind] is not None:
                r.error = f"{r.op.kind}: {verdict[r.op.kind]}"

    def layer_metrics(self, spark, tracer) -> dict[str, tuple[float, str]]:
        from ts_etl_spark.sources.tables import load_table

        m = {}
        for q in QUERY_TABLES:
            m[f"relational.{q}.build_s"] = (tracer.median_seconds(f"relational.{q}.build"), "s")
            m[f"relational.{q}.exec_s"] = (tracer.median_seconds(f"relational.{q}.exec"), "s")
        per_pass: dict[int, list] = {}
        for s in tracer.by_name("analytics.op"):
            per_pass.setdefault(s.pass_id, []).append(s)
        full = [ops for ops in per_pass.values() if len(ops) == len(QUERY_TABLES)]
        m["relational.spark_jobs"] = (statistics.median(sum(s.jobs for s in p) for p in full), "count")
        m["relational.tasks"] = (statistics.median(sum(s.tasks for s in p) for p in full), "count")
        m["tables.lineitem_scan_s"] = (
            _median_time(lambda: _noop(load_table(spark, self.dir, "lineitem"))), "s")
        return m


class Ingest(Workload):
    name = "ingest"
    # a commit takes seconds, and the check replays every batch: the least
    # that still gives a tail percentile
    MIN_OPS = 11
    BATCH = 100
    BATCHES = 64  # enough for about five minutes of commits

    def __init__(self, seed: int, work_dir: str, scale: float = 1.0):
        self.batch_size = max(int(self.BATCH * scale), 10)
        self.root = os.path.join(work_dir, "ingest")
        self.batches = gen.write_ingest_batches(
            seed, self.BATCHES, self.batch_size, os.path.join(self.root, "landing"))
        self.corpus = os.path.join(self.root, "corpus")
        self.index = os.path.join(self.root, "index")
        self.next_batch = 0
        self.read_seconds: list[float] = []

    def _take(self) -> Op:
        i = self.next_batch
        if i >= len(self.batches["paths"]):
            raise RuntimeError("ingest ran out of generated batches")
        self.next_batch += 1
        return Op("commit", self.batch_size, i)

    def cold_op(self) -> Op:
        return self._take()

    def pass_ops(self) -> list[Op]:
        return [self._take()]

    def run(self, spark, op: Op, tracer, keep: bool = False) -> None:
        from ts_etl_spark.streaming.ingest import IngestConfig, ingest_batch

        i = op.arg
        batch = spark.read.parquet(self.batches["paths"][i]).select("doc_id", "text")
        with tracer.span("ingest.op", kind="commit"):
            with tracer.span("ingest.batch"):
                ingest_batch(spark, batch, self.corpus,
                             IngestConfig(dedup_index_path=self.index), batch_id=i)

    def after_op(self, spark, op: Op, tracer) -> None:
        """The reader beside the writes: per-language document count and
        length over the corpus, timed on its own."""
        t0 = time.perf_counter()
        with tracer.span("ingest.read"):
            self.read(spark, self.next_batch).collect()
        self.read_seconds.append(time.perf_counter() - t0)

    def read(self, spark, n_batches: int):
        from pyspark.sql import functions as F

        landed = spark.read.parquet(*self.batches["paths"][:n_batches]).select("doc_id", "lang")
        return (spark.read.parquet(self.corpus).join(landed, "doc_id")
                .groupBy("lang")
                .agg(F.count("*").alias("docs"), F.avg(F.length("text")).alias("avg_len"),
                     F.max(F.length("text")).alias("max_len")))

    def replay_ids(self, spark, n_batches: int) -> list[int]:
        """Sequential ``dedup_incremental`` over the same batches, each
        against the ids kept so far."""
        from ts_etl_spark.operators.dedup import dedup_incremental

        kept_ids: list[int] = []
        corpus = spark.createDataFrame([], "doc_id LONG, text STRING")
        for i in range(n_batches):
            batch = spark.read.parquet(self.batches["paths"][i]).select("doc_id", "text")
            persisted: list = []
            res = dedup_incremental(corpus, batch, persisted=persisted)
            kept = res.filter("kept").select("doc_id", "text").localCheckpoint(eager=True)
            for df in persisted:
                df.unpersist()
            kept_ids += [r[0] for r in kept.select("doc_id").collect()]
            corpus = corpus.unionByName(kept).localCheckpoint(eager=True)
        return kept_ids

    def check(self, spark, records: list[Record]) -> None:
        n = self.next_batch
        corpus_ids = [r[0] for r in spark.read.parquet(self.corpus).select("doc_id").collect()]
        planted = [d for d in self.batches["exact_ids"] if d < n * self.batch_size]
        problem = checks.corpus_mismatch(corpus_ids, self.replay_ids(spark, n), planted)
        if problem is not None:
            for r in records:
                r.error = r.error or problem

    def state_bytes_per_row(self, spark) -> float:
        total = 0
        for base in (self.corpus, self.index):
            for dirpath, _dirs, files in os.walk(base):
                total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        admitted = spark.read.parquet(self.corpus).count()
        return total / max(admitted, 1)

    def state_files(self) -> int:
        return sum(len(files) for base in (self.corpus, self.index)
                   for _d, _s, files in os.walk(base))

    def layer_metrics(self, spark, tracer) -> dict[str, tuple[float, str]]:
        from ts_etl_spark.operators.dedup import dedup_incremental

        m = {
            "ingest.batch_s": (tracer.median_seconds("ingest.batch"), "s"),
            "ingest.spark_jobs_per_batch": (tracer.median_count("ingest.batch", "jobs"), "count"),
            "ingest.tasks_per_batch": (tracer.median_count("ingest.batch", "tasks"), "count"),
            "ingest.files_per_batch": (self.state_files() / max(self.next_batch, 1), "count"),
        }
        admitted = spark.read.parquet(self.corpus).count()
        m["dedup.admit_ratio"] = (admitted / max(self.next_batch * self.batch_size, 1), "ratio")
        # the dedup operator alone on the same inputs: the next batch
        # against the corpus as it stands, forced with the noop writer
        nxt = min(self.next_batch, len(self.batches["paths"]) - 1)
        batch = spark.read.parquet(self.batches["paths"][nxt]).select("doc_id", "text")
        corpus = spark.read.parquet(self.corpus)

        def incremental():
            persisted: list = []
            _noop(dedup_incremental(corpus, batch, persisted=persisted))
            for df in persisted:
                df.unpersist()

        m["dedup.incremental_s"] = (_median_time(incremental), "s")
        return m


WORKLOADS = {w.name: w for w in (Translate, Analytics, Ingest)}
