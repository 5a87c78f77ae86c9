"""Benchmark of the ts_etl_spark engine.

    python3 perfbench/run.py --workload translate|analytics|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Inputs are generated from the seed
under ``perfbench/.work/`` (removed when the run ends), the engine runs on
``local[<cores>]`` with a 2 GiB driver heap, and every output is checked.

Untraced (``--trace 0``): launch a fresh JVM twice (``setup_s`` is the
median), time the first op of the last session (the cold op, printed in the
detail line), run one untimed warm-up pass whose outputs are kept for the
checks, then run whole passes of the workload until ``--seconds`` have
elapsed and at least 16 ops (11 ingest commits) have completed, and report
the end-to-end metrics.

Traced (``--trace 1``): one session, a warm-up pass, then passes that
alternate between untraced and traced for ``--seconds``; the traced passes
give the per-layer metrics and ``trace.overhead_ratio`` compares the two.
A traced run also makes one traced pass of every other listed workload, so
each traced run reports every per-layer metric. Spans are written to
``perfbench/.out/``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). The line before it
holds details: failures, error rate, the tail percentile and sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

from harness import Engine
from spans import Tracer
from workloads import WORKLOADS, Record

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# JVM launches per untraced run (setup_s is their median); each costs about
# 7 s on a 4-core host, so two keep a whole run under a minute. The cold op
# (first op of a fresh session, about 9 s) is timed once per run, which is
# too few samples for a bounded metric: it is printed in the detail line and
# reported by traced runs as session.cold_op_s
SETUPS = 2
# the workloads the benchmark lists; a traced run covers all their layers
LISTED = ("translate", "analytics")


def _latency_tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and that
    percentile."""
    xs = sorted(latencies)
    if len(xs) < 11:
        return xs[-1], 100.0
    k = len(xs) - 11
    return xs[k], 100.0 * (k + 1) / len(xs)


def _p50_by_kind(records: list) -> dict[str, float]:
    kinds: dict[str, list[float]] = {}
    for r in records:
        kinds.setdefault(r.op.kind, []).append(r.seconds)
    return {k: statistics.median(v) for k, v in sorted(kinds.items())}


def _run_op(wl, spark, op, tracer, records, keep=False):
    tracer.op_id += 1
    t0 = time.perf_counter()
    try:
        out, err = wl.run(spark, op, tracer, keep), None
    except Exception as exc:  # an op that raises is a failed op; keep going
        traceback.print_exc(file=sys.stderr)
        out, err = None, f"{type(exc).__name__}: {exc}"
    rec = Record(op, time.perf_counter() - t0, out, err, tracer.enabled)
    records.append(rec)
    if err is None:
        wl.after_op(spark, op, tracer)
    return rec


def _window(wl, spark, seconds, tracer, records, alternate=False):
    """Whole passes until ``seconds`` have elapsed and ``wl.MIN_OPS`` ops ran.
    With ``alternate``, passes switch between untraced and traced. Returns
    each pass's records and wall seconds."""
    traced = tracer.enabled
    t_start = time.perf_counter()
    passes = []
    while True:
        tracer.enabled = traced and (not alternate or len(passes) % 2 == 1)
        tracer.pass_id = len(passes)
        t0 = time.perf_counter()
        ops = [_run_op(wl, spark, op, tracer, records) for op in wl.pass_ops()]
        passes.append((ops, time.perf_counter() - t0))
        if (time.perf_counter() - t_start >= seconds
                and sum(len(ops) for ops, _ in passes) >= wl.MIN_OPS
                and (not alternate or len(passes) >= 2)):
            tracer.enabled = traced
            return passes


def _rows_per_s(ops: list) -> float:
    ok = [r for r in ops if r.error is None] or ops
    return sum(r.op.rows for r in ok) / sum(r.seconds for r in ok)


def run(args, work_dir: str) -> tuple[dict, dict]:
    engine = Engine(work_dir)
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work_dir, "in"), args.scale)
    metrics: dict[str, tuple[float, str]] = {}
    detail: dict = {"workload": args.workload, "seed": args.seed}
    records: list = []
    tracer = Tracer()
    try:
        if not args.trace:
            setups = []
            for _ in range(SETUPS - 1):
                setups.append(engine.launch())
                engine.stop()
            setups.append(engine.launch())
            spark = engine.spark
            cold = _run_op(wl, spark, wl.cold_op(), tracer, records)
            # warm-up: one pass, untimed, whose outputs are kept for checking
            for op in wl.pass_ops():
                _run_op(wl, spark, op, tracer, records, keep=True)
            passes = _window(wl, spark, args.seconds, tracer, records)
            wl.check(spark, records)
            window = [r for ops, _ in passes for r in ops]
            ok = [r for r in window if r.error is None] or window
            lat = [r.seconds for r in ok]
            tail, pct = _latency_tail(lat)
            metrics["setup_s"] = (statistics.median(setups), "s")
            # steady state: the median pass, so that a stall of the shared
            # host during one pass does not move the figure
            metrics["ops_per_s"] = (statistics.median(len(ops) / s for ops, s in passes), "1/s")
            metrics["rows_per_s"] = (statistics.median(_rows_per_s(ops) for ops, _ in passes), "rows/s")
            # every op kind runs equally often, so the median op latency falls
            # between two kinds: take it over the kinds' medians, not from
            # the slowest sample of one kind and the fastest of the next
            by_kind = _p50_by_kind(ok)
            metrics["latency_p50_s"] = (statistics.median(by_kind.values()), "s")
            metrics["latency_tail_s"] = (tail, "s")
            if args.workload == "ingest":
                metrics["read_p50_s"] = (statistics.median(wl.read_seconds), "s")
                metrics["state_bytes_per_row"] = (wl.state_bytes_per_row(spark), "B")
            metrics["peak_rss_mb"] = (engine.peak_rss_mb(), "MiB")
            detail.update(setup_samples=setups, cold_op_s=cold.seconds,
                          window_s=sum(s for _, s in passes), passes=len(passes),
                          tail_percentile=pct, samples=len(lat), p50_by_op=by_kind)
        else:
            engine.launch()
            spark = engine.spark
            tracer = Tracer(spark.sparkContext)
            others = [WORKLOADS[w](args.seed, os.path.join(work_dir, "in"), args.scale)
                      for w in LISTED if w != args.workload and args.workload in LISTED]
            # warm-up: the cold op and one pass, untimed
            warm: list = []
            cold = _run_op(wl, spark, wl.cold_op(), Tracer(), warm)
            for op in wl.pass_ops():
                _run_op(wl, spark, op, Tracer(), warm, keep=True)
            tracer.enabled = True
            with wl.instrumented(tracer):
                _window(wl, spark, args.seconds, tracer, records, alternate=True)
            plain = sum(r.seconds for r in records if not r.traced)
            traced = sum(r.seconds for r in records if r.traced)
            n_plain = sum(1 for r in records if not r.traced)
            n_traced = sum(1 for r in records if r.traced)
            metrics["session.cold_op_s"] = (cold.seconds, "s")
            metrics["trace.overhead_ratio"] = ((traced / n_traced) / (plain / n_plain), "ratio")
            detail.update(tracer_bookkeeping_s=tracer.bookkeeping_s,
                          traced_ops=n_traced, untraced_ops=n_plain)
            wl.check(spark, warm + records)
            for other in others:
                extra: list = []
                _run_op(other, spark, other.cold_op(), Tracer(), extra)
                tracer.pass_id = -1
                with other.instrumented(tracer):
                    for op in other.pass_ops():
                        _run_op(other, spark, op, tracer, extra)
                other.check(spark, extra)
                records += extra
                metrics.update(other.layer_metrics(spark, tracer))
            metrics.update(wl.layer_metrics(spark, tracer))
            records += warm
            os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
            tracer.dump(os.path.join(HERE, ".out", f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        engine.stop()
    failed = [r for r in records if r.error is not None]
    detail["error_rate"] = len(failed) / max(len(records), 1)
    detail["failures"] = sorted({f"{r.op.kind}: {r.error}" for r in failed})[:10]
    result = {
        "correct": not failed,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input size multiplier; 1 for measurement, smaller for the self-test
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ts_etl_spark", "__init__.py")):
        print(f"perfbench: the ts_etl_spark package is not under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # on SIGTERM, unwind through the finally blocks: stop the JVM, clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result, detail = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
