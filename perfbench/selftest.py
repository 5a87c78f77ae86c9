"""Self-tests of the benchmark.

    python3 perfbench/selftest.py            # checkers, then smoke runs
    python3 perfbench/selftest.py --quick    # checkers only (no Spark)

The checker tests show that each output check rejects a one-byte change in
a rendering, a wrong query row, and a missing or extra corpus id. The smoke
runs run every workload at a tiny size, untraced and traced, and require
every metric ``BENCHMARK.json`` names to be printed with its unit. The last
test runs the benchmark where the engine's sources are absent and requires
it to fail without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok: {what}")


def _scratch() -> str:
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    return tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))


def test_generators() -> None:
    d = _scratch()
    try:
        a = gen.write_translate_inputs(7, 50, os.path.join(d, "a"))
        b = gen.write_translate_inputs(7, 50, os.path.join(d, "b"))
        for fmt in ("csv", "prn"):
            with open(a["paths"][fmt], "rb") as fa, open(b["paths"][fmt], "rb") as fb:
                expect(fa.read() == fb.read(), f"same seed writes the same {fmt} bytes")
        expect(json.loads(a["render"]["json"]) == a["rows"],
               "the reference JSON rendering parses back to the expected rows")
        with open(a["paths"]["csv"], "rb") as f:
            raw = f.read()
        expect(any(ch in raw for ch in "ÆØß".encode("latin1")), "the CSV holds latin1 bytes")
        expect(b'"' in raw, "the CSV holds quoted cells")
        batches = gen.write_ingest_batches(3, 4, 50, os.path.join(d, "ingest"))
        expect(batches["exact_ids"] and batches["near_ids"],
               "ingest batches carry planted exact and near re-submissions")
        expect(gen.shuffled(range(8), 1) == gen.shuffled(range(8), 1) != gen.shuffled(range(8), 2),
               "the query order is a function of the seed")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_checkers() -> None:
    rows = gen.translate_rows(5, 20)
    expected = [r["expected"] for r in rows]
    for fmt, doc in (("json", gen.render_json(expected)), ("html", gen.render_html(expected))):
        expect(checks.rendering_mismatch(fmt, doc, doc, expected) is None,
               f"{fmt}: an identical rendering passes")
        i = len(doc) // 2
        flipped = doc[:i] + chr(ord(doc[i]) ^ 1) + doc[i + 1:]
        expect(checks.rendering_mismatch(fmt, flipped, doc, expected) is not None,
               f"{fmt}: a one-byte change is rejected")
        expect(checks.rendering_mismatch(fmt, doc[:-1], doc, expected) is not None,
               f"{fmt}: a missing last byte is rejected")

    cols = ["k", "v"]
    good = [(1, 0.5), (2, float("nan")), (3, 7.25)]
    expect(checks.oracle_mismatch(cols, good, ["v", "k"], [(7.25, 3), (float("nan"), 2), (0.5, 1)]) is None,
           "oracle: the same rows in another order and column order pass")
    expect(checks.oracle_mismatch(cols, good, cols, [(1, 0.5), (2, float("nan")), (3, 7.26)]) is not None,
           "oracle: a wrong value in one row is rejected")
    expect(checks.oracle_mismatch(cols, good, cols, good + [(4, 1.0)]) is not None,
           "oracle: an extra row is rejected")
    expect(checks.oracle_mismatch(cols, good, ["k", "w"], good) is not None,
           "oracle: a renamed column is rejected")

    replay, planted = [1, 2, 3, 5], [4]
    expect(checks.corpus_mismatch([3, 1, 5, 2], replay, planted) is None,
           "corpus: the replayed id set passes")
    expect(checks.corpus_mismatch([1, 2, 3], replay, planted) is not None,
           "corpus: a missing id is rejected")
    expect(checks.corpus_mismatch([1, 2, 3, 5, 6], replay, planted) is not None,
           "corpus: an extra id is rejected")
    expect(checks.corpus_mismatch([1, 2, 3, 5, 5], replay, planted) is not None,
           "corpus: a duplicated id is rejected")
    expect(checks.corpus_mismatch([1, 2, 3, 4, 5], replay + [4], planted) is not None,
           "corpus: an admitted planted re-submission is rejected")


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def test_smoke(spec: dict) -> None:
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    # ingest is not a listed workload: its metrics are its own
    ingest_e2e = dict(e2e, read_p50_s="s", state_bytes_per_row="B")
    ingest_layers = {
        "ingest.batch_s": "s", "ingest.spark_jobs_per_batch": "count",
        "ingest.tasks_per_batch": "count", "ingest.files_per_batch": "count",
        "dedup.admit_ratio": "ratio", "dedup.incremental_s": "s",
        "session.cold_op_s": "s", "trace.overhead_ratio": "ratio",
    }
    cases = [(w["name"], t, e2e if t == 0 else layers)
             for w in spec["workloads"] for t in (0, 1)]
    cases += [("ingest", 0, ingest_e2e), ("ingest", 1, ingest_layers)]
    for workload, trace, want in cases:
        p = _run(["--workload", workload, "--seed", "1", "--seconds", "1",
                  "--trace", str(trace), "--scale", "0.05"], ROOT)
        expect(p.returncode == 0, f"{workload} trace={trace}: exits 0"
               + ("" if p.returncode == 0 else f" ({p.stderr[-2000:]})"))
        res = json.loads(p.stdout.strip().splitlines()[-1])
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        expect(got == want, f"{workload} trace={trace}: every named metric with its unit"
               + ("" if got == want else f" (missing {set(want) - set(got)}, extra {set(got) - set(want)})"))
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{workload} trace={trace}: outputs correct")


def test_without_sources() -> None:
    d = _scratch()
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
        p = _run(["--workload", "translate", "--seed", "1", "--seconds", "1", "--trace", "0"], d)
        expect(p.returncode != 0 and '"metrics"' not in p.stdout,
               "without the engine's sources the run fails and prints no result")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true", help="skip the Spark smoke runs")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    test_generators()
    test_checkers()
    test_without_sources()
    if not args.quick:
        test_smoke(spec)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
