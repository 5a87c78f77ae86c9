"""Output checkers. Each returns ``None`` when the output is correct and a
one-line reason when it is not. They run outside every timed window."""

from __future__ import annotations

import json
import math
from collections import Counter


def rendering_mismatch(fmt: str, output: str, expected: str, expected_rows=None) -> str | None:
    """A conversion's output must equal the reference rendering of the
    generator's rows byte for byte, so the CSV-derived and the PRN-derived
    documents are identical. A JSON document that differs is also parsed
    back, to say whether the values or only the framing differ."""
    if output == expected:
        return None
    at = next((i for i, (a, b) in enumerate(zip(output, expected)) if a != b),
              min(len(output), len(expected)))
    reason = f"{fmt} output differs from the reference at character {at}"
    if fmt == "json" and expected_rows is not None:
        try:
            same = json.loads(output) == expected_rows
        except ValueError:
            same = False
        reason += "; values equal" if same else "; values differ"
    return reason


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _multiset(rows, cols) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def oracle_mismatch(spark_cols, spark_rows, ddb_cols, ddb_rows) -> str | None:
    """The comparison of the engine's oracle-parity tests: same column
    names, same row count, and the same order-insensitive multiset of
    values (exact equality; NaN equals NaN)."""
    if sorted(spark_cols) != sorted(ddb_cols):
        return f"column names differ: {sorted(spark_cols)} vs {sorted(ddb_cols)}"
    if len(spark_rows) != len(ddb_rows):
        return f"row count differs: {len(spark_rows)} vs {len(ddb_rows)}"
    sn, dn = _multiset(spark_rows, spark_cols), _multiset(ddb_rows, ddb_cols)
    if sn != dn:
        return (f"values differ; engine-only={list((sn - dn).keys())[:2]} "
                f"oracle-only={list((dn - sn).keys())[:2]}")
    return None


def corpus_mismatch(corpus_ids, replay_ids, exact_ids) -> str | None:
    """The ingested corpus must hold exactly the ids a sequential replay of
    the same batches keeps, and no planted exact re-submission."""
    ids = list(corpus_ids)
    corpus, replay = set(ids), set(replay_ids)
    if len(corpus) != len(ids):
        return "corpus holds a doc_id twice"
    if corpus != replay:
        return (f"corpus differs from the replay: missing={sorted(replay - corpus)[:5]} "
                f"extra={sorted(corpus - replay)[:5]}")
    leaked = sorted(corpus & set(exact_ids))
    if leaked:
        return f"planted exact re-submissions were admitted: {leaked[:5]}"
    return None
