"""Seeded input generation. Runs before any timed window; the program under
test only ever sees the files written here.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical files and returns identical expected values.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEADERS = ("Name", "Address", "Postcode", "Phone", "Credit Limit", "Birthday")

# ---------------------------------------------------------------------------
# translate: one logical row set written as CSV and as PRN
# ---------------------------------------------------------------------------

_FIRST = ("John", "Paul", "Steve", "Pat", "Ærøskøbing", "Søren", "Straße", "Zoë",
          "Håkon", "Émile", "Jürgen", "Ølga", "Ann", "O'Neil", "Dijk & Co")
_LAST = ("Johnson", "Anderson", "Wicket", "Benetar", "Gibson", "Øster",
         "Weiß", "Nørgaard", "Müller", "Faß", "de Vries", "Blom")
_STREET = ("Voorstraat", "Dorpsplein", "Mendelssohnstraat", "Driehoog",
           "Æblevej", "Große Straße", "Kastanjelaan", "Rue <Haute>", "Søndergade")
# PRN column spans (start offsets follow from the header layout below)
_PRN_WIDTHS = (("Name", 24), ("Address", 28), ("Postcode", 9), ("Phone", 20),
               ("Credit Limit", 13), ("Birthday", 8))


def _money_units(cents: int, rng: random.Random) -> str:
    """A CSV credit limit in units: integer, one or two decimals, and in a
    quarter of the rows the decimal comma the normalizer rewrites."""
    units, frac = divmod(cents, 100)
    if frac == 0:
        text = str(units)
    elif frac % 10 == 0:
        text = f"{units}.{frac // 10}"
    else:
        text = f"{units}.{frac:02d}"
    if "." in text and rng.random() < 0.25:
        text = text.replace(".", ",")
    return text


def translate_rows(seed: int, n_rows: int) -> list[dict]:
    """The logical rows: raw CSV cells, raw PRN cells and the normalized
    values both dialects must produce."""
    rng = random.Random(seed)
    rows = []
    for _ in range(n_rows):
        name = f"{rng.choice(_LAST)}, {rng.choice(_FIRST)}"
        address = f"{rng.choice(_STREET)} {rng.randint(1, 499)}{rng.choice(['', 'a', 'B', 'd'])}"
        pc_digits = rng.randint(1000, 9999)
        pc_letters = "".join(rng.choice("abcdefghjkmnprstvwxyz") for _ in range(2))
        if rng.random() < 0.5:
            pc_letters = pc_letters.upper()
        postcode = f"{pc_digits}{rng.choice(['', ' '])}{pc_letters}"
        area = rng.randint(10, 99)
        local = rng.randint(1000000, 9999999)
        phone = rng.choice((
            f"0{area} {local}",
            f"0{area}-{local}",
            f"+31 ({area}) {local}",
            f"0{area}{local}",
        ))
        cents = rng.randint(0, 20_000_000)
        year, month, day = rng.randint(1930, 2005), rng.randint(1, 12), rng.randint(1, 28)
        if rng.random() < 0.2:
            csv_day = f"{day}/{month}/{year}"  # unpadded day/month
        else:
            csv_day = f"{day:02d}/{month:02d}/{year}"
        digits = "".join(ch for ch in phone if ch.isdigit())
        rows.append({
            "csv": (name, address, postcode, phone, _money_units(cents, rng), csv_day),
            "prn": (name, address, postcode, phone, str(cents), f"{year}{month:02d}{day:02d}"),
            "expected": {
                "Name": name,
                "Address": address,
                "Postcode": postcode.replace(" ", "").upper(),
                "Phone": ("+" + digits) if phone.startswith("+") else digits,
                "Credit Limit": f"{cents // 100}.{cents % 100:02d}",
                "Birthday": f"{year}-{month:02d}-{day:02d}",
            },
        })
    return rows


def _csv_cell(value: str) -> str:
    if any(ch in value for ch in ',"\n'):
        return '"' + value.replace('"', '""') + '"'
    return value


def write_translate_inputs(seed: int, n_rows: int, out_dir: str) -> dict:
    """Write ``rows.csv`` (DD/MM/YYYY dates, unit amounts, quoted commas)
    and ``rows.prn`` (YYYYMMDD dates, integer cents, fixed width), both
    latin1. Returns the paths and the expected JSON and HTML renderings."""
    rows = translate_rows(seed, n_rows)
    csv_lines = [",".join(HEADERS)]
    csv_lines += [",".join(_csv_cell(v) for v in r["csv"]) for r in rows]
    header = "".join(h.ljust(w) for h, w in _PRN_WIDTHS).rstrip()
    prn_lines = [header]
    for r in rows:
        cells = []
        for (h, w), v in zip(_PRN_WIDTHS, r["prn"]):
            if len(v) >= w and h != "Birthday":
                raise ValueError(f"PRN cell {v!r} overflows the {h} column")
            # amounts are right-aligned against the next column, like the
            # reference fixture; the other columns are left-aligned
            cells.append(v.rjust(w - 1) + " " if h == "Credit Limit" else v.ljust(w))
        prn_lines.append("".join(cells).rstrip())
    os.makedirs(out_dir, exist_ok=True)
    paths = {"csv": os.path.join(out_dir, "rows.csv"), "prn": os.path.join(out_dir, "rows.prn")}
    for fmt, lines in (("csv", csv_lines), ("prn", prn_lines)):
        with open(paths[fmt], "wb") as f:
            f.write(("\n".join(lines) + "\n").encode("latin1"))
    expected = [r["expected"] for r in rows]
    return {
        "paths": paths,
        "rows": expected,
        "render": {"json": render_json(expected), "html": render_html(expected)},
    }


def render_json(rows: list[dict]) -> str:
    """The reference JSON document: a pretty array of compact rows."""
    if not rows:
        return "[]"
    body = ",\n  ".join(json.dumps(r, ensure_ascii=False, separators=(",", ":")) for r in rows)
    return "[\n  " + body + "\n]\n"


def _esc(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            .replace('"', "&quot;").replace("'", "&#039;"))


_HTML_HEAD = """<!DOCTYPE html>
<html lang="en">
<head>
  <meta charset="UTF-8">
  <meta name="viewport" content="width=device-width, initial-scale=1.0">
  <title>Data Output</title>
  <style>
    body { font-family: sans-serif; margin: 20px; }
    table { border-collapse: collapse; width: 100%; margin-top: 20px; }
    th, td { border: 1px solid #ddd; padding: 8px; text-align: left; }
    th { background-color: #f2f2f2; }
    tr:nth-child(even) { background-color: #f9f9f9; }
  </style>
</head>
<body>
  <h1>Processed Data</h1>
  <table>
"""


def render_html(rows: list[dict]) -> str:
    """The reference HTML document for ``rows`` (template of the reference
    htmlRenderer, values escaped like its escapeHtml)."""
    parts = [_HTML_HEAD, "    <thead>\n      <tr>\n"]
    parts += [f"        <th>{_esc(h)}</th>\n" for h in HEADERS]
    parts.append("      </tr>\n    </thead>\n    <tbody>\n")
    for r in rows:
        parts.append("      <tr>\n")
        parts += [f"        <td>{_esc(r[h])}</td>\n" for h in HEADERS]
        parts.append("      </tr>\n")
    parts.append("    </tbody>\n  </table>\n</body>\n</html>\n")
    return "".join(parts)


# ---------------------------------------------------------------------------
# analytics: TPC-H-shaped star schema (same columns and value domains as the
# engine's scale tables)
# ---------------------------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PNAMES = ("small ring", "red widget", "blue gear", "steel bolt", "green pipe", "big valve")


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def write_tables(seed: int, n_orders: int, out_dir: str) -> dict[str, int]:
    """Write region, nation, customer, supplier, part, orders and lineitem
    parquet files (one row group each) sized by ``n_orders``. Returns the
    row count of every table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = max(n_orders // 10, 10), max(n_orders // 150, 5), max(n_orders // 7, 10)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(_PNAMES)[rng.integers(0, len(_PNAMES), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 2),
    })
    # ~10% of customers place no order (exercises q13's zero-order bucket)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(n_cust * 9 // 10, 1), n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_orders),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lines_per_order = rng.integers(1, 8, n_orders)
    n_li = int(lines_per_order.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders), lines_per_order), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines_per_order]), pa.int32()
        ),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# ingest: document micro-batches with planted re-submissions
# ---------------------------------------------------------------------------

_VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
          "spark line sort window order data column join small customer query "
          "filter stream big group vector").split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
_EXACT_RATE, _NEAR_RATE = 0.1, 0.05  # planted re-submissions per document


def _mangle_case_space(text: str, rng: random.Random) -> str:
    """An exact re-submission: same canonical fingerprint (case and
    whitespace changes only)."""
    words = [w.upper() if rng.random() < 0.3 else w for w in text.split(" ")]
    return "  " + rng.choice(("  ", " \t ", "   ")).join(words) + " "


def _swap_words(text: str, rng: random.Random) -> str:
    """A near re-submission: three adjacent-word swaps."""
    words = text.split(" ")
    for _ in range(3):
        i = rng.randrange(len(words) - 1)
        words[i], words[i + 1] = words[i + 1], words[i]
    return " ".join(words)


def write_ingest_batches(seed: int, n_batches: int, batch_size: int, out_dir: str) -> dict:
    """Write ``n_batches`` parquet files of (doc_id, text, lang, source)
    with increasing doc ids. A seeded share of each batch re-submits an
    earlier document verbatim up to case and whitespace (``exact``) or with
    a few words swapped (``near``). Returns the paths and the planted ids."""
    rng = random.Random(seed)
    originals: list[str] = []
    exact_ids: list[int] = []
    near_ids: list[int] = []
    paths = []
    doc_id = 0
    os.makedirs(out_dir, exist_ok=True)
    for b in range(n_batches):
        ids, texts, langs, sources = [], [], [], []
        for _ in range(batch_size):
            roll = rng.random()
            if originals and roll < _EXACT_RATE:
                text = _mangle_case_space(rng.choice(originals), rng)
                exact_ids.append(doc_id)
            elif originals and roll < _EXACT_RATE + _NEAR_RATE:
                text = _swap_words(rng.choice(originals), rng)
                near_ids.append(doc_id)
            else:
                text = " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(30, 80)))
                originals.append(text)
            ids.append(doc_id)
            texts.append(text)
            langs.append(rng.choice(_LANGS))
            sources.append(f"src{rng.randrange(20)}")
            doc_id += 1
        path = os.path.join(out_dir, f"batch-{b:04d}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": langs,
            "source": sources,
        }), path)
        paths.append(path)
    return {"paths": paths, "exact_ids": exact_ids, "near_ids": near_ids}


def shuffled(items, seed: int) -> list:
    """Seeded permutation (the analytics query order)."""
    out = list(items)
    random.Random(seed).shuffle(out)
    return out
