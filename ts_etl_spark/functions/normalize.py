"""Field normalizers — the semantic core of the reference pipeline.

Re-expresses reference ``src/utils/normalization.ts:21-114`` (operators
O8-O15 in SURVEY.md §2.1) as pure ``Column -> Column`` expressions. All of
these stay JVM-side inside whole-stage codegen — no Python UDFs.

Semantics preserved exactly:
- JS ``String.trim`` trims Unicode whitespace incl. NBSP/BOM (→ ``js_trim``).
- Phone keeps a leading ``+`` and strips every other non-digit
  (normalization.ts:50-56).
- Postcode strips all whitespace and uppercases (normalization.ts:46-49).
- Credit Limit mirrors JS ``parseFloat(v.replace(',', '.')).toFixed(2)``:
  only the FIRST comma becomes a dot, a leading numeric prefix is parsed
  (trailing garbage ignored), NaN → ``"0.00"`` (normalization.ts:57-63).
  Known divergence: exact half-cent values round HALF_UP here while JS
  ``toFixed`` rounds on the binary double (e.g. 1.005 → "1.01" vs "1.00");
  no reference fixture exercises this.
- Birthday is digit-rearranging string surgery with NO calendar validation,
  unknown formats pass through verbatim (normalization.ts:64-93) — so the
  parity path must NOT use ``to_date`` (which nulls impossible dates,
  SURVEY.md §7.4).
- null/missing → ``"0.00"`` for Credit Limit else ``""``
  (normalization.ts:25-35).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ts_etl_spark.schema import (
    DEFAULTS,
    EXPECTED_HEADERS,
    H_ADDRESS,
    H_BIRTHDAY,
    H_CREDIT_LIMIT,
    H_NAME,
    H_PHONE,
    H_POSTCODE,
)

# JS String.prototype.trim strips Unicode whitespace + BOM; Java \s is
# ASCII-only, so NBSP/BOM are added explicitly.
_JS_WS = "[\\s\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000\ufeff]"

#: the same set as characters, for driver-side ``str.strip`` (``js_strip``)
JS_WS_CHARS = (
    " \t\n\r\x0b\x0c\u00a0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000\ufeff"
)

# JS parseFloat: optional sign, then either digits[.digits] or .digits, with
# an optional exponent; trailing garbage is ignored; empty match → NaN.
_FLOAT_PREFIX = r"^[+-]?(?:\d+\.?\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?)"


def js_trim(c: Column) -> Column:
    """JS ``String.trim`` (reference normalization.ts:44)."""
    return F.regexp_replace(c, f"^{_JS_WS}+|{_JS_WS}+$", "")


def js_strip(s: str) -> str:
    """``js_trim`` on a Python string, for driver-side header reads."""
    return s.strip(JS_WS_CHARS)


def normalize_postcode(c: Column) -> Column:
    """Strip all whitespace, uppercase (normalization.ts:46-49)."""
    return F.upper(F.regexp_replace(js_trim(c), _JS_WS + "+", ""))


def normalize_phone(c: Column) -> Column:
    """Digits only; a leading ``+`` survives (normalization.ts:50-56)."""
    t = js_trim(c)
    digits = F.regexp_replace(t, "[^0-9]", "")
    return F.when(t.startswith("+"), F.concat(F.lit("+"), digits)).otherwise(digits)


def normalize_money(c: Column) -> Column:
    """JS ``parseFloat(v.replace(',', '.')).toFixed(2)``; NaN → "0.00"
    (normalization.ts:57-63). Returns the 2-decimal *string*.

    Robustness divergence: values outside DECIMAL(18,2) (|v| ≥ 1e16-ish)
    yield the "0.00" default via ``try_cast`` instead of crashing the job
    under ANSI mode or emitting 20-digit strings — one malformed record
    must never kill a pipeline. JS's signed negative zero IS preserved:
    ``(-0.001).toFixed(2) === "-0.00"``."""
    t = js_trim(c)
    # JS String.replace with a string pattern replaces only the FIRST match.
    first_comma_dotted = F.regexp_replace(t, "^([^,]*),", "$1.")
    prefix = F.regexp_extract(first_comma_dotted, _FLOAT_PREFIX, 0)
    as_dec = F.when(prefix != "", prefix.try_cast(T.DecimalType(18, 2)))
    s = F.coalesce(as_dec.cast(T.StringType()), F.lit("0.00"))
    # "-0.00" only when a value actually parsed into range and rounded to
    # zero from below — a negative OVERFLOW takes the plain "0.00" default
    # (as_dec is null there, so the sign branch must not fire)
    neg_zero = (
        as_dec.isNotNull() & (prefix.try_cast(T.DoubleType()) < 0) & (s == "0.00")
    )
    return F.when(neg_zero, F.lit("-0.00")).otherwise(s)


def normalize_birthday(c: Column) -> Column:
    """3-dialect date rearrangement → ``YYYY-MM-DD``; no calendar validation;
    unknown formats pass through verbatim (normalization.ts:64-93)."""
    t = js_trim(c)
    ddmmyyyy = r"^(\d{1,2})/(\d{1,2})/(\d{4})$"
    yyyymmdd = r"^(\d{4})(\d{2})(\d{2})$"
    iso_loose = r"^(\d{4})-(\d{1,2})-(\d{1,2})$"
    pad2 = lambda col: F.lpad(col, 2, "0")  # noqa: E731
    return (
        F.when(
            t.rlike(ddmmyyyy),
            F.concat_ws(
                "-",
                F.regexp_extract(t, ddmmyyyy, 3),
                pad2(F.regexp_extract(t, ddmmyyyy, 2)),
                pad2(F.regexp_extract(t, ddmmyyyy, 1)),
            ),
        )
        .when(
            t.rlike(yyyymmdd),
            F.concat_ws(
                "-",
                F.regexp_extract(t, yyyymmdd, 1),
                F.regexp_extract(t, yyyymmdd, 2),
                F.regexp_extract(t, yyyymmdd, 3),
            ),
        )
        .when(
            t.rlike(iso_loose),
            F.concat_ws(
                "-",
                F.regexp_extract(t, iso_loose, 1),
                pad2(F.regexp_extract(t, iso_loose, 2)),
                pad2(F.regexp_extract(t, iso_loose, 3)),
            ),
        )
        .otherwise(t)
    )


_RULES = {
    H_POSTCODE: normalize_postcode,
    H_PHONE: normalize_phone,
    H_CREDIT_LIMIT: normalize_money,
    H_BIRTHDAY: normalize_birthday,
    H_NAME: js_trim,
    H_ADDRESS: js_trim,
}


def register_normalizer(header: str, rule, default: str = "") -> None:
    """User-defined scalar-normalizer extension point.

    The reference hard-codes its normalization rules (normalization.ts:43-99)
    and exposes registries only for parsers/renderers (O19/O20); this engine
    extends the same registry idiom to the per-column rules: ``rule`` is any
    ``Column -> Column`` function (keep it built-in-expression-based to stay
    on the codegen hot path). Overwrites warn, like the reference registries
    (parsers/index.ts:11-16)."""
    import sys

    key = None
    for expected in EXPECTED_HEADERS:
        if expected.lower() == header.lower():
            key = expected
            break
    key = key or header
    if key in _RULES:
        print(f"Warning: Overwriting normalizer for header: {key}", file=sys.stderr)
    _RULES[key] = rule
    DEFAULTS[key] = default


def normalize_field(header: str, c: Column) -> Column:
    """``normalizeFieldValue`` (normalization.ts:21-101): dispatch by
    canonical header (case-insensitive), null → per-column default."""
    # registered non-canonical rules are honored too (register_normalizer)
    rule, default = _RULES.get(header, js_trim), DEFAULTS.get(header, "")
    for expected in EXPECTED_HEADERS:
        if expected.lower() == header.lower():
            rule, default = _RULES[expected], DEFAULTS[expected]
            break
    return F.when(c.isNull(), F.lit(default)).otherwise(rule(c))


def default_for(header: str) -> Column:
    """Constant column for an absent input field (normalization.ts:25-35)."""
    return F.lit(DEFAULTS.get(header, ""))


def normalize_row_exprs(present: dict[str, Column]) -> list[Column]:
    """``normalizeRow`` (normalization.ts:103-114): one expression per
    canonical header, in canonical order; absent headers get defaults.

    ``present`` maps canonical header -> raw string Column from the source.
    Returns a list ready for a single ``df.select(...)`` — the whole
    canonicalization is one narrow projection, fully codegen'd, no shuffle.
    """
    exprs = []
    for h in EXPECTED_HEADERS:
        if h in present:
            exprs.append(normalize_field(h, present[h]).alias(h))
        else:
            exprs.append(default_for(h).alias(h))
    return exprs
