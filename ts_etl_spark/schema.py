"""Canonical schema of the reference pipeline.

The reference operates on exactly six canonical columns in a fixed output
order (``EXPECTED_HEADERS``, reference src/utils/normalization.ts:5-19).
Physically the reference keeps every value as a normalized *string*
(normalization.ts:3); this engine keeps a typed core (DecimalType /
DateType) for the relational surface and formats back to the reference's
string model only at the sinks ("typed core, formatted edges",
SURVEY.md §7.1).
"""

from __future__ import annotations

from pyspark.sql import types as T

H_NAME = "Name"
H_ADDRESS = "Address"
H_POSTCODE = "Postcode"
H_PHONE = "Phone"
H_CREDIT_LIMIT = "Credit Limit"
H_BIRTHDAY = "Birthday"

#: Canonical output column order (reference normalization.ts:12-19).
EXPECTED_HEADERS: tuple[str, ...] = (
    H_NAME,
    H_ADDRESS,
    H_POSTCODE,
    H_PHONE,
    H_CREDIT_LIMIT,
    H_BIRTHDAY,
)

#: Default value when a field is null/missing (reference normalization.ts:25-35).
DEFAULTS: dict[str, str] = {h: "" for h in EXPECTED_HEADERS}
DEFAULTS[H_CREDIT_LIMIT] = "0.00"

#: Internal bookkeeping column carrying source row order through the plan
#: (SURVEY.md §4.1). Sources assign it with ``monotonically_increasing_id``
#: on a narrow scan, so it increases in partition order; the byte-exact sinks
#: stream partitions in order and reject a frame where it does not increase.
ROW_ID = "__row_id"

#: The parity-path schema: all strings, already normalized — mirrors the
#: reference's ParsedRow (src/types.ts:13).
CANONICAL_STRING_SCHEMA = T.StructType(
    [T.StructField(h, T.StringType(), nullable=False) for h in EXPECTED_HEADERS]
)

#: The typed relational schema ("typed core"). Birthday values that are not
#: real dates (the reference passes unknown formats through verbatim,
#: normalization.ts:90-92) become null here — documented divergence between
#: the parity path (strings) and the typed path (validated types).
CANONICAL_TYPED_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("address", T.StringType()),
        T.StructField("postcode", T.StringType()),
        T.StructField("phone", T.StringType()),
        T.StructField("credit_limit", T.DecimalType(18, 2)),
        T.StructField("birthday", T.DateType()),
    ]
)

#: Driver-generated scale-out tables (TESTDATA.md) used by the extension
#: surface (SURVEY.md §2.4).
SCALE_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
