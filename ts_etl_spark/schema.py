"""Canonical schema of the reference pipeline.

The reference operates on exactly six canonical columns in a fixed output
order (``EXPECTED_HEADERS``, reference src/utils/normalization.ts:5-19).
Like the reference, the conversion path keeps every value as a normalized
*string* (normalization.ts:3).
"""

from __future__ import annotations

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
