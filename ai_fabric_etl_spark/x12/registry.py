"""Schema-registry -> Spark StructType generation (build plan M0).

The reference declares per-transaction-type schemas externally in
``schemas/x12_transaction_schemas.json``: for each type, a
``required_segments`` list and per-segment positional element specs
with declared types ``string | decimal | integer | date | time``
(e.g. x12_transaction_schemas.json:52,:90) — but never *uses* them at
runtime; its parsers hard-code positions. Here the registry is a
first-class input: it generates

- a typed ``StructType`` per (transaction type, segment): one field
  per declared element, Spark type mapped from the registry type;
- required-segment validation rules (the U10 check
  ``silver_x12_parsing.py:1082-1323`` drives off the same lists);
- a typed segment extractor: raw ``elements array<string>`` columns
  -> registry-typed struct via JVM-side casts (``try_*`` semantics:
  malformed values become null, with the reference's empty-string ->
  0.0 numeric convention preserved via coalesce).

The registry format is data, not code — users point the engine at
their own JSON registry file.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DecimalType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# registry element type -> Spark type; money follows init.sql:59's
# DECIMAL(15,2) rather than the notebooks' double (SURVEY §1.2)
_TYPE_MAP = {
    "string": StringType(),
    "integer": IntegerType(),
    "decimal": DecimalType(15, 2),
    "date": DateType(),
    "time": StringType(),  # X12 HHMM times carry no date; kept lexical
}


def _field_name(element: dict) -> str:
    return (
        element["name"].lower().replace(" ", "_").replace("/", "_").replace("-", "_")
    )


def segment_struct(segment_id: str, segment_spec: dict) -> StructType:
    """StructType for one segment's declared elements."""
    return StructType(
        [
            StructField(_field_name(el), _TYPE_MAP[el["type"]], nullable=True)
            for el in segment_spec.get("elements", [])
        ]
    )


def transaction_structs(registry: dict, txn_type: str) -> dict[str, StructType]:
    """segment_id -> StructType for every segment of a transaction type."""
    spec = registry[txn_type]
    return {
        seg_id: segment_struct(seg_id, seg_spec)
        for seg_id, seg_spec in spec.get("segments", {}).items()
    }


def required_segments(registry: dict, txn_type: str) -> list[str]:
    return list(registry[txn_type].get("required_segments", []))


def typed_segment(elements: Column, segment_spec: dict) -> Column:
    """Registry-typed struct from a raw ``array<string>`` elements
    column (element 1 of the raw segment = position 1, the segment tag
    already stripped — the reference's indexing convention,
    silver_x12_parsing.py:109).

    Casts are null-safe: ``try_element_at`` for bounds,
    empty-string-to-null trim, then cast. Decimals follow the
    reference's ``float(x) if x else 0.0`` guard EXACTLY
    (silver_x12_parsing.py:231 — SURVEY §7.3 risk 4): absent/empty
    elements become 0.00, but a present-and-malformed value ('ABC')
    becomes NULL — coalescing it to 0.00 would conflate garbage with
    a genuine zero amount and silently corrupt downstream sums.
    """
    fields = []
    for el in segment_spec.get("elements", []):
        raw = F.try_element_at(elements, F.lit(el["position"]))
        raw = F.when(F.trim(raw) == "", None).otherwise(F.trim(raw))
        t = el["type"]
        if t == "integer":
            typed = raw.try_cast("int")  # ANSI-safe: malformed -> null
        elif t == "decimal":
            typed = F.when(
                raw.isNull(), F.lit(0).cast("decimal(15,2)")
            ).otherwise(raw.try_cast("decimal(15,2)"))
        elif t == "date":
            # X12 compact CCYYMMDD (scripts/generate_test_x12_data.py:38-52)
            typed = F.to_date(raw, "yyyyMMdd")
        else:
            typed = raw
        fields.append(typed.alias(_field_name(el)))
    return F.struct(*fields)


def missing_required_segments(segment_ids: Column, required: list[str]) -> Column:
    """Array of required segment ids absent from a transaction's
    segment-id array — the registry-driven half of U10 validation."""
    return F.array_except(
        F.array(*[F.lit(s) for s in required]), F.array_distinct(segment_ids)
    )
