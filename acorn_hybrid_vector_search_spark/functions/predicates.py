"""Metadata predicate builder — the reference's query grammar as Columns.

Query grammar: ``{attribute: [op, value]}``, conjunction (AND) across
attributes (/root/reference/acorn.py:289-298 template comment). This module
is the single encoding of the §2.3 predicate matrix (SURVEY.md), replacing
the reference's three divergent inlined copies
(/root/reference/pre-filter.py:102-176, /root/reference/acorn.py:72-138 and
166-214).

Exact semantics preserved:
- **Missing attribute ⇒ row rejected** (/root/reference/pre-filter.py:108-110,
  /root/reference/acorn.py:213-214): every constraint carries an
  ``IS NOT NULL`` conjunct on the attribute, even when the op itself is
  unsupported.
- **Unsupported (attr, op) pair ⇒ op silently ignored** (falls through every
  elif, /root/reference/pre-filter.py returns True) — only the presence
  check remains.
- **First-element-only access**: array attributes are consulted at ``[0]``
  everywhere (/root/reference/acorn.py:176-185).
- ``substring`` is case-sensitive containment (``target in value``,
  /root/reference/pre-filter.py:140-174).

Documented deviations (SURVEY.md §2.3):
- ``item_weight`` comparisons standardize on the unit-normalized pounds
  value (``normalized_value.value``); the reference's post-filter uses the
  raw mixed-unit value (/root/reference/acorn.py:83 vs :176) — an internal
  inconsistency we do not replicate.
- ``substring`` on ``country`` is supported directly (the reference's code
  path raises TypeError on the bare string; /root/reference/acorn.py:131).

Because the predicate is a plain Column expression, Catalyst pushes it into
the Parquet scan (PushedFilters on scalar comparisons) and prunes columns —
the 100 TB path never materializes rows that fail a pushable conjunct.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ops the reference dispatches per attribute class (SURVEY.md §2.3 matrix)
SUPPORTED_OPS = {
    "numeric": frozenset({"exact", "leq", "geq", "<", ">"}),
    "string": frozenset({"exact", "substring"}),
}


class AttributeAccessor:
    """How to read one logical attribute: the value expression used by
    comparisons, plus the presence expression used for missing-attribute
    rejection (they differ for array-of-struct attributes, where presence
    is the array itself being non-null/non-empty)."""

    def __init__(self, value: Column, present: Column, kind: str):
        self.value = value
        self.present = present
        self.kind = kind  # 'numeric' | 'string'


def _array_struct_accessor(col: Column, field: str, kind: str) -> AttributeAccessor:
    # first-element-only: meta[key][0][field]
    value = col.getItem(0).getField(field)
    present = col.isNotNull() & (F.size(col) > 0)
    return AttributeAccessor(value, present, kind)


def abo_accessors(prefix: str = "") -> dict[str, AttributeAccessor]:
    """Accessors for the ABO `items` schema (schemas.ITEMS_SCHEMA)."""
    c = lambda name: F.col(prefix + name)  # noqa: E731
    return {
        "brand": _array_struct_accessor(c("brand"), "value", "string"),
        "color": _array_struct_accessor(c("color"), "value", "string"),
        "model_year": _array_struct_accessor(c("model_year"), "value", "numeric"),
        "item_weight": AttributeAccessor(
            # normalized pounds value (see module docstring deviation note)
            c("item_weight").getItem(0).getField("normalized_value").getField("value"),
            c("item_weight").isNotNull() & (F.size(c("item_weight")) > 0),
            "numeric",
        ),
        "country": AttributeAccessor(c("country"), c("country").isNotNull(), "string"),
    }


def flat_accessors(df_or_schema: DataFrame | Mapping[str, str]) -> dict[str, AttributeAccessor]:
    """Accessors for a flat relational table (driver testdata): every
    column is its own attribute; numeric vs string inferred from dtype."""
    if isinstance(df_or_schema, DataFrame):
        dtypes = dict(df_or_schema.dtypes)
    else:
        dtypes = dict(df_or_schema)
    out: dict[str, AttributeAccessor] = {}
    for name, dt in dtypes.items():
        col = F.col(name)
        out[name] = AttributeAccessor(col, col.isNotNull(), flat_kind(dt))
    return out


def flat_kind(dtype: str) -> str:
    """The attribute kind ``flat_accessors`` gives a column of Spark type
    string ``dtype``: 'string' for strings, 'numeric' for everything else."""
    return "string" if dtype in ("string", "varchar") else "numeric"


def extract_attribute_payloads(
    accessors: Mapping[str, AttributeAccessor], prefix: str = ""
) -> tuple[dict[str, Column], dict[str, AttributeAccessor]]:
    """Covering-index extraction (r8b): materialize each accessor's
    §2.3 semantics as TWO flat columns — the value under presence
    (NULL when strict missing-attribute rejection would fail or the
    present value is itself NULL) plus a ``<name>__present`` boolean
    carrying the accessor's OWN presence verdict. The boolean is what
    makes the returned accessors decision-equivalent to the nested
    ones for EVERY §2.3 case including presence-only constraints
    (unsupported-op fallthrough): a row whose attribute is present but
    whose value is NULL passes the nested ``acc.present`` conjunct,
    and value-``isNotNull`` presence would wrongly reject it (r8
    ADVICE); pinned in tests/test_predicates. This is what an index
    build does with nested metadata: extract once at write time so
    every serve-time filter is a flat column test
    (`nsw_write(payload_cols=...)` stores the result beside each
    node).

    Returns ``(columns, flat_accessors)``: select
    ``df.select(..., *(c.alias(n) for n, c in columns.items()))`` at
    build, and hand ``flat_accessors`` to ``build_predicate`` at serve.
    """
    cols: dict[str, Column] = {}
    flat: dict[str, AttributeAccessor] = {}
    for name, acc in accessors.items():
        out_name = f"{prefix}{name}"
        cols[out_name] = F.when(acc.present, acc.value)
        # eqNullSafe-style materialization: the stored boolean is never
        # NULL, so the flat presence conjunct is exactly the nested one
        cols[f"{out_name}__present"] = F.coalesce(acc.present, F.lit(False))
        flat[name] = AttributeAccessor(
            F.col(out_name), F.col(f"{out_name}__present"), acc.kind
        )
    return cols, flat


def build_predicate(
    query_metadata: Mapping[str, Sequence[Any]],
    accessors: Mapping[str, AttributeAccessor],
) -> Column:
    """Translate ``{attr: [op, value]}`` into one Column conjunction.

    Empty predicate ⇒ ``lit(True)`` (pure vector top-k; the reference's
    intended empty-dict behavior, SURVEY.md §2.3).
    Unknown attribute name ⇒ ValueError (the reference would KeyError).
    """
    cond = F.lit(True)
    for attr, (op, value) in query_metadata.items():
        if attr not in accessors:
            raise ValueError(f"unknown attribute: {attr!r}")
        acc = accessors[attr]
        # strict missing-attribute rejection, always applied
        cond = cond & acc.present

        if op not in SUPPORTED_OPS[acc.kind]:
            continue  # unsupported (attr, op): constraint silently ignored

        v = acc.value
        if op == "exact":
            cond = cond & (v == F.lit(value))
        elif op == "leq":
            cond = cond & (v <= F.lit(value))
        elif op == "geq":
            cond = cond & (v >= F.lit(value))
        elif op == "<":
            cond = cond & (v < F.lit(value))
        elif op == ">":
            cond = cond & (v > F.lit(value))
        elif op == "substring":
            cond = cond & v.contains(F.lit(value))
    return cond
