"""Schema inference + row normalization for dynamic JSON (SURVEY.md §7.4).

The reference streams schemaless events and lets each Plate consumer decide
types lazily (json/Parser.scala:320-328 keeps numbers as text). Spark needs
one StructType per scan, so we run a sampling pass over parsed rows and fold
their shapes through a type lattice modeled on Spark's own JSON inference:

    NULL  <  BOOLEAN | LONG | DECIMAL(38,0) | DOUBLE | STRING
    LONG ∨ DECIMAL = DECIMAL(38,0)        (int wider than int64)
    LONG ∨ DOUBLE = DOUBLE, DECIMAL ∨ DOUBLE = DOUBLE
    STRUCT ∨ STRUCT = fieldwise merge (missing fields nullable)
    ARRAY ∨ ARRAY = ARRAY(merge of elements)
    any other conflict = STRING  (canonical JSON text fallback)

Empty ``{}`` / ``[]`` scalars (the reference's ``map()``/``arr()`` events,
Plate.scala:27-28) infer as empty STRUCT / ARRAY(NULL) and merge naturally
with sibling rows' shapes.

``normalize_row`` then coerces every parsed row to the chosen schema so the
Arrow builder never sees a mismatched cell: unsampled-row type conflicts
degrade to NULL (PERMISSIVE) instead of failing the batch, mirroring
Spark's JSON reader field-level null-on-mismatch semantics.
"""

from __future__ import annotations

import decimal
import json
import math
from typing import Any

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DecimalType,
    DoubleType,
    LongType,
    NullType,
    StringType,
    StructField,
    StructType,
)

_I64_MIN = -(2**63)
_I64_MAX = 2**63 - 1


# --------------------------------------------------------------------- infer


def _infer_value(v: Any) -> DataType:
    if v is None:
        return NullType()
    if isinstance(v, bool):
        return BooleanType()
    if isinstance(v, int):
        if _I64_MIN <= v <= _I64_MAX:
            return LongType()
        return DecimalType(38, 0)
    if isinstance(v, float):
        return DoubleType()
    if isinstance(v, str):
        return StringType()
    if isinstance(v, dict):
        return StructType(
            [StructField(k, _infer_value(x), nullable=True) for k, x in v.items()]
        )
    if isinstance(v, list):
        elem: DataType = NullType()
        for x in v:
            elem = merge_types(elem, _infer_value(x))
        return ArrayType(elem, containsNull=True)
    raise TypeError(f"cannot infer Spark type for {type(v).__name__}")


def merge_types(a: DataType, b: DataType) -> DataType:
    if a == b:
        return a
    if isinstance(a, NullType):
        return b
    if isinstance(b, NullType):
        return a
    if isinstance(a, StructType) and isinstance(b, StructType):
        fields: dict[str, DataType] = {f.name: f.dataType for f in a.fields}
        order = [f.name for f in a.fields]
        for f in b.fields:
            if f.name in fields:
                fields[f.name] = merge_types(fields[f.name], f.dataType)
            else:
                fields[f.name] = f.dataType
                order.append(f.name)
        return StructType([StructField(n, fields[n], nullable=True) for n in order])
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return ArrayType(merge_types(a.elementType, b.elementType), containsNull=True)
    numeric = {LongType(), DecimalType(38, 0), DoubleType()}
    if a in numeric and b in numeric:
        if DoubleType() in (a, b):
            return DoubleType()
        return DecimalType(38, 0)
    return StringType()


def infer_spark_schema(rows: list[Any], value_column: str = "value") -> StructType:
    """Fold sampled rows into one StructType.

    Top-level objects contribute their fields as columns. If any sampled row
    is NOT an object (the reference treats top-level scalars as rows too,
    json/Parser.scala:628-653), the whole scan degrades to a single
    ``value_column`` of the merged scalar type — the two shapes don't mix.
    """
    merged: DataType = NullType()
    for r in rows:
        merged = merge_types(merged, _infer_value(r))
    if isinstance(merged, StructType):
        if not merged.fields and not any(isinstance(r, dict) for r in rows):
            return StructType([StructField(value_column, StringType(), True)])
        return _concretize(merged)
    out = _concretize(merged)
    if isinstance(out, NullType):
        out = StringType()
    return StructType([StructField(value_column, out, True)])


def _concretize(t: DataType) -> DataType:
    """All-null columns / elements become StringType (Spark does the same)."""
    if isinstance(t, NullType):
        return StringType()
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _concretize(f.dataType), True) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_concretize(t.elementType), containsNull=True)
    return t


# ----------------------------------------------------------------- normalize


def canonical_json(v: Any) -> str:
    """Canonical JSON text for container→STRING fallback cells."""
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def to_double(v: int | float) -> float:
    """``float(v)``; an int beyond the double range is ±inf, as pyarrow and
    Spark read it."""
    try:
        return float(v)
    except OverflowError:
        return math.inf if v > 0 else -math.inf


def _coerce(v: Any, t: DataType) -> Any:
    if v is None:
        return None
    if isinstance(t, StringType):
        return v if isinstance(v, str) else canonical_json(v)
    if isinstance(t, BooleanType):
        return v if isinstance(v, bool) else None
    if isinstance(t, LongType):
        if isinstance(v, bool) or not isinstance(v, int):
            return None
        return v if _I64_MIN <= v <= _I64_MAX else None
    if isinstance(t, DecimalType):
        if isinstance(v, bool) or not isinstance(v, int):
            return None
        return decimal.Decimal(v)
    if isinstance(t, DoubleType):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        return to_double(v)
    if isinstance(t, StructType):
        if not isinstance(v, dict):
            return None
        return {f.name: _coerce(v.get(f.name), f.dataType) for f in t.fields}
    if isinstance(t, ArrayType):
        if not isinstance(v, list):
            return None
        return [_coerce(x, t.elementType) for x in v]
    return None


def normalize_row(row: Any, schema: StructType, value_column: str = "value") -> dict:
    """Coerce one parsed row to ``schema`` → dict keyed by column name.

    A scan whose schema is the single ``value_column`` wraps non-object rows;
    otherwise non-object rows normalize to all-null (field-level PERMISSIVE).
    """
    names = [f.name for f in schema.fields]
    if names == [value_column] and not (
        isinstance(row, dict) and set(row.keys()) == {value_column}
    ):
        return {value_column: _coerce(row, schema.fields[0].dataType)}
    if not isinstance(row, dict):
        return {n: None for n in names}
    return {f.name: _coerce(row.get(f.name), f.dataType) for f in schema.fields}
