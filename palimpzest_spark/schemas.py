"""Dynamic schema algebra over ``StructType``.

The reference builds schemas at plan time from dynamic pydantic models:
``union_schemas`` (``core/lib/schemas.py:145-162``), ``project``
(``schemas.py:99-111``) and ``relax_schema`` (types not enforced,
``schemas.py:90-96``).

Here the same algebra is expressed over ``StructType``: ``relax`` becomes
explicit type *widening* rules (int32→int64, int→double, anything→string)
used by both plan-time unions and the CDC engine's Arrow-based microbatch
reconciliation (``cdc/reconcile.py``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- type widening lattice -------------------------------------------------

_WIDEN_ORDER = {
    T.BooleanType(): 0,
    T.ByteType(): 1,
    T.ShortType(): 2,
    T.IntegerType(): 3,
    T.LongType(): 4,
    T.FloatType(): 5,
    T.DoubleType(): 6,
}


def widen(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least common supertype of two field types (the ``relax_schema``
    permissiveness made explicit): numeric ladder, else string fallback.
    ``NullType`` (all-null inference sample) is the identity element."""
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if a == b:
        return a
    if a in _WIDEN_ORDER and b in _WIDEN_ORDER:
        return a if _WIDEN_ORDER[a] >= _WIDEN_ORDER[b] else b
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(widen(a.elementType, b.elementType), a.containsNull or b.containsNull)
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        return union_schemas([a, b])
    if isinstance(a, (T.TimestampType, T.DateType)) and isinstance(b, (T.TimestampType, T.DateType)):
        return T.TimestampType()
    return T.StringType()


def union_schemas(schemas: list[T.StructType]) -> T.StructType:
    """Plain union (``union_schemas`` without join, ``schemas.py:145-162``):
    fields merged by name in first-seen order, colliding types widened."""
    out: dict[str, T.StructField] = {}
    for s in schemas:
        for f in s.fields:
            if f.name in out:
                prev = out[f.name]
                out[f.name] = T.StructField(
                    f.name, widen(prev.dataType, f.dataType), True, metadata=prev.metadata
                )
            else:
                out[f.name] = T.StructField(f.name, f.dataType, True, metadata=f.metadata)
    return T.StructType(list(out.values()))


def project(schema: T.StructType, cols: list[str]) -> T.StructType:
    by_name = {f.name: f for f in schema.fields}
    return T.StructType([by_name[c] for c in cols])
