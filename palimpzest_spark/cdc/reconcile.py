"""Arrow-based microbatch schema reconciliation (north rule).

A binlog payload is a permissive JSON envelope: its effective schema can gain
columns (``tool_args``) or widen types (``turn_idx`` int32→int64) mid-stream.
Structured Streaming fixes the *source* schema per query, so evolution is
handled here, inside each microbatch (SURVEY.md §7 risk 3):

1. sample payload strings from the batch (driver-side, bounded — this is
   schema inference, not data movement) and infer an **Arrow** schema with
   ``pyarrow.json.read_json``;
2. widen it against the table's current schema using the engine's type
   lattice (``palimpzest_spark.schemas.widen`` — the reference's
   ``union_schemas``/``relax_schema`` semantics, ``core/lib/schemas.py:90-96,
   145-172``, re-expressed over Arrow/StructType);
3. hand the reconciled StructType to ``from_json`` so the *decode of the full
   batch stays JVM-side and vectorized*.
"""

from __future__ import annotations

import io

import pyarrow as pa
import pyarrow.json as pa_json
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from palimpzest_spark import schemas as S

_ARROW_TO_SPARK: list[tuple] = [
    (pa.types.is_boolean, T.BooleanType()),
    (pa.types.is_int8, T.ByteType()),
    (pa.types.is_int16, T.ShortType()),
    (pa.types.is_int32, T.IntegerType()),
    (pa.types.is_int64, T.LongType()),
    (pa.types.is_float32, T.FloatType()),
    (pa.types.is_float64, T.DoubleType()),
    (pa.types.is_string, T.StringType()),
    (pa.types.is_large_string, T.StringType()),
    (pa.types.is_binary, T.BinaryType()),
    (pa.types.is_timestamp, T.TimestampType()),
    (pa.types.is_date, T.DateType()),
]


def arrow_type_to_spark(t: pa.DataType) -> T.DataType:
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return T.ArrayType(arrow_type_to_spark(t.value_type))
    if pa.types.is_struct(t):
        return T.StructType(
            [T.StructField(f.name, arrow_type_to_spark(f.type), True) for f in t]
        )
    for pred, spark_t in _ARROW_TO_SPARK:
        if pred(t):
            return spark_t
    if pa.types.is_null(t):
        return T.NullType()  # all-null sample: identity under widen()
    return T.StringType()


def arrow_schema_to_struct(schema: pa.Schema) -> T.StructType:
    return T.StructType(
        [T.StructField(f.name, arrow_type_to_spark(f.type), True) for f in schema]
    )


def _infer_ndjson(payloads) -> T.StructType | None:
    vals = [p for p in payloads if p is not None]
    if not vals:
        return None
    buf = io.BytesIO(("\n".join(vals)).encode("utf-8"))
    # use_threads=False: a Spark task owns ONE core; letting Arrow's internal
    # pool fan out would oversubscribe the executor (and silently borrow
    # cores that don't belong to this task's scheduling slot).
    # newlines_in_values=True: payloads are joined with '\n' into an NDJSON
    # buffer, but a single payload may itself be pretty-printed (contain
    # newlines) — the JVM decode path (from_json) accepts those, so
    # inference must too, not crash with a straddling-object error.
    tbl = pa_json.read_json(
        buf,
        read_options=pa_json.ReadOptions(use_threads=False),
        parse_options=pa_json.ParseOptions(newlines_in_values=True),
    )
    return arrow_schema_to_struct(tbl.schema)


def infer_payload_schema(batch: DataFrame, payload_col: str = "payload") -> T.StructType | None:
    """Infer the batch's payload schema — **exactly**, over every row, without
    collecting data: each partition runs Arrow JSON inference in C++ via
    ``mapInPandas`` and emits one schema-JSON row; the driver widens the
    per-partition schemas with the type lattice. A column appearing in only
    one row of a 10^8-row batch is still picked up (a sampled inference would
    silently drop its values before MERGE).

    JSON structs nested inside payloads (e.g. ``tool_args``) arrive as
    strings in the feed, so inference stays flat; if a producer ever emits
    real nested JSON, pyarrow infers a struct and the lattice keeps it.
    """

    def per_partition(pdfs):
        import pandas as pd  # executor-side

        parts = []
        for pdf in pdfs:
            s = _infer_ndjson(pdf[payload_col].tolist())
            if s is not None:
                parts.append(s)
        merged = S.union_schemas(parts) if parts else None
        yield pd.DataFrame({"schema_json": [merged.json() if merged else None]})

    rows = (
        batch.select(payload_col)
        .mapInPandas(per_partition, schema="schema_json string")
        .collect()
    )
    parts = [T.StructType.fromJson(__import__("json").loads(r[0])) for r in rows if r[0]]
    if not parts:
        return None
    merged = S.union_schemas(parts)
    # all-null columns: concretize NullType to string before from_json
    return T.StructType(
        [
            T.StructField(
                f.name,
                T.StringType() if isinstance(f.dataType, T.NullType) else f.dataType,
                True,
            )
            for f in merged.fields
        ]
    )


def reconcile_public_schema(
    table_schema: T.StructType | None, batch_schema: T.StructType | None
) -> T.StructType:
    """Union + widen: table schema evolves monotonically (columns only ever
    added, types only ever widened) so old snapshots remain readable."""
    parts = [s for s in (table_schema, batch_schema) if s is not None]
    if not parts:
        raise ValueError("no schema available from table or batch")
    return S.union_schemas(parts)


def align_to(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project ``df`` onto ``target``: missing columns become typed nulls,
    present columns are cast (widening only, by construction)."""
    cols = []
    for f in target.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def complex_misfit_expr(raw, dt: T.DataType):
    """Boolean Column: the raw JSON text of a COMPLEX-typed field provably
    does NOT fit ``dt``. The complex-type arm of ``merge._anomaly_expr``,
    the live schema gate of both merge paths.

    Array/Map: ``from_json`` returns NULL for drifted/malformed input —
    ``parsed IS NULL`` is the signal. Struct: ``from_json`` with a
    StructType NEVER returns NULL for malformed input — it returns partial
    results (Row with the unparseable fields NULL, unknown keys dropped) —
    so the check is exact instead:

    - top-level drift (``5``, ``"zz"``, ``[1]``): the raw text is wrapped
      as a one-element JSON array and parsed with ``ArrayType(dt)``, which
      restores the NULL signal;
    - a key that is not a field of the struct (the decode would drop it);
    - an atomic field whose raw JSON value (``get_json_object``) is
      non-null but parses to NULL (inner widening or type drift);
    - a complex-typed field: recurse.

    ``{}`` and all-null objects fit: every field is absent, exactly what
    the decode stores."""
    if isinstance(dt, T.StructType):
        wrapped = F.from_json(F.concat(F.lit("["), raw, F.lit("]")), T.ArrayType(dt))
        el = wrapped.getItem(0)
        keys = F.json_object_keys(raw)
        if dt.fields:
            names = F.array(*[F.lit(f.name) for f in dt.fields])
            unknown = F.size(F.array_except(keys, names)) > 0
        else:
            unknown = F.size(keys) > 0
        bads = [wrapped.isNull(), el.isNull(), F.coalesce(unknown, F.lit(False))]
        for f in dt.fields:
            v = F.get_json_object(raw, f"$.{f.name}")
            if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType)):
                bads.append(complex_misfit_expr(v, f.dataType))
            else:
                bads.append(v.isNotNull() & el.getField(f.name).isNull())
        from functools import reduce

        return raw.isNotNull() & reduce(lambda a, b: a | b, bads)
    parsed = F.from_json(raw, dt)
    return raw.isNotNull() & parsed.isNull()
