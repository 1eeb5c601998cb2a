"""Safe casting of a DataFrame to a target schema.

Re-implements the reference's cast_table_safe pipeline
(schema_casting.py:414-490) over Spark StructTypes:

1. validate every (source field, target field) pair against the
   compatibility matrix — errors abort, warnings log (strict mode upgrades
   downcast-style warnings to errors);
2. null-fill target columns missing from the source when nullable
   (schema_casting.py:469-477) — missing *required* columns always abort,
   even in non-strict mode (:440-449);
3. reorder to target order and cast (:480-486).

Rule matrix (schema_casting.py:120-411, compressed to Spark's type system —
Spark has no unsigned ints, no sub-µs timestamps, no time32):

- widening int (int→long), int→float/double, float→double      OK
- narrowing int (long→int)                                     STRICT_ERROR
- float→int                                                    ERROR
- double→float                                                 STRICT_ERROR
- decimal precision/scale shrink                               ERROR
- decimal widen (p↑ s↑)                                        OK
- naive ts (NTZ) → aware ts                                    WARN (assume UTC)
- aware ts → naive ts (NTZ)                                    STRICT_ERROR (info loss)
- binary→string                                                WARN (UTF-8 assumption)
- string→binary                                                OK
- string→anything else / anything else→string                  ERROR
- bool↔bool, date↔date, identical complex types                OK
- everything else                                              ERROR
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dlt_iceberg_spark.errors import CastingError

logger = logging.getLogger("dlt_iceberg_spark")


class Verdict(Enum):
    OK = "ok"
    WARN = "warn"
    STRICT_ERROR = "strict_error"  # error in strict mode, warn otherwise
    ERROR = "error"


@dataclass
class CastIssue:
    column: str
    verdict: Verdict
    reason: str


_INT_RANK = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 3, T.LongType: 4}


def _is_int(t: T.DataType) -> bool:
    return type(t) in _INT_RANK


def check_pair(src: T.DataType, dst: T.DataType) -> tuple[Verdict, str]:
    """Verdict for casting a source column type to a target column type."""
    if src == dst:
        return Verdict.OK, "identical"
    # integers
    if _is_int(src) and _is_int(dst):
        if _INT_RANK[type(src)] <= _INT_RANK[type(dst)]:
            return Verdict.OK, "int widening"
        return Verdict.STRICT_ERROR, f"int narrowing {src.simpleString()}→{dst.simpleString()}"
    if _is_int(src) and isinstance(dst, (T.FloatType, T.DoubleType)):
        return Verdict.OK, "int→float"
    if _is_int(src) and isinstance(dst, T.DecimalType):
        return Verdict.OK, "int→decimal"
    if isinstance(src, (T.FloatType, T.DoubleType)) and _is_int(dst):
        return Verdict.ERROR, "float→int loses fractional part"
    if isinstance(src, T.FloatType) and isinstance(dst, T.DoubleType):
        return Verdict.OK, "float widening"
    if isinstance(src, T.DoubleType) and isinstance(dst, T.FloatType):
        return Verdict.STRICT_ERROR, "double→float narrowing"
    # decimals
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        if dst.precision >= src.precision and dst.scale >= src.scale:
            return Verdict.OK, "decimal widening"
        return Verdict.ERROR, (
            f"decimal shrink ({src.precision},{src.scale})→({dst.precision},{dst.scale})"
        )
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DoubleType):
        return Verdict.STRICT_ERROR, "decimal→double precision loss"
    # timestamps (schema_casting.py:120-172)
    if isinstance(src, T.TimestampNTZType) and isinstance(dst, T.TimestampType):
        return Verdict.WARN, "naive→aware timestamp: assuming UTC"
    if isinstance(src, T.TimestampType) and isinstance(dst, T.TimestampNTZType):
        return Verdict.STRICT_ERROR, "aware→naive timestamp loses zone info"
    if isinstance(src, T.DateType) and isinstance(dst, (T.TimestampType, T.TimestampNTZType)):
        return Verdict.OK, "date→timestamp midnight"
    # string/binary (schema_casting.py:255-285)
    if isinstance(src, T.BinaryType) and isinstance(dst, T.StringType):
        return Verdict.WARN, "binary→string assumes UTF-8"
    if isinstance(src, T.StringType) and isinstance(dst, T.BinaryType):
        return Verdict.OK, "string→binary"
    if isinstance(src, T.StringType) or isinstance(dst, T.StringType):
        return Verdict.ERROR, f"{src.simpleString()}→{dst.simpleString()} not allowed"
    # complex types: require identical element compatibility
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        v, r = check_pair(src.elementType, dst.elementType)
        return v, f"array element: {r}"
    if isinstance(src, T.MapType) and isinstance(dst, T.MapType):
        vk, rk = check_pair(src.keyType, dst.keyType)
        vv, rv = check_pair(src.valueType, dst.valueType)
        worst = max(vk, vv, key=lambda v: list(Verdict).index(v))
        return worst, f"map key: {rk}; value: {rv}"
    if isinstance(src, T.StructType) and isinstance(dst, T.StructType):
        if [f.name for f in src.fields] != [f.name for f in dst.fields]:
            return Verdict.ERROR, "struct field names differ"
        worst, reasons = Verdict.OK, []
        for sf, df_ in zip(src.fields, dst.fields):
            v, r = check_pair(sf.dataType, df_.dataType)
            reasons.append(f"{sf.name}: {r}")
            if list(Verdict).index(v) > list(Verdict).index(worst):
                worst = v
        return worst, "; ".join(reasons)
    return Verdict.ERROR, f"incompatible {src.simpleString()}→{dst.simpleString()}"


def validate_cast(
    source: T.StructType, target: T.StructType, strict: bool = False
) -> list[CastIssue]:
    """Pre-flight check; raises CastingError on any fatal issue.

    Fatal = ERROR always; STRICT_ERROR when ``strict``; missing required
    target column always (schema_casting.py:440-449); source column absent
    from target always (:313-358).
    """
    issues: list[CastIssue] = []
    src_by_name = {f.name: f for f in source.fields}
    dst_by_name = {f.name: f for f in target.fields}

    fatal: list[str] = []
    for name, sf in src_by_name.items():
        if name not in dst_by_name:
            fatal.append(f"source column {name!r} not in target schema")
            continue
        v, reason = check_pair(sf.dataType, dst_by_name[name].dataType)
        issues.append(CastIssue(name, v, reason))
        if v is Verdict.ERROR or (strict and v is Verdict.STRICT_ERROR):
            fatal.append(f"column {name!r}: {reason}")
        elif v in (Verdict.WARN, Verdict.STRICT_ERROR):
            logger.warning("cast warning on %r: %s", name, reason)
    for name, df_ in dst_by_name.items():
        if name not in src_by_name:
            if df_.nullable:
                fill = (
                    "default-filled"
                    if (df_.metadata or {}).get("write-default") is not None
                    else "null-filled"
                )
                issues.append(CastIssue(name, Verdict.WARN, f"missing in source; {fill}"))
                logger.warning("target column %r missing in source; %s", name, fill)
            else:
                fatal.append(f"required target column {name!r} missing from source")
    if fatal:
        raise CastingError("; ".join(fatal))
    return issues


def cast_dataframe_safe(
    df: DataFrame, target: T.StructType, strict: bool = False
) -> DataFrame:
    """Validate, null-fill, reorder, cast — one ``select`` (no shuffle),
    mirroring cast_table_safe (schema_casting.py:414-490).

    A batch already in the target's names, order and types is returned as
    ``df`` itself.  Otherwise only the columns whose type differs are
    wrapped in a cast; matching columns pass by name.  Each PySpark Column
    call is several py4j round-trips, and a load's batch usually matches
    its table already."""
    source = df.schema
    validate_cast(source, target, strict=strict)
    if [(f.name, f.dataType) for f in source.fields] == [
        (f.name, f.dataType) for f in target.fields
    ]:
        return df
    src_types = {f.name: f.dataType for f in source.fields}
    cols = []
    for f in target.fields:
        if f.name not in src_types:
            # Iceberg v3 write-default: a batch omitting a defaulted column
            # lands the constant, not NULL (add_column(default=...) sets
            # both keys; a bare initial-default still null-fills here)
            dflt = (f.metadata or {}).get("write-default")
            cols.append(F.lit(dflt).cast(f.dataType).alias(f.name))
        elif src_types[f.name] == f.dataType:
            cols.append(f.name)
        else:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
    return df.select(*cols)
