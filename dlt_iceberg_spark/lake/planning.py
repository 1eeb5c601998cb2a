"""Distributed scan planning — manifest pruning as a Spark job.

Driver-side planning (`LakeTable._plan_files` in ``"driver"`` mode) is
O(entries-of-opened-manifests) in driver memory.  Fine for thousands of
files; at 100 TB (~800k × 128 MB files) a poorly-selective probe would
materialize hundreds of thousands of ``DataFile`` entries on the driver
before the real scan even starts.

Manifests here are *parquet* (lake/manifest.py), which makes the fix
idiomatic Spark: read the manifest chunks as a DataFrame, evaluate the
stats predicate executor-side, and collect ONLY the surviving entries —
the driver materializes the file list it was always going to need for
``spark.read.parquet(*paths)``, and nothing else.  Snapshot-level
aggregate ranges still skip whole manifests before the job is launched,
so the job reads just the undecided chunks.

Reference parity: this is Iceberg's distributed planning mode
(``SparkDistributedDataScan``); the reference itself delegates planning to
PyIceberg/DuckDB (src/dlt_iceberg/sql_client.py), which plan driver-side.

Correctness contract: the executor-side filter is a *conservative
superset* of the exact driver predicate —

- numeric stats are compared as doubles; IEEE754 rounding is monotone
  (x ≤ y ⇒ double(x) ≤ double(y)), so a file can survive spuriously but
  never be dropped spuriously;
- strings/dates compare as UTF-8 strings (dates are ISO-encoded in
  manifest stats, so lexicographic == chronological);
- missing stats / unparseable values / unsupported types keep the file.

The exact per-entry predicate (`table.entry_may_match`, the one the
driver planner applies) is re-applied to the collected survivors, so the
result is bit-identical to driver planning.
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dlt_iceberg_spark.lake.manifest import DataFile, ManifestRef

#: Spark-side schema of a manifest chunk (mirrors manifest._ENTRY_SCHEMA).
ENTRY_DDL = (
    "path string, rows bigint, bytes bigint, sequence bigint, "
    "stats string, partition string, names string, sketches string"
)

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_STRINGY = (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType)


def entries_df(
    spark: SparkSession, table_location: str, refs: list[ManifestRef]
) -> DataFrame:
    """All entries of the given manifest chunks as a Spark DataFrame."""
    paths = [os.path.join(table_location, r.path) for r in refs]
    return spark.read.schema(ENTRY_DDL).parquet(*paths)


def _probe_literal(dtype: T.DataType, value: Any):
    """(kind, literal) for the executor-side compare, or None when the
    column type has no conservative vectorized compare (caller keeps all
    files and lets the exact driver re-check decide)."""
    if isinstance(dtype, _NUMERIC):
        try:
            return "num", float(value)
        except (TypeError, ValueError):
            return None
    if isinstance(dtype, _STRINGY):
        if isinstance(value, (date, datetime)):
            return "str", value.isoformat()
        if isinstance(value, str):
            return "str", value
        return None
    return None


def _stat_bound(col: str, idx: int, kind: str):
    """min (idx 0) / max (idx 1) of ``col`` from the stats JSON, typed for
    the compare.  NULL ⇒ missing stats ⇒ the row must be kept.

    ``get_json_object`` renders a JSON null as the literal string "null";
    nullif folds it back to NULL, and try_cast turns any unparseable bound
    into NULL too — both read as "stats prove nothing", the conservative
    direction."""
    raw = F.nullif(
        F.get_json_object(F.col("stats"), f"$['{col}'][{idx}]"), F.lit("null")
    )
    return raw.try_cast("double") if kind == "num" else raw


def survives_predicate(col_dtype: T.DataType, col: str, op: str, value: Any):
    """Boolean Column: could a file's [min,max] satisfy the predicate?
    Mirrors table._file_may_match, conservatively (NULL-safe: missing or
    uncastable stats keep the file)."""
    if op == "in":
        # envelope filter [min(values), max(values)] — a conservative
        # superset of the per-value membership test (gaps between probed
        # values only keep extra files); the exact driver re-check trims
        # to parity
        lits = [_probe_literal(col_dtype, x) for x in (value or [])]
        if not lits or any(lit is None for lit in lits) or len({k for k, _ in lits}) > 1:
            return F.lit(True)
        vals = [v for _, v in lits]
        kind = lits[0][0]
        mn = _stat_bound(col, 0, kind)
        mx = _stat_bound(col, 1, kind)
        dead = (mn > F.lit(max(vals))) | (mx < F.lit(min(vals)))
        return mn.isNull() | mx.isNull() | ~dead
    lit = _probe_literal(col_dtype, value)
    if lit is None:
        return F.lit(True)
    kind, v = lit
    mn = _stat_bound(col, 0, kind)
    mx = _stat_bound(col, 1, kind)
    val = F.lit(v)
    if op in ("=", "=="):
        dead = (mn > val) | (mx < val)
    elif op == "!=":
        dead = (mn == val) & (mx == val)
    elif op == ">":
        dead = mx <= val
    elif op == ">=":
        dead = mx < val
    elif op == "<":
        dead = mn >= val
    elif op == "<=":
        dead = mn > val
    else:  # unknown op: never prune on it here
        return F.lit(True)
    # either bound NULL (missing / uncastable stats) -> keep, mirroring the
    # exact predicate's "partial stats prove nothing" rule
    return mn.isNull() | mx.isNull() | ~dead


def _survives_partition(name: str, values: list[str]):
    """Boolean Column mirroring table._file_partition_may_match: key absent
    from the partition JSON (older spec) keeps the entry, and so does a
    recorded JSON null (hive folds null AND empty-string transform values
    into the default partition — it must match conservatively); only a
    present, non-null, out-of-set value drops the entry.
    ``get_json_object`` returns NULL for a missing key and the string
    "null" for a JSON null."""
    raw = F.get_json_object(F.col("partition"), f"$['{name}']")
    val = F.nullif(raw, F.lit("null"))
    return raw.isNull() | val.isNull() | val.isin(values)


def plan_candidates(
    spark: SparkSession,
    table_location: str,
    schema: T.StructType,
    refs: list[ManifestRef],
    where: list[tuple[str, str, Any]],
    part_probes: dict[str, set] | None = None,
) -> list[DataFile]:
    """Entries of ``refs`` that may satisfy the conjunction ``where`` (and
    the transform-rewritten partition probes), selected by ONE Spark job
    over the manifest parquet.  Returns exact driver-plan parity:
    survivors are re-checked with the exact predicates.  Pushing
    ``part_probes`` executor-side matters precisely where they bind — a
    point lookup on a bucket-partitioned million-file table collects
    ~files/N entries instead of every entry."""
    if not refs:
        return []
    by_name = {f.name: f.dataType for f in schema.fields}
    df = entries_df(spark, table_location, refs)
    for col, op, v in where:
        df = df.filter(survives_predicate(by_name[col], col, op, v))
    for name, vals in (part_probes or {}).items():
        df = df.filter(_survives_partition(name, sorted(vals)))
    rows = df.collect()
    out = [
        DataFile(
            path=r.path,
            rows=r.rows,
            bytes=r.bytes,
            sequence=r.sequence,
            stats=json.loads(r.stats),
            partition=json.loads(r.partition),
            # pre-rename-era manifests lack the column → null → identity
            names=json.loads(r.names) if r.names else {},
            # carried so the exact recheck below applies manifest blooms
            # (executor-side filtering stays stats-only — conservative)
            sketches=json.loads(r.sketches) if r.sketches else {},
        )
        for r in rows
    ]
    from dlt_iceberg_spark.lake.table import entry_may_match

    return [f for f in out if entry_may_match(f, where, part_probes or {})]
