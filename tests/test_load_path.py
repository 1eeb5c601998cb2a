"""Driver round-trips around one load: COUNT / MIN-MAX pushdown with NULL
counts, the job-free ledger probe, identity casts, and a partition
replace that learns its partitions from the files it stages."""

from __future__ import annotations

import datetime
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from dlt_iceberg_spark.lake.catalog import LakeCatalog
from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec
from tests.test_state import _spark_jobs

CAT_HINTS = {"cat": {"partition": True, "x-partition-transform": "identity"}}
REPLACE = {"disposition": "replace", "scope": "partitions"}
CAT_SCHEMA = T.StructType(
    [T.StructField("cat", T.StringType()), T.StructField("v", T.LongType())]
)


def _rows(table) -> set:
    return {(r.cat, r.v) for r in table.read().collect()}


# ---- COUNT / MIN-MAX pushdown and NULLs -----------------------------------


def test_count_and_minmax_pushdown_do_not_count_null_rows(spark, warehouse):
    """Parquet min/max skip NULLs, so a one-file table ``y ∈ {5, NULL, 5}``
    has stats [5, 5]; only its recorded NULL count keeps the file from
    'fully matching' predicates the NULL row fails."""
    catalog = LakeCatalog(spark, warehouse)
    LakeWriter(catalog, "ds").write(
        TableSpec("n", "append"),
        spark.createDataFrame(
            [(10, 5), (1, None), (20, 5)], "x long, y long"
        ).coalesce(1),
    )
    t = catalog.load_table("ds", "n")
    assert t.count(where=[("y", "=", 5)]) == 2
    assert t.count(where=[("y", ">=", 5)]) == 2
    assert t.count(where=[("y", "!=", 4)]) == 2
    assert t.agg_minmax("x", where=[("y", "=", 5)]) == (10, 20)
    (f,) = t.snapshot().files
    assert f.stats["y"] == [5, 5] and f.null_counts == {"x": 0, "y": 1}
    # the NULL-free column still answers from metadata
    assert t.count(where=[("x", ">=", 1)]) == 3


def test_spark_stats_job_counts_nulls_like_the_footer(spark, tmp_path):
    """Non-local FileIO records NULL counts from its stats job; they equal
    the footer's counts the local per-file pass reads."""
    from dlt_iceberg_spark.lake.table import (
        _file_metadata_via_spark,
        _scan_staged_file,
        _staged_rel,
    )

    df = spark.createDataFrame(
        [(1, None, "a"), (None, None, "b"), (3, 2.0, None)],
        "a long, b double, s string",
    ).coalesce(1)
    staging = str(tmp_path / "_staging_x")
    df.write.parquet(staging)
    ((uri, (rows, _, nulls, _)),) = _file_metadata_via_spark(
        spark.read.parquet(staging), df.schema
    ).items()
    rel = _staged_rel(staging, uri)
    _, _, _, footer, _ = _scan_staged_file(os.path.join(staging, rel), df.schema)
    assert rows == 3 and nulls == footer == {"a": 1, "b": 2, "s": 1}


# ---- '' and NULL partitions under dynamic overwrite ------------------------


def _cat_table(spark, warehouse):
    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "ds")
    writer.write(
        TableSpec("p", "append", column_hints=CAT_HINTS),
        spark.createDataFrame([("", 1), ("A", 2), (None, 3)], CAT_SCHEMA),
    )
    return catalog, writer


def _replace(spark, writer, rows):
    writer.write(
        TableSpec("p", REPLACE, column_hints=CAT_HINTS),
        spark.createDataFrame(rows, CAT_SCHEMA),
    )


def test_replace_empty_string_partition_keeps_null_partition(spark, warehouse):
    catalog, writer = _cat_table(spark, warehouse)
    t = catalog.load_table("ds", "p")
    parts = [f.partition["cat"] for f in t.snapshot().files]
    assert sorted(parts, key=str) == ["", "A", None]
    assert t.count(where=[("cat", "=", "")]) == 1
    _replace(spark, writer, [("", 10)])
    assert _rows(t) == {("", 10), ("A", 2), (None, 3)}
    assert t.count(where=[("cat", "=", "")]) == 1


def test_replace_null_partition_keeps_empty_string_rows(spark, warehouse):
    catalog, writer = _cat_table(spark, warehouse)
    _replace(spark, writer, [(None, 30)])
    assert _rows(catalog.load_table("ds", "p")) == {("", 1), ("A", 2), (None, 30)}


@pytest.mark.parametrize(
    "batch, expect",
    [
        ([("", 10)], {("", 10), (None, 5), ("A", 2), (None, 3)}),
        ([(None, 30)], {("", 4), ("A", 2), ("", 1), (None, 30)}),
    ],
)
def test_replace_rewrites_legacy_file_holding_both(spark, warehouse, batch, expect):
    """A file staged before '' was kept apart from NULL records None for
    rows of both; a replace of either value rewrites it so only the
    replaced value's rows go."""
    catalog, writer = _cat_table(spark, warehouse)
    t = catalog.load_table("ds", "p")
    (legacy,) = t.stage_dataframe(
        spark.createDataFrame([("", 4), (None, 5)], CAT_SCHEMA).coalesce(1)
    )
    legacy.partition = {"cat": None}
    snap = t.snapshot()
    t.commit(
        None, snap.schema, "append", snap.version,
        manifests=snap.manifests, new_files=snap.inline_files + [legacy],
    )
    _replace(spark, writer, batch)
    assert _rows(t) == expect


def test_refused_replace_leaves_no_staged_file(spark, warehouse, monkeypatch):
    from pyspark.sql import functions as F

    from dlt_iceberg_spark.lake import writer as writer_mod

    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "main")
    writer.write(
        TableSpec("hc", "append", column_hints=CAT_HINTS),
        spark.createDataFrame([Row(cat="A", v=1)]),
    )
    t = catalog.load_table("main", "hc")
    data = os.path.join(t.location, "data")
    before = set(os.listdir(data))
    monkeypatch.setattr(writer_mod, "REPLACE_PARTITION_MAX", 5)
    with pytest.raises(ValueError, match="high-cardinality"):
        writer.write(
            TableSpec("hc", REPLACE, column_hints=CAT_HINTS),
            spark.range(20).select(
                F.concat(F.lit("c"), F.col("id")).alias("cat"), F.col("id").alias("v")
            ),
        )
    assert set(os.listdir(data)) == before
    assert not [n for n in os.listdir(t.location) if n.startswith("_staging_")]
    assert _rows(t) == {("A", 1)}


# ---- Spark jobs per disposition --------------------------------------------

_S = pa.schema([("id", pa.int64()), ("cat", pa.string()), ("v", pa.int64())])


def _save(root, rows, schema=_S) -> str:
    path = os.path.join(root, f"{uuid.uuid4().hex}.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return path


def test_job_budget_per_disposition(spark, tmp_path):
    """Parquet-file-backed batches, as dlt resources deliver them.  Each
    count includes the one schema-inference job of ``spark.read.parquet``.
    A partition replace stages and commits (the write and its shuffle);
    the others stay within their measured budgets."""
    root = str(tmp_path)
    base = _save(root, [{"id": i, "cat": f"c{i % 4}", "v": i} for i in range(200)])
    writer = LakeWriter(LakeCatalog(spark, os.path.join(root, "wh")), "ds")
    specs = {
        "append": (TableSpec("t_app", "append"), 2),
        "upsert": (TableSpec("t_ups", "merge", primary_key=["id"]), 7),
        "delete_insert": (
            TableSpec(
                "t_di",
                {"disposition": "merge", "strategy": "delete-insert"},
                primary_key=["id"],
            ),
            8,
        ),
        "replace": (TableSpec("t_rep", REPLACE, column_hints=CAT_HINTS), 3),
        "mor_upsert": (
            TableSpec("t_mor", "merge", primary_key=["id"], merge_mode="mor"), 5
        ),
    }
    for spec, _ in specs.values():
        writer.write(
            TableSpec(spec.name, "append", column_hints=spec.column_hints),
            spark.read.parquet(base),
        )
    deleted = datetime.datetime(2024, 1, 1)
    batches = {
        "append": _save(root, [{"id": 5000 + i, "cat": "c9", "v": i} for i in range(10)]),
        "upsert": _save(root, [{"id": i, "cat": "c1", "v": -i} for i in range(10, 20)]),
        "delete_insert": _save(
            root,
            [{"id": i, "cat": "c1", "v": -i, "_dlt_deleted_at": None} for i in range(10, 20)]
            + [{"id": i, "cat": "c1", "v": 0, "_dlt_deleted_at": deleted}
               for i in range(20, 25)],
            _S.append(pa.field("_dlt_deleted_at", pa.timestamp("us"))),
        ),
        "replace": _save(root, [{"id": 1000 + i, "cat": "c1", "v": i} for i in range(10)]),
        "mor_upsert": _save(root, [{"id": i, "cat": "c1", "v": -i} for i in range(10, 20)]),
    }
    jobs = {
        kind: _spark_jobs(
            spark, lambda: writer.write(spec, spark.read.parquet(batches[kind]))
        )
        for kind, (spec, _) in specs.items()
    }
    assert all(jobs[kind] <= budget for kind, (_, budget) in specs.items()), jobs
    rep = writer.catalog.load_table("ds", "t_rep").read()
    assert rep.filter("cat = 'c1'").count() == 10 and rep.count() == 160


# ---- ledger probes and casts -----------------------------------------------


def test_steady_state_run_builds_no_ledger_dataframe(spark, warehouse, monkeypatch):
    """Steady-state loads answer every ledger probe from manifest stats:
    ``StateStore`` reads no ledger table."""
    import inspect

    from dlt_iceberg_spark.lake.pipeline import Pipeline, Resource
    from dlt_iceberg_spark.lake.table import LakeTable

    p = Pipeline(spark, warehouse, dataset_name="ds")
    batch = spark.createDataFrame([(1, "a")], "id long, v string")
    for i in range(2):
        p.run(Resource(batch, "t"), load_id=f"warm-{i}")
    callers = []
    orig = LakeTable.read

    def read(self, *a, **k):
        callers.append(inspect.stack()[1].filename)
        return orig(self, *a, **k)

    monkeypatch.setattr(LakeTable, "read", read)
    for i in range(2):
        assert not p.run(Resource(batch, "t"), load_id=f"steady-{i}").already_loaded
    assert p.run(Resource(batch, "t"), load_id="steady-0").already_loaded
    assert not [c for c in callers if c.endswith(os.path.join("lake", "state.py"))]


def test_cast_returns_matching_frame_and_casts_only_changed_columns(spark):
    from dlt_iceberg_spark.schema.casting import cast_dataframe_safe

    df = spark.createDataFrame([(1, "a", 2.0)], "a int, b string, c double")
    assert cast_dataframe_safe(df, df.schema) is df
    target = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    out = cast_dataframe_safe(df, target)
    assert out.schema == target
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.lower().count("cast(") == 1, plan


@pytest.mark.parametrize("fileio", ["local", "hadoop"])
def test_nan_float_column_records_no_range(spark, tmp_path, fileio):
    """A float column holding NaN records no [min, max]: Spark's parquet
    writer and its max() put NaN in the max, every comparison against NaN
    is false, and such a range pruned the file away from matching probes."""
    from dlt_iceberg_spark.lake.fileio import HadoopFileIO
    from dlt_iceberg_spark.lake.table import LakeTable

    io = HadoopFileIO(spark, str(tmp_path)) if fileio == "hadoop" else None
    t = LakeTable(spark, str(tmp_path / "t"), io=io)
    df = spark.createDataFrame(
        [(1.0, 1), (float("nan"), 2), (1.0, 3)], "x double, y long"
    ).coalesce(1)
    t.commit(t.stage_dataframe(df), df.schema, "append", None)
    (f,) = t.snapshot().files
    assert "x" not in f.stats and f.stats["y"] == [1, 3]
    assert t.read(where=[("x", "=", 1.0)]).count() == 2
    assert t.count(where=[("x", "=", 1.0)]) == 2
    # Spark orders NaN above every number
    assert t.count(where=[("x", ">", 2.0)]) == 1
