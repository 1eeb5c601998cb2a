"""The driver-side delete index (``LakeTable._delete_plan``).

While a snapshot's decoded delete files total at most the session's
``spark.sql.autoBroadcastJoinThreshold``, merge-on-read reads, counts and
folds resolve deletes from one per-snapshot index read on the driver:
broadcast Arrow masks instead of Spark jobs over the delete files.
Setting the threshold to -1 forces the distributed path; both must
agree, and both folds rewrite only the files some delete may apply to."""

import os
from datetime import date, datetime
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dlt_iceberg_spark.lake.catalog import LakeCatalog
from dlt_iceberg_spark.lake.manifest import DeleteFile
from dlt_iceberg_spark.lake.table import local_frame
from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec
from tests.test_state import _spark_jobs

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _mor(keys):
    return TableSpec(
        name="t",
        write_disposition={"disposition": "merge", "strategy": "upsert"},
        primary_key=keys,
        merge_mode="mor",
    )


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _typed_composite(spark, warehouse):
    """Composite key over string, date, timestamp, timestamp_ntz and
    decimal columns, with NULL key parts on both sides: a NULL part never
    matches (null-unsafe), so the old NULL-keyed rows stay next to the
    upserted ones."""
    schema = T.StructType.fromDDL(
        "s string, d date, ts timestamp, tn timestamp_ntz, dec decimal(10,2), v long"
    )
    base = [
        (f"s{i % 3}", date(2024, 1, 1 + i % 5), datetime(2024, 1, 1, i % 24),
         datetime(2024, 2, 1, i % 24), Decimal(f"{i % 4}.25"), i)
        for i in range(40)
    ] + [(None, date(2024, 1, 1), datetime(2024, 1, 1), datetime(2024, 2, 1), Decimal("0.25"), 100),
         ("s0", None, None, datetime(2024, 2, 1), None, 101)]
    keys = ["s", "d", "ts", "tn", "dec"]
    writer = LakeWriter(LakeCatalog(spark, warehouse), "ds")
    writer.write(TableSpec(name="t", write_disposition="append"),
                 local_frame(spark, schema, base).repartition(3))
    upsert = [base[i][:5] + (-base[i][5],) for i in (0, 7, 13)] + [
        base[40][:5] + (-100,),  # NULL part: inserts, masks nothing
        base[41][:5] + (-101,),
        ("fresh", date(2025, 1, 1), datetime(2025, 1, 1), datetime(2025, 1, 1), Decimal("9.99"), 7),
    ]
    writer.write(_mor(keys), local_frame(spark, schema, upsert))
    table = LakeCatalog(spark, warehouse).load_table("ds", "t")
    table.position_delete_where([("v", "=", 7)])  # the fresh row, same-key era
    return table, [("v", ">=", 10)]


def _long_key(spark, warehouse):
    """One long key with NULLs on both sides, a MoR upsert whose new rows
    land in the same commit as their delete (never masked), then
    update_where (position deletes + new images in one commit) and a
    position delete."""
    writer = LakeWriter(LakeCatalog(spark, warehouse), "ds")
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.range(60).select(
            F.when(F.col("id") % 10 != 9, F.col("id")).alias("id"),
            (F.col("id") * 10).alias("v"),
        ).repartitionByRange(4, "v"),
    )
    writer.write(
        _mor(["id"]),
        spark.createDataFrame([(3, -3), (30, -30), (None, -1), (500, -500)], "id long, v long"),
    )
    table = LakeCatalog(spark, warehouse).load_table("ds", "t")
    table.update_where([("id", ">=", 40), ("id", "<", 44)], {"v": F.lit(0)})
    table.position_delete_where([("v", ">", 560)])
    return table, [("id", "<", 42)]


def _renamed_key(spark, warehouse):
    """Equality deletes written before a key rename read through their
    ``names`` era mapping."""
    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "ds")
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.range(30).select("id", F.col("id").cast("string").alias("v")).repartition(2),
    )
    writer.write(_mor(["id"]), spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    catalog.load_table("ds", "t").rename_column("id", "key")
    writer.write(_mor(["key"]), spark.createDataFrame([(2, "c"), (5, "d")], "key long, v string"))
    return catalog.load_table("ds", "t"), [("key", "<=", 5)]


def _foreign_paths(spark, warehouse):
    """Hand-written position deletes addressing data files as ``file:/p``
    and ``file:///p`` (foreign writers' forms) next to a native one."""
    catalog = LakeCatalog(spark, warehouse)
    LakeWriter(catalog, "ds").write(
        TableSpec(name="t", write_disposition="append"),
        # sorted: a position must name the same row in every build
        spark.range(40).repartitionByRange(2, "id").sortWithinPartitions("id"),
    )
    table = catalog.load_table("ds", "t")
    table.position_delete_where([("id", "=", 35)])
    snap = table.snapshot()
    a, b = [f.path for f in sorted(snap.files, key=lambda f: f.stats["id"][0])]
    dels = []
    for i, (path, positions) in enumerate(
        [("file:" + os.path.join(table.location, a), [0, 2]),
         ("file://" + os.path.join(table.location, b), [1, 1])]
    ):
        rel = f"data/foreign-pos-{i}.parquet"
        pq.write_table(
            pa.table({"file_path": [path] * len(positions), "pos": pa.array(positions, pa.int64())}),
            os.path.join(table.location, rel),
        )
        dels.append(DeleteFile(path=rel, rows=len(positions),
                               bytes=os.path.getsize(os.path.join(table.location, rel)),
                               equality_ids=[], content="position"))
    table.commit(None, snap.schema, "delete", snap.version, new_deletes=dels)
    return catalog.load_table("ds", "t"), [("id", ">=", 1)]


_CASES = {
    "typed_composite_nulls": _typed_composite,
    "long_key_nulls_same_commit": _long_key,
    "renamed_key_era": _renamed_key,
    "foreign_file_uri_positions": _foreign_paths,
}


def _observe(spark, root, build):
    """Everything a reader can see of the built table, then of its fold."""
    table, where = build(spark, root)
    first = table.snapshots()[0].version
    out = {
        "indexed": table._delete_plan(table.snapshot()).index is not None,
        "read": _rows(table.read()),
        "count": table.count(),
        "count_where": table.count(where=where),
        "changes": _rows(table.read_changes(first)),
    }
    table.fold_deletes()
    folded = LakeCatalog(spark, root).load_table("ds", "t")
    assert folded.snapshot().delete_files == []
    out["folded"] = _rows(folded.read())
    return out


@pytest.mark.parametrize("case", sorted(_CASES))
def test_index_and_distributed_delete_paths_agree(spark, tmp_path, case):
    # a space in the location: Spark URL-encodes the addresses it records,
    # the foreign writer's addresses are plain
    indexed = _observe(spark, str(tmp_path / "idx" / "w h"), _CASES[case])
    spark.conf.set(_THRESHOLD, "-1")
    try:
        distributed = _observe(spark, str(tmp_path / "dist" / "w h"), _CASES[case])
    finally:
        spark.conf.unset(_THRESHOLD)
    assert indexed.pop("indexed") and not distributed.pop("indexed")
    assert indexed == distributed
    assert indexed["folded"] == indexed["read"]
    assert indexed["count"] == len(indexed["read"])


def test_relative_location_applies_position_deletes(spark, tmp_path):
    # Spark resolves a relative location against the working directory;
    # addresses it records are absolute
    absolute = _observe(spark, str(tmp_path / "abs"), _long_key)
    rel = os.path.relpath(tmp_path / "rel", os.getcwd())
    assert _observe(spark, rel, _long_key) == absolute
    spark.conf.set(_THRESHOLD, "-1")
    try:
        assert _observe(spark, rel + "-dist", _long_key) == {**absolute, "indexed": False}
    finally:
        spark.conf.unset(_THRESHOLD)
    assert absolute["count"] == len(absolute["read"]) == len(absolute["folded"])


def _sorted_table(spark, warehouse, n_files=8, rows=800):
    """``n_files`` files with disjoint, key-sorted id ranges."""
    catalog = LakeCatalog(spark, warehouse)
    LakeWriter(catalog, "ds").write(
        TableSpec(name="t", write_disposition="append"),
        spark.range(rows).select("id", (F.col("id") * 2).alias("v")).repartitionByRange(n_files, "id"),
    )
    return catalog


def test_position_only_count_runs_no_spark_job_and_mor_reads_are_pinned(spark, warehouse):
    catalog = _sorted_table(spark, warehouse)
    table = catalog.load_table("ds", "t")
    table.position_delete_where([("id", ">=", 100), ("id", "<", 103)])
    table = catalog.load_table("ds", "t")
    got = []
    assert _spark_jobs(spark, lambda: got.append(table.count())) == 0
    assert got == [797]
    LakeWriter(catalog, "ds").write(
        _mor(["id"]), spark.createDataFrame([(5, -5), (900, 0)], "id long, v long")
    )
    table = catalog.load_table("ds", "t")
    # pinned: no job reads a delete file or deduplicates its keys
    assert _spark_jobs(spark, lambda: table.read(where=[("id", "=", 5)]).collect()) == 2
    assert _spark_jobs(spark, lambda: got.append(table.read().count())) == 3
    assert got[-1] == 798


def test_index_is_bounded_by_its_decoded_size(spark, warehouse):
    catalog = _sorted_table(spark, warehouse)
    catalog.load_table("ds", "t").position_delete_where([("id", "<", 400)])
    table = catalog.load_table("ds", "t")
    stored = sum(d.bytes for d in table.snapshot().delete_files)
    # 400 dense addresses compress to a few bytes each but decode to one
    # path string each: past twice the stored bytes
    spark.conf.set(_THRESHOLD, str(2 * stored))
    try:
        assert table._delete_plan(table.snapshot()).index is None
        assert table.count() == 400 == table.read().count()
    finally:
        spark.conf.unset(_THRESHOLD)


def test_fold_rewrites_only_the_files_deletes_touch(spark, tmp_path):
    def build(root):
        catalog = _sorted_table(spark, root)
        LakeWriter(catalog, "ds").write(
            _mor(["id"]), spark.createDataFrame([(10, -10), (12, -12)], "id long, v long")
        )
        catalog.load_table("ds", "t").position_delete_where([("id", "=", 500)])
        return catalog.load_table("ds", "t")

    table = build(str(tmp_path / "touched"))
    before = table.snapshot()
    folded = table.fold_deletes()
    entries = {(f.path, f.sequence) for f in before.files}
    kept = entries & {(f.path, f.sequence) for f in folded.files}
    # the upsert masks ids 10 and 12 of one sorted file, the position
    # delete id 500 of another; the six other sorted files and the
    # upsert's own file carry over unchanged
    assert len(entries) == 9 and len(kept) == 7
    assert folded.summary["rewritten-data-files"] == 2
    assert folded.operation == "replace" and folded.delete_files == []
    assert folded.partition_spec == before.partition_spec
    spark.conf.set(_THRESHOLD, "-1")
    try:
        reference = build(str(tmp_path / "full"))
        ref_before = reference.snapshot()
        full = reference.fold_deletes()
    finally:
        spark.conf.unset(_THRESHOLD)
    # without the index a position delete may address any file no newer
    # than itself: here every file, so the fold keeps none
    assert not {f.path for f in ref_before.files} & {f.path for f in full.files}
    got = _rows(table.read())
    assert got == _rows(reference.read()) and len(got) == 799
