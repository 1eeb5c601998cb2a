"""Metadata-only schema DDL: rename_column / drop_column / add_column.

Iceberg `ALTER TABLE` parity (the reference delegates these to PyIceberg's
UpdateSchema — src/dlt_iceberg/schema_evolution.py): a rename never touches
data files; old files keep their written column names and the manifest
entries' ``names`` mapping bridges written → current at scan time.  A
drop/re-add cycle must NOT resurrect the dropped values (Iceberg assigns the
re-add a fresh field id; here old files get a ``names[col]=None`` guard).
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dlt_iceberg_spark.lake.catalog import LakeCatalog
from dlt_iceberg_spark.lake.table import LakeTable
from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec


def _mk(spark, warehouse, rows, ddl, name="t", partition_hints=None):
    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "ds")
    df = spark.createDataFrame(rows, ddl)
    hints = {
        c: {"x-partition": True, "x-partition-transform": tr}
        for c, tr in (partition_hints or {}).items()
    }
    spec = TableSpec(name=name, write_disposition="append", column_hints=hints)
    writer.write(spec, df, load_id="l0")
    return catalog, writer, catalog.load_table("ds", name)


def test_rename_reads_old_and_new_files(spark, warehouse):
    catalog, writer, t = _mk(
        spark, warehouse, [(i, i * 10) for i in range(10)], "id long, v long"
    )
    t.rename_column("v", "val")
    assert [f.name for f in t.schema().fields] == ["id", "val"]
    # old files answer under the new name
    got = sorted((r.id, r.val) for r in t.read().collect())
    assert got == [(i, i * 10) for i in range(10)]
    # post-rename appends mix with pre-rename files
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(100, 999)], "id long, val long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    got = sorted((r.id, r.val) for r in t.read().collect())
    assert got == [(i, i * 10) for i in range(10)] + [(100, 999)]


def test_rename_keeps_stats_pruning(spark, warehouse):
    catalog, writer, t = _mk(
        spark, warehouse, [(1, 5)], "id long, v long"
    )
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(2, 500)], "id long, v long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    t.rename_column("v", "val")
    snap = t.snapshot()
    # stats were re-keyed by the manifest rewrite: a probe on the NEW name
    # prunes files written under the OLD name
    _, files = t._select_files(snap, [("val", ">=", 400)])
    assert len(files) == 1
    assert [r.val for r in t.read(where=[("val", ">=", 400)]).collect()] == [500]


def test_rename_is_metadata_only(spark, warehouse):
    catalog, writer, t = _mk(
        spark, warehouse, [(i, i) for i in range(10)], "id long, v long"
    )
    snap = t.snapshot()
    data_files = {
        os.path.join(t.location, f.path): os.path.getmtime(
            os.path.join(t.location, f.path)
        )
        for f in snap.files
    }
    t.rename_column("v", "val")
    # identical bytes, identical mtimes — no data file was rewritten
    for p, mtime in data_files.items():
        assert os.path.getmtime(p) == mtime
    assert {os.path.join(t.location, f.path) for f in t.snapshot().files} == set(
        data_files
    )


def test_chained_renames_keep_one_mapping_hop(spark, warehouse):
    catalog, writer, t = _mk(spark, warehouse, [(1, 7)], "id long, a long")
    t.rename_column("a", "b")
    t.rename_column("b", "c")
    entry = t.snapshot().files[0]
    assert entry.names == {"c": "a"}  # direct to the written name, not a chain
    assert [r.c for r in t.read().collect()] == [7]


def test_rename_identity_partition_column(spark, warehouse):
    catalog, writer, t = _mk(
        spark,
        warehouse,
        [(i, f"r{i % 3}") for i in range(30)],
        "id long, region string",
        partition_hints={"region": "identity"},
    )
    t.rename_column("region", "zone")
    snap = t.snapshot()
    assert snap.partition_spec[0]["column"] == "zone"
    # partition tuples re-keyed: probe on the new name still prunes
    _, files = t._select_files(snap, [("zone", "=", "r1")])
    assert 0 < len(files) < snap.n_files
    got = sorted(r.id for r in t.read(where=[("zone", "=", "r1")]).collect())
    assert got == [i for i in range(30) if i % 3 == 1]


def test_rename_bucket_partition_column(spark, warehouse):
    catalog, writer, t = _mk(
        spark,
        warehouse,
        [(i, i * 2) for i in range(40)],
        "id long, v long",
        partition_hints={"id": "bucket[4]"},
    )
    t.rename_column("id", "key")
    snap = t.snapshot()
    assert snap.partition_spec[0]["column"] == "key"
    _, files = t._select_files(snap, [("key", "=", 17)])
    assert 0 < len(files) < snap.n_files  # bucket probe rewrite still binds
    assert [r.v for r in t.read(where=[("key", "=", 17)]).collect()] == [34]


def test_rename_merge_key_with_outstanding_equality_deletes(spark, warehouse):
    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "ds")
    spec = TableSpec(
        name="t",
        write_disposition={"disposition": "merge", "strategy": "upsert"},
        primary_key=["id"],
        merge_mode="mor",
    )
    writer.write(
        spec,
        spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id long, val string"),
        load_id="l0",
    )
    writer.write(
        spec,
        spark.createDataFrame([(3, "NEW3"), (7, "NEW7")], "id long, val string"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    assert any(d.content != "position" for d in t.snapshot().delete_files)
    t.rename_column("id", "pk")
    got = dict((r.pk, r.val) for r in t.read().collect())
    assert got[3] == "NEW3" and got[7] == "NEW7" and got[0] == "v0"
    assert len(got) == 10
    # the delete file's key column was renamed in metadata and bridged
    d = [d for d in t.snapshot().delete_files if d.content != "position"][0]
    assert d.equality_ids == ["pk"]
    assert d.names == {"pk": "id"}
    # post-rename MERGE keeps masking correctly (mixed-era delete files)
    writer.write(
        TableSpec(
            name="t",
            write_disposition={"disposition": "merge", "strategy": "upsert"},
            primary_key=["pk"],
            merge_mode="mor",
        ),
        spark.createDataFrame([(3, "NEWEST3")], "pk long, val string"),
        load_id="l2",
    )
    t = catalog.load_table("ds", "t")
    got = dict((r.pk, r.val) for r in t.read().collect())
    assert got[3] == "NEWEST3" and got[7] == "NEW7" and len(got) == 10


def test_rename_with_position_deletes(spark, warehouse):
    catalog, writer, t = _mk(
        spark, warehouse, [(i, i) for i in range(10)], "id long, v long"
    )
    t.position_delete_where([("v", "<", 3)])
    t = catalog.load_table("ds", "t")
    t.rename_column("v", "val")
    got = sorted(r.val for r in t.read().collect())
    assert got == list(range(3, 10))
    # new position deletes on the renamed column address the right rows
    t.position_delete_where([("val", ">=", 8)])
    got = sorted(r.val for r in t.read().collect())
    assert got == list(range(3, 8))


def test_changelog_images_across_rename(spark, warehouse):
    catalog, writer, t = _mk(spark, warehouse, [(1, 10), (2, 20)], "id long, v long")
    t.rename_column("v", "val")
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(3, 30)], "id long, val long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    ch = t.read_changes(None).orderBy("_commit_version", "id").collect()
    # pre-rename inserts resolve their values under the END name via the
    # stable field id — never null-filled
    assert [(r.id, r.val, r._change_type) for r in ch] == [
        (1, 10, "insert"),
        (2, 20, "insert"),
        (3, 30, "insert"),
    ]


def test_read_incremental_across_rename(spark, warehouse):
    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v long")
    t.rename_column("v", "val")
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(2, 20)], "id long, val long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    inc = t.read_incremental(None)
    assert sorted((r.id, r.val) for r in inc.collect()) == [(1, 10), (2, 20)]


def test_time_travel_keeps_old_names(spark, warehouse):
    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v long")
    v0 = t.current_version()
    t.rename_column("v", "val")
    assert t.read(snapshot_version=v0).columns == ["id", "v"]
    assert t.read().columns == ["id", "val"]


def test_rename_rejects_bad_targets(spark, warehouse):
    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v long")
    with pytest.raises(ValueError, match="no such column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("v", "id")
    with pytest.raises(ValueError, match="invalid column name"):
        t.rename_column("v", "a.b")


def test_rename_keeps_stable_field_id(spark, warehouse):
    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v long")
    before = t.snapshot().field_ids["v"]
    t.rename_column("v", "val")
    ids = t.snapshot().field_ids
    assert ids["val"] == before and "v" not in ids


def test_drop_refusals(spark, warehouse):
    catalog, writer, t = _mk(
        spark,
        warehouse,
        [(1, "a")],
        "id long, region string",
        partition_hints={"region": "identity"},
    )
    with pytest.raises(ValueError, match="partition source"):
        t.drop_column("region")
    with pytest.raises(ValueError, match="no such column"):
        t.drop_column("nope")
    catalog2, writer2, t2 = _mk(spark, warehouse, [(1,)], "id long", name="t2")
    with pytest.raises(ValueError, match="only column"):
        t2.drop_column("id")


def test_drop_refused_while_equality_deletes_outstanding(spark, warehouse):
    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "ds")
    spec = TableSpec(
        name="t",
        write_disposition={"disposition": "merge", "strategy": "upsert"},
        primary_key=["id"],
        merge_mode="mor",
    )
    writer.write(spec, spark.createDataFrame([(1, "a")], "id long, v string"), load_id="l0")
    writer.write(spec, spark.createDataFrame([(1, "b")], "id long, v string"), load_id="l1")
    t = catalog.load_table("ds", "t")
    with pytest.raises(ValueError, match="equality deletes"):
        t.drop_column("id")


def test_drop_then_readd_never_resurrects(spark, warehouse):
    catalog, writer, t = _mk(
        spark, warehouse, [(i, i * 10) for i in range(5)], "id long, v long"
    )
    old_id = t.snapshot().field_ids["v"]
    t.drop_column("v")
    assert t.read().columns == ["id"]
    t.add_column("v", "long")
    # fresh field id — Iceberg never rebinds a dropped id
    assert t.snapshot().field_ids["v"] != old_id
    got = [(r.id, r.v) for r in t.read().orderBy("id").collect()]
    assert got == [(i, None) for i in range(5)]
    # stale stats were scrubbed: a probe on the re-added column must not
    # prune on the DROPPED values' ranges (all-null column matches nothing,
    # but the prune path itself has to stay conservative)
    assert t.read(where=[("v", ">=", 0)]).count() == 0
    # new writes land values; old rows stay null
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(100, 7)], "id long, v long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    got = dict((r.id, r.v) for r in t.read().collect())
    assert got[100] == 7 and all(got[i] is None for i in range(5))


def test_add_fresh_column_is_pure_metadata(spark, warehouse):
    catalog, writer, t = _mk(spark, warehouse, [(1,)], "id long")
    refs_before = [r.path for r in t.snapshot().manifests]
    t.add_column("note", "string")
    # never-seen name: manifests pass through BY REFERENCE (no rewrite)
    assert [r.path for r in t.snapshot().manifests] == refs_before
    assert [(r.id, r.note) for r in t.read().collect()] == [(1, None)]
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("id", "long")
    with pytest.raises(ValueError, match="nullable"):
        t.add_column("x", "long", nullable=False)


def test_cow_merge_after_rename_reads_old_files(spark, warehouse):
    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "ds")
    spec = TableSpec(
        name="t",
        write_disposition={"disposition": "merge", "strategy": "upsert"},
        primary_key=["id"],
    )
    writer.write(
        spec,
        spark.createDataFrame([(i, f"v{i}") for i in range(20)], "id long, val string"),
        load_id="l0",
    )
    t = catalog.load_table("ds", "t")
    t.rename_column("val", "name")
    # copy-on-write upsert: touched pre-rename files are READ via the names
    # mapping, rewritten under current names
    writer.write(
        TableSpec(
            name="t",
            write_disposition={"disposition": "merge", "strategy": "upsert"},
            primary_key=["id"],
        ),
        spark.createDataFrame([(5, "FIVE")], "id long, name string"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    got = dict((r.id, r.name) for r in t.read().collect())
    assert got[5] == "FIVE" and got[6] == "v6" and len(got) == 20


def test_export_after_rename_keeps_field_id(spark, warehouse):
    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v long")
    vid = t.snapshot().field_ids["v"]
    t.rename_column("v", "val")
    meta_path = t.export_iceberg_metadata()
    import json

    meta = json.loads(open(meta_path).read())
    cur = [s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]][0]
    fld = [f for f in cur["fields"] if f["name"] == "val"][0]
    assert fld["id"] == vid


def test_export_emits_name_mapping_after_rename(spark, warehouse):
    import json

    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v long")
    meta = json.loads(open(t.export_iceberg_metadata()).read())
    assert "schema.name-mapping.default" not in meta["properties"]  # no renames yet
    t.rename_column("v", "val")
    meta = json.loads(open(t.export_iceberg_metadata()).read())
    mapping = json.loads(meta["properties"]["schema.name-mapping.default"])
    vid = t.snapshot().field_ids["val"]
    entry = [m for m in mapping if m["field-id"] == vid][0]
    # every era's written name resolves to the same field id
    assert set(entry["names"]) == {"v", "val"}


def test_changelog_delete_images_across_rename(spark, warehouse):
    """A CoW upsert AFTER a rename re-reads pre-rename files for delete
    images; those images must resolve values under the END-schema name via
    the stable field id (never null-filled, never the written name)."""
    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "ds")
    spec = TableSpec(
        name="t",
        write_disposition={"disposition": "merge", "strategy": "upsert"},
        primary_key=["id"],
    )
    writer.write(
        spec,
        spark.createDataFrame([(1, "old1"), (2, "old2")], "id long, v string"),
        load_id="l0",
    )
    t = catalog.load_table("ds", "t")
    t.rename_column("v", "val")
    writer.write(
        TableSpec(
            name="t",
            write_disposition={"disposition": "merge", "strategy": "upsert"},
            primary_key=["id"],
        ),
        spark.createDataFrame([(1, "NEW1")], "id long, val string"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    ch = t.read_changes(None, net_changes=False).collect()
    dels = [(r.id, r.val) for r in ch if r._change_type == "delete"]
    # the rewrite re-emits both rows of the touched file as delete images,
    # with the PRE-RENAME values present under the END name
    assert (1, "old1") in dels and all(v is not None for _, v in dels)
    ins = {(r.id, r.val) for r in ch if r._change_type == "insert"}
    assert (1, "NEW1") in ins and (1, "old1") in ins
    # net form cancels the rewrite's unchanged-row pairs
    net = {(r.id, r.val) for r in t.read_changes(None, net_changes=True).collect()
           if r._change_type == "insert"}
    assert net == {(1, "NEW1"), (2, "old2")}


def test_export_historical_schemas_resolve_era_ids(spark, warehouse):
    import json

    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v long")
    vid = t.snapshot().field_ids["v"]
    t.rename_column("v", "val")
    meta = json.loads(open(t.export_iceberg_metadata()).read())
    # the PRE-rename schema entry lists the old name under the SAME id,
    # never id 0 — real Iceberg readers track columns by id across schemas
    old = [
        s for s in meta["schemas"]
        if any(f["name"] == "v" for f in s["fields"])
    ]
    assert old and all(
        f["id"] == vid for s in old for f in s["fields"] if f["name"] == "v"
    )


def test_promote_int_to_long_reads_old_and_new_files(spark, warehouse):
    catalog, writer, t = _mk(
        spark, warehouse, [(i, i * 10) for i in range(5)], "id long, v int"
    )
    refs_before = [r.path for r in t.snapshot().manifests]
    old_id = t.snapshot().field_ids["v"]
    t.promote_column_type("v", "long")
    # pure metadata: manifests pass through by reference, field id stable
    assert [r.path for r in t.snapshot().manifests] == refs_before
    assert t.snapshot().field_ids["v"] == old_id
    assert {f.name: f.dataType for f in t.schema().fields}["v"] == T.LongType()
    # old int32 pages read widened
    got = sorted((r.id, r.v) for r in t.read().collect())
    assert got == [(i, i * 10) for i in range(5)]
    # post-promotion appends (written long) mix with pre-promotion files
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(100, 2**40)], "id long, v long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    got = sorted((r.id, r.v) for r in t.read().collect())
    assert got == [(i, i * 10) for i in range(5)] + [(100, 2**40)]
    # stats pruning still applies across both eras
    assert t.read(where=[("v", ">=", 2**40)]).count() == 1
    assert t.read(where=[("v", "<", 50)]).count() == 5


def test_promote_refusals(spark, warehouse):
    catalog, writer, t = _mk(
        spark,
        warehouse,
        [(1, 1, 1.5)],
        "id int, b int, f float",
        partition_hints={"b": "bucket[4]", "f": "identity"},
    )
    with pytest.raises(ValueError, match="no such column"):
        t.promote_column_type("nope", "long")
    with pytest.raises(ValueError, match="already has type"):
        t.promote_column_type("id", "int")
    with pytest.raises(ValueError, match="not a safe"):
        t.promote_column_type("id", "string")
    with pytest.raises(ValueError, match="already has type"):
        t.promote_column_type("f", "float")
    with pytest.raises(ValueError, match="type-sensitive"):
        t.promote_column_type("b", "long")  # bucket hashes int/long differently
    with pytest.raises(ValueError, match="type-sensitive"):
        t.promote_column_type("f", "double")  # identity tuple rendering changes


def test_promote_identity_partition_int_keeps_pruning(spark, warehouse):
    catalog, writer, t = _mk(
        spark,
        warehouse,
        [(i, i % 3) for i in range(9)],
        "id long, grp int",
        partition_hints={"grp": "identity"},
    )
    t.promote_column_type("grp", "long")
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(100, 1)], "id long, grp long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    got = sorted(r.id for r in t.read(where=[("grp", "=", 1)]).collect())
    assert got == [1, 4, 7, 100]


def test_promote_merge_key_with_outstanding_equality_deletes(spark, warehouse):
    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "ds")
    spec = TableSpec(
        name="t",
        write_disposition={"disposition": "merge", "strategy": "upsert"},
        primary_key=["id"],
        merge_mode="mor",
    )
    writer.write(spec, spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"), load_id="l0")
    writer.write(spec, spark.createDataFrame([(1, "a2")], "id int, v string"), load_id="l1")
    t = catalog.load_table("ds", "t")
    assert t.snapshot().delete_files  # MoR mask outstanding
    t.promote_column_type("id", "long")
    # old int delete-key parquet reads widened and still masks row id=1
    got = sorted((r.id, r.v) for r in t.read().collect())
    assert got == [(1, "a2"), (2, "b")]
    # a post-promotion MoR merge keyed long composes with the int-era mask
    writer.write(spec, spark.createDataFrame([(2, "b2")], "id long, v string"), load_id="l2")
    t = catalog.load_table("ds", "t")
    got = sorted((r.id, r.v) for r in t.read().collect())
    assert got == [(1, "a2"), (2, "b2")]


def test_changelog_and_time_travel_across_promotion(spark, warehouse):
    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v int")
    v1 = t.current_version()
    t.promote_column_type("v", "long")
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(2, 2**40)], "id long, v long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    # time travel: the old snapshot reads under its era's narrower type
    old = t.read(snapshot_version=v1)
    assert dict((f.name, f.dataType) for f in old.schema.fields)["v"] == T.IntegerType()
    assert [(r.id, r.v) for r in old.collect()] == [(1, 10)]
    # changelog presents the END schema: pre-promotion images cast wide
    ch = t.read_changes(None)
    assert dict((f.name, f.dataType) for f in ch.schema.fields)["v"] == T.LongType()
    got = sorted((r.id, r.v, r._change_type) for r in ch.collect())
    assert got == [(1, 10, "insert"), (2, 2**40, "insert")]


def test_read_incremental_across_promotion(spark, warehouse):
    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v int")
    v0 = t.current_version()
    t.promote_column_type("v", "long")
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(2, 2**40)], "id long, v long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    inc = t.read_incremental(v0)
    assert [(r.id, r.v) for r in inc.collect()] == [(2, 2**40)]


def test_readd_of_renamed_away_name_reads_null_not_old_pages(spark, warehouse):
    """rename c0->c1 leaves live files physically keyed 'c0'; a later
    add_column('c0') must pin names['c0']=None on those files (fresh
    field id, guard rewrite) so the new column reads NULL — never the
    renamed lineage's pages."""
    catalog, writer, t = _mk(spark, warehouse, [(1, 10), (2, 20)], "id long, c0 long")
    t.rename_column("c0", "c1")
    t = catalog.load_table("ds", "t")
    t.add_column("c0", "long")
    t = catalog.load_table("ds", "t")
    got = sorted((r.id, r.c1, r.c0) for r in t.read().collect())
    assert got == [(1, 10, None), (2, 20, None)]
    # both lineages keep distinct field ids
    ids = t.snapshot().field_ids
    assert ids["c0"] != ids["c1"]
    # post-add appends land values in the NEW column only
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(3, 30, 300)], "id long, c1 long, c0 long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    got = sorted((r.id, r.c1, r.c0) for r in t.read().collect())
    assert got == [(1, 10, None), (2, 20, None), (3, 30, 300)]


def test_add_after_rename_survives_snapshot_expiry(spark, warehouse):
    """The renamed-away-name reservation must not depend on walking
    snapshot ancestry: expire every pre-rename snapshot, then re-add the
    old name — the guard rewrite still fires (schema.reserved-names is a
    monotone snapshot property) and old pages read NULL."""
    from datetime import timedelta

    from dlt_iceberg_spark.lake.maintenance import expire_snapshots

    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, c0 long")
    t.rename_column("c0", "c1")
    t = catalog.load_table("ds", "t")
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(2, 20)], "id long, c1 long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    expire_snapshots(t, older_than=timedelta(seconds=0), keep_last=1)
    t = catalog.load_table("ds", "t")
    # the pre-rename snapshot is GONE (reading it raises) — an ancestry
    # walk could not have seen the rename; the property must carry it
    import pytest as _pytest

    if t.snapshot().parent is not None:
        with _pytest.raises(FileNotFoundError):
            t.snapshot(t.snapshot().parent)
    t.add_column("c0", "long")
    t = catalog.load_table("ds", "t")
    got = sorted((r.id, r.c1, r.c0) for r in t.read().collect())
    assert got == [(1, 10, None), (2, 20, None)]
    snap = t.snapshot()
    assert snap.field_ids["c0"] != snap.field_ids["c1"]
    # the reservation survived expiry and the guard rewrite fired: every
    # pre-add entry pins names['c0']=None
    assert "c0" in snap.properties.get("schema.reserved-names", "")
    assert all(f.names.get("c0", "missing") is None for f in snap.files)


def test_export_refuses_rebound_names(spark, warehouse):
    """Iceberg name mapping binds a physical name to ONE field id; a
    drop/re-add or rename-away/re-add rebinding is not expressible, so
    export must refuse instead of emitting metadata that would let a
    foreign reader resurrect stale pages."""
    import pytest as _pytest

    # drop then re-add
    catalog, writer, t = _mk(spark, warehouse, [(1, 10, 5)], "id long, v long, w long")
    t.drop_column("v")
    t = catalog.load_table("ds", "t")
    t.add_column("v", "long")
    t = catalog.load_table("ds", "t")
    with _pytest.raises(ValueError, match="re-added"):
        t.export_iceberg_metadata()

    # rename away then re-add the vacated name
    catalog2, writer2, t2 = _mk(
        spark, os.path.join(warehouse, "wh2"), [(1, 10)], "id long, c0 long", name="t2"
    )
    t2.rename_column("c0", "c1")
    t2 = catalog2.load_table("ds", "t2")
    t2.add_column("c0", "long")
    t2 = catalog2.load_table("ds", "t2")
    with _pytest.raises(ValueError, match="re-added"):
        t2.export_iceberg_metadata()


def test_add_column_with_initial_default(spark, warehouse):
    """Iceberg v3 initial-default: pre-add rows read the constant, the
    guard entries carry exact [D, D] stats so the new column PRUNES on
    old files, and post-add appends read their real values."""
    catalog, writer, t = _mk(spark, warehouse, [(1, 10), (2, 20)], "id long, v long")
    t.add_column("score", "long", default=7)
    t = catalog.load_table("ds", "t")
    got = sorted((r.id, r.score) for r in t.read().collect())
    assert got == [(1, 7), (2, 7)]
    # stats-pruning: a probe excluding the default skips the old file
    snap = t.snapshot()
    _, files = t._select_files(snap, [("score", ">", 100)])
    assert files == []
    _, files = t._select_files(snap, [("score", "=", 7)])
    assert len(files) == snap.n_files
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(3, 30, 500)], "id long, v long, score long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    got = sorted((r.id, r.score) for r in t.read().collect())
    assert got == [(1, 7), (2, 7), (3, 500)]
    # the probe now plans exactly the post-add file
    _, files = t._select_files(t.snapshot(), [("score", ">", 100)])
    assert len(files) == 1
    assert sorted(r.id for r in t.read(where=[("score", "=", 7)]).collect()) == [1, 2]


def test_drop_then_readd_with_default_reads_default(spark, warehouse):
    catalog, writer, t = _mk(
        spark, warehouse, [(1, 10, 99)], "id long, v long, flag long"
    )
    t.drop_column("flag")
    t = catalog.load_table("ds", "t")
    t.add_column("flag", "long", default=0)
    t = catalog.load_table("ds", "t")
    # the dropped 99 never resurrects; the NEW lineage's default applies
    assert [(r.id, r.flag) for r in t.read().collect()] == [(1, 0)]


def test_add_column_default_survives_compaction_and_promotion(spark, warehouse):
    from dlt_iceberg_spark.lake.maintenance import compact_table

    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v long")
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(2, 20)], "id long, v long"),
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    t.add_column("score", "int", default=7)
    t = catalog.load_table("ds", "t")
    compact_table(t)
    t = catalog.load_table("ds", "t")
    assert sorted((r.id, r.score) for r in t.read().collect()) == [(1, 7), (2, 7)]
    t.promote_column_type("score", "long")
    t = catalog.load_table("ds", "t")
    assert [f.metadata for f in t.schema().fields if f.name == "score"] == [
        {"initial-default": 7, "write-default": 7}
    ]
    assert sorted((r.id, r.score) for r in t.read().collect()) == [(1, 7), (2, 7)]


def test_add_column_default_exports_v3_field(spark, warehouse):
    import json

    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v long")
    t.add_column("score", "long", default=7)
    t = catalog.load_table("ds", "t")
    meta = json.loads(open(t.export_iceberg_metadata()).read())
    cur = [s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]][0]
    fld = [f for f in cur["fields"] if f["name"] == "score"][0]
    assert fld["initial-default"] == 7


def test_add_column_default_type_validation(spark, warehouse):
    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v long")
    with pytest.raises(ValueError, match="unsupported"):
        t.add_column("d", "date", default="2020-01-01")
    with pytest.raises(ValueError, match="unsupported"):
        t.add_column("n", "long", default="seven")
    with pytest.raises(ValueError, match="unsupported"):
        t.add_column("b", "long", default=True)  # bool is not an int default


def test_append_omitting_defaulted_column_lands_write_default(spark, warehouse):
    """Iceberg v3 write-default: a post-add batch that omits the defaulted
    column lands the constant (the caster default-fills instead of
    null-filling), so readers see one consistent value story."""
    catalog, writer, t = _mk(spark, warehouse, [(1, 10)], "id long, v long")
    t.add_column("score", "long", default=7)
    t = catalog.load_table("ds", "t")
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(2, 20)], "id long, v long"),  # no score
        load_id="l1",
    )
    t = catalog.load_table("ds", "t")
    got = sorted((r.id, r.score) for r in t.read().collect())
    assert got == [(1, 7), (2, 7)]


def test_rename_and_drop_rekey_column_properties(spark, warehouse):
    """Column-naming table properties follow a rename and leave with a
    drop: compaction after renaming the sort column still sorts, and the
    rewritten files keep their blooms and sketches under the new name."""
    import pyarrow.parquet as pq

    from dlt_iceberg_spark.lake.bloom import bloom_key
    from dlt_iceberg_spark.lake.maintenance import compact_table

    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "ds")
    spec = TableSpec(
        name="t", write_disposition="append", sort_order=["k"],
        bloom_filter_columns=["k"], ndv_sketch_columns=["k"],
    )
    for i in range(3):  # interleaved key sets: a plain binpack is unsorted
        writer.write(spec, spark.range(i, 300, 3).select(
            ((F.col("id") * 37) % 300).alias("k"), F.col("id").alias("v")
        ))
    t = catalog.load_table("ds", "t")
    t.rename_column("k", "key")
    props = t.snapshot().properties
    assert props["write.sort-order"] == "key"
    assert props["write.parquet.bloom-filter-enabled.column.key"] == "true"
    assert props["write.ndv-sketch.column.key"] == "true"
    assert not any(p.endswith(".column.k") for p in props)
    compact_table(t)
    (f,) = t.snapshot().files
    keys = pq.read_table(os.path.join(t.location, f.path)).column("key").to_pylist()
    assert keys == sorted(keys) and len(keys) == 300
    assert bloom_key("key") in f.sketches and "key" in f.sketches
    t.drop_column("key")
    props = t.snapshot().properties
    assert "write.sort-order" not in props
    assert not any(".column.key" in p for p in props)
