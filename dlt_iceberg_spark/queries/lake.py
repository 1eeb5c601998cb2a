"""Section D — lake write-disposition / table-format semantics as
verifiable queries (SURVEY.md §2.2), plus the streaming-lake surfaces."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dlt_iceberg_spark.io import load_table
from dlt_iceberg_spark.lake.merge import merge_plan
from dlt_iceberg_spark.queries.registry import _sql_rnd, _t, query, rnd

# ===========================================================================
# D. Write-disposition semantics as verifiable queries (SURVEY.md §2.2)
# ===========================================================================
# The lake writer's merge plans (lake/merge.py) are exercised here against
# the oracle: target/source batches are derived deterministically from
# `orders`, so the duckdb SQL can state the expected post-merge table.

_MERGE_SRC_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       o_totalprice + 1000.0 AS o_totalprice, o_orderdate,
       'X-UPSERTED' AS o_orderpriority
FROM orders WHERE o_orderkey % 10 >= 5
"""


def _merge_batches(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = _t(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 10 < 8)
    source = o.filter(F.col("o_orderkey") % 10 >= 5).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        "o_orderdate",
        F.lit("X-UPSERTED").alias("o_orderpriority"),
    )
    return target, source


def _merge_result_select(df: DataFrame) -> DataFrame:
    return df.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        rnd(F.col("o_totalprice")).alias("totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )


@query(
    "merge_upsert",
    f"""
    WITH target AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
         source AS ({_MERGE_SRC_SQL})
    SELECT o_orderkey, o_custkey, o_orderstatus,
           {_sql_rnd('o_totalprice')} AS totalprice, o_orderdate, o_orderpriority
    FROM (
        SELECT t.* FROM target t ANTI JOIN source s ON t.o_orderkey = s.o_orderkey
        UNION ALL
        SELECT * FROM source
    )
    """,
    doc=(
        "W3 upsert disposition (MERGE … UPDATE SET * / INSERT *) as a distributed "
        "plan: batch ∪ target-anti-batch. Mirrors destination_client.py:1437-1469 "
        "without the reference's driver-side key collection."
    ),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    target, source = _merge_batches(spark, sf_dir)
    return _merge_result_select(
        merge_plan(target, source, keys=["o_orderkey"], strategy="upsert")
    )


@query(
    "merge_hard_delete",
    f"""
    WITH target AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
         source AS (
           SELECT *, CASE WHEN o_orderkey % 3 = 0
                          THEN TIMESTAMP '2026-01-01 00:00:00' END AS _dlt_deleted_at
           FROM ({_MERGE_SRC_SQL})
         ),
         keeps AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                          o_orderdate, o_orderpriority
                   FROM source WHERE _dlt_deleted_at IS NULL),
         survivors AS (SELECT t.* FROM target t ANTI JOIN source s ON t.o_orderkey = s.o_orderkey)
    SELECT o_orderkey, o_custkey, o_orderstatus,
           {_sql_rnd('o_totalprice')} AS totalprice, o_orderdate, o_orderpriority
    FROM (SELECT * FROM survivors UNION ALL SELECT * FROM keeps)
    """,
    doc=(
        "W4+W5: delete-insert merge with hard deletes — rows with non-null "
        "_dlt_deleted_at remove their keys; kept rows merge. One plan, one "
        "snapshot (destination_client.py:1214-1254, 1405-1417)."
    ),
)
def merge_hard_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    target, source = _merge_batches(spark, sf_dir)
    source = source.withColumn(
        "_dlt_deleted_at",
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.lit("2026-01-01 00:00:00").cast("timestamp_ntz"),
        ),
    )
    merged = merge_plan(
        target,
        source,
        keys=["o_orderkey"],
        strategy="delete-insert",
        hard_delete_col="_dlt_deleted_at",
    )
    return _merge_result_select(merged.drop("_dlt_deleted_at"))


def _lake_merge_roundtrip_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    target, source = _merge_batches(spark, sf_dir)
    spec = TableSpec(
        name="orders",
        write_disposition={"disposition": "merge", "strategy": "upsert"},
        primary_key=["o_orderkey"],
        sort_order=["o_orderkey"],
    )
    writer.write(
        TableSpec(name="orders", write_disposition="append", sort_order=["o_orderkey"]),
        target,
    )
    writer.write(spec, source)
    return catalog.load_table("gate", "orders")


@query(
    "lake_merge_roundtrip",
    f"""
    WITH target AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
         source AS ({_MERGE_SRC_SQL})
    SELECT o_orderkey, o_custkey, o_orderstatus,
           {_sql_rnd('o_totalprice')} AS totalprice, o_orderdate, o_orderpriority
    FROM (
        SELECT t.* FROM target t ANTI JOIN source s ON t.o_orderkey = s.o_orderkey
        UNION ALL
        SELECT * FROM source
    )
    """,
    doc=(
        "The W3 upsert through the ACTUAL table format, not just the merge "
        "plan: target lands via the append disposition (footer stats, "
        "chunked manifests), the batch upserts via LakeWriter's "
        "copy-on-write path (key-range file pruning, rewrite, delta "
        "commit), and the result is the table's post-merge read.  The "
        "oracle is the reference MERGE semantics in SQL — any fault in "
        "staging, stats, pruning, commit, or scan planning breaks the "
        "value hash."
    ),
    setup=_lake_merge_roundtrip_setup,
)
def lake_merge_roundtrip(spark: SparkSession, sf_dir: str, table) -> DataFrame:
    return _merge_result_select(table.read())


def _lake_position_delete_setup(spark: SparkSession, sf_dir: str, root: str):
    import datetime

    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    target, _ = _merge_batches(spark, sf_dir)
    writer.write(
        TableSpec(
            name="orders",
            write_disposition="append",
            sort_order=["o_orderdate"],
        ),
        target,
    )
    table = catalog.load_table("gate", "orders")
    table.position_delete_where(
        [("o_orderdate", "<", datetime.date(1993, 6, 1))]
    )
    return catalog.load_table("gate", "orders")


@query(
    "lake_position_delete",
    f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           {_sql_rnd('o_totalprice')} AS totalprice, o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderkey % 10 < 8 AND o_orderdate >= DATE '1993-06-01'
    """,
    doc=(
        "Iceberg v2 POSITION deletes through the ACTUAL table format: the "
        "target lands via the append disposition (sorted files, stats, "
        "chunked manifests), position_delete_where stages (file_path, pos) "
        "addresses for the matching rows — data files untouched — and the "
        "result is the masked scan (metadata-column anti-join).  The "
        "file-position addresses depend on physical layout, but the "
        "SURVIVING ROW SET is value-determined, so a brute-force SQL "
        "oracle hash-checks staging, sequence rules, and the masked read "
        "end-to-end."
    ),
    setup=_lake_position_delete_setup,
)
def lake_position_delete(spark: SparkSession, sf_dir: str, table) -> DataFrame:
    return _merge_result_select(table.read())


def _lake_rename_column_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    writer.write(
        TableSpec(
            name="orders", write_disposition="append", sort_order=["o_totalprice"]
        ),
        orders.filter(F.col("o_orderkey") % 2 == 0),
    )
    table = catalog.load_table("gate", "orders")
    table.rename_column("o_totalprice", "total_price")
    writer.write(
        TableSpec(
            name="orders", write_disposition="append", sort_order=["total_price"]
        ),
        orders.filter(F.col("o_orderkey") % 2 == 1).withColumnRenamed(
            "o_totalprice", "total_price"
        ),
    )
    return catalog.load_table("gate", "orders")


@query(
    "lake_rename_column",
    f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           {_sql_rnd('o_totalprice')} AS total_price, o_orderdate
    FROM orders
    WHERE o_totalprice >= 150000
    """,
    doc=(
        "Metadata-only RENAME COLUMN through the ACTUAL table format "
        "(Iceberg ALTER TABLE parity): half the orders land under the "
        "original column name, rename_column('o_totalprice', "
        "'total_price') rewrites ONLY manifests (zero data files touched, "
        "stable field id), the other half appends under the new name, and "
        "the read probes the renamed column — stats pruning on re-keyed "
        "manifests plus the per-era written-name bridge "
        "(LakeTable._physical_read) both sit on the value-hash path.  The "
        "oracle is the plain union the two eras must reconstitute."
    ),
    setup=_lake_rename_column_setup,
)
def lake_rename_column(spark: SparkSession, sf_dir: str, table) -> DataFrame:
    return table.read(where=[("total_price", ">=", 150000.0)]).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        rnd(F.col("total_price")).alias("total_price"),
        "o_orderdate",
    )


def _lake_promote_type_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("cust_key"),
        "o_orderstatus",
        "o_orderdate",
    )
    writer.write(
        TableSpec(
            name="orders", write_disposition="append", sort_order=["cust_key"]
        ),
        orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "cust_key", F.col("cust_key").cast("int")
        ),
    )
    table = catalog.load_table("gate", "orders")
    table.promote_column_type("cust_key", "long")
    writer.write(
        TableSpec(
            name="orders", write_disposition="append", sort_order=["cust_key"]
        ),
        orders.filter(F.col("o_orderkey") % 2 == 1),
    )
    return catalog.load_table("gate", "orders")


@query(
    "lake_promote_type",
    """
    SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS cust_key,
           o_orderstatus, o_orderdate
    FROM orders
    WHERE o_custkey < 100
    """,
    doc=(
        "Metadata-only TYPE PROMOTION through the ACTUAL table format "
        "(Iceberg ALTER COLUMN .. TYPE parity): half the orders land with "
        "the key column written as INT32, promote_column_type('cust_key', "
        "'long') widens the schema without touching a single data file "
        "(stable field id, manifests by reference), the other half appends "
        "as INT64, and the read probes the promoted column — the parquet "
        "reader widens int32 pages under the long read schema and stats "
        "pruning spans both type eras.  The oracle is the plain projection "
        "both eras must reconstitute."
    ),
    setup=_lake_promote_type_setup,
)
def lake_promote_type(spark: SparkSession, sf_dir: str, table) -> DataFrame:
    return table.read(where=[("cust_key", "<", 100)]).select(
        "o_orderkey", "cust_key", "o_orderstatus", "o_orderdate"
    )


def _lake_spec_evolution_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    writer.write(
        TableSpec(name="orders", write_disposition="append"),
        orders.filter(F.col("o_orderkey") % 2 == 0),
    )
    writer.write(
        TableSpec(
            name="orders",
            write_disposition="append",
            column_hints={
                "o_orderdate": {
                    "partition": True,
                    "x-partition-transform": "month",
                }
            },
        ),
        orders.filter(F.col("o_orderkey") % 2 == 1),
    )
    table = catalog.load_table("gate", "orders")
    assert "evolve-partition" in [s.operation for s in table.snapshots()]
    return table


@query(
    "lake_spec_evolution",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate
    FROM orders
    WHERE o_orderdate >= DATE '1995-06-01' AND o_orderdate < DATE '1995-07-01'
    """,
    doc=(
        "Partition-spec EVOLUTION through the ACTUAL table format (Iceberg "
        "ALTER TABLE .. ADD PARTITION FIELD parity): half the orders land "
        "UNPARTITIONED (and deliberately unsorted, so min/max stats span "
        "the full date range and cannot prune), the spec then evolves to "
        "month(o_orderdate) — metadata-only, old files keep their empty "
        "partition tuples — and the other half appends month-clustered.  A "
        "single-month probe must prune the evolved era down to one month's "
        "files BY TUPLE while conservatively keeping every pre-evolution "
        "file (asserted in-process).  The oracle is the plain date-range "
        "scan both eras must reconstitute."
    ),
    setup=_lake_spec_evolution_setup,
)
def lake_spec_evolution(spark: SparkSession, sf_dir: str, table) -> DataFrame:
    import datetime as dt

    snap = table.snapshot()
    where = [
        ("o_orderdate", ">=", dt.date(1995, 6, 1)),
        ("o_orderdate", "<", dt.date(1995, 7, 1)),
    ]
    _, files = table._select_files(snap, where)
    # pre-evolution files carry no month key: all conservatively kept
    # (unsorted era-1 stats span the full range, so stats cannot prune);
    # evolved-era survivors are exactly the probed month's tuple
    months = {f.partition.get("o_orderdate_month") for f in files}
    assert months - {None} == {"1995-06"}, months
    n_old = sum(1 for f in snap.files if not f.partition)
    assert sum(1 for f in files if not f.partition) == n_old
    return table.read(where=where).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )


def _lake_cdc_changelog_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    writer.write(
        TableSpec(name="orders", write_disposition="append"),
        orders.filter(F.col("o_orderkey") % 2 == 0),
    )
    table = catalog.load_table("gate", "orders")
    table.update_where(
        [("o_custkey", "<", 50)], {"o_orderstatus": "X"}
    )
    writer.write(
        TableSpec(name="orders", write_disposition="append"),
        orders.filter(F.col("o_orderkey") % 2 == 1),
    )
    return catalog.load_table("gate", "orders")


@query(
    "lake_cdc_changelog",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
           'insert' AS _change_type
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, 'delete'
    FROM orders WHERE o_orderkey % 2 = 0 AND o_custkey < 50
    UNION ALL
    SELECT o_orderkey, o_custkey, 'X', o_orderdate, 'insert'
    FROM orders WHERE o_orderkey % 2 = 0 AND o_custkey < 50
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, 'insert'
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    doc=(
        "CDC changelog through the ACTUAL table format (Iceberg "
        "create_changelog_view parity), hash-verified image by image: "
        "append evens, MoR update_where flips o_orderstatus to 'X' for "
        "o_custkey<50 (position deletes + a rewritten-row file, no CoW), "
        "append odds, then read_changes(None) must emit exactly the "
        "insert images of both appends PLUS a delete(original image) / "
        "insert(updated image) pair per touched row — the oracle "
        "reconstructs all four image sets from the raw fixture.  Planning "
        "is O(files touched), never a table diff."
    ),
    setup=_lake_cdc_changelog_setup,
)
def lake_cdc_changelog(spark: SparkSession, sf_dir: str, table) -> DataFrame:
    return table.read_changes(None).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "_change_type"
    )


def _lake_iceberg_roundtrip_setup(spark: SparkSession, sf_dir: str, root: str):
    import os

    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, os.path.join(root, "native"))
    writer = LakeWriter(catalog, "gate")
    writer.write(
        TableSpec(
            name="orders",
            write_disposition="append",
            sort_order=["o_orderdate"],
            sort_buckets=8,
        ),
        _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
        ),
    )
    native = catalog.load_table("gate", "orders")
    meta_path = native.export_iceberg_metadata(avro_manifests=True)
    adopting = LakeCatalog(spark, os.path.join(root, "adopt"))
    return adopting.register_iceberg_table("gate", "orders_icb", meta_path)


@query(
    "lake_iceberg_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
    """,
    doc=(
        "Iceberg interop ROUND TRIP on the value-hash path: write orders "
        "date-sorted through the dispositions, export_iceberg_metadata("
        "avro_manifests=True) — spec-shaped v2 TableMetadata + avro "
        "manifest list/manifests with Appendix-D column bounds — then "
        "ADOPT the export into a second catalog (register_iceberg_table, "
        "metadata-only, data referenced in place) and answer a date-range "
        "probe through the imported table.  The in-process assertion that "
        "the probe opened a strict subset of files proves the bounds "
        "survived the encode→decode cycle; the oracle is the plain "
        "date-range scan."
    ),
    setup=_lake_iceberg_roundtrip_setup,
)
def lake_iceberg_roundtrip(spark: SparkSession, sf_dir: str, table) -> DataFrame:
    import datetime as dt

    snap = table.snapshot()
    where = [
        ("o_orderdate", ">=", dt.date(1996, 1, 1)),
        ("o_orderdate", "<", dt.date(1996, 4, 1)),
    ]
    _, files = table._select_files(snap, where)
    # the proof the Appendix-D bounds survived export->adopt: the probe
    # plans a strict subset of the date-sorted files
    assert snap.n_files > 1 and len(files) < snap.n_files, (len(files), snap.n_files)
    return table.read(where=where).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )


def _lake_add_column_default_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    writer.write(
        TableSpec(name="orders", write_disposition="append"),
        orders.filter(F.col("o_orderkey") % 3 == 0),
    )
    table = catalog.load_table("gate", "orders")
    table.add_column("priority_score", "long", default=7)
    writer.write(
        TableSpec(name="orders", write_disposition="append"),
        orders.filter(F.col("o_orderkey") % 3 != 0).withColumn(
            "priority_score", F.col("o_custkey") % 10
        ),
    )
    return catalog.load_table("gate", "orders")


@query(
    "lake_add_column_default",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, 7 AS priority_score
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_custkey % 10
    FROM orders WHERE o_orderkey % 3 <> 0
    """,
    doc=(
        "Iceberg-v3 initial-default through the table format, "
        "hash-verified: append a third of orders, add_column("
        "'priority_score', default=7) — METADATA-ONLY (the constant lives "
        "in the field's schema metadata; every pre-add entry is pinned "
        "names[col]=None with exact [7,7] stats) — then append the rest "
        "with real values.  Pre-add rows must read 7, post-add rows their "
        "values, and the in-process assertion that a priority_score>9 "
        "probe plans ONLY post-add files proves the default participates "
        "in stats pruning.  The oracle rebuilds both row sets with a "
        "CASE-free UNION."
    ),
    setup=_lake_add_column_default_setup,
)
def lake_add_column_default(spark: SparkSession, sf_dir: str, table) -> DataFrame:
    snap = table.snapshot()
    pre_add = [f for f in snap.files if f.names.get("priority_score", "x") is None]
    _, files = table._select_files(snap, [("priority_score", ">", 9)])
    # default stats prune: no pre-add (guarded) file survives a probe that
    # excludes the constant
    assert pre_add and not ({f.path for f in files} & {f.path for f in pre_add})
    return table.read().select(
        "o_orderkey", "o_custkey", "o_orderstatus", "priority_score"
    )


def _lake_rollup_incremental_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.rollup import IncrementalRollup
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    base = (
        _t(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
            F.col("l_returnflag").alias("grp"),
            F.col("l_linestatus").alias("status"),
            F.col("l_quantity").cast("double").alias("amt"),
        )
        # fixture has duplicate (orderkey, linenumber) pairs; the fact
        # table needs a genuine key (mirrors the oracle's GROUP BY id)
        .groupBy("id")
        .agg(
            F.max("grp").alias("grp"),
            F.max("status").alias("status"),
            F.max("amt").alias("amt"),
        )
    )
    writer.write(
        TableSpec(name="fact", write_disposition="append", primary_key=["id"]),
        base,
    )
    src = catalog.load_table("gate", "fact")
    ru = IncrementalRollup(
        catalog, "gate", "fact_by_grp", src,
        keys=["grp"],
        aggs={"total": ("sum", "amt"), "n_rows": ("count",)},
    )
    assert ru.refresh()["groups_touched"] == -1  # initial full build
    src.update_where([("status", "=", "O")], {"amt": 5.0})
    ru.source = catalog.load_table("gate", "fact")
    r = ru.refresh()
    assert r["groups_touched"] > 0, r
    batch = base.filter(F.col("id") % 31 == 0).withColumn(
        "amt", F.lit(777.0)
    ).unionByName(
        base.filter(F.col("id") % 101 == 0).select(
            (F.col("id") + 100000000).alias("id"),
            F.lit("Z").alias("grp"),
            F.lit("NEW").alias("status"),
            F.lit(1.0).alias("amt"),
        )
    )
    writer.write(
        TableSpec(
            name="fact",
            write_disposition={"disposition": "merge", "strategy": "upsert"},
            primary_key=["id"],
        ),
        batch,
    )
    src = catalog.load_table("gate", "fact")
    src.position_delete_where([("grp", "=", "R"), ("amt", "<", 10.0)])
    ru.source = catalog.load_table("gate", "fact")
    ru.refresh()
    # exactly-once cursor: a replayed refresh applies nothing
    v = catalog.load_table("gate", "fact_by_grp").current_version()
    assert ru.refresh()["groups_touched"] == 0
    assert catalog.load_table("gate", "fact_by_grp").current_version() == v
    return ru


@query(
    "lake_rollup_incremental",
    f"""
    WITH raw AS (
      SELECT l_orderkey * 8 + l_linenumber AS id,
             l_returnflag AS grp, l_linestatus AS status,
             l_quantity AS amt
      FROM lineitem
    ), base AS (
      -- the fixture has duplicate (orderkey, linenumber) pairs; the fact
      -- table needs a genuine key, so collapse deterministically
      SELECT id, MAX(grp) AS grp, MAX(status) AS status, MAX(amt) AS amt
      FROM raw GROUP BY id
    ), upd AS (
      SELECT id, grp, status,
             CASE WHEN status = 'O' THEN CAST(5.0 AS DOUBLE) ELSE amt END AS amt
      FROM base
    ), merged AS (
      SELECT id, grp, status,
             CASE WHEN id % 31 = 0 THEN CAST(777.0 AS DOUBLE) ELSE amt END AS amt
      FROM upd
      UNION ALL
      SELECT id + 100000000, 'Z', 'NEW', CAST(1.0 AS DOUBLE)
      FROM base WHERE id % 101 = 0
    ), final AS (
      SELECT * FROM merged WHERE NOT (grp = 'R' AND amt < 10)
    )
    SELECT grp, {_sql_rnd('SUM(amt)')} AS total, COUNT(*) AS n_rows
    FROM final GROUP BY grp
    """,
    doc=(
        "Incrementally-maintained rollup (lake/rollup.py — TimescaleDB "
        "continuous-aggregate shape over the CDC changelog): a lineitem "
        "fact table takes an append, a MoR update_where, a keyed upsert "
        "(replacing existing rows AND inserting a new 'Z' group), and a "
        "position-delete sweep; IncrementalRollup.refresh() folds each "
        "changelog slice into signed per-group deltas — O(changed rows + "
        "touched groups) per refresh, never O(source).  The oracle "
        "recomputes the DIRECT aggregate of the final source state, so a "
        "hash match proves delta folding (including CoW rewrite-pair "
        "cancellation and group-level retraction) equals recomputation.  "
        "In-process assertions pin the exactly-once cursor: a replayed "
        "refresh is a no-op at the same rollup version."
    ),
    setup=_lake_rollup_incremental_setup,
)
def lake_rollup_incremental(spark: SparkSession, sf_dir: str, ru) -> DataFrame:
    return ru.read().select(
        "grp", rnd(F.col("total")).alias("total"), "n_rows"
    )


def _lake_rollup_minmax_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.rollup import IncrementalRollup
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    base = (
        _t(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
            F.col("l_returnflag").alias("grp"),
            F.col("l_linestatus").alias("status"),
            F.col("l_quantity").cast("double").alias("amt"),
        )
        .groupBy("id")
        .agg(
            F.max("grp").alias("grp"),
            F.max("status").alias("status"),
            F.max("amt").alias("amt"),
        )
    )
    writer.write(
        TableSpec(name="fact", write_disposition="append", primary_key=["id"]),
        base,
    )
    src = catalog.load_table("gate", "fact")
    ru = IncrementalRollup(
        catalog, "gate", "fact_mm", src,
        keys=["grp"],
        aggs={
            "total": ("sum", "amt"), "lo": ("min", "amt"),
            "hi": ("max", "amt"), "n_rows": ("count",),
        },
        strategy="rescan",
    )
    assert ru.refresh()["groups_touched"] == -1
    # MoR update: every 'F' row moves to mid-range — group extremes
    # computed at build time must retract, not stick
    src.update_where([("status", "=", "F")], {"amt": 7.0})
    ru.source = catalog.load_table("gate", "fact")
    assert ru.refresh()["groups_touched"] > 0
    # kill the 'R' group's high outliers: the current max dies
    src = catalog.load_table("gate", "fact")
    src.position_delete_where([("grp", "=", "R"), ("amt", ">", 45)])
    ru.source = catalog.load_table("gate", "fact")
    ru.refresh()
    # exactly-once: replayed refresh applies nothing
    assert ru.refresh()["groups_touched"] == 0
    return ru


@query(
    "lake_rollup_minmax",
    f"""
    WITH raw AS (
      SELECT l_orderkey * 8 + l_linenumber AS id,
             l_returnflag AS grp, l_linestatus AS status,
             l_quantity AS amt
      FROM lineitem
    ), base AS (
      SELECT id, MAX(grp) AS grp, MAX(status) AS status, MAX(amt) AS amt
      FROM raw GROUP BY id
    ), upd AS (
      SELECT id, grp, status,
             CASE WHEN status = 'F' THEN CAST(7.0 AS DOUBLE) ELSE amt END AS amt
      FROM base
    ), final AS (
      SELECT * FROM upd WHERE NOT (grp = 'R' AND amt > 45)
    )
    SELECT grp, {_sql_rnd('SUM(amt)')} AS total,
           {_sql_rnd('MIN(amt)')} AS lo, {_sql_rnd('MAX(amt)')} AS hi,
           COUNT(*) AS n_rows
    FROM final GROUP BY grp
    """,
    doc=(
        "Rollup with min/max under strategy='rescan' (lake/rollup.py): "
        "sum/count stay incrementally folded from the CDC changelog while "
        "the extrema — which have no inverse — are recomputed ONLY for "
        "the touched groups via a keyed semi-join rescan of the source, "
        "file-pruned to the touched key range through manifest stats.  "
        "The fact table takes a MoR update (moving every 'F' row to the "
        "middle of the range, so old extremes must RETRACT) and a "
        "position-delete sweep of the 'R' group's high outliers (the "
        "current max dies — exactly the case pure folding cannot "
        "handle).  The oracle recomputes the direct aggregate of the "
        "final source state; a hash match proves retraction-correct "
        "extrema alongside exact sums."
    ),
    setup=_lake_rollup_minmax_setup,
)
def lake_rollup_minmax(spark: SparkSession, sf_dir: str, ru) -> DataFrame:
    return ru.read().select(
        "grp", rnd(F.col("total")).alias("total"),
        rnd(F.col("lo")).alias("lo"), rnd(F.col("hi")).alias("hi"),
        "n_rows",
    )


def _lake_matview_join_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.matview import IncrementalJoinView
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    left0 = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("cust"),
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    writer.write(
        TableSpec(name="ord", write_disposition="append", primary_key=["o_orderkey"]),
        left0,
    )
    right0 = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        "c_mktsegment",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )
    writer.write(
        TableSpec(name="cust", write_disposition="append", primary_key=["cust"]),
        right0,
    )
    mv = IncrementalJoinView(
        catalog, "gate", "order_cust",
        catalog.load_table("gate", "ord"),
        catalog.load_table("gate", "cust"),
        on=["cust"], left_pk=["o_orderkey"], right_pk=["cust"],
    )
    assert mv.refresh()["pairs_touched"] == -1  # initial build
    # LEFT: MoR update, then a keyed append derived from the updated state
    lt = catalog.load_table("gate", "ord")
    lt.update_where([("o_orderstatus", "=", "P")], {"o_totalprice": 1000.0})
    lt = catalog.load_table("gate", "ord")
    writer.write(
        TableSpec(name="ord", write_disposition="append", primary_key=["o_orderkey"]),
        lt.read()
        .filter(F.col("o_orderkey") % 101 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 100000000),
    )
    # RIGHT: balance update + hard-delete sweep
    rt = catalog.load_table("gate", "cust")
    rt.update_where([("c_mktsegment", "=", "BUILDING")], {"c_acctbal": 0.0})
    rt = catalog.load_table("gate", "cust")
    writer.write(
        TableSpec(
            name="cust",
            write_disposition={"disposition": "merge", "strategy": "upsert"},
            primary_key=["cust"],
            hard_delete_column="__del",
        ),
        rt.read().filter(F.col("cust") % 50 == 0).withColumn("__del", F.lit(True)),
    )
    # ONE refresh folds multi-snapshot changelogs on BOTH cursors
    mv.left = catalog.load_table("gate", "ord")
    mv.right = catalog.load_table("gate", "cust")
    r = mv.refresh()
    assert r["pairs_touched"] > 0
    # exactly-once: replay applies nothing
    assert mv.refresh()["pairs_touched"] == 0
    return mv


@query(
    "lake_matview_join",
    f"""
    WITH l0 AS (
      SELECT o_orderkey, o_custkey AS cust, o_orderstatus, o_totalprice
      FROM orders
    ), l1 AS (
      SELECT o_orderkey, cust, o_orderstatus,
             CASE WHEN o_orderstatus = 'P' THEN CAST(1000.0 AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM l0
    ), l2 AS (
      SELECT * FROM l1
      UNION ALL
      SELECT o_orderkey + 100000000, cust, o_orderstatus, o_totalprice
      FROM l1 WHERE o_orderkey % 101 = 0
    ), r0 AS (
      SELECT c_custkey AS cust, c_mktsegment, c_acctbal FROM customer
    ), r1 AS (
      SELECT cust, c_mktsegment,
             CASE WHEN c_mktsegment = 'BUILDING' THEN CAST(0.0 AS DOUBLE)
                  ELSE c_acctbal END AS c_acctbal
      FROM r0
    ), r2 AS (
      SELECT * FROM r1 WHERE cust % 50 <> 0
    )
    SELECT l2.o_orderkey, l2.cust, l2.o_orderstatus,
           {_sql_rnd('l2.o_totalprice')} AS total_price,
           r2.c_mktsegment, {_sql_rnd('r2.c_acctbal')} AS acctbal
    FROM l2 JOIN r2 ON l2.cust = r2.cust
    """,
    doc=(
        "Incrementally-maintained JOIN view (lake/matview.py — classic "
        "delta-join IVM: M2-M1 = dA JOIN B2 + A1 JOIN dB, signed content "
        "fold cancels stale half-updated images): orders JOIN customer "
        "materialized as a LakeTable, then BOTH sides mutate — a MoR "
        "price update on 'P' orders, an order append for a keyed subset, "
        "a customer balance update, and a customer hard-delete sweep — "
        "and ONE refresh folds the multi-snapshot changelogs of both "
        "cursors.  Full-side reads are semi-joined to the other delta's "
        "keys and range-pruned via manifest stats, never full re-joins.  "
        "The oracle recomputes the inner join of both final states; a "
        "hash match proves the maintained view equals recomputation."
    ),
    setup=_lake_matview_join_setup,
)
def lake_matview_join(spark: SparkSession, sf_dir: str, mv) -> DataFrame:
    return mv.read().select(
        "o_orderkey", "cust", "o_orderstatus",
        rnd(F.col("o_totalprice")).alias("total_price"),
        "c_mktsegment", rnd(F.col("c_acctbal")).alias("acctbal"),
    )


def _lake_matview_chain_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.matview import IncrementalJoinView
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    writer.write(
        TableSpec(name="ord", write_disposition="append", primary_key=["o_orderkey"]),
        _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_custkey").alias("cust"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        ),
    )
    writer.write(
        TableSpec(name="cust", write_disposition="append", primary_key=["cust"]),
        _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("cust"),
            F.col("c_nationkey").alias("nk"),
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
        ),
    )
    writer.write(
        TableSpec(name="nat", write_disposition="append", primary_key=["nk"]),
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("nk"), "n_name"
        ),
    )
    mv1 = IncrementalJoinView(
        catalog, "gate", "oc_chain",
        catalog.load_table("gate", "ord"),
        catalog.load_table("gate", "cust"),
        on=["cust"], left_pk=["o_orderkey"], right_pk=["cust"],
        # projection drops c_acctbal from the maintained view
        select=["o_orderkey", "cust", "o_totalprice", "nk"],
    )
    mv1.refresh()
    mv2 = IncrementalJoinView(
        catalog, "gate", "ocn_chain",
        catalog.load_table("gate", "oc_chain"),
        catalog.load_table("gate", "nat"),
        on=["nk"], left_pk=["o_orderkey", "cust"], right_pk=["nk"],
    )
    mv2.refresh()
    # base mutations: keyed price update + customer hard-delete sweep
    catalog.load_table("gate", "ord").update_where(
        [("o_orderkey", "<", 5000)], {"o_totalprice": 1000.0}
    )
    rt = catalog.load_table("gate", "cust")
    writer.write(
        TableSpec(
            name="cust",
            write_disposition={"disposition": "merge", "strategy": "upsert"},
            primary_key=["cust"],
            hard_delete_column="__del",
        ),
        rt.read().filter(F.col("cust") % 50 == 0).withColumn("__del", F.lit(True)),
    )
    mv1.left = catalog.load_table("gate", "ord")
    mv1.right = catalog.load_table("gate", "cust")
    assert mv1.refresh()["pairs_touched"] > 0
    mv2.left = catalog.load_table("gate", "oc_chain")
    assert mv2.refresh()["pairs_touched"] > 0
    # nation-side mutation hits only view2's right delta path
    catalog.load_table("gate", "nat").update_where(
        [("nk", "=", 3)], {"n_name": "REKEYED"}
    )
    mv2.right = catalog.load_table("gate", "nat")
    assert mv2.refresh()["pairs_touched"] > 0
    # exactly-once end to end
    assert mv1.refresh()["pairs_touched"] == 0
    assert mv2.refresh()["pairs_touched"] == 0
    return mv2


@query(
    "lake_matview_chain",
    f"""
    WITH l0 AS (
      SELECT o_orderkey, o_custkey AS cust,
             CASE WHEN o_orderkey < 5000 THEN CAST(1000.0 AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
    ), r0 AS (
      SELECT c_custkey AS cust, c_nationkey AS nk
      FROM customer WHERE c_custkey % 50 <> 0
    ), n0 AS (
      SELECT n_nationkey AS nk,
             CASE WHEN n_nationkey = 3 THEN 'REKEYED' ELSE n_name END AS n_name
      FROM nation
    )
    SELECT l0.o_orderkey, l0.cust, {_sql_rnd('l0.o_totalprice')} AS total_price,
           r0.nk, n0.n_name
    FROM l0 JOIN r0 ON l0.cust = r0.cust JOIN n0 ON r0.nk = n0.nk
    """,
    doc=(
        "CHAINED incremental join views — IVM over IVM (lake/matview.py): "
        "view1 = orders JOIN customer (with select=[...] column "
        "projection), view2 = view1's TABLE JOIN nation.  The view target "
        "is a first-class LakeTable whose maintenance merges emit "
        "ordinary CDC, so a second view maintains over it with the same "
        "delta-join algebra — the dbt-style derived-model chain, "
        "incrementally.  Base tables mutate (keyed price update, "
        "customer hard-delete sweep, nation rename), each view refreshes "
        "O(changed), and replays are no-ops.  The oracle recomputes the "
        "three-way join of final states; a hash match proves the chain "
        "equals recomputation."
    ),
    setup=_lake_matview_chain_setup,
)
def lake_matview_chain(spark: SparkSession, sf_dir: str, mv2) -> DataFrame:
    return mv2.read().select(
        "o_orderkey", "cust",
        rnd(F.col("o_totalprice")).alias("total_price"),
        "nk", "n_name",
    )


def _stream_dedup_corpus_setup(spark: SparkSession, sf_dir: str, root: str):
    import os

    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.table import LakeTable
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec
    from dlt_iceberg_spark.streaming.dedup import run_dedup_backfill

    catalog = LakeCatalog(spark, os.path.join(root, "wh"))
    writer = LakeWriter(catalog, "gate")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    for ld in range(3):
        writer.write(
            TableSpec(name="docs", write_disposition="append"),
            d.filter(F.col("doc_id") % 3 == ld),
            load_id=f"ld{ld}",
        )
    index = LakeTable(spark, os.path.join(root, "idx"))
    run_dedup_backfill(
        spark,
        catalog.load_table("gate", "docs").location,
        index,
        writer,
        "doc_dups",
        "text",
        "doc_id",
        checkpoint_dir=os.path.join(root, "ckpt"),
        threshold=0.8,
        strategy="auto",
        query_name="sdedup_gate",
    )
    return catalog.load_table("gate", "doc_dups")


@query(
    "stream_dedup_corpus",
    r"""
    WITH t AS (
      SELECT doc_id, doc_id % 3 AS ld,
             list_sort(list_distinct(string_split_regex(text, '\s+'))) AS t
      FROM documents
    ), nov AS (
      SELECT a.* FROM t a
      WHERE NOT EXISTS (
        SELECT 1 FROM t e WHERE e.ld < a.ld AND e.t = a.t
      )
    )
    SELECT c.doc_id AS corpus_id, b.doc_id AS batch_id,
           floor(len(list_intersect(c.t, b.t)) /
                 CAST(len(list_distinct(list_concat(c.t, b.t))) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM nov c JOIN t b
      ON c.ld < b.ld
     AND len(list_intersect(c.t, b.t)) /
         CAST(len(list_distinct(list_concat(c.t, b.t))) AS DOUBLE) >= 0.8
    """,
    doc=(
        "STREAMING incremental dedup (streaming/dedup.py::"
        "run_dedup_backfill): documents land as THREE ordered loads "
        "(doc_id % 3), then a real Structured Streaming query — one "
        "micro-batch per source snapshot via admission control — probes "
        "each load against the persisted class index of everything "
        "ingested strictly before it, appends flagged pairs per epoch, "
        "and indexes the load's novel classes.  The oracle recomputes "
        "the flags from scratch: brute-force exact Jaccard of every "
        "later-load doc against every EARLIER-load doc whose token-set "
        "class was novel at its own ingest (canonical ids = first "
        "ingest).  A hash match proves epoch ordering, index "
        "maintenance, and the probe all equal the batch semantics."
    ),
    setup=_stream_dedup_corpus_setup,
)
def stream_dedup_corpus(spark: SparkSession, sf_dir: str, got) -> DataFrame:
    return got.read().select(
        "corpus_id", "batch_id", rnd(F.col("jaccard"), 6).alias("jaccard")
    )


def _lake_matview_left_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.matview import IncrementalJoinView
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    writer.write(
        TableSpec(name="ord", write_disposition="append", primary_key=["o_orderkey"]),
        _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_custkey").alias("cust"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        ),
    )
    writer.write(
        TableSpec(name="cust", write_disposition="append", primary_key=["cust"]),
        _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("cust"),
            "c_mktsegment",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
        ),
    )
    mv = IncrementalJoinView(
        catalog, "gate", "order_cust_left",
        catalog.load_table("gate", "ord"),
        catalog.load_table("gate", "cust"),
        on=["cust"], left_pk=["o_orderkey"], right_pk=["cust"],
        how="left",
    )
    assert mv.refresh()["pairs_touched"] == -1
    # hard-delete sweep: every affected order flips to null-extended
    rt = catalog.load_table("gate", "cust")
    writer.write(
        TableSpec(
            name="cust",
            write_disposition={"disposition": "merge", "strategy": "upsert"},
            primary_key=["cust"],
            hard_delete_column="__del",
        ),
        rt.read().filter(F.col("cust") % 7 == 0).withColumn("__del", F.lit(True)),
    )
    mv.right = catalog.load_table("gate", "cust")
    assert mv.refresh()["pairs_touched"] > 0
    # balance update on the surviving matches
    rt = catalog.load_table("gate", "cust")
    rt.update_where([("c_mktsegment", "=", "MACHINERY")], {"c_acctbal": -1.0})
    mv.right = catalog.load_table("gate", "cust")
    mv.refresh()
    assert mv.refresh()["pairs_touched"] == 0  # replay no-op
    return mv


@query(
    "lake_matview_left",
    f"""
    WITH l0 AS (
      SELECT o_orderkey, o_custkey AS cust, o_totalprice FROM orders
    ), r0 AS (
      SELECT c_custkey AS cust, c_mktsegment, c_acctbal FROM customer
    ), r1 AS (
      SELECT * FROM r0 WHERE cust % 7 <> 0
    ), r2 AS (
      SELECT cust, c_mktsegment,
             CASE WHEN c_mktsegment = 'MACHINERY' THEN CAST(-1.0 AS DOUBLE)
                  ELSE c_acctbal END AS c_acctbal
      FROM r1
    )
    SELECT l0.o_orderkey, l0.cust, {_sql_rnd('l0.o_totalprice')} AS total_price,
           r2.c_mktsegment, {_sql_rnd('r2.c_acctbal')} AS acctbal
    FROM l0 LEFT JOIN r2 ON l0.cust = r2.cust
    """,
    doc=(
        "LEFT-join view maintenance (lake/matview.py how='left'): orders "
        "LEFT JOIN customer materialized as matched + __unmatched halves; "
        "a customer hard-delete sweep (cust %% 7 = 0) flips every "
        "affected order from matched to null-extended via the per-key "
        "match-count zero-crossing machinery, then a balance update "
        "touches the surviving matches — both refreshes fold changelogs, "
        "never re-join.  The oracle recomputes the LEFT JOIN of the final "
        "states; a hash match proves null-extension, retraction, and "
        "payload maintenance agree with recomputation (NULL segment/"
        "balance columns participate in the value hash)."
    ),
    setup=_lake_matview_left_setup,
)
def lake_matview_left(spark: SparkSession, sf_dir: str, mv) -> DataFrame:
    return mv.read().select(
        "o_orderkey", "cust",
        rnd(F.col("o_totalprice")).alias("total_price"),
        "c_mktsegment", rnd(F.col("c_acctbal")).alias("acctbal"),
    )


def _lake_matview_full_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.matview import IncrementalJoinView
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    writer.write(
        TableSpec(name="ord", write_disposition="append", primary_key=["o_orderkey"]),
        _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_custkey").alias("cust"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        ),
    )
    # right side keeps a SEPARATE pk column so unmatched-left rows can
    # show a NULL right key in the output (r_cust)
    writer.write(
        TableSpec(name="cust", write_disposition="append", primary_key=["r_cust"]),
        _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("cust"),
            F.col("c_custkey").alias("r_cust"),
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
        ),
    )
    mv = IncrementalJoinView(
        catalog, "gate", "oc_full",
        catalog.load_table("gate", "ord"),
        catalog.load_table("gate", "cust"),
        on=["cust"], left_pk=["o_orderkey"], right_pk=["r_cust"],
        how="full",
    )
    assert mv.refresh()["pairs_touched"] == -1
    # BOTH sides take delete sweeps before one refresh
    lt = catalog.load_table("gate", "ord")
    writer.write(
        TableSpec(
            name="ord",
            write_disposition={"disposition": "merge", "strategy": "upsert"},
            primary_key=["o_orderkey"],
            hard_delete_column="__del",
        ),
        lt.read().filter(F.col("cust") % 5 == 0).withColumn("__del", F.lit(True)),
    )
    rt = catalog.load_table("gate", "cust")
    writer.write(
        TableSpec(
            name="cust",
            write_disposition={"disposition": "merge", "strategy": "upsert"},
            primary_key=["r_cust"],
            hard_delete_column="__del",
        ),
        rt.read().filter(F.col("cust") % 7 == 0).withColumn("__del", F.lit(True)),
    )
    mv.left = catalog.load_table("gate", "ord")
    mv.right = catalog.load_table("gate", "cust")
    assert mv.refresh()["pairs_touched"] > 0
    assert mv.refresh()["pairs_touched"] == 0  # replay no-op
    return mv


@query(
    "lake_matview_full",
    f"""
    WITH l0 AS (
      SELECT o_orderkey, o_custkey AS cust, o_totalprice FROM orders
    ), l1 AS (
      SELECT * FROM l0 WHERE cust % 5 <> 0
    ), r0 AS (
      SELECT c_custkey AS cust, c_acctbal FROM customer
    ), r1 AS (
      SELECT * FROM r0 WHERE cust % 7 <> 0
    )
    SELECT l1.o_orderkey, COALESCE(l1.cust, r1.cust) AS cust,
           {_sql_rnd('l1.o_totalprice')} AS total_price,
           r1.cust AS r_cust, {_sql_rnd('r1.c_acctbal')} AS acctbal
    FROM l1 FULL OUTER JOIN r1 ON l1.cust = r1.cust
    """,
    doc=(
        "FULL OUTER join view maintenance (lake/matview.py how='full'): "
        "orders FULL JOIN customer as three maintained tables (matched + "
        "both unmatched halves).  One refresh folds a cust %% 5 order "
        "delete sweep (creating customers with no orders — right "
        "unmatched) AND a cust %% 7 customer delete sweep (orders with "
        "no customer — left unmatched), exercising zero-crossing flips "
        "on BOTH sides in a single multi-snapshot window.  The oracle "
        "recomputes the FULL OUTER JOIN of the final states; NULL-"
        "extended columns on either side participate in the value hash."
    ),
    setup=_lake_matview_full_setup,
)
def lake_matview_full(spark: SparkSession, sf_dir: str, mv) -> DataFrame:
    return mv.read().select(
        "o_orderkey", "cust",
        rnd(F.col("o_totalprice")).alias("total_price"),
        "r_cust", rnd(F.col("c_acctbal")).alias("acctbal"),
    )


def _lake_count_pushdown_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake import table as table_mod
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    writer.write(
        TableSpec(
            name="li",
            write_disposition="append",
            sort_order=["l_quantity"],  # tight per-file quantity stats
            sort_buckets=8,
        ),
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_returnflag"
        ),
    )
    t = catalog.load_table("gate", "li")
    # the bare count must be metadata-only: any data scan raises
    real = table_mod.LakeTable._plan_scan

    def boom(self, *a, **kw):
        raise AssertionError("bare count() must not scan data")

    table_mod.LakeTable._plan_scan = boom
    try:
        n_all = t.count()
    finally:
        table_mod.LakeTable._plan_scan = real
    rows = [
        ("all", n_all),
        ("qty_ge_25", t.count(where=[("l_quantity", ">=", 25)])),
        ("qty_lt_10", t.count(where=[("l_quantity", "<", 10)])),
        ("band", t.count(where=[("l_quantity", ">=", 5), ("l_quantity", "<=", 45)])),
        ("flag_r", t.count(where=[("l_returnflag", "=", "R")])),
    ]
    # merge-on-read position deletes: the bare count must STILL be
    # metadata-exact (total − live masked addresses from the delete
    # files — no data-file scan)
    t.position_delete_where([("l_quantity", ">", 47)])
    table_mod.LakeTable._plan_scan = boom
    try:
        n_pd = t.count()
    finally:
        table_mod.LakeTable._plan_scan = real
    rows.append(("pos_del_all", n_pd))
    rows.append(("pos_del_ge25", t.count(where=[("l_quantity", ">=", 25)])))
    return rows


@query(
    "lake_count_pushdown",
    """
    SELECT 'all' AS probe, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem
    UNION ALL
    SELECT 'qty_ge_25', CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_quantity >= 25
    UNION ALL
    SELECT 'qty_lt_10', CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_quantity < 10
    UNION ALL
    SELECT 'band', CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_quantity >= 5 AND l_quantity <= 45
    UNION ALL
    SELECT 'flag_r', CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT 'pos_del_all', CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_quantity <= 47
    UNION ALL
    SELECT 'pos_del_ge25', CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_quantity >= 25 AND l_quantity <= 47
    """,
    doc=(
        "COUNT(*) aggregate pushdown (LakeTable.count — Iceberg's "
        "count-from-manifests): lineitem lands range-clustered on "
        "l_quantity so file [min,max] stats are tight, then five counts "
        "run through the pushdown — the bare count answers O(1) from the "
        "snapshot total (an in-process assertion pins ZERO data scans "
        "for it), range probes take manifest rows for fully-contained "
        "files plus a residual scan of straddlers only, and the equality "
        "probe exercises the scan path.  Then rows with l_quantity > 47 "
        "are merge-on-read position-deleted and the count reruns: the "
        "bare count stays metadata-exact (total − live masked addresses, "
        "computed from the delete files alone — the same zero-data-scan "
        "assertion pins it), and a predicate count subtracts per-file "
        "masked addresses from fully-matching files.  The oracle "
        "recomputes every count with plain SQL; a hash match proves "
        "metadata counting equals scanning."
    ),
    setup=_lake_count_pushdown_setup,
)
def lake_count_pushdown(spark: SparkSession, sf_dir: str, rows) -> DataFrame:
    return spark.createDataFrame(rows, "probe string, n long")


def _lake_partition_aggregate_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake import table as table_mod
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.dataset import Dataset
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    writer.write(
        TableSpec(
            name="li",
            write_disposition="append",
            column_hints={"l_returnflag": {"partition": True}},
        ),
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_quantity"
        ),
    )
    ds = Dataset(catalog, "gate")
    # metadata-only: any data scan raises
    real = table_mod.LakeTable._plan_scan

    def boom(self, *a, **kw):
        raise AssertionError("grouped metadata aggregate must not scan")

    table_mod.LakeTable._plan_scan = boom
    try:
        got = ds.aggregate("li", ["l_quantity"], group_by="l_returnflag")
    finally:
        table_mod.LakeTable._plan_scan = real
    assert isinstance(got, list) and got  # metadata path, not fallback
    rows = [
        (d["l_returnflag"], d["count"], d["min_l_quantity"], d["max_l_quantity"])
        for d in got
    ]
    return rows


@query(
    "lake_partition_aggregate",
    """
    SELECT l_returnflag AS g,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(l_quantity) AS min_q,
           MAX(l_quantity) AS max_q
    FROM lineitem GROUP BY 1
    """,
    doc=(
        "Partition-grouped metadata aggregates (Dataset.aggregate("
        "group_by=...) / LakeTable.aggregate_stats — Iceberg's "
        "`partitions` metadata-table shape, VERDICT r7 task 6): lineitem "
        "lands identity-partitioned on l_returnflag, then per-partition "
        "count/min/max answer from manifest partition tuples and file "
        "stats with ZERO data scans (an in-process monkeypatch assertion "
        "pins it — the standard 'rows per day/bucket' ops probe at "
        "100 TB).  The oracle recomputes the GROUP BY with plain SQL; a "
        "hash match proves metadata grouping equals scanning."
    ),
    setup=_lake_partition_aggregate_setup,
)
def lake_partition_aggregate(spark: SparkSession, sf_dir: str, rows) -> DataFrame:
    return spark.createDataFrame(
        rows, "g string, n long, min_q double, max_q double"
    )


def _lake_minmax_pushdown_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake import table as table_mod
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    writer.write(
        TableSpec(
            name="li",
            write_disposition="append",
            sort_order=["l_quantity"],  # tight per-file quantity stats
            sort_buckets=8,
        ),
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_returnflag",
            F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        ),
    )
    t = catalog.load_table("gate", "li")
    # a range probe fully covering whole files must not scan them:
    # only straddlers may reach _plan_scan (≤ 2 of 8 files)
    seen = []
    real = table_mod.LakeTable._plan_scan

    def spying(self, snap, files, *a, **kw):
        seen.append(len(files))
        return real(self, snap, files, *a, **kw)

    table_mod.LakeTable._plan_scan = spying
    try:
        ge25 = t.agg_minmax("l_extendedprice", where=[("l_quantity", ">=", 25)])
    finally:
        table_mod.LakeTable._plan_scan = real
    assert all(n <= 2 for n in seen), seen
    rows = [
        ("qty_ge_25", *ge25),
        (
            "band",
            *t.agg_minmax(
                "l_extendedprice",
                where=[("l_quantity", ">=", 5), ("l_quantity", "<=", 45)],
            ),
        ),
        (
            "flag_r",
            *t.agg_minmax(
                "l_extendedprice", where=[("l_returnflag", "=", "R")]
            ),
        ),
        (
            "empty",
            *t.agg_minmax(
                "l_extendedprice", where=[("l_quantity", ">", 1_000_000)]
            ),
        ),
    ]
    return rows


@query(
    "lake_minmax_pushdown",
    """
    SELECT 'qty_ge_25' AS probe,
           MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
    FROM lineitem WHERE l_quantity >= 25
    UNION ALL
    SELECT 'band', MIN(l_extendedprice), MAX(l_extendedprice)
    FROM lineitem WHERE l_quantity >= 5 AND l_quantity <= 45
    UNION ALL
    SELECT 'flag_r', MIN(l_extendedprice), MAX(l_extendedprice)
    FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT 'empty', MIN(l_extendedprice), MAX(l_extendedprice)
    FROM lineitem WHERE l_quantity > 1000000
    """,
    doc=(
        "Predicated MIN/MAX aggregate pushdown (LakeTable.agg_minmax("
        "where=...)): lineitem lands range-clustered on l_quantity, then "
        "filtered extrema run through the count()-style split — files "
        "whose stats prove every row matches contribute their [min,max] "
        "bounds unopened (an in-process assertion pins that a "
        "fully-covered range probe scans ZERO data), straddlers scan "
        "with the residual filter, and the extrema combine.  The oracle "
        "recomputes each filtered MIN/MAX with plain SQL; a hash match "
        "proves metadata extrema equal scanning."
    ),
    setup=_lake_minmax_pushdown_setup,
)
def lake_minmax_pushdown(spark: SparkSession, sf_dir: str, rows) -> DataFrame:
    return spark.createDataFrame(
        rows, "probe string, mn double, mx double"
    )


def _lake_multi_table_txn_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.errors import CommitConflictError
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    writer.write(
        TableSpec(name="fact", write_disposition="append", primary_key=["o_orderkey"]),
        orders.filter(F.col("o_orderkey") % 2 == 0),
    )
    n_evens = catalog.load_table("gate", "fact").read().count()
    txn = catalog.transaction("gate")
    txn.write(
        TableSpec(name="fact", write_disposition="append", primary_key=["o_orderkey"]),
        orders.filter(F.col("o_orderkey") % 2 == 1),
    )
    txn.write(
        TableSpec(name="summary", write_disposition="replace"),
        orders.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("total_price"),
        ),
    )
    # isolation: main still sees only the evens, and an empty summary
    assert catalog.load_table("gate", "fact").read().count() == n_evens
    assert catalog.load_table("gate", "summary").read().count() == 0
    txn.commit()
    # conflict round on a scratch table: a foreign write between stage
    # and publish fails the WHOLE transaction, publishing nothing
    writer.write(
        TableSpec(name="audit", write_disposition="append"),
        spark.createDataFrame([(1, "seed")], "id long, note string"),
    )
    txn2 = catalog.transaction("gate")
    txn2.write(
        TableSpec(name="audit", write_disposition="append"),
        spark.createDataFrame([(2, "staged")], "id long, note string"),
    )
    writer.write(
        TableSpec(name="audit", write_disposition="append"),
        spark.createDataFrame([(3, "foreign")], "id long, note string"),
    )
    try:
        txn2.commit()
        raise AssertionError("overtaken transaction must not publish")
    except CommitConflictError:
        pass
    txn2.rollback()
    notes = {
        r.note for r in catalog.load_table("gate", "audit").read().collect()
    }
    assert notes == {"seed", "foreign"}, notes
    return catalog


@query(
    "lake_multi_table_txn",
    f"""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_fact,
           CAST(count(*) AS BIGINT) AS n_orders,
           {_sql_rnd('SUM(o_totalprice)')} AS total_price
    FROM orders GROUP BY 1
    """,
    doc=(
        "Multi-table transaction (lake/transaction.py — Iceberg REST "
        "commitTransaction shape): odds append to the fact table and the "
        "per-status summary lands in a SECOND table inside one "
        "transaction; staging rides per-txn WAP branches, publish is an "
        "intent-logged all-or-nothing pointer flip.  In-process "
        "assertions pin the isolation story: pre-commit main sees only "
        "the seeded evens and an EMPTY summary; a second transaction "
        "whose fork is overtaken by a foreign writer raises and "
        "publishes nothing.  The oracle recomputes both tables' contents "
        "from raw orders — a hash match proves fact and summary "
        "published consistently (the same atomic cut)."
    ),
    setup=_lake_multi_table_txn_setup,
)
def lake_multi_table_txn(spark: SparkSession, sf_dir: str, catalog) -> DataFrame:
    fact_n = (
        catalog.load_table("gate", "fact")
        .read()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_fact"))
    )
    summary = catalog.load_table("gate", "summary").read()
    return fact_n.join(summary, on="o_orderstatus").select(
        "o_orderstatus",
        F.col("n_fact").cast("long").alias("n_fact"),
        F.col("n_orders").cast("long").alias("n_orders"),
        rnd(F.col("total_price")).alias("total_price"),
    )


def _lake_expectations_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    writer.write(
        TableSpec(
            name="docs",
            write_disposition="append",
            expectations={
                "known_lang": "lang IN ('en','de','fr')",
                "long_enough": "n_chars >= 150",
            },
            on_violation="quarantine",
            batch_expectations={
                "enough_clean_rows": "count(*) >= 100",
                "lang_mostly_nonnull":
                    "sum(cast(lang IS NULL AS int)) / count(*) < 0.01",
            },
        ),
        docs,
    )
    return catalog


@query(
    "lake_expectations",
    """
    SELECT doc_id, lang, n_chars,
           CASE WHEN n_chars >= 150 AND lang IN ('en','de','fr')
                THEN 'kept' ELSE 'quarantined' END AS status,
           CASE WHEN n_chars >= 150 AND lang IN ('en','de','fr') THEN ''
                ELSE concat_ws(',',
                    CASE WHEN NOT (lang IN ('en','de','fr')) THEN 'known_lang' END,
                    CASE WHEN n_chars < 150 THEN 'long_enough' END)
           END AS violated
    FROM documents
    """,
    doc=(
        "Write-time expectations on the REAL write path (TableSpec("
        "expectations=..., on_violation='quarantine') — Delta Live "
        "Tables data contracts): documents land through the dispositions "
        "with two quality predicates; passing rows publish to the table, "
        "violating rows divert to <table>__quarantine with their "
        "_violated_expectations reasons.  The query unions both tables "
        "back with status + sorted reason list; the oracle recomputes "
        "the split with CASE over the raw fixture, so a hash match "
        "proves routing AND per-row reason attribution.  The write also "
        "carries an aggregate contract (batch_expectations: clean rows "
        ">= 100, null-lang fraction < 1%) evaluated over what LANDS — "
        "the same single counting pass — so the gate exercises both "
        "contract kinds."
    ),
    setup=_lake_expectations_setup,
)
def lake_expectations(spark: SparkSession, sf_dir: str, catalog) -> DataFrame:
    kept = (
        catalog.load_table("gate", "docs")
        .read()
        .select(
            "doc_id", "lang", "n_chars",
            F.lit("kept").alias("status"),
            F.lit("").alias("violated"),
        )
    )
    quarantined = (
        catalog.load_table("gate", "docs__quarantine")
        .read()
        .select(
            "doc_id", "lang", "n_chars",
            F.lit("quarantined").alias("status"),
            F.array_join(
                F.array_sort("_violated_expectations"), ","
            ).alias("violated"),
        )
    )
    return kept.unionByName(quarantined)


def _stream_lake_tail_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    for i, half in enumerate((0, 1)):
        writer.write(
            TableSpec(name="orders", write_disposition="append"),
            orders.filter(F.col("o_orderkey") % 2 == half),
            load_id=f"tail{i}",
        )
    return catalog.load_table("gate", "orders").location


@query(
    "stream_lake_tail",
    f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           {_sql_rnd('o_totalprice')} AS total_price, o_orderdate
    FROM orders
    """,
    doc=(
        "LakeTable as a Structured Streaming SOURCE (streaming/source.py — "
        "Iceberg streaming-read parity via PySpark 4's Python Data Source "
        "API): orders land in TWO append snapshots, then a real streaming "
        "query (availableNow trigger, memory sink) tails the table from "
        "the beginning — snapshot versions as offsets, one partition per "
        "data file, Arrow batches read executor-side.  The oracle is the "
        "full orders projection: offset planning, file diffing, and the "
        "Arrow reader all sit on the value-hash path.  Each invocation "
        "re-runs the stream end-to-end (only the table build is cached)."
    ),
    setup=_stream_lake_tail_setup,
)
def stream_lake_tail(spark: SparkSession, sf_dir: str, location) -> DataFrame:
    import uuid

    from dlt_iceberg_spark.streaming.micro_batch import await_stream
    from dlt_iceberg_spark.streaming.source import read_stream

    name = f"stream_tail_{uuid.uuid4().hex[:8]}"
    q = (
        read_stream(spark, location, from_beginning=True)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return spark.table(name).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        rnd(F.col("o_totalprice")).alias("total_price"),
        "o_orderdate",
    )


def _stream_lake_changes_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    writer.write(
        TableSpec(name="orders", write_disposition="append"),
        orders.filter(F.col("o_orderkey") % 2 == 0),
    )
    catalog.load_table("gate", "orders").update_where(
        [("o_custkey", "<", 50)], {"o_orderstatus": "X"}
    )
    writer.write(
        TableSpec(name="orders", write_disposition="append"),
        orders.filter(F.col("o_orderkey") % 2 == 1),
    )
    return catalog.load_table("gate", "orders").location


@query(
    "stream_lake_changes",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
           'insert' AS _change_type
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, 'delete'
    FROM orders WHERE o_orderkey % 2 = 0 AND o_custkey < 50
    UNION ALL
    SELECT o_orderkey, o_custkey, 'X', o_orderdate, 'insert'
    FROM orders WHERE o_orderkey % 2 = 0 AND o_custkey < 50
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, 'insert'
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    doc=(
        "CDC STREAMING source (read_stream(..., changes=True), "
        "streaming/source.py — the streaming twin of read_changes, "
        "Iceberg changelog-scan parity): the same mutation history as "
        "lake_cdc_changelog (append evens, MoR update_where flips "
        "o_custkey<50 to 'X' via position deletes, append odds) tailed "
        "as a REAL streaming query; executors materialize delete/insert "
        "images from parquet + delete files via Arrow, applying the "
        "parent's MoR masks so already-dead rows are never re-deleted.  "
        "The oracle reconstructs all four image sets from the raw "
        "fixture — identical to the batch changelog oracle, so the "
        "stream is held to the exact batch semantics on the value-hash "
        "path.  Each invocation re-runs the stream end-to-end."
    ),
    setup=_stream_lake_changes_setup,
)
def stream_lake_changes(spark: SparkSession, sf_dir: str, location) -> DataFrame:
    import uuid

    from dlt_iceberg_spark.streaming.micro_batch import await_stream
    from dlt_iceberg_spark.streaming.source import read_stream

    name = f"stream_cdc_{uuid.uuid4().hex[:8]}"
    q = (
        read_stream(spark, location, from_beginning=True, changes=True)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return spark.table(name).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "_change_type"
    )


def _stream_lake_mirror_setup(spark: SparkSession, sf_dir: str, root: str):
    import os

    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, os.path.join(root, "wh"))
    writer = LakeWriter(catalog, "gate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    writer.write(
        TableSpec(
            name="orders", write_disposition="append", primary_key=["o_orderkey"]
        ),
        orders.filter(F.col("o_orderkey") % 2 == 0),
    )
    src = catalog.load_table("gate", "orders")
    src.update_where([("o_custkey", "<", 50)], {"o_orderstatus": "X"})
    catalog.load_table("gate", "orders").position_delete_where(
        [("o_custkey", ">=", 140)]
    )
    writer.write(
        TableSpec(
            name="orders", write_disposition="append", primary_key=["o_orderkey"]
        ),
        orders.filter(F.col("o_orderkey") % 2 == 1),
    )
    ckpt = os.path.join(root, "ckpt")
    return (catalog, writer, catalog.load_table("gate", "orders").location, ckpt)


@query(
    "stream_lake_mirror",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 2 = 0 AND o_custkey < 50
                THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
           o_orderdate
    FROM orders
    WHERE NOT (o_orderkey % 2 = 0 AND o_custkey >= 140)
    """,
    doc=(
        "Streaming table MIRROR (streaming/mirror.py — the CDC source's "
        "canonical consumer): the source takes an append, a MoR "
        "update_where, a position-delete sweep, and a second append; "
        "stream_mirror replicates it through a real streaming query — "
        "each epoch's images collapse to one merge-shaped row per key and "
        "land via the delete-insert disposition.  The oracle reconstructs "
        "the source's FINAL state from the raw fixture, so a hash match "
        "proves update propagation, delete propagation, and idempotent "
        "epoch replay end-to-end.  Each invocation re-drains the stream "
        "against its checkpoint (a no-op epoch) before reading."
    ),
    setup=_stream_lake_mirror_setup,
)
def stream_lake_mirror(spark: SparkSession, sf_dir: str, fixture) -> DataFrame:
    from dlt_iceberg_spark.streaming.micro_batch import await_stream
    from dlt_iceberg_spark.streaming.mirror import stream_mirror

    catalog, writer, location, ckpt = fixture
    q = stream_mirror(
        spark, location, writer, "orders_mirror", ["o_orderkey"], ckpt,
        query_name="gate_mirror",
    )
    await_stream(q)
    return (
        catalog.load_table("gate", "orders_mirror")
        .read()
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
    )


def _stream_lake_sink_setup(spark: SparkSession, sf_dir: str, root: str):
    import os

    from dlt_iceberg_spark.streaming.micro_batch import await_stream
    from dlt_iceberg_spark.streaming.source import register_lake_stream_source

    register_lake_stream_source(spark)
    src_dir = os.path.join(root, "in")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    orders.write.parquet(os.path.join(src_dir, "p1"))
    location = os.path.join(root, "orders")
    q = (
        spark.readStream.schema(orders.schema)
        .parquet(src_dir + "/*")
        .writeStream.format("laketable")
        .option("location", location)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return location


@query(
    "stream_lake_sink",
    f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           {_sql_rnd('o_totalprice')} AS total_price, o_orderdate
    FROM orders
    """,
    doc=(
        "Native streaming SINK (`writeStream.format('laketable')`, "
        "streaming/sink.py): orders flow as a file stream through the "
        "Python Data Source sink — executor-side Arrow→parquet staging "
        "with per-file min/max stats, one atomic snapshot per epoch, "
        "replay-safe batch markers — and the read back from the landed "
        "LakeTable must hash-match the plain orders oracle.  Table build "
        "(one streaming query) is cached; the read is live each call."
    ),
    setup=_stream_lake_sink_setup,
)
def stream_lake_sink(spark: SparkSession, sf_dir: str, location) -> DataFrame:
    from dlt_iceberg_spark.lake.table import LakeTable

    return LakeTable(spark, location).read().select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        rnd(F.col("o_totalprice")).alias("total_price"),
        "o_orderdate",
    )


def _stream_sink_partitioned_setup(spark: SparkSession, sf_dir: str, root: str):
    import os

    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec
    from dlt_iceberg_spark.streaming.micro_batch import await_stream
    from dlt_iceberg_spark.streaming.source import register_lake_stream_source

    register_lake_stream_source(spark)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    seed = orders.filter(F.col("o_orderkey") % 100 == 0)
    rest = orders.filter(F.col("o_orderkey") % 100 != 0)
    catalog = LakeCatalog(spark, os.path.join(root, "wh"))
    LakeWriter(catalog, "gate").write(
        TableSpec(
            name="orders_p",
            write_disposition="append",
            column_hints={"o_orderstatus": {"x-partition": True}},
        ),
        seed,
    )
    table = catalog.load_table("gate", "orders_p")
    src_dir = os.path.join(root, "in")
    rest.write.parquet(os.path.join(src_dir, "p1"))
    q = (
        spark.readStream.schema(table.schema())
        .parquet(src_dir + "/*")
        .writeStream.format("laketable")
        .option("location", table.location)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    # in-process pin: stream-landed files cluster one status per file
    snap = table.snapshot()
    assert all(
        f.partition.get("o_orderstatus") is not None for f in snap.files
    ), "stream-landed file without partition metadata"
    return table


@query(
    "stream_sink_partitioned",
    f"""
    SELECT o_orderstatus, count(*) AS cnt,
           {_sql_rnd('sum(o_totalprice)')} AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc=(
        "Partitioned table through the NATIVE streaming sink "
        "(streaming/sink.py): a status-partitioned target is seeded by the "
        "batch writer, the remaining orders flow through "
        "writeStream.format('laketable') — executor tasks split each Arrow "
        "batch by partition tuple and land one file per tuple with full "
        "partition metadata — and the per-status aggregate over the "
        "PRUNED per-partition reads must hash-match the plain GROUP BY "
        "oracle.  In-process pin: every stream-landed file carries its "
        "partition tuple and holds exactly one status."
    ),
    setup=_stream_sink_partitioned_setup,
)
def stream_sink_partitioned(spark: SparkSession, sf_dir: str, table) -> DataFrame:
    return (
        table.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            rnd(F.sum("o_totalprice")).alias("total_price"),
        )
    )


def _lake_clone_retention_setup(spark: SparkSession, sf_dir: str, root: str):
    from datetime import timedelta

    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.maintenance import expire_snapshots, remove_orphan_files
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    writer.write(
        TableSpec(name="orders", write_disposition="append"),
        orders.filter(F.col("o_orderkey") % 4 == 0),
    )
    clone = catalog.clone_table("gate", "orders", "sandbox", "orders_c")
    # carried sequences re-stamped below the clone's first commit
    seqs = {f.sequence for f in clone.snapshot().files}
    assert clone.current_version() > max(seqs), (clone.current_version(), seqs)
    # source moves on: full replace, then aggressive retention
    writer.write(
        TableSpec(name="orders", write_disposition="replace"),
        orders.filter(F.col("o_orderkey") % 4 == 1),
    )
    src = catalog.load_table("gate", "orders")
    res = expire_snapshots(src, older_than=timedelta(seconds=0), keep_last=1)
    assert res["snapshots"] >= 1, res
    assert res["clone_pinned_files"] > 0, res
    remove_orphan_files(src, older_than=timedelta(seconds=0))
    return catalog.load_table("sandbox", "orders_c")


@query(
    "lake_clone_retention",
    f"""
    SELECT o_orderstatus, count(*) AS cnt,
           {_sql_rnd('sum(o_totalprice)')} AS total_price
    FROM orders
    WHERE o_orderkey % 4 = 0
    GROUP BY o_orderstatus
    """,
    doc=(
        "Clone-aware retention end to end (lake/catalog.py clone back-refs "
        "+ lake/maintenance.py pins): clone a source, then REPLACE the "
        "source's content and aggressively expire + orphan-sweep it — the "
        "clone's files are pinned by the live back-reference, and the "
        "clone must still read its cloned-at state bit-exactly (the "
        "oracle states that original subset).  In-process pins: the sweep "
        "actually expired snapshots, and the clone's carried sequences "
        "were re-stamped compactly below its first commit."
    ),
    setup=_lake_clone_retention_setup,
)
def lake_clone_retention(spark: SparkSession, sf_dir: str, clone) -> DataFrame:
    return (
        clone.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            rnd(F.sum("o_totalprice")).alias("total_price"),
        )
    )


def _lake_stats_pushdown_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    writer.write(
        TableSpec(name="orders", write_disposition="append"),
        _t(spark, sf_dir, "orders"),
    )
    return catalog.load_table("gate", "orders")


@query(
    "lake_stats_pushdown",
    """
    SELECT count(*) AS cnt,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
           min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status
    FROM orders
    """,
    doc=(
        "End-to-end table format + metadata aggregate pushdown: write the "
        "orders fixture through LakeWriter (append disposition, footer "
        "stats, chunked manifests), then answer count/min/max from "
        "manifest aggregates alone (Snapshot.aggregate_stats — zero data "
        "reads).  The oracle recomputes the same aggregates from the raw "
        "parquet, so a wrong footer stat, manifest range, or row count "
        "anywhere in the write path fails the hash check."
    ),
    setup=_lake_stats_pushdown_setup,
)
def lake_stats_pushdown(spark: SparkSession, sf_dir: str, table) -> DataFrame:
    stats = table.aggregate_stats(["o_orderkey", "o_totalprice", "o_orderstatus"])
    assert stats is not None  # append-only, all columns stats-bearing
    row = (
        stats["count"],
        stats["min_o_orderkey"],
        stats["max_o_orderkey"],
        stats["min_o_totalprice"],
        stats["max_o_totalprice"],
        stats["min_o_orderstatus"],
        stats["max_o_orderstatus"],
    )
    return spark.createDataFrame(
        [row],
        "cnt long, min_key long, max_key long, min_price double, "
        "max_price double, min_status string, max_status string",
    )


def _lake_bucket_pruning_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    writer.write(
        TableSpec(
            name="orders",
            write_disposition="append",
            column_hints={
                "o_orderkey": {
                    "partition": True,
                    "x-partition-transform": "bucket[8]",
                }
            },
        ),
        _t(spark, sf_dir, "orders"),
    )
    return catalog.load_table("gate", "orders")


@query(
    "lake_bucket_pruning",
    f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           {_sql_rnd('o_totalprice')} AS totalprice, o_orderpriority
    FROM orders
    WHERE o_orderkey IN (SELECT min(o_orderkey) FROM orders)
       OR o_orderkey IN (SELECT max(o_orderkey) FROM orders)
    """,
    doc=(
        "Transform-aware partition pruning through the ACTUAL table "
        "format: orders lands bucket[8]-partitioned on o_orderkey (hive "
        "layout, per-file partition tuples in the manifests), then a "
        "two-key point lookup is planned by rewriting the probes through "
        "the same bucket transform the writer used — min/max stats CANNOT "
        "prune here (every file's key range spans the hash-mixed key "
        "space), so the in-process assertion that ≤ 2 buckets' files were "
        "opened proves the partition rewrite specifically.  The oracle is "
        "the plain SQL point lookup, hash-checking the masked scan."
    ),
    setup=_lake_bucket_pruning_setup,
)
def lake_bucket_pruning(spark: SparkSession, sf_dir: str, table) -> DataFrame:
    snap = table.snapshot()
    stats = snap.aggregate_stats(["o_orderkey"])  # metadata-only min/max
    probes = [stats["min_o_orderkey"], stats["max_o_orderkey"]]
    where = [("o_orderkey", "in", probes)]
    _, files = table._select_files(snap, where)
    # the proof that the TRANSFORM rewrite pruned (stats never could):
    # surviving files span at most the two probed buckets' file sets
    assert len({f.partition.get("o_orderkey_bucket") for f in files}) <= 2
    assert len(files) <= 2 * -(-snap.n_files // 8) + 2, (len(files), snap.n_files)
    return table.read(where=where).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        rnd(F.col("o_totalprice")).alias("totalprice"),
        "o_orderpriority",
    )


def _lake_bloom_pruning_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    li = _t(spark, sf_dir, "lineitem")
    # ~2k distinct orderkeys per file keeps the bloom load factor
    # ~0.25 (FPR < 1%) at any sf; cap mirrors a real table's
    # files-per-load bound
    n_orders = li.select("l_orderkey").distinct().count()
    n_parts = min(256, max(8, n_orders // 2000))
    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    writer.write(
        TableSpec(
            name="lineitem",
            write_disposition="append",
            bloom_filter_columns=["l_orderkey"],
        ),
        li.repartition(n_parts, F.col("l_orderkey")),
    )
    return catalog.load_table("gate", "lineitem")


@query(
    "lake_bloom_pruning",
    f"""
    WITH probe AS (
      SELECT min(l_orderkey) AS k FROM (
        SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING count(*) = 1
      )
    )
    SELECT l.l_orderkey AS okey, l.l_linenumber AS lineno,
           {_sql_rnd('l.l_quantity')} AS qty,
           {_sql_rnd('l.l_extendedprice')} AS price,
           l.l_returnflag AS rflag, l.l_shipdate AS sdate
    FROM lineitem l, probe p
    WHERE l.l_orderkey = p.k
    """,
    doc=(
        "Manifest Bloom-filter file skipping (lake/bloom.py): lineitem "
        "lands hash-clustered on l_orderkey with NO partition spec — the "
        "merge-output shape where every file's [min,max] key range spans "
        "the whole keyspace, so stats and partition pruning are both "
        "blind.  A point lookup on a single-line order is planned through "
        "the per-file blooms (one xxhash64, Guava-split double hashing, m "
        "bits per file; on a local warehouse the per-file footer-stats "
        "pass builds them, table._scan_staged_file), and "
        "the in-process assertion that bloom planning opened at most a "
        "quarter of the stats-planned files proves the skip.  File count "
        "scales with corpus NDV so the per-file load factor stays below "
        "saturation at any sf.  The oracle replays the identical lookup "
        "(probe key derived in SQL) over the raw parquet, hash-checking "
        "the bloom-masked scan end-to-end."
    ),
    setup=_lake_bloom_pruning_setup,
)
def lake_bloom_pruning(spark: SparkSession, sf_dir: str, table) -> DataFrame:
    snap = table.snapshot()
    # deterministic probe, same derivation as the oracle SQL: the
    # smallest single-line order (1-value driver collect)
    li_raw = _t(spark, sf_dir, "lineitem")
    probe = (
        li_raw.groupBy("l_orderkey")
        .count()
        .filter(F.col("count") == 1)
        .agg(F.min("l_orderkey"))
        .collect()[0][0]
    )
    where = [("l_orderkey", "=", probe)]
    _, files = table._select_files(snap, where)
    # min/max stats keep every file here (hash-scattered key ranges);
    # only the blooms can skip — the proof of the feature
    assert len(files) <= max(3, snap.n_files // 4), (len(files), snap.n_files)
    return table.read(where=where).select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        rnd(F.col("l_quantity")).alias("qty"),
        rnd(F.col("l_extendedprice")).alias("price"),
        F.col("l_returnflag").alias("rflag"),
        F.col("l_shipdate").alias("sdate"),
    )


@query(
    "dsir_select",
    # Full replay of DSIR (Xie et al. 2023, operators/dsir.py): hashed
    # unigram+bigram features (md5 buckets), Laplace-smoothed target/raw
    # log-likelihood-ratio weights, per-doc importance scores, and the
    # paper's Gumbel resampling with DETERMINISTIC md5-uniform noise —
    # every stage is engine-portable arithmetic, so the whole selection is
    # hash-verified end-to-end.
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_concat(
               t,
               CASE WHEN len(t) >= 2
                    THEN [t[i] || ' ' || t[i+1] for i in generate_series(1, len(t) - 1)]
                    ELSE [] END
             )) AS g
      FROM toks
    ),
    feats AS (
      SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT % 256 AS b,
             count(*) AS c
      FROM grams GROUP BY 1, 2
    ),
    tgt AS (
      SELECT b, sum(c) AS tc
      FROM feats JOIN documents USING (doc_id)
      WHERE lang = 'en' GROUP BY 1
    ),
    raw AS (SELECT b, sum(c) AS rc FROM feats GROUP BY 1),
    tot AS (SELECT (SELECT sum(tc) FROM tgt) AS tt, (SELECT sum(rc) FROM raw) AS rt),
    w AS (
      SELECT r.b,
             ln((coalesce(tc, 0) + 1.0) / (tt + 256.0))
               - ln((rc + 1.0) / (rt + 256.0)) AS lw
      FROM raw r LEFT JOIN tgt t ON r.b = t.b CROSS JOIN tot
    ),
    scores AS (
      SELECT doc_id, sum(c * lw) AS log_importance
      FROM feats JOIN w ON feats.b = w.b GROUP BY 1
    ),
    keyed AS (
      SELECT doc_id, log_importance,
             log_importance + (
               -ln(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'dsir0'), 1, 13))::BIGINT::DOUBLE + 1.0)
                        / 4503599627370498.0))
             ) AS gumbel_key
      FROM scores
    )
    SELECT doc_id,
           floor(log_importance * 1000000.0 + 0.5) / 1000000.0 AS log_importance,
           floor(gumbel_key * 1000000.0 + 0.5) / 1000000.0 AS gumbel_key,
           rn AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS rn
          FROM keyed)
    WHERE rn <= 100
    """,
    doc=(
        "DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169): "
        "select documents whose hashed-n-gram distribution matches a target "
        "corpus (here lang='en') via bag-of-n-grams likelihood ratios + "
        "deterministic Gumbel resampling (operators/dsir.py).  Features are "
        "map-side codegen expressions; both model fits are n_buckets-row "
        "aggregates; the weight table broadcasts; only two real shuffles."
    ),
)
def dsir_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.dsir import dsir_select

    d = _t(spark, sf_dir, "documents")
    out = dsir_select(
        d,
        d.filter(F.col("lang") == "en"),
        keep_n=100,
        n_buckets=256,
        noise=1.0,
        seed="dsir0",
    )
    return out.select(
        "doc_id",
        rnd(F.col("log_importance"), 6).alias("log_importance"),
        rnd(F.col("gumbel_key"), 6).alias("gumbel_key"),
        F.col("rank").cast("long").alias("rank"),
    )


@query(
    "lm_perplexity",
    # Exact replay of the CCNet-style bigram-LM filter (operators/lm.py):
    # counts + add-k smoothing + ln are engine-portable arithmetic.  The
    # ntile bucket stays OUT of the gate output (equal-frequency boundaries
    # can flip on last-ulp float ties across engines); the score itself is
    # the contract.
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, lang, t,
             unnest(generate_series(1, len(t) - 1)) AS i
      FROM toks WHERE len(t) >= 2
    ),
    flat AS (SELECT doc_id, lang, t[i] AS prev, t[i + 1] AS w FROM pos),
    bg AS (SELECT prev, w, count(*) AS c FROM flat WHERE lang = 'en' GROUP BY 1, 2),
    ctx AS (SELECT prev, sum(c) AS ct FROM bg GROUP BY 1),
    v AS (
      SELECT count(DISTINCT x) AS vs
      FROM (SELECT unnest(t) AS x FROM toks WHERE lang = 'en')
    ),
    scored AS (
      SELECT f.doc_id,
             ln((coalesce(bg.c, 0) + 0.5) / (coalesce(ctx.ct, 0) + 0.5 * v.vs)) AS lp
      FROM flat f
      LEFT JOIN bg ON f.prev = bg.prev AND f.w = bg.w
      LEFT JOIN ctx ON f.prev = ctx.prev
      CROSS JOIN v
    )
    SELECT doc_id, count(*) AS n_scored,
           floor(avg(lp) * 1000000.0 + 0.5) / 1000000.0 AS logp_mean
    FROM scored GROUP BY 1
    """,
    doc=(
        "CCNet-style LM quality filter (Wenzek 2020 / Rae 2021): mean token "
        "log-prob under an add-k bigram model trained on the target slice "
        "(lang='en') — operators/lm.py.  Model tables are key-joined "
        "aggregates (never broadcast-required, never driver-resident), "
        "token-pair explode is map-side, one doc-keyed shuffle for the mean."
    ),
)
def lm_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.lm import lm_score, train_bigram_lm

    d = _t(spark, sf_dir, "documents")
    bigrams, contexts, vocab = train_bigram_lm(d.filter(F.col("lang") == "en"))
    out = lm_score(d, bigrams, contexts, vocab)
    return out.select(
        "doc_id",
        F.col("n_scored").cast("long").alias("n_scored"),
        rnd(F.col("logp_mean"), 6).alias("logp_mean"),
    )


@query(
    "multimodal_image_dedup",
    # The composed 100 TB image-corpus dedup shape: decode → embed →
    # near-dup pairs, end-to-end.  The stand-in decoder derives 16 floats
    # from sha256(payload) (deterministic, codec stubbed — container has no
    # PIL), so the oracle replays the features bit-exactly (::FLOAT
    # matches the array<float> schema's rounding; fixture is pure ASCII so
    # sha256(VARCHAR) == sha256 of the UTF-8 payload bytes) and brute-force
    # verifies the distributed blocked-BLAS pair kernel on top of them.
    r"""
    WITH f AS (SELECT doc_id, sha256(text) AS h FROM documents),
         v AS (
           SELECT doc_id,
                  [((('0x' || substr(h, 2 * i + 1, 2))::INT) / 255.0)::FLOAT::DOUBLE
                   for i in generate_series(0, 15)] AS feat
           FROM f
         )
    SELECT a.doc_id AS a, b.doc_id AS b,
           floor(list_cosine_similarity(a.feat, b.feat) * 1000000.0 + 0.5)
             / 1000000.0 AS cosine
    FROM v a JOIN v b ON a.doc_id < b.doc_id
    WHERE list_cosine_similarity(a.feat, b.feat) >= 0.95
    """,
    doc=(
        "Composed multimodal pipeline: image decode (Arrow-batched "
        "mapInPandas, payload bytes never shuffle) → feature embedding → "
        "exact near-dup pairs via the distributed block-pair BLAS kernel "
        "(operators/multimodal.py + similarity.py) — the image-corpus dedup "
        "shape at 100 TB, hash-verified end-to-end over the deterministic "
        "stand-in decoder."
    ),
)
def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.multimodal import decode_image_features
    from dlt_iceberg_spark.operators.similarity import all_pairs_cosine_blocked

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("payload", F.encode("text", "UTF-8"))
        .select("doc_id", "payload")
    )
    feats = decode_image_features(d, fake=True).select("doc_id", "feature")
    # decode is 1:1, so the block-grid row count can come from the parquet
    # side (metadata count) instead of count()-ing THROUGH the decode stage,
    # which would run the whole Arrow decode pass a second time
    pairs = all_pairs_cosine_blocked(
        feats, "feature", "doc_id", threshold=0.95, block_rows=256,
        n_rows=d.count(),
    )
    return pairs.select("a", "b", rnd(F.col("cosine"), 6).alias("cosine"))


def _lake_ndv_stats_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake import table as table_mod
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.maintenance import compute_table_stats
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    spec = TableSpec(
        name="cust",
        write_disposition="append",
        ndv_sketch_columns=["c_mktsegment", "c_nationkey"],
    )
    # two loads -> sketches must merge across manifests
    writer.write(spec, cust.filter(F.col("c_custkey") % 2 == 0))
    writer.write(spec, cust.filter(F.col("c_custkey") % 2 == 1))
    t_w = catalog.load_table("gate", "cust")
    # ANALYZE path: unsketched write, then compute_table_stats backfill
    writer.write(TableSpec(name="cust_raw", write_disposition="append"), cust)
    t_a = catalog.load_table("gate", "cust_raw")
    assert t_a.approx_distinct(["c_mktsegment"]) is None  # honest refusal
    compute_table_stats(t_a, ["c_mktsegment", "c_nationkey"])
    # both probes must be metadata-only: any data scan raises
    real = table_mod.LakeTable._plan_scan

    def boom(self, *a, **kw):
        raise AssertionError("approx_distinct must not scan data")

    table_mod.LakeTable._plan_scan = boom
    try:
        ndv_w = t_w.approx_distinct(["c_mktsegment", "c_nationkey"])
        ndv_a = t_a.approx_distinct(["c_mktsegment", "c_nationkey"])
    finally:
        table_mod.LakeTable._plan_scan = real
    assert ndv_w["c_mktsegment"]["exact"] and ndv_a["c_nationkey"]["exact"]
    rows = [
        ("write_mktsegment", ndv_w["c_mktsegment"]["ndv"]),
        ("write_nationkey", ndv_w["c_nationkey"]["ndv"]),
        ("analyze_mktsegment", ndv_a["c_mktsegment"]["ndv"]),
        ("analyze_nationkey", ndv_a["c_nationkey"]["ndv"]),
    ]
    return rows


@query(
    "lake_ndv_stats",
    """
    SELECT 'write_mktsegment' AS probe,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS ndv
    FROM customer
    UNION ALL
    SELECT 'write_nationkey', CAST(COUNT(DISTINCT c_nationkey) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'analyze_mktsegment', CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'analyze_nationkey', CAST(COUNT(DISTINCT c_nationkey) AS BIGINT)
    FROM customer
    """,
    doc=(
        "NDV statistics pushdown (LakeTable.approx_distinct / "
        "Dataset.aggregate(distinct=...) — Iceberg's compute_table_stats "
        "theta-sketch statistics, Spark-first as per-file KMV sketches in "
        "the manifests): customer lands in TWO appended loads with "
        "write-time ndv_sketch_columns, so the probe merges sketches "
        "across commits; a second unsketched table is backfilled with "
        "maintenance.compute_table_stats (ANALYZE).  Both probes answer "
        "from O(manifest refs) metadata — an in-process assertion pins "
        "ZERO data scans — and are EXACT because the true NDV (5 "
        "segments, 25 nations) is below the sketch size k=256.  The "
        "oracle recomputes both with plain COUNT(DISTINCT); a hash match "
        "proves metadata NDV equals scanning."
    ),
    setup=_lake_ndv_stats_setup,
)
def lake_ndv_stats(spark: SparkSession, sf_dir: str, rows) -> DataFrame:
    return spark.createDataFrame(rows, "probe string, ndv long")


def _lake_sketch_overlap_setup(spark: SparkSession, sf_dir: str, root: str):
    import math

    from dlt_iceberg_spark.lake import table as table_mod
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.dataset import Dataset
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    writer.write(
        TableSpec(name="low", write_disposition="append",
                  ndv_sketch_columns=["l_quantity"]),
        li.filter(F.col("l_quantity") <= 30),
    )
    writer.write(
        TableSpec(name="high", write_disposition="append",
                  ndv_sketch_columns=["l_quantity"]),
        li.filter(F.col("l_quantity") >= 21),
    )
    ds = Dataset(catalog, "gate")
    # the sketch path must be metadata-only: any data scan raises
    real = table_mod.LakeTable._plan_scan

    def boom(self, *a, **kw):
        raise AssertionError("sketch overlap must not scan data")

    table_mod.LakeTable._plan_scan = boom
    try:
        est = ds.overlap("low", "high", "l_quantity")
    finally:
        table_mod.LakeTable._plan_scan = real
    assert est["exact"]
    row = (
        est["distinct_a"],
        est["distinct_b"],
        est["intersection"],
        math.floor(est["jaccard"] * 10**6 + 0.5) / 10**6,
        bool(est["exact"]),
    )
    return row


@query(
    "lake_sketch_overlap",
    """
    WITH a AS (SELECT DISTINCT l_quantity AS v FROM lineitem WHERE l_quantity <= 30),
         b AS (SELECT DISTINCT l_quantity AS v FROM lineitem WHERE l_quantity >= 21),
         i AS (SELECT count(*) AS c FROM (SELECT v FROM a INTERSECT SELECT v FROM b)),
         u AS (SELECT count(*) AS c FROM (SELECT v FROM a UNION SELECT v FROM b))
    SELECT CAST((SELECT count(*) FROM a) AS DOUBLE) AS distinct_a,
           CAST((SELECT count(*) FROM b) AS DOUBLE) AS distinct_b,
           CAST((SELECT c FROM i) AS DOUBLE) AS intersection,
           floor((SELECT c FROM i) / CAST((SELECT c FROM u) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS jaccard,
           TRUE AS exact
    """,
    doc=(
        "Cross-TABLE overlap from STORED statistics (Dataset.overlap over "
        "Snapshot.ndv_sketch): two lake tables land with write-time KMV "
        "sketches on l_quantity, then their distinct counts, intersection "
        "and Jaccard combine from the two snapshot-level sketches "
        "driver-side in O(k) — an in-process assertion pins ZERO data "
        "scans.  EXACT because both sides' true NDV (30 quantity values "
        "each, overlapping in 21..30) sits below k=256; the estimator "
        "path and the unsketched scan fallback are pytest-pinned.  This "
        "is the 100 TB cross-corpus pre-flight: answer 'how much do "
        "these two corpora share?' from table stats before paying for "
        "any join.  The oracle recomputes the overlap with plain set "
        "algebra; a hash match proves sketch set-ops equal scanning."
    ),
    setup=_lake_sketch_overlap_setup,
)
def lake_sketch_overlap(spark: SparkSession, sf_dir: str, row) -> DataFrame:
    return spark.createDataFrame(
        [row],
        "distinct_a double, distinct_b double, intersection double, "
        "jaccard double, exact boolean",
    )


def _lake_partition_ndv_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake import table as table_mod
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.dataset import Dataset
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    writer = LakeWriter(catalog, "gate")
    writer.write(
        TableSpec(
            name="li",
            write_disposition="append",
            column_hints={"l_returnflag": {"partition": True}},
            ndv_sketch_columns=["l_quantity", "l_linestatus"],
        ),
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_quantity", "l_linestatus"
        ),
    )
    ds = Dataset(catalog, "gate")
    real = table_mod.LakeTable._plan_scan

    def boom(self, *a, **kw):
        raise AssertionError("grouped NDV must not scan data")

    table_mod.LakeTable._plan_scan = boom
    try:
        got = ds.aggregate(
            "li", group_by="l_returnflag",
            distinct=["l_quantity", "l_linestatus"],
        )
    finally:
        table_mod.LakeTable._plan_scan = real
    assert isinstance(got, list) and got  # metadata path, not fallback
    rows = [
        (d["l_returnflag"], d["count"], d["ndv_l_quantity"], d["ndv_l_linestatus"])
        for d in got
    ]
    return rows


@query(
    "lake_partition_ndv",
    """
    SELECT l_returnflag AS g,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS ndv_qty,
           CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS ndv_status
    FROM lineitem GROUP BY 1
    """,
    doc=(
        "Per-partition EXACT distinct counts from metadata ("
        "aggregate_stats(group_by=..., distinct=...) / Dataset.aggregate "
        "— the 'distinct users per day' ops probe): lineitem lands "
        "identity-partitioned on l_returnflag with write-time KMV "
        "sketches on l_quantity/l_linestatus; per-group NDV then unions "
        "the groups' COMPLETE per-file sketches (each file's distinct-"
        "hash set, ≤ k entries) with ZERO data scans — an in-process "
        "monkeypatch assertion pins it.  Exact-only by contract: any "
        "truncated/stale-frame sketch refuses into the scan, so a "
        "grouped row never carries an estimate (column choice keeps "
        "per-file NDV below k=256 at EVERY sf).  The oracle recomputes "
        "the GROUP BY COUNT(DISTINCT)s with plain SQL."
    ),
    setup=_lake_partition_ndv_setup,
)
def lake_partition_ndv(spark: SparkSession, sf_dir: str, rows) -> DataFrame:
    return spark.createDataFrame(rows, "g string, n long, ndv_qty long, ndv_status long")


def _lake_clone_divergence_setup(spark: SparkSession, sf_dir: str, root: str):
    import os

    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, root)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    LakeWriter(catalog, "src").write(
        TableSpec(name="li", write_disposition="append"),
        li.filter(F.col("l_quantity") <= 40),
    )
    clone = catalog.clone_table("src", "li", "dev", "li2")
    data_dir = os.path.join(clone.location, "data")
    assert not os.path.isdir(data_dir) or not os.listdir(data_dir), (
        "clone must not copy data bytes"
    )
    LakeWriter(catalog, "dev").write(
        TableSpec(name="li2", write_disposition="append"),
        li.filter(F.col("l_quantity") > 40),
    )
    src_row = (
        catalog.load_table("src", "li")
        .read()
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
        .first()
    )
    clone_row = (
        catalog.load_table("dev", "li2")
        .read()
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
        .first()
    )
    rows = [
        ("source", src_row["n"], src_row["qty"]),
        ("clone", clone_row["n"], clone_row["qty"]),
    ]
    return rows


@query(
    "lake_clone_divergence",
    """
    SELECT 'source' AS side, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem WHERE l_quantity <= 40
    UNION ALL
    SELECT 'clone', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
    FROM (
      SELECT l_quantity FROM lineitem WHERE l_quantity <= 40
      UNION ALL
      SELECT l_quantity FROM lineitem WHERE l_quantity > 40
    )
    """,
    doc=(
        "Zero-copy clone + copy-on-write divergence (catalog.clone_table "
        "— Delta SHALLOW CLONE shape): lineitem (qty<=40) lands as the "
        "source table, clones metadata-only into another namespace (an "
        "in-process assertion pins that the clone's data dir holds ZERO "
        "files), then the qty>40 remainder appends ONLY to the clone.  "
        "Both sides then read through the normal scan path: the source "
        "must still see exactly the original rows and the clone the "
        "union — the oracle recomputes both row counts and quantity sums "
        "with plain SQL, proving reference-sharing never leaks writes in "
        "either direction."
    ),
    setup=_lake_clone_divergence_setup,
)
def lake_clone_divergence(spark: SparkSession, sf_dir: str, rows) -> DataFrame:
    return spark.createDataFrame(rows, "side string, n long, qty long")
