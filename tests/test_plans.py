"""Plan-quality regression tests for headline queries.

These pin the *shape* of the physical plan, not its results: filters reach
the parquet scan, projections prune columns, dimension joins broadcast, no
cartesian products. A change that keeps answers right but reads the whole
lake at 100 TB fails here.
"""

import os

import pytest

from dlt_iceberg_spark.plans import (
    assert_no_cartesian,
    broadcast_join_count,
    pushed_filters,
    scan_columns,
)
from dlt_iceberg_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def _q(spark, name):
    return REGISTRY[name].fn(spark, SF_DIR)


def test_q1_filter_pushed_and_columns_pruned(spark):
    df = _q(spark, "q1_pricing_summary")
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    (cols,) = scan_columns(df)
    # 7 columns used of 11 in lineitem — tax/price/qty/discount/flags/date
    assert "l_partkey" not in cols and "l_suppkey" not in cols
    assert {"l_returnflag", "l_linestatus", "l_quantity"} <= cols


def test_q6_all_filters_pushed(spark):
    df = _q(spark, "q6_revenue_delta")
    pushed = " ".join(pushed_filters(df))
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed, pushed
    (cols,) = scan_columns(df)
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q5_dims_broadcast_no_cartesian(spark):
    df = _q(spark, "q5_nation_revenue")
    assert broadcast_join_count(df) >= 4  # orders, customer, supplier, nation(+region)
    assert_no_cartesian(df)


def test_q3_selective_dim_filter_pushed(spark):
    df = _q(spark, "q3_unshipped_revenue")
    pushed = " ".join(pushed_filters(df))
    assert "c_mktsegment" in pushed and "o_orderdate" in pushed and "l_shipdate" in pushed


def test_events_hourly_prunes_props(spark):
    df = _q(spark, "events_hourly")
    cols = scan_columns(df)
    assert all("props" not in c for c in cols), cols


def test_merge_upsert_no_cartesian(spark):
    assert_no_cartesian(_q(spark, "merge_upsert"))


@pytest.mark.parametrize(
    "name",
    ["q10_returned_customers", "q18_large_orders", "q21_waiting_suppliers", "ann_cosine_topk"],
)
def test_headliners_no_cartesian(spark, name):
    assert_no_cartesian(_q(spark, name))


def test_asof_join_single_shuffle(spark):
    from dlt_iceberg_spark.plans import exchange_count

    df = _q(spark, "events_asof_last_signup")
    # union + one keyed sort: no join node, bounded exchanges
    assert exchange_count(df) <= 2
    assert_no_cartesian(df)


@pytest.mark.parametrize("name", ["events_interval_join", "events_funnel", "events_retention_cohorts", "dedup_simhash_pairs"])
def test_new_operators_no_cartesian(spark, name):
    assert_no_cartesian(_q(spark, name))


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located join: both sides bucketed+sorted on the key join with
    ZERO exchanges — the 100 TB pattern for repeated joins on one key."""
    from pyspark.sql import functions as F

    from dlt_iceberg_spark.plans import exchange_count, sort_merge_join_count

    import shutil
    import urllib.parse

    def _clear(name):
        # DROP alone is not enough: a run killed mid-save leaves the
        # warehouse LOCATION without a catalog entry, and every later
        # saveAsTable fails with LOCATION_ALREADY_EXISTS (VERDICT r5 #1)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        wh = urllib.parse.urlparse(
            spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        ).path
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        _clear("bt_left")
        _clear("bt_right")
        spark.range(1000).withColumn("v", F.col("id") % 7).write.bucketBy(
            8, "id"
        ).sortBy("id").mode("overwrite").saveAsTable("bt_left")
        spark.range(500).withColumn("w", F.col("id") % 3).write.bucketBy(
            8, "id"
        ).sortBy("id").mode("overwrite").saveAsTable("bt_right")
        joined = spark.table("bt_left").join(spark.table("bt_right"), "id")
        assert sort_merge_join_count(joined) == 1
        assert exchange_count(joined) == 0  # bucket layout replaces the shuffle
        assert joined.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        _clear("bt_left")
        _clear("bt_right")


@pytest.mark.slow
def test_registry_wide_no_cartesian(spark):
    """EVERY registered query must plan without a cartesian/BNL join —
    the regression net for the whole registry (145), not the hand-picked few.
    (Plan build only; queries that train models at build time run their
    small driver jobs at sf0.001.)"""
    failures = []
    for name, spec in REGISTRY.items():
        try:
            df = spec.fn(spark, SF_DIR)
            assert_no_cartesian(df)
        except AssertionError:
            failures.append(name)
    assert not failures, f"cartesian joins in: {failures}"


# -- COUNT(*) aggregate pushdown (LakeTable.count) --------------------------


def test_lake_count_pushdown_metadata_only_and_partial(spark, tmp_path, monkeypatch):
    """count() answers from manifest metadata where stats prove it: no
    predicate = O(1) snapshot total; a range covering some files entirely
    reads ONLY the straddling files."""
    import dlt_iceberg_spark.lake.table as table_mod
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ds")
    # 4 files with disjoint id ranges: [0,9], [10,19], [20,29], [30,39]
    for i in range(4):
        writer.write(
            TableSpec(name="t", write_disposition="append"),
            spark.range(i * 10, (i + 1) * 10).coalesce(1),
            load_id=f"l{i}",
        )
    t = catalog.load_table("ds", "t")

    # no predicate, no deletes: zero scans (a scan would raise)
    def boom(self, *a, **kw):
        raise AssertionError("metadata count must not scan data")

    monkeypatch.setattr(table_mod.LakeTable, "_plan_scan", boom)
    assert t.count() == 40
    # id >= 10: files 2-4 fully match -> still metadata-only
    assert t.count(where=[("id", ">=", 10)]) == 30
    monkeypatch.undo()

    # id >= 15: file [10,19] straddles -> exactly that file scanned
    scanned = []
    real = table_mod.LakeTable._plan_scan

    def spying(self, snap, files, *a, **kw):
        scanned.append([f.path for f in files])
        return real(self, snap, files, *a, **kw)

    monkeypatch.setattr(table_mod.LakeTable, "_plan_scan", spying)
    assert t.count(where=[("id", ">=", 15)]) == 25
    monkeypatch.undo()
    assert len(scanned) == 1 and len(scanned[0]) == 1

    # equality on a multi-valued file: scan path, exact
    assert t.count(where=[("id", "=", 7)]) == 1
    # matches direct computation on a conjunction
    assert t.count(where=[("id", ">=", 5), ("id", "<", 35)]) == t.read().filter(
        "id >= 5 AND id < 35"
    ).count()


def test_lake_count_with_deletes_is_exact(spark, tmp_path):
    """MoR delete files force the masked-scan path — per-file rows lie."""
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ds")
    writer.write(
        TableSpec(name="t", write_disposition="append", primary_key=["id"]),
        spark.range(0, 20).coalesce(1),
        load_id="l0",
    )
    t = catalog.load_table("ds", "t")
    t.position_delete_where([("id", "<", 5)])
    t = catalog.load_table("ds", "t")
    assert t.count() == 15
    assert t.count(where=[("id", "<", 10)]) == 5


def test_lake_agg_minmax_metadata_only_and_fallbacks(spark, tmp_path, monkeypatch):
    import dlt_iceberg_spark.lake.table as table_mod
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ds")
    for i in range(3):
        writer.write(
            TableSpec(name="t", write_disposition="append", primary_key=["id"]),
            spark.range(i * 10, (i + 1) * 10).coalesce(1),
            load_id=f"l{i}",
        )
    t = catalog.load_table("ds", "t")

    def boom(self, *a, **kw):
        raise AssertionError("metadata minmax must not scan data")

    monkeypatch.setattr(table_mod.LakeTable, "_plan_scan", boom)
    assert t.agg_minmax("id") == (0, 29)
    monkeypatch.undo()
    # MoR deletes can remove the extremum -> exact scan fallback
    t.position_delete_where([("id", ">=", 25)])
    t = catalog.load_table("ds", "t")
    assert t.agg_minmax("id") == (0, 24)
    with pytest.raises(ValueError, match="no such column"):
        t.agg_minmax("nope")


def test_lake_count_position_deletes_metadata_exact(spark, tmp_path, monkeypatch):
    """VERDICT r7 task 3: position deletes keep count() metadata-exact —
    total_rows − live masked addresses, computed from the delete files
    alone (zero data-file scans) — including duplicate re-addressed rows
    (distinct), sequence applicability, and predicate counts that
    subtract per-file masks from fully-matching files.  Equality deletes
    still force the masked-scan fallback."""
    import dlt_iceberg_spark.lake.table as table_mod
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ds")
    # 4 files with disjoint id ranges: [0,9], [10,19], [20,29], [30,39]
    for i in range(4):
        writer.write(
            TableSpec(name="t", write_disposition="append", primary_key=["id"]),
            spark.range(i * 10, (i + 1) * 10).coalesce(1),
            load_id=f"l{i}",
        )
    t = catalog.load_table("ds", "t")
    t.position_delete_where([("id", "<", 3)])          # 3 rows in file 1
    t.position_delete_where([("id", ">=", 35)])        # 5 rows in file 4
    t.position_delete_where([("id", "<", 3)])          # re-address: no-op

    def boom(self, *a, **kw):
        raise AssertionError("position-delete count must not scan data")

    monkeypatch.setattr(table_mod.LakeTable, "_plan_scan", boom)
    assert t.count() == 40 - 3 - 5
    # id >= 10: files 2-4 fully match; file 4's mask subtracts unopened
    assert t.count(where=[("id", ">=", 10)]) == 30 - 5
    monkeypatch.undo()

    # straddling file (id >= 15 splits file 2) scans ONLY that file,
    # with the mask applied in the scan
    scanned = []
    real = table_mod.LakeTable._plan_scan

    def spying(self, snap, files, *a, **kw):
        scanned.append([f.path for f in files])
        return real(self, snap, files, *a, **kw)

    monkeypatch.setattr(table_mod.LakeTable, "_plan_scan", spying)
    assert t.count(where=[("id", ">=", 15)]) == 25 - 5
    monkeypatch.undo()
    assert len(scanned) == 1 and len(scanned[0]) == 1
    # parity with the masked scan, always
    assert t.count() == t.read().count()

    # an equality delete (MoR upsert) forces the exact fallback
    writer.write(
        TableSpec(
            name="t", write_disposition="merge", primary_key=["id"],
            merge_mode="mor",
        ),
        spark.range(20, 22).coalesce(1),
        load_id="l9",
    )
    t = catalog.load_table("ds", "t")
    assert any(d.content != "position" for d in t.snapshot().delete_files)
    assert t.count() == t.read().count() == 32


def test_lake_agg_minmax_with_predicate_pushdown(spark, tmp_path, monkeypatch):
    """agg_minmax(where=...): fully-matching files contribute their
    [min,max] bounds unopened; only straddlers scan; results equal the
    direct filtered aggregation in every case."""
    import dlt_iceberg_spark.lake.table as table_mod
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ds")
    # 4 files with disjoint id ranges: [0,9] .. [30,39], v = id * 3
    for i in range(4):
        writer.write(
            TableSpec(name="t", write_disposition="append", primary_key=["id"]),
            spark.range(i * 10, (i + 1) * 10).selectExpr("id", "id * 3 as v").coalesce(1),
            load_id=f"l{i}",
        )
    t = catalog.load_table("ds", "t")

    scanned = []
    real = table_mod.LakeTable._plan_scan

    def spying(self, snap, files, *a, **kw):
        scanned.append([f.path for f in files])
        return real(self, snap, files, *a, **kw)

    monkeypatch.setattr(table_mod.LakeTable, "_plan_scan", spying)
    # id >= 10 fully covers files 2-4: metadata-only
    assert t.agg_minmax("v", where=[("id", ">=", 10)]) == (30, 117)
    assert scanned == []
    # id >= 15 straddles file 2: exactly that one file scans
    assert t.agg_minmax("v", where=[("id", ">=", 15)]) == (45, 117)
    assert len(scanned) == 1 and len(scanned[0]) == 1
    monkeypatch.undo()
    # parity with direct computation on a conjunction and on emptiness
    assert t.agg_minmax("v", where=[("id", ">=", 5), ("id", "<", 35)]) == (
        15, 102,
    )
    assert t.agg_minmax("v", where=[("id", ">", 10_000)]) == (None, None)
    # deletes force the exact masked path
    t.position_delete_where([("id", "=", 39)])
    t = catalog.load_table("ds", "t")
    assert t.agg_minmax("v", where=[("id", ">=", 10)]) == (30, 114)
