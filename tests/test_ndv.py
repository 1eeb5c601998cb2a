"""NDV statistics (per-file KMV sketches in manifests) — Iceberg's
table-statistics surface (`compute_table_stats` theta sketches in Puffin
files), re-expressed Spark-first: write-time sketching rides the staging
job, ANALYZE backfills without rewriting data, and
``LakeTable.approx_distinct`` answers from O(manifest refs) metadata —
exact whenever the true NDV ≤ k.

Reference parity note: the reference delegates statistics to PyIceberg /
engine-side ANALYZE; no equivalent exists in its core, so the contract
here is pinned against Iceberg's public `compute_table_stats` semantics.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dlt_iceberg_spark.lake.manifest import (
    NDV_K,
    DataFile,
    aggregate_sketches,
    kmv_estimate,
    merge_kmv,
    read_manifest,
    write_manifest,
)
from dlt_iceberg_spark.lake.table import LakeTable


def _mk_table(spark, tmp_path, name="t"):
    return LakeTable(spark, str(tmp_path / name))


def _write(spark, table, df, ndv=None, parent=None):
    files = table.stage_dataframe(df, ndv_columns=ndv)
    snap = table.snapshot()
    if snap is None:
        return table.commit(files, df.schema, "append", None)
    return table.commit(
        None, snap.schema, "append", snap.version,
        manifests=list(snap.manifests), new_files=files,
    )


# -- unit: merge + estimator ------------------------------------------------


def test_merge_kmv_complete_union_is_exact():
    a = {"h": [1, 5, 9], "c": True, "t": "bigint"}
    b = {"h": [2, 5, 11], "c": True, "t": "bigint"}
    m = merge_kmv([a, b], k=8)
    assert m == {"h": [1, 2, 5, 9, 11], "c": True, "t": "bigint"}
    est, exact = kmv_estimate(m, k=8)
    assert exact and est == 5.0


def test_merge_kmv_truncated_input_never_claims_exact():
    a = {"h": list(range(4)), "c": False, "t": "bigint"}  # truncated at k=4
    b = {"h": [100], "c": True, "t": "bigint"}
    m = merge_kmv([a, b], k=4)
    assert m["c"] is False
    assert m["h"] == [0, 1, 2, 3]  # k smallest of the union


def test_merge_kmv_refuses_mixed_hash_frames():
    a = {"h": [1], "c": True, "t": "int"}
    b = {"h": [2], "c": True, "t": "bigint"}
    assert merge_kmv([a, b]) is None


def test_kmv_estimator_accuracy_on_uniform_hashes():
    # synthetic uniform "hashes": k-th min of n uniform draws ~ k/n of the
    # domain; the estimator must land within a few percent
    n, k = 100_000, 256
    step = 2**64 // n
    hashes = sorted(-(2**63) + i * step for i in range(n))[:k]
    est, exact = kmv_estimate({"h": hashes, "c": False, "t": "bigint"}, k=k)
    assert not exact
    assert abs(est - n) / n < 0.05


def test_aggregate_sketches_drops_column_missing_anywhere():
    f1 = DataFile(path="a", rows=1, bytes=1,
                  sketches={"x": {"h": [1], "c": True, "t": "bigint"}})
    f2 = DataFile(path="b", rows=1, bytes=1, sketches={})
    assert aggregate_sketches([f1, f2]) == {}
    assert "x" in aggregate_sketches([f1])


def test_manifest_roundtrips_sketches(tmp_path):
    loc = str(tmp_path)
    os.makedirs(loc, exist_ok=True)
    sk = {"x": {"h": [3, 7], "c": True, "t": "bigint"}}
    ref = write_manifest(loc, [DataFile(path="a", rows=2, bytes=9, sketches=sk)])
    assert ref.sketches["x"]["h"] == [3, 7]
    [entry] = read_manifest(loc, ref)
    assert entry.sketches == sk


# -- write-time sketches ------------------------------------------------------


def test_write_time_exact_ndv_below_k(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    df = spark.range(0, 5000).select(
        F.col("id"), (F.col("id") % 13).alias("seg")
    )
    _write(spark, t, df.repartition(4), ndv=["seg"])
    got = t.approx_distinct(["seg"])
    assert got == {"seg": {"ndv": 13, "exact": True}}


def test_write_time_estimate_above_k(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    df = spark.range(0, 20000).select(
        F.col("id"), (F.col("id") % 9999).alias("near10k")
    )
    _write(spark, t, df.repartition(4), ndv=["near10k"])
    got = t.approx_distinct(["near10k"])["near10k"]
    assert not got["exact"]
    # KMV rel. std. error ≈ 1/√k ≈ 6.25%; allow 4σ
    assert abs(got["ndv"] - 9999) / 9999 < 0.25


def test_sketches_merge_across_appends(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    a = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 5).alias("seg"))
    b = spark.range(1000, 2000).select(
        F.col("id"), (F.col("id") % 5 + 5).alias("seg")
    )
    _write(spark, t, a, ndv=["seg"])
    _write(spark, t, b, ndv=["seg"])
    assert t.approx_distinct(["seg"]) == {"seg": {"ndv": 10, "exact": True}}


def test_nulls_do_not_count_toward_ndv(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    df = spark.range(0, 100).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.col("id") % 3).alias("sparse"),
    )
    _write(spark, t, df, ndv=["sparse"])
    # COUNT(DISTINCT) semantics: nulls excluded
    assert t.approx_distinct(["sparse"])["sparse"] == {"ndv": 3, "exact": True}


def test_unsketched_file_refuses_then_scan_fallback(spark, tmp_path):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ns")
    df = spark.range(0, 500).select(F.col("id"), (F.col("id") % 4).alias("seg"))
    writer.write(
        TableSpec(name="t", write_disposition="append",
                  ndv_sketch_columns=["seg"]),
        df,
    )
    # a file staged WITHOUT sketches -> metadata can no longer answer
    t = catalog.load_table("ns", "t")
    _write(spark, t, df, ndv=[])
    assert t.approx_distinct(["seg"]) is None
    # Dataset.aggregate transparently falls back to an exact scan
    from dlt_iceberg_spark.lake.dataset import Dataset

    ds = Dataset(catalog, "ns")
    got = ds.aggregate("t", distinct=["seg"])
    assert got["ndv_seg"] == 4


def test_refuses_under_mor_deletes(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    df = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 6).alias("seg"))
    _write(spark, t, df, ndv=["seg"])
    assert t.approx_distinct(["seg"]) is not None
    t.position_delete_where([("seg", "=", 5)])
    # masked rows could hide a distinct value: metadata must refuse
    assert t.approx_distinct(["seg"]) is None


# -- ANALYZE backfill ---------------------------------------------------------


def test_compute_table_stats_backfills_without_rewriting_data(spark, tmp_path):
    from dlt_iceberg_spark.lake.maintenance import compute_table_stats

    t = _mk_table(spark, tmp_path)
    df = spark.range(0, 3000).select(F.col("id"), (F.col("id") % 21).alias("seg"))
    _write(spark, t, df.repartition(3))
    before = {f.path for f in t.snapshot().files}
    assert t.approx_distinct(["seg"]) is None
    n = compute_table_stats(t, ["seg"])
    assert n == 3
    snap = t.snapshot()
    assert snap.operation == "analyze"
    assert {f.path for f in snap.files} == before  # zero data rewritten
    assert t.approx_distinct(["seg"]) == {"seg": {"ndv": 21, "exact": True}}
    # idempotent: current-frame sketches pass through untouched
    assert compute_table_stats(t, ["seg"]) == 0


def test_analyze_is_invisible_to_changelog_and_incremental(spark, tmp_path):
    from dlt_iceberg_spark.lake.maintenance import compute_table_stats

    t = _mk_table(spark, tmp_path)
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 3).alias("seg"))
    _write(spark, t, df)
    v0 = t.snapshot().version
    compute_table_stats(t, ["seg"])
    assert t.read_changes(v0).count() == 0
    assert t.read_incremental(v0).count() == 0


def test_analyze_rejects_nested_and_unknown_columns(spark, tmp_path):
    from dlt_iceberg_spark.lake.maintenance import compute_table_stats

    t = _mk_table(spark, tmp_path)
    df = spark.range(0, 10).select(
        F.col("id"), F.array(F.col("id")).alias("arr")
    )
    _write(spark, t, df)
    with pytest.raises(ValueError, match="nested"):
        compute_table_stats(t, ["arr"])
    with pytest.raises(ValueError, match="no such column"):
        compute_table_stats(t, ["nope"])


# -- schema DDL interactions --------------------------------------------------


def test_sketches_survive_rename_under_new_key(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    df = spark.range(0, 400).select(F.col("id"), (F.col("id") % 8).alias("seg"))
    _write(spark, t, df, ndv=["seg"])
    t.rename_column("seg", "segment")
    assert t.approx_distinct(["segment"]) == {
        "segment": {"ndv": 8, "exact": True}
    }
    with pytest.raises(ValueError, match="no such column"):
        t.approx_distinct(["seg"])


def test_promotion_invalidates_cross_frame_merge(spark, tmp_path):
    from dlt_iceberg_spark.lake.maintenance import compute_table_stats

    t = _mk_table(spark, tmp_path)
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 7).cast("int").alias("seg")
    )
    _write(spark, t, df, ndv=["seg"])
    t.promote_column_type("seg", "bigint")
    # one frame only -> still answers (values unchanged by a widening)
    assert t.approx_distinct(["seg"]) == {"seg": {"ndv": 7, "exact": True}}
    # a post-promotion sketched append hashes long, old files hashed int:
    # mixed frames must refuse (xxhash64(int 5) != xxhash64(bigint 5))
    more = spark.range(300, 600).select(
        F.col("id"), (F.col("id") % 7).alias("seg")
    )
    _write(spark, t, more, ndv=["seg"])
    assert t.approx_distinct(["seg"]) is None
    # ANALYZE recomputes stale-frame files under the current type
    assert compute_table_stats(t, ["seg"]) > 0
    assert t.approx_distinct(["seg"]) == {"seg": {"ndv": 7, "exact": True}}


def test_drop_then_readd_pops_stale_sketches(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    df = spark.range(0, 200).select(F.col("id"), (F.col("id") % 9).alias("seg"))
    _write(spark, t, df, ndv=["seg"])
    t.drop_column("seg")
    t.add_column("seg", "bigint")
    # stale sketches describe the DROPPED values; must refuse, not lie
    assert t.approx_distinct(["seg"]) is None


# -- cross-table overlap from stored sketches ---------------------------------


def _catalog_pair(spark, tmp_path, da, db, ndv):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.dataset import Dataset
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ns")
    writer.write(
        TableSpec(name="a", write_disposition="append",
                  ndv_sketch_columns=ndv), da)
    writer.write(
        TableSpec(name="b", write_disposition="append",
                  ndv_sketch_columns=ndv), db)
    return Dataset(catalog, "ns")


def test_overlap_exact_from_sketches_no_scan(spark, tmp_path, monkeypatch):
    from dlt_iceberg_spark.lake import table as table_mod

    da = spark.range(0, 3000).select((F.col("id") % 30).alias("v"))
    db = spark.range(0, 3000).select((F.col("id") % 50).alias("v"))
    ds = _catalog_pair(spark, tmp_path, da, db, ["v"])
    monkeypatch.setattr(
        table_mod.LakeTable, "_plan_scan",
        lambda self, *a, **kw: (_ for _ in ()).throw(AssertionError("scan")),
    )
    est = ds.overlap("a", "b", "v")
    assert est["exact"]
    assert (est["distinct_a"], est["distinct_b"]) == (30.0, 50.0)
    assert est["intersection"] == 30.0
    assert est["jaccard"] == 30 / 50


def test_overlap_estimator_above_k(spark, tmp_path):
    # |A|=20k (0..20k), |B|=20k (10k..30k), overlap 10k/30k
    da = spark.range(0, 20000).select(F.col("id").alias("v"))
    db = spark.range(10000, 30000).select(F.col("id").alias("v"))
    ds = _catalog_pair(spark, tmp_path, da, db, ["v"])
    est = ds.overlap("a", "b", "v")
    assert not est["exact"]
    assert abs(est["jaccard"] - 1 / 3) < 0.15  # theta-sketch tolerance
    assert abs(est["distinct_a"] - 20000) / 20000 < 0.3
    assert abs(est["intersection"] - 10000) / 10000 < 0.5


def test_overlap_falls_back_to_exact_scan_when_unsketched(spark, tmp_path):
    da = spark.range(0, 100).select((F.col("id") % 10).alias("v"))
    db = spark.range(0, 100).select((F.col("id") % 15).alias("v"))
    ds = _catalog_pair(spark, tmp_path, da, db, None)
    est = ds.overlap("a", "b", "v")
    assert est["exact"]
    assert (est["distinct_a"], est["distinct_b"]) == (10.0, 15.0)
    assert est["intersection"] == 10.0


# -- grouped NDV (exact-only, both tiers) -------------------------------------


def _partitioned_ds(spark, tmp_path, df, ndv):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.dataset import Dataset
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    LakeWriter(catalog, "ns").write(
        TableSpec(
            name="t",
            write_disposition="append",
            column_hints={"region": {"partition": True}},
            ndv_sketch_columns=ndv,
        ),
        df,
    )
    return Dataset(catalog, "ns"), catalog


def test_grouped_ndv_exact_no_scan(spark, tmp_path, monkeypatch):
    from dlt_iceberg_spark.lake import table as table_mod

    df = spark.range(0, 6000).select(
        (F.col("id") % 3).cast("string").alias("region"),
        (F.col("id") % 40).alias("user"),
    )
    ds, _ = _partitioned_ds(spark, tmp_path, df, ["user"])
    monkeypatch.setattr(
        table_mod.LakeTable, "_plan_scan",
        lambda self, *a, **kw: (_ for _ in ()).throw(AssertionError("scan")),
    )
    got = ds.aggregate("t", group_by="region", distinct=["user"])
    assert [g["ndv_user"] for g in got] == [40, 40, 40]


def test_grouped_ndv_distributed_tier_matches_driver(spark, tmp_path, monkeypatch):
    from dlt_iceberg_spark.lake import table as table_mod

    df = spark.range(0, 5000).select(
        (F.col("id") % 4).cast("string").alias("region"),
        (F.col("id") % 33).alias("user"),
    )
    ds, _ = _partitioned_ds(spark, tmp_path, df.repartition(5), ["user"])
    driver = ds.aggregate("t", group_by="region", distinct=["user"])
    monkeypatch.setattr(table_mod, "DISTRIBUTED_PLAN_MIN_FILES", 1)
    assert ds.aggregate("t", group_by="region", distinct=["user"]) == driver


def test_grouped_ndv_refuses_incomplete_sketch_then_scan(spark, tmp_path):
    # per-file NDV above k -> truncated sketches -> exact-only contract
    # refuses, Dataset falls back to an exact COUNT(DISTINCT) scan
    df = spark.range(0, 4000).select(
        (F.col("id") % 2).cast("string").alias("region"),
        F.col("id").alias("user"),  # 2000 distinct per region > k
    )
    ds, catalog = _partitioned_ds(spark, tmp_path, df, ["user"])
    t = catalog.load_table("ns", "t")
    assert (
        t.aggregate_stats(group_by="region", distinct=["user"]) is None
    )
    got = ds.aggregate("t", group_by="region", distinct=["user"])
    assert [g["ndv_user"] for g in got] == [2000, 2000]


def test_grouped_ndv_refuses_under_deletes(spark, tmp_path):
    df = spark.range(0, 1000).select(
        (F.col("id") % 2).cast("string").alias("region"),
        (F.col("id") % 9).alias("user"),
    )
    ds, catalog = _partitioned_ds(spark, tmp_path, df, ["user"])
    t = catalog.load_table("ns", "t")
    assert t.aggregate_stats(group_by="region", distinct=["user"]) is not None
    t.position_delete_where([("user", "=", 3)])
    assert t.aggregate_stats(group_by="region", distinct=["user"]) is None


def test_global_distinct_without_group_by_rejected_on_table(spark, tmp_path):
    df = spark.range(0, 100).select(
        (F.col("id") % 2).cast("string").alias("region"),
        (F.col("id") % 9).alias("user"),
    )
    _, catalog = _partitioned_ds(spark, tmp_path, df, ["user"])
    t = catalog.load_table("ns", "t")
    with pytest.raises(ValueError, match="approx_distinct"):
        t.aggregate_stats(distinct=["user"])


# -- statistics metadata table + O(refs) pin ----------------------------------


def test_statistics_metadata_table(spark, tmp_path):
    from dlt_iceberg_spark.lake.maintenance import compute_table_stats

    t = _mk_table(spark, tmp_path)
    df = spark.range(0, 800).select(F.col("id"), (F.col("id") % 11).alias("seg"))
    _write(spark, t, df, ndv=["seg"])
    rows = {r.column: r for r in t.metadata_df("statistics").collect()}
    assert rows["seg"].ndv == 11 and rows["seg"].exact
    assert rows["seg"].sketched_files == rows["seg"].total_files
    # an unsketched append degrades coverage and nulls the answer
    _write(spark, t, df)
    rows = {r.column: r for r in t.metadata_df("statistics").collect()}
    assert rows["seg"].ndv is None
    assert rows["seg"].sketched_files < rows["seg"].total_files
    compute_table_stats(t, ["seg", "id"])
    rows = {r.column: r for r in t.metadata_df("statistics").collect()}
    assert rows["seg"].ndv == 11 and rows["seg"].exact
    # id has 800 distinct > k: the view reports the KMV estimate, honestly
    # flagged inexact
    assert not rows["id"].exact
    assert abs(rows["id"].ndv - 800) / 800 < 0.25


def test_snapshot_ndv_is_o_refs_never_reads_manifests(spark, monkeypatch):
    """Scale pin: snapshot-level NDV must answer from the REF-level merged
    sketches alone — a 100 TB table's ~80 refs, never its 800k file
    entries.  Any read_manifest call fails the test."""
    from dlt_iceberg_spark.lake import table as table_mod
    from dlt_iceberg_spark.lake.manifest import ManifestRef

    refs = [
        ManifestRef(
            path=f"metadata/m-{i}.parquet",
            n_files=10_000,
            rows=10_000_000,
            bytes=1 << 37,
            sketches={"seg": {"h": [i * 7 + j for j in range(3)], "c": True,
                              "t": "bigint"}},
        )
        for i in range(80)  # ~800k files ≈ 100 TB at 128 MB/file
    ]
    snap = table_mod.Snapshot(
        version=1, schema=T_SCHEMA, operation="append", parent=None,
        timestamp="2026-01-01T00:00:00+00:00", manifests=refs,
    )
    monkeypatch.setattr(
        table_mod, "read_manifest",
        lambda *a, **kw: (_ for _ in ()).throw(AssertionError("manifest read")),
    )
    got = snap.approx_distinct(["seg"])
    assert got["seg"]["exact"]
    assert got["seg"]["ndv"] == len({i * 7 + j for i in range(80) for j in range(3)})


from pyspark.sql import types as _T  # noqa: E402

T_SCHEMA = _T.StructType([_T.StructField("seg", _T.LongType())])


# -- property tests: KMV algebra ----------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    _sets = st.lists(
        st.lists(st.integers(-(2**62), 2**62), max_size=40),
        min_size=1,
        max_size=8,
    )

    def _file_sketch(values, k):
        hs = sorted(set(values))
        if len(hs) <= k:
            return {"h": hs, "c": True, "t": "bigint"}
        return {"h": hs[:k], "c": False, "t": "bigint"}

    @given(_sets, st.integers(2, 16))
    @settings(max_examples=200, deadline=None)
    def test_prop_merge_matches_true_kmin_of_union(file_values, k):
        """The merged sketch must equal the k smallest of the TRUE union's
        stored hashes, and claim exactness only when it really holds the
        whole union."""
        sketches = [_file_sketch(v, k) for v in file_values]
        merged = merge_kmv(sketches, k=k)
        stored_union = sorted({h for s in sketches for h in s["h"]})
        if merged["c"]:
            # exactness implies every input was complete — the union of the
            # stored hashes IS the union of the true value sets
            true_union = sorted({h for v in file_values for h in set(v)})
            assert merged["h"] == true_union
            est, exact = kmv_estimate(merged, k=k)
            assert exact and est == len(true_union)
        else:
            assert merged["h"] == stored_union[:k]

    @given(_sets, st.integers(2, 16))
    @settings(max_examples=200, deadline=None)
    def test_prop_merge_is_associative_and_order_free(file_values, k):
        import random

        sketches = [_file_sketch(v, k) for v in file_values]
        a = merge_kmv(sketches, k=k)
        shuffled = list(sketches)
        random.Random(0).shuffle(shuffled)
        b = merge_kmv(shuffled, k=k)
        # pairwise left-fold must agree with the flat merge
        acc = shuffled[0]
        for s in shuffled[1:]:
            acc = merge_kmv([acc, s], k=k)
        assert a == b
        assert acc["h"] == a["h"]
        # completeness may only DEGRADE under pairwise folding (a complete
        # union > k truncates at the intermediate step), never improve
        assert (not acc["c"]) or a["c"]


def test_maintain_reanalyzes_after_compaction(spark, tmp_path):
    """Compaction keeps the recorded NDV columns' per-file sketches, so a
    maintain() cycle has nothing to backfill and NDV stays answerable."""
    from datetime import timedelta

    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.maintenance import MaintenancePolicy, maintain
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ns")
    for i in range(3):
        writer.write(
            TableSpec(name="t", write_disposition="append",
                      ndv_sketch_columns=["seg"]),
            spark.range(i * 100, (i + 1) * 100).select(
                (F.col("id") % 12).alias("seg")
            ),
        )
    t = catalog.load_table("ns", "t")
    assert t.approx_distinct(["seg"]) is not None
    report = maintain(t, MaintenancePolicy(expire_older_than=timedelta(days=9999)))
    assert report["compaction"]["rewritten_files"] >= 3
    assert report["analyzed_files"] == 0
    assert all("seg" in f.sketches for f in t.snapshot().files)
    assert t.approx_distinct(["seg"]) == {"seg": {"ndv": 12, "exact": True}}


def test_maintain_backfills_recorded_ndv_columns(spark, tmp_path):
    """A live file without the recorded NDV column's sketch gains it in
    the next maintain() cycle."""
    from datetime import timedelta

    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.maintenance import MaintenancePolicy, maintain
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 100, 1, 1).select((F.col("id") % 12).alias("seg"))
    LakeWriter(catalog, "ns").write(
        TableSpec(name="t", write_disposition="append", ndv_sketch_columns=["seg"]), df
    )
    t = catalog.load_table("ns", "t")
    _write(spark, t, df, ndv=[])
    assert t.approx_distinct(["seg"]) is None
    # every file counts as full-sized: nothing is compacted
    policy = MaintenancePolicy(expire_older_than=timedelta(days=9999), target_file_bytes=1)
    report = maintain(t, policy)
    assert report["compaction"]["rewritten_files"] == 0
    assert report["analyzed_files"] == 1
    assert t.approx_distinct(["seg"]) == {"seg": {"ndv": 12, "exact": True}}


def test_overlap_rejects_unknown_column(spark, tmp_path):
    da = spark.range(10).select(F.col("id").alias("v"))
    ds = _catalog_pair(spark, tmp_path, da, da, ["v"])
    with pytest.raises(ValueError, match="no such column"):
        ds.overlap("a", "b", "nope")
