"""Manifest-level Bloom filter pruning (lake/bloom.py).

Reference parity note: the reference prunes scans via PyIceberg/DuckDB
min/max stats only (src/dlt_iceberg/sql_client.py:142-146); file-level
blooms are this repo's scale addition for equality probes on unsorted
high-cardinality keys, mirroring the planning-level half of Iceberg's
parquet bloom recipe.
"""

import base64
import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dlt_iceberg_spark.lake.bloom import (
    BLOOM_K,
    BLOOM_M_BITS,
    bloom_key,
    bloom_may_contain,
    fold_blooms,
    is_bloom,
    pack_positions,
    probe_positions,
)
from dlt_iceberg_spark.lake.table import LakeTable, _file_may_match


@pytest.fixture(scope="module")
def scattered_table(spark, tmp_path_factory):
    """8 files where every file spans the FULL key range (min/max useless)
    but each key lives in exactly one file — the unsorted-merge-key shape
    blooms exist for."""
    loc = str(tmp_path_factory.mktemp("bloom_tbl"))
    t = LakeTable(spark, loc)
    df = spark.range(0, 16000).select(
        (F.col("id") * 7919 % 100000).alias("k"),
        F.concat(F.lit("doc-"), F.col("id")).alias("s"),
        F.col("id").cast("int").alias("ik"),
        F.date_add(
            F.lit("2020-01-01").cast("date"), (F.col("id") % 700).cast("int")
        ).alias("d"),
        (F.col("id") % 64).alias("v"),
    ).repartition(8, F.col("v"))
    files = t.stage_dataframe(df, bloom_columns=["k", "s", "ik", "d"])
    t.commit(files, df.schema, "append", None)
    return t, files, df


# ---------------------------------------------------------------- unit --


def test_probe_positions_frames():
    assert probe_positions("bigint", BLOOM_M_BITS, BLOOM_K, 42) is not None
    assert probe_positions("int", BLOOM_M_BITS, BLOOM_K, 42) is not None
    assert probe_positions("int", BLOOM_M_BITS, BLOOM_K, 1 << 40) is None
    assert probe_positions("string", BLOOM_M_BITS, BLOOM_K, "x") is not None
    assert probe_positions("date", BLOOM_M_BITS, BLOOM_K, "2020-01-05") is not None
    assert probe_positions("date", BLOOM_M_BITS, BLOOM_K, "garbage") is None
    # unknown frame: conservative None (keep the file)
    assert probe_positions("decimal(10,2)", BLOOM_M_BITS, BLOOM_K, 1) is None


@settings(max_examples=60, deadline=None)
@given(
    vals=st.lists(
        st.one_of(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.text(max_size=24),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_no_false_negatives_property(vals):
    """Every inserted value must test positive — the soundness contract."""
    for tag in ("bigint", "string"):
        if tag == "bigint":
            framed = [v for v in vals if isinstance(v, int)]
        else:
            framed = [str(v) for v in vals]
        pos = []
        for v in framed:
            p = probe_positions(tag, BLOOM_M_BITS, BLOOM_K, v)
            assert p is not None
            pos.extend(p)
        packed = pack_positions(pos, BLOOM_M_BITS)
        if packed is None:  # saturated: dropped blooms can't mis-answer
            continue
        bl = {"b": packed, "m": BLOOM_M_BITS, "k": BLOOM_K, "t": tag}
        for v in framed:
            assert bloom_may_contain(bl, "=", v)


def test_fold_blooms_frame_rules():
    p1 = pack_positions(probe_positions("bigint", 1 << 10, 3, 1), 1 << 10)
    p2 = pack_positions(probe_positions("bigint", 1 << 10, 3, 2), 1 << 10)
    b1 = {"b": p1, "m": 1 << 10, "k": 3, "t": "bigint"}
    b2 = {"b": p2, "m": 1 << 10, "k": 3, "t": "bigint"}
    folded = fold_blooms([b1, b2])
    assert is_bloom(folded)
    assert bloom_may_contain(folded, "=", 1) and bloom_may_contain(folded, "=", 2)
    # mixed frames refuse
    assert fold_blooms([b1, {**b2, "t": "int"}]) is None
    assert fold_blooms([b1, {**b2, "m": 1 << 11}]) is None
    assert fold_blooms([b1, {"h": [], "c": True, "t": "bigint"}]) is None


def test_malformed_bloom_is_conservative():
    assert bloom_may_contain({"b": "!!!", "m": 64, "k": 3, "t": "bigint"}, "=", 1)
    assert bloom_may_contain({"b": "AA==", "m": 63, "k": 3, "t": "bigint"}, "=", 1)
    assert bloom_may_contain(
        {"b": "AA==", "m": 1 << 20, "k": 3, "t": "bigint"}, "=", 1
    )


# ---------------------------------------------------- table integration --


def test_bloom_prunes_scattered_key(scattered_table):
    t, files, df = scattered_table
    k_val = (123 * 7919) % 100000
    kept = [f for f in files if _file_may_match(f, "k", "=", k_val)]
    assert len(kept) <= 2  # 1 true + FPR slack; stats alone keep all 8
    assert t.read(where=[("k", "=", k_val)]).count() == 1


def test_bloom_all_frames_prune_and_stay_exact(scattered_table):
    t, files, df = scattered_table
    assert t.read(where=[("s", "=", "doc-777")]).count() == 1
    assert len([f for f in files if _file_may_match(f, "s", "=", "doc-777")]) <= 2
    assert t.read(where=[("ik", "=", 778)]).count() == 1
    dv = datetime.date(2020, 1, 1) + datetime.timedelta(days=5)
    expect = df.filter(F.col("d") == F.lit(dv)).count()
    assert t.read(where=[("d", "=", dv)]).count() == expect


def test_bloom_proves_absence(scattered_table):
    t, files, _ = scattered_table
    kept = [f for f in files if _file_may_match(f, "s", "=", "doc-nope-xyz")]
    assert kept == []
    assert t.read(where=[("s", "=", "doc-nope-xyz")]).count() == 0


def test_bloom_in_probe(scattered_table):
    t, files, _ = scattered_table
    assert t.read(where=[("ik", "in", [5, 6, 99999999])]).count() == 2
    # all-absent IN prunes everything
    kept = [
        f for f in files if _file_may_match(f, "ik", "in", [99999998, 99999999])
    ]
    assert kept == []


def test_spark_plan_mode_matches_driver(scattered_table):
    t, _, _ = scattered_table
    k_val = (55 * 7919) % 100000
    a = t.read(where=[("k", "=", k_val)], plan_mode="driver").collect()
    b = t.read(where=[("k", "=", k_val)], plan_mode="spark").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 1


def test_saturated_bloom_not_stored(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "sat"))
    df = spark.range(0, 60000).select(
        F.concat(F.lit("u-"), F.col("id")).alias("u")
    ).coalesce(1)
    files = t.stage_dataframe(df, bloom_columns=["u"])
    assert all(bloom_key("u") not in f.sketches for f in files)


def test_rename_keeps_bloom_under_new_name(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "ren"))
    df = spark.range(0, 4000).select(
        (F.col("id") * 31 % 10007).alias("k"), (F.col("id") % 8).alias("v")
    ).repartition(4, F.col("v"))
    files = t.stage_dataframe(df, bloom_columns=["k"])
    t.commit(files, df.schema, "append", None)
    t.rename_column("k", "key")
    snap = t.snapshot()
    entries = snap.files
    assert any(bloom_key("key") in f.sketches for f in entries)
    assert all(bloom_key("k") not in f.sketches for f in entries)
    kept = [f for f in entries if _file_may_match(f, "key", "=", 31)]
    assert len(kept) <= 2
    assert t.read(where=[("key", "=", 31)]).count() == 1


def test_drop_readd_pops_stale_bloom(spark, tmp_path):
    """drop_column is metadata-only (stale blooms are unreachable —
    probes on a dropped column raise), but a RE-ADD of the same name must
    pop them: the old bits describe the dropped values and would
    mis-skip files for the new column."""
    t = LakeTable(spark, str(tmp_path / "drop"))
    df = spark.range(0, 1000).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    files = t.stage_dataframe(df, bloom_columns=["b"])
    t.commit(files, df.schema, "append", None)
    t.drop_column("b")
    t.add_column("b", "bigint")
    assert all(
        bloom_key("b") not in f.sketches for f in t.snapshot().files
    )
    # old files read NULL for the re-added column; nothing matches
    assert t.read(where=[("b", "=", 3)]).count() == 0


def test_ref_level_bloom_skips_manifest_unopened(spark, tmp_path, monkeypatch):
    """A probe for an absent value must not even OPEN pruned manifests."""
    t = LakeTable(spark, str(tmp_path / "refskip"))
    # low per-file NDV so the ref-level fold survives saturation
    df = spark.range(0, 4000).select(
        (F.col("id") % 500).alias("k"), (F.col("id") % 4).alias("v")
    ).repartition(4, F.col("v"))
    files = t.stage_dataframe(df, bloom_columns=["k"])
    snap = t.commit(files, df.schema, "append", None)
    assert any(bloom_key("k") in r.sketches for r in snap.manifests)
    import dlt_iceberg_spark.lake.table as table_mod

    calls = {"n": 0}
    real = table_mod.read_manifest

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(table_mod, "read_manifest", counting)
    assert t.read(where=[("k", "=", 9999)]).count() == 0
    assert calls["n"] == 0


def test_promotion_keeps_bloom_sound(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "promo"))
    df = spark.range(0, 4000).select(
        (F.col("id") * 17 % 9973).cast("int").alias("k"),
        (F.col("id") % 8).alias("v"),
    ).repartition(4, F.col("v"))
    files = t.stage_dataframe(df, bloom_columns=["k"])
    t.commit(files, df.schema, "append", None)
    t.promote_column_type("k", "bigint")
    # stored tag stays "int"; the probe hashes in the STORED frame, so
    # membership answers stay exact for in-range values...
    assert t.read(where=[("k", "=", 17)]).count() == 1
    # ...and out-of-int-range probes keep files conservatively (the file
    # cannot contain them, but the bloom must never crash or mis-skip)
    assert t.read(where=[("k", "=", 1 << 40)]).count() == 0


# ------------------------------------------------ driver-built blooms --


def _bloom_frame(spark, n_rows, n_files):
    """Every bloom frame, with the value shapes the hash kernels branch on:
    empty, multi-byte UTF-8 and >= 32-byte strings, partial and total
    NULLs, and one high-cardinality column that saturates per file."""
    s = (
        F.when(F.col("id") % 6 == 0, F.lit(""))
        .when(F.col("id") % 6 == 1, F.concat(F.lit("é…"), F.col("id") % 50))
        .when(F.col("id") % 6 == 2, F.concat(F.lit("x" * 33), F.col("id") % 90))
        .when(F.col("id") % 6 == 3, F.lit(None))
        .otherwise(F.concat(F.lit("k-"), F.col("id") % 300))
    )
    # one contiguous, deterministic key slice per file (no shuffle)
    return spark.range(0, n_rows, 1, n_files).select(
        F.col("id").alias("key"),
        (F.col("id") % 997).cast("int").alias("i"),
        (F.col("id") * 7919 % 3001).alias("b"),
        s.alias("s"),
        F.date_add(F.lit("1969-06-01").cast("date"), (F.col("id") % 700).cast("int")).alias("d"),
        F.lit(None).cast("bigint").alias("nul"),
    )


_PARITY_COLS = ["i", "b", "s", "d", "nul", "key"]


def test_driver_blooms_match_spark_job(spark, tmp_path):
    """The driver's per-file pass builds bit-identical blooms to the Spark
    job non-local tables use, on the same files — and both drop the
    saturated column."""
    import os

    from dlt_iceberg_spark.lake.fileio import LocalFileIO
    from dlt_iceberg_spark.lake.table import (
        _file_metadata_via_spark,
        _scan_staged_file,
        _staged_rel,
    )

    df = _bloom_frame(spark, 50000, 2)
    staging = str(tmp_path / "staging")
    df.write.parquet(staging)
    via_spark = {
        _staged_rel(staging, f): sketches
        for f, (*_, sketches) in _file_metadata_via_spark(
            spark.read.parquet(staging), df.schema, bloom_columns=_PARITY_COLS
        ).items()
    }
    names = [n for n in os.listdir(staging) if n.endswith(".parquet")]
    assert len(names) == 2 and set(via_spark) == set(names)
    for name in names:
        *_, driver = _scan_staged_file(
            os.path.join(staging, name), df.schema, LocalFileIO(), _PARITY_COLS
        )
        assert driver == via_spark[name]
        assert set(driver) == {bloom_key(c) for c in ("i", "b", "s", "d", "nul")}
        # an all-NULL column sets no bits
        assert set(base64.b64decode(driver[bloom_key("nul")]["b"])) == {0}


def test_local_and_hadoop_staging_carry_equal_blooms(spark, tmp_path):
    """The same DataFrame staged through LocalFileIO (driver pass) and
    HadoopFileIO (Spark job) lands files with equal manifest blooms."""
    from dlt_iceberg_spark.lake.fileio import HadoopFileIO

    df = _bloom_frame(spark, 4000, 4)
    local = LakeTable(spark, str(tmp_path / "local" / "t"))
    hadoop = LakeTable(
        spark, str(tmp_path / "hdfs" / "t"), io=HadoopFileIO(spark, str(tmp_path))
    )

    def by_file(table):
        files = table.stage_dataframe(df, bloom_columns=_PARITY_COLS)
        return {
            (f.rows, tuple(f.stats["key"])): {
                k: v for k, v in f.sketches.items() if k.startswith("bloom:")
            }
            for f in files
        }

    got_local, got_hadoop = by_file(local), by_file(hadoop)
    assert len(got_local) == 4
    assert got_local == got_hadoop
    assert all(bloom_key("s") in b and bloom_key("d") in b for b in got_local.values())


@pytest.mark.parametrize("fileio", ["local", "hadoop"])
def test_partitioned_write_keeps_per_file_blooms_and_stats(spark, tmp_path, fileio):
    """One task writing several partition directories names its files
    alike in each (Spark restarts the file counter per directory); every
    staged file must still carry its OWN stats and bloom bits."""
    from dlt_iceberg_spark.lake.fileio import HadoopFileIO

    io = HadoopFileIO(spark, str(tmp_path)) if fileio == "hadoop" else None
    t = LakeTable(spark, str(tmp_path / "t"), io=io)
    parts = ["a", "b c%2=", "z"]
    df = spark.range(0, 900, 1, 1).select(
        (F.col("id") * 7919 % 100003).alias("key"),
        F.element_at(F.array(*map(F.lit, parts)), (F.col("id") % 3 + 1).cast("int")).alias("p"),
    )
    files = t.stage_dataframe(
        df,
        partition_exprs=[("p", F.col("p"))],
        bloom_columns=["key"],
        ndv_columns=["key"],
    )
    by_part = {f.partition["p"]: f for f in files}
    assert sorted(by_part) == sorted(parts)
    # disjoint key sets -> three distinct NDV sketches, one per file
    assert len({tuple(f.sketches["key"]["h"]) for f in files}) == 3
    for p, f in by_part.items():
        keys = [r.key for r in df.where(F.col("p") == p).collect()]
        assert f.rows == len(keys) == 300
        assert f.stats["key"] == [min(keys), max(keys)]
        bloom = f.sketches[bloom_key("key")]
        assert all(bloom_may_contain(bloom, "=", k) for k in keys)


def test_local_bloom_write_launches_no_extra_spark_jobs(spark, tmp_path):
    """On a local table, manifest blooms cost no Spark job: staging with
    ``bloom_columns`` launches exactly the jobs staging without them does."""
    from tests.test_state import _spark_jobs

    df = _bloom_frame(spark, 4000, 4)
    t = LakeTable(spark, str(tmp_path / "jobs"))
    plain = _spark_jobs(spark, lambda: t.stage_dataframe(df))
    out = []
    with_blooms = _spark_jobs(
        spark, lambda: out.extend(t.stage_dataframe(df, bloom_columns=_PARITY_COLS))
    )
    assert plain >= 1 and with_blooms == plain
    assert all(bloom_key("key") in f.sketches for f in out)


# ------------------------------------------- recorded bloom/NDV columns --


def _keyed(spark, lo, hi, parts):
    """Distinct scattered keys ``k`` (100003 is prime) and a small ``v``."""
    return spark.range(lo, hi, 1, parts).select(
        (F.col("id") * 7919 % 100003).alias("k"), (F.col("id") % 5).alias("v")
    )


def test_every_rewrite_keeps_recorded_blooms_and_sketches(spark, tmp_path):
    """A merge table keyed ``k`` records its bloom and NDV columns as table
    properties.  A hint-less append, ``update_where``, a MoR upsert folded
    by ``fold_deletes``, compaction and z-order all keep a ``bloom:k`` and
    a ``k`` sketch on every live file, so NDV answers from metadata and a
    point probe after compaction skips files."""
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.maintenance import compact_table, rewrite_zorder
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    writer = LakeWriter(LakeCatalog(spark, str(tmp_path / "wh")), "ns")
    writer.write(
        TableSpec("t", "merge", primary_key=["k"], ndv_sketch_columns=["k"]),
        _keyed(spark, 0, 2000, 4),
    )
    t = writer.catalog.load_table("ns", "t")

    def check(step):
        snap = t.snapshot()
        for f in snap.files:
            assert "k" in f.sketches and bloom_key("k") in f.sketches, (step, f.path)
        if not snap.delete_files:
            assert t.approx_distinct(["k"]) is not None, step

    check("create")
    writer.write(TableSpec("t", "append"), _keyed(spark, 2000, 2600, 2))
    check("append")
    t.update_where([("v", "=", 1), ("k", "<", 50000)], {"v": 9})
    check("update_where")
    writer.write(
        TableSpec("t", "merge", primary_key=["k"], merge_mode="mor"),
        _keyed(spark, 100, 400, 1).withColumn("v", F.lit(7).cast("bigint")),
    )
    t.fold_deletes()
    check("fold_deletes")
    total = sum(f.bytes for f in t.snapshot().files)
    compact_table(t, target_file_bytes=total // 4, small_file_threshold=100.0)
    check("compact_table")
    files = t.snapshot().files
    assert len(files) >= 4
    probe = (123 * 7919) % 100003
    _, opened = t._select_files(t.snapshot(), [("k", "=", probe)])
    assert len(opened) <= len(files) / 4
    assert t.read(where=[("k", "=", probe)]).count() == 1
    rewrite_zorder(t, ["k", "v"], target_file_bytes=total // 4)
    check("rewrite_zorder")
    assert t.read().count() == 2600


def test_load_resolving_recorded_columns_commits_nothing_new(spark, tmp_path):
    """Loads whose bloom/NDV columns are already recorded land one
    snapshot each; an explicit list replaces the recorded set in the
    load's metadata-only evolution commit, and hinted columns add to it."""
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.table import (
        BLOOM_COLUMN_PROP,
        NDV_COLUMN_PROP,
        recorded_columns,
    )
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    writer = LakeWriter(LakeCatalog(spark, str(tmp_path / "wh")), "ns")
    merge = TableSpec("t", "merge", primary_key=["k"], ndv_sketch_columns=["v"])
    writer.write(merge, _keyed(spark, 0, 100, 1))
    t = writer.catalog.load_table("ns", "t")

    def recorded():
        props = t.snapshot().properties
        return (
            recorded_columns(props, BLOOM_COLUMN_PROP),
            recorded_columns(props, NDV_COLUMN_PROP),
        )

    assert recorded() == (["k"], ["v"])
    for spec in (merge, TableSpec("t", "merge", primary_key=["k"]), TableSpec("t", "append")):
        v = t.current_version()
        writer.write(spec, _keyed(spark, 100, 200, 1))
        assert t.current_version() == v + 1 and recorded() == (["k"], ["v"])
    v = t.current_version()
    writer.write(
        TableSpec(
            "t", "append", bloom_filter_columns=["v"],
            column_hints={"k": {"x-ndv-sketch": True}},
        ),
        _keyed(spark, 200, 300, 1),
    )
    assert t.current_version() == v + 2 and recorded() == (["v"], ["v", "k"])


def test_non_local_staging_runs_one_metadata_job(spark, tmp_path):
    """Staging through HadoopFileIO with bloom and NDV columns launches the
    jobs a stats-only stage does: the write, then one schema read of the
    staging dir and one ``groupBy(input_file_name())`` whose pass also
    builds the blooms and sketches (4 jobs; separate stats, NDV and bloom
    passes took 10)."""
    from dlt_iceberg_spark.lake.fileio import HadoopFileIO
    from tests.test_state import _spark_jobs

    df = _bloom_frame(spark, 4000, 4)
    t = LakeTable(spark, str(tmp_path / "t"), io=HadoopFileIO(spark, str(tmp_path)))
    out = []
    jobs = _spark_jobs(
        spark,
        lambda: out.extend(
            t.stage_dataframe(df, bloom_columns=["key"], ndv_columns=["key"])
        ),
    )
    assert len(out) == 4
    assert all(bloom_key("key") in f.sketches and "key" in f.sketches for f in out)
    plain = _spark_jobs(
        spark, lambda: t.stage_dataframe(df, bloom_columns=[], ndv_columns=[])
    )
    assert jobs == plain == 4
