"""Native streaming SINK (`writeStream.format("laketable")`,
streaming/sink.py): executor-side Arrow→parquet staging, one atomic
snapshot per epoch, replay-safe commits, stats parity with batch writes.
"""

import os

import pytest
from pyspark.sql import functions as F

from dlt_iceberg_spark.lake.catalog import LakeCatalog
from dlt_iceberg_spark.lake.table import LakeTable
from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec
from dlt_iceberg_spark.streaming.source import register_lake_stream_source


@pytest.fixture()
def reg(spark):
    register_lake_stream_source(spark)
    return spark


def _file_feed(spark, src_dir, ckpt, loc, schema="id bigint, v bigint"):
    sdf = spark.readStream.schema(schema).parquet(src_dir + "/*")
    q = (
        sdf.writeStream.format("laketable")
        .option("location", loc)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_sink_lands_atomic_snapshot_with_stats(reg, tmp_path):
    spark = reg
    src = str(tmp_path / "in")
    spark.range(20).select("id", (F.col("id") * 3).alias("v")).write.parquet(
        src + "/p1"
    )
    loc = str(tmp_path / "t")
    _file_feed(spark, src, str(tmp_path / "ckpt"), loc)
    t = LakeTable(spark, loc)
    assert sorted(r.v for r in t.read().collect()) == [i * 3 for i in range(20)]
    snap = t.snapshot()
    assert snap.operation == "append"
    # stream-landed files carry min/max stats: pruning works like batch
    _, files = t._select_files(snap, [("v", ">=", 57)])
    assert 0 < len(files) < snap.n_files or snap.n_files == 1


def test_sink_restart_is_exactly_once(reg, tmp_path):
    spark = reg
    src, ckpt, loc = str(tmp_path / "in"), str(tmp_path / "ckpt"), str(tmp_path / "t")
    spark.createDataFrame([(1, 10)], "id bigint, v bigint").write.parquet(src + "/p1")
    _file_feed(spark, src, ckpt, loc)
    # restart with no new input: no new snapshot, no duplicate rows
    t = LakeTable(spark, loc)
    v_before = t.current_version()
    _file_feed(spark, src, ckpt, loc)
    assert t.current_version() == v_before
    spark.createDataFrame([(2, 20)], "id bigint, v bigint").write.parquet(src + "/p2")
    _file_feed(spark, src, ckpt, loc)
    assert sorted((r.id, r.v) for r in t.read().collect()) == [(1, 10), (2, 20)]


def test_sink_partitioned_identity_lands_clustered_and_prunes(reg, tmp_path):
    """Partitioned targets through the NATIVE sink: each epoch's files
    split per partition tuple with full partition metadata, so
    stream-landed files cluster and prune exactly like batch-landed
    ones."""
    spark = reg
    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ds")
    writer.write(
        TableSpec(
            name="t",
            write_disposition="append",
            column_hints={"v": {"x-partition": True}},
        ),
        spark.createDataFrame([(0, "a")], "id long, v string"),
        load_id="l0",
    )
    t = catalog.load_table("ds", "t")
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b"), (4, "c")], "id long, v string"
    ).coalesce(1).write.parquet(src + "/p1")
    sdf = spark.readStream.schema("id long, v string").parquet(src + "/*")
    q = (
        sdf.writeStream.format("laketable")
        .option("location", t.location)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted((r.id, r.v) for r in t.read().collect()) == [
        (0, "a"), (1, "a"), (2, "b"), (3, "b"), (4, "c"),
    ]
    snap = t.snapshot()
    # every stream-landed file carries its partition tuple, one value per file
    assert all(f.partition.get("v") is not None for f in snap.files)
    assert {f.partition["v"] for f in snap.files} == {"a", "b", "c"}
    # per-partition clustering: no file mixes partition values
    for f in snap.files:
        vals = {
            r.v
            for r in spark.read.parquet(
                os.path.join(t.location, f.path)
            ).collect()
        }
        assert vals == {f.partition["v"]}
    # prune behavior: a v-probe plans only that partition's files
    _, planned = t._select_files(snap, [("v", "=", "b")])
    assert planned and all(f.partition["v"] == "b" for f in planned)
    assert len(planned) < len(snap.files)


def test_sink_partitioned_bucket_matches_batch_writer_domain(reg, tmp_path):
    """Bucket transforms render executor-side via the pinned pure-Python
    XXH64 — stream-landed partition values must land in the SAME buckets
    the batch writer's pmod(xxhash64(id), N) assigns, or probe rewriting
    would prune to the wrong files."""
    spark = reg
    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ds")
    hints = {"id": {"x-partition": True, "x-partition-transform": "bucket[4]"}}
    writer.write(
        TableSpec(name="t", write_disposition="append", column_hints=hints),
        spark.createDataFrame([(100, "seed")], "id long, v string"),
        load_id="l0",
    )
    t = catalog.load_table("ds", "t")
    src = str(tmp_path / "in")
    # the null key pins the divergence fix: Spark's xxhash64(NULL) returns
    # the seed (42), so the batch expression sends NULL to bucket 42 % N —
    # the stream renderer must land it in the SAME bucket, not a null
    # partition
    rows = [(i, f"v{i}") for i in range(20)] + [(None, "vnull")]
    spark.createDataFrame(rows, "id long, v string").coalesce(1).write.parquet(
        src + "/p1"
    )
    sdf = spark.readStream.schema("id long, v string").parquet(src + "/*")
    q = (
        sdf.writeStream.format("laketable")
        .option("location", t.location)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # Spark's own expression decides the expected bucket per id
    expected = {
        r.id: str(r.b)
        for r in spark.createDataFrame(rows, "id long, v string")
        .select("id", F.pmod(F.xxhash64("id"), F.lit(4)).alias("b"))
        .collect()
    }
    snap = t.snapshot()
    for f in snap.files:
        got = f.partition.get("id_bucket")
        assert got is not None
        for r in spark.read.parquet(os.path.join(t.location, f.path)).collect():
            if r.id == 100:
                continue
            assert expected[r.id] == got, f"id {r.id}: {expected[r.id]} != {got}"
    # transform-aware probe rewriting prunes on the bucket of the probe key
    assert sorted(r.id for r in t.read(where=[("id", "=", 7)]).collect()) == [7]


def test_sink_refuses_timestamp_partition_transforms(reg, tmp_path):
    """Timestamp-sourced transforms depend on the writer session's tz
    frame, which executor-side Arrow rendering cannot reproduce — the
    sink refuses AT STREAM START naming stream_write."""
    spark = reg
    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ds")
    writer.write(
        TableSpec(
            name="t",
            write_disposition="append",
            column_hints={"ts": {"x-partition": True, "x-partition-transform": "day"}},
        ),
        spark.sql("SELECT 1::LONG id, TIMESTAMP'2024-01-02 03:04:05' ts"),
        load_id="l0",
    )
    t = catalog.load_table("ds", "t")
    src = str(tmp_path / "in")
    spark.sql("SELECT 2::LONG id, TIMESTAMP'2024-01-03 03:04:05' ts").write.parquet(
        src + "/p1"
    )
    sdf = spark.readStream.schema("id long, ts timestamp").parquet(src + "/*")
    import pyspark.errors

    with pytest.raises(Exception, match="stream_write"):
        q = (
            sdf.writeStream.format("laketable")
            .option("location", t.location)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    assert t.read().count() == 1


def test_sink_refuses_schema_mismatch(reg, tmp_path):
    spark = reg
    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ds")
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(1, "a")], "id long, v string"),
        load_id="l0",
    )
    t = catalog.load_table("ds", "t")
    src = str(tmp_path / "in")
    spark.createDataFrame([(2.5, "b")], "id double, v string").write.parquet(
        src + "/p1"
    )
    sdf = spark.readStream.schema("id double, v string").parquet(src + "/*")
    q = (
        sdf.writeStream.format("laketable")
        .option("location", t.location)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="does not match"):
        q.awaitTermination(120)
    assert t.read().count() == 1


def test_source_to_sink_mirror(reg, tmp_path):
    """Compose the format's two halves: tail table A with the streaming
    SOURCE and land every append into table B with the native SINK."""
    spark = reg
    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ds")
    for i in range(3):
        writer.write(
            TableSpec(name="a", write_disposition="append"),
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"),
            load_id=f"l{i}",
        )
    a = catalog.load_table("ds", "a")
    b_loc = str(tmp_path / "wh" / "ds" / "b")
    from dlt_iceberg_spark.streaming.source import read_stream

    q = (
        read_stream(spark, a.location, from_beginning=True)
        .writeStream.format("laketable")
        .option("location", b_loc)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    b = LakeTable(spark, b_loc)
    assert sorted((r.id, r.v) for r in b.read().collect()) == [
        (0, "v0"), (1, "v1"), (2, "v2"),
    ]


def test_sink_rejects_structural_spec_replacement(reg, tmp_path):
    """The mid-stream spec guard is STRUCTURAL: a spec replaced with a
    different column/transform/param (same presence) fails the commit
    with the restart error instead of silently committing files rendered
    under the stale frozen spec."""
    from dlt_iceberg_spark.streaming.sink import _LakeStreamWriter

    spark = reg
    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "ds")
    hints = {"id": {"x-partition": True, "x-partition-transform": "bucket[4]"}}
    writer.write(
        TableSpec(name="t", write_disposition="append", column_hints=hints),
        spark.createDataFrame([(1, "a")], "id long, v string"),
        load_id="l0",
    )
    t = catalog.load_table("ds", "t")
    w = _LakeStreamWriter(t.snapshot().schema, {"location": t.location})
    assert w.pspec  # froze the bucket[4] spec

    # replace the spec with a different param while the "stream" runs
    snap = t.snapshot()
    t.commit(
        None,
        snap.schema,
        "append",
        snap.version,
        manifests=snap.manifests,
        new_files=list(snap.inline_files),
        partition_spec=[{"column": "id", "transform": "bucket", "param": 8}],
    )
    with pytest.raises(ValueError, match="partition spec changed"):
        w.commit([], batchId=7)


def test_sink_float_nan_records_no_range(reg, tmp_path):
    """pyarrow's min_max skips NaN, but Spark orders NaN above every
    number: a stream-landed float column holding NaN records no range, so
    a ``>`` probe keeps the file."""
    spark = reg
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 1.0)], "id bigint, x double"
    ).coalesce(1).write.parquet(src + "/p1")
    loc = str(tmp_path / "t")
    _file_feed(spark, src, str(tmp_path / "ckpt"), loc, schema="id bigint, x double")
    t = LakeTable(spark, loc)
    assert all("x" not in f.stats for f in t.snapshot().files)
    assert t.count(where=[("x", ">", 2.0)]) == 1
    assert t.read(where=[("x", "=", 1.0)]).count() == 2
