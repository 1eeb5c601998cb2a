"""Head-relative commits: ``LakeTable.commit``'s delta form builds on the
expected parent's inventory, and ``LakeTable.commit_on_head`` is the one
read-head / check / commit / retry loop (writer append and MoR, vector
index append/delete, the native streaming sink).  Also covers the shared
driver-side staging path ``LakeTable.stage_rows`` that the sink and the
load ledger write through."""

import json
import logging
import os

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from dlt_iceberg_spark.errors import CommitConflictError, RetryPolicy
from dlt_iceberg_spark.lake.catalog import LakeCatalog
from dlt_iceberg_spark.lake.manifest import DataFile, DeleteFile
from dlt_iceberg_spark.lake.table import LakeTable, arrow_table
from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec, WriterConfig
from dlt_iceberg_spark.streaming.source import register_lake_stream_source

SCHEMA = T.StructType([T.StructField("k", T.LongType())])


def _no_sleep() -> RetryPolicy:
    return RetryPolicy(5, sleep=lambda _s: None)


# -- parent-relative delta commits -----------------------------------------


def test_delta_commit_builds_on_the_expected_parent(spark, tmp_path):
    """``new_files`` lists only the added entries, ``new_deletes`` add to
    the parent's deletes, and ``new_files=[]`` is a metadata-only
    commit."""
    t = LakeTable(spark, str(tmp_path / "t"))
    s0 = t.commit([DataFile(path="data/a.parquet", rows=1, bytes=10)], SCHEMA, "create", None)
    s1 = t.commit(
        None, SCHEMA, "append", s0.version,
        new_files=[DataFile(path="data/b.parquet", rows=2, bytes=10)],
        new_deletes=[DeleteFile(path="data/d1.parquet", rows=1, bytes=5, equality_ids=["k"])],
    )
    assert sorted(f.path for f in s1.files) == ["data/a.parquet", "data/b.parquet"]
    assert s1.summary["added-data-files"] == 1
    assert s1.manifests[0] == s0.manifests[0]  # reused by reference
    s2 = t.commit(
        None, SCHEMA, "delete", s1.version,
        new_deletes=[DeleteFile(path="data/d2.parquet", rows=1, bytes=5, equality_ids=["k"])],
    )
    assert [d.path for d in s2.delete_files] == ["data/d1.parquet", "data/d2.parquet"]
    assert s2.delete_files[0].sequence == s1.version  # the parent's stamp kept
    assert s2.manifests == s1.manifests
    s3 = t.commit(
        None, SCHEMA, "evolve-partition", s2.version, properties={"p": "1"}, new_files=[]
    )
    assert t.snapshot().properties == {"p": "1"}
    assert s3.manifests == s2.manifests and s3.delete_files == s2.delete_files
    # an explicit delete set replaces the parent's; new_deletes still add
    s4 = t.commit(
        None, SCHEMA, "delete", s3.version, delete_files=[],
        new_deletes=[DeleteFile(path="data/d3.parquet", rows=1, bytes=5, equality_ids=["k"])],
    )
    assert [d.path for d in s4.delete_files] == ["data/d3.parquet"]
    with pytest.raises(ValueError, match="not both"):
        t.commit([], SCHEMA, "x", s4.version, new_files=[])


def test_delta_commit_folds_legacy_inline_entries(spark, tmp_path):
    """A parent-relative append on a legacy snapshot (inline ``files``)
    keeps those entries, now inside the new manifest."""
    loc = str(tmp_path / "legacy")
    meta = os.path.join(loc, "metadata")
    os.makedirs(meta)
    with open(os.path.join(meta, "v000000.json"), "w") as fh:
        json.dump(
            {
                "version": 0,
                "schema": SCHEMA.jsonValue(),
                "files": [{"path": "data/a.parquet", "rows": 3, "bytes": 100}],
                "operation": "create",
                "parent": None,
                "timestamp": "2026-01-01T00:00:00+00:00",
            },
            fh,
        )
    with open(os.path.join(meta, "_current"), "w") as fh:
        fh.write("0")
    t = LakeTable(spark, loc)
    snap = t.commit(
        None, SCHEMA, "append", 0,
        new_files=[DataFile(path="data/b.parquet", rows=1, bytes=10)],
    )
    fresh = t.snapshot()
    assert fresh.inline_files == []
    assert {f.path: f.sequence for f in fresh.files} == {
        "data/a.parquet": 0,
        "data/b.parquet": snap.version,
    }


# -- commit_on_head ----------------------------------------------------------


def test_commit_on_head_retries_races_and_never_retries_a_refusal(
    spark, tmp_path, monkeypatch
):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.commit([], SCHEMA, "create", None)
    other = LakeTable(spark, t.location)
    calls = {"commit": 0, "check": 0}
    orig_commit = LakeTable.commit

    def racing_commit(self, *a, **k):
        calls["commit"] += 1
        if calls["commit"] == 1:  # a concurrent writer lands first
            orig_commit(
                other, None, SCHEMA, "append", other.current_version(),
                new_files=[DataFile(path="data/x.parquet", rows=1, bytes=1)],
            )
        return orig_commit(self, *a, **k)

    def check(head):
        calls["check"] += 1

    monkeypatch.setattr(LakeTable, "commit", racing_commit)
    snap = t.commit_on_head(
        "append",
        new_files=[DataFile(path="data/y.parquet", rows=1, bytes=1)],
        summary={"s": 1},
        check=check,
        policy=_no_sleep(),
    )
    assert calls == {"commit": 2, "check": 2}  # race lost once, won on retry
    assert sorted(f.path for f in snap.files) == ["data/x.parquet", "data/y.parquet"]
    assert snap.summary["s"] == 1

    # a refusal leaves at once, even when it is itself retryable
    calls.update(commit=0, check=0)

    def refuse(head):
        calls["check"] += 1
        raise CommitConflictError("head moved")

    with pytest.raises(CommitConflictError, match="head moved"):
        t.commit_on_head("append", check=refuse, policy=_no_sleep())
    assert calls == {"commit": 0, "check": 1}


def test_writer_schema_refusal_replays_the_load_once(spark, warehouse, monkeypatch, caplog):
    """A column added between an append's staging and its commit makes the
    head check refuse; the write replays through create-or-evolve exactly
    once and lands every row (the new column reads NULL)."""
    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "main", WriterConfig(retry_backoff_base=0.0))
    spec = TableSpec(name="t", write_disposition="append")
    writer.write(spec, spark.range(0, 10), load_id="l0")

    stages = {"n": 0}
    ops: list[str] = []
    orig_stage = LakeTable.stage_dataframe
    orig_commit = LakeTable.commit

    def stage_then_evolve(self, *a, **k):
        stages["n"] += 1
        out = orig_stage(self, *a, **k)
        if stages["n"] == 1:
            catalog.load_table("main", "t").add_column("extra", "string")
        return out

    def recording_commit(self, files, schema, operation, *a, **k):
        ops.append(operation)
        return orig_commit(self, files, schema, operation, *a, **k)

    monkeypatch.setattr(LakeTable, "stage_dataframe", stage_then_evolve)
    monkeypatch.setattr(LakeTable, "commit", recording_commit)
    with caplog.at_level(logging.WARNING, logger="dlt_iceberg_spark"):
        writer.write(spec, spark.range(10, 20), load_id="l1")
    monkeypatch.undo()
    retries = [r for r in caplog.records if "retryable failure" in r.getMessage()]
    assert len(retries) == 1 and "schema change" in retries[0].getMessage()
    assert stages["n"] == 2  # the refused batch, then its replay
    assert ops == ["add-column", "append"]
    rows = catalog.load_table("main", "t").read().collect()
    assert sorted(r.id for r in rows) == list(range(20))
    assert all(r.extra is None for r in rows)


# -- the streaming sink ------------------------------------------------------


def _sink_table(spark, warehouse):
    catalog = LakeCatalog(spark, warehouse)
    LakeWriter(catalog, "ds").write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(1, "a")], "id long, v string"),
        load_id="l0",
    )
    return catalog.load_table("ds", "t")


def _batch(ids, vs):
    return pa.RecordBatch.from_pydict(
        {"id": pa.array(ids, pa.int64()), "v": pa.array(vs, pa.string())}
    )


def test_sink_epoch_survives_a_lost_commit_race(spark, warehouse, monkeypatch):
    from dlt_iceberg_spark.streaming.sink import _LakeStreamWriter

    t = _sink_table(spark, warehouse)
    w = _LakeStreamWriter(t.snapshot().schema, {"location": t.location})
    msg = w.write(iter([_batch([2, 3], ["b", "c"])]))
    staged = [f["path"] for f in json.loads(msg.files_json)]
    assert len(staged) == 1
    data_dir = os.path.join(t.location, "data")
    on_disk = set(os.listdir(data_dir))

    calls = {"n": 0}
    orig_commit = LakeTable.commit

    def flaky_commit(self, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise CommitConflictError("simulated lost race")
        return orig_commit(self, *a, **k)

    monkeypatch.setattr(LakeTable, "commit", flaky_commit)
    w.commit([msg], batchId=4)
    monkeypatch.undo()
    assert calls["n"] == 2
    assert set(os.listdir(data_dir)) == on_disk  # nothing restaged
    snap = t.snapshot()
    assert snap.properties["stream.last-committed-batch"] == "4"
    assert snap.summary["stream-batch-id"] == 4
    assert sorted((r.id, r.v) for r in t.read().collect()) == [(1, "a"), (2, "b"), (3, "c")]
    # a replay of the committed epoch lands nothing and drops its files
    again = w.write(iter([_batch([2, 3], ["b", "c"])]))
    w.commit([again], batchId=4)
    assert t.current_version() == snap.version
    assert set(os.listdir(data_dir)) == on_disk


def test_sink_guard_refusal_commits_nothing_and_drops_staged_files(
    spark, warehouse, monkeypatch
):
    from dlt_iceberg_spark.streaming.sink import _LakeStreamWriter

    t = _sink_table(spark, warehouse)
    wrong = T.StructType(
        [T.StructField("id", T.DoubleType()), T.StructField("v", T.StringType())]
    )
    w = _LakeStreamWriter(wrong, {"location": t.location})
    msg = w.write(
        iter([pa.RecordBatch.from_pydict({"id": [2.5], "v": ["b"]})])
    )
    staged = [f["path"] for f in json.loads(msg.files_json)]
    assert staged and all(os.path.exists(os.path.join(t.location, p)) for p in staged)
    calls = {"n": 0}
    orig_commit = LakeTable.commit

    def counting_commit(self, *a, **k):
        calls["n"] += 1
        return orig_commit(self, *a, **k)

    monkeypatch.setattr(LakeTable, "commit", counting_commit)
    with pytest.raises(ValueError, match="does not match"):
        w.commit([msg], batchId=0)
    assert calls["n"] == 0
    assert not any(os.path.exists(os.path.join(t.location, p)) for p in staged)


def test_sink_files_carry_the_recorded_bloom_columns(spark, tmp_path):
    """Stream-landed files on a merge table keyed on ``id`` carry manifest
    blooms on ``id`` (the table records it), so a point probe skips the
    files whose [min, max] range covers the value but whose rows do not
    hold it."""
    register_lake_stream_source(spark)
    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    LakeWriter(catalog, "ds").write(
        TableSpec(name="t", write_disposition="merge", primary_key=["id"]),
        spark.createDataFrame([(1000, "seed")], "id long, v string"),
        load_id="l0",
    )
    t = catalog.load_table("ds", "t")
    src = str(tmp_path / "in")
    for i, ids in enumerate([[0, 100], [50, 70], [60, 65]]):
        spark.createDataFrame([(k, f"v{k}") for k in ids], "id long, v string").coalesce(
            1
        ).write.parquet(f"{src}/p{i}")
    q = (
        spark.readStream.schema("id long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
        .writeStream.format("laketable")
        .option("location", t.location)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    snap = t.snapshot()
    streamed = [f for f in snap.files if f.stats["id"][0] < 1000]
    assert len(streamed) == 3
    assert all("bloom:id" in f.sketches for f in streamed)
    assert all(f.stats["id"][0] <= 60 <= f.stats["id"][1] for f in streamed)
    _, files = t._select_files(snap, [("id", "=", 60)])
    assert [f.stats["id"] for f in files] == [[60, 65]]
    assert [r.v for r in t.read(where=[("id", "=", 60)]).collect()] == ["v60"]


# -- stage_rows --------------------------------------------------------------


def test_stage_rows_float_nan_records_no_range(spark, tmp_path):
    """pyarrow's footer statistics skip NaN, Spark orders NaN above every
    number: a float column holding NaN is written without statistics, so
    neither the manifest nor Spark's row-group filter prunes it away."""
    schema = T.StructType([T.StructField("x", T.DoubleType())])
    t = LakeTable(spark, str(tmp_path / "t"))
    (f,) = t.stage_rows(arrow_table(schema, [(1.0,), (float("nan"),), (1.0,)]), schema)
    assert f.rows == 3 and "x" not in f.stats
    path = os.path.join(t.location, f.path)
    assert spark.read.parquet(path).filter("x > 2").count() == 1
