"""State ledger semantics (FIXTURES.md F11; reference tests/test_with_state_sync.py,
test_load_metadata_resilience.py)."""

import pytest
from pyspark.sql import types as T

from dlt_iceberg_spark.lake.catalog import LakeCatalog
from dlt_iceberg_spark.lake.state import StateStore
from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec


@pytest.fixture()
def store(spark, warehouse):
    return StateStore(LakeCatalog(spark, warehouse), "ds")


def test_newest_schema_wins(store):
    store.store_schema("s", "h1", 1, {"v": 1})
    store.store_schema("s", "h2", 2, {"v": 2})
    store.store_schema("other", "h9", 9, {"v": 9})
    row = store.get_newest_schema("s")
    assert row.version == 2 and row.version_hash == "h2"


def test_schema_lookup_by_hash_exact(store):
    store.store_schema("s", "abc", 1, {"v": 1})
    assert store.get_schema_by_hash("abc").schema_name == "s"
    assert store.get_schema_by_hash("missing") is None


def test_store_schema_idempotent_by_hash(store):
    assert store.store_schema("s", "h1", 1, {}) is True
    assert store.store_schema("s", "h1", 1, {}) is False
    df = store.catalog.load_table("ds", "_dlt_version").read()
    assert df.count() == 1


def test_load_ledger_idempotent(store):
    assert store.store_completed_load("load-1", "s", "h1") is True
    assert store.load_recorded("load-1")
    assert store.store_completed_load("load-1", "s", "h1") is False
    df = store.catalog.load_table("ds", "_dlt_loads").read()
    assert df.count() == 1
    assert df.collect()[0].status == 0


def test_newest_pipeline_state_wins(store):
    store.store_pipeline_state("p", {"n": 1}, version=1)
    store.store_pipeline_state("p", {"n": 2}, version=2)
    row = store.get_stored_state("p")
    assert '"n": 2' in row.state
    assert store.get_stored_state("missing") is None


def test_derive_schema_from_tables_fallback(spark, warehouse):
    """M1 fallback (destination_client.py:435-525): no _dlt_version → derive
    from live tables, skipping _dlt_*."""
    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "ds")
    writer.write(
        TableSpec("users"),
        spark.createDataFrame([(1, "a")], "user_id long, name string"),
    )
    store = StateStore(catalog, "ds")
    store.store_completed_load("x")  # creates a _dlt_ table that must be skipped
    doc = store.derive_schema_from_tables()
    assert doc["version_hash"] == "derived_from_iceberg"
    assert set(doc["tables"]) == {"users"}
    assert doc["tables"]["users"]["columns"]["user_id"]["data_type"] == "bigint"


# ---- load-ledger resilience (reference golden cases:
# tests/test_load_metadata_resilience.py:34-128) ----------------------------

def test_store_load_retries_transient_commit_error(store, monkeypatch):
    """A transient commit conflict retries with backoff and lands exactly
    one row."""
    from dlt_iceberg_spark.errors import CommitConflictError

    calls = {"n": 0}
    orig = type(store)._append

    def flaky(self, name, schema, rows):
        calls["n"] += 1
        if calls["n"] == 1:
            raise CommitConflictError("transient commit failure")
        return orig(self, name, schema, rows)

    sleeps = []
    monkeypatch.setattr(type(store), "_append", flaky)
    assert store.store_completed_load("retry-load", sleep=sleeps.append) is True
    assert calls["n"] == 2
    assert sleeps == [1.0]
    assert store.load_recorded("retry-load")


def test_store_load_idempotent_no_append_when_recorded(store, monkeypatch):
    """Second store for the same load_id must not append at all."""
    assert store.store_completed_load("idem-load") is True

    def boom(self, *a, **k):
        raise AssertionError("append must not be called for a recorded load")

    monkeypatch.setattr(type(store), "_append", boom)
    assert store.store_completed_load("idem-load") is False


def test_store_load_ambiguous_commit_read_after_error(store, monkeypatch):
    """When the commit errors but the read-after-error check finds the row
    (a concurrent committer recorded this load), do NOT retry the append —
    retrying would double-record the load."""
    from dlt_iceberg_spark.errors import CommitConflictError

    orig = type(store)._append
    calls = {"n": 0}

    def ambiguous(self, name, schema, rows):
        calls["n"] += 1
        # the append "fails" AFTER a concurrent writer landed the same row
        orig(self, name, schema, rows)
        raise CommitConflictError("state unknown")

    sleeps = []
    monkeypatch.setattr(type(store), "_append", ambiguous)
    assert store.store_completed_load("ambig-load", sleep=sleeps.append) is True
    assert calls["n"] == 1  # no second append
    assert sleeps == []  # no backoff: ambiguity resolved by reading
    monkeypatch.setattr(type(store), "_append", orig)
    df = store._table_df(
        "_dlt_loads", __import__("dlt_iceberg_spark.lake.state", fromlist=["LOADS_SCHEMA"]).LOADS_SCHEMA
    )
    assert df.filter(df.load_id == "ambig-load").count() == 1


# ---- reference golden cases: tests/test_with_state_sync.py ----------------

def test_lookups_return_none_when_tables_missing(spark, warehouse):
    """Fresh destination: every lookup returns None instead of raising
    (reference: test_get_stored_{schema,schema_by_hash,state}_returns_none
    _when_table_missing)."""
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.state import StateStore

    store = StateStore(LakeCatalog(spark, warehouse), "fresh_ns")
    assert store.get_newest_schema("any") is None
    assert store.get_schema_by_hash("deadbeef") is None
    assert store.get_stored_state("any") is None
    assert store.load_recorded("any") is False


def test_restore_prefers_ledger_over_derivation(spark, warehouse):
    """When _dlt_version has a row, restore returns THAT doc verbatim —
    derivation only kicks in on a ledger-less destination (reference:
    test_get_stored_schema_prefers_dlt_version_over_derivation)."""
    from pyspark.sql import Row
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.state import StateStore
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, warehouse)
    store = StateStore(catalog, "main")
    # a live table exists (derivation WOULD find it)...
    LakeWriter(catalog, "main").write(
        TableSpec(name="users", write_disposition="append"),
        spark.createDataFrame([Row(user_id=1, name="a")]),
    )
    derived = store.restore_schema("pipe")
    assert "users" in derived["tables"]  # no ledger yet -> derived
    assert derived["version_hash"] == "derived_from_iceberg"
    # ...but once the ledger has a doc, it wins verbatim
    doc = {"tables": {"users": {"columns": {"user_id": {"data_type": "bigint"}}}},
           "custom_marker": True}
    store.store_schema("pipe", "hash-1", 1, doc)
    assert store.restore_schema("pipe") == doc


# ---- timestamp-flavor compatibility (reference golden cases:
# tests/test_with_state_sync.py:313-430) -------------------------------------


def test_state_created_at_adapts_to_existing_timestamptz_schema(spark, warehouse):
    """A state table pre-created with tz-aware created_at keeps its flavor;
    the engine's naive-UTC batch adapts instead of clashing."""
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.state import STATE_SCHEMA, STATE_TABLE, StateStore

    tz_schema = T.StructType(
        [
            T.StructField(
                f.name, T.TimestampType() if f.name == "created_at" else f.dataType, f.nullable
            )
            for f in STATE_SCHEMA.fields
        ]
    )
    catalog = LakeCatalog(spark, warehouse)
    catalog.create_namespace("ds")
    catalog.create_table("ds", STATE_TABLE, tz_schema)

    store = StateStore(catalog, "ds")
    store.store_pipeline_state("my_pipeline", {"state": True}, 1, "hash1")

    table = catalog.load_table("ds", STATE_TABLE)
    field = {f.name: f.dataType for f in table.schema().fields}["created_at"]
    assert isinstance(field, T.TimestampType)  # NOT downgraded to ntz
    row = store.get_stored_state("my_pipeline")
    assert row is not None and row.state == '{"state": true}'
    assert row.created_at is not None


def test_state_created_at_preserves_naive_schema(spark, warehouse):
    """Default path: the engine-created table stays timestamp_ntz across
    appends (no silent upgrade either)."""
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.state import STATE_TABLE, StateStore

    catalog = LakeCatalog(spark, warehouse)
    catalog.create_namespace("ds")
    store = StateStore(catalog, "ds")
    store.store_pipeline_state("p", {"a": 1}, 1, "h1")
    store.store_pipeline_state("p", {"a": 2}, 2, "h2")
    table = catalog.load_table("ds", STATE_TABLE)
    field = {f.name: f.dataType for f in table.schema().fields}["created_at"]
    assert isinstance(field, T.TimestampNTZType)
    assert store.get_stored_state("p").version == 2


# ---- driver-side ledger: pruned lookups, driver-written appends ------------


def _tz_variant(schema, column):
    return T.StructType(
        [
            T.StructField(f.name, T.TimestampType() if f.name == column else f.dataType, f.nullable)
            for f in schema.fields
        ]
    )


def test_clear_schema_versions_keeps_stored_tz_schema(spark, warehouse):
    """Clearing one schema's versions commits the table's STORED schema: a
    pre-created tz-aware ``_dlt_version`` keeps ``inserted_at`` tz-aware."""
    from dlt_iceberg_spark.lake.state import VERSION_SCHEMA, VERSION_TABLE

    catalog = LakeCatalog(spark, warehouse)
    catalog.create_namespace("ds")
    catalog.create_table("ds", VERSION_TABLE, _tz_variant(VERSION_SCHEMA, "inserted_at"))
    store = StateStore(catalog, "ds")
    store.store_schema("keep", "h1", 1, {"v": 1})
    store.store_schema("drop", "h2", 1, {"v": 2})
    assert store.clear_schema_versions("drop") == 1
    field = catalog.load_table("ds", VERSION_TABLE).schema()["inserted_at"]
    assert isinstance(field.dataType, T.TimestampType)
    assert store.get_schema_by_hash("h1").schema_name == "keep"
    assert store.get_schema_by_hash("h2") is None


def test_local_frame_round_trips_schemas_exactly(spark):
    """The Arrow-built frame keeps timestamp_ntz, tz timestamps,
    nullable=False, decimals and nested types exactly — empty or not."""
    import datetime as dt
    import decimal

    from pyspark.sql import functions as F

    from dlt_iceberg_spark.lake.table import local_frame

    nested = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("ntz", T.TimestampNTZType(), True),
            T.StructField("tz", T.TimestampType(), False),
            T.StructField("d", T.DecimalType(12, 2), True),
            T.StructField("m", T.MapType(T.StringType(), T.LongType()), True),
            T.StructField(
                "s",
                T.StructType(
                    [
                        T.StructField("x", T.IntegerType(), False),
                        T.StructField("y", T.ArrayType(T.DateType()), True),
                    ]
                ),
                True,
            ),
        ]
    )
    empty = local_frame(spark, nested)
    assert empty.schema == nested
    assert empty.collect() == []

    flat = T.StructType(nested.fields[:4])
    naive = dt.datetime(2024, 3, 1, 12, 30, 0, 123456)
    df = local_frame(spark, flat, [("a", naive, naive, decimal.Decimal("1.25"))])
    assert df.schema == flat
    row = df.select("k", "ntz", F.unix_micros("tz").alias("tz"), "d").collect()[0]
    assert row.k == "a" and row.ntz == naive and row.d == decimal.Decimal("1.25")
    # a naive value in a tz-aware column is the same instant read as UTC
    assert row.tz == int(naive.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def _spark_jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn`` runs, counted by job group after
    draining the listener bus so every started job is visible."""
    import uuid

    sc = spark.sparkContext
    group = f"ledger-guard-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ledger_fresh_check_and_append_launch_no_spark_jobs(spark, warehouse):
    """On a ledger of 20 loads, checking an unseen load_id and recording a
    new one run zero Spark jobs: manifest stats prune every data file and
    the append is written on the driver."""
    store = StateStore(LakeCatalog(spark, warehouse), "ds")
    for i in range(20):
        store.store_completed_load(f"load-{i:03d}", "s", "h")
    # the count sees jobs when there are some
    assert _spark_jobs(spark, lambda: store.load_recorded("load-007")) >= 1
    # unseen ids inside and outside the recorded range
    assert _spark_jobs(spark, lambda: store.load_recorded("load-007b")) == 0
    assert _spark_jobs(spark, lambda: store.load_recorded("load-999")) == 0
    assert _spark_jobs(spark, lambda: store.store_completed_load("load-100", "s", "h")) == 0
    assert store.load_recorded("load-100") and not store.load_recorded("load-007b")


def test_steady_state_pipeline_run_spends_at_most_one_ledger_job(spark, warehouse, monkeypatch):
    """A load that re-delivers a known schema probes the schema hash (one
    job, reading the one file that holds it) and nothing else of the
    ledger touches Spark."""
    import functools

    from dlt_iceberg_spark.lake.pipeline import Pipeline, Resource

    p = Pipeline(spark, warehouse, dataset_name="ds")
    batch = spark.createDataFrame([(1, "a")], "id long, v string")
    for i in range(3):
        p.run(Resource(batch, "t"), load_id=f"warm-{i}")

    ledger_jobs = []
    for m in ("load_recorded", "store_completed_load", "get_newest_schema",
              "get_schema_by_hash", "store_schema"):
        orig = getattr(StateStore, m)

        def wrapped(self, *a, _orig=orig, **k):
            out = []
            ledger_jobs.append(_spark_jobs(spark, lambda: out.append(_orig(self, *a, **k))))
            return out[0]

        monkeypatch.setattr(StateStore, m, functools.wraps(orig)(wrapped))
    loads = 3
    for i in range(loads):
        info = p.run(Resource(batch, "t"), load_id=f"steady-{i}")
        assert not info.already_loaded
    assert sum(ledger_jobs) <= loads
    assert p.run(Resource(batch, "t"), load_id="steady-0").already_loaded


def test_steady_state_pipeline_run_spends_zero_ledger_jobs(spark, warehouse, monkeypatch):
    """A load that re-delivers a known schema answers the schema-hash
    probe from manifest stats: no ledger call launches a Spark job."""
    import functools

    from dlt_iceberg_spark.lake.pipeline import Pipeline, Resource

    p = Pipeline(spark, warehouse, dataset_name="ds")
    batch = spark.createDataFrame([(1, "a")], "id long, v string")
    for i in range(3):
        p.run(Resource(batch, "t"), load_id=f"warm-{i}")

    ledger_jobs: dict[str, list[int]] = {}
    for m in ("load_recorded", "store_completed_load", "get_newest_schema",
              "get_schema_by_hash", "has_schema_hash", "store_schema"):
        orig = getattr(StateStore, m)

        def wrapped(self, *a, _orig=orig, _m=m, **k):
            out = []
            ledger_jobs.setdefault(_m, []).append(
                _spark_jobs(spark, lambda: out.append(_orig(self, *a, **k)))
            )
            return out[0]

        monkeypatch.setattr(StateStore, m, functools.wraps(orig)(wrapped))
    loads = 3
    for i in range(loads):
        assert not p.run(Resource(batch, "t"), load_id=f"steady-{i}").already_loaded
    assert len(ledger_jobs["has_schema_hash"]) == loads
    assert {m: sum(n) for m, n in ledger_jobs.items() if sum(n)} == {}


def test_ledger_over_hadoop_fileio(spark, tmp_path):
    """The ledger's driver-written appends and pruned lookups work when the
    table format's I/O rides the JVM Hadoop FileSystem."""
    from dlt_iceberg_spark.lake.fileio import HadoopFileIO
    from dlt_iceberg_spark.lake.state import LOADS_TABLE

    warehouse = f"file://{tmp_path}/wh"
    catalog = LakeCatalog(spark, warehouse)
    catalog._io = HadoopFileIO(spark, warehouse)
    store = StateStore(catalog, "ds")
    assert store.store_completed_load("l1", "s", "h1") is True
    assert store.store_completed_load("l2", "s", "h1") is True
    assert store.store_completed_load("l1", "s", "h1") is False
    assert store.load_recorded("l2") and not store.load_recorded("l3")
    assert store.store_schema("s", "h1", 1, {"v": 1}) is True
    assert store.store_schema("s", "h1", 1, {"v": 1}) is False
    assert store.get_newest_schema("s").version_hash == "h1"
    table = catalog.load_table("ds", LOADS_TABLE)
    assert isinstance(table._io, HadoopFileIO)
    assert sorted(r.load_id for r in table.read().collect()) == ["l1", "l2"]
    assert all(f.stats["load_id"][0] == f.stats["load_id"][1] for f in table.snapshot().files)


@pytest.mark.parametrize("table_name", ["_dlt_loads", "_dlt_pipeline_state"])
def test_precreated_tz_ledgers_store_same_instants(spark, warehouse, monkeypatch, table_name):
    """Pre-created tz-aware ledgers store the instants a Spark cast of the
    same naive-UTC row would store."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from dlt_iceberg_spark.lake import state as state_mod
    from dlt_iceberg_spark.schema.casting import cast_dataframe_safe

    fixed = dt.datetime(2024, 7, 1, 23, 59, 58, 654321)
    monkeypatch.setattr(state_mod, "_utcnow_naive", lambda: fixed)
    schema, col = {
        "_dlt_loads": (state_mod.LOADS_SCHEMA, "inserted_at"),
        "_dlt_pipeline_state": (state_mod.STATE_SCHEMA, "created_at"),
    }[table_name]
    tz_schema = _tz_variant(schema, col)
    catalog = LakeCatalog(spark, warehouse)
    catalog.create_namespace("ds")
    catalog.create_table("ds", table_name, tz_schema)
    store = StateStore(catalog, "ds")
    if table_name == "_dlt_loads":
        store.store_completed_load("l1", "s", "h1")
    else:
        store.store_pipeline_state("p", {"a": 1}, 1, "h1")

    table = catalog.load_table("ds", table_name)
    assert table.schema() == tz_schema
    row = table.read().withColumn("__us", F.unix_micros(col)).collect()[0].asDict()
    stored = row.pop("__us")
    # what the Spark path stored: the naive row cast to the stored schema
    via_spark = cast_dataframe_safe(
        spark.createDataFrame([Row(**{**row, col: fixed})], schema), tz_schema
    ).select(F.unix_micros(col)).collect()[0][0]
    assert stored == via_spark == int(fixed.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def test_load_recorded_through_position_delete(store):
    """A `_dlt_loads` table carrying a position delete answers lookups on
    its live rows only, and a deleted load can be recorded again."""
    from dlt_iceberg_spark.lake.state import LOADS_TABLE

    for lid in ("a", "b", "c"):
        store.store_completed_load(lid, "s", "h")
    table = store.catalog.load_table("ds", LOADS_TABLE)
    table.position_delete_where([("load_id", "=", "b")])
    assert any(d.content == "position" for d in table.snapshot().delete_files)
    assert store.load_recorded("a") and store.load_recorded("c")
    assert not store.load_recorded("b") and not store.load_recorded("d")
    assert store.store_completed_load("b", "s", "h") is True
    assert store.load_recorded("b")
    assert sorted(r.load_id for r in table.read().collect()) == ["a", "b", "c"]
