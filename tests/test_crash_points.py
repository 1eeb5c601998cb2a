"""Crash-point sweep, first subset: every metadata mutation goes through
the FileIO seam, so a FileIO that raises on its k-th mutating call stops
a write at each step of its protocol in turn.  Swept over an append and a
merge-on-read upsert (both commit through ``LakeTable.commit_on_head``)
and the load ledger's driver-written append.

After each injected crash a fresh catalog must read exactly the pre-state
or the post-state, and the next write must succeed."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dlt_iceberg_spark.lake.catalog import LakeCatalog
from dlt_iceberg_spark.lake.fileio import LocalFileIO
from dlt_iceberg_spark.lake.state import StateStore
from dlt_iceberg_spark.lake.table import local_frame
from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

_MUTATING = (
    "write_text",
    "write_bytes",
    "write_text_exclusive",
    "rename",
    "remove",
    "rmtree",
    "makedirs",
)


_MOR_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
)


class InjectedCrash(Exception):
    """Not an OSError (nothing may swallow it) and unclassified, so no
    retry policy retries it."""


class CrashingIO(LocalFileIO):
    """LocalFileIO that raises before its ``crash_at``-th mutating call
    (None: never) and counts them."""

    def __init__(self, crash_at: int | None = None):
        self.crash_at = crash_at
        self.calls = 0


def _counted(name):
    real = getattr(LocalFileIO, name)

    def method(self, *args, **kwargs):
        self.calls += 1
        if self.calls == self.crash_at:
            raise InjectedCrash(f"crash before {name}")
        return real(self, *args, **kwargs)

    return method


for _name in _MUTATING:
    setattr(CrashingIO, _name, _counted(_name))


def _sweep(make_catalog, table, write, read_state, pre, apply):
    """Dry-run ``write`` to count its mutating calls n, then for k = 1..n
    crash it before call k, check that a fresh catalog reads the
    pre-state or ``apply``'s post-state, and land the write for real.

    ``table(catalog)`` is the swept table: while its head stays put the
    fresh read IS the pre-state snapshot, so rows are only read (Spark)
    when the head moved, and after each recovery write."""
    io = CrashingIO()
    write(make_catalog(io), 0)
    state = apply(pre, 0)
    assert read_state() == state
    n = io.calls
    assert n >= 5  # staging + manifest + snapshot + pointer at least
    for k in range(1, n + 1):
        head = table(make_catalog(LocalFileIO())).snapshot()
        with pytest.raises(InjectedCrash):
            write(make_catalog(CrashingIO(crash_at=k)), k)
        after = table(make_catalog(LocalFileIO())).snapshot()
        if after.version != head.version:
            assert read_state() == apply(state, k), f"crash before call {k}"
        else:
            assert after == head, f"crash before call {k}"
        write(make_catalog(LocalFileIO()), k)
        state = apply(state, k)
        assert read_state() == state, f"recovery after a crash before call {k}"
    return n


def _catalog_with(spark, warehouse):
    def make(io):
        catalog = LakeCatalog(spark, warehouse)
        catalog._io = io
        return catalog

    return make


def _rows(spark, warehouse, name):
    t = LakeCatalog(spark, warehouse).load_table("ds", name)
    return sorted(tuple(r) for r in t.read().collect())


def test_append_survives_a_crash_at_every_metadata_step(spark, warehouse):
    spec = TableSpec(name="t", write_disposition="append")
    LakeWriter(LakeCatalog(spark, warehouse), "ds").write(spec, spark.range(2))

    def write(catalog, k):
        batch = spark.range(100 + 10 * k, 102 + 10 * k).coalesce(1)
        LakeWriter(catalog, "ds").write(spec, batch)

    def apply(rows, k):
        return sorted(rows + [(i,) for i in range(100 + 10 * k, 102 + 10 * k)])

    _sweep(
        _catalog_with(spark, warehouse),
        lambda catalog: catalog.load_table("ds", "t"),
        write,
        lambda: _rows(spark, warehouse, "t"),
        [(0,), (1,)],
        apply,
    )


def test_mor_upsert_survives_a_crash_at_every_metadata_step(spark, warehouse):
    spec = TableSpec(
        name="m",
        write_disposition={"disposition": "merge", "strategy": "upsert"},
        primary_key=["id"],
        merge_mode="mor",
    )
    LakeWriter(LakeCatalog(spark, warehouse), "ds").write(
        spec, spark.range(3).select("id", F.lit(-1).cast("long").alias("v"))
    )

    def write(catalog, k):
        # an Arrow-backed frame: no Python-worker job per action
        batch = local_frame(spark, _MOR_SCHEMA, [(k % 3, k), (100 + k, k)])
        LakeWriter(catalog, "ds").write(spec, batch)

    def apply(rows, k):
        model = dict(rows)
        model.update({k % 3: k, 100 + k: k})
        return sorted(model.items())

    _sweep(
        _catalog_with(spark, warehouse),
        lambda catalog: catalog.load_table("ds", "m"),
        write,
        lambda: _rows(spark, warehouse, "m"),
        [(0, -1), (1, -1), (2, -1)],
        apply,
    )


def test_ledger_append_survives_a_crash_at_every_metadata_step(spark, warehouse):
    make = _catalog_with(spark, warehouse)
    StateStore(make(LocalFileIO()), "ds").store_schema("s", "h-seed", 0, {})

    def write(catalog, k):
        StateStore(catalog, "ds").store_schema("s", f"h{k}", k, {})

    def read_state():
        store = StateStore(make(LocalFileIO()), "ds")
        hashes = ["h-seed"] + [f"h{k}" for k in range(20)]
        return [h for h in hashes if store.has_schema_hash(h)]

    def apply(hashes, k):
        return hashes + [f"h{k}"]

    n = _sweep(
        make,
        lambda catalog: catalog.load_table("ds", "_dlt_version"),
        write,
        read_state,
        ["h-seed"],
        apply,
    )
    assert n < 20


def _sorted_mor_table(spark, warehouse):
    """Four key-sorted files; returns the model's rows."""
    LakeWriter(LakeCatalog(spark, warehouse), "ds").write(
        TableSpec(name="m", write_disposition="append"),
        spark.range(40).select("id", F.lit(-1).cast("long").alias("v")).repartitionByRange(4, "id"),
    )
    return [(i, -1) for i in range(40)]


def _stage_deletes(spark, warehouse, spec, k):
    """A MoR upsert (equality delete) of one old key plus a position
    delete of another, committed through a healthy catalog."""
    catalog = LakeCatalog(spark, warehouse)
    LakeWriter(catalog, "ds").write(spec, local_frame(spark, _MOR_SCHEMA, [(k % 10, k)]))
    catalog.load_table("ds", "m").position_delete_where([("id", "=", 20 + k)])


def _apply_deletes(rows, k):
    model = dict(rows)
    model[k % 10] = k
    model.pop(20 + k, None)
    return sorted(model.items())


@pytest.mark.parametrize("op", ["fold_deletes", "compact_table"])
def test_delete_rewrites_survive_a_crash_at_every_metadata_step(spark, warehouse, op):
    """The touched-only fold and a compaction over a table with deletes
    (which folds first).  The deletes land through a healthy catalog;
    only the rewrite runs on the crashing one, and the recovery write
    rewrites what the crashed one left."""
    from dlt_iceberg_spark.lake.maintenance import compact_table

    spec = TableSpec(
        name="m",
        write_disposition={"disposition": "merge", "strategy": "upsert"},
        primary_key=["id"],
        merge_mode="mor",
    )
    pre = _sorted_mor_table(spark, warehouse)
    if op == "compact_table":
        # one file to start from, so every round rewrites the same shape
        compact_table(LakeCatalog(spark, warehouse).load_table("ds", "m"), 1 << 20)

    def write(catalog, k):
        if isinstance(catalog._io, CrashingIO):  # the recovery write only rewrites
            _stage_deletes(spark, warehouse, spec, k)
        table = catalog.load_table("ds", "m")
        if op == "fold_deletes":
            table.fold_deletes()
        else:
            compact_table(table, 1 << 20)

    _sweep(
        _catalog_with(spark, warehouse),
        lambda catalog: catalog.load_table("ds", "m"),
        write,
        lambda: _rows(spark, warehouse, "m"),
        pre,
        _apply_deletes,
    )
    assert LakeCatalog(spark, warehouse).load_table("ds", "m").snapshot().delete_files == []


def test_history_lists_no_snapshot_whose_commit_crashed(spark, warehouse):
    """A commit that crashed before its pointer write leaves its snapshot
    file behind; the next commit lands at the following version on the
    same parent, and history must not show the orphan."""
    spec = TableSpec(name="t", write_disposition="append")
    LakeWriter(LakeCatalog(spark, warehouse), "ds").write(spec, spark.range(2))
    make = _catalog_with(spark, warehouse)
    io = CrashingIO()
    LakeWriter(make(io), "ds").write(spec, spark.range(2, 4).coalesce(1))
    n = io.calls  # the pointer rename is the commit's last mutating call
    before = make(LocalFileIO()).load_table("ds", "t").current_version()
    with pytest.raises(InjectedCrash):
        LakeWriter(make(CrashingIO(crash_at=n)), "ds").write(spec, spark.range(4, 6).coalesce(1))
    table = make(LocalFileIO()).load_table("ds", "t")
    assert table.current_version() == before
    orphan = max(table._all_versions())
    assert orphan > before
    LakeWriter(make(LocalFileIO()), "ds").write(spec, spark.range(6, 8).coalesce(1))
    table = make(LocalFileIO()).load_table("ds", "t")
    history = [s.version for s in table.snapshots()]
    assert orphan not in history and history[-1] == table.current_version()
    assert [s.parent for s in table.snapshots()][1:] == history[:-1]
    exported = table.metadata_df("snapshots").collect()
    assert orphan not in {r[0] for r in exported}
    assert sorted(r[0] for r in table.read().collect()) == [0, 1, 2, 3, 6, 7]
