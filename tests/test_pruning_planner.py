"""One pruning planner (``LakeTable._plan_files``) behind every entry point:
the copy-on-write split (``prune_split``), read planning (``_select_files``
in both plan modes) and changelog equality-delete images must agree on
which files a probe can touch, and skip the same manifests unread."""

import pytest
from pyspark.sql import functions as F

import dlt_iceberg_spark.lake.table as table_mod
from dlt_iceberg_spark.lake.catalog import LakeCatalog
from dlt_iceberg_spark.lake.table import LakeTable
from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec
from dlt_iceberg_spark.partition import PartitionField, partition_columns

SPEC = [PartitionField(column="id", transform="bucket", param=4)]


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    """bucket[4](id) table over three delta appends (three manifests) with
    disjoint id ranges; ``extra`` is all-null in the first append, so those
    files carry no stats for it."""
    loc = str(tmp_path_factory.mktemp("planner") / "t")
    t = LakeTable(spark, loc)
    pexprs = partition_columns(SPEC)
    for i in range(3):
        df = spark.range(i * 100, i * 100 + 100, numPartitions=2).select(
            F.col("id"),
            (F.lit(None) if i == 0 else F.col("id") * 10).cast("long").alias("extra"),
        )
        staged = t.stage_dataframe(df, partition_exprs=pexprs)
        snap = t.snapshot()
        if snap is None:
            t.commit(staged, df.schema, "create", None, partition_spec=[vars(p) for p in SPEC])
        else:
            t.commit(
                None, df.schema, "append", snap.version,
                manifests=snap.manifests, new_files=staged,
            )
    snap = t.snapshot()
    assert len(snap.manifests) == 3
    assert any("extra" not in f.stats for f in snap.files)
    return t


ENVELOPES = [
    ("id", 120, 180),  # inside one manifest
    ("id", 90, 110),  # straddles two manifests
    ("id", 150, None),  # one-sided: lower bound only
    ("id", None, 50),  # one-sided: upper bound only
    ("id", 500, 600),  # beyond every file
    ("id", 42, 42),  # point envelope
    ("extra", 1500, 1700),  # first manifest has no stats on extra
    ("extra", None, 5),  # only stats-less files can hold it
]


def _paths(files):
    return sorted(f.path for f in files)


@pytest.mark.parametrize("col,lo,hi", ENVELOPES)
def test_prune_split_agrees_with_read_planning(spark, bucketed, col, lo, hi):
    t = bucketed
    snap = t.snapshot()
    touched, kept_refs, kept_files = t.prune_split(snap, {col: (lo, hi)})
    where = [(col, op, b) for op, b in ((">=", lo), ("<=", hi)) if b is not None]
    for mode in ("driver", "spark"):
        _, planned = t._select_files(snap, where, plan_mode=mode)
        assert _paths(planned) == _paths(touched), mode
    # touched + kept files + files of skipped manifests partition the live set
    skipped = [f for ref in kept_refs for f in table_mod.read_manifest(t.location, ref)]
    split = _paths(touched + kept_files + skipped)
    assert split == _paths(snap.files)
    assert len(set(split)) == len(split)


@pytest.mark.parametrize("key", [7, 150, 299])
def test_bucket_probe_split_agrees_with_read_planning(spark, bucketed, key):
    """The CoW merge's bucket probe and the read planner's transform
    rewrite select the same files for a point key."""
    t = bucketed
    snap = t.snapshot()
    part_probes = t._partition_probe_values(snap, [("id", "=", key)])
    assert part_probes  # the rewrite bound: one bucket value
    touched, kept_refs, kept_files = t.prune_split(
        snap, {"id": (key, key)}, part_probes=part_probes
    )
    for mode in ("driver", "spark"):
        _, planned = t._select_files(snap, [("id", "=", key)], plan_mode=mode)
        assert _paths(planned) == _paths(touched), mode
    assert len(touched) < snap.n_files
    assert len({f.partition["id_bucket"] for f in touched}) == 1
    n_split = len(touched) + len(kept_files) + sum(r.n_files for r in kept_refs)
    assert n_split == snap.n_files


def test_changelog_equality_images_prune_manifests(spark, warehouse, monkeypatch):
    """A merge-on-read upsert's delete images open only the parent
    manifests whose key range overlaps the delete-key envelope, and match
    a full-expansion reference."""
    catalog = LakeCatalog(spark, warehouse)
    writer = LakeWriter(catalog, "ds")
    for i in range(4):  # four appends, four manifests, disjoint id ranges
        writer.write(
            TableSpec(name="t", write_disposition="append"),
            spark.createDataFrame(
                [(i * 100 + j, f"v{i * 100 + j}") for j in range(50)], "id long, val string"
            ),
            load_id=f"l{i}",
        )
    t = catalog.load_table("ds", "t")
    parent = t.snapshot()
    assert len(parent.manifests) == 4
    batch = [(210, "N210"), (212, "N212"), (249, "N249")]
    writer.write(
        TableSpec(
            name="t",
            write_disposition={"disposition": "merge", "strategy": "upsert"},
            primary_key=["id"],
            merge_mode="mor",
        ),
        spark.createDataFrame(batch, "id long, val string"),
        load_id="l_mor",
    )
    t = catalog.load_table("ds", "t")
    head = t.snapshot()
    assert any(d.content != "position" for d in head.delete_files)

    real = table_mod.read_manifest
    opened = []

    def counting(location, ref, io=None):
        opened.append(ref.path)
        return real(location, ref, io=io)

    monkeypatch.setattr(table_mod, "read_manifest", counting)
    got = sorted(
        (r.id, r.val, r._change_type)
        for r in t.read_changes(parent.version, head.version).collect()
    )
    monkeypatch.setattr(table_mod, "read_manifest", real)
    overlapping = [r.path for r in parent.manifests if r.may_match("id", 210, 249)]
    assert len(overlapping) == 1
    assert {p for p in opened if p in {r.path for r in parent.manifests}} == set(overlapping)

    # full-expansion reference: every parent row the keys hit is a delete
    # image, every batch row an insert
    keys = {k for k, _ in batch}
    full = t.read(snapshot_version=parent.version).collect()
    want = sorted(
        [(r.id, r.val, "delete") for r in full if r.id in keys]
        + [(k, v, "insert") for k, v in batch]
    )
    assert got == want
