"""Table maintenance: small-file compaction + snapshot expiration.

The two operations every high-ingest lakehouse needs (Iceberg ships them
as ``rewrite_data_files`` / ``expire_snapshots`` procedures; the reference
has neither and degrades accordingly under many small loads):

- **Compaction**: streaming/micro-batch ingestion produces one small file
  per batch per partition; scan cost grows with file COUNT (task scheduling,
  footer reads) not just bytes.  ``compact_table`` rewrites only
  under-sized files into ~``target_file_bytes`` outputs in one atomic
  ``replace``-operation snapshot — readers never see a partial state, and
  full-sized files are carried over untouched (no rewrite amplification).
- **Expiration**: every snapshot pins its files; without expiry, storage
  grows without bound and time travel windows are infinite.
  ``expire_snapshots`` drops snapshot metadata older than the retention
  cutoff (always keeping the current one and ``keep_last``) and deletes
  data files referenced ONLY by expired snapshots.
"""

from __future__ import annotations

import os
import time
import urllib.parse
import warnings
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from dlt_iceberg_spark.lake.table import (
    NDV_COLUMN_PROP,
    DataFile,
    LakeTable,
    _file_metadata_via_spark,
    recorded_columns,
    with_recorded_columns,
)
from dlt_iceberg_spark.partition import partition_exprs

#: compaction default target (Iceberg's write.target-file-size-bytes default)
DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


@dataclass
class CompactionResult:
    rewritten_files: int
    carried_files: int
    output_files: int
    rewritten_bytes: int


def compact_table(
    table: LakeTable,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    small_file_threshold: float = 0.5,
    where: list | None = None,
) -> CompactionResult:
    """Bin-pack small files into ~target-size outputs, one atomic snapshot.

    Files ≥ ``small_file_threshold × target`` are carried over unchanged.
    The rewrite reads only the small files and repartitions them to
    ``ceil(small_bytes / target)`` outputs — a distributed job sized by the
    data actually rewritten, not the table.

    ``where`` (a conjunction of ``(column, op, value)`` — same predicate
    shape as :meth:`LakeTable.read`) scopes compaction to the files whose
    stats/partition tuples MAY match (Iceberg's ``rewrite_data_files ...
    where``): at 100 TB the small-file debt concentrates in the partitions
    currently being appended to, and a scoped run binpacks just those
    without even listing unrelated regions' candidates past the metadata
    pass — cold small files elsewhere stay untouched.
    """
    snap = table.snapshot()
    if snap is None:
        raise FileNotFoundError(f"no such table: {table.location}")
    if snap.delete_files:
        # compaction reads files raw; fold equality deletes first so masked
        # rows can't resurrect with a fresh sequence number
        snap = table.fold_deletes()
    in_scope = snap.files
    out_of_scope: list = []
    if where:
        _, in_scope = table._select_files(snap, list(where))
        scope_paths = {f.path for f in in_scope}
        out_of_scope = [f for f in snap.files if f.path not in scope_paths]
    cutoff = int(target_file_bytes * small_file_threshold)
    small = [f for f in in_scope if f.bytes < cutoff]
    keep = [f for f in in_scope if f.bytes >= cutoff] + out_of_scope
    if len(small) <= 1:
        return CompactionResult(0, len(snap.files), 0, 0)

    small_bytes = sum(f.bytes for f in small)
    n_out = max(1, -(-small_bytes // target_file_bytes))  # ceil
    df = table.read_files(small)
    # honor the table's declared clustering: a binpack that interleaved
    # clustered files would silently destroy the disjoint min/max ranges
    # (or z-order hypercubes) every selective scan depends on — Iceberg's
    # rewrite_data_files sorts by the table sort order for the same reason
    sort_cols = [
        c
        for c in (snap.properties.get("write.sort-order") or "").split(",")
        if c and c in df.columns
    ]
    z_cols = [
        c
        for c in (snap.properties.get("write.zorder-by") or "").split(",")
        if c and c in df.columns
    ]
    # honor the PARTITION layout the same way: staging without
    # partition_exprs would strip the rewritten files' partition tuples
    # (probes then keep them conservatively — pruning silently degrades
    # to stats-only and dynamic overwrite rewrites them as legacy).
    # Repartitioning by the transform expressions lands each tuple in one
    # task → one output file per partition value, the binpack floor a
    # hive-layouted table actually admits.
    pcols = partition_exprs(snap.partition_spec)
    if pcols:
        df = df.repartition(n_out, *[e for _, e in pcols])
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        elif z_cols:
            df = (
                df.withColumn("_zorder", zorder_value(df, z_cols))
                .sortWithinPartitions("_zorder")
                .drop("_zorder")
            )
    elif sort_cols:
        df = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    elif z_cols:
        z = zorder_value(df, z_cols)
        df = (
            df.withColumn("_zorder", z)
            .repartitionByRange(n_out, "_zorder")
            .sortWithinPartitions("_zorder")
            .drop("_zorder")
        )
    else:
        df = df.repartition(n_out)
    new_files = table.stage_dataframe(df, partition_exprs=pcols)
    table.commit(
        keep + new_files,
        snap.schema,
        "replace",
        snap.version,
        summary={
            "compaction": True,
            "rewritten-files": len(small),
            "added-files": len(new_files),
        },
    )
    return CompactionResult(len(small), len(keep), len(new_files), small_bytes)


def _metadata_by_path(table: LakeTable, files: list[DataFile], schema, **kw) -> dict:
    """:func:`_file_metadata_via_spark` over ``files``, keyed by absolute
    path."""
    out = {}
    for uri, meta in _file_metadata_via_spark(table.read_files(files), schema, **kw).items():
        path = urllib.parse.unquote(uri)
        if path.startswith("file:"):
            path = "/" + path[len("file:") :].lstrip("/")
        out[path] = meta
    return out


def backfill_stats(table: LakeTable, columns: list[str] | None = None) -> int:
    """Recompute per-file [min, max] stats for live data files that LACK
    them, WITHOUT rewriting any data — one distributed footer-equivalent
    job + a metadata-only commit.

    The adoption story's missing piece: ``register_iceberg_table`` on
    metadata whose manifests carry no usable bounds (older writers, bounds
    for types we don't decode) produces a correct-but-unpruned table, and
    the previous remedy — compaction — rewrites every byte.  This reads
    the stat-less files ONCE (grouped by ``input_file_name``, data never
    leaves the executors), merges the fresh stats into new manifests, and
    commits a layout-only snapshot.  Files that already carry stats are
    untouched and pass through by manifest reference where possible.

    Returns the number of files that gained stats.  ``columns`` limits the
    stat set (default: every prunable-typed column).
    """
    from pyspark.sql import types as T

    from dlt_iceberg_spark.lake.table import _STATS_TYPES

    snap = table.snapshot()
    if snap is None:
        raise FileNotFoundError(f"no such table: {table.location}")
    prunable = T.StructType(
        [
            f
            for f in snap.schema.fields
            if f.dataType.simpleString() in _STATS_TYPES
            and (columns is None or f.name in columns)
        ]
    )
    if not prunable:
        return 0
    missing = [f for f in snap.files if any(c not in f.stats for c in prunable.names)]
    if not missing:
        return 0
    by_path = {
        p: stats for p, (_, stats, *_) in _metadata_by_path(table, missing, prunable).items()
    }
    updated = []
    n_gained = 0
    for f in snap.files:
        abs_path = os.path.join(table.location, f.path)
        fresh = by_path.get(abs_path)
        if fresh:
            n_gained += 1
            updated.append(DataFile(**{**vars(f), "stats": {**fresh, **f.stats}}))
        else:
            updated.append(f)
    table.commit(
        updated,
        snap.schema,
        "backfill-stats",  # layout-only op: changelog readers skip it
        snap.version,
        summary={"stats-backfill": True, "files-gaining-stats": n_gained},
    )
    return n_gained


def compute_table_stats(
    table: LakeTable, columns: list[str], k: int | None = None
) -> int:
    """ANALYZE: backfill per-file KMV NDV sketches for ``columns`` WITHOUT
    rewriting any data — Iceberg's ``compute_table_stats`` procedure
    (theta sketches in Puffin statistics files), Spark-first.

    One distributed job reads the live files that LACK a current-frame
    sketch (grouped by ``input_file_name`` — per file, the k smallest
    distinct non-null xxhash64 values, sliced at k+1 so completeness is
    knowable), then a metadata-only commit folds the sketches into fresh
    manifests.  After it, :meth:`LakeTable.approx_distinct` answers NDV
    from O(manifest refs) metadata — exact whenever the true NDV ≤ k.

    Files already sketched in the CURRENT hash frame (the column's current
    type) pass through untouched; stale-frame sketches (pre-promotion) are
    recomputed.  Reads go through ``read_files`` so renamed columns and
    defaulted re-adds resolve exactly like a scan would.

    Returns the number of files that gained (or refreshed) sketches.
    """
    from pyspark.sql import types as T

    from dlt_iceberg_spark.lake.manifest import NDV_K

    k = k or NDV_K
    snap = table.snapshot()
    if snap is None:
        raise FileNotFoundError(f"no such table: {table.location}")
    dtypes = {f.name: f.dataType for f in snap.schema.fields}
    for c in columns:
        if c not in dtypes:
            raise ValueError(f"no such column {c!r}")
        if isinstance(dtypes[c], (T.ArrayType, T.MapType, T.StructType)):
            raise ValueError(
                f"column {c!r} is nested ({dtypes[c].simpleString()}); NDV "
                "sketches cover atomic columns"
            )
    tags = {c: dtypes[c].simpleString() for c in columns}
    missing = [
        f
        for f in snap.files
        if any(
            c not in f.sketches or f.sketches[c].get("t") != tags[c]
            for c in columns
        )
    ]
    if not missing:
        return 0
    by_path = {
        p: sk
        for p, (*_, sk) in _metadata_by_path(
            table, missing, snap.schema, stats=False, ndv_columns=columns, k=k
        ).items()
    }
    updated = []
    n_gained = 0
    refused: list[str] = []
    missing_ids = {id(f) for f in missing}
    for f in snap.files:
        abs_path = os.path.join(table.location, f.path)
        fresh = by_path.get(abs_path)
        if fresh:
            n_gained += 1
            updated.append(
                DataFile(**{**vars(f), "sketches": {**f.sketches, **fresh}})
            )
        else:
            updated.append(f)
            if id(f) in missing_ids:
                # zero-row file, or a path whose input_file_name form never
                # string-matched — it will never gain a sketch by rescan
                refused.append(f.path)
    if refused:
        # permanent refusal must be VISIBLE, not silent churn: these files
        # will never gain a sketch by rescan (zero-row files, or a path
        # whose input_file_name form never string-matches)
        warnings.warn(
            f"compute_table_stats: {len(refused)} file(s) produced no "
            f"sketch row and will never gain one by rescan (zero-row "
            f"files?): {refused[:5]}{'...' if len(refused) > 5 else ''}",
            stacklevel=2,
        )
    if n_gained == 0:
        # nothing to fold: committing would churn an 'analyze' snapshot
        # per maintain() cycle forever while approx_distinct stays refused
        return 0
    recorded = recorded_columns(snap.properties, NDV_COLUMN_PROP)
    table.commit(
        updated,
        snap.schema,
        "analyze",  # layout-only op: changelog readers skip it
        snap.version,
        partition_spec=snap.partition_spec,
        # record the columns so every later write and rewrite sketches them
        properties=with_recorded_columns(
            snap.properties, NDV_COLUMN_PROP, recorded + list(columns)
        ),
        summary={"ndv-analyze": ",".join(columns), "files-gaining-sketches": n_gained},
    )
    return n_gained


def clone_pinned_paths(table: LakeTable) -> set[str]:
    """Source-relative paths still referenced by LIVE clones of ``table``.

    ``clone_table`` writes a back-reference per clone under the source's
    ``metadata/_clone_refs/``; this walks each referenced clone's on-disk
    snapshots and collects every absolute entry pointing into ``table``'s
    location — the files retention must never delete while the clone can
    read them.  Dangling refs (the clone was dropped or localized away
    from this source) are removed here, so the pin set is self-cleaning.
    Cost: O(live clones' manifest entries) on the driver — the same
    O(files) class as expiry's own live-set computation.
    """
    import json

    from dlt_iceberg_spark.lake.fileio import fileio_for

    refs_dir = os.path.join(table._meta_dir, "_clone_refs")
    io = table._io
    if not io.isdir(refs_dir):
        return set()
    prefix = table.location.rstrip("/") + "/"
    pinned: set[str] = set()
    for name in sorted(io.listdir(refs_dir)):
        ref_path = os.path.join(refs_dir, name)
        try:
            ref = json.loads(io.read_text(ref_path))
            clone_loc = ref["clone"]
        except (FileNotFoundError, ValueError, KeyError):
            continue
        cio = fileio_for(clone_loc, table.spark)
        if not LakeTable.exists_at(clone_loc, io=cio):
            io.remove(ref_path)  # clone dropped: ref is dangling
            continue
        clone = LakeTable(table.spark, clone_loc, io=cio)
        still_pins = False
        for v in clone._all_versions():
            try:
                snap = clone.snapshot(v)
            except (FileNotFoundError, ValueError, KeyError):
                continue
            if snap is None:
                continue
            for f in list(snap.files) + list(snap.delete_files):
                if os.path.isabs(f.path) and f.path.startswith(prefix):
                    pinned.add(f.path[len(prefix):])
                    still_pins = True
        if not still_pins:
            # the clone localized (compaction) or expired every snapshot
            # that referenced us: release the pin permanently
            io.remove(ref_path)
    return pinned


def expire_snapshots(
    table: LakeTable,
    older_than: timedelta = timedelta(days=7),
    keep_last: int = 1,
) -> dict[str, int]:
    """Remove expired snapshot manifests and orphaned data files.

    A data file is deleted only when NO retained snapshot references it —
    the invariant that makes expiry safe under time travel — and never
    when a LIVE clone still references it (``clone_pinned_paths``).
    Returns counts ``{"snapshots": n, "data_files": m,
    "clone_pinned_files": p}``.
    """
    current = table.current_version()
    # every snapshot on disk, unreachable ones (crashed commits) included
    snaps = [
        table.snapshot(v)
        for v in table._all_versions()
        if current is not None and v <= current
    ]
    if current is None or not snaps:
        return {"snapshots": 0, "data_files": 0, "clone_pinned_files": 0}
    cutoff = datetime.now(timezone.utc) - older_than
    newest_first = sorted(snaps, key=lambda s: s.version, reverse=True)
    # snapshots behind a named ref are pinned: tags AND branch heads must
    # stay readable (an unpublished WAP branch would otherwise lose its data)
    protected = (
        {s.version for s in newest_first[:keep_last]}
        | {current}
        | set(table.tags().values())
        | set(table.branches().values())
    )

    expired = [
        s
        for s in snaps
        if s.version not in protected and datetime.fromisoformat(s.timestamp) < cutoff
    ]
    if not expired:
        return {"snapshots": 0, "data_files": 0, "clone_pinned_files": 0}

    # live = files referenced by ANY retained manifest on disk — including
    # branch commits numbered past main's head, which snapshots() excludes;
    # equality-delete files are first-class references too
    expired_versions = {e.version for e in expired}
    retained = [
        table.snapshot(v) for v in table._all_versions() if v not in expired_versions
    ]
    live_paths = {
        f.path for s in retained for f in list(s.files) + list(s.delete_files)
    }
    dead_paths = {
        f.path
        for s in expired
        for f in list(s.files) + list(s.delete_files)
        if f.path not in live_paths
    }
    # clone-aware retention: files a LIVE clone still references survive
    # expiry even when no retained source snapshot lists them
    pinned = clone_pinned_paths(table) & dead_paths
    dead_paths -= pinned
    # chunked manifests are shared across snapshots by reference; one stops
    # being live only when NO retained snapshot lists it (computed before
    # deleting anything — expired data-file detection above reads them)
    live_manifests = {r.path for s in retained for r in s.manifests}
    dead_manifests = {
        r.path for s in expired for r in s.manifests if r.path not in live_manifests
    }
    io = table._io
    for rel in sorted(dead_paths | dead_manifests):
        # absolute entries reference ANOTHER table's storage (zero-copy
        # clones, adopted Iceberg tables): expiring our snapshot drops the
        # REFERENCE — the bytes belong to the source and are never ours to
        # delete (the shallow-clone ownership rule)
        if os.path.isabs(rel):
            continue
        p = os.path.join(table.location, rel)
        if io.exists(p):
            io.remove(p)
    meta = os.path.join(table.location, "metadata")
    for s in expired:
        manifest = os.path.join(meta, f"v{s.version:06d}.json")
        if io.exists(manifest):
            io.remove(manifest)
    return {
        "snapshots": len(expired),
        "data_files": len(dead_paths),
        "clone_pinned_files": len(pinned),
    }


#: column types eligible for z-ordering (orderable, castable to double)
_ZORDER_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double", "date", "timestamp")


def zorder_value(df, columns: list[str], bits: int = 4):
    """A ``Column`` holding the z-order (Morton) value of ``columns``.

    Each column is mapped to a ``2**bits``-bucket id by rank against sampled
    quantile boundaries (equi-depth, so skewed distributions still spread
    across buckets — the same trick as Delta's range-id ZORDER), then the
    ids' bits are interleaved.  Everything after the one ``approxQuantile``
    sampling pass is built-in JVM expressions — no UDFs, no extra shuffle.
    """
    from pyspark.sql import functions as F

    if not columns:
        raise ValueError("zorder needs at least one column")
    dtypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in columns:
        if c not in dtypes:
            raise ValueError(f"no such column {c!r}")
        if dtypes[c].split("(")[0] not in _ZORDER_TYPES:
            raise ValueError(
                f"cannot zorder by {c!r} of type {dtypes[c]} "
                f"(orderable numeric/date/timestamp required)"
            )

    def as_double(c):
        col = F.col(c)
        if dtypes[c] == "date":
            col = col.cast("timestamp")
        return col.cast("double")

    buckets = 1 << bits
    probs = [i / buckets for i in range(1, buckets)]
    sampled = df.select(*[as_double(c).alias(c) for c in columns])
    boundaries = sampled.stat.approxQuantile(columns, probs, 0.01)

    bucket_ids = []
    for c, bounds in zip(columns, boundaries):
        uniq = sorted(set(bounds))
        # rank against the boundary array; a lambda over a literal array is
        # interpreted, but it runs once per rewrite, not in any hot read path
        bucket_ids.append(
            F.size(F.filter(F.lit(uniq), lambda b: as_double(c) >= b)).cast("long")
        )

    z = F.lit(0).cast("long")
    n = len(columns)
    for bit in range(bits):
        for k, bid in enumerate(bucket_ids):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(bid, bit).bitwiseAND(F.lit(1)), bit * n + k)
            )
    return z


def rewrite_zorder(
    table: LakeTable,
    columns: list[str],
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    bits: int = 4,
) -> CompactionResult:
    """Recluster the WHOLE table on the z-order of ``columns`` in one atomic
    replace snapshot (Iceberg ``rewrite_data_files`` sort strategy with
    ``zorder(...)``).

    Single-column sort clustering makes min/max pruning decisive on that one
    column and useless on every other; z-ordering interleaves the bucket
    bits of several columns so each output file covers a small HYPERCUBE of
    the key space — a probe range on ANY z-ordered column then skips most
    files.  At 100 TB this is the difference between a multi-tenant scan
    reading one tenant's files and reading everything.
    """
    snap = table.snapshot()
    if snap is None:
        raise FileNotFoundError(f"no such table: {table.location}")
    if snap.delete_files:
        snap = table.fold_deletes()  # same raw-read hazard as compaction
    if not snap.files:
        return CompactionResult(0, 0, 0, 0)
    total_bytes = sum(f.bytes for f in snap.files)
    n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil
    df = table.read()
    z = zorder_value(df, columns, bits=bits)
    pcols = partition_exprs(snap.partition_spec)
    if pcols:
        # hive-partitioned table: the partition layout dominates — z-order
        # clusters WITHIN each partition (Iceberg's rewrite sort order is
        # likewise applied inside the spec's grouping), and staging with
        # the spec keeps every rewritten file's partition tuple
        clustered = (
            df.withColumn("_zorder", z)
            .repartition(n_out, *[e for _, e in pcols])
            .sortWithinPartitions("_zorder")
            .drop("_zorder")
        )
    else:
        clustered = (
            df.withColumn("_zorder", z)
            .repartitionByRange(n_out, "_zorder")
            .sortWithinPartitions("_zorder")
            .drop("_zorder")
        )
    new_files = table.stage_dataframe(clustered, partition_exprs=pcols)
    table.commit(
        new_files,
        snap.schema,
        "replace",
        snap.version,
        summary={"zorder": ",".join(columns), "rewritten-files": len(snap.files)},
        # remember the clustering as table metadata so later compactions
        # re-apply it instead of silently interleaving the hypercubes
        properties={**snap.properties, "write.zorder-by": ",".join(columns)},
    )
    return CompactionResult(len(snap.files), 0, len(new_files), total_bytes)


def remove_orphan_files(
    table: LakeTable,
    older_than: timedelta = timedelta(days=3),
    dry_run: bool = False,
) -> dict[str, list[str]]:
    """Delete files in the table location reachable by NO snapshot
    (Iceberg's ``remove_orphan_files`` procedure).

    Orphans accumulate from failed jobs: a writer stages data files and then
    dies before commit, or commits conflict and retry.  Three kinds:

    - **data files** under ``data/`` not referenced by any snapshot manifest,
    - **staging directories** (``_staging_*``) of crashed write jobs,
    - **metadata leftovers**: ``_ptr_*`` temp pointers, and manifests no
      ref (branch head or tag) can reach — a committer that wrote its
      manifest but died before the pointer rename, or a deleted branch's
      commits.  Until removed they pin their data files and inflate version
      numbering, so this procedure is also the table's crash-recovery path.

    Only files whose mtime is older than ``older_than`` are touched — the
    grace window that keeps a concurrent in-flight write (staged but not yet
    committed) safe, same as Iceberg's 3-day default.  ``dry_run`` reports
    without deleting.  Returns ``{"data_files": [...], "staging_dirs":
    [...], "metadata_files": [...]}`` of (to-be-)deleted paths relative to
    the table location.
    """
    cutoff = time.time() - older_than.total_seconds()
    io = table._io

    def _old(path: str) -> bool:
        try:
            return io.mtime(path) < cutoff
        except FileNotFoundError:
            return False

    # referenced = union over manifests present except STALE ones; a manifest
    # is stale when no ref (branch head or tag) can reach it — a committer
    # that wrote its manifest and died before the pointer rename, or a
    # deleted branch's leftovers.  Reachability (not `version > current`)
    # keeps live WAP-branch manifests, which are numbered past main's head.
    meta_dir = table._meta_dir
    reachable: set[int] = set()
    for head in set(table.branches().values()) | set(table.tags().values()):
        reachable.update(table._ancestry(head))
    referenced: set[str] = set()
    stale_manifests: list[str] = []
    if io.isdir(meta_dir):
        for name in io.listdir(meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                version = int(name[1:-5])
                if version not in reachable and _old(os.path.join(meta_dir, name)):
                    # stale manifest: delete it, so don't let it pin its
                    # data files either
                    stale_manifests.append(name)
                    continue
                try:
                    snap = table.snapshot(version)
                except (KeyError, ValueError):
                    continue  # mid-write or corrupt: let the grace window decide
                if snap is not None:
                    referenced.update(f.path for f in snap.files)
                    referenced.update(d.path for d in snap.delete_files)
                    referenced.update(r.path for r in snap.manifests)
                    # metadata sidecars (vector-index centroid matrices)
                    # are referenced through snapshot properties
                    side = snap.properties.get("vector-index.centroids-file")
                    if side:
                        referenced.add(side)

    out: dict[str, list[str]] = {"data_files": [], "staging_dirs": [], "metadata_files": []}

    # clone-aware retention: a file referenced by NO source snapshot can
    # still be a live clone's only copy (the source expired past it) —
    # treat it as referenced
    referenced |= clone_pinned_paths(table)

    if io.isdir(table._data_dir):
        for name in sorted(io.listdir(table._data_dir)):
            abs_path = os.path.join(table._data_dir, name)
            if f"data/{name}" not in referenced and _old(abs_path):
                out["data_files"].append(f"data/{name}")
                if not dry_run:
                    io.remove(abs_path)

    for name in sorted(io.listdir(table.location)):
        abs_path = os.path.join(table.location, name)
        if name.startswith("_staging_") and io.isdir(abs_path) and _old(abs_path):
            out["staging_dirs"].append(name)
            if not dry_run:
                io.rmtree(abs_path)

    if io.isdir(meta_dir):
        stale_meta = [n for n in io.listdir(meta_dir) if n.startswith("_ptr_")]
        stale_meta += stale_manifests
        # chunked file manifests referenced by no reachable snapshot (e.g.
        # written by a committer that lost the pointer race)
        stale_meta += [
            n
            for n in io.listdir(meta_dir)
            if n.startswith("m-")
            and n.endswith(".parquet")
            and f"metadata/{n}" not in referenced
        ]
        # vector-index centroid sidecars no snapshot's properties name —
        # left behind by index rebuilds; live ones are in `referenced`
        stale_meta += [
            n
            for n in io.listdir(meta_dir)
            if n.startswith("ann-centroids-")
            and n.endswith(".json")
            and f"metadata/{n}" not in referenced
        ]
        for name in sorted(stale_meta):
            abs_path = os.path.join(meta_dir, name)
            if _old(abs_path):
                out["metadata_files"].append(f"metadata/{name}")
                if not dry_run:
                    io.remove(abs_path)
    return out


@dataclass
class MaintenancePolicy:
    """Thresholds for one-call table upkeep (`maintain`).  Defaults suit a
    continuously-loaded table; a 100 TB deployment runs `maintain` on a
    schedule exactly like Iceberg's maintenance procedures."""

    #: bin-pack when small files exist (compact_table target size)
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES
    #: fold equality deletes back into data files once this many delete
    #: files are outstanding (MoR read tax grows with the mask count)
    fold_deletes_over: int = 8
    #: merge position-delete files (zero data rewritten) once this many
    #: are outstanding — the cheap step that usually makes folding moot
    consolidate_deletes_over: int = 4
    #: snapshot retention
    expire_older_than: timedelta = timedelta(days=7)
    keep_last_snapshots: int = 10
    #: orphan cleanup (staging dirs / files from crashed commits)
    remove_orphans: bool = True
    orphans_older_than: timedelta = timedelta(days=3)
    #: vector indexes only: split the hottest inverted list
    #: (operators/vector_index.split_list — O(hot list), not O(index))
    #: whenever index_stats skew exceeds this.  None = never rebalance.
    rebalance_above_skew: float | None = None
    #: sub-lists per split when rebalancing
    rebalance_split_factor: int = 2


def consolidate_position_deletes(table: LakeTable) -> dict:
    """Merge outstanding POSITION-delete files into one and drop dangling
    addresses — Iceberg's ``rewrite_position_delete_files``: O(delete
    rows), ZERO data files touched.

    The cheap middle step between "do nothing" (every read pays one
    anti-join probe per delete-file group) and :meth:`LakeTable.fold_deletes`
    (full data rewrite): a long-running MoR stream accumulates one tiny
    position-delete file per batch; consolidation caps the mask count at
    one while the data stays put.  Addresses whose target file is no
    longer live (rewritten by CoW merge / compaction) are dropped.

    Sequence safety: the consolidated file takes the NEW commit's sequence
    — valid because an address can only ever name a file that existed
    when the delete was staged (paths are write-once UUIDs), so raising
    the sequence can never bring a newer file into the mask.

    Returns ``{"consolidated": n_files, "addresses": kept, "dropped": n}``.
    """
    from pyspark.sql import functions as F

    from dlt_iceberg_spark.lake.manifest import DeleteFile
    from dlt_iceberg_spark.lake.table import _ADDR_SCHEMA, _norm_path

    snap = table.snapshot()
    if snap is None:
        raise FileNotFoundError(f"no such table: {table.location}")
    pos = [d for d in snap.delete_files if d.content == "position"]
    if len(pos) <= 1:
        return {"consolidated": 0, "addresses": 0, "dropped": 0}
    others = [d for d in snap.delete_files if d.content != "position"]
    addressed = table.spark.read.schema(_ADDR_SCHEMA).parquet(
        *[os.path.join(table.location, d.path) for d in pos]
    )
    norm = addressed.select(
        _norm_path(F.col("file_path")).alias("file_path"), "pos"
    ).distinct()
    # live data-file paths in the address frame's absolute form — from the
    # distributed manifest scan, so the join side is O(metadata), not a
    # driver list
    live = table.metadata_df("files").select(
        F.when(
            F.col("file_path").startswith("/"), F.col("file_path")
        )
        .otherwise(F.concat(F.lit(table.location + "/"), F.col("file_path")))
        .alias("file_path")
    )
    kept_df = norm.join(live, "file_path", "leftsemi")
    n_before = sum(d.rows for d in pos)
    staged = table.stage_dataframe(kept_df.coalesce(1))
    new_deletes = [
        DeleteFile(
            path=f.path,
            rows=f.rows,
            bytes=f.bytes,
            equality_ids=[],
            content="position",
        )
        for f in staged
    ]
    n_kept = sum(f.rows for f in staged)
    table.commit(
        None,
        snap.schema,
        "consolidate-deletes",
        snap.version,
        delete_files=others + new_deletes,
        summary={
            "consolidated-delete-files": len(pos),
            "dropped-addresses": n_before - n_kept,
        },
    )
    return {
        "consolidated": len(pos),
        "addresses": n_kept,
        "dropped": n_before - n_kept,
    }


def maintain(table: LakeTable, policy: MaintenancePolicy | None = None) -> dict:
    """Run the full upkeep cycle — delete folding, small-file compaction,
    snapshot expiry, orphan removal — in dependency order, each step its
    own atomic snapshot (or no-op).  Returns a report of what happened.

    Order matters: deletes fold BEFORE compaction (compaction folds them
    anyway for safety, but folding first keeps one rewrite); expiry runs
    after rewrites so superseded files age out; orphan removal last so a
    crashed prior maintenance run's leftovers are swept too.  The table's
    recorded NDV columns are then backfilled (``compute_table_stats``) on
    any live file without a current-frame sketch."""
    policy = policy or MaintenancePolicy()
    report: dict[str, object] = {}
    snap = table.snapshot()
    if snap is None:
        raise FileNotFoundError(f"no such table: {table.location}")
    # position masks first — O(delete rows), zero data rewritten — so a
    # stream accumulating one mask per batch rarely escalates to the full
    # fold below
    n_pos = sum(1 for d in snap.delete_files if d.content == "position")
    if n_pos >= policy.consolidate_deletes_over:
        report["consolidated_deletes"] = consolidate_position_deletes(table)
        snap = table.snapshot()
    if len(snap.delete_files) >= policy.fold_deletes_over and snap.delete_files:
        table.fold_deletes()
        report["folded_delete_files"] = len(snap.delete_files)
    # vector-index rebalance BEFORE compaction so the split's sub-list
    # files get binpacked in the same cycle; the skew check is
    # manifest-only, so non-index tables and balanced indexes pay nothing
    if (
        policy.rebalance_above_skew is not None
        and "vector-index.vec-col" in (table.snapshot().properties or {})
    ):
        from dlt_iceberg_spark.operators.vector_index import (
            rebalance_vector_index,
        )

        splits = rebalance_vector_index(
            table,
            threshold=policy.rebalance_above_skew,
            k_split=policy.rebalance_split_factor,
        )
        if splits:
            report["rebalanced"] = splits
    c = compact_table(table, target_file_bytes=policy.target_file_bytes)
    report["compaction"] = {
        "rewritten_files": c.rewritten_files,
        "carried_files": c.carried_files,
        "output_files": c.output_files,
    }
    report["expired"] = expire_snapshots(
        table,
        older_than=policy.expire_older_than,
        keep_last=policy.keep_last_snapshots,
    )
    if policy.remove_orphans:
        removed = remove_orphan_files(table, older_than=policy.orphans_older_than)
        report["orphans_removed"] = {k: len(v) for k, v in removed.items()}
    # stats last: backfill the recorded NDV columns on files that lack a
    # current-frame sketch (rewrites keep sketches, so usually none — a
    # no-op without a Spark job)
    ndv = recorded_columns(table.snapshot().properties, NDV_COLUMN_PROP)
    if ndv:
        report["analyzed_files"] = compute_table_stats(table, ndv)
    return report
