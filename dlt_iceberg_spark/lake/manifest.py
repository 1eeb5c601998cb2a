"""Chunked parquet manifests — the scale backbone of LakeTable metadata.

Iceberg's metadata design (metadata.json → manifest list → avro manifests)
exists so that neither commits nor scan planning ever materialize the whole
file inventory on one machine.  This module is that design with parquet as
the manifest format (readable by ANY engine, including Spark itself for
distributed scan planning):

- a snapshot records a list of :class:`ManifestRef` (path + counts +
  aggregated per-column value ranges) instead of inlining every file entry;
- each manifest is a parquet file of up to ``MANIFEST_CHUNK`` file entries
  (path, rows, bytes, sequence, stats, partition);
- a commit that adds files REUSES the parent's manifests untouched and
  writes one new manifest for the adds — O(touched), never O(table);
- pruning consults the refs' aggregate ranges first, so manifests whose
  whole value range misses the probe are skipped without being read.

Reference parity: the reference delegates this machinery to PyIceberg
(src/dlt_iceberg/destination_client.py commit path); no Iceberg runtime
exists in this environment, so the equivalent structure is implemented
Spark-first here.  Field mapping to real Iceberg: ManifestRef ≈
manifest_file (manifest_path, added_rows_count, partitions summary),
the parquet entry schema ≈ manifest_entry.data_file.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field as dc_field
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

#: max file entries per manifest chunk.  800k files / 10k = 80 refs in the
#: snapshot JSON — small enough to parse per commit, large enough that the
#: per-manifest parquet overhead is noise.
MANIFEST_CHUNK = 10_000

#: when a table accumulates more than this many manifests (e.g. one per
#: micro-append), the small ones are folded together at the next commit —
#: the same metadata-compaction Iceberg's ``rewrite_manifests`` performs.
MAX_MANIFESTS = 64

#: KMV (theta-sketch) size for per-file NDV sketches: the k smallest
#: distinct xxhash64 values of a column.  Mirrors Iceberg's table
#: statistics (Puffin files carrying Apache DataSketches theta sketches,
#: written by the `compute_table_stats` procedure); k=256 gives ~1/√k ≈
#: 6% relative standard error on the estimate and EXACT counts whenever
#: the true NDV ≤ k (the sketch then IS the full distinct-hash set).
NDV_K = 256


@dataclass
class DataFile:
    path: str  # relative to table root
    rows: int
    bytes: int
    # column -> [min, max] (json-encodable) for prune-able primitive columns
    stats: dict[str, list[Any]] = dc_field(default_factory=dict)
    partition: dict[str, Any] = dc_field(default_factory=dict)
    # data sequence number (Iceberg v2): the snapshot version that ADDED this
    # file.  None = not yet committed; commit() stamps it.  Equality deletes
    # apply only to data files with a strictly smaller sequence.
    sequence: int | None = None
    # CURRENT column name -> PHYSICAL name inside the parquet file, recorded
    # only where they differ (metadata-only rename_column: old files keep
    # their written names; Iceberg achieves the same indirection through
    # field-ids in the parquet footer).  A ``None`` physical name means the
    # file PREDATES the column entirely (a column re-added after drop_column
    # must read NULL from old files, never resurrect the dropped values —
    # Iceberg assigns the re-add a fresh field id for the same reason).
    # Empty dict = identity mapping (the overwhelmingly common case).
    names: dict[str, Any] = dc_field(default_factory=dict)
    # column -> KMV NDV sketch {"h": [k smallest distinct xxhash64 values,
    # sorted], "c": complete?, "t": spark simpleString of the column at
    # sketch time}.  "c" = the file's FULL distinct-hash set fit in k (the
    # sketch is exact, not a sample).  "t" guards the hash frame: Spark's
    # xxhash64 hashes int and long (float and double, …) differently, so a
    # type promotion invalidates sketches — merge refuses on tag mismatch.
    # Empty dict = no sketches (files written without ndv_columns, or
    # rewritten by compaction/fold — re-establish with
    # maintenance.compute_table_stats).
    sketches: dict[str, Any] = dc_field(default_factory=dict)
    # column -> NULL count (Iceberg's null_value_counts), recorded at stage
    # time beside the [min, max] stats, which skip NULLs.  A stats-only
    # proof that EVERY row matches needs a recorded zero; a column without
    # a count (files written before counts existed, imports) is unknown.
    null_counts: dict[str, int] = dc_field(default_factory=dict)


@dataclass
class DeleteFile:
    """Delete file (Iceberg v2 merge-on-read), two contents:

    - ``content='equality'``: a parquet file of key tuples; rows of
      STRICTLY OLDER data files matching any tuple are dead.
    - ``content='position'``: a parquet file of ``(file_path, pos)`` rows
      (Iceberg's reserved position-delete schema); the addressed row of any
      data file with sequence ≤ the delete's sequence is dead.
      ``equality_ids`` is empty.
    """

    path: str
    rows: int
    bytes: int
    equality_ids: list[str]  # key column names the tuples are over
    sequence: int | None = None
    content: str = "equality"
    #: key-column [min, max] over the delete tuples (same shape as
    #: DataFile.stats) — lets readers skip the anti-join for data files
    #: whose key ranges the delete cannot touch (Iceberg delete-manifest
    #: stats).  Empty = unknown = conservatively applies everywhere.
    stats: dict[str, Any] = dc_field(default_factory=dict)
    #: CURRENT key-column name -> PHYSICAL name inside the delete parquet
    #: (same contract as DataFile.names; populated by rename_column).
    names: dict[str, Any] = dc_field(default_factory=dict)


@dataclass
class ManifestRef:
    """Snapshot-level pointer to one manifest parquet + enough aggregate
    metadata to plan without opening it."""

    path: str  # relative to table root (metadata/m-<uuid>.parquet)
    n_files: int
    rows: int
    bytes: int
    # column -> [min, max] over every entry that has stats for the column.
    # ``None`` range bound = some entry lacked stats → range is unbounded on
    # that column (must-read on any probe of it).
    ranges: dict[str, list[Any]] = dc_field(default_factory=dict)
    partitions: dict[str, list[Any]] = dc_field(default_factory=dict)
    # column -> merged KMV sketch over every entry (same shape as
    # DataFile.sketches).  Present ONLY when every entry carries the
    # column's sketch with one hash frame — snapshot-level NDV then
    # answers from O(refs) metadata without opening a manifest.
    sketches: dict[str, Any] = dc_field(default_factory=dict)

    def may_match(self, column: str, lo: Any, hi: Any) -> bool:
        """Could any entry's [min,max] for ``column`` overlap [lo, hi]?
        ``None`` bounds are unbounded (-inf / +inf)."""
        rng = self.ranges.get(column)
        if rng is None:
            return True  # no aggregate info -> must read
        mn, mx = rng
        if mn is None or mx is None:
            return True
        try:
            if lo is not None and mx < lo:
                return False
            if hi is not None and mn > hi:
                return False
        except TypeError:
            return True
        return True

    def may_contain_partition(self, key: str, values: set) -> bool:
        """Could any entry carry one of ``values`` for partition ``key``?
        Key absent from the summary ⇒ unknown ⇒ True.  A None summary value
        is NULL, or, in files staged before ``''`` was kept apart from NULL,
        either — it conservatively matches any probe."""
        summary = self.partitions.get(key)
        if summary is None:
            return True
        return any(v is None or v in values for v in summary)


_ENTRY_SCHEMA = pa.schema(
    [
        pa.field("path", pa.string(), nullable=False),
        pa.field("rows", pa.int64(), nullable=False),
        pa.field("bytes", pa.int64(), nullable=False),
        pa.field("sequence", pa.int64(), nullable=True),
        pa.field("stats", pa.string(), nullable=False),  # json: {col: [min,max]}
        pa.field("partition", pa.string(), nullable=False),  # json: {col: value}
        # json: {current_col: physical_col|null}; "{}" = identity (files
        # written before rename_column existed simply lack the column —
        # read_manifest defaults it)
        pa.field("names", pa.string(), nullable=False),
        # json: {col: {"h": [...], "c": bool, "t": "bigint"}}; "{}" = none
        # (manifests written before NDV sketches existed lack the column —
        # read_manifest defaults it)
        pa.field("sketches", pa.string(), nullable=False),
        # json: {col: n}; "{}" = unknown (older manifests lack the column)
        pa.field("null_counts", pa.string(), nullable=False),
    ]
)


def merge_kmv(sketches: list[dict], k: int = NDV_K) -> dict | None:
    """Merge same-k KMV sketches: the k smallest of the union of stored
    hashes.  Sound because every stored hash below any input's truncation
    threshold survives into the union, so the merged k-th minimum is a
    valid uniform-sample boundary (standard theta-sketch union).

    Returns ``None`` on a hash-frame mismatch (``"t"`` tags differ — e.g.
    sketches taken before and after an int→long promotion hash the same
    value differently and must not be combined).  The merged sketch is
    complete ("c") only when EVERY input was complete and the union still
    fits in k — the exact-NDV case."""
    if not sketches:
        return {"h": [], "c": True, "t": None}
    if any("h" not in s for s in sketches):
        return None  # not KMV-shaped (e.g. a "bloom:<col>" membership entry)
    tags = {s.get("t") for s in sketches}
    if len(tags) > 1:
        return None
    union: set = set()
    for s in sketches:
        union.update(s["h"])
    merged = sorted(union)
    complete = all(s.get("c") for s in sketches) and len(merged) <= k
    return {"h": merged if complete else merged[:k], "c": complete, "t": tags.pop()}


def kmv_estimate(sketch: dict, k: int = NDV_K) -> tuple[float, bool]:
    """(NDV estimate, exact?) from one KMV sketch.  Complete sketches ARE
    the distinct-hash set (exact modulo 64-bit hash collisions); truncated
    ones use the standard k-minimum-values estimator ``(k-1)/u_k`` with
    ``u_k`` the k-th smallest hash normalized into [0, 1)."""
    hashes = sketch["h"]
    if sketch.get("c"):
        return float(len(hashes)), True
    u_k = (hashes[-1] + 2**63 + 1) / 2.0**64
    return (len(hashes) - 1) / u_k, False


def aggregate_sketches(entries: list[DataFile], k: int = NDV_K) -> dict[str, Any]:
    """Ref-level sketch rollup: columns for which EVERY entry carries a
    sketch in one hash frame.  A single unsketched (or promoted-frame)
    file drops the column — absence always means "cannot answer", never
    a wrong number."""
    from dlt_iceberg_spark.lake.bloom import fold_blooms, is_bloom

    if not entries:
        return {}
    cols = set(entries[0].sketches.keys())
    for f in entries[1:]:
        cols &= set(f.sketches.keys())
    out: dict[str, Any] = {}
    for col in cols:
        vals = [f.sketches[col] for f in entries]
        if any(is_bloom(v) for v in vals):
            # "bloom:<col>" entries fold by bit-OR (lake/bloom.py) so a
            # probe can skip the whole chunk; None (mixed frames /
            # saturated union) simply drops the ref-level answer
            merged = fold_blooms(vals)
        else:
            merged = merge_kmv(vals, k=k)
        if merged is not None:
            out[col] = merged
    return out


def aggregate_ranges(entries: list[DataFile]) -> dict[str, list[Any]]:
    """Union of per-file [min,max] per column; a file missing stats for a
    column makes that column's aggregate unbounded (None bounds)."""
    ranges: dict[str, list[Any]] = {}
    all_cols: set[str] = set()
    for f in entries:
        all_cols.update(f.stats.keys())
    for col in all_cols:
        mn: Any = None
        mx: Any = None
        unbounded = False
        for f in entries:
            st = f.stats.get(col)
            if st is None or st[0] is None or st[1] is None:
                unbounded = True
                break
            try:
                mn = st[0] if mn is None else min(mn, st[0])
                mx = st[1] if mx is None else max(mx, st[1])
            except TypeError:  # mixed types across files (e.g. evolved col)
                unbounded = True
                break
        ranges[col] = [None, None] if unbounded else [mn, mx]
    return ranges


#: partition summary cap: above this many distinct values per key the
#: summary is dropped (key absent ⇒ "could contain anything")
_PARTITION_SUMMARY_CAP = 32


def _aggregate_partitions(entries: list[DataFile]) -> dict[str, list[Any]]:
    """Exact distinct partition values per key, or ABSENT when a key
    exceeds the cap or any entry lacks it — absence always means "must
    assume a match", so the summary is safe to prune on."""
    parts: dict[str, set] = {}
    missing: set[str] = set()
    all_keys: set[str] = set()
    for f in entries:
        all_keys.update(f.partition.keys())
    for f in entries:
        for k in all_keys:
            if k not in f.partition:
                missing.add(k)
            else:
                parts.setdefault(k, set()).add(f.partition[k])
    out: dict[str, list[Any]] = {}
    for k, vals in parts.items():
        if k in missing or len(vals) > _PARTITION_SUMMARY_CAP:
            continue
        out[k] = sorted(vals, key=lambda v: (v is None, str(v)))
    return out


def write_manifest(
    table_location: str, entries: list[DataFile], io=None
) -> ManifestRef:
    """Persist one manifest parquet under metadata/; returns its ref.

    Written BEFORE the snapshot that references it — an orphaned manifest
    from a failed commit is garbage-collected by maintenance, never visible.
    ``io`` routes the bytes (lake/fileio.py); manifests are small, so even
    remote FileIO moves only metadata-sized payloads through the driver.
    """
    from dlt_iceberg_spark.lake.fileio import LocalFileIO

    io = io or LocalFileIO()
    meta_dir = os.path.join(table_location, "metadata")
    io.makedirs(meta_dir)
    name = f"m-{uuid.uuid4().hex}.parquet"
    table = pa.Table.from_pydict(
        {
            "path": [f.path for f in entries],
            "rows": [f.rows for f in entries],
            "bytes": [f.bytes for f in entries],
            "sequence": [f.sequence for f in entries],
            "stats": [json.dumps(f.stats, default=str) for f in entries],
            "partition": [json.dumps(f.partition, default=str) for f in entries],
            "names": [json.dumps(f.names) for f in entries],
            "sketches": [json.dumps(f.sketches) for f in entries],
            "null_counts": [json.dumps(f.null_counts) for f in entries],
        },
        schema=_ENTRY_SCHEMA,
    )
    if isinstance(io, LocalFileIO):
        pq.write_table(table, io.open_parquet_source(os.path.join(meta_dir, name)))
    else:
        import io as _pyio

        buf = _pyio.BytesIO()
        pq.write_table(table, buf)
        io.write_bytes(os.path.join(meta_dir, name), buf.getvalue())
    return ManifestRef(
        path=f"metadata/{name}",
        n_files=len(entries),
        rows=sum(f.rows for f in entries),
        bytes=sum(f.bytes for f in entries),
        ranges=aggregate_ranges(entries),
        partitions=_aggregate_partitions(entries),
        sketches=aggregate_sketches(entries),
    )


def read_manifest(
    table_location: str, ref: ManifestRef | str, io=None
) -> list[DataFile]:
    """Load one manifest's entries (vectorized parquet read)."""
    from dlt_iceberg_spark.lake.fileio import LocalFileIO

    io = io or LocalFileIO()
    rel = ref.path if isinstance(ref, ManifestRef) else ref
    t = pq.read_table(io.open_parquet_source(os.path.join(table_location, rel)))
    cols = {name: t.column(name).to_pylist() for name in t.column_names}
    return [
        DataFile(
            path=cols["path"][i],
            rows=cols["rows"][i],
            bytes=cols["bytes"][i],
            sequence=cols["sequence"][i],
            stats=json.loads(cols["stats"][i]),
            partition=json.loads(cols["partition"][i]),
            names=json.loads(cols["names"][i]) if "names" in cols else {},
            sketches=json.loads(cols["sketches"][i]) if "sketches" in cols else {},
            null_counts=(
                json.loads(cols["null_counts"][i]) if "null_counts" in cols else {}
            ),
        )
        for i in range(t.num_rows)
    ]


def write_chunked(
    table_location: str, entries: list[DataFile], io=None
) -> list[ManifestRef]:
    """Write entries as one or more chunk-sized manifests."""
    return [
        write_manifest(table_location, entries[i : i + MANIFEST_CHUNK], io=io)
        for i in range(0, len(entries), MANIFEST_CHUNK)
    ] if entries else []


def compact_refs(
    table_location: str, refs: list[ManifestRef], io=None
) -> list[ManifestRef]:
    """Fold small manifests together when the ref list outgrows
    ``MAX_MANIFESTS`` — reads ONLY the small manifests being folded
    (O(folded entries), not O(table)).  Full-sized manifests pass through."""
    if len(refs) <= MAX_MANIFESTS:
        return refs
    small = [r for r in refs if r.n_files < MANIFEST_CHUNK // 2]
    if len(small) < 2:
        return refs
    keep = [r for r in refs if r.n_files >= MANIFEST_CHUNK // 2]
    merged: list[DataFile] = []
    for r in small:
        merged.extend(read_manifest(table_location, r, io=io))
    return keep + write_chunked(table_location, merged, io=io)
