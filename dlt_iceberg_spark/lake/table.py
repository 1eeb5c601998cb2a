"""LakeTable — an Iceberg-shaped, Spark-native table format.

No Iceberg runtime jar ships in this environment, so the reference's
snapshot/commit machinery (one atomic snapshot per table per load,
tests/test_class_based_atomic.py:100-106) is provided by this layer:

Layout (under ``<warehouse>/<namespace>/<table>/``)::

    data/<uuid>.parquet            immutable data files
    metadata/v<NNNN>.json          snapshot: schema + manifest list
    metadata/m-<uuid>.parquet      chunked file manifests (lake/manifest.py)
    metadata/_current              pointer file, atomically renamed into place

A snapshot records the schema (Spark JSON), partition spec, delete files,
and a MANIFEST LIST — refs to chunked parquet manifests, each holding up to
10k file entries with per-file stats (row count, column min/max from parquet
footers) plus aggregate per-manifest value ranges.  Commits are optimistic:
writers stage data files, then attempt ``os.rename`` of a new version
pointer — rename is atomic on POSIX, so exactly one concurrent committer
wins; losers raise CommitConflictError and the writer layer retries on
fresh state (the same protocol as Iceberg's metadata-pointer swap).

Scale notes:
- Readers plan scans from manifests (no directory listing — on object
  stores listing 100 TB of files is the bottleneck Iceberg exists to avoid).
- Commits are O(touched files): appends/merges reuse parent manifests by
  reference and write one new chunk (Iceberg's manifest-list design); an
  append to an 800k-file table writes ~1 manifest, not 800k JSON entries.
- Two-level pruning: per-manifest aggregate ranges skip whole manifests
  unread; per-file [min,max] stats skip files.  A MERGE rewrites only files
  whose key ranges overlap the batch on EVERY key column (lake/writer.py) —
  Iceberg's copy-on-write strategy with composite-key intersection.
- Manifests are parquet, so the file inventory itself scans as a
  distributed Spark job (``metadata_df('files')``) — nothing about the
  table's own metadata is driver-bound at scale.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import re
import urllib.parse
import uuid
from dataclasses import dataclass, field as dc_field
from datetime import date as _date
from datetime import datetime, timezone
from typing import Any, Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from dlt_iceberg_spark.errors import (
    CommitConflictError,
    NonAtomicCommitError,
    RetryPolicy,
)
from dlt_iceberg_spark.lake.fileio import LocalFileIO, fileio_for
from dlt_iceberg_spark.lake.manifest import (  # noqa: F401 (re-exported)
    NDV_K,
    DataFile,
    DeleteFile,
    ManifestRef,
    aggregate_ranges,
    compact_refs,
    kmv_estimate,
    merge_kmv,
    read_manifest,
    write_chunked,
)
from dlt_iceberg_spark.partition import partition_exprs

#: per-group distinct-hash ceiling for grouped NDV metadata aggregates —
#: above it the group refuses into the scan rather than shipping a
#: multi-MB hash set to the driver (2^18 hashes ≈ 2 MB/group; a group
#: with more distinct values than that is a scan-sized question anyway)
_GROUPED_NDV_CAP = 1 << 18

#: "auto" plan_mode switches manifest-entry pruning from driver-side
#: expansion to a Spark job (lake/planning.py) at this many undecided
#: entries — below it, job-launch latency beats the driver loop; above it,
#: driver memory and single-threaded JSON parsing become the bottleneck.
#: Read at call time, so rebinding the module attribute takes effect.
DISTRIBUTED_PLAN_MIN_FILES = 50_000

_STATS_TYPES = (
    "int", "bigint", "double", "float", "string", "date",
    "timestamp", "timestamp_ntz",
)

#: cap on (transform, value) pairs evaluated for partition-probe rewriting
#: (table._partition_probe_values) — beyond this, stats pruning alone
_MAX_PART_PROBE_EXPRS = 512


def arrow_table(schema: T.StructType, rows=()) -> pa.Table:
    """``rows`` (sequences in ``schema`` field order) as an Arrow table in
    exactly ``schema``'s Arrow types.  Naive datetimes landing in a
    ``timestamp`` (tz-aware) column are taken as UTC."""
    arrow = to_arrow_schema(schema)
    return pa.Table.from_pylist([dict(zip(arrow.names, r)) for r in rows], schema=arrow)


def local_frame(spark: SparkSession, schema: T.StructType, rows=()) -> DataFrame:
    """A small driver-side DataFrame (empty by default) with exactly
    ``schema``, built from an Arrow table.  Spark plans it as a
    ``LocalRelation``, so actions over it run no Python workers, and an
    empty one launches no Spark job at all; ``createDataFrame(list, ...)``
    pays a Python-worker job per action instead.  The explicit schema is
    what keeps ``timestamp_ntz`` (else read back as ``timestamp``),
    nullability, decimals and nested types exact."""
    return spark.createDataFrame(arrow_table(schema, rows), schema)


def _utc_naive(v):
    """Aware datetime -> UTC-naive (the manifest stats frame: all stored
    timestamp stats are session-UTC naive ISO strings)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def iso_norm_value(v: Any) -> Any:
    """Normalize a probe value into the manifest-stats frame: date/datetime
    -> UTC-naive ISO string, everything else unchanged.  Callers probing
    stats with collected date/timestamp values (merge key envelopes,
    changelog bounds) must pass through this, or the datetime-vs-ISO-string
    compare raises TypeError and pruning silently degrades to keep-all."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return _utc_naive(v).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def _ts_prune_value(v: Any) -> str | None:
    """Probe value -> the exact ISO form timestamp stats are stored in
    ('YYYY-MM-DDTHH:MM:SS[.ffffff]', UTC-naive), or None when the value
    cannot be brought into that frame — the caller then SKIPS stats
    pruning for the predicate (conservative) while the residual Spark
    filter still applies it exactly.  Needed because lexicographic
    ISO-string compare is only chronological when both sides use the same
    separator and timezone frame ('2024-01-01 10:00' sorts before
    '2024-01-01T09:00' textually)."""
    import datetime as _dt

    if isinstance(v, str):
        try:
            v = _dt.datetime.fromisoformat(v.replace(" ", "T"))
        except ValueError:
            return None
    if isinstance(v, _dt.datetime):
        return _utc_naive(v).isoformat()
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day).isoformat()
    return None


def _session_tz(spark) -> str:
    """Resolved ``spark.sql.session.timeZone`` (e.g. ``'Etc/UTC'`` on a
    vanilla JVM-default session).  Never pass a string default to
    ``conf.get`` for this key: Spark 4 VALIDATES the default against the
    conf entry's parser when the key is unset, so ``get(key, "")`` raises
    INVALID_CONF_VALUE on any session that did not set it explicitly —
    exactly the vanilla driver sessions the correctness gate runs."""
    try:
        return spark.conf.get("spark.sql.session.timeZone") or "UTC"
    except Exception:
        return "UTC"


#: session-timeZone spellings that mean UTC — normalized to "UTC" wherever a
#: frame name is recorded or compared
_UTC_TZ_NAMES = ("UTC", "Etc/UTC", "GMT", "Z", "+00:00")


def _session_zone(tz_name: str):
    """Session ``spark.sql.session.timeZone`` value -> tzinfo, or None when
    the zone can't be resolved (caller skips pruning, conservative).
    Handles IANA names via zoneinfo and fixed-offset forms (±HH:MM)."""
    import datetime as _dt
    import re as _re

    if tz_name in _UTC_TZ_NAMES:
        return _dt.timezone.utc
    m = _re.fullmatch(r"([+-])(\d{2}):(\d{2})", tz_name)
    if m:
        sign = 1 if m.group(1) == "+" else -1
        return _dt.timezone(
            sign * _dt.timedelta(hours=int(m.group(2)), minutes=int(m.group(3)))
        )
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(tz_name)
    except Exception:
        return None


def _aware_in_session(v: Any, tz_name: str):
    """Probe value -> AWARE datetime carrying the instant the residual
    Spark filter will use: naive values are interpreted in the session
    frame (exactly what Spark does when casting a naive string to
    timestamp), aware values pass through.  Returns None when the session
    zone is unresolvable or the naive local time is DST-ambiguous or
    nonexistent — Python's fold rules and the JVM's gap normalization can
    disagree there, and a probe that names a different instant than the
    residual filter could prune a file that holds matching rows."""
    import datetime as _dt

    if isinstance(v, str):
        try:
            v = _dt.datetime.fromisoformat(v.replace(" ", "T"))
        except ValueError:
            return None
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        v = _dt.datetime(v.year, v.month, v.day)
    if not isinstance(v, _dt.datetime):
        return None
    z = _session_zone(tz_name)
    if z is None:
        return None
    a0 = v.replace(tzinfo=z, fold=0)
    a1 = v.replace(tzinfo=z, fold=1)
    if a0.utcoffset() != a1.utcoffset():
        return None  # ambiguous local time (DST fall-back hour)
    # nonexistent local time (spring-forward gap): round-tripping through
    # UTC does not reproduce the wall-clock value
    back = a0.astimezone(_dt.timezone.utc).astimezone(z).replace(tzinfo=None)
    if back != v:
        return None
    return a0

#: prefix of every non-NULL ``_p_*`` staging value (stage_dataframe)
_PART_PREFIX = "v"

#: table-property families naming the columns every write sketches —
#: Iceberg's per-column parquet bloom key, and a repo-local twin for KMV
#: NDV sketches.  ``<prefix><col>=true``; stage_dataframe reads them.
BLOOM_COLUMN_PROP = "write.parquet.bloom-filter-enabled.column."
NDV_COLUMN_PROP = "write.ndv-sketch.column."

#: properties holding a comma-separated column list
_COLUMN_LIST_PROPS = ("write.sort-order", "write.zorder-by")


def recorded_columns(properties: dict, prefix: str) -> list[str]:
    """Columns the ``prefix`` property family enables, in record order."""
    return [
        k[len(prefix):]
        for k, v in properties.items()
        if k.startswith(prefix) and v == "true"
    ]


def with_recorded_columns(properties: dict, prefix: str, columns) -> dict:
    """``properties`` with the ``prefix`` family replaced by ``columns``."""
    out = {k: v for k, v in properties.items() if not k.startswith(prefix)}
    out.update({prefix + c: "true" for c in columns})
    return out


def rename_column_properties(
    properties: dict, old: str, new: str | None
) -> dict:
    """``properties`` with every column-naming entry re-keyed from ``old``
    to ``new`` — or, with ``new=None`` (a drop), without ``old``."""
    out: dict = {}
    for k, v in properties.items():
        if k in _COLUMN_LIST_PROPS:
            cols = [new if c == old else c for c in v.split(",")]
            v = ",".join(c for c in cols if c)
            if not v:
                continue
        else:
            for prefix in (BLOOM_COLUMN_PROP, NDV_COLUMN_PROP):
                if k == prefix + old:
                    k = prefix + new if new else None
        if k is not None:
            out[k] = v
    return out

#: residual Spark filters for `read(where=...)` predicates
_OPS = {
    "=": lambda c, v: c == v,
    "==": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    "in": lambda c, v: c.isin(list(v)),
}


def _apply_where(df: DataFrame, where: list[tuple[str, str, Any]] | None) -> DataFrame:
    """``df`` with the conjunction ``where`` applied as exact Spark
    filters — the residual every stats-pruned scan re-applies."""
    for c, op, v in where or []:
        df = df.filter(_OPS[op](F.col(c), v))
    return df


class _SortedProbe(list):
    """IN-probe values known to be sorted ascending.  ``_plan_scan``
    normalizes every sortable in-list into one so the per-file check
    bisects (O(log n)) instead of scanning all probed values (O(n)) —
    the difference between 1e4 and 14 comparisons per file when a
    rollup/join-view rescan pushes a 10k-key probe over a large manifest."""

    __slots__ = ()


def _sorted_probe(vals: Any) -> Any:
    try:
        return _SortedProbe(sorted(vals))
    except TypeError:  # mixed/unorderable values: keep the linear form
        return vals


def _sketch_key_rename(key: str, col_rename) -> str:
    """Apply a column-rename mapping to a sketches-dict key, seeing through
    the ``bloom:<col>`` prefix manifest blooms use (lake/bloom.py)."""
    if key.startswith("bloom:"):
        return f"bloom:{col_rename(key[len('bloom:'):])}"
    return col_rename(key)


def _file_may_match(f: "DataFile", col: str, op: str, val: Any) -> bool:
    """Can any row of ``f`` satisfy the predicate, judging by the manifest's
    [min, max] — and, for equality probes, the entry's Bloom filter
    (lake/bloom.py)?  Missing/incomparable stats ⇒ must assume yes."""
    if op in ("=", "==", "in") and f.sketches:
        from dlt_iceberg_spark.lake.bloom import sketch_keeps_file

        if not sketch_keeps_file(f.sketches, col, op, val):
            return False
    st = f.stats.get(col)
    if st is None:
        return True
    mn, mx = st
    if mn is None or mx is None:
        return True
    try:
        if op in ("=", "=="):
            return mn <= val <= mx
        if op == "in":  # any probed value inside the range keeps the file
            if isinstance(val, _SortedProbe):
                i = bisect.bisect_left(val, mn)
                return i < len(val) and val[i] <= mx
            return any(mn <= x <= mx for x in val)
        if op == "!=":  # only a single-valued file can be skipped
            return not (mn == mx == val)
        if op == ">":
            return mx > val
        if op == ">=":
            return mx >= val
        if op == "<":
            return mn < val
        if op == "<=":
            return mn <= val
    except TypeError:  # e.g. probing a string column with an int
        return True
    return True


def _file_fully_matches(f: "DataFile", col: str, op: str, val: Any) -> bool:
    """Does EVERY row of ``f`` satisfy the predicate, judging by the
    manifest's [min, max] and NULL count?  The dual of
    :func:`_file_may_match`, used by COUNT pushdown: a fully-matching file
    contributes ``f.rows`` without being opened.  Parquet min/max skip
    NULLs and a NULL satisfies no predicate, so the file needs a recorded
    zero NULL count.  Missing/incomparable stats ⇒ must assume no (scan)."""
    if f.null_counts.get(col) != 0:
        return False
    st = f.stats.get(col)
    if st is None:
        return False
    mn, mx = st
    if mn is None or mx is None:
        return False
    try:
        if op in ("=", "=="):
            return mn == mx == val
        if op == "in":
            if isinstance(val, _SortedProbe):
                i = bisect.bisect_left(val, mn)
                return mn == mx and i < len(val) and val[i] == mn
            return mn == mx and mn in val
        if op == "!=":
            return mx < val or mn > val
        if op == ">":
            return mn > val
        if op == ">=":
            return mn >= val
        if op == "<":
            return mx < val
        if op == "<=":
            return mx <= val
    except TypeError:
        return False
    return False


def _file_partition_may_match(f: "DataFile", probes: dict[str, set]) -> bool:
    """Could ``f`` hold a row matching every partition probe?  A file
    from an OLDER spec (key absent — partition-spec evolution) is kept,
    and so is a recorded NULL tuple value: staging keeps ``''`` apart from
    NULL (:meth:`LakeTable.stage_dataframe`), but files staged before it
    did recorded both as None, so None must conservatively match any
    probe — e.g. ``truncate("")`` of an empty-string row may live there."""
    for name, vals in probes.items():
        v = f.partition.get(name)
        if v is not None and v not in vals:
            return False
    return True


def entry_may_match(
    f: "DataFile", preds: list[tuple[str, str, Any]], part_probes: dict[str, set]
) -> bool:
    """The exact per-entry planning predicate: could ``f`` hold a row
    satisfying every stats predicate in ``preds`` (min/max and blooms) and
    every transform-rewritten partition probe?  One definition serves
    inline files, driver-side manifest expansion and the re-check of the
    distributed planner's survivors (lake/planning.py)."""
    return all(
        _file_may_match(f, c, op, v) for c, op, v in preds
    ) and _file_partition_may_match(f, part_probes)


def _norm_path(c: Column) -> Column:
    """Canonicalize local file URIs for position-delete address joins:
    ``file:/p``, ``file://p`` and ``file:///p`` all mean absolute path
    ``/p``.  Spark's ``_metadata.file_path`` emits ``file:/p``; our own
    delete files store that form, while FOREIGN (imported Iceberg) position
    deletes may carry any of the variants — normalizing BOTH sides makes
    the join exact across writers.  Non-file schemes pass through."""
    return F.regexp_replace(c, "^file:/+", "/")


def _schema_leaf(schema: T.DataType, dotted: str) -> T.StructField | None:
    """Resolve a dotted field path ("meta.uid") through nested STRUCTS to
    its leaf field; None when any segment is missing or the path crosses a
    non-struct container (list/map)."""
    cur: T.DataType = schema
    fld: T.StructField | None = None
    for part in dotted.split("."):
        if not isinstance(cur, T.StructType):
            return None
        fld = next((f for f in cur.fields if f.name == part), None)
        if fld is None:
            return None
        cur = fld.dataType
    return fld


def _nested_key_schema(
    schema: T.StructType, keys: list[str]
) -> T.StructType | None:
    """Minimal (possibly nested) read schema covering the dotted delete-key
    paths — the shape an Iceberg equality-delete parquet stores its key
    projection in (spec: full column projection of each referenced field).
    Top-level keys reduce to the flat per-key StructType the native MoR
    path always used.  None when a path doesn't resolve."""
    tree: dict = {}
    for k in keys:
        leaf = _schema_leaf(schema, k)
        if leaf is None:
            return None
        parts = k.split(".")
        d = tree
        for p in parts[:-1]:
            d = d.setdefault(p, {})
        d[parts[-1]] = leaf.dataType

    def build(d: dict) -> T.StructType:
        return T.StructType(
            [
                T.StructField(n, v if isinstance(v, T.DataType) else build(v))
                for n, v in d.items()
            ]
        )

    return build(tree)


def _delete_may_touch(d: "DeleteFile", stats: dict, keys: list[str]) -> bool:
    """Could this equality-delete file kill any row of a data file (or
    manifest) whose key ranges are ``stats``?  Judged by key-range overlap
    of both sides' stats; missing stats on either side ⇒ conservatively
    yes."""
    if not d.stats:
        return True
    for k in keys:
        ds, fs = d.stats.get(k), stats.get(k)
        if not ds or not fs:
            continue
        dmn, dmx = ds
        fmn, fmx = fs
        if None in (dmn, dmx, fmn, fmx):
            continue
        try:
            if dmn > fmx or fmn > dmx:  # disjoint on this key ⇒ untouchable
                return False
        except TypeError:
            continue
    return True


#: Iceberg's reserved position-delete schema
_ADDR_SCHEMA = T.StructType(
    [T.StructField("file_path", T.StringType()), T.StructField("pos", T.LongType())]
)
#: a position mask as the read side joins it
_MASK_SCHEMA = T.StructType(
    [T.StructField("__pd_path", T.StringType()), T.StructField("__pd_pos", T.LongType())]
)


def _local_path(path: str) -> str:
    """:func:`_norm_path` on the driver: ``file:/+`` becomes ``/``."""
    return re.sub("^file:/+", "/", path)


def _data_path(location: str, rel: str) -> str:
    """A data file's path as URL-decoded position addresses name it:
    :func:`_local_path`, and absolute (Spark resolves a relative table
    location against the working directory)."""
    p = _local_path(os.path.join(location, rel))
    return p if re.match("^[a-zA-Z][a-zA-Z0-9+.-]*:", p) else os.path.abspath(p)


def _addr_key(c: Column) -> Column:
    """A position address as the distributed delete joins compare it: the
    :func:`_norm_path` form, URL-decoded.  Spark's ``_metadata.file_path``
    (which our own position deletes store) is URL-encoded, a foreign
    writer's address may not be; ``+`` is literal in both."""
    return F.url_decode(F.replace(_norm_path(c), F.lit("+"), F.lit("%2B")))


@dataclass
class _DeleteIndex:
    """A snapshot's delete files read once on the driver — Iceberg's
    in-memory delete index (spec "Delete Formats"): readers filter with it
    instead of joining against the delete files.

    - ``keys``: equality-delete path → its distinct key tuples in the
      table's key types under current names, rows with a NULL key dropped
      (the null-unsafe anti-join never matches them).
    - ``values``: equality-delete path → {int/string key column: its
      sorted distinct values}, for :meth:`may_touch`.
    - ``addrs``: addressed data file (``_local_path``, URL-decoded, as a
      manifest path) → (its path as Spark's scan reports it, distinct
      positions, highest delete sequence naming each).  Every stored form
      of a file's address (Spark's URL-encoded one, a foreign writer's
      plain one, ``file:`` URIs) lands on the same entry."""

    keys: dict[str, pa.Table]
    values: dict[str, dict[str, Any]]
    addrs: dict[str, tuple[str, Any, Any]]

    def may_touch(self, d: "DeleteFile", stats: dict) -> bool:
        """Could a key tuple of equality delete ``d`` fall inside the key
        ranges ``stats`` of a data file (or manifest)?  Sharper than
        :func:`_delete_may_touch`'s range overlap: an upsert of a few old
        keys plus fresh ones spans the key space between them, its values
        do not."""
        import numpy as np

        if not len(self.keys[d.path]):
            return False
        for k, vals in self.values[d.path].items():
            lo, hi = stats.get(k) or (None, None)
            kind = str if vals.dtype == object else int
            if not (isinstance(lo, kind) and isinstance(hi, kind)):
                continue  # unbounded, or stats in another frame
            i = np.searchsorted(vals, lo)
            if i == len(vals) or vals[i] > hi:
                return False
        return True

    def positions(self, path: str, fseq: int) -> list[tuple[str, Any]]:
        """``[(Spark's path, positions)]`` masking rows of the data file at
        ``_local_path`` ``path`` with sequence ``fseq`` (empty when none
        do): a position delete applies to files with sequence ≤ its own."""
        if path not in self.addrs:
            return []
        spark_path, pos, seq = self.addrs[path]
        hit = pos[seq >= fseq]
        return [(spark_path, hit)] if len(hit) else []

    def key_frame(self, spark, dels: list["DeleteFile"], key_schema) -> DataFrame:
        """The distinct key tuples of ``dels`` as an Arrow ``LocalRelation``."""
        t = pa.concat_tables([self.keys[d.path] for d in dels])
        if len(dels) > 1:
            t = t.group_by(t.column_names).aggregate([]).select(key_schema.names)
        return spark.createDataFrame(t, key_schema)


def _mask_frame(spark, masks: list[tuple[str, Any]]) -> DataFrame:
    """Position addresses ``[(path, positions)]`` as a ``LocalRelation``;
    the path column is dictionary-encoded, one string per file."""
    import numpy as np

    paths = pa.DictionaryArray.from_arrays(
        np.repeat(np.arange(len(masks), dtype=np.int32), [len(pos) for _, pos in masks]),
        pa.array([p for p, _ in masks], pa.string()),
    )
    pos = np.concatenate([pos for _, pos in masks])
    t = pa.table({"__pd_path": paths, "__pd_pos": pos})
    return spark.createDataFrame(t, _MASK_SCHEMA)


@dataclass
class _DeletePlan:
    """Which delete files apply to which data file of one snapshot — the
    sequence rules and key-range stats, refined by the delete index when
    there is one (:meth:`LakeTable._delete_plan`)."""

    location: str
    eq_dels: list["DeleteFile"]  # by sequence
    pos_dels: list["DeleteFile"]  # by sequence
    keys: list[str]
    key_schema: T.StructType | None
    index: _DeleteIndex | None

    def __post_init__(self):
        self.eseqs = [d.sequence or 0 for d in self.eq_dels]
        self.pseqs = [d.sequence or 0 for d in self.pos_dels]

    def applicable(self, f: "DataFile") -> tuple[tuple[tuple[int, ...], int], list]:
        """``((eq_app, pi), masks)`` for data file ``f``: the indices of the
        equality deletes that may touch it (STRICTLY newer, overlapping key
        ranges), the first position delete with sequence ≥ its own
        (``len(pos_dels)`` when the index shows no address of ``f``), and
        the index's addresses of ``f``."""
        fseq = f.sequence or 0
        eq_app = tuple(
            j
            for j in range(bisect.bisect_right(self.eseqs, fseq), len(self.eq_dels))
            if _delete_may_touch(self.eq_dels[j], f.stats, self.keys)
            and (self.index is None or self.index.may_touch(self.eq_dels[j], f.stats))
        )
        pi = bisect.bisect_left(self.pseqs, fseq)
        masks: list = []
        if self.index is not None:
            path = _data_path(self.location, f.path)
            masks = self.index.positions(path, fseq)
            if not masks:
                pi = len(self.pos_dels)
        return (eq_app, pi), masks


@dataclass
class Snapshot:
    """One committed table state.

    The live file set is ``manifests`` (chunked parquet manifests, reused
    across commits) plus ``inline_files`` (legacy snapshots only; the next
    delta commit folds them into a manifest).  ``files`` expands
    everything on first access; commit/prune paths avoid it so driver work
    stays O(touched files), never O(table).
    """

    version: int
    schema: T.StructType
    operation: str  # append | overwrite | merge | merge-mor | delete | create
    parent: int | None
    timestamp: str
    manifests: list[ManifestRef] = dc_field(default_factory=list)
    inline_files: list[DataFile] = dc_field(default_factory=list)
    partition_spec: list[dict[str, Any]] = dc_field(default_factory=list)
    summary: dict[str, Any] = dc_field(default_factory=dict)
    properties: dict[str, str] = dc_field(default_factory=dict)
    delete_files: list[DeleteFile] = dc_field(default_factory=list)
    # Iceberg-compatible STABLE field ids: assigned once at first sight of a
    # column, never reused or renumbered across schema evolution — the
    # property a real Iceberg writer swap depends on (columns are tracked by
    # id, not name, so renames/evolution don't corrupt old data files)
    field_ids: dict[str, int] = dc_field(default_factory=dict)
    location: str | None = None  # table root, for lazy manifest expansion
    io: Any = dc_field(default=None, repr=False, compare=False)
    _files_cache: list[DataFile] | None = dc_field(
        default=None, repr=False, compare=False
    )
    #: memoized _position_masked_counts result — a count() probe pair
    #: (bare + predicated) on the same snapshot reuses one delete-file job
    _masked_cache: dict | None = dc_field(default=None, repr=False, compare=False)
    #: memoized LakeTable._delete_plan (its delete index reads each delete
    #: file once per snapshot object)
    _delete_plan: Any = dc_field(default=None, repr=False, compare=False)

    @property
    def files(self) -> list[DataFile]:
        """FULL live file list (reads every manifest — O(table) driver
        memory; scan planning and metadata tables need it, commit paths
        must not)."""
        if self._files_cache is None:
            out = list(self.inline_files)
            for ref in self.manifests:
                out.extend(read_manifest(self.location, ref, io=self.io))
            self._files_cache = out
        return self._files_cache

    def split_manifests(
        self, opens: Callable[[ManifestRef], bool]
    ) -> tuple[list[ManifestRef], list[DataFile]]:
        """``(kept_refs, entries)``: manifests ``opens`` rejects pass
        through unread; the others' entries come back with the inline
        ones, for a commit with ``manifests=kept_refs``."""
        kept: list[ManifestRef] = []
        entries = list(self.inline_files)
        for ref in self.manifests:
            if opens(ref):
                entries.extend(read_manifest(self.location, ref, io=self.io))
            else:
                kept.append(ref)
        return kept, entries

    @property
    def n_files(self) -> int:
        return len(self.inline_files) + sum(r.n_files for r in self.manifests)

    @property
    def total_rows(self) -> int:
        """Upper bound under merge-on-read: live rows = data rows minus
        whatever the equality deletes mask (exact only after rewrite).
        Computed from manifest aggregates — no manifest reads."""
        return sum(f.rows for f in self.inline_files) + sum(
            r.rows for r in self.manifests
        )

    @property
    def total_bytes(self) -> int:
        return sum(f.bytes for f in self.inline_files) + sum(
            r.bytes for r in self.manifests
        )

    def aggregate_stats(self, columns: list[str] | None = None) -> dict | None:
        """Metadata-only ``count`` / per-column ``min``/``max`` — Iceberg's
        aggregate pushdown: a ``SELECT count(*), min(k), max(k)`` over
        100 TB answers from manifest aggregates in milliseconds, scanning
        nothing.

        Returns ``None`` when metadata cannot answer EXACTLY:

        - equality deletes outstanding (MoR masks make counts/extremes an
          upper bound until ``fold_deletes``),
        - a requested column whose aggregate range is unbounded (some file
          lacked stats) — the caller falls back to a real scan, or
        - a requested TIMESTAMP column: its stats live in the UTC-naive
          'T'-ISO pruning frame, so the "extremum" would come back as a
          frame-leaked string, not a timestamp (same refusal as
          :meth:`LakeTable.agg_minmax`).

        Cost is O(manifest refs): per-manifest aggregate ranges answer
        min/max without opening a single chunk."""
        if self.delete_files:
            return None
        ts_cols = {
            f.name
            for f in self.schema.fields
            if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
        }
        out: dict[str, Any] = {"count": self.total_rows}
        for col in columns or []:
            if col in ts_cols:
                return None
            lo: Any = None
            hi: Any = None
            for f in self.inline_files:
                st = f.stats.get(col)
                if st is None or st[0] is None or st[1] is None:
                    return None
                lo = st[0] if lo is None else min(lo, st[0])
                hi = st[1] if hi is None else max(hi, st[1])
            for r in self.manifests:
                rng = r.ranges.get(col)
                if rng is None or rng[0] is None or rng[1] is None:
                    return None
                lo = rng[0] if lo is None else min(lo, rng[0])
                hi = rng[1] if hi is None else max(hi, rng[1])
            out[f"min_{col}"] = lo
            out[f"max_{col}"] = hi
        return out

    def ndv_sketch(self, column: str) -> dict | None:
        """The snapshot-level merged KMV sketch for ``column`` (same shape
        as the per-file sketches), or ``None`` when metadata cannot stand
        behind it (MoR deletes outstanding, any live file unsketched,
        mixed hash frames).  This is the raw material for cross-table set
        estimates (``Dataset.overlap``) — two tables' sketches of one
        column combine into union/intersection/Jaccard without scanning
        either side."""
        if self.delete_files:
            return None
        parts: list[dict] = []
        for f in self.inline_files:
            sk = f.sketches.get(column)
            if sk is None:
                return None
            parts.append(sk)
        for r in self.manifests:
            sk = r.sketches.get(column)
            if sk is None:
                return None
            parts.append(sk)
        return merge_kmv(parts)

    def approx_distinct(self, columns: list[str]) -> dict[str, dict] | None:
        """Metadata-only NDV per column from the per-file KMV sketches —
        Iceberg's table-statistics read path (theta sketches from Puffin
        files), answered here in O(manifest refs) from the ref-level
        merged sketches without opening a manifest.

        Returns ``{col: {"ndv": int, "exact": bool}}``, or ``None`` when
        metadata cannot answer:

        - MoR delete files outstanding (masked rows may hide distinct
          values — NDV from raw files would be an upper bound, and this
          surface only returns numbers it can stand behind),
        - any live file lacking the column's sketch (written before the
          column was recorded, or staged with explicit ``ndv_columns``)
          — re-establish with ``maintenance.compute_table_stats``, or
        - mixed hash frames (sketches taken before and after a type
          promotion; xxhash64 hashes int and long differently).

        ``exact=True`` whenever every file's full distinct-hash set fit in
        k and the union still does (true NDV ≤ k, modulo 64-bit hash
        collisions); otherwise the standard KMV estimate (rel. std. error
        ≈ 1/√k ≈ 6% at k=256)."""
        if self.delete_files:
            return None
        out: dict[str, dict] = {}
        for col in columns:
            merged = self.ndv_sketch(col)
            if merged is None:  # unsketched file or mixed hash frames
                return None
            est, exact = kmv_estimate(merged)
            out[col] = {"ndv": int(round(est)), "exact": exact}
        return out


def _collect_file_stats(
    abs_path: str, schema: T.StructType, io=None
) -> tuple[int, int, dict]:
    """Row count, byte size and per-column min/max of one data file:
    :func:`_scan_staged_file` without NULL counts and blooms."""
    return _scan_staged_file(abs_path, schema, io)[:3]


def _scan_staged_file(
    abs_path: str, schema: T.StructType, io=None, bloom_columns=None
) -> tuple[int, int, dict, dict, dict]:
    """The driver's per-file pass over a freshly written data file:
    (rows, bytes, {col: [min, max]}, {col: null count}, {bloom:<col>: bloom}).

    Row count, min/max and NULL counts come from the parquet footer — the
    same stats Iceberg records at write time.  Manifest blooms
    (lake/bloom.py) stream ONLY the ``bloom_columns`` chunks of the same
    open file, batch by batch, through the numpy Spark-parity kernels;
    saturated blooms and dtypes without a bloom frame are left out."""
    from dlt_iceberg_spark.lake.bloom import BLOOM_FRAMES, bloom_key, build_bloom

    io = io or LocalFileIO()
    tags = {f.name: f.dataType.simpleString() for f in schema.fields}
    blooms: dict[str, dict] = {}
    with pq.ParquetFile(io.open_parquet_source(abs_path)) as pf:
        md = pf.metadata
        for c in dict.fromkeys(bloom_columns or ()):
            if tags.get(c) not in BLOOM_FRAMES or c not in pf.schema_arrow.names:
                continue
            batches = (b.column(0) for b in pf.iter_batches(columns=[c]))
            bloom = build_bloom(tags[c], batches)
            if bloom is not None:  # None = saturated, not worth bytes
                blooms[bloom_key(c)] = bloom
    stats: dict[str, list[Any]] = {}
    prunable = {name for name, tag in tags.items() if tag in _STATS_TYPES}
    nulls: dict[str, int] = {}
    uncounted: set[str] = set()  # some row group lacks the NULL count
    unbounded: set[str] = set()  # some row group holds a NaN bound
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in prunable:
                continue
            if col.statistics is None or not col.statistics.has_null_count:
                uncounted.add(name)
            else:
                nulls[name] = nulls.get(name, 0) + col.statistics.null_count
            if col.statistics is None or not col.statistics.has_min_max:
                continue
            mn, mx = col.statistics.min, col.statistics.max
            if _nan_bound(mn, mx):
                unbounded.add(name)
                continue
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    continue
            import datetime as _dt

            if isinstance(mn, (_dt.date, _dt.datetime)):
                # ISO strings order lexicographically == chronologically, so
                # range pruning keeps working; raw date objects would break
                # the JSON manifest encoding.  Aware timestamps normalize to
                # UTC-naive first — ONE frame for every stored stat, matched
                # by _ts_prune_value on the probe side.
                mn, mx = _utc_naive(mn).isoformat(), _utc_naive(mx).isoformat()
            cur = stats.get(name)
            if cur is None:
                stats[name] = [mn, mx]
            else:
                stats[name] = [min(cur[0], mn), max(cur[1], mx)]
    nulls = {c: n for c, n in nulls.items() if c not in uncounted}
    stats = {c: b for c, b in stats.items() if c not in unbounded}
    return md.num_rows, io.size(abs_path), stats, nulls, blooms


def _nan_bound(mn: Any, mx: Any) -> bool:
    """Is either bound a float NaN?  Every comparison against NaN is
    false, so such a range would prune files holding matching rows; a
    column with NaN records no range and stays unprunable."""
    return any(isinstance(b, float) and b != b for b in (mn, mx))


def _file_metadata_via_spark(
    sdf: DataFrame,
    schema: T.StructType,
    stats: bool = True,
    bloom_columns=(),
    ndv_columns=(),
    k: int = NDV_K,
) -> dict[str, tuple[int, dict, dict, dict]]:
    """Per-file ``(rows, {col: [min, max]}, {col: null count}, sketches)``
    of every file ``sdf`` scans, keyed by raw ``input_file_name()``: ONE
    distributed ``groupBy(input_file_name())`` job, O(files) tiny rows on
    the driver.  ``schema`` gives the column types (the hash frames).

    - ``stats``: min/max and NULL counts of every prunable column — the
      footer's content, for files the driver should not open.
    - ``ndv_columns``: KMV sketches — the k smallest distinct non-null
      xxhash64 values, sliced at k+1 so completeness is knowable (≤ k
      survivors = exact NDV).  Nested columns are skipped.
    - ``bloom_columns``: manifest blooms (lake/bloom.py), bit-identical to
      :func:`_scan_staged_file`'s.  Per value the JVM computes BLOOM_K
      positions encoded ``col_idx * m + pos``; ``posexplode_outer``
      spreads them over rows for one ``collect_set`` (state bounded by m
      bits per column, not by rows), and only position-0 rows count
      toward ``rows`` and NULL counts.  Only BLOOM_FRAMES types are
      built; saturated blooms are left out."""
    import numpy as np

    from dlt_iceberg_spark.lake.bloom import (
        BLOOM_FRAMES,
        BLOOM_K,
        BLOOM_M_BITS,
        bloom_key,
        pack_positions,
    )

    dtypes = {f.name: f.dataType for f in schema.fields if f.name in sdf.columns}
    tags = {c: dt.simpleString() for c, dt in dtypes.items()}
    prunable = [c for c in dtypes if tags[c] in _STATS_TYPES] if stats else []
    nested = (T.ArrayType, T.MapType, T.StructType)
    ndv = [
        c for c in dict.fromkeys(ndv_columns)
        if c in dtypes and not isinstance(dtypes[c], nested)
    ]
    blooms = [c for c in dict.fromkeys(bloom_columns) if tags.get(c) in BLOOM_FRAMES]
    m = BLOOM_M_BITS
    first = F.lit(True)
    if blooms:
        arrs = []
        for ci, c in enumerate(blooms):
            h = F.xxhash64(F.col(c))
            h1, h2 = F.shiftrightunsigned(h, 32), h.bitwiseAND(F.lit(0xFFFFFFFF))
            poss = [
                (h1 + F.lit(i) * h2).bitwiseAND(F.lit(m - 1)) + F.lit(ci * m)
                for i in range(BLOOM_K)
            ]
            arrs.append(
                F.when(F.col(c).isNotNull(), F.array(*poss)).otherwise(
                    F.array().cast("array<bigint>")
                )
            )
        sdf = sdf.select(
            *dict.fromkeys(prunable + ndv),
            F.input_file_name().alias("__f"),
            F.posexplode_outer(F.flatten(F.array(*arrs))).alias("__p", "__e"),
        )
        first = F.coalesce(F.col("__p") == 0, F.lit(True))
    else:
        sdf = sdf.withColumn("__f", F.input_file_name())
    aggs = [F.count_if(first).alias("_rows")]
    for i, c in enumerate(prunable):
        aggs += [
            F.min(c).alias(f"_mn{i}"),
            F.max(c).alias(f"_mx{i}"),
            F.count_if(first & F.col(c).isNull()).alias(f"_nn{i}"),
        ]
    for i, c in enumerate(ndv):
        hashes = F.collect_set(F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c))))
        aggs.append(F.slice(F.array_sort(hashes), 1, k + 1).alias(f"_kmv{i}"))
    if blooms:
        aggs.append(F.collect_set("__e").alias("_es"))
    out: dict[str, tuple[int, dict, dict, dict]] = {}
    for r in sdf.groupBy("__f").agg(*aggs).collect():
        bounds = {
            c: [iso_norm_value(r[f"_mn{i}"]), iso_norm_value(r[f"_mx{i}"])]
            for i, c in enumerate(prunable)
            if r[f"_mn{i}"] is not None and not _nan_bound(r[f"_mn{i}"], r[f"_mx{i}"])
        }
        sketches: dict[str, dict] = {}
        for i, c in enumerate(ndv):
            hs = list(r[f"_kmv{i}"] or [])
            sketches[c] = {"h": hs[:k], "c": len(hs) <= k, "t": tags[c]}
        es = np.asarray(r["_es"] if blooms else [], dtype=np.int64)
        for ci, c in enumerate(blooms):
            packed = pack_positions(es[es // m == ci] % m, m)
            if packed is not None:  # None = saturated, not worth bytes
                sketches[bloom_key(c)] = {"b": packed, "m": m, "k": BLOOM_K, "t": tags[c]}
        nulls = {c: r[f"_nn{i}"] for i, c in enumerate(prunable)}
        out[r["__f"]] = (r["_rows"], bounds, nulls, sketches)
    return out


def _staged_rel(staging: str, uri: str) -> str:
    """``input_file_name()`` of a file under ``staging`` -> its path
    relative to ``staging``, the key ``FileIO.walk_files`` yields.  Not the
    basename: Spark restarts its file counter in every partition
    directory, so one task's files share a name across directories."""
    marker = "/" + os.path.basename(staging.rstrip("/")) + "/"
    return urllib.parse.unquote(uri).partition(marker)[2]


class _CheckRefused(Exception):
    """Carries a :meth:`LakeTable.commit_on_head` check's refusal out of
    the retry loop.  Its fixed message matches no retryable marker
    (errors.classify_error), so the policy never retries it."""

    def __init__(self, error: Exception):
        super().__init__("commit check refused")
        self.error = error


class LakeTable:
    """Handle to one table directory; stateless between calls (always reads
    the current pointer, like Iceberg with catalog caching disabled —
    SURVEY.md §4 'snapshot freshness')."""

    def __init__(
        self,
        spark: SparkSession,
        location: str,
        branch: str = "main",
        io=None,
        pointer_store=None,
    ):
        self.spark = spark
        self.location = location.rstrip("/")
        self.branch = branch
        # scheme-routed storage: plain paths / file:// use POSIX I/O; other
        # schemes (s3a://, gs://, …) ride the session's Hadoop FileSystem
        self._io = io if io is not None else fileio_for(self.location, spark)
        self._meta_dir = os.path.join(self.location, "metadata")
        self._data_dir = os.path.join(self.location, "data")
        # when set (lake/pointers.py), BRANCH HEADS live in the catalog and
        # commits swap them via compare-and-swap instead of file rename —
        # the real-Iceberg deployment shape for object stores, and the
        # sanctioned escape from the NonAtomicCommitError guard
        self._pointer_store = pointer_store

    @property
    def _ptr_path(self) -> str:
        if self.branch == "main":
            return os.path.join(self._meta_dir, "_current")
        return os.path.join(self._meta_dir, f"_branch_{self.branch}")

    # -- metadata ----------------------------------------------------------

    @staticmethod
    def exists_at(location: str, io=None) -> bool:
        io = io or LocalFileIO()
        return io.exists(os.path.join(location, "metadata", "_current"))

    @property
    def exists(self) -> bool:
        if self._pointer_store is not None:
            return self._pointer_store.get("main") is not None
        return self.exists_at(self.location, io=self._io)

    def current_version(self) -> int | None:
        # a branch with no commits of its own implicitly points at main's
        # head (Iceberg WAP: the branch forks from current on first write)
        if self._pointer_store is not None:
            v = self._pointer_store.get(self.branch)
            if v is None and self.branch != "main":
                v = self._pointer_store.get("main")
            return v
        candidates = [self._ptr_path]
        if self.branch != "main":
            candidates.append(os.path.join(self._meta_dir, "_current"))
        for path in candidates:
            try:
                return int(self._io.read_text(path).strip())
            except FileNotFoundError:
                continue
        return None

    def _all_versions(self) -> list[int]:
        """Every snapshot manifest present on disk, any ref."""
        if not self._io.isdir(self._meta_dir):
            return []
        return sorted(
            int(n[1:-5])
            for n in self._io.listdir(self._meta_dir)
            if n.startswith("v") and n.endswith(".json")
        )

    def snapshot(self, version: int | None = None) -> Snapshot | None:
        v = version if version is not None else self.current_version()
        if v is None:
            return None
        raw = json.loads(
            self._io.read_text(os.path.join(self._meta_dir, f"v{v:06d}.json"))
        )
        return Snapshot(
            version=raw["version"],
            schema=T.StructType.fromJson(raw["schema"]),
            manifests=[ManifestRef(**m) for m in raw.get("manifests", [])],
            # legacy inline file lists predate chunked manifests (and
            # sequence numbers: such files are older than any delete file,
            # i.e. sequence 0)
            inline_files=[
                DataFile(**{"sequence": 0, **f}) for f in raw.get("files", [])
            ],
            operation=raw["operation"],
            parent=raw["parent"],
            timestamp=raw["timestamp"],
            partition_spec=raw.get("partition_spec", []),
            summary=raw.get("summary", {}),
            properties=raw.get("properties", {}),
            delete_files=[DeleteFile(**d) for d in raw.get("delete_files", [])],
            field_ids=raw.get("field_ids", {}),
            location=self.location,
            io=self._io,
        )

    def snapshots(self) -> list[Snapshot]:
        """The table's history, oldest first (the ``t.snapshots`` metadata
        table): every snapshot up to this ref's head that parent links
        reach from a ref — main, a branch or a tag.  A snapshot whose
        commit never swapped a pointer (a crashed or lost commit) is not
        history."""
        current = self.current_version()
        if current is None:
            return []
        seen: dict[int, Snapshot] = {}
        for head in {current, *self.branches().values(), *self.tags().values()}:
            v = head
            while v is not None and v not in seen:
                try:
                    seen[v] = self.snapshot(v)
                except FileNotFoundError:  # expired
                    break
                v = seen[v].parent
        return [seen[v] for v in sorted(seen) if v <= current]

    def schema(self) -> T.StructType | None:
        snap = self.snapshot()
        return snap.schema if snap else None

    # -- branches (write-audit-publish) ------------------------------------

    def for_branch(self, branch: str) -> "LakeTable":
        """A view of the same table whose commits move ``branch``'s pointer
        instead of main's (Iceberg branch write / ``spark.wap.branch``)."""
        return LakeTable(
            self.spark,
            self.location,
            branch=branch,
            io=self._io,
            pointer_store=self._pointer_store,
        )

    def branches(self) -> dict[str, int]:
        """Named mutable refs → head snapshot version (main included)."""
        if self._pointer_store is not None:
            return self._pointer_store.refs()
        out: dict[str, int] = {}
        if not self._io.isdir(self._meta_dir):
            return out
        for n in self._io.listdir(self._meta_dir):
            path = os.path.join(self._meta_dir, n)
            if n == "_current":
                out["main"] = int(self._io.read_text(path).strip())
            elif n.startswith("_branch_"):
                out[n[len("_branch_"):]] = int(self._io.read_text(path).strip())
        return out

    def delete_branch(self, name: str) -> None:
        if name == "main":
            raise ValueError("cannot delete the main branch")
        if self._pointer_store is not None:
            try:
                self._pointer_store.delete_ref(name)
            except FileNotFoundError:
                raise ValueError(f"no such branch {name!r}") from None
            return
        try:
            self._io.remove(os.path.join(self._meta_dir, f"_branch_{name}"))
        except FileNotFoundError:
            raise ValueError(f"no such branch {name!r}") from None

    def _ancestry(self, head: int) -> list[int]:
        """``head`` and its ancestors, newest first; stops at expired holes."""
        out: list[int] = []
        v: int | None = head
        while v is not None:
            try:
                snap = self.snapshot(v)
            except FileNotFoundError:
                break
            out.append(v)
            v = snap.parent
        return out

    def fast_forward(self, source_branch: str) -> int:
        """Publish (the P of WAP): move THIS branch's pointer to
        ``source_branch``'s head — Iceberg's ``fast_forward`` procedure.

        Like a git fast-forward, it only succeeds when this branch's head is
        an ancestor of (or equal to) the source head; anything else means
        the branches diverged and publishing would silently drop commits.
        """
        src_head = self.for_branch(source_branch).current_version()
        if src_head is None:
            raise ValueError(f"branch {source_branch!r} has no snapshots")
        mine = self.current_version()
        if mine is not None and mine not in self._ancestry(src_head):
            raise CommitConflictError(
                f"branch {self.branch!r} at v{mine} is not an ancestor of "
                f"{source_branch!r} head v{src_head} — cannot fast-forward"
            )
        if self._pointer_store is not None:
            raw = self._pointer_store.get(self.branch)  # None = ref not forked yet
            if not self._pointer_store.cas(self.branch, raw, src_head):
                raise CommitConflictError(
                    f"catalog CAS lost: ref {self.branch!r} moved past v{raw}"
                )
            return src_head
        self._io.makedirs(self._meta_dir)
        tmp_ptr = os.path.join(self._meta_dir, f"_ptr_{uuid.uuid4().hex}")
        self._io.write_text(tmp_ptr, str(src_head))
        self._io.rename(tmp_ptr, self._ptr_path)
        return src_head

    # -- named refs (tags) + rollback --------------------------------------

    def tags(self) -> dict[str, int]:
        """Named immutable refs → snapshot version (Iceberg tags)."""
        if not self._io.isdir(self._meta_dir):
            return {}
        out = {}
        for n in self._io.listdir(self._meta_dir):
            if n.startswith("_tag_"):
                out[n[len("_tag_"):]] = int(
                    self._io.read_text(os.path.join(self._meta_dir, n)).strip()
                )
        return out

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Tag a snapshot (default: current).  Tags pin their snapshot — and
        every file it references — against ``expire_snapshots``."""
        v = version if version is not None else self.current_version()
        if v is None or not self._io.exists(
            os.path.join(self._meta_dir, f"v{v:06d}.json")
        ):
            raise ValueError(f"no snapshot v{v} to tag")
        try:
            self._io.write_text_exclusive(
                os.path.join(self._meta_dir, f"_tag_{name}"), str(v)
            )
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists") from None
        return v

    def delete_tag(self, name: str) -> None:
        try:
            self._io.remove(os.path.join(self._meta_dir, f"_tag_{name}"))
        except FileNotFoundError:
            raise ValueError(f"no such tag {name!r}") from None

    def rollback(self, to_version: int) -> Snapshot:
        """Restore an earlier snapshot's state as a NEW snapshot (Iceberg
        ``rollback_to_snapshot``): history is preserved, the table's live
        file set and schema become those of ``to_version``.  Time travel to
        the rolled-back-over versions keeps working until they expire."""
        old = self.snapshot(to_version)
        if old is None:
            raise ValueError(f"no snapshot v{to_version} to roll back to")
        current = self.current_version()
        if to_version == current:
            return old
        # manifests are immutable once written, so the rolled-back-to
        # snapshot's refs are reused verbatim — a rollback is O(1) metadata
        return self.commit(
            None,
            old.schema,
            "rollback",
            current,
            partition_spec=old.partition_spec,
            summary={"rolled-back-to": to_version},
            delete_files=old.delete_files,
            manifests=old.manifests,
            new_files=old.inline_files,
        )

    def metadata_df(self, kind: str = "snapshots") -> DataFrame:
        """Metadata tables (Iceberg's ``t.snapshots`` / ``t.files`` /
        ``t.history``) as DataFrames, planned from manifests only — no data
        files are touched, so these stay O(metadata) at any table size.

        - ``snapshots``: every snapshot reachable through parent links
          from a ref (main, branches, tags) with operation + totals
          (:meth:`snapshots`).
        - ``files``: the CURRENT snapshot's live files with per-file stats.
        - ``history``: the current ancestry chain, oldest first (snapshots
          abandoned by rolled-back or conflicting commits are excluded).
        """
        if kind == "snapshots":
            schema = (
                "version int, parent int, operation string, timestamp string, "
                "n_files int, total_rows bigint, total_bytes bigint, "
                "summary map<string,string>"
            )
            rows = [
                (
                    s.version,
                    s.parent,
                    s.operation,
                    s.timestamp,
                    s.n_files,
                    s.total_rows,
                    s.total_bytes,
                    {k: str(v) for k, v in s.summary.items()},
                )
                for s in self.snapshots()
            ]
            return self.spark.createDataFrame(rows, schema)
        if kind == "files":
            snap = self.snapshot()
            if snap is None:
                raise FileNotFoundError(f"no such table: {self.location}")
            schema = (
                "file_path string, rows bigint, bytes bigint, "
                "partition map<string,string>, "
                "column_mins map<string,string>, column_maxs map<string,string>"
            )
            inline_rows = [
                (
                    f.path,
                    f.rows,
                    f.bytes,
                    {k: str(v) for k, v in f.partition.items()},
                    {k: str(v[0]) for k, v in f.stats.items()},
                    {k: str(v[1]) for k, v in f.stats.items()},
                )
                for f in snap.inline_files
            ]
            out = self.spark.createDataFrame(inline_rows, schema)
            if snap.manifests:
                # manifests ARE parquet: the file inventory scans as a
                # distributed Spark job — an 800k-file listing never
                # materializes on the driver
                mdf = self.spark.read.parquet(
                    *[os.path.join(self.location, r.path) for r in snap.manifests]
                )
                stats_t = "map<string,array<string>>"
                mrows = mdf.select(
                    F.col("path").alias("file_path"),
                    F.col("rows"),
                    F.col("bytes"),
                    F.from_json("partition", "map<string,string>").alias("partition"),
                    F.transform_values(
                        F.from_json("stats", stats_t), lambda _, v: v[0]
                    ).alias("column_mins"),
                    F.transform_values(
                        F.from_json("stats", stats_t), lambda _, v: v[1]
                    ).alias("column_maxs"),
                )
                out = out.unionByName(mrows)
            return out
        if kind == "history":
            chain = []
            snap = self.snapshot()
            while snap is not None:
                chain.append(snap)
                snap = self.snapshot(snap.parent) if snap.parent is not None else None
            current_v = self.current_version()
            rows = [
                (s.timestamp, s.version, s.parent, s.version == current_v)
                for s in reversed(chain)
            ]
            return self.spark.createDataFrame(
                rows,
                "made_current_at string, version int, parent int, is_current boolean",
            )
        if kind == "refs":
            rows = [(name, "tag", v) for name, v in sorted(self.tags().items())]
            rows += [(name, "branch", v) for name, v in sorted(self.branches().items())]
            return self.spark.createDataFrame(
                rows, "name string, type string, version int"
            )
        if kind == "delete_files":
            snap = self.snapshot()
            if snap is None:
                raise FileNotFoundError(f"no such table: {self.location}")
            rows = [
                (d.path, d.rows, d.bytes, d.content, list(d.equality_ids), d.sequence)
                for d in snap.delete_files
            ]
            return self.spark.createDataFrame(
                rows,
                "file_path string, rows bigint, bytes bigint, content string, "
                "equality_ids array<string>, sequence int",
            )
        if kind == "manifests":
            # Iceberg's `t.manifests`: one row per manifest chunk of the
            # CURRENT snapshot with its aggregate pruning envelope —
            # the operational view for judging manifest health (chunk
            # sizes, range overlap) without reading any chunk.
            snap = self.snapshot()
            if snap is None:
                raise FileNotFoundError(f"no such table: {self.location}")
            rows = [
                (
                    r.path,
                    r.n_files,
                    r.rows,
                    r.bytes,
                    {
                        c: [None if x is None else str(x) for x in v]
                        for c, v in r.ranges.items()
                    },
                    {
                        k: [None if x is None else str(x) for x in v]
                        for k, v in r.partitions.items()
                    },
                )
                for r in snap.manifests
            ]
            return self.spark.createDataFrame(
                rows,
                "path string, n_files int, rows bigint, bytes bigint, "
                "column_ranges map<string,array<string>>, "
                "partition_values map<string,array<string>>",
            )
        if kind == "partitions":
            # Iceberg's `t.partitions`: per-partition-tuple totals over the
            # CURRENT snapshot — aggregated from the `files` metadata scan,
            # so it stays a distributed manifest read (O(metadata)); the
            # operational view for spotting skewed/bloated partitions.
            files = self.metadata_df("files")
            return files.groupBy("partition").agg(
                F.count(F.lit(1)).cast("int").alias("n_files"),
                F.sum("rows").alias("total_rows"),
                F.sum("bytes").alias("total_bytes"),
                F.min("rows").alias("min_file_rows"),
                F.max("rows").alias("max_file_rows"),
            )
        if kind == "statistics":
            # Iceberg's statistics-files view: per sketched column, the
            # snapshot-level NDV (exact flag included) plus sketch
            # coverage — the ops probe for "is this table's ANALYZE
            # fresh?".  `sketched_files` is ref-granular (files counted
            # through fully-sketched manifests — a lower bound; a
            # partially-sketched manifest reports 0, matching the
            # all-or-nothing answerability rule).  O(refs), no reads.
            snap = self.snapshot()
            if snap is None:
                raise FileNotFoundError(f"no such table: {self.location}")
            cols: set[str] = set()
            for f in snap.inline_files:
                cols.update(f.sketches.keys())
            for r in snap.manifests:
                cols.update(r.sketches.keys())
            # manifest blooms share the sketches dict but answer
            # membership, not NDV — they are not ANALYZE statistics
            cols = {c for c in cols if not c.startswith("bloom:")}
            rows = []
            n_total = snap.n_files
            for c in sorted(cols):
                got = snap.approx_distinct([c])
                covered = sum(
                    1 for f in snap.inline_files if c in f.sketches
                ) + sum(
                    r.n_files for r in snap.manifests if c in r.sketches
                )
                rows.append(
                    (
                        c,
                        None if got is None else got[c]["ndv"],
                        None if got is None else got[c]["exact"],
                        covered,
                        n_total,
                    )
                )
            return self.spark.createDataFrame(
                rows,
                "column string, ndv bigint, exact boolean, "
                "sketched_files int, total_files int",
            )
        raise ValueError(
            f"unknown metadata table {kind!r} "
            "(snapshots|files|history|refs|delete_files|partitions|manifests|"
            "statistics)"
        )

    # -- commit protocol ---------------------------------------------------

    def stage_dataframe(
        self,
        df: DataFrame,
        target_file_rows: int | None = None,
        partition_exprs: list | None = None,
        bloom_columns: list[str] | None = None,
        ndv_columns: list[str] | None = None,
    ) -> list[DataFile]:
        """Write a DataFrame's content as immutable parquet files in data/
        (not yet visible — visibility comes from the snapshot commit).

        The write itself is a distributed Spark job; one output file per
        partition of the plan.  File stats are read back from footers.

        With ``partition_exprs`` ([(name, Column)] — e.g. from
        ``partition_columns``), the write is hive-layouted on the transform
        values and each DataFile records its partition dict, enabling
        partition-scoped operations (dynamic overwrite, partition pruning).
        The transform values ride as duplicate ``_p_*`` string columns so
        the data columns stay intact inside the files.  Each non-NULL value
        carries a one-character prefix that the path parse strips: hive
        layout writes NULL and ``''`` both as ``__HIVE_DEFAULT_PARTITION__``,
        and the prefix keeps ``''`` apart (recorded ``''``, NULL as None).
        Staging dirs are flattened to ``data/<uuid>.parquet``, so the
        encoding never outlives the call.

        Sketches: ``bloom_columns`` get parquet row-group blooms and
        manifest blooms, ``ndv_columns`` KMV NDV sketches.  Each defaults
        (None) to the columns the table's properties record
        (``BLOOM_COLUMN_PROP`` / ``NDV_COLUMN_PROP``), so every rewrite of
        a table keeps its files' sketches; columns the frame lacks are
        skipped.

        Stats collection: on local tables one driver pass per staged file
        (:func:`_scan_staged_file`) reads the footer stats AND builds the
        manifest blooms from just the bloom columns' chunks.  Non-local
        FileIO collects per-file stats and blooms with one Spark job over
        the staging directory (:func:`_file_metadata_via_spark`) — pulling
        128 MB data files through the driver would be the exact
        anti-pattern manifests exist to avoid.  NDV sketches ride that
        job, or are its only content on local tables.
        """
        if bloom_columns is None or ndv_columns is None:
            snap = self.snapshot()
            props = snap.properties if snap is not None else {}
            if bloom_columns is None:
                bloom_columns = recorded_columns(props, BLOOM_COLUMN_PROP)
            if ndv_columns is None:
                ndv_columns = recorded_columns(props, NDV_COLUMN_PROP)
        bloom_columns = [c for c in bloom_columns if c in df.columns]
        ndv_columns = [c for c in ndv_columns if c in df.columns]
        io = self._io
        io.makedirs(self._data_dir)
        staging = os.path.join(self.location, f"_staging_{uuid.uuid4().hex}")
        if partition_exprs:
            tmp = {
                f"_p_{n}": F.concat(F.lit(_PART_PREFIX), expr.cast("string"))
                for n, expr in partition_exprs
            }
            writer = df.withColumns(tmp).write.mode("overwrite").partitionBy(*tmp.keys())
        else:
            writer = df.write.mode("overwrite")
        # parquet bloom filters on equality-probe columns (merge keys /
        # point-lookup columns): manifest min/max stats pick candidate
        # FILES; blooms let the parquet reader skip row GROUPS inside them
        # on `=` probes — the Iceberg write-time recipe
        # (write.parquet.bloom-filter-enabled.column.*), crucial for
        # unsorted high-cardinality keys where min/max ranges are wide.
        for c in bloom_columns:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer.parquet(staging)
        local = isinstance(io, LocalFileIO)
        by_file: dict[str, tuple[int, dict, dict, dict]] = {}
        if not local or ndv_columns:
            by_file = {
                _staged_rel(staging, f): meta
                for f, meta in _file_metadata_via_spark(
                    self.spark.read.parquet(staging),
                    df.schema,
                    stats=not local,
                    bloom_columns=() if local else bloom_columns,
                    ndv_columns=ndv_columns,
                ).items()
            }
        staged: list[DataFile] = []
        for rel in io.walk_files(staging):
            if not rel.endswith(".parquet"):
                continue
            partition: dict = {}
            rel_dir = os.path.dirname(rel)
            for seg in rel_dir.split(os.sep) if rel_dir else []:
                key, eq, raw = seg.partition("=")
                if not eq:
                    continue
                key = key[3:] if key.startswith("_p_") else key
                val = urllib.parse.unquote(raw)
                partition[key] = (
                    None if val == "__HIVE_DEFAULT_PARTITION__"
                    else val[len(_PART_PREFIX):]
                )
            final_name = f"{uuid.uuid4().hex}.parquet"
            abs_final = os.path.join(self._data_dir, final_name)
            io.rename(os.path.join(staging, rel), abs_final)
            rows, stats, nulls, sketches = by_file.get(rel, (0, {}, {}, {}))
            if local:
                rows, nbytes, stats, nulls, blooms = _scan_staged_file(
                    abs_final, df.schema, io, bloom_columns
                )
                sketches = {**sketches, **blooms}
            else:
                nbytes = io.size(abs_final) if rows else 0
            if rows == 0:
                io.remove(abs_final)
                continue
            staged.append(
                DataFile(
                    path=f"data/{final_name}",
                    rows=rows,
                    bytes=nbytes,
                    stats=stats,
                    partition=dict(partition),
                    sketches=sketches,
                    null_counts=nulls,
                )
            )
        io.rmtree(staging)
        return staged

    def stage_rows(
        self,
        data: pa.Table,
        schema: T.StructType,
        partition: dict | None = None,
        bloom_columns=(),
    ) -> list[DataFile]:
        """Write an Arrow table (``data``, typed as ``schema``) as ONE
        parquet data file of ``partition``, not yet visible — like
        :meth:`stage_dataframe`, visibility comes from the commit.

        No Spark job: pyarrow encodes the file in this process (the
        ledger's driver, a stream sink's executor), the bytes go through
        the FileIO, and rows, stats, NULL counts and ``bloom_columns``'
        manifest blooms come from :func:`_scan_staged_file`.  pyarrow's
        footer stats skip NaN while Spark orders NaN above every number,
        so a float column holding NaN is written without statistics."""
        if not data.num_rows:
            return []
        import io as _pyio

        import pyarrow.compute as pc

        nan_cols = {
            n
            for n, c in zip(data.column_names, data.columns)
            if pa.types.is_floating(c.type) and pc.any(pc.is_nan(c)).as_py()
        }
        self._io.makedirs(self._data_dir)
        name = f"{uuid.uuid4().hex}.parquet"
        abs_path = os.path.join(self._data_dir, name)
        buf = _pyio.BytesIO()
        pq.write_table(
            data,
            buf,
            write_statistics=(
                [n for n in data.column_names if n not in nan_cols] if nan_cols else True
            ),
        )
        self._io.write_bytes(abs_path, buf.getvalue())
        n, nbytes, stats, nulls, blooms = _scan_staged_file(
            abs_path, schema, self._io, bloom_columns
        )
        return [
            DataFile(
                path=f"data/{name}",
                rows=n,
                bytes=nbytes,
                stats=stats,
                partition=dict(partition or {}),
                sketches=blooms,
                null_counts=nulls,
            )
        ]

    def commit(
        self,
        files: list[DataFile] | None,
        schema: T.StructType,
        operation: str,
        expected_parent: int | None,
        partition_spec: list[dict[str, Any]] | None = None,
        properties: dict[str, str] | None = None,
        summary: dict[str, Any] | None = None,
        delete_files: list[DeleteFile] | None = None,
        manifests: list[ManifestRef] | None = None,
        new_files: list[DataFile] | None = None,
        field_ids: dict[str, int] | None = None,
        min_version: int | None = None,
        new_deletes: list[DeleteFile] | None = None,
    ) -> Snapshot:
        """Atomically publish a new snapshot.

        One rule: the base is the expected parent — its inventory, delete
        files, spec, properties and field ids carry over unless replaced.

        - ``new_files=[...]`` lists only the ADDED entries: the parent's
          manifests are reused by reference, never read, and the added
          entries become one new manifest — Iceberg's manifest-list design,
          the reason commits stay O(touched) at any table size.
          ``new_files=[]`` is metadata-only; naming no files and no deletes
          is refused (it reads like a forgotten ``files=[]``).
        - ``manifests=[refs]`` only passes a pruned or rewritten inventory
          (CoW merge, partition replace, schema-DDL rewrites, rollback);
          ``new_files`` then lists every other live entry.
        - ``files=[...]`` is the FULL live-file set (replace, compaction,
          z-order); ``[]`` truncates.

        ``delete_files`` replaces the parent's delete set (``[]`` clears
        it); ``new_deletes`` add to it.  Files with ``sequence=None`` are
        stamped with the new version — equality deletes apply only to data
        files with a strictly smaller sequence, so a delete committed
        alongside new data masks old rows, never the rows landing with it.

        Optimistic concurrency: fails with CommitConflictError if the table
        advanced past ``expected_parent``; :meth:`commit_on_head` retries.
        """
        if files is not None and (manifests is not None or new_files is not None):
            raise ValueError("pass files=... OR manifests=/new_files=, not both")
        if all(a is None for a in (files, manifests, new_files, new_deletes, delete_files)):
            raise ValueError(
                "commit needs files=[...] (full set; [] truncates) or "
                "new_files=[...] (delta on the parent; [] for metadata-only)"
            )
        self._io.makedirs(self._meta_dir)
        # For catalog-owned pointers, remember the branch ref's RAW head at
        # check time: None means this commit FORKS the branch (CAS expected
        # None creates the ref; a racing fork loses with 409), while the
        # fallback head below is only the snapshot we build on.
        if self._pointer_store is not None:
            _raw_head = self._pointer_store.get(self.branch)
            current = (
                _raw_head
                if _raw_head is not None
                else (
                    self._pointer_store.get("main") if self.branch != "main" else None
                )
            )
        else:
            _raw_head = None
            current = self.current_version()
        if current != expected_parent:
            raise CommitConflictError(
                f"table at version {current}, expected {expected_parent}"
            )
        # number from the GLOBAL manifest listing, not current+1: two
        # branches committing from different heads must not collide on the
        # same manifest file (versions are ids, ancestry lives in `parent`)
        versions = self._all_versions()
        new_version = versions[-1] + 1 if versions else 0
        # version-floor (clone_table): carried files keep explicit sequence
        # numbers, so the commit that introduces them must land at a version
        # ABOVE them all — every later commit then outranks every carried
        # sequence (equality deletes mask strictly-smaller sequences only)
        if min_version is not None and new_version < min_version:
            new_version = min_version
        prev = self.snapshot(current) if current is not None else None
        # the pointer swap IS the commit point — on storage whose rename is
        # not atomic (object stores) two racing writers could both rename
        # "successfully" and silently lose a snapshot.  Refuse (before any
        # metadata is written) unless the deployment either owns pointers in
        # a catalog CAS or explicitly accepts single-writer last-wins.
        _props_preview = (
            properties if properties is not None else (prev.properties if prev else {})
        )
        if (
            self._pointer_store is None  # a catalog CAS makes the swap safe
            and not getattr(self._io, "atomic_rename", True)
            and (_props_preview or {}).get("commit.allow-non-atomic-pointer") != "true"
        ):
            raise NonAtomicCommitError(
                f"storage for {self.location!r} lacks atomic rename; commit "
                "the pointer through a catalog CAS (lake/pointers.py + "
                "lake/iceberg_config.py) or set table property "
                "commit.allow-non-atomic-pointer=true for single-writer "
                "pipelines"
            )

        def stamp(fl: list[DataFile]) -> list[DataFile]:
            return [
                f if f.sequence is not None
                else DataFile(**{**vars(f), "sequence": new_version})
                for f in fl
            ]

        if files is not None:
            _added = stamp(files)
            refs = write_chunked(self.location, _added, io=self._io)
        else:
            if manifests is None:  # the parent's inventory, legacy entries too
                refs = list(prev.manifests) if prev else []
                _added = stamp((prev.inline_files if prev else []) + list(new_files or []))
            else:
                refs = list(manifests)
                _added = stamp(new_files or [])
            if _added:
                refs.extend(write_chunked(self.location, _added, io=self._io))
            # fold accumulated micro-manifests (reads only the small ones)
            refs = compact_refs(self.location, refs, io=self._io)
        # None = inherit: an append/evolve on a merge-on-read table must not
        # drop the delete set (that would resurrect masked rows)
        resolved_deletes = list(
            delete_files
            if delete_files is not None
            else (prev.delete_files if prev else [])
        ) + list(new_deletes or [])
        resolved_deletes = [
            d if d.sequence is not None else DeleteFile(**{**vars(d), "sequence": new_version})
            for d in resolved_deletes
        ]
        # stable field ids (Iceberg compat): carry the parent's mapping,
        # assign fresh ids only to never-before-seen columns.  Dropped
        # columns keep their id reserved — ids are never reused.  Schema-DDL
        # callers (rename_column: same id, new name; add_column after drop:
        # fresh id for the re-added name) pass the rebased mapping in.
        if field_ids is None:
            field_ids = dict(prev.field_ids) if prev else {}
        else:
            field_ids = dict(field_ids)
        next_id = max(field_ids.values(), default=0) + 1
        for fld in schema.fields:
            if fld.name not in field_ids:
                field_ids[fld.name] = next_id
                next_id += 1
        resolved_props = dict(
            properties if properties is not None else (prev.properties if prev else {})
        )
        # adoption provenance is table LINEAGE, not user config: probe
        # rewriting keys the foreign-vs-native partition-tuple domain off
        # "imported-from" (iceberg_domain.py), so a commit passing explicit
        # properties must not silently strip it (that would resurrect the
        # wrong-domain prune on every foreign file still live)
        for k in ("imported-from", "imported-table-uuid"):
            if prev and k in prev.properties and k not in resolved_props:
                resolved_props[k] = prev.properties[k]
        # names the table has EVER used (renamed-away / dropped) are table
        # lineage: add_column consults this to know a bare re-add must
        # guard old physical pages.  Monotone — explicit-properties
        # commits must not strip it (same contract as the tz set below).
        reserved = {
            n
            for n in (prev.properties if prev else {})
            .get("schema.reserved-names", "")
            .split(",")
            if n
        } | {
            n
            for n in resolved_props.get("schema.reserved-names", "").split(",")
            if n
        }
        if reserved:
            resolved_props["schema.reserved-names"] = ",".join(sorted(reserved))
        # ts-sourced partition tuples (identity/year/month/day/hour on a
        # tz-adjusted timestamp) are RENDERED in the writer's session frame
        # by date_format/cast, so the frame is table lineage: scan-time
        # probe rewriting re-evaluates probes in every frame that ever
        # wrote (_partition_probe_values).  Accumulate — files carried
        # through compaction/replace keep their original spelling, so the
        # set never shrinks; explicit-properties commits must not strip it.
        spec_now = (
            partition_spec
            if partition_spec is not None
            else (prev.partition_spec if prev else [])
        )
        tzset = {
            t
            for t in (prev.properties if prev else {})
            .get("write.session-tz-set", "")
            .split(",")
            if t
        }
        dtype_of = {f.name: f.dataType for f in schema.fields}
        if (files or new_files) and any(
            isinstance(
                dtype_of.get(p.get("column") or p.get("source") or ""),
                T.TimestampType,
            )
            for p in (spec_now or [])
        ):
            tz = _session_tz(self.spark)
            tzset.add("UTC" if tz in _UTC_TZ_NAMES else tz)
        if tzset:
            resolved_props["write.session-tz-set"] = ",".join(sorted(tzset))
        snap = Snapshot(
            version=new_version,
            schema=schema,
            manifests=refs,
            operation=operation,
            parent=current,
            timestamp=datetime.now(timezone.utc).isoformat(),
            partition_spec=partition_spec
            if partition_spec is not None
            else (prev.partition_spec if prev else []),
            # Iceberg-standard snapshot summary metrics (spec "Metrics"),
            # computed from manifest refs — O(refs), never a data read;
            # explicit caller keys win on collision
            summary={
                "added-data-files": len(_added),
                "added-records": sum(f.rows for f in _added),
                "added-files-size": sum(f.bytes for f in _added),
                "total-data-files": sum(r.n_files for r in refs),
                "total-records": sum(r.rows for r in refs),
                "total-files-size": sum(r.bytes for r in refs),
                "total-delete-files": len(resolved_deletes),
                **(summary or {}),
            },
            properties=resolved_props,
            delete_files=resolved_deletes,
            field_ids=field_ids,
            location=self.location,
            io=self._io,
        )
        payload = {
            "format_version": 2,
            "version": snap.version,
            "schema": snap.schema.jsonValue(),
            "field_ids": snap.field_ids,
            "manifests": [
                {
                    "path": r.path,
                    "n_files": r.n_files,
                    "rows": r.rows,
                    "bytes": r.bytes,
                    "ranges": r.ranges,
                    "partitions": r.partitions,
                    # NDV sketches are opt-in; omit the key when empty so
                    # unsketched tables' snapshot JSON stays byte-identical
                    **({"sketches": r.sketches} if r.sketches else {}),
                }
                for r in snap.manifests
            ],
            "operation": snap.operation,
            "parent": snap.parent,
            "timestamp": snap.timestamp,
            "partition_spec": snap.partition_spec,
            "summary": snap.summary,
            "properties": snap.properties,
            "delete_files": [vars(d) for d in snap.delete_files],
        }
        manifest = os.path.join(self._meta_dir, f"v{new_version:06d}.json")
        # manifest write may race; the POINTER rename is the commit point.
        # O_EXCL makes the existence check + create atomic, so a concurrent
        # committer at the same parent loses here (not at the pointer).
        try:
            self._io.write_text_exclusive(
                manifest, json.dumps(payload, default=str)
            )
        except FileExistsError:
            raise CommitConflictError(
                f"snapshot v{new_version} already written"
            ) from None
        if self._pointer_store is not None:
            # catalog-owned swap: the CAS is the commit point (Iceberg REST
            # assert-ref-snapshot-id); a lost race surfaces as a conflict,
            # retried by the writer layer like any other
            if not self._pointer_store.cas(self.branch, _raw_head, new_version):
                raise CommitConflictError(
                    f"catalog CAS lost: ref {self.branch!r} moved past "
                    f"v{_raw_head}"
                )
        else:
            tmp_ptr = os.path.join(self._meta_dir, f"_ptr_{uuid.uuid4().hex}")
            self._io.write_text(tmp_ptr, str(new_version))
            self._io.rename(tmp_ptr, self._ptr_path)
        return snap

    def commit_on_head(
        self,
        operation: str,
        new_files: list[DataFile] = (),
        new_deletes: list[DeleteFile] = (),
        summary: dict[str, Any] | None = None,
        check: Callable[[Snapshot | None], None] | None = None,
        policy: RetryPolicy | None = None,
        schema: T.StructType | None = None,
        properties: dict[str, str] | None = None,
    ) -> Snapshot:
        """Commit staged files on top of whatever the head is (Iceberg's
        ``AppendFiles`` / ``RowDelta``): read the head, run
        ``check(head)``, delta-commit ``new_files`` / ``new_deletes``
        against it, and retry lost races under ``policy`` WITHOUT
        restaging — sequence numbers stamp at commit, so staged files are
        head-independent and a race costs O(commit), never O(batch).

        ``check`` refuses by raising; its exception, whatever its type,
        leaves at once, unretried (a writer refusing with
        CommitConflictError replays through its own outer retry).
        ``schema`` defaults to the head's (required without a head);
        ``properties`` are set on top of the head's."""

        def attempt() -> Snapshot:
            head = self.snapshot()
            if check is not None:
                try:
                    check(head)
                except Exception as exc:  # noqa: BLE001
                    raise _CheckRefused(exc) from exc
            return self.commit(
                None,
                schema if schema is not None else head.schema,
                operation,
                head.version if head else None,
                properties=(
                    None
                    if properties is None
                    else {**(head.properties if head else {}), **properties}
                ),
                summary=summary,
                new_files=list(new_files),
                new_deletes=list(new_deletes),
            )

        try:
            return (policy or RetryPolicy()).run(attempt)
        except _CheckRefused as refused:
            raise refused.error from None

    #: Spark SQL type string -> Iceberg primitive type name
    _ICEBERG_TYPES = {
        "boolean": "boolean",
        "int": "int",
        "integer": "int",
        "bigint": "long",
        "float": "float",
        "double": "double",
        "string": "string",
        "binary": "binary",
        "date": "date",
        "timestamp_ntz": "timestamp",
        "timestamp": "timestamptz",
    }

    def _iceberg_type(self, dt: T.DataType, next_id: list[int]):
        s = dt.simpleString()
        if s in self._ICEBERG_TYPES:
            return self._ICEBERG_TYPES[s]
        if s.startswith("decimal"):
            return s.replace("decimal(", "decimal(").replace(",", ", ")
        if isinstance(dt, T.ArrayType):
            eid = next_id[0]
            next_id[0] += 1
            return {
                "type": "list",
                "element-id": eid,
                "element": self._iceberg_type(dt.elementType, next_id),
                "element-required": not dt.containsNull,
            }
        if isinstance(dt, T.StructType):
            fields = []
            for f in dt.fields:
                fid = next_id[0]
                next_id[0] += 1
                fields.append(
                    {
                        "id": fid,
                        "name": f.name,
                        "required": not f.nullable,
                        "type": self._iceberg_type(f.dataType, next_id),
                    }
                )
            return {"type": "struct", "fields": fields}
        if isinstance(dt, T.MapType):
            kid, vid = next_id[0], next_id[0] + 1
            next_id[0] += 2
            return {
                "type": "map",
                "key-id": kid,
                "key": self._iceberg_type(dt.keyType, next_id),
                "value-id": vid,
                "value": self._iceberg_type(dt.valueType, next_id),
                "value-required": not dt.valueContainsNull,
            }
        return "string"  # lossy fallback, documented

    def export_iceberg_metadata(self, avro_manifests: bool = False) -> str:
        """Write an Iceberg-v2-spec ``TableMetadata`` JSON view of this
        table and return its path (``metadata/iceberg-metadata.json``).

        The goal is interop-shaped metadata (VERDICT: a future
        iceberg-jar-backed writer should be a writer swap, not a format
        migration): stable field ids, schemas list, partition specs in
        Iceberg transform syntax, the full snapshot list with sequence
        numbers and refs.  Documented deviations from a jar-written table,
        unavoidable without the Iceberg runtime:

        - by default each snapshot carries an inline ``manifests`` array
          (v1-style) naming our chunked PARQUET manifests.  With
          ``avro_manifests=True`` the CURRENT snapshot instead gets a
          spec-shaped ``manifest-list`` chain of AVRO files (field names +
          field-ids per spec v2, written via the JVM core-avro library —
          lake/iceberg_avro.py) and ancestors keep the inline form;
        - nested-type field ids are allocated at export time after the
          last top-level id (top-level ids are the stable ``field_ids``
          every snapshot records).
        """
        import uuid as _uuid
        from datetime import datetime as _dt

        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        chain = self.snapshots()

        def _ms(iso: str) -> int:
            return int(_dt.fromisoformat(iso).timestamp() * 1000)

        field_ids = snap.field_ids or {}
        next_id = [max(field_ids.values(), default=0) + 1]

        def _schema_obj(s: Snapshot, schema_id: int) -> dict:
            # resolve ids through the snapshot's OWN field_ids: a column
            # renamed later keeps its id under the era's name (the current
            # mapping would miss pre-rename names entirely); legacy
            # snapshots without a mapping fall back to the current one
            era_ids = s.field_ids or field_ids
            return {
                "type": "struct",
                "schema-id": schema_id,
                "fields": [
                    {
                        "id": era_ids.get(f.name, field_ids.get(f.name, 0)),
                        "name": f.name,
                        "required": not f.nullable,
                        "type": self._iceberg_type(f.dataType, next_id),
                        # Iceberg v3: pre-add rows read initial-default;
                        # writes omitting the column land write-default
                        **{
                            k: (f.metadata or {})[k]
                            for k in ("initial-default", "write-default")
                            if (f.metadata or {}).get(k) is not None
                        },
                    }
                    for f in s.schema.fields
                ],
            }

        # one schema entry per distinct schema along the ancestry
        schemas, schema_id_of = [], {}
        for s in chain:
            key = s.schema.json()
            if key not in schema_id_of:
                schema_id_of[key] = len(schemas)
                schemas.append(_schema_obj(s, len(schemas)))
        def _transform_syntax(p: dict) -> str:
            t = p.get("transform", "identity")
            if t in ("bucket", "truncate") and p.get("param") is not None:
                return f"{t}[{p['param']}]"
            return t

        def _spec_field_name(p: dict) -> str:
            if p.get("name"):
                return p["name"]
            col = p.get("column") or p.get("source") or ""
            t = p.get("transform", "identity")
            return col if t == "identity" else f"{col}_{t}"

        spec_fields = [
            {
                "name": _spec_field_name(p),
                "transform": _transform_syntax(p),
                "source-id": field_ids.get(p.get("column") or p.get("source") or "", 0),
                "field-id": 1000 + i,
            }
            for i, p in enumerate(snap.partition_spec or [])
        ]
        avro_list_path = None
        if avro_manifests:
            if snap.delete_files:
                # an avro export without delete manifests would RESURRECT
                # masked rows for any reader of the exported chain
                raise ValueError(
                    "avro_manifests export with outstanding MoR delete files "
                    "would drop the delete masks — run fold_deletes() (or "
                    "maintain()) first"
                )
            from dlt_iceberg_spark.lake.iceberg_avro import write_avro_manifests

            avro_list_path = write_avro_manifests(
                self.spark, self.location, snap, spec_fields, io=self._io
            )

        def _snap_files_entry(s: Snapshot) -> dict:
            if avro_list_path is not None and s.version == snap.version:
                return {"manifest-list": avro_list_path}
            return {"manifests": [r.path for r in s.manifests]}

        snapshots_arr = [
            {
                "snapshot-id": s.version,
                **({"parent-snapshot-id": s.parent} if s.parent is not None else {}),
                "sequence-number": s.version,
                "timestamp-ms": _ms(s.timestamp),
                "summary": {"operation": s.operation, **{k: str(v) for k, v in s.summary.items()}},
                "schema-id": schema_id_of[s.schema.json()],
                **_snap_files_entry(s),
            }
            for s in chain
        ]
        refs = {"main": {"snapshot-id": snap.version, "type": "branch"}}
        for name, v in self.tags().items():
            refs[name] = {"snapshot-id": v, "type": "tag"}
        for name, v in self.branches().items():
            if name != "main":
                refs[name] = {"snapshot-id": v, "type": "branch"}
        # Iceberg name mapping (spec §name-mapping-serialization): our
        # parquet files carry no embedded field ids, so a real Iceberg
        # reader resolves columns by name through
        # ``schema.name-mapping.default``.  After rename_column, files from
        # older eras keep their written names — listing every name a field
        # id has EVER had makes ALL eras resolvable to the consumer.
        _export_props = dict(snap.properties)
        # a REBOUND name — reserved by an earlier rename/drop and later
        # re-added under a fresh field id — is not expressible in Iceberg's
        # table-level name mapping: live pre-DDL files physically carry the
        # same column name for the OLD lineage, and a single names→id entry
        # would bind one era's pages to the other era's field id (silent
        # resurrection for any foreign reader, which our per-file guard
        # can't protect).  Refuse honestly.
        _rebound = sorted(
            {
                n
                for n in snap.properties.get("schema.reserved-names", "").split(",")
                if n
            }
            & {f.name for f in snap.schema.fields}
        )
        if _rebound:
            raise ValueError(
                f"columns {_rebound} were dropped/renamed away and later "
                "re-added: Iceberg name mapping cannot bind one physical "
                "name to two field ids, so exported metadata would let a "
                "foreign reader resurrect stale pages.  Rewrite the data "
                "first (compact_table + expire_snapshots) or export before "
                "re-adding the name."
            )
        _names_of: dict[int, list[str]] = {}
        for s in chain:
            for n, i in (s.field_ids or {}).items():
                bucket = _names_of.setdefault(i, [])
                if n not in bucket:
                    bucket.append(n)
        if any(len(v) > 1 for v in _names_of.values()):
            _export_props["schema.name-mapping.default"] = json.dumps(
                [
                    {
                        "field-id": field_ids[f.name],
                        "names": _names_of.get(field_ids[f.name], [f.name]),
                    }
                    for f in snap.schema.fields
                    if f.name in field_ids
                ]
            )
        _sort_cols = [
            c
            for c in (snap.properties.get("write.sort-order") or "").split(",")
            if c and c in field_ids
        ]
        payload = {
            "format-version": 2,
            "table-uuid": str(_uuid.uuid5(_uuid.NAMESPACE_URL, self.location)),
            "location": self.location,
            "last-sequence-number": snap.version,
            "last-updated-ms": _ms(snap.timestamp),
            "last-column-id": max(field_ids.values(), default=0),
            "schemas": schemas,
            "current-schema-id": schema_id_of[snap.schema.json()],
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "last-partition-id": 999 + len(spec_fields),
            # the declared write.sort-order property exports as a real
            # Iceberg sort order (identity/asc/nulls-first — the shape
            # _apply_sort_order writes); unsorted tables keep the
            # unsorted order 0
            **(
                {
                    "sort-orders": [
                        {
                            "order-id": 1,
                            "fields": [
                                {
                                    "transform": "identity",
                                    "source-id": field_ids[c],
                                    "direction": "asc",
                                    "null-order": "nulls-first",
                                }
                                for c in _sort_cols
                            ],
                        }
                    ],
                    "default-sort-order-id": 1,
                }
                if _sort_cols
                else {
                    "sort-orders": [{"order-id": 0, "fields": []}],
                    "default-sort-order-id": 0,
                }
            ),
            "properties": _export_props,
            "current-snapshot-id": snap.version,
            "snapshots": snapshots_arr,
            "snapshot-log": [
                {"timestamp-ms": _ms(s.timestamp), "snapshot-id": s.version}
                for s in chain
            ],
            "metadata-log": [],
            "refs": refs,
        }
        path = os.path.join(self._meta_dir, "iceberg-metadata.json")
        self._io.write_text(path, json.dumps(payload, indent=2, default=str))
        return path

    # -- reading -----------------------------------------------------------

    def version_at(self, as_of) -> int:
        """Newest snapshot in the current ancestry committed at or before
        ``as_of`` (datetime, or ISO string) — Iceberg's ``FOR TIMESTAMP AS
        OF`` resolution over the snapshot log.  Raises if the table has no
        snapshot that old (mirrors Iceberg: cannot time-travel before the
        table existed)."""
        from datetime import datetime as _dt
        from datetime import timezone as _tz

        if isinstance(as_of, str):
            as_of = _dt.fromisoformat(as_of)
        if as_of.tzinfo is None:
            as_of = as_of.replace(tzinfo=_tz.utc)
        head = self.current_version()
        if head is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        best: int | None = None
        for v in self._ancestry(head):
            s = self.snapshot(v)
            if s is None:  # expired hole — older history unavailable
                break
            ts = _dt.fromisoformat(s.timestamp)
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_tz.utc)
            if ts <= as_of:
                best = v
                break  # ancestry iterates newest-first
        if best is None:
            raise ValueError(
                f"no snapshot at or before {as_of.isoformat()} "
                f"(oldest retained is newer, or history expired)"
            )
        return best

    def read(
        self,
        snapshot_version: int | None = None,
        tag: str | None = None,
        where: list[tuple[str, str, Any]] | None = None,
        plan_mode: str = "auto",
        as_of=None,
    ) -> DataFrame:
        """Plan a scan over the snapshot's live files (manifest-driven — no
        directory listing).  ``tag`` reads the named ref's snapshot;
        ``as_of`` (datetime / ISO string) time-travels to the newest
        snapshot committed at or before that instant (``FOR TIMESTAMP AS
        OF``).

        ``where`` is a conjunction of ``(column, op, value)`` predicates
        (ops ``= == != > >= < <= in``).  Matching files are selected by the
        manifest's per-file [min, max] stats BEFORE Spark ever sees a path —
        Iceberg scan planning.  Parquet row-group stats would skip the same
        data, but only after listing, opening, and scheduling a task for
        every file; at 100 TB the manifest prune is the difference between
        a 30-task job and a 300,000-task job.  The predicates are re-applied
        as Spark filters so results are exact even where stats are missing.

        ``plan_mode`` picks where the manifest-entry predicate runs:
        ``"driver"`` (expand undecided manifests on the driver),
        ``"spark"`` (evaluate it as a Spark job over the manifest parquet —
        lake/planning.py), or ``"auto"`` (spark when the undecided
        manifests hold ≥ ``DISTRIBUTED_PLAN_MIN_FILES`` entries).  Both
        modes return identical file sets; the spark mode keeps the driver's
        working set at O(matching files) even on million-file tables.
        """
        if sum(x is not None for x in (snapshot_version, tag, as_of)) > 1:
            raise ValueError("pass at most one of snapshot_version / tag / as_of")
        if tag is not None:
            refs = self.tags()
            if tag not in refs:
                raise ValueError(f"no such tag {tag!r}")
            snapshot_version = refs[tag]
        if as_of is not None:
            snapshot_version = self.version_at(as_of)
        snap = self.snapshot(snapshot_version)
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        where, files = self._select_files(snap, where, plan_mode)
        return _apply_where(self._plan_scan(snap, files), where)

    def count(
        self,
        where: list[tuple[str, str, Any]] | None = None,
        snapshot_version: int | None = None,
    ) -> int:
        """Exact ``COUNT(*)`` with Iceberg-style aggregate pushdown.

        Without predicates and without MoR delete files, the answer is the
        snapshot's row total — O(1), zero data reads (at 100 TB, the
        difference between a metadata lookup and a 300k-task scan).  With
        predicates, files whose [min, max] prove EVERY row matches
        contribute their manifest row counts unopened; only the straddling
        files are scanned, with the residual filter applied.  Timestamp
        predicates never take the metadata shortcut (their stats live in a
        UTC-naive frame that plain comparison cannot enter safely — same
        rule as pruning, conservative direction flipped).

        Merge-on-read deletes (VERDICT r7 task 3): POSITION deletes stay
        metadata-exact — their live masked-row counts are computable from
        the delete files alone (distinct ``(file_path, pos)`` addresses,
        restricted to live data files whose sequence admits the delete and
        whose row count bounds the position — all manifest facts), so
        ``count = total_rows − live masked addresses`` with ZERO data
        reads.  While the snapshot's driver-side delete index fits
        ``spark.sql.autoBroadcastJoinThreshold`` (decoded size, see
        :meth:`_delete_plan`) those addresses come from it, so such a
        count runs no Spark job at all (above the bound, one distributed
        job over the delete files).  Only EQUALITY deletes genuinely need the
        masked-scan fallback (which rows a key masks is a data fact); its
        masks come from the same index."""
        snap = self.snapshot(snapshot_version)
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        if any(d.content != "position" for d in snap.delete_files):
            return self.read(snapshot_version=snapshot_version, where=where).count()
        masked = self._position_masked_counts(snap)
        if not where:
            return snap.total_rows - sum(masked.values())
        where_n, files = self._select_files(snap, list(where))
        full, partial = self._split_fully_matching(snap, files, where_n)
        # a fully-matching file contributes its manifest row count minus
        # its live masked addresses, still unopened; straddling files take
        # the masked scan (_plan_scan applies the position deletes)
        n = sum(f.rows - masked.get(f.path, 0) for f in full)
        if partial:
            n += _apply_where(self._plan_scan(snap, partial), where_n).count()
        return n

    @staticmethod
    def _split_fully_matching(
        snap: "Snapshot", files: list[DataFile], where, eligible=lambda f: True
    ) -> tuple[list[DataFile], list[DataFile]]:
        """(full, partial): files whose stats prove EVERY row satisfies
        ``where`` (and that pass ``eligible``) answer aggregate pushdowns
        unopened; the straddlers must be scanned.  Timestamp predicates
        never prove a file full — their stats live in a UTC-naive frame
        that plain comparison cannot enter safely (the pruning rule with
        the conservative direction flipped)."""
        ts_cols = {
            f.name
            for f in snap.schema.fields
            if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
        }
        full: list[DataFile] = []
        partial: list[DataFile] = []
        for f in files:
            if eligible(f) and all(
                c not in ts_cols and _file_fully_matches(f, c, op, v)
                for c, op, v in (where or [])
            ):
                full.append(f)
            else:
                partial.append(f)
        return full, partial

    def _position_masked_counts(self, snap: "Snapshot") -> dict[str, int]:
        """Per-live-data-file count of DISTINCT position-delete addresses
        that the read-side mask would apply — computed from the DELETE
        files and manifest metadata only, zero data-file reads.

        Mirrors :meth:`_plan_scan` exactly: an address ``(path, pos)``
        masks a row iff its target file is live, SOME delete file holding
        the address has ``sequence ≥`` the target's (so ``max`` over the
        address's delete sequences decides), and the position exists in
        the file (positions are written from real rows, so ``pos <
        f.rows`` holds for any address our read path could match).
        Returns ``{manifest-relative data path: n}``, omitting zeros —
        O(addressed files) driver memory.  Memoized per snapshot object
        (count() probes the same masks for every predicate).

        With the snapshot's delete index (decoded delete files within
        ``spark.sql.autoBroadcastJoinThreshold``, :meth:`_delete_plan`)
        the addresses and counts come from it in Python: no Spark job below
        the distributed-planning threshold.  Otherwise a Spark job over the
        delete files resolves them.  Both compare URL-decoded paths, so
        every stored form of a file's address counts once."""
        if snap._masked_cache is not None:
            return snap._masked_cache
        pos_dels = [d for d in snap.delete_files if d.content == "position"]
        if not pos_dels:
            snap._masked_cache = {}
            return {}
        # touched: addressed data files (_local_path, URL-decoded — Spark's
        # _metadata.file_path is URL-encoded, a manifest path is not)
        index = self._delete_plan(snap).index
        if index is not None:
            touched = set(index.addrs)
        else:
            by_seq: dict[int, list[str]] = {}
            for d in pos_dels:
                by_seq.setdefault(d.sequence or 0, []).append(
                    os.path.join(self.location, d.path)
                )
            parts = [
                self.spark.read.schema(_ADDR_SCHEMA)
                .parquet(*paths)
                .select(
                    _addr_key(F.col("file_path")).alias("__p"),
                    F.col("pos").alias("__pos"),
                    F.lit(seq).alias("__dseq"),
                )
                for seq, paths in sorted(by_seq.items())
            ]
            addrs = parts[0]
            for p in parts[1:]:
                addrs = addrs.unionByName(p)
            addrs = addrs.groupBy("__p", "__pos").agg(F.max("__dseq").alias("__dseq"))
            touched = {r["__p"] for r in addrs.select("__p").distinct().collect()}
        # resolve only the ADDRESSED paths against the manifests — the
        # live set is O(addressed files), never O(table); past the
        # distributed-planning threshold the path lookup itself runs as a
        # Spark job over the manifest parquet (broadcast semi-join on the
        # touched paths), so the driver never expands a manifest

        def _live_from(fs) -> list[tuple]:
            return [
                (f.path, f.sequence or 0, f.rows)
                for f in fs
                if _data_path(self.location, f.path) in touched
            ]

        if snap.manifests and snap.n_files >= DISTRIBUTED_PLAN_MIN_FILES:
            live = _live_from(snap.inline_files)
            if touched:
                mdf = self.spark.read.parquet(
                    *[os.path.join(self.location, r.path) for r in snap.manifests]
                )
                prefix = _data_path(self.location, "").rstrip("/") + "/"
                absn = _norm_path(
                    F.when(
                        F.col("path").startswith("/")
                        | F.col("path").rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:/"),
                        F.col("path"),
                    ).otherwise(F.concat(F.lit(prefix), F.col("path")))
                )
                tdf = local_frame(
                    self.spark, T.StructType.fromDDL("__p string"), [(p,) for p in touched]
                )
                live += [
                    (r["__rel"], r["__fseq"], r["__rows"])
                    for r in mdf.select(
                        absn.alias("__p"),
                        F.col("path").alias("__rel"),
                        F.coalesce(F.col("sequence"), F.lit(0)).alias("__fseq"),
                        F.col("rows").alias("__rows"),
                    )
                    .join(F.broadcast(tdf), on="__p", how="left_semi")
                    .collect()
                ]
        else:
            live = _live_from(snap.files)
        if not live:
            snap._masked_cache = {}
            return {}
        if index is not None:
            import numpy as np

            counts = {}
            for rel, seq, rows in live:
                path = _data_path(self.location, rel)
                hit = [pos for _, pos in index.positions(path, seq)]
                u = np.unique(np.concatenate(hit)) if hit else np.empty(0)
                n = int(np.count_nonzero((u >= 0) & (u < rows)))
                if n:
                    counts[rel] = n
            snap._masked_cache = counts
            return counts
        live_df = local_frame(
            self.spark,
            T.StructType.fromDDL("__p string, __rel string, __fseq long, __rows long"),
            [
                (_data_path(self.location, rel), rel, seq, rows)
                for rel, seq, rows in live
            ],
        )
        counts = (
            addrs.join(F.broadcast(live_df), on="__p")
            .filter(
                (F.col("__dseq") >= F.col("__fseq"))
                & (F.col("__pos") >= 0)
                & (F.col("__pos") < F.col("__rows"))
            )
            .groupBy("__rel")
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        snap._masked_cache = {r["__rel"]: r["__n"] for r in counts}
        return snap._masked_cache

    def agg_minmax(
        self,
        column: str,
        snapshot_version: int | None = None,
        where: list[tuple[str, str, Any]] | None = None,
    ) -> tuple[Any, Any]:
        """Exact ``(MIN(col), MAX(col))`` from manifest metadata — O(refs),
        not O(files): per-manifest aggregate ranges answer without opening
        a single chunk (``Snapshot.aggregate_stats``) — when the column's
        range is bounded everywhere and no MoR delete files exist (a mask
        could remove the extremum).  Otherwise falls back to the exact
        scan.  Timestamp columns always scan (their stats frame is
        UTC-naive; returning it as a value would leak the frame).

        With ``where``, the same full/straddler split as :meth:`count`:
        files whose stats prove EVERY row matches contribute their
        [min, max] bounds unopened; only straddling files scan (with the
        residual filter), and the two extrema combine.  A selective
        predicate on a range-clustered table reads a handful of files
        for its MIN/MAX at any table size."""
        snap = self.snapshot(snapshot_version)
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        fld = next((f for f in snap.schema.fields if f.name == column), None)
        if fld is None:
            raise ValueError(f"no such column {column!r}")
        if where:
            return self._minmax_where(snap, fld, list(where))
        got = snap.aggregate_stats([column])
        if got is not None and got["count"] > 0:
            return (got[f"min_{column}"], got[f"max_{column}"])
        row = (
            self.read(snapshot_version=snapshot_version)
            .agg(F.min(column).alias("mn"), F.max(column).alias("mx"))
            .first()
        )
        return (row["mn"], row["mx"])

    def approx_distinct(
        self,
        columns: list[str] | str,
        snapshot_version: int | None = None,
    ) -> dict[str, dict] | None:
        """Metadata-only NDV per column (:meth:`Snapshot.approx_distinct`)
        — Iceberg's table-statistics surface (`compute_table_stats` theta
        sketches), answered in O(manifest refs) with ZERO data reads.
        Every write and rewrite sketches the table's recorded NDV columns
        (``ndv_sketch_columns``, ``NDV_COLUMN_PROP``); a
        ``maintenance.compute_table_stats`` backfill covers files written
        before.  ``None`` when
        metadata cannot answer (unsketched files, MoR deletes, mixed hash
        frames after a type promotion) — callers fall back to a scan
        (``Dataset.aggregate(distinct=...)`` does this transparently)."""
        snap = self.snapshot(snapshot_version)
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        cols = [columns] if isinstance(columns, str) else list(columns)
        known = {f.name for f in snap.schema.fields}
        for c in cols:
            if c not in known:
                raise ValueError(f"no such column {c!r}")
        return snap.approx_distinct(cols)

    def _minmax_where(
        self, snap: "Snapshot", fld: T.StructField, where: list
    ) -> tuple[Any, Any]:
        """Predicated min/max with the count()-style pushdown split."""
        scan_all = (
            bool(snap.delete_files)  # a mask could remove the extremum
            or isinstance(fld.dataType, (T.TimestampType, T.TimestampNTZType))
        )
        column = fld.name
        where_n, files = self._select_files(snap, where)

        def _bounded(f: DataFile) -> bool:
            st = f.stats.get(column)
            return (
                not scan_all
                and st is not None
                and st[0] is not None
                and st[1] is not None
            )

        full, partial = self._split_fully_matching(snap, files, where_n, _bounded)
        lo = min((f.stats[column][0] for f in full), default=None)
        hi = max((f.stats[column][1] for f in full), default=None)
        if partial:
            row = _apply_where(self._plan_scan(snap, partial), where_n).agg(
                F.min(column).alias("mn"), F.max(column).alias("mx")
            ).first()
            if row["mn"] is not None:
                lo = row["mn"] if lo is None else min(lo, row["mn"])
            if row["mx"] is not None:
                hi = row["mx"] if hi is None else max(hi, row["mx"])
        return (lo, hi)

    def _partition_probe_values(
        self, snap: Snapshot, where: list[tuple[str, str, Any]]
    ) -> dict[str, set]:
        """Rewrite source-column equality/IN predicates into PARTITION-TUPLE
        space: ``{spec field name: allowed transformed values (strings)}``.

        This is Iceberg's transform-aware partition pruning — the piece
        min/max stats cannot provide: a point lookup ``id = k`` on a
        ``bucket[N](id)``-partitioned table has file [min,max] ranges that
        all span the key space (buckets hash), but ``bucket(k)`` names the
        ONE partition the row could live in, so the scan opens ~1/N of the
        files.  Works for every transform (bucket/truncate/identity/
        temporal) because the probe value is pushed through the SAME Spark
        expression the writer partitioned by (partition.transform_column)
        — evaluated over a literal in one trivial local job, then compared
        against the hive-layout strings the manifests record per file.

        A transform that evaluates to NULL for any probe value drops that
        field's rewrite entirely (conservative).  Range predicates are not
        rewritten (bucket destroys order); they keep pruning via stats.
        Rewrites are skipped wholesale past ``_MAX_PART_PROBE_EXPRS``
        (transform, value) pairs — a 10k-value IN should prune via stats,
        not inflate planning latency.

        Fields whose SOURCE column is a tz-adjusted timestamp are rendered
        (date_format / cast-to-string) in the WRITER's session frame, so
        their stored tuples are frame-dependent.  Each commit that adds
        data under such a spec records its session tz in the
        ``write.session-tz-set`` property; probe rewriting converts naive
        probe values into instants through the READER's session zone (the
        same instant the residual filter uses) and re-evaluates the
        transform once per recorded writer frame with the session tz
        temporarily pinned — the allowed set then contains every spelling a
        live file could carry, under ANY reader session tz (VERDICT r5
        task 5; previously non-UTC sessions skipped ts rewrites entirely).
        Tables predating the property are assumed UTC-written (matching the
        old UTC-only rewrite behavior).  Probes whose local time is
        DST-ambiguous/nonexistent drop the field's rewrite (conservative).

        IMPORTED tables (``register_iceberg_table``) record foreign files'
        tuples in ICEBERG's value domain (murmur3 buckets, epoch-relative
        temporal ordinals — lake/iceberg_domain.py), while post-import
        native appends record the native domain.  Comparing a native probe
        against a foreign tuple would silently DROP matching foreign files
        (missing rows on read, lost updates in merge prune), so when the
        snapshot carries adoption provenance each probe value enters the
        allowed set in BOTH domains; a field whose foreign spelling cannot
        be computed loses its rewrite entirely (conservative).
        """
        spec = snap.partition_spec or []
        if not spec or not where:
            return {}
        from dlt_iceberg_spark.partition import PartitionField, transform_column

        by_col: dict[str, list[PartitionField]] = {}
        for p in spec:
            pf = PartitionField(
                column=p.get("column") or p.get("source") or "",
                transform=p.get("transform", "identity"),
                param=p.get("param"),
                name=p.get("name"),
            )
            by_col.setdefault(pf.column, []).append(pf)
        dtypes = {f.name: f.dataType for f in snap.schema.fields}
        session_tz = _session_tz(self.spark)
        ts_cols = {
            c for c in by_col if isinstance(dtypes.get(c), T.TimestampType)
        }
        # frames the live tuples may be spelled in: every session tz that
        # ever committed data under a ts-transformed spec.  Legacy tables
        # without the record are assumed UTC-written.
        frames = ["UTC"]
        if ts_cols:
            raw = (snap.properties or {}).get("write.session-tz-set", "")
            frames = sorted({t for t in raw.split(",") if t} or {"UTC"})
        predropped: set[str] = set()
        exprs: list[Column] = []
        keys: list[tuple[PartitionField, Any]] = []
        for c, op, v in where:
            if c not in by_col or c not in dtypes:
                continue
            if op in ("=", "=="):
                vals = [v]
            elif op == "in" and v:
                vals = list(v)
            else:
                continue
            for pf in by_col[c]:
                for pv in vals:
                    if c in ts_cols:
                        # naive probe -> the instant the residual filter
                        # uses (reader session frame), offset-bearing so
                        # the literal parses frame-independently below
                        aware = _aware_in_session(pv, session_tz)
                        if aware is None:
                            predropped.add(pf.field_name)
                            continue
                        pv = aware.isoformat()
                    try:
                        lit = F.lit(pv).cast(dtypes[c])
                        exprs.append(
                            transform_column(pf, lit)
                            .cast("string")
                            .alias(f"_p{len(keys)}")
                        )
                        keys.append((pf, pv))
                    except Exception:
                        return {}  # unliteralizable probe: no rewrite
        if not exprs:
            return {}
        if len(exprs) > _MAX_PART_PROBE_EXPRS:
            return {}  # huge IN lists: stats pruning only (conservative)
        imported = bool((snap.properties or {}).get("imported-from"))
        # one 1-row local evaluation for ALL (transform, value) pairs —
        # constant-folded by Catalyst, so this is driver-side µs work.
        # ts-sourced spellings render in the session frame, so when ts
        # fields participate the evaluation repeats once per recorded
        # writer frame with the session tz pinned (restored in finally);
        # all ts literals are offset-bearing, so only the RENDERING frame
        # changes, never the instant.
        ts_key_idx = {i for i, (pf, _) in enumerate(keys) if pf.column in ts_cols}
        if ts_key_idx:
            cur = pinned = _session_tz(self.spark)
            rows = []
            try:
                for fr in frames:
                    if fr != pinned:
                        self.spark.conf.set("spark.sql.session.timeZone", fr)
                        pinned = fr
                    rows.append(self.spark.range(1).select(*exprs).first())
            finally:
                if pinned != cur:
                    self.spark.conf.set("spark.sql.session.timeZone", cur)
        else:
            rows = [self.spark.range(1).select(*exprs).first()]
        out: dict[str, set] = {}
        dropped: set[str] = set(predropped)
        for i, (pf, pv) in enumerate(keys):
            name = pf.field_name
            vals_i = (
                [r[f"_p{i}"] for r in rows]
                if i in ts_key_idx
                else [rows[0][f"_p{i}"]]
            )
            if any(x is None for x in vals_i):
                dropped.add(name)
                continue
            out.setdefault(name, set()).update(vals_i)
            if imported:
                # foreign files carry Iceberg-domain tuples: the probe must
                # also name the value a foreign writer would have recorded
                # (that domain is epoch/instant-based — frame-free)
                from dlt_iceberg_spark.lake.iceberg_domain import (
                    iceberg_transform_str,
                )

                fv = iceberg_transform_str(
                    pf.transform, pf.param, pv, dtypes[pf.column]
                )
                if fv is None:
                    dropped.add(name)
                else:
                    out[name].add(fv)
        for name in dropped:
            out.pop(name, None)
        return out

    def _select_files(
        self,
        snap: Snapshot,
        where: list[tuple[str, str, Any]] | None,
        plan_mode: str = "auto",
    ) -> tuple[list[tuple[str, str, Any]] | None, list[DataFile]]:
        """Predicate normalization for reads, counts, deletes and
        compaction scope, then one :meth:`_plan_files` call: returns
        (normalized predicates, maybe-matching files)."""
        if not where:
            return where, snap.files
        import datetime as _dt

        names = {f.name for f in snap.schema.fields}
        for c, op, _ in where:
            if c not in names:
                raise ValueError(f"no such column {c!r}")
            if op not in ("=", "==", "!=", ">", ">=", "<", "<=", "in"):
                raise ValueError(f"unsupported predicate op {op!r}")
        # manifest stats encode date/timestamp as ISO strings; normalize
        # probe values to ISO so the driver and the distributed planner
        # compare like with like.  Offsets are KEPT here (plain isoformat):
        # these values also feed the residual Spark filter, where a
        # UTC-naive string under a non-UTC session would be re-interpreted
        # in session time and shift the predicate by the offset.  The
        # UTC-naive stats frame is entered later, per-predicate, by
        # _ts_prune_value — only for pruning, never for filtering.
        def _norm_v(v):
            if isinstance(v, (_dt.date, _dt.datetime)):
                return v.isoformat()
            if isinstance(v, (list, tuple, set)):
                return [_norm_v(x) for x in sorted(v, key=str)]
            return v

        where = [(c, op, _norm_v(v)) for c, op, v in where]
        # timestamp stats are UTC-naive 'T'-separated ISO strings; a probe
        # in any other spelling (space separator, offset suffix) would
        # compare lexicographically-wrong, so probes that cannot be brought
        # into that frame are EXCLUDED from pruning (the residual Spark
        # filter still applies them exactly)
        dtypes = {f.name: f.dataType for f in snap.schema.fields}

        # tz-adjusted timestamp stats decode in the UTC frame while naive
        # probe values mean session-frame instants.  Under a non-UTC session
        # (a vanilla driver without our configs) each naive probe is
        # CONVERTED into the UTC stats frame through the session zone — the
        # same instant the residual filter will use — instead of skipping
        # pruning wholesale (VERDICT r5 task 5; real clusters run non-UTC).
        # Probes whose local time is DST-ambiguous/nonexistent, or whose
        # session zone can't be resolved, still skip (conservative).
        # NTZ columns are wall-clock on both sides — always prunable as-is.
        session_tz = _session_tz(self.spark)
        session_utc = session_tz in _UTC_TZ_NAMES

        def _ts_frame(x):
            if session_utc:
                return _ts_prune_value(x)
            aware = _aware_in_session(x, session_tz)
            return None if aware is None else _ts_prune_value(aware)

        def _prunable(c, op, v):
            dt = dtypes.get(c)
            if not isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                return (c, op, v)
            conv = _ts_frame if isinstance(dt, T.TimestampType) else _ts_prune_value
            if isinstance(v, list):
                vs = [conv(x) for x in v]
                return (c, op, vs) if all(x is not None for x in vs) else None
            v2 = conv(v)
            return (c, op, v2) if v2 is not None else None

        prune_where = [p for p in (map(lambda w: _prunable(*w), where)) if p]
        prune_where = [
            (c, op, _sorted_probe(v)) if op == "in" else (c, op, v)
            for c, op, v in prune_where
        ]
        part_probes = self._partition_probe_values(snap, where)
        files, _, _ = self._plan_files(snap, prune_where, part_probes, plan_mode)
        return where, files

    def _plan_files(
        self,
        snap: Snapshot,
        preds: list[tuple[str, str, Any]],
        part_probes: dict[str, set],
        plan_mode: str,
    ) -> tuple[list[DataFile], list[ManifestRef], list[DataFile] | None]:
        """The one pruning planner behind reads, deletes, CoW merges and
        changelog images.  ``preds`` are prune-ready predicates (probe
        values already in the manifest-stats frame); ``part_probes`` are
        transform-rewritten partition tuples.

        Three-level prune, Iceberg-style: manifest aggregate ranges,
        partition summaries and fold-OR blooms skip whole manifests
        unread; :func:`entry_may_match` then decides each entry of the
        opened manifests (and each inline file).  ``plan_mode`` picks
        where that per-entry step runs: ``"driver"`` expands the opened
        manifests here, ``"spark"`` evaluates it as one Spark job over
        the manifest parquet (lake/planning.py), ``"auto"`` picks spark
        at ≥ ``DISTRIBUTED_PLAN_MIN_FILES`` undecided entries.

        Returns ``(matched, skipped_refs, unmatched)``: ``skipped_refs``
        are the manifests proven disjoint (never read); ``unmatched`` are
        the non-matching entries of the opened manifests and inline
        files, or None when the spark planner ran (it collects only the
        survivors)."""
        if plan_mode not in ("auto", "driver", "spark"):
            raise ValueError(f"unknown plan_mode {plan_mode!r}")
        from dlt_iceberg_spark.lake.bloom import sketch_keeps_file

        open_refs: list[ManifestRef] = []
        skipped_refs: list[ManifestRef] = []
        for ref in snap.manifests:
            if (
                all(ref.may_match(c, *self._probe_range(op, v)) for c, op, v in preds)
                and all(
                    ref.may_contain_partition(name, vals)
                    for name, vals in part_probes.items()
                )
                # fold-OR blooms skip whole chunks on equality probes — the
                # manifest is never opened when no entry can hold the value
                and all(sketch_keeps_file(ref.sketches, c, op, v) for c, op, v in preds)
            ):
                open_refs.append(ref)
            else:
                skipped_refs.append(ref)
        n_undecided = sum(r.n_files for r in open_refs)
        if plan_mode == "spark" or (
            plan_mode == "auto" and n_undecided >= DISTRIBUTED_PLAN_MIN_FILES
        ):
            from dlt_iceberg_spark.lake.planning import plan_candidates

            inline = [
                f for f in snap.inline_files if entry_may_match(f, preds, part_probes)
            ]
            return inline + plan_candidates(
                self.spark, self.location, snap.schema, open_refs, preds,
                part_probes=part_probes,
            ), skipped_refs, None
        matched: list[DataFile] = []
        unmatched: list[DataFile] = []
        expanded = (read_manifest(self.location, ref, io=self._io) for ref in open_refs)
        for f in itertools.chain(snap.inline_files, itertools.chain.from_iterable(expanded)):
            (matched if entry_may_match(f, preds, part_probes) else unmatched).append(f)
        return matched, skipped_refs, unmatched

    def _physical_read(
        self,
        files: list[DataFile],
        schema: T.StructType,
        with_addr: bool = False,
    ) -> DataFrame:
        """Read data files projected to ``schema``'s CURRENT column names.

        Metadata-only schema DDL (``rename_column`` / ``add_column`` after a
        drop) leaves each parquet footer keyed by the names in force when
        the file was written; the manifest entry's ``names`` mapping
        (current → physical, ``None`` = column absent from the file)
        bridges the eras.  Files group by mapping era — ONE parquet scan
        per era, so a 100 TB table pays zero per-file overhead: the era
        count equals the number of schema-DDL generations that still have
        live files (a handful at most), and predicate pushdown / column
        pruning pass straight through the per-era Project into each scan
        (Catalyst rewrites filters on the alias into the written name).

        ``with_addr=True`` prefixes the row address columns ``__pd_path`` /
        ``__pd_pos`` (from the reader-generated ``_metadata`` struct).
        """
        addr = [
            _norm_path(F.col("_metadata.file_path")).alias("__pd_path"),
            F.col("_metadata.row_index").alias("__pd_pos"),
        ]
        groups: dict[tuple, list[DataFile]] = {}
        for f in files:
            groups.setdefault(tuple(sorted((f.names or {}).items())), []).append(f)
        parts = []
        for sig, fl in sorted(groups.items(), key=lambda kv: repr(kv[0])):
            mapping = dict(sig)
            # a physical name explicitly CLAIMED by a mapping belongs to
            # that lineage: an unmapped column defaulting to the same
            # physical name (rename-away then re-add, guard entry missing
            # e.g. on an imported/hand-built table) must read NULL, not the
            # other column's pages
            claimed = {p for p in mapping.values() if p is not None}
            for f in schema.fields:
                if f.name not in mapping and f.name in claimed:
                    mapping[f.name] = None
            phys = T.StructType(
                [
                    T.StructField(
                        mapping.get(f.name, f.name), f.dataType, f.nullable, f.metadata
                    )
                    for f in schema.fields
                    if mapping.get(f.name, f.name) is not None
                ]
            )
            scan = self.spark.read.schema(phys).parquet(
                *[os.path.join(self.location, f.path) for f in fl]
            )
            if not mapping and not with_addr:
                parts.append(scan)
                continue
            sel: list[Column] = list(addr) if with_addr else []
            for f in schema.fields:
                p = mapping.get(f.name, f.name)
                if p is None:
                    # the file predates the column: Iceberg v3 semantics —
                    # the field's initial-default if declared, else NULL
                    dflt = (f.metadata or {}).get("initial-default")
                    sel.append(F.lit(dflt).cast(f.dataType).alias(f.name))
                elif p == f.name:
                    sel.append(F.col(f.name))
                else:
                    sel.append(F.col(p).alias(f.name))
            parts.append(scan.select(*sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_delete_keys(
        self, dels: list[DeleteFile], key_schema: T.StructType
    ) -> DataFrame:
        """Read equality-delete key tuples projected to CURRENT top-level
        names (same era-group contract as :meth:`_physical_read` — a delete
        file written before a merge-key rename keeps its written column
        name; its ``names`` mapping bridges it)."""
        groups: dict[tuple, list[DeleteFile]] = {}
        for d in dels:
            groups.setdefault(tuple(sorted((d.names or {}).items())), []).append(d)
        parts = []
        for sig, dl in sorted(groups.items(), key=lambda kv: repr(kv[0])):
            mapping = dict(sig)
            phys = T.StructType(
                [
                    T.StructField(
                        mapping.get(f.name, f.name), f.dataType, f.nullable, f.metadata
                    )
                    for f in key_schema.fields
                ]
            )
            df = self.spark.read.schema(phys).parquet(
                *[os.path.join(self.location, d.path) for d in dl]
            )
            if mapping:
                df = df.select(
                    *[
                        F.col(mapping.get(f.name, f.name)).alias(f.name)
                        for f in key_schema.fields
                    ]
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _delete_plan(self, snap: Snapshot) -> _DeletePlan:
        """The snapshot's :class:`_DeletePlan`, memoized on the snapshot.

        Its delete index reads every delete file once, with pyarrow through
        the FileIO, unless an equality key is a nested dotted path.  The
        index is kept only while its decoded Arrow tables total at most the
        session's ``spark.sql.autoBroadcastJoinThreshold`` (Spark's own
        broadcast bound; ``-1`` disables the index): that size bounds both
        the driver memory and the broadcast relations built from it.
        Otherwise ``index`` is None and readers join against the delete
        files with Spark."""
        if snap._delete_plan is not None:
            return snap._delete_plan
        eq_dels = sorted(
            (d for d in snap.delete_files if d.content != "position"),
            key=lambda d: d.sequence or 0,
        )
        pos_dels = sorted(
            (d for d in snap.delete_files if d.content == "position"),
            key=lambda d: d.sequence or 0,
        )
        keys: list[str] = []
        key_schema = None
        if eq_dels:
            eq_sets = {tuple(d.equality_ids) for d in eq_dels}
            if len(eq_sets) > 1:
                raise ValueError(
                    f"mixed equality_ids across delete files: {sorted(eq_sets)}"
                )
            keys = list(next(iter(eq_sets)))
            key_schema = _nested_key_schema(snap.schema, keys)
            if key_schema is None:
                missing = [k for k in keys if _schema_leaf(snap.schema, k) is None]
                raise ValueError(
                    f"delete key columns {missing} not in table schema"
                )
        bound = self.spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        index = None
        if snap.delete_files and bound >= 0 and not any("." in k for k in keys):
            index = self._read_delete_index(eq_dels, pos_dels, key_schema, bound)
        snap._delete_plan = _DeletePlan(
            self.location, eq_dels, pos_dels, keys, key_schema, index
        )
        return snap._delete_plan

    def _read_delete_index(
        self,
        eq_dels: list[DeleteFile],
        pos_dels: list[DeleteFile],
        key_schema: T.StructType | None,
        bound: int,
    ) -> _DeleteIndex | None:
        """Read delete files into a :class:`_DeleteIndex`, or None once
        their decoded Arrow tables exceed ``bound`` bytes (a position
        delete decodes to one path string per address, so this is the size
        of the largest mask built from them).  Equality keys are read under
        their written names (the ``names`` era mapping, as
        :meth:`_read_delete_keys`) and cast to ``key_schema``."""
        import numpy as np
        import pyarrow.compute as pc

        read: dict[str, pa.Table | None] = {}
        size = 0
        for d in eq_dels + pos_dels:
            cols = (
                _ADDR_SCHEMA.names
                if d.content == "position"
                else [(d.names or {}).get(k, k) for k in key_schema.names]
            )
            src = self._io.open_parquet_source(os.path.join(self.location, d.path))
            with pq.ParquetFile(src) as pf:
                # an absent column reads as all NULL
                if set(cols) <= set(pf.schema_arrow.names):
                    read[d.path] = pf.read(columns=cols).select(cols)
                    size += read[d.path].nbytes
                else:
                    read[d.path] = None
            if size > bound:
                return None
        keys: dict[str, pa.Table] = {}
        values: dict[str, dict[str, Any]] = {}
        for d in eq_dels:
            names = key_schema.names
            t = read[d.path]
            if t is None:
                t = arrow_table(key_schema)
            t = t.rename_columns(names).drop_null().cast(to_arrow_schema(key_schema))
            keys[d.path] = t.group_by(names).aggregate([]).select(names)
            values[d.path] = {
                fld.name: np.sort(
                    pc.unique(t[fld.name]).to_numpy(zero_copy_only=False)
                )
                for fld in key_schema.fields
                if isinstance(fld.dataType, (T.IntegerType, T.LongType, T.StringType))
            }
        addrs: dict[str, tuple[str, Any, Any]] = {}
        parts = []
        for d in pos_dels:
            t = read[d.path]
            if t is None:
                continue
            t = t.drop_null().cast(to_arrow_schema(_ADDR_SCHEMA))
            parts.append(t.append_column("seq", pa.array(np.full(len(t), d.sequence or 0))))
        if parts:
            t = pa.concat_tables(parts)
            # every stored form of an address path → the URL-decoded path
            forms = pc.unique(t["file_path"])
            plain = pa.array(
                [urllib.parse.unquote(_local_path(p)) for p in forms.to_pylist()],
                pa.string(),
            )
            t = t.set_column(
                0, "file_path", plain.take(pc.index_in(t["file_path"], value_set=forms))
            )
            t = t.group_by(["file_path", "pos"]).aggregate([("seq", "max")])
            t = t.sort_by("file_path")
            vc = pc.value_counts(t["file_path"])
            pos, seq = t["pos"].to_numpy(), t["seq_max"].to_numpy()
            end = 0
            hadoop_path = self.spark._jvm.org.apache.hadoop.fs.Path
            for p, n in zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()):
                # the form Spark's _metadata.file_path reports (_norm_path'd)
                spark_path = _local_path(hadoop_path(p).toUri().toString())
                addrs[p] = (spark_path, pos[end : end + n], seq[end : end + n])
                end += n
        return _DeleteIndex(keys, values, addrs)

    def _plan_scan(
        self, snap: Snapshot, files: list[DataFile], with_address: bool = False
    ) -> DataFrame:
        """Scan ``files`` with the snapshot's delete files applied.
        ``with_address=True`` additionally carries each LIVE row's physical
        address as ``__pd_path`` / ``__pd_pos`` columns (for callers that
        must correlate liveness with positions, e.g. changelog
        position-delete image resolution).

        Merge-on-read (Iceberg v2), both delete contents:

        - EQUALITY deletes mask rows of data files with a STRICTLY smaller
          sequence (a delete committed alongside new data masks old rows,
          never the rows landing in the same commit).
        - POSITION deletes address ``(file_path, pos)`` rows of data files
          with sequence ≤ theirs (a position delete can target rows of a
          file committed in the same snapshot).

        Data files are grouped by which deletes apply (:class:`_DeletePlan`
        — sequence rules, then delete-file key-range stats; with the delete
        index, a position delete applies only to files it addresses); each
        group anti-joins (null-unsafe on top-level keys) its applicable
        delete keys/positions.  Position probing reads the row address from
        Spark's ``_metadata.file_path`` / ``row_index`` scan columns
        (generated by the reader — no extra I/O).

        The delete side: with the snapshot's delete index (decoded delete
        files within ``spark.sql.autoBroadcastJoinThreshold``,
        :meth:`_delete_plan`) it is an explicitly broadcast Arrow
        ``LocalRelation`` — keys deduplicated on the driver, the position
        mask holding only the scanned files' addresses, each under the
        path Spark's scan reports — so no Spark job reads a delete file.
        Above the bound, or for imported nested dotted keys, it is a
        distributed ``spark.read.parquet`` of the delete files,
        deduplicated by ``distinct()``, joined on URL-decoded paths
        (:func:`_addr_key`)."""
        if not files:
            schema = snap.schema
            if with_address:
                schema = T.StructType(
                    list(_MASK_SCHEMA.fields) + list(snap.schema.fields)
                )
            return local_frame(self.spark, schema)
        if not snap.delete_files:
            return self._physical_read(files, snap.schema, with_addr=with_address)
        plan = self._delete_plan(snap)
        keys = plan.keys
        # files group by their exact applicable-delete set (bounded by
        # distinct applicability patterns, small when deletes are
        # localized): a partition-localized delete leaves every other
        # file on the plain scan path with no anti-join at all
        groups: dict[tuple[tuple[int, ...], int], list[DataFile]] = {}
        masks: list = []
        for f in files:
            key, fmasks = plan.applicable(f)
            groups.setdefault(key, []).append(f)
            masks += fmasks
        # every address names its file, so one mask of the scanned files'
        # addresses serves every group, and Spark broadcasts it once
        mask = F.broadcast(_mask_frame(self.spark, masks)) if masks else None
        cols = [fld.name for fld in snap.schema.fields]
        parts = []
        for (eq_app, pi), fl in sorted(groups.items()):
            pos_applicable = plan.pos_dels[pi:]
            need_addr = with_address or bool(pos_applicable)
            scan = self._physical_read(fl, snap.schema, with_addr=need_addr)
            if pos_applicable:
                if plan.index is not None:
                    scan = scan.join(mask, on=["__pd_path", "__pd_pos"], how="left_anti")
                else:
                    # reserved probe names so a user column called
                    # file_path/pos can never collide with the address join
                    probe = (
                        self.spark.read.schema(_ADDR_SCHEMA)
                        .parquet(
                            *[os.path.join(self.location, d.path) for d in pos_applicable]
                        )
                        .distinct()
                        .select(
                            _addr_key(F.col("file_path")).alias("__pd_key"),
                            F.col("pos").alias("__pd_ppos"),
                        )
                    )
                    scan = scan.join(
                        probe,
                        (_addr_key(F.col("__pd_path")) == F.col("__pd_key"))
                        & (F.col("__pd_pos") == F.col("__pd_ppos")),
                        how="left_anti",
                    )
            eq_applicable = [plan.eq_dels[j] for j in eq_app]
            if eq_applicable and plan.index is not None:
                dkeys = plan.index.key_frame(self.spark, eq_applicable, plan.key_schema)
                scan = scan.join(F.broadcast(dkeys), on=keys, how="left_anti")
            elif eq_applicable and any("." in k for k in keys):
                # imported nested-field equality ids (iceberg_import):
                # flatten the nested key projection and anti-join on
                # null-safe equality — the Iceberg spec matches a null
                # delete-key value against null column values
                dkeys = self._read_delete_keys(eq_applicable, plan.key_schema)
                flat = dkeys.select(
                    *[F.col(k).alias(f"__ek{i}") for i, k in enumerate(keys)]
                ).distinct()
                cond = None
                for i, k in enumerate(keys):
                    c = F.col(k).eqNullSafe(flat[f"__ek{i}"])
                    cond = c if cond is None else cond & c
                scan = scan.join(flat, on=cond, how="left_anti")
            elif eq_applicable:
                dkeys = self._read_delete_keys(eq_applicable, plan.key_schema)
                scan = scan.join(dkeys.distinct(), on=keys, how="left_anti")
            if need_addr and not with_address:
                scan = scan.select(*cols)
            parts.append(scan)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def stage_delete_files(
        self, keys_df: DataFrame, equality_ids: list[str]
    ) -> list[DeleteFile]:
        """Write an equality-delete key set as parquet (invisible until the
        commit that carries it).  The merge-on-read write path: O(batch)
        work instead of rewriting every data file the keys touch."""
        staged = self.stage_dataframe(
            keys_df.select(*equality_ids).distinct(), bloom_columns=[], ndv_columns=[]
        )
        return [
            DeleteFile(
                path=f.path,
                rows=f.rows,
                bytes=f.bytes,
                equality_ids=list(equality_ids),
                stats={k: v for k, v in f.stats.items() if k in equality_ids},
            )
            for f in staged
        ]

    def stage_position_deletes(
        self,
        where: list[tuple[str, str, Any]],
        snapshot_version: int | None = None,
    ) -> list[DeleteFile]:
        """Write POSITION-delete files addressing every live row matching
        ``where`` (same predicate form as :meth:`read`).

        The Iceberg v2 position-delete write path: candidate files come
        from the same two-level stats prune as reads (a narrow predicate
        touches a handful of files, not the table), the matching rows'
        addresses are read from Spark's ``_metadata`` scan columns (no
        extra I/O), and ONLY ``(file_path, pos)`` tuples are written — the
        data files are untouched, so the delete costs O(matching rows), not
        O(rewritten files).  Rows already masked by earlier deletes may be
        re-addressed; the read-side distinct makes that harmless.

        Files are invisible until the commit that carries them — pair with
        :meth:`position_delete_where` for the one-call form.
        """
        if not where:
            # read() treats an empty predicate as "everything", but a DELETE
            # must say so explicitly — truncate via the replace disposition
            raise ValueError(
                "position deletes need a non-empty predicate; "
                "use the replace disposition to truncate"
            )
        snap = self.snapshot(snapshot_version)
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        where_n, files = self._select_files(snap, where)
        if not files:
            return []
        scan = self._physical_read(files, snap.schema, with_addr=True)
        addressed = _apply_where(scan, where_n).select(
            F.col("__pd_path").alias("file_path"),
            F.col("__pd_pos").alias("pos"),
        )
        staged = self.stage_dataframe(addressed, bloom_columns=[], ndv_columns=[])
        return [
            DeleteFile(
                path=f.path,
                rows=f.rows,
                bytes=f.bytes,
                equality_ids=[],
                content="position",
            )
            for f in staged
        ]

    def position_delete_where(self, where: list[tuple[str, str, Any]]) -> Snapshot:
        """Merge-on-read row delete in one call: stage position deletes for
        every row matching ``where`` and commit a delete snapshot that
        REUSES the parent's manifests by reference — O(matching rows) work
        and O(touched) metadata, the MoR counterpart of the copy-on-write
        hard-delete path (lake/merge.py).  No-op commit is skipped when
        nothing matches."""
        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        new_deletes = self.stage_position_deletes(where, snapshot_version=snap.version)
        if not new_deletes:
            return snap
        return self.commit(
            None,
            snap.schema,
            "delete",
            snap.version,
            new_deletes=new_deletes,
            summary={
                "position-delete-files": len(new_deletes),
                "deleted-rows-addressed": sum(d.rows for d in new_deletes),
            },
        )

    def update_where(
        self,
        where: list[tuple[str, str, Any]],
        set: dict[str, Any],
    ) -> Snapshot:
        """Row-level UPDATE, merge-on-read, one atomic commit: position
        deletes mask the matching rows in place and the updated row images
        land as new data files — ``UPDATE t SET ... WHERE ...`` with
        O(matching rows) work, no data-file rewrites, and parent manifests
        reused by reference.

        ``set`` maps column name → Column expression or literal, evaluated
        over the matching rows (so ``{"price": F.col("price") * 1.1}``
        works).  The position deletes and the new files carry the same
        sequence number; the deletes address only old file paths, so the
        updated rows are never self-masked.  The changelog
        (:meth:`read_changes`) naturally shows the old images as deletes
        and the new images as inserts.
        """
        if not where:
            raise ValueError("update_where needs a non-empty predicate")
        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        names = {f.name for f in snap.schema.fields}
        unknown = [c for c in set if c not in names]
        if unknown:
            raise ValueError(f"no such column(s) in SET: {unknown}")
        new_deletes = self.stage_position_deletes(where, snapshot_version=snap.version)
        if not new_deletes:
            return snap
        # live matching rows (current masks + predicate applied), updated
        updated = self.read(snapshot_version=snap.version, where=where)
        for c, expr in set.items():
            updated = updated.withColumn(
                c, expr if isinstance(expr, Column) else F.lit(expr)
            )
        updated = updated.select(*[f.name for f in snap.schema.fields])
        # keep the partition layout: image files without tuples would
        # degrade partition pruning and read as legacy in dynamic overwrite
        new_files = self.stage_dataframe(
            updated, partition_exprs=partition_exprs(snap.partition_spec)
        )
        return self.commit(
            None,
            snap.schema,
            "merge",
            snap.version,
            new_files=new_files,
            new_deletes=new_deletes,
            summary={
                "update-position-delete-files": len(new_deletes),
                "updated-rows": sum(f.rows for f in new_files),
            },
        )

    def fold_deletes(self) -> Snapshot:
        """Rewrite the data files the delete files apply to with the
        deletes applied, and drop every delete file (Iceberg's
        rewrite_position_delete_files + data rewrite in one step): read
        cost returns to a plain scan and maintenance may again rewrite
        files freely.  No-op when the table has no delete files.

        Only the affected live files are rewritten: those an equality
        delete with a strictly greater sequence may touch, or a position
        delete with sequence ≥ theirs may address (:class:`_DeletePlan`).
        With the snapshot's delete index (decoded delete files within
        ``spark.sql.autoBroadcastJoinThreshold``, :meth:`_delete_plan`)
        "may touch" is judged by the delete keys' values and "may address"
        by the addresses themselves; without it, by key-range stats and by
        sequence alone.  Every other file carries over by reference, and
        manifests no equality delete overlaps stay unread unless position
        deletes exist.  The commit is a ``"replace"`` that keeps the
        partition layout."""
        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        if not snap.delete_files:
            return snap
        pcols = partition_exprs(snap.partition_spec)
        summary = {"folded-delete-files": len(snap.delete_files)}
        plan = self._delete_plan(snap)
        kept_refs, entries = snap.split_manifests(
            lambda ref: bool(plan.pos_dels)
            or any(
                _delete_may_touch(d, ref.ranges, plan.keys)
                and (plan.index is None or plan.index.may_touch(d, ref.ranges))
                for d in plan.eq_dels
            )
        )
        untouched = ((), len(plan.pos_dels))
        touched = [f for f in entries if plan.applicable(f)[0] != untouched]
        touched_paths = {f.path for f in touched}
        rewritten = (
            self.stage_dataframe(self._plan_scan(snap, touched), partition_exprs=pcols)
            if touched
            else []
        )
        return self.commit(
            None,
            snap.schema,
            "replace",
            snap.version,
            delete_files=[],
            manifests=kept_refs,
            new_files=[f for f in entries if f.path not in touched_paths] + rewritten,
            summary={**summary, "rewritten-data-files": len(touched)},
        )

    def _diff_files(
        self, snap: "Snapshot", parent: "Snapshot | None"
    ) -> tuple[list[DataFile], list[DataFile]]:
        """(added, removed) between a snapshot and its parent by MANIFEST-REF
        diff: entries inside manifests both snapshots share by reference
        cannot differ, so only each side's unique manifests are read — an
        append step diffs in O(added + folded), never O(table).  The same
        trick that keeps commits O(touched) (manifest reuse) paying off on
        the changelog read side."""
        par_refs = {r.path for r in parent.manifests} if parent else set()
        cur_refs = {r.path for r in snap.manifests}
        cur = list(snap.inline_files)
        for r in snap.manifests:
            if r.path not in par_refs:
                cur.extend(read_manifest(self.location, r, io=self._io))
        if parent is None:
            return cur, []
        par = list(parent.inline_files)
        for r in parent.manifests:
            if r.path not in cur_refs:
                par.extend(read_manifest(self.location, r, io=self._io))
        cur_paths = {f.path for f in cur}
        par_paths = {f.path for f in par}
        return (
            [f for f in cur if f.path not in par_paths],
            [f for f in par if f.path not in cur_paths],
        )

    def read_incremental(
        self, from_version: int | None, to_version: int | None = None
    ) -> DataFrame:
        """Incremental append scan: rows added in snapshots
        ``(from_version, to_version]`` (Iceberg's incremental read,
        ``start-snapshot-id`` / ``end-snapshot-id`` scan options).

        Walks the snapshot chain via parent pointers and plans a scan over
        only the files each append introduced — the natural CDC feed for a
        downstream pipeline run ("process what landed since my last load")
        without re-scanning the table.  Like Iceberg, only append snapshots
        are supported: an overwrite/merge/delete in the range rewrites
        history and raises ValueError.  ``from_version=None`` reads from the
        table's creation; ``from_version == to_version`` is an empty scan.
        """
        to_v = to_version if to_version is not None else self.current_version()
        if to_v is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        if from_version is not None and from_version > to_v:
            raise ValueError(
                f"from_version {from_version} is newer than to_version {to_v}"
            )
        end = self.snapshot(to_v)
        added_files: list[DataFile] = []
        same_vocab = True
        snap = end
        while snap is not None and (from_version is None or snap.version > from_version):
            # metadata-only evolution snapshots carry the parent's file set
            # unchanged, so incremental reads pass straight through them
            # "clone" diffs against the EMPTY v0 parent — insert-everything,
            # the same append semantics as "create"
            if snap.operation not in (
                "append", "create", "clone", "evolve-schema", "evolve-partition",
                "rename-column", "add-column", "drop-column", "promote-column",
                "backfill-stats", "analyze",
            ):
                raise ValueError(
                    f"cannot read incrementally across a '{snap.operation}' "
                    f"snapshot (v{snap.version}): rows were rewritten or removed"
                )
            parent_snap = (
                self.snapshot(snap.parent) if snap.parent is not None else None
            )
            # manifest-ref diff: an append step reads only its own new
            # manifest (plus any fold), never the table's whole entry set
            added, _removed = self._diff_files(snap, parent_snap)
            added_files.extend(added)
            # identical field_ids = identical column vocabulary: the
            # adding-era entries' names mappings are already current
            if snap.field_ids != end.field_ids:
                same_vocab = False
            if snap.parent is None:
                if from_version is not None:
                    raise ValueError(f"no snapshot v{from_version} in ancestry of v{to_v}")
                break
            snap = parent_snap
        if not added_files:
            return local_frame(self.spark, end.schema)
        if same_vocab:
            return self._physical_read(added_files, end.schema)
        # a rename in the range leaves added-era entries keyed by written
        # names of an older vocabulary: fall back to the END snapshot's
        # entries, which carry the current->physical mapping (one O(table)
        # listing, paid only when DDL actually intervened)
        wanted = {f.path for f in added_files}
        files = [f for f in end.files if f.path in wanted]
        return self._physical_read(files, end.schema)

    #: snapshot operations that rewrite physical layout without changing
    #: logical content — the changelog passes straight through them
    _LAYOUT_ONLY_OPS = (
        "compact", "zorder", "evolve-schema", "evolve-partition",
        "backfill-stats", "analyze", "rename-column", "add-column",
        "drop-column", "promote-column",
        "consolidate-deletes",  # mask dedupe/dangling-drop: row set unchanged
    )

    def read_changes(
        self,
        from_version: int | None,
        to_version: int | None = None,
        net_changes: bool = False,
    ) -> DataFrame:
        """CDC changelog over ``(from_version, to_version]`` — Iceberg's
        ``create_changelog_view``: the table's schema plus
        ``_change_type`` ('insert' | 'delete') and ``_commit_version``.

        Per snapshot in the range (oldest → newest):

        - added data files → their rows as inserts;
        - removed data files (overwrite/replace/CoW merge) → their LIVE
          rows at the parent snapshot (parent's MoR masks applied) as
          delete images;
        - new EQUALITY delete files (MoR merge) → the parent rows matching
          the keys as delete images;
        - new POSITION delete files → the parent rows they address;
        - layout-only snapshots (compaction, z-order, schema/partition
          evolution) contribute nothing.

        An upsert therefore appears as delete(old image) + insert(new row);
        copy-on-write rewrites additionally re-emit UNCHANGED rows as
        identical delete+insert pairs (same caveat as Iceberg's raw
        changelog).  ``net_changes=True`` cancels those pairs by signed
        per-row counting (bag semantics: a row inserted n times more than
        deleted emits n inserts), stamping ``_commit_version`` with the
        last version that touched the row.

        Planning cost is O(files touched by the range) — file diffs come
        from snapshot metadata, never a table scan.
        """
        to_v = to_version if to_version is not None else self.current_version()
        if to_v is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        if from_version is not None and from_version > to_v:
            raise ValueError(
                f"from_version {from_version} is newer than to_version {to_v}"
            )
        end = self.snapshot(to_v)
        chain: list[Snapshot] = []
        snap = end
        while snap is not None and (from_version is None or snap.version > from_version):
            chain.append(snap)
            if snap.parent is None:
                if from_version is not None:
                    raise ValueError(
                        f"no snapshot v{from_version} in ancestry of v{to_v}"
                    )
                break
            parent = self.snapshot(snap.parent)
            if parent is None:
                if from_version is not None:
                    # ancestry broken (snapshot expired): silently truncating
                    # would LOSE the changes between from_version and the
                    # oldest retained snapshot — a checkpointed consumer
                    # must find out, not skip data
                    raise ValueError(
                        f"snapshot v{snap.parent} (parent of v{snap.version}) "
                        f"has expired; cannot compute changes since "
                        f"v{from_version} — reset the consumer cursor or "
                        "retain more history"
                    )
                # full-history request on a table with expired history:
                # the oldest retained snapshot bootstraps as inserts
                break
            snap = parent
        chain.reverse()
        cols = [fld.name for fld in end.schema.fields]
        parts: list[DataFrame] = []

        def _tag(df: DataFrame, kind: str, version: int, era: Snapshot) -> DataFrame:
            # changelog rows always present the END schema: snapshots from
            # before a schema evolution null-fill the columns they predate
            # (the same forward-fill semantics as reading an evolved table).
            # ``era`` is the snapshot whose schema ``df`` follows — a column
            # renamed between era and end resolves through its STABLE field
            # id (rename_column keeps the id), so pre-rename images keep
            # their values under the end-schema name instead of null-filling
            era_of_id = {i: n for n, i in (era.field_ids or {}).items()}
            have = set(df.columns)
            sel = []
            for f in end.schema.fields:
                eid = (end.field_ids or {}).get(f.name)
                era_name = era_of_id.get(eid, f.name) if eid is not None else f.name
                if era_name in have:
                    # cast: a pre-promotion era image carries the narrower
                    # written type; the changelog presents the END schema
                    sel.append(F.col(era_name).cast(f.dataType).alias(f.name))
                else:
                    sel.append(F.lit(None).cast(f.dataType).alias(f.name))
            return df.select(
                *sel,
                F.lit(kind).alias("_change_type"),
                F.lit(version).alias("_commit_version"),
            )

        for snap in chain:
            # layout-only snapshots: dedicated ops, plus "replace" commits
            # that are really compaction / delete-folding (summary-flagged)
            if (
                snap.operation in self._LAYOUT_ONLY_OPS
                or snap.summary.get("compaction")
                or "folded-delete-files" in snap.summary
                or "rewritten-files" in snap.summary
            ):
                continue
            parent = self.snapshot(snap.parent) if snap.parent is not None else None
            # manifest-ref diff: O(changed + folded) per snapshot.  New
            # delete files below can hit any parent file: equality deletes
            # plan their candidates through the pruning planner, position
            # deletes match the FULL parent listing (parent.files) against
            # the paths they address
            added, removed = self._diff_files(snap, parent)
            if added:
                ins = self.spark.read.schema(snap.schema).parquet(
                    *[os.path.join(self.location, f.path) for f in added]
                )
                parts.append(_tag(ins, "insert", snap.version, snap))
            if removed and parent:
                # live rows only: apply the PARENT's delete masks, so a row
                # already dead before this snapshot is not re-deleted
                img = self._plan_scan(parent, removed)
                parts.append(_tag(img, "delete", snap.version, parent))
            new_dels = [
                d for d in snap.delete_files if (d.sequence or 0) == snap.version
            ]
            if new_dels and parent:
                eq = [d for d in new_dels if d.content != "position"]
                pos = [d for d in new_dels if d.content == "position"]
                if eq:
                    eq_sets = {tuple(d.equality_ids) for d in eq}
                    if len(eq_sets) > 1:
                        raise ValueError(
                            f"mixed equality_ids across delete files: {sorted(eq_sets)}"
                        )
                    keys = list(next(iter(eq_sets)))
                    by_name = {fld.name: fld for fld in snap.schema.fields}
                    key_schema = T.StructType([by_name[k] for k in keys])
                    kdf = self.spark.read.schema(key_schema).parquet(
                        *[os.path.join(self.location, d.path) for d in eq]
                    ).distinct()
                    # prune the parent scan to files whose stats overlap the
                    # delete-key envelope (one tiny agg over the delete set:
                    # delete files ≪ data) — manifests outside the envelope
                    # stay unread and image resolution stays O(touched
                    # files), not O(table)
                    bounds = kdf.agg(
                        *[f for k in keys for f in (F.min(k).alias(f"_mn_{k}"), F.max(k).alias(f"_mx_{k}"))]
                    ).collect()[0]
                    envelope = [
                        (k, op, iso_norm_value(bounds[f"_{side}_{k}"]))
                        for k in keys
                        # an all-null key column bounds nothing: no probe
                        if bounds[f"_mn_{k}"] is not None
                        for op, side in ((">=", "mn"), ("<=", "mx"))
                    ]
                    cand, _, _ = self._plan_files(parent, envelope, {}, "auto")
                    img = self._plan_scan(parent, cand).join(
                        kdf, on=keys, how="leftsemi"
                    )
                    parts.append(_tag(img, "delete", snap.version, parent))
                if pos:
                    addressed = self.spark.read.schema(_ADDR_SCHEMA).parquet(
                        *[os.path.join(self.location, d.path) for d in pos]
                    )
                    probe = addressed.distinct().select(
                        _addr_key(F.col("file_path")).alias("__pd_key"),
                        F.col("pos").alias("__pd_ppos"),
                    )
                    # addresses name their files outright — scan ONLY those
                    # (normalize Spark's file: URIs to compare with table-
                    # relative paths); image resolution is O(addressed files).
                    # Resolve against the parent's LIVE rows (with_address
                    # keeps each live row's physical address): an address
                    # can point at a row some OLDER delete already masked,
                    # and re-emitting it would double-count the delete in
                    # net changelogs.
                    hit = {r[0] for r in probe.select("__pd_key").distinct().collect()}
                    cand = [
                        f
                        for f in parent.files
                        if _data_path(self.location, f.path) in hit
                    ]
                    if cand:
                        pcols = [f.name for f in parent.schema.fields]
                        img = (
                            self._plan_scan(parent, cand, with_address=True)
                            .join(
                                probe,
                                (_addr_key(F.col("__pd_path")) == F.col("__pd_key"))
                                & (F.col("__pd_pos") == F.col("__pd_ppos")),
                                how="leftsemi",
                            )
                            .select(*pcols)
                        )
                        parts.append(_tag(img, "delete", snap.version, parent))
        if not parts:
            schema = T.StructType(
                list(end.schema.fields)
                + [
                    T.StructField("_change_type", T.StringType(), False),
                    T.StructField("_commit_version", T.IntegerType(), False),
                ]
            )
            return local_frame(self.spark, schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if not net_changes:
            return out
        # signed per-row counting cancels identical delete+insert pairs
        # from copy-on-write rewrites; one hash shuffle on the row content
        signed = out.groupBy(*cols).agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
            ).alias("__n"),
            F.max("_commit_version").alias("_commit_version"),
        )
        return (
            signed.filter(F.col("__n") != 0)
            .select(
                *cols,
                F.when(F.col("__n") > 0, F.lit("insert"))
                .otherwise(F.lit("delete"))
                .alias("_change_type"),
                "_commit_version",
                F.explode(F.expr("sequence(1, abs(__n))")).alias("__i"),
            )
            .drop("__i")
        )

    def aggregate_stats(
        self,
        columns: list[str] | None = None,
        snapshot_version: int | None = None,
        group_by: str | list[str] | None = None,
        distinct: list[str] | None = None,
    ) -> dict | list[dict] | None:
        """Metadata-only count/min/max (see :meth:`Snapshot.aggregate_stats`);
        ``None`` means metadata can't answer exactly — run the scan.

        ``group_by=<identity-partitioned source column(s)>`` returns
        PER-PARTITION-VALUE aggregates instead (Iceberg's ``partitions``
        metadata-table shape) — the standard "rows per day/bucket" ops
        probe (a list groups by the composite tuple, e.g. day AND
        region), O(metadata) at 100 TB.  Same refuse-and-fallback
        contract: ``None`` whenever any live file predates the spec (no
        tuple key), carries a null tuple value (files staged before ``''``
        was kept apart from NULL recorded both as null), a column isn't
        identity-partitioned, equality deletes are outstanding, or a
        per-group extremum is requested under any deletes.  Grouped COUNTS
        stay exact under pure position deletes (per-file masked-address
        counts subtract per group).

        ``distinct=[cols]`` (grouped form) adds EXACT ``ndv_<col>``
        per-group distinct counts from the per-file KMV sketches — the
        "distinct users per day" ops probe.  Exact-only by design: every
        live file must carry a COMPLETE current-frame sketch (its own NDV
        ≤ k, so the sketch IS the file's distinct-hash set, and the group
        union is exact at any group size); any truncated/missing/
        stale-frame sketch or ANY delete file refuses into the scan.
        Estimates stay a global affair (:meth:`approx_distinct`) — a
        grouped row never carries a number that isn't exact."""
        snap = self.snapshot(snapshot_version)
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        if group_by is None:
            if distinct:
                raise ValueError(
                    "distinct= needs group_by; use approx_distinct for the "
                    "global form"
                )
            return snap.aggregate_stats(columns)
        gb = [group_by] if isinstance(group_by, str) else list(group_by)
        if not gb:
            raise ValueError("group_by must name at least one column")
        return self._grouped_aggregate_stats(
            snap, list(columns or []), gb, list(distinct or [])
        )

    #: hive partition-tuple string -> typed value, per source-column type
    _HIVE_PARSERS = {
        "bigint": int,
        "int": int,
        "smallint": int,
        "tinyint": int,
        "string": str,
        "boolean": lambda s: s.lower() == "true",
        "float": float,
        "double": float,
        "date": lambda s: _date.fromisoformat(s),
    }

    def _grouped_aggregate_stats(
        self,
        snap: "Snapshot",
        columns: list[str],
        group_by: list[str],
        distinct: list[str] | None = None,
    ) -> list[dict] | None:
        distinct = list(distinct or [])
        spec = snap.partition_spec or []
        keys: list[str] = []
        parsers: list[Any] = []
        for gcol in group_by:
            field = next(
                (
                    p
                    for p in spec
                    if p.get("column") == gcol
                    and p.get("transform") == "identity"
                ),
                None,
            )
            if field is None:
                return None  # not identity-partitioned: tuples aren't values
            keys.append(field.get("name") or gcol)
            fld = next((f for f in snap.schema.fields if f.name == gcol), None)
            if fld is None:
                raise ValueError(f"no such column {gcol!r}")
            parse = self._HIVE_PARSERS.get(fld.dataType.simpleString())
            if parse is None:
                return None  # tuple string not round-trippable for this type
            parsers.append(parse)
        agg_types = {}
        for c in columns:
            cf = next((f for f in snap.schema.fields if f.name == c), None)
            if cf is None:
                raise ValueError(f"no such column {c!r}")
            if cf.dataType.simpleString() not in self._HIVE_PARSERS:
                return None  # stats not safely castable (e.g. timestamps)
            agg_types[c] = cf.dataType
        if any(d.content != "position" for d in snap.delete_files):
            return None  # equality masks make every group inexact
        if snap.delete_files and columns:
            return None  # masks may hide a group extremum
        if snap.delete_files and distinct:
            return None  # masks may hide a group's distinct values
        tags: dict[str, str] = {}
        for c in distinct:
            cf = next((f for f in snap.schema.fields if f.name == c), None)
            if cf is None:
                raise ValueError(f"no such column {c!r}")
            if isinstance(cf.dataType, (T.ArrayType, T.MapType, T.StructType)):
                raise ValueError(
                    f"column {c!r} is nested ({cf.dataType.simpleString()}); "
                    "NDV sketches cover atomic columns"
                )
            tags[c] = cf.dataType.simpleString()
        masked = (
            self._position_masked_counts(snap) if snap.delete_files else {}
        )
        # groups accumulate keyed by the RAW tuple strings; the typed
        # values are parsed once at the end
        groups: dict[tuple, dict] = {}

        hash_sets: dict[tuple, dict[str, set]] = {}

        def _fold_driver(files) -> bool:
            for f in files:
                raws = tuple(f.partition.get(k) for k in keys)
                if any(r is None for r in raws):
                    return False  # pre-spec file or null/empty tuple value
                g = groups.setdefault(raws, {"count": 0})
                g["count"] += f.rows - masked.get(f.path, 0)
                for c in columns:
                    st = f.stats.get(c)
                    if st is None or st[0] is None or st[1] is None:
                        return False
                    lo, hi = g.get(f"min_{c}"), g.get(f"max_{c}")
                    g[f"min_{c}"] = st[0] if lo is None else min(lo, st[0])
                    g[f"max_{c}"] = st[1] if hi is None else max(hi, st[1])
                for c in distinct:
                    sk = f.sketches.get(c)
                    # exact-only: the file's sketch must be its COMPLETE
                    # current-frame distinct-hash set (then the group
                    # union is exact at any group size)
                    if sk is None or not sk.get("c") or sk.get("t") != tags[c]:
                        return False
                    hash_sets.setdefault(raws, {}).setdefault(c, set()).update(
                        sk["h"]
                    )
            return True

        if snap.manifests and snap.n_files >= DISTRIBUTED_PLAN_MIN_FILES:
            # distributed tier: ONE Spark job over the manifest parquet —
            # the driver holds O(groups), never O(files), so a 1M-file
            # (~128 TB) table answers "rows per partition" in one
            # metadata job (the same threshold split as scan planning)
            if not _fold_driver(snap.inline_files):
                return None
            mdf = self.spark.read.parquet(
                *[os.path.join(self.location, r.path) for r in snap.manifests]
            )
            if distinct and "sketches" not in mdf.columns:
                return None  # pre-sketch manifests: ANALYZE first
            bad = F.lit(False)
            sel = [F.col("rows").alias("__rows"), F.col("path").alias("__path")]
            gcols = []
            for j, k in enumerate(keys):
                g = F.get_json_object(F.col("partition"), f"$['{k}']")
                bad = bad | g.isNull() | (g == "null")
                sel.append(g.alias(f"__g{j}"))
                gcols.append(f"__g{j}")
            for i, c in enumerate(columns):
                lo = F.get_json_object(F.col("stats"), f"$['{c}'][0]").cast(
                    agg_types[c]
                )
                hi = F.get_json_object(F.col("stats"), f"$['{c}'][1]").cast(
                    agg_types[c]
                )
                bad = bad | lo.isNull() | hi.isNull()
                sel += [lo.alias(f"__lo{i}"), hi.alias(f"__hi{i}")]
            for i, c in enumerate(distinct):
                sk = F.from_json(
                    F.get_json_object(F.col("sketches"), f"$['{c}']"),
                    "h array<bigint>, c boolean, t string",
                )
                bad = (
                    bad
                    | sk.isNull()
                    | ~F.coalesce(sk["c"], F.lit(False))
                    | (sk["t"] != F.lit(tags[c]))
                )
                sel.append(
                    F.coalesce(sk["h"], F.array().cast("array<bigint>")).alias(
                        f"__sk{i}"
                    )
                )
            sel.append(bad.cast("int").alias("__bad"))
            edf = mdf.select(*sel)
            if masked:
                mdf2 = local_frame(
                    self.spark,
                    T.StructType.fromDDL("__path string, __masked long"),
                    list(masked.items()),
                )
                edf = edf.join(F.broadcast(mdf2), on="__path", how="left")
                live_rows = F.col("__rows") - F.coalesce(
                    F.col("__masked"), F.lit(0)
                )
            else:
                live_rows = F.col("__rows")
            aggs = [F.sum(live_rows).alias("__n"), F.max("__bad").alias("__bad")]
            for i, c in enumerate(columns):
                aggs += [
                    F.min(f"__lo{i}").alias(f"__lo{i}"),
                    F.max(f"__hi{i}").alias(f"__hi{i}"),
                ]
            # per-group distinct-hash union for NDV: the collect_list state
            # is the group's per-file COMPLETE sketches (≤ k hashes each —
            # bounded by group NDV, not rows), deduped post-agg and capped
            # so a pathological group refuses instead of flooding the driver
            for i in range(len(distinct)):
                aggs.append(F.collect_list(f"__sk{i}").alias(f"__skl{i}"))
            grouped = edf.groupBy(*gcols).agg(*aggs)
            if distinct:
                post = [F.col(c) for c in grouped.columns if not c.startswith("__skl")]
                for i in range(len(distinct)):
                    post.append(
                        F.slice(
                            F.array_distinct(F.flatten(F.col(f"__skl{i}"))),
                            1,
                            _GROUPED_NDV_CAP + 1,
                        ).alias(f"__hs{i}")
                    )
                grouped = grouped.select(*post)
            rows = grouped.collect()
            if any(r["__bad"] for r in rows):
                return None
            for r in rows:
                raws = tuple(r[f"__g{j}"] for j in range(len(keys)))
                g2 = groups.setdefault(raws, {"count": 0})
                g2["count"] += r["__n"]
                for i, c in enumerate(columns):
                    lo, hi = g2.get(f"min_{c}"), g2.get(f"max_{c}")
                    g2[f"min_{c}"] = (
                        r[f"__lo{i}"] if lo is None else min(lo, r[f"__lo{i}"])
                    )
                    g2[f"max_{c}"] = (
                        r[f"__hi{i}"] if hi is None else max(hi, r[f"__hi{i}"])
                    )
                for i, c in enumerate(distinct):
                    hs = r[f"__hs{i}"]
                    if len(hs) > _GROUPED_NDV_CAP:
                        return None  # pathological group: use the scan
                    hash_sets.setdefault(raws, {}).setdefault(c, set()).update(hs)
        else:
            if not _fold_driver(snap.files):
                return None
        out = []
        for raws, g in groups.items():
            try:
                gvals = [p(r) for p, r in zip(parsers, raws)]
            except (ValueError, TypeError):
                return None
            for c in distinct:
                hs = hash_sets.get(raws, {}).get(c, set())
                if len(hs) > _GROUPED_NDV_CAP:
                    return None  # pathological group: use the scan
                g[f"ndv_{c}"] = len(hs)
            out.append({**dict(zip(group_by, gvals)), **g})
        return sorted(
            out,
            key=lambda d: tuple(
                (d[c] is None, d[c]) for c in group_by
            ),
        )

    def read_files(self, files: list[DataFile]) -> DataFrame:
        """Scan a subset of live files (used by copy-on-write merge)."""
        schema = self.schema()
        if not files:
            return local_frame(self.spark, schema)
        return self._physical_read(files, schema)

    # -- schema DDL (metadata-only, Iceberg ALTER TABLE parity) ------------

    def rename_column(self, old: str, new: str) -> Snapshot:
        """Metadata-only column rename (Iceberg ``ALTER TABLE .. RENAME
        COLUMN``) — zero data files touched at ANY table size.

        Iceberg gets renames for free because every consumer keys on field
        ids; this format keys manifests by NAME, so the rename rewrites the
        manifests once (O(metadata): ~n_files/10k small parquet files —
        `rewrite_manifests`-sized, never data-sized) so stats, partition
        tuples, and delete keys all stay keyed by CURRENT names and every
        pruning/planning path is rename-oblivious.  Each rewritten entry
        records ``names[new] = <written name>`` and scans read old files
        under their written name (:meth:`_physical_read`).  The column
        keeps its STABLE field id, so the changelog resolves pre-rename
        images (``read_changes``) and exported Iceberg metadata shows a
        true rename.

        Renames chain (a→b→c keeps one mapping entry ``c → a``) and compose
        with merge-on-read: equality-delete files keep their written key
        column, bridged the same way.  Reference surface: schema evolution,
        /root/reference/src/dlt_iceberg/schema_evolution.py (the reference
        delegates renames to PyIceberg's UpdateSchema).
        """
        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        cols = [f.name for f in snap.schema.fields]
        if old not in cols:
            raise ValueError(f"no such column: {old!r}")
        if new in cols:
            raise ValueError(f"column {new!r} already exists")
        if not new or "." in new or new.startswith("__pd_"):
            raise ValueError(f"invalid column name: {new!r}")
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable, f.metadata)
                for f in snap.schema.fields
            ]
        )
        from dlt_iceberg_spark.partition import PartitionField

        # partition spec: re-key the source column; the spec FIELD name (the
        # partition-tuple key) follows for default-named fields, so tuple
        # keys in the rewritten manifests track it
        key_renames: dict[str, str] = {}
        spec = []
        for p in snap.partition_spec or []:
            p = dict(p)
            if p.get("column") == old:
                before = PartitionField(
                    column=old,
                    transform=p.get("transform", "identity"),
                    param=p.get("param"),
                    name=p.get("name"),
                ).field_name
                p["column"] = new
                after = PartitionField(
                    column=new,
                    transform=p.get("transform", "identity"),
                    param=p.get("param"),
                    name=p.get("name"),
                ).field_name
                if before != after:
                    key_renames[before] = after
            spec.append(p)

        def _rekey(d: dict, ren: dict[str, str]) -> dict:
            return {ren.get(k, k): v for k, v in d.items()}

        def _col_rename(k: str) -> str:
            # exact match, or the root of an imported dotted key ("a.b")
            if k == old:
                return new
            if k.startswith(old + "."):
                return new + k[len(old):]
            return k

        stat_renames = {old: new}

        def _fix_names(nm: dict) -> dict:
            nm = dict(nm)
            phys = nm.pop(old, old)
            if phys != new:
                nm[new] = phys
            return nm

        def _fix(f: DataFile) -> DataFile:
            return DataFile(
                path=f.path,
                rows=f.rows,
                bytes=f.bytes,
                stats={_col_rename(k): v for k, v in f.stats.items()},
                partition=_rekey(f.partition, key_renames),
                sequence=f.sequence,
                names=_fix_names(f.names),
                # NDV sketches and blooms hash VALUES, not names — they
                # survive a rename under the new key ("bloom:<col>"
                # entries rename their embedded column name)
                sketches={_sketch_key_rename(k, _col_rename): v
                          for k, v in f.sketches.items()},
                null_counts={_col_rename(k): v for k, v in f.null_counts.items()},
            )

        new_refs: list[ManifestRef] = []
        for ref in snap.manifests:
            entries = [_fix(e) for e in read_manifest(self.location, ref, io=self._io)]
            new_refs.extend(write_chunked(self.location, entries, io=self._io))
        inline = [_fix(e) for e in snap.inline_files]
        new_deletes = []
        for d in snap.delete_files:
            roots = {k.split(".")[0] for k in d.equality_ids}
            new_deletes.append(
                DeleteFile(
                    path=d.path,
                    rows=d.rows,
                    bytes=d.bytes,
                    equality_ids=[_col_rename(k) for k in d.equality_ids],
                    sequence=d.sequence,
                    content=d.content,
                    stats={_col_rename(k): v for k, v in d.stats.items()},
                    names=_fix_names(d.names) if old in roots else dict(d.names),
                )
            )
        ids = dict(snap.field_ids)
        if old in ids:
            ids[new] = ids.pop(old)
        props = rename_column_properties(snap.properties, old, new)
        props["schema.reserved-names"] = ",".join(
            sorted(
                {n for n in props.get("schema.reserved-names", "").split(",") if n}
                | {old}
            )
        )
        return self.commit(
            None,
            new_schema,
            "rename-column",
            snap.version,
            partition_spec=spec,
            properties=props,
            summary={"renamed-column": f"{old} -> {new}"},
            delete_files=new_deletes,
            manifests=new_refs,
            new_files=inline,
            field_ids=ids,
        )

    def drop_column(self, col: str) -> Snapshot:
        """Metadata-only column drop — no data rewritten; readers simply
        stop projecting the column (the explicit read schema omits it, so
        parquet never even decodes those pages).  The field id stays
        RESERVED (never reused), and a later :meth:`add_column` of the same
        name gets a fresh id plus per-file ``names[name]=None`` guards so
        the dropped values can never resurrect — Iceberg's drop/re-add
        semantics.  Refused while a partition spec sources the column or an
        outstanding equality delete keys on it (fold_deletes first)."""
        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        if col not in [f.name for f in snap.schema.fields]:
            raise ValueError(f"no such column: {col!r}")
        if len(snap.schema.fields) == 1:
            raise ValueError("cannot drop the only column")
        for p in snap.partition_spec or []:
            if p.get("column") == col:
                raise ValueError(
                    f"column {col!r} is a partition source; evolve the "
                    "partition spec first"
                )
        for d in snap.delete_files:
            if any(k == col or k.startswith(col + ".") for k in d.equality_ids):
                raise ValueError(
                    f"column {col!r} keys outstanding equality deletes; "
                    "fold_deletes() first"
                )
        new_schema = T.StructType(
            [f for f in snap.schema.fields if f.name != col]
        )
        props = rename_column_properties(snap.properties, col, None)
        props["schema.reserved-names"] = ",".join(
            sorted(
                {n for n in props.get("schema.reserved-names", "").split(",") if n}
                | {col}
            )
        )
        return self.commit(
            None,
            new_schema,
            "drop-column",
            snap.version,
            properties=props,
            summary={"dropped-column": col},
            new_files=[],
        )

    def add_column(
        self,
        name: str,
        dtype: T.DataType | str,
        nullable: bool = True,
        default: Any = None,
    ) -> Snapshot:
        """Metadata-only column add — existing files read NULL for it.

        A NEVER-before-seen name costs one snapshot write: the explicit
        read schema simply includes the new field and parquet returns null
        where the page is absent.  A name previously seen (drop/re-add
        cycle, detected via the reserved field id) additionally rewrites
        the manifests to pin ``names[name] = None`` on every existing
        entry — old files physically CONTAIN the dropped values under this
        name, and resurrecting them would be silent corruption; the re-add
        also gets a FRESH field id (Iceberg never rebinds a dropped id).

        ``default`` (Iceberg v3 ``initial-default``): rows written BEFORE
        the add read this constant instead of NULL.  Still metadata-only —
        the value lives in the field's schema metadata, every pre-add
        entry is pinned ``names[name]=None`` so the scan knows the file
        predates the column, and the entry's stats record ``[D, D]`` (every
        pre-add row reads exactly D), so predicate pushdown prunes old
        files on the new column for free.  Supported for int/float/
        string/boolean columns; appends after the add must carry the
        column explicitly (write-defaults are the caster's null-injection
        concern, not the table format's)."""
        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        if name in [f.name for f in snap.schema.fields]:
            raise ValueError(f"column {name!r} already exists")
        if not name or "." in name or name.startswith("__pd_"):
            raise ValueError(f"invalid column name: {name!r}")
        if isinstance(dtype, str):
            dtype = T._parse_datatype_string(dtype)
        if not nullable:
            raise ValueError(
                "a metadata-only add is necessarily nullable (existing "
                "rows have no value); add as nullable"
            )
        meta: dict[str, Any] = {}
        if default is not None:
            _ok = {
                T.LongType: int,
                T.IntegerType: int,
                T.ShortType: int,
                T.ByteType: int,
                T.DoubleType: (int, float),
                T.FloatType: (int, float),
                T.StringType: str,
                T.BooleanType: bool,
            }.get(type(dtype))
            if _ok is None or not isinstance(default, _ok) or isinstance(default, bool) != isinstance(dtype, T.BooleanType):
                raise ValueError(
                    f"initial default {default!r} unsupported for "
                    f"{dtype.simpleString()} (int/float/string/boolean "
                    "columns take a matching python literal)"
                )
            # Iceberg v3 keeps the pair distinct: initial-default backfills
            # pre-add rows at read time, write-default fills batches that
            # omit the column.  add_column sets both to the same constant
            # (the common case); the caster honors write-default.
            meta["initial-default"] = default
            meta["write-default"] = default
        new_schema = T.StructType(
            list(snap.schema.fields) + [T.StructField(name, dtype, True, meta)]
        )
        ids = manifests = None  # None: the parent's ids and inventory
        inline: list[DataFile] = []
        # a name the table has EVER used is dangerous to re-add bare: after
        # drop/re-add the old pages hold the DROPPED values, and after a
        # rename-away chain (c0→c1, add c0) live files still carry physical
        # 'c0' pages that now belong to the RENAMED lineage — either way the
        # new column must read NULL from pre-existing files, so pin
        # names[name]=None on every entry.  Reserved field ids catch the
        # drop case; `schema.reserved-names` (a monotone snapshot property
        # every rename/drop accumulates into — O(1), survives snapshot
        # expiry) catches renamed-away names.  Tables whose DDL history
        # this format didn't write (imports, hand-built metadata) are
        # still read-safe: _physical_read never lets an unmapped column
        # default onto a physical name another lineage's mapping claims.
        historical = name in snap.field_ids or name in {
            n
            for n in (snap.properties or {})
            .get("schema.reserved-names", "")
            .split(",")
            if n
        }
        if historical or default is not None:
            # drop/re-add or rename-away: guard old physical values.  A
            # defaulted add pins the same marker (the scan must know the
            # file PREDATES the column to substitute the default) and can
            # record exact [D, D] stats — every pre-add row reads D.

            def _guard(f: DataFile) -> DataFile:
                stats = dict(f.stats)
                stats.pop(name, None)  # stale stats describe the DROPPED values
                nulls = dict(f.null_counts)
                nulls.pop(name, None)
                if default is not None:
                    stats[name] = [default, default]
                    nulls[name] = 0
                sketches = dict(f.sketches)
                sketches.pop(name, None)  # ditto for NDV sketches
                sketches.pop(f"bloom:{name}", None)  # and manifest blooms
                return DataFile(
                    path=f.path,
                    rows=f.rows,
                    bytes=f.bytes,
                    stats=stats,
                    partition=dict(f.partition),
                    sequence=f.sequence,
                    names={**f.names, name: None},
                    sketches=sketches,
                    null_counts=nulls,
                )

            manifests = []
            for ref in snap.manifests:
                entries = [
                    _guard(e) for e in read_manifest(self.location, ref, io=self._io)
                ]
                manifests.extend(write_chunked(self.location, entries, io=self._io))
            inline = [_guard(e) for e in snap.inline_files]
            ids = dict(snap.field_ids)
            ids[name] = max(ids.values(), default=0) + 1
        return self.commit(
            None,
            new_schema,
            "add-column",
            snap.version,
            summary={"added-column": f"{name} {dtype.simpleString()}"},
            manifests=manifests,
            new_files=inline,
            field_ids=ids,
        )

    def promote_column_type(self, col: str, new_type: T.DataType | str) -> Snapshot:
        """Metadata-only type widening (Iceberg ``ALTER TABLE .. ALTER
        COLUMN .. TYPE``) — zero data files touched at ANY table size.

        Only Iceberg-safe promotions are accepted (int→long, float→double,
        decimal precision widening — :func:`can_promote_type`); the parquet
        reader widens the physical pages at scan time (Spark's explicit
        read schema accepts a wider logical type over a narrower physical
        one), so files written before and after the promotion share one
        scan per name era.  The field KEEPS its stable id — Iceberg
        promotions never rebind ids — so the changelog, time travel (old
        snapshots read under their era's narrower type) and exported
        metadata all stay consistent.  Completes the metadata-only DDL set
        (rename / drop / add / promote).  Reference surface: schema
        evolution, /root/reference/src/dlt_iceberg/schema_evolution.py
        (the reference delegates promotions to PyIceberg's UpdateSchema).

        Refused when the column sources a partition field whose stored
        tuples are TYPE-SENSITIVE: ``bucket`` hashes int and long to
        different values (xxhash64 hashes 4 vs 8 bytes), and float→double /
        decimal-scale changes alter the string rendering ``identity`` /
        ``truncate`` tuples are keyed by — a probe rewrite would then name
        a different partition than the live files record and silently drop
        matching files.  Evolve the partition spec off the column first.
        """
        from dlt_iceberg_spark.schema.evolution import can_promote_type

        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.location}")
        by_name = {f.name: f for f in snap.schema.fields}
        if col not in by_name:
            raise ValueError(f"no such column: {col!r}")
        if isinstance(new_type, str):
            new_type = T._parse_datatype_string(new_type)
        old_type = by_name[col].dataType
        if old_type == new_type:
            raise ValueError(f"column {col!r} already has type {new_type.simpleString()}")
        if not can_promote_type(old_type, new_type):
            raise ValueError(
                f"{old_type.simpleString()} -> {new_type.simpleString()} is not "
                "a safe (Iceberg) promotion; only int->long, float->double and "
                "decimal precision widening read old files losslessly"
            )
        rendering_changes = isinstance(old_type, T.FloatType) or (
            isinstance(old_type, T.DecimalType)
            and isinstance(new_type, T.DecimalType)
            and new_type.scale != old_type.scale
        )
        for p in snap.partition_spec or []:
            if (p.get("column") or p.get("source")) != col:
                continue
            tr = p.get("transform", "identity")
            if tr == "bucket" or rendering_changes:
                raise ValueError(
                    f"column {col!r} sources a {tr!r} partition field whose "
                    "stored tuples are type-sensitive; evolve the partition "
                    "spec off the column first"
                )
        new_schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    new_type if f.name == col else f.dataType,
                    f.nullable,
                    f.metadata,
                )
                for f in snap.schema.fields
            ]
        )
        return self.commit(
            None,
            new_schema,
            "promote-column",
            snap.version,
            summary={
                "promoted-column": (
                    f"{col}: {old_type.simpleString()} -> {new_type.simpleString()}"
                )
            },
            new_files=[],
        )

    @staticmethod
    def _probe_range(op: str, v: Any) -> tuple[Any, Any]:
        """Predicate → [lo, hi] envelope (None = unbounded side)."""
        if op in ("=", "=="):
            return v, v
        if op in (">", ">="):
            return v, None
        if op in ("<", "<="):
            return None, v
        if op == "in" and v:
            if isinstance(v, _SortedProbe):
                return v[0], v[-1]
            try:
                return min(v), max(v)
            except TypeError:
                return None, None
        return None, None  # != prunes nothing at range level

    def prune_split(
        self,
        snap: Snapshot,
        probes: dict[str, tuple[Any, Any]],
        part_probes: dict[str, set] | None = None,
    ) -> tuple[list[DataFile], list[ManifestRef], list[DataFile]]:
        """Split the live set by conjunctive range probes WITHOUT expanding
        untouched manifests.

        Returns ``(touched, kept_manifests, kept_files)``:

        - ``touched`` — files whose stats overlap every probe range (a
          copy-on-write merge must rewrite exactly these);
        - ``kept_manifests`` — manifests whose AGGREGATE range proves no
          member file can match; passed back to the delta commit by
          reference, never read — this is what keeps a merge into an
          800k-file table O(touched) on the driver;
        - ``kept_files`` — non-matching entries of the manifests that did
          have to be opened (recommitted as new-manifest entries).

        Probing multiple columns intersects the prune sets: a composite-PK
        merge rewrites only files overlapping on EVERY key column, so a
        low-selectivity first key no longer degrades to rewrite-everything.

        ``part_probes`` (``{partition field: allowed value strings}``)
        additionally intersects PARTITION-TUPLE space — on a
        ``bucket[N]``-partitioned table, where every file's key [min,max]
        spans the whole key range (hash mixing defeats range probes), a
        merge batch touching k buckets rewrites only ~k/N of the files.

        The probes enter :meth:`_plan_files` as ``>= lo`` / ``<= hi``
        predicates, driver-planned: the split needs the opened manifests'
        non-matching entries, which the distributed planner never collects.
        """
        preds = [
            (c, op, bound)
            for c, (lo, hi) in probes.items()
            for op, bound in ((">=", lo), ("<=", hi))
            if bound is not None  # None = unbounded side
        ]
        return self._plan_files(snap, preds, part_probes or {}, "driver")

    def prune_files(
        self, snap: Snapshot, column: str, lo: Any, hi: Any
    ) -> tuple[list[DataFile], list[DataFile]]:
        """Single-column split into (maybe-matching, definitely-not), both
        materialized.  Kept for callers that want explicit file lists; the
        scale path is :meth:`prune_split`."""
        touched, kept_refs, kept_files = self.prune_split(snap, {column: (lo, hi)})
        for ref in kept_refs:
            kept_files.extend(read_manifest(self.location, ref, io=self._io))
        return touched, kept_files
