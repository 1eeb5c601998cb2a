"""LakeTable as a native Structured Streaming SINK —
``df.writeStream.format("laketable")`` — completing the format symmetry
with the streaming source (streaming/source.py).

Differences from :func:`~dlt_iceberg_spark.streaming.micro_batch.stream_write`
(the foreachBatch sink, which remains the right choice for dispositions
and schema evolution):

- rows are written to parquet ON THE EXECUTORS (Arrow record batches →
  one staged file per non-empty partition per partition TUPLE) and only
  file-level metadata travels to the driver — no re-entry of the whole
  batch through a driver-side DataFrame;
- exactly-once WITHOUT the load ledger: Spark's epoch protocol calls
  ``commit(messages, batchId)`` once per successful micro-batch; the
  committed ``batchId`` is recorded in the snapshot summary, so a
  checkpoint-replayed epoch is recognized and skipped (its re-staged
  files are removed), and a failed epoch's staged files are deleted by
  ``abort`` — the same write-audit pattern as Iceberg's Spark sink;
- appends only (``outputMode("append")``).

PARTITIONED tables land with full partition metadata: each executor
task splits its Arrow batch by the table's partition tuples and writes
one file per tuple, rendering transform values bit-exactly as the batch
writer's Spark expressions would (identity / year / month / day / hour
over DATE sources, truncate, and bucket via the pinned XXH64 —
functions/xxhash.py, numpy-vectorized for int/long AND string keys:
strings hash straight off the Arrow UTF-8 buffer in per-byte-length
batches).  Rendering and row grouping are column-at-a-time (numpy /
arrow compute / factorize + lexsort), so a bucket-partitioned
high-throughput stream pays no per-row Python.  Stream-landed files cluster per partition and PRUNE
exactly like batch-landed ones; null bucket keys land in bucket
``42 % N`` — the same partition Spark's ``pmod(xxhash64(NULL), N)``
assigns (xxhash64 of NULL returns the seed).  Transforms over
TIMESTAMP sources are refused toward ``stream_write``: their rendering
depends on the writer session's timezone frame (the
``write.session-tz-set`` machinery), which executor-side Arrow batches
cannot reproduce safely.

Per-file [min, max] stats are computed from the Arrow batches at write
time, so stream-landed files prune exactly like batch ones.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

#: arrow-side analogue of table._STATS_TYPES — types whose min/max are
#: recorded in the manifest stats frame
_PRUNABLE_SPARK = (
    T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
    T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType,
)

#: transform → source simpleString()s the executor-side renderer supports
_SUPPORTED_SOURCES = {
    "identity": {"int", "bigint", "string", "date"},
    "year": {"date"},
    "month": {"date"},
    "day": {"date"},
    "hour": {"date"},
    "truncate": {"int", "bigint", "string"},
    "bucket": {"int", "bigint", "string"},
}


@dataclass
class _StagedFiles(WriterCommitMessage):
    files_json: str  # [] when the task saw no rows


def _iso_norm(v):
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def _render_partition_column(c, transform: str, param, dtype: str):
    """Render one pyarrow column to its hive partition-value strings,
    COLUMN-at-a-time (numpy / arrow compute — no per-row Python call in
    the bucket hot path), bit-exact vs the batch writer's
    ``transform_column`` expressions.  Returns an object ndarray of
    ``str | None``.

    Null semantics match the batch expressions: Spark's ``xxhash64`` of a
    NULL returns the seed (42), so a null bucket value renders as
    ``str(42 % N)`` — the same partition the batch writer's
    ``pmod(xxhash64(c), N)`` assigns; every other transform keeps null as
    the null partition (parity pinned in
    test_sink_partitioned_bucket_matches_batch_writer_domain)."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(c)
    mask = pc.is_null(c).to_numpy(zero_copy_only=False)

    def _with_nulls(vals: "np.ndarray") -> "np.ndarray":
        out = vals.astype(object)
        out[mask] = None
        return out

    def _date_parts():
        y = pc.fill_null(pc.year(c), 0).to_numpy(zero_copy_only=False).astype(np.int64)
        m = pc.fill_null(pc.month(c), 0).to_numpy(zero_copy_only=False).astype(np.int64)
        d = pc.fill_null(pc.day(c), 0).to_numpy(zero_copy_only=False).astype(np.int64)
        return y, m, d

    def _iso(y, m, d):
        return np.char.add(
            np.char.add(np.char.zfill(y.astype("U"), 4), "-"),
            np.char.add(
                np.char.add(np.char.zfill(m.astype("U"), 2), "-"),
                np.char.zfill(d.astype("U"), 2),
            ),
        )

    if transform == "bucket":
        from dlt_iceberg_spark.functions.xxhash import (
            SPARK_HASH_SEED,
            spark_xxhash64_int_np,
            spark_xxhash64_long_np,
            spark_xxhash64_string_arrow,
        )

        big_n = int(param)
        null_bucket = str(SPARK_HASH_SEED % big_n)
        if dtype == "string":
            # batched XXH64 straight over the Arrow UTF-8 buffer
            # (offsets+data ndarrays, per-byte-length numpy passes) — the
            # last per-row Python in the render path is gone
            h, smask = spark_xxhash64_string_arrow(c)
            out = (h % big_n).astype("U").astype(object)
            out[smask] = null_bucket
            return out
        arr = pc.fill_null(c, 0).to_numpy(zero_copy_only=False).astype(np.int64)
        h = (
            spark_xxhash64_int_np(arr)
            if dtype == "int"
            else spark_xxhash64_long_np(arr)
        )
        out = (h % big_n).astype("U").astype(object)  # numpy % == Spark pmod
        out[mask] = null_bucket
        return out
    if transform == "identity":
        if dtype == "date":
            return _with_nulls(_iso(*_date_parts()))
        if dtype == "string":
            return np.array(c.to_pylist(), dtype=object)
        arr = pc.fill_null(c, 0).to_numpy(zero_copy_only=False).astype(np.int64)
        return _with_nulls(arr.astype("U"))
    if transform == "year":
        y = pc.fill_null(pc.year(c), 0).to_numpy(zero_copy_only=False).astype(np.int64)
        return _with_nulls(y.astype("U"))  # str(v.year): no padding
    if transform == "month":
        y, m, _ = _date_parts()
        return _with_nulls(
            np.char.add(
                np.char.add(np.char.zfill(y.astype("U"), 4), "-"),
                np.char.zfill(m.astype("U"), 2),
            )
        )
    if transform == "day":
        return _with_nulls(_iso(*_date_parts()))
    if transform == "hour":
        # date_format(<date>, "yyyy-MM-dd-HH") renders midnight
        return _with_nulls(np.char.add(_iso(*_date_parts()), "-00"))
    if transform == "truncate":
        w = int(param)
        if dtype == "string":
            return np.array(
                [None if v is None else v[:w] for v in c.to_pylist()],
                dtype=object,
            )
        arr = pc.fill_null(c, 0).to_numpy(zero_copy_only=False).astype(np.int64)
        # str(v)[:w] for ints: astype to a width-bounded unicode truncates
        return _with_nulls(arr.astype("U").astype(f"U{w}"))
    raise ValueError(f"unsupported transform {transform!r}")


class _LakeStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, schema: T.StructType, options: dict):
        self.schema = schema
        self.location = options["location"].rstrip("/")
        self.prunable = [
            f.name for f in schema.fields if isinstance(f.dataType, _PRUNABLE_SPARK)
        ]
        # the partition spec is frozen at stream start (same contract as
        # the stream schema); validated HERE so an unsupported layout
        # fails at start, not epochs later
        self.pspec: list[tuple] = []  # (field_name, column, transform, param, dtype)
        snap_spec = self._current_partition_spec()
        # remember the spec STRUCTURALLY: a spec replaced mid-stream with a
        # different column/transform/param must fail the commit guard, not
        # just presence flips (files rendered under a stale frozen spec
        # would read as legacy/mismatched forever)
        self._frozen_spec_json = json.dumps(
            [dict(sorted(p.items())) for p in snap_spec], default=str
        )
        if snap_spec:
            dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
            for p in snap_spec:
                col = p.get("column") or p.get("source")
                t = p.get("transform", "identity")
                dt = dtypes.get(col)
                if dt not in _SUPPORTED_SOURCES.get(t, set()):
                    raise ValueError(
                        f"the native laketable sink cannot render partition "
                        f"transform {t!r} over column {col!r} of type {dt!r} "
                        "on the executors (timestamp-sourced transforms "
                        "depend on the writer session's timezone frame); "
                        "use streaming.stream_write for this layout"
                    )
                name = p.get("name") or (
                    col if t == "identity" else f"{col}_{t}"
                )
                self.pspec.append((name, col, t, p.get("param"), dt))

    def _current_partition_spec(self):
        try:
            t = self._table()
            snap = t.snapshot()
        except Exception:
            return []
        return list(snap.partition_spec or []) if snap else []

    # -- executors ---------------------------------------------------------

    def _write_one(self, tbl, partition: dict) -> dict:
        import pyarrow.parquet as pq

        rel = f"data/{uuid.uuid4().hex}.parquet"
        abs_path = os.path.join(self.location, rel)
        os.makedirs(os.path.dirname(abs_path), exist_ok=True)
        import pyarrow as pa
        import pyarrow.compute as pc

        # pyarrow's statistics skip NaN, but Spark orders NaN above every
        # number: a float column holding NaN gets no range, neither in the
        # footer (Spark's row-group filter reads it) nor in the manifest
        nan_cols = {
            n
            for n, c in zip(tbl.column_names, tbl.columns)
            if pa.types.is_floating(c.type) and pc.any(pc.is_nan(c)).as_py()
        }
        pq.write_table(
            tbl,
            abs_path,
            write_statistics=(
                [n for n in tbl.column_names if n not in nan_cols] if nan_cols else True
            ),
        )
        stats, nulls = {}, {}
        for col in self.prunable:
            if col not in tbl.column_names:
                continue
            c = tbl.column(col)
            nulls[col] = c.null_count
            if c.null_count == len(c):
                continue
            if col in nan_cols:
                continue
            mm = pc.min_max(c).as_py()
            if mm["min"] is None or mm["max"] is None:
                continue
            stats[col] = [_iso_norm(mm["min"]), _iso_norm(mm["max"])]
        return {
            "path": rel,
            "rows": tbl.num_rows,
            "bytes": os.path.getsize(abs_path),
            "stats": stats,
            "null_counts": nulls,
            "partition": partition,
        }

    def write(self, iterator: Iterator) -> WriterCommitMessage | None:
        import pyarrow as pa

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            # Spark requires a WriterCommitMessage instance even for empty
            # partitions; [] is the no-file sentinel
            return _StagedFiles(files_json="[]")
        tbl = pa.Table.from_batches(batches)
        if not self.pspec:
            files = [self._write_one(tbl, {})]
            return _StagedFiles(files_json=json.dumps(files, default=str))
        # split the task's rows by partition tuple — one file per tuple,
        # the same clustering the batch writer's partitionBy produces.
        # Rendering and grouping are column-at-a-time: numpy/arrow render
        # each transform in one pass, factorize+argsort groups the rows —
        # no per-row Python in the hot path.
        import numpy as np
        import pandas as pd

        n = tbl.num_rows
        rendered = [
            _render_partition_column(tbl.column(col), t, param, dt)
            for (_, col, t, param, dt) in self.pspec
        ]
        # group by the TUPLE of per-column factorize codes via lexsort —
        # a single multiplicative int64 key could overflow/collide when
        # several high-cardinality partition columns coexist (ADVICE r10)
        code_cols = [
            pd.factorize(r, use_na_sentinel=False)[0] for r in rendered
        ]
        order = np.lexsort(code_cols[::-1])
        sorted_mat = np.stack([cc[order] for cc in code_cols], axis=1)
        starts = np.flatnonzero(
            np.r_[True, (sorted_mat[1:] != sorted_mat[:-1]).any(axis=1)]
        )
        ends = np.r_[starts[1:], n]
        groups = []
        for s, e in zip(starts, ends):
            idxs = order[s:e]
            tup = tuple(r[idxs[0]] for r in rendered)
            groups.append((tup, idxs))
        files = []
        for tup, idxs in sorted(
            groups, key=lambda kv: tuple(str(x) for x in kv[0])
        ):
            sub = tbl.take(idxs)
            partition = {
                name: tup[j] for j, (name, *_rest) in enumerate(self.pspec)
            }
            files.append(self._write_one(sub, partition))
        return _StagedFiles(files_json=json.dumps(files, default=str))

    # -- driver ------------------------------------------------------------

    def _table(self):
        from dlt_iceberg_spark.lake.fileio import LocalFileIO
        from dlt_iceberg_spark.lake.table import LakeTable

        # commit is metadata-only: no SparkSession exists inside the data
        # source runner, and none is needed (pointer swap + manifest write
        # go through FileIO)
        return LakeTable(None, self.location, io=LocalFileIO())

    def commit(self, messages, batchId: int) -> None:
        from dlt_iceberg_spark.errors import CommitConflictError
        from dlt_iceberg_spark.lake.manifest import DataFile

        staged = [
            DataFile(
                path=f["path"],
                rows=f["rows"],
                bytes=f["bytes"],
                stats=f["stats"],
                partition=f.get("partition") or {},
                null_counts=f["null_counts"],
            )
            for m in messages
            if m is not None
            for f in json.loads(m.files_json)
        ]
        t = self._table()
        for _ in range(5):
            snap = t.snapshot()
            if snap is not None:
                live_spec_json = json.dumps(
                    [
                        dict(sorted(p.items()))
                        for p in (snap.partition_spec or [])
                    ],
                    default=str,
                )
                if live_spec_json != self._frozen_spec_json:
                    # the table's spec changed (or the table appeared)
                    # after the stream planned its layout — ANY structural
                    # difference (column/transform/param), not just
                    # presence: restart the stream so the writer
                    # re-freezes the spec
                    self._drop([f.path for f in staged])
                    raise ValueError(
                        "the table's partition spec changed after the "
                        "stream started; restart the stream (the sink "
                        "freezes the spec at start, like the schema)"
                    )
                if snap.schema != self.schema:
                    self._drop([f.path for f in staged])
                    raise ValueError(
                        "stream schema does not match the table schema "
                        f"({self.schema.simpleString()} vs "
                        f"{snap.schema.simpleString()}); evolve the table "
                        "first or use streaming.stream_write"
                    )
                # epoch replay after a checkpoint recovery: the batch is
                # already committed — drop the re-staged files and return.
                # The marker lives in table PROPERTIES (carried forward by
                # every later commit), so detection survives an interleaved
                # batch writer between crash and restart.
                if snap.properties.get("stream.last-committed-batch") == str(
                    batchId
                ):
                    self._drop([f.path for f in staged])
                    return
            if not staged:
                return  # empty epoch: no snapshot, nothing to clean
            props = dict(snap.properties) if snap else {}
            props["stream.last-committed-batch"] = str(batchId)
            try:
                t.commit(
                    None,
                    self.schema,
                    "append",
                    snap.version if snap else None,
                    partition_spec=list(snap.partition_spec) if snap else [],
                    manifests=list(snap.manifests) if snap else [],
                    new_files=(list(snap.inline_files) if snap else []) + staged,
                    delete_files=list(snap.delete_files) if snap else [],
                    properties=props,
                    summary={"stream-batch-id": batchId},
                )
                return
            except CommitConflictError:
                continue  # a concurrent writer advanced the table: retry
        raise CommitConflictError(
            f"stream sink lost {5} commit races at {self.location!r}"
        )

    def abort(self, messages, batchId: int) -> None:
        self._drop(
            f["path"]
            for m in messages
            if m is not None
            for f in json.loads(m.files_json)
        )

    def _drop(self, rel_paths) -> None:
        for rel in rel_paths:
            try:
                os.remove(os.path.join(self.location, rel))
            except OSError:
                pass
