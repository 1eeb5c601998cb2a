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

Each staged file goes through ``LakeTable.stage_rows`` — the FileIO seam,
and footer [min, max] stats, NULL counts and manifest blooms on the bloom
columns the table records (frozen at stream start, like the spec) — so
stream-landed files prune exactly like batch ones.  The epoch commit is
``LakeTable.commit_on_head``: a lost race re-commits without restaging.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
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


class _EpochCommitted(Exception):
    """The head already records this epoch (a checkpoint replay)."""


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
        # the partition spec and the recorded bloom columns are frozen at
        # stream start (same contract as the stream schema); the spec is
        # validated HERE so an unsupported layout fails at start, not
        # epochs later
        self.pspec: list[tuple] = []  # (field_name, column, transform, param, dtype)
        snap_spec, self.bloom_columns = self._frozen_layout()
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

    def _frozen_layout(self) -> tuple[list[dict], list[str]]:
        """(partition spec, recorded bloom columns) of the table's head;
        empty for a table the first epoch will create."""
        from dlt_iceberg_spark.lake.table import BLOOM_COLUMN_PROP, recorded_columns

        try:
            snap = self._table().snapshot()
        except Exception:
            return [], []
        if snap is None:
            return [], []
        return (
            list(snap.partition_spec or []),
            recorded_columns(snap.properties, BLOOM_COLUMN_PROP),
        )

    # -- executors ---------------------------------------------------------

    def _write_one(self, tbl, partition: dict) -> list[dict]:
        files = self._table().stage_rows(tbl, self.schema, partition, self.bloom_columns)
        return [vars(f) for f in files]

    def write(self, iterator: Iterator) -> WriterCommitMessage | None:
        import pyarrow as pa

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            # Spark requires a WriterCommitMessage instance even for empty
            # partitions; [] is the no-file sentinel
            return _StagedFiles(files_json="[]")
        tbl = pa.Table.from_batches(batches)
        if not self.pspec:
            return _StagedFiles(files_json=json.dumps(self._write_one(tbl, {})))
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
            files.extend(self._write_one(sub, partition))
        return _StagedFiles(files_json=json.dumps(files))

    # -- driver ------------------------------------------------------------

    def _table(self):
        from dlt_iceberg_spark.lake.fileio import LocalFileIO
        from dlt_iceberg_spark.lake.table import LakeTable

        # commit is metadata-only: no SparkSession exists inside the data
        # source runner, and none is needed (pointer swap + manifest write
        # go through FileIO)
        return LakeTable(None, self.location, io=LocalFileIO())

    def commit(self, messages, batchId: int) -> None:
        from dlt_iceberg_spark.errors import RetryPolicy
        from dlt_iceberg_spark.lake.manifest import DataFile

        staged = [
            DataFile(**f)
            for m in messages
            if m is not None
            for f in json.loads(m.files_json)
        ]
        paths = [f.path for f in staged]
        t = self._table()

        def check(head) -> None:
            if head is None:
                return  # the first epoch creates the table
            live_spec_json = json.dumps(
                [dict(sorted(p.items())) for p in (head.partition_spec or [])],
                default=str,
            )
            if live_spec_json != self._frozen_spec_json:
                # the table's spec changed (or the table appeared) after
                # the stream planned its layout — ANY structural difference
                # (column/transform/param), not just presence: restart the
                # stream so the writer re-freezes the spec
                self._drop(paths)
                raise ValueError(
                    "the table's partition spec changed after the stream "
                    "started; restart the stream (the sink freezes the spec "
                    "at start, like the schema)"
                )
            if head.schema != self.schema:
                self._drop(paths)
                raise ValueError(
                    "stream schema does not match the table schema "
                    f"({self.schema.simpleString()} vs "
                    f"{head.schema.simpleString()}); evolve the table first "
                    "or use streaming.stream_write"
                )
            # epoch replay after a checkpoint recovery: the batch is
            # already committed — drop the re-staged files.  The marker
            # lives in table PROPERTIES (carried forward by every later
            # commit), so detection survives an interleaved batch writer
            # between crash and restart.
            if head.properties.get("stream.last-committed-batch") == str(batchId):
                self._drop(paths)
                raise _EpochCommitted()

        try:
            if not staged:  # empty epoch: no snapshot, but the guard holds
                check(t.snapshot())
                return
            t.commit_on_head(
                "append",
                new_files=staged,
                summary={"stream-batch-id": batchId},
                check=check,
                # a concurrent writer advanced the table: retry at once
                policy=RetryPolicy(5, sleep=lambda _s: None),
                schema=self.schema,
                properties={"stream.last-committed-batch": str(batchId)},
            )
        except _EpochCommitted:
            return

    def abort(self, messages, batchId: int) -> None:
        self._drop(
            f["path"]
            for m in messages
            if m is not None
            for f in json.loads(m.files_json)
        )

    def _drop(self, rel_paths) -> None:
        io = self._table()._io
        for rel in rel_paths:
            try:
                io.remove(os.path.join(self.location, rel))
            except OSError:
                pass
