"""The benchmark's closed-loop workloads.

Each workload owns one warehouse, builds its fixture in ``setup`` and then
hands out its operations a round at a time (``round``: the workload's
fixed sequence of operation kinds, with seeded keys, values and key
windows); ``run.py`` times them.  Inputs come from the
run's seed only, and every round does the same kinds of work against a
table in the same shape, so rounds are comparable across seeds.  Every
operation that changes a table is described to ``model.py``, which replays
the same sequence on raw parquet in DuckDB for the correctness gate; every
read keeps its (small) result so the gate can compare it with the model's
answer at the same point in the sequence.

The engine is driven only through its public entry points:
``Pipeline.run``, ``LakeWriter.write``, ``LakeTable.read/count/
update_where/position_delete_where``, ``Dataset.query``, ``compact_table``
and ``REGISTRY[name].fn``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.model import sorted_rows

NAMESPACE = "bench"


@dataclass
class Op:
    """One timed operation.  ``run`` returns the result the gate checks
    (None for loads); ``model`` tells the DuckDB replay what it did:
    ``("query", sql)`` for a read, else a tuple of table changes."""

    kind: str  # "load" or "query"
    name: str
    run: Callable[[], Any]
    #: position in the workload's round; latencies are summarized per slot
    slot: int = 0
    rows_in: int = 0
    input_bytes: int = 0
    model: tuple = ()
    result: Any = None
    error: str | None = None
    group: str = ""
    t0: float = 0.0
    t1: float = 0.0
    cpu_s: float = 0.0
    extra: dict = field(default_factory=dict)


def month_days(m: int) -> tuple[int, int]:
    """[first day, first day of next month) of month ``m`` counted from
    1992-01, in days since 1992-01-01."""
    base = np.datetime64("1992-01-01", "D")
    lo = np.datetime64("1992-01", "M") + m
    return (
        int((lo.astype("datetime64[D]") - base).astype(int)),
        int(((lo + 1).astype("datetime64[D]") - base).astype(int)),
    )


def _rows(df) -> list[tuple]:
    return sorted_rows(df.collect())


class Workload:
    name = ""
    #: rows of the orders table the generated fixture starts from
    n_orders = 0
    n_embeddings = 0
    #: fixture builds per run (each in a fresh warehouse; the first runs
    #: on a cold JVM); setup_s is their median
    setup_reps = 3

    def __init__(self, spark, root: str, data_dir: str, seed: int, rep: int):
        self.spark = spark
        self.root = root
        self.data_dir = data_dir
        self.warehouse = os.path.join(root, f"warehouse{rep}")
        self.inputs = os.path.join(root, f"inputs{rep}")
        os.makedirs(self.inputs, exist_ok=True)
        self.rng = np.random.default_rng([seed, 7])
        self.counts = {
            t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
            for t in ("customer", "part", "supplier")
        }
        self.n_input = 0

    def _save(self, table: pa.Table) -> tuple[str, int]:
        """Write one input batch; returns (path, bytes)."""
        path = os.path.join(self.inputs, f"in{self.n_input:05d}.parquet")
        self.n_input += 1
        pq.write_table(table, path)
        return path, os.path.getsize(path)

    def _base(self, table: str):
        return self.spark.read.parquet(os.path.join(self.data_dir, f"{table}.parquet"))

    def setup(self) -> None:
        raise NotImplementedError

    def round(self) -> list[Op]:
        """The next round: the same op kinds in the same order every time.
        The first round after set-up is an untimed warm-up."""
        raise NotImplementedError

    def model_tables(self) -> dict[str, str]:
        """Lake table → DuckDB query over the fixture parquet (``{data}``
        is the fixture directory) that it starts equal to.  The gate checks
        every table named here at the end of the run."""
        return {}


# ---------------------------------------------------------------------------
# ingest: Pipeline.run loads, reads idle


class Ingest(Workload):
    name = "ingest"
    n_orders = 10_000
    #: a warm fixture build takes ~6 s; a third would not fit a run's time
    setup_reps = 2
    SORT_BUCKETS = 8
    UPSERT_FRAC = 0.03
    LINE_ORDERS_FRAC = 0.01
    APPEND_FRAC = 0.01
    #: the month-partitioned table holds 1992-1993 (24 partitions)
    MONTHS = 24
    MONTHLY_HINTS = {"o_orderdate": {"partition": True, "x-partition-transform": "month"}}

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from dlt_iceberg_spark.lake import Pipeline, TableSpec

        self.pipeline = Pipeline(self.spark, self.warehouse, dataset_name=NAMESPACE)
        w = self.pipeline.writer
        w.write(
            TableSpec("orders", "append", sort_order=["o_orderkey"],
                      sort_buckets=self.SORT_BUCKETS, bloom_filter_columns=["o_orderkey"]),
            self._base("orders"),
        )
        w.write(
            TableSpec("lineitem", "append", sort_order=["l_orderkey"],
                      sort_buckets=self.SORT_BUCKETS,
                      bloom_filter_columns=["l_orderkey", "l_linenumber"]),
            self._base("lineitem"),
        )
        w.write(
            TableSpec("orders_monthly", "append", column_hints=self.MONTHLY_HINTS),
            self._base("orders").filter(F.col("o_orderdate") < datagen.day_ts(month_days(self.MONTHS)[0])),
        )
        lines = pq.read_table(os.path.join(self.data_dir, "lineitem.parquet"),
                              columns=["l_orderkey"])["l_orderkey"].to_numpy()
        self.line_counts = np.bincount(lines, minlength=self.n_orders + 1)
        self.next_key = self.n_orders + 1
        # [min, max] order key of each fixture file: every upsert and
        # delete-insert window lies inside one of them, so each rewrites
        # exactly one file whatever the seed
        catalog = self.pipeline.writer.catalog
        self.key_ranges = {
            table: sorted(
                (int(f.stats[key][0]), int(f.stats[key][1]))
                for f in catalog.load_table(NAMESPACE, table).snapshot().files
            )
            for table, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey"))
        }

    def _window_start(self, table: str, w: int) -> int:
        """Start of a ``w``-key window inside one seeded fixture file."""
        ranges = self.key_ranges[table]
        lo, hi = ranges[int(self.rng.integers(0, len(ranges)))]
        return lo + int(self.rng.integers(0, max(1, hi - lo + 2 - w)))

    def model_tables(self) -> dict[str, str]:
        cut = datagen.day_ts(month_days(self.MONTHS)[0])
        return {
            "orders": "SELECT * FROM '{data}/orders.parquet'",
            "lineitem": "SELECT * FROM '{data}/lineitem.parquet'",
            "orders_monthly": f"SELECT * FROM '{{data}}/orders.parquet' WHERE o_orderdate < TIMESTAMP '{cut}'",
        }

    def round(self) -> list[Op]:
        """A CoW upsert, an append of fresh keys, and one transactional load
        of a delete-insert with hard deletes and a partition replace."""
        return [self._single(k) for k in ("upsert", "append")] + [self._txn()]

    # batches: (resource, model step, rows, bytes) ------------------------

    def _resource(self, path: str, name: str, **hints):
        from dlt_iceberg_spark.lake import Resource

        return Resource(lambda: self.spark.read.parquet(path), name, **hints)

    def _upsert_batch(self):
        w = max(1, int(self.n_orders * self.UPSERT_FRAC))
        a = self._window_start("orders", w)
        path, nbytes = self._save(
            datagen.orders_rows(self.rng, np.arange(a, a + w), self.counts["customer"])
        )
        res = self._resource(path, "orders", write_disposition="merge", primary_key=["o_orderkey"])
        return res, ("upsert", "orders", ("o_orderkey",), path), w, nbytes

    def _delete_insert_batch(self):
        """Re-deliver every line of a window of orders with a new line count;
        lines past the new count arrive as hard deletes."""
        w = max(1, int(self.n_orders * self.LINE_ORDERS_FRAC))
        a = self._window_start("lineitem", w)
        okeys = np.arange(a, a + w)
        new = self.rng.integers(1, datagen.MAX_LINES + 1, w)
        gone = np.maximum(self.line_counts[okeys] - new, 0)
        ins_ok, ins_ln = datagen.lines_for(okeys, new)
        del_ok, del_ln = datagen.lines_for(okeys, gone)
        del_ln = del_ln + np.repeat(new, gone).astype(np.int32)
        t = datagen.lineitem_rows(
            self.rng, np.concatenate([ins_ok, del_ok]), np.concatenate([ins_ln, del_ln]),
            self.counts["part"], self.counts["supplier"],
        )
        deleted = np.arange(t.num_rows) >= len(ins_ok)
        stamp = pa.array(
            np.full(t.num_rows, datagen.EPOCH_1992_US + 3_000 * datagen.DAY_US),
            pa.timestamp("us"), mask=~deleted,
        )
        self.line_counts[okeys] = new
        path, nbytes = self._save(t.append_column("_dlt_deleted_at", stamp))
        res = self._resource(
            path, "lineitem",
            write_disposition={"disposition": "merge", "strategy": "delete-insert"},
            primary_key=["l_orderkey", "l_linenumber"],
        )
        return res, ("delete_insert", "lineitem", ("l_orderkey", "l_linenumber"), path), t.num_rows, nbytes

    def _append_batch(self):
        w = max(1, int(self.n_orders * self.APPEND_FRAC))
        keys = np.arange(self.next_key, self.next_key + w)
        self.next_key += w
        path, nbytes = self._save(datagen.orders_rows(self.rng, keys, self.counts["customer"]))
        res = self._resource(path, "orders", write_disposition="append")
        return res, ("append", "orders", (), path), w, nbytes

    def _replace_batch(self):
        """A fresh image of one month of orders_monthly."""
        m = int(self.rng.integers(0, self.MONTHS))
        lo, hi = month_days(m)
        n = max(1, self.n_orders // 80)
        keys = 10_000_000 * (m + 1) + 1_000 * self.n_input + np.arange(n)
        t = datagen.orders_rows(self.rng, keys, self.counts["customer"],
                                days=self.rng.integers(lo, hi, n))
        path, nbytes = self._save(t)
        res = self._resource(
            path, "orders_monthly",
            write_disposition={"disposition": "replace", "scope": "partitions"},
            column_hints=self.MONTHLY_HINTS,
        )
        return res, ("replace_month", "orders_monthly", (), path), n, nbytes

    def _single(self, kind: str) -> Op:
        res, step, rows, nbytes = {
            "upsert": self._upsert_batch,
            "append": self._append_batch,
        }[kind]()
        return Op("load", kind, lambda: self.pipeline.run(res) and None,
                  rows_in=rows, input_bytes=nbytes, model=(step,))

    def _txn(self) -> Op:
        parts = [self._delete_insert_batch(), self._replace_batch()]
        resources = [p[0] for p in parts]
        return Op(
            "load", "txn",
            lambda: self.pipeline.run(*resources, transactional=True) and None,
            rows_in=sum(p[2] for p in parts), input_bytes=sum(p[3] for p in parts),
            model=tuple(p[1] for p in parts),
        )


# ---------------------------------------------------------------------------
# mor_churn: merge-on-read writes and reads on one table, periodic compaction


class MorChurn(Workload):
    name = "mor_churn"
    n_orders = 15_000
    n_embeddings = 1_000
    SORT_BUCKETS = 8
    UPSERT_FRAC = 0.01
    EDIT_FRAC = 0.002
    TARGET_FILE_BYTES = 256 * 1024
    #: registered queries in every round: a JVM shuffle-heavy one and one
    #: crossing the Python/Arrow boundary (queries/ and operators/)
    REGISTRY_QUERIES = ("q18_large_orders", "knn_label_vote")
    #: reads interleave with writes, so they see equality and position
    #: deletes; compaction closes the round and folds them
    ROUND = ("upsert", "point", "update", "count", "delete", "sql_agg") + REGISTRY_QUERIES + ("compact",)

    def setup(self) -> None:
        from dlt_iceberg_spark.lake import Dataset, LakeCatalog, LakeWriter, TableSpec

        self.catalog = LakeCatalog(self.spark, self.warehouse)
        self.writer = LakeWriter(self.catalog, NAMESPACE)
        self.spec = TableSpec("orders", "merge", ["o_orderkey"], merge_mode="mor")
        self.writer.write(
            TableSpec("orders", "append", sort_order=["o_orderkey"],
                      sort_buckets=self.SORT_BUCKETS, bloom_filter_columns=["o_orderkey"]),
            self._base("orders"),
        )
        self.table = self.catalog.load_table(NAMESPACE, "orders")
        self.dataset = Dataset(self.catalog, NAMESPACE)
        self.next_key = self.n_orders + 1

    def model_tables(self) -> dict[str, str]:
        return {"orders": "SELECT * FROM '{data}/orders.parquet'"}

    def round(self) -> list[Op]:
        """Every window of a round sits at a fixed place relative to one
        seeded anchor in the fixture's key range: the upsert rewrites
        [a, a+u), the point read and both edits land inside it, and the
        count covers it; so every round meets the same deletes."""
        u = max(4, int(self.n_orders * self.UPSERT_FRAC))
        self.anchor = int(self.rng.integers(1, self.n_orders - 2 * u + 2))
        return [self._op(k) for k in self.ROUND]

    def _op(self, kind: str) -> Op:
        from dlt_iceberg_spark.lake import compact_table

        a = self.anchor
        u = max(4, int(self.n_orders * self.UPSERT_FRAC))
        e = max(1, int(self.n_orders * self.EDIT_FRAC))
        if kind in self.REGISTRY_QUERIES:
            return registry_op(self.spark, self.data_dir, kind)
        if kind == "upsert":
            fresh = max(1, u // 10)
            keys = np.concatenate([np.arange(a, a + u), np.arange(self.next_key, self.next_key + fresh)])
            self.next_key += fresh
            path, nbytes = self._save(datagen.orders_rows(self.rng, keys, self.counts["customer"]))
            return Op("load", kind,
                      lambda: self.writer.write(self.spec, self.spark.read.parquet(path)) and None,
                      rows_in=len(keys), input_bytes=nbytes,
                      model=(("upsert", "orders", ("o_orderkey",), path),))
        if kind in ("update", "delete"):
            lo = a + (u // 4 if kind == "update" else u // 2)
            where = [("o_orderkey", ">=", lo), ("o_orderkey", "<", lo + e)]
            cond = f"o_orderkey >= {lo} AND o_orderkey < {lo + e}"
            if kind == "update":
                status = str(datagen.STATUS[int(self.rng.integers(0, 3))])
                return Op("load", kind,
                          lambda: self.table.update_where(where, {"o_orderstatus": status}) and None,
                          model=(("sql", f"UPDATE orders SET o_orderstatus = '{status}' WHERE {cond}"),))
            return Op("load", kind, lambda: self.table.position_delete_where(where) and None,
                      model=(("sql", f"DELETE FROM orders WHERE {cond}"),))
        if kind == "compact":
            return Op("load", kind,
                      lambda: compact_table(self.table, target_file_bytes=self.TARGET_FILE_BYTES) and None)
        if kind == "point":
            k = a + u // 2 - 1
            return Op("query", kind,
                      lambda: _rows(self.table.read(where=[("o_orderkey", "=", k)]).select(
                          "o_orderkey", "o_orderstatus", "o_totalprice")),
                      model=("query", "SELECT o_orderkey, o_orderstatus, o_totalprice "
                                      f"FROM orders WHERE o_orderkey = {k}"))
        if kind == "count":
            where = [("o_orderkey", ">=", a), ("o_orderkey", "<", a + 2 * u)]
            return Op("query", kind, lambda: [(self.table.count(where=where),)],
                      model=("query", f"SELECT count(*) FROM orders WHERE o_orderkey >= {a} "
                                      f"AND o_orderkey < {a + 2 * u}"))
        sql = "SELECT o_orderstatus, count(*), sum(o_totalprice) FROM orders GROUP BY 1"
        return Op("query", kind, lambda: sorted_rows(self.dataset.query(sql).fetchall()),
                  model=("query", sql))


def registry_op(spark, sf_dir: str, name: str) -> Op:
    """One registered query over the raw parquet in ``sf_dir``: plan build
    (``fn`` until the DataFrame is returned) and execution are timed apart,
    and the result is kept (as pandas) for the oracle check."""
    from dlt_iceberg_spark.queries import REGISTRY

    op = Op("query", name, lambda: None, model=("registry", name))

    def run():
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        out = df.toPandas()
        op.extra["build_s"] = t1 - t0
        op.extra["exec_s"] = time.perf_counter() - t1
        return out

    op.run = run
    return op


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (Ingest, MorChurn)}
