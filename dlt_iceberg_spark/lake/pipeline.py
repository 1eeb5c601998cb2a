"""Pipeline orchestration: the reference's `pipeline.run(resource)` surface
re-expressed Spark-first (SURVEY.md §3.1).

A *resource* is any function returning a DataFrame (or rows that
``spark.createDataFrame`` accepts) plus load hints — the Spark analogue of a
dlt generator resource.  ``Pipeline.run`` materializes each resource,
dispatches its disposition through the LakeWriter (one snapshot per table
per load), and records the load in the `_dlt_loads` ledger + schema registry,
making reruns idempotent by load_id.
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from dlt_iceberg_spark.lake.catalog import LakeCatalog
from dlt_iceberg_spark.lake.dataset import Dataset
from dlt_iceberg_spark.lake.state import StateStore
from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec, WriterConfig
from dlt_iceberg_spark.schema.converter import spark_type_to_dlt


@dataclass
class Resource:
    """Table-producing function with load hints (dlt resource analogue)."""

    producer: Callable[[], DataFrame | Iterable[dict]] | DataFrame | Iterable[dict]
    name: str
    write_disposition: str | dict[str, Any] = "append"
    primary_key: list[str] = field(default_factory=list)
    column_hints: dict[str, dict] = field(default_factory=dict)
    #: data-quality contracts, passed through to the writer (TableSpec
    #: expectations — fail aborts the load, quarantine diverts rejects;
    #: under run(transactional=True) a failing contract publishes NOTHING
    #: and quarantines publish with the load's atomic cut)
    expectations: dict[str, str] = field(default_factory=dict)
    on_violation: str = "fail"
    #: aggregate-level contracts over what lands (TableSpec
    #: batch_expectations — "count(*) >= 1000" etc.; fail | warn)
    batch_expectations: dict[str, str] = field(default_factory=dict)
    on_batch_violation: str = "fail"

    def to_spec(self) -> TableSpec:
        return TableSpec(
            name=self.name,
            write_disposition=self.write_disposition,
            primary_key=self.primary_key,
            column_hints=self.column_hints,
            expectations=self.expectations,
            on_violation=self.on_violation,
            batch_expectations=self.batch_expectations,
            on_batch_violation=self.on_batch_violation,
        )

    def materialize(self, spark: SparkSession) -> DataFrame:
        obj = self.producer() if callable(self.producer) else self.producer
        if isinstance(obj, DataFrame):
            return obj
        rows = list(obj)
        return spark.createDataFrame(rows)


def resource(
    name: str,
    write_disposition: str | dict[str, Any] = "append",
    primary_key: list[str] | None = None,
    column_hints: dict[str, dict] | None = None,
):
    """Decorator: ``@resource("events", write_disposition="merge", ...)``."""

    def deco(fn):
        return Resource(
            producer=fn,
            name=name,
            write_disposition=write_disposition,
            primary_key=primary_key or [],
            column_hints=column_hints or {},
        )

    return deco


@dataclass
class LoadInfo:
    load_id: str
    tables: list[str]
    schema_version_hash: str
    duration_s: float
    already_loaded: bool = False


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        dataset_name: str = "main",
        pipeline_name: str = "pipeline",
        writer_config: WriterConfig | None = None,
        branch: str = "main",
    ):
        """``branch`` != "main" runs the pipeline in write-audit-publish
        mode: every data commit lands on that table branch, invisible to
        main readers until :meth:`publish`.  The load ledger and schema
        store stay on main — like Iceberg WAP, only data tables branch."""
        self.spark = spark
        self.pipeline_name = pipeline_name
        self.dataset_name = dataset_name
        self.branch = branch
        self.catalog = LakeCatalog(spark, warehouse)
        self.writer = LakeWriter(self.catalog, dataset_name, writer_config, branch=branch)
        self.state = StateStore(self.catalog, dataset_name)

    def run(
        self,
        *resources: Resource,
        load_id: str | None = None,
        truncate_tables: list[str] | None = None,
        refresh: str | None = None,
        transactional: bool = False,
        derived: list | None = None,
    ) -> LoadInfo:
        """Extract → write (one snapshot/table) → ledger append.

        Reruns with the same ``load_id`` are no-ops (idempotent by ledger
        pre-check, destination_client.py:1139-1150).  ``truncate_tables``
        are dropped before loading (W9 refresh semantics,
        destination_client.py:872-880) so their resources recreate them
        from scratch this run.  ``refresh="drop_resources"`` drops every
        table this run's resources write (dlt's refresh mode; reference
        tests/test_drop_tables.py:224-280 — the second run must see ONLY
        the new schema, no stale columns).

        ``transactional=True`` publishes the WHOLE multi-resource load
        atomically (lake/transaction.py): a failing resource — or a
        conflicting foreign write to any one table — publishes NOTHING,
        and a crash mid-publish is rolled forward on the next run.  The
        reference commits one transaction per table (SURVEY.md §2.2 W1);
        this is the cross-table upgrade.  Table drops
        (``truncate_tables``/``refresh``) run before and outside the
        transaction — they are destructive setup, not part of the load.

        ``derived`` lists downstream assets to refresh after the
        resources land — anything with a ``refresh(transaction=...)``
        method (:class:`IncrementalRollup`, :class:`IncrementalJoinView`).
        Under ``transactional=True`` they stage on the SAME transaction,
        so facts and their summaries/views publish as one atomic cut (the
        dbt/DLT downstream-model shape, incrementally maintained)."""
        if refresh not in (None, "drop_resources"):
            raise ValueError(f"unsupported refresh mode {refresh!r}")
        if transactional and self.branch != "main":
            raise ValueError(
                "transactional runs stage on their own branch; combine with "
                "WAP by publishing the transaction, not a pipeline branch"
            )
        if derived and self.branch != "main" and not transactional:
            # a WAP pipeline lands resources on its branch, but a bare
            # d.refresh() reads/writes main — the derived asset would see
            # no source change, silently no-op, and still be reported in
            # `written`.  Refuse rather than lie.
            raise ValueError(
                "derived=[...] is not supported on a branch (WAP) pipeline: "
                "derived assets refresh against published state, so the "
                "branch's unpublished writes are invisible to them; use a "
                "main-branch pipeline with transactional=True for an atomic "
                "facts+derived publish"
            )
        t0 = time.perf_counter()
        load_id = load_id or f"{int(time.time() * 1000)}.{uuid.uuid4().hex[:8]}"
        if self.state.load_recorded(load_id):
            return LoadInfo(load_id, [], "", 0.0, already_loaded=True)
        to_drop = list(truncate_tables or [])
        if refresh == "drop_resources":
            to_drop.extend(r.name for r in resources if r.name not in to_drop)
        for t in to_drop:
            if self.catalog.table_exists(self.dataset_name, t):
                self.catalog.drop_table(self.dataset_name, t)

        schema_doc: dict[str, Any] = {"tables": {}}
        written: list[str] = []
        txn = (
            self.catalog.transaction(self.dataset_name, config=self.writer.config)
            if transactional
            else None
        )
        try:
            for res in resources:
                df = res.materialize(self.spark)
                if txn is not None:
                    txn.write(res.to_spec(), df, load_id=load_id)
                else:
                    self.writer.write(res.to_spec(), df, load_id=load_id)
                written.append(res.name)
                schema_doc["tables"][res.name] = {
                    "columns": {
                        f.name: {"data_type": spark_type_to_dlt(f.dataType), "nullable": f.nullable}
                        for f in df.schema.fields
                    }
                }
            for d in derived or []:
                if txn is not None:
                    d.refresh(transaction=txn)
                else:
                    d.refresh()
                written.append(d.name)
        except BaseException:
            if txn is not None:
                txn.rollback()
            raise
        if txn is not None:
            txn.commit()
        version_hash = hashlib.sha256(
            json.dumps(schema_doc, sort_keys=True).encode()
        ).hexdigest()[:16]
        # probe the hash first: a steady-state load re-delivers a known
        # schema, so the newest-version scan runs only when a new
        # `_dlt_version` row will be written
        if not self.state.has_schema_hash(version_hash):
            prev = self.state.get_newest_schema(self.dataset_name)
            version = (prev.version + 1) if prev is not None else 1
            self.state.store_schema(self.dataset_name, version_hash, version, schema_doc)
        self.state.store_completed_load(load_id, self.dataset_name, version_hash)
        return LoadInfo(load_id, written, version_hash, time.perf_counter() - t0)

    def dataset(self, branch: str | None = None) -> Dataset:
        """Query surface; default reads the pipeline's own branch (so a WAP
        pipeline audits its unpublished writes), ``branch="main"`` reads
        published state."""
        return Dataset(self.catalog, self.dataset_name, branch=branch or self.branch)

    def publish(self, tables: list[str] | None = None) -> dict[str, int]:
        """Fast-forward main to this pipeline's branch for each table (the
        publish step of write-audit-publish).  Returns {table: version}.

        Fails atomically per table: a diverged table raises
        CommitConflictError and earlier tables stay published — rerun after
        resolving (same per-table granularity as Iceberg's fast_forward)."""
        if self.branch == "main":
            raise ValueError("pipeline already writes to main; nothing to publish")
        out: dict[str, int] = {}
        for t in tables or self.catalog.list_tables(self.dataset_name):
            table = self.catalog.load_table(self.dataset_name, t)
            if table.branches().get(self.branch) is not None:
                out[t] = table.fast_forward(self.branch)
        return out
