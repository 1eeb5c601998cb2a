"""Write dispositions over LakeTable — the engine's core operators
(SURVEY.md §2.2 W1-W12, reference destination_client.py:1256-1520).

Flow per load (the _commit_table_files analogue, §3.1):

1. create-or-evolve: infer schema from the DataFrame on first write
   (+ partition spec from hints); afterwards run the evolution policy;
2. cast the batch safely to the target schema (null-fill sparse columns);
3. dispatch on disposition:
   - append    -> stage new files, commit prev ∪ new          (1 snapshot)
   - replace   -> stage new files, commit new only            (1 snapshot)
   - merge     -> resolve PKs + strategy + hard deletes, then COPY-ON-WRITE:
                  prune live files to those whose key-range overlaps the
                  batch (manifest min/max stats), rewrite only those through
                  the distributed merge plan, commit untouched ∪ rewritten ∪
                  appended — still exactly 1 snapshot;
4. optimistic-commit retry loop with exponential backoff
   (destination_client.py:1278, error classification §2.10) — CastingError /
   SchemaEvolutionError never retry.

Scale: the merge never collects keys to the driver (the reference's
merge_utils.py:8-14 does — its known flaw); pruning bounds the rewrite to
key-overlapping files, and the merge join itself is a shuffle (or broadcast
for small batches) across executors.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dlt_iceberg_spark.errors import (
    CastingError,
    CommitConflictError,
    ExpectationViolationError,
    RetryPolicy,
)
from dlt_iceberg_spark.lake.catalog import LakeCatalog
from dlt_iceberg_spark.lake.merge import merge_plan
from dlt_iceberg_spark.lake.table import (
    BLOOM_COLUMN_PROP,
    NDV_COLUMN_PROP,
    LakeTable,
    recorded_columns,
    with_recorded_columns,
)
from dlt_iceberg_spark.partition import build_partition_spec, partition_exprs
from dlt_iceberg_spark.schema.casting import cast_dataframe_safe
from dlt_iceberg_spark.schema.converter import infer_schema
from dlt_iceberg_spark.schema.evolution import evolve_schema_if_needed

logger = logging.getLogger("dlt_iceberg_spark")

#: default hard-delete marker column (destination_client.py:167)
DEFAULT_HARD_DELETE_COLUMN = "_dlt_deleted_at"

#: batch row-count under which the merge join broadcasts the batch side
BROADCAST_BATCH_ROWS = 1_000_000

#: dynamic partition overwrite refuses batches spanning more distinct
#: partition tuples than this — such a batch almost certainly comes from a
#: spec partitioning on a high-cardinality column
REPLACE_PARTITION_MAX = 10_000


@dataclass
class TableSpec:
    """Declarative per-table load config (dlt table schema analogue)."""

    name: str
    write_disposition: str | dict[str, Any] = "append"
    primary_key: list[str] = field(default_factory=list)
    column_hints: dict[str, dict] = field(default_factory=dict)
    hard_delete_column: str | None = None
    #: range-cluster data files on these columns at write time: files get
    #: disjoint min/max stats, so key-range pruning (merge copy-on-write,
    #: selective scans) touches the few files that can match instead of all
    sort_order: list[str] = field(default_factory=list)
    #: explicit output-file count for sort_order writes (None = let AQE size
    #: the range partitions by bytes)
    sort_buckets: int | None = None
    #: write parquet bloom filters on these columns (None = infer: the
    #: resolved primary key under a merge disposition, plus any
    #: x-bloom-filter column hints).  Blooms complement min/max stats:
    #: manifests prune files by range; blooms let the reader skip row
    #: groups on `=` probes of unsorted high-cardinality keys.  Recorded
    #: as the table property write.parquet.bloom-filter-enabled.column.*
    #: (as Iceberg does), which every later write and rewrite of the table
    #: honours: an explicit list replaces the recorded set, inferred
    #: columns are added to it.
    bloom_filter_columns: list[str] | None = None
    #: "cow" rewrites touched files at merge time (read-optimized);
    #: "mor" lands the batch + an equality-delete file in O(batch) and
    #: defers the rewrite to fold_deletes/compaction (write-optimized —
    #: Iceberg v2 merge-on-read).  At 100 TB an upsert touching every file
    #: is a full-table rewrite under cow; mor makes it proportional to the
    #: batch.
    merge_mode: str = "cow"
    #: write-time per-file KMV NDV sketches on these columns (or
    #: x-ndv-sketch column hints) — Iceberg's table statistics
    #: (compute_table_stats theta sketches), kept fresh on every write so
    #: Dataset.aggregate(distinct=...)/LakeTable.approx_distinct answer
    #: NDV metadata-only, exact whenever the true NDV ≤ k=256.  Recorded
    #: as the table property write.ndv-sketch.column.*, which every later
    #: write and rewrite honours: a non-empty list replaces the recorded
    #: set, hinted columns are added to it.  Costs one extra pass over the
    #: freshly staged files per write.
    ndv_sketch_columns: list[str] = field(default_factory=list)
    #: data-quality contracts (Delta Live Tables expectations shape):
    #: name -> SQL boolean predicate evaluated per incoming row BEFORE the
    #: disposition; a NULL predicate result counts as a violation.
    expectations: dict[str, str] = field(default_factory=dict)
    #: what a violating row does: "fail" aborts the whole batch (one
    #: counting pass; non-retryable ExpectationViolationError with per-
    #: expectation counts), "drop" silently filters it, "quarantine"
    #: diverts it (plus a `_violated_expectations` array) to
    #: `<table>__quarantine` in the same namespace — an ordinary appended
    #: LakeTable, so the rejects are queryable, snapshotted, and
    #: transaction-staged alongside the clean rows.
    on_violation: str = "fail"
    #: aggregate-level contracts (the Great Expectations / DLT
    #: "expect_table_*" shape): name -> SQL boolean over AGGREGATES of the
    #: batch, e.g. "count(*) >= 1000" or
    #: "sum(cast(pk IS NULL as int)) / count(*) < 0.001".  Evaluated over
    #: the rows that will actually land (after drop/quarantine row
    #: routing); in fail mode they share the row-counting pass, so the
    #: batch is still scanned once.  A NULL result (empty batch averages)
    #: counts as a violation.
    batch_expectations: dict[str, str] = field(default_factory=dict)
    #: what an aggregate violation does: "fail" aborts the batch (nothing
    #: lands — rejecting individual rows is meaningless for an aggregate),
    #: "warn" logs the failing contracts and proceeds.
    on_batch_violation: str = "fail"

    def resolve_strategy(self) -> tuple[str, str | None]:
        """(disposition, merge_strategy) — W8 (destination_client.py:1152-1168):
        string "merge" means upsert (back-compat); dict form is explicit with
        delete-insert as the default."""
        wd = self.write_disposition
        if isinstance(wd, str):
            if wd == "merge":
                return "merge", "upsert"
            return wd, None
        disposition = wd.get("disposition", "merge")
        if disposition != "merge":
            return disposition, None
        return "merge", wd.get("strategy", "delete-insert")

    def resolve_primary_key(self) -> list[str]:
        """W7 (destination_client.py:1389-1397): table-level primary_key →
        x-merge-keys → per-column primary_key/x-primary-key hints."""
        if self.primary_key:
            return list(self.primary_key)
        merge_keys = [
            c for c, h in self.column_hints.items() if h.get("x-merge-keys") or h.get("merge_key")
        ]
        if merge_keys:
            return merge_keys
        return [
            c
            for c, h in self.column_hints.items()
            if h.get("primary_key") or h.get("x-primary-key")
        ]

    def resolve_bloom_columns(self) -> list[str]:
        """Columns to write parquet bloom filters for: explicit spec list
        wins; otherwise x-bloom-filter hints plus — under a merge
        disposition — the resolved primary key (merge planning probes it
        with equality, exactly what blooms accelerate)."""
        if self.bloom_filter_columns is not None:
            return list(self.bloom_filter_columns)
        cols = [c for c, h in self.column_hints.items() if h.get("x-bloom-filter")]
        disposition, _ = self.resolve_strategy()
        if disposition == "merge":
            cols.extend(k for k in self.resolve_primary_key() if k not in cols)
        return cols

    def resolve_ndv_columns(self) -> list[str]:
        """Columns to sketch NDV for at write time: the explicit spec list
        plus any x-ndv-sketch column hints."""
        cols = list(self.ndv_sketch_columns or [])
        cols.extend(
            c
            for c, h in self.column_hints.items()
            if h.get("x-ndv-sketch") and c not in cols
        )
        return cols


@dataclass
class WriterConfig:
    strict_casting: bool = False
    allow_column_drops: bool = False
    hard_delete_column: str = DEFAULT_HARD_DELETE_COLUMN
    max_retries: int = 5
    retry_backoff_base: float = 2.0


class LakeWriter:
    def __init__(
        self,
        catalog: LakeCatalog,
        namespace: str,
        config: WriterConfig | None = None,
        branch: str = "main",
        observer=None,
    ):
        self.catalog = catalog
        self.namespace = namespace
        self.config = config or WriterConfig()
        #: called with every table name this writer lands a batch on —
        #: INCLUDING derived tables it writes on its own (expectation
        #: quarantines).  CatalogTransaction installs one so every side
        #: table publishes/rolls back with the transaction.
        self.observer = observer
        #: WAP target: data commits move this branch's pointer, not main's
        #: (Iceberg's ``spark.wap.branch``); table CREATION still lands on
        #: main so the table is discoverable before publish.
        self.branch = branch
        self.catalog.create_namespace(namespace)

    # -- entry point -------------------------------------------------------

    def write(self, spec: TableSpec, df: DataFrame, load_id: str | None = None) -> LakeTable:
        """Land one batch for one table under its disposition — exactly one
        snapshot on success."""
        return self._policy().run(lambda: self._write_once(spec, df, load_id))

    def _enforce_expectations(
        self, spec: TableSpec, df: DataFrame, load_id: str | None
    ) -> DataFrame:
        """Apply the spec's data-quality expectations to the incoming batch
        (one extra pass in fail mode, a filter otherwise) — before casting
        and evolution, so rejects keep their original values.  Aggregate
        contracts (``batch_expectations``) ride the same counting pass in
        fail mode; under drop/quarantine they run over the clean rows."""
        if not spec.expectations and not spec.batch_expectations:
            return df
        if spec.on_violation not in ("fail", "drop", "quarantine"):
            raise ValueError(
                f"on_violation must be fail|drop|quarantine, got {spec.on_violation!r}"
            )
        if spec.on_batch_violation not in ("fail", "warn"):
            raise ValueError(
                "on_batch_violation must be fail|warn, got "
                f"{spec.on_batch_violation!r}"
            )
        batch_aggs = [
            F.coalesce(F.expr(sql).cast("boolean"), F.lit(False)).alias(f"__bexp_{i}")
            for i, sql in enumerate(spec.batch_expectations.values())
        ]
        if not spec.expectations:
            self._check_batch_expectations(spec, df.agg(*batch_aggs).first(), load_id)
            return df
        names = list(spec.expectations)
        flags = [
            (~F.coalesce(F.expr(sql), F.lit(False))).alias(f"__exp_{i}")
            for i, sql in enumerate(spec.expectations.values())
        ]
        flagged = df.select("*", *flags)
        viol_any = F.lit(False)
        for i in range(len(names)):
            viol_any = viol_any | F.col(f"__exp_{i}")
        if spec.on_violation == "fail":
            # ONE counting pass covers both contract kinds: per-row
            # violation counts and the batch-aggregate booleans (row
            # violations abort first, so evaluating the aggregates over
            # the unfiltered batch is indistinguishable from clean rows).
            row = flagged.agg(
                *[
                    F.sum(F.col(f"__exp_{i}").cast("long")).alias(f"n{i}")
                    for i in range(len(names))
                ],
                *batch_aggs,
            ).first()
            bad = {
                names[i]: int(row[f"n{i}"] or 0)
                for i in range(len(names))
                if (row[f"n{i}"] or 0) > 0
            }
            if bad:
                raise ExpectationViolationError(
                    f"batch for {spec.name!r} violates expectations {bad} "
                    f"(load_id={load_id}); fix the data or use "
                    "on_violation='drop'/'quarantine'"
                )
            self._check_batch_expectations(spec, row, load_id)
            return df
        flag_cols = [f"__exp_{i}" for i in range(len(names))]
        if spec.on_violation == "quarantine":
            rejects = (
                flagged.filter(viol_any)
                .withColumn(
                    "_violated_expectations",
                    F.array_compact(
                        F.array(
                            *[
                                F.when(F.col(f"__exp_{i}"), F.lit(names[i]))
                                for i in range(len(names))
                            ]
                        )
                    ),
                )
                .drop(*flag_cols)
            )
            self.write(
                TableSpec(name=f"{spec.name}__quarantine", write_disposition="append"),
                rejects,
                load_id=f"{load_id}.quarantine" if load_id else None,
            )
        clean = flagged.filter(~viol_any).drop(*flag_cols)
        if batch_aggs:
            # aggregate contracts gate what LANDS, so under drop/
            # quarantine they run after row routing (one extra O(batch)
            # pass — the quarantine path already re-scans for rejects)
            self._check_batch_expectations(
                spec, clean.agg(*batch_aggs).first(), load_id
            )
        return clean

    def _check_batch_expectations(self, spec: TableSpec, row, load_id) -> None:
        if not spec.batch_expectations:
            return
        names = list(spec.batch_expectations)
        bad = {
            names[i]: spec.batch_expectations[names[i]]
            for i in range(len(names))
            if not row[f"__bexp_{i}"]
        }
        if not bad:
            return
        if spec.on_batch_violation == "warn":
            logger.warning(
                "batch for %r fails aggregate expectations %s (load_id=%s); "
                "proceeding (on_batch_violation='warn')",
                spec.name, sorted(bad), load_id,
            )
            return
        raise ExpectationViolationError(
            f"batch for {spec.name!r} fails aggregate expectations {bad} "
            f"(load_id={load_id}); nothing landed — fix the batch or use "
            "on_batch_violation='warn'"
        )

    def _write_once(self, spec: TableSpec, df: DataFrame, load_id: str | None) -> LakeTable:
        df = self._enforce_expectations(spec, df, load_id)
        disposition, strategy = spec.resolve_strategy()
        hard_delete_col = spec.hard_delete_column or self.config.hard_delete_column
        # The delete marker is transient merge metadata, never table data
        # (destination_client.py:1214-1254); it rides through the cast but
        # not into the persisted schema.
        transient = (
            [f for f in df.schema.fields if f.name == hard_delete_col]
            if disposition == "merge"
            else []
        )
        table, target_schema = self._create_or_evolve(spec, df, drop_cols={f.name for f in transient})
        snap = table.snapshot()
        cast_target = T.StructType(list(target_schema.fields) + transient)
        casted = cast_dataframe_safe(df, cast_target, strict=self.config.strict_casting)
        casted = self._apply_partition_layout(casted, snap.partition_spec)
        casted = self._apply_sort_order(casted, spec.sort_order, spec.sort_buckets)
        summary = {"load_id": load_id} if load_id else {}
        # partitioned tables stage hive-layouted so every DataFile records
        # its partition tuple (enables dynamic overwrite + pruning)
        pexprs = partition_exprs(snap.partition_spec)

        if disposition == "append":
            new_files = table.stage_dataframe(casted, partition_exprs=pexprs)
            # delta commit: parent manifests ride by reference — an append
            # never reads or rewrites the existing file inventory.  An
            # append's staged files are HEAD-INDEPENDENT, so a lost commit
            # race re-commits against the new head without restaging — the
            # conflict-retry cost is O(commit), never O(batch) (at 100 TB
            # restaging a batch to resolve a millisecond pointer race would
            # dominate the write path under any concurrency).
            table.commit_on_head(
                "append", new_files=new_files, summary=summary,
                check=self._head_check(target_schema), policy=self._policy(),
            )
        elif disposition == "replace":
            scope = (
                spec.write_disposition.get("scope")
                if isinstance(spec.write_disposition, dict)
                else None
            )
            if scope == "partitions":
                self._replace_partitions(table, casted, target_schema, snap, summary)
            else:
                new_files = table.stage_dataframe(casted, partition_exprs=pexprs)
                table.commit(
                    new_files, target_schema, "overwrite", snap.version,
                    summary=summary, delete_files=[],  # nothing left to mask
                )
        elif disposition == "merge":
            self._merge(table, spec, casted, target_schema, strategy or "delete-insert", summary)
        else:
            raise ValueError(f"unknown write_disposition {disposition!r}")
        if self.observer is not None:
            self.observer(spec.name)
        return table

    # -- conflict-cheap head commits ---------------------------------------

    def _policy(self) -> RetryPolicy:
        return RetryPolicy(self.config.max_retries, self.config.retry_backoff_base)

    @staticmethod
    def _head_check(target_schema, keys: list[str] | None = None):
        """``commit_on_head`` check for a batch cast to ``target_schema``:
        refuse when the head's schema moved since (or, for a MoR merge
        keyed on ``keys``, its delete files key on another set).  The
        refusal is a CommitConflictError that ``commit_on_head`` hands back
        unretried, so the outer write retry replays the batch through
        create-or-evolve."""
        expected = target_schema.json()

        def check(head) -> None:
            if head.schema.json() != expected:
                raise CommitConflictError("concurrent schema change; replaying load")
            if keys is not None and any(
                tuple(d.equality_ids) != tuple(keys) for d in head.delete_files
            ):
                raise CommitConflictError("concurrent key change; replaying load")

        return check

    # -- create / evolve ---------------------------------------------------

    def _create_or_evolve(self, spec: TableSpec, df: DataFrame, drop_cols: set[str] = frozenset()):
        incoming = infer_schema(df, spec.column_hints)
        incoming_persisted = T.StructType(
            [f for f in incoming.fields if f.name not in drop_cols]
        )
        if not self.catalog.table_exists(self.namespace, spec.name):
            pspec = build_partition_spec(incoming_persisted, spec.column_hints)
            # record the declared sort order as table metadata (Iceberg
            # sort-order): maintenance re-sorts compaction rewrites by it,
            # and the Iceberg export emits it — clustering is a TABLE
            # property, not a per-load accident.  Bloom and NDV columns
            # likewise: every write and rewrite of the table sketches them.
            props = self._sketch_properties(
                spec,
                {"write.sort-order": ",".join(spec.sort_order)} if spec.sort_order else {},
                incoming_persisted,
            )
            table = self.catalog.create_table(
                self.namespace,
                spec.name,
                incoming_persisted,
                partition_spec=[vars(p) for p in pspec],
                properties=props or None,
            )
            return table.for_branch(self.branch), incoming_persisted
        table = self.catalog.load_table(self.namespace, spec.name, branch=self.branch)
        current = table.schema()
        evolved, changed = evolve_schema_if_needed(
            current, incoming_persisted, allow_column_drops=self.config.allow_column_drops
        )
        snap = table.snapshot()
        # partition-spec evolution (Iceberg ALTER TABLE ... ADD/REPLACE
        # PARTITION FIELD): when this load declares partition hints that
        # differ from the table's spec, the NEW spec applies to new files
        # only — existing files keep their recorded partition tuples, and
        # partition-scoped operations handle the mixed layout copy-on-write.
        # Loads without hints leave the spec untouched.
        desired = [
            vars(p) for p in build_partition_spec(evolved, spec.column_hints)
        ]
        new_pspec = desired if desired and desired != snap.partition_spec else None
        # sort-order declaration and bloom/NDV column changes ride the same
        # metadata-only commit; a load that resolves nothing new commits
        # nothing
        props = dict(snap.properties)
        if spec.sort_order:
            props["write.sort-order"] = ",".join(spec.sort_order)
        props = self._sketch_properties(spec, props, evolved)
        props_update = props if props != snap.properties else None
        if changed or new_pspec is not None or props_update is not None:
            # one metadata-only evolution commit covering all changes;
            # delta form: the file inventory is untouched, so no manifest
            # is read or rewritten
            op = "evolve-schema" if changed else "evolve-partition"
            table.commit(
                None, evolved, op, snap.version, partition_spec=new_pspec,
                properties=props_update, new_files=[],
            )
        return table, evolved

    @staticmethod
    def _sketch_properties(spec: TableSpec, props: dict, schema: T.StructType) -> dict:
        """``props`` with the spec's bloom and NDV columns recorded: an
        explicit spec list replaces the recorded set, inferred columns
        (hints, merge keys) are added to it.  Only columns of ``schema``
        are kept; NDV only for atomic ones."""
        dtypes = {f.name: f.dataType for f in schema.fields}
        nested = (T.ArrayType, T.MapType, T.StructType)
        bloom = spec.resolve_bloom_columns()
        if spec.bloom_filter_columns is None:
            bloom = recorded_columns(props, BLOOM_COLUMN_PROP) + bloom
        ndv = spec.resolve_ndv_columns()
        if not spec.ndv_sketch_columns:
            ndv = recorded_columns(props, NDV_COLUMN_PROP) + ndv
        props = with_recorded_columns(
            props, BLOOM_COLUMN_PROP, [c for c in bloom if c in dtypes]
        )
        return with_recorded_columns(
            props,
            NDV_COLUMN_PROP,
            [c for c in ndv if c in dtypes and not isinstance(dtypes[c], nested)],
        )

    def _apply_partition_layout(self, df: DataFrame, partition_spec: list[dict]) -> DataFrame:
        """Cluster the batch by the partition transforms so data files align
        with partition values (⇒ tight min/max stats ⇒ pruning works)."""
        if not partition_spec:
            return df
        exprs = [expr for _name, expr in partition_exprs(partition_spec)]
        return df.repartition(*exprs).sortWithinPartitions(*exprs)

    def _apply_sort_order(
        self, df: DataFrame, sort_order: list[str], sort_buckets: int | None = None
    ) -> DataFrame:
        """Range-partition + sort the batch on the sort-order columns —
        Iceberg sort-order analogue.  Range partitioning gives files
        DISJOINT key ranges (hash would interleave them), which is what
        makes manifest min/max pruning decisive at 100 TB."""
        if not sort_order:
            return df
        cols = [F.col(c) for c in sort_order]
        if sort_buckets:
            return df.repartitionByRange(sort_buckets, *cols).sortWithinPartitions(*cols)
        return df.repartitionByRange(*cols).sortWithinPartitions(*cols)

    # -- dynamic partition overwrite ---------------------------------------

    @staticmethod
    def _may_hold(recorded, value) -> bool:
        """Can a recorded partition value stand for the staged ``value``?
        A recorded None is NULL, or either NULL or ``''`` in files staged
        before the two were kept apart."""
        return value in (None, "") if recorded is None else str(recorded) == value

    def _replace_partitions(
        self, table, batch: DataFrame, target_schema, snap, summary: dict
    ) -> None:
        """INSERT OVERWRITE of only the partitions present in the batch
        (Iceberg ``overwritePartitions``): one atomic snapshot where files
        of incoming partitions are replaced, all other partitions' files
        carry over untouched.  The batch is staged first and the incoming
        tuples are read off the staged files' partition dicts — the way
        Spark's own dynamic overwrite learns them from its task commit
        messages — so finding them runs no Spark job.

        Files written before partition metadata existed (empty partition
        dict), and files whose recorded None may stand for an incoming
        NULL or ``''``, are handled copy-on-write: their rows OUTSIDE the
        incoming partitions are rewritten and kept — correct under
        mixed-layout history at the cost of rewriting only those files."""
        if not snap.partition_spec:
            raise ValueError(
                "partition-scoped replace requires a partitioned table "
                "(declare partition hints at create time)"
            )
        if snap.delete_files:
            # partition replace rewrites/carries files raw; fold equality
            # deletes first so masked rows can't resurrect
            snap = table.fold_deletes()
        pcols = partition_exprs(snap.partition_spec)
        names = [n for n, _ in pcols]
        new_files = table.stage_dataframe(batch, partition_exprs=pcols)
        incoming = {tuple(f.partition[n] for n in names) for f in new_files}
        if len(incoming) > REPLACE_PARTITION_MAX:
            # almost certainly a mis-declared spec (partitioning on a
            # high-cardinality column): refuse with the diagnosis, land no
            # commit and leave no staged file behind
            for f in new_files:
                table._io.remove(os.path.join(table.location, f.path))
            raise ValueError(
                f"replace batch spans more than {REPLACE_PARTITION_MAX} "
                f"distinct partition tuples of ({', '.join(names)}) — this "
                "almost certainly means the partition spec declares a "
                "high-cardinality column; re-declare the partitioning "
                "(bucket/truncate the column) or use the full 'replace' "
                "disposition"
            )

        # manifest-level prune first: a manifest whose partition-value
        # summary can't contain ANY incoming tuple passes through by
        # reference, unread — dynamic overwrite into an 800k-file table
        # touches only the manifests holding the replaced partitions
        may_hold = self._may_hold

        def opens(ref) -> bool:
            summaries = [ref.partitions.get(n) for n in names]
            return any(
                all(
                    vals is None or any(may_hold(r, v) for r in vals)
                    for vals, v in zip(summaries, t)
                )
                for t in incoming
            )

        kept_refs, candidates = snap.split_manifests(opens)

        keep, drop, legacy = [], [], []
        for f in candidates:
            if not all(n in f.partition for n in names):
                legacy.append(f)
                continue
            rec = [f.partition[n] for n in names]
            t = tuple(None if v is None else str(v) for v in rec)
            if None not in t:
                (drop if t in incoming else keep).append(f)
            elif any(all(map(may_hold, t, u)) for u in incoming):
                legacy.append(f)
            else:
                keep.append(f)
        rewritten = []
        if legacy:
            # exact tuple key: NULL and '' encode apart
            key = F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.concat(F.lit("v"), e.cast("string")), F.lit("n"))
                    for _, e in pcols
                ],
            )
            incoming_keys = [
                "\x1f".join("n" if v is None else "v" + v for v in t) for t in incoming
            ]
            remaining = table.read_files(legacy).filter(~key.isin(incoming_keys))
            rewritten = table.stage_dataframe(remaining, partition_exprs=pcols)
        table.commit(
            None,
            target_schema,
            "overwrite-partitions",
            snap.version,
            summary={**summary, "replaced-partitions": len(incoming)},
            manifests=kept_refs,
            new_files=keep + rewritten + new_files,
        )

    # -- merge (copy-on-write) --------------------------------------------

    def _merge(
        self,
        table: LakeTable,
        spec: TableSpec,
        batch: DataFrame,
        target_schema,
        strategy: str,
        summary: dict,
    ) -> None:
        snap = table.snapshot()
        keys = spec.resolve_primary_key()
        hard_delete_col = spec.hard_delete_column or self.config.hard_delete_column
        has_hard_delete = hard_delete_col in batch.columns

        if spec.merge_mode == "mor" and keys:
            self._merge_mor(table, snap, batch, target_schema, keys, strategy,
                            hard_delete_col if has_hard_delete else None, summary)
            return
        if spec.merge_mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge_mode {spec.merge_mode!r} (cow|mor)")

        if not keys:
            # W6: merge without PK falls back to append with a warning
            # (destination_client.py:1399-1403)
            logger.warning(
                "table %r: merge requested but no primary key resolved; appending",
                spec.name,
            )
            new_files = table.stage_dataframe(
                batch.drop(hard_delete_col) if has_hard_delete else batch
            )
            table.commit_on_head(
                "append", new_files=new_files, summary=summary,
                check=self._head_check(target_schema), policy=self._policy(),
            )
            return

        if snap.delete_files:
            # copy-on-write planning reads data files raw; outstanding
            # equality deletes must be folded first or rewritten rows would
            # resurrect (their new sequence escapes the old delete's mask)
            snap = table.fold_deletes()

        # --- file pruning by key-range overlap (copy-on-write planning) ---
        # One agg computes the batch's [min,max] envelope on EVERY key
        # column; prune_split intersects the per-column prune sets, so a
        # composite-PK merge rewrites only files overlapping on every key —
        # a low-selectivity first key no longer degrades to
        # rewrite-everything.  Files/manifests without stats are handled
        # conservatively inside prune_split (counted as touched / read).
        #
        # On a bucket[N]-partitioned PK, range probes cannot prune (every
        # file's key range spans the hash-mixed key space), so the SAME agg
        # also collects the batch's distinct bucket values (codomain ≤ N by
        # construction — never a large collect) and prune_split intersects
        # in partition-tuple space: a batch touching k buckets rewrites
        # ~k/N of the files instead of all of them.
        from dlt_iceberg_spark.partition import PartitionField, transform_column

        bucket_pfs = [
            pf
            for pf in (
                PartitionField(
                    column=p.get("column") or "",
                    transform=p.get("transform", "identity"),
                    param=p.get("param"),
                    name=p.get("name"),
                )
                for p in (snap.partition_spec or [])
            )
            if pf.transform == "bucket" and pf.column in keys
        ]
        # Imported tables hold foreign files whose bucket tuples live in
        # ICEBERG's value domain (murmur3) — the native probe alone would
        # mark them "untouched" and a CoW merge would LOSE their updates.
        # For those, the same agg also collects the batch's foreign-domain
        # bucket values (iceberg_domain.py); a bucket field whose type has
        # no foreign computation drops out of partition probing entirely
        # (conservative: range stats still prune).
        from dlt_iceberg_spark.lake.iceberg_domain import (
            iceberg_bucket_column,
            iceberg_bucket_supported,
        )

        imported = bool((snap.properties or {}).get("imported-from"))
        dtypes = {f.name: f.dataType for f in snap.schema.fields}
        aggs = []
        for i, k in enumerate(keys):
            aggs.append(F.min(k).alias(f"_lo{i}"))
            aggs.append(F.max(k).alias(f"_hi{i}"))
        foreign_ok: dict[int, bool] = {}
        for j, pf in enumerate(bucket_pfs):
            aggs.append(
                F.collect_set(
                    transform_column(pf, F.col(pf.column)).cast("string")
                ).alias(f"_pb{j}")
            )
            foreign_ok[j] = imported and iceberg_bucket_supported(
                dtypes.get(pf.column, T.NullType())
            )
            if foreign_ok[j]:
                aggs.append(
                    F.collect_set(
                        iceberg_bucket_column(dtypes[pf.column], pf.param)(
                            F.col(pf.column)
                        )
                    ).alias(f"_fb{j}")
                )
        aggs.append(F.count(F.lit(1)).alias("_n"))
        stats_row = batch.agg(*aggs).collect()[0]
        if stats_row["_n"] == 0:
            touched = []
            kept_refs, kept_files = snap.split_manifests(lambda ref: False)
        else:
            from dlt_iceberg_spark.lake.table import iso_norm_value

            # date/timestamp key envelopes must enter the ISO stats frame or
            # the datetime-vs-string compare keeps every file (no pruning)
            probes = {
                k: (
                    iso_norm_value(stats_row[f"_lo{i}"]),
                    iso_norm_value(stats_row[f"_hi{i}"]),
                )
                for i, k in enumerate(keys)
            }
            part_probes = {}
            for j, pf in enumerate(bucket_pfs):
                if imported and not foreign_ok[j]:
                    continue  # cannot name the foreign bucket: no probe
                vals = set(stats_row[f"_pb{j}"])
                if foreign_ok[j]:
                    vals |= set(stats_row[f"_fb{j}"])
                part_probes[pf.field_name] = vals
            touched, kept_refs, kept_files = table.prune_split(
                snap, probes, part_probes=part_probes
            )
        broadcast_batch = stats_row["_n"] <= BROADCAST_BATCH_ROWS

        target_df = table.read_files(touched)
        merged = merge_plan(
            target_df,
            batch,
            keys=keys,
            strategy=strategy,
            hard_delete_col=hard_delete_col if has_hard_delete else None,
            broadcast_source=broadcast_batch,
        )
        # rewritten files keep the table's hive layout + partition tuples —
        # a merge must not degrade future partition pruning / overwrites
        new_files = table.stage_dataframe(
            merged, partition_exprs=partition_exprs(snap.partition_spec)
        )
        # delta commit: manifests proven disjoint from the batch's key range
        # pass through by reference — the merge is O(touched) end to end
        table.commit(
            None,
            target_schema,
            "merge",
            snap.version,
            summary={
                **summary,
                "strategy": strategy,
                "rewritten_files": len(touched),
                "pruned_files": len(kept_files) + sum(r.n_files for r in kept_refs),
            },
            manifests=kept_refs,
            new_files=kept_files + new_files,
        )


    def _merge_mor(
        self,
        table: LakeTable,
        snap,
        batch: DataFrame,
        target_schema,
        keys: list[str],
        strategy: str,
        hard_delete_col: str | None,
        summary: dict,
    ) -> None:
        """Merge-on-read: land the batch plus an equality-delete file over
        its keys — O(batch) staging, no target read, no file rewrite.  The
        delete file's sequence number masks matching rows in OLDER data
        files only, so the rows landing here are untouched.  Readers pay
        one (AQE-broadcast) anti-join until fold_deletes/compaction folds
        the masks back into data files."""
        from dlt_iceberg_spark.lake.merge import _dedupe_source, split_hard_deletes

        if snap.delete_files and any(
            tuple(d.equality_ids) != tuple(keys) for d in snap.delete_files
        ):
            # primary key changed between loads: fold the old-keyed masks
            # first so the table never mixes equality_id sets
            snap = table.fold_deletes()

        del_keys = batch.select(*keys)
        data = batch
        if hard_delete_col is not None:
            _, data = split_hard_deletes(batch, hard_delete_col)
            data = data.drop(hard_delete_col)
        if strategy == "upsert":
            data = _dedupe_source(data, keys, None)
        new_delete_files = table.stage_delete_files(del_keys, keys)
        # partition layout kept so MoR loads don't degrade partition
        # pruning either
        new_files = table.stage_dataframe(
            data, partition_exprs=partition_exprs(snap.partition_spec)
        )
        # staged data + delete files are head-independent (sequence numbers
        # stamp at commit), so a lost commit race re-commits against the new
        # head without restaging — O(commit) conflict retry, like append
        table.commit_on_head(
            "merge-mor",
            new_files=new_files,
            new_deletes=new_delete_files,
            summary={
                **summary,
                "strategy": strategy,
                "merge_mode": "mor",
                "added-delete-files": len(new_delete_files),
            },
            check=self._head_check(target_schema, keys),
            policy=self._policy(),
        )


def commit_load(
    writer: LakeWriter,
    loads: dict[str, tuple[TableSpec, DataFrame]],
    load_id: str,
) -> dict[str, LakeTable]:
    """complete_load analogue (destination_client.py:977-1024): land every
    table's batch — each table gets exactly one snapshot for this load."""
    out = {}
    for name, (spec, df) in loads.items():
        out[name] = writer.write(spec, df, load_id=load_id)
    return out
