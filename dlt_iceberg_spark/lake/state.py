"""Internal state tables: `_dlt_version`, `_dlt_loads`, `_dlt_pipeline_state`.

Ordinary lake tables with the reference's exact schemas
(destination_client.py:631-646, 1032-1038; FIXTURES.md F11) and access
patterns (SURVEY.md §2.9 M1-M5), answered off Spark wherever the table
format allows:

- lookups are pruned: every read passes its equality predicate to
  ``LakeTable.read(where=...)``, so manifest min/max stats pick the data
  files; a hit reads only the files that can hold it.  A missing table
  answers None/False without building a frame;
- "is this load recorded?" (M5) and "is this schema hash stored?" (M4)
  are pruned ``count`` calls.  Each append writes one single-row file, so a
  fresh id matches no file, and a recorded one matches a file whose
  min == max and zero null count prove its row: both answers come from
  manifest stats, with no DataFrame and no Spark job;
- newest schema (M1/M2) = pruned ``schema_name`` scan + max(version) top-1;
- newest pipeline state (M3) = pruned ``pipeline_name`` scan +
  max(created_at) top-1;
- appends are driver-written: the row is encoded with pyarrow in the
  table's stored schema, written through its FileIO, and committed as one
  delta snapshot (``LakeTable.stage_rows``);
- store-schema idempotent by version_hash; store-load idempotent by load_id
  (pre-check + read-after-error, tests/test_load_metadata_resilience.py).

Timestamps are naive-UTC µs (TimestampNTZ), pinned like the reference pins
its internal columns to the target table's unit (destination_client.py:67-110).
A pre-created table with tz-aware columns keeps them; the naive-UTC values
land as the same UTC instants.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dlt_iceberg_spark.errors import TableNotFoundError
from dlt_iceberg_spark.lake.catalog import LakeCatalog
from dlt_iceberg_spark.lake.table import LakeTable, arrow_table, local_frame

VERSION_TABLE = "_dlt_version"
LOADS_TABLE = "_dlt_loads"
STATE_TABLE = "_dlt_pipeline_state"

_NTZ = T.TimestampNTZType()

VERSION_SCHEMA = T.StructType(
    [
        T.StructField("version_hash", T.StringType(), False),
        T.StructField("schema_name", T.StringType(), False),
        T.StructField("version", T.LongType(), False),
        T.StructField("engine_version", T.LongType(), False),
        T.StructField("inserted_at", _NTZ, False),
        T.StructField("schema", T.StringType(), False),
    ]
)

LOADS_SCHEMA = T.StructType(
    [
        T.StructField("load_id", T.StringType(), False),
        T.StructField("schema_name", T.StringType(), True),
        T.StructField("status", T.LongType(), False),
        T.StructField("inserted_at", _NTZ, True),
        T.StructField("schema_version_hash", T.StringType(), True),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType(), True),
        T.StructField("engine_version", T.LongType(), True),
        T.StructField("pipeline_name", T.StringType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("created_at", _NTZ, True),
        T.StructField("version_hash", T.StringType(), True),
        T.StructField("_dlt_load_id", T.StringType(), True),
    ]
)


def _utcnow_naive() -> datetime:
    """Naive-UTC µs, like the reference's internal timestamps
    (destination_client.py:619, 1031)."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


class StateStore:
    def __init__(self, catalog: LakeCatalog, namespace: str):
        self.catalog = catalog
        self.namespace = namespace
        self.spark = catalog.spark

    # -- helpers -----------------------------------------------------------

    def _table(self, name: str) -> LakeTable | None:
        try:
            return self.catalog.load_table(self.namespace, name)
        except TableNotFoundError:
            return None

    def _table_df(self, name: str, schema: T.StructType) -> DataFrame:
        table = self._table(name)
        return table.read() if table is not None else local_frame(self.spark, schema)

    def _first(
        self, name: str, column: str, value: str, newest: str | None = None
    ) -> Row | None:
        """A row with ``column == value`` (the one with the largest
        ``newest`` when given).  The predicate is pruned against manifest
        stats before any data file is opened; None when the table is
        missing."""
        table = self._table(name)
        if table is None:
            return None
        df = table.read(where=[(column, "=", value)])
        if newest is not None:
            df = df.orderBy(F.col(newest).desc())
        rows = df.limit(1).collect()
        return rows[0] if rows else None

    def _append(self, name: str, schema: T.StructType, rows: list[Row]) -> None:
        """One driver-written parquet file and one delta commit; no Spark
        job (creates the table in ``schema`` if missing)."""
        table = self._table(name) or self.catalog.create_table(
            self.namespace, name, schema
        )
        snap = table.snapshot()
        # an existing state table's schema wins: a pre-created table with
        # tz-aware (or naive) timestamps keeps its flavor, and the batch
        # adapts — reference goldens tests/test_with_state_sync.py:313-430
        # (state metadata neither clashes with nor downgrades an existing
        # timestamp[tz] schema)
        stored = snap.schema
        if stored != schema:
            from dlt_iceberg_spark.schema.casting import validate_cast

            validate_cast(schema, stored)
        # a stored column the batch lacks lands its write-default (or null)
        defaults = {f.name: (f.metadata or {}).get("write-default") for f in stored.fields}
        values = [tuple({**defaults, **r.asDict()}[c] for c in defaults) for r in rows]
        table.commit(
            None, stored, "append", snap.version,
            new_files=table.stage_rows(arrow_table(stored, values), stored),
        )

    # -- M4: schema registry ----------------------------------------------

    def store_schema(
        self, schema_name: str, version_hash: str, version: int, schema_doc: dict
    ) -> bool:
        """Append one `_dlt_version` row; idempotent by hash
        (destination_client.py:583-677). Returns True if written."""
        if self.has_schema_hash(version_hash):
            return False
        self._append(
            VERSION_TABLE,
            VERSION_SCHEMA,
            [
                Row(
                    version_hash=version_hash,
                    schema_name=schema_name,
                    version=version,
                    engine_version=1,
                    inserted_at=_utcnow_naive(),
                    schema=json.dumps(schema_doc),
                )
            ],
        )
        return True

    def clear_schema_versions(self, schema_name: str) -> int:
        """Remove every ``_dlt_version`` row for ``schema_name`` — the
        ``drop_tables(delete_schema=True)`` contract
        (tests/test_drop_tables.py:161-221, SqlJobClientBase parity).
        Returns the number of rows removed.  One replace snapshot; the
        surviving rows rewrite distributed (no driver materialization)."""
        table = self._table(VERSION_TABLE)
        if table is None:
            return 0
        snap = table.snapshot()
        df = table.read()
        total = df.count()
        keep = df.filter(F.col("schema_name") != schema_name)
        kept_rows = keep.count()
        if kept_rows == total:
            return 0
        files = table.stage_dataframe(keep)
        # the stored schema: a pre-created tz-aware table keeps its flavor
        table.commit(files, snap.schema, "overwrite", snap.version, delete_files=[])
        return total - kept_rows

    # -- M1/M2: schema lookup ---------------------------------------------

    def get_newest_schema(self, schema_name: str) -> Row | None:
        """Pruned scan + max(version) top-1 (destination_client.py:312-343)."""
        return self._first(VERSION_TABLE, "schema_name", schema_name, newest="version")

    def get_schema_by_hash(self, version_hash: str) -> Row | None:
        return self._first(VERSION_TABLE, "version_hash", version_hash)

    def has_schema_hash(self, version_hash: str) -> bool:
        """Whether a ``_dlt_version`` row carries ``version_hash`` — a
        COUNT pushdown that one-row ledger files answer from their
        manifest stats, so it opens no data file and runs no Spark job."""
        table = self._table(VERSION_TABLE)
        return (
            table is not None
            and table.count(where=[("version_hash", "=", version_hash)]) > 0
        )

    def restore_schema(self, schema_name: str) -> dict:
        """Schema restore with the reference's preference order
        (destination_client.py:312-343 → 435-525, pinned by
        test_get_stored_schema_prefers_dlt_version_over_derivation): the
        ``_dlt_version`` ledger is authoritative when it has a row for this
        schema; only a destination with NO ledger (e.g. tables created by
        another tool) falls back to deriving the doc from live tables."""
        row = self.get_newest_schema(schema_name)
        if row is not None:
            return json.loads(row.schema)
        return self.derive_schema_from_tables()

    def derive_schema_from_tables(self) -> dict:
        """M1 fallback (destination_client.py:435-525): synthesize a schema
        doc from live tables, skipping `_dlt_*`."""
        from dlt_iceberg_spark.schema.converter import spark_type_to_dlt

        tables = {}
        for t in self.catalog.list_tables(self.namespace):
            if t.startswith("_dlt"):
                continue
            schema = self.catalog.load_table(self.namespace, t).schema()
            tables[t] = {
                "columns": {
                    f.name: {"data_type": spark_type_to_dlt(f.dataType), "nullable": f.nullable}
                    for f in schema.fields
                }
            }
        return {"tables": tables, "version_hash": "derived_from_iceberg"}

    # -- M5: load ledger ---------------------------------------------------

    def load_recorded(self, load_id: str) -> bool:
        """Whether ``_dlt_loads`` holds ``load_id`` — a COUNT pushdown
        answered from manifest stats, like :meth:`has_schema_hash`."""
        table = self._table(LOADS_TABLE)
        return table is not None and table.count(where=[("load_id", "=", load_id)]) > 0

    def store_completed_load(
        self,
        load_id: str,
        schema_name: str | None = None,
        schema_version_hash: str | None = None,
        max_retries: int = 3,
        backoff_base: float = 1.0,
        sleep=None,
    ) -> bool:
        """Idempotent by load_id, resilient to transient/ambiguous commit
        failures (destination_client.py:1026-1137 +
        test_load_metadata_resilience.py:34-128):

        - already recorded → no-op (idempotency check per attempt);
        - commit conflict → READ-AFTER-ERROR ambiguity check: a failed
          pointer race may still mean a concurrent committer recorded this
          very load_id — if the row now exists, the load IS recorded and
          retrying would double-append; only genuinely-absent rows retry
          with backoff.
        """
        import time as _time

        from dlt_iceberg_spark.errors import CommitConflictError

        do_sleep = sleep if sleep is not None else _time.sleep
        row = Row(
            load_id=load_id,
            schema_name=schema_name,
            status=0,
            inserted_at=_utcnow_naive(),
            schema_version_hash=schema_version_hash,
        )
        last: Exception | None = None
        for attempt in range(max_retries):
            if self.load_recorded(load_id):
                return attempt > 0  # recorded (by us mid-retry, or a no-op)
            try:
                self._append(LOADS_TABLE, LOADS_SCHEMA, [row])
                return True
            except CommitConflictError as exc:
                last = exc
                # ambiguous outcome: did the conflicting commit carry our row?
                if self.load_recorded(load_id):
                    return True
                if attempt < max_retries - 1:
                    do_sleep(backoff_base * (2.0**attempt))
        raise last  # every retry lost the race to OTHER commits

    # -- M3: pipeline state -----------------------------------------------

    def store_pipeline_state(
        self, pipeline_name: str, state: dict, version: int, version_hash: str | None = None,
        load_id: str | None = None,
    ) -> None:
        self._append(
            STATE_TABLE,
            STATE_SCHEMA,
            [
                Row(
                    version=version,
                    engine_version=1,
                    pipeline_name=pipeline_name,
                    state=json.dumps(state),
                    created_at=_utcnow_naive(),
                    version_hash=version_hash,
                    _dlt_load_id=load_id,
                )
            ],
        )

    def get_stored_state(self, pipeline_name: str) -> Row | None:
        """Newest state row per pipeline (max created_at,
        destination_client.py:393-433)."""
        return self._first(STATE_TABLE, "pipeline_name", pipeline_name, newest="created_at")
