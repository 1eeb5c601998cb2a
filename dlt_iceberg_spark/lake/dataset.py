"""Dataset — the read/query surface (SURVEY.md §2.1 S4, §3.2).

The reference exposes tables through DuckDB views over ``iceberg_scan``
(sql_client.py:102-149) so users can run arbitrary SQL.  Spark-first, the
engine *is* the SQL surface: every table is registered as a temp view over
the current snapshot (re-resolved per query — the reference recreates views
per query for snapshot freshness, sql_client.py:51-55) and ``query()`` is
``spark.sql``.  Collection mirrors ``.df()/.arrow()/.fetchall()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dlt_iceberg_spark.lake.catalog import LakeCatalog


class RelationHandle:
    """One table: lazy DataFrame plus the reference's collection verbs."""

    def __init__(self, df: DataFrame):
        self._df = df

    def df(self):
        """pandas (dataset .df() analogue)."""
        return self._df.toPandas()

    def arrow(self):
        return self._df.toArrow()

    def fetchall(self):
        return [tuple(r) for r in self._df.collect()]

    def dataframe(self) -> DataFrame:
        return self._df

    def __getattr__(self, item):
        return getattr(self._df, item)


class Dataset:
    def __init__(self, catalog: LakeCatalog, namespace: str, branch: str = "main"):
        self.catalog = catalog
        self.namespace = namespace
        self.branch = branch
        self.spark = catalog.spark

    def tables(self) -> list[str]:
        return self.catalog.list_tables(self.namespace)

    def _table(self, table_name: str):
        return self.catalog.load_table(self.namespace, table_name, branch=self.branch)

    def __getitem__(self, table_name: str) -> RelationHandle:
        return RelationHandle(self._table(table_name).read())

    def scan(self, table_name: str, where: list[tuple] | None = None) -> RelationHandle:
        """Predicate-pruned scan: ``where=[(col, op, val), ...]`` skips files
        by manifest min/max stats before Spark plans the read."""
        return RelationHandle(self._table(table_name).read(where=where))

    def register_views(self, at: dict[str, int | str] | None = None) -> None:
        """Register every table as a temp view over its CURRENT snapshot —
        or, for tables named in ``at``, a pinned snapshot version (int) or
        tag (str): the ``FOR VERSION/TAG AS OF`` time-travel surface."""
        pins = at or {}
        for t in self.tables():
            pin = pins.get(t)
            table = self._table(t)
            if pin is None:
                df = table.read()
            elif isinstance(pin, int):
                df = table.read(snapshot_version=pin)
            else:
                df = table.read(tag=pin)
            df.createOrReplaceTempView(t)

    def query(self, sql: str, at: dict[str, int | str] | None = None) -> RelationHandle:
        """Arbitrary SQL over the dataset's tables (views refreshed first —
        snapshot-freshness parity with sql_client.py:51-55).  ``at`` pins
        named tables to a snapshot version or tag for this query."""
        self.register_views(at=at)
        return RelationHandle(self.spark.sql(sql))

    def metadata(self, table_name: str, kind: str = "snapshots") -> RelationHandle:
        """Metadata relation for a table (``snapshots`` / ``files`` /
        ``history`` / ``refs`` / ``delete_files`` / ``partitions`` /
        ``manifests`` / ``statistics``) — the Iceberg
        ``t.snapshots``-style surface."""
        return RelationHandle(
            self._table(table_name).metadata_df(kind)
        )

    def changes(
        self,
        table_name: str,
        from_version: int | None,
        to_version: int | None = None,
        net_changes: bool = False,
    ) -> RelationHandle:
        """CDC changelog relation for a table — the ``table_changes`` TVF
        surface over :meth:`LakeTable.read_changes` (schema +
        ``_change_type`` / ``_commit_version``)."""
        return RelationHandle(
            self._table(table_name).read_changes(
                from_version, to_version, net_changes=net_changes
            )
        )

    def row_counts(self) -> dict[str, int]:
        """Manifest-only row counts (no scan) — file stats make this free."""
        out = {}
        for t in self.tables():
            snap = self._table(t).snapshot()
            out[t] = snap.total_rows
        return out

    def aggregate(
        self,
        table_name: str,
        columns: list[str] | None = None,
        group_by: str | list[str] | None = None,
        distinct: list[str] | None = None,
    ) -> dict | list[dict]:
        """count / per-column min,max — answered from manifest metadata
        when exact (Iceberg aggregate pushdown; milliseconds at any table
        size), transparently falling back to a real scan when it isn't
        (outstanding MoR deletes, missing column stats).

        ``group_by=<column(s)>`` returns per-group rows instead (sorted
        by group value; a list groups by the composite tuple) —
        metadata-only when every grouped column is identity-partitioned
        and every live file's tuple answers exactly (the "rows per
        day/bucket" ops probe), scan otherwise.

        ``distinct=[cols]`` adds ``ndv_<col>`` keys: metadata-only from
        the per-file KMV sketches when every live file carries one
        (every write and rewrite sketches the table's recorded
        ``ndv_sketch_columns``; ``compute_table_stats`` backfills
        others).  Global form: EXACT whenever the true NDV ≤ k=256, the
        KMV estimate above it.  Grouped form ("distinct users per day"):
        EXACT-only — every file sketch must be complete in the current
        hash frame, else the whole probe falls back to an exact
        ``COUNT(DISTINCT)`` scan (a grouped row never carries an
        estimate)."""
        from pyspark.sql import functions as F

        t = self._table(table_name)
        got = t.aggregate_stats(
            columns,
            group_by=group_by,
            distinct=distinct if group_by is not None else None,
        )
        if got is not None and distinct and group_by is None:
            ndv = t.approx_distinct(distinct)
            if ndv is not None:
                for c in distinct:
                    got[f"ndv_{c}"] = ndv[c]["ndv"]
            else:  # unsketched/MoR — scan just the distinct half
                row = (
                    t.read()
                    .agg(
                        *[
                            F.countDistinct(c).alias(f"ndv_{c}")
                            for c in distinct
                        ]
                    )
                    .collect()[0]
                )
                for c in distinct:
                    got[f"ndv_{c}"] = row[f"ndv_{c}"]
        if got is not None:
            return got
        aggs = [F.count(F.lit(1)).alias("count")]
        for c in columns or []:
            aggs.append(F.min(c).alias(f"min_{c}"))
            aggs.append(F.max(c).alias(f"max_{c}"))
        for c in distinct or []:
            aggs.append(F.countDistinct(c).alias(f"ndv_{c}"))
        if group_by is None:
            return t.read().agg(*aggs).collect()[0].asDict()
        gb = [group_by] if isinstance(group_by, str) else list(group_by)
        rows = t.read().groupBy(*gb).agg(*aggs).collect()
        out = [r.asDict() for r in rows]
        return sorted(
            out, key=lambda d: tuple((d[c] is None, d[c]) for c in gb)
        )

    def overlap(self, table_a: str, table_b: str, column: str) -> dict:
        """Cross-table set overlap of one column — distinct counts,
        intersection, Jaccard — the pre-flight for cross-corpus dedup /
        join sizing ("how much do these two corpora share?").

        Metadata path: when BOTH tables carry current-frame NDV sketches
        for the column (the recorded ``ndv_sketch_columns`` every write
        and rewrite sketches, or a ``compute_table_stats`` backfill), the
        two snapshot-level KMV
        sketches combine driver-side in O(k) — ZERO scans of either table
        at ANY size.  EXACT when both sketches are complete (each side's
        true NDV ≤ k=256); the standard theta-sketch overlap estimate
        otherwise.  Falls back to exact distinct/intersection scans when
        either side is unsketched (MoR deletes, files written before the
        column was recorded, mixed hash frames).

        Returns ``{distinct_a, distinct_b, intersection, jaccard,
        exact}`` (counts as floats, matching
        ``functions.sketches.kmv_overlap_estimate``)."""
        from pyspark.sql import functions as F

        from dlt_iceberg_spark.functions.sketches import kmv_overlap_estimate
        from dlt_iceberg_spark.lake.manifest import NDV_K

        ta, tb = self._table(table_a), self._table(table_b)
        for name, t in ((table_a, ta), (table_b, tb)):
            schema = t.schema()
            if schema is not None and column not in {f.name for f in schema.fields}:
                raise ValueError(f"no such column {column!r} in {name!r}")
        sa = ta.snapshot().ndv_sketch(column) if ta.snapshot() else None
        sb = tb.snapshot().ndv_sketch(column) if tb.snapshot() else None
        if sa is not None and sb is not None and sa.get("t") == sb.get("t"):
            if sa["c"] and sb["c"]:
                # both sketches ARE their full distinct-hash sets
                a, b = set(sa["h"]), set(sb["h"])
                inter = len(a & b)
                union = len(a | b)
                return {
                    "distinct_a": float(len(a)),
                    "distinct_b": float(len(b)),
                    "intersection": float(inter),
                    "jaccard": inter / union if union else 0.0,
                    "exact": True,
                }
            est = kmv_overlap_estimate(sa["h"], sb["h"], NDV_K, hash_mode="xx")
            est["exact"] = False  # a k-length complete side must not flip it
            return est
        # fallback: exact scans (distinct both sides + one equi-join)
        da = (
            ta.read().where(F.col(column).isNotNull()).select(column).distinct()
        ).persist()
        db = (
            tb.read().where(F.col(column).isNotNull()).select(column).distinct()
        ).persist()
        try:
            na, nb = da.count(), db.count()
            inter = da.join(db, on=column, how="inner").count()
        finally:
            da.unpersist()
            db.unpersist()
        union = na + nb - inter
        return {
            "distinct_a": float(na),
            "distinct_b": float(nb),
            "intersection": float(inter),
            "jaccard": inter / union if union else 0.0,
            "exact": True,
        }
