"""Which engine functions the traced run wraps, and how spans, counters
and the event log reduce to the per-layer metrics in BENCHMARK.json."""

from __future__ import annotations

from perfbench.trace import SPARK_METRICS, Tracer, call_site_layer, union_length

#: layers Spark jobs are attributed to (by call site, else enclosing span)
JOB_LAYERS = (
    "lake.pipeline", "lake.state", "lake.transaction", "lake.writer",
    "lake.table", "lake.maintenance", "lake.dataset", "schema", "queries",
    "operators", "other", "bench",
)

#: span name prefix → layer
_SPAN_LAYER = {
    "pipeline": "lake.pipeline", "state": "lake.state",
    "transaction": "lake.transaction", "writer": "lake.writer",
    "merge": "lake.writer", "schema": "schema", "table": "lake.table",
    "manifest": "lake.table", "fileio": "lake.table", "dataset": "lake.dataset",
    "maintenance": "lake.maintenance",
}


def install(tracer: Tracer) -> None:
    """Wrap the engine's public layer boundaries (requires the package to
    be imported; ``tracer.unpatch()`` restores them)."""
    from dlt_iceberg_spark.lake.dataset import Dataset
    from dlt_iceberg_spark.lake.fileio import LocalFileIO
    from dlt_iceberg_spark.lake.pipeline import Pipeline
    from dlt_iceberg_spark.lake.state import StateStore
    from dlt_iceberg_spark.lake.table import LakeTable
    from dlt_iceberg_spark.lake.transaction import CatalogTransaction
    from dlt_iceberg_spark.lake.writer import LakeWriter
    import dlt_iceberg_spark.lake.maintenance  # noqa: F401  (bound names)
    import dlt_iceberg_spark.lake.manifest  # noqa: F401
    import dlt_iceberg_spark.lake.merge  # noqa: F401
    import dlt_iceberg_spark.schema.casting  # noqa: F401
    import dlt_iceberg_spark.schema.converter  # noqa: F401
    import dlt_iceberg_spark.schema.evolution  # noqa: F401

    t = tracer
    t.patch_method(Pipeline, "run", "pipeline.run")
    for m in ("load_recorded", "store_completed_load", "get_newest_schema",
              "get_schema_by_hash", "store_schema"):
        t.patch_method(StateStore, m, "state")
    t.patch_method(CatalogTransaction, "commit", "transaction.commit")
    t.patch_method(LakeWriter, "write", "writer.write")
    t.patch_function("dlt_iceberg_spark.schema.converter", "infer_schema", "schema.infer")
    t.patch_function("dlt_iceberg_spark.schema.evolution", "evolve_schema_if_needed", "schema.evolve")
    t.patch_function("dlt_iceberg_spark.schema.casting", "cast_dataframe_safe", "schema.cast")
    t.patch_method(LakeTable, "prune_split", "merge.prune", _on_prune)
    t.patch_function("dlt_iceberg_spark.lake.merge", "merge_plan", "merge.plan")
    t.patch_method(LakeTable, "stage_dataframe", "table.stage", _on_stage)
    t.patch_method(LakeTable, "stage_delete_files", "table.stage_delete")
    t.patch_method(LakeTable, "stage_position_deletes", "table.stage_delete")
    t.patch_method(LakeTable, "commit", "table.commit", _on_commit)
    t.patch_method(LakeTable, "read", "table.read", _on_read)
    t.patch_method(LakeTable, "fold_deletes", "table.fold_deletes")
    t.patch_function("dlt_iceberg_spark.lake.manifest", "read_manifest", "manifest.read")
    t.patch_function("dlt_iceberg_spark.lake.manifest", "write_manifest", "manifest.write")
    for m in ("read_text", "read_bytes", "write_text", "write_bytes", "write_text_exclusive",
              "rename", "exists", "isdir", "listdir", "remove", "rmtree", "makedirs",
              "size", "mtime", "walk_files", "open_parquet_source"):
        t.patch_method(LocalFileIO, m, "fileio", _on_fileio if m.startswith("write") else None)
    t.patch_method(Dataset, "register_views", "dataset.register_views")
    t.patch_function("dlt_iceberg_spark.lake.maintenance", "compact_table",
                     "maintenance.compact", _on_compact)


def _on_prune(tracer: Tracer, args, kwargs, out) -> None:
    touched = out[0]
    tracer.count("merge.touched_rows", sum(f.rows for f in touched))
    tracer.count("merge.cow_merges")


def _on_stage(tracer: Tracer, args, kwargs, out) -> None:
    tracer.count("table.staged_files", len(out))
    tracer.count("table.staged_bytes", sum(f.bytes for f in out))


def _on_commit(tracer: Tracer, args, kwargs, out) -> None:
    summary = kwargs.get("summary") or {}
    if "rewritten_files" in summary:
        tracer.count("merge.rewritten_files", summary["rewritten_files"])
        tracer.count("merge.pruned_files", summary.get("pruned_files", 0))


def _on_read(tracer: Tracer, args, kwargs, out) -> None:
    table = args[0]
    snap = table.snapshot(kwargs.get("snapshot_version"))
    scanned = len(out.inputFiles())
    tracer.count("table.files_scanned", scanned)
    tracer.count("table.live_files", snap.n_files + len(snap.delete_files))
    tracer.count("table.delete_files_applied", len(snap.delete_files))


def _on_fileio(tracer: Tracer, args, kwargs, out) -> None:
    data = args[2] if len(args) > 2 else kwargs.get("data", b"")
    tracer.count("fileio.bytes_written", len(data.encode() if isinstance(data, str) else data))


def _on_compact(tracer: Tracer, args, kwargs, out) -> None:
    tracer.count("maintenance.bytes_rewritten", out.rewritten_bytes)


def span_layer(name: str) -> str:
    return _SPAN_LAYER.get(name.split(".")[0], "other")


def job_layer(call_site: str | None) -> str | None:
    layer = call_site_layer(call_site)
    if layer is None:
        return None
    top = layer.split(".")[0]
    if top in ("queries", "operators", "schema"):
        return top
    return layer if layer in JOB_LAYERS else "other"


def per_layer(tracer: Tracer, ops: list, jobs: dict, groups: dict, clock_offset: float) -> dict:
    """Per-layer metrics from spans, counters, and the reduced event log.

    ``ops`` are the timed ops (with ``group``, ``t0`` and ``t1`` in
    perf-counter seconds); ``clock_offset`` converts perf-counter seconds to
    epoch seconds."""
    c = tracer.counters.get
    cow_rows = sum(op.rows_in for op in ops if op.extra.get("cow"))
    m = {
        "lake.pipeline.self_s": tracer.self_s("pipeline.run"),
        "lake.state.s": tracer.inclusive_s("state"),
        "lake.transaction.commit_s": tracer.inclusive_s("transaction.commit"),
        "lake.writer.self_s": tracer.self_s("writer.write"),
        "schema.infer_s": tracer.inclusive_s("schema.infer"),
        "schema.evolve_s": tracer.inclusive_s("schema.evolve"),
        "schema.cast_s": tracer.inclusive_s("schema.cast"),
        "lake.merge.plan_s": tracer.inclusive_s("merge.prune", "merge.plan"),
        "lake.merge.rewritten_files": c("merge.rewritten_files", 0),
        "lake.merge.pruned_files": c("merge.pruned_files", 0),
        "lake.merge.rewrite_amp": c("merge.touched_rows", 0) / cow_rows if cow_rows else 0.0,
        "lake.table.stage_s": tracer.inclusive_s("table.stage"),
        "lake.table.staged_files": c("table.staged_files", 0),
        "lake.table.staged_bytes": c("table.staged_bytes", 0),
        "lake.table.stage_delete_s": tracer.inclusive_s("table.stage_delete"),
        "lake.table.commit_s": tracer.inclusive_s("table.commit"),
        "lake.table.commits": tracer.n_spans("table.commit"),
        "lake.table.commit_retries": tracer.n_spans("table.commit", error="CommitConflictError"),
        "lake.manifest.reads": tracer.n_spans("manifest.read"),
        "lake.manifest.read_s": tracer.inclusive_s("manifest.read"),
        "lake.manifest.writes": tracer.n_spans("manifest.write"),
        "lake.manifest.write_s": tracer.inclusive_s("manifest.write"),
        "lake.fileio.calls": tracer.n_spans("fileio"),
        "lake.fileio.s": tracer.inclusive_s("fileio"),
        "lake.fileio.bytes_written": c("fileio.bytes_written", 0),
        "lake.table.read_plan_s": tracer.inclusive_s("table.read"),
        "lake.table.files_scanned": c("table.files_scanned", 0),
        "lake.table.scan_frac": (
            c("table.files_scanned", 0) / c("table.live_files") if c("table.live_files") else 0.0
        ),
        "lake.table.delete_files_applied": c("table.delete_files_applied", 0),
        "lake.dataset.register_views_s": tracer.inclusive_s("dataset.register_views"),
        "lake.maintenance.compact_s": tracer.inclusive_s("maintenance.compact"),
        "lake.maintenance.bytes_rewritten": c("maintenance.bytes_rewritten", 0),
        "lake.table.fold_deletes_s": tracer.inclusive_s("table.fold_deletes"),
        "queries.build_s": sum(op.extra.get("build_s", 0.0) for op in ops),
        "queries.exec_s": sum(op.extra.get("exec_s", 0.0) for op in ops),
    }
    spark = {k: 0.0 for k in SPARK_METRICS}
    by_layer = {layer: [0, 0.0] for layer in JOB_LAYERS}
    driver_s = 0.0
    for op in ops:
        for k, v in groups.get(op.group, {}).items():
            spark[k] += v
        spans = []
        for job in (j for j in jobs.values() if j.group == op.group):
            lo = max(job.start_ms / 1e3 - clock_offset, op.t0)
            hi = min((job.end_ms or job.start_ms) / 1e3 - clock_offset, op.t1)
            if hi > lo:
                spans.append((lo, hi))
            layer = job_layer(job.call_site)
            if layer is None:
                span = tracer.innermost_at(job.start_ms / 1e3 - clock_offset)
                layer = span_layer(span.name) if span is not None else "bench"
            by_layer[layer][0] += 1
            by_layer[layer][1] += ((job.end_ms or job.start_ms) - job.start_ms) / 1e3
        driver_s += (op.t1 - op.t0) - union_length(spans)
    for k, v in spark.items():
        m[f"spark.{k}"] = v
    m["driver.s"] = driver_s
    m["lake.state.spark_jobs"] = by_layer["lake.state"][0]
    for layer, (n, s) in by_layer.items():
        m[f"spark.jobs.{layer}"] = n
        m[f"spark.job_s.{layer}"] = s
    return m
