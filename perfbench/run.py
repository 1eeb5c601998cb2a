#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

One driver process, one client issuing operations serially (a closed
loop) against a Spark ``local[min(4, cores)]`` session built through the
engine's ``configure_session``.  The run generates its inputs from
``--seed``, sets up the workload's fixture more than once (``setup_s`` is
the median), runs one untimed warm-up round, then times rounds of the
workload's fixed op sequence until ``--seconds`` have passed (at least one
whole round), checks every result and the final tables against an
independent DuckDB model, and prints one ``name value unit`` line per
metric followed by a provenance line and a final JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

Each op is timed twice: wall latency, and the CPU seconds the whole
process tree (this driver, the Spark JVM, Spark's Python workers) spent
while it ran.  The bounded metrics are CPU-based, because on a shared
host the wall time of the same op swings with the neighbours' load.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's layer boundaries, turns on Spark's event log, and reports the
per-layer metrics instead.  Everything the run writes lives under one
temporary directory in ``.perfbench_tmp/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

DRIVER_MEMORY = "2g"
MAX_CORES = 4
#: the tail is the value with this many samples above it
TAIL_BEYOND = 10

E2E_UNITS = {
    "setup_s": "s",
    "round_cpu_s": "s",
    "op_cpu_ms": "ms",
}


def unit_of(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name.startswith("spark.job_s."):
        return "s"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_frac", "_amp")):
        return "ratio"
    return "count"


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with ``TAIL_BEYOND``
    samples beyond it: the (TAIL_BEYOND+1)-th largest sample.  With too
    few samples it is the median."""
    n = len(values)
    if n == 0:
        return 0.0, 0.0
    if n <= 2 * TAIL_BEYOND:
        return statistics.median(values), 50.0
    return sorted(values)[n - 1 - TAIL_BEYOND], 100.0 * (1 - TAIL_BEYOND / n)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) of the process
    tree under this process: the Python driver, the Spark JVM it launched
    and the JVM's Python workers."""
    root_pid = os.getpid()
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p in parent and p != root_pid:
            p = parent[p]
        if p == root_pid:
            total += t
    return total / CLK_TCK


def host_steal_s() -> float:
    """Seconds of CPU the hypervisor took from this machine (all cores):
    recorded in provenance, since it is what makes wall times swing."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def git_commit() -> str:
    """HEAD from the checkout's own .git, if it has one (no git binary:
    it would search parent directories)."""
    head = os.path.join(REPO, ".git", "HEAD")
    try:
        with open(head, encoding="utf-8") as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        path = os.path.join(REPO, ".git", ref[5:])
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                return fh.read().strip()
        with open(os.path.join(REPO, ".git", "packed-refs"), encoding="utf-8") as fh:
            for line in fh:
                if line.rstrip().endswith(ref[5:]):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def build_session(root: str, workload: str, trace: bool):
    from pyspark.sql import SparkSession

    from dlt_iceberg_spark.session import configure_session

    cores = min(MAX_CORES, os.cpu_count() or 1)
    builder = configure_session(
        SparkSession.builder.master(f"local[{cores}]").appName(f"perfbench-{workload}")
    )
    builder = (
        builder.config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", os.path.join(root, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(root, "spark-warehouse"))
        # the JVM's temp files go under the run root; -UsePerfData stops it
        # writing its hsperfdata file to the system temp dir.  C1 only: with
        # C2 the JIT is still compiling a minute into a run, so how fast an
        # op runs depends on how far the compiler has got; C1 settles
        # during the warm-up round
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1",
        )
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        log_dir = os.path.join(root, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + log_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort so no JVM outlives the run
            proc.kill()
            proc.wait()


def jvm_memory_pools(spark):
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()


def peak_heap_mb(spark) -> float:
    """High-water mark of the driver JVM's heap pools since the last reset."""
    total = 0
    for pool in jvm_memory_pools(spark):
        if str(pool.getType().toString()) == "Heap memory":
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def execute(spark, op, group: str, tracer=None) -> None:
    op.group = group
    spark.sparkContext.setJobGroup(group, op.name)
    cow_before = tracer.counters.get("merge.cow_merges", 0) if tracer else 0
    cpu0 = tree_cpu_s()
    op.t0 = time.perf_counter()
    try:
        out = op.run()
        op.result = out if op.kind == "query" else None
    except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
        op.error = f"{type(exc).__name__}: {exc}"[:500]
        traceback.print_exc(file=sys.stderr)
    op.t1 = time.perf_counter()
    op.cpu_s = tree_cpu_s() - cpu0
    if tracer:
        op.extra["cow"] = tracer.counters.get("merge.cow_merges", 0) > cow_before


def verify(spark, wl, ops) -> list[str]:
    """Correctness gate: every read and every final table against the
    model.  Returns mismatch descriptions (empty = correct)."""
    from dlt_iceberg_spark.lake import LakeCatalog
    from perfbench.model import LakeModel, frame_digest, oracle_digests, values_match
    from perfbench.workloads import NAMESPACE

    errors = []
    ok_ops = [op for op in ops if op.error is None]
    names = sorted({op.model[1] for op in ok_ops if op.model[:1] == ("registry",)})
    oracle = oracle_digests(wl.data_dir, names)
    model = LakeModel(wl.data_dir, wl.model_tables())
    try:
        for op in ok_ops:
            kind = op.model[:1]
            if kind == ("registry",):
                got = frame_digest(op.result)
                if got != oracle[op.name]:
                    errors.append(f"{op.group} {op.name}: {got[:2]} != oracle {oracle[op.name][:2]}")
            elif kind == ("query",):
                want = model.query(op.model[1])
                if not values_match(op.result, want):
                    errors.append(f"{op.group} {op.name}: {op.result[:3]} != model {want[:3]}")
            else:
                for step in op.model:
                    model.apply(step)
        catalog = LakeCatalog(spark, wl.warehouse)
        for table in wl.model_tables():
            got = frame_digest(catalog.load_table(NAMESPACE, table).read().toPandas())
            want = model.digest(table)
            if got != want:
                errors.append(f"table {table}: {got} != model {want}")
    finally:
        model.close()
    return errors


def live_data_bytes(spark, wl) -> int:
    from dlt_iceberg_spark.lake import LakeCatalog
    from perfbench.workloads import NAMESPACE

    catalog = LakeCatalog(spark, wl.warehouse)
    return sum(
        catalog.load_table(NAMESPACE, t).snapshot().total_bytes
        for t in catalog.list_tables(NAMESPACE)
    )


def run(args, root: str) -> tuple[dict, dict, dict]:
    """Returns (result JSON, every metric measured, provenance)."""
    from perfbench import datagen
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    data_dir = os.path.join(root, "data")
    t0 = time.perf_counter()
    row_counts = datagen.generate(data_dir, args.seed, cls.n_orders, cls.n_embeddings)
    datagen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = build_session(root, args.workload, args.trace)
    session_s = time.perf_counter() - t0
    tracer = None
    clock_offset = time.time() - time.perf_counter()
    try:
        if args.trace:
            from perfbench import layers
            from perfbench.trace import Tracer

            tracer = Tracer()
            layers.install(tracer)
        setup_times, wl = [], None
        for rep in range(cls.setup_reps):
            if wl is not None:
                shutil.rmtree(wl.warehouse, ignore_errors=True)
                shutil.rmtree(wl.inputs, ignore_errors=True)
            spark.sparkContext.setJobGroup(f"{args.workload}:setup{rep}", "setup")
            t0 = time.perf_counter()
            wl = cls(spark, root, data_dir, args.seed, rep)
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = wl.round()
        for i, op in enumerate(warm):
            execute(spark, op, f"{args.workload}:warm{i}:{op.kind}")
        warmup_s = time.perf_counter() - t0
        if any(op.error for op in warm):
            raise RuntimeError(f"warm-up failed: {[op.error for op in warm if op.error]}")

        for pool in jvm_memory_pools(spark):
            pool.resetPeakUsage()
        if tracer:
            tracer.spans.clear()
            tracer.counters.clear()
            tracer.bookkeeping_s = 0.0
        wh_before = dir_bytes(wl.warehouse)
        # rounds of the workload's op sequence until --seconds have passed,
        # stopping between ops once the first round is complete
        timed = []
        steal0 = host_steal_s()
        loop_t0 = time.perf_counter()
        deadline = loop_t0 + args.seconds
        while len(timed) < len(warm) or time.perf_counter() < deadline:
            for slot, op in enumerate(wl.round()):
                if len(timed) >= len(warm) and time.perf_counter() >= deadline:
                    break
                op.slot = slot
                execute(spark, op, f"{args.workload}:{len(timed)}:{op.kind}", tracer)
                timed.append(op)
        loop_wall = time.perf_counter() - loop_t0
        steal_s = host_steal_s() - steal0
        heap_mb = peak_heap_mb(spark)
        if tracer:
            tracer.unpatch()

        spark.sparkContext.setJobGroup(f"{args.workload}:verify", "verify")
        wh_after = dir_bytes(wl.warehouse)
        live_bytes = live_data_bytes(spark, wl)
        try:
            errors = verify(spark, wl, warm + timed)
        except Exception as exc:  # noqa: BLE001 - a crashed gate is a failed gate
            traceback.print_exc(file=sys.stderr)
            errors = [f"verification raised {type(exc).__name__}: {exc}"]
        provenance = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "git_commit": git_commit(),
            "pyspark": __import__("pyspark").__version__,
            "pyarrow": __import__("pyarrow").__version__,
            "sf_dir": "generated from seed (perfbench/datagen.py)",
            "table_rows": row_counts,
            "datagen_s": round(datagen_s, 3),
            "session_start_s": round(session_s, 3),
            "setup_runs_s": [round(s, 3) for s in setup_times],
            "warmup_s": round(warmup_s, 3),
            "rounds": round(len(timed) / len(warm), 2),
            "loop_wall_s": round(loop_wall, 3),
            "host_steal_s": round(steal_s, 2),
        }
    finally:
        if tracer:
            tracer.unpatch()
        stop_session(spark)

    e2e, secondary = summarize(timed, setup_times, loop_wall, heap_mb,
                               wh_after - wh_before, wh_after, live_bytes)
    provenance["ops_by_kind"] = {}
    for op in timed:
        provenance["ops_by_kind"][op.name] = provenance["ops_by_kind"].get(op.name, 0) + 1
    for key, value in (("op_ms_by_slot", lambda o: (o.t1 - o.t0) * 1e3),
                       ("op_cpu_ms_by_slot", lambda o: o.cpu_s * 1e3)):
        provenance[key] = {}
        for op in timed:
            provenance[key].setdefault(f"{op.slot}:{op.name}", []).append(round(value(op)))
    provenance["op_tail_percentile"] = round(tail([(op.t1 - op.t0) * 1e3 for op in timed])[1], 2)
    provenance["errors"] = errors[:5]

    reported = e2e
    if args.trace:
        from perfbench import layers
        from perfbench.trace import read_event_log, reduce_events

        jobs, groups = reduce_events(read_event_log(os.path.join(root, "eventlog")))
        reported = layers.per_layer(tracer, timed, jobs, groups, clock_offset)
        reported.update(secondary)
        reported["trace.bookkeeping_s"] = tracer.bookkeeping_s
    result = {
        "correct": not errors,
        "attempted": len(timed),
        "failed": sum(1 for op in timed if op.error),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in reported.items()},
    }
    return result, {**e2e, **secondary, **reported}, provenance


def slot_medians(timed, value) -> list[float]:
    """Median of ``value(op)`` at each position of the round, over the
    rounds the run timed."""
    by_slot: dict[int, list[float]] = {}
    for op in timed:
        by_slot.setdefault(op.slot, []).append(value(op))
    return [statistics.median(by_slot[k]) for k in sorted(by_slot)]


def summarize(timed, setup_times, loop_wall, heap_mb, wh_growth, wh_bytes, live_bytes):
    """(end-to-end metrics, secondary metrics) of one run's timed ops.

    ``wh_growth`` is the warehouse's growth in bytes over the timed loop,
    ``wh_bytes`` its final size and ``live_bytes`` the data bytes its live
    snapshots reference."""
    lat_ms = [(op.t1 - op.t0) * 1e3 for op in timed]
    slot_ms = slot_medians(timed, lambda op: (op.t1 - op.t0) * 1e3)
    # CPU time is counted in 10 ms ticks; a floor keeps the mean defined
    slot_cpu_ms = [max(v, 1.0) for v in slot_medians(timed, lambda op: op.cpu_s * 1e3)]
    e2e = {
        "setup_s": statistics.median(setup_times),
        "round_cpu_s": sum(slot_cpu_ms) / 1e3,
        "op_cpu_ms": statistics.geometric_mean(slot_cpu_ms),
    }
    input_bytes = sum(op.input_bytes for op in timed)
    secondary = {
        "round_s": sum(slot_ms) / 1e3,
        "op_ms": statistics.geometric_mean(slot_ms),
        "wall_s": loop_wall,
        "op_tail_ms": tail(lat_ms)[0],
        "ops_per_s": len(timed) / loop_wall,
        "peak_heap_mb": heap_mb,
        "failed_frac": sum(1 for op in timed if op.error) / max(1, len(timed)),
        "write_amp": wh_growth / input_bytes if input_bytes else 0.0,
        "space_amp": wh_bytes / live_bytes if live_bytes else 0.0,
    }
    for kind in ("load", "query"):
        k_ms = [(op.t1 - op.t0) * 1e3 for op in timed if op.kind == kind]
        secondary[f"{kind}.p50_ms"] = statistics.median(k_ms) if k_ms else 0.0
        secondary[f"{kind}.tail_ms"] = tail(k_ms)[0]
    load_s = sum(op.t1 - op.t0 for op in timed if op.kind == "load")
    rows = sum(op.rows_in for op in timed if op.kind == "load")
    secondary["load.rows_per_s"] = rows / load_s if load_s else 0.0
    return e2e, secondary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import dlt_iceberg_spark  # noqa: F401
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine or its toolchain: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(REPO, ".perfbench_tmp")
    root = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    tempfile.tempdir = os.path.join(root, "tmp")
    cwd = os.getcwd()
    os.chdir(root)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, shown, provenance = run(args, root)
    finally:
        os.chdir(cwd)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    for name, value in shown.items():
        print(f"{name} {value:.6g} {unit_of(name)}")
    print("provenance " + json.dumps(provenance, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
