"""Fast checks of the benchmark's own logic (no Spark session needed):
event-log reduction, the tail rule, self-time subtraction, metric
summaries, the correctness model's replay, and BENCHMARK.json's metric
lists against what the runner reports.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import datagen, layers, run  # noqa: E402
from perfbench.model import LakeModel, frame_digest, values_match  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Tracer, call_site_layer, read_event_log, reduce_events, union_length,
)
from perfbench.workloads import Op, month_days  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- event log ----------------------------------------------------------------


def test_reducer_sums_a_captured_log_per_job_group():
    jobs, groups = reduce_events(read_event_log(os.path.join(DATA, "eventlog")))
    assert sorted(jobs) == [0, 1, 2, 3]
    assert [j.group for j in jobs.values()] == ["w:1:load"] * 2 + ["w:2:query"] * 2
    load, query = groups["w:1:load"], groups["w:2:query"]
    assert (load["jobs"], load["stages"], load["tasks"]) == (2, 2, 3)
    assert load["shuffle_read_bytes"] == load["shuffle_write_bytes"] == 461
    assert load["python_udf_rows"] == 0
    # the ArrowEvalPython node's output-row metric, summed over both tasks
    assert query["python_udf_rows"] == 100
    assert query["output_bytes"] == 1370  # the parquet write job
    assert load["job_wall_s"] == pytest.approx((1792171943261 - 1792171942339 + 1792171943789 - 1792171943507) / 1e3)
    assert jobs[3].call_site is None


def test_call_sites_map_to_package_modules():
    assert call_site_layer("collect at /work/dlt_iceberg_spark/lake/state.py:211") == "lake.state"
    assert call_site_layer("collect at /work/perfbench/run.py:10") is None
    assert call_site_layer(None) is None
    assert layers.job_layer("count at /x/dlt_iceberg_spark/operators/dedup.py:9") == "operators"
    assert layers.job_layer("count at /x/dlt_iceberg_spark/lake/rollup.py:9") == "other"


# -- tail rule ------------------------------------------------------------------


def test_tail_is_the_value_with_ten_samples_above_it():
    values = list(range(1, 101))  # 1..100
    value, pct = run.tail(values)
    assert value == 90 and sum(v > value for v in values) == 10
    assert pct == pytest.approx(90.0)
    value, pct = run.tail(list(range(1, 31)))
    assert value == 20 and pct == pytest.approx(100 * (1 - 10 / 30))


def test_tail_falls_back_to_the_median_when_samples_are_few():
    assert run.tail([5.0, 1.0, 3.0]) == (3.0, 50.0)
    assert run.tail([]) == (0.0, 0.0)


# -- spans ----------------------------------------------------------------------


def _span(tracer: Tracer, name: str, start: float) -> int:
    idx = tracer.open(name)
    tracer.spans[idx].start = start
    return idx


def _close(tracer: Tracer, idx: int, end: float) -> None:
    tracer.close(idx)
    tracer.spans[idx].end = end


def test_self_time_subtracts_the_union_of_child_spans():
    t = Tracer()
    root = _span(t, "writer.write", 0.0)
    a = _span(t, "table.stage", 1.0)
    _close(t, a, 4.0)
    b = _span(t, "table.commit", 6.0)
    inner = _span(t, "fileio", 6.2)
    _close(t, inner, 6.5)
    _close(t, b, 7.0)
    _close(t, root, 10.0)
    assert t.self_time(root) == pytest.approx(10.0 - 3.0 - 1.0)
    assert t.self_time(b) == pytest.approx(0.7)
    assert t.self_s("writer.write") == pytest.approx(6.0)
    assert t.inclusive_s("table.stage", "table.commit") == pytest.approx(4.0)
    assert t.innermost_at(6.3).name == "fileio"
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_nested_same_layer_spans_count_once():
    t = Tracer()
    outer = _span(t, "state", 0.0)
    inner = _span(t, "state", 1.0)
    _close(t, inner, 2.0)
    _close(t, outer, 5.0)
    assert t.inclusive_s("state") == pytest.approx(5.0)
    assert t.n_spans("state") == 2


def test_patching_wraps_every_bound_name_and_restores_it():
    mod = types.ModuleType("dlt_iceberg_spark._perfbench_probe")
    other = types.ModuleType("dlt_iceberg_spark._perfbench_probe_caller")

    def work(x):
        return x + 1

    mod.work = work
    other.work = work  # a `from ... import work` in another module
    sys.modules[mod.__name__], sys.modules[other.__name__] = mod, other

    class Table:
        def read(self, fail=False):
            if fail:
                raise ValueError("boom")
            return mod.work(1)

    original_read = Table.__dict__["read"]

    try:
        t = Tracer()
        seen = []
        t.patch_function(mod.__name__, "work", "probe.work",
                         lambda tr, a, k, out: seen.append(out))
        t.patch_method(Table, "read", "table.read")
        assert other.work(1) == 2 and Table().read() == 2
        with pytest.raises(ValueError):
            Table().read(fail=True)
        assert [s.name for s in t.spans] == ["probe.work", "table.read", "probe.work", "table.read"]
        assert t.spans[1].children == [2]
        assert t.n_spans("table.read", error="ValueError") == 1
        assert seen == [2, 2]
        t.unpatch()
        assert mod.work is work and other.work is work
        assert Table.__dict__["read"] is original_read
    finally:
        del sys.modules[mod.__name__], sys.modules[other.__name__]


# -- metric summaries ---------------------------------------------------------


def _op(kind, ms, rows=0, nbytes=0, error=None, slot=0, cpu_ms=0.0):
    op = Op(kind, kind, lambda: None, slot=slot, rows_in=rows, input_bytes=nbytes, error=error)
    op.t0, op.t1 = 0.0, ms / 1e3
    op.cpu_s = cpu_ms / 1e3
    return op


def test_summary_metrics():
    # two rounds of (load, query): each slot's median, then summed / averaged
    ops = [_op("load", 1000, rows=100, nbytes=50, cpu_ms=2000), _op("query", 200, slot=1, cpu_ms=400),
           _op("load", 3000, rows=300, nbytes=50, cpu_ms=4000),
           _op("query", 400, error="X", slot=1, cpu_ms=800)]
    e2e, sec = run.summarize(ops, [3.0, 1.0, 2.0], 10.0, 512.0,
                             wh_growth=400, wh_bytes=900, live_bytes=300)
    assert e2e == pytest.approx({"setup_s": 2.0, "round_cpu_s": 3.6, "op_cpu_ms": (3000 * 600) ** 0.5})
    assert sec["round_s"] == pytest.approx(2.3) and sec["op_ms"] == pytest.approx((2000 * 300) ** 0.5)
    assert sec["peak_heap_mb"] == 512.0
    assert sec["failed_frac"] == 0.25 and sec["write_amp"] == 4.0 and sec["space_amp"] == 3.0
    assert sec["load.p50_ms"] == 2000.0 and sec["query.p50_ms"] == pytest.approx(300.0)
    assert sec["load.rows_per_s"] == pytest.approx(100.0)
    assert sec["ops_per_s"] == pytest.approx(0.4)


def test_tree_cpu_counts_reaped_children():
    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert run.tree_cpu_s() - before >= 0.05


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    _, sec = run.summarize([_op("load", 1)], [1.0], 1.0, 1.0, 0, 0, 0)
    layer_names = set(layers.per_layer(Tracer(), [], {}, {}, 0.0)) | set(sec) | {"trace.bookkeeping_s"}
    assert {m["name"] for m in bench["per_layer"]} == layer_names
    for m in bench["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]), m["name"]


# -- correctness model --------------------------------------------------------


@pytest.fixture()
def tiny(tmp_path):
    data = str(tmp_path / "data")
    datagen.generate(data, seed=3, n_orders=150)
    return data, tmp_path


def _reference_upsert(df, batch, keys, deletes=None):
    """Pandas reference: drop target rows whose key is in the batch, then
    add the batch rows that are not hard deletes."""
    idx = pd.MultiIndex.from_frame(df[list(keys)])
    hit = idx.isin(pd.MultiIndex.from_frame(batch[list(keys)]))
    keep = batch if deletes is None else batch[batch[deletes].isna()].drop(columns=[deletes])
    return pd.concat([df[~hit], keep[df.columns]], ignore_index=True)


def test_model_replay_matches_a_pandas_reference(tiny):
    data, tmp = tiny
    rng = np.random.default_rng(0)
    orders = pq.read_table(f"{data}/orders.parquet").to_pandas()
    lineitem = pq.read_table(f"{data}/lineitem.parquet").to_pandas()
    model = LakeModel(data, {
        "orders": "SELECT * FROM '{data}/orders.parquet'",
        "lineitem": "SELECT * FROM '{data}/lineitem.parquet'",
    })
    try:
        up = datagen.orders_rows(rng, np.arange(140, 160), 15)  # 11 updates, 9 inserts
        up_path = str(tmp / "up.parquet")
        pq.write_table(up, up_path)
        model.apply(("upsert", "orders", ("o_orderkey",), up_path))
        orders = _reference_upsert(orders, up.to_pandas(), ["o_orderkey"])

        ok, ln = datagen.lines_for(np.array([5, 6]), np.array([2, 9]))
        di = datagen.lineitem_rows(rng, ok, ln, 20, 10)
        marker = pd.Series(pd.NaT, index=range(len(ok)), dtype="datetime64[us]")
        marker.iloc[-3:] = pd.Timestamp("2000-01-01")
        di_df = di.to_pandas().assign(_dlt_deleted_at=marker)
        di_path = str(tmp / "di.parquet")
        di_df.to_parquet(di_path)
        model.apply(("delete_insert", "lineitem", ("l_orderkey", "l_linenumber"), di_path))
        lineitem = _reference_upsert(lineitem, di_df, ["l_orderkey", "l_linenumber"], "_dlt_deleted_at")

        model.apply(("sql", "DELETE FROM orders WHERE o_orderkey >= 10 AND o_orderkey < 20"))
        orders = orders[(orders.o_orderkey < 10) | (orders.o_orderkey >= 20)]
        model.apply(("sql", "UPDATE orders SET o_orderstatus = 'P' WHERE o_orderkey < 5"))
        orders = orders.assign(o_orderstatus=orders.o_orderstatus.where(orders.o_orderkey >= 5, "P"))

        assert model.digest("orders") == frame_digest(orders)
        assert model.digest("lineitem") == frame_digest(lineitem)
        assert len(orders) == 150 + 9 - 10
        got = model.query("SELECT o_orderstatus, count(*) FROM orders GROUP BY 1")
        want = sorted(orders.groupby("o_orderstatus").size().items())
        assert values_match(got, want)
    finally:
        model.close()


def test_replace_month_step_swaps_only_that_month(tiny):
    data, tmp = tiny
    model = LakeModel(data, {"o": "SELECT * FROM '{data}/orders.parquet'"})
    try:
        lo, hi = month_days(3)
        batch = datagen.orders_rows(np.random.default_rng(1), np.arange(900, 905), 15,
                                    days=np.full(5, lo + 2))
        path = str(tmp / "m.parquet")
        pq.write_table(batch, path)
        before = model.query("SELECT count(*) FROM o")[0][0]
        in_month = model.query(
            f"SELECT count(*) FROM o WHERE o_orderdate >= TIMESTAMP '{datagen.day_ts(lo)}' "
            f"AND o_orderdate < TIMESTAMP '{datagen.day_ts(hi)}'")[0][0]
        model.apply(("replace_month", "o", (), path))
        assert model.query("SELECT count(*) FROM o")[0][0] == before - in_month + 5
    finally:
        model.close()


def test_digest_ignores_row_order_and_integer_width():
    a = pd.DataFrame({"k": np.array([1, 2, 3], np.int32), "v": [0.5, 1.5, 2.5]})
    b = pd.DataFrame({"v": [2.5, 0.5, 1.5], "k": np.array([3, 1, 2], np.int64)})
    assert frame_digest(a) == frame_digest(b)
    assert frame_digest(a) != frame_digest(b.assign(v=[2.5, 0.5, 1.25]))


def test_values_match_tolerates_float_summation_order():
    assert values_match([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert not values_match([(1, 0.31)], [(1, 0.3)])
    assert not values_match([(1, None)], [(1, 0.3)])


def test_generator_is_seed_deterministic(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    datagen.generate(a, seed=5, n_orders=100, n_embeddings=10)
    datagen.generate(b, seed=5, n_orders=100, n_embeddings=10)
    for f in sorted(os.listdir(a)):
        assert pq.read_table(f"{a}/{f}").equals(pq.read_table(f"{b}/{f}")), f
