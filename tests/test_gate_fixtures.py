"""The registry-owned gate fixture mechanism (queries/registry.py):
``query(..., setup=)`` memoizes one fixture per (name, session, sf_dir)
under a single per-process directory, and sweeps dead processes' roots.
"""

import os
import re
import subprocess
import sys
import tempfile

import duckdb
import pytest

from dlt_iceberg_spark.queries import REGISTRY, registry
from tools.check_oracle import TABLES, mismatched_columns, normalize

QUERIES_DIR = os.path.dirname(os.path.abspath(registry.__file__))
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def iso(tmp_path, monkeypatch):
    """Point the registry at a private temp dir and a fresh process root;
    drop every fixture and test query registered during the test."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(registry, "_gates_dir", None)
    monkeypatch.setattr(registry, "_FIXTURES", {})
    monkeypatch.setattr(registry, "REGISTRY", dict(registry.REGISTRY))
    return tmp_path


def _counting_gate(name, fail_first=False):
    calls = []

    def setup(spark, sf_dir, root):
        calls.append(root)
        assert os.path.isdir(root) and not os.listdir(root)
        if fail_first and len(calls) == 1:
            raise RuntimeError("setup failed")
        return ("fixture", len(calls))

    @registry.query(name, None, setup=setup)
    def gate(spark, sf_dir, fixture):
        return fixture

    return gate, calls


def test_setup_runs_once_per_name_session_and_sf_dir(iso):
    gate, calls = _counting_gate("t_gate_once")
    session, other = object(), object()
    assert gate(session, "/data/sf1") == ("fixture", 1)
    assert gate(session, "/data/sf1/") == ("fixture", 1)  # same abspath
    assert registry.REGISTRY["t_gate_once"].fn is gate
    assert len(calls) == 1
    assert gate(session, "/data/sf2") == ("fixture", 2)
    assert gate(other, "/data/sf1") == ("fixture", 3)
    assert len(calls) == 3
    assert registry.REGISTRY["t_gate_once"].fixture(session, "/data/sf2") == ("fixture", 2)
    assert len(calls) == 3


def test_raising_setup_is_not_memoized(iso):
    gate, calls = _counting_gate("t_gate_raise", fail_first=True)
    session = object()
    with pytest.raises(RuntimeError, match="setup failed"):
        gate(session, "/data/sf1")
    assert not os.path.exists(calls[0])  # its empty root is removed
    assert gate(session, "/data/sf1") == ("fixture", 2)
    assert gate(session, "/data/sf1") == ("fixture", 2)
    assert len(calls) == 2


def test_query_without_setup_keeps_its_function(iso):
    def plain(spark, sf_dir):
        return sf_dir

    assert registry.query("t_plain", None)(plain) is plain
    assert registry.REGISTRY["t_plain"].fn is plain
    assert registry.REGISTRY["t_plain"].fixture(object(), "/x") is None


def test_every_root_lies_under_one_process_dir(iso):
    roots = []
    for i in range(3):
        gate, calls = _counting_gate(f"t_gate_root{i}")
        gate(object(), "/data/sf1")
        roots += calls
    proc = registry._gates_root()
    assert re.fullmatch(rf"spark_graft_gates_{os.getpid()}_\w+", os.path.basename(proc))
    assert os.path.dirname(proc) == str(iso)
    assert {os.path.dirname(r) for r in roots} == {proc}
    assert [p for p in os.listdir(iso) if p.startswith("spark_graft_gates_")] == [
        os.path.basename(proc)
    ]


def test_sweep_removes_dead_pid_roots_and_keeps_live_ones(iso):
    dead_pid = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    dead = iso / f"spark_graft_gates_{dead_pid}_abc"
    (dead / "lake_merge_roundtrip_x").mkdir(parents=True)
    live = iso / f"spark_graft_gates_{os.getpid()}_old"
    live.mkdir()
    unrelated = iso / "lake_merge_keepme"
    unrelated.mkdir()
    proc = registry._gates_root()
    assert not dead.exists()
    assert live.exists() and unrelated.exists()
    assert os.path.isdir(proc) and proc != str(live)


def test_no_query_module_rolls_its_own_fixture_cache():
    offenders = []
    for fname in sorted(os.listdir(QUERIES_DIR)):
        if not fname.endswith(".py") or fname == "registry.py":
            continue
        with open(os.path.join(QUERIES_DIR, fname)) as f:
            for n, line in enumerate(f, 1):
                if "mkdtemp" in line or re.match(r"_\w*_CACHE\b.*=", line):
                    offenders.append(f"{fname}:{n}: {line.strip()}")
    assert not offenders, offenders


@pytest.mark.parametrize(
    # lake_count_pushdown's setup also asserts zero data scans in-process
    "name", ["lake_merge_roundtrip", "lake_count_pushdown", "ann_delete_lifecycle"]
)
def test_gate_matches_oracle_and_builds_its_fixture_once(spark, name):
    spec = REGISTRY[name]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    want = normalize(con.execute(spec.oracle).df())

    def n_roots():
        return sum(d.startswith(f"{name}_") for d in os.listdir(registry._gates_root()))

    for i in range(2):
        got = normalize(spec.fn(spark, SF_DIR).toPandas())
        assert list(got.columns) == list(want.columns)
        assert len(got) == len(want)
        assert mismatched_columns(got, want) == []
        if i == 0:
            built = n_roots()
    assert built >= 1 and n_roots() == built  # the second call reran no setup
