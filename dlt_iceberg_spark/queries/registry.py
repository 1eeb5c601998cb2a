"""Query/operator registry — the engine's graded analytics surface.

Each entry pairs a Spark DataFrame program with an ANSI-SQL oracle that
DuckDB runs over the same parquet tables (driver contract in
``__spark_entry__.py``).  The reference delegates its whole read side to
DuckDB views (sql_client.py:102-149); here every query is a native Catalyst
plan — broadcast hints on dimension tables, partial aggregation, pushed
filters — designed to survive a 100 TB / 1000-executor scale-up.

Cross-engine determinism rules used throughout (verified empirically):
- Doubles are normalized with ``floor(x*10^k + 0.5)/10^k`` — pure IEEE-754
  ops that are bit-identical in Spark and DuckDB (``round()`` is NOT: the
  engines disagree on e.g. 1.005).
- Ranked/limited outputs always carry a unique tie-break key.
- ``events.ts`` is ns in parquet; Spark side truncates to µs on load
  (io.py), oracles use ``ts::TIMESTAMP`` which truncates identically.
- Aggregates over INTEGER are cast to BIGINT in oracles (DuckDB sums to
  HUGEINT), matching Spark's long.

Gate fixtures: a query that reads something it must build first (a lake
table, a persisted index, a stream's landed output) passes
``setup(spark, sf_dir, root) -> fixture`` to ``query``.  ``setup`` runs
untimed, once per (query name, ``id(spark)``, ``abspath(sf_dir)``); the
registry memoizes what it returns (a raising setup memoizes nothing) and
hands it to the decorated ``fn(spark, sf_dir, fixture)``, which only reads.
``root`` is a fresh empty directory owned by the registry: all of them
live under ONE per-process directory ``<tmp>/spark_graft_gates_<pid>_*``,
and creating that directory removes the ones left by dead pids.  The
decorator registers and returns a ``(spark, sf_dir)`` wrapper, so every
``REGISTRY[name].fn`` keeps the two-argument signature.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dlt_iceberg_spark.io import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]
SetupFn = Callable[[SparkSession, str, str], Any]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None => non-SQL-expressible, rows-only check
    doc: str = ""
    setup: SetupFn | None = None

    def fixture(self, spark: SparkSession, sf_dir: str) -> Any:
        """Build (or return the memoized) fixture; None without ``setup``."""
        if self.setup is None:
            return None
        return _fixture(self.name, self.setup, spark, sf_dir)


REGISTRY: dict[str, QuerySpec] = {}

_GATES_PREFIX = "spark_graft_gates_"
_gates_dir: str | None = None
_FIXTURES: dict[tuple[str, int, str], Any] = {}


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by another user
        return True
    return True


def _gates_root() -> str:
    """This process's gate directory, created on first use.  Creating it
    first removes every sibling whose pid is dead: roots of live processes
    (a concurrent test or bench run) are never touched."""
    global _gates_dir
    if _gates_dir is None:
        tmp = tempfile.gettempdir()
        for entry in os.listdir(tmp):
            if not entry.startswith(_GATES_PREFIX):
                continue
            pid = entry[len(_GATES_PREFIX):].split("_", 1)[0]
            if pid.isdigit() and not _pid_alive(int(pid)):
                shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
        _gates_dir = tempfile.mkdtemp(prefix=f"{_GATES_PREFIX}{os.getpid()}_", dir=tmp)
    return _gates_dir


def _fixture(name: str, setup: SetupFn, spark: SparkSession, sf_dir: str) -> Any:
    key = (name, id(spark), os.path.abspath(sf_dir))
    if key not in _FIXTURES:
        root = tempfile.mkdtemp(prefix=f"{name}_", dir=_gates_root())
        try:
            _FIXTURES[key] = setup(spark, sf_dir, root)
        except BaseException:
            shutil.rmtree(root, ignore_errors=True)
            raise
    return _FIXTURES[key]


def query(name: str, oracle: str | None, doc: str = "", setup: SetupFn | None = None):
    def deco(fn):
        if setup is None:
            REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
            return fn

        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(spark, sf_dir, _fixture(name, setup, spark, sf_dir))

        for attr in ("__module__", "__name__", "__qualname__", "__doc__"):
            setattr(run, attr, getattr(fn, attr))
        REGISTRY[name] = QuerySpec(name, run, oracle, doc, setup)
        return run

    return deco


# ---------------------------------------------------------------------------
# deterministic float normalization (see module docstring)

def rnd(c: Column, digits: int = 2) -> Column:
    scale = float(10 ** digits)
    return (F.floor(c * F.lit(scale) + F.lit(0.5)).cast("double") / F.lit(scale)).alias("r")


def _sql_rnd(expr: str, digits: int = 2) -> str:
    scale = float(10 ** digits)
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)




def get_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def get_oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}
