"""Independent model for the correctness gate: DuckDB over raw parquet.

The lake workloads' final tables are compared with a replay of the same
seeded operation list, applied with plain SQL to tables loaded from the
fixture parquet, by an order-insensitive hash.  Reads are checked against
the replay's answer at the same point in the sequence.  Analytics results
are checked against the registry's DuckDB oracles, normalized as the
repository's oracle checker normalizes them (columns by name, rows by all
columns).
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by every column; timestamps as
    integer microseconds and integers as int64 so engines agree on dtype."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_integer_dtype(s) and not isinstance(s.dtype, pd.CategoricalDtype):
            df[c] = s.astype("int64")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def frame_digest(df: pd.DataFrame) -> tuple:
    """(row count, column names and dtype kinds, order-insensitive hash)."""
    df = normalize(df)
    cols = tuple((c, df[c].dtype.kind) for c in df.columns)
    if not len(df):
        return 0, cols, 0
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return len(df), cols, int(h.sum(dtype=np.uint64))


def values_match(got, want, rel: float = 1e-9) -> bool:
    """Row lists equal, floats within a relative tolerance (the two engines
    sum doubles in different orders)."""
    if len(got) != len(want):
        return False
    for g_row, w_row in zip(got, want):
        if len(g_row) != len(w_row):
            return False
        for g, w in zip(g_row, w_row):
            if isinstance(g, float) or isinstance(w, float):
                if g is None or w is None:
                    if g is not w:
                        return False
                elif not math.isclose(float(g), float(w), rel_tol=rel, abs_tol=1e-6):
                    return False
            elif hasattr(w, "to_pydatetime") or hasattr(g, "isoformat") or hasattr(w, "isoformat"):
                if pd.Timestamp(g) != pd.Timestamp(w):
                    return False
            elif g != w:
                return False
    return True


class LakeModel:
    """The fixture tables in DuckDB, mutated op by op."""

    def __init__(self, data_dir: str, tables: dict[str, str]):
        """``tables`` maps table name → its starting query, in which
        ``{data}`` names the fixture directory."""
        self.con = duckdb.connect()
        for name, sql in tables.items():
            self.con.execute(f"CREATE TABLE {name} AS " + sql.format(data=data_dir))

    def _cols(self, table: str) -> str:
        rows = self.con.execute(f"DESCRIBE {table}").fetchall()
        return ", ".join(r[0] for r in rows)

    def apply(self, step: tuple) -> None:
        kind = step[0]
        if kind == "sql":
            self.con.execute(step[1])
            return
        _, table, keys, path = step
        src = f"read_parquet('{path}')"
        cols = self._cols(table)
        if kind in ("upsert", "delete_insert"):
            key_list = ", ".join(keys)
            self.con.execute(
                f"DELETE FROM {table} WHERE ({key_list}) IN (SELECT ({key_list}) FROM {src})"
            )
            keep = "WHERE _dlt_deleted_at IS NULL" if kind == "delete_insert" else ""
            self.con.execute(f"INSERT INTO {table} SELECT {cols} FROM {src} {keep}")
        elif kind == "append":
            self.con.execute(f"INSERT INTO {table} SELECT {cols} FROM {src}")
        elif kind == "replace_month":
            self.con.execute(
                f"DELETE FROM {table} WHERE date_trunc('month', o_orderdate) IN "
                f"(SELECT DISTINCT date_trunc('month', o_orderdate) FROM {src})"
            )
            self.con.execute(f"INSERT INTO {table} SELECT {cols} FROM {src}")
        else:
            raise ValueError(f"unknown model step {kind!r}")

    def query(self, sql: str) -> list[tuple]:
        return sorted_rows(self.con.execute(sql).fetchall())

    def digest(self, table: str) -> tuple:
        return frame_digest(self.con.execute(f"SELECT * FROM {table}").df())

    def close(self) -> None:
        self.con.close()


def sorted_rows(rows) -> list[tuple]:
    """Rows as tuples in a total order that tolerates NULLs."""
    return sorted(
        (tuple(r) for r in rows),
        key=lambda row: tuple((v is None, v if v is not None else 0) for v in row),
    )


def oracle_digests(data_dir: str, names: list[str]) -> dict[str, tuple]:
    """Digest of each registry query's DuckDB oracle over ``data_dir``."""
    from dlt_iceberg_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for f in os.listdir(data_dir):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                        f"SELECT * FROM '{os.path.join(data_dir, f)}'")
        return {n: frame_digest(con.execute(REGISTRY[n].oracle).df()) for n in names}
    finally:
        con.close()
