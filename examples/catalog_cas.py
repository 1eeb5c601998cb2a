"""Object-store deployment shape: catalog-owned branch pointers.

Object stores have no atomic rename, so the default file-pointer commit is
REFUSED there (`NonAtomicCommitError`).  The supported deployment routes
every branch-head swap through a catalog's compare-and-swap — this script
runs that path live against the in-process CAS server (swap the URL for a
real Nessie/Lakekeeper endpoint in production):

    python examples/catalog_cas.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from dlt_iceberg_spark.errors import CommitConflictError, NonAtomicCommitError
from dlt_iceberg_spark.lake.catalog import LakeCatalog
from dlt_iceberg_spark.lake.fileio import LocalFileIO
from dlt_iceberg_spark.lake.pointers import MockCatalogServer
from dlt_iceberg_spark.lake.table import LakeTable
from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec


class ObjectStoreIO(LocalFileIO):
    """Stand-in for an s3a:// HadoopFileIO: rename is not atomic."""

    atomic_rename = False


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    server = MockCatalogServer()
    url = server.start()
    print(f"catalog CAS server: {url}")

    with tempfile.TemporaryDirectory() as tmp:
        # 1. without a catalog, rename-less storage is refused up front
        bare = LakeTable(spark, f"{tmp}/bare", io=ObjectStoreIO())
        df = spark.range(10)
        try:
            bare.commit(bare.stage_dataframe(df), df.schema, "create", None)
        except NonAtomicCommitError as err:
            print(f"refused (as designed): {str(err)[:80]}...")

        # 2. with the catalog, the same storage commits safely
        catalog = LakeCatalog(spark, f"{tmp}/wh", pointer_catalog_url=url)
        writer = LakeWriter(catalog, "prod")
        spec = TableSpec(
            name="events",
            write_disposition={"disposition": "merge", "strategy": "upsert"},
            primary_key=["id"],
        )
        writer.write(spec, spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), load_id="l0")
        writer.write(spec, spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string"), load_id="l1")
        t = catalog.load_table("prod", "events")
        print(f"rows after two CAS-committed loads: {t.read().count()}")
        print(f"catalog refs: {t.branches()}")

        # 3. a racing writer loses at the catalog, not by corrupting state
        stale = catalog.load_table("prod", "events")
        head = stale.snapshot()
        fresh_files = t.stage_dataframe(spark.createDataFrame([(4, "d")], "id long, v string"))
        t.commit(None, head.schema, "append", head.version, new_files=fresh_files)
        try:
            stale_files = stale.stage_dataframe(spark.createDataFrame([(5, "e")], "id long, v string"))
            stale.commit(None, head.schema, "append", head.version, new_files=stale_files)
        except CommitConflictError as err:
            print(f"racer lost cleanly: {err}")

    server.stop()
    spark.stop()
    print("done")


if __name__ == "__main__":
    main()
