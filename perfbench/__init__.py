"""Lakehouse benchmark for dlt_iceberg_spark (see README.md)."""
