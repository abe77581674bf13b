"""Closed-loop benchmark of the parquet4seastar_spark engine (see README.md)."""
