"""Closed-loop benchmark of finance_etl_system_spark (see README.md)."""
