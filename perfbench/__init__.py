"""Benchmark of the gerrydb_etl_spark program; see WORKLOADS.md."""
