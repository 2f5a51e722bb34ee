"""Workload benchmark for blueetl_spark: campaign runs, cached re-queries
and graph gates, timed from outside the package (see README.md)."""
