"""Benchmark of the injector service and the query inventory."""
