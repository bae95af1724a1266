"""Benchmark harness for the spark-graft package.

The package under test is treated as a black box: these modules generate
seeded inputs, call the package's public functions, time them, and check the
outputs against independent oracles. Nothing here imports from a private
name of the package or changes its configuration beyond ``get_spark``'s
public arguments and the ``SPARK_GRAFT_CPUS`` environment variable.
"""
