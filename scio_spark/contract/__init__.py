"""The contract queries, one module per family.

Each ``q_<name>(spark, sf_dir)`` returns a DataFrame that is checked against
its ``ORACLE_*`` SQL, run in DuckDB over the same parquet tables.
``__spark_entry__.CONTRACT`` is the one list of them: it names each query
once, with its function and oracle, in driver-window order. The library
(``scio_spark/__init__.py``) does not import this package.
"""
