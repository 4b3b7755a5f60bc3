"""Family-split query/oracle registry modules.

Each module holds one family of (Spark query, DuckDB oracle) pairs.
__spark_entry__.py imports the modules (not their names) and is the single
assembly point for the driver contract: queries() / oracle_sql() name each
entry as ``<family>.<name>``.
"""
