"""The contract queries, one module per family: ``log``, ``doc``,
``events``, ``emb`` (with the image query) and ``tpch`` (with
``lineitem_rollup``). Each module holds its queries as module-level
``(spark, sf_dir) -> DataFrame`` functions and an ``oracle_sql(tables)``
returning the DuckDB SQL of each; ``common`` holds the steps they share.
``__spark_entry__`` fixes the order of the query names."""
