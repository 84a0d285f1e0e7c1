"""Gate families: one module per family, each exporting ``GATES``, a dict
of name -> (spark_fn(spark, sf_dir) -> DataFrame, DuckDB oracle SQL).
``queries.build_registry`` joins them into ``queries.REGISTRY``."""
