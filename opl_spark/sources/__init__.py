from opl_spark.sources.registry import (  # noqa: F401
    TABLES,
    load_table,
    register_sources,
)
