"""opl_spark — a PySpark-native OLAP analytics engine.

A ground-up, Spark-first re-expression of the capabilities of the
reference system ``provincia-brescia/OPL`` (a PHP/MySQL snapshot-ETL +
OLAP cube HTTP API; see SURVEY.md):

- ``timescope``  — snapshot time-scope derivation + cron gating
  (reference: library_olap/OLAP.php:3-45).
- ``catalog``    — fact metadata: dimensions / levels / hierarchies /
  measures / aggregates, declared per fact in ``facts`` (reference:
  api-library-olap/README.md:90-161).
- ``cube``       — the OLAP query surface: cut (slice/dice), drilldown,
  measure/aggregate compilation to DataFrame plans (reference:
  api-library-olap/README.md:16-88).
- ``snapshot``   — the ETL engine: fact queries over source views, audit
  columns, idempotent partitioned append with schema merge (reference:
  library_olap/OLAP.php:296-384).
- ``operators``  — large-scale data-pipeline extensions (dedup,
  similarity search, text analysis, multimodal columns) beyond the
  reference's surface.
- ``sources``    — source registration (parquet dirs, JSON row scripts,
  JDBC) as Spark views.

Everything is stock PySpark DataFrame/SQL — no custom Catalyst rules, no
JVM code. Plans stay declarative so predicate pushdown, column pruning,
partition pruning, AQE and whole-stage codegen all apply.
"""

__version__ = "0.1.0"

from opl_spark.session import get_spark  # noqa: F401
