"""alpaca_pyspark_spark — a PySpark-native analytics engine.

A ground-up, Spark-first re-expression of the capabilities of the
reference connector ``tnixon/alpaca-pyspark`` (see SURVEY.md), extended
with the full relational surface its docs delegate to Spark SQL and the
LLM-training-data pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing) a 100 TB corpus pipeline needs.

Layout
------
- ``sources/``    — re-designed paginated-REST ingestion framework
  (Python DataSource API, Arrow-batched) + the four concrete Alpaca
  sources (stock bars / trades / option bars / corporate actions).
- ``operators/``  — derived relational operators Spark has no single
  primitive for: OHLCV bar construction, as-of join, split adjustment,
  sessionization, per-group top-k, dedup family, similarity search,
  text analysis, multimodal column plumbing.
- ``functions/``  — reusable Column expression helpers (all JVM-side
  built-ins; no row-at-a-time Python UDFs in hot paths).
- ``queries/``    — the declared query set (SURVEY.md §2G) as pure
  ``(spark, sf_dir) -> DataFrame`` functions plus DuckDB oracle SQL.
- ``streaming/``  — Structured Streaming variants (sessionization,
  stream-shaped trades source).
- ``plans/``      — plan inspection helpers used by tests to assert
  pushdown / broadcast / no-redundant-shuffle properties.
"""

from ._zipcache import install as _install_zipcache

# every Python worker that unpickles engine code imports this package
_install_zipcache()

__version__ = "0.1.0"
