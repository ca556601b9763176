"""alaska_etl_spark — a PySpark-native analytics engine.

Re-expresses the query and data-processing capabilities of the reference
``apsocarras/alaska-etl`` pipeline (weather ETL: USCRN actuals, NWS
forecasts → warehouse → forecast-accuracy analytics) as idiomatic Spark
DataFrame / SQL / Structured Streaming plans, and extends it with the
operators a large-scale training-data pipeline needs (dedup, similarity
search, text analysis, multimodal columns) — all designed for a
multi-executor cluster at 100 TB, tested on local mode.

Layout:
  session      SparkSession factory with scale-aware defaults
  schemas      explicit StructTypes for the warehouse star (SURVEY §1.3)
  sources/     ingest parsers: USCRN fixed-width, wind subhourly, NWS tables
  functions/   scalar expression helpers (sentinel-aware casts, datetimes)
  operators/   dedup family, as-of join, similarity search, text analysis
  plans/       warehouse load protocol + analytics query layer
  streaming/   incremental Structured Streaming path

Subpackages do not re-export: their ``__init__`` files hold only a
docstring, so importing one submodule loads only what that submodule
imports. Callers import the submodule, e.g.
``from alaska_etl_spark.plans.warehouse import Warehouse``.
"""

__version__ = "0.1.0"
