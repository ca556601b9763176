"""Ingest sources: the reference's USCRN fixed-width, subhourly wind
and NWS (tabular and HTML) inputs → typed DataFrames.

Each parser takes paths or pre-read DataFrames (never the network) so
tests are hermetic; fetchers that do network IO live behind
:mod:`alaska_etl_spark.sources.fetch` and are injected (SURVEY §7.4).
"""
