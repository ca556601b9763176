"""Scalar expression helpers — all built-in Catalyst expressions, no UDFs.

Every scalar operator in the reference (SURVEY §2.9) compiles to native
``pyspark.sql.functions`` so the hot path stays inside whole-stage
codegen.
"""
