"""Expression library: tested, composable Column helpers.

These are the engine's equivalents of the reference's per-column
expressions (SURVEY §2.7–2.9). Everything here returns a
``pyspark.sql.Column`` built from built-in functions — JVM-side,
codegen-friendly, no Python UDFs.
"""
