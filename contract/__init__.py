"""The driver contract harness, kept out of the shipped engine.

``engine_queries`` is the query registry (``QUERIES``, ``ORACLES``,
``_GATE_HEAD``) and ``oracle`` the DuckDB oracle SQL it pairs with each
query. ``__spark_entry__`` exposes both; ``tools/package.py`` zips only
``s2_geometry_rust_spark``, so neither module ships with ``--py-files``.
"""
