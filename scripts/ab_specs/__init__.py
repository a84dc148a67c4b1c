"""Specs for ``scripts/ab.py``: one module per A/B, each defining
``cases(spark, data)`` (and optionally ``fingerprint(spark, out)``)."""
