"""extract_kit_spark — a PySpark-native document-extraction engine.

A brand-new, Spark-first reimplementation of the capabilities of
``aidalinfo/extract-kit`` (reference, read-only at /root/reference):
HTML boilerplate stripping + markdown serialization, DOCX (OMML math)
conversion, deterministic PDF layout/text parsing, schema-validated
structured extraction — expressed as vectorized Arrow/pandas stages
between ``pyspark.sql`` relational operators, designed for a
10^12-row Common-Crawl-style table.

Layout
------
kernels/   pure-Python extraction kernels (no Spark imports) — unit-testable
ops/       training-data-pipeline operators (dedup, similarity, text stats)
schemas.py StructType contracts (the reference's Zod schemas re-expressed)
pipeline.py  the Spark job: read → gate → repartition → mapInPandas → write
manifest.py  checkpoint manifest (= per-partition lineage), exact resume
fixtures.py  deterministic synthetic `pages` table generator (seed=42)
session.py   SparkSession helper tuned for the extraction workload
"""

__version__ = "0.1.0"
