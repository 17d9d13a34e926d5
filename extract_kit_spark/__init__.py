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
pipeline.py  the Spark job: per commit group read → mapInPandas → write
             → manifest commit
manifest.py  checkpoint manifest (= per-partition lineage), exact resume
fixtures.py  deterministic synthetic `pages` table generator (seed=42)
session.py   SparkSession helper tuned for the extraction workload

Imported inside a Spark task, the package first stops the Python worker
re-reading unchanged zip archives before every task
(``_stat_checked_zip_rereads``).
"""

import sys

__version__ = "0.1.0"


def _stat_checked_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the archive changed since its last read.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``worker_util.setup_spark_files``). Before
    CPython 3.13 every ``zipimporter`` then re-reads its archive's whole
    central directory: pyspark.zip once per imported subpackage, plus
    py4j's zip, ~26,700 entries and 0.25–0.3 s per task on a 4-core VM
    even in a reused worker. This keeps, per archive, the
    ``(st_mtime_ns, st_size, st_ino)`` and the directory of its last
    read, and re-reads only when the stat differs; an importer of an
    unchanged archive takes the kept directory. The archives read before
    this is installed are taken as read at their current stat. Runs once
    per process; CPython 3.13+ only drops a cache entry there, so it is
    left alone."""
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(reread, "stat_checked", False):
        return
    cache = zipimport._zip_directory_cache
    last = {}  # archive -> (stat, directory) of its last read

    def stat(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def invalidate_caches(self):
        st = stat(self.archive)
        seen = last.get(self.archive)
        if st is not None and seen is not None and seen[0] == st:
            self._files = cache[self.archive] = seen[1]
            return
        reread(self)
        last[self.archive] = (st, self._files)

    for archive, files in list(cache.items()):
        last[archive] = (stat(archive), files)
    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if "pyspark" in sys.modules \
        and sys.modules["pyspark"].TaskContext.get() is not None:
    _stat_checked_zip_rereads()
