"""quackpipe_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of metrico/quackpipe (GigAPI).

The reference (/root/reference) is a Go time-series lakehouse that delegates
all relational operators to an embedded DuckDB. This package re-expresses
the same capability surface Spark-first:

- storage/ingest dataflow (line-protocol parsing, schema-on-write,
  hive-partitioned parquet, size-tiered compaction) as thin driver-side
  orchestration over DataFrame ops (``ingest``, ``writer``, ``plans``),
- the SQL query surface via Spark SQL / Catalyst (``query``, ``functions``),
- plus large-scale training-data pipeline operators (dedup, similarity
  search, text analysis, multimodal columns) under ``operators``.
"""

import sys

from quackpipe_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"


def _lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk (CPython 3.13 made it
    lazy too). A PySpark worker calls ``importlib.invalidate_caches()``
    before every task; on Python < 3.13 that re-parses the directory of
    every zip importer it holds — ``pyspark.zip`` and py4j's zip under a
    dozen package prefixes and the Spark core jar, ~28k entries — on
    every task of every Python stage.

    Sound: an importer whose archive has the same mtime, size and inode
    as at its last read holds that archive's current directory, and a
    changed archive is re-read as before. A file shipped later with
    ``addPyFile`` lands on a new path and so gets a new importer."""
    import os
    import zipimport

    eager = zipimport.zipimporter.invalidate_caches
    if getattr(eager, "lazy", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        if sig is None or self.__dict__.get("_read_sig") != sig:
            eager(self)
            self._read_sig = sig

    invalidate_caches.lazy = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# workers import this package when they unpickle a product function; the
# driver keeps the interpreter's own behaviour
if sys.version_info < (3, 13) and ("pyspark.worker" in sys.modules or "pyspark.daemon" in sys.modules):
    _lazy_zip_invalidation()
