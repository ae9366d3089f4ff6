"""spark-transcript-dedup: a from-scratch PySpark-native near-duplicate
detection + clustering engine for multi-turn conversation transcripts.

Capabilities rebuilt from mhaseebtariq/doppel-speller (see SURVEY.md):
staged exact -> candidate-generation -> verification matching, re-expressed
as Spark DataFrame plans (MinHash+LSH candidate join, exact-Jaccard +
banded-Levenshtein verification, large-star/small-star connected-components
clustering).
"""

import os
import zipimport

from dedup.config import DedupConfig
from dedup.session import get_spark

__all__ = ["DedupConfig", "get_spark"]
__version__ = "0.1.0"


def _cache_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its (mtime, size, inode) differs from what that importer last read.

    The PySpark worker calls ``importlib.invalidate_caches()`` at the start
    of every task (pyspark/worker_util.py:144, ``setup_spark_files``), and
    CPython 3.11's ``zipimporter.invalidate_caches`` re-parses its whole
    archive's central directory each time (Lib/zipimport.py:329-336). A
    Spark 4.1 worker holds 16 zip importers over pyspark.zip, the py4j zip
    and the spark-core jar, so every task re-read 26,672 entries before its
    UDF body ran: 0.12-0.27 s per Arrow-UDF task on a 4-CPU host, which set
    a small micro-batch's latency. Every worker that unpickles a dedup UDF
    imports this package, so it installs the wrapper; a changed archive is
    still re-read, an unchanged one costs a ``stat``. An importer the
    wrapper has not seen yet is re-read once: nothing records when it last
    read its archive, which may have been rewritten since (a rebuilt
    ``--py-files`` zip at the same path). So a worker pays the re-read on
    its first two tasks, not on every task."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None  # a vanished archive: the original drops its entries
        if key is None or getattr(self, "_dedup_archive_stat", None) != key:
            reread(self)
        self._dedup_archive_stat = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_cache_zip_directories()
