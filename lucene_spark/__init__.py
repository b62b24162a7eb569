"""lucene_spark — a PySpark-native inverted-index builder + BM25 top-k query engine.

Brand-new engine (NOT a Lucene port) with the query semantics of the reference
``shubhamod/lucene`` (Apache Lucene 10.0.0-SNAPSHOT):

- input: a table of multi-turn conversation transcripts
  ``(conv_id string, turn_idx int, role string, text string, tool string, ts timestamp)``
  — one Lucene "document" == one turn, docID == row_number over (conv_id, turn_idx) - 1;
- index build: Arrow-vectorized tokenize → salted two-stage tf aggregation →
  range-partitioned 128-doc posting blocks with delta-gap varint packing and
  block-max (freq, norm) impact metadata, plus docs/term_stats/field_stats tables;
- query: classic-syntax subset parser → AST normalizer → either an exhaustive
  DataFrame plan (the correctness oracle) or a numpy block-max-WAND kernel
  (the pruned fast path), both rank-identical to Lucene's
  ``IndexSearcher.search(query, k)`` with BM25 (k1=1.2, b=0.75).

Float32 arithmetic mirrors ``BM25Similarity`` exactly (see ``similarity.py``) so
scores are bit-identical to Java floats, not merely close.
"""

import sys

from lucene_spark.smallfloat import int_to_byte4, byte4_to_int, LENGTH_TABLE
from lucene_spark.similarity import BM25Similarity


def _install_zip_directory_cache(version=sys.version_info) -> bool:
    """Make ``zipimporter.invalidate_caches()`` re-read an archive's central
    directory only when the archive changed on disk.

    PySpark workers call ``importlib.invalidate_caches()`` at the start of
    every task (``pyspark/worker_util.setup_spark_files``). Before CPython
    3.12 each cached ``zipimporter`` then eagerly re-reads its archive —
    one per package directory of ``pyspark.zip``, ~20 reads of a 3.5 MB
    file per task, ~0.2 s of fixed cost on every Python task. 3.12 made the
    reload lazy (gh-103200); this does the same by keying the reload on the
    archive's ``(st_mtime_ns, st_size)``, so a rewritten zip still reloads.
    Runs wherever the package is imported, which includes every Python
    worker that unpickles an engine kernel. Returns whether it installed
    (False on >= 3.12, or when already installed)."""
    import zipimport

    if tuple(version[:2]) >= (3, 12):
        return False
    orig = zipimport.zipimporter.invalidate_caches
    if getattr(orig, "_stat_keyed", False):
        return False
    import os

    seen: dict = {}  # archive path -> stat key its directory was read at

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and seen.get(self.archive) == key \
                and files is not None:
            self._files = files
            return
        orig(self)
        seen[self.archive] = key

    invalidate_caches._stat_keyed = True
    invalidate_caches._orig = orig
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


_install_zip_directory_cache()

__all__ = ["int_to_byte4", "byte4_to_int", "LENGTH_TABLE", "BM25Similarity"]

__version__ = "0.1.0"
