"""topnotch_spark — a PySpark-native data-quality and data-processing engine.

A from-scratch rebuild of the capabilities of blackrock/TopNotch (a
Scala/Spark-2.0 declarative QC engine; reference surveyed in SURVEY.md),
re-expressed as idiomatic PySpark: DataFrame/SQL plans compiled by Catalyst,
AQE-enabled, shuffle-aware, with the LLM-data-pipeline extensions
(deduplication, similarity search, multimodal columns, text analysis) that a
100 TB training-data pipeline needs.

User surface (mirrors the reference's three commands + plan container,
docs/CONCEPTS.md:25-31 of the reference):

- ``assertion`` — rule-based validity checks with failure thresholds,
  invalid-row samples, window context and summary stats.
- ``diff``      — keyed two-dataset comparison with per-column equality
  status and numeric tolerance.
- ``view``      — arbitrary Spark SQL over named inputs.
- ``plan``      — nestable sequence of the above, parsed from JSON.

Extensions (this engine only): ``dedup`` (exact / minhash-LSH / simhash /
ngram-jaccard / embedding-cosine), ``similarity`` (brute-force + LSH ANN),
``text`` (lang-id, quality scoring, token stats, fingerprints),
``multimodal`` (binary payload plumbing), and a Structured-Streaming
assertion mode.
"""

import sys

__version__ = "0.1.0"


def _install_zipimport_cache_guard() -> None:
    """Make ``importlib.invalidate_caches()`` cheap when zip archives on
    ``sys.path`` have not changed.

    pyspark's worker loop calls ``importlib.invalidate_caches()`` once per
    TASK (worker_util.setup_spark_files), and on CPython <= 3.11
    ``zipimport.zipimporter.invalidate_caches`` re-reads the archive's
    whole central directory unconditionally — one re-read per cached
    zipimporter, and every pyspark subpackage imported from pyspark.zip
    holds its own importer. Measured on this environment: 68 ms per
    invalidate with only 14 importers, i.e. hundreds of ms of pure-Python
    CPU per task before any real work; worker stack samples during a
    streaming micro-batch showed ``zipimport._read_directory`` as the
    single largest CPU consumer. CPython 3.12+ fixed this upstream by
    keying the directory cache on the archive's (mtime, size) — this
    installs the same guard: re-read only when the stat changes, which is
    exactly the pre-existing semantics (a replaced archive is still
    picked up), just without the per-call re-parse.

    Runs here (package import) so every Python worker that unpickles one
    of our UDFs is patched for the rest of its (reused) life — the guard
    pays back on every subsequent task the worker serves.
    """
    import os
    import zipimport

    orig = zipimport.zipimporter.invalidate_caches
    if getattr(orig, "_tn_stat_guard", False):  # idempotent
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            return orig(self)
        if getattr(self, "_tn_zipdir_key", None) == key:
            return
        orig(self)
        # a failed read drops the archive from the directory cache: do
        # not pin its stat, so the next call re-probes it
        if self.archive in zipimport._zip_directory_cache:
            self._tn_zipdir_key = key

    invalidate_caches._tn_stat_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 12):
    _install_zipimport_cache_guard()

from topnotch_spark.session import get_spark  # noqa: E402,F401
