"""hadoop_brotli_spark — a PySpark-native analytics engine.

A from-scratch engine with the capabilities of the reference repo
``tesseract2048/hadoop-brotli`` (a Hadoop Brotli compression codec —
see SURVEY.md): a Spark-integrated streaming block-codec file layer
(`sources/`), plus the relational query surface the host framework
provides in the reference's deployment, re-expressed as first-class
DataFrame operators (`queries/`), plus LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing)
designed for 100 TB scale.

Design: DataFrame/Catalyst-first. No RDDs outside the codec path; no
row-at-a-time Python UDFs in any hot path; every operator declared
declaratively so Catalyst does pushdown / pruning / join planning.
"""

__version__ = "0.1.0"


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk.

    PySpark workers call ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``). Each ``zipimporter`` over
    ``pyspark.zip`` then re-reads the zip's whole central directory:
    about 0.25 s of CPU per task with 16 importers (4-CPU host,
    PySpark 4.1.2, Python 3.11). Workers
    import this package whenever they unpickle one of its readers,
    writers or UDFs, so every later task in a reused worker skips the
    re-read. A rewritten archive (new mtime or size) is still re-read,
    and new ``--py-files`` archives get new importers as before.
    """
    import os
    import zipimport

    original = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        key = (st.st_mtime_ns, st.st_size)
        if getattr(self, "_read_stat", None) != key:
            original(self)
            self._read_stat = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
