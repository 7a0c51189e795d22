"""SparkSession factory + executor code shipping.

``ensure_shipped(spark)`` zips the package and ``addPyFile``s it so
Arrow-UDF workers can ``import jivesearch_spark`` regardless of the
driver's working directory — the same mechanism ``spark-submit
--py-files jivesearch_spark.zip`` uses on a real cluster (the north
rule's deployment mode). Every public Spark-facing API calls it; it is
a no-op after the first call.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

_SHIPPED_SESSIONS: set[int] = set()


def package_zip() -> str:
    """Build (or reuse) a zip of jivesearch_spark for --py-files/addPyFile.

    The zip is named after the package directory, so two checkouts that
    share one temp dir each ship their own tree and each leaves one zip
    there. Its comment holds a hash of the package's sources: a tree
    whose hash differs (an edit) rebuilds the zip in place, and an
    unchanged tree reuses it."""
    import jivesearch_spark

    pkg_dir = os.path.dirname(os.path.realpath(jivesearch_spark.__file__))
    files = sorted(os.path.join(root, name)
                   for root, _dirs, names in os.walk(pkg_dir)
                   for name in names if name.endswith(".py"))
    digest = hashlib.sha1()
    for p in files:
        digest.update(os.path.relpath(p, pkg_dir).encode() + b"\0")
        with open(p, "rb") as f:
            digest.update(f.read() + b"\0")
    sources = digest.hexdigest().encode()
    name = hashlib.sha1(pkg_dir.encode()).hexdigest()[:16]
    zpath = os.path.join(tempfile.gettempdir(),
                         f"jivesearch_spark_pyfiles-{name}.zip")
    try:
        with zipfile.ZipFile(zpath) as zf:
            if zf.comment == sources:
                return zpath
    except (OSError, zipfile.BadZipFile):
        pass
    tmp = f"{zpath}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.comment = sources
        for p in files:
            arc = os.path.join("jivesearch_spark", os.path.relpath(p, pkg_dir))
            zf.write(p, arc)
    os.replace(tmp, zpath)
    return zpath


def ensure_shipped(spark) -> None:
    """Make the package importable on executors (idempotent per session)."""
    key = id(spark.sparkContext)
    if key in _SHIPPED_SESSIONS:
        return
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        # Already added under the same name in a previous run — fine.
        pass
    _SHIPPED_SESSIONS.add(key)


def get_spark(master: str | None = None, app_name: str = "jivesearch-spark",
              shuffle_partitions: int | None = None, **extra_conf):
    """Opinionated local/cluster session.

    Defaults chosen for the 100 TB design point scaled to local mode:
    AQE on (runtime skew-join + partition coalescing), Arrow transfers
    on with capped batch sizes so pandas-UDF kernels stay in memory.
    """
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus) * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # disable the per-ROW Arrow batch byte-size check: Spark's
        # BatchedPythonArrowInput calls ArrowWriter.sizeInBytes() —
        # a full walk of every field vector's buffers — before EVERY
        # row it writes to a Python worker, unless maxBytesPerBatch
        # equals Int.MaxValue exactly (underBatchSizeLimit$1 in
        # PythonArrowInput.scala short-circuits only on that sentinel;
        # the 64 MiB default and any other value pay the walk). JFR
        # showed that walk (NonNullableStructVector.getBufferSizeFor)
        # at ~20% of JVM CPU with 4 concurrent tasks per JVM — the
        # round-3 scaling loss. Batch memory stays bounded by
        # maxRecordsPerBatch (rows here are ≤ a few KB: pages, token
        # arrays, posting groups), which was the only protection the
        # byte cap added.
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str((1 << 31) - 1))
        # zstd for data-at-rest and shuffle: ~2x smaller intermediates
        # trade memory/disk bandwidth (shared, does not scale with
        # cores) for compression CPU (scales) — better multi-core
        # scaling AND smaller indexes
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.io.compression.codec", "zstd")
        # smaller input splits: scans produce ≥3 balanced waves instead
        # of e.g. 7 tasks on 4 cores (1.75 waves, last wave 43% idle)
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_shipped(spark)
    return spark
