"""SparkSession helpers tuned for the sketch workload."""

from __future__ import annotations

import hashlib
import os
import re
import sys
import tempfile
import time
import zipfile
import zipimport

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> str:
    """Ship this package to executors (the --py-files contract).

    Workers unpickle UDF closures by importing ``verdictdb_spark``;
    in any deployment where the repo isn't on the worker PYTHONPATH
    (a real cluster, or a driver launched from another cwd) the
    package must travel with the job.  Zips the package and
    ``addPyFile``s it — the local-mode equivalent of
    ``spark-submit --py-files verdictdb_spark.zip``.

    Spark copies the zip into the executor's ``userFiles-*`` directory
    and never rewrites that copy, so a worker that imported the package
    from it stops re-reading it, and the archives under ``SPARK_HOME``,
    on every task's ``importlib.invalidate_caches()`` (a CPython 3.11
    cost that gh-103200 makes lazy in 3.12; see
    :func:`freeze_worker_zip_caches`).
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    files = sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, names in os.walk(pkg_dir)
        if "__pycache__" not in d
        for f in names
        if not f.endswith(".pyc")
    )
    digest = hashlib.sha256()
    for rel in files:
        with open(os.path.join(root, rel), "rb") as f:
            digest.update(rel.encode() + b"\0" + f.read() + b"\0")
    # named by content: every driver shipping this package version
    # shares one zip, which is never rewritten once in place, so no
    # session's executors can fetch a half-written file
    zip_path = os.path.join(
        tempfile.gettempdir(), f"verdictdb_spark_pkg_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=os.path.dirname(zip_path))
        try:
            with os.fdopen(fd, "wb") as out, zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
                for rel in files:
                    z.write(os.path.join(root, rel), rel)
            os.chmod(tmp, 0o644)  # mkstemp's 0600 would lock out other users
            os.replace(tmp, zip_path)
        except BaseException:
            os.unlink(tmp)
            raise
    spark.sparkContext.addPyFile(zip_path)
    return zip_path


class _FrozenZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` over an archive that cannot change while the
    worker lives: ``invalidate_caches`` keeps the directory it read."""

    def invalidate_caches(self):
        pass


# (pid, monotonic ns) of the freeze in this worker process
_WORKER_FREEZE: tuple[int, int] | None = None


def freeze_worker_zip_caches() -> None:
    """Stop a Python worker re-reading immutable zip archives per task.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task (``pyspark/worker_util.py``, ``setup_spark_files``).  Under
    CPython 3.11 each cached ``zipimporter`` then re-reads its whole
    archive directory; a worker holds a dozen over ``pyspark.zip`` alone,
    which costs 0.17-0.33 s a task on 4 busy cores (CPython 3.12, gh-103200, makes the
    re-read lazy).  This freezes, once per worker process, the importers
    over archives that cannot change while it lives: those under
    ``realpath(SPARK_HOME)`` (``pyspark.zip``, py4j, the spark-core jar)
    and the exact zip this package was imported from (the ``userFiles``
    copy of :func:`ship_package`'s zip).  Importers created later over
    those archives are frozen too.  ``FileFinder`` objects and importers
    over any other archive (a later ``addPyFile``) keep their per-task
    refresh, which is what the call is there for.  Runs when the package
    is imported; does nothing on the driver.
    """
    global _WORKER_FREEZE
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:
        return
    if not SparkFiles._is_running_on_worker or _WORKER_FREEZE is not None:
        return
    spark_home = os.environ.get("SPARK_HOME")
    home = os.path.join(os.path.realpath(spark_home), "") if spark_home else None
    own = getattr(sys.modules[__package__].__spec__.loader, "archive", None)
    own = os.path.realpath(own) if own else None

    def frozen(archive: str) -> bool:
        real = os.path.realpath(archive)
        return real == own or bool(home and real.startswith(home))

    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is zipimport.zipimporter and frozen(finder.archive):
            finder.__class__ = _FrozenZipImporter

    # a package first imported after this (pyspark.testing, a jar's
    # google/) gets a new importer over a frozen archive: freeze it too
    def path_hook(path: str) -> zipimport.zipimporter:
        importer = zipimport.zipimporter(path)
        if frozen(importer.archive):
            importer.__class__ = _FrozenZipImporter
        return importer

    sys.path_hooks[:] = [
        path_hook if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    _WORKER_FREEZE = (os.getpid(), time.monotonic_ns())


# Spark's LOCAL_N_REGEX / LOCAL_N_FAILURES_REGEX (SparkMasterRegex)
_LOCAL_MASTER = re.compile(r"local\[(\d+|\*)(?:\s*,\s*\d+)?\]")


def master_cores(master: str) -> int:
    """Task slots of a Spark master: N for ``local[N]`` and
    ``local[N,maxFailures]``, 1 for ``local``, and the CPUs this process
    may run on for ``local[*]`` or any master it cannot read."""
    master = master.strip()
    if master == "local":
        return 1
    m = _LOCAL_MASTER.fullmatch(master)
    if m and m.group(1) != "*":
        return int(m.group(1))
    return len(os.sched_getaffinity(0))


def get_spark(
    app: str = "verdictdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    n = master_cores(master)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(n, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Big Arrow batches amortize the Python/JVM boundary for sketch builds.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = b.getOrCreate()
    ship_package(spark)
    return spark


def load_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None):
    """Register the driver testdata parquet files as temp views."""
    names = tables or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for t in names:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        df.createOrReplaceTempView(t)
        out[t] = df
    return out
