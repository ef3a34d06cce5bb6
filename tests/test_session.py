"""Session helpers: the master core count, and the worker's frozen
zip-import caches (``session.freeze_worker_zip_caches``)."""

from __future__ import annotations

import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from verdictdb_spark import session
from verdictdb_spark.session import master_cores

HOST_CPUS = len(os.sched_getaffinity(0))


@pytest.mark.parametrize(
    "master,cores",
    [
        ("local", 1),
        ("local[4]", 4),
        ("local[4,2]", 4),
        ("local[3, 5]", 3),
        ("local[*]", HOST_CPUS),
        ("local[*,2]", HOST_CPUS),
        ("spark://host:7077", HOST_CPUS),
        ("local[x]", HOST_CPUS),
    ],
)
def test_master_cores(master, cores):
    assert master_cores(master) == cores


def test_freeze_is_a_no_op_on_the_driver():
    session.freeze_worker_zip_caches()
    assert session._WORKER_FREEZE is None
    assert zipimport.zipimporter in sys.path_hooks
    assert not any(
        isinstance(f, session._FrozenZipImporter) for f in sys.path_importer_cache.values()
    )


PROBE_SCHEMA = (
    "pid long, freeze_pid long, stamp long, frozen long, misfrozen string, invalidate_ms double"
)


def _freeze_probe():
    """A ``mapInPandas`` function reporting, per task, what the freeze did
    in its worker.  Nested, so it is pickled by value."""

    def probe(batches):
        import importlib
        import os
        import sys
        import time
        import zipimport

        import pandas as pd

        from verdictdb_spark import session

        for _ in batches:
            pass
        ms = []
        for _ in range(3):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            ms.append((time.perf_counter() - t0) * 1e3)
        freeze_pid, stamp = session._WORKER_FREEZE
        home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        own = getattr(sys.modules["verdictdb_spark"].__spec__.loader, "archive", None)
        own = own and os.path.realpath(own)
        frozen, misfrozen = 0, []
        for path, f in list(sys.path_importer_cache.items()):
            if isinstance(f, zipimport.zipimporter):
                real = os.path.realpath(f.archive)
                want = real.startswith(home) or real == own
                got = type(f) is session._FrozenZipImporter
                frozen += got
                if want != got:
                    misfrozen.append(path)
            elif "invalidate_caches" in getattr(f, "__dict__", {}):
                misfrozen.append(path)
        yield pd.DataFrame({
            "pid": [os.getpid()], "freeze_pid": [freeze_pid], "stamp": [stamp],
            "frozen": [frozen], "misfrozen": [";".join(misfrozen)],
            "invalidate_ms": [min(ms)],
        })

    return probe


@pytest.fixture(scope="module")
def probe_rows(spark):
    """One row per task over three jobs of four tasks each."""
    import pandas as pd

    df = spark.range(16).repartition(4).mapInPandas(_freeze_probe(), PROBE_SCHEMA)
    return pd.concat([df.toPandas() for _ in range(3)], ignore_index=True)


def test_freeze_runs_once_per_worker(probe_rows):
    assert probe_rows["pid"].duplicated().any()  # some worker ran several tasks
    assert (probe_rows["freeze_pid"] == probe_rows["pid"]).all()
    assert (probe_rows.groupby("pid")["stamp"].nunique() == 1).all()


def test_freeze_only_spark_home_and_own_archives(probe_rows):
    assert (probe_rows["frozen"] > 0).all()  # pyspark.zip at least
    assert (probe_rows["misfrozen"] == "").all(), probe_rows["misfrozen"].unique()


def test_worker_invalidate_caches_is_cheap(probe_rows):
    assert probe_rows["invalidate_ms"].max() < 5.0, probe_rows["invalidate_ms"].describe()


def test_pyfile_added_after_freeze_still_imports(spark, tmp_path, probe_rows):
    name = f"late_pyfile_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def late(batches, name=name):
        import importlib
        import os

        import pandas as pd

        from verdictdb_spark import session

        for _ in batches:
            pass
        mod = importlib.import_module(name)
        yield pd.DataFrame({
            "pid": [os.getpid()], "stamp": [session._WORKER_FREEZE[1]],
            "value": [mod.VALUE],
            "frozen": [isinstance(mod.__spec__.loader, session._FrozenZipImporter)],
        })

    pdf = spark.range(16).repartition(4).mapInPandas(
        late, "pid long, stamp long, value long, frozen boolean"
    ).toPandas()
    assert (pdf["value"] == 42).all()
    assert not pdf["frozen"].any()
    # some task ran in a worker that had frozen its caches before the add
    before = dict(zip(probe_rows["pid"], probe_rows["stamp"]))
    reused = pdf[pdf["pid"].isin(before)]
    assert len(reused) > 0
    assert (reused["stamp"] == reused["pid"].map(before)).all()
