"""Probe the Python worker's per-task import-cache cost.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; under CPython 3.11 that re-reads the directory of every cached
``zipimporter`` whose ``invalidate_caches`` is not frozen (see
``verdictdb_spark.session.freeze_worker_zip_caches``).  This runs a few
small ``mapInPandas`` jobs whose tasks import the package, as every
library closure does, and prints for each worker pid:

- the cached zipimporters by archive, and how many of them are frozen;
- the ``invalidate_caches()`` time per task (ms, min of 3 calls each).

Usage: python tools/worker_cost.py [--master local[4]] [--jobs 3]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
from collections import defaultdict

# the checkout this file lives in: its library is the one probed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe(batches):
    """One row per cached zipimporter archive in this worker, each
    carrying this task's ``invalidate_caches()`` time."""
    import importlib
    import time
    import zipimport

    import pandas as pd
    from pyspark import TaskContext

    import verdictdb_spark  # noqa: F401  (what unpickling a library closure does)

    for _ in batches:
        pass
    ms = []
    for _ in range(3):
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms.append((time.perf_counter() - t0) * 1e3)
    by_archive = defaultdict(lambda: [0, 0])
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            frozen = type(finder).invalidate_caches is not zipimport.zipimporter.invalidate_caches
            by_archive[finder.archive][0] += 1
            by_archive[finder.archive][1] += frozen
    task = TaskContext.get().taskAttemptId()
    rows = [(os.getpid(), task, a, n, k, min(ms)) for a, (n, k) in sorted(by_archive.items())]
    yield pd.DataFrame(rows, columns=["pid", "task", "archive", "importers", "frozen", "invalidate_ms"])


SCHEMA = "pid long, task long, archive string, importers long, frozen long, invalidate_ms double"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--jobs", type=int, default=3)
    args = ap.parse_args()

    import pandas as pd

    from verdictdb_spark.session import get_spark, master_cores

    cores = master_cores(args.master)
    # run outside the checkout, so workers import the package from the
    # shipped zip as they do in a deployment (and in perfbench)
    with tempfile.TemporaryDirectory(prefix="worker_cost_") as cwd:
        os.chdir(cwd)
        spark = get_spark("worker-cost", master=args.master)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            df = spark.range(cores * 8).repartition(cores).mapInPandas(probe, SCHEMA)
            pdf = pd.concat([df.toPandas() for _ in range(args.jobs)])
        finally:
            spark.stop()
    for pid, g in pdf.groupby("pid"):
        tasks = g.drop_duplicates("task")["invalidate_ms"]
        last = g[g["task"] == g["task"].max()]
        print(f"worker {pid}: {len(tasks)} tasks, invalidate_caches() "
              f"min/median/max {tasks.min():.2f}/{tasks.median():.2f}/{tasks.max():.2f} ms")
        for r in last.itertuples():
            print(f"  {r.importers:3d} importers, {r.frozen:3d} frozen  {r.archive}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
