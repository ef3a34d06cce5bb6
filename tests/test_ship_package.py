"""The package zip that get_spark ships to executors."""

from __future__ import annotations

import os
import tempfile
import zipfile

from verdictdb_spark.session import ship_package


class _Context:
    def __init__(self):
        self.added: list[str] = []

    def addPyFile(self, path: str) -> None:
        self.added.append(path)


class _Spark:
    def __init__(self):
        self.sparkContext = _Context()


def test_ship_package_keeps_one_zip_per_package_content(tmp_path, monkeypatch):
    # two driver processes shipping the same package share one zip
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    spark = _Spark()
    monkeypatch.setattr(os, "getpid", lambda: 1001)
    first = ship_package(spark)
    monkeypatch.setattr(os, "getpid", lambda: 1002)
    second = ship_package(spark)
    assert first == second
    assert spark.sparkContext.added == [first, second]
    assert os.listdir(tmp_path) == [os.path.basename(first)]
    with zipfile.ZipFile(first) as z:
        names = z.namelist()
    assert "verdictdb_spark/__init__.py" in names
    assert "verdictdb_spark/sampling/scramble.py" in names
