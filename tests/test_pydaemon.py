"""The Python worker daemon shim (plans/pydaemon.py): workers import
pyspark from the unpacked ``$SPARK_HOME/python`` and keep no zipimporter
on ``pyspark.zip`` or a jar.  The ``worker_sys_path`` tests need no
Spark; the last one asks a ``get_spark`` worker where its pyspark came
from."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).parent.parent))

from html_qt_spark.plans.pydaemon import worker_sys_path  # noqa: E402


def _spark_home(tmp_path, unpacked=True):
    home = tmp_path / "spark"
    (home / "python" / "lib").mkdir(parents=True)
    if unpacked:
        (home / "python" / "pyspark").mkdir()
        (home / "python" / "pyspark" / "daemon.py").write_text("")
    return str(home)


def _worker_path(home):
    lib = os.path.join(home, "python", "lib")
    return ["/cwd", "/tmp/userFiles-1",
            os.path.join(lib, "pyspark.zip"),
            os.path.join(lib, "py4j-0.10.9.9-src.zip"),
            os.path.join(home, "jars", "spark-core_2.13-4.1.2.jar"),
            "/repo", "/py/lib/python311.zip", "/py/lib/python3.11",
            "/py/lib/python3.11/site-packages"]


def test_unpacked_dir_first_zip_and_jars_dropped(tmp_path):
    home = _spark_home(tmp_path)
    path = _worker_path(home)
    assert worker_sys_path(path, home) == [
        os.path.join(home, "python"), "/cwd", "/tmp/userFiles-1",
        path[3], "/repo", "/py/lib/python311.zip", "/py/lib/python3.11",
        "/py/lib/python3.11/site-packages"]
    # already on the path: moved to the front, not listed twice
    again = worker_sys_path(path + [os.path.join(home, "python")], home)
    assert again == worker_sys_path(path, home)


@pytest.mark.parametrize("case", ["unset", "empty", "no_unpacked_package"])
def test_path_unchanged_without_unpacked_package(tmp_path, case):
    home = {"unset": None, "empty": "",
            "no_unpacked_package": _spark_home(tmp_path, unpacked=False)
            }[case]
    path = _worker_path(home or "/opt/spark")
    assert worker_sys_path(path, home) == path


SPARK_HOME = os.environ.get("SPARK_HOME", "")
UNPACKED = os.path.join(SPARK_HOME, "python", "pyspark")


@pytest.mark.skipif(
    not os.path.isfile(os.path.join(UNPACKED, "daemon.py")),
    reason="no unpacked pyspark under $SPARK_HOME/python")
def test_get_spark_worker_imports_unpacked_pyspark():
    from html_qt_spark.plans.session import get_spark

    spark = get_spark(cpus=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    def probe(batches):
        import sys as wsys

        import pyarrow as pa
        import pyspark

        zips = sorted(k for k, v in wsys.path_importer_cache.items()
                      if type(v).__name__ == "zipimporter")
        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"file": [pyspark.__file__], "zips": [zips]})

    (row,) = spark.range(1, numPartitions=1).mapInArrow(
        probe, "file string, zips array<string>").collect()
    assert row.file.startswith(UNPACKED + os.sep), row.file
    assert not [k for k in row.zips if "pyspark.zip" in k or ".jar" in k], \
        row.zips
