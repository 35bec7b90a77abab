"""The session factory and the Python worker daemon it names.

`pydaemon.installed_first` takes Spark's bundled pyspark/py4j zips off
the workers' path when an installed copy of the same release is found;
the session tests check where a worker really imported pyspark and this
package from, in the test session and under spark-submit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pyarrow as pa
import pyspark
import pytest

from log_project_spark.pydaemon import installed_first

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bundled(tmp_path, name: str, package: str, version: str) -> str:
    path = tmp_path / "spark" / name
    path.parent.mkdir(exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{package}/__init__.py", "")
        z.writestr(f"{package}/version.py", f"__version__ = {version!r}\n")
    return str(path)


def _installed(tmp_path, package: str, version: str) -> str:
    pkg = tmp_path / "site" / package
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f"__version__ = {version!r}\n")
    return str(pkg.parent)


def test_installed_first_drops_same_release_zips(tmp_path):
    spark_zip = _bundled(tmp_path, "pyspark.zip", "pyspark", "4.1.2")
    py4j_zip = _bundled(tmp_path, "py4j-0.10.9.9-src.zip", "py4j", "0.10.9.9")
    site = _installed(tmp_path, "pyspark", "4.1.2")
    _installed(tmp_path, "py4j", "0.10.9.9")
    other = str(tmp_path / "other")
    path = [other, spark_zip, py4j_zip, str(tmp_path), site]
    assert installed_first(path) == [other, str(tmp_path), site]


def test_installed_first_keeps_zip_of_another_release(tmp_path):
    path = [
        _bundled(tmp_path, "pyspark.zip", "pyspark", "4.1.2"),
        _installed(tmp_path, "pyspark", "4.1.1"),
    ]
    assert installed_first(path) == path


def test_installed_first_keeps_zip_without_installed_copy(tmp_path):
    (tmp_path / "site").mkdir()
    path = [_bundled(tmp_path, "pyspark.zip", "pyspark", "4.1.2"), str(tmp_path / "site")]
    assert installed_first(path) == path


def test_installed_first_without_bundled_zip(tmp_path):
    path = [str(tmp_path), _installed(tmp_path, "pyspark", "4.1.2")]
    assert installed_first(path) == path


def _jar(tmp_path, name: str, entries: list[str]) -> str:
    path = tmp_path / "jars" / name
    path.parent.mkdir(exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for entry in entries:
            z.writestr(entry, "")
    return str(path)


def test_installed_first_drops_jar_without_python(tmp_path):
    core = _jar(tmp_path, "spark-core_2.13-4.1.2.jar", [
        "META-INF/MANIFEST.MF", "org/apache/spark/SparkContext.class", "org/python/README",
    ])
    path = [str(tmp_path), core, str(tmp_path / "site")]
    assert installed_first(path) == [str(tmp_path), str(tmp_path / "site")]


def test_installed_first_keeps_jar_holding_python(tmp_path):
    path = [
        _jar(tmp_path, "with-source.jar", ["META-INF/MANIFEST.MF", "pkg/__init__.py"]),
        _jar(tmp_path, "with-bytecode.jar", ["mod.pyc"]),
        str(tmp_path / "missing.jar"),
    ]
    assert installed_first(path) == path


def test_worker_imports_installed_pyspark(spark):
    def origin(batches):
        """Where this worker imported pyspark from, its PYTHONPATH, and
        how many zipimporters it caches on pyspark.zip and on jars."""
        import zipimport

        zips = [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{
                "pyspark": pyspark.__file__,
                "pythonpath": os.environ.get("PYTHONPATH", ""),
                "zipimporters": sum("pyspark.zip" in p for p in zips),
                "jar_zipimporters": sum(".jar" in p for p in zips),
            }])

    ddl = "pyspark string, pythonpath string, zipimporters long, jar_zipimporters long"
    row = spark.range(1, numPartitions=1).mapInArrow(origin, ddl).first()
    bundled = [p for p in row.pythonpath.split(os.pathsep) if p.endswith("pyspark.zip")]
    with open(os.path.join(os.path.dirname(pyspark.__file__), "version.py"), "rb") as f:
        installed = f.read()
    for path in bundled:
        with zipfile.ZipFile(path) as z:
            if z.read("pyspark/version.py") != installed:
                pytest.skip(f"{path} is not the installed pyspark's release")
    assert ".zip" not in row.pyspark
    assert row.zipimporters == 0
    assert any(p.endswith(".jar") for p in row.pythonpath.split(os.pathsep))
    assert row.jar_zipimporters == 0


def test_package_import_leaves_pyspark_unloaded():
    out = subprocess.run(
        [sys.executable, "-c", "import sys, log_project_spark; print('pyspark' in sys.modules)"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "False"


SUBMITTED = """
import json
import pyarrow as pa
from log_project_spark.session import get_spark

def origin(batches):
    import log_project_spark
    for _ in batches:
        yield pa.RecordBatch.from_pylist([{"package": log_project_spark.__file__}])

spark = get_spark()
row = spark.range(1, numPartitions=1).mapInArrow(origin, "package string").first()
print("RESULT " + json.dumps({"master": spark.sparkContext.master, "package": row.package}))
spark.stop()
"""


def test_spark_submit_master_and_zip_package(tmp_path):
    home = os.environ.get("SPARK_HOME")
    submit = os.path.join(home, "bin", "spark-submit") if home else shutil.which("spark-submit")
    if not submit or not os.path.exists(submit):
        pytest.skip("spark-submit not found")
    subprocess.run(["sh", "scripts/build_pyfiles.sh"], cwd=ROOT, check=True, capture_output=True)
    (tmp_path / "job.py").write_text(SUBMITTED)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [submit, "--master", "local[2]", "--conf", "spark.ui.enabled=false",
         "--py-files", os.path.join(ROOT, "dist", "log_project_spark.zip"), "job.py"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, out.stderr[-3000:]
    got = json.loads(lines[-1][len("RESULT "):])
    assert got["master"] == "local[2]"
    assert "log_project_spark.zip" in got["package"]
