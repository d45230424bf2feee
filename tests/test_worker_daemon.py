"""The Python worker daemon: which pyspark the workers import, and the pure
path choice behind it (``hive_udf_neologd_spark.worker_daemon``)."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import zipfile

import pytest
from pyspark.sql import functions as F

from hive_udf_neologd_spark.worker_daemon import worker_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, package: str, version: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{package}/__init__.py", "")
        z.writestr(f"{package}/version.py", f"__version__ = {version!r}\n")
    return str(path)


def _install(site, package: str, version: str) -> None:
    pkg = site / package
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f"__version__ = {version!r}\n")


@pytest.fixture
def spark_lib(tmp_path):
    """A fake ``$SPARK_HOME/python/lib`` with both source zips, and an
    empty site directory: ``(path, site)``, the path with the zips first."""
    lib = tmp_path / "lib"
    lib.mkdir()
    site = tmp_path / "site"
    site.mkdir()
    path = [
        _zip(lib / "pyspark.zip", "pyspark", "4.1.2"),
        _zip(lib / "py4j-0.10.9.9-src.zip", "py4j", "0.10.9.9"),
        str(tmp_path / "user"),
        str(site),
        str(tmp_path / "after"),
    ]
    return path, site


def test_matching_versions_drop_both_zips_and_keep_order(spark_lib):
    path, site = spark_lib
    _install(site, "pyspark", "4.1.2")
    _install(site, "py4j", "0.10.9.9")
    assert worker_path(path) == path[2:]


def test_version_mismatch_keeps_path(spark_lib):
    path, site = spark_lib
    _install(site, "pyspark", "4.1.1")
    _install(site, "py4j", "0.10.9.7")
    assert worker_path(path) == path


def test_mismatch_is_per_zip(spark_lib):
    # pyspark's zip stays; py4j's installed copy matches, so its zip goes.
    path, site = spark_lib
    _install(site, "pyspark", "4.0.0")
    _install(site, "py4j", "0.10.9.9")
    assert worker_path(path) == [path[0], *path[2:]]


def test_no_installed_copy_keeps_path(spark_lib):
    path, _ = spark_lib
    assert worker_path(path) == path


def test_no_zip_on_path_keeps_path(spark_lib):
    path, site = spark_lib
    _install(site, "pyspark", "4.1.2")
    _install(site, "py4j", "0.10.9.9")
    assert worker_path(path[2:]) == path[2:]


def test_import_loads_no_pandas_pyspark_or_udfs():
    # The daemon imports the module before it fixes the path, so the
    # module (and the package it sits in) must not pull in pyspark.
    code = (
        "import sys\n"
        "import hive_udf_neologd_spark.worker_daemon\n"
        "heavy = ('pandas', 'pyspark', 'hive_udf_neologd_spark.functions')\n"
        "loaded = sorted(m for m in sys.modules if m.startswith(heavy))\n"
        "assert not loaded, loaded\n"
    )
    env = {**os.environ, "PYTHONPATH": ROOT}
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env, check=True, timeout=120)


def _zip_matches_installed(zip_path: str, package: str) -> bool:
    """Whether the driver's own copy of ``package`` is installed outside
    the zip with the zip's ``version.py``."""
    installed = os.path.dirname(__import__(package).__file__)
    if ".zip" in installed:
        return False
    with zipfile.ZipFile(zip_path) as z:
        zipped = z.read(f"{package}/version.py")
    with open(os.path.join(installed, "version.py"), "rb") as f:
        return f.read() == zipped


def test_workers_import_installed_pyspark(spark):
    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
    pyspark_zip = os.path.join(lib, "pyspark.zip")
    if not os.path.isfile(pyspark_zip):
        pytest.skip(f"no {pyspark_zip}: the workers' path holds no Spark source zip")
    zips = {"pyspark": pyspark_zip}
    zips.update(("py4j", z) for z in glob.glob(os.path.join(lib, "py4j-*-src.zip")))
    for package, zip_path in zips.items():
        if not _zip_matches_installed(zip_path, package):
            pytest.skip(f"the installed {package} is not the version in {zip_path}")

    def where(_):
        import py4j
        import pyspark

        return f"{pyspark.__file__}|{py4j.__file__}"

    files = spark.range(1).select(F.udf(where)("id")).first()[0].split("|")
    assert not [f for f in files if ".zip" in f], files
