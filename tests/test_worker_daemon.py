"""The Python worker daemon ``get_spark`` names: workers run the installed
pyspark, not Spark's zips, and the path decision falls back to Spark's own
path whenever the installed pyspark cannot stand in for the zip."""

import os
import subprocess
import sys
import zipfile

from pyhydroqc_spark.worker_daemon import worker_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_task_imports_installed_pyspark(spark):
    def probe(_):
        import sys
        import zipimport

        import pyspark

        yield pyspark.__file__, [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]

    [(pyspark_file, zip_importers)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert ".zip" + os.sep not in pyspark_file and ".jar" + os.sep not in pyspark_file
    assert zip_importers == []


def _fake_pyspark_zip(tmp_path, version):
    path = str(tmp_path / "spark" / "pyspark.zip")
    os.makedirs(os.path.dirname(path))
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return path


def _installed(tmp_path, version, py4j=True):
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f"__version__: str = '{version}'\n")
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return str(site)


def _spark_path(tmp_path, site):
    return [
        str(tmp_path),
        _fake_pyspark_zip(tmp_path, "4.1.2"),
        str(tmp_path / "spark" / "py4j-0.10.9.9-src.zip"),
        str(tmp_path / "spark" / "spark-core_2.13-4.1.2.jar"),
        site,
    ]


def test_matching_installed_pyspark_drops_spark_archives(tmp_path):
    site = _installed(tmp_path, "4.1.2")
    user_zip = str(tmp_path / "deps.zip")
    path = _spark_path(tmp_path, site) + [user_zip]
    assert worker_path(path) == [str(tmp_path), site, user_zip]


def test_version_mismatch_keeps_path(tmp_path):
    path = _spark_path(tmp_path, _installed(tmp_path, "4.0.0"))
    assert worker_path(path) == path


def test_no_pyspark_outside_archives_keeps_path(tmp_path):
    path = _spark_path(tmp_path, str(tmp_path / "empty"))
    assert worker_path(path) == path


def test_no_py4j_outside_archives_keeps_path(tmp_path):
    path = _spark_path(tmp_path, _installed(tmp_path, "4.1.2", py4j=False))
    assert worker_path(path) == path


def test_import_has_no_side_effects():
    code = (
        "import sys; before = list(sys.path); "
        "import pyhydroqc_spark.worker_daemon; "
        "assert sys.path == before, sys.path; "
        "assert 'pyspark.daemon' not in sys.modules"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)
