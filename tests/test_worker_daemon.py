"""The engine's Python worker daemon: its path filter, the light package
import it relies on, and the import path and preloaded modules the workers
of a ``get_spark`` session really see."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from audio_feature_extraction_spark.worker_daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LIB = "/opt/spark/python/lib"
JAR = "/opt/spark/jars/spark-core_2.13-4.1.2.jar"
PATH = [
    "/work",
    f"{LIB}/pyspark.zip",
    f"{LIB}/py4j-0.10.9.9-src.zip",
    JAR,
    "/usr/lib/python311.zip",
    "/usr/lib/python3.11",
    "/usr/lib/python3.11/site-packages",
]


def test_matching_directory_install_drops_jar_and_both_zips():
    versions = {"pyspark": ("4.1.2", "4.1.2"), "py4j": ("0.10.9.9", "0.10.9.9")}
    assert worker_path(PATH, versions) == [
        "/work",
        "/usr/lib/python311.zip",
        "/usr/lib/python3.11",
        "/usr/lib/python3.11/site-packages",
    ]


def test_version_mismatch_keeps_zips_drops_jar():
    versions = {"pyspark": ("4.1.2", "4.0.0"), "py4j": ("0.10.9.9", "0.10.9.9")}
    assert worker_path(PATH, versions) == [e for e in PATH if e != JAR]


def test_no_directory_install_keeps_zips():
    versions = {"pyspark": ("4.1.2", None), "py4j": ("0.10.9.9", None)}
    assert worker_path(PATH, versions) == [e for e in PATH if e != JAR]


def _run(script: str, cwd: str, timeout: int) -> subprocess.CompletedProcess:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    return subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        cwd=cwd, env=env, timeout=timeout,
    )


def test_package_import_leaves_pyspark_unloaded(tmp_path):
    out = _run(
        f"import sys; sys.path.insert(0, {REPO!r}); import audio_feature_extraction_spark;"
        " print('pyspark' in sys.modules)",
        str(tmp_path), 120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip() == "False"


WORKER_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from audio_feature_extraction_spark.session import get_spark

def probe(batches):
    import os
    import zipimport
    import pyspark
    for _ in batches:
        pass
    zips = sorted({{
        imp.archive for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter)
    }})
    # the daemon forked this worker: what it had loaded before the fork
    with open(f"/proc/{{os.getppid()}}/cmdline", "rb") as f:
        daemon = f.read().replace(b"\\0", b" ").decode()
    with open(f"/proc/{{os.getppid()}}/maps") as f:
        maps = f.read()
    yield pd.DataFrame({{"info": [json.dumps(
        {{"pyspark": pyspark.__file__, "path": sys.path, "zips": zips,
          "daemon": daemon,
          "daemon_libs": [m for m in ("/pandas/_libs/", "/pyarrow/lib.") if m in maps]}}
    )]}})

spark = get_spark(app_name="worker-path", cores=2, driver_memory="1g")
rows = spark.range(4).mapInPandas(probe, "info string").collect()
spark.stop()
print(json.dumps([json.loads(r.info) for r in rows]))
"""


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name.endswith(".jar") or name == "pyspark.zip" or name.startswith("py4j-")


@pytest.fixture(scope="module")
def workers(tmp_path_factory):
    """What the workers of a ``get_spark`` session report, run from a
    directory that is not the repository, with no PYTHONPATH, as
    ``tests/test_submit.py`` does."""
    out = _run(WORKER_PROBE.format(repo=REPO), str(tmp_path_factory.mktemp("cwd")), 540)
    assert out.returncode == 0, out.stderr[-3000:]
    reports = json.loads(out.stdout.strip().splitlines()[-1])
    assert reports
    return reports


def test_workers_import_pyspark_from_a_directory(workers):
    """The workers must find the daemon and import pyspark without any
    Spark archive on their path."""
    for w in workers:
        assert os.path.basename(os.path.dirname(w["pyspark"])) == "pyspark", w["pyspark"]
        assert os.path.isdir(os.path.dirname(w["pyspark"])), w["pyspark"]
        assert not [e for e in w["path"] if _spark_archive(e)], w["path"]
        assert not [z for z in w["zips"] if _spark_archive(z)], w["zips"]


def test_daemon_preloads_pandas_and_pyarrow_before_forking(workers):
    """Each worker's parent is the engine's daemon, and it had pandas' and
    pyarrow's extension modules loaded: workers inherit them at fork
    instead of importing them in their first task."""
    for w in workers:
        assert "audio_feature_extraction_spark.worker_daemon" in w["daemon"], w["daemon"]
        assert w["daemon_libs"] == ["/pandas/_libs/", "/pyarrow/lib."], w["daemon_libs"]
