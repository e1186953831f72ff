"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

Spark starts its Python workers with ``pyspark.zip``, the py4j source zip and
the spark-core jar on ``sys.path``, and pyspark 4.1's worker calls
``importlib.invalidate_caches()`` before every task. On Python 3.11 that makes
each cached ``zipimporter`` re-read its archive's central directory, task
after task. This daemon takes the archives off the path, and out of
``sys.path_importer_cache``, before ``pyspark.daemon`` starts:

- every ``.jar``, always: it holds no Python module;
- ``pyspark.zip`` and the py4j zip only when directory installs of pyspark and
  py4j with the same versions are importable from the rest of the path.

It must run before anything imports pyspark, so the package's ``__init__``
imports nothing from pyspark.

The daemon then imports ``pandas`` and ``pyarrow`` (with its pandas bridge)
once, before ``pyspark.daemon`` forks any worker, so every worker inherits
them: a forked worker spent 0.24-0.35 s of CPU before its first
``mapInPandas`` batch reached the function when it imported them itself,
and under 0.01 s with them preloaded (4-core host).
"""

from __future__ import annotations

import importlib
import os
import re
import sys
import zipfile

_PACKAGES = ("pyspark", "py4j")
# imported by the daemon before it forks, so every worker inherits them
_PRELOAD = ("pandas", "pyarrow", "pyarrow.pandas_compat")
_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)""")


def _archive_of(entry: str) -> str | None:
    """The package whose Spark-shipped zip ``entry`` is, if it is one."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return None


def worker_path(path: list[str], versions: dict) -> list[str]:
    """``path`` without its jars, and without the pyspark and py4j zips when
    ``versions[pkg] == (zip version, directory version)`` match for both
    packages (a directory version of None: no directory install)."""
    drop_zips = all(
        versions[p][1] is not None and versions[p][0] == versions[p][1] for p in _PACKAGES
    )
    return [
        e for e in path
        if not e.endswith(".jar") and not (drop_zips and _archive_of(e))
    ]


def _read_version(entry: str, pkg: str) -> str | None:
    try:
        if _archive_of(entry):
            with zipfile.ZipFile(entry) as z:
                text = z.read(f"{pkg}/version.py").decode()
        else:
            with open(os.path.join(entry, pkg, "version.py")) as f:
                text = f.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _installed_versions(path: list[str]) -> dict:
    """``{pkg: (zip version, directory version)}``: the versions in the first
    Spark zip on ``path`` and in the first directory install importable once
    the archives are gone (None where there is none)."""
    rest = [e for e in path if not e.endswith(".jar") and not _archive_of(e)]
    out = {}
    for pkg in _PACKAGES:
        zipped = next((e for e in path if _archive_of(e) == pkg), None)
        directory = next(
            (e for e in rest if os.path.isfile(os.path.join(e, pkg, "__init__.py"))), None
        )
        out[pkg] = tuple(
            None if e is None else _read_version(e, pkg) for e in (zipped, directory)
        )
    return out


def main() -> None:
    keep = worker_path(sys.path, _installed_versions(sys.path))
    gone = [e for e in sys.path if e not in keep]
    for key in list(sys.path_importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in gone):
            del sys.path_importer_cache[key]
    sys.path[:] = keep

    for module in _PRELOAD:
        importlib.import_module(module)
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
