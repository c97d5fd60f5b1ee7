"""Spark's Python-worker daemon, started on the unzipped pyspark.

``get_spark`` selects this module through ``spark.python.daemon.module``.
Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, its py4j zip and the
``spark-core_*.jar`` (``PythonUtils.sparkPythonPath``) at the head of
every Python worker's ``PYTHONPATH``. Each task then calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``), and
on Python 3.11 that makes every ``zipimporter`` re-read its archive's
whole central directory, in pure Python: about 0.2 s of CPU per task for
an identity pandas UDF, more than the UDF itself.

Before pyspark is imported, this module drops from ``sys.path``:

- archives that hold no ``.py``/``.pyc`` file (the spark-core jar), always;
- archives that hold only ``pyspark``/``py4j``, when the first directory
  on the path holding each of those packages has a byte-equal
  ``version.py``: the driver and the workers then import the same
  pyspark copy from that directory.

Every other archive stays, e.g. ``--py-files`` zips. When a pyspark or
py4j archive stays (an executor without an identical unzipped copy), one
stderr line says why; Spark forwards it to the executor log. The daemon
then runs ``pyspark.daemon.manager()`` with ``sys.argv`` unchanged, so
the worker module Spark names (UDF, Python data source, UDTF) still runs.
"""

from __future__ import annotations

import os
import sys
import zipfile

SPARK_PACKAGES = frozenset({"pyspark", "py4j"})


def _archive_packages(entry: str) -> set[str] | None:
    """Top-level names of the importable ``.py``/``.pyc`` files in the
    archive ``entry``, or ``None`` when ``entry`` is not a readable zip."""
    if not os.path.isfile(entry):
        return None
    try:
        with zipfile.ZipFile(entry) as z:
            names = z.namelist()
    except (OSError, zipfile.BadZipFile):
        return None
    return {n.split("/", 1)[0] for n in names if n.endswith((".py", ".pyc"))}


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as fh:
            return fh.read()
    except OSError:
        return None


def _why_kept(entry: str, packages: set[str], dirs: list[str]) -> str | None:
    """Why the pyspark/py4j archive ``entry`` must stay on the path, or
    ``None`` when a directory holds an identical copy of each package."""
    with zipfile.ZipFile(entry) as z:
        for pkg in sorted(packages):
            home = next((d for d in dirs if os.path.isdir(os.path.join(d, pkg))), None)
            if home is None:
                return f"no directory on sys.path holds {pkg}"
            if _read(os.path.join(home, pkg, "version.py")) != z.read(f"{pkg}/version.py"):
                return f"{home}/{pkg}/version.py differs from the archive's"
    return None


def redundant_archives(path: list[str]) -> tuple[list[str], list[str]]:
    """``(dropped, reasons)`` for the entries of ``path``: the archives a
    worker can import without, and why each pyspark/py4j archive that
    stays could not go."""
    archives = {e: _archive_packages(e) for e in path}
    dirs = [e for e in path if archives[e] is None and os.path.isdir(e)]
    dropped, reasons = [], []
    for entry, packages in archives.items():
        if packages is None:
            continue
        if not packages:
            dropped.append(entry)
            continue
        if not packages & SPARK_PACKAGES:
            continue
        if not packages <= SPARK_PACKAGES:
            why = f"it also holds {', '.join(sorted(packages - SPARK_PACKAGES))}"
        else:
            try:
                why = _why_kept(entry, packages, dirs)
            except (OSError, KeyError, zipfile.BadZipFile):
                why = "it has no readable version.py"
        if why is None:
            dropped.append(entry)
        else:
            reasons.append(f"{entry} ({why})")
    return dropped, reasons


def unzip_path() -> None:
    """Drop the redundant archives from ``sys.path`` and their importers
    from ``sys.path_importer_cache``."""
    dropped, reasons = redundant_archives(list(sys.path))
    if reasons:
        print(
            "datapipelinerepo_spark: Python workers keep "
            + "; ".join(reasons)
            + " on sys.path, so every task re-reads it in importlib.invalidate_caches()",
            file=sys.stderr,
            flush=True,
        )
    gone = set(dropped)
    sys.path[:] = [e for e in sys.path if e not in gone]
    for key in list(sys.path_importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in gone):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    unzip_path()
    from pyspark.daemon import manager

    manager()
