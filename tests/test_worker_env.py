"""Spark's Python workers run on the unzipped pyspark (``_worker_daemon``):
no pyspark/py4j zip and no jar stays on a worker's ``sys.path``, so
``importlib.invalidate_caches()`` has no archive to re-read per task."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pyspark
from pyspark.sql.functions import pandas_udf

from datapipelinerepo_spark._worker_daemon import redundant_archives, unzip_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _is_spark_archive(entry: str) -> bool:
    base = os.path.basename(entry)
    return base.endswith(".jar") or (
        base.endswith(".zip") and base.startswith(("pyspark", "py4j"))
    )


def test_worker_imports_the_drivers_pyspark_and_no_archive(spark):
    @pandas_udf("string")
    def report(s: pd.Series) -> pd.Series:
        import json
        import sys
        import zipimport

        import pyspark

        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        facts = json.dumps({"pyspark": pyspark.__file__, "path": sys.path, "zips": zips})
        return s.map(lambda _: facts)

    facts = json.loads(spark.range(1).select(report("id")).first()[0])
    assert facts["pyspark"] == pyspark.__file__
    assert [e for e in facts["path"] if _is_spark_archive(e)] == []
    covered = [
        k for k in facts["zips"]
        if any(_is_spark_archive(part) for part in k.split(os.sep))
    ]
    assert covered == []


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _tree(root, files: dict[str, str]) -> str:
    for name, text in files.items():
        p = root / name
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text)
    return str(root)


SPARK_FILES = {
    "pyspark/__init__.py": "",
    "pyspark/version.py": '__version__ = "4.1.2"\n',
    "py4j/__init__.py": "",
    "py4j/version.py": '__version__ = "0.10.9.9"\n',
}


def test_identical_unzipped_copy_drops_the_zip(tmp_path):
    pyzip = _zip(tmp_path / "pyspark.zip", {k: v for k, v in SPARK_FILES.items() if "pyspark" in k})
    p4zip = _zip(tmp_path / "py4j-src.zip", {k: v for k, v in SPARK_FILES.items() if "py4j" in k})
    site = _tree(tmp_path / "site", SPARK_FILES)
    assert redundant_archives([pyzip, p4zip, site]) == ([pyzip, p4zip], [])


def test_zip_with_a_different_version_py_is_kept(tmp_path):
    pyzip = _zip(tmp_path / "pyspark.zip", {"pyspark/version.py": '__version__ = "4.1.2"\n'})
    site = _tree(tmp_path / "site", {"pyspark/version.py": '__version__ = "4.0.0"\n'})
    dropped, reasons = redundant_archives([pyzip, site])
    assert dropped == []
    assert len(reasons) == 1 and pyzip in reasons[0] and "differs" in reasons[0]


def test_the_first_directory_holding_pyspark_decides(tmp_path):
    pyzip = _zip(tmp_path / "pyspark.zip", {"pyspark/version.py": '__version__ = "4.1.2"\n'})
    shadow = _tree(tmp_path / "shadow", {"pyspark/version.py": '__version__ = "3.5.0"\n'})
    site = _tree(tmp_path / "site", {"pyspark/version.py": '__version__ = "4.1.2"\n'})
    assert redundant_archives([pyzip, shadow, site])[0] == []


def test_zip_without_an_unzipped_copy_is_kept(tmp_path):
    p4zip = _zip(tmp_path / "py4j-src.zip", {"py4j/version.py": '__version__ = "0.10.9.9"\n'})
    dropped, reasons = redundant_archives([p4zip, str(tmp_path)])
    assert dropped == [] and "no directory on sys.path holds py4j" in reasons[0]


def test_archive_holding_py_files_is_kept(tmp_path):
    user = _zip(tmp_path / "deps.zip", {"helper.py": "", "lib/__init__.py": ""})
    compiled = _zip(tmp_path / "compiled.zip", {"fast.pyc": ""})
    mixed = _zip(tmp_path / "mixed.zip", {"pyspark/version.py": "", "helper.py": ""})
    site = _tree(tmp_path / "site", {"pyspark/version.py": ""})
    dropped, reasons = redundant_archives([user, compiled, mixed, site])
    assert dropped == []
    assert reasons == [f"{mixed} (it also holds helper.py)"]


def test_jar_without_py_files_is_dropped(tmp_path):
    jar = _zip(tmp_path / "spark-core_2.13.jar", {"org/apache/spark/A.class": "", "META-INF/MANIFEST.MF": ""})
    missing = str(tmp_path / "absent.zip")
    assert redundant_archives([jar, missing, str(tmp_path)]) == ([jar], [])


def test_unzip_path_edits_sys_path_and_importer_cache(tmp_path, monkeypatch, capsys):
    jar = _zip(tmp_path / "core.jar", {"org/A.class": ""})
    stale = _zip(tmp_path / "pyspark.zip", {"pyspark/version.py": "old"})
    site = _tree(tmp_path / "site", {"pyspark/version.py": "new"})
    cache = {jar: object(), jar + os.sep + "org": object(), stale: object(), site: object()}
    monkeypatch.setattr(sys, "path", [jar, stale, site])
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    unzip_path()
    assert sys.path == [stale, site]
    assert set(sys.path_importer_cache) == {stale, site}
    err = capsys.readouterr().err.splitlines()
    assert len(err) == 1 and stale in err[0] and err[0].startswith("datapipelinerepo_spark: ")


def test_udf_from_main_runs_outside_the_checkout(tmp_path):
    """The worker daemon imports from any working directory, and a
    caller's ``spark.executorEnv.PYTHONPATH`` is kept beside the
    package's."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "helper_mod.py").write_text("VALUE = 41\n")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from datapipelinerepo_spark.session import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1, extra_conf={{
            "spark.driver.memory": "1g",
            "spark.executorEnv.PYTHONPATH": {str(extra)!r},
        }})

        @pandas_udf("long")
        def plus(s: pd.Series) -> pd.Series:
            import helper_mod
            return s + helper_mod.VALUE

        print("RESULT", spark.range(1, 2).select(plus("id")).first()[0])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "RESULT 42" in run.stdout.splitlines()
