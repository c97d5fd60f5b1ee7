"""``get_spark`` turns off PySpark's per-call call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``).

PySpark reads that flag once per process, at its first call-site-
capturing call, so each session here runs in a fresh interpreter: this
file run as a script, which prints one JSON report."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FLAG = "spark.python.sql.dataFrameDebugging.enabled"


def _probe(extra_conf: dict) -> dict:
    from pyspark.errors import PySparkException
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import functions as F

    from datapipelinerepo_spark.session import get_spark

    spark = get_spark(master="local[1]", shuffle_partitions=1, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    z = (F.col("id") + 1).alias("z")
    rows = spark.range(3).select(z, F.col("id").cast("string")).count()
    report = {
        "rows": rows,
        "debugging": is_debugging_enabled(),
        "ipython": "IPython" in sys.modules,
    }
    try:
        spark.range(1).select(F.lit("a").cast("int")).collect()
    except PySparkException as e:
        report.update(
            condition=e.getCondition(), sqlstate=e.getSqlState(), message=str(e)
        )
    spark.stop()
    return report


def _session(extra_conf: dict | None = None) -> dict:
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), json.dumps(extra_conf or {})],
        cwd=ROOT, env=env, text=True, capture_output=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads([l for l in out.stdout.splitlines() if l.startswith("REPORT ")][-1][7:])


@pytest.fixture(scope="module")
def default_session() -> dict:
    return _session()


def test_capture_is_off_and_ipython_stays_unimported(default_session):
    assert default_session["rows"] == 3
    assert default_session["debugging"] is False
    assert default_session["ipython"] is False


def test_runtime_errors_stay_typed(default_session):
    assert default_session["condition"] == "CAST_INVALID_INPUT"
    assert default_session["sqlstate"] == "22018"
    assert "test_session_callsite.py" not in default_session["message"]


def test_extra_conf_turns_capture_back_on():
    report = _session({FLAG: "true"})
    assert report["debugging"] is True
    assert report["condition"] == "CAST_INVALID_INPUT"
    assert "test_session_callsite.py:" in report["message"]


if __name__ == "__main__":
    print("REPORT " + json.dumps(_probe(json.loads(sys.argv[1]))))
