"""``get_spark`` starts the driver JVM from a class-data-sharing archive.

Every session here runs in its own Python process (one JVM per
process) with ``XDG_CACHE_HOME`` in the test's temporary directory, so
the user's cache is never touched. Each process stops its JVM and waits
for it, as perfbench does, so a recording is complete when it returns.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SESSION = textwrap.dedent(
    """
    import json, logging, sys
    from pyspark import SparkContext
    from datapipelinerepo_spark.session import get_spark

    logging.basicConfig(level=logging.INFO, format="LOG %(name)s %(message)s")
    spark = get_spark(master="local[1]", shuffle_partitions=1, extra_conf=json.loads(sys.argv[1]))
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/maps") as fh:
        mapped = sorted({l.split()[-1] for l in fh if l.rstrip().endswith(".jsa")})
    report = {
        "mapped": mapped,
        "rows": spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count().count(),
        "java_options": spark.conf.get("spark.driver.extraJavaOptions", ""),
        "probe": jvm.java.lang.System.getProperty("sparkpipe.probe"),
        "defaults": spark.conf.get("spark.sparkpipe.fromdefaults", None),
    }
    spark.stop()
    gw = SparkContext._gateway
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)
    print("REPORT " + json.dumps(report))
    """
)


def _env(cache, **extra) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=ROOT, **extra)
    return env


def _start(cache, conf=None, **extra) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", SESSION, json.dumps(conf or {})],
        cwd=cache, env=_env(cache, **extra), text=True,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )


def _finish(proc: subprocess.Popen) -> dict:
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    report = json.loads([l for l in out.splitlines() if l.startswith("REPORT ")][-1][7:])
    report["logs"] = [l.split(" ", 2)[2] for l in err.splitlines() if l.startswith("LOG datapipelinerepo_spark ")]
    return report


def _session(cache, conf=None, **extra) -> dict:
    return _finish(_start(cache, conf, **extra))


def _cds_dir(cache) -> str:
    return os.path.join(cache, "datapipelinerepo_spark", "cds")


def _files(cache, suffix: str) -> list[str]:
    d = _cds_dir(cache)
    return sorted(os.path.join(d, n) for n in os.listdir(d) if n.endswith(suffix)) if os.path.isdir(d) else []


def _sizes(cache, suffix: str) -> dict[str, int]:
    return {f: os.path.getsize(f) for f in _files(cache, suffix)}


@pytest.fixture(scope="module")
def two_sessions(tmp_path_factory):
    """A first session (which records) and a second one (which maps),
    with the files each leaves behind."""
    cache = tmp_path_factory.mktemp("cds-cache")
    caller = "-Dsparkpipe.probe=kept"
    first = _session(cache, {"spark.driver.extraJavaOptions": caller})
    first["tmp"], first["jsa"] = _sizes(cache, ".tmp"), _sizes(cache, ".jsa")
    second = _session(cache)
    second["tmp"], second["jsa"] = _sizes(cache, ".tmp"), _sizes(cache, ".jsa")
    return first, second


def test_first_session_records_a_tmp_archive(two_sessions):
    first, _ = two_sessions
    assert first["rows"] == 7
    assert first["jsa"] == {}
    ((tmp, size),) = first["tmp"].items()
    assert tmp.endswith(".tmp") and size > 0
    assert not [m for m in first["mapped"] if "datapipelinerepo_spark" in m]


def test_second_session_promotes_and_maps_the_archive(two_sessions):
    _, second = two_sessions
    assert second["rows"] == 7
    assert second["tmp"] == {}
    ((jsa, size),) = second["jsa"].items()
    assert size == next(iter(two_sessions[0]["tmp"].values()))
    assert jsa in second["mapped"]
    assert second["java_options"].split()[-1] == f"-XX:SharedArchiveFile={jsa}"


def test_caller_java_options_are_kept_with_the_flag_appended(two_sessions):
    first, _ = two_sessions
    opts = first["java_options"].split()
    assert first["probe"] == "kept"
    assert opts[opts.index("-Dsparkpipe.probe=kept") + 1].startswith("-XX:ArchiveClassesAtExit=")


def test_truncated_archive_is_never_promoted(tmp_path):
    first = _session(tmp_path)
    assert first["rows"] == 7
    (tmp,) = _files(tmp_path, ".tmp")
    with open(tmp + ".cut", "wb") as fh:
        subprocess.run(["head", "-c", str(os.path.getsize(tmp) // 2), tmp], stdout=fh, check=True)
    os.replace(tmp + ".cut", tmp)

    second = _session(tmp_path)
    assert second["rows"] == 7
    assert not os.path.exists(tmp)
    assert _files(tmp_path, ".jsa") == []
    assert not [m for m in second["mapped"] if m.startswith(_cds_dir(tmp_path))]
    assert [l for l in second["logs"] if tmp in l and "does not map" in l]
    # the probe's JVM crashed on it without leaving a crash report behind
    assert not list(tmp_path.glob("**/hs_err_pid*.log"))


def test_real_conf_dir_gets_no_flags_and_keeps_its_settings(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sparkpipe.fromdefaults  yes\n")
    (tmp_path / "cache").mkdir()
    report = _session(tmp_path / "cache", SPARK_CONF_DIR=str(conf))
    assert report["defaults"] == "yes"
    assert "Archive" not in report["java_options"]
    assert report["logs"] == [
        "driver JVM starts without a class-data-sharing archive: SPARK_CONF_DIR is set"
    ]
    assert not os.path.exists(_cds_dir(tmp_path / "cache"))


def test_concurrent_first_sessions_leave_one_archive_that_maps(tmp_path):
    racers = [_start(tmp_path) for _ in range(2)]
    assert all(r["rows"] == 7 for r in map(_finish, racers))
    third = _session(tmp_path)
    (jsa,) = _files(tmp_path, ".jsa")
    assert _files(tmp_path, ".tmp") == [] and _files(tmp_path, ".cp") == []
    assert jsa in third["mapped"]


def test_unwritable_cache_dir_skips_with_one_log_line(tmp_path, monkeypatch, caplog):
    from pyspark import SparkContext

    from datapipelinerepo_spark import _cds

    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    for var in _cds.CLASSPATH_ENV + _cds.JAVA_OPTIONS_ENV + ("PYSPARK_GATEWAY_PORT",):
        monkeypatch.delenv(var, raising=False)
    with caplog.at_level("INFO", logger="datapipelinerepo_spark"):
        assert _cds.prepare("", "") is None
    (record,) = caplog.records
    assert "cannot write the archive directory" in record.getMessage()


def test_no_flag_when_the_jvm_is_already_running(spark, tmp_path, monkeypatch, caplog):
    from datapipelinerepo_spark import _cds

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    with caplog.at_level("INFO", logger="datapipelinerepo_spark"):
        assert _cds.prepare("", "") is None
    assert caplog.records == [] and list(tmp_path.iterdir()) == []
