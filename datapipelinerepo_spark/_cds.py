"""Class-data sharing (CDS) for the driver JVM that ``get_spark`` launches.

A cold JVM parses and verifies every class Spark loads: about 3 s of a
6 s session start, and again in the first queries. JDK 17's dynamic CDS
maps classes an earlier JVM already parsed from an archive file instead:

- the first session on a JDK and Spark jar set records an archive with
  ``-XX:ArchiveClassesAtExit``; the JVM writes it when it exits;
- every later session maps it with ``-XX:SharedArchiveFile``.

Archives live in ``$XDG_CACHE_HOME/datapipelinerepo_spark/cds/`` (else
``~/.cache/...``), one per key: the JDK (``java.home`` and its
``release`` file) and the Spark jar list (names, sizes, mtimes).

The JVM refuses to record or map an archive while a non-empty directory
is on its class path, and Spark puts its conf directory there. So the
JVM launches with ``SPARK_CONF_DIR`` set to an empty directory in the
cache, but only when the real conf directory holds nothing but
``*.template`` files and no other variable adds to the class path. A
user's ``spark-defaults.conf`` is never hidden: CDS is skipped instead,
with one log line giving the reason.

A truncated archive crashes the JVM that maps it (SIGBUS), while a
missing or mismatched one only disables sharing. So a recorder writes
``<key>.<pid>.tmp``, beside a ``<key>.<pid>.cp`` sidecar naming the live
recorder process and the recording JVM's class path. A later session
promotes the tmp file with ``os.rename`` only after that process is gone
and ``java -Xshare:on -version`` maps it; a rejected tmp file is deleted.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import logging
import os
import shutil
import subprocess
import tempfile

from datapipelinerepo_spark import _fs

log = logging.getLogger("datapipelinerepo_spark")

# each of these puts more entries on the launcher's class path
CLASSPATH_ENV = (
    "SPARK_CONF_DIR",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
)
# every JVM reads these; a caller's own sharing flags there or in
# spark.driver.extraJavaOptions win over ours
JAVA_OPTIONS_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
SHARING_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit", "SharedClassListFile", "DumpLoadedClassList")
PROBE_TIMEOUT_S = 60


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "datapipelinerepo_spark", "cds")


class Launch:
    """The driver-JVM flag and environment for one session launch."""

    def __init__(self, flag: str, conf_dir: str, sidecar: str | None):
        self.flag = flag
        self.conf_dir = conf_dir
        # set while recording: where the recording JVM's class path goes
        self.sidecar = sidecar

    @contextlib.contextmanager
    def launch(self):
        """Around the JVM launch: ``SPARK_CONF_DIR`` points at the empty
        conf directory (it is unset otherwise, or CDS is skipped). Once
        launched, a recording JVM's pid and class path are saved beside
        its tmp archive: the probe that promotes the archive needs the
        exact class path."""
        from pyspark import SparkContext

        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            os.environ.pop("SPARK_CONF_DIR", None)
        jvm = SparkContext._jvm
        if self.sidecar is None or jvm is None:
            return
        pid = int(jvm.java.lang.ProcessHandle.current().pid())
        try:
            _write_sidecar(self.sidecar, pid, str(jvm.java.lang.System.getProperty("java.class.path")))
        except OSError as e:
            # without it the recording is never promoted, only deleted
            log.warning("cannot save the recording JVM's class path: %s", e)


def prepare(extra_java_options: str, extra_class_path: str) -> Launch | None:
    """The CDS flag for the JVM the next session launches, or ``None``
    when none is launched or CDS must be skipped (logged once)."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    try:
        return _prepare(extra_java_options, extra_class_path)
    except (_Skip, OSError) as e:
        log.info("driver JVM starts without a class-data-sharing archive: %s", e)
        return None


class _Skip(Exception):
    pass


def _prepare(extra_java_options: str, extra_class_path: str) -> Launch:
    from pyspark.find_spark_home import _find_spark_home

    if not os.path.isdir("/proc/self"):
        raise _Skip("no /proc to tell a live recorder from a finished one")
    import fcntl

    for var in CLASSPATH_ENV:
        if os.environ.get(var):
            raise _Skip(f"{var} is set")
    for where, opts in [("spark.driver.extraJavaOptions", extra_java_options)] + [
        (var, os.environ.get(var, "")) for var in JAVA_OPTIONS_ENV
    ]:
        if any(f in opts for f in SHARING_FLAGS):
            raise _Skip(f"{where} sets class-sharing flags")
    if extra_class_path:
        raise _Skip("spark.driver.extraClassPath is set")
    spark_home = _find_spark_home()
    conf = os.path.join(spark_home, "conf")
    kept = sorted(n for n in _listdir(conf) if not n.endswith(".template"))
    if kept:
        raise _Skip(f"{conf} holds {', '.join(kept)}")
    java = _java()
    key = _key(java, os.path.join(spark_home, "jars"))

    d = cache_dir()
    conf_dir = os.path.join(d, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if not os.access(d, os.W_OK):
            raise PermissionError(f"{d} is not writable")
        lock = open(os.path.join(d, ".lock"), "a")
    except OSError as e:
        raise _Skip(f"cannot write the archive directory: {e}") from None
    if _listdir(conf_dir):
        raise _Skip(f"{conf_dir} is not empty")
    with lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        archive, busy = _settle(d, key, java)
        if archive:
            return Launch(f"-XX:SharedArchiveFile={archive}", conf_dir, None)
        if busy:
            raise _Skip("another session is recording the archive")
        stem = os.path.join(d, f"{key}.{os.getpid()}")
        _write_sidecar(stem + ".cp", os.getpid(), None)
    # the recording JVM prints one stdout warning per class it cannot
    # archive (hundreds: signed jars, generated accessors) as it exits
    return Launch(f"-XX:ArchiveClassesAtExit={stem}.tmp -Xlog:cds*=off", conf_dir, stem + ".cp")


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except FileNotFoundError:
        return []


def _java() -> str:
    """The ``java`` binary Spark's launch scripts run."""
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.isfile(exe):
        raise _Skip("no java binary found")
    return os.path.realpath(exe)


def _key(java: str, jars: str) -> str:
    """``spark-<hash>`` of the JDK's home and ``release`` file and of the
    Spark jars' names, sizes and mtimes."""
    home = os.path.dirname(os.path.dirname(java))
    try:
        with open(os.path.join(home, "release"), "rb") as fh:
            release = fh.read()
    except OSError:
        raise _Skip(f"{home} has no release file") from None
    if not os.path.isdir(jars):
        raise _Skip(f"no jar directory {jars}")
    h = hashlib.sha256(home.encode() + b"\0" + release)
    for e in sorted(os.scandir(jars), key=lambda e: e.name):
        if e.name.endswith(".jar"):
            st = e.stat()
            h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return "spark-" + h.hexdigest()[:16]


def _write_sidecar(path: str, pid: int, class_path: str | None) -> None:
    """``{"pid", "start", "class_path"}`` of the recorder, written by
    rename so a reader never sees half of it."""
    fd, part = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".sidecar-")
    with os.fdopen(fd, "w") as fh:
        json.dump({"pid": pid, "start": _fs.process_start(pid), "class_path": class_path}, fh)
    os.replace(part, path)


def _read_sidecar(path: str) -> dict | None:
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _recording(side: dict | None) -> bool:
    """Whether the sidecar's process (the Python driver before launch,
    the JVM after) is still alive, i.e. may still write the tmp file."""
    return bool(side) and side["start"] is not None and _fs.process_start(side["pid"]) == side["start"]


def _settle(d: str, key: str, java: str) -> tuple[str | None, bool]:
    """Promote a finished recording of ``key`` that maps, delete the
    rest, and return (the archive path or ``None``, whether a recording
    of ``key`` is still under way). Runs under the directory's lock."""
    final = os.path.join(d, key + ".jsa")
    stems: dict[str, set[str]] = {}
    for name in _listdir(d):
        parts = name.split(".")
        if len(parts) == 3 and parts[1].isdigit() and parts[2] in ("tmp", "cp"):
            stems.setdefault(f"{parts[0]}.{parts[1]}", set()).add(parts[2])
    busy = promoted = False
    for stem in sorted(s for s in stems if s.split(".")[0] == key):
        tmp, cp = os.path.join(d, stem + ".tmp"), os.path.join(d, stem + ".cp")
        side = _read_sidecar(cp)
        if _recording(side):
            busy = True
            continue
        if "tmp" in stems[stem] and not os.path.exists(final):
            if side and side.get("class_path") and _probe(java, side["class_path"], tmp):
                os.rename(tmp, final)
                promoted = True
            else:
                log.warning("deleting class-data-sharing archive %s: the JVM does not map it", tmp)
        _remove(tmp, cp)
    if promoted:
        for stem in stems:
            if stem.split(".")[0] != key and not _recording(_read_sidecar(os.path.join(d, stem + ".cp"))):
                _remove(os.path.join(d, stem + ".tmp"), os.path.join(d, stem + ".cp"))
        _remove(*(os.path.join(d, n) for n in _listdir(d) if n.endswith(".jsa") and n != key + ".jsa"))
    return (final if os.path.exists(final) else None), busy


def _probe(java: str, class_path: str, archive: str) -> bool:
    """Whether a JVM on ``class_path`` maps ``archive``: 0 on a good
    archive, 1 on a mismatched one, 134 (SIGBUS) on a truncated one."""
    # a crash leaves no hs_err_pid*.log in the caller's directory
    flags = [
        f"-XX:SharedArchiveFile={archive}",
        "-Xshare:on",
        f"-XX:ErrorFile={os.devnull}",
        "-XX:-CreateCoredumpOnCrash",
    ]
    try:
        r = subprocess.run(
            [java, "-cp", class_path, *flags, "-version"],
            cwd=os.path.dirname(archive), stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=PROBE_TIMEOUT_S,
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    return r.returncode == 0


def _remove(*paths: str) -> None:
    for p in paths:
        with contextlib.suppress(FileNotFoundError):
            os.remove(p)
