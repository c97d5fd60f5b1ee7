"""SparkSession construction with the engine's config posture.

Scale posture (SURVEY.md §4, §7): AQE on (runtime re-plan, skew-join
splitting, broadcast demotion), Arrow on (vectorized pandas-UDF
transfer), dynamic partition overwrite (idempotent date re-loads,
reference behavior ``datasources.py:50-59``), session timezone pinned
to UTC so timestamp semantics are deterministic across engines.

On a real cluster the same builder is used with ``master`` unset (taken
from spark-submit) — nothing here is local-mode-specific except the
default master.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession

from datapipelinerepo_spark import _cds

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory holding this package, so Spark's Python workers can
# import ``_worker_daemon`` from any working directory
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Spark's default 100 holds under one analytics round (~400 classes): every rerun recompiled
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "datapipelinerepo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    At 100 TB the operative knob is AQE: it coalesces the ~2000-partition
    shuffles this config requests down to what the data needs and splits
    skewed partitions.

    Python workers start from ``_worker_daemon``, which takes Spark's
    pyspark/py4j zips and the spark-core jar off their ``sys.path`` (SCALE.md
    "Python workers import pyspark unzipped"). This package's parent
    directory is appended to ``spark.executorEnv.PYTHONPATH``, after any
    value given in ``extra_conf``.

    The generated-code cache holds ``CODEGEN_CACHE_ENTRIES`` classes, so a
    session that reruns its query shapes compiles each one once (SCALE.md
    "Codegen cache holds the session's query set").

    When this call launches the driver JVM, the JVM starts from a
    class-data-sharing archive of Spark's classes (``_cds``, SCALE.md
    "Cold start: class-data-sharing archive"): the first session on a
    JDK and Spark jar set records one into the per-user cache when its
    JVM exits, and later sessions map it. The flag is appended to
    ``spark.driver.extraJavaOptions`` after any value in ``extra_conf``.
    CDS is skipped, with one log line on the ``datapipelinerepo_spark``
    logger, when Spark's conf directory holds anything but templates or
    another variable adds to the JVM's class path.

    PySpark's per-call call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled``) is off: with it on,
    every call-site-capturing ``Column`` or ``DataFrame`` call walks the
    Python stack, tries to import IPython and ipykernel, and makes
    several py4j calls to record where it was called from (SCALE.md
    "Driver: PySpark call-site capture off"). What is lost: a runtime
    error's ``== DataFrame ==`` context no longer names the caller's
    ``file:line``; the error class, SQLSTATE and message stay, and so
    does the Python traceback of the action. A caller who wants the
    call sites back passes
    ``{"spark.python.sql.dataFrameDebugging.enabled": "true"}`` in
    ``extra_conf``. PySpark reads the flag once per process, at its
    first call-site-capturing call, and keeps it for every later
    session.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) writes NO parquet min/max
        # statistics, which silently disables manifest-stats data
        # skipping (io.read_where) on every TimestampType column —
        # the flagship event-time range case (code-review r8 wave 2).
        # TIMESTAMP_MICROS is the modern spec'd physical type, carries
        # stats, and every current reader (DuckDB included) handles it.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    conf = dict(extra_conf or {})
    paths = [p for p in conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep) if p]
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths + [PACKAGE_PARENT]))
    b = b.config("spark.python.daemon.module", "datapipelinerepo_spark._worker_daemon")
    caller_opts = conf.get("spark.driver.extraJavaOptions", "")
    cds = _cds.prepare(caller_opts, conf.get("spark.driver.extraClassPath", ""))
    if cds is not None:
        conf["spark.driver.extraJavaOptions"] = f"{caller_opts} {cds.flag}".strip()
    for k, v in conf.items():
        b = b.config(k, v)
    with cds.launch() if cds is not None else contextlib.nullcontext():
        return b.getOrCreate()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples, lists, dicts or
    Rows) typed by ``schema`` (a DDL string or a ``StructType``).

    ``spark.createDataFrame(list, schema)`` pickles the rows into a
    PythonRDD, so every evaluation of the frame runs one Python-worker
    task per default-parallelism slot just to hand the rows back (SCALE.md
    "Driver-built frames"). Here the rows ship as an Arrow table instead:
    small frames plan as a local relation, and large ones (above
    ``spark.sql.execution.arrow.localRelationThreshold``) parallelize one
    Arrow batch per partition, cut into ``min(len(rows),
    defaultParallelism)`` batches so a work list still fans out to
    ``fetch_map``'s executors. Each row is checked with PySpark's own
    type verifier first, so a wrong-typed value (``1.0`` into ``long``)
    fails loudly as it does in ``createDataFrame``, and values convert
    through ``StructType.toInternal`` exactly as the classic path does.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _make_type_verifier, _parse_datatype_string

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    verify = _make_type_verifier(struct)
    internal = []
    for r in rows:
        verify(r)
        internal.append(struct.toInternal(r))
    arrow_schema = to_arrow_schema(struct)

    def batch(chunk):
        # built per chunk, not sliced from one batch: PySpark's timestamp
        # localization rejects sliced list arrays that carry nulls
        columns = list(zip(*chunk)) if chunk else [()] * len(struct.fields)
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )

    n = len(internal)
    k = max(1, min(n, spark.sparkContext.defaultParallelism))
    cuts = [i * n // k for i in range(k + 1)]
    table = pa.Table.from_batches(
        [batch(internal[lo:hi]) for lo, hi in zip(cuts, cuts[1:])], schema=arrow_schema
    )
    return spark.createDataFrame(table, struct)
