"""``session.local_frame``: driver-side rows become a DataFrame through
Arrow, with no Python-worker pass, and behave like
``spark.createDataFrame`` on the same rows."""

from __future__ import annotations

import ast
import base64
import datetime as dt
import json
import os
import re

import pytest

from datapipelinerepo_spark.io import TableStore
from datapipelinerepo_spark.plans import FixedClock
from datapipelinerepo_spark.plans.pipeline import SourceContext
from datapipelinerepo_spark.session import local_frame
from datapipelinerepo_spark.sources.reference_shaped import (
    WeatherSource,
    WebsiteEventsSource,
    make_dict_fetcher,
)

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "datapipelinerepo_spark",
)


@pytest.mark.parametrize("bad", [1.0, "1", True, 1 << 64])
def test_wrong_typed_value_raises_like_create_dataframe(spark, bad):
    with pytest.raises((TypeError, ValueError)) as classic:
        spark.createDataFrame([(bad,)], "a long")
    with pytest.raises(type(classic.value)):
        local_frame(spark, [(bad,)], "a long")


def test_all_none_row(spark):
    schema = "a long, b string, c double, d date, e timestamp, f array<long>"
    row = (None,) * 6
    got = local_frame(spark, [row], schema)
    want = spark.createDataFrame([row], schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_date_and_timestamp_values_collect_identically(spark):
    schema = "d date, ts timestamp, ntz timestamp_ntz, tss array<timestamp>"
    rows = [
        (dt.date(2024, 2, 29), dt.datetime(2024, 2, 29, 23, 59, 59, 999999),
         dt.datetime(2024, 3, 1, 0, 0), [dt.datetime(1970, 1, 1)]),
        (dt.date(1900, 1, 1),
         dt.datetime(1969, 12, 31, 20, tzinfo=dt.timezone(dt.timedelta(hours=-4))),
         None, [None]),
    ]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    cast = ["cast(d as string)", "cast(ts as string)", "cast(tss as string)"]
    assert got.selectExpr(*cast).collect() == want.selectExpr(*cast).collect()


def test_zero_rows_give_an_empty_frame_with_the_declared_schema(spark):
    from pyspark.sql.types import StructType

    for schema in ("a long, b string", StructType.fromDDL("x date, y array<int>")):
        got = local_frame(spark, [], schema)
        assert got.schema == spark.createDataFrame([], schema).schema
        assert got.collect() == []


@pytest.mark.parametrize("n", [0, 1, 3, 4, 5, 200])
def test_partition_count_is_min_of_rows_and_default_parallelism(spark, n):
    rows = [(i, f"k{i}") for i in range(n)]
    got = local_frame(spark, rows, "i long, k string")
    assert got.rdd.getNumPartitions() == min(n, spark.sparkContext.defaultParallelism)
    assert sorted(got.collect()) == sorted(
        spark.createDataFrame(rows, "i long, k string").collect()
    )


def _leaf_lineages(df) -> list[str]:
    """RDD lineage of every RDD-backed leaf of the (pre-AQE) physical
    plan — read from the plan, so no Spark job runs, even when the
    frame broadcasts a probe."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "RDDScanExec":
            out.append(leaf.rdd().toDebugString())
    return out


def test_driver_built_frames_carry_no_python_rdd(spark, tmp_path):
    """The lookup probe, the pushed website payloads and the weather
    work list plan without a PythonRDD, so evaluating them starts no
    Python worker; inspecting the plan launches no Spark job."""
    store = TableStore(spark, str(tmp_path))
    store.overwrite_keyed(
        spark.range(50).selectExpr("id", "id * 2 as v"), "t", "id", n_buckets=4
    )
    clock = FixedClock(dt.date(2026, 8, 10))
    ctx = SourceContext(spark=spark, store=store, clock=clock)
    payload = base64.b64encode(json.dumps({"page": "/"}).encode()).decode()
    weather = WeatherSource(["11111", "22222"], make_dict_fetcher({}))
    frames = {
        "lookup": store.lookup("t", [1, 2, 3, 4]),
        "website_events": WebsiteEventsSource([payload] * 3).extract(ctx),
        "weather_worklist": weather.extract(ctx),
    }
    sc = spark.sparkContext
    sc.setJobGroup("local_frame_lineage", "lineage pin")
    try:
        for name, df in frames.items():
            for lineage in _leaf_lineages(df):
                assert "PythonRDD" not in lineage, (name, lineage)
        assert not sc.statusTracker().getJobIdsForGroup("local_frame_lineage")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


_LIST_ARG = re.compile(r"createDataFrame\(\s*(\[|\(|[A-Za-z_]\w*\s+for\b)")


def test_library_builds_no_frame_from_a_python_list():
    """Library code goes through ``local_frame`` for driver-built frames:
    ``createDataFrame`` on a list literal or comprehension brings the
    per-task Python-worker pass back. The registry's query bodies are
    oracle-pinned and out of scope."""
    roots = ["io.py", "sources", "operators", "plans", "streaming"]
    offenders = []
    for root in roots:
        path = os.path.join(_PKG, root)
        files = [path] if path.endswith(".py") else [
            os.path.join(d, f)
            for d, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".py")
        ]
        for f in files:
            with open(f) as fh:
                text = fh.read()
            for m in _LIST_ARG.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                offenders.append(f"{os.path.relpath(f, _PKG)}:{line}")
    assert not offenders, offenders


def test_one_claim_loop_in_the_package():
    """The claim acquire/identity-check/heartbeat/release loop exists
    once, in ``io.run_claim_serialized``: ``_acquire_claim`` and
    ``_ClaimHeartbeat`` are called nowhere else in the library, so a
    fix to the loop cannot miss a hand-copied twin."""
    offenders = []
    for d, _, fs in os.walk(_PKG):
        for f in fs:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                for node in ast.walk(fn):
                    if isinstance(node, ast.Call) and getattr(
                        node.func, "id", getattr(node.func, "attr", None)
                    ) in ("_acquire_claim", "_ClaimHeartbeat"):
                        offenders.append(
                            f"{os.path.relpath(path, _PKG)}:{node.lineno}"
                            f" in {fn.name}"
                        )
    allowed = {
        o for o in offenders if o.startswith("io.py:")
        and o.endswith(" in run_claim_serialized")
    }
    assert allowed and set(offenders) == allowed, offenders


def _meta_path_opens(fn) -> list[int]:
    """Lines in ``fn`` where ``open(`` gets the table meta path: a
    ``meta_path(``/``_meta_path(`` call, or a local name assigned from
    one (directly or through other such names)."""

    def derived(expr, names) -> bool:
        return any(
            isinstance(n, ast.Call)
            and getattr(n.func, "id", getattr(n.func, "attr", None))
            in ("meta_path", "_meta_path")
            or isinstance(n, ast.Name) and n.id in names
            for n in ast.walk(expr)
        )

    names: set[str] = set()
    grew = True
    while grew:
        grew = False
        for node in ast.walk(fn):
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value:
                targets = (
                    node.targets if isinstance(node, ast.Assign)
                    else [node.target]
                )
                if derived(node.value, names):
                    for t in targets:
                        for n in ast.walk(t):
                            if isinstance(n, ast.Name) and n.id not in names:
                                names.add(n.id)
                                grew = True
    return [
        node.lineno
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "open"
        and node.args
        and derived(node.args[0], names)
    ]


def test_one_meta_reader_and_writer_in_the_package():
    """The table meta file (``_meta_<table>.json``) is opened in two
    places only: ``io.read_meta`` reads it, and
    ``TableStore._write_meta`` stages and atomically replaces it. A
    hand-copied ``open()`` elsewhere could read a half-written file or
    write one in place."""
    offenders = []
    for d, _, fs in os.walk(_PKG):
        for f in fs:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for fn in ast.walk(tree):
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    offenders += [
                        f"{os.path.relpath(path, _PKG)}:{line} in {fn.name}"
                        for line in _meta_path_opens(fn)
                    ]
    allowed = {
        o for o in offenders if o.startswith("io.py:")
        and o.endswith((" in read_meta", " in _write_meta"))
    }
    assert {o.rsplit(" in ", 1)[1] for o in allowed} == {
        "read_meta", "_write_meta"
    }, offenders
    assert set(offenders) == allowed, offenders
