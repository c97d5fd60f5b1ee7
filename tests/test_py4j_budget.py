"""py4j round-trip budgets: the exact number of commands the Python
driver sends to the JVM to build three registry queries and to run two
store verbs on a 400-row, 8-bucket versioned keyed table.

Every ``Column`` or ``DataFrame`` call crosses py4j, so the command
count measures the driver layer without timing noise: a change that
adds round trips per call (PySpark's call-site capture, which
``get_spark`` turns off, roughly doubles them) fails here. Each call
runs once to warm the JVM's and PySpark's caches, then once counted.

Counting wraps ``py4j.java_gateway.GatewayClient.send_command`` for
the call only and skips py4j's memory (``m``) commands, which release
JVM objects whenever Python's garbage collector runs. To re-measure
after a change that moves a count on purpose, print ``_commands(fn)``
for the call and pin the new figure with the reason in CHANGES.md."""

from __future__ import annotations

import pytest
from py4j.java_gateway import GatewayClient
from py4j.protocol import MEMORY_COMMAND_NAME

from datapipelinerepo_spark.io import TableStore
from datapipelinerepo_spark.registry import REGISTRY
import datapipelinerepo_spark.registry_ext  # noqa: F401

from .test_job_budget import _rows

QUERY_BUDGETS = {
    "q5_region_volume": 90,
    "dedup_sorted_neighborhood": 1291,
    "retrieval_bm25_topk": 376,
}

# reads collect their frame, so the count includes the action
VERB_BUDGETS = {
    "upsert": 166,
    "read_point": 42,
}


def _commands(fn) -> int:
    fn()
    sent = [0]
    real = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            sent[0] += 1
        return real(self, command, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        fn()
    finally:
        GatewayClient.send_command = real
    return sent[0]


def test_session_turns_call_site_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


@pytest.mark.parametrize("name", sorted(QUERY_BUDGETS))
def test_query_build_py4j_budget(spark, sf_dir, name):
    fn = REGISTRY[name].fn
    assert _commands(lambda: fn(spark, sf_dir)) == QUERY_BUDGETS[name]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    store = TableStore(spark, str(tmp_path_factory.mktemp("py4j_budget")))
    store.overwrite_keyed(_rows(spark, 0, 400), "t", "k", n_buckets=8, versioned=True)
    return store


def test_upsert_py4j_budget(spark, store):
    batch = _rows(spark, 390, 410, 1.0)
    n = _commands(lambda: store.upsert(batch, "t", "k"))
    assert n == VERB_BUDGETS["upsert"]


def test_read_point_py4j_budget(store):
    n = _commands(lambda: store.read_point("t", "cust", 13).collect())
    assert n == VERB_BUDGETS["read_point"]
