"""Spark-job budgets of the store verbs: the exact number of Spark jobs
each verb launches on a small versioned keyed table with a bloom index,
and on a small unversioned keyed table (the same manifest commit, so
never more jobs than versioned); the tasks of an upsert's write
stage; and the jobs of the pipeline's gates and load on a
date-partitioned table.

Job counts do not vary between runs, so they pin the Spark layer
without timing noise: a verb that gains a job (a parquet footer read, a
second evaluation of its input) fails here. Jobs are counted through a
job group and the status tracker, which launches no job of its own."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.sql import functions as F

from datapipelinerepo_spark.io import TableStore
from datapipelinerepo_spark.plans.pipeline import (
    DataSource,
    FixedClock,
    SourceContext,
    monthly_quota_gate,
    watermark_gate,
)
from datapipelinerepo_spark.streaming.ingest import cdc_apply_txn

# reads collect their frame, so each count includes the scan itself
BUDGETS = {
    "upsert": 5,
    "merge_when": 6,
    "delete_where": 4,
    "read_where": 1,
    "read_point": 1,
    "count_where": 2,
    "update_bloom_index": 4,
    "update_where": 4,
    "lookup": 3,
    "cdc_apply_txn": 9,
}

# unversioned keyed tables commit through the same manifest protocol;
# they only remove what each commit supersedes
UNVERSIONED_BUDGETS = {
    "upsert": 5,
    "merge_when": 6,
    "delete_where": 4,
    "update_where": 4,
    "lookup": 3,
    "cdc_apply_txn": 9,
}


# a partition-reload source's load: the extract's materialization with
# its row count (1), then reload_partitions' write (1)
PIPELINE_BUDGETS = {
    "watermark_gate": 0,
    "monthly_quota_gate": 0,
    "load": 2,
    "reload_partitions": 1,
}


def _jobs(spark, fn) -> int:
    return len(_job_ids(spark, fn))


def _job_ids(spark, fn) -> list[int]:
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(spark, lo, hi, bump=0.0):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("cust"),
        (F.col("id") * 1.5 + bump).alias("amt"),
    )


def _merge_when(store, spark):
    cdc = _rows(spark, 100, 130, 2.0).withColumn(
        "op", F.when(F.col("k") % 3 == 0, "D").otherwise("U")
    )
    store.merge_when(
        cdc, "t", "k", when_matched_update="all",
        when_matched_delete="s.op = 'D'",
        when_not_matched_insert="s.op <> 'D'", source_meta_cols=["op"],
    )


def _update_where(store):
    store.update_where(
        "t", {"amt": "amt + 1"}, condition="k >= 300 AND k < 305"
    )


def _cdc_apply_txn(store, spark):
    """One change-feed batch through the streaming sink's keyed apply:
    updates, inserts and deletes over a few buckets."""
    batch = _rows(spark, 340, 360, 4.0).select(
        "*",
        F.col("k").alias("seq"),
        F.when(F.col("k") % 5 == 0, "D").otherwise("U").alias("op"),
    )
    cdc_apply_txn(store, batch, 1, key="k", seq_col="seq", base_table="t")


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    store = TableStore(spark, str(tmp_path_factory.mktemp("budget")))
    store.overwrite_keyed(_rows(spark, 0, 400), "t", "k", n_buckets=8, versioned=True)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    return store


@pytest.fixture(scope="module")
def verb_jobs(spark, store):
    """Run each verb once, in order, on one table; map verb → jobs."""
    verbs = {
        "upsert": lambda: store.upsert(_rows(spark, 390, 410, 1.0), "t", "k"),
        "merge_when": lambda: _merge_when(store, spark),
        "delete_where": lambda: store.delete_where("t", where={"k": slice(200, 210)}),
        "read_where": lambda: store.read("t", where={"k": 57}).collect(),
        "read_point": lambda: store.read_point("t", "cust", 13).collect(),
        "count_where": lambda: store.count_where("t", {"cust": 13}),
        "lookup": lambda: store.lookup("t", [57, 300]).collect(),
    }
    jobs = {name: _jobs(spark, fn) for name, fn in verbs.items()}
    # bloom maintenance after a new write scans the files it left
    store.upsert(_rows(spark, 410, 430, 3.0), "t", "k")
    jobs["update_bloom_index"] = _jobs(
        spark, lambda: store.update_bloom_index("t", "cust")
    )
    jobs["update_where"] = _jobs(spark, lambda: _update_where(store))
    jobs["cdc_apply_txn"] = _jobs(spark, lambda: _cdc_apply_txn(store, spark))
    return jobs


@pytest.fixture(scope="module")
def unversioned_store(spark, tmp_path_factory):
    store = TableStore(spark, str(tmp_path_factory.mktemp("budget_unv")))
    store.overwrite_keyed(_rows(spark, 0, 400), "t", "k", n_buckets=8)
    return store


@pytest.fixture(scope="module")
def unversioned_jobs(spark, unversioned_store):
    """The keyed verbs, in order, on one unversioned keyed table."""
    store = unversioned_store
    verbs = {
        "upsert": lambda: store.upsert(_rows(spark, 390, 410, 1.0), "t", "k"),
        "merge_when": lambda: _merge_when(store, spark),
        "delete_where": lambda: store.delete_where(
            "t", condition="k >= 200 AND k < 210"
        ),
        "update_where": lambda: _update_where(store),
        "lookup": lambda: store.lookup("t", [57, 300]).collect(),
        "cdc_apply_txn": lambda: _cdc_apply_txn(store, spark),
    }
    return {name: _jobs(spark, fn) for name, fn in verbs.items()}


@pytest.mark.parametrize("verb", sorted(BUDGETS))
def test_store_verb_job_budget(verb_jobs, verb):
    assert verb_jobs[verb] == BUDGETS[verb]


@pytest.mark.parametrize("verb", sorted(UNVERSIONED_BUDGETS))
def test_unversioned_verb_job_budget(unversioned_jobs, verb):
    assert unversioned_jobs[verb] == UNVERSIONED_BUDGETS[verb]


@pytest.mark.parametrize("verb", sorted(UNVERSIONED_BUDGETS))
def test_unversioned_never_costs_more_jobs(verb_jobs, unversioned_jobs, verb):
    """One commit protocol: dropping time travel never costs a job."""
    assert UNVERSIONED_BUDGETS[verb] <= BUDGETS[verb]
    assert unversioned_jobs[verb] <= verb_jobs[verb]


def test_pruned_reads_plan_without_a_job(spark, store, unversioned_store):
    """Planning a pruned read, or any read of a keyed table, takes its
    schema from the manifest, so no footer job runs before the caller
    asks for rows."""
    assert _jobs(spark, lambda: store.read("t", where={"k": 57}).schema) == 0
    assert _jobs(spark, lambda: store.read_point("t", "cust", 13).schema) == 0
    assert _jobs(spark, lambda: unversioned_store.read("t").schema) == 0


def test_upsert_write_stage_tasks(spark, store, verb_jobs):
    """The clustering shuffle before a keyed write is sized by AQE, not
    by n_buckets: a 20-row upsert into the 8-bucket table writes in one
    task (8 when the shuffle had n_buckets partitions), and still one
    part-file per touched bucket (tests/test_io.py)."""
    ids = _job_ids(spark, lambda: store.upsert(_rows(spark, 390, 410, 2.0), "t", "k"))
    st = spark.sparkContext.statusTracker()
    write_stage = max(st.getJobInfo(max(ids)).stageIds)  # the last job writes
    assert st.getStageInfo(write_stage).numTasks == 1


class _Reload(DataSource):
    name = "reload"
    table_name = "w"
    write_mode = "partition_reload"
    partition_col = "date"

    def schedule(self, ctx):
        return True

    def extract(self, ctx):
        raise NotImplementedError


def _days(spark, days, zips=("a", "b")):
    return spark.createDataFrame(
        [(z, d, 1.0) for d in days for z in zips], "zip string, date date, v double"
    )


@pytest.fixture(scope="module")
def pipeline_jobs(spark, tmp_path_factory):
    """The Daily_Weather shape: a table reloaded by date partition."""
    store = TableStore(spark, str(tmp_path_factory.mktemp("budget_pipe")))
    clock = FixedClock(dt.date(2026, 3, 10))
    ctx = SourceContext(spark=spark, store=store, clock=clock)
    history = [dt.date(2026, 2, 20) + dt.timedelta(days=i) for i in range(17)]
    store.reload_partitions(_days(spark, history), "w", "date")
    src = _Reload()
    pinned = _days(spark, [clock.yesterday()]).localCheckpoint(eager=True)
    return {
        "watermark_gate": _jobs(spark, lambda: watermark_gate(store, "w", "date", clock)),
        "monthly_quota_gate": _jobs(
            spark, lambda: monthly_quota_gate(store, "w", "date", clock, 100, 2)
        ),
        "load": _jobs(spark, lambda: src.load(ctx, _days(spark, [clock.yesterday()]))),
        "reload_partitions": _jobs(
            spark, lambda: store.reload_partitions(pinned, "w", "date")
        ),
    }


@pytest.mark.parametrize("step", sorted(PIPELINE_BUDGETS))
def test_pipeline_job_budget(pipeline_jobs, step):
    assert pipeline_jobs[step] == PIPELINE_BUDGETS[step]
