"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship coverage-gap query on sf0.001;
``queries()`` / ``oracle_sql()`` expose the full operator registry
(datapipelinerepo_spark/registry.py + registry_ext.py) — one entry per
implemented operator from SURVEY.md §2 plus the LLM-data extension ops.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from datapipelinerepo_spark.registry import REGISTRY  # noqa: E402
import datapipelinerepo_spark.registry_ext  # noqa: E402,F401 (registers ext queries)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §3 EP3: coverage-gap work list) on sf0.001."""
    return REGISTRY["flagship_coverage_gap"].fn(spark, "/root/testdata/sf0.001")


def _ordered_names() -> list[str]:
    """Registry names ordered so stale-proof risk drives the driver's
    check budget (the driver verifies the first ~50 entries of
    ``queries()`` in iteration order).

    Simplified for the all-green regime (VERDICT r6 item 7 — with zero
    never-green oracle queries left, the old 5-group self-adaptive
    ordering only rotated green refreshes): (1) queries whose row was
    not all-green in the NEWEST correctness file (a fix needing
    re-proof), (2) queries changed since their last green proof
    (stale proof — maintained by hand in _CHANGED_IN_ROUND when a
    green query's code or oracle is rewritten), (3) never-checked
    queries (new this round), then (4) proven queries OLDEST green
    proof first, so long-unverified proofs refresh before recent ones.
    """
    proven: set[str] = set()
    flagged: set[str] = set()
    green_round: dict[str, int] = {}  # name -> newest round seen green
    for path in sorted(glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        file_round = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            # Rows-only checks (sql=None) may omit schema/hash keys —
            # absent keys count as OK, an explicit false does not.
            ok = (
                bool(row.get("rows_match"))
                and row.get("schema_match", True) is not False
                and row.get("hash_match", True) is not False
                and not row.get("err")
            )
            if ok:
                proven.add(name)
                green_round[name] = max(green_round.get(name, 0), file_round)
            else:
                flagged.add(name)
    flagged -= proven
    stale_changed = {
        n for n, r in _CHANGED_IN_ROUND.items() if green_round.get(n, 0) < r
    }

    def rank(item):
        i, name = item
        if name in flagged and REGISTRY[name].sql is not None:
            group = 0  # not all-green last time: re-proof first
        elif name in stale_changed:
            group = 1  # green once, rewritten since: stale proof
        elif name not in proven:
            group = 2  # never checked: earn a first row
        else:
            group = 3  # proven: oldest proof refreshes first
        return (group, green_round.get(name, 0), i)

    # driver=False entries (the permanent rows-only approximate forms)
    # are pytest-covered with green construction-exact twins on this
    # surface; exposing them would spend a check-budget slot per round
    # on an uninformative `no_oracle` row (VERDICT r5 item 2)
    names = [n for n in REGISTRY if REGISTRY[n].driver]
    return [n for _, n in sorted(enumerate(names), key=rank)]


# Queries whose Spark code or oracle SQL changed AFTER earning a green
# row: the old proof is stale until a correctness file from the change
# round or later shows them green again (self-clearing). A mark that a
# later green row has cleared is deleted.
_CHANGED_IN_ROUND = {
    # r15 (optimization round 2): the store verbs rework again — the
    # keyed upsert pins its batch lineage once (lazy checkpoint),
    # merge_when computes through ONE action-tagged CASE projection
    # instead of unioned join branches, the unversioned keyed rewrite
    # commits by journaled stage-and-swap instead of localCheckpoint +
    # dynamic overwrite, and small bloom sidecars are probed on the
    # driver (bit-exact python xxhash64). By the r8-r14 precedent a
    # commit-path rework staleness-marks the whole store family.
    # Locally re-proven vs DuckDB at sf0.001/shuffle=13 during the
    # round and by the end-of-round sweeps.
    "store_incremental_rollup_sum": 15,
    "store_streaming_rollup": 15,
    "store_incremental_distinct": 15,
    "store_auto_compact": 15,
    "store_incremental_join": 15,
    "store_streaming_join": 15,
    "store_bloom_point_read": 15,
    "store_read_group": 15,
    "store_read_group_asof": 15,
    "store_write_group": 15,
    "store_stacked_view_group": 15,
    "store_streaming_stack": 15,
    "store_read_planned": 15,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].sql
        for name in _ordered_names()
        if REGISTRY[name].sql is not None
    }
