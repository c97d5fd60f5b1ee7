"""Same-day A/B micro-bench for arbitrary REGISTRY queries (VERDICT
r11 item 5 — generalizes the since-deleted tools/bench_tc_ab.py, which
settled one hard-coded verb): BENCH_r11 recorded q5_region_volume at
1.32x r10's number with registry.py untouched, the same pattern the
r10/r11 table_changes flag showed before its A/B adjudicated machine-day
drift. Run THIS script against two checkouts in one sitting for a
same-machine-day comparison (SCALE.md playbook rule 4).

Usage:
    python tools/bench_q_ab.py <repo_path> <query[,query...]> [label]

Reproduces bench.py's methodology for the named queries: the same
session (get_spark defaults: local[$SPARK_GRAFT_CPUS], shuffle=32),
warm scans of every base table the queries read, then each query
materialized through the noop sink, median-of-7 with max-min spread.
Prints one JSON line per query.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

repo = os.path.abspath(sys.argv[1])
names = sys.argv[2].split(",")
label = sys.argv[3] if len(sys.argv) > 3 else repo
sys.path.insert(0, repo)

from datapipelinerepo_spark.registry import REGISTRY  # noqa: E402
import datapipelinerepo_spark.registry_ext  # noqa: E402,F401
from datapipelinerepo_spark.io import load_table  # noqa: E402
from datapipelinerepo_spark.session import get_spark  # noqa: E402

RUNS = 7
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench_q_ab")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:  # parquet-footer + JIT warm-up, like bench.py
        load_table(spark, sf_dir, t).write.format("noop").mode(
            "overwrite"
        ).save()
    for name in names:
        fn = REGISTRY[name].fn
        samples = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        print(json.dumps({
            "label": label,
            "query": name,
            "median_s": round(statistics.median(samples), 3),
            "spread_s": round(max(samples) - min(samples), 3),
            "samples": [round(s, 3) for s in samples],
            "sf_dir": sf_dir,
        }))


if __name__ == "__main__":
    main()
