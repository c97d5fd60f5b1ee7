"""The benchmark workloads.

Each workload has a ``build`` step (fixtures; repeated to time set-up),
a ``warm_up`` pass that runs every op type once, a ``cycle`` that the
timed phase repeats, a ``check`` that compares outputs with an
independent oracle, and ``layer`` figures for the traced report. Ops
run through ``Ledger.op`` so each one is timed and its Spark jobs are
counted.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import shutil

import duckdb
import numpy as np
from pyspark.sql import functions as F

import inputs as I
import replay as R
from ledger import quantile

from datapipelinerepo_spark import TABLES
from datapipelinerepo_spark import entrypoints as E
from datapipelinerepo_spark.io import TableStore
from datapipelinerepo_spark.plans import FixedClock
from datapipelinerepo_spark.streaming.ingest import read_base64_event_stream, stream_to_table


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = b = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(root, f))
    return n, b


class Workload:
    name = ""
    tail_q = 0.75
    min_cycles = 1
    N_ORDERS, N_CUST, N_BUCKETS = 10_000, 1_000, 8

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.L = ctx.ledger
        self.seed = ctx.seed

    @functools.cached_property
    def initial(self) -> list[tuple]:
        rng = np.random.default_rng(I.stable_hash(self.seed, "orders"))
        return I.order_rows(rng, range(self.N_ORDERS), self.N_CUST)

    @functools.cached_property
    def initial_df(self):
        return self.spark.createDataFrame(self.initial, I.ORDERS_DDL)

    def path(self, *parts) -> str:
        return os.path.join(self.ctx.work, *parts)

    def orders_store(self, tag: str) -> TableStore:
        """A fresh store holding the seeded keyed versioned orders table."""
        store = TableStore(self.spark, self.path(tag, "store"))
        store.overwrite_keyed(self.initial_df, "orders", "o_orderkey", n_buckets=self.N_BUCKETS, versioned=True)
        return store

    def space(self, store: TableStore) -> dict:
        """Files in the store, and the orders table's bytes on disk over
        the bytes of its live rows written fresh (space amplification)."""
        size = dir_stats(store._dir("orders"))[1]
        fresh = TableStore(self.spark, self.path("fresh"))
        fresh.overwrite_keyed(store.read("orders"), "orders", "o_orderkey", n_buckets=self.N_BUCKETS, versioned=True)
        fresh_size = dir_stats(fresh.root)[1]
        shutil.rmtree(fresh.root, ignore_errors=True)
        return {"io.files_on_disk": dir_stats(store.root)[0], "space_amp": size / fresh_size}


# ---------------------------------------------------------------------------
# elt_daily
# ---------------------------------------------------------------------------


class EltDaily(Workload):
    """One simulated day per cycle: weather pipeline, website-hits
    pipeline, one stream drain, that day's orders CDC, the reads that
    serve the refreshed orders table, and on Sundays compaction and
    vacuum."""

    name = "elt_daily"
    min_cycles = 2
    N_ZIPS, N_HITS, N_STREAM = 1000, 600, 600
    N_UPSERT, N_MERGE, DELETE_SPAN = 200, 100, 20
    LOOKUP_KEYS = 4
    # Sundays are maintenance days: the warm-up day and the first timed
    # day are Sundays, so every run times one maintenance day and one
    # plain day
    START = dt.date(2024, 1, 7)
    WARM_DAY = dt.date(2023, 12, 31)
    MERGE_DDL = I.ORDERS_DDL + ", cdc_op string"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.fetcher = I.SeededWeatherFetcher(self.seed)
        self.zips = I.zip_codes(self.N_ZIPS)
        self.rng = np.random.default_rng(I.stable_hash(self.seed, "serve"))
        self.pick_cust = I.zipf_picker(self.rng, list(range(self.N_CUST)))
        self.replay = None
        self.reads: list[tuple] = []

    def build(self, tag: str) -> dict:
        store = self.orders_store(tag)
        store.build_bloom_index("orders", "o_custkey")
        return {
            "store": store, "live": set(range(self.N_ORDERS)),
            "next_key": self.N_ORDERS, "days": [], "src": self.path(tag, "hits_in"),
            "out": self.path(tag, "hits_out"), "ckpt": self.path(tag, "hits_ckpt"),
        }

    def warm_up(self, st: dict) -> None:
        self.day(st, self.WARM_DAY, 0)

    def start(self, st: dict) -> None:
        self.st = st
        self.replay = R.OrdersReplay(self.initial)
        self.replay.snapshot()

    def cycle(self, i: int) -> None:
        self.day(self.st, self.START + dt.timedelta(days=i), i + 1)

    def day(self, st: dict, date: dt.date, day_no: int) -> None:
        L, spark, store, replay = self.L, self.spark, st["store"], self.replay
        clock = FixedClock(date)
        st["days"].append(date)

        pull = date - dt.timedelta(days=1)
        n_pages = sum(self.fetcher.has_page(f"weather://{z}/{pull}") for z in self.zips)
        rec, rep = L.op(
            "entrypoints.weather_pipeline", "write",
            lambda r: E.weather_pipeline(spark, store, self.fetcher, zips=self.zips, clock=clock),
            urls=len(self.zips), skipped=len(self.zips) - n_pages,
        )
        self._check_report(rec, rep, "weather", n_pages)

        payloads = I.hit_payloads(self.seed, date, "push", self.N_HITS)
        rec, rep = L.op(
            "entrypoints.websitehits_pipeline", "write",
            lambda r: E.websitehits_pipeline(spark, store, payloads, clock=clock),
        )
        self._check_report(rec, rep, "website_events", self.N_HITS)

        os.makedirs(st["src"], exist_ok=True)
        lines = I.hit_payloads(self.seed, date, "stream", self.N_STREAM)
        with open(os.path.join(st["src"], f"hits-{date}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        rec, _ = L.op("streaming.drain", "write", lambda r: self._drain(r, st))
        if rec["ok"] and rec["rows"] != self.N_STREAM:
            L.fail(rec, f"stream drained {rec['rows']} rows, expected {self.N_STREAM}")

        v_before = store.latest_version("orders")
        ups, merge, (lo, hi), st["next_key"] = I.daily_cdc(
            self.seed, day_no, sorted(st["live"]), st["next_key"], self.N_CUST,
            self.N_UPSERT, self.N_MERGE, self.DELETE_SPAN,
        )
        ups_df = spark.createDataFrame(ups, I.ORDERS_DDL)
        L.op("io.upsert", "write", lambda r: store.upsert(ups_df, "orders", "o_orderkey"), rows=len(ups))
        merge_df = spark.createDataFrame(merge, self.MERGE_DDL)
        L.op(
            "io.merge_when", "write",
            lambda r: store.merge_when(
                merge_df, "orders", "o_orderkey", when_matched_update="all",
                when_matched_delete="s.cdc_op = 'D'",
                when_not_matched_insert="s.cdc_op <> 'D'", source_meta_cols=["cdc_op"],
            ),
            rows=sum(m[-1] != "D" for m in merge),
        )
        L.op("io.delete_where", "write", lambda r: store.delete_where("orders", where={"o_orderkey": slice(lo, hi)}))
        live = st["live"]
        live.update(r[0] for r in ups)
        live.difference_update(m[0] for m in merge if m[-1] == "D")
        live.update(m[0] for m in merge if m[-1] == "I")
        live.difference_update(range(lo, hi + 1))
        if replay is not None:
            replay.upsert(ups)
            replay.merge_cdc(merge)
            replay.delete_range(lo, hi)
            replay.snapshot()

        self.serve(store, [r[0] for r in ups], v_before)
        if date.weekday() == 6:
            L.op("io.compact", "write", lambda r: store.compact("orders"))
            L.op("io.vacuum", "write", lambda r: store.vacuum("orders", keep_last=1, grace_s=0))

    def serve(self, store: TableStore, todays_keys: list[int], v_before: int) -> None:
        """Reads of the refreshed orders table: this day's upserted keys
        (lookup, keyed read), Zipf-skewed customers (bloom point probe,
        planned count) and yesterday's snapshot (time travel). Each read
        names its DuckDB twin over the replay snapshot it must see."""
        snap = len(self.replay.snapshots) - 1 if self.replay else 0
        keys = sorted(int(k) for k in self.rng.choice(todays_keys, self.LOOKUP_KEYS, replace=False))
        key = int(self.rng.choice(todays_keys))
        cust, cust2 = self.pick_cust(2)
        reads = (
            ("io.lookup", lambda: store.lookup("orders", keys),
             f"SELECT * FROM snap{snap} WHERE o_orderkey IN ({', '.join(map(str, keys))})"),
            ("io.read_key", lambda: store.read("orders", where={"o_orderkey": key}),
             f"SELECT * FROM snap{snap} WHERE o_orderkey = {key}"),
            ("io.read_point", lambda: store.read_point("orders", "o_custkey", cust),
             f"SELECT * FROM snap{snap} WHERE o_custkey = {cust}"),
            ("io.read_version",
             lambda: store.read("orders", version=v_before).groupBy("o_orderstatus").count(),
             f"SELECT o_orderstatus, count(*) AS count FROM snap{snap - 1} GROUP BY 1"),
        )
        for name, fn, sql in reads:
            holder = {}

            def run(r, fn=fn, holder=holder):
                df = fn()
                holder["cols"], holder["rows"] = df.columns, df.collect()
                r["rows"] = len(holder["rows"])

            rec, _ = self.L.op(name, "read", run)
            if self.replay and rec["ok"]:
                self.reads.append((rec, R.digest(holder["rows"], holder["cols"]), sql, False))
        rec, n = self.L.op(
            "io.count_where", "read", lambda r: store.count_where("orders", {"o_custkey": cust2}), rows=1)
        if self.replay and rec["ok"]:
            self.reads.append((rec, n, f"SELECT count(*) FROM snap{snap} WHERE o_custkey = {cust2}", True))

    def _check_report(self, rec, rep, source: str, expect_rows: int) -> None:
        if not rec["ok"]:
            return
        rec["rows"] = rep.loaded_rows.get(source, 0)
        if rep.errors:
            self.L.fail(rec, f"pipeline errors: {rep.errors}")
        elif rec["rows"] != expect_rows:
            self.L.fail(rec, f"{source} loaded {rec['rows']} rows, expected {expect_rows}")

    def _drain(self, rec: dict, st: dict) -> None:
        q = stream_to_table(read_base64_event_stream(self.spark, st["src"]), st["out"], st["ckpt"])
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        prog = [
            {"rows": p.numInputRows, **{k: int(v) for k, v in (p.durationMs or {}).items()}}
            for p in q.recentProgress
        ]
        rec["info"]["progress"] = prog
        rec["info"]["run_id"] = str(q.runId)
        rec["rows"] = sum(p["rows"] for p in prog)

    def check(self) -> dict[str, bool]:
        """Each timed read against the replay at its snapshot (a mismatch
        fails that op), then every table the days wrote."""
        for rec, got, sql, scalar in self.reads:
            want = self.replay.scalar(sql) if scalar else R.duck_digest(self.replay.con, sql)
            if got != want:
                self.L.fail(rec, f"result {got} != replay {want}")
        st, store = self.st, self.st["store"]
        days = st["days"]
        cols = ["zip_code", "date", "maxtemp_f", "mintemp_f", "avgtemp_f", "totalprecip_in"]
        want = []
        for d in days:
            pull = d - dt.timedelta(days=1)
            for z in self.zips:
                url = f"weather://{z}/{pull}"
                if self.fetcher.has_page(url):
                    day = self.fetcher.page(url)["forecast"]["forecastday"][0]["day"]
                    want.append((z, pull, *(day[c] for c in cols[2:])))
        hits = store.read("website_traffic").agg(F.count("*"), F.countDistinct("id")).first()
        sunk = duckdb.sql(f"SELECT count(*), count(DISTINCT id) FROM '{st['out']}/*.parquet'").fetchone()
        return {
            "orders match the DuckDB replay": R.spark_digest(store.read("orders")) == self.replay.digest(),
            "daily_weather matches the fetched pages":
                R.spark_digest(store.read("daily_weather").select(*cols)) == R.digest(want, cols),
            "website_traffic holds every pushed hit once": tuple(hits) == (self.N_HITS * len(days),) * 2,
            "stream sink holds every streamed hit once": tuple(sunk) == (self.N_STREAM * len(days),) * 2,
        }

    def layer(self) -> dict:
        L, st = self.L, self.st
        weather = L.named("entrypoints.weather_pipeline")
        urls = sum(r["info"]["urls"] for r in weather)
        drains = [r for r in L.named("streaming.drain") if r["ok"]]

        def per_drain(key):
            return quantile([sum(p.get(key, 0) for p in r["info"]["progress"]) for r in drains], 0.5)

        drain_s = sum(r["dur"] for r in drains)
        return {
            **self.space(st["store"]),
            "sources.fetch_skip_frac": sum(r["info"]["skipped"] for r in weather) / max(1, urls),
            "sources.rows_extracted": sum(r["rows"] for r in weather) / max(1, len(weather)),
            "streaming.drain_ms": quantile([r["dur"] * 1000 for r in drains], 0.5),
            "streaming.add_batch_ms": per_drain("addBatch"),
            "streaming.planning_ms": per_drain("queryPlanning"),
            "streaming.wal_commit_ms": per_drain("walCommit"),
            "streaming.rows_per_s": sum(r["rows"] for r in drains) / drain_s if drain_s else 0.0,
        }


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

FAMILIES = {
    "relational": ("flagship_coverage_gap", "q1_pricing_summary", "q3_top_revenue",
                   "q5_region_volume", "q21_waiting_suppliers", "cdc_latest_wins",
                   "sample_global_shuffle"),
    "temporal": ("events_asof_join", "events_range_join", "events_window_tumbling",
                 "events_sessionize"),
    "dedup": ("dedup_exact_groups", "dedup_minhash_lsh", "dedup_connected_components",
              "dedup_sorted_neighborhood"),
    "text": ("text_quality", "text_perplexity", "text_substring_dedup", "text_bpe_learn",
             "text_bpe_encode_1k", "text_bpe_encode"),
    "similarity": ("ann_topk_bruteforce", "ann_topk_lsh", "retrieval_bm25_topk"),
}
QUERIES = tuple(q for qs in FAMILIES.values() for q in qs)
# queries without oracle SQL: (rows, digest) pinned from a checked run
# on the fixed analytics data
PINNED = {
    "ann_topk_lsh": (50, "6d1d8804a5907445"),
    "text_bpe_encode_1k": (400, "5ac353acf001fea9"),
}
DATA_SEED = 20240101


class Analytics(Workload):
    """The registry's benchmarked queries (all ``bench=True`` entries
    but ``store_keyed_merge``) in a seeded shuffled order through the
    noop sink. One cycle is one round of every query."""

    name = "analytics"
    min_cycles = 1

    def __init__(self, ctx):
        super().__init__(ctx)
        from datapipelinerepo_spark import registry_ext  # noqa: F401  (registers)
        from datapipelinerepo_spark.registry import REGISTRY

        self.registry = REGISTRY
        benched = {n for n, e in REGISTRY.items() if e.bench} - {"store_keyed_merge"}
        if benched != set(QUERIES):
            raise SystemExit(f"benchmarked query set changed: {sorted(benched ^ set(QUERIES))}")
        self.rng = np.random.default_rng(I.stable_hash(self.seed, "rounds"))

    def build(self, tag: str) -> dict:
        data = self.path(tag, "data")
        I.write_analytics_tables(data, DATA_SEED)
        return {"data": data}

    def warm_up(self, st: dict) -> None:
        """The untimed first round; it also checks every query's result
        (a mismatch fails that op)."""
        con = R.analytics_connection(st["data"], TABLES)
        for q in QUERIES:
            e = self.registry[q]
            rec, got = self.L.op(f"registry.{q}", "read", lambda r: R.spark_digest(e.fn(self.spark, st["data"])))
            want = R.duck_digest(con, e.sql) if e.sql else PINNED[q]
            if rec["ok"] and got != want:
                self.L.fail(rec, f"result {got} != oracle {want}")

    def start(self, st: dict) -> None:
        self.st = st

    def cycle(self, i: int) -> None:
        data = self.st["data"]
        for q in self.rng.permutation(QUERIES):
            fn = self.registry[str(q)].fn
            self.L.op(f"registry.{q}", "read", lambda r: fn(self.spark, data).write.format("noop").mode("overwrite").save())

    def check(self) -> dict[str, bool]:
        return {}

    def layer(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (EltDaily, Analytics)}
