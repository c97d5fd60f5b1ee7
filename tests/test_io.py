"""Write-semantics tests: S8 append+evolution, S9 overwrite, S10
idempotent partition reload (SURVEY.md §5.3 / §7 hard part 2)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from datapipelinerepo_spark.io import TableStore


def _rows(store, name):
    return {tuple(r) for r in store.read(name).collect()}


def test_append_and_schema_evolution(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    store.append(df1, "t")
    # additive evolution: new column arrives (ALLOW_FIELD_ADDITION)
    df2 = spark.createDataFrame([(2, "b", 9.5)], "id long, v string, extra double")
    store.append(df2, "t")
    got = store.read("t")
    assert set(got.columns) == {"id", "v", "extra"}
    vals = {r["id"]: r["extra"] for r in got.collect()}
    assert vals[1] is None and vals[2] == 9.5


def test_overwrite_replaces(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    store.append(spark.createDataFrame([(1,)], "id long"), "t")
    store.overwrite(spark.createDataFrame([(7,), (8,)], "id long"), "t")
    assert _rows(store, "t") == {(7,), (8,)}


def test_partition_reload_idempotent(spark, tmp_path):
    """Run the same day's load twice → same table (exactly-once under
    re-run); other partitions untouched."""
    store = TableStore(spark, str(tmp_path))
    d1, d2 = dt.date(2026, 8, 1), dt.date(2026, 8, 2)
    day1 = spark.createDataFrame([("z1", d1, 1.0), ("z2", d1, 2.0)], "zip string, date date, v double")
    day2 = spark.createDataFrame([("z1", d2, 3.0)], "zip string, date date, v double")
    store.reload_partitions(day1, "w", "date")
    store.reload_partitions(day2, "w", "date")
    before = _rows(store, "w")
    # re-run day2 with corrected value: replaces only day2
    day2b = spark.createDataFrame([("z1", d2, 9.9)], "zip string, date date, v double")
    store.reload_partitions(day2b, "w", "date")
    after = _rows(store, "w")
    assert len(after) == len(before) == 3
    assert ("z1", 9.9, d2) in {(r[0], r[1], r[2]) for r in store.read("w").select("zip", "v", "date").collect()}
    # and re-running the identical load changes nothing
    store.reload_partitions(day2b, "w", "date")
    assert _rows(store, "w") == after


def test_append_onto_reloaded_table_keeps_its_layout(spark, tmp_path):
    """An append onto a table reload_partitions wrote lands in its
    date= layout: part-files at the root are dropped by partition
    discovery, which lost the appended rows silently. A layout mixing
    root files and partition directories refuses."""
    store = TableStore(spark, str(tmp_path))
    d1, d2, d3 = dt.date(2026, 8, 1), dt.date(2026, 8, 2), dt.date(2026, 8, 3)
    schema = "zip string, date date, v double"
    rows = [("z1", d1, 1.0), ("z1", d2, 2.0)]
    store.reload_partitions(spark.createDataFrame(rows, schema), "w", "date")
    store.append(spark.createDataFrame([("z2", d3, 3.0)], schema), "w")
    got = store.read("w")
    assert got.count() == 3
    assert got.agg(F.max("date")).first()[0] == d3
    assert {(r["zip"], r["date"], r["v"]) for r in got.collect()} == set(
        rows + [("z2", d3, 3.0)]
    )
    # a root part-file beside the partitions: no append can extend it
    spark.createDataFrame([("z3", d3, 4.0)], schema).write.mode(
        "append"
    ).parquet(store._dir("w"))
    with pytest.raises(ValueError, match="mixed table layout"):
        store.append(spark.createDataFrame([("z4", d3, 5.0)], schema), "w")


def test_catalog_probes(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    assert not store.exists("t")
    store.append(spark.createDataFrame([(1,)], "id long"), "t")
    assert store.exists("t")
    assert store.last_modified_date("t") is not None
    assert store.max_value("t", "id") == 1


def test_upsert_replaces_by_key(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "val"]
    )
    store.upsert(base, "t", "id")
    delta = spark.createDataFrame([(2, "B2"), (4, "d")], ["id", "val"])
    store.upsert(delta, "t", "id")
    got = {r["id"]: r["val"] for r in store.read("t").collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}
    # idempotent: re-applying the same delta changes nothing
    store.upsert(delta, "t", "id")
    assert {r["id"]: r["val"] for r in store.read("t").collect()} == got


def test_upsert_null_keys_replace_not_accumulate(spark, tmp_path):
    """NULL keys must merge null-safely: a NULL-key row is REPLACED on
    re-upsert, not appended again (plain key equality never matches
    NULL, which would grow the table every call)."""
    store = TableStore(spark, str(tmp_path))
    batch = spark.createDataFrame([(None, "n1"), (1, "a")], "id int, val string")
    store.upsert(batch, "t", "id")
    store.upsert(batch, "t", "id")
    store.upsert(
        spark.createDataFrame([(None, "n2")], "id int, val string"), "t", "id"
    )
    rows = {(r["id"], r["val"]) for r in store.read("t").collect()}
    assert rows == {(None, "n2"), (1, "a")}
    assert store.read("t").count() == 2


def test_rollup_incremental_equals_recompute(spark, sf_dir, tmp_path):
    """Continuous-aggregate contract: maintaining the rollup over delta
    batches produces exactly the full-recompute table, regardless of
    how the stream was split into batches."""
    from datapipelinerepo_spark.io import load_table
    from datapipelinerepo_spark.plans.rollup import rollup_maintain, rollup_recompute

    store = TableStore(spark, str(tmp_path))
    e = load_table(spark, sf_dir, "events")
    # split into 3 uneven deltas (overlapping hours across batches)
    d1 = e.filter(F.col("event_id") % 3 == 0)
    d2 = e.filter(F.col("event_id") % 3 == 1)
    d3 = e.filter(F.col("event_id") % 3 == 2)
    for d in (d1, d2, d3):
        rollup_maintain(store, d, table="r")
    got = sorted(tuple(r) for r in store.read("r").collect())
    want = sorted(tuple(r) for r in rollup_recompute(e).collect())
    assert got == want


def test_events_ns_timestamp_read(spark, sf_dir):
    from datapipelinerepo_spark.io import load_table

    e = load_table(spark, sf_dir, "events")
    assert dict(e.dtypes)["ts"].startswith("timestamp")
    assert e.filter(F.col("ts").isNull()).count() == 0


def test_write_clustered_sorts_within_files(spark, sf_dir, tmp_path):
    """Clustered write: every output parquet file is internally sorted
    on the cluster column (the property that makes row-group min/max
    stats disjoint, enabling stats-based skipping), and partition
    pruning still applies on the directory column."""
    from pyspark.sql import functions as F

    from datapipelinerepo_spark.io import load_table, write_clustered

    out = str(tmp_path / "clustered")
    ev = load_table(spark, sf_dir, "events")
    write_clustered(ev, out, partition_col="event_type", sort_cols=["value"])

    back = spark.read.parquet(out).select(
        F.input_file_name().alias("f"), "value"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
    disorder = (
        back.withColumn("_prev", F.lag("value").over(w))
        .filter(F.col("_prev").isNotNull() & (F.col("value") < F.col("_prev")))
        .count()
    )
    assert disorder == 0, "rows not sorted within files"
    # directory partitioning survived → partition pruning on event_type
    plan = (
        spark.read.parquet(out)
        .filter(F.col("event_type") == "purchase")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1][:200]


def test_csv_roundtrip_quoting(spark, tmp_path):
    """Free text with commas, quotes, and newlines survives the CSV
    round-trip byte-exactly (quote-all write + explicit-schema read)."""
    from datapipelinerepo_spark.io import read_formatted, write_formatted

    df = spark.createDataFrame(
        [
            (1, 'plain text'),
            (2, 'comma, separated, values'),
            (3, 'a "quoted" phrase'),
            (4, 'line\nbreak inside'),
            (5, None),
        ],
        ["id", "body"],
    )
    path = str(tmp_path / "csv_rt")
    write_formatted(df, path, fmt="csv")
    back = read_formatted(
        spark, path, fmt="csv", schema=df.schema, multiLine="true"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_keyed_upsert_rewrites_only_matched_buckets(spark, tmp_path):
    """The bucket-partitioned MERGE path: correctness (replace by key,
    insert unseen, others survive) AND the cost contract — parquet
    files in buckets no incoming key hashes to are bit-identical
    untouched after the upsert (the Delta MERGE profile on plain
    parquet)."""
    import os

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i), "S") for i in range(200)], ["id", "price", "status"]
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=16)
    assert store.keyed_spec("t") == (["id"], 16)
    assert "_kb" not in store.read("t").columns

    def bucket_files():
        out = {}
        root = tmp_path / "t"
        for d in os.listdir(root):
            if d.startswith("_kb="):
                files = {
                    f: os.path.getmtime(os.path.join(root, d, f))
                    for f in os.listdir(os.path.join(root, d))
                    if f.endswith(".parquet")
                }
                out[d] = files
        return out

    before = bucket_files()
    changes = spark.createDataFrame(
        [(3, 333.0, "U"), (7, 777.0, "U"), (900, 900.0, "NEW")],
        ["id", "price", "status"],
    )
    store.upsert(changes, "t", "id")
    after = bucket_files()

    got = {r["id"]: (r["price"], r["status"]) for r in store.read("t").collect()}
    assert len(got) == 201
    assert got[3] == (333.0, "U") and got[7] == (777.0, "U")
    assert got[900] == (900.0, "NEW") and got[5] == (5.0, "S")

    from pyspark.sql import functions as F

    affected = {
        f"_kb={r[0]}"
        for r in changes.select(
            F.pmod(F.xxhash64("id"), F.lit(16)).alias("b")
        ).distinct().collect()
    }
    untouched = set(before) - affected
    assert untouched, "test needs at least one untouched bucket"
    for d in untouched:
        assert after[d] == before[d], f"bucket {d} was rewritten"

    # replay idempotence: same upsert changes nothing
    store.upsert(changes, "t", "id")
    again = {r["id"]: (r["price"], r["status"]) for r in store.read("t").collect()}
    assert again == got


def test_keyed_upsert_null_key_and_schema_evolution(spark, tmp_path):
    """NULL keys match null-safely (no duplicate NULL rows on replay)
    and a new incoming column surfaces with NULLs for survivors."""
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, "a"), (None, "nullrow")], "id int, v string"
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=4)
    inc = spark.createDataFrame(
        [(None, "nullrow2", "x")], "id int, v string, extra string"
    )
    store.upsert(inc, "t", "id")
    rows = {r["v"]: r for r in store.read("t").collect()}
    assert set(rows) == {"a", "nullrow2"}
    assert rows["nullrow2"]["extra"] == "x" and rows["a"]["extra"] is None


def test_keyed_table_append_and_overwrite_routing(spark, tmp_path):
    """append() into a keyed table stamps rows into buckets (an
    unstamped root write would be invisible to the partitioned read —
    reproduced silent data loss); a plain overwrite() clears the keyed
    marker so the next upsert takes the fallback instead of crashing
    on a missing _kb column."""
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame([(i, f"v{i}") for i in range(20)], ["id", "v"])
    store.overwrite_keyed(base, "t", "id", n_buckets=4)
    store.append(spark.createDataFrame([(99, "new")], ["id", "v"]), "t")
    got = {r["id"]: r["v"] for r in store.read("t").collect()}
    assert got[99] == "new" and len(got) == 21

    plain = spark.createDataFrame([(1, "only")], ["id", "v"])
    store.overwrite(plain, "t")
    assert store.keyed_spec("t") is None
    store.upsert(spark.createDataFrame([(2, "two")], ["id", "v"]), "t", "id")
    got = {r["id"]: r["v"] for r in store.read("t").collect()}
    assert got == {1: "only", 2: "two"}


def test_keyed_upsert_coerces_key_dtype(spark, tmp_path):
    """An incoming batch whose key column is a NARROWER type (int vs
    the stored long) must hash into the SAME buckets — uncast, the
    bucket probe missed the existing row and produced duplicate keys
    (reproduced)."""
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "id long, v string")
    store.overwrite_keyed(base, "t", "id", n_buckets=4)
    inc = spark.createDataFrame([(3, "UPD")], "id int, v string")
    store.upsert(inc, "t", "id")
    rows = store.read("t").filter("id = 3").collect()
    assert len(rows) == 1 and rows[0]["v"] == "UPD"


def test_keyed_upsert_composite_key(spark, tmp_path):
    """Composite merge keys route through the bucket fast path: both
    columns feed the bucket hash and the null-safe anti-join."""
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(d, r, float(d * 10 + r)) for d in range(4) for r in range(5)],
        "day int, region int, total double",
    )
    store.overwrite_keyed(base, "t", ["day", "region"], n_buckets=4)
    inc = spark.createDataFrame(
        [(2, 3, 999.0), (9, 9, 1.0)], "day int, region int, total double"
    )
    store.upsert(inc, "t", ["day", "region"])
    got = {(r["day"], r["region"]): r["total"] for r in store.read("t").collect()}
    assert got[(2, 3)] == 999.0 and got[(9, 9)] == 1.0 and len(got) == 21
    assert got[(1, 1)] == 11.0  # untouched survivor


# ---------------------------------------------------------------------------
# Versioned keyed tables: snapshot-isolated reads + time travel on plain
# parquet (VERDICT r5 item 5) and crash-window healing (item 6).
# ---------------------------------------------------------------------------


def _mk_versioned(spark, tmp_path, n=100, buckets=8):
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i), "S") for i in range(n)], ["id", "price", "status"]
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=buckets, versioned=True)
    return store


def test_versioned_snapshot_read_and_time_travel(spark, tmp_path):
    store = _mk_versioned(spark, tmp_path)
    assert store.versions("t") == [1]
    # a reader plans its scan against v1 BEFORE the upsert...
    pinned = store.read("t")
    changes = spark.createDataFrame(
        [(3, 333.0, "U"), (900, 900.0, "NEW")], ["id", "price", "status"]
    )
    store.upsert(changes, "t", "id")
    assert store.versions("t") == [1, 2]
    # ...and still collects the PRE-upsert rows afterwards: the upsert
    # appended new files and republished the manifest, deleting nothing
    got = {r["id"]: r["price"] for r in pinned.collect()}
    assert got[3] == 3.0 and 900 not in got and len(got) == 100
    # explicit pins on both versions
    v1 = {r["id"]: r["price"] for r in store.read("t", version=1).collect()}
    v2 = {r["id"]: r["price"] for r in store.read("t", version=2).collect()}
    assert v1[3] == 3.0 and 900 not in v1
    assert v2[3] == 333.0 and v2[900] == 900.0 and len(v2) == 101
    # default read = latest
    assert {r["id"]: r["price"] for r in store.read("t").collect()} == v2
    assert "_kb" not in store.read("t").columns


def test_versioned_upsert_shares_untouched_bucket_files(spark, tmp_path):
    store = _mk_versioned(spark, tmp_path, n=200, buckets=16)
    changes = spark.createDataFrame([(3, 333.0, "U")], ["id", "price", "status"])
    store.upsert(changes, "t", "id")
    m1 = set(store._manifest_files("t", 1))
    m2 = set(store._manifest_files("t", 2))
    # the new version re-references most of v1's files verbatim (only
    # the buckets the incoming key hashed to got new files)
    shared = m1 & m2
    assert shared and len(m1 - m2) <= len(m1) // 2
    # nothing v1 references was deleted
    import os

    for rel in m1:
        assert os.path.isfile(os.path.join(str(tmp_path), "t", rel))


def test_versioned_vacuum_reclaims_and_old_pin_fails_loudly(spark, tmp_path):
    import os

    import pytest as _pytest

    store = _mk_versioned(spark, tmp_path)
    store.upsert(
        spark.createDataFrame(
            [(3, 333.0, "U"), (900, 900.0, "NEW")], ["id", "price", "status"]
        ),
        "t",
        "id",
    )
    m1 = set(store._manifest_files("t", 1))
    m2 = set(store._manifest_files("t", 2))
    deleted = store.vacuum("t", keep_last=1, grace_s=0.0)
    assert set(deleted) == m1 - m2 and store.versions("t") == [2]
    for rel in deleted:
        assert not os.path.exists(os.path.join(str(tmp_path), "t", rel))
    # latest still reads clean; the vacuumed pin errors instead of
    # silently returning partial data
    assert store.read("t").count() == 101
    with _pytest.raises(FileNotFoundError):
        store.read("t", version=1)


def test_versioned_append_and_logical_bucket_delete(spark, tmp_path):
    store = _mk_versioned(spark, tmp_path, n=50, buckets=4)
    store.append(
        spark.createDataFrame([(700, 700.0, "A")], ["id", "price", "status"]),
        "t",
    )
    assert store.versions("t") == [1, 2]
    assert store.read("t").count() == 51
    assert store.read("t", version=1).count() == 50
    # logical delete: rewrite one row's bucket WITHOUT that row; the old
    # files stay on disk (v2 still readable), the new manifest drops them
    [b] = store.keyed_buckets(
        "t", spark.createDataFrame([(700,)], ["id"])
    )
    survivors = (
        store.read_buckets("t", [b])
        .filter(F.col("id") != 700)
        .localCheckpoint()
    )
    store.overwrite_buckets(survivors, "t", [b])
    assert store.read("t").count() == 50
    assert 700 not in {r["id"] for r in store.read("t").collect()}
    assert store.read("t", version=2).count() == 51


def test_versioned_publish_crash_window_heals(spark, tmp_path, monkeypatch):
    """Kill the meta-pointer bump AFTER the manifest rename (the commit
    point): the table must already be consistent, and the next
    operation proceeds as if nothing happened."""
    store = _mk_versioned(spark, tmp_path)
    orig = store._touch_meta

    def boom(name, **extra):
        if "version" in extra and extra["version"] == 2:
            raise OSError("injected: died before meta pointer bump")
        return orig(name, **extra)

    monkeypatch.setattr(store, "_touch_meta", boom)
    import pytest as _pytest

    with _pytest.raises(OSError):
        store.upsert(
            spark.createDataFrame([(3, 333.0, "U")], ["id", "price", "status"]),
            "t",
            "id",
        )
    monkeypatch.setattr(store, "_touch_meta", orig)
    # the manifest WAS published → reads resolve v2 despite the stale
    # meta pointer, and the next write continues the history at v3
    assert store.versions("t") == [1, 2]
    assert store.read("t").filter(F.col("id") == 3).first()["price"] == 333.0
    store.upsert(
        spark.createDataFrame([(4, 444.0, "U")], ["id", "price", "status"]),
        "t",
        "id",
    )
    assert store.versions("t") == [1, 2, 3]
    got = {r["id"]: r["price"] for r in store.read("t").collect()}
    assert got[3] == 333.0 and got[4] == 444.0


def test_unversioned_upsert_crash_before_meta_heals(spark, tmp_path, monkeypatch):
    """VERDICT r5 item 6: kill the write between the manifest publish
    and the meta pointer bump (_touch_meta). The published manifest is
    the commit point, so the merge is visible, the keyed marker is
    stale-but-valid, and re-running the upsert is idempotent — the
    table heals on the next operation."""
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], ["id", "price"]
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=8)
    orig = store._touch_meta

    def boom(name, **extra):
        raise OSError("injected: died after bucket overwrite")

    monkeypatch.setattr(store, "_touch_meta", boom)
    import pytest as _pytest

    inc = spark.createDataFrame([(3, 333.0), (900, 900.0)], ["id", "price"])
    with _pytest.raises(OSError):
        store.upsert(inc, "t", "id")
    monkeypatch.setattr(store, "_touch_meta", orig)
    # data landed; marker survived; retry is a value-level no-op
    assert store.keyed_spec("t") == (["id"], 8)
    got = {r["id"]: r["price"] for r in store.read("t").collect()}
    assert got[3] == 333.0 and got[900] == 900.0 and len(got) == 101
    store.upsert(inc, "t", "id")
    assert {r["id"]: r["price"] for r in store.read("t").collect()} == got


def test_overwrite_keyed_crash_before_marker_heals(spark, tmp_path, monkeypatch):
    """Kill overwrite_keyed between the data write and the keyed-marker
    stamp (the ordering r5 fixed): no phantom marker may exist, and a
    retry completes the table."""
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], ["id", "price"]
    )
    orig = store._touch_meta

    def boom(name, **extra):
        raise OSError("injected: died before keyed marker stamp")

    monkeypatch.setattr(store, "_touch_meta", boom)
    import pytest as _pytest

    with _pytest.raises(OSError):
        store.overwrite_keyed(base, "t", "id", n_buckets=8)
    monkeypatch.setattr(store, "_touch_meta", orig)
    # no keyed marker → nothing routes into the bucket fast path against
    # a half-stamped table; the retry completes normally
    assert store.keyed_spec("t") is None
    store.overwrite_keyed(base, "t", "id", n_buckets=8)
    assert store.keyed_spec("t") == (["id"], 8)
    assert store.read("t").count() == 50
    store.upsert(
        spark.createDataFrame([(3, 333.0)], ["id", "price"]), "t", "id"
    )
    assert store.read("t").filter(F.col("id") == 3).first()["price"] == 333.0


def test_versioned_compact_rewrites_only_fat_buckets(spark, tmp_path):
    """compact(): after several upserts a churned bucket holds several
    small files; compaction rewrites fat buckets to ~one file each as a
    new version, re-references healthy buckets verbatim, leaves pinned
    older versions readable, and vacuum then reclaims the pre-compaction
    files."""
    import os

    store = _mk_versioned(spark, tmp_path, n=100, buckets=4)
    store.upsert(
        spark.createDataFrame([(3, 102.0, "U")], ["id", "price", "status"]),
        "t",
        "id",
    )
    # r14: writes now hash-cluster by _kb (one part-file per bucket per
    # write), so an upsert REPLACES its bucket with exactly one file and
    # can no longer leave multi-file buckets behind. Small-file debt now
    # accumulates through the verb whose contract is accumulation —
    # append — so build the fat buckets with appends.
    for i in range(2):
        store.append(
            spark.createDataFrame(
                [(100 + i, 1000.0 + i, "A")], ["id", "price", "status"]
            ),
            "t",
        )
    v_before = store.latest_version("t")
    m_before = store._manifest_files("t", v_before)
    counts = {}
    for f in m_before:
        b = int(f.split("=", 1)[1].split("/", 1)[0])
        counts[b] = counts.get(b, 0) + 1
    fat = {b for b, c in counts.items() if c > 1}
    assert fat, "appends should have accumulated multi-file buckets"

    v_after = store.compact("t")
    assert v_after == v_before + 1
    m_after = store._manifest_files("t", v_after)
    counts_after = {}
    for f in m_after:
        b = int(f.split("=", 1)[1].split("/", 1)[0])
        counts_after[b] = counts_after.get(b, 0) + 1
    assert all(c == 1 for c in counts_after.values())
    # healthy buckets re-referenced verbatim (no rewrite)
    for f in m_before:
        b = int(f.split("=", 1)[1].split("/", 1)[0])
        if b not in fat:
            assert f in m_after
    # identical contents; pinned pre-compaction version still reads
    want = {r["id"]: r["price"] for r in store.read("t", version=v_before).collect()}
    got = {r["id"]: r["price"] for r in store.read("t", version=v_after).collect()}
    assert got == want and got[3] == 102.0 and len(got) == 102
    # idempotent: nothing fat remains
    assert store.compact("t") == v_after
    # vacuum reclaims every file the compacted version dropped (the
    # pre-compaction small files AND the intermediate upsert versions'
    # files), and touches nothing the live manifest references
    deleted = store.vacuum("t", keep_last=1, grace_s=0.0)
    assert set(m_before) - set(m_after) <= set(deleted)
    assert not set(deleted) & set(m_after)
    for rel in deleted:
        assert not os.path.exists(os.path.join(str(tmp_path), "t", rel))
    assert {r["id"]: r["price"] for r in store.read("t").collect()} == want


def test_overwrite_keyed_versioned_reset_window_heals(spark, tmp_path, monkeypatch):
    """Kill a versioned RE-overwrite between the data write and the v1
    manifest publish (code-review r6): the old manifests are already
    retired, so reads fall back to the freshly-overwritten directory
    (the consistent snapshot), and the next write republishes a
    manifest from it."""
    store = _mk_versioned(spark, tmp_path, n=40, buckets=4)
    new_base = spark.createDataFrame(
        [(i, float(i * 10), "R") for i in range(20)], ["id", "price", "status"]
    )
    orig = store._write_manifest_file
    monkeypatch.setattr(
        store,
        "_write_manifest_file",
        lambda *a, **k: (_ for _ in ()).throw(OSError("injected")),
    )
    import pytest as _pytest

    with _pytest.raises(OSError):
        store.overwrite_keyed(new_base, "t", "id", n_buckets=4, versioned=True)
    monkeypatch.setattr(store, "_write_manifest_file", orig)
    # meta still says versioned (from the first write), history is gone
    # → the directory fallback serves the NEW data
    assert store.is_versioned("t") and store.latest_version("t") is None
    got = {r["id"]: r["price"] for r in store.read("t").collect()}
    assert got == {i: float(i * 10) for i in range(20)}
    # the next mutating operation heals the manifest history
    store.upsert(
        spark.createDataFrame([(3, -3.0, "U")], ["id", "price", "status"]),
        "t",
        "id",
    )
    assert store.versions("t") == [1, 2]
    got = {r["id"]: r["price"] for r in store.read("t").collect()}
    assert got[3] == -3.0 and len(got) == 20


def test_versioned_overwrite_buckets_widens_to_stamped_rows(spark, tmp_path):
    """Rows hashing OUTSIDE the listed buckets must not become
    invisible appends (code-review r6): the versioned path widens the
    replaced-bucket set to every bucket that receives data, mirroring
    the unversioned dynamic overwrite."""
    store = _mk_versioned(spark, tmp_path, n=50, buckets=4)
    [bA] = store.keyed_buckets("t", spark.createDataFrame([(1,)], ["id"]))
    # find an id in a DIFFERENT bucket
    other = next(
        i
        for i in range(2, 50)
        if store.keyed_buckets("t", spark.createDataFrame([(i,)], ["id"])) != [bA]
    )
    [bB] = store.keyed_buckets("t", spark.createDataFrame([(other,)], ["id"]))
    df = spark.createDataFrame(
        [(1, -1.0, "X"), (other, -2.0, "X")], ["id", "price", "status"]
    ).localCheckpoint()
    store.overwrite_buckets(df, "t", [bA])  # bB intentionally unlisted
    got = {r["id"]: r["price"] for r in store.read("t").collect()}
    # both writes are visible...
    assert got[1] == -1.0 and got[other] == -2.0
    # ...and both touched buckets were replaced wholesale (their other
    # prior rows are gone), while untouched buckets survive intact
    all_ids = set(range(50))
    in_a = {
        i for i in all_ids
        if store.keyed_buckets("t", spark.createDataFrame([(int(i),)], ["id"])) == [bA]
    }
    in_b = {
        i for i in all_ids
        if store.keyed_buckets("t", spark.createDataFrame([(int(i),)], ["id"])) == [bB]
    }
    assert set(got) == (all_ids - in_a - in_b) | {1, other}


def test_versioned_partial_overwrite_fails_loudly(spark, tmp_path, monkeypatch):
    """If a versioned overwrite died MID-WRITE (no _SUCCESS marker),
    the manifest-missing fallback must refuse to serve — or publish as
    permanent history — the partially committed directory
    (code-review r6, second pass)."""
    import os

    import pytest as _pytest

    store = _mk_versioned(spark, tmp_path, n=40, buckets=4)
    # induce the missing-history state, then simulate the mid-write
    # crash by removing the job-commit marker
    monkeypatch.setattr(
        store,
        "_write_manifest_file",
        lambda *a, **k: (_ for _ in ()).throw(OSError("injected")),
    )
    with _pytest.raises(OSError):
        store.overwrite_keyed(
            spark.createDataFrame([(1, 1.0, "R")], ["id", "price", "status"]),
            "t", "id", n_buckets=4, versioned=True,
        )
    os.remove(tmp_path / "t" / "_SUCCESS")
    with _pytest.raises(RuntimeError, match="_SUCCESS"):
        store.read("t")
    with _pytest.raises(RuntimeError, match="_SUCCESS"):
        store.read_buckets("t", [0])
    with _pytest.raises((RuntimeError, OSError)):
        store.upsert(
            spark.createDataFrame([(1, 2.0, "U")], ["id", "price", "status"]),
            "t", "id",
        )


def test_overwrite_keyed_reoverwrite_truncates_all_buckets(spark, tmp_path):
    """A re-overwrite_keyed must replace the WHOLE table even when the
    new dataset leaves some buckets empty: the session-wide dynamic
    partitionOverwriteMode would otherwise keep every no-data bucket's
    stale rows (reproduced r6: a 1-row re-overwrite of a 40-row table
    read back 36 stale rows). The write forces static overwrite."""
    store = TableStore(spark, str(tmp_path))
    store.overwrite_keyed(
        spark.createDataFrame([(i, float(i)) for i in range(40)], ["id", "v"]),
        "t", "id", n_buckets=8,
    )
    store.overwrite_keyed(
        spark.createDataFrame([(1, -1.0)], ["id", "v"]), "t", "id", n_buckets=8
    )
    assert {tuple(r) for r in store.read("t").collect()} == {(1, -1.0)}
    # and the versioned form starts its history over just as cleanly
    store.overwrite_keyed(
        spark.createDataFrame([(2, -2.0)], ["id", "v"]),
        "t", "id", n_buckets=8, versioned=True,
    )
    assert store.versions("t") == [1]
    assert {tuple(r) for r in store.read("t").collect()} == {(2, -2.0)}


def test_versioned_upsert_schema_evolution_and_pinned_schema(spark, tmp_path):
    """Additive schema evolution through the manifest path: an upsert
    carrying a new column widens the latest snapshot (missing rows read
    NULL), while a pinned pre-evolution version keeps its original
    columns."""
    store = _mk_versioned(spark, tmp_path, n=10, buckets=2)
    store.upsert(
        spark.createDataFrame(
            [(3, 333.0, "U", "extra!")],
            "id long, price double, status string, note string",
        ),
        "t",
        "id",
    )
    latest = store.read("t")
    assert "note" in latest.columns
    vals = {r["id"]: r["note"] for r in latest.collect()}
    assert vals[3] == "extra!" and vals[4] is None
    assert "note" not in store.read("t", version=1).columns


def test_write_clustered_rewrites_whole_path(spark, tmp_path):
    """write_clustered is a full replacement: a re-write covering fewer
    partition values must not keep the stale directories (the same
    dynamic-overwrite class as the overwrite_keyed bug, r6)."""
    from datapipelinerepo_spark.io import write_clustered

    out = str(tmp_path / "c")
    df1 = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "k string, v double"
    )
    write_clustered(df1, out, partition_col="k", sort_cols=["v"])
    df2 = spark.createDataFrame([("a", 9.0)], "k string, v double")
    write_clustered(df2, out, partition_col="k", sort_cols=["v"])
    got = {(r["k"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert got == {("a", 9.0)}


def test_concurrent_manifest_commits_both_survive(spark, tmp_path):
    """Two interleaved versioned writers (VERDICT r6 item 2): writer B
    publishes in the window between writer A's version-pick and A's
    publish. With put-if-absent commits (os.link claims the version
    exclusively), A's link for the contested number fails, A rescans
    and retries, and BOTH commits survive as distinct versions — the
    old max+1 → os.replace protocol silently clobbered the loser."""
    store_a = _mk_versioned(spark, tmp_path)  # publishes v1
    store_b = TableStore(spark, str(tmp_path))
    raced = {"done": False}
    real_versions = TableStore.versions

    def racing_versions(name):
        vs = real_versions(store_a, name)
        if not raced["done"]:
            raced["done"] = True
            # writer B commits INSIDE A's pick→publish window, claiming
            # the version A is about to mint
            store_b.upsert(
                spark.createDataFrame(
                    [(900, 900.0, "B")], ["id", "price", "status"]
                ),
                "t",
                "id",
            )
        return vs

    store_a.versions = racing_versions
    store_a.upsert(
        spark.createDataFrame([(3, 333.0, "A")], ["id", "price", "status"]),
        "t",
        "id",
    )
    del store_a.versions
    # v1 = base, v2 = B's commit, v3 = A's commit (retried past the
    # conflict) — nothing clobbered
    assert store_a.versions("t") == [1, 2, 3]
    v3 = {r["id"]: r["status"] for r in store_a.read("t", version=3).collect()}
    assert v3[3] == "A"
    v2 = {r["id"]: r["status"] for r in store_a.read("t", version=2).collect()}
    assert v2.get(900) == "B" and v2[3] == "S"
    # no stray tmp files leaked by the claim loop
    import os

    assert not [
        f
        for f in os.listdir(store_a._manifest_dir("t"))
        if f.startswith(".tmp-")
    ]


def test_empty_versioned_overwrite_reads_empty(spark, tmp_path):
    """overwrite_keyed(empty, versioned=True) publishes a zero-file
    manifest; reads return an EMPTY frame with the recorded schema
    instead of raising 'empty manifest' (ADVICE r6) — and a later
    upsert revives the table normally."""
    store = TableStore(spark, str(tmp_path))
    empty = spark.createDataFrame([], "id long, price double, status string")
    store.overwrite_keyed(empty, "t", "id", n_buckets=4, versioned=True)
    got = store.read("t")
    assert got.count() == 0
    assert got.columns == ["id", "price", "status"]
    store.upsert(
        spark.createDataFrame([(1, 1.0, "S")], ["id", "price", "status"]),
        "t",
        "id",
    )
    assert store.read("t").count() == 1
    # the empty v1 snapshot is still pinnable
    assert store.read("t", version=1).count() == 0


def test_overwrite_on_versioned_table_retires_history_first(spark, tmp_path):
    """Plain overwrite() of a versioned table (ADVICE r6): the old
    ordering deleted the data files first and retired manifests after,
    so a crash in between left manifests referencing deleted files and
    every read raised path-not-found. Now the history retires FIRST:
    after the retire step alone (the simulated crash point) the table
    still reads from the intact directory, and the completed overwrite
    reads the new rows."""
    import os

    store = _mk_versioned(spark, tmp_path, n=20, buckets=4)
    store.upsert(
        spark.createDataFrame([(3, 333.0, "U")], ["id", "price", "status"]),
        "t",
        "id",
    )
    # simulated crash: retire ran, the destructive write never did
    store._retire_versioned("t")
    assert not os.path.isdir(store._manifest_dir("t"))
    got = {r["id"]: r["price"] for r in store.read("t").collect()}
    # the heal serves the DIRECTORY (union of every version's files):
    # the upserted key appears in both its v1 and v2 file, so which
    # value the dict keeps is parquet split order — an implementation
    # detail that the r14 one-file-per-bucket write clustering
    # re-shuffled. The guarantee under test is "fully readable, every
    # key present", not a winner among the duplicate window's rows.
    assert got[3] in (3.0, 333.0) and len(got) == 20
    # the re-run completes the overwrite
    store.overwrite(
        spark.createDataFrame([(1, 1.0, "N")], ["id", "price", "status"]), "t"
    )
    assert {r["id"] for r in store.read("t").collect()} == {1}
    assert not store.is_versioned("t")


def test_vacuum_grace_keeps_inflight_reader_alive(spark, tmp_path):
    """VERDICT r6 item 6: a reader holding version N's DataFrame across
    compact() + vacuum(keep_last=1). With a grace window the pinned
    plan completes from retained files; with grace 0 the files are
    reclaimed and both the in-flight plan and a fresh pin fail LOUDLY
    (never partial data)."""
    import pytest as _pytest

    store = _mk_versioned(spark, tmp_path, n=100, buckets=4)
    store.upsert(
        spark.createDataFrame([(3, 333.0, "U")], ["id", "price", "status"]),
        "t",
        "id",
    )
    pinned = store.read("t", version=2)  # plan resolves v2's file list now
    # r14: clustered writes leave one file per bucket, so the default
    # fatness predicate finds nothing — force the full rewrite so the
    # compact still publishes v3 (the vacuum/grace semantics under
    # test are unchanged)
    store.compact("t", max_files_per_bucket=0)  # publishes v3
    # maintenance at the DEFAULT grace (VERDICT r7 item 8: the default
    # must be the safe one): v2 is young → files retained
    store.vacuum("t", keep_last=1)
    assert pinned.count() == 100  # in-flight reader completes
    assert 2 in store.versions("t")  # graced manifest retained too
    # aggressive vacuum (explicit grace_s=0): v1/v2 reclaimed
    store.vacuum("t", keep_last=1, grace_s=0.0)
    assert store.versions("t") == [3]
    with _pytest.raises(FileNotFoundError):
        store.read("t", version=2)
    # the stale in-flight plan fails loudly mid-scan, not partial data
    with _pytest.raises(Exception):
        pinned.count()
    assert store.read("t").count() == 100


def test_delete_where_keyed_and_versioned(spark, tmp_path):
    """delete_where: SQL DELETE semantics (NULL-predicate rows kept),
    bucket-pruned rewrite (untouched buckets' files bit-identical),
    versioned tables delete logically (prior snapshot still pinnable),
    and a no-match delete is a no-op."""
    import os

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i) if i % 10 else None, "S") for i in range(100)],
        "id long, price double, status string",
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=8, versioned=True)
    files_v1 = set(store._manifest_files("t", 1))

    affected = store.delete_where("t", F.col("price") > 90.0)
    assert affected and len(affected) < 8  # pruned, not full rewrite
    got = {r["id"] for r in store.read("t").collect()}
    # >90 deleted; NULL-price rows (ids % 10 == 0) KEPT
    assert got == {i for i in range(100) if not (i % 10 and i > 90)}
    # untouched buckets' v1 files are re-referenced verbatim in v2
    files_v2 = set(store._manifest_files("t", 2))
    assert files_v1 & files_v2
    # prior snapshot pinnable (logical delete)
    assert store.read("t", version=1).count() == 100
    # no-match delete: no-op, no new version
    assert store.delete_where("t", F.col("price") > 1e9) == []
    assert store.versions("t") == [1, 2]


def test_delete_where_empties_bucket_and_unkeyed(spark, tmp_path):
    """Deleting EVERY row of some buckets prunes them; string
    predicates work; unkeyed tables fall back to full rewrite."""
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, price double"
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=4)
    store.delete_where("t", "id >= 0")  # everything
    # a fully-emptied keyed table still reads (empty, stored schema)...
    empty = store.read("t")
    assert empty.count() == 0 and empty.columns == ["id", "price"]
    # ...and a later upsert revives it through the keyed fast path
    store.upsert(
        spark.createDataFrame([(7, 7.0)], "id long, price double"), "t", "id"
    )
    assert [tuple(r) for r in store.read("t").collect()] == [(7, 7.0)]

    plain = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "id long, price double"
    )
    store.overwrite(plain, "p")
    assert store.delete_where("p", "price > 20") == [-1]
    got = {r["id"] for r in store.read("p").collect()}
    assert got == {1, 2}  # NULL kept, 3 deleted


def test_upsert_txn_exactly_once_and_survives_compaction(spark, tmp_path):
    """upsert_txn (the Delta txnAppId/txnVersion pattern): a replayed
    transaction is skipped (no new version, no data change); distinct
    apps track independent watermarks; the watermark survives
    compaction (every publish copies the txn map forward); and
    out-of-order replays of OLDER txn versions are also skipped."""
    store = TableStore(spark, str(tmp_path))
    b0 = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id long, price double"
    )
    assert store.upsert_txn(b0, "t", "id", "appA", 0, n_buckets=8) is True
    b1 = spark.createDataFrame([(3, 333.0), (900, 900.0)], "id long, price double")
    assert store.upsert_txn(b1, "t", "id", "appA", 1) is True
    v_after = store.latest_version("t")
    got = {r["id"]: r["price"] for r in store.read("t").collect()}
    assert got[3] == 333.0 and got[900] == 900.0 and len(got) == 51

    # replay of batch 1 (foreachBatch retry): skipped, nothing changes
    b1_retry = spark.createDataFrame([(3, -1.0), (900, -1.0)], "id long, price double")
    assert store.upsert_txn(b1_retry, "t", "id", "appA", 1) is False
    assert store.latest_version("t") == v_after
    assert {r["id"]: r["price"] for r in store.read("t").collect()} == got
    # stale out-of-order replay (batch 0) also skipped
    assert store.upsert_txn(b0, "t", "id", "appA", 0) is False

    # an independent app's txn 0 is NOT shadowed by appA's watermark
    b_other = spark.createDataFrame([(7, 777.0)], "id long, price double")
    assert store.upsert_txn(b_other, "t", "id", "appB", 0) is True
    assert store.last_txn("t", "appA") == 1 and store.last_txn("t", "appB") == 0

    # compaction publishes a new manifest — watermarks carry forward,
    # so the replay is STILL skipped afterwards
    store.compact("t")
    assert store.last_txn("t", "appA") == 1
    assert store.upsert_txn(b1_retry, "t", "id", "appA", 1) is False
    final = {r["id"]: r["price"] for r in store.read("t").collect()}
    assert final[3] == 333.0 and final[7] == 777.0


def test_versioned_upsert_stream_end_to_end(spark, tmp_path):
    """The streaming face: an availableNow drain upserts micro-batches
    exactly-once into a versioned table; a manual re-application of
    the final batch id (simulating a foreachBatch retry after the
    watermark published) is a no-op."""
    import os

    from datapipelinerepo_spark.streaming.ingest import versioned_upsert_stream

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, price double"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    store = TableStore(spark, str(tmp_path / "store"))
    stream = spark.readStream.schema("id long, price double").parquet(src)
    q = versioned_upsert_stream(
        stream,
        store,
        str(tmp_path / "ckpt"),
        key="id",
        table="dim",
        app_id="e2e",
        n_buckets=4,
    )
    q.awaitTermination()
    assert store.read("dim").count() == 20
    last = store.last_txn("dim", "e2e")
    assert last is not None
    # retry of the already-applied batch: skipped
    poison = spark.createDataFrame([(0, -1.0)], "id long, price double")
    assert store.upsert_txn(poison, "dim", "id", "e2e", last) is False
    assert store.read("dim").filter("price < 0").count() == 0


def test_write_zordered_narrows_every_dimension(spark, sf_dir, tmp_path):
    """The z-order layout property: every output file covers a NARROW
    slice of BOTH z columns, where a linear sort on one column leaves
    the other column's per-file range at ~the full domain. This is
    exactly what makes footer min/max stats skip files for predicates
    on EITHER column."""
    from datapipelinerepo_spark.io import load_table, write_zordered

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_custkey"
    )

    def coverage(path, col):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max(col) - F.min(col)).alias("w"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        glob = o.agg((F.max(col) - F.min(col)).alias("w")).first()["w"]
        return sum(r["w"] / glob for r in per_file) / len(per_file), len(per_file)

    zpath = str(tmp_path / "z")
    write_zordered(o, zpath, ["o_totalprice", "o_custkey"], bits=8, n_files=16)
    cov_price, nf = coverage(zpath, "o_totalprice")
    cov_cust, _ = coverage(zpath, "o_custkey")
    assert nf > 4  # the range split actually produced multiple files

    # baseline: linear sort on o_totalprice only
    lpath = str(tmp_path / "lin")
    (
        o.repartitionByRange(16, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(lpath)
    )
    lin_price, _ = coverage(lpath, "o_totalprice")
    lin_cust, _ = coverage(lpath, "o_custkey")

    # linear: near-perfect on the sort column, ~full domain on the other
    assert lin_price < 0.2 and lin_cust > 0.8
    # z-order: materially narrow on BOTH dimensions simultaneously
    assert cov_price < 0.6 and cov_cust < 0.6, (cov_price, cov_cust)
    assert cov_cust < lin_cust / 2


def test_emptied_table_fallback_requires_committed_marker(spark, tmp_path):
    """Code-review r7: a parquet-less keyed directory is ALSO what a
    crashed overwrite leaves (static truncation ran, no task
    committed). The empty-table fallback must gate on the _SUCCESS
    marker: without it, reads fail LOUDLY and an upsert cannot
    silently rebuild the table from just its own batch."""
    import os

    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, price double"
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=4)
    # simulate the crash window: every data file AND the marker gone
    for root, _dirs, files in os.walk(str(tmp_path / "t")):
        for f in files:
            os.remove(os.path.join(root, f))
    with _pytest.raises(Exception):
        store.read("t").count()
    with _pytest.raises(Exception):
        store.upsert(
            spark.createDataFrame([(1, 1.0)], "id long, price double"),
            "t",
            "id",
        )


def test_emptied_table_schema_tracks_evolution(spark, tmp_path):
    """Code-review r7: the meta schema the emptied-table fallback
    serves must WIDEN with evolving upserts (and never narrow from a
    slim batch), so a later fully-emptied table reads back with every
    column the table ever had."""
    store = TableStore(spark, str(tmp_path))
    store.overwrite_keyed(
        spark.createDataFrame([(1, 1.0)], "id long, price double"),
        "t",
        "id",
        n_buckets=4,
    )
    # evolving upsert adds `note`
    store.upsert(
        spark.createDataFrame([(2, 2.0, "x")], "id long, price double, note string"),
        "t",
        "id",
    )
    # a NARROW batch afterwards must not shrink the stored schema
    store.upsert(
        spark.createDataFrame([(3, 3.0)], "id long, price double"), "t", "id"
    )
    store.delete_where("t", "id >= 0")
    empty = store.read("t")
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "price", "note"}


def test_zorder_expr_rejects_overflowing_bit_budget(spark):
    import pytest as _pytest

    from datapipelinerepo_spark.io import zorder_expr

    cols = [F.lit(i) for i in range(8)]
    with _pytest.raises(ValueError, match="63"):
        zorder_expr(cols, bits=8)  # 64 interleaved bits: sign-bit corruption
    zorder_expr(cols, bits=7)  # 56 bits: fine


def test_constraints_enforced_on_every_write_verb(spark, tmp_path):
    """CHECK constraints (Delta ADD CONSTRAINT parity): a violating
    batch is refused by append, upsert, overwrite and upsert_txn with
    per-constraint counts, the table is left untouched, NULL
    evaluations count as violations, and a conformant write passes."""
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    good = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, price double")
    store.overwrite_keyed(good, "t", "id", n_buckets=4)
    store.set_constraints(
        "t", {"price_pos": "price > 0", "id_set": "id IS NOT NULL"}
    )

    bad = spark.createDataFrame(
        [(3, -5.0), (None, 30.0), (4, None)], "id long, price double"
    )
    for verb in (
        lambda: store.upsert(bad, "t", "id"),
        lambda: store.append(bad, "t"),
        lambda: store.overwrite_keyed(bad, "t", "id", n_buckets=4),
        lambda: store.overwrite(bad, "t"),
    ):
        with _pytest.raises(ValueError, match="constraint violations"):
            verb()
    # table untouched by every refused write
    assert {r["id"] for r in store.read("t").collect()} == {1, 2}

    # conformant writes pass through all verbs
    store.upsert(
        spark.createDataFrame([(3, 30.0)], "id long, price double"), "t", "id"
    )
    assert store.read("t").count() == 3
    # unparseable constraint rejected at declaration time
    with _pytest.raises(Exception):
        store.set_constraints("t", {"oops": "price >"})


def test_constraints_guard_txn_writes(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    import pytest as _pytest

    g = spark.createDataFrame([(1, 1.0)], "id long, price double")
    store.upsert_txn(g, "t", "id", "app", 0, n_buckets=4)
    store.set_constraints("t", {"p": "price >= 0"})
    with _pytest.raises(ValueError, match="constraint"):
        store.upsert_txn(
            spark.createDataFrame([(2, -1.0)], "id long, price double"),
            "t",
            "id",
            "app",
            1,
        )
    # the refused txn did NOT consume the watermark: the corrected
    # batch applies under the same txn_version
    ok = store.upsert_txn(
        spark.createDataFrame([(2, 2.0)], "id long, price double"),
        "t",
        "id",
        "app",
        1,
    )
    assert ok and store.read("t").count() == 2


def test_compact_sort_cols_reclusters_buckets(spark, tmp_path):
    """compact(sort_cols=...) leaves every rewritten file internally
    sorted on the requested columns (disjoint row-group stats), while
    plain compaction preserves append order."""
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float((i * 37) % 100)) for i in range(200)],
        "id long, price double",
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=2, versioned=True)
    for k in range(3):  # accumulate small unsorted files
        store.upsert(
            spark.createDataFrame(
                [(i, float((i * 13 + k) % 100)) for i in range(k, 200, 7)],
                "id long, price double",
            ),
            "t",
            "id",
        )
    # r14: upserts now leave one file per bucket, so force the rewrite
    # (the sort-on-rewrite behavior under test is unchanged)
    store.compact("t", sort_cols=["price"], max_files_per_bucket=0)
    from pyspark.sql import Window

    back = store.read("t").select(
        F.input_file_name().alias("f"), "price"
    )
    w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
    disorder = (
        back.withColumn("_prev", F.lag("price").over(w))
        .filter(F.col("_prev").isNotNull() & (F.col("price") < F.col("_prev")))
        .count()
    )
    assert disorder == 0, "compacted files not sorted on sort_cols"
    assert store.read("t").count() == 200


def test_constraints_judge_only_incoming_batches(spark, tmp_path):
    """Review-wave-2 semantics: historical rows written before a
    constraint existed never wedge later writes — a conformant batch
    upserts into (and deletes from) a legacy-violating table, both on
    the unkeyed fallback and the keyed fast path."""
    store = TableStore(spark, str(tmp_path))
    # unkeyed table with a legacy violation
    store.overwrite(
        spark.createDataFrame([(1, -5.0), (2, 2.0)], "id long, price double"),
        "u",
    )
    store.set_constraints("u", {"p": "price > 0"})
    store.upsert(
        spark.createDataFrame([(3, 3.0)], "id long, price double"), "u", "id"
    )
    assert {r["id"] for r in store.read("u").collect()} == {1, 2, 3}
    assert store.delete_where("u", "id = 1") == [-1]  # legacy row removable
    assert {r["id"] for r in store.read("u").collect()} == {2, 3}


def test_constraints_contract_first_creation(spark, tmp_path):
    """set_constraints on a not-yet-written table leaves a meta-only
    shell that upsert/upsert_txn still treat as CREATE — and the very
    first batch is already validated."""
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    store.set_constraints("t", {"p": "price > 0"})
    with _pytest.raises(ValueError, match="constraint"):
        store.upsert(
            spark.createDataFrame([(1, -1.0)], "id long, price double"),
            "t",
            "id",
        )
    store.upsert(
        spark.createDataFrame([(1, 1.0)], "id long, price double"), "t", "id"
    )
    assert store.read("t").count() == 1

    store2 = TableStore(spark, str(tmp_path / "s2"))
    store2.set_constraints("v", {"p": "price > 0"})
    assert store2.upsert_txn(
        spark.createDataFrame([(1, 1.0)], "id long, price double"),
        "v", "id", "app", 0, n_buckets=4,
    )
    assert store2.read("v").count() == 1


def test_constraint_replay_skips_even_after_tightening(spark, tmp_path):
    """Exactly-once beats validation: a REPLAYED transaction returns
    False before constraints are consulted, even if the contract has
    since tightened past the batch — a restarted stream must not land
    in a crash-replay loop."""
    store = TableStore(spark, str(tmp_path))
    b = spark.createDataFrame([(1, 5.0)], "id long, price double")
    assert store.upsert_txn(b, "t", "id", "app", 0, n_buckets=4)
    store.set_constraints("t", {"p": "price > 10"})  # batch 0 now violates
    assert store.upsert_txn(b, "t", "id", "app", 0) is False  # skip, no raise


def test_constraint_on_evolved_column_vs_narrow_batch(spark, tmp_path):
    """A constraint on a schema-evolved column judges a NARROW batch on
    its real effect (the missing column lands as NULL → strict-NULL
    violation → clean refusal naming the constraint), instead of an
    unresolved-column crash; a batch carrying the column passes."""
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    store.overwrite_keyed(
        spark.createDataFrame([(1, 1.0)], "id long, price double"),
        "t", "id", n_buckets=4,
    )
    store.upsert(  # evolve: add note
        spark.createDataFrame(
            [(2, 2.0, "x")], "id long, price double, note string"
        ),
        "t", "id",
    )
    store.set_constraints("t", {"note_set": "note IS NOT NULL"})
    with _pytest.raises(ValueError, match="note_set"):
        store.upsert(
            spark.createDataFrame([(3, 3.0)], "id long, price double"),
            "t", "id",
        )
    store.upsert(
        spark.createDataFrame(
            [(3, 3.0, "y")], "id long, price double, note string"
        ),
        "t", "id",
    )
    assert store.read("t").count() == 3


def test_history_and_restore(spark, tmp_path):
    """DESCRIBE HISTORY + RESTORE parity: every publish records its
    operation; restore(v) republished v's exact file list as a new
    version (metadata-only, revertible), txn watermarks survive the
    rollback, and a vacuumed target refuses."""
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, price double"
    )
    store.upsert_txn(base, "t", "id", "app", 0, n_buckets=4)   # v1 overwrite
    store.upsert_txn(                                            # v2 upsert
        spark.createDataFrame([(3, 999.0)], "id long, price double"),
        "t", "id", "app", 1,
    )
    store.compact("t", max_files_per_bucket=0)                   # v3 compact
    hist = store.history("t")
    assert [h["version"] for h in hist] == [3, 2, 1]
    assert hist[0]["op"] == "compact" and hist[1]["op"] == "upsert"
    assert hist[2]["op"] == "overwrite"
    assert all(h["ts_millis"] for h in hist)
    assert hist[0]["txn"] == {"app": 1}

    # rollback the bad upsert: restore v1
    v4 = store.restore("t", 1)
    assert v4 == 4
    got = {r["id"]: r["price"] for r in store.read("t").collect()}
    assert got[3] == 3.0 and len(got) == 40
    assert store.history("t")[0]["op"] == "restore(v1)"
    # the watermark survived the rollback: replay of txn 1 still skips
    assert store.upsert_txn(
        spark.createDataFrame([(3, -1.0)], "id long, price double"),
        "t", "id", "app", 1,
    ) is False
    # the restore is itself revertible (v2 still in history)
    store.restore("t", 2)
    assert store.read("t").collect() and {
        r["id"]: r["price"] for r in store.read("t").collect()
    }[3] == 999.0
    # vacuumed target refuses
    store.vacuum("t", keep_last=1, grace_s=0.0)
    with _pytest.raises(FileNotFoundError):
        store.restore("t", 1)


def test_lookup_prunes_to_key_buckets(spark, tmp_path):
    """Point lookup reads only the requested keys' buckets (partition
    pruning visible in the scan), returns exactly the matching rows
    (null-safe on NULL keys, typed-key coercion like upsert), and is
    snapshot-consistent on versioned tables."""
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)] + [(None, -1.0)],
        "id long, price double",
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=16, versioned=True)
    got = {r["id"]: r["price"] for r in store.lookup("t", [3, 97, None, 555]).collect()}
    assert got == {3: 3.0, 97: 97.0, None: -1.0}
    # pruning: the scan lists at most 3 bucket partitions (3 keys)
    slice_ = store.read_buckets("t", store.keyed_buckets(
        "t", spark.createDataFrame([(3,), (97,), (None,)], "id long")))
    assert len(store.keyed_buckets(
        "t", spark.createDataFrame([(3,), (97,), (None,)], "id long"))) <= 3
    assert slice_.count() < 100  # strictly less than the whole table
    # int (not long) probe values still route correctly (cast to key_types)
    assert store.lookup("t", [7]).count() == 1
    # empty probe: empty result with the table schema
    empty = store.lookup("t", [])
    assert empty.count() == 0 and empty.columns == ["id", "price"]
    # composite keys via tuples
    store.overwrite_keyed(
        spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)],
                              "k1 long, k2 string, v double"),
        "c", ["k1", "k2"], n_buckets=4,
    )
    assert [tuple(r) for r in store.lookup("c", [(2, "b")]).collect()] == [(2, "b", 20.0)]


def test_lookup_edge_cases_wave3(spark, tmp_path):
    """Wave-3 review fixes: unkeyed tables refuse loudly; an all-None
    probe works (explicit typed schema, no inference); a wrong-typed
    probe value fails loudly instead of silently matching NULL-key
    rows."""
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    store.overwrite(spark.createDataFrame([(1,)], "id long"), "plain")
    with _pytest.raises(ValueError, match="keyed"):
        store.lookup("plain", [1])

    base = spark.createDataFrame(
        [(1, 1.0), (None, -1.0)], "id long, price double"
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=4)
    got = [tuple(r) for r in store.lookup("t", [None]).collect()]
    assert got == [(None, -1.0)]
    with _pytest.raises(Exception):
        store.lookup("t", ["garbage"]).collect()


def test_validate_audits_legacy_violations(spark, tmp_path):
    """validate() reports per-constraint violation counts over the
    CURRENT table without raising — the backfill companion: audit,
    repair with delete_where, audit clean."""
    store = TableStore(spark, str(tmp_path))
    store.overwrite_keyed(
        spark.createDataFrame(
            [(1, -5.0), (2, 2.0), (3, None)], "id long, price double"
        ),
        "t", "id", n_buckets=4,
    )
    store.set_constraints("t", {"p_pos": "price > 0", "p_set": "price IS NOT NULL"})
    assert store.validate("t") == {"p_pos": 2, "p_set": 1}  # NULL fails both
    store.delete_where("t", "price IS NULL OR price <= 0")
    assert store.validate("t") == {"p_pos": 0, "p_set": 0}
    assert store.validate("nonexistent") == {}


def test_lookup_handles_non_identifier_key_names(spark, tmp_path):
    """Wave-4: key columns that aren't plain identifiers (dashes,
    spaces) still probe correctly — the typed probe schema backticks
    the names."""
    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["order-id", "v"])
    store.overwrite_keyed(df, "t", "order-id", n_buckets=4)
    got = [tuple(r) for r in store.lookup("t", [2]).collect()]
    assert got == [(2, 20.0)]


# ---------------------------------------------------------------------------
# Round 8: atomic txn replay check, creation-crash heal, watermark
# carry-through on reseed overwrites, writer-safe vacuum (VERDICT r7
# items 1+8, ADVICE r7).
# ---------------------------------------------------------------------------


def test_upsert_txn_concurrent_same_app_applies_exactly_once(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7 item 1: two writers sharing an app_id race the SAME
    (app_id, txn_version) through upsert_txn, with a barrier ensuring
    BOTH pass the advisory last_txn fast check before either commits —
    the manifest-claim-time replay check must let exactly one apply."""
    import threading

    from datapipelinerepo_spark import io as io_mod

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, price double"
    )
    assert store.upsert_txn(base, "t", "id", "app", 0, n_buckets=4) is True

    barrier = threading.Barrier(2, timeout=120)
    orig = io_mod.TableStore.last_txn

    def synced(self, name, app_id):
        r = orig(self, name, app_id)
        barrier.wait()  # both racers have read the same stale watermark
        return r

    monkeypatch.setattr(io_mod.TableStore, "last_txn", synced)
    # NO physical-write lock (ADVICE r8): _append_and_publish stages
    # each append in a writer-private dir (own _temporary, own
    # filename prefix), so the two racers' write JOBS run genuinely
    # concurrently — and file attribution is by writer, so the
    # winner's manifest cannot capture the loser's part-files. The
    # loser must be stopped by the claim-loop replay check alone, and
    # its rows must stay invisible (the duplicate-count assert below).
    batch = spark.createDataFrame([(3, 333.0)], "id long, price double")
    results: list[bool] = []
    errors: list[BaseException] = []

    def run():
        try:
            results.append(store.upsert_txn(batch, "t", "id", "app", 1))
        except BaseException as e:  # surface, don't swallow
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    monkeypatch.setattr(io_mod.TableStore, "last_txn", orig)
    assert not errors, errors
    assert sorted(results) == [False, True]  # exactly one applied
    assert store.last_txn("t", "app") == 1
    # exact row count, not just distinct keys: if the winner's listing
    # window had captured the loser's concurrently appended files into
    # the published manifest (the pre-r9 directory-diff attribution
    # bug), id=3 would read back TWICE here
    assert store.read("t").count() == 40
    got = {r["id"]: r["price"] for r in store.read("t").collect()}
    assert got[3] == 333.0 and len(got) == 40
    # the loser's pre-publish appends are invisible orphans; an
    # explicit no-grace vacuum reclaims them and the table still reads
    store.vacuum("t", keep_last=1, grace_s=0.0)
    assert {r["id"]: r["price"] for r in store.read("t").collect()} == got


def test_manifest_commit_replay_check_is_atomic(spark, tmp_path):
    """Unit form of the race: a check_replay publish whose txn the
    latest manifest already covers raises TxnAlreadyApplied from
    inside the claim loop."""
    import pytest as _pytest

    from datapipelinerepo_spark.io import TxnAlreadyApplied

    store = _mk_versioned(spark, tmp_path, n=10, buckets=2)
    files = store._manifest_files("t", store.latest_version("t"))
    store._publish_version(store_name := "t", files, txn=("app", 5))
    with _pytest.raises(TxnAlreadyApplied):
        store._publish_version(
            store_name, files, txn=("app", 5), check_replay=True
        )
    # a NEWER txn version still publishes
    v = store._publish_version(
        store_name, files, txn=("app", 6), check_replay=True
    )
    assert store._manifest_doc("t", v)["txn"]["app"] == 6


def test_upsert_txn_creation_crash_retry_heals(spark, tmp_path):
    """ADVICE r7: overwrite_keyed dies between the data write and the
    meta stamp (simulated by stripping the meta + manifests after a
    real creation). The retry must re-run the creation path instead of
    wedging the stream in a ValueError crash loop."""
    import os
    import shutil as _shutil

    store = TableStore(spark, str(tmp_path))
    b0 = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, price double"
    )
    assert store.upsert_txn(b0, "t", "id", "app", 0, n_buckets=4) is True
    # simulate the crash window: data landed (bucket dirs present) but
    # neither the keyed meta nor the manifest history survives
    os.remove(store._meta_path("t"))
    _shutil.rmtree(store._manifest_dir("t"))
    assert store.keyed_spec("t") is None and store._creation_crashed("t")
    # the foreachBatch retry re-runs creation and succeeds
    assert store.upsert_txn(b0, "t", "id", "app", 0, n_buckets=4) is True
    assert store.keyed_spec("t") == (["id"], 4) and store.is_versioned("t")
    assert store.read("t").count() == 20
    # normal exactly-once semantics resume
    b1 = spark.createDataFrame([(3, 333.0)], "id long, price double")
    assert store.upsert_txn(b1, "t", "id", "app", 1) is True
    assert store.upsert_txn(b1, "t", "id", "app", 1) is False
    # a PLAIN table (no _kb dirs) still fails loudly, not silently
    # recreated as keyed
    import pytest as _pytest

    store.overwrite(spark.createDataFrame([(1, 1.0)], "id long, price double"), "p")
    assert not store._creation_crashed("p")
    with _pytest.raises(ValueError, match="versioned keyed table"):
        store.upsert_txn(b1, "p", "id", "app", 0)


def test_upsert_txn_meta_only_loss_recovers_without_truncation(
    spark, tmp_path
):
    """ADVICE r8 (medium): a legitimate ONE-commit versioned table
    that lost only its meta sidecar (v1 manifest intact, every file
    on disk) must NOT be silently recreated — the old heal truncated
    it to the incoming batch. The retry path now rebuilds the meta
    from the manifest after PROVING the declared spec against the
    stored bucket ids, and the data survives."""
    import os

    store = TableStore(spark, str(tmp_path))
    b0 = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, price double"
    )
    assert store.upsert_txn(b0, "t", "id", "app", 0, n_buckets=4) is True
    os.remove(store._meta_path("t"))
    assert store.keyed_spec("t") is None
    assert not store._creation_crashed("t")  # narrowed signature
    assert store._meta_lost_one_commit("t")
    # a NEW batch applies as a normal upsert — 20 base rows survive
    b1 = spark.createDataFrame([(3, 333.0)], "id long, price double")
    assert store.upsert_txn(b1, "t", "id", "app", 1, n_buckets=4) is True
    assert store.keyed_spec("t") == (["id"], 4) and store.is_versioned("t")
    got = {r["id"]: r["price"] for r in store.read("t").collect()}
    assert len(got) == 20 and got[3] == 333.0
    # replay of the pre-loss creation txn is still skipped
    assert store.upsert_txn(b0, "t", "id", "app", 0) is False


def test_upsert_txn_creation_crash_after_manifest_skips_as_applied(
    spark, tmp_path
):
    """The (3)→(4) creation-crash window — v1 manifest published, meta
    stamp never ran — is byte-identical to a meta-only loss; the retry
    of the SAME creation txn must rebuild the meta and then skip as
    already-applied (the v1 manifest carries the creation watermark),
    not truncate-and-rewrite."""
    import os

    store = TableStore(spark, str(tmp_path))
    b0 = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, price double"
    )
    assert store.upsert_txn(b0, "t", "id", "app", 0, n_buckets=4) is True
    v1_files = store._manifest_files("t", 1)
    os.remove(store._meta_path("t"))
    assert store.upsert_txn(b0, "t", "id", "app", 0, n_buckets=4) is False
    # same snapshot, same files — nothing was rewritten
    assert store.versions("t") == [1]
    assert store._manifest_files("t", 1) == v1_files
    assert store.read("t").count() == 20


def test_rebuild_meta_refuses_wrong_spec_and_multi_version_loss(
    spark, tmp_path
):
    """The rebuild proves the declared spec against the data: a wrong
    key set or bucket count raises instead of stamping a spec that
    would mis-route future upserts. A MULTI-version table losing its
    meta stays a loud error (no silent recreation either)."""
    import os

    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    b0 = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, price double"
    )
    assert store.upsert_txn(b0, "t", "id", "app", 0, n_buckets=4) is True
    os.remove(store._meta_path("t"))
    b1 = spark.createDataFrame([(3, 333.0)], "id long, price double")
    with _pytest.raises(ValueError, match="does not reproduce"):
        store.upsert_txn(b1, "t", "id", "app", 1, n_buckets=8)
    with _pytest.raises(ValueError, match="not in the v1 snapshot"):
        store.upsert_txn(
            b1.withColumnRenamed("id", "nope"), "t", "nope", "app", 1,
            n_buckets=4,
        )
    # correct spec still recovers after the refused attempts
    assert store.upsert_txn(b1, "t", "id", "app", 1, n_buckets=4) is True
    # multi-version meta loss: loud, untouched
    store2 = TableStore(spark, str(tmp_path / "m"))
    assert store2.upsert_txn(b0, "t", "id", "app", 0, n_buckets=4) is True
    assert store2.upsert_txn(b1, "t", "id", "app", 1) is True
    os.remove(store2._meta_path("t"))
    assert not store2._creation_crashed("t")
    assert not store2._meta_lost_one_commit("t")
    with _pytest.raises(ValueError, match="versioned keyed table"):
        store2.upsert_txn(b1, "t", "id", "app", 2)
    assert len(store2.versions("t")) == 2  # data untouched


def test_versioned_reseed_overwrite_carries_txn_watermarks(spark, tmp_path):
    """ADVICE r7: a versioned reseed overwrite_keyed must carry the
    retiring history's txn map into its v1 manifest — a replayed
    streaming batch (same app_id, old txn_version) after the reseed
    must still be skipped, like Delta and like restore()."""
    store = TableStore(spark, str(tmp_path))
    b0 = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, price double"
    )
    assert store.upsert_txn(b0, "t", "id", "app", 7, n_buckets=4) is True
    # administrative reseed of the same table, still versioned
    reseed = spark.createDataFrame([(1, 100.0)], "id long, price double")
    store.overwrite_keyed(reseed, "t", "id", n_buckets=4, versioned=True)
    assert store.versions("t") == [1]  # history reset...
    assert store.last_txn("t", "app") == 7  # ...watermarks carried
    # the replayed batch is skipped, not re-applied
    assert store.upsert_txn(b0, "t", "id", "app", 7) is False
    assert {r["id"] for r in store.read("t").collect()} == {1}
    # an UNVERSIONED reseed drops versioning (and with it the map) —
    # the documented trade; upsert_txn then refuses loudly
    store.overwrite_keyed(reseed, "t", "id", n_buckets=4, versioned=False)
    assert store.last_txn("t", "app") is None


def test_manifest_ts_monotonic_across_clock_skew(spark, tmp_path, monkeypatch):
    """ADVICE r8 (low): manifest ts is stamped at claim time and
    clamped to >= the superseded manifest's ts, so a writer that
    retried late (or a backwards clock step) can never publish a
    LATER version with an EARLIER timestamp — version_as_of assumes
    ts is monotonic with version order."""
    import time as time_mod

    from datapipelinerepo_spark import io as io_mod

    store = _mk_versioned(spark, tmp_path, n=10, buckets=2)
    t1 = store._manifest_doc("t", 1)["ts"]
    # clock steps BACKWARD by an hour before the next publish
    real = time_mod.time
    monkeypatch.setattr(io_mod.time, "time", lambda: real() - 3600.0)
    files = store._manifest_files("t", 1)
    v2 = store._publish_version("t", files, op="noop")
    t2 = store._manifest_doc("t", v2)["ts"]
    assert t2 >= t1
    # ts resolution still lands on the latest version at/after t2
    assert store.version_as_of("t", t2) == v2


def test_vacuum_age_gate_protects_inflight_writer_files(spark, tmp_path):
    """ADVICE r7 (medium): a data file appended by a not-yet-committed
    writer (no manifest references it yet) must survive a vacuum run
    at the safe default grace — deleting it would let the writer
    publish a manifest naming deleted files. grace_s=0 explicitly
    opts out."""
    import os
    import shutil as _shutil

    store = _mk_versioned(spark, tmp_path, n=20, buckets=2)
    # simulate an in-flight writer: a fresh part-file present on disk
    # but referenced by no manifest (exactly what _append_and_publish
    # leaves between its append and its publish)
    src_rel = store._manifest_files("t", 1)[0]
    orphan_rel = src_rel.rsplit("/", 1)[0] + "/part-inflight.snappy.parquet"
    _shutil.copy(
        os.path.join(str(tmp_path), "t", src_rel),
        os.path.join(str(tmp_path), "t", orphan_rel),
    )
    deleted = store.vacuum("t", keep_last=1)  # safe default grace
    assert orphan_rel not in deleted
    assert os.path.exists(os.path.join(str(tmp_path), "t", orphan_rel))
    # explicit no-grace maintenance (no concurrent work) reclaims it
    deleted = store.vacuum("t", keep_last=1, grace_s=0.0)
    assert orphan_rel in deleted
    assert store.read("t").count() == 20


def test_timestamp_time_travel_and_restore_to_ts(spark, tmp_path):
    """VERDICT r7 item 2: TIMESTAMP AS OF parity. Boundary semantics:
    the exact commit ts resolves that commit, an inter-version ts
    resolves the earlier version, before-first raises, after-last is
    the latest; restore(version_as_of(ts)) rolls back through the same
    resolution."""
    import datetime as _dt
    import time as _time

    import pytest as _pytest

    store = _mk_versioned(spark, tmp_path, n=20, buckets=4)  # v1
    _time.sleep(0.02)
    store.upsert(
        spark.createDataFrame([(3, 333.0, "U")], ["id", "price", "status"]),
        "t", "id",
    )  # v2
    _time.sleep(0.02)
    store.upsert(
        spark.createDataFrame([(3, 999.0, "V")], ["id", "price", "status"]),
        "t", "id",
    )  # v3
    ts = {h["version"]: h["ts_millis"] for h in store.history("t")}
    assert ts[1] < ts[2] < ts[3]
    # exact commit ts → that commit
    assert store.version_as_of("t", ts[2]) == 2
    # between commits → the earlier one
    assert store.version_as_of("t", (ts[2] + ts[3]) // 2) == 2
    # after the last commit → latest
    assert store.version_as_of("t", ts[3] + 10_000) == 3
    # before the first → loud error, not the oldest snapshot
    with _pytest.raises(ValueError, match="no retained version"):
        store.version_as_of("t", ts[1] - 10_000)
    # read(as_of_ts=) pins the resolved snapshot; datetimes accepted
    # (naive = UTC)
    got = {r["id"]: r["price"] for r in store.read("t", as_of_ts=ts[2]).collect()}
    assert got[3] == 333.0
    as_dt = _dt.datetime.fromtimestamp(ts[2] / 1000, _dt.timezone.utc)
    got_dt = {
        r["id"]: r["price"] for r in store.read("t", as_of_ts=as_dt).collect()
    }
    assert got_dt == got
    naive = as_dt.replace(tzinfo=None)
    assert store.version_as_of("t", naive) == 2
    with _pytest.raises(ValueError, match="not both"):
        store.read("t", version=1, as_of_ts=ts[2])
    # unversioned tables refuse with a clear message
    store.overwrite(spark.createDataFrame([(1, 1.0)], "id long, p double"), "u")
    with _pytest.raises(ValueError, match="versioned"):
        store.read("u", as_of_ts=ts[2])
    # restore to a timestamp: metadata-only rollback to the resolved
    # version
    v = store.restore("t", store.version_as_of("t", (ts[2] + ts[3]) // 2))
    assert v == 4 and store.history("t")[0]["op"] == "restore(v2)"
    got = {r["id"]: r["price"] for r in store.read("t").collect()}
    assert got[3] == 333.0 and len(got) == 20


def test_schema_evolution_through_versioned_upserts(spark, tmp_path):
    """VERDICT r7 item 3: an upsert whose batch carries a NEW column
    lands with NULL backfill on untouched buckets' reads, the
    pre-evolution snapshot keeps its old schema under time travel,
    and the widened schema survives compaction and restore."""
    store = _mk_versioned(spark, tmp_path, n=20, buckets=4)  # id/price/status
    batch = spark.createDataFrame(
        [(3, 333.0, "U", "annotated")],
        "id long, price double, status string, note string",
    )
    store.upsert(batch, "t", "id")  # v2, evolving
    got = store.read("t")
    assert set(got.columns) == {"id", "price", "status", "note"}
    notes = {r["id"]: r["note"] for r in got.collect()}
    assert notes[3] == "annotated" and notes[5] is None and len(notes) == 20
    # pre-evolution snapshot: old schema, no phantom column
    assert set(store.read("t", version=1).columns) == {"id", "price", "status"}
    # the exactly-once path evolves identically
    b2 = spark.createDataFrame(
        [(7, 777.0, "S", "txn-note")],
        "id long, price double, status string, note string",
    )
    assert store.upsert_txn(b2, "t", "id", "app", 0) is True
    # compaction rewrites mixed-schema buckets without losing either side
    store.compact("t")
    after = {r["id"]: (r["price"], r["note"]) for r in store.read("t").collect()}
    assert after[3] == (333.0, "annotated") and after[7] == (777.0, "txn-note")
    assert after[5] == (5.0, None) and len(after) == 20
    # restore to the pre-evolution version: manifest-recorded v1 schema
    store.restore("t", 1)
    assert set(store.read("t").columns) == {"id", "price", "status"}
    assert store.read("t").count() == 20
    # ...and evolution still works after the rollback
    store.upsert(batch, "t", "id")
    assert "note" in store.read("t").columns
    # the fully-emptied-table fallback serves the WIDENED schema
    store.delete_where("t", F.col("id") >= 0)
    assert store.read("t").count() == 0
    assert "note" in store.read("t").columns


def test_table_changes_change_data_feed(spark, tmp_path):
    """CDF parity: table_changes(from, to) classifies the row-level
    diff between two snapshots as insert/delete/update pre+post;
    rewritten-but-unchanged rows (compaction, identical re-upserts)
    cancel out; schema-evolved columns surface as updates only when a
    real value arrived; vacuumed versions refuse."""
    import pytest as _pytest

    store = _mk_versioned(spark, tmp_path, n=20, buckets=4)  # v1
    # v2: update id=3, insert id=100
    store.upsert(
        spark.createDataFrame(
            [(3, 333.0, "U"), (100, 100.0, "NEW")], ["id", "price", "status"]
        ),
        "t", "id",
    )
    # v3: delete id=5
    store.delete_where("t", F.col("id") == 5)
    ch = {
        (r["id"], r["_change_type"]): (r["price"], r["status"])
        for r in store.table_changes("t", 1).collect()
    }
    assert ch == {
        (100, "insert"): (100.0, "NEW"),
        (5, "delete"): (5.0, "S"),
        (3, "update_preimage"): (3.0, "S"),
        (3, "update_postimage"): (333.0, "U"),
    }
    # window slicing: v2→v3 sees only the delete
    ch23 = {
        (r["id"], r["_change_type"]) for r in store.table_changes("t", 2, 3).collect()
    }
    assert ch23 == {(5, "delete")}
    # compaction rewrites files but changes no rows → empty feed
    v_before = store.latest_version("t")
    store.compact("t")
    assert store.table_changes("t", v_before).count() == 0
    # an upsert landing IDENTICAL values also cancels out
    store.upsert(
        spark.createDataFrame([(3, 333.0, "U")], ["id", "price", "status"]),
        "t", "id",
    )
    assert store.table_changes("t", v_before).count() == 0
    # schema evolution: the new column backfills as an update only for
    # the row that got a real value
    store.upsert(
        spark.createDataFrame(
            [(7, 7.0, "S", "noted")],
            "id long, price double, status string, note string",
        ),
        "t", "id",
    )
    ev = {
        (r["id"], r["_change_type"]): r["note"]
        for r in store.table_changes("t", v_before).collect()
    }
    assert ev == {
        (7, "update_preimage"): None,
        (7, "update_postimage"): "noted",
    }
    # identity window: from == to → empty
    v_now = store.latest_version("t")
    assert store.table_changes("t", v_now, v_now).count() == 0
    # vacuumed source version refuses loudly
    store.vacuum("t", keep_last=1, grace_s=0.0)
    with _pytest.raises(FileNotFoundError):
        store.table_changes("t", 1).count()
    # unkeyed/unversioned tables refuse
    store.overwrite(spark.createDataFrame([(1,)], "id long"), "p")
    with _pytest.raises(ValueError, match="versioned keyed"):
        store.table_changes("p", 1)


def test_merge_when_full_clause_surface(spark, tmp_path):
    """Conditional MERGE (Delta whenMatchedUpdate/Delete +
    whenNotMatchedInsert clause forms): computed partial updates over
    t./s. expressions, gated deletes, conditional inserts, untouched
    survivors — and the same bucket-pruned cost profile as upsert."""
    import pytest as _pytest

    store = _mk_versioned(spark, tmp_path, n=20, buckets=4)  # id/price/status
    src = spark.createDataFrame(
        [
            (3, 10.0, "bump"),     # matched: price += delta
            (5, 0.0, "cancel"),    # matched: delete
            (7, 5.0, "ignore"),    # matched: no clause fires → kept
            (100, 1.0, "bump"),    # unmatched: insert (op != 'drop')
            (101, 1.0, "drop"),    # unmatched: insert gated out
        ],
        "id long, delta double, op string",
    )
    buckets = store.merge_when(
        src,
        "t",
        "id",
        when_matched_update={"price": "t.price + s.delta"},
        matched_condition="s.op = 'bump'",
        when_matched_delete="s.op = 'cancel'",
        when_not_matched_insert="s.op <> 'drop'",
    )
    got = {r["id"]: (r["price"], r["status"]) for r in store.read("t").collect()}
    assert got[3] == (13.0, "S")        # computed update, status kept
    assert 5 not in got                  # deleted
    assert got[7] == (7.0, "S")          # matched but no clause → kept
    assert got[100][0] is None or got[100] == (None, None)  # inserted:
    # source has no price/status columns → NULL backfill
    assert 101 not in got                # insert gated out
    assert got[2] == (2.0, "S") and len(got) == 20  # survivors intact
    # the source's extra columns (delta/op) widened the schema
    assert {"delta", "op"} <= set(store.read("t").columns)
    assert len(buckets) <= 4
    # update-all form == upsert semantics
    store2 = _mk_versioned(spark, tmp_path / "b", n=10, buckets=2)
    s2 = spark.createDataFrame(
        [(1, 111.0, "U"), (50, 50.0, "NEW")], ["id", "price", "status"]
    )
    store2.merge_when(s2, "t", "id")  # defaults: update all + insert all
    got2 = {r["id"]: r["price"] for r in store2.read("t").collect()}
    assert got2[1] == 111.0 and got2[50] == 50.0 and len(got2) == 11
    # constraints judge LANDED rows only
    store2.set_constraints("t", {"price_pos": "price > 0"})
    bad = spark.createDataFrame([(2, -5.0, "U")], ["id", "price", "status"])
    with _pytest.raises(ValueError, match="violations"):
        store2.merge_when(bad, "t", "id")
    # a delete-only merge on a legacy-violating table must still work:
    # nothing lands anew
    store2.merge_when(
        spark.createDataFrame([(3,)], "id long"),
        "t",
        "id",
        when_matched_update=None,
        when_matched_delete="true",
        when_not_matched_insert=False,
    )
    assert 3 not in {r["id"] for r in store2.read("t").collect()}
    # key mismatch / unkeyed table refuse loudly
    with _pytest.raises(ValueError, match="merge key"):
        store2.merge_when(s2, "t", "price")
    store2.overwrite(spark.createDataFrame([(1,)], "id long"), "p")
    with _pytest.raises(ValueError, match="keyed table"):
        store2.merge_when(s2, "p", "id")


def test_incremental_rollup_group_lifecycle(spark, tmp_path):
    """apply_changes_to_rollup's group lifecycle: a NEW group inserts,
    a group netting to zero rows DELETES its rollup row, and the
    maintained state equals a recompute after every feed."""
    from decimal import Decimal

    from datapipelinerepo_spark.plans.rollup import (
        apply_changes_to_rollup,
        seed_rollup,
    )

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "A"), (3, 30.0, "B")],
        "id long, val double, grp string",
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=4, versioned=True)
    seed_rollup(store, store.read("t", version=1), "r", ["grp"], "val")

    def rollup():
        return {
            r["grp"]: (r["n_rows"], r["sum_val"])
            for r in store.read("r").collect()
        }

    def recompute():
        return {
            r["grp"]: (r["n"], r["s"])
            for r in store.read("t")
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("val").cast("decimal(18,4)"))
                .cast("decimal(28,4)")
                .alias("s"),
            )
            .collect()
        }

    assert rollup() == recompute()
    # new group C inserts; an update shifts A's sum
    v_from = store.latest_version("t")
    store.upsert(
        spark.createDataFrame(
            [(1, 15.0, "A"), (9, 9.0, "C")], "id long, val double, grp string"
        ),
        "t",
        "id",
    )
    apply_changes_to_rollup(
        store, store.table_changes("t", v_from), "r", ["grp"], "val"
    )
    got = rollup()
    assert got == recompute() and got["C"] == (1, Decimal("9.0000"))
    assert got["A"] == (2, Decimal("35.0000"))
    # deleting every B row removes the B rollup row entirely
    v_from = store.latest_version("t")
    store.delete_where("t", F.col("grp") == "B")
    apply_changes_to_rollup(
        store, store.table_changes("t", v_from), "r", ["grp"], "val"
    )
    got = rollup()
    assert "B" not in got and got == recompute()
    # a group MOVE (row changes grp) nets -1/+1 across two groups
    v_from = store.latest_version("t")
    store.upsert(
        spark.createDataFrame([(9, 9.0, "A")], "id long, val double, grp string"),
        "t",
        "id",
    )
    apply_changes_to_rollup(
        store, store.table_changes("t", v_from), "r", ["grp"], "val"
    )
    got = rollup()
    assert "C" not in got and got["A"] == (3, Decimal("44.0000"))
    assert got == recompute()


def test_round8_review_fixes(spark, tmp_path):
    """Code-review r8 regressions: NULL measures don't poison the
    maintained rollup sum; merge_when refuses key-column updates;
    table_changes refuses a reversed range; a mature versioned table
    that lost only its meta fails LOUDLY instead of being silently
    recreated from one batch."""
    from decimal import Decimal

    import pytest as _pytest

    from datapipelinerepo_spark.plans.rollup import (
        apply_changes_to_rollup,
        seed_rollup,
    )

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "A")], "id long, val double, grp string"
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=2, versioned=True)
    seed_rollup(store, store.read("t", version=1), "r", ["grp"], "val")
    # an insert whose measure is NULL: count moves, sum unchanged
    v = store.latest_version("t")
    store.upsert(
        spark.createDataFrame([(3, None, "A")], "id long, val double, grp string"),
        "t", "id",
    )
    apply_changes_to_rollup(
        store, store.table_changes("t", v), "r", ["grp"], "val"
    )
    got = {r["grp"]: (r["n_rows"], r["sum_val"]) for r in store.read("r").collect()}
    assert got["A"] == (3, Decimal("30.0000"))  # not NULL-poisoned
    # ...and later feeds still apply on top
    v = store.latest_version("t")
    store.upsert(
        spark.createDataFrame([(4, 5.0, "A")], "id long, val double, grp string"),
        "t", "id",
    )
    apply_changes_to_rollup(
        store, store.table_changes("t", v), "r", ["grp"], "val"
    )
    got = {r["grp"]: (r["n_rows"], r["sum_val"]) for r in store.read("r").collect()}
    assert got["A"] == (4, Decimal("35.0000"))
    # merge_when refuses merge-key assignment
    with _pytest.raises(ValueError, match="merge-.?key"):
        store.merge_when(
            spark.createDataFrame([(1,)], "id long"),
            "t",
            "id",
            when_matched_update={"id": "s.id + 1000"},
        )
    # reversed CDF range refuses
    with _pytest.raises(ValueError, match="reversed"):
        store.table_changes("t", store.latest_version("t"), 1)
    # mature table (multi-version history) losing ONLY its meta stays a
    # loud error on the txn path — not a silent recreation
    import os as _os

    assert len(store.versions("t")) > 1
    _os.remove(store._meta_path("t"))
    assert not store._creation_crashed("t")
    with _pytest.raises(ValueError, match="versioned keyed table"):
        store.upsert_txn(
            spark.createDataFrame([(9, 9.0, "A")], "id long, val double, grp string"),
            "t", "id", "app", 99,
        )


def test_read_where_data_skipping(spark, tmp_path):
    """Manifest-carried file stats prune the scan: after clustering,
    a narrow range opens a strict subset of the live files; results
    always equal the plain filter; files without stats (or all-NULL
    columns) are kept, never wrongly pruned; stats survive compaction
    and upserts."""
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))

    def slab(lo):  # 100 rows covering one price century
        return spark.createDataFrame(
            [(i, float(i), "S") for i in range(lo, lo + 100)],
            ["id", "price", "status"],
        )

    # ingestion-ordered slabs (the natural layout of time/sequence
    # columns): each append's files cover ONE price century, so
    # file-level [min,max] stats are narrow — hash bucketing spreads
    # IDS across buckets, but every file still holds one slab's prices
    store.overwrite_keyed(slab(0), "t", "id", n_buckets=8, versioned=True)
    for lo in range(100, 1000, 100):
        store.append(slab(lo), "t")

    def plain(lo, hi):
        return {
            r["id"]
            for r in store.read("t").filter(F.col("price").between(lo, hi)).collect()
        }

    got = {r["id"] for r in store.read_where("t", "price", (100.0, 120.0)).collect()}
    assert got == plain(100.0, 120.0) and len(got) == 21
    # equality form
    got1 = {r["id"] for r in store.read_where("t", "price", (7.0, 7.0)).collect()}
    assert got1 == {7}
    # an out-of-domain range prunes EVERYTHING and still reads as empty
    kept, total = store.pruned_file_count("t", "price", (1e9, 2e9))
    assert kept == 0 and total > 0
    assert store.read_where("t", "price", (1e9, 2e9)).count() == 0
    # id is bucketed by hash, so id-stats spread across buckets: a
    # narrow price range must open fewer files than the table holds
    kept, total = store.pruned_file_count("t", "price", (100.0, 120.0))
    assert 0 < kept < total
    # stats carry forward across an upsert (untouched files keep
    # theirs; the new files get footer-read stats)
    store.upsert(
        spark.createDataFrame([(5, 5000.0, "U")], ["id", "price", "status"]),
        "t", "id",
    )
    got2 = {r["id"] for r in store.read_where("t", "price", (4999.0, 5001.0)).collect()}
    assert got2 == {5}
    assert {r["id"] for r in store.read_where("t", "price", (5.0, 5.0)).collect()} == set()
    # all-NULL column: no stat recorded -> file kept, filter exact
    store.upsert(
        spark.createDataFrame(
            [(6, None, "U")], "id long, price double, status string"
        ),
        "t", "id",
    )
    assert store.read_where("t", "price", (6.0, 6.0)).count() == 0  # NULL never matches
    got3 = {r["id"] for r in store.read_where("t", "price", (100.0, 120.0)).collect()}
    assert got3 == plain(100.0, 120.0)
    # unversioned tables refuse (stats live in manifests)
    store.overwrite(spark.createDataFrame([(1, 1.0)], "id long, p double"), "u")
    with _pytest.raises(ValueError, match="versioned"):
        store.read_where("u", "p", (0, 1))
    # malformed bounds get the descriptive ValueError, not the bare
    # TypeError the validator exists to replace (ADVICE r8): a scalar
    # where (lo, hi) is expected, in both calling forms
    with _pytest.raises(ValueError, match="between must be"):
        store.read_where("t", "price", 5)
    with _pytest.raises(ValueError, match="malformed ranges"):
        store.read_where("t", ranges={"price": 5})


def test_read_where_warns_when_stats_inert(spark, tmp_path):
    """VERDICT r8 item 9: an INT96-written timestamp column carries NO
    parquet min/max stats, so data skipping on it is inert — read_where
    must WARN loudly and bump the observability counter instead of
    silently scanning everything, while still returning correct rows
    (absent stats mean 'cannot prune', never 'no rows')."""
    import datetime as dt
    import warnings as _warnings

    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    rows = [
        (i, dt.datetime(2026, 1, 1) + dt.timedelta(days=i)) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")  # the vanilla-writer default
    try:
        store.overwrite_keyed(df, "t", "id", n_buckets=2, versioned=True)
    finally:
        spark.conf.set(key, prev)
    lo, hi = dt.datetime(2026, 1, 5), dt.datetime(2026, 1, 10)
    with _pytest.warns(UserWarning, match="data skipping is INERT"):
        got = {r["id"] for r in store.read_where("t", "ts", (lo, hi)).collect()}
    assert got == {4, 5, 6, 7, 8, 9}  # correctness unaffected
    with _pytest.warns(UserWarning, match="no min/max stats"):
        kept, total = store.pruned_file_count("t", "ts", (lo, hi))
    assert kept == total and total > 0  # inert: nothing pruned
    assert store.prune_stat_misses[("t", "ts")] == 2
    # a column WITH stats stays silent (no false alarms)
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        kept_id, total_id = store.pruned_file_count("t", "id", (0, 5))
    assert ("t", "id") not in store.prune_stat_misses
    assert kept_id <= total_id


def test_compact_zorder_recluster(spark, tmp_path):
    """compact(zorder_cols=...) rewrites fat buckets ordered by the
    Morton code of the columns' quantile ranks: contents identical,
    and within each rewritten file BOTH dimensions' row-group spans
    narrow versus append order (multi-dimensional clustering, not just
    the leading column)."""
    import os as _os

    import pyarrow.parquet as _pq
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    rows = [(i, float(i % 97), float((i * 31) % 89)) for i in range(4000)]
    base = spark.createDataFrame(rows, ["id", "x", "y"])
    store.overwrite_keyed(base, "t", "id", n_buckets=2, versioned=True)
    # create small-file debt so compact has something to rewrite
    for k in range(3):
        store.upsert(
            spark.createDataFrame(
                [(i, float(i % 97), float((i * 31) % 89)) for i in range(k, 4000, 7)],
                ["id", "x", "y"],
            ),
            "t",
            "id",
        )
    before = {tuple(r) for r in store.read("t").collect()}
    with _pytest.raises(ValueError, match="not both"):
        store.compact("t", sort_cols=["x"], zorder_cols=["y"])
    # r14: clustered upserts leave one file per bucket — force the
    # rewrite; the z-order layout claim below is unchanged
    v = store.compact(
        "t", zorder_cols=["x", "y"], zorder_bits=4, max_files_per_bucket=0
    )
    assert store.history("t")[0]["op"] == "compact"
    assert {tuple(r) for r in store.read("t").collect()} == before

    # The layout claim, measured (code-review r8 wave 2: the earlier
    # smoke assertion was vacuous): slice each rewritten file into
    # consecutive 256-row chunks (emulated row groups — the files here
    # are single-row-group) and compare each dimension's mean chunk
    # span against the full domain. Z-ordered rows cluster BOTH
    # dimensions, so chunks cover a fraction of each domain; append
    # order (x = i % 97 cycles every 97 rows) would cover ~all of it.
    def mean_chunk_span(version, col, chunk=256):
        spans = []
        for rel in store._manifest_files("t", version):
            vals = (
                _pq.read_table(
                    _os.path.join(str(tmp_path), "t", rel), columns=[col]
                )
                .column(col)
                .to_pylist()
            )
            for i in range(0, len(vals), chunk):
                part = vals[i : i + chunk]
                if len(part) >= 32:  # skip tiny tails
                    spans.append(max(part) - min(part))
        return sum(spans) / len(spans)

    # measured A/B against the pre-compaction (id-ordered — x = id % 97
    # cycles fully every 97 rows, so chunks span ~the whole domain)
    # layout: the z-ordered rewrite must narrow BOTH dimensions' mean
    # chunk span materially at once — a linear x-sort would leave y
    # wide, a no-op ordering would leave both wide (the earlier smoke
    # assertion caught neither)
    for col in ("x", "y"):
        before_span = mean_chunk_span(v - 1, col)
        after_span = mean_chunk_span(v, col)
        assert after_span < before_span * 0.8, (col, before_span, after_span)


def test_read_where_wave2_fixes(spark, tmp_path, monkeypatch):
    """Code-review r8 wave 2 regressions: (1) read_where returns empty
    — not UNRESOLVED_COLUMN — when pruning drops every file carrying a
    schema-evolved column; (2) timezone-aware bounds prune on the UTC
    instant, not the foreign wall clock; (3) restore stays
    metadata-only: it never footer-reads the restored files even when
    they predate the latest manifest."""
    import datetime as dt

    from datapipelinerepo_spark import io as io_mod

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, price double"
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=4, versioned=True)
    # (1) evolve with column b in one narrow-range file
    store.append(
        spark.createDataFrame([(500, 1.0, 100.0)], "id long, price double, b double"),
        "t",
    )
    out = store.read_where("t", "b", (500.0, 600.0))  # prunes the b file
    assert out.count() == 0 and "b" in out.columns
    hit = store.read_where("t", "b", (99.0, 101.0))
    assert [r["id"] for r in hit.collect()] == [500]
    # (2) aware datetime bounds: build a ts-slabbed table; a +10:00
    # bound equal to the UTC instant of a slab edge must not prune it
    t0 = dt.datetime(2026, 3, 1, 0, 0, 0)
    slabs = spark.createDataFrame(
        [(i, t0 + dt.timedelta(days=i)) for i in range(10)],
        "id long, ts timestamp",
    )
    store.overwrite_keyed(
        slabs.filter(F.col("id") < 5), "ts_t", "id", n_buckets=2, versioned=True
    )
    store.append(slabs.filter(F.col("id") >= 5), "ts_t")
    plus10 = dt.timezone(dt.timedelta(hours=10))
    # UTC instant 2026-03-03 00:00 expressed as 10:00 on the +10 clock
    lo_aware = dt.datetime(2026, 3, 3, 10, 0, 0, tzinfo=plus10)
    hi_aware = dt.datetime(2026, 3, 4, 10, 0, 0, tzinfo=plus10)
    got = {r["id"] for r in store.read_where("ts_t", "ts", (lo_aware, hi_aware)).collect()}
    naive = {
        r["id"]
        for r in store.read_where(
            "ts_t", "ts", (dt.datetime(2026, 3, 3), dt.datetime(2026, 3, 4))
        ).collect()
    }
    assert got == naive == {2, 3}
    # timestamp stats are actually recorded (TIMESTAMP_MICROS session)
    kept, total = store.pruned_file_count(
        "ts_t", "ts", (dt.datetime(2026, 3, 9), dt.datetime(2026, 3, 9))
    )
    assert kept < total
    # (3) restore with compaction in between: no footer reads
    store.upsert(
        spark.createDataFrame([(3, 333.0)], "id long, price double"), "t", "id"
    )
    v_target = store.latest_version("t")
    store.compact("t")

    def boom(self, name, rel):
        raise AssertionError(f"footer read during restore: {name}/{rel}")

    monkeypatch.setattr(io_mod.TableStore, "_file_stats", boom)
    store.restore("t", v_target)  # must not touch any footer
    monkeypatch.undo()
    assert {r["id"] for r in store.read("t").collect()} >= {0, 3, 500}


def test_sync_rollup_exactly_once(spark, tmp_path):
    """sync_rollup: seed, incremental catch-up equal to recompute, and
    the high-water mark rides the rollup's OWN txn watermark — so a
    replayed window (the crash-retry / concurrent-syncer case) is
    refused at the manifest commit, never double-applied."""
    from decimal import Decimal

    from datapipelinerepo_spark.plans.rollup import (
        apply_changes_to_rollup,
        sync_rollup,
    )

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B")], "id long, val double, grp string"
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=2, versioned=True)
    assert sync_rollup(store, "t", "r", ["grp"], "val") == 1  # seeds

    def rollup():
        return {
            r["grp"]: (r["n_rows"], r["sum_val"])
            for r in store.read("r").collect()
        }

    assert rollup() == {"A": (1, Decimal("10.0000")), "B": (1, Decimal("20.0000"))}
    # no-op sync: same version, nothing applied
    assert sync_rollup(store, "t", "r", ["grp"], "val") == 1
    # two base writes, then one catch-up covering both
    store.upsert(
        spark.createDataFrame([(3, 5.0, "A")], "id long, val double, grp string"),
        "t", "id",
    )
    store.delete_where("t", F.col("grp") == "B")
    v = sync_rollup(store, "t", "r", ["grp"], "val")
    assert v == store.latest_version("t")
    assert rollup() == {"A": (2, Decimal("15.0000"))}
    # replaying the already-synced window is refused at commit time:
    # the direct re-application with the same (app, version) raises
    # inside the claim loop, so no path can double-apply it
    import pytest as _pytest

    from datapipelinerepo_spark.io import TxnAlreadyApplied

    app_id = f"rollup_sync:t:{store.table_incarnation('t')}"
    with _pytest.raises(TxnAlreadyApplied):
        apply_changes_to_rollup(
            store, store.table_changes("t", 1, v), "r", ["grp"], "val",
            txn=(app_id, v), check_replay=True,
        )
    assert rollup() == {"A": (2, Decimal("15.0000"))}
    # ...and sync_rollup itself absorbs the race loudly-quietly
    assert sync_rollup(store, "t", "r", ["grp"], "val") == v


def test_sync_rollup_min_max_avg(spark, tmp_path):
    """VERDICT r8 item 3: maintained MIN/MAX/AVG through the CDF loop.
    MIN/MAX maintain purely from the feed on insert-only windows and
    re-aggregate ONLY the churned groups from the base when a removal
    might have taken the extremum; AVG derives exactly from the
    maintained decimal sum/count pair. Every sync must equal a direct
    recompute, across: insert-only windows, extremum-removing deletes,
    value-moving updates, a group emptying out, a brand-new group
    inserted AND fully deleted within one window (no phantom 0-count
    row), and all-NULL measures."""
    from datapipelinerepo_spark.plans.rollup import sync_rollup

    store = TableStore(spark, str(tmp_path))
    schema = "id long, val double, grp string"
    base = [(k, float(k), "A" if k % 2 else "B") for k in range(10)]
    store.overwrite_keyed(
        spark.createDataFrame(base, schema), "t", "id", n_buckets=4,
        versioned=True,
    )
    kw = dict(min_col="min_val", max_col="max_val", avg_col="avg_val")

    def recompute():
        return {
            r["grp"]: (r["n"], r["s"], r["mn"], r["mx"], r["av"])
            for r in store.read("t")
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.coalesce(
                        F.col("val").cast("decimal(18,4)"),
                        F.lit(0).cast("decimal(18,4)"),
                    )),
                    F.lit(0).cast("decimal(18,4)"),
                ).cast("decimal(28,4)").alias("s"),
                F.min("val").alias("mn"),
                F.max("val").alias("mx"),
            )
            .withColumn("av", F.col("s").cast("double") / F.col("n"))
            .collect()
        }

    def rollup():
        return {
            r["grp"]: (
                r["n_rows"], r["sum_val"], r["min_val"], r["max_val"],
                r["avg_val"],
            )
            for r in store.read("r").collect()
        }

    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    assert rollup() == recompute()
    # insert-only window: no base re-read needed, LEAST/GREATEST merge
    store.upsert(
        spark.createDataFrame([(20, 99.0, "C"), (21, -5.0, "A")], schema),
        "t", "id",
    )
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    assert rollup() == recompute()
    # delete the current MAX of a group: churned-group re-aggregation
    store.delete_where("t", "val = 9.0")
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    assert rollup() == recompute()
    # brand-new group netting to zero within one window: NO phantom row
    store.upsert(spark.createDataFrame([(30, 7.0, "D")], schema), "t", "id")
    store.delete_where("t", "grp = 'D'")
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    assert rollup() == recompute()
    assert "D" not in rollup()
    # empty out an existing group entirely (rollup row deletes)
    store.delete_where("t", "grp = 'C'")
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    assert rollup() == recompute()
    assert "C" not in rollup()
    # all-NULL measure group: min/max NULL, sum 0, avg 0
    store.upsert(spark.createDataFrame([(40, None, "E")], schema), "t", "id")
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    assert rollup() == recompute()
    # update that moves a group's MIN upward (pre+post images)
    store.upsert(spark.createDataFrame([(21, 50.0, "A")], schema), "t", "id")
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    assert rollup() == recompute()


def test_upsert_txn_concurrent_creation_serializes(spark, tmp_path):
    """Code-review r9 wave 1: two writers racing the CREATION of one
    table through upsert_txn (a zombie foreachBatch driver plus its
    replacement, both replaying batch 0) must not run two concurrent
    static overwrites of the same directory. The create claim lets
    exactly one create; the other converges and its replayed batch is
    skipped by the ordinary watermark check."""
    import threading

    store = TableStore(spark, str(tmp_path))
    b0 = spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "id long, price double"
    )
    barrier = threading.Barrier(2, timeout=120)
    results: list[bool] = []
    errors: list[BaseException] = []

    def run():
        try:
            barrier.wait()
            results.append(
                store.upsert_txn(b0, "t", "id", "app", 0, n_buckets=4)
            )
        except BaseException as e:
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=run) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors
    assert sorted(results) == [False, True]  # one created, one skipped
    assert store.keyed_spec("t") == (["id"], 4) and store.is_versioned("t")
    assert store.read("t").count() == 30
    assert store.last_txn("t", "app") == 0
    import os

    assert not os.path.exists(os.path.join(str(tmp_path), ".createclaim_t"))


def test_rollup_spec_mismatch_refused(spark, tmp_path):
    """Code-review r9 wave 1: maintenance whose column spec disagrees
    with the spec the rollup was SEEDED with must fail loudly — a
    COUNT/SUM-only sync against a min/max rollup would silently leave
    the extrema stale forever."""
    import pytest as _pytest

    from datapipelinerepo_spark.plans.rollup import sync_rollup

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i), "A" if i % 2 else "B") for i in range(10)],
        "id long, val double, grp string",
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=4, versioned=True)
    kw = dict(min_col="min_val", max_col="max_val", avg_col="avg_val")
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    store.upsert(
        spark.createDataFrame([(50, 5.0, "A")], "id long, val double, grp string"),
        "t", "id",
    )
    with _pytest.raises(ValueError, match="disagrees with the spec"):
        sync_rollup(store, "t", "r", ["grp"], "val")  # extrema omitted
    # the matching spec still syncs
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    got = {r["grp"]: r["n_rows"] for r in store.read("r").collect()}
    assert got == {"A": 6, "B": 5}


def test_sync_rollup_concurrent_first_seed(spark, tmp_path, monkeypatch):
    """VERDICT r8 item 6: two barrier-raced FIRST-TIME syncers on a
    brand-new rollup. Exactly one runs the seed overwrite (two
    concurrent physical overwrites of one directory would corrupt
    each other); the loser waits on the claim file and converges on
    the winner's watermark. Both callers end with the same correct
    rollup."""
    import threading

    from datapipelinerepo_spark.plans import rollup as rollup_mod

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i), "A" if i % 2 else "B") for i in range(20)],
        "id long, val double, grp string",
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=4, versioned=True)

    seeds: list[int] = []
    barrier = threading.Barrier(2, timeout=120)
    orig_seed = rollup_mod.seed_rollup

    def counted(*a, **k):
        seeds.append(1)
        return orig_seed(*a, **k)

    monkeypatch.setattr(rollup_mod, "seed_rollup", counted)
    orig_acquire = rollup_mod._acquire_seed_claim
    first_call = threading.local()

    def synced_acquire(path, stale_s):
        # barrier only each thread's FIRST attempt (the loser's retry
        # loop re-enters; a second wait would deadlock)
        if not getattr(first_call, "done", False):
            first_call.done = True
            barrier.wait()  # both racers contend for the claim at once
        return orig_acquire(path, stale_s)

    monkeypatch.setattr(rollup_mod, "_acquire_seed_claim", synced_acquire)
    results: list[int] = []
    errors: list[BaseException] = []

    def run():
        try:
            results.append(
                rollup_mod.sync_rollup(store, "t", "r", ["grp"], "val")
            )
        except BaseException as e:
            errors.append(e)
        finally:
            # free a partner stuck on the barrier if this thread died
            barrier.abort() if errors else None

    threads = [threading.Thread(target=run) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    monkeypatch.undo()
    assert not errors, errors
    assert len(seeds) == 1  # exactly one physical seed
    assert results == [1, 1]  # both converged on the same base version
    got = {
        r["grp"]: (r["n_rows"], float(r["sum_val"]))
        for r in store.read("r").collect()
    }
    assert got == {"A": (10, 100.0), "B": (10, 90.0)}
    # the claim file is released for future reseeds
    import os

    assert not os.path.exists(os.path.join(str(tmp_path), ".seedclaim_r"))
    # a stale orphaned claim (crashed seeder) is stolen, not waited on
    open(os.path.join(str(tmp_path), ".seedclaim_r2"), "w").close()
    old = __import__("time").time() - 10_000
    os.utime(os.path.join(str(tmp_path), ".seedclaim_r2"), (old, old))
    assert (
        rollup_mod.sync_rollup(store, "t", "r2", ["grp"], "val")
        == 1
    )


def test_sync_rollup_wave3_fixes(spark, tmp_path):
    """Code-review r8 wave 3 regressions: (1) compare-and-swap
    watermarks refuse an overlapping-but-longer concurrent window;
    (2) a base reseed (new incarnation, version numbering restarted)
    makes the next sync RE-SEED instead of silently no-oping or
    diffing unrelated manifests; (3) merge_when and seed_rollup refuse
    txn= on unversioned tables instead of silently dropping the
    watermark."""
    from decimal import Decimal

    import pytest as _pytest

    from datapipelinerepo_spark.io import TxnConflict
    from datapipelinerepo_spark.plans.rollup import (
        apply_changes_to_rollup,
        seed_rollup,
        sync_rollup,
    )

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B")], "id long, val double, grp string"
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=2, versioned=True)
    inc = store.table_incarnation("t")
    assert inc  # minted by overwrite_keyed
    app = f"rollup_sync:t:{inc}"
    assert sync_rollup(store, "t", "r", ["grp"], "val") == 1
    # two base writes
    store.upsert(
        spark.createDataFrame([(3, 5.0, "A")], "id long, val double, grp string"),
        "t", "id",
    )  # v2
    store.upsert(
        spark.createDataFrame([(4, 7.0, "B")], "id long, val double, grp string"),
        "t", "id",
    )  # v3
    # (1) simulate two syncers that both read synced=1: the first
    # applies window 1→2; the second's 1→3 window must CONFLICT (its
    # start no longer matches the watermark), leaving its deltas out
    apply_changes_to_rollup(
        store, store.table_changes("t", 1, 2), "r", ["grp"], "val",
        txn=(app, 2), check_replay=True, txn_expect=1,
    )
    with _pytest.raises(TxnConflict):
        apply_changes_to_rollup(
            store, store.table_changes("t", 1, 3), "r", ["grp"], "val",
            txn=(app, 3), check_replay=True, txn_expect=1,
        )
    got = {r["grp"]: (r["n_rows"], r["sum_val"]) for r in store.read("r").collect()}
    assert got == {"A": (2, Decimal("15.0000")), "B": (1, Decimal("20.0000"))}
    # the scheduler's next sync applies the remaining 2→3 window
    assert sync_rollup(store, "t", "r", ["grp"], "val") == 3
    got = {r["grp"]: (r["n_rows"], r["sum_val"]) for r in store.read("r").collect()}
    assert got == {"A": (2, Decimal("15.0000")), "B": (2, Decimal("27.0000"))}
    # (2) base reseed: fresh incarnation, version numbering restarts —
    # the sync must re-seed the rollup from the NEW data
    reseed = spark.createDataFrame(
        [(9, 100.0, "Z")], "id long, val double, grp string"
    )
    store.overwrite_keyed(reseed, "t", "id", n_buckets=2, versioned=True)
    assert store.table_incarnation("t") != inc
    assert sync_rollup(store, "t", "r", ["grp"], "val") == 1
    got = {r["grp"]: (r["n_rows"], r["sum_val"]) for r in store.read("r").collect()}
    assert got == {"Z": (1, Decimal("100.0000"))}
    # (3) txn on unversioned surfaces refuse loudly
    store.overwrite_keyed(base, "u", "id", n_buckets=2, versioned=False)
    with _pytest.raises(ValueError, match="VERSIONED"):
        store.merge_when(
            spark.createDataFrame([(1, 1.0, "A")], "id long, val double, grp string"),
            "u", "id", txn=("app", 1),
        )
    with _pytest.raises(ValueError, match="versioned=True"):
        seed_rollup(store, base, "u2", ["grp"], "val", txn=("app", 1))


def test_read_where_multi_column_and_rebucket(spark, tmp_path):
    """Multi-column data skipping intersects per-column prunes (the
    z-order payoff); rebucket re-hashes every row into the new bucket
    count while carrying txn watermarks and minting a new
    incarnation."""
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))

    def slab(lo):  # two correlated range columns per slab
        return spark.createDataFrame(
            [(i, float(i), float(2000 - i)) for i in range(lo, lo + 100)],
            ["id", "x", "y"],
        )

    store.overwrite_keyed(slab(0), "t", "id", n_buckets=4, versioned=True)
    for lo in range(100, 1000, 100):
        store.append(slab(lo), "t")
    # conjunction: x in [150,160] AND y in [1840,1850] → same slab;
    # results equal the plain double filter
    got = {
        r["id"]
        for r in store.read_where(
            "t", ranges={"x": (150.0, 160.0), "y": (1840.0, 1850.0)}
        ).collect()
    }
    plain = {
        r["id"]
        for r in store.read("t")
        .filter(F.col("x").between(150.0, 160.0))
        .filter(F.col("y").between(1840.0, 1850.0))
        .collect()
    }
    assert got == plain == set(range(150, 161))
    # contradictory conjunction prunes everything and reads empty
    assert (
        store.read_where(
            "t", ranges={"x": (150.0, 160.0), "y": (0.0, 10.0)}
        ).count()
        == 0
    )
    with _pytest.raises(ValueError, match="exactly one"):
        store.read_where("t")
    # rebucket: same rows, new bucket count, new incarnation, carried
    # watermark
    assert store.upsert_txn(
        spark.createDataFrame([(5000, 1.0, 1.0)], ["id", "x", "y"]),
        "t", "id", "app", 9,
    ) is True
    inc_before = store.table_incarnation("t")
    before = {tuple(r) for r in store.read("t").collect()}
    store.rebucket("t", 16)
    assert store.keyed_spec("t") == (["id"], 16)
    assert {tuple(r) for r in store.read("t").collect()} == before
    assert store.table_incarnation("t") != inc_before
    assert store.last_txn("t", "app") == 9  # watermark survived
    # same-count rebucket is a no-op (no rewrite, incarnation kept)
    inc2 = store.table_incarnation("t")
    store.rebucket("t", 16)
    assert store.table_incarnation("t") == inc2
    # lookups still route correctly against the new bucketing
    assert {r["id"] for r in store.lookup("t", [5000, 150]).collect()} == {
        5000, 150,
    }


def test_rebucket_and_read_where_wave4_fixes(spark, tmp_path, monkeypatch):
    """Code-review r8 wave 4 regressions: a crashed rebucket resumes
    from the durable stage instead of losing the table; bad bucket
    counts and malformed read_where argument forms refuse up front;
    the pruned-file counter supports the ranges form and matches the
    intersection plan."""
    import os as _os

    import pytest as _pytest

    from datapipelinerepo_spark import io as io_mod

    store = TableStore(spark, str(tmp_path))

    def slab(lo):
        return spark.createDataFrame(
            [(i, float(i), float(2000 - i)) for i in range(lo, lo + 100)],
            ["id", "x", "y"],
        )

    store.overwrite_keyed(slab(0), "t", "id", n_buckets=4, versioned=True)
    for lo in range(100, 500, 100):
        store.append(slab(lo), "t")
    before = {tuple(r) for r in store.read("t").collect()}
    # n_buckets validation, at the root (overwrite_keyed) and rebucket
    with _pytest.raises(ValueError, match="n_buckets"):
        store.rebucket("t", 0)
    with _pytest.raises(ValueError, match="n_buckets"):
        store.overwrite_keyed(slab(0), "t2", "id", n_buckets=-3)
    # crashed rebucket: staging completed, overwrite died mid-way
    # (simulated by making overwrite_keyed fail after staging)
    orig = io_mod.TableStore.overwrite_keyed

    def boom(self, *a, **k):
        raise RuntimeError("injected crash mid-rebucket")

    monkeypatch.setattr(io_mod.TableStore, "overwrite_keyed", boom)
    with _pytest.raises(RuntimeError, match="injected"):
        store.rebucket("t", 8)
    monkeypatch.setattr(io_mod.TableStore, "overwrite_keyed", orig)
    stage = _os.path.join(str(tmp_path), "_rebucket_t")
    assert _os.path.isfile(_os.path.join(stage, "_SUCCESS"))  # durable copy
    # the retry resumes from the stage and completes
    store.rebucket("t", 8)
    assert store.keyed_spec("t") == (["id"], 8)
    assert {tuple(r) for r in store.read("t").collect()} == before
    assert not _os.path.isdir(stage)  # stage cleared after success
    # malformed read_where forms refuse with clear errors
    for bad in (
        dict(col="x"),                      # between forgotten
        dict(between=(0.0, 1.0)),           # col forgotten
        dict(ranges={}),                    # empty conjunction
        dict(col="x", between=(0.0, 1.0), ranges={"y": (0.0, 1.0)}),
        dict(ranges={"x": None}),           # malformed entry
    ):
        with _pytest.raises(ValueError):
            store.read_where("t", **bad)
    # the counter's ranges form matches the intersection plan: the
    # conjunction opens no more files than either column alone.
    # r14: the rebucket rewrite now clusters to one file per bucket
    # (each spanning the full id range — nothing for min/max stats to
    # separate), so append a fresh narrow slab and probe inside it:
    # the appended files carry tight x/y ranges while the rebucketed
    # wide files prune away, keeping the inequality chain meaningful.
    store.append(slab(500), "t")
    both, total = store.pruned_file_count(
        "t", ranges={"x": (510.0, 520.0), "y": (1480.0, 1490.0)}
    )
    only_x, _ = store.pruned_file_count("t", "x", (510.0, 520.0))
    only_y, _ = store.pruned_file_count("t", "y", (1480.0, 1490.0))
    assert 0 < both <= min(only_x, only_y) < total


def test_fsck_reports_consistency(spark, tmp_path):
    """fsck: clean on a healthy table; flags a vacuumed/deleted file a
    retained manifest still references; counts orphans (aborted-commit
    debt); surfaces a meta pointer ahead of the published history."""
    import json as _json
    import os as _os
    import shutil as _shutil

    store = _mk_versioned(spark, tmp_path, n=40, buckets=4)
    store.upsert(
        spark.createDataFrame([(3, 333.0, "U")], ["id", "price", "status"]),
        "t", "id",
    )
    rep = store.fsck("t")
    assert rep == {
        "broken_versions": {},
        "orphan_files": [],
        "orphan_bytes": 0,
        "stage_bytes": 0,
        "issues": [],
    }
    # orphan: an unreferenced copy on disk
    src = store._manifest_files("t", 1)[0]
    orphan = src.rsplit("/", 1)[0] + "/part-orphan.snappy.parquet"
    _shutil.copy(
        _os.path.join(str(tmp_path), "t", src),
        _os.path.join(str(tmp_path), "t", orphan),
    )
    rep = store.fsck("t")
    assert rep["orphan_files"] == [orphan] and rep["orphan_bytes"] > 0
    # broken version: a referenced file vanishes
    victim = store._manifest_files("t", 2)[-1]
    _os.remove(_os.path.join(str(tmp_path), "t", victim))
    rep = store.fsck("t")
    assert victim in rep["broken_versions"].get(2, [])
    # meta pointer ahead of history
    p = store._meta_path("t")
    meta = _json.load(open(p))
    meta["version"] = 99
    _json.dump(meta, open(p, "w"))
    rep = store.fsck("t")
    assert any("ahead of published history" in i for i in rep["issues"])


def test_fsck_hardening_wave5(spark, tmp_path):
    """fsck audits THROUGH corruption: malformed txn maps and meta
    files become issues (not tracebacks), an unreadable manifest
    suppresses the orphan scan instead of misreporting pinned files as
    reclaimable, a stale rebucket stage counts as debt, and
    unversioned tables refuse."""
    import json as _json
    import os as _os

    import pytest as _pytest

    store = _mk_versioned(spark, tmp_path, n=20, buckets=2)
    store.upsert(
        spark.createDataFrame([(3, 333.0, "U")], ["id", "price", "status"]),
        "t", "id",
    )
    # malformed txn map in v2's manifest: reported, not crashed
    mp = store._manifest_path("t", 2)
    doc = _json.load(open(mp))
    doc["txn"] = ["app", 3]
    _json.dump(doc, open(mp, "w"))
    rep = store.fsck("t")
    assert any("malformed txn" in i for i in rep["issues"])
    # unreadable manifest: orphan scan suppressed (no false debt)
    open(mp, "w").write("{not json")
    rep = store.fsck("t")
    assert any("unreadable manifest" in i for i in rep["issues"])
    assert rep["orphan_files"] == [] and any(
        "orphan scan skipped" in i for i in rep["issues"]
    )
    _json.dump(doc, open(mp, "w"))  # restore (still has the bad txn)
    # stale rebucket stage counts as debt
    stage = _os.path.join(str(tmp_path), "_rebucket_t")
    _os.makedirs(stage)
    open(_os.path.join(stage, "part-x.parquet"), "wb").write(b"x" * 128)
    rep = store.fsck("t")
    assert rep["stage_bytes"] >= 128
    # corrupt meta: reported, not crashed (the manifests still audit)
    open(store._meta_path("t"), "w").write("{bad")
    rep = store.fsck("t")
    assert any("unreadable meta" in i for i in rep["issues"])
    # a genuinely unversioned keyed table refuses loudly — every live
    # file would otherwise read as reclaimable debt
    store2 = TableStore(spark, str(tmp_path / "u"))
    store2.overwrite_keyed(
        spark.createDataFrame([(1, 1.0)], "id long, v double"),
        "u", "id", n_buckets=2, versioned=False,
    )
    with _pytest.raises(ValueError, match="versioned"):
        store2.fsck("u")


def test_column_mapping_rename_drop(spark, tmp_path):
    """Column mapping (Delta rename/drop parity, r9): rename and drop
    are METADATA-ONLY — same files, new manifest with an updated
    logical→physical map. Reads, lookups, read_where pruning,
    delete_where/merge_when predicates and CDF all speak the CURRENT
    logical names; time travel reads each version under its own map;
    restore brings the target version's names back; re-adding a
    dropped name, renaming onto one, and touching key columns are all
    refused loudly."""
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, float(i), f"s{i % 3}") for i in range(20)],
        "id long, price double, status string",
    )
    store.overwrite_keyed(df, "t", "id", n_buckets=4, versioned=True)
    store.upsert(
        spark.createDataFrame(
            [(3, 333.0, "sX")], "id long, price double, status string"
        ),
        "t", "id",
    )
    v_pre = store.latest_version("t")
    v_r = store.rename_column("t", "price", "amount")
    assert store.read("t").columns == ["id", "amount", "status"]
    # time travel: the old snapshot keeps the old name
    assert store.read("t", version=v_pre).columns == ["id", "price", "status"]
    # upserts speak the new logical name; physical files keep 'price'
    store.upsert(
        spark.createDataFrame(
            [(5, 555.0, "sY")], "id long, amount double, status string"
        ),
        "t", "id",
    )
    got = {r["id"]: r["amount"] for r in store.read("t").collect()}
    assert got[5] == 555.0 and got[3] == 333.0 and len(got) == 20
    assert store.lookup("t", [5]).collect()[0]["amount"] == 555.0
    # predicates in logical names
    store.delete_where("t", "amount > 400")
    assert 5 not in {r["id"] for r in store.read("t").collect()}
    store.merge_when(
        spark.createDataFrame([(3, 1.0)], "id long, adj double"), "t", "id",
        when_matched_update={"amount": "t.amount + s.adj"},
    )
    assert {r["id"]: r["amount"] for r in store.read("t").collect()}[3] == 334.0
    # a metadata-only rename publishes an EMPTY change feed; later
    # feeds carry the current logical names
    assert store.table_changes("t", v_pre, v_r).count() == 0
    ch = store.table_changes("t", v_pre)
    assert "amount" in ch.columns and "price" not in ch.columns
    # drop: metadata-only, old snapshots unaffected
    store.drop_column("t", "status")
    assert store.read("t").columns == ["id", "amount", "adj"]
    assert store.read("t", version=v_pre).columns == ["id", "price", "status"]
    # guards
    with _pytest.raises(ValueError, match="previously dropped"):
        store.upsert(
            spark.createDataFrame(
                [(9, 9.0, "zz")], "id long, amount double, status string"
            ),
            "t", "id",
        )
    with _pytest.raises(ValueError, match="previously dropped"):
        store.rename_column("t", "amount", "status")
    with _pytest.raises(ValueError, match="merge-key"):
        store.rename_column("t", "id", "pk")
    with _pytest.raises(ValueError, match="merge-key"):
        store.drop_column("t", "id")
    # compaction rewrites physically and carries the map; stats-pruned
    # reads translate the logical prune column to its physical stats
    store.compact("t", sort_cols=["amount"])
    assert store.read("t").columns == ["id", "amount", "adj"]
    got = {r["id"] for r in store.read_where("t", "amount", (300.0, 400.0)).collect()}
    assert got == {3}
    kept, total = store.pruned_file_count("t", "amount", (300.0, 400.0))
    assert kept < total  # pruning works THROUGH the rename
    # restore brings the target version's metadata (names) back
    store.restore("t", v_pre)
    assert store.read("t").columns == ["id", "price", "status"]
    assert store.read("t").count() == 20


def test_column_mapping_refuses_stale_physical_name(spark, tmp_path):
    """After a rename, an incoming frame still using the OLD name must
    be refused — identity-passing it would silently write into the
    renamed column's physical storage under a name the logical schema
    no longer has."""
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, 10.0)], "id long, price double"
    )
    store.overwrite_keyed(df, "t", "id", n_buckets=2, versioned=True)
    store.rename_column("t", "price", "amount")
    with _pytest.raises(ValueError, match="physical storage names"):
        store.upsert(
            spark.createDataFrame([(2, 20.0)], "id long, price double"),
            "t", "id",
        )
    # the logical name works
    store.upsert(
        spark.createDataFrame([(2, 20.0)], "id long, amount double"),
        "t", "id",
    )
    assert store.read("t").count() == 2


def test_column_mapping_wave2_hardening(spark, tmp_path):
    """Code-review r9 wave 2: (1) mapping publishes carry the snapshot
    schema + stats, so a fully-emptied table stays readable and
    writable across a rename; (2) a CHECK constraint referencing the
    column refuses the rename/drop (instead of wedging every later
    write); (3) reserved internal names are refused as rename targets;
    (4) a renamed-then-dropped LOGICAL name cannot be silently
    re-introduced; (5) a mapping publish derived from a stale base
    version is refused by the version CAS."""
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b")],
        "id long, price double, status string",
    )
    store.overwrite_keyed(df, "t", "id", n_buckets=2, versioned=True)
    # (2) constraint referencing the column blocks the ops
    store.set_constraints("t", {"pos": "price > 0"})
    with _pytest.raises(ValueError, match="references column"):
        store.rename_column("t", "price", "amount")
    with _pytest.raises(ValueError, match="references column"):
        store.drop_column("t", "price")
    store.set_constraints("t", {})  # unblock
    # (3) reserved names refused
    with _pytest.raises(ValueError, match="reserved internal"):
        store.rename_column("t", "price", "_kb")
    # (1) empty table survives a mapping op
    v_r = store.rename_column("t", "price", "amount")
    store.delete_where("t", "amount > 0")  # empties the table
    assert store.read("t").count() == 0
    store.drop_column("t", "status")  # mapping op ON an empty table
    assert store.read("t").columns == ["id", "amount"]  # still readable
    store.upsert(
        spark.createDataFrame([(3, 30.0)], "id long, amount double"),
        "t", "id",
    )  # still writable
    assert store.read("t").count() == 1
    # (4) the logical name 'amount' was renamed FROM price then... drop
    # it and try to re-add under the same logical name
    store.drop_column("t", "amount")
    with _pytest.raises(ValueError, match="previously dropped"):
        store.upsert(
            spark.createDataFrame([(4, 4.0)], "id long, amount double"),
            "t", "id",
        )
    # ...and renaming another column ONTO the dropped logical name is
    # refused too
    store.upsert(
        spark.createDataFrame([(3, 7.0)], "id long, v2 double"), "t", "id"
    )
    with _pytest.raises(ValueError, match="previously dropped"):
        store.rename_column("t", "v2", "amount")
    # (5) stale-base publish refused by the CAS. BaseVersionConflict
    # is deliberately NOT a TxnConflict/TxnAlreadyApplied (code-review
    # r10 wave 1): "not applied — re-derive" must never be absorbed by
    # the exactly-once handlers that mean "already applied — skip"
    from datapipelinerepo_spark.io import (
        BaseVersionConflict,
        _Snapshot,
        read_meta,
    )

    v_now = store.latest_version("t")
    stale = _Snapshot(
        "t", read_meta(store.root, "t"), v_now - 1,
        store._manifest_doc("t", v_now - 1),
    )
    with _pytest.raises(BaseVersionConflict, match="base version moved"):
        store._publish_version(
            "t",
            store._manifest_files("t", v_now),
            op="noop",
            base=stale,
        )
    assert v_r >= 2


def test_auto_compaction_table_property(spark, tmp_path):
    """Write-path auto-compaction (Delta autoOptimize parity, r9):
    with auto_compact_files_per_bucket set, the writer that creates
    small-file debt pays it — after each incremental write, buckets
    over the threshold compact inline (own version, triggering write
    already durable). Without the property, nothing auto-compacts;
    exactly-once replay semantics survive the extra versions."""
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, price double"
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=2, versioned=True)
    with _pytest.raises(ValueError, match="unknown table properties"):
        store.set_table_properties("t", nope=1)
    # no property: appends accumulate files per bucket (append adds
    # part-files without rewriting; upsert rewrites churned buckets)
    for k in range(3):
        store.append(
            spark.createDataFrame(
                [(100 + 40 * k + i, float(i)) for i in range(40)],
                "id long, price double",
            ),
            "t",
        )
    files = store._manifest_files("t", store.latest_version("t"))
    per_bucket: dict[int, int] = {}
    for f in files:
        b = store._bucket_of(f)
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert max(per_bucket.values()) > 2  # debt exists
    # enable: the NEXT write pays the whole debt down
    store.set_table_properties("t", auto_compact_files_per_bucket=2)
    assert store.upsert_txn(
        spark.createDataFrame([(3, 999.0)], "id long, price double"),
        "t", "id", "app", 1,
    ) is True
    v = store.latest_version("t")
    assert store._manifest_doc("t", v)["op"] == "compact"
    files = store._manifest_files("t", v)
    per_bucket = {}
    for f in files:
        b = store._bucket_of(f)
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert max(per_bucket.values()) <= 2
    # data intact, watermark carried through the compact version
    got = {r["id"]: r["price"] for r in store.read("t").collect()}
    assert got[3] == 999.0 and len(got) == 160  # 40 base + 3×40 appended
    assert store.last_txn("t", "app") == 1
    # replay still skips (and does NOT trigger another compact)
    assert store.upsert_txn(
        spark.createDataFrame([(3, -1.0)], "id long, price double"),
        "t", "id", "app", 1,
    ) is False
    assert store.latest_version("t") == v
    # a below-threshold write publishes no compact version
    store.upsert(
        spark.createDataFrame([(7, 70.0)], "id long, price double"),
        "t", "id",
    )
    assert store._manifest_doc("t", store.latest_version("t"))["op"] == "upsert"
    # property cleared: accumulation resumes
    store.set_table_properties("t", auto_compact_files_per_bucket=None)
    assert store.table_property("t", "auto_compact_files_per_bucket") is None


def test_sync_rollup_distinct(spark, tmp_path):
    """VERDICT r9 missing item 2: maintained COUNT(DISTINCT) through
    the CDF loop. The exact column re-counts ONLY churned groups from
    the base (feed-unanswerable in both directions); the HLL sketch
    column maintains insert-only from the feed and re-sketches on
    removals. Every sync must equal a direct recompute across: an
    insert of a value the group already holds (count must NOT grow), a
    brand-new value + group, a delete of one copy of a duplicated
    value (count must NOT drop), a delete of a value's sole holder
    (count drops / group vanishes), and NULL distinct values (excluded
    like SQL). The sketch estimate stays within 5% of exact at every
    step, and a later sync naming a different column spec refuses."""
    import pytest

    from datapipelinerepo_spark.plans.rollup import sync_rollup

    store = TableStore(spark, str(tmp_path))
    schema = "id long, val double, cust long, grp string"
    base = [(k, float(k), k % 3, "A" if k % 2 else "B") for k in range(12)]
    store.overwrite_keyed(
        spark.createDataFrame(base, schema), "t", "id", n_buckets=4,
        versioned=True,
    )
    kw = dict(distinct_of="cust", distinct_col="nd",
              distinct_sketch_col="sk")

    def up(rows):
        store.upsert(spark.createDataFrame(rows, schema), "t", "id")

    def recompute():
        return {
            r["grp"]: r["nd"]
            for r in store.read("t")
            .groupBy("grp")
            .agg(F.count_distinct("cust").alias("nd"))
            .collect()
        }

    def check():
        got = {r["grp"]: r["nd"] for r in store.read("r").collect()}
        assert got == recompute()
        for r in store.read("r").select(
            "grp", "nd", F.hll_sketch_estimate("sk").alias("est")
        ).collect():
            assert abs(r["est"] - r["nd"]) <= max(1.0, 0.05 * r["nd"]), (
                r["grp"], r["est"], r["nd"],
            )

    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    check()
    # insert of a value the group ALREADY holds: count must not grow
    up([(20, 1.0, 0, "B")])
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    check()
    # brand-new value in a brand-new group
    up([(21, 2.0, 99, "C")])
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    check()
    assert {r["grp"] for r in store.read("r").collect()} >= {"C"}
    # delete ONE copy of a duplicated value: count must not drop
    store.delete_where("t", "id = 20")
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    check()
    # delete a value's SOLE holder: its group vanishes with it
    store.delete_where("t", "cust = 99")
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    check()
    assert "C" not in {r["grp"] for r in store.read("r").collect()}
    # NULL distinct values are excluded like SQL COUNT(DISTINCT)
    up([(30, 1.0, None, "A")])
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    check()
    # value-moving update (pre+post images, removal path)
    up([(1, 1.0, 2, "A")])
    sync_rollup(store, "t", "r", ["grp"], "val", **kw)
    check()
    # spec guard: a sync that silently drops the distinct columns
    # would leave them stale forever — it must refuse instead (needs a
    # pending window: a no-change sync returns before any spec check)
    up([(31, 3.0, 1, "B")])
    with pytest.raises(ValueError, match="spec disagrees"):
        sync_rollup(store, "t", "r", ["grp"], "val")
    # sketch-ONLY rollup (no exact column): the configuration whose
    # insert-only windows genuinely skip the base read (run_exact
    # stays False — code-review r10 wave 3); estimates must still
    # track exact through union-only and re-sketch windows
    kw2 = dict(distinct_of="cust", distinct_sketch_col="sk")
    sync_rollup(store, "t", "r2", ["grp"], "val", **kw2)

    def sketch2_ok():
        exact = recompute()
        for r in store.read("r2").select(
            "grp", F.hll_sketch_estimate("sk").alias("est")
        ).collect():
            e = exact[r["grp"]]
            assert abs(r["est"] - e) <= max(1.0, 0.05 * e), (
                r["grp"], r["est"], e,
            )

    sketch2_ok()
    up([(50, 5.0, 77, "A"), (51, 5.0, 78, "D")])  # pure inserts: union path
    sync_rollup(store, "t", "r2", ["grp"], "val", **kw2)
    sketch2_ok()
    store.delete_where("t", "cust = 77")  # removal: re-sketch path
    sync_rollup(store, "t", "r2", ["grp"], "val", **kw2)
    sketch2_ok()


def test_upsert_retries_on_concurrent_commit(spark, tmp_path, monkeypatch):
    """ADVICE r9 (medium): a writer whose 'kept' file list was derived
    from a stale base version must NOT publish a manifest that silently
    drops a concurrent writer's just-published files. Deterministic
    reproduction: writer B lands v2 between writer A's (forced-stale)
    base read and its publish — the version CAS refuses, the verb
    re-derives against v2, and BOTH writers' rows survive."""
    from datapipelinerepo_spark.io import TableStore as TS

    store = TS(spark, str(tmp_path))
    a = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double"
    )
    store.overwrite_keyed(a, "t", "id", n_buckets=4, versioned=True)  # v1
    b = spark.createDataFrame(
        [(i, 100.0 + i) for i in range(10, 20)], "id long, v double"
    )
    store.upsert(b, "t", "id")  # concurrent writer B lands v2

    real = TS._ensure_latest
    calls = {"n": 0}

    def stale_once(self, name):
        v = real(self, name)
        calls["n"] += 1
        if calls["n"] == 1:
            return v - 1  # writer A derives from v1: kept misses B's files
        return v

    monkeypatch.setattr(TS, "_ensure_latest", stale_once)
    c = spark.createDataFrame(
        [(i, -1.0) for i in range(5)], "id long, v double"
    )
    store.upsert(c, "t", "id")  # writer A: conflicts once, retries, lands
    monkeypatch.undo()
    assert calls["n"] >= 2, "the stale derivation never retried"
    got = {r["id"]: r["v"] for r in store.read("t").collect()}
    assert got == (
        {i: -1.0 for i in range(5)}
        | {i: float(i) for i in range(5, 10)}
        | {i: 100.0 + i for i in range(10, 20)}
    ), "a concurrent writer's rows were lost or an update misapplied"


def test_concurrent_disjoint_writers_both_survive(spark, tmp_path):
    """ADVICE r9 (medium), the live form: two threads upsert DISJOINT
    key sets under DIFFERENT app ids with no external serialization.
    Whatever the interleaving (including both deriving from the same
    base version), the final table must hold both writers' rows — the
    loser of the manifest race re-derives instead of dropping the
    winner's files."""
    import threading

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, 0.0) for i in range(8)], "id long, v double"
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=4, versioned=True)
    barrier = threading.Barrier(2, timeout=120)
    errors: list[BaseException] = []

    def writer(lo: int, app: str):
        try:
            df = spark.createDataFrame(
                [(i, float(lo)) for i in range(lo, lo + 10)],
                "id long, v double",
            )
            barrier.wait()
            store.upsert_txn(df, "t", "id", app, 1)
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(100, "appA"))
    t2 = threading.Thread(target=writer, args=(200, "appB"))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors, errors
    got = {r["id"]: r["v"] for r in store.read("t").collect()}
    assert got == (
        {i: 0.0 for i in range(8)}
        | {i: 100.0 for i in range(100, 110)}
        | {i: 200.0 for i in range(200, 210)}
    )


def test_claim_heartbeat_prevents_stale_steal(tmp_path):
    """ADVICE r9: a claim's mtime was set once at creation, so a
    LEGITIMATE write outliving stale_s looked identical to a crashed
    holder and got stolen — starting a second concurrent overwrite of
    the same directory. The heartbeat touches the held claim while the
    protected write runs: staleness now measures holder SILENCE. A
    crashed holder (heartbeat gone) still expires and is stolen."""
    import time

    from datapipelinerepo_spark.io import _acquire_claim, _ClaimHeartbeat

    claim = str(tmp_path / "c")
    tok = _acquire_claim(claim, 0.5)
    assert tok is not None
    with _ClaimHeartbeat(claim, tok, 0.5):
        time.sleep(1.2)  # far past stale_s — without heartbeat, stale
        assert _acquire_claim(claim, 0.5) is None, (
            "a live, heartbeating holder was stolen from"
        )
    time.sleep(1.2)  # "crash": heartbeat stopped, claim ages out
    tok2 = _acquire_claim(claim, 0.5)
    assert tok2 is not None
    # ADVICE r10: tokens are per-acquire content digests now, so a
    # steal's replacement claim can NEVER alias the displaced holder's
    # token (inode numbers could — this filesystem recycles them)
    assert tok2 != tok


def test_base_conflict_escapes_exactly_once_handlers(
    spark, tmp_path, monkeypatch
):
    """code-review r10 wave 1: an EXHAUSTED base-version conflict means
    the batch was NOT applied — it must fail the exactly-once verbs
    loudly (so a streaming caller's batch fails and replays), never be
    absorbed by their `except TxnAlreadyApplied: return False` as an
    already-applied replay (checkpoint advances, rows permanently
    lost). Forced by pinning every derivation to a stale base."""
    import pytest

    from datapipelinerepo_spark.io import BaseVersionConflict
    from datapipelinerepo_spark.io import TableStore as TS
    from datapipelinerepo_spark.streaming.ingest import cdc_apply_txn

    store = TS(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "id long, v double"
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=2, versioned=True)
    store.upsert(
        spark.createDataFrame([(9, 9.0)], "id long, v double"), "t", "id"
    )  # v2: makes (latest - 1) a valid-but-stale base
    real = TS._ensure_latest
    monkeypatch.setattr(
        TS, "_ensure_latest", lambda self, name: real(self, name) - 1
    )
    monkeypatch.setattr(TS, "_CONFLICT_RETRIES", 2)
    batch = spark.createDataFrame([(1, -1.0)], "id long, v double")
    with pytest.raises(BaseVersionConflict):
        store.upsert_txn(batch, "t", "id", "appX", 1)
    cdc = spark.createDataFrame(
        [(1, -1.0, 1, "U")], "id long, v double, seq long, op string"
    )
    with pytest.raises(BaseVersionConflict):
        cdc_apply_txn(
            store, cdc, 1, "id", "seq", base_table="t", app_id="appY"
        )
    monkeypatch.undo()
    # nothing was applied and no watermark advanced: replays still run
    assert store.last_txn("t", "appX") is None
    assert store.last_txn("t", "appY") is None


def test_cas_detects_reseed_with_same_version_number(spark, tmp_path):
    """code-review r10 wave 3: a reseed (overwrite_keyed) wipes the
    manifest history and restarts numbering at 1, so a concurrent
    incremental writer pinned at the OLD incarnation's v1 passes a
    number-only CAS and would publish a manifest mixing the retired
    incarnation's deleted files with its own. The CAS therefore also
    compares the pinned manifest's uid — version numbers repeat across
    reseeds (and inodes recycle on this filesystem, so object identity
    can't stand in)."""
    import pytest

    from datapipelinerepo_spark.io import BaseVersionConflict

    store = TableStore(spark, str(tmp_path))
    a = spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "id long, v double"
    )
    store.overwrite_keyed(a, "t", "id", n_buckets=2, versioned=True)
    base0 = store._pin_base("t")  # writer A pins old-incarnation v1
    assert base0.version == 1 and base0.uid is not None
    b = spark.createDataFrame(
        [(i, 100.0) for i in range(100, 108)], "id long, v double"
    )
    store.overwrite_keyed(b, "t", "id", n_buckets=2, versioned=True)  # reseed
    assert store.latest_version("t") == 1  # same NUMBER, new history
    with pytest.raises(BaseVersionConflict, match="reseeded"):
        store._publish_version(
            "t",
            store._manifest_files("t", 1),
            op="noop",
            base=base0,
        )
    # same pin against the same incarnation still publishes fine
    base1 = store._pin_base("t")
    assert (
        store._publish_version(
            "t",
            store._manifest_files("t", 1),
            op="noop",
            base=base1,
        )
        == 2
    )


def test_sync_join_view(spark, tmp_path):
    """Materialized LEFT-join view maintenance (plans/viewmaint, r10):
    after every sync the view must equal a one-shot fact⟕dim recompute,
    across fact-only windows (inserts, deletes, a join-column-changing
    update), dim-only windows (upserts, deletions → NULL payload),
    mixed windows, a replayed sync (no new version published), and a
    dim RESEED (new incarnation → the view re-seeds instead of diffing
    unrelated histories). The _vm_op merge directive must never reach
    the view's schema."""
    from datapipelinerepo_spark.plans.viewmaint import sync_join_view

    store = TableStore(spark, str(tmp_path))
    fschema = "fid long, ck long, amt double"
    dschema = "ck long, nm string, bal double"
    fact = [(i, i % 4, float(i)) for i in range(12)]
    dim = [(k, f"c{k}", 10.0 * k) for k in (0, 1, 2)]  # ck=3 unmatched
    store.overwrite_keyed(
        spark.createDataFrame(fact, fschema), "f", "fid",
        n_buckets=4, versioned=True,
    )
    store.overwrite_keyed(
        spark.createDataFrame(dim, dschema), "d", "ck",
        n_buckets=2, versioned=True,
    )
    args = (store, "f", "d", "v", "fid", "ck", "ck")

    def recompute():
        f, d = store.read("f"), store.read("d")
        j = f.join(d, f["ck"] == d["ck"], "left").select(
            f["fid"], f["ck"], "amt", "nm", "bal"
        )
        return {r["fid"]: tuple(r)[1:] for r in j.collect()}

    def view():
        got = store.read("v")
        assert set(got.columns) == {"fid", "ck", "amt", "nm", "bal"}, (
            "merge directive column leaked into the view schema"
        )
        return {r["fid"]: (r["ck"], r["amt"], r["nm"], r["bal"])
                for r in got.collect()}

    sync_join_view(*args)
    assert view() == recompute()
    assert view()[3] == (3, 3.0, None, None)  # unmatched: NULL payload
    # fact window: insert + delete + a join-column-CHANGING update
    store.upsert(
        spark.createDataFrame([(20, 2, 99.0), (1, 3, 1.5)], fschema),
        "f", "fid",
    )
    store.delete_where("f", "fid = 2")
    sync_join_view(*args)
    assert view() == recompute()
    assert view()[1] == (3, 1.5, None, None)  # moved to unmatched key
    assert 2 not in view()
    # dim window: balance update + a deletion (rows go NULL, not away)
    store.upsert(
        spark.createDataFrame([(2, "c2x", 222.0)], dschema), "d", "ck"
    )
    store.delete_where("d", "ck = 0")
    sync_join_view(*args)
    assert view() == recompute()
    assert view()[6][2:] == ("c2x", 222.0)
    assert view()[0][2:] == (None, None)  # deleted dim: LEFT semantics
    # mixed window: both bases churn before one sync
    store.upsert(spark.createDataFrame([(21, 0, 5.0)], fschema), "f", "fid")
    store.upsert(spark.createDataFrame([(0, "c0", 7.0)], dschema), "d", "ck")
    sync_join_view(*args)
    assert view() == recompute()
    assert view()[21][2:] == ("c0", 7.0)
    # replayed sync: both feeds empty — no new view version
    v_before = store.latest_version("v")
    sync_join_view(*args)
    assert store.latest_version("v") == v_before
    assert view() == recompute()
    # dim RESEED: version numbering restarts under a new incarnation —
    # the view must re-seed, not diff unrelated manifests
    store.overwrite_keyed(
        spark.createDataFrame([(1, "new1", -1.0)], dschema), "d", "ck",
        n_buckets=2, versioned=True,
    )
    sync_join_view(*args)
    assert view() == recompute()
    assert view()[5][2:] == ("new1", -1.0)
    assert view()[6][2:] == (None, None)  # c2x gone with the reseed


def test_sync_join_view_natural_key_and_empty_window(spark, tmp_path):
    """code-review r10 wave 4: (a) a 1:1 natural-key join view —
    fact_join_col IS the fact key — must maintain (the dim-phase
    source used to drop its own merge key); (b) a METADATA-ONLY base
    window (an upsert rewriting identical values nets an empty change
    feed) must bump the watermark with a single metadata publish, not
    run the maintenance pipeline."""
    from datapipelinerepo_spark.plans.viewmaint import sync_join_view

    store = TableStore(spark, str(tmp_path))
    fschema = "ck long, amt double"
    dschema = "ck long, nm string"
    store.overwrite_keyed(
        spark.createDataFrame([(k, float(k)) for k in range(6)], fschema),
        "f", "ck", n_buckets=2, versioned=True,
    )
    dim_rows = [(k, f"c{k}") for k in (0, 1, 2, 3)]
    store.overwrite_keyed(
        spark.createDataFrame(dim_rows, dschema), "d", "ck",
        n_buckets=2, versioned=True,
    )
    args = (store, "f", "d", "v", "ck", "ck", "ck")

    def recompute():
        f, d = store.read("f"), store.read("d")
        j = f.join(d, f["ck"] == d["ck"], "left").select(
            f["ck"], "amt", "nm"
        )
        return {r["ck"]: (r["amt"], r["nm"]) for r in j.collect()}

    def view():
        return {
            r["ck"]: (r["amt"], r["nm"])
            for r in store.read("v").collect()
        }

    sync_join_view(*args)
    assert view() == recompute()
    # (a) dim churn through the natural-key path
    store.upsert(spark.createDataFrame([(1, "x1")], dschema), "d", "ck")
    store.delete_where("d", "ck = 2")
    sync_join_view(*args)
    assert view() == recompute()
    assert view()[1] == (1.0, "x1") and view()[2] == (2.0, None)
    # (b) metadata-only window: identical-value rewrite -> empty feed
    store.upsert(
        spark.createDataFrame([(0, "c0")], dschema), "d", "ck"
    )  # rewrites bucket; CDF cancels to zero rows
    before = store.latest_version("v")
    vf, vd = sync_join_view(*args)
    assert vd == store.latest_version("d")  # watermark advanced
    assert store.latest_version("v") == before + 1  # ONE metadata publish
    assert view() == recompute()
    # and the follow-up sync is a true no-op
    before = store.latest_version("v")
    sync_join_view(*args)
    assert store.latest_version("v") == before


def test_cross_txn_assert_primitive(spark, tmp_path):
    """io-level ``txn_assert`` (ADVICE r10 medium): a publish may CAS
    on ANOTHER app's watermark, atomically with the manifest claim —
    the primitive the join-view maintainer uses to refuse commits whose
    derivation pinned the other feed's state. CrossTxnConflict must NOT
    be swallowable as TxnAlreadyApplied (taxonomy: nothing applied,
    must re-derive)."""
    import pytest

    from datapipelinerepo_spark.io import (
        CrossTxnConflict,
        TxnAlreadyApplied,
    )

    assert not issubclass(CrossTxnConflict, TxnAlreadyApplied)

    store = TableStore(spark, str(tmp_path))
    schema = "id long, val double"
    store.overwrite_keyed(
        spark.createDataFrame([(i, float(i)) for i in range(8)], schema),
        "t", "id", n_buckets=2, versioned=True, txn=("appA", 0),
    )
    src = spark.createDataFrame([(1, 11.0)], schema)
    # assert holds: appA's watermark is 0, as pinned
    store.merge_when(
        src, "t", "id", txn=("appB", 1), check_replay=True,
        txn_assert={"appA": 0},
    )
    # appA advances...
    assert store.upsert_txn(
        spark.createDataFrame([(2, 22.0)], schema), "t", "id", "appA", 1
    )
    # ...so a write still pinned to appA==0 must be REFUSED
    with pytest.raises(CrossTxnConflict):
        store.merge_when(
            spark.createDataFrame([(3, 33.0)], schema), "t", "id",
            txn=("appB", 2), check_replay=True, txn_expect=1,
            txn_assert={"appA": 0},
        )
    # the refused merge applied nothing
    assert store.last_txn("t", "appB") == 1
    vals = {r["id"]: r["val"] for r in store.read("t").collect()}
    assert vals[3] == 3.0 and vals[1] == 11.0 and vals[2] == 22.0
    # an asserted app with NO watermark at all also refuses
    with pytest.raises(CrossTxnConflict):
        store.merge_when(
            src, "t", "id", txn=("appB", 2), txn_expect=1,
            check_replay=True, txn_assert={"ghost": 0},
        )


def test_sync_join_view_cross_phase_race(spark, tmp_path):
    """ADVICE r10 medium, both directions. (1) A fact phase that pinned
    the dim at watermark vd must be REFUSED when a concurrent syncer's
    dim phase advanced vd first — previously its rows landed with
    vd-era payload under the newer watermark, and no later window
    covered vd→cur_d for them (permanent silent staleness until those
    dim keys churned again). (2) Symmetrically, a dim phase whose
    narrow view scan missed fact rows a concurrent fact phase landed
    mid-flight must be refused. Both: the public sync_join_view
    converges afterwards."""
    import pytest

    from datapipelinerepo_spark.io import CrossTxnConflict
    from datapipelinerepo_spark.plans import viewmaint as vm

    store = TableStore(spark, str(tmp_path))
    fschema = "fid long, ck long, amt double"
    dschema = "ck long, nm string, bal double"
    store.overwrite_keyed(
        spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(8)], fschema
        ),
        "f", "fid", n_buckets=2, versioned=True,
    )
    store.overwrite_keyed(
        spark.createDataFrame(
            [(0, "c0", 0.0), (1, "c1", 10.0)], dschema
        ),
        "d", "ck", n_buckets=2, versioned=True,
    )
    args = (store, "f", "d", "v", "fid", "ck", "ck")
    f1, d1 = vm.sync_join_view(*args)
    fact_app, dim_app = vm._fact_app(store, "f"), vm._dim_app(store, "d")
    payload = ["nm", "bal"]

    def recompute():
        f, d = store.read("f"), store.read("d")
        j = f.join(d, f["ck"] == d["ck"], "left").select(
            f["fid"], f["ck"], "amt", "nm", "bal"
        )
        return {r["fid"]: tuple(r)[1:] for r in j.collect()}

    # --- direction 1: dim phase lands between A's pin and A's merge
    store.upsert(
        spark.createDataFrame([(100, 0, 100.0)], fschema), "f", "fid"
    )
    store.upsert(
        spark.createDataFrame([(0, "z0", 999.0)], dschema), "d", "ck"
    )
    cur_f, cur_d = store.latest_version("f"), store.latest_version("d")
    # syncer B's dim phase wins
    assert vm._dim_phase(
        store, "d", "v", ["fid"], "ck", "ck", payload, d1, cur_d,
        dim_app, fact_app,
    ) == cur_d
    # syncer A's fact phase, still pinned to the OLD dim watermark d1,
    # must be refused at commit — not land fid=100 with "c0" payload
    with pytest.raises(CrossTxnConflict):
        vm._fact_phase(
            store, "f", "d", "v", ["fid"], "ck", "ck", payload,
            f1, cur_f, d1, fact_app, dim_app,
        )
    assert store.last_txn("v", fact_app) == f1  # nothing applied
    # the public loop re-pins and converges; the new row carries the
    # NEW dim payload
    f2, d2 = vm.sync_join_view(*args)
    assert (f2, d2) == (cur_f, cur_d)
    view = {
        r["fid"]: (r["ck"], r["amt"], r["nm"], r["bal"])
        for r in store.read("v").collect()
    }
    assert view == recompute()
    assert view[100] == (0, 100.0, "z0", 999.0)

    # --- direction 2: a fact phase lands while a dim phase is between
    # its fact-watermark pin and its merge commit
    store.upsert(
        spark.createDataFrame([(1, "y1", -1.0)], dschema), "d", "ck"
    )
    cur_d3 = store.latest_version("d")
    real_merge = store.merge_when
    fired = {"n": 0}

    def interleaved(*a, **kw):
        if fired["n"] == 0 and kw.get("txn", ("", 0))[0] == dim_app:
            fired["n"] += 1
            # a concurrent fact window lands mid-dim-phase
            store.upsert(
                spark.createDataFrame([(200, 1, 200.0)], fschema),
                "f", "fid",
            )
            vm._fact_phase(
                store, "f", "d", "v", ["fid"], "ck", "ck", payload,
                f2, store.latest_version("f"), d2, fact_app, dim_app,
            )
        return real_merge(*a, **kw)

    store.merge_when = interleaved
    try:
        with pytest.raises(CrossTxnConflict):
            vm._dim_phase(
                store, "d", "v", ["fid"], "ck", "ck", payload,
                d2, cur_d3, dim_app, fact_app,
            )
    finally:
        store.merge_when = real_merge
    # fid=200 landed joined at dim@d2 — the OLD payload, since d2
    # predates the y1 upsert — and the refused dim phase did NOT
    # advance the watermark past the d2→cur_d3 window that corrects it
    assert store.last_txn("v", dim_app) == d2
    vm.sync_join_view(*args)
    view = {
        r["fid"]: (r["ck"], r["amt"], r["nm"], r["bal"])
        for r in store.read("v").collect()
    }
    assert view == recompute()
    assert view[200][2:] == ("y1", -1.0)


def test_tables_and_describe_detail(spark, tmp_path):
    """Catalog verbs (r12): tables() lists every table; describe_detail
    returns the DESCRIBE DETAIL facts from metadata only — no Spark
    jobs (asserted via a dedicated job group)."""
    from datapipelinerepo_spark.io import TableStore
    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("c")
    )
    store.overwrite_keyed(df, "kv", "k", n_buckets=4, versioned=True)
    store.upsert(
        spark.createDataFrame([(500, 1)], "k long, c long"), "kv", "k"
    )
    store.build_bloom_index("kv", "c", m_bits=1 << 12)
    store.set_table_properties("kv", auto_compact_files_per_bucket=4)
    store.overwrite(spark.range(5).toDF("x"), "plain")

    assert store.tables() == ["kv", "plain"]

    sc = spark.sparkContext
    sc.setJobGroup("detail_probe", "describe_detail must run zero jobs")
    try:
        d = store.describe_detail("kv")
        p = store.describe_detail("plain")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("detail_probe")

    assert d["key_cols"] == ["k"] and d["n_buckets"] == 4
    assert d["version"] == 2 and d["n_versions"] == 2
    assert d["n_files"] > 0 and d["size_bytes"] > 0
    assert d["bloom_index_cols"] == ["c"]
    assert d["properties"] == {"auto_compact_files_per_bucket": 4}
    assert d["files_per_bucket"]["max"] >= d["files_per_bucket"]["min"]
    assert d["created_ts_millis"] <= d["last_modified_ts_millis"]
    assert d["incarnation"]

    assert p["version"] is None and p["n_versions"] == 0
    assert p["n_files"] > 0 and p["size_bytes"] > 0
    assert p["bloom_index_cols"] == []

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no such table"):
        store.describe_detail("nope")


def test_describe_detail_edge_states(spark, tmp_path):
    """code-review r12 hardening: describe_detail must report (not
    crash) through the overwrite-reset heal window, and must not list
    a crashed build's .tmp-* sidecar leftovers as indexed columns."""
    import os

    from datapipelinerepo_spark.io import TableStore
    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path))
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("c")
    )
    store.overwrite_keyed(df, "kv", "k", n_buckets=2, versioned=True)
    store.build_bloom_index("kv", "c", m_bits=1 << 10)
    # phantom sidecar leftovers from a crashed build/compact
    ghost = os.path.join(str(tmp_path), "kv", ".bloomidx", "c.tmp-dead")
    os.makedirs(ghost)
    open(os.path.join(ghost, "meta.json"), "w").write("{}")
    d = store.describe_detail("kv")
    assert d["bloom_index_cols"] == ["c"]

    # heal window: versioned meta with no retained manifests
    import shutil as _sh

    _sh.rmtree(os.path.join(str(tmp_path), "_manifest_kv"))
    d2 = store.describe_detail("kv")
    assert d2["version"] is None and d2["n_versions"] == 0
    assert d2["n_files"] > 0  # the data files still report


# --- r13 continuation: stats-answered scalar aggregates ---------------


def test_stats_scalar_answers_without_jobs(spark, tmp_path):
    """MIN/MAX/COUNT/COUNT(col) from manifest stats: exact values,
    ZERO Spark jobs (the Delta stats-answered-aggregate shape — a
    watermark gate at no scan cost)."""
    import datetime as dt

    store = TableStore(spark, str(tmp_path))
    df = spark.range(500).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.5).alias("amt"),
        F.when(
            F.col("id") % 5 != 0, F.col("id") % 100
        ).alias("opt"),  # NULL on every 5th row
        (
            F.lit(dt.datetime(2001, 1, 1))
            + F.make_interval(days=F.col("id").cast("int"))
        ).alias("ts"),
    )
    store.overwrite_keyed(df, "t", "k", n_buckets=4, versioned=True)
    store.append(
        df.select(
            (F.col("k") + 500).alias("k"), "amt", "opt",
            (F.col("ts") + F.expr("INTERVAL 500 DAYS")).alias("ts"),
        ),
        "t",
    )
    sc = spark.sparkContext
    sc.setJobGroup("stats_scalar_probe", "must run zero jobs")
    try:
        got = {
            "count": store.stats_scalar("t", "count"),
            "count_opt": store.stats_scalar("t", "count_col", "opt"),
            "min_amt": store.stats_scalar("t", "min", "amt"),
            "max_amt": store.stats_scalar("t", "max", "amt"),
            "min_ts": store.stats_scalar("t", "min", "ts"),
            "max_ts": store.stats_scalar("t", "max", "ts"),
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(
        "stats_scalar_probe"
    ), "stats_scalar triggered Spark jobs — it must read only manifests"
    assert got["count"] == 1000
    assert got["count_opt"] == 800  # every 5th of 1000 rows is NULL
    # amt repeats across the two batches: max is 499 * 2.5
    assert got["min_amt"] == 0.0 and got["max_amt"] == 499 * 2.5
    assert got["min_ts"] == dt.datetime(2001, 1, 1)
    assert got["max_ts"] == dt.datetime(2001, 1, 1) + dt.timedelta(
        days=999
    )
    # the real aggregates agree (the exactness contract)
    real = store.read("t").agg(
        F.count(F.lit(1)), F.count("opt"), F.min("amt"), F.max("amt"),
        F.min("ts"), F.max("ts"),
    ).collect()[0]
    assert list(real) == [
        got["count"], got["count_opt"], got["min_amt"], got["max_amt"],
        got["min_ts"], got["max_ts"],
    ]


def test_stats_scalar_refusals(spark, tmp_path):
    """Never silently approximate: strings refuse (truncation), files
    without the extension refuse, unknown aggs/missing col refuse;
    version pinning answers from the pinned snapshot."""
    import pytest

    store = TableStore(spark, str(tmp_path))
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.format_string("n%03d", F.col("id")).alias("name"),
        F.col("id").alias("v"),
    )
    store.overwrite_keyed(df, "t", "k", n_buckets=2, versioned=True)
    v1 = store.latest_version("t")
    with pytest.raises(ValueError, match="string"):
        store.stats_scalar("t", "max", "name")
    with pytest.raises(ValueError, match="agg must be"):
        store.stats_scalar("t", "sum", "v")
    with pytest.raises(ValueError, match="needs col"):
        store.stats_scalar("t", "min")
    # pinned snapshot: the upsert's larger values are invisible at v1
    store.upsert(
        spark.range(100, 120).select(
            F.col("id").alias("k"),
            F.lit("zz").alias("name"),
            (F.col("id") * 10).alias("v"),
        ),
        "t",
        "k",
    )
    assert store.stats_scalar("t", "max", "v") == 1190
    assert store.stats_scalar("t", "max", "v", version=v1) == 99
    assert store.stats_scalar("t", "count", version=v1) == 100


def test_stats_scalar_all_null_and_legacy(spark, tmp_path, monkeypatch):
    """MIN/MAX over an all-NULL column returns None (SQL semantics);
    a legacy manifest without the extension refuses COUNT loudly."""
    import pytest

    from datapipelinerepo_spark import io as io_mod

    store = TableStore(spark, str(tmp_path / "a"))
    df = spark.range(50).select(
        F.col("id").alias("k"),
        F.lit(None).cast("double").alias("empty"),
    )
    store.overwrite_keyed(df, "t", "k", n_buckets=2, versioned=True)
    assert store.stats_scalar("t", "min", "empty") is None
    assert store.stats_scalar("t", "count_col", "empty") == 0
    orig = io_mod.TableStore._file_stats

    def legacy(self, name, rel):
        return {
            c: s[:2] for c, s in orig(self, name, rel).items()
            if s[0] is not None
        }

    monkeypatch.setattr(io_mod.TableStore, "_file_stats", legacy)
    store2 = TableStore(spark, str(tmp_path / "b"))
    store2.overwrite_keyed(
        spark.range(10).select(F.col("id").alias("k")),
        "t", "k", n_buckets=2, versioned=True,
    )
    with pytest.raises(ValueError, match="COUNT"):
        store2.stats_scalar("t", "count")
    # min/max still answer from the legacy [min, max] entries
    assert store2.stats_scalar("t", "max", "k") == 9


def test_max_value_answers_from_stats_on_versioned(spark, tmp_path):
    """The A1 watermark fetch rides the stats fast path on versioned
    tables: zero Spark jobs, same value as the scan; unversioned
    tables still scan (and agree)."""
    import datetime as dt

    store = TableStore(spark, str(tmp_path))
    df = spark.range(200).select(
        F.col("id").alias("k"),
        (
            F.lit(dt.datetime(2002, 3, 1))
            + F.make_interval(days=F.col("id").cast("int"))
        ).alias("d"),
    )
    store.overwrite_keyed(df, "v", "k", n_buckets=2, versioned=True)
    sc = spark.sparkContext
    sc.setJobGroup("wm_probe", "watermark must run zero jobs")
    try:
        wm = store.max_value("v", "d")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("wm_probe")
    assert wm == dt.datetime(2002, 3, 1) + dt.timedelta(days=199)
    # unversioned: the scan path still owns it, same answer
    store.overwrite(df, "plain")
    assert store.max_value("plain", "d") == wm


# --- r13 continuation: SQL UPDATE verb --------------------------------


def test_update_where_basic_semantics(spark, tmp_path):
    """UPDATE ... SET ... WHERE on a versioned keyed table: matched
    rows get the new values (RHS sees the PRE-update row — the
    column-swap case), unmatched and NULL-predicate rows keep theirs,
    only matched buckets rewrite, and prior snapshots still read the
    old values."""
    import pytest

    store = TableStore(spark, str(tmp_path))
    df = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") % 37).alias("cust"),
        (F.col("id") * 1.0).alias("a"),
        (F.col("id") * 2.0).alias("b"),
    )
    store.overwrite_keyed(df, "t", "k", n_buckets=8, versioned=True)
    v1 = store.latest_version("t")
    affected = store.update_where(
        "t", {"a": F.col("b"), "b": F.col("a")},
        condition=F.col("cust") == 5,
    )
    assert affected and len(affected) <= 8
    rows = {r["k"]: (r["a"], r["b"]) for r in store.read("t").collect()}
    for k in range(400):
        if k % 37 == 5:
            assert rows[k] == (k * 2.0, k * 1.0)  # swapped
        else:
            assert rows[k] == (k * 1.0, k * 2.0)
    # time travel: the pre-update snapshot is intact
    old = {
        r["k"]: (r["a"], r["b"])
        for r in store.read("t", version=v1).collect()
    }
    assert all(old[k] == (k * 1.0, k * 2.0) for k in range(400))
    # literals and SQL strings as RHS; dtype preserved via cast
    store.update_where(
        "t", {"a": 0, "b": "a + 1"}, condition="cust = 6"
    )
    r6 = [r for r in store.read("t").collect() if r["cust"] == 6]
    assert all(r["a"] == 0.0 for r in r6)
    assert all(r["b"] == (r["k"] * 2.0 if r["k"] % 37 == 5 else r["k"] * 1.0) + 1 for r in r6)
    # nothing matched: no rewrite
    assert store.update_where("t", {"a": 1.0}, condition="cust = 999") == []
    # validation: key columns refuse, unknown columns refuse
    with pytest.raises(ValueError, match="key column"):
        store.update_where("t", {"k": 0}, condition="cust = 1")
    with pytest.raises(ValueError, match="non-existent"):
        store.update_where("t", {"zz": 0}, condition="cust = 1")
    with pytest.raises(ValueError, match="exactly one"):
        store.update_where("t", {"a": 1.0})


def test_update_where_planner_and_constraints(spark, tmp_path):
    """where= planner specs drive the find phase; declared constraints
    judge the post-update matched rows (a violating assignment
    refuses, untouched legacy rows cannot wedge)."""
    import pytest

    from datapipelinerepo_spark.io import Prefix

    store = TableStore(spark, str(tmp_path))
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.format_string("u%04d", F.col("id")).alias("name"),
        (F.col("id") % 11).alias("cust"),
        (F.col("id") * 1.0).alias("amt"),
    )
    store.overwrite_keyed(df, "t", "k", n_buckets=4, versioned=True)
    store.build_bloom_index("t", "cust", m_bits=1 << 12)
    affected = store.update_where(
        "t", {"amt": F.col("amt") + 100.0}, where={"cust": 7}
    )
    assert affected
    got = {r["k"]: r["amt"] for r in store.read("t").collect()}
    assert all(
        got[k] == (k + 100.0 if k % 11 == 7 else float(k))
        for k in range(300)
    )
    # prefix-spec update
    store.update_where(
        "t", {"amt": -1.0}, where={"name": Prefix("u000")}
    )
    got = {r["k"]: r["amt"] for r in store.read("t").collect()}
    assert all(got[k] == -1.0 for k in range(10))
    # constraint: refuse an assignment that violates it
    store.set_constraints("t", {"amt_nonneg": "amt >= -1"})
    with pytest.raises(Exception, match="amt_nonneg"):
        store.update_where("t", {"amt": -5.0}, where={"cust": 3})
    # the refused update left state untouched
    got2 = {r["k"]: r["amt"] for r in store.read("t").collect()}
    assert got2 == got
    # unkeyed fallback: full rewrite, same semantics
    store.overwrite(
        spark.range(10).select(F.col("id").alias("x"), F.lit(1.0).alias("y")),
        "plain",
    )
    assert store.update_where(
        "plain", {"y": 9.0}, condition="x >= 5"
    ) == [-1]
    ys = {r["x"]: r["y"] for r in store.read("plain").collect()}
    assert all(ys[x] == (9.0 if x >= 5 else 1.0) for x in range(10))


def test_update_where_feeds_cdf(spark, tmp_path):
    """update_where composes with CHANGE DATA FEED: the rewritten
    buckets diff to exactly the matched rows' update_preimage/
    update_postimage pairs — no phantom inserts/deletes from the
    unmatched rows that rewrote bit-identically."""
    store = TableStore(spark, str(tmp_path))
    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 13).alias("cust"),
        (F.col("id") * 1.0).alias("amt"),
    )
    store.overwrite_keyed(df, "t", "k", n_buckets=4, versioned=True)
    v1 = store.latest_version("t")
    store.update_where("t", {"amt": F.col("amt") + 1000.0},
                       condition="cust = 4")
    ch = store.table_changes("t", v1).collect()
    by_type: dict = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert set(by_type) == {"update_preimage", "update_postimage"}
    matched = [k for k in range(200) if k % 13 == 4]
    assert sorted(r["k"] for r in by_type["update_preimage"]) == matched
    assert sorted(r["k"] for r in by_type["update_postimage"]) == matched
    assert all(r["amt"] == r["k"] + 1000.0 for r in by_type["update_postimage"])
    assert all(r["amt"] == float(r["k"]) for r in by_type["update_preimage"])


# --- r14: ADVICE fixes -------------------------------------------------


def test_max_value_scan_fallback_utc_basis(spark, tmp_path):
    """ADVICE r13: on a non-UTC driver the scan fallback used to render
    TIMESTAMP scalars in the OS timezone while the stats path answers
    in UTC wall-clock — the watermark jumped when the path flipped.
    Both paths must agree on the UTC basis regardless of driver TZ."""
    import os
    import time

    store = TableStore(spark, str(tmp_path))
    hi = dt.datetime(2002, 3, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [(i, hi - dt.timedelta(days=i)) for i in range(5)],
        "k long, ts timestamp",
    )
    store.overwrite_keyed(df, "v", "k", n_buckets=2, versioned=True)
    store.overwrite(df, "plain")  # unversioned: always the scan path
    prev = os.environ.get("TZ")
    os.environ["TZ"] = "Australia/Sydney"  # +10/+11, far from UTC
    time.tzset()
    try:
        from_stats = store.max_value("v", "ts")
        from_scan = store.max_value("plain", "ts")
    finally:
        if prev is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev
        time.tzset()
    assert from_stats == hi
    assert from_scan == hi  # pre-fix: hi shifted by the Sydney offset


def test_stats_verbs_renamed_then_dropped_diagnostic(spark, tmp_path):
    """ADVICE r13: drop_column pops the renames entry, so a
    renamed-then-dropped column resolves to itself and used to slip
    past the dropped guard into a misleading 'no stats entry' refusal.
    Both stats_scalar and count_where must name the real cause."""
    import pytest

    store = TableStore(spark, str(tmp_path))
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    store.overwrite_keyed(df, "t", "k", n_buckets=2, versioned=True)
    store.rename_column("t", "a", "b")
    store.drop_column("t", "b")
    with pytest.raises(ValueError, match="dropped from the logical"):
        store.stats_scalar("t", "max", "b")
    with pytest.raises(ValueError, match="dropped from the logical"):
        store.count_where("t", {"b": 4})


def test_null_stats_inert_counter_distinct_key(spark, tmp_path):
    """ADVICE r13: the null-stats-inert warning counts under
    (table, col, 'nulls'), not the min/max key — the two causes stay
    distinguishable in prune_stat_misses."""
    import warnings as _warnings

    from datapipelinerepo_spark.io import IS_NULL

    store = TableStore(spark, str(tmp_path))
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")  # kills min/max AND null-count stats
    try:
        store.overwrite_keyed(
            spark.createDataFrame(
                [(i, dt.datetime(2026, 1, 1 + i)) for i in range(10)],
                "k long, ts timestamp",
            ),
            "t", "k", n_buckets=2, versioned=True,
        )
    finally:
        spark.conf.set(key, prev)
    with _warnings.catch_warnings(record=True):
        _warnings.simplefilter("always")
        store.read("t", where={"ts": IS_NULL}).collect()
    assert store.prune_stat_misses.get(("t", "ts", "nulls"), 0) >= 1
    # the min/max key stays untouched by the null-inert path alone
    nulls_only = store.prune_stat_misses.get(("t", "ts", "nulls"))
    assert ("t", "ts") not in store.prune_stat_misses or nulls_only


def _mk_unversioned(spark, tmp_path, n=40, buckets=4):
    store = TableStore(spark, str(tmp_path))
    base = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    store.overwrite_keyed(base, "t", "k", n_buckets=buckets)
    return store


def _kv(store) -> dict:
    rows = store.read("t").collect()
    got = {r["k"]: r["v"] for r in rows}
    assert len(got) == len(rows), "duplicate keys"
    return got


def _kv_batch(spark, keys, v):
    return spark.createDataFrame([(k, v) for k in keys], "k long, v long")


def test_unversioned_crash_before_publish_keeps_old_rows(
    spark, tmp_path, monkeypatch
):
    """A crash after an unversioned upsert staged its files into the
    table and before it published their manifest: reads still return
    the old rows, the next verb succeeds and removes only what it
    superseded, and the crashed write's files wait for vacuum."""
    store = _mk_unversioned(spark, tmp_path)
    before = _kv(store)
    v1 = store.latest_version("t")

    def crash(*a, **k):
        raise OSError("injected: died before the publish")

    monkeypatch.setattr(store, "_publish_version", crash)
    inc = _kv_batch(spark, range(10, 20), -1)
    with pytest.raises(OSError, match="before the publish"):
        store.upsert(inc, "t", "k")
    monkeypatch.undo()
    staged = set(store._data_files("t")) - set(store._manifest_files("t", v1))
    assert staged
    assert store.latest_version("t") == v1 and _kv(store) == before

    store.upsert(inc, "t", "k")
    want = {**before, **{k: -1 for k in range(10, 20)}}
    assert _kv(store) == want
    assert staged <= set(store._data_files("t"))

    store.vacuum("t", grace_s=0.0)
    v = store.latest_version("t")
    assert set(store._data_files("t")) == set(store._manifest_files("t", v))
    assert _kv(store) == want


def test_unversioned_crash_after_publish_leaves_orphans_for_vacuum(
    spark, tmp_path, monkeypatch
):
    """A crash after the manifest publish and before the superseded
    files are removed: reads return exactly the new rows (the manifest
    is the commit point, the directory is not), a later verb removes
    only the files it superseded itself, and vacuum reclaims the
    leftovers and the old manifest."""
    store = _mk_unversioned(spark, tmp_path)
    before = _kv(store)
    v1 = store.latest_version("t")

    def crash(*a, **k):
        raise OSError("injected: died before the cleanup")

    monkeypatch.setattr(store, "_remove_superseded", crash)
    with pytest.raises(OSError, match="before the cleanup"):
        store.upsert(_kv_batch(spark, range(10, 20), -1), "t", "k")
    monkeypatch.undo()
    v2 = store.latest_version("t")
    assert v2 == v1 + 1
    want = {**before, **{k: -1 for k in range(10, 20)}}
    assert _kv(store) == want
    leftovers = set(store._manifest_files("t", v1)) - set(
        store._manifest_files("t", v2)
    )
    assert leftovers and leftovers <= set(store._data_files("t"))

    store.upsert(_kv_batch(spark, range(10, 20), -2), "t", "k")
    want.update({k: -2 for k in range(10, 20)})
    assert _kv(store) == want
    assert leftovers <= set(store._data_files("t"))
    v3 = store.latest_version("t")
    assert store.versions("t") == [v1, v3]

    store.vacuum("t", grace_s=0.0)
    assert store.versions("t") == [v3]
    assert set(store._data_files("t")) == set(store._manifest_files("t", v3))
    assert _kv(store) == want


def test_unversioned_table_without_manifest_heals_on_first_write(
    spark, tmp_path
):
    """A keyed table written before unversioned tables had manifests
    reads its committed directory, and its first write publishes that
    directory as the base manifest before committing on top of it."""
    import shutil

    store = _mk_unversioned(spark, tmp_path)
    before = _kv(store)
    shutil.rmtree(store._manifest_dir("t"))
    store._update_meta("t", lambda meta: meta.pop("version"))
    assert store.versions("t") == [] and _kv(store) == before

    store.upsert(_kv_batch(spark, range(10, 20), -1), "t", "k")
    assert [h["op"] for h in store.history("t")] == ["upsert"]
    assert _kv(store) == {**before, **{k: -1 for k in range(10, 20)}}
    v = store.latest_version("t")
    assert set(store._data_files("t")) == set(store._manifest_files("t", v))


def test_unversioned_concurrent_writers_replay_serially(spark, tmp_path):
    """Two writers (two stores on one root) upsert one unversioned
    keyed table. (1) Both derive from the same base and publish
    together: the CAS on the base version fails the later publish,
    which re-derives. (2) One writer stages its files on the version
    the other just published while that one removes what it
    superseded: the removal takes exactly the superseded files, never
    the other writer's staged ones. Either way the table ends equal to
    a serial replay of both batches."""
    import threading

    a = _mk_unversioned(spark, tmp_path)
    b = TableStore(spark, str(tmp_path))
    want = _kv(a)
    evens, odds = range(0, 40, 2), range(1, 40, 2)  # every bucket
    errors: list[BaseException] = []

    def run(fn):
        try:
            fn()
        except BaseException as e:  # re-raised in the test thread
            errors.append(e)

    # (1) each writer's first publish waits for the other's
    barrier = threading.Barrier(2, timeout=120)

    def wait_once(store):
        real, first = store._publish_version, [True]

        def publish(*args, **kw):
            if first[0]:
                first[0] = False
                barrier.wait()
            return real(*args, **kw)

        store._publish_version = publish

    wait_once(a)
    wait_once(b)
    threads = [
        threading.Thread(
            target=run, args=(lambda: a.upsert(_kv_batch(spark, evens, -1), "t", "k"),)
        ),
        threading.Thread(
            target=run, args=(lambda: b.upsert(_kv_batch(spark, odds, -2), "t", "k"),)
        ),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    del a._publish_version, b._publish_version
    assert not any(t.is_alive() for t in threads) and not errors, errors
    want.update({k: -1 for k in evens} | {k: -2 for k in odds})
    assert _kv(a) == want

    # (2) b pins a's new version and stages while a cleans up
    staged, go = threading.Event(), threading.Event()
    real_publish, real_remove = b._publish_version, a._remove_superseded
    writer_b = threading.Thread(
        target=run, args=(lambda: b.upsert(_kv_batch(spark, odds, -4), "t", "k"),)
    )

    def b_publish(*args, **kw):
        staged.set()
        assert go.wait(120)
        return real_publish(*args, **kw)

    def a_remove(*args, **kw):
        writer_b.start()
        assert staged.wait(120)
        try:
            real_remove(*args, **kw)
        finally:
            go.set()

    b._publish_version, a._remove_superseded = b_publish, a_remove
    a.upsert(_kv_batch(spark, evens, -3), "t", "k")
    writer_b.join(300)
    assert not writer_b.is_alive() and not errors, errors
    want.update({k: -3 for k in evens} | {k: -4 for k in odds})
    assert _kv(a) == want


def test_meta_reads_never_see_a_partial_write(spark, tmp_path):
    """The meta file is published by an atomic replace: a reader racing
    a writer that rewrites it in a loop always parses a whole file, and
    the staged copies never show up as tables."""
    import sys
    import threading
    import time

    store = TableStore(spark, str(tmp_path))
    store._touch_meta(
        "t", keyed_on=["k"], key_buckets=4, key_types=["bigint"],
        versioned=True, version=0,
    )
    stop = threading.Event()
    errors: list[BaseException] = []
    reads = [0]

    def write():
        i = 0
        while not stop.is_set():
            i += 1
            try:
                store._touch_meta("t", version=i)
            except BaseException as e:  # re-raised in the test thread
                errors.append(e)
                return

    def read():
        while not stop.is_set():
            try:
                assert store.is_versioned("t")
                assert store.keyed_spec("t") == (["k"], 4)
                assert store.table_property("t", "version") is not None
            except BaseException as e:  # re-raised in the test thread
                errors.append(e)
            reads[0] += 1

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=write), threading.Thread(target=read)]
    try:
        for t in threads:
            t.start()
        time.sleep(2)
    finally:
        stop.set()
        for t in threads:
            t.join(30)
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert reads[0] > 0 and not errors, (len(errors), errors[:3])
    assert store.tables() == ["t"]


def test_concurrent_meta_updates_keep_every_key(spark, tmp_path):
    """Meta updates are read-modify-writes serialized by the meta
    file's claim: a version bump looping in one thread and 2,000
    single-key property writes in another lose none of the keys, and
    no claim file outlives the updates."""
    import os
    import sys
    import threading

    from datapipelinerepo_spark.io import read_meta

    store = TableStore(spark, str(tmp_path))
    store._touch_meta("t", version=0)
    stop = threading.Event()
    errors: list[BaseException] = []

    def bump():
        i = 0
        while not stop.is_set():
            i += 1
            try:
                store._touch_meta("t", version=i)
            except BaseException as e:  # re-raised in the test thread
                errors.append(e)
                return

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    bumper = threading.Thread(target=bump)
    bumper.start()
    try:
        for i in range(2000):
            store._touch_meta("t", **{f"p{i}": i})
    finally:
        stop.set()
        bumper.join(30)
        sys.setswitchinterval(old)
    assert not bumper.is_alive() and not errors, errors[:3]
    meta = read_meta(store.root, "t")
    assert [i for i in range(2000) if meta.get(f"p{i}") != i] == []
    assert meta["version"] > 0
    assert os.listdir(tmp_path) == ["_meta_t.json"]


def test_planned_reads_open_the_meta_once(spark, tmp_path, monkeypatch):
    """read(where=...) and read_point read the table meta once per call
    and hand it to every planner helper."""
    import builtins
    import os

    store = TableStore(spark, str(tmp_path))
    store.overwrite_keyed(
        spark.range(0, 200).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("cust")
        ),
        "t", "k", n_buckets=4, versioned=True,
    )
    meta = store._meta_path("t")
    real_open = builtins.open
    opens = [0]

    def counting_open(f, *a, **kw):
        if os.fspath(f) == meta:
            opens[0] += 1
        return real_open(f, *a, **kw)

    monkeypatch.setattr(builtins, "open", counting_open)
    calls = {
        "range": lambda: store.read("t", where={"k": slice(10, 20)}),
        "eq": lambda: store.read("t", where={"k": 57}),
        "read_point": lambda: store.read_point("t", "cust", 3),
    }
    counts = {}
    for label, call in calls.items():
        opens[0] = 0
        call()
        counts[label] = opens[0]
    monkeypatch.setattr(builtins, "open", real_open)
    assert counts == {"range": 1, "eq": 1, "read_point": 1}
    assert store.read("t", where={"k": 57}).count() == 1


@pytest.mark.parametrize("versioned", [True, False])
def test_keyed_writes_read_the_table_once_per_attempt(
    spark, tmp_path, monkeypatch, versioned
):
    """A warm keyed write verb reads the table meta once (outside the
    meta update's own read under its claim) and the base manifest
    once, plus the publish's compare-and-swap re-read; on an
    unversioned table the cleanup reads it once more, to check its
    identity before it removes the files."""
    import builtins
    import os

    import datapipelinerepo_spark.io as io_mod

    store = TableStore(spark, str(tmp_path))
    store.overwrite_keyed(
        spark.range(0, 200).select(
            F.col("id").alias("k"), (F.col("id") * 1.5).alias("amt")
        ),
        "t", "k", n_buckets=4, versioned=versioned,
    )

    def rows(lo):
        return spark.range(lo, lo + 10).select(
            F.col("id").alias("k"), (F.col("id") * 2.5).alias("amt")
        )

    verbs = {
        "upsert": lambda i: store.upsert(rows(300 + 20 * i), "t", "k"),
        "merge_when": lambda i: store.merge_when(rows(100 + 20 * i), "t", "k"),
        "delete_where": lambda i: store.delete_where("t", condition=f"k = {i}"),
        "update_where": lambda i: store.update_where(
            "t", {"amt": "amt + 1"}, condition=f"k = {10 + i}"
        ),
    }
    if versioned:
        # the replay check reads the pinned snapshot's txn map
        verbs["upsert_txn"] = lambda i: store.upsert_txn(
            rows(500 + 20 * i), "t", "k", "app", i
        )
    meta_reads, in_update = [0], [0]
    real_read_meta, real_update = io_mod.read_meta, store._update_meta

    def counting_read_meta(root, name):
        if not in_update[0]:
            meta_reads[0] += 1
        return real_read_meta(root, name)

    def update(name, fn):
        in_update[0] += 1
        try:
            return real_update(name, fn)
        finally:
            in_update[0] -= 1

    base_path, base_opens = [None], [0]
    real_open = builtins.open

    def counting_open(f, *a, **kw):
        if isinstance(f, (str, os.PathLike)) and os.fspath(f) == base_path[0]:
            base_opens[0] += 1
        return real_open(f, *a, **kw)

    monkeypatch.setattr(store, "_update_meta", update)
    counts = {}
    for verb, call in verbs.items():
        call(0)  # warm
        base_path[0] = store._manifest_path("t", store.latest_version("t"))
        meta_reads[0] = base_opens[0] = 0
        monkeypatch.setattr(io_mod, "read_meta", counting_read_meta)
        monkeypatch.setattr(builtins, "open", counting_open)
        try:
            call(1)
        finally:
            monkeypatch.setattr(builtins, "open", real_open)
            monkeypatch.setattr(io_mod, "read_meta", real_read_meta)
        counts[verb] = (meta_reads[0], base_opens[0])
    want = (1, 2 if versioned else 3)
    assert counts == {verb: want for verb in verbs}
    got = {r["k"]: r["amt"] for r in store.read("t").collect()}
    assert 0 not in got and 1 not in got and got[11] == 11 * 1.5 + 1
    assert got[320] == 320 * 2.5 and got[120] == 120 * 2.5


@pytest.mark.parametrize("versioned", [True, False])
def test_narrow_keyed_append_keeps_every_column(spark, tmp_path, versioned):
    """An append narrower than the table publishes the table's columns,
    not only its own: later reads keep the wider columns, and a later
    upsert rewrites their values instead of dropping them."""
    store = TableStore(spark, str(tmp_path))
    store.overwrite_keyed(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        "t", "k", n_buckets=1, versioned=versioned,
    )
    store.append(
        spark.createDataFrame(
            [(3, 30, 7), (4, 40, 8)], "k long, v long, x long"
        ),
        "t",
    )
    store.append(spark.createDataFrame([(5, 50)], "k long, v long"), "t")
    assert store.read("t").columns == ["k", "v", "x"]
    store.upsert(spark.createDataFrame([(1, 11)], "k long, v long"), "t", "k")
    got = {r["k"]: (r["v"], r["x"]) for r in store.read("t").collect()}
    assert got == {
        1: (11, None), 2: (20, None), 3: (30, 7), 4: (40, 8), 5: (50, None)
    }


def test_concurrent_publishes_keep_every_widened_column(spark, tmp_path):
    """Two writers whose publishes widen the meta schema by different
    columns keep both: the widening is computed from the meta read
    under the meta file's claim, not from a read taken before it."""
    import json
    import sys
    import threading

    from pyspark.sql.types import LongType, StructField, StructType

    from datapipelinerepo_spark.io import read_meta

    store = TableStore(spark, str(tmp_path))
    n = 150
    errors: list[BaseException] = []

    def publish(prefix):
        try:
            for i in range(n):
                schema = StructType([StructField(f"{prefix}{i}", LongType())])
                store._publish_version("t", [], schema_json=schema.json())
        except BaseException as e:  # re-raised in the test thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [
        threading.Thread(target=publish, args=(p,)) for p in ("a", "b")
    ]
    try:
        for t in threads:
            t.start()
    finally:
        for t in threads:
            t.join(120)
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors, errors[:3]
    cols = {
        f.name
        for f in StructType.fromJson(
            json.loads(read_meta(store.root, "t")["schema"])
        ).fields
    }
    lost = sorted({f"{p}{i}" for p in "ab" for i in range(n)} - cols)
    assert lost == [], (len(lost), lost[:5])
    assert store.latest_version("t") == 2 * n


def _part_files(store, name) -> set[str]:
    import os

    base = store._dir(name)
    return {
        f"{d}/{f}"
        for d in os.listdir(base)
        if d.startswith("_kb=")
        for f in os.listdir(os.path.join(base, d))
        if f.endswith(".parquet")
    }


@pytest.mark.parametrize("versioned", [False, True])
@pytest.mark.parametrize("shuffle_partitions", ["2", "16"])
def test_keyed_writes_leave_one_file_per_touched_bucket(
    spark, tmp_path, versioned, shuffle_partitions
):
    """AQE sizes the clustering shuffle before every keyed write, with
    the session's shuffle partitions below or above n_buckets: hash
    partitions coalesce but never split, so each bucket a write
    touches gains exactly one part-file."""
    from collections import Counter

    def rows(lo, hi, bump):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 1.5 + bump).alias("amt")
        )

    store = TableStore(spark, str(tmp_path))
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
    try:
        verbs = {
            "overwrite_keyed": lambda: store.overwrite_keyed(
                rows(0, 200, 0.0), "t", "k", n_buckets=8, versioned=versioned
            ),
            "upsert": lambda: store.upsert(rows(190, 230, 1.0), "t", "k"),
            "merge_when": lambda: store.merge_when(
                rows(20, 60, 2.0).withColumn(
                    "op", F.when(F.col("k") % 5 == 0, "D").otherwise("U")
                ),
                "t", "k", when_matched_delete="s.op = 'D'",
                when_not_matched_insert="s.op <> 'D'", source_meta_cols=["op"],
            ),
            "delete_where": lambda: store.delete_where(
                "t", condition="k % 7 = 3 AND k < 150"
            ),
            "append": lambda: store.append(rows(300, 340, 3.0), "t"),
        }
        for verb, fn in verbs.items():
            before = _part_files(store, "t") if verb != "overwrite_keyed" else set()
            fn()
            per_bucket = Counter(
                f.split("/", 1)[0] for f in _part_files(store, "t") - before
            )
            assert len(per_bucket) >= 4, (verb, per_bucket)
            assert set(per_bucket.values()) == {1}, (verb, per_bucket)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    want = {
        k for k in range(340)
        if not (300 > k >= 230 or (k % 7 == 3 and k < 150) or (20 <= k < 60 and k % 5 == 0))
    }
    assert {r["k"] for r in store.read("t").collect()} == want


@pytest.mark.parametrize("versioned", [True, False])
def test_narrower_typed_append_keeps_the_table_type(spark, tmp_path, versioned):
    """An append carrying a column at a narrower type than the table
    stages it at the table's type, so the table stays readable; a type
    neither holds the other (a string batch into a long column) raises
    before anything lands."""
    store = TableStore(spark, str(tmp_path))
    store.overwrite_keyed(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        "t", "k", n_buckets=2, versioned=versioned,
    )
    store.append(spark.createDataFrame([(3, 30)], "k long, v int"), "t")
    df = store.read("t")
    assert df.schema["v"].dataType.simpleString() == "bigint"
    assert {r["k"]: r["v"] for r in df.collect()} == {1: 10, 2: 20, 3: 30}
    v = store.latest_version("t")
    with pytest.raises(ValueError, match="neither type holds"):
        store.append(
            spark.createDataFrame([(4, "x")], "k long, v string"), "t"
        )
    assert store.latest_version("t") == v
    store.upsert(spark.createDataFrame([(1, 11)], "k long, v long"), "t", "k")
    assert {r["k"]: r["v"] for r in store.read("t").collect()} == {
        1: 11, 2: 20, 3: 30
    }


def _reset_window_table(spark, tmp_path):
    """A versioned keyed table in overwrite_keyed's reset window: the
    manifest history is gone, the committed directory (``_SUCCESS``
    present) holds the rows."""
    import os
    import shutil

    store = TableStore(spark, str(tmp_path))
    store.overwrite_keyed(
        spark.range(0, 40).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("cust")
        ),
        "t", "k", n_buckets=4, versioned=True,
    )
    shutil.rmtree(store._manifest_dir("t"))
    assert os.path.isfile(os.path.join(store._dir("t"), "_SUCCESS"))
    return store


def test_reads_never_publish_a_heal(spark, tmp_path):
    """In the reset window every manifest-only read verb raises the
    mid-heal ValueError and publishes nothing; read, read_buckets and
    lookup serve the committed directory; the next write heals."""
    store = _reset_window_table(spark, tmp_path)
    manifest_only = {
        "read(where=)": lambda: store.read("t", where={"k": 3}),
        "read_where": lambda: store.read_where("t", "k", (1, 5)),
        "read_point": lambda: store.read_point("t", "cust", 2),
        "read_point_where": lambda: store.read_point_where("t", {"cust": 2}),
        "plan_read": lambda: store.plan_read("t", {"k": 3}),
        "pruned_file_count": lambda: store.pruned_file_count(
            "t", "k", (1, 5)
        ),
        "stats_scalar": lambda: store.stats_scalar("t", "count"),
        "count_where": lambda: store.count_where("t", {"k": 3}),
        "stats_coverage": lambda: store.stats_coverage("t"),
        "table_changes": lambda: store.table_changes("t", 1),
        "build_bloom_index": lambda: store.build_bloom_index("t", "cust"),
        "update_bloom_index": lambda: store.update_bloom_index("t", "cust"),
        "compact_bloom_index": lambda: store.compact_bloom_index(
            "t", "cust"
        ),
        "bloom_coverage": lambda: store.bloom_coverage("t", "cust"),
        "bloom_kept_files": lambda: store.bloom_kept_files("t", "cust", 2),
    }
    for verb, call in manifest_only.items():
        with pytest.raises(ValueError, match="mid-heal"):
            call()
        assert store.versions("t") == [], verb
    assert store.last_txn("t", "app") is None
    assert sorted(r["k"] for r in store.read("t").collect()) == list(range(40))
    assert store.read_buckets("t", list(range(4))).count() == 40
    assert [r["k"] for r in store.lookup("t", [7]).collect()] == [7]
    assert store.versions("t") == []
    store.upsert(
        spark.createDataFrame([(7, 99)], "k long, cust long"), "t", "k"
    )
    assert store.versions("t") == [1, 2]
    assert store.read("t", where={"k": 7}).first()["cust"] == 99


def test_read_verbs_read_the_table_once(spark, tmp_path, monkeypatch):
    """Every read verb reads the table meta at most once and opens each
    manifest it names once: one snapshot per verb (two, sharing the
    meta, for the ends of a table_changes range)."""
    import builtins
    import os

    import datapipelinerepo_spark.io as io_mod

    store = TableStore(spark, str(tmp_path))
    store.overwrite_keyed(
        spark.range(0, 2000).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).alias("cust"),
            (F.col("id") * 1.5).alias("amt"),
        ),
        "t", "k", n_buckets=8, versioned=True,
    )
    store.upsert(
        spark.range(0, 50).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).alias("cust"),
            (F.col("id") * 2.5).alias("amt"),
        ),
        "t", "k",
    )
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    latest = store.latest_version("t")
    mdir = store._manifest_dir("t")
    verbs = {
        "read": lambda: store.read("t"),
        "read(version=1)": lambda: store.read("t", version=1),
        "read(where=)": lambda: store.read("t", where={"k": 7}),
        "read_where": lambda: store.read_where("t", "k", (10, 20)),
        "read_point": lambda: store.read_point("t", "cust", 3),
        "read_point_where": lambda: store.read_point_where(
            "t", {"cust": 3, "k": 3}
        ),
        "plan_read": lambda: store.plan_read("t", [{"k": 7}, {"cust": 3}]),
        "pruned_file_count": lambda: store.pruned_file_count(
            "t", "k", (10, 20)
        ),
        "stats_scalar": lambda: store.stats_scalar("t", "max", "amt"),
        "count_where": lambda: store.count_where("t", {"k": slice(0, 99)}),
        "stats_coverage": lambda: store.stats_coverage("t"),
        "bloom_coverage": lambda: store.bloom_coverage("t", "cust"),
        "bloom_kept_files": lambda: store.bloom_kept_files("t", "cust", 3),
        "lookup": lambda: store.lookup("t", [7, 8]),
        "last_txn": lambda: store.last_txn("t", "app"),
        "table_changes(1)": lambda: store.table_changes("t", 1),
    }
    meta_reads = [0]
    opens: dict[str, int] = {}
    real_read_meta, real_open = io_mod.read_meta, builtins.open

    def counting_read_meta(root, name):
        meta_reads[0] += 1
        return real_read_meta(root, name)

    def counting_open(f, *a, **kw):
        if isinstance(f, (str, os.PathLike)):
            p = os.fspath(f)
            if os.path.dirname(p) == mdir:
                opens[os.path.basename(p)] = opens.get(
                    os.path.basename(p), 0
                ) + 1
        return real_open(f, *a, **kw)

    counts = {}
    for verb, call in verbs.items():
        meta_reads[0] = 0
        opens.clear()
        monkeypatch.setattr(io_mod, "read_meta", counting_read_meta)
        monkeypatch.setattr(builtins, "open", counting_open)
        try:
            call()
        finally:
            monkeypatch.setattr(builtins, "open", real_open)
            monkeypatch.setattr(io_mod, "read_meta", real_read_meta)
        counts[verb] = (meta_reads[0], dict(opens))
    assert {verb: m for verb, (m, _) in counts.items() if m > 1} == {}
    v1, vn = "v000001.json", f"v{latest:06d}.json"
    want = {verb: {vn: 1} for verb in verbs}
    want["read(version=1)"] = {v1: 1}
    want["table_changes(1)"] = {v1: 1, vn: 1}
    assert {verb: o for verb, (_, o) in counts.items()} == want
