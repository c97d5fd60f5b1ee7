"""Per-file bloom index (io.build_bloom_index / update_bloom_index /
read_point — r12): equality-probe file skipping where min/max stats
are inert (high-cardinality unclustered columns), the Delta bloom
filter index analog. Correctness contract: NO false negatives ever —
pruning is an optimization, the exact filter owns the result; files
the index does not cover always scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipelinerepo_spark.io import TableStore


def _mk(spark, tmp_path, n=400, buckets=8):
    store = TableStore(spark, str(tmp_path))
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("cust"),
        (F.col("id") * 1.5).alias("amt"),
    )
    store.overwrite_keyed(df, "t", "k", n_buckets=buckets, versioned=True)
    return store


def _probe_rows(store, value):
    return sorted(
        r["k"] for r in store.read_point("t", "cust", value).collect()
    )


def _exact_rows(store, value):
    return sorted(
        r["k"]
        for r in store.read("t").filter(F.col("cust") == value).collect()
    )


def test_bloom_probe_matches_exact_filter(spark, tmp_path):
    store = _mk(spark, tmp_path)
    n_idx = store.build_bloom_index("t", "cust", m_bits=1 << 14)
    assert n_idx > 0
    for v in (0, 13, 96):
        assert _probe_rows(store, v) == _exact_rows(store, v)
    # absent value: every covered file prunes, result empty with the
    # full logical schema intact
    kept, total = store.bloom_kept_files("t", "cust", 10**9)
    assert kept == [] and total == n_idx
    empty = store.read_point("t", "cust", 10**9)
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "cust", "amt"}


def test_bloom_actually_prunes(spark, tmp_path):
    """The point of the index: a present value keeps a strict subset
    of files (each bucket holds ~50 of 97 cust values — a specific
    value appears in some buckets, its bitmap rejects the rest)."""
    store = _mk(spark, tmp_path, n=160)  # 20 rows/bucket, 97 values
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    kept, total = store.bloom_kept_files("t", "cust", 96)
    assert 0 < len(kept) < total
    assert _probe_rows(store, 96) == _exact_rows(store, 96)


def test_bloom_uncovered_files_always_scan(spark, tmp_path):
    """Files written AFTER the build are not covered: they must be
    kept unconditionally, so the probe never loses rows to a stale
    index."""
    store = _mk(spark, tmp_path)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    store.upsert(
        spark.createDataFrame([(10_000, 55, 1.0)], "k long, cust long, amt double"),
        "t", "k",
    )
    assert 10_000 in _probe_rows(store, 55)
    assert _probe_rows(store, 55) == _exact_rows(store, 55)


def test_bloom_incremental_update(spark, tmp_path):
    """update_bloom_index scans ONLY uncovered files (returns their
    count; second call is a 0-file no-op) and restores full pruning
    power — including for values that exist only in the new files."""
    store = _mk(spark, tmp_path)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    store.upsert(
        spark.createDataFrame(
            [(10_000, 1234, 1.0), (10_001, 55, 2.0)],
            "k long, cust long, amt double",
        ),
        "t", "k",
    )
    n_new = store.update_bloom_index("t", "cust")
    assert n_new > 0
    assert store.update_bloom_index("t", "cust") == 0
    # fully covered again: the never-seen value prunes everything but
    # the files that really carry it
    kept, total = store.bloom_kept_files("t", "cust", 1234)
    assert 0 < len(kept) < total
    assert _probe_rows(store, 1234) == [10_000]
    kept_absent, _ = store.bloom_kept_files("t", "cust", 10**9)
    assert kept_absent == []


def test_bloom_survives_column_rename(spark, tmp_path):
    """The index is keyed by PHYSICAL column name; probing by the new
    logical name translates through the snapshot colmap."""
    store = _mk(spark, tmp_path)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    want = _exact_rows(store, 13)
    store.rename_column("t", "cust", "customer")
    got = sorted(
        r["k"] for r in store.read_point("t", "customer", 13).collect()
    )
    assert got == want
    kept, total = store.bloom_kept_files("t", "customer", 10**9)
    assert kept == []  # pruning still live through the rename


def test_bloom_errors_and_degradation(spark, tmp_path):
    store = _mk(spark, tmp_path)
    # no index: read_point degrades to an ordinary filtered read
    kept, total = store.bloom_kept_files("t", "cust", 13)
    assert len(kept) == total > 0
    assert _probe_rows(store, 13) == _exact_rows(store, 13)
    # NULL probe: loud
    store.build_bloom_index("t", "cust")
    with pytest.raises(ValueError, match="NULL"):
        store.bloom_kept_files("t", "cust", None)
    # update before build: loud
    with pytest.raises(ValueError, match="build_bloom_index"):
        store.update_bloom_index("t", "amt")
    # indexing a missing column: loud
    with pytest.raises(ValueError, match="no column"):
        store.build_bloom_index("t", "nope")


def test_bloom_index_invisible_to_table_reads(spark, tmp_path):
    """The sidecar lives under the table dir but outside the _kb data
    dirs: plain reads, vacuum, and fsck must not see it."""
    store = _mk(spark, tmp_path)
    store.build_bloom_index("t", "cust")
    assert store.read("t").count() == 400
    store.upsert(
        spark.createDataFrame([(10_000, 1, 1.0)], "k long, cust long, amt double"),
        "t", "k",
    )
    store.vacuum("t", keep_last=1, grace_s=0.0)
    audit = store.fsck("t")
    assert audit["broken_versions"] == {}
    assert audit["orphan_files"] == []
    # index still functional after vacuum
    assert _probe_rows(store, 1) == _exact_rows(store, 1)


def test_bloom_in_list_probe(spark, tmp_path):
    """IN-list probe: one index scan prunes for every value at once; a
    file is kept when ANY value might be in it, and the exact isin
    filter owns the result."""
    store = _mk(spark, tmp_path)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    vals = [0, 13, 96]
    got = sorted(
        r["k"] for r in store.read_point("t", "cust", vals).collect()
    )
    want = sorted(
        r["k"]
        for r in store.read("t").filter(F.col("cust").isin(vals)).collect()
    )
    assert got == want and got
    # the IN-list keeps at least every single-value kept set, and an
    # all-absent list prunes everything
    kept_union = {
        f for v in vals for f in store.bloom_kept_files("t", "cust", v)[0]
    }
    kept_in, _ = store.bloom_kept_files("t", "cust", vals)
    assert kept_union <= set(kept_in)
    assert store.bloom_kept_files("t", "cust", [10**9, 10**9 + 1])[0] == []
    with pytest.raises(ValueError, match="at least one"):
        store.bloom_kept_files("t", "cust", [])
    with pytest.raises(ValueError, match="NULL"):
        store.bloom_kept_files("t", "cust", [1, None])


def test_bloom_auto_maintenance_property(spark, tmp_path):
    """bloom_index_cols table property: every incremental write pays
    its own index debt (update_bloom_index over the new files only),
    so probes keep full pruning power without a nightly job."""
    store = _mk(spark, tmp_path)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    store.set_table_properties("t", bloom_index_cols=["cust"])
    store.upsert(
        spark.createDataFrame([(10_000, 1234, 1.0)], "k long, cust long, amt double"),
        "t", "k",
    )
    # the write already updated the index: a manual update is a no-op
    assert store.update_bloom_index("t", "cust") == 0
    kept, total = store.bloom_kept_files("t", "cust", 1234)
    assert 0 < len(kept) < total
    assert _probe_rows(store, 1234) == [10_000]
    # absent value: full coverage means everything prunes
    assert store.bloom_kept_files("t", "cust", 10**9)[0] == []
    # compaction rewrites files — its output is covered too
    store.compact("t", max_files_per_bucket=1)
    assert store.update_bloom_index("t", "cust") == 0
    assert _probe_rows(store, 1234) == [10_000]
    # property validation is loud
    with pytest.raises(ValueError, match="unknown table properties"):
        store.set_table_properties("t", nope=1)
    with pytest.raises(ValueError, match="list of column"):
        store.set_table_properties("t", bloom_index_cols="cust")
    # clearing the property stops the auto-update
    store.set_table_properties("t", bloom_index_cols=None)
    store.upsert(
        spark.createDataFrame([(10_001, 777, 1.0)], "k long, cust long, amt double"),
        "t", "k",
    )
    assert store.update_bloom_index("t", "cust") > 0


def test_bloom_auto_maintenance_through_streaming(spark, tmp_path):
    """Cross-feature composition: a streaming exactly-once upsert
    (versioned_upsert_stream) into a table with bloom_index_cols set
    pays its index debt per micro-batch through the same publish hook
    — the probe stays fully covered with no external catch-up job."""
    from datapipelinerepo_spark.streaming.ingest import (
        versioned_upsert_stream,
    )

    store = _mk(spark, tmp_path / "store")
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    store.set_table_properties("t", bloom_index_cols=["cust"])

    src = tmp_path / "src"
    spark.createDataFrame(
        [(10_000, 4242, 1.0), (10_001, 55, 2.0)],
        "k long, cust long, amt double",
    ).write.parquet(str(src))
    stream = (
        spark.readStream.schema("k long, cust long, amt double")
        .parquet(str(src))
    )
    versioned_upsert_stream(
        stream, store, str(tmp_path / "ckpt"), key="k", table="t",
        n_buckets=8,
    ).awaitTermination()

    # the stream's publishes already updated the index
    assert store.update_bloom_index("t", "cust") == 0
    kept, total = store.bloom_kept_files("t", "cust", 4242)
    assert 0 < len(kept) < total
    assert _probe_rows(store, 4242) == [10_000]
    assert store.bloom_kept_files("t", "cust", 10**9)[0] == []


def test_bloom_conjunctive_probe(spark, tmp_path):
    """read_point_where intersects per-column prunes: a (cust, parity)
    pair opens only files that might hold BOTH values, and an
    unindexed column degrades to no-pruning for that column while the
    exact conjunction filter still owns the result."""
    store = _mk(spark, tmp_path)
    # second table with two indexed probe columns
    df = store.read("t").withColumn("par", F.col("k") % 7)
    store.overwrite_keyed(df, "t2", "k", n_buckets=8, versioned=True)
    store.build_bloom_index("t2", "cust", m_bits=1 << 14)
    store.build_bloom_index("t2", "par", m_bits=1 << 14)

    got = sorted(
        r["k"]
        for r in store.read_point_where(
            "t2", {"cust": 13, "par": 6}
        ).collect()
    )
    want = sorted(
        r["k"]
        for r in store.read("t2")
        .filter((F.col("cust") == 13) & (F.col("par") == 6))
        .collect()
    )
    assert got == want
    # intersection prunes at least as hard as either column alone
    k_cust, total = store.bloom_kept_files("t2", "cust", 13)
    k_par, _ = store.bloom_kept_files("t2", "par", 6)
    both = set(k_cust) & set(k_par)
    # recompute via the public path: conjunctive read must open <= both
    assert len(both) <= min(len(k_cust), len(k_par)) <= total
    # unindexed column composes (no pruning from it, still correct)
    got2 = sorted(
        r["k"]
        for r in store.read_point_where(
            "t2", {"cust": 13, "amt": 19.5}
        ).collect()
    )
    want2 = sorted(
        r["k"]
        for r in store.read("t2")
        .filter((F.col("cust") == 13) & (F.col("amt") == 19.5))
        .collect()
    )
    assert got2 == want2
    with pytest.raises(ValueError, match="at least one column"):
        store.read_point_where("t2", {})


def test_bloom_index_compaction_reclaims_stale_rows(spark, tmp_path):
    """compact_bloom_index drops bitmaps of files no longer live and
    folds the incremental parts — WITHOUT rescanning data — while
    probes stay exactly as correct and as selective as before."""
    store = _mk(spark, tmp_path)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    # churn: upserts rewrite buckets (old files leave the manifest),
    # incremental updates append parts
    for i, c in ((10_000, 1234), (10_001, 55)):
        store.upsert(
            spark.createDataFrame([(i, c, 1.0)], "k long, cust long, amt double"),
            "t", "k",
        )
        store.update_bloom_index("t", "cust")
    store.vacuum("t", keep_last=1, grace_s=0.0)
    before_kept, before_total = store.bloom_kept_files("t", "cust", 1234)
    n_live, n_stale = store.compact_bloom_index("t", "cust")
    assert n_stale > 0  # the churn left reclaimable rows
    # fully covered, one row per live file
    assert store.update_bloom_index("t", "cust") == 0
    after_kept, after_total = store.bloom_kept_files("t", "cust", 1234)
    assert after_total == before_total
    assert sorted(after_kept) == sorted(before_kept)
    assert _probe_rows(store, 1234) == [10_000]
    assert store.bloom_kept_files("t", "cust", 10**9)[0] == []
    # loud on a column that was never indexed
    with pytest.raises(ValueError, match="build_bloom_index"):
        store.compact_bloom_index("t", "amt")


def test_bloom_dtype_drift_rebuilds_not_false_negatives(spark, tmp_path):
    """ADVICE r12 (medium): an index built when the column was INT
    must not prune with bitmaps that hash differently than the
    now-BIGINT column. Probe-side: degrades to no pruning (correct,
    loud). Maintenance-side: update_bloom_index detects the drift and
    forces a full rebuild at the recorded sizing."""
    store = TableStore(spark, str(tmp_path))
    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 37).cast("int").alias("cust"),
    )
    store.overwrite_keyed(df, "t", "k", n_buckets=8, versioned=True)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    # widen the column via an upsert carrying BIGINT cust
    widened = spark.range(200, 260).select(
        F.col("id").alias("k"), (F.col("id") % 37).alias("cust")
    )
    store.upsert(widened, "t", "k")
    live = store.read("t").schema["cust"].dataType.simpleString()
    if live == "int":
        pytest.skip("mergeSchema did not widen int->bigint here")
    # probe BEFORE maintenance: must not false-negative — the dtype
    # safety net degrades to scanning every file, loudly
    import warnings as _w

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        kept, total = store.bloom_kept_files("t", "cust", 5)
    assert len(kept) == total  # no pruning under dtype drift
    assert any("dtype" in str(r.message) for r in rec)
    assert store.bloom_degrades[("t", "cust")] >= 1
    exact = sorted(
        r["k"] for r in store.read("t").filter(F.col("cust") == 5).collect()
    )
    assert sorted(
        r["k"] for r in store.read_point("t", "cust", 5).collect()
    ) == exact
    # maintenance detects drift and REBUILDS (full coverage, new dtype)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        n = store.update_bloom_index("t", "cust")
    assert any("rebuilt" in str(r.message) for r in rec)
    assert n == len(store._manifest_doc("t", store.latest_version("t"))["files"])
    kept2, total2 = store.bloom_kept_files("t", "cust", 5)
    assert 0 < len(kept2) < total2  # pruning live again
    assert sorted(
        r["k"] for r in store.read_point("t", "cust", 5).collect()
    ) == exact


def test_bloom_sidecar_dies_with_incarnation_reset(spark, tmp_path):
    """ADVICE r12 (medium, second half): an overwrite_keyed reseed
    replaces every data file — a surviving sidecar would index dead
    files under a possibly-dead dtype. The reset must drop it."""
    import os

    store = _mk(spark, tmp_path)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    bdir = os.path.join(str(tmp_path), "t", ".bloomidx")
    assert os.path.isdir(bdir)
    df2 = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("cust"),
        (F.col("id") * 2.0).alias("amt"),
    )
    store.overwrite_keyed(df2, "t", "k", n_buckets=4, versioned=True)
    assert not os.path.isdir(bdir)
    # no index => no pruning, reads stay exact
    kept, total = store.bloom_kept_files("t", "cust", 3)
    assert len(kept) == total
    assert store.read_point("t", "cust", 3).count() == \
        store.read("t").filter(F.col("cust") == 3).count()


def test_bloom_compact_refreshes_meta_n_files(spark, tmp_path):
    """ADVICE r12 (low): compaction must not leave meta.json's n_files
    permanently stale — it now records what the sidecar covers."""
    import json as _json
    import os

    store = _mk(spark, tmp_path)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    inc = spark.range(400, 480).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("cust"),
        (F.col("id") * 1.5).alias("amt"),
    )
    store.upsert(inc, "t", "k")
    store.update_bloom_index("t", "cust")
    store.compact("t")  # rewrites buckets -> old bitmaps go stale
    store.update_bloom_index("t", "cust")
    n_live, n_dropped = store.compact_bloom_index("t", "cust")
    assert n_dropped > 0
    meta_p = os.path.join(str(tmp_path), "t", ".bloomidx", "cust", "meta.json")
    with open(meta_p) as fh:
        meta = _json.load(fh)
    assert meta["n_files"] == n_live


def test_bloom_maintenance_serialized_no_coverage_loss(spark, tmp_path):
    """VERDICT r12 item 5: update_bloom_index and compact_bloom_index
    hold a per-(table, column) claim, so an update racing a compact's
    directory swap can no longer lose its freshly written part. Race
    them on threads repeatedly; afterwards the index must cover every
    live file (update reports 0 remaining) and probes stay exact."""
    import threading

    store = _mk(spark, tmp_path, n=300)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    errs: list = []

    def _upsert_and_update(lo):
        try:
            inc = spark.range(lo, lo + 40).select(
                F.col("id").alias("k"), (F.col("id") % 97).alias("cust"),
                (F.col("id") * 1.5).alias("amt"),
            )
            store.upsert(inc, "t", "k")
            store.update_bloom_index("t", "cust")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def _compact_loop():
        try:
            for _ in range(3):
                store.compact_bloom_index("t", "cust")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [
        threading.Thread(target=_upsert_and_update, args=(400,)),
        threading.Thread(target=_upsert_and_update, args=(500,)),
        threading.Thread(target=_compact_loop),
    ]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs, errs
    # full coverage: nothing left uncovered by the raced maintenance
    assert store.update_bloom_index("t", "cust") == 0
    kept, total = store.bloom_kept_files("t", "cust", 13)
    assert 0 < len(kept) <= total
    assert sorted(
        r["k"] for r in store.read_point("t", "cust", 13).collect()
    ) == sorted(
        r["k"] for r in store.read("t").filter(F.col("cust") == 13).collect()
    )


def test_bloom_maintenance_claim_waits_then_steals_orphans(spark, tmp_path):
    """The maintenance claim beside the index dir: while another holder
    keeps it, update_bloom_index waits, then runs and releases it; an
    orphaned claim (its holder crashed, mtime far past the stale
    horizon) is taken over at once instead of blocking the verb."""
    import os
    import threading
    import time

    from datapipelinerepo_spark.io import CLAIM_STALE_S, _acquire_claim

    store = _mk(spark, tmp_path)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    claim = os.path.join(str(tmp_path), "t", ".bloomidx-claim-cust")

    def _new_rows(k):
        store.upsert(
            spark.createDataFrame(
                [(k, 1234, 1.0)], "k long, cust long, amt double"
            ),
            "t", "k",
        )

    _new_rows(10_000)
    held, released = threading.Event(), []

    def _holder():
        assert _acquire_claim(claim, CLAIM_STALE_S) is not None
        held.set()
        time.sleep(1.0)
        released.append(time.time())
        os.remove(claim)

    th = threading.Thread(target=_holder)
    th.start()
    assert held.wait(30)
    n = store.update_bloom_index("t", "cust")
    done = time.time()
    th.join()
    assert n > 0 and released and done >= released[0]
    assert not os.path.exists(claim)

    # orphan: a live claim would make the verb wait out CLAIM_WAIT_S
    # and raise TxnConflict
    _new_rows(10_001)
    with open(claim, "w") as fh:
        fh.write("999999:dead")
    old = time.time() - 10_000
    os.utime(claim, (old, old))
    assert store.update_bloom_index("t", "cust") > 0
    assert not os.path.exists(claim)
    assert _probe_rows(store, 1234) == [10_000, 10_001]


def test_describe_detail_excludes_bloom_sidecar(spark, tmp_path):
    """ADVICE r12 (low): in the no-manifest heal window the dir walk
    must not count sidecar bitmap parquet as data files."""
    import os
    import shutil

    store = _mk(spark, tmp_path, n=100, buckets=4)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    before = store.describe_detail("t")
    # enter the heal window: manifests gone, meta still versioned
    shutil.rmtree(os.path.join(str(tmp_path), "_manifest_t"),
                  ignore_errors=True)
    d = store.describe_detail("t")
    assert d["version"] is None
    assert d["n_files"] == before["n_files"]  # data only, no bitmaps


def test_bloom_property_auto_builds_first_index(spark, tmp_path):
    """r13: bloom_index_cols is fully declarative — a column listed
    BEFORE any build gets its index built by the next write's
    auto-maintenance hook (default sizing) instead of a warn-skip."""
    import os

    store = _mk(spark, tmp_path)
    store.set_table_properties("t", bloom_index_cols=["cust"])
    assert not os.path.isdir(
        os.path.join(str(tmp_path), "t", ".bloomidx", "cust")
    )
    store.upsert(
        spark.createDataFrame(
            [(20_000, 4321, 1.0)], "k long, cust long, amt double"
        ),
        "t", "k",
    )
    # the write built the index over the whole snapshot
    assert store.update_bloom_index("t", "cust") == 0
    kept, total = store.bloom_kept_files("t", "cust", 4321)
    assert 0 < len(kept) < total
    assert _probe_rows(store, 4321) == [20_000]


def test_bloom_coverage_operability_verb(spark, tmp_path):
    """bloom_coverage reports the maintenance debt the probes pay
    silently: uncovered live files (scan until update), stale sidecar
    rows (until compact_bloom_index), and dtype health."""
    store = _mk(spark, tmp_path)
    cov = store.bloom_coverage("t", "cust")
    assert cov["indexed"] is False and cov["uncovered"] == cov["n_files"]
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    cov = store.bloom_coverage("t", "cust")
    assert cov["indexed"] and cov["uncovered"] == 0
    assert cov["covered"] == cov["n_files"] and cov["dtype_ok"]
    assert cov["m_bits"] == 1 << 14
    # churn: new files uncovered, compaction strands stale rows
    store.upsert(
        spark.createDataFrame(
            [(10_000, 1, 1.0)], "k long, cust long, amt double"
        ),
        "t", "k",
    )
    cov = store.bloom_coverage("t", "cust")
    assert cov["uncovered"] > 0
    store.update_bloom_index("t", "cust")
    store.compact("t", max_files_per_bucket=1)
    store.update_bloom_index("t", "cust")
    cov = store.bloom_coverage("t", "cust")
    assert cov["uncovered"] == 0 and cov["stale_rows"] > 0
    n_live, dropped = store.compact_bloom_index("t", "cust")
    cov = store.bloom_coverage("t", "cust")
    assert cov["stale_rows"] == 0 and cov["covered"] == n_live


# --- r13 continuation: ELEMENT bloom indexes (array membership) -------


def _mk_tokens(spark, tmp_path, n=300, buckets=4, prefix="tok"):
    """A versioned table with an array<string> tokens column whose
    membership is derived from k (token "w<i>" appears in row k iff
    i divides k) — deterministic, and probes have k-computable exact
    answers."""
    store = TableStore(spark, str(tmp_path / prefix))
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.array_compact(
            F.array(
                *[
                    F.when(F.col("id") % d == 0, F.lit(f"w{d}"))
                    for d in (2, 3, 5, 7, 11)
                ]
            )
        ).alias("toks"),
    )
    store.overwrite_keyed(df, "t", "k", n_buckets=buckets, versioned=True)
    return store, df


def test_element_bloom_membership_probe(spark, tmp_path):
    from datapipelinerepo_spark.io import Has

    store, df = _mk_tokens(spark, tmp_path)
    n = store.build_bloom_index("t", "toks", m_bits=1 << 14, elements=True)
    assert n > 0
    # planner: Has routes to the element index ONLY
    keep, rep = store.plan_read("t", {"toks": Has("w11")})
    pr = rep["columns"]["toks"]["pruners"]
    assert pr["stats"] is None and pr["bucket"] is None
    assert pr["bloom"] is not None
    got = sorted(
        r["k"] for r in store.read("t", where={"toks": Has("w11")}).collect()
    )
    assert got == [k for k in range(300) if k % 11 == 0]
    # any-of form: one scan, union semantics
    got = sorted(
        r["k"]
        for r in store.read("t", where={"toks": Has(["w7", "w11"])}).collect()
    )
    assert got == [k for k in range(300) if k % 7 == 0 or k % 11 == 0]
    # a token never present: exact filter returns empty
    assert store.read("t", where={"toks": Has("nope")}).count() == 0


def test_element_bloom_composes_with_other_conjuncts(spark, tmp_path):
    from datapipelinerepo_spark.io import Has

    store, df = _mk_tokens(spark, tmp_path)
    store.build_bloom_index("t", "toks", m_bits=1 << 14, elements=True)
    got = sorted(
        r["k"]
        for r in store.read(
            "t", where={"toks": Has("w7"), "k": slice(0, 150)}
        ).collect()
    )
    assert got == [k for k in range(151) if k % 7 == 0]


def test_element_bloom_incremental_update_covers_new_files(spark, tmp_path):
    from datapipelinerepo_spark.io import Has

    store, _ = _mk_tokens(spark, tmp_path, n=200)
    store.build_bloom_index("t", "toks", m_bits=1 << 14, elements=True)
    extra = spark.range(200, 320).select(
        F.col("id").alias("k"),
        F.when(
            F.col("id") % 13 == 0, F.array(F.lit("w13"))
        ).otherwise(F.array(F.lit("w2"))).alias("toks"),
    )
    store.append(extra, "t")
    n_new = store.update_bloom_index("t", "toks")
    assert n_new > 0
    cov = store.bloom_coverage("t", "toks")
    assert cov["uncovered"] == 0 and cov["elements"] is True
    got = sorted(
        r["k"] for r in store.read("t", where={"toks": Has("w13")}).collect()
    )
    assert got == [k for k in range(320) if k % 13 == 0 and k >= 200]
    # second update: nothing new to scan
    assert store.update_bloom_index("t", "toks") == 0


def test_element_bloom_mode_mismatch_degrades_not_false_negatives(
    spark, tmp_path
):
    """A value-equality probe against an element index (or a Has probe
    against a value index) must NOT prune — the bitmaps hash different
    things. Both directions degrade loudly to full scans."""
    import warnings as _w

    from datapipelinerepo_spark.io import Has

    store, _ = _mk_tokens(spark, tmp_path)
    store.build_bloom_index("t", "toks", m_bits=1 << 14, elements=True)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        kept, total = store.bloom_kept_files(
            "t", "toks", "w2", elements=False
        )
    assert len(kept) == total  # no pruning
    assert any("elements=" in str(w.message) for w in rec)
    # scalar index probed with a Has shape: same degrade
    store2 = TableStore(spark, str(tmp_path / "scalar"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("c")
    )
    store2.overwrite_keyed(df, "t", "k", n_buckets=2, versioned=True)
    store2.build_bloom_index("t", "c", m_bits=1 << 12)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        kept, total = store2.bloom_kept_files(
            "t", "c", 3, elements=True
        )
    assert len(kept) == total
    assert any("elements=" in str(w.message) for w in rec)


def test_element_bloom_build_validation(spark, tmp_path):
    store, _ = _mk_tokens(spark, tmp_path, n=50, buckets=2)
    # array column without elements=True: refused with guidance
    with pytest.raises(ValueError, match="elements=True"):
        store.build_bloom_index("t", "toks")
    # scalar column with elements=True: refused
    with pytest.raises(ValueError, match="needs an array column"):
        store.build_bloom_index("t", "k", elements=True)
    from datapipelinerepo_spark.io import Has

    with pytest.raises(ValueError):
        Has([])
    with pytest.raises(ValueError):
        Has(["a", None])


def test_element_bloom_declarative_property_auto_builds(spark, tmp_path):
    """bloom_index_cols on an array column: the write path infers
    element mode for the first build and keeps paying index debt."""
    from datapipelinerepo_spark.io import Has

    store, _ = _mk_tokens(spark, tmp_path, n=150)
    store.set_table_properties("t", bloom_index_cols=["toks"])
    extra = spark.range(150, 220).select(
        F.col("id").alias("k"),
        F.array(F.lit("w17")).alias("toks"),
    )
    store.append(extra, "t")  # triggers auto build/update
    cov = store.bloom_coverage("t", "toks")
    assert cov["indexed"] and cov["elements"] is True
    assert cov["uncovered"] == 0
    keep, rep = store.plan_read("t", {"toks": Has("w17")})
    pr = rep["columns"]["toks"]["pruners"]["bloom"]
    assert pr is not None and pr["kept"] < pr["total"]
    got = sorted(
        r["k"] for r in store.read("t", where={"toks": Has("w17")}).collect()
    )
    assert got == list(range(150, 220))


def test_bloom_driver_probe_matches_distributed(spark, tmp_path):
    """r15: the size-gated driver fast path of bloom_kept_files must
    produce the EXACT kept set the distributed mapInPandas probe
    produces — for scalar, IN-list, string and element probes — and
    fall back cleanly when the probe value is not a native instance of
    the indexed dtype."""
    from datapipelinerepo_spark.io import Has

    store = _mk(spark, tmp_path)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)

    def both(value):
        driver = store.bloom_kept_files("t", "cust", value)
        old = TableStore._BLOOM_DRIVER_PROBE_BYTES
        TableStore._BLOOM_DRIVER_PROBE_BYTES = 0  # force the Spark job
        try:
            dist = store.bloom_kept_files("t", "cust", value)
        finally:
            TableStore._BLOOM_DRIVER_PROBE_BYTES = old
        assert driver == dist, (value, driver, dist)
        return driver

    for v in (0, 13, 96, 10**9, [7, 13, 10**9]):
        both(v)
    # non-native probe type (float on a bigint column): the driver
    # path declines, the Spark path still answers, results agree with
    # the exact filter (here: no match)
    kept, total = store.bloom_kept_files("t", "cust", 13.5)
    assert total > 0
    # element-mode index: driver path handles Has probes too
    toks = spark.range(200).select(
        F.col("id").alias("k"),
        F.array(F.concat(F.lit("w"), (F.col("id") % 41).cast("string"))).alias(
            "toks"
        ),
    )
    store.overwrite_keyed(toks, "te", "k", n_buckets=8, versioned=True)
    store.build_bloom_index("te", "toks", elements=True)
    d_kept, d_tot = store.bloom_kept_files(
        "te", "toks", "w17", elements=True
    )
    old = TableStore._BLOOM_DRIVER_PROBE_BYTES
    TableStore._BLOOM_DRIVER_PROBE_BYTES = 0
    try:
        s_kept, s_tot = store.bloom_kept_files(
            "te", "toks", "w17", elements=True
        )
    finally:
        TableStore._BLOOM_DRIVER_PROBE_BYTES = old
    assert (d_kept, d_tot) == (s_kept, s_tot)


def test_failed_rebuild_keeps_the_old_index(spark, tmp_path, monkeypatch):
    """A rebuild that fails between moving the live index aside and
    renaming the new one in restores the live index: probes keep
    pruning with it, and no staged or retired directory is left."""
    import os

    store = _mk(spark, tmp_path)
    store.build_bloom_index("t", "cust", m_bits=1 << 14)
    kept, total = store.bloom_kept_files("t", "cust", 5)
    assert len(kept) < total
    final = os.path.join(str(tmp_path), "t", ".bloomidx", "cust")
    real_rename = os.rename

    def failing_rename(src, dst, *a, **kw):
        if os.fspath(dst) == final and ".tmp-" in os.fspath(src):
            raise OSError("injected: second rename of the swap")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        store.build_bloom_index("t", "cust", m_bits=1 << 14)
    monkeypatch.undo()
    assert store.bloom_kept_files("t", "cust", 5) == (kept, total)
    assert store.bloom_coverage("t", "cust")["uncovered"] == 0
    assert sorted(os.listdir(os.path.dirname(final))) == ["cust"]
    assert _probe_rows(store, 5) == _exact_rows(store, 5)
