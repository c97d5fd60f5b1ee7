"""Streaming tests (SURVEY.md §5.5): base64 file-stream ingest parity
with the batch path, watermarked windowed counts, session windows."""

from __future__ import annotations

import base64
import json

import pytest
from pyspark.sql import functions as F

from datapipelinerepo_spark.streaming import (
    read_base64_event_stream,
    running_counts_stateful,
    sessionized_counts_stream,
    stream_to_table,
    windowed_counts_stream,
)


def _payload(ts: str, page: str, session: str = "s1") -> str:
    rec = {
        "time_stamp": ts,
        "id": "v1",
        "session": session,
        "page": page,
        "referrer": "r",
        "device": "mobile",
        "language": "en-US",
    }
    return base64.b64encode(json.dumps(rec).encode()).decode()


@pytest.fixture()
def stream_src(tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    lines = [
        _payload("2026-08-12 14:03:21", "/projects"),
        _payload("2026-08-12 14:59:00", "/projects"),
        _payload("2026-08-12 15:10:00", "/", "s2"),
        "not-base64-json!!",  # malformed → dropped
    ]
    (src / "batch1.txt").write_text("\n".join(lines))
    return str(src)


def test_stream_ingest_append_parity(spark, tmp_path, stream_src):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = read_base64_event_stream(spark, stream_src)
    q = stream_to_table(events, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 3  # malformed line dropped
    assert {r["page"] for r in got.collect()} == {"/projects", "/"}
    # exactly-once on replay: restarting over the same source adds nothing
    q2 = stream_to_table(read_base64_event_stream(spark, stream_src), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 3


def test_windowed_counts_stream(spark, tmp_path, stream_src):
    events = read_base64_event_stream(spark, stream_src)
    counts = windowed_counts_stream(events, window="1 hour", watermark="10 minutes")
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_counts").collect()
    got = {(str(r["window_start"]), r["page"]): r["n_events"] for r in rows}
    # 14:00 window closed by the 15:10 event passing the watermark
    assert got.get(("2026-08-12 14:00:00", "/projects")) == 2


def test_session_windows_stream(spark, tmp_path, stream_src):
    events = read_base64_event_stream(spark, stream_src)
    sess = sessionized_counts_stream(events, gap="30 minutes", watermark="10 minutes")
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sess_counts").collect()
    by_sess = {r["session"]: r["n_events"] for r in rows}
    # s1's two events are >30min apart → the first session closed with 1 event
    assert by_sess.get("s1") == 1


def test_stateful_running_counts_across_restarts(spark, tmp_path, stream_src):
    """applyInPandasWithState: per-key totals accumulate across separate
    availableNow runs sharing a checkpoint (state survives restart)."""
    ckpt = str(tmp_path / "ckpt_state")

    def run_pass(qname):
        events = read_base64_event_stream(spark, stream_src)
        counts = running_counts_stateful(events, key_col="session")
        rows = []

        def sink(batch_df, _batch_id):
            rows.extend(batch_df.collect())

        q = (
            counts.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["key"]: (r["total_events"], r["batch_events"]) for r in rows}

    first = run_pass("state_pass1")
    assert first["s1"] == (2, 2) and first["s2"] == (1, 1)

    # new data lands; a fresh run on the same checkpoint resumes state
    import pathlib

    more = [
        _payload("2026-08-12 16:00:00", "/about"),
        _payload("2026-08-12 16:05:00", "/about", "s3"),
    ]
    (pathlib.Path(stream_src) / "batch2.txt").write_text("\n".join(more))
    second = run_pass("state_pass2")
    assert second["s1"] == (3, 1)  # lifetime 3, this batch 1
    assert second["s3"] == (1, 1)
    assert second["s1"][0] == 3 and second["s1"][1] == 1


def test_stream_static_enrich(spark, tmp_path, stream_src):
    """Stream-static broadcast join: micro-batches enriched against a
    static dimension; unmatched keys survive with NULLs (left join)."""
    from datapipelinerepo_spark.streaming import enrich_stream

    dim = spark.createDataFrame(
        [("mobile", "handheld"), ("desktop", "workstation")],
        "device string, device_class string",
    )
    events = read_base64_event_stream(spark, stream_src)
    q = (
        enrich_stream(events, dim, on="device")
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT device, device_class, page FROM enriched").collect()
    assert len(rows) == 3
    assert all(r["device_class"] == "handheld" for r in rows)  # all fixtures are mobile


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Re-delivered payloads (same session/page/ts) collapse to one row;
    distinct events all survive."""
    from datapipelinerepo_spark.streaming import dedup_stream

    src = tmp_path / "dup_incoming"
    src.mkdir()
    dup = _payload("2026-08-12 14:03:21", "/projects")
    lines = [dup, dup, dup, _payload("2026-08-12 14:10:00", "/about")]
    (src / "b1.txt").write_text("\n".join(lines))

    events = read_base64_event_stream(spark, str(src))
    deduped = dedup_stream(events, keys=["session", "page"], watermark="30 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT session, page FROM dedup_stream_out").collect()
    assert len(rows) == 2
    assert {r["page"] for r in rows} == {"/projects", "/about"}


def test_stream_stream_interval_join(spark, tmp_path):
    """Funnel pairing across two live streams: '/projects' visits joined
    to later '/' visits by the same session within 30 minutes; a visit
    outside the horizon doesn't pair."""
    from datapipelinerepo_spark.streaming import interval_join_streams

    src = tmp_path / "ss_incoming"
    src.mkdir()
    lines = [
        _payload("2026-08-12 14:00:00", "/projects", "s1"),
        _payload("2026-08-12 14:10:00", "/", "s1"),       # pairs (+600s)
        _payload("2026-08-12 15:30:00", "/", "s1"),       # outside horizon
        _payload("2026-08-12 14:05:00", "/", "s2"),       # other session
        _payload("2026-08-12 16:00:00", "/projects", "s9"),  # watermark advance
    ]
    (src / "b1.txt").write_text("\n".join(lines))

    events = read_base64_event_stream(spark, str(src))
    visits = events.filter(F.col("page") == "/projects")
    landings = events.filter(F.col("page") == "/")
    paired = interval_join_streams(
        visits, landings, key="session", horizon="30 minutes", watermark="1 hour"
    )
    q = (
        paired.writeStream.format("memory")
        .queryName("funnel_pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT session, lag_seconds FROM funnel_pairs").collect()
    got = {(r["session"], r["lag_seconds"]) for r in rows}
    assert got == {("s1", 600)}


def test_near_dup_ingest_stream(spark, tmp_path):
    """Streaming corpus growth with a standing LSH index: batch 2's
    planted near-copy of a batch-1 document is flagged against the
    PERSISTED index (the batch-1 text is never re-signed), both tables
    stay in sync with the corpus, and a drained re-run with the same
    checkpoint changes nothing (exactly-once via _batch_id dynamic
    partition overwrite)."""
    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.streaming import near_dup_ingest_stream

    src = tmp_path / "docs_in"
    src.mkdir()
    store = TableStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt_neardup")
    base_text = "the quick brown fox jumps over the lazy dog again and again"
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 1, "text": base_text},
                {"doc_id": 2, "text": "completely different content about spark structured streaming engines"},
            ]
        )
    )

    def run():
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        q = near_dup_ingest_stream(stream, store, ckpt)
        q.awaitTermination()

    run()
    assert store.read("corpus").count() == 2
    assert store.read("lsh_index").count() == 2 * 8  # bands=8 rows/doc
    assert not store.exists("near_dups")  # nothing to collide with yet

    (src / "b2.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 10, "text": base_text + " extra"},  # near-copy of doc 1
                {"doc_id": 11, "text": "unrelated fresh text nothing in common with anything here"},
            ]
        )
    )
    run()
    flags = {
        (r["new_id"], r["corpus_id"]) for r in store.read("near_dups").collect()
    }
    assert flags == {(10, 1)}
    assert store.read("corpus").count() == 4
    assert store.read("lsh_index").count() == 4 * 8
    # drained re-run: no new files -> no new batches -> nothing changes
    run()
    assert store.read("corpus").count() == 4
    assert {
        (r["new_id"], r["corpus_id"]) for r in store.read("near_dups").collect()
    } == {(10, 1)}


def test_curate_ingest_stream(spark, tmp_path):
    """Streaming curation front: batch 1's junk doc is gate-rejected
    with a reason, the PII doc lands redacted, and batch 1's SAME-BATCH
    exact copy is rejected even though no clean table exists yet (the
    in-batch digest dedup); batch 2's exact copy of a batch-1 survivor
    is rejected as exact_dup against the STANDING clean table; a
    drained re-run changes nothing. The two concurrent sink writes get
    the batch's session, so PySpark never warns that tags are lost."""
    import warnings

    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.plans.training_prep import PrepConfig
    from datapipelinerepo_spark.streaming.ingest import curate_ingest_stream

    src = tmp_path / "cur_in"
    src.mkdir()
    store = TableStore(spark, str(tmp_path / "cur_store"))
    ckpt = str(tmp_path / "ckpt_curate")
    cfg = PrepConfig(min_chars=30, min_tokens=5, max_punct_ratio=0.2)
    good = "a perfectly reasonable training document with plenty of words in it"
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 1, "text": good},
                {"doc_id": 2, "text": "too short"},
                {"doc_id": 3, "text": good + " reach me at a@b.com for details"},
                {"doc_id": 4, "text": good},  # same-batch exact copy of 1
            ]
        )
    )

    def run():
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        q = curate_ingest_stream(stream, store, ckpt, cfg=cfg)
        q.awaitTermination()

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        run()
    assert not [
        w for w in caught if "Spark session is not provided" in str(w.message)
    ]
    clean = {r["doc_id"]: r["text"] for r in store.read("clean_corpus").collect()}
    assert set(clean) == {1, 3}
    assert "a@b.com" not in clean[3] and "<EMAIL>" in clean[3]
    rej = {r["doc_id"]: r["reason"] for r in store.read("rejected_docs").collect()}
    assert rej == {2: "quality_gate", 4: "exact_dup"}

    (src / "b2.json").write_text(
        json.dumps({"doc_id": 20, "text": good})  # exact copy of doc 1
        + "\n"
        + json.dumps({"doc_id": 21, "text": "fresh new clean content that is long enough to pass the gate"})
    )
    run()
    clean2 = {r["doc_id"] for r in store.read("clean_corpus").collect()}
    assert clean2 == {1, 3, 21}
    rej2 = {r["doc_id"]: r["reason"] for r in store.read("rejected_docs").collect()}
    assert rej2 == {2: "quality_gate", 4: "exact_dup", 20: "exact_dup"}
    run()  # drained replay: nothing changes
    assert {r["doc_id"] for r in store.read("clean_corpus").collect()} == {1, 3, 21}


def test_cdc_ingest_stream(spark, tmp_path):
    """Streaming CDC merge: batch 1 bootstraps the table (deletes of
    unseen keys are no-ops), batch 2 updates one key, deletes another,
    and inserts a third; a drained re-run leaves the table unchanged
    (merge idempotence is the replay-safety mechanism)."""
    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.streaming.ingest import cdc_ingest_stream

    src = tmp_path / "cdc_in"
    src.mkdir()
    store = TableStore(spark, str(tmp_path / "cdc_store"))
    ckpt = str(tmp_path / "ckpt_cdc")
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"k": 1, "seq": 1, "op": "U", "price": 10.0, "status": "A"},
                {"k": 2, "seq": 1, "op": "U", "price": 20.0, "status": "B"},
                {"k": 99, "seq": 1, "op": "D", "price": 0.0, "status": "X"},
            ]
        )
    )

    def run():
        stream = spark.readStream.schema(
            "k long, seq long, op string, price double, status string"
        ).json(str(src))
        q = cdc_ingest_stream(stream, store, ckpt, key="k", seq_col="seq")
        q.awaitTermination()

    run()
    t1 = {r["k"]: (r["price"], r["status"]) for r in store.read("dim_current").collect()}
    assert t1 == {1: (10.0, "A"), 2: (20.0, "B")}

    (src / "b2.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"k": 1, "seq": 2, "op": "U", "price": 11.0, "status": "A2"},
                {"k": 2, "seq": 2, "op": "D", "price": 0.0, "status": "X"},
                {"k": 3, "seq": 1, "op": "U", "price": 30.0, "status": "C"},
            ]
        )
    )
    run()
    t2 = {r["k"]: (r["price"], r["status"]) for r in store.read("dim_current").collect()}
    assert t2 == {1: (11.0, "A2"), 3: (30.0, "C")}

    run()  # drained replay: nothing changes
    t3 = {r["k"]: (r["price"], r["status"]) for r in store.read("dim_current").collect()}
    assert t3 == t2


def test_cdc_ingest_stream_keyed_table(spark, tmp_path):
    """CDC streaming into a bucket-partitioned table: each batch
    rewrites only the buckets its keys hash to, untouched buckets'
    files stay bit-identical, a bucket fully emptied by deletes
    disappears from disk, and the final table equals the full-rewrite
    path's result."""
    import os

    from pyspark.sql import functions as F

    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.streaming.ingest import cdc_ingest_stream

    store = TableStore(spark, str(tmp_path / "store"))
    n_buckets = 8
    base = spark.createDataFrame(
        [(i, float(i), "S") for i in range(64)], ["k", "price", "status"]
    )
    store.overwrite_keyed(base, "dim_current", "k", n_buckets=n_buckets)

    def bucket_files():
        root = tmp_path / "store" / "dim_current"
        return {
            d: sorted(os.listdir(root / d))
            for d in os.listdir(root)
            if d.startswith("_kb=")
        }

    before = bucket_files()
    src = tmp_path / "in"
    src.mkdir()
    # delete EVERY key in key 7's bucket, update key 3, insert key 900
    bucket_of = {
        r["k"]: r["b"]
        for r in base.select(
            "k", F.pmod(F.xxhash64("k"), F.lit(n_buckets)).alias("b")
        ).collect()
    }
    doomed_bucket = bucket_of[7]
    doomed = [k for k, b in bucket_of.items() if b == doomed_bucket]
    # pick the update key OUTSIDE the doomed bucket so the batch never
    # carries a same-seq delete+update for one key (tie would resolve
    # delete-first and contradict the update assertion)
    upd_key = next(k for k, b in sorted(bucket_of.items()) if b != doomed_bucket)
    changes = [
        {"k": int(k), "seq": 1, "op": "D", "price": 0.0, "status": "X"}
        for k in doomed
    ] + [
        {"k": int(upd_key), "seq": 1, "op": "U", "price": 33.0, "status": "U"},
        {"k": 900, "seq": 1, "op": "U", "price": 900.0, "status": "NEW"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(d) for d in changes))
    stream = spark.readStream.schema(
        "k long, seq long, op string, price double, status string"
    ).json(str(src))
    q = cdc_ingest_stream(
        stream, store, str(tmp_path / "ckpt"), key="k", seq_col="seq"
    )
    q.awaitTermination()

    got = {r["k"]: (r["price"], r["status"]) for r in store.read("dim_current").collect()}
    assert got[upd_key] == (33.0, "U")
    assert got[900] == (900.0, "NEW")
    assert all(k not in got for k in doomed)
    assert len(got) == 64 - len(doomed) + 1

    after = bucket_files()
    assert f"_kb={doomed_bucket}" not in after  # emptied bucket pruned
    touched = {f"_kb={b}" for b in {bucket_of[upd_key], doomed_bucket}} | {
        f"_kb={r[0]}"
        for r in spark.createDataFrame([(900,)], ["k"])
        .select(F.pmod(F.xxhash64("k"), F.lit(n_buckets)))
        .collect()
    }
    for d, files in before.items():
        if d not in touched:
            assert after[d] == files, f"untouched bucket {d} changed"


def test_curate_ingest_replay_same_batch_id(spark, tmp_path):
    """The TRUE at-least-once window: the batch function re-runs with
    the SAME batch id after its writes landed (crash before checkpoint
    commit). Survivors must NOT be flagged duplicates of their own
    previous write, and both tables converge to the first run's state."""
    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.plans.training_prep import PrepConfig
    from datapipelinerepo_spark.streaming import ingest as ing

    store = TableStore(spark, str(tmp_path / "store"))
    cfg = PrepConfig(min_chars=30, min_tokens=5, max_punct_ratio=0.2)
    good = "a perfectly reasonable training document with plenty of words in it"
    batch = spark.createDataFrame(
        [(1, good), (2, "too short"), (3, good + " more words here")],
        ["doc_id", "text"],
    )

    # capture the foreachBatch function without starting a real stream
    captured = {}

    class _FakeWriteStream:
        def __init__(self, fn):
            captured["fn"] = fn
        def option(self, *a, **k):
            return self
        def outputMode(self, *a):
            return self
        def trigger(self, **k):
            return self
        def start(self):
            return None

    class _FakeDocs:
        class writeStream:
            @staticmethod
            def foreachBatch(fn):
                return _FakeWriteStream(fn)

    ing.curate_ingest_stream(_FakeDocs, store, str(tmp_path / "ckpt"), cfg=cfg)
    fn = captured["fn"]
    fn(batch, 7)
    first_clean = sorted(r["doc_id"] for r in store.read("clean_corpus").collect())
    first_rej = {r["doc_id"]: r["reason"] for r in store.read("rejected_docs").collect()}
    assert first_clean == [1, 3] and first_rej == {2: "quality_gate"}
    fn(batch, 7)  # replay: same batch id, writes already landed
    again_clean = sorted(r["doc_id"] for r in store.read("clean_corpus").collect())
    again_rej = {r["doc_id"]: r["reason"] for r in store.read("rejected_docs").collect()}
    assert again_clean == first_clean
    assert again_rej == first_rej  # no self-duplicate corruption


def test_near_dup_ingest_replay_same_batch_id(spark, tmp_path, docs_df=None):
    """near-dup ingest replay with the same batch id: no self-matches
    in the flags table, and the index/corpus converge."""
    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.streaming import ingest as ing

    store = TableStore(spark, str(tmp_path / "store"))
    captured = {}

    class _FakeWriteStream:
        def __init__(self, fn):
            captured["fn"] = fn
        def option(self, *a, **k):
            return self
        def outputMode(self, *a):
            return self
        def trigger(self, **k):
            return self
        def start(self):
            return None

    class _FakeDocs:
        class writeStream:
            @staticmethod
            def foreachBatch(fn):
                return _FakeWriteStream(fn)

    ing.near_dup_ingest_stream(_FakeDocs, store, str(tmp_path / "ckpt"))
    fn = captured["fn"]
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    fn(b1, 0)
    b2 = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta eta theta iota extra")],
        ["doc_id", "text"],
    )
    fn(b2, 1)
    flags1 = {(r["new_id"], r["corpus_id"]) for r in store.read("near_dups").collect()}
    assert flags1 == {(2, 1)}
    fn(b2, 1)  # replay batch 1
    flags2 = {(r["new_id"], r["corpus_id"]) for r in store.read("near_dups").collect()}
    assert flags2 == {(2, 1)}  # no (2, 2) self-match


def test_cdc_ingest_stream_on_a_table_keyed_otherwise(spark, tmp_path):
    """CDC on a key other than the table's own takes the whole-table
    rewrite, which stamps every row back into its bucket: the table
    stays keyed on its own key, a lookup on it finds the batch's rows,
    and a keyed upsert on it still merges."""
    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.streaming.ingest import cdc_ingest_stream

    src = tmp_path / "cdc_in"
    src.mkdir()
    store = TableStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, price double, status string"
    store.overwrite_keyed(
        spark.createDataFrame(
            [(k, float(k), f"s{k}") for k in range(1, 9)], schema
        ),
        "dim_current", "status", n_buckets=4,
    )
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"k": 1, "seq": 1, "op": "U", "price": 11.0, "status": "A"},
                {"k": 2, "seq": 1, "op": "D", "price": 0.0, "status": "X"},
                {"k": 9, "seq": 1, "op": "U", "price": 90.0, "status": "N"},
            ]
        )
    )
    stream = spark.readStream.schema(
        "k long, seq long, op string, price double, status string"
    ).json(str(src))
    cdc_ingest_stream(stream, store, ckpt, key="k", seq_col="seq").awaitTermination()

    def rows():
        return {
            r["k"]: (r["price"], r["status"])
            for r in store.read("dim_current").collect()
        }

    want = {k: (float(k), f"s{k}") for k in range(3, 9)}
    want.update({1: (11.0, "A"), 9: (90.0, "N")})
    assert rows() == want
    assert store.keyed_spec("dim_current")[0] == ["status"]
    assert {
        r["k"] for r in store.lookup("dim_current", ["A", "N", "s3"]).collect()
    } == {1, 9, 3}
    store.upsert(
        spark.createDataFrame([(30, 3.5, "s3")], schema), "dim_current", "status"
    )
    del want[3]
    want[30] = (3.5, "s3")
    assert rows() == want


def test_cdc_ingest_stream_versioned_table_keeps_snapshots(spark, tmp_path):
    """Streaming CDC into a snapshot-versioned keyed dimension: the
    per-bucket maintenance routes through the manifest (logical
    deletes, appended files), each drained batch publishes a version,
    a reader pinned before the stream still sees the bootstrap state,
    and the latest read equals the plain CDC result."""
    from pyspark.sql import functions as F

    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.streaming.ingest import cdc_ingest_stream

    src = tmp_path / "cdc_in"
    src.mkdir()
    store = TableStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(
        [(k, float(k), "S") for k in range(1, 9)], ["k", "price", "status"]
    )
    store.overwrite_keyed(base, "dim_current", "k", n_buckets=4, versioned=True)
    v0 = store.latest_version("dim_current")

    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"k": 1, "seq": 1, "op": "U", "price": 11.0, "status": "A"},
                {"k": 2, "seq": 1, "op": "D", "price": 0.0, "status": "X"},
                {"k": 9, "seq": 1, "op": "U", "price": 90.0, "status": "N"},
            ]
        )
    )
    stream = spark.readStream.schema(
        "k long, seq long, op string, price double, status string"
    ).json(str(src))
    cdc_ingest_stream(stream, store, ckpt, key="k", seq_col="seq").awaitTermination()

    got = {r["k"]: r["price"] for r in store.read("dim_current").collect()}
    assert got[1] == 11.0 and 2 not in got and got[9] == 90.0 and len(got) == 8
    # a pinned pre-stream reader still sees the bootstrap dimension
    pinned = {
        r["k"]: r["price"]
        for r in store.read("dim_current", version=v0).collect()
    }
    assert pinned == {k: float(k) for k in range(1, 9)}
    assert store.latest_version("dim_current") > v0


def test_poison_timestamp_skipped_not_stream_killing(spark, tmp_path):
    """A well-formed base64+JSON payload carrying a garbage time_stamp
    must be SKIPPED like any malformed payload — under ANSI,
    to_timestamp would throw and the query would die replaying the
    same poison offset forever (code-review r6)."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "b.txt").write_text(
        "\n".join(
            [
                _payload("2026-08-12 14:03:21", "/ok"),
                _payload("2026-13-99", "/poison"),  # unparseable ts
                _payload("garbage", "/poison2"),
            ]
        )
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_to_table(
        read_base64_event_stream(spark, str(src)), out, ckpt
    )
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    assert {r["page"] for r in rows} == {"/ok"}


def test_curate_ingest_survives_all_rejected_first_batch(spark, tmp_path):
    """First batch with ZERO survivors must not wedge the stream: the
    empty clean-table write leaves no catalog trace, so the next
    batch bootstraps normally instead of crashing on a fileless table
    every replay (code-review r6)."""
    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.streaming.ingest import curate_ingest_stream

    src = tmp_path / "in"
    src.mkdir()
    store = TableStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, lang string"

    def drain():
        stream = spark.readStream.schema(schema).json(str(src))
        curate_ingest_stream(stream, store, ckpt).awaitTermination()

    # batch 1: every doc fails the min-length gate
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": "x", "lang": "en"})
            for i in range(3)
        )
    )
    drain()
    assert not store.exists("clean_corpus")
    # batch 2: a real document — the pipeline bootstraps cleanly
    good = "this is a perfectly reasonable document " * 5
    (src / "b2.json").write_text(
        json.dumps({"doc_id": 10, "text": good, "lang": "en"})
    )
    drain()
    assert {r["doc_id"] for r in store.read("clean_corpus").collect()} == {10}


def test_cdc_apply_txn_exactly_once(spark, tmp_path):
    """Transactional CDC (cdc_apply_txn): a replayed batch id skips
    before reading anything — even a POISONED replay cannot land —
    while fresh batch ids apply deletes/upserts normally, and the
    watermark rides the same manifest commit as the data."""
    from pyspark.sql import functions as F

    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.streaming.ingest import cdc_apply_txn

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, v double"
    )
    store.overwrite_keyed(base, "dim", "id", n_buckets=4, versioned=True)

    b1 = spark.createDataFrame(
        [(3, 333.0, 1, "U"), (4, 0.0, 1, "D")], "id long, v double, seq long, op string"
    )
    assert cdc_apply_txn(store, b1, 1, key="id", seq_col="seq",
                         base_table="dim", app_id="cdc") is True
    got = {r["id"]: r["v"] for r in store.read("dim").collect()}
    assert got[3] == 333.0 and 4 not in got and len(got) == 19

    poison = spark.createDataFrame(
        [(3, -1.0, 9, "U")], "id long, v double, seq long, op string"
    )
    assert cdc_apply_txn(store, poison, 1, key="id", seq_col="seq",
                         base_table="dim", app_id="cdc") is False
    assert {r["id"]: r["v"] for r in store.read("dim").collect()} == got
    assert store.last_txn("dim", "cdc") == 1

    # without app_id the convergence path still applies (no skip)
    assert cdc_apply_txn(store, b1, 1, key="id", seq_col="seq",
                         base_table="dim", app_id=None) is True
    assert F is not None


def test_cdc_constraints_and_exactly_once_guard(spark, tmp_path):
    """Wave-3 review fixes: CDC batches are constraint-judged on the
    rows they LAND (delete markers exempt), historical violations
    never wedge the stream, and exactly_once on an unversioned table
    refuses loudly instead of silently degrading."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.streaming.ingest import cdc_apply_txn

    store = TableStore(spark, str(tmp_path))
    # legacy-violating row exists BEFORE the constraint
    store.overwrite_keyed(
        spark.createDataFrame([(1, -5.0), (2, 2.0)], "id long, v double"),
        "dim", "id", n_buckets=4, versioned=True,
    )
    store.set_constraints("dim", {"p": "v > 0"})

    # conformant upsert + a delete (payload 0.0 would violate if judged)
    ok_batch = spark.createDataFrame(
        [(3, 3.0, 1, "U"), (2, 0.0, 1, "D")],
        "id long, v double, seq long, op string",
    )
    assert cdc_apply_txn(store, ok_batch, 1, key="id", seq_col="seq",
                         base_table="dim", app_id="cdc")
    got = {r["id"]: r["v"] for r in store.read("dim").collect()}
    assert got == {1: -5.0, 3: 3.0}  # legacy row untouched, delete worked

    # a violating UPSERT row is refused
    with _pytest.raises(ValueError, match="constraint"):
        cdc_apply_txn(
            store,
            spark.createDataFrame(
                [(4, -4.0, 2, "U")], "id long, v double, seq long, op string"
            ),
            2, key="id", seq_col="seq", base_table="dim", app_id="cdc",
        )
    # refused batch did not consume the watermark
    assert store.last_txn("dim", "cdc") == 1

    # exactly-once on an UNVERSIONED table: loud refusal
    store.overwrite_keyed(
        spark.createDataFrame([(1, 1.0)], "id long, v double"),
        "u", "id", n_buckets=4,
    )
    with _pytest.raises(ValueError, match="VERSIONED"):
        cdc_apply_txn(
            store,
            spark.createDataFrame(
                [(1, 2.0, 1, "U")], "id long, v double, seq long, op string"
            ),
            1, key="id", seq_col="seq", base_table="u", app_id="cdc",
        )
    assert F is not None


def test_cdc_constraints_judge_landed_rows_wave4(spark, tmp_path):
    """Wave-4 semantics: the CDC gate judges POST-MERGE landed rows —
    a bad row superseded by an in-batch delete doesn't wedge the
    stream; a partial-payload update whose landed row carries the
    base's valid value passes; and re-publishing a historically
    invalid row without fixing it is refused."""
    import pytest as _pytest

    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.streaming.ingest import cdc_apply_txn

    store = TableStore(spark, str(tmp_path))
    store.overwrite_keyed(
        spark.createDataFrame(
            [(1, 1.0, "x"), (2, -9.0, "y")], "id long, v double, note string"
        ),
        "dim", "id", n_buckets=4, versioned=True,
    )
    store.set_constraints("dim", {"n_set": "note IS NOT NULL"})

    # (a) bad row superseded by a later in-batch delete: nothing bad
    # lands, batch applies
    b = spark.createDataFrame(
        [(5, 5.0, None, 1, "U"), (5, None, None, 2, "D")],
        "id long, v double, note string, seq long, op string",
    )
    assert cdc_apply_txn(store, b, 1, key="id", seq_col="seq",
                         base_table="dim", app_id="cdc")
    assert 5 not in {r["id"] for r in store.read("dim").collect()}

    # (b) partial payload: update v only (no note column in the batch)
    # — the landed row keeps the base's non-NULL note and passes
    b2 = spark.createDataFrame(
        [(1, 11.0, 3, "U")], "id long, v double, seq long, op string"
    )
    assert cdc_apply_txn(store, b2, 2, key="id", seq_col="seq",
                         base_table="dim", app_id="cdc")
    row = {r["id"]: (r["v"], r["note"]) for r in store.read("dim").collect()}
    assert row[1] == (11.0, "x")

    # (c) an explicit NULL note lands NULL -> refused
    b3 = spark.createDataFrame(
        [(1, 12.0, None, 4, "U")], "id long, v double, note string, seq long, op string"
    )
    with _pytest.raises(ValueError, match="n_set"):
        cdc_apply_txn(store, b3, 3, key="id", seq_col="seq",
                      base_table="dim", app_id="cdc")
    assert store.last_txn("dim", "cdc") == 2  # refused batch kept no watermark


def test_cdc_unkeyed_contract_first_creation(spark, tmp_path):
    """Wave-4: a meta-only shell from contract-first set_constraints
    routes the unkeyed CDC fallback to CREATE instead of reading a
    fileless directory."""
    import os

    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.streaming.ingest import cdc_ingest_stream

    store = TableStore(spark, str(tmp_path / "store"))
    store.set_constraints("dim_current", {"p": "v > 0"})
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, 1.0, 1, "U"), (2, 2.0, 1, "U")],
        "id long, v double, seq long, op string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "id long, v double, seq long, op string"
    ).parquet(src)
    q = cdc_ingest_stream(
        stream, store, str(tmp_path / "ckpt"), key="id", seq_col="seq"
    )
    q.awaitTermination()
    assert store.read("dim_current").count() == 2


def test_streaming_funnel_matches_batch(spark, tmp_path, sf_dir):
    """VERDICT r7 item 6: the chained streaming funnel
    (views → funnel_stage_stream(click) → funnel_stage_stream(purchase),
    each stage's parquet sink feeding the next stage's source) drained
    over the real events table yields EXACTLY the batch
    events_funnel_conversion counts on the same events."""
    from datapipelinerepo_spark.io import load_table
    from datapipelinerepo_spark.registry import REGISTRY
    import datapipelinerepo_spark.registry_ext  # noqa: F401
    from datapipelinerepo_spark.streaming import funnel_stage_stream

    from pyspark.sql.types import TimestampType

    # the events table's ts is TIMESTAMP_NTZ; watermarks require the
    # instant-typed TIMESTAMP — the cast is wall-clock-consistent for
    # the interval arithmetic, and the batch twin runs on the original
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast(TimestampType()).alias("ts")
    )
    src = str(tmp_path / "funnel_src")
    ev.write.parquet(src)
    sch = ev.schema

    def stream():
        return spark.readStream.schema(sch).parquet(src)

    qc_dir, qp_dir = str(tmp_path / "qc"), str(tmp_path / "qp")
    q1 = (
        funnel_stage_stream(
            stream().filter(F.col("event_type") == "view"), stream(), "click"
        )
        .writeStream.format("parquet")
        .option("path", qc_dir)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(300)
    stage_sch = "user_id long, ts timestamp"
    qc_stream = spark.readStream.schema(stage_sch).parquet(qc_dir)
    q2 = (
        funnel_stage_stream(qc_stream, stream(), "purchase")
        .writeStream.format("parquet")
        .option("path", qp_dir)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)

    batch = {
        r["stage"]: r["users"]
        for r in REGISTRY["events_funnel_conversion"].fn(spark, sf_dir).collect()
    }
    streamed = {
        "view": ev.filter(F.col("event_type") == "view")
        .select("user_id").distinct().count(),
        "click_within_72h": spark.read.schema(stage_sch).parquet(qc_dir)
        .select("user_id").distinct().count(),
        "purchase_within_72h": spark.read.schema(stage_sch).parquet(qp_dir)
        .select("user_id").distinct().count(),
    }
    assert streamed == batch and batch["view"] > 0


def test_funnel_stage_stream_boundaries_across_drains(spark, tmp_path):
    """The stage join's boundary semantics, pinned with planted events
    arriving across TWO drains (state survives the restart via the
    checkpoint): a click strictly after a view within 72h qualifies —
    including the exact 72h boundary — while a same-instant click and
    a 73h click do not, even when the view arrived in an earlier
    drain."""
    import datetime as dt

    from datapipelinerepo_spark.streaming import funnel_stage_stream

    t0 = dt.datetime(2026, 1, 10, 12, 0, 0)
    h = dt.timedelta(hours=1)
    src = str(tmp_path / "planted_src")
    sch = "user_id long, event_type string, ts timestamp"
    # drain 1: views only
    spark.createDataFrame(
        [(1, "view", t0), (2, "view", t0), (3, "view", t0), (4, "view", t0)],
        sch,
    ).write.mode("append").parquet(src)

    out, ck = str(tmp_path / "stage_out"), str(tmp_path / "stage_ck")

    def drain():
        q = (
            funnel_stage_stream(
                spark.readStream.schema(sch).parquet(src).filter(
                    F.col("event_type") == "view"
                ),
                spark.readStream.schema(sch).parquet(src),
                "click",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()
    # drain 2: the clicks arrive later — pairing needs drain-1 state
    spark.createDataFrame(
        [
            (1, "click", t0 + h),        # qualifies (+1h)
            (2, "click", t0),            # same instant: NOT strictly after
            (3, "click", t0 + 72 * h),   # exact boundary: qualifies (<=)
            (4, "click", t0 + 73 * h),   # expired window
        ],
        sch,
    ).write.mode("append").parquet(src)
    drain()
    got = {
        r["user_id"]
        for r in spark.read.schema("user_id long, ts timestamp")
        .parquet(out).collect()
    }
    assert got == {1, 3}


def test_maintained_rollup_stream_end_to_end(spark, tmp_path):
    """VERDICT r8 item 4: the streaming maintained-view loop. Each
    drained micro-batch upserts the base exactly-once and syncs the
    rollup through the change feed; after every drain the rollup
    (count/sum/min/max/avg) equals a direct recompute of the base.
    External base churn between drains (a delete_where) is picked up
    by the next batch's sync window; a drained replay adds nothing;
    and a POISONED replayed batch (different data, same batch id) is
    refused at the base commit so the rollup never sees it."""
    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.plans.rollup import sync_rollup
    from datapipelinerepo_spark.streaming.ingest import (
        maintained_rollup_stream,
    )

    src = tmp_path / "in"
    src.mkdir()
    store = TableStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, val double, grp string"
    kw = dict(min_col="min_val", max_col="max_val", avg_col="avg_val")

    def drain():
        stream = spark.readStream.schema(schema).json(str(src))
        maintained_rollup_stream(
            stream, store, ckpt, "id", ["grp"], "val",
            base_table="b", rollup_table="r", n_buckets=4,
            rollup_buckets=2, **kw,
        ).awaitTermination()

    def recompute():
        return {
            r["grp"]: (r["n"], r["s"], r["mn"], r["mx"], r["av"])
            for r in store.read("b")
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

    rows = [
        {"id": i, "val": float(i), "grp": "A" if i % 2 else "B"}
        for i in range(10)
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    drain()
    assert rollup() == recompute()
    # batch 2: updates (id 1 moves groups) + inserts incl. a new group
    rows2 = [
        {"id": 1, "val": 100.0, "grp": "B"},
        {"id": 20, "val": -7.0, "grp": "C"},
    ]
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
    # external churn the stream didn't produce: the next sync window
    # must still cover it (the feed is version-driven, not batch-driven)
    store.delete_where("b", "val = 9.0")
    drain()
    assert rollup() == recompute()
    base_now = {r["id"]: r["val"] for r in store.read("b").collect()}
    # drained replay: same checkpoint, no new files — nothing changes
    drain()
    assert rollup() == recompute()
    assert {r["id"]: r["val"] for r in store.read("b").collect()} == base_now
    # poisoned replay: what a zombie foreachBatch retry would run —
    # DIFFERENT data under an already-committed batch id. The base
    # upsert refuses at commit time; the sync no-ops; the rollup is
    # untouched.
    app = "maintained_rollup_stream"
    used = store.last_txn("b", app)
    poison = spark.createDataFrame([(1, -1e9, "A")], schema)
    assert store.upsert_txn(poison, "b", "id", app, used) is False
    sync_rollup(store, "b", "r", ["grp"], "val", **kw)
    assert rollup() == recompute()
    assert {r["id"]: r["val"] for r in store.read("b").collect()} == base_now


def test_cdf_stream_matches_batch_twin_across_drains(spark, tmp_path):
    """Streaming CDF source (sources/cdf_stream.py): offsets are
    manifest versions, partitions are churned buckets, executors diff
    bucket-locally with DuckDB. Drained output must equal the batch
    table_changes over the same window, across multiple drains with
    checkpointed offsets; a no-churn drain adds nothing; a
    metadata-only window (rename) contributes zero rows."""
    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.sources.cdf_stream import (
        read_changes_stream,
    )

    store = TableStore(spark, str(tmp_path / "store"))
    schema = "id long, val double, grp string"
    base = spark.createDataFrame(
        [(i, float(i), f"s{i % 3}") for i in range(20)], schema
    )
    store.overwrite_keyed(base, "t", "id", n_buckets=4, versioned=True)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            read_changes_stream(spark, store, "t", starting_version=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    store.upsert(
        spark.createDataFrame(
            [(3, 333.0, "sX"), (50, 5.0, "sN")], schema
        ),
        "t", "id",
    )
    store.delete_where("t", "val = 7.0")
    v_a = store.latest_version("t")
    drain()
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    twin = sorted(map(tuple, store.table_changes("t", 1, v_a).collect()))
    assert got == twin and len(got) > 0
    # no-churn drain: nothing new
    drain()
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == got
    # METADATA-ONLY window: restore(current) publishes a new version
    # referencing the same files — the drain plans it (offset
    # advances) but the empty-partition path yields zero rows
    store.restore("t", store.latest_version("t"))
    drain()
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == got
    # window 3: real churn again
    store.upsert(
        spark.createDataFrame([(51, 51.0, "sN")], schema), "t", "id"
    )
    drain()
    got3 = sorted(map(tuple, spark.read.parquet(out).collect()))
    twin3 = sorted(map(tuple, store.table_changes("t", 1).collect()))
    assert got3 == twin3


def test_cdf_stream_refuses_reseed_and_mid_stream_rename(spark, tmp_path):
    """Incarnation and schema guards: a reseed (new incarnation)
    invalidates checkpointed offsets — the stream fails loudly instead
    of serving a garbage diff; a rename inside an unconsumed window
    likewise fails (the stream's schema is fixed at start)."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.sources.cdf_stream import (
        read_changes_stream,
    )

    store = TableStore(spark, str(tmp_path / "store"))
    schema = "id long, val double, grp string"
    store.overwrite_keyed(
        spark.createDataFrame([(1, 1.0, "a"), (2, 2.0, "b")], schema),
        "t", "id", n_buckets=2, versioned=True,
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            read_changes_stream(spark, store, "t", starting_version=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    store.upsert(spark.createDataFrame([(3, 3.0, "c")], schema), "t", "id")
    drain()
    assert spark.read.parquet(out).count() == 1  # the insert
    # rename inside the next window: the drain must fail loudly
    store.upsert(spark.createDataFrame([(4, 4.0, "d")], schema), "t", "id")
    store.rename_column("t", "val", "amount")
    with _pytest.raises(
        (StreamingQueryException, Py4JJavaError, Exception),
        match="schema changed|fixed at start",
    ):
        drain()
    # reseed: new incarnation — checkpointed offsets are refused
    store.overwrite_keyed(
        spark.createDataFrame([(9, 9.0, "z")], schema),
        "t", "id", n_buckets=2, versioned=True,
    )
    with _pytest.raises(Exception, match="incarnation|reseed"):
        drain()


def test_cdf_stream_type_coverage(spark, tmp_path):
    """The executor-side DuckDB diff must round-trip every supported
    column type bit-exactly: decimal, date, timestamp, boolean,
    string, int — proven against the batch twin."""
    import datetime as dt
    from decimal import Decimal

    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.sources.cdf_stream import (
        read_changes_stream,
    )

    store = TableStore(spark, str(tmp_path / "store"))
    schema = (
        "id long, d decimal(18,4), dd date, ts timestamp, b boolean, "
        "s string, n int"
    )
    rows = [
        (
            i,
            Decimal(f"{i}.25"),
            dt.date(2026, 1, 1 + i),
            dt.datetime(2026, 1, 1, i, 30, 15, 123456),
            i % 2 == 0,
            None if i == 3 else f"x{i}",
            i * 10,
        )
        for i in range(6)
    ]
    store.overwrite_keyed(
        spark.createDataFrame(rows, schema), "t", "id", n_buckets=2,
        versioned=True,
    )
    store.upsert(
        spark.createDataFrame(
            [(2, Decimal("99.9999"), dt.date(2027, 2, 2),
              dt.datetime(2027, 2, 2, 2, 2, 2, 654321), False, None, -1)],
            schema,
        ),
        "t", "id",
    )
    store.delete_where("t", "id = 5")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        read_changes_stream(spark, store, "t", starting_version=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    twin = sorted(map(tuple, store.table_changes("t", 1).collect()))
    assert got == twin and len(got) == 3  # pre+post for id 2, delete id 5


def test_cdf_stream_duckdb_fence_and_quoted_paths(spark, tmp_path):
    """VERDICT r9 item 6. (a) With duckdb unavailable, the reader
    refuses loudly when it is built — never an ImportError from inside
    a task mid-drain. (b) An ancient wheel trips the version floor the
    same way. (c) ADVICE r9: a store root containing a single quote
    must round-trip through the executor-side SQL (paths are escaped
    into the read_parquet list literal, not repr-injected)."""
    import sys
    import types

    import pytest

    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.sources.cdf_stream import (
        TableChangesStreamReader,
        read_changes_stream,
    )

    # a real table to point the reader at (quote in the ROOT path)
    root = tmp_path / "it's a store"
    store = TableStore(spark, str(root))
    store.overwrite_keyed(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double"),
        "t", "id", n_buckets=2, versioned=True,
    )
    opts = {"path": str(root), "table": "t"}

    real = sys.modules.get("duckdb")
    fake = types.ModuleType("duckdb")
    fake.__version__ = "0.5.1"
    # (a) missing wheel (None forces ImportError); (b) ancient wheel
    for stub, msg in ((None, "every executor"), (fake, "needs duckdb>=")):
        sys.modules["duckdb"] = stub
        try:
            with pytest.raises(RuntimeError, match=msg):
                TableChangesStreamReader(opts)
        finally:
            # re-inserting None on a duckdb-less machine would poison
            # every later `import duckdb` in the session
            if real is not None:
                sys.modules["duckdb"] = real
            else:
                sys.modules.pop("duckdb", None)

    # (c) quoted path round-trips through the executor-side SQL
    store.upsert(
        spark.createDataFrame([(2, 20.0), (3, 3.0)], "id long, v double"),
        "t", "id",
    )
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    (
        read_changes_stream(spark, store, "t", starting_version=1)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        (r["id"], r["v"], r["_change_type"])
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == {
        (2, 2.0, "update_preimage"),
        (2, 20.0, "update_postimage"),
        (3, 3.0, "insert"),
    }


def test_cdf_stream_engine_parity_exotic_types(spark, tmp_path):
    """The DuckDB diff must produce the SAME multiset as the batch
    twin ``table_changes`` (Spark's eqNullSafe — an independent
    implementation) on the exotic-type surface: NULL keys (null-safe
    matching), NULL payload, non-null decimals (changed AND carried),
    NaN doubles (NaN == NaN per the IS-NOT-DISTINCT-FROM contract — an
    unchanged NaN row in a rewritten bucket must emit NOTHING), dates,
    LTZ timestamps, strings, binary, and schema-evolution NULL
    backfill. n_buckets=1 forces every window to rewrite ALL rows, so
    the unchanged-row cancellation path is exercised for every
    type."""
    import datetime as dt
    from collections import Counter
    from decimal import Decimal

    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.sources.cdf_stream import (
        read_changes_stream,
    )

    nan = float("nan")
    store = TableStore(spark, str(tmp_path / "store"))
    schema = (
        "id long, d decimal(12,4), dd date, ts timestamp, s string, "
        "b binary, x double"
    )
    rows = [
        (1, Decimal("1.5"), dt.date(2020, 1, 2),
         dt.datetime(2020, 1, 2, 3, 4, 5), "a", bytearray(b"\x00\x01"),
         nan),
        (None, Decimal("2"), None, None, None, None, nan),  # NULL key
        (3, None, dt.date(2021, 5, 6), None, "it's", bytearray(b"q"),
         0.5),
        (5, Decimal("9.9"), None, None, "same", None, nan),  # untouched
        (6, Decimal("3.3"), None, None, "dec", None, None),
    ]
    store.overwrite_keyed(
        spark.createDataFrame(rows, schema), "t", "id",
        n_buckets=1, versioned=True,
    )
    # window: update the NULL-keyed row (its NaN carries), change row
    # 6's DECIMAL, delete row 1, insert row 4 (NaN payload), and widen
    # the schema (NULL backfill on the old side). Row 5 is untouched —
    # but the single bucket rewrites, so the diff must cancel it.
    up = [
        (None, Decimal("2"), None, None, "CHANGED", None, nan, 9.5),
        (4, None, dt.date(2022, 1, 1),
         dt.datetime(2022, 2, 2, tzinfo=dt.timezone.utc), "new", None,
         nan, 1.5),
        (6, Decimal("4.4"), None, None, "dec", None, None, None),
    ]
    store.upsert(
        spark.createDataFrame(up, schema + ", extra double"), "t", "id"
    )
    store.delete_where("t", "id = 1")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (
        read_changes_stream(spark, store, "t", starting_version=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    def norm(df):
        # repr keeps NaN comparable (NaN != NaN under ==) and decimals
        # exact
        return Counter(
            tuple(repr(v) for v in r) for r in df.collect()
        )

    duck = norm(spark.read.parquet(out))
    twin = norm(store.table_changes("t", 1))
    assert duck == twin, (
        f"diff diverged from table_changes:\n  duck-only={duck - twin}"
        f"\n  twin-only={twin - duck}"
    )
    # sanity: every change class fired, and the untouched NaN row
    # (id=5) emitted NOTHING despite its bucket being rewritten twice
    tags = {eval(r[-1]) for r in duck}
    assert tags == {
        "insert", "delete", "update_preimage", "update_postimage"
    }
    assert not [r for r in duck if r[0] == "5"], (
        "unchanged NaN row surfaced as a phantom change"
    )
    # the decimal change is visible with exact values
    dec_rows = {r for r in duck if r[0] == "6"}
    assert any("4.4" in r[1] for r in dec_rows) and any(
        "3.3" in r[1] for r in dec_rows
    )


def test_maintained_join_view_stream_end_to_end(spark, tmp_path):
    """r10: the streaming maintained JOIN-VIEW loop — the join twin of
    maintained_rollup_stream. Each drained micro-batch upserts the
    FACT exactly-once and syncs the fact⟕dim view through both change
    feeds; after every drain the view equals a direct LEFT-join
    recompute. External DIM churn between drains is picked up by the
    next batch's sync; a drained replay adds nothing; a POISONED
    replayed batch (different data, same batch id) is refused at the
    fact commit so the view never sees it."""
    import json

    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.plans.viewmaint import sync_join_view
    from datapipelinerepo_spark.streaming.ingest import (
        maintained_join_view_stream,
    )

    src = tmp_path / "in"
    src.mkdir()
    store = TableStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")
    schema = "fid long, ck long, amt double"
    # the dim must pre-exist (versioned, keyed on the join column)
    store.overwrite_keyed(
        spark.createDataFrame(
            [(k, f"c{k}", 10.0 * k) for k in (0, 1, 2)],
            "ck long, nm string, bal double",
        ),
        "d", "ck", n_buckets=2, versioned=True,
    )

    def drain():
        stream = spark.readStream.schema(schema).json(str(src))
        maintained_join_view_stream(
            stream, store, ckpt, "fid", "ck", "ck",
            fact_table="f", dim_table="d", view_table="v",
            n_buckets=4, view_buckets=2,
        ).awaitTermination()

    def recompute():
        f, d = store.read("f"), store.read("d")
        j = f.join(d, f["ck"] == d["ck"], "left").select(
            f["fid"], f["ck"], "amt", "nm", "bal"
        )
        return {r["fid"]: tuple(r)[1:] for r in j.collect()}

    def view():
        return {
            r["fid"]: (r["ck"], r["amt"], r["nm"], r["bal"])
            for r in store.read("v").collect()
        }

    rows = [
        {"fid": i, "ck": i % 4, "amt": float(i)} for i in range(10)
    ]  # ck=3 unmatched -> NULL payload
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    drain()
    assert view() == recompute()
    assert view()[3][2:] == (None, None)
    # batch 2: a fact update (fid 1 moves join keys) + an insert,
    # with EXTERNAL dim churn the stream never saw in between
    rows2 = [
        {"fid": 1, "ck": 2, "amt": 100.0},
        {"fid": 20, "ck": 0, "amt": -7.0},
    ]
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
    store.upsert(
        spark.createDataFrame([(2, "c2x", 222.0)], "ck long, nm string, bal double"),
        "d", "ck",
    )
    store.delete_where("d", "ck = 0")
    drain()
    assert view() == recompute()
    assert view()[1][2:] == ("c2x", 222.0)
    assert view()[20][2:] == (None, None)  # deleted dim key
    fact_now = {r["fid"]: r["amt"] for r in store.read("f").collect()}
    # drained replay: same checkpoint, no new files — nothing changes
    drain()
    assert view() == recompute()
    assert {r["fid"]: r["amt"] for r in store.read("f").collect()} == fact_now
    # poisoned replay: DIFFERENT data under an already-committed batch
    # id — the fact upsert refuses at commit; the sync no-ops
    app = "maintained_join_view_stream"
    used = store.last_txn("f", app)
    poison = spark.createDataFrame([(1, 0, -1e9)], schema)
    assert store.upsert_txn(poison, "f", "fid", app, used) is False
    sync_join_view(store, "f", "d", "v", "fid", "ck", "ck")
    assert view() == recompute()
    assert {r["fid"]: r["amt"] for r in store.read("f").collect()} == fact_now


def test_maintained_stack_stream_crash_between_levels(spark, tmp_path, monkeypatch):
    """The streaming stacked DAG's failure taxonomy, proven by crash
    injection: a batch that dies BETWEEN levels (after the fact
    upsert / after the view sync, before the rollup sync) leaves the
    downstream level a window behind; the checkpoint replays the
    batch, the fact upsert skips exactly-once, the completed syncs
    no-op, and the crashed level catches up. Mid-crash, a
    snapshot-consistent group read must rewind the WHOLE DAG to the
    lagging level's cut rather than serve the torn stack."""
    from datapipelinerepo_spark import plans
    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.plans import rollup as rollup_mod
    from datapipelinerepo_spark.plans.consistency import read_group
    from datapipelinerepo_spark.streaming.ingest import (
        maintained_stack_stream,
    )
    from pyspark.sql.streaming import StreamingQueryException

    src = tmp_path / "in"
    src.mkdir()
    store = TableStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")
    schema = "fk long, jk long, amt double"
    store.overwrite_keyed(
        spark.createDataFrame([(10, "x"), (20, "y")], "jk long, label string"),
        "d", "jk", n_buckets=2, versioned=True,
    )

    def drain():
        stream = spark.readStream.schema(schema).json(str(src))
        maintained_stack_stream(
            stream, store, ckpt, "fk", "jk", "jk", ["label"], "amt",
            fact_table="f", dim_table="d", view_table="v",
            rollup_table="r2", n_buckets=4, view_buckets=2,
            rollup_buckets=2,
        ).awaitTermination()

    def stack_ok(frames=None):
        frames = frames or {
            "f": store.read("f"), "d": store.read("d"),
            "v": store.read("v"), "r2": store.read("r2"),
        }
        got = {
            r["label"]: (r["n_rows"], r["sum_val"])
            for r in frames["r2"].collect()
        }
        want = {
            r["label"]: (r["n"], r["s"])
            for r in frames["v"].groupBy("label").agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.col("amt").cast("decimal(18,4)")),
                    F.lit(0).cast("decimal(18,4)"),
                ).cast("decimal(28,4)").alias("s"),
            ).collect()
        }
        assert got == want, (got, want)
        view_rows = {
            (r["fk"], r["label"])
            for r in frames["v"].select("fk", "label").collect()
        }
        direct = {
            (r["fk"], r["label"])
            for r in frames["f"].join(frames["d"], "jk", "left")
            .select("fk", "label").collect()
        }
        assert view_rows == direct, (view_rows, direct)

    rows = [{"fk": 1, "jk": 10, "amt": 100.0}, {"fk": 2, "jk": 20, "amt": 50.0}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    drain()
    stack_ok()

    # batch 2 CRASHES after the view sync, before the rollup sync
    real_sync_rollup = rollup_mod.sync_rollup
    calls = {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        raise RuntimeError("injected crash between levels")

    monkeypatch.setattr(rollup_mod, "sync_rollup", boom)
    rows2 = [{"fk": 3, "jk": 10, "amt": 25.0}]
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
    with pytest.raises(StreamingQueryException, match="injected crash"):
        drain()
    assert calls["n"] == 1
    monkeypatch.setattr(rollup_mod, "sync_rollup", real_sync_rollup)

    # torn mid-stack: fact+view advanced, rollup a window behind —
    # the group read must rewind all four to the rollup's cut
    assert store.read("f").count() == 3
    frames = read_group(store, ["f", "d", "v", "r2"])
    assert frames["f"].count() == 2  # rewound: batch 2 invisible
    stack_ok(frames)

    # checkpoint replay: upsert skips exactly-once, view sync no-ops,
    # the crashed rollup level catches up — fully converged
    fact_v = store.latest_version("f")
    drain()
    assert store.latest_version("f") == fact_v  # no double-apply
    stack_ok()
    frames = read_group(store, ["f", "d", "v", "r2"])
    assert frames["f"].count() == 3
    stack_ok(frames)
