"""Structured-Streaming event ingest — the Pub/Sub push path (SURVEY.md
§2.8, EP2) re-homed: file-stream of base64 payload lines (the
`event['data']` shape, main.py:41) → unbase64 → from_json with the
*declared* schema (declare, don't infer: streaming determinism) →
append sink; plus the watermarked windowed/sessionized extensions.

Micro-batch boundaries replace per-message Function invocations. At
scale the file source becomes Kafka (swap ``readStream.format``); all
transformations below are source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.reference_shaped import TRAFFIC_SCHEMA


def read_base64_event_stream(
    spark: SparkSession, src_dir: str, schema=TRAFFIC_SCHEMA
) -> DataFrame:
    """EP2 steps 1-2: stream of base64 text lines → typed records.
    Malformed payloads yield NULL structs and are dropped (the
    reference's implicit skip)."""
    raw = spark.readStream.format("text").load(src_dir)
    # try_to_binary: malformed base64 → NULL (skip), not a stream-killing
    # error — unbase64 is strict in ANSI mode
    line = F.try_to_binary(F.col("value"), F.lit("base64")).cast("string")
    return (
        raw.select(F.from_json(line, schema).alias("r"))
        # PERMISSIVE from_json yields an ALL-NULL-FIELDS row for
        # malformed JSON, not a NULL struct, so isNotNull() on the
        # struct passes garbage through (code-review r5) — gate on the
        # required event-time field instead
        .filter(F.col("r").isNotNull() & F.col("r.time_stamp").isNotNull())
        .select("r.*")
        # try_to_timestamp: a well-formed JSON payload carrying garbage
        # in time_stamp ('2026-13-99') must be SKIPPED like any other
        # malformed payload, not kill the stream — ANSI to_timestamp
        # throws, and a streaming query that dies on a poison record
        # replays the same offset and dies again forever (code-review r6)
        .withColumn("ts", F.try_to_timestamp("time_stamp"))
        .filter(F.col("ts").isNotNull())
    )


def stream_to_table(
    df: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool = True
) -> StreamingQuery:
    """EP2 step 3: append-mode load (WRITE_APPEND, datasources.py:801-805).
    availableNow drains what exists then stops — the batch-replay mode
    tests use; continuous mode just drops the trigger."""
    w = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def windowed_counts_stream(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "page",
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Extension (§2.8): watermarked tumbling-window counts — late rows
    beyond the watermark are dropped, state is bounded (the reference
    has no late-data story; this is the Spark-native one)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            F.col("n_events"),
        )
    )


def sessionized_counts_stream(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "session",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Extension: native session windows (inactivity gap) — the
    streaming twin of the batch gaps-and-islands query
    (registry.events_sessionize)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col(key_col),
            F.col("n_events"),
        )
    )


def enrich_stream(
    events: DataFrame, dim: DataFrame, on: str, how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (broadcast) static dimension — no state store involved, the static
    side is re-resolved per batch so a refreshed dim table is picked up.
    This is the streaming twin of J1 (left join USING) and the shape a
    device/geo lookup takes at ingest time; at scale the dim stays
    broadcast-sized by construction (it's a reference table)."""
    return events.join(F.broadcast(dim), on=on, how=how)


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Exact dedup at ingest: drop re-deliveries of the same logical
    event (same ``keys``) arriving within the watermark horizon —
    ``dropDuplicatesWithinWatermark`` keeps the state store bounded
    (plain dropDuplicates on a stream retains ALL keys forever; with an
    at-least-once bus re-deliveries cluster near the original, so the
    horizon is the right state bound at 100 TB/day). The event-time
    column is deliberately NOT part of the dedup key — a re-delivery
    whose producer re-stamped the timestamp is still the same logical
    event (code-review r5); dropDuplicatesWithinWatermark only needs
    the watermark DEFINED on ts, not ts in the subset."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with right
    events for the same key arriving within ``horizon`` AFTER it
    (funnel analysis: view→purchase, request→error). Both sides carry
    watermarks and the join condition bounds the time skew, so the
    state store retains only the horizon+watermark window of each side
    — the unbounded-state stream join Spark would otherwise refuse to
    clean up. Output columns: key, l_ts, r_ts, lag_seconds."""
    l = left.withWatermark(ts_col, watermark).select(
        F.col(key).alias("_k"), F.col(ts_col).alias("l_ts")
    )
    r = right.withWatermark(ts_col, watermark).select(
        F.col(key).alias("_rk"), F.col(ts_col).alias("r_ts")
    )
    joined = l.join(
        r,
        (F.col("_k") == F.col("_rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {horizon}")),
    )
    return joined.select(
        F.col("_k").alias(key),
        "l_ts",
        "r_ts",
        (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts")).alias("lag_seconds"),
    )


def funnel_stage_stream(
    prev: DataFrame,
    events: DataFrame,
    event_type: str,
    key: str = "user_id",
    ts_col: str = "ts",
    window: str = "72 hours",
    watermark: str = "72 hours",
    type_col: str = "event_type",
) -> DataFrame:
    """One stage advance of a TIME-BOUNDED conversion funnel on live
    streams — the streaming twin of the batch query's per-stage
    interval join (registry_ext.events_funnel_conversion, VERDICT r7
    item 6): pair each prior-stage qualifying event with ``event_type``
    events of the same user arriving STRICTLY after it and within
    ``window`` (identical boundary semantics to the batch form's
    ``BETWEEN 1 AND W`` microsecond arithmetic), emitting the
    qualifying next-stage events as (key, ts). Chained per stage:
    views → funnel_stage_stream(clicks) → funnel_stage_stream
    (purchases), each stage's sink feeding the next stage's source.

    Duplicates are possible when several prior-stage events qualify
    the same next event — the batch query's DISTINCT is a downstream
    aggregate here, deliberately: stacking a dedup's second stateful
    operator onto the join would grow the state story for no
    correctness gain (the funnel counts dedup anyway).

    State stays bounded: both sides carry watermarks and the join
    condition bounds the event-time skew to ``window``, so each side
    retains only the window+watermark horizon — the property that
    makes the funnel runnable forever at 100 TB/day of events, and
    exactly the unbounded-state join shape Spark refuses without the
    time bound."""
    l = prev.withWatermark(ts_col, watermark).select(
        F.col(key).alias("_fk"), F.col(ts_col).alias("_l_ts")
    )
    r = (
        events.filter(F.col(type_col) == event_type)
        .withWatermark(ts_col, watermark)
        .select(F.col(key).alias("_rk"), F.col(ts_col).alias("_r_ts"))
    )
    joined = l.join(
        r,
        (F.col("_fk") == F.col("_rk"))
        & (F.col("_r_ts") > F.col("_l_ts"))
        & (F.col("_r_ts") <= F.col("_l_ts") + F.expr(f"INTERVAL {window}")),
    )
    return joined.select(F.col("_fk").alias(key), F.col("_r_ts").alias(ts_col))


def near_dup_ingest_stream(
    docs: DataFrame,
    store,
    checkpoint_dir: str,
    threshold: float = 0.5,
    corpus_table: str = "corpus",
    index_table: str = "lsh_index",
    flags_table: str = "near_dups",
    available_now: bool = True,
    **lsh_kwargs,
) -> StreamingQuery:
    """Streaming corpus growth with standing near-dup detection: each
    micro-batch of documents is (1) probed against the persisted LSH
    band index — near-dups of anything ALREADY ingested land in
    ``flags_table`` as (new_id, corpus_id, jaccard) — then (2) the
    batch is appended to ``corpus_table`` and (3) its banding to
    ``index_table`` (index last: its existence gates the probe, so a
    crash between the writes must never leave an index without its
    corpus). The historical corpus is never re-signed: each
    document pays the shingle/signature cost exactly once, at ingest
    (operators/dedup.minhash_band_index semantics, streamed).

    Exactly-once without a lakehouse: all three writes go through
    ``reload_partitions`` on a ``_batch_id`` partition column, so
    a replayed micro-batch (foreachBatch is at-least-once on retry)
    overwrites its own partition instead of double-appending — the
    same mechanism as S10 idempotent re-loads. Intra-batch duplicates
    are deliberately out of scope here (run minhash_lsh_pairs on the
    batch, or exact dedup_stream upstream); this operator answers
    "is today's document a near-copy of anything we already have".
    """
    from ..operators import dedup as D

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)  # one materialization per use below
        # sign the batch ONCE: the same banding feeds the probe (below)
        # and the index write (bottom) — without this the pandas-UDF
        # signature pass ran twice per batch (code-review r6)
        bands = D.minhash_band_index(batch, **lsh_kwargs).localCheckpoint(
            eager=True
        )
        if store.exists(index_table):
            # exclude this batch's OWN partitions: an at-least-once
            # retry re-runs the batch after its writes landed, and an
            # unfiltered probe would self-match every document at
            # jaccard 1.0 (code-review r5)
            flags = D.incremental_near_dup_lsh(
                batch,
                store.read(index_table).filter(F.col("_batch_id") != batch_id),
                store.read(corpus_table).filter(F.col("_batch_id") != batch_id),
                threshold=threshold,
                new_bands=bands,
                **lsh_kwargs,
            )
            store.reload_partitions(
                flags.withColumn("_batch_id", F.lit(batch_id)), flags_table, "_batch_id"
            )
        # corpus BEFORE index: exists(index_table) is the probe gate, so
        # the index write must be the last to land — a crash between the
        # two otherwise leaves an index without a corpus and every
        # replay dies reading the missing table (code-review r5)
        store.reload_partitions(
            batch.withColumn("_batch_id", F.lit(batch_id)), corpus_table, "_batch_id"
        )
        store.reload_partitions(
            bands.withColumn("_batch_id", F.lit(batch_id)),
            index_table,
            "_batch_id",
        )

    return _start_foreach_batch(
        docs, _ingest, checkpoint_dir, available_now, "append"
    )


def curate_ingest_stream(
    docs: DataFrame,
    store,
    checkpoint_dir: str,
    cfg=None,
    clean_table: str = "clean_corpus",
    rejected_table: str = "rejected_docs",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming training-data curation: each micro-batch runs the
    batch prep gates (plans/training_prep: structural quality gate +
    PII redaction), drops exact duplicates WITHIN the micro-batch
    (keep the lowest-id copy per digest — without this, N copies
    arriving together would all pass the historical check) and of
    anything ALREADY in the clean table (digest anti-join — the
    incremental twin of exact dedup, so each document's text is
    digested once at ingest; the in-batch pass runs even on the very
    first batch, before the clean table exists), and appends survivors
    to ``clean_table``; gate rejects land in ``rejected_table`` with a
    reason column, keeping the drop accounting auditable.

    Exactly-once like near_dup_ingest_stream: both writes go through
    ``reload_partitions`` on a ``_batch_id`` partition, so a
    replayed micro-batch overwrites its own partition. Near-dup
    handling stays with near_dup_ingest_stream (standing LSH index);
    this operator is the gate+redact+exact-dedup front of the same
    ingest pipeline."""
    from ..plans.training_prep import PrepConfig, quality_gate_predicate, redact

    cfg = cfg or PrepConfig()

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        # ONE materialization per batch: the gate is stamped as a flag
        # column on the checkpointed frame and both sides filter from
        # it — the earlier filter + anti-join form materialized the
        # batch twice and paid an id shuffle just to recover rejects.
        # r15: the checkpoint is LAZY — the first sink write (submitted
        # concurrently below) materializes it as its own scan, so the
        # gate pass rides that write instead of running as a separate
        # blocking job before any sink starts; the second writer's
        # tasks read the cache (per-block locks dedupe concurrent
        # computation). Interleaved A/B at sf0.1: 1.49 → 1.44 s per
        # drain, one fewer job per micro-batch at any scale.
        flagged = batch.withColumn(
            "_pass", quality_gate_predicate(cfg)
        ).localCheckpoint(eager=False)
        gated = flagged.filter(F.col("_pass")).drop("_pass")
        # gate rejects are REDACTED too: rejected_docs is a long-lived
        # audit table, and writing raw PII there while redacting the
        # clean side is an unintended retention surface (code-review r5)
        rejects = redact(
            flagged.filter(~F.col("_pass")).drop("_pass"), cfg
        ).withColumn("reason", F.lit("quality_gate"))
        staged = redact(gated, cfg).withColumn(
            "_dg", F.md5(F.col(cfg.text_col))
        )
        # In-batch dedup first (deterministic keep-lowest-id per
        # digest), so same-batch copies are caught even when the clean
        # table does not exist yet (first batch ever).
        wdg = Window.partitionBy("_dg").orderBy(F.col(cfg.id_col).asc())
        ranked = staged.withColumn("_rn", F.row_number().over(wdg))
        batch_dups = ranked.filter(F.col("_rn") > 1).drop("_rn", "_dg")
        rejects = rejects.unionByName(
            batch_dups.withColumn("reason", F.lit("exact_dup")),
            allowMissingColumns=True,
        )
        staged = ranked.filter(F.col("_rn") == 1).drop("_rn")
        if store.exists(clean_table):
            # the clean table PERSISTS each doc's digest (below), so the
            # historical check is a column-pruned scan of 16-byte
            # digests — not an O(corpus) re-hash of all text per batch —
            # and it EXCLUDES this batch's own partition: an
            # at-least-once retry re-runs after the partition landed,
            # and an unfiltered read would mark every survivor of the
            # batch a duplicate of itself (code-review r5)
            hist = (
                store.read(clean_table)
                .filter(F.col("_batch_id") != batch_id)
                .select("_dg")
                .distinct()
            )
            dup = staged.join(hist, on="_dg", how="left_semi").drop("_dg")
            rejects = rejects.unionByName(
                dup.withColumn("reason", F.lit("exact_dup")),
                allowMissingColumns=True,
            )
            staged = staged.join(hist, on="_dg", how="left_anti")
        clean = staged  # keeps _dg: digested once at ingest, reread forever
        # The two sink writes are independent jobs on different tables
        # of the same batch — submit them concurrently so the rejects
        # write back-fills executor slots the clean write's task tail
        # leaves idle (guide-standard overlap; measured ~1.3 s of the
        # ~3 s batch at sf0.1). Same exactly-once posture: each write
        # still lands via reload_partitions on _batch_id, and
        # awaiting both before returning keeps the micro-batch commit
        # AFTER both sinks, exactly as the sequential form did (r14).
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        # the batch's session carries the caller's tags to both jobs
        inherit = inheritable_thread_target(batch.sparkSession)
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [
                pool.submit(
                    inherit(store.reload_partitions),
                    clean.withColumn("_batch_id", F.lit(batch_id)),
                    clean_table,
                    "_batch_id",
                ),
                pool.submit(
                    inherit(store.reload_partitions),
                    rejects.withColumn("_batch_id", F.lit(batch_id)),
                    rejected_table,
                    "_batch_id",
                ),
            ]
            for f in futs:
                f.result()  # propagate either failure to the batch

    return _start_foreach_batch(
        docs, _ingest, checkpoint_dir, available_now, "append"
    )


def cdc_ingest_stream(
    changes: DataFrame,
    store,
    checkpoint_dir: str,
    key: str,
    seq_col: str,
    op_col: str = "op",
    base_table: str = "dim_current",
    available_now: bool = True,
    exactly_once_app: str | None = None,
) -> StreamingQuery:
    """Streaming CDC apply: each micro-batch of change events merges
    into the maintained ``base_table`` via the latest-wins MERGE
    (operators/relational.cdc_apply) — deletes remove, updates upsert,
    unseen keys insert, the change-side window collapses each batch to
    one row per key before the join. The first batch bootstraps the
    table from its own payload schema.

    Exactly-once posture: unlike the append-shaped ingests (which get
    idempotence from _batch_id partition overwrite), a merge REWRITES
    the table, so replay safety comes from the operator's semantics —
    cdc_apply is idempotent on re-application of the same batch to its
    own output (pinned by test_cdc_apply_idempotent_replay), so an
    at-least-once foreachBatch retry converges to the same table. The
    merge rewrites the whole table and commits it with a CAS on the
    snapshot it read, so a writer committing meanwhile makes it re-run
    on the new base instead of losing its rows.

    ``exactly_once_app`` upgrades replay handling from convergence to
    TRANSACTIONAL skip when ``base_table`` is a VERSIONED keyed table:
    the bucket rewrite publishes the (app, batch_id) watermark in the
    same manifest commit (TableStore txn machinery), so a replayed
    batch returns before reading anything — the retry costs one
    manifest read instead of a full re-merge, and the guarantee no
    longer leans on cdc_apply's idempotence at all. Applied per batch
    via cdc_apply_txn (directly testable).

    When ``base_table`` was created with store.overwrite_keyed on the
    same key, maintenance is bucket-partitioned: each batch reads and
    rewrites ONLY the buckets its keys hash to (a bucket emptied by
    deletes is pruned from disk), so per-batch cost tracks the batch,
    not the table — the lakehouse MERGE cost profile for a streaming
    dimension at 100 TB."""
    from ..operators.relational import cdc_apply

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spec = store.keyed_spec(base_table) if store.exists(base_table) else None
        if spec is not None and spec[0] == [key]:
            cdc_apply_txn(
                store,
                batch,
                int(batch_id),
                key=key,
                seq_col=seq_col,
                op_col=op_col,
                base_table=base_table,
                app_id=exactly_once_app,
            )
            return
        if exactly_once_app is not None:
            raise ValueError(
                f"{base_table}: exactly-once CDC needs the table "
                "pre-created with overwrite_keyed(..., versioned=True) "
                f"on key {key!r} — the unkeyed fallback cannot carry "
                "the watermark"
            )
        batch = batch.localCheckpoint(eager=True)

        def _rewrite(snap) -> None:
            # _table_initialized, not exists(): a meta-only shell from
            # contract-first set_constraints must route to CREATE, not
            # a read of a fileless directory (code-review r7 wave 4)
            if store._table_initialized(snap):
                base = store._to_logical(
                    store._read_manifest_df(snap), snap.colmap
                )
            else:
                base = batch.drop(seq_col, op_col).limit(0)
            # pinned once: the constraint check and the write read it
            merged = cdc_apply(
                base, batch, key=key, seq_col=seq_col, op_col=op_col
            ).localCheckpoint(eager=True)
            # judge the POST-MERGE rows the batch lands (see
            # cdc_apply_txn)
            _check_landed_rows(store, base_table, merged, batch, key, snap.meta)
            store._rewrite_table(merged, snap, op="cdc_apply")

        # a whole-table rewrite with a CAS on the snapshot it merged;
        # a commit inside the window re-runs the merge on the new base
        store._retry_base_conflicts(store._pin_base(base_table), _rewrite)

    return _start_foreach_batch(
        changes, _apply, checkpoint_dir, available_now, "update"
    )


def _check_landed_rows(store, base_table, merged, batch, key, meta) -> None:
    """Constraint-gate the rows a CDC batch LANDS: the post-merge rows
    whose key appears in the batch (deleted keys are absent; untouched
    historical rows are excluded — they are not being written), against
    the constraints of ``meta``, the table meta the caller read."""
    store._check_constraints(
        base_table,
        merged.join(batch.select(key).distinct(), key, "left_semi"),
        meta,
    )


def cdc_apply_txn(
    store,
    batch: DataFrame,
    batch_id: int,
    key: str,
    seq_col: str,
    op_col: str = "op",
    base_table: str = "dim_current",
    app_id: str | None = None,
) -> bool:
    """One CDC micro-batch applied to a keyed ``base_table`` with
    optional transactional replay protection — the per-batch unit
    cdc_ingest_stream's foreachBatch runs, factored out so replay
    semantics are directly testable. Returns False iff the batch was
    skipped as an already-applied transaction (``app_id`` set, table
    versioned, watermark >= batch_id); True when applied."""
    from ..io import TxnAlreadyApplied, _Snapshot
    from ..operators.relational import cdc_apply

    snap = store._pin_base(base_table)
    txn = None
    if app_id is not None:
        if not snap.versioned:
            # silent degradation to at-least-once convergence is worse
            # than a loud contract failure (code-review r7 wave 3: the
            # caller believes they bought transactional exactly-once)
            raise ValueError(
                f"{base_table}: exactly-once CDC needs a VERSIONED "
                "keyed table (overwrite_keyed(..., versioned=True)) — "
                "unversioned tables do not carry the (app, batch) "
                "watermark"
            )
        last = (snap.doc or {}).get("txn", {}).get(app_id)
        if last is not None and int(last) >= int(batch_id):
            return False  # replayed batch: skip before reading anything
        txn = (app_id, int(batch_id))
    # pin the batch ONCE: keyed_buckets and cdc_apply both evaluate it,
    # and a non-deterministic lineage evaluated twice could hash rows
    # into buckets outside the pruned set (code-review r7 wave 3).
    # Lazily: the attempt's bucket probe is its first job and
    # materializes the pin
    batch = batch.localCheckpoint(eager=False)

    def _attempt(base: _Snapshot) -> None:
        # base-version OCC (code-review r10 wave 1): the retry loop
        # pins the version BEFORE the buckets are read; the publish
        # CASes on it, so a concurrent writer committing inside the
        # read→publish window re-runs this whole derivation instead of
        # having its rows silently replaced by a merge over the prior
        # snapshot
        # bucket-partitioned maintenance: merge the batch into ONLY
        # the buckets its keys hash to — the per-batch cost is
        # |batch's buckets|, not the table (the keyed-upsert fast path
        # generalized to CDC: deletes prune, and a bucket emptied
        # entirely is removed from disk)
        buckets = store.keyed_buckets(base, batch)
        rows = store.read_buckets(base, buckets)
        merged = cdc_apply(
            rows, batch, key=key, seq_col=seq_col, op_col=op_col
        ).localCheckpoint(eager=True)
        # CHECK constraints judge the POST-MERGE rows the batch
        # actually LANDS — merged rows whose key the batch touched
        # (code-review r7 wave 4: judging the raw batch refused rows
        # superseded by a later in-batch delete, and NULL-widening
        # falsely refused partial-payload updates whose landed row
        # keeps the base's valid values; here a key deleted within the
        # batch is simply absent, and carried-over payload columns are
        # judged at their real values). An update that REWRITES a
        # historically-invalid row without fixing it is refused — the
        # batch is publishing that row anew, which is exactly what the
        # contract gates.
        _check_landed_rows(store, base_table, merged, batch, key, base.meta)
        # check_replay re-verifies the watermark INSIDE the manifest
        # claim loop: the watermark read above is only the cheap fast
        # check, so a zombie driver racing its replacement on the same
        # app_id serializes at the commit and exactly one batch applies
        # (VERDICT r7 item 1; the loser's appended files stay invisible
        # orphans until vacuum)
        store.overwrite_buckets(
            merged, base_table, buckets, op="cdc", txn=txn,
            check_replay=txn is not None, base=base,
        )

    try:
        # BaseVersionConflict deliberately escapes this handler (it is
        # NOT a TxnAlreadyApplied): "not applied — retry" must fail the
        # batch and be replayed, never reported as a skipped replay
        store._retry_base_conflicts(snap, _attempt)
    except TxnAlreadyApplied:
        return False
    return True


def _start_foreach_batch(
    stream: DataFrame,
    apply,
    checkpoint_dir: str,
    available_now: bool,
    output_mode: str,
) -> StreamingQuery:
    """The one foreachBatch starter every ingest and maintained-table
    stream uses (code-review r10 wave 7: copies of the same 8-line
    scaffolding drift apart on the next shape change). ``output_mode``
    is ``"append"`` for the document sinks and ``"update"`` for the
    change streams."""
    w = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def versioned_upsert_stream(
    updates: DataFrame,
    store,
    checkpoint_dir: str,
    key: str,
    table: str = "dim_versioned",
    app_id: str = "versioned_upsert_stream",
    n_buckets: int = 64,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream of row updates → EXACTLY-ONCE upserts into a versioned
    keyed table: each micro-batch applies through
    ``TableStore.upsert_txn`` with the Spark-assigned ``batch_id`` as
    the transaction version, so a foreachBatch retry (at-least-once by
    contract) finds its (app_id, batch_id) watermark already published
    in the latest manifest and SKIPS — the batch applies exactly once
    even though the upsert itself is not idempotent under
    concurrent-key re-merge. This is the streaming face of the
    versioned store: every batch publishes a snapshot (time-travel per
    batch for free), pinned readers are isolated from in-flight
    batches, and per-batch write cost is the batch's buckets, not the
    table. The first batch creates the table.

    Contrast with the other ingest shapes: _batch_id partition
    overwrite gives replay-idempotence to APPEND sinks;
    cdc_ingest_stream relies on cdc_apply's semantic idempotence; this
    one gives the transactional guarantee Delta's txnAppId/txnVersion
    provides, on plain parquet."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)
        store.upsert_txn(
            batch, table, key, app_id, int(batch_id), n_buckets=n_buckets
        )

    return _start_foreach_batch(
        updates, _apply, checkpoint_dir, available_now, "update"
    )


def maintained_rollup_stream(
    updates: DataFrame,
    store,
    checkpoint_dir: str,
    key: str,
    group_cols: list[str],
    value_col: str,
    base_table: str = "facts",
    rollup_table: str = "facts_rollup",
    count_col: str = "n_rows",
    sum_col: str = "sum_val",
    min_col: str | None = None,
    max_col: str | None = None,
    avg_col: str | None = None,
    app_id: str = "maintained_rollup_stream",
    n_buckets: int = 64,
    rollup_buckets: int = 16,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming MAINTAINED VIEW (VERDICT r8 item 4): each micro-batch
    (1) lands in the versioned base table EXACTLY-ONCE via
    ``upsert_txn`` with the Spark-assigned batch_id as the transaction
    version, then (2) catches the materialized rollup up to the base's
    new current version via ``plans.rollup.sync_rollup`` — the
    CDF-driven IVM loop driven from foreachBatch, closing the
    stream → base → change feed → materialized view pipeline
    end-to-end.

    Both halves carry their own exactly-once watermark, so every
    at-least-once failure mode converges:
    - a REPLAYED batch (even a poisoned one — different data, same
      batch_id) skips at the base upsert's commit-time replay check;
      the follow-on sync sees synced >= current and no-ops, so the
      rollup never ingests the poison;
    - a crash BETWEEN upsert and sync leaves the rollup one window
      behind; the next batch's sync window (synced → current) covers
      both batches' churn — the feed-driven delta is cumulative;
    - two concurrent zombie drivers serialize on the manifest claims
      (upsert_txn's check_replay, sync_rollup's txn_expect CAS), and
      the FIRST batch's table/rollup creations serialize on
      create-exclusive claim files (io._create_txn_serialized,
      sync_rollup's seed claim) — first writes are physical static
      overwrites, which must never run concurrently.

    Per-batch cost: the batch's buckets on the base + the churned
    groups on the rollup — never a base-table re-scan."""
    from ..plans.rollup import sync_rollup

    def _apply(batch: DataFrame, batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)
        store.upsert_txn(
            batch, base_table, key, app_id, int(batch_id),
            n_buckets=n_buckets,
        )
        sync_rollup(
            store,
            base_table,
            rollup_table,
            group_cols,
            value_col,
            count_col=count_col,
            sum_col=sum_col,
            min_col=min_col,
            max_col=max_col,
            avg_col=avg_col,
            n_buckets=rollup_buckets,
        )

    return _start_foreach_batch(
        updates, _apply, checkpoint_dir, available_now, "update"
    )


def maintained_join_view_stream(
    updates: DataFrame,
    store,
    checkpoint_dir: str,
    fact_key: str,
    fact_join_col: str,
    dim_join_col: str,
    fact_table: str = "facts",
    dim_table: str = "dim",
    view_table: str = "facts_enriched",
    app_id: str = "maintained_join_view_stream",
    n_buckets: int = 64,
    view_buckets: int = 16,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming MAINTAINED JOIN VIEW (r10): each micro-batch (1) lands
    in the versioned FACT table exactly-once via ``upsert_txn`` with
    the Spark-assigned batch_id as the transaction version, then
    (2) catches the materialized fact⟕dim view up to BOTH bases'
    current versions via ``plans.viewmaint.sync_join_view`` — the
    delta-join loop driven from foreachBatch, the join-view twin of
    ``maintained_rollup_stream``. Dim churn arriving through OTHER
    writers between batches is absorbed by the next batch's sync (the
    feeds are version-driven, not batch-driven).

    The same at-least-once failure taxonomy converges: a replayed
    batch (even poisoned — different data, same batch_id) skips at the
    fact upsert's commit-time replay check and the follow-on sync
    no-ops; a crash between upsert and sync leaves the view one window
    behind, covered by the next batch; concurrent zombie drivers
    serialize on the manifest claims and the per-base watermark CAS.
    The DIM table must already exist (versioned, keyed on
    ``dim_join_col``) — a stream cannot create the dimension it
    enriches from.

    Per-batch cost: the batch's fact buckets + the churned view rows —
    never a fact re-scan (dim churn pays the view's documented
    column-pruned (fact_key, join_col) scan)."""
    from ..plans.viewmaint import sync_join_view

    # fail fast BEFORE start(): a missing/mis-keyed dim would otherwise
    # surface as a StreamingQueryException from inside batch 0's
    # foreachBatch — after the fact upsert landed — and every restart
    # would replay into the same crash (code-review r10 wave 7; the
    # same fail-fast class wave 5 added to sync_join_view itself)
    if not store.is_versioned(dim_table) or (
        store.keyed_spec(dim_table) is None
        or list(store.keyed_spec(dim_table)[0]) != [dim_join_col]
    ):
        raise ValueError(
            f"{dim_table}: maintained_join_view_stream needs a "
            f"pre-existing dim table, versioned and keyed on "
            f"[{dim_join_col!r}] — a stream cannot create the "
            "dimension it enriches from"
        )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)
        store.upsert_txn(
            batch, fact_table, fact_key, app_id, int(batch_id),
            n_buckets=n_buckets,
        )
        sync_join_view(
            store,
            fact_table,
            dim_table,
            view_table,
            fact_key,
            fact_join_col,
            dim_join_col,
            n_buckets=view_buckets,
        )

    return _start_foreach_batch(
        updates, _apply, checkpoint_dir, available_now, "update"
    )


def maintained_stack_stream(
    updates: DataFrame,
    store,
    checkpoint_dir: str,
    fact_key: str,
    fact_join_col: str,
    dim_join_col: str,
    group_cols: list[str],
    value_col: str,
    fact_table: str = "facts",
    dim_table: str = "dim",
    view_table: str = "facts_enriched",
    rollup_table: str = "facts_enriched_rollup",
    app_id: str = "maintained_stack_stream",
    n_buckets: int = 64,
    view_buckets: int = 16,
    rollup_buckets: int = 16,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming MAINTAINED STACKED DAG (r11): each micro-batch
    (1) lands in the versioned FACT table exactly-once, (2) catches
    the fact⟕dim view up via ``sync_join_view``, then (3) catches a
    rollup OVER THE VIEW up via ``sync_rollup`` — two IVM levels
    driven from one foreachBatch, composing with no new machinery
    because the maintained view is itself a versioned keyed table
    with a change feed. ``group_cols``/``value_col`` name columns of
    the VIEW (typically dim attributes the join materialized —
    aggregating the enriched stream by a dimension the raw events
    don't carry).

    The at-least-once failure taxonomy converges level by level, each
    on its own watermark: a replayed batch skips at the fact upsert
    and both syncs no-op; a crash between ANY two steps leaves the
    downstream level one window behind, covered by the next batch's
    sync (version-driven feeds); zombie drivers serialize on the
    manifest claims and per-base CAS at every level. Group-consistent
    readers (plans/consistency.read_group over {fact, dim, view,
    rollup}) see each level at an exactly-matching watermark no
    matter where the stream is.

    Per-batch cost: the batch's fact buckets + the churned view rows
    + the churned rollup groups — no level ever re-scans the one
    below it."""
    from ..plans.rollup import sync_rollup
    from ..plans.viewmaint import sync_join_view

    if not store.is_versioned(dim_table) or (
        store.keyed_spec(dim_table) is None
        or list(store.keyed_spec(dim_table)[0]) != [dim_join_col]
    ):
        raise ValueError(
            f"{dim_table}: maintained_stack_stream needs a "
            f"pre-existing dim table, versioned and keyed on "
            f"[{dim_join_col!r}] — a stream cannot create the "
            "dimension it enriches from"
        )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)
        store.upsert_txn(
            batch, fact_table, fact_key, app_id, int(batch_id),
            n_buckets=n_buckets,
        )
        sync_join_view(
            store,
            fact_table,
            dim_table,
            view_table,
            fact_key,
            fact_join_col,
            dim_join_col,
            n_buckets=view_buckets,
        )
        sync_rollup(
            store,
            view_table,
            rollup_table,
            group_cols,
            value_col,
            n_buckets=rollup_buckets,
        )

    return _start_foreach_batch(
        updates, _apply, checkpoint_dir, available_now, "update"
    )
