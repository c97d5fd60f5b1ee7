"""Materialized JOIN-view maintenance: a fact ⟕ dim (LEFT join) view
kept current from BOTH base tables' change feeds — the materialized-
view case grouped-rollup IVM (plans/rollup.py) does not cover, and the
reason real engines (Materialize, Delta Live Tables) treat join views
as first-class.

Shape and cost model, designed for the 100 TB posture:

- The view is a versioned keyed table on the FACT key, holding the
  fact's columns plus the dim's payload columns (LEFT-join semantics:
  NULL payload for unmatched fact rows). LEFT — not inner — is what
  makes the view maintainable without re-scanning the fact: an inner
  view drops unmatched fact rows, so a later dim INSERT matching them
  would need a fact scan to find what to add; the LEFT view still
  holds those rows (NULL-extended) and a dim insert is a bucket-pruned
  UPDATE of them.
- FACT churn (upsert/delete windows): removals delete view rows by
  fact key; additions join ONLY the changed fact rows against the
  pinned dim snapshot and upsert — cost tracks fact churn, never the
  fact table.
- DIM churn: the churned dim keys' new values re-derive from the dim
  snapshot (a broadcast-sized semi-join — dim churn is small by
  assumption), and the view rows to update are found by a COLUMN-
  PRUNED scan of the view's (fact_key, join_col) pair — two narrow
  columns, the honest cost of not maintaining a secondary index from
  join key to fact key. The rewrite itself is bucket-pruned on the
  affected fact keys.
- Exactly-once per base: the view's manifests carry one transactional
  watermark per base table (app ids embed each base's INCARNATION, so
  an administrative reseed of either base re-seeds the view instead of
  diffing unrelated histories). Each window's final merge commits with
  ``txn_expect`` CAS on its base's watermark, so concurrent syncers
  cannot land overlapping windows. Unlike rollup deltas (additive —
  replays double-count), join maintenance is STATE REPLACEMENT: every
  merge writes full final values, so a crash between the fact and dim
  phases (or a replayed window) converges on the next sync.

Reference shape: the delta-join rule d(A ⋈ B) = dA ⋈ B ∪ A ⋈ dB from
incremental view maintenance literature, with the A ⋈ dB term answered
from the VIEW itself (it already materializes A's join column) instead
of re-scanning A.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import CrossTxnConflict, TableStore, TxnAlreadyApplied


def _fact_app(store: TableStore, fact_table: str) -> str:
    inc = store.table_incarnation(fact_table) or "0"
    return f"viewsync_fact:{fact_table}:{inc}"


def _dim_app(store: TableStore, dim_table: str) -> str:
    inc = store.table_incarnation(dim_table) or "0"
    return f"viewsync_dim:{dim_table}:{inc}"


def _joined(
    fact: DataFrame,
    dim: DataFrame,
    fact_join_col: str,
    dim_join_col: str,
    payload: list[str],
) -> DataFrame:
    """fact ⟕ dim with plain SQL `=` matching (NULL join keys match
    nothing, like the LEFT JOIN oracle), keeping the fact's columns +
    the dim payload."""
    d = dim.select(dim_join_col, *payload)
    out = fact.join(
        d, fact[fact_join_col] == d[dim_join_col], "left"
    )
    return out.select(*[fact[c] for c in fact.columns], *payload)


def _dim_payload_cols(
    store: TableStore, fact_table: str, dim_table: str,
    fact_join_col: str, dim_join_col: str,
) -> list[str]:
    fact_cols = store.read(fact_table).columns
    dim_cols = store.read(dim_table).columns
    if fact_join_col not in fact_cols:
        raise ValueError(
            f"{fact_table}: join column {fact_join_col!r} not found"
        )
    if dim_join_col not in dim_cols:
        raise ValueError(
            f"{dim_table}: join column {dim_join_col!r} not found"
        )
    payload = [c for c in dim_cols if c != dim_join_col]
    clash = sorted(set(payload) & set(fact_cols))
    if clash:
        raise ValueError(
            f"join view column clash: dim payload {clash} already "
            f"exist on the fact — rename before materializing"
        )
    return payload


def sync_join_view(
    store: TableStore,
    fact_table: str,
    dim_table: str,
    view_table: str,
    fact_key: str | list[str],
    fact_join_col: str,
    dim_join_col: str,
    n_buckets: int = 16,
) -> tuple[int, int]:
    """EXACTLY-ONCE catch-up of the materialized LEFT-join view to both
    base tables' CURRENT versions. First call seeds (serialized behind
    a create-exclusive, heartbeated claim — two concurrent first-time
    seeds would run two static overwrites of one directory); later
    calls apply only the two change-feed windows. The seed claim uses
    the store's claim timing (``io.CLAIM_WAIT_S`` wait,
    ``io.CLAIM_STALE_S`` stale). Returns the
    (fact_version, dim_version) the view now reflects. Both bases must
    be versioned keyed tables.

    READERS: consume the view together with either base through
    ``plans.consistency.read_group`` (README: "read maintained views
    through read_group") — the store commits per table, so plain
    per-table reads between syncs can pair a fresh base with a stale
    view; read_group pins the whole group to one consistent version
    vector resolved from the (fact, dim) watermark pair this sync
    commits.

    Mid-sync visibility: the fact phase and dim phase commit
    separately, so a reader between them can see fact-fresh rows
    joined against dim values one window old — each phase is
    individually atomic and the next sync converges (state-replacement
    merges are idempotent). A deployment needing a single atomic cut
    reads the view AS OF a version, like any lakehouse table.
    """
    fkeys = [fact_key] if isinstance(fact_key, str) else list(fact_key)
    # fail FAST on the documented contract (code-review r10 wave 5:
    # an unversioned base silently seeded, then the first incremental
    # sync errored one call too late with a stray healed manifest)
    for tbl, role in ((fact_table, "fact"), (dim_table, "dim")):
        if not store.is_versioned(tbl) or store.keyed_spec(tbl) is None:
            raise ValueError(
                f"{tbl}: sync_join_view needs a VERSIONED KEYED {role} "
                "table (overwrite_keyed(..., versioned=True)) — the "
                "change feeds it maintains from require manifests"
            )
    # the dim must be keyed ON the join column: the store's key-level
    # dedup on every upsert is what guarantees the 1:N shape — a dim
    # keyed on anything else can fan the join out, and the maintenance
    # merges would then collapse duplicate fact-key rows to ONE
    # arbitrary payload with no error (code-review r10 wave 5)
    if list(store.keyed_spec(dim_table)[0]) != [dim_join_col]:
        raise ValueError(
            f"{dim_table}: must be keyed on the join column "
            f"[{dim_join_col!r}] (found "
            f"{list(store.keyed_spec(dim_table)[0])}) — key-level "
            "dedup is what guarantees one dim row per join value"
        )
    cur_f = store._pin_base(fact_table).version
    cur_d = store._pin_base(dim_table).version
    fact_app = _fact_app(store, fact_table)
    dim_app = _dim_app(store, dim_table)
    view_exists = store.exists(view_table)
    vf = store.last_txn(view_table, fact_app) if view_exists else None
    vd = store.last_txn(view_table, dim_app) if view_exists else None
    if vf is not None and vd is not None and cur_f <= vf and cur_d <= vd:
        # steady-state no-op: manifest reads only — no schema reads,
        # no clash validation (code-review r10 wave 5)
        return int(vf), int(vd)
    payload = _dim_payload_cols(
        store, fact_table, dim_table, fact_join_col, dim_join_col
    )
    if vf is None or vd is None:
        # first sync for THESE base incarnations (or a crash between
        # the seed overwrite and the dim-watermark stamp): (re)seed
        # wholesale, serialized by the claim
        return _seed_join_view(
            store, fact_table, dim_table, view_table, fkeys,
            fact_join_col, dim_join_col, payload, n_buckets,
            cur_f, cur_d, fact_app, dim_app,
        )

    # Cross-phase OCC loop (ADVICE r10 medium): each phase's merge
    # additionally CASes the OTHER base's watermark (txn_assert) at the
    # commit point — the fact phase pins the dim at vd, so a concurrent
    # syncer's dim phase advancing vd→cur_d between this syncer reading
    # vd and its fact merge landing would otherwise freeze vd-era
    # payload under a cur_d watermark (no later window covers vd→cur_d
    # for those rows); symmetrically, the dim phase's narrow view scan
    # misses fact rows a concurrent fact phase lands after it. A failed
    # assert raises CrossTxnConflict (NOT TxnAlreadyApplied — nothing
    # applied, must re-derive), and this loop re-pins both watermarks
    # and redoes only the still-behind windows.
    for _ in range(10):
        if vf is None or vd is None:
            # an administrative reseed of the view mid-flight wiped a
            # watermark: fall back to the serialized seed path
            return _seed_join_view(
                store, fact_table, dim_table, view_table, fkeys,
                fact_join_col, dim_join_col, payload, n_buckets,
                cur_f, cur_d, fact_app, dim_app,
            )
        vf, vd = int(vf), int(vd)
        try:
            if cur_f > vf:
                vf = _fact_phase(
                    store, fact_table, dim_table, view_table, fkeys,
                    fact_join_col, dim_join_col, payload, vf, cur_f, vd,
                    fact_app, dim_app,
                )
            if cur_d > vd:
                vd = _dim_phase(
                    store, dim_table, view_table, fkeys, fact_join_col,
                    dim_join_col, payload, vd, cur_d, dim_app, fact_app,
                )
            return vf, vd
        except CrossTxnConflict:
            vf = store.last_txn(view_table, fact_app)
            vd = store.last_txn(view_table, dim_app)
    raise RuntimeError(
        f"{view_table}: sync_join_view could not land its windows in "
        "10 attempts — a concurrent syncer keeps advancing the other "
        "base's watermark mid-phase"
    )


def _converge(store, view_table, app, fallback, merge):
    """Run one window's CAS-guarded merge; a TxnAlreadyApplied (replay
    of the identical window) or its TxnConflict subclass (a concurrent
    syncer advanced the watermark first — its whole window landed
    atomically, ours was refused in full) both mean: nothing applied
    here, read back the actual progress."""
    try:
        merge()
    except TxnAlreadyApplied:
        pass
    return int(store.last_txn(view_table, app) or fallback)


def _fact_phase(
    store, fact_table, dim_table, view_table, fkeys, fact_join_col,
    dim_join_col, payload, vf, cur_f, vd, fact_app, dim_app,
) -> int:
    feed = store.table_changes(fact_table, vf, cur_f).localCheckpoint(
        eager=True
    )
    if feed.limit(1).count() == 0:
        # metadata-only window (compaction/rename versions — common
        # under write-path auto-compaction): bump the watermark
        # without paying any maintenance jobs (code-review r10 wave 4)
        return _converge(
            store, view_table, fact_app, cur_f,
            lambda: _stamp_watermark(
                store, view_table, fkeys, (fact_app, cur_f),
                txn_expect=vf,
            ),
        )
    rm = F.col("_change_type").isin("delete", "update_preimage")
    added = (
        feed.filter(~rm)
        .drop("_change_type")
        .dropDuplicates(fkeys)
        .localCheckpoint(eager=True)
    )
    # removed-ONLY keys (an update appears on both sides of the feed;
    # its postimage row in `added` is the final state and must win —
    # two source rows per key would make the merge's dedup pick one
    # arbitrarily). NULL-SAFE anti-join (code-review r10 wave 5: the
    # store's keys are null-safe everywhere — a plain `=` anti-join
    # would leave an updated NULL-keyed row on BOTH sides of src and
    # let the dedup nondeterministically delete a live row)
    added_keys = added.select(
        *[F.col(k).alias(f"_ak_{k}") for k in fkeys]
    )
    anti = None
    for k in fkeys:
        e = F.col(k).eqNullSafe(F.col(f"_ak_{k}"))
        anti = e if anti is None else (anti & e)
    removed = (
        feed.filter(rm)
        .select(*fkeys)
        .dropDuplicates(fkeys)
        .join(added_keys, anti, "left_anti")
    )
    # join the window's rows against dim AT THE VERSION THE VIEW'S DIM
    # STATE REFLECTS (vd), not the dim's current version (code-review
    # r10 wave 5): joining at current would leave newer payload on
    # just these rows if this sync crashes before its dim phase — and
    # a dim revert in between would then 'cancel out' of the next
    # window's net feed, leaving the stale payload PERMANENT. Joining
    # at vd keeps the whole view uniformly at vd, so the vd→current
    # dim window corrects every row. (vd's manifest must be retained —
    # the same requirement the dim phase's table_changes(vd, ·) has.)
    adds_joined = _joined(
        added,
        store.read(dim_table, version=vd),
        fact_join_col,
        dim_join_col,
        payload,
    ).withColumn("_vm_op", F.lit("up"))
    # deleted keys as typed NULL rows so the union lines up; the
    # _vm_op directive column never reaches the view's schema
    # (merge_when source_meta_cols)
    del_rows = removed
    for f in adds_joined.schema.fields:
        if f.name not in fkeys and f.name != "_vm_op":
            del_rows = del_rows.withColumn(
                f.name, F.lit(None).cast(f.dataType)
            )
    del_rows = del_rows.withColumn("_vm_op", F.lit("del"))
    src = adds_joined.unionByName(del_rows.select(*adds_joined.columns))

    # ONE publish for the whole window, CAS-guarded — deletes and
    # upserts land atomically, so a concurrent syncer's losing window
    # is refused in full (a separate untracked delete-merge would
    # apply even when its add-merge loses the CAS)
    return _converge(
        store, view_table, fact_app, cur_f,
        lambda: store.merge_when(
            src,
            view_table,
            fkeys,
            when_matched_update="all",
            matched_condition="s._vm_op = 'up'",
            when_matched_delete="s._vm_op = 'del'",
            when_not_matched_insert="s._vm_op = 'up'",
            source_meta_cols=["_vm_op"],
            txn=(fact_app, cur_f),
            check_replay=True,
            txn_expect=vf,  # CAS: refuse overlapping windows
            # cross-phase CAS (ADVICE r10 medium): the adds were joined
            # against dim@vd — if a concurrent syncer's dim phase
            # advanced the view past vd, landing them would freeze
            # vd-era payload under the newer watermark. Refused →
            # sync_join_view re-pins vd and re-derives this window.
            txn_assert={dim_app: vd},
        ),
    )


def _dim_phase(
    store, dim_table, view_table, fkeys, fact_join_col, dim_join_col,
    payload, vd, cur_d, dim_app, fact_app,
) -> int:
    # pin the view's FACT watermark before scanning it: fact rows a
    # concurrent fact phase lands AFTER the narrow scan below carry
    # dim@vd payload this phase would never refresh, yet this phase's
    # commit advances the dim watermark past the window that would
    # have corrected them (the symmetric twin of the ADVICE r10 race).
    # The merge CASes on this pin; a mid-phase fact landing refuses the
    # commit and sync_join_view re-derives with a fresh scan.
    vf_pin = store.last_txn(view_table, fact_app)
    if vf_pin is None:
        raise CrossTxnConflict(
            f"{view_table}: fact watermark vanished mid-sync (view "
            "reseeded?) — re-derive"
        )
    vf_pin = int(vf_pin)
    churned = (
        store.table_changes(dim_table, vd, cur_d)
        .select(dim_join_col)
        .dropDuplicates([dim_join_col])
        .localCheckpoint(eager=True)
    )
    if churned.limit(1).count() == 0:
        return _converge(
            store, view_table, dim_app, cur_d,
            lambda: _stamp_watermark(
                store, view_table, fkeys, (dim_app, cur_d),
                txn_expect=vd,
            ),
        )
    # the view rows to refresh: a COLUMN-PRUNED scan of the view's
    # (fact_key, join_col) — the documented cost of dim churn —
    # semi-joined to the churned keys. dict.fromkeys dedups when the
    # join column IS (part of) the fact key (a natural-key 1:1 join —
    # code-review r10 wave 4: the duplicate select made every
    # reference ambiguous)
    narrow_cols = list(dict.fromkeys([*fkeys, fact_join_col]))
    narrow = store.read(view_table).select(*narrow_cols)
    affected = narrow.join(
        F.broadcast(churned),
        # qualified on both sides: fact_join_col and dim_join_col may
        # share a NAME too
        narrow[fact_join_col] == churned[dim_join_col],
        "left_semi",
    )
    # new payload from the dim snapshot (deleted keys -> NULLs,
    # LEFT-join semantics); keep the join column only when it is part
    # of the merge key
    src = _joined(
        affected,
        store.read(dim_table, version=cur_d),
        fact_join_col,
        dim_join_col,
        payload,
    )
    if fact_join_col not in fkeys:
        src = src.drop(fact_join_col)
    return _converge(
        store, view_table, dim_app, cur_d,
        lambda: store.merge_when(
            src,
            view_table,
            fkeys,
            when_matched_update={c: f"s.`{c}`" for c in payload},
            when_not_matched_insert=False,
            txn=(dim_app, cur_d),
            check_replay=True,
            txn_expect=vd,
            txn_assert={fact_app: vf_pin},
        ),
    )


def _stamp_watermark(store, view_table, fkeys, txn, txn_expect=None):
    """Advance one base's watermark with a METADATA-ONLY publish (an
    empty merge source): the mechanism that records 'this window was
    empty' (compaction-only versions — common under write-path
    auto-compaction) without paying any of the maintenance jobs."""
    store.merge_when(
        store.read(view_table).limit(0),
        view_table,
        fkeys,
        when_matched_update=None,
        when_not_matched_insert=False,
        txn=txn,
        check_replay=txn_expect is not None,
        txn_expect=txn_expect,
    )


def _seed_join_view(
    store, fact_table, dim_table, view_table, fkeys,
    fact_join_col, dim_join_col, payload, n_buckets,
    cur_f, cur_d, fact_app, dim_app,
) -> tuple[int, int]:
    from ..io import run_claim_serialized

    claim = os.path.join(store.root, f".seedclaim_{view_table}")

    def _settled():
        if not store.exists(view_table):
            return None
        wf = store.last_txn(view_table, fact_app)
        wd = store.last_txn(view_table, dim_app)
        if wf is None or wd is None or store.keyed_spec(view_table) is None:
            return None
        return int(wf), int(wd)

    def _seed():
        dim_snap = store.read(dim_table, version=cur_d)
        # the entry check proves the dim is KEYED on the join column
        # (upserts dedup); the seed additionally data-checks the
        # snapshot, because overwrite_keyed/append write rows verbatim
        # — a duplicated join value would fan the join out and later
        # maintenance would silently collapse it (code-review r10
        # wave 5)
        if (
            dim_snap.groupBy(dim_join_col)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
            > 0
        ):
            raise ValueError(
                f"{dim_table}: duplicate {dim_join_col!r} values in "
                "the dim snapshot — a LEFT-join view needs one dim "
                "row per join value (dedup the dim first)"
            )
        seeded = _joined(
            store.read(fact_table, version=cur_f),
            dim_snap,
            fact_join_col,
            dim_join_col,
            payload,
        )
        store.overwrite_keyed(
            seeded, view_table, fkeys, n_buckets=n_buckets,
            versioned=True, txn=(fact_app, cur_f),
        )
        # the dim watermark rides a metadata-only publish: a crash
        # between the two stamps re-enters the seed path, which
        # re-seeds — a full but CONVERGENT redo
        _stamp_watermark(store, view_table, fkeys, (dim_app, cur_d))
        return cur_f, cur_d

    return run_claim_serialized(claim, _settled, _seed, view_table)
