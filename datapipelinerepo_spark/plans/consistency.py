"""Snapshot-consistent CROSS-TABLE reads over the versioned store
(VERDICT r10 item 6 — the next lakehouse-parity gap after per-table
snapshots).

The store commits PER TABLE: a reader joining a base ``t`` with its
maintained rollup or join view ``r`` between syncs can observe ``r``
ahead of or behind ``t`` — each read is individually a clean snapshot,
but the PAIR is not a state any sequential execution ever produced
(Delta has the same per-table-log limitation and answers it with
application-level version pinning; Materialize's virtual-timestamp
consistency is the strong form of what ``read_group`` provides here).

``read_group`` resolves ONE consistent version vector and returns
snapshot reads pinned to it:

- Dependencies are DISCOVERED from manifests, not declared by the
  caller: every maintained-view sync commits its base watermark
  atomically with the merge, as a transactional app id the maintenance
  layer formats as ``rollup_sync:{base}:{incarnation}`` /
  ``viewsync_fact:{fact}:{inc}`` / ``viewsync_dim:{dim}:{inc}`` with
  the BASE VERSION the view now reflects as its value — and manifests
  carry the txn dict forward across every publish, so each view
  VERSION pins an exact (base → base-version) vector.
- For each base, the candidate cut points are the watermark values
  every dependent view in the group has actually synced at (∩ the
  base's still-readable versions); the resolver picks the NEWEST
  vector for which every view has a version whose watermark vector
  matches EXACTLY — view == f(base @ pinned version), bit-for-bit, by
  the maintenance layer's own incremental-equals-recompute contract.
  Equality (not ≤) is the consistency guarantee: a view merely "not
  ahead" of the base can still be arbitrarily stale relative to it.
- The cut can therefore sit BEHIND the bases' latest versions — that
  is correct, not a bug: the newest mutually-synced state IS the
  freshest consistent cut. Callers wanting freshness run their syncs
  first, then ``read_group`` (the common steady-state: everything
  synced → every table pins its latest version).
- Watermarks from a PRIOR base incarnation are ignored (an
  administrative reseed restarts version numbering, so cross-
  incarnation version equality would be meaningless — the same rule
  sync_rollup itself applies).

At 100 TB the resolver's cost is manifest-metadata only: version
listings + kilobyte manifest reads, no data I/O; the returned frames
are ordinary pinned snapshot scans (bucket-pruned, stats-skipped like
any ``read(version=)``). Vacuum keeps ``keep_last`` versions; a group
whose only common cut was vacuumed raises loudly rather than serving
an inconsistent pair.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..io import TableStore

# app ids minted by plans/rollup.sync_rollup and
# plans/viewmaint.sync_join_view — the single source of the
# view → base dependency edge
_APP_RE = re.compile(
    r"^(?:rollup_sync|viewsync_fact|viewsync_dim):(?P<base>[^:]+):(?P<inc>.+)$"
)

# app ids minted by write_group: co-written tables carry the same
# group sequence, and the resolver refuses to serve a torn group
_GROUP_RE = re.compile(r"^group_txn:(?P<group>.+)$")

# bound on the write-group sequence-combination search (newest-first);
# a truncated search says so in its error (ADVICE r11)
_SEQ_ENUM_CAP = 64


class GroupConsistencyError(RuntimeError):
    """No mutually-consistent version vector exists for the requested
    group — typically a view that has never synced (or only synced
    under a prior base incarnation, i.e. needs a reseed), or the only
    common cut was vacuumed. The fix is to run the view's sync and
    retry; read_group never silently serves an inconsistent pair."""


def _view_deps(
    store: TableStore, name: str, version: int, txn: dict,
    inc_of,
) -> tuple[dict[str, int], bool]:
    """The maintenance watermark vector of ``name@version``: (base
    table → base version reflected, had_maintenance_apps). Watermark
    app ids are matched against each base's CURRENT incarnation
    (``inc_of``) — stale-incarnation watermarks are not valid cut
    points. PER-TABLE completeness is required: if ANY referenced
    base at this version carries only stale-incarnation apps (the
    version predates that base's reseed+resync), the WHOLE vector is
    invalid (deps = {}) — dropping just that edge would let a
    multi-input view (a join view whose fact was reseeded) resolve as
    if it never depended on the reseeded base, silently serving a
    torn pair (code-review r11 finding 1). Post-resync versions are
    fine: txn maps carry old apps forward, but the CURRENT-incarnation
    app is present alongside them. The flag distinguishes a plain
    base table (no maintenance apps at all) from a view whose
    watermarks are stale (apps present, vector invalid)."""
    deps: dict[str, int] = {}
    had = False
    stale_only: set[str] = set()
    current: set[str] = set()
    for app, w in txn.items():
        m = _APP_RE.match(app)
        if not m:
            continue
        had = True
        base = m.group("base")
        if inc_of(base) != m.group("inc"):
            stale_only.add(base)
            continue
        current.add(base)
        # two current-incarnation apps for the SAME base (e.g.
        # rollup_sync and viewsync_fact after a maintenance-mechanism
        # change: the old app id carries forward in the txn map
        # forever, the new mechanism stamps its own) — take the MAX,
        # deterministically: within one base incarnation watermarks
        # are monotone (base versions only grow), so the freshest
        # maintenance run — the one the view's content actually
        # reflects — always carries the highest value. Dict-iteration-
        # last was a latent nondeterminism (ADVICE r11).
        w = int(w)
        deps[base] = max(deps[base], w) if base in deps else w
    if stale_only - current:
        return {}, had  # incomplete vector: not a valid cut candidate
    return deps, had


def _group_seqs(txn: dict) -> dict[str, int]:
    """The write-group stamps in a manifest txn dict: group name →
    group sequence (from write_group's ``group_txn:{group}`` app ids,
    carried forward across every publish like all txn watermarks)."""
    out: dict[str, int] = {}
    for app, v in txn.items():
        m = _GROUP_RE.match(app)
        if m:
            out[m.group("group")] = int(v)
    return out


def resolve_group_versions(
    store: TableStore, tables: list[str], as_of_ts=None
) -> dict[str, int]:
    """Resolve the newest consistent version vector for ``tables``:
    {table → version to read}. Tables referenced by a view's
    watermarks are resolved even if not listed — transitively, so a
    STACKED view DAG (e.g. a rollup maintained over a join view over
    two bases — sync_rollup works on any versioned keyed table,
    including maintained views) resolves end to end: every edge of
    the DAG must watermark-match exactly at the chosen cut. Raises
    GroupConsistencyError when no consistent cut exists.

    ``as_of_ts`` (epoch ms or datetime; naive = UTC) is GROUP TIME
    TRAVEL: every table's history is truncated to the versions
    published at or before the timestamp (per-table TIMESTAMP AS OF
    semantics, see io.version_as_of), and resolution then finds the
    newest consistent cut WITHIN that horizon — the cut a group
    reader would have been served at that instant. Vacuumed history
    raises, as in the per-table form."""
    if not tables:
        raise ValueError("read_group needs at least one table")

    # transitively load version histories: requested tables plus
    # every table a loaded view's watermarks reference. Manifest txn
    # dicts are read ONCE per (table, version) and shared between the
    # watermark and group-stamp passes, and base incarnations are
    # cached per table (code-review r11 finding 7 — the resolver's
    # 'metadata only' promise shouldn't hide a 2-3× manifest re-read).
    hist: dict[str, list[tuple[int, dict[str, int]]]] = {}
    txns: dict[str, dict[int, dict]] = {}
    stranded: set[str] = set()
    loading: list[str] = []
    inc_cache: dict[str, str] = {}

    def _inc_of(base: str) -> str:
        if base not in inc_cache:
            inc_cache[base] = store.table_incarnation(base) or "0"
        return inc_cache[base]

    def _load(name: str) -> None:
        if name in hist:
            return
        if name in loading:
            raise GroupConsistencyError(
                f"maintenance watermark cycle: {' -> '.join(loading)} "
                f"-> {name}"
            )
        if not store.is_versioned(name):
            raise ValueError(
                f"read_group: {name} is not a versioned table "
                "(overwrite_keyed(..., versioned=True))"
            )
        loading.append(name)
        try:
            h: list[tuple[int, dict[str, int]]] = []
            vers = sorted(store.versions(name), reverse=True)
            if as_of_ts is not None:
                horizon = store.version_as_of(name, as_of_ts)
                vers = [v for v in vers if v <= horizon]
            txns[name] = {}
            for v in vers:
                txn = store._manifest_doc(name, v).get("txn", {}) or {}
                txns[name][v] = txn
                deps, had = _view_deps(store, name, v, txn, _inc_of)
                h.append((v, deps))
                if v == vers[0] and had and not deps:
                    stranded.add(name)
            hist[name] = h
            if h and h[0][1]:
                for b in h[0][1]:
                    _load(b)
        finally:
            loading.pop()

    for name in tables:
        _load(name)
    if stranded:
        # ANY loaded table counts — a transitively loaded mid-DAG view
        # whose watermarks are stale must not be silently reclassified
        # as a base, severing the DAG (code-review r11 finding 2);
        # every loaded table is either requested or depended upon, so
        # a stranded one always poisons the requested group.
        raise GroupConsistencyError(
            f"{sorted(stranded)} are maintained views whose newest "
            "watermarks reference a PRIOR incarnation of a base (the "
            "base was reseeded) — re-sync/reseed them, then retry"
        )

    views = {n: h for n, h in hist.items() if h and h[0][1]}
    bases = set(hist) - set(views)

    # topological order by dependency depth, so within one resolution
    # pass a view's pin is computed before any view stacked on it
    # reads it (the _load cycle guard makes the recursion finite)
    depth: dict[str, int] = {}

    def _depth(n: str) -> int:
        if n not in depth:
            depth[n] = (
                0 if n not in views
                else 1 + max(_depth(b) for b in views[n][0][1])
            )
        return depth[n]

    vorder = sorted(views, key=_depth)

    # write_group constraint: requested tables co-written under a
    # shared group_txn stamp must pin versions carrying the SAME group
    # sequence — a reader holding two members of a torn group (one
    # committed, one not) would otherwise observe a transaction half
    # applied. Constraints bind only among members actually co-read
    # here; a single member read alone is an ordinary snapshot.
    ghist: dict[str, list[tuple[int, dict[str, int]]]] = {}
    gmembers: dict[str, list[str]] = {}
    for name in tables:
        gh = [
            # reuse the loaded (as-of-truncated, once-read) txn dicts
            (v, _group_seqs(txns[name][v]))
            for v, _ in hist[name]
        ]
        ghist[name] = gh
        for g in (gh[0][1] if gh else {}):
            gmembers.setdefault(g, []).append(name)
    seq_lists: dict[str, list[int]] = {}
    for g, members in gmembers.items():
        if len(members) < 2:
            continue
        bad = [m for m in members if m in views]
        if bad:
            raise NotImplementedError(
                f"read_group: {bad} are maintained views carrying a "
                f"group_txn stamp ({g}) — group-stamped views are not "
                "supported"
            )
        common_seq = set.intersection(
            *[{d[g] for _, d in ghist[m] if g in d} for m in members]
        )
        if not common_seq:
            raise GroupConsistencyError(
                f"write group {g}: members {sorted(members)} share no "
                "common committed sequence — a torn or freshly-seeded "
                "group; retry write_group to complete it"
            )
        seq_lists[g] = sorted(common_seq, reverse=True)

    def _allowed_for(chosen: dict[str, int]) -> dict[str, set[int]]:
        allowed: dict[str, set[int]] = {}
        for g, s in chosen.items():
            for m in gmembers[g]:
                ok = {v for v, d in ghist[m] if d.get(g) == s}
                allowed[m] = (allowed[m] & ok) if m in allowed else ok
                if not allowed[m]:
                    raise GroupConsistencyError(
                        f"{m}: no single version satisfies all of its "
                        f"write-group constraints at sequences {chosen}"
                    )
        return allowed

    # marks_on(x): the cut points each dependent view has actually
    # synced at — a table's chosen version must sit in every
    # dependent's mark set, or that dependent can never pin
    def _marks_on(x: str) -> list[set[int]]:
        out = []
        for _, h in views.items():
            ms = {d[x] for _, d in h if x in d}
            if ms:
                out.append(ms)
        return out

    def _attempt(allowed: dict[str, set[int]]) -> dict[str, int]:
        # newest candidate cut per base: still readable AND a version
        # every dependent view has actually synced at (∩ write-group
        # constraint for co-read group members)
        w: dict[str, int] = {}
        for b in bases:
            avail = (
                allowed[b] if b in allowed else {v for v, _ in hist[b]}
            )
            if not avail:
                raise GroupConsistencyError(f"{b}: no published versions")
            common = set.intersection(
                avail, *_marks_on(b)
            ) if _marks_on(b) else avail
            if not common:
                raise GroupConsistencyError(
                    f"no common readable cut point on base {b} for the "
                    f"group {sorted(tables)} — run the views' syncs (or "
                    "reseed a view stranded on a prior base "
                    "incarnation) and retry"
                )
            w[b] = max(common)

        # per-view candidate pool: versions carrying watermarks,
        # within every dependent's mark set (a stacked view can only
        # pin on a version of its input that the downstream view has
        # synced at)
        pools: dict[str, list[tuple[int, dict[str, int]]]] = {}
        for name in vorder:
            # full edge set = union of dep keys across the history: a
            # version whose vector is missing an edge is a MID-SYNC
            # phase commit (e.g. a join view's fact phase landed, dim
            # watermark not yet) — its content reflects a base the
            # manifest doesn't constrain, so pinning it would pair it
            # with an arbitrary version of that base (code-review r11
            # follow-up: the vacuumed-fallback probe exposed a
            # half-seeded view@v1 being served with dim unpinned)
            full: set = set()
            for _, d2 in views[name]:
                full |= set(d2)
            ms = _marks_on(name)
            ok = set.intersection(*ms) if ms else None
            pool = [
                (v, d) for v, d in views[name]
                if d and set(d) >= full and (ok is None or v in ok)
            ]
            if not pool:
                raise GroupConsistencyError(
                    f"{name}: no version carries a complete, "
                    "dependent-compatible watermark vector — sync the "
                    "stacked views bottom-up (a view mid-first-seed "
                    "is not yet consistently readable) and retry"
                )
            pools[name] = pool

        # lower the cut until every view has a version whose watermark
        # vector matches w EXACTLY on all its inputs (bases or
        # upstream views — vorder guarantees an upstream view's pin
        # lands in w before anything stacked on it reads it). Each
        # pass either pins everything or strictly lowers some
        # w[x]/cap[x] to a smaller synced value, so this terminates
        # (finite histories); equality-on-all-inputs is what makes a
        # multi-input view (fact, dim) land on a co-occurring pair
        # rather than two watermarks no single version ever held
        # together.
        cap: dict[str, int] = {}
        pinned: dict[str, int] = {}
        for _ in range(2 * sum(len(h) for h in views.values()) + 2):
            pinned.clear()
            lowered = False
            for name in vorder:
                cands = [
                    (v, d) for v, d in pools[name]
                    if v <= cap.get(name, v)
                ]
                exact = [
                    v for v, d in cands
                    if all(x in w and d[x] == w[x] for x in d)
                ]
                if exact:
                    pv = max(exact)  # newest (compaction carries txn)
                    pinned[name] = pv
                    w[name] = pv  # visible to views stacked on this
                    continue
                if any(
                    x in views and x not in w
                    for _, d in cands for x in d
                ):
                    # an upstream view failed to pin THIS pass (it
                    # just lowered the cut instead) — defer; it pins
                    # next pass and the loop's iteration bound still
                    # backstops a genuinely unsatisfiable chain
                    continue
                fallback = None
                for _, d in cands:  # newest first
                    if all(x in w and d[x] <= w[x] for x in d):
                        fallback = d
                        break
                if fallback is None:
                    raise GroupConsistencyError(
                        f"{name}: no version consistent with cut {w} "
                        "— run its sync and retry"
                    )
                for x, val in fallback.items():
                    if val < w[x]:
                        if x in allowed and val not in allowed[x]:
                            raise GroupConsistencyError(
                                f"{name} needs {x}@{val}, but {x}'s "
                                "write-group constraint only allows "
                                f"versions {sorted(allowed[x])} at "
                                "this sequence choice"
                            )
                        if x in views:
                            cap[x] = val  # re-pinned ≤ val next pass
                        elif not any(v == val for v, _ in hist[x]):
                            # the needed base version is no longer
                            # published (vacuumed): refuse loudly
                            # instead of returning an unreadable
                            # vector (code-review r11 finding 4)
                            raise GroupConsistencyError(
                                f"{name} needs {x}@{val}, which is no "
                                "longer retained (vacuumed) — sync "
                                "the view forward and retry"
                            )
                        else:
                            w[x] = val
                        lowered = True
            if not lowered and len(pinned) == len(views):
                break
        else:
            raise GroupConsistencyError(
                "could not converge on a consistent cut for "
                f"{sorted(tables)}"
            )

        out = {b: w[b] for b in bases if b in set(tables)}
        out.update(
            {n: pv for n, pv in pinned.items() if n in set(tables)}
        )
        return out

    # enumerate write-group sequence choices NEWEST-FIRST and return
    # the first fully consistent cut: a view lagging behind the
    # newest group sequence must not error when an older sequence
    # still gives a consistent read (e.g. a summary rollup synced at
    # seq N while the group has committed N+1 — the seq-N cut is the
    # freshest consistent state). Bounded enumeration; one group is
    # the overwhelmingly common case.
    import itertools

    last_err: GroupConsistencyError | None = None
    names = list(seq_lists)
    truncated = False
    for i, combo in enumerate(
        itertools.product(*seq_lists.values()) if names else [()]
    ):
        if i >= _SEQ_ENUM_CAP:
            truncated = True
            break
        try:
            return _attempt(_allowed_for(dict(zip(names, combo))))
        except GroupConsistencyError as e:
            last_err = e
    assert last_err is not None
    if truncated:
        # ADVICE r11: a caller hitting the bound must be able to
        # distinguish 'no cut exists' from 'search truncated'
        raise GroupConsistencyError(
            f"no consistent cut found within the first {_SEQ_ENUM_CAP} "
            f"write-group sequence combinations (groups: {names}; the "
            "search was TRUNCATED — an older combination may still be "
            f"consistent). Last failure: {last_err}"
        ) from last_err
    raise last_err


def read_group(
    store: TableStore,
    tables: list[str],
    as_of_ts=None,
    where: dict | None = None,
) -> dict[str, DataFrame]:
    """Snapshot-consistent multi-table read: resolve one consistent
    version vector (see resolve_group_versions; ``as_of_ts`` = group
    time travel) and return {table → DataFrame pinned at its cut
    version}. Every returned frame keeps reading its exact manifest
    files even if writes publish newer versions mid-query (per-table
    snapshot isolation, now group-wide).

    ``where={table: {col: spec, ...}}`` (VERDICT r12 item 4) plans the
    listed members' scans through the unified file-skipping planner AT
    THEIR PINNED CUT VERSIONS — the common serving shape "entity X
    from a maintained view at a consistent cut" bloom/stats-prunes
    instead of full-snapshot-scanning, because TableStore.read's
    where= composes with version=. Members not listed read whole, as
    before. Spec forms are plan_read's: scalar equality, list IN,
    slice(lo, hi) range."""
    vec = resolve_group_versions(store, tables, as_of_ts=as_of_ts)
    where = where or {}
    return {
        name: store.read(name, version=vec[name], where=where.get(name))
        for name in tables
    }


def write_group(
    store: TableStore,
    group: str,
    writes: dict,
) -> int:
    """MULTI-TABLE TRANSACTIONAL WRITE — the dual of read_group: apply
    one write per table as a single logical transaction that
    group-consistent readers observe all-or-nothing.

    ``writes`` maps table name → ``fn(app_id, seq)``; each callable
    must perform its table's write through an exactly-once verb
    carrying that stamp (``upsert_txn(df, t, key, app_id, seq)`` or
    ``merge_when(..., txn=(app_id, seq), check_replay=True)``) — the
    stamp publishes atomically with the table's manifest commit, which
    is what makes the protocol crash-safe without a second log.

    Protocol (under a per-group, heartbeated claim — two concurrent
    write_groups of one group would otherwise interleave HALF-groups
    at the same sequence with different content):

    - all member watermarks equal → a NEW transaction: seq = that + 1,
      every table written.
    - watermarks differ → a prior write_group CRASHED mid-group:
      RESUME at seq = max, writing only the tables still behind it.
      Like every exactly-once verb here, the retrying caller must
      re-derive the same content for the same sequence (the
      upsert_txn/foreachBatch contract). A NEW member joining an
      existing group is deliberately indistinguishable from a torn
      group: its first call backfills the group's current sequence
      (catching it up to the others' state), and the next call
      starts a fresh transaction across all members.

    Atomic VISIBILITY is the reader's side of the bargain: plain
    per-table reads can still see a mid-group state (exactly Delta's
    multi-table story), but ``read_group`` refuses any cut where
    co-read members disagree on the group sequence — so
    writers-via-write_group + readers-via-read_group compose into
    cross-table snapshot isolation. Readers pay metadata only; the
    writer pays one claim acquire + its tables' ordinary commits.

    Member writes apply in the ``writes`` dict's INSERTION ORDER —
    list dependents after the members they derive from (a summary
    callable reading its detail table's post-write state needs the
    detail listed first; code-review r11 finding 3 — the previous
    sorted-by-name order made that pattern depend on alphabetical
    naming). A concurrent group writer holding the claim past
    ``io.CLAIM_WAIT_S`` raises io.TxnConflict; a claim untouched for
    ``io.CLAIM_STALE_S`` is presumed crashed and stolen.

    Returns the group sequence committed (or resumed)."""
    import os as _os

    from ..io import TxnAlreadyApplied, run_claim_serialized

    if not writes:
        raise ValueError("write_group needs at least one write")
    if not re.fullmatch(r"[A-Za-z0-9_.-]+", group):
        raise ValueError(
            f"write_group: group name {group!r} must be filesystem- "
            "and app-id-safe ([A-Za-z0-9_.-]+) — it names the claim "
            "file and the txn app id"
        )
    app = f"group_txn:{group}"
    claim = _os.path.join(store.root, f".groupclaim_{group}")

    def _body() -> int:
        marks = {
            t: (store.last_txn(t, app) or 0) if store.exists(t) else 0
            for t in writes
        }
        seq = max(marks.values())
        if len(set(marks.values())) == 1:
            seq += 1  # clean state: a new transaction
        # else: torn group — resume max, writing the laggards only
        for t in writes:  # insertion order: caller's dependency order
            if marks[t] >= seq:
                continue  # already carries this sequence
            try:
                writes[t](app, seq)
            except TxnAlreadyApplied:
                pass  # raced replay landed it: carries seq now
            if (store.last_txn(t, app) or 0) != seq:
                # the callable wrote WITHOUT the stamp (or not at
                # all) — the group would silently stop being a
                # group: readers couldn't tell its writes from
                # torn state, and the next write_group would
                # re-run this member's write at the same content
                raise GroupConsistencyError(
                    f"write_group({group}): the write for {t} did "
                    f"not commit the (app_id={app}, seq={seq}) "
                    "stamp — route it through an exactly-once "
                    "verb (upsert_txn / merge_when(txn=...)) "
                    "using the arguments passed to the callable"
                )
        return seq

    # the shared claim protocol (io.run_claim_serialized — ONE
    # definition of acquire/identity-self-check/heartbeat/conditional-
    # release; code-review r11 finding 6): settled() is always None,
    # so this degenerates to a heartbeated mutex — every caller runs
    # its own body, serialized.
    return run_claim_serialized(
        claim, lambda: None, _body, f"write_group({group})"
    )
