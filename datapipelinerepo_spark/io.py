"""Table IO: reads over the driver testdata + the engine's write semantics.

Write semantics re-homed from the reference (SURVEY.md §2.1):

- S8 append + additive schema evolution
  (``datasources.py:55-58`` WRITE_APPEND + ALLOW_FIELD_ADDITION)
- S9 replace (``:61-64`` TRUNCATE, ``:362-366`` WRITE_TRUNCATE)
- S10 idempotent date-partition re-load
  (``:50-53`` DELETE WHERE Date=… then append)
- S3/S4 catalog probes (``:136``, ``:394-396`` __TABLES__ queries)
- A1/S11 watermark scalar fetch (``:140-142`` MAX(Date) → tolist()[0])

At scale: tables are directories of parquet (Hive layout, optionally
partitioned by a date column) whose snapshot manifest names the
committed files; S10 publishes its partitions with every other
partition's files, so a re-run replaces only the touched partitions
(exactly-once under re-run, proven in tests/test_io.py). No
driver-side collects except the scalar gates.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
import time
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import TABLES, _fs
from .session import local_frame


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


class _NullSpec:
    """Planner spec sentinel for ``read(where=...)`` / ``plan_read``:
    ``where={col: IS_NULL}`` plans an IS NULL probe and
    ``where={col: NOT_NULL}`` an IS NOT NULL probe, each routed to the
    manifest null-count stats (files whose footer says the column has
    zero NULLs are skipped for IS_NULL; files that are ALL NULL are
    skipped for NOT_NULL). Singletons — identity-compared, so a stray
    equal-looking object can never classify as a null probe."""

    __slots__ = ("_label",)

    def __init__(self, label: str) -> None:
        self._label = label

    def __repr__(self) -> str:
        return self._label


#: planner spec: column IS NULL (see _NullSpec)
IS_NULL = _NullSpec("IS_NULL")
#: planner spec: column IS NOT NULL (see _NullSpec)
NOT_NULL = _NullSpec("NOT_NULL")


class Prefix:
    """Planner spec for a STRING-PREFIX probe: ``where={col:
    Prefix("abc")}`` plans ``col LIKE 'abc%'`` through the manifest
    min/max stats — a file is skipped when its recorded [min, max]
    interval cannot contain any string starting with the prefix
    (max < prefix, or min >= the smallest string above the prefix
    range). Parquet writers may TRUNCATE long string stats, but the
    spec requires a truncated min to under-run and a truncated max to
    over-run the true bounds, so the skip test stays conservative in
    both directions; the exact ``startswith`` filter re-applies on the
    pruned scan either way."""

    __slots__ = ("s",)

    def __init__(self, s: str) -> None:
        if not isinstance(s, str) or not s:
            raise ValueError(
                f"Prefix needs a non-empty string, got {s!r}"
            )
        self.s = s

    def __repr__(self) -> str:
        return f"Prefix({self.s!r})"


class Has:
    """Planner spec for an ARRAY-MEMBERSHIP probe: ``where={col:
    Has("tok")}`` filters ``array_contains(col, "tok")`` and routes
    to an ELEMENT bloom index when one is built
    (``build_bloom_index(..., elements=True)`` — bitmaps hash the
    array's ELEMENTS, so a membership probe skips files no element of
    which can be the token). ``Has([v1, v2, ...])`` is the ANY-OF
    form (``arrays_overlap``); like IN-list point probes, one index
    scan answers every value. Min/max stats don't exist for array
    columns (parquet stats live on the nested leaf), so the element
    index is the only pruner — absent index means full scan, never
    wrong results."""

    __slots__ = ("values",)

    def __init__(self, value) -> None:
        vals = (
            list(value)
            if isinstance(value, (list, tuple, set))
            else [value]
        )
        if not vals:
            raise ValueError("Has needs at least one value")
        if any(v is None for v in vals):
            raise ValueError(
                "NULL never matches array membership — drop it from "
                "the Has values"
            )
        self.values = vals

    def __repr__(self) -> str:
        return f"Has({self.values!r})"


class TxnAlreadyApplied(RuntimeError):
    """Raised at MANIFEST-COMMIT time when the transaction watermark of
    the version being superseded already covers this write's
    (app_id, txn_version): the writer lost a concurrent same-app race
    (or is a replay that slipped past the advisory ``last_txn`` fast
    check). The raise happens INSIDE the put-if-absent claim loop —
    after the loser re-reads the winner's freshly published manifest —
    so the replay check and the commit are one atomic step (VERDICT r7
    item 1: the fast check alone left a check-then-act window where two
    simultaneous writers sharing an app_id, e.g. a zombie driver plus
    its replacement, could both apply the same batch). The loser's
    already-appended data files stay orphans — invisible to every read
    (no manifest references them) and reclaimed by vacuum."""


class TxnConflict(TxnAlreadyApplied):
    """Raised by a compare-and-swap commit (``txn_expect``): the app's
    watermark at claim time differs from the value the writer's work
    was derived from — another writer advanced (or reset) it in
    between, so applying this write would double-apply or skip a
    window. Subclasses TxnAlreadyApplied so replay handlers absorb
    conflicts the same way (the data is NOT applied either way)."""


class CrossTxnConflict(RuntimeError):
    """Raised by the CROSS-APP watermark assertion (``txn_assert``):
    at commit time, ANOTHER app's watermark on the same table differs
    from the value this write's derivation was pinned to. The join-view
    maintainer rides this (ADVICE r10 medium): a fact-phase merge joins
    its added rows against the dim snapshot at the view's dim watermark
    vd, so if a concurrent syncer's dim phase advances vd before the
    fact merge lands, the landed rows would carry vd-era payload under
    a cur_d watermark — staleness no later window covers. The check is
    atomic with the manifest claim (winning the put-if-absent link
    means the asserted map was the latest at the commit point), so the
    losing phase re-pins and re-derives.

    Deliberately NOT a TxnAlreadyApplied/TxnConflict subclass (the r10
    BaseVersionConflict lesson): those mean "covered — safe to skip";
    this write was NOT applied and must be RE-DERIVED against the
    other app's new watermark, so swallowing it in an exactly-once
    handler would freeze stale payload permanently."""


class BaseVersionConflict(RuntimeError):
    """Raised by the BASE-VERSION compare-and-swap on a write's base snapshot:
    the table's latest version moved while this writer derived its
    manifest content (the ``kept`` file list / column map), so
    publishing would silently drop the concurrent commit's files from
    the new manifest — the lost-update mechanism ADVICE r9 flagged.
    The incremental write verbs catch this INTERNALLY and re-derive
    against the new current version (optimistic concurrency); it
    escapes to callers only after repeated conflicts. The failed
    attempt's staged part-files stay invisible orphans until vacuum.

    Deliberately NOT a TxnConflict/TxnAlreadyApplied subclass
    (code-review r10 wave 1): those mean "this batch is already
    covered — safe to skip", and the exactly-once streaming handlers
    absorb them by returning False with the checkpoint advancing. A
    base-version conflict means the batch was NOT applied at all —
    swallowing it there would convert a recoverable retry into silent
    permanent data loss. Escaping here fails the foreachBatch batch,
    and Spark's replay re-runs it to convergence."""


# Session-scoped PLAN memo for load_table (r14 optimization): every
# load_table call paid a fresh file listing + footer schema inference
# (~0.1 s of driver-side py4j work per call — a multi-table query
# constructed ~0.5 s of pure metadata before its first task). A
# DataFrame is a lazy plan, not data: handing back the same plan is
# exactly what a catalog's resolved-relation cache does, and every
# action over it still scans the parquet inputs. Keyed by session,
# path, AND the file's (mtime, size) so a changed input invalidates
# the entry — this memoizes METADATA only, never results.
_LOAD_TABLE_MEMO: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver testdata table (S1). Catalyst handles column
    pruning / predicate pushdown into the parquet scan.

    The events table stores ns-precision timestamps, which Spark's
    parquet reader rejects; read them as long and convert to
    microsecond timestamps (matching DuckDB, whose TIMESTAMP is
    us-precision, so both engines see identical values).
    """
    path = table_path(sf_dir, name)
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    try:
        app = spark.sparkContext.applicationId
    except Exception:
        app = None  # stopped/odd session: don't memoize at all
    key = (app, os.path.abspath(path), stamp)
    cached = _LOAD_TABLE_MEMO.get(key) if app is not None else None
    if cached is not None:
        return cached
    if name == "events":
        from pyspark.sql import functions as F

        # NOTE: this session-level conf is a deliberate global side
        # effect — the parquet reader needs it BEFORE planning and the
        # conversion below executes lazily, so it cannot be restored
        # here. It only changes how ns-precision parquet timestamps
        # surface (long instead of a hard error), which this loader
        # then converts.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # INTEGER division: float `/` widens the ns long to double
            # (48 ns of rounding at current epochs), off by 1 us for
            # ~12% of values vs DuckDB's exact conversion
            # (code-review r5, empirically measured)
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
    else:
        df = spark.read.parquet(path)
    if app is not None:
        _LOAD_TABLE_MEMO[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Expose the testdata tables to spark.sql(...) passthrough."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def _key_match(keys: list[str], df: DataFrame, prefix: str):
    """(aliased key frame, null-safe equality condition) for joining a
    table against ``df``'s key columns — the one definition of the
    store's key-matching semantics (eqNullSafe per column), shared by
    upsert's anti-join, the keyed-merge slice, and lookup
    (code-review r7 wave 3: three hand-rolled copies had to stay in
    lockstep)."""
    aliased = df.select(*[F.col(k).alias(f"{prefix}{k}") for k in keys])
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"{prefix}{k}"))
        cond = c if cond is None else (cond & c)
    return aliased, cond


# integer bounds per Spark int-family simpleString, for the driver
# bloom probe's native-type gate
_INT_BOUNDS = {
    "tinyint": (-(1 << 7), (1 << 7) - 1),
    "smallint": (-(1 << 15), (1 << 15) - 1),
    "int": (-(1 << 31), (1 << 31) - 1),
    "bigint": (-(1 << 63), (1 << 63) - 1),
}


def _bloom_cast_probe(val, dtype: str):
    """A probe value the driver bloom path may hash directly: the
    python value must ALREADY be a native instance of the recorded
    dtype (no cast emulation — Spark's cast semantics under ANSI are
    not worth mirroring for a fast path; mismatched-type probes keep
    the Spark-job route, which applies the real cast)."""
    t = dtype.lower()
    if t in _INT_BOUNDS:
        if isinstance(val, bool) or not isinstance(val, int):
            raise TypeError(f"probe {val!r} is not a native {dtype}")
        lo, hi = _INT_BOUNDS[t]
        if not lo <= val <= hi:
            raise TypeError(f"probe {val!r} outside {dtype} range")
        return val
    if t == "string":
        if not isinstance(val, str):
            raise TypeError(f"probe {val!r} is not a native string")
        return val
    if t == "boolean":
        if not isinstance(val, bool):
            raise TypeError(f"probe {val!r} is not a native boolean")
        return val
    raise TypeError(f"no driver-side probe for dtype {dtype!r}")


# sentinel: "carry the previous manifest's column map forward" —
# distinct from None ("clear the map", used only by explicit resets)
_CARRY: dict = {"__carry__": True}


# ---------------------------------------------------------------------------
# Manifest-layout plumbing, shared with sources/cdf_stream.py (pure
# os/json — no SparkSession): ONE definition of the directory naming,
# version filename format, meta sidecar path and logical-schema
# derivation, so a layout change cannot silently strand the streaming
# CDF source on a stale private copy (code-review r9 wave 3).
# ---------------------------------------------------------------------------


def manifest_dir(root: str, name: str) -> str:
    return os.path.join(root, f"_manifest_{name}")


def manifest_path(root: str, name: str, version: int) -> str:
    return os.path.join(manifest_dir(root, name), f"v{version:06d}.json")


def read_manifest(root: str, name: str, version: int) -> dict:
    with open(manifest_path(root, name, version)) as f:
        return json.load(f)


def list_versions(root: str, name: str) -> list[int]:
    d = manifest_dir(root, name)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def meta_path(root: str, name: str) -> str:
    return os.path.join(root, f"_meta_{name}.json")


def read_meta(root: str, name: str) -> dict:
    p = meta_path(root, name)
    if not os.path.isfile(p):
        return {}
    with open(p) as f:
        return json.load(f)


def logical_fields(doc: dict):
    """A manifest's LOGICAL schema as StructFields (colmap applied,
    _kb removed) — the one derivation read() and the CDF stream share."""
    from pyspark.sql.types import StructField, StructType

    schema_json = doc.get("schema")
    if schema_json is None:
        raise ValueError(
            "manifest carries no recorded schema — table predates "
            "schema recording; rewrite once to enable this path"
        )
    cm = doc.get("colmap") or {}
    phys_to_log = {p: l for l, p in cm.get("renames", {}).items()}
    dropped = set(cm.get("dropped", []))
    out = []
    for f in StructType.fromJson(json.loads(schema_json)).fields:
        if f.name == "_kb" or f.name in dropped:
            continue
        out.append(
            StructField(phys_to_log.get(f.name, f.name), f.dataType, True)
        )
    return out


def _parse_schema(schema_json: str | None):
    """A recorded StructType JSON parsed, or None when there is none or
    it does not parse."""
    from pyspark.sql.types import StructType

    if schema_json is None:
        return None
    try:
        return StructType.fromJson(json.loads(schema_json))
    except (ValueError, TypeError, KeyError):
        return None


_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _holds(wide, narrow) -> bool:
    """Does type ``wide`` hold every value of type ``narrow`` (the
    widenings a parquet read of old files also performs)?"""
    from pyspark.sql.types import DecimalType

    w, n = wide.simpleString(), narrow.simpleString()
    if w == n:
        return True
    if w in _INTEGRAL and n in _INTEGRAL:
        return _INTEGRAL.index(n) < _INTEGRAL.index(w)
    if w == "double":
        return n in ("float", "tinyint", "smallint", "int")
    if isinstance(wide, DecimalType) and isinstance(narrow, DecimalType):
        return (
            wide.scale >= narrow.scale
            and wide.precision - wide.scale >= narrow.precision - narrow.scale
        )
    return False


def _widened_schema_json(stored: str | None, staged: str) -> str:
    """``stored`` widened by ``staged`` (both StructType JSON): stored
    order first, then the staged-only fields. A column both carry
    takes the wider of its two types, so a batch narrower than the
    table neither narrows a column (reads of the table's older files
    under the narrow type fail) nor shrinks the column set — neither
    the manifest's, which reads would then lose the missing columns
    with, nor the meta's, which constraint checks complete a narrow
    batch with (code-review r7). Raises ValueError when neither of two
    scalar types holds the other (a string batch into a long column);
    nested types take the staged type."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if not stored:
        return staged
    new = StructType.fromJson(json.loads(staged))
    by_name = {f.name: f for f in new.fields}
    old = StructType.fromJson(json.loads(stored)).fields
    nested = (ArrayType, MapType, StructType)
    out = []
    for f in old:
        n = by_name.get(f.name)
        if n is None:
            out.append(f)
        elif (
            _holds(n.dataType, f.dataType)
            or isinstance(f.dataType, nested)
            or isinstance(n.dataType, nested)
        ):
            out.append(n)  # the same type, a wider one, or nested
        elif _holds(f.dataType, n.dataType):
            out.append(f)  # narrower in the batch: the table's type
        else:
            raise ValueError(
                f"column {f.name!r} is {f.dataType.simpleString()} in the "
                f"table and {n.dataType.simpleString()} in the batch: "
                "neither type holds the other"
            )
    have = {f.name for f in old}
    return StructType(out + [f for f in new.fields if f.name not in have]).json()


def _parquet_files(top: str) -> list[str]:
    """The parquet files under ``top``, relative to it, in any layout:
    root files, ``col=value`` partitions or ``_kb=`` buckets. Skips
    what Spark's partition discovery skips: names starting with ``.``,
    or with ``_`` and holding no ``=`` (``_SUCCESS``, ``_temporary``,
    the ``.bloomidx`` sidecars; a ``_kb=3`` directory is data)."""

    def hidden(n: str) -> bool:
        return n.startswith(".") or (n.startswith("_") and "=" not in n)

    out = []
    for d, dirs, files in os.walk(top):
        dirs[:] = [x for x in dirs if not hidden(x)]
        rel = os.path.relpath(d, top)
        out += [
            f if rel == "." else f"{rel}/{f}"
            for f in files
            if f.endswith(".parquet") and not hidden(f)
        ]
    return sorted(out)


#: a part-file ``_append_and_publish`` renamed into its table
#: (``<token>-part-…``), not one Spark's committer wrote (``part-…``)
_STAGE_RENAMED = re.compile(r"[0-9a-f]{12}-part-")


def _layout_of(files: list[str]) -> str | None:
    """The partition column of a snapshot's file paths: ``c`` when
    every file sits in a ``c=value`` directory (``_kb`` for a keyed
    table), None for root files or no files. ValueError for a layout
    no write can extend: root files beside partition directories, or
    partitions of two columns."""
    cols = {f.split("=", 1)[0] if "/" in f else None for f in files}
    if len(cols) > 1:
        raise ValueError(
            f"mixed table layout (partitions {sorted(c for c in cols if c)}"
            f"{' beside root files' if None in cols else ''}); overwrite "
            "the table to repair it"
        )
    return next(iter(cols), None)


@dataclass(frozen=True)
class _Snapshot:
    """One verb's (or one write attempt's) view of a table: its meta
    and, when a manifest describes the table, a version and that
    manifest. Read once (``TableStore._snapshot`` / ``_pin_base``) and
    handed to every helper, so two helpers cannot see two states of the
    table when it changes in the middle of a verb. It is never the
    safety check: the publish re-reads the base manifest on disk and
    compares it (``_write_manifest_file``), so a stale snapshot
    surfaces as BaseVersionConflict and the retry takes a new one.
    ``version`` is None when no manifest was found."""

    name: str
    meta: dict
    version: int | None = None
    doc: dict | None = None

    # derived views: the manifest's uid, files, stats, txn map, schema
    # JSON and column map; the meta's key spec, key types and
    # versioned flag
    uid = property(lambda self: (self.doc or {}).get("uid"))
    files = property(lambda self: (self.doc or {}).get("files", []))
    stats = property(lambda self: (self.doc or {}).get("stats", {}))
    txn = property(lambda self: (self.doc or {}).get("txn", {}))
    schema_json = property(lambda self: (self.doc or {}).get("schema"))
    colmap = property(lambda self: (self.doc or {}).get("colmap"))
    spec = property(lambda self: TableStore._keyed_spec_of(self.meta))
    key_types = property(lambda self: self.meta.get("key_types"))
    versioned = property(lambda self: bool(self.meta.get("versioned")))

    @cached_property
    def schema(self):
        """The recorded schema (physical names, ``_kb`` included) as a
        StructType, or None when the manifest records none."""
        return _parse_schema(self.schema_json)

    def dtype(self, phys: str) -> str | None:
        """The recorded type of physical column ``phys``, or None."""
        if self.schema is None or phys not in self.schema.names:
            return None
        return self.schema[phys].dataType.simpleString()

    def physical(self, col: str) -> str:
        """The physical name of logical column ``col`` under the column
        map. ValueError for a dropped column: its carried-forward stats
        and retained data are artifacts the logical table no longer
        has. A renamed-then-dropped column has its renames entry popped
        by drop_column, so only ``dropped_logical`` still knows it
        (ADVICE r13)."""
        cm = self.colmap or {}
        phys = cm.get("renames", {}).get(col, col)
        if phys in cm.get("dropped", []) or col in cm.get("dropped_logical", []):
            raise ValueError(
                f"{self.name}: no column {col!r} (dropped from the "
                "logical schema)"
            )
        return phys

    def require_manifest(self, verb: str, versioned: bool = True) -> "_Snapshot":
        """This snapshot, when a published manifest describes it (and
        the table is versioned, for ``versioned=True``); ValueError
        otherwise. A read never publishes the manifest a table lacks
        in an overwrite's reset window: the next write does."""
        if versioned and not self.versioned:
            raise ValueError(
                f"{self.name}: {verb} needs a versioned table "
                "(overwrite_keyed(..., versioned=True)): the stats and "
                "indexes live in and beside its snapshot manifests"
            )
        if self.spec is None and not self.versioned:
            raise ValueError(
                f"{self.name}: {verb} needs a keyed table (overwrite_keyed)"
            )
        if self.version is None:
            raise ValueError(
                f"{self.name}: {verb} needs a published snapshot manifest "
                "(table is mid-heal); retry after the next write "
                "republishes"
            )
        return self


def _acquire_claim(path: str, stale_s: float) -> str | None:
    """Create-exclusive claim file — the put-if-absent primitive that
    serializes FIRST-WRITER windows (first-time rollup seeding,
    first-write table creation): physical static overwrites of one
    directory must never run concurrently. Returns the won claim's
    identity token (a content digest over a per-acquire uuid — ADVICE
    r10: inode tokens aliased on this inode-recycling filesystem, so a
    stolen-then-recreated claim could reuse the displaced holder's
    inode and fool its heartbeat/release self-checks; content minted
    fresh per acquire cannot collide), re-checked by the caller before
    anything destructive — or None.

    A claim older than ``stale_s`` is presumed orphaned by a crashed
    holder and stolen. The steal is an atomic RENAME to a
    stealer-unique name — never a bare unlink (code-review r9 wave 1:
    two waiters crossing the staleness threshold together could
    otherwise interleave stat→remove so the second's remove deletes
    the first's freshly WON claim, letting both write concurrently).
    Exactly one stealer wins the rename; and because the stat→rename
    pair is itself not atomic, the stealer re-checks the RENAMED
    file's age — if it turns out fresh (a live claim was displaced),
    it is restored via an atomic put-if-absent link and the steal is
    reported lost. Residual window: a live claim displaced and a third
    caller claiming before the restore — three writers interleaving
    within milliseconds on a path that requires a prior crash plus
    ``stale_s`` of inactivity; the caller's inode self-check shrinks
    it further. Expiry-based stealing is inherently advisory (the
    lease model Delta commit services use); size ``stale_s``
    comfortably above the longest possible protected write.

    Built entirely on the _fs primitives (VERDICT r9 item 7) — an
    object-store port implements _fs.py, not this logic."""
    import uuid

    for _ in range(8):
        tok = _fs.put_if_absent(
            path, f"{os.getpid()}:{uuid.uuid4().hex}".encode()
        )
        if tok is not None:
            return tok
        try:
            age = time.time() - _fs.mtime(path)
        except FileNotFoundError:
            continue  # released between create and stat: retry
        if age <= stale_s:
            return None
        grave = f"{path}.stolen-{uuid.uuid4().hex}"
        try:
            _fs.rename(path, grave)  # atomic: one stealer wins
        except FileNotFoundError:
            continue  # another stealer (or release) got it first
        try:
            fresh = time.time() - _fs.mtime(grave) <= stale_s
        except FileNotFoundError:
            fresh = False
        if fresh:
            # the stat→rename window displaced a LIVE claim:
            # restore it put-if-absent and report this steal lost
            _fs.link_if_absent(grave, path)
            _fs.remove(grave)
            return None
        _fs.remove(grave)
    return None


class _ClaimHeartbeat:
    """Keeps a HELD claim visibly alive while its protected write runs
    (ADVICE r9): a daemon thread ``os.utime``s the claim file every
    ``interval_s`` for as long as the file on disk is still the
    holder's inode — so a claim's age measures time since the holder's
    last sign of life, not since acquisition, and a legitimate write
    that outlives ``stale_s`` can no longer be mistaken for a crashed
    holder and stolen mid-overwrite (the exact double-writer corruption
    the claim exists to prevent). A crashed holder stops touching by
    definition and expires exactly as before. Usage::

        with _ClaimHeartbeat(claim_path, token, stale_s):
            ...protected write...
    """

    def __init__(self, path: str, token: str, stale_s: float):
        import threading

        self.path = path
        self.token = token
        # touch an order of magnitude inside the staleness horizon;
        # bounded so tests with tiny stale_s still heartbeat sanely
        self.interval = min(max(stale_s / 10.0, 0.05), 60.0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            try:
                ident = _fs.identity(self.path)
                if ident is None:
                    # transient: _acquire_claim's steal protocol moves
                    # a claim to a grave and RESTORES it when the
                    # freshness re-check finds the holder alive — a
                    # tick landing in that rename→restore gap must not
                    # kill the heartbeat of a still-held claim
                    # (code-review r10 wave 1); if the claim is truly
                    # gone, __exit__ ends the thread right after the
                    # protected write anyway
                    continue
                if ident != self.token:
                    return  # displaced for real: the claim is a stealer's
                _fs.touch(self.path)
            except OSError:
                continue  # same transient-window reasoning as above

    def __enter__(self) -> "_ClaimHeartbeat":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# Timing of every claim run_claim_serialized takes: losers wait up to
# CLAIM_WAIT_S for the holder, and a claim untouched for CLAIM_STALE_S
# is presumed orphaned by a crashed holder and stolen. The holder's
# heartbeat keeps a long legitimate write from going stale.
CLAIM_WAIT_S = 300.0
CLAIM_STALE_S = 600.0


def run_claim_serialized(claim: str, settled, seed, what: str, acquire=None):
    """Serialize a FIRST-WRITER window behind a create-exclusive,
    heartbeated claim — the one acquire/identity-check/heartbeat/
    release loop in the package (two drifting copies of subtle
    concurrency code is how a future fix misses one). Exactly one
    racer runs ``seed()`` (under the claim + heartbeat); losers poll
    ``settled()`` — which must return the result once a winner
    finished, None while not — and converge on it; a claim orphaned
    by a crashed winner goes stale after ``CLAIM_STALE_S`` and is
    stolen, and the stealer re-checks ``settled()`` under the claim
    before redoing any destructive work. ``settled=lambda: None``
    makes it a heartbeated mutex: every caller runs its own ``seed``,
    one at a time. A claim still held after ``CLAIM_WAIT_S`` raises
    TxnConflict.

    ``acquire`` defaults to the module's _acquire_claim; callers pass
    their own module-resolved alias so tests can interpose on ONE
    seeding path without touching the others (the rollup race test
    barriers inside it)."""
    acquire = acquire or _acquire_claim
    deadline = time.time() + CLAIM_WAIT_S
    while True:
        tok = acquire(claim, CLAIM_STALE_S)
        if tok is not None:
            # identity self-check before anything destructive: a
            # racing staleness-stealer may have displaced this claim
            # in its stat→rename window — if the object on disk no
            # longer carries OUR token, the claim is lost; re-contend
            # instead of seeding unheld
            if _fs.identity(claim) != tok:
                continue
            try:
                # double-check under the claim: a racer that lost an
                # earlier acquire may reach here AFTER the winner
                # seeded and released — converge instead of
                # redundantly re-overwriting
                w = settled()
                if w is not None:
                    return w
                # heartbeat: a seed running longer than CLAIM_STALE_S
                # must not look orphaned and get stolen mid-overwrite
                with _ClaimHeartbeat(claim, tok, CLAIM_STALE_S):
                    return seed()
            finally:
                # release only OUR claim: after a (pathological)
                # mid-seed displacement the object on disk is a
                # stealer's
                try:
                    if _fs.identity(claim) == tok:
                        _fs.remove(claim)
                except FileNotFoundError:
                    pass
        # lost the claim: the winner is seeding — wait for its
        # completed state and converge; if the winner errored and
        # released without one, the loop re-contends for the claim
        w = settled()
        if w is not None:
            return w
        if time.time() >= deadline:
            raise TxnConflict(
                f"{what}: claim file {claim} still held after "
                f"{CLAIM_WAIT_S}s"
            )
        time.sleep(0.05)


class TableStore:
    """A directory of named parquet tables with the reference's load
    semantics. Plays the role BigQuery datasets played
    (``datasources.py:32`` dataset+table_name addressing).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # observability counter: (table, column) -> number of
        # read_where/pruned_file_count calls whose requested prune
        # column had NO min/max stats in any file (skipping inert);
        # null-count-inert probes count separately under
        # (table, column, "nulls") (ADVICE r13)
        self.prune_stat_misses: dict[tuple, int] = {}
        # observability counter: (table, column) -> number of bloom
        # probes that degraded to no-pruning (unreadable/inconsistent
        # sidecar — correct but slow; see _bloom_degrade_warn)
        self.bloom_degrades: dict[tuple[str, str], int] = {}
        # immutable-manifest txn-map memo for _dependent_watermark_floor
        # (ADVICE r12): path -> ((mtime_ns, size), txn dict)
        self._txn_map_cache: dict[str, tuple[tuple[int, int], dict]] = {}
        os.makedirs(root, exist_ok=True)

    # -- catalog (S3/S4) ---------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _meta_path(self, name: str) -> str:
        return meta_path(self.root, name)

    def exists(self, name: str) -> bool:
        """S3 existence probe (``__TABLES__`` scan, datasources.py:136)."""
        d = self._dir(name)
        return os.path.isdir(d) and any(
            f.endswith(".parquet") and not _STAGE_RENAMED.match(f)
            for f in os.listdir(d)
        ) or os.path.isfile(self._meta_path(name))

    def last_modified_date(self, name: str) -> dt.date | None:
        """S4 catalog metadata read (DATE(TIMESTAMP_MILLIS(last_modified_time)),
        datasources.py:394-396)."""
        meta = read_meta(self.root, name)
        if not meta:
            return None
        millis = meta["last_modified_millis"]
        return dt.datetime.fromtimestamp(millis / 1000, dt.timezone.utc).date()

    def _date_partitions(self, name: str, col: str) -> dict[dt.date, int] | None:
        """Rows per committed ``col=YYYY-MM-DD`` partition of a table
        partitioned by ``col`` alone (the ``reload_partitions`` shape):
        the latest snapshot's file paths name the partitions, and the
        per-file row counts its manifest stats record count them — zero
        Spark jobs, and a parquet footer read only for a file whose
        stats carry no row count. The pipeline gates answer MAX(col)
        and a month's COUNT(*) from it (the ``stats_scalar``
        exact-or-refuse contract for the ``Daily_Weather`` layout).

        The NULL partition (``__HIVE_DEFAULT_PARTITION__``) is skipped:
        it neither sets a MAX nor falls in a month. Returns None — the
        caller runs the real scan — for any layout this cannot prove:
        no published manifest, a file at the table root or under
        another or a nested partition column (a keyed table's
        ``_kb=``), or a value that is not a canonical date."""
        import pyarrow.parquet as pq

        snap = self._snapshot(name)
        if snap.version is None:
            return None
        out: dict[dt.date, int] = {}
        for rel in snap.files:
            part, _, f = rel.partition("/")
            key, eq, value = part.partition("=")
            if key != col or not eq or "/" in f:
                return None
            if value == "__HIVE_DEFAULT_PARTITION__":
                continue
            try:
                day = dt.date.fromisoformat(value)
            except ValueError:
                return None
            if day.isoformat() != value:  # e.g. 20240101, 2024-W01-1
                return None
            rows = next(
                (s[3] for s in snap.stats.get(rel, {}).values() if len(s) == 4),
                None,
            )
            if rows is None:
                rows = pq.read_metadata(os.path.join(self._dir(name), rel)).num_rows
            out[day] = out.get(day, 0) + int(rows)
        return out

    def _touch_meta(self, name: str, **extra) -> None:
        """Set ``extra``'s keys and the modification time in the meta,
        under its claim. A callable value maps the key's value in the
        meta read under the claim to its new one."""

        def touch(meta):
            for k, v in extra.items():
                meta[k] = v(meta.get(k)) if callable(v) else v
            meta["last_modified_millis"] = int(time.time() * 1000)

        self._update_meta(name, touch)

    def _update_meta(self, name: str, fn) -> bool:
        """Read-modify-write the meta file under its claim
        (``<meta>.claim``, through ``run_claim_serialized``), so two
        concurrent updates cannot drop each other's keys. ``fn`` edits
        the meta dict in place and returns False to leave the file as
        it is; returns whether the file was written."""

        def update():
            meta = read_meta(self.root, name)
            if fn(meta) is False:
                return False
            self._write_meta(name, meta)
            return True

        return run_claim_serialized(
            self._meta_path(name) + ".claim", settled=lambda: None,
            seed=update, what=f"{name}: meta update",
        )

    def _write_meta(self, name: str, meta: dict) -> None:
        """The one writer of the meta file: stage the JSON beside it
        under a name ``tables()`` does not list, then publish it with
        ``_fs.replace``, so a concurrent ``read_meta`` sees the old
        file or the new one, never a partial write."""
        import uuid

        p = self._meta_path(name)
        tmp = f"{p}.{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(meta, f)
            _fs.replace(tmp, p)
        except BaseException:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass
            raise

    @staticmethod
    def _keyed_spec_of(meta: dict) -> tuple[list[str], int] | None:
        """keyed_spec's answer from an already-read meta dict."""
        if meta.get("keyed_on") is None:
            return None
        return list(meta["keyed_on"]), int(meta["key_buckets"])

    def keyed_spec(self, name: str) -> tuple[list[str], int] | None:
        """(keys, n_buckets) when the table was written by
        overwrite_keyed, else None — the routing marker for the
        bucket-partitioned upsert fast path."""
        return self._keyed_spec_of(read_meta(self.root, name))

    def table_incarnation(self, name: str) -> str | None:
        """Identity of the table's current LIFETIME: minted fresh by
        every overwrite_keyed (a reseed replaces the data AND restarts
        version numbering, so anything derived from the old history —
        change-feed cursors, sync watermarks — must not be applied to
        the new one). None for tables predating the marker or never
        keyed-written."""
        return read_meta(self.root, name).get("incarnation")

    def _retire_bloom_indexes(self, name: str) -> None:
        """Drop every bloom sidecar (and maintenance-claim files /
        crashed-swap leftovers) for a table whose data directory is
        about to be destructively rewritten (ADVICE r12): a sidecar
        surviving an incarnation reset indexes files that no longer
        exist under a dtype that may no longer match — at best inert,
        at worst (dtype drift) a source of silent false negatives.
        Called from the same reset windows that retire the manifest
        history; probes see no index (no pruning) until a rebuild."""
        d = self._dir(name)
        if not os.path.isdir(d):
            return
        for e in os.listdir(d):
            if e == ".bloomidx" or e.startswith(
                (".bloomidx.", ".bloomidx-claim-")
            ):
                p = os.path.join(d, e)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    try:
                        os.remove(p)
                    except FileNotFoundError:
                        pass

    @staticmethod
    def _kb_expr(keys: list[str], n_buckets: int, types: list[str] | None):
        # xxhash64 of the key tuple -> stable bucket; NULL keys hash to
        # the seed value, so they land in one deterministic bucket.
        # Keys are CAST to the STORED key types first: xxhash64 is
        # type-sensitive (int 3 and long 3 hash differently), so an
        # uncast incoming batch would route rows to the wrong bucket
        # (code-review r5: reproduced duplicate keys, and in the CDC
        # path a bucket wipe). Tables predating recorded key types
        # hash uncast.
        cols = [
            F.col(k).cast(t) if types else F.col(k)
            for k, t in zip(keys, types or keys)
        ]
        return F.pmod(F.xxhash64(*cols), F.lit(n_buckets))

    def _cluster_kb(self, df: DataFrame) -> DataFrame:
        """Hash-cluster a ``_kb``-stamped frame so each bucket's rows
        land in ONE write task → one part-file per bucket per write
        (r14 optimization; Iceberg ``write.distribution-mode=hash``,
        guide §6). Without this, ``partitionBy("_kb")`` writes
        (write-tasks × touched-buckets) files, so file count compounds
        write-over-write: at sf0.1 three upserts took the table from
        32 to ~300 live files and each successive upsert slowed by
        ~1 s from pure file-open overhead; at 100 TB the same shape is
        the many-small-files failure mode. Cost: one shuffle of
        exactly the rows being written — the documented lakehouse
        tradeoff, and strictly less I/O than the downstream reads it
        saves.

        The shuffle takes no partition count: AQE sizes it like every
        other shuffle in the session (``spark.sql.shuffle.partitions``,
        coalesced to the advisory partition size). Hash partitions
        coalesce but are never split, so a bucket never spans two
        tasks, and a 20-row upsert writes in one task instead of one
        per bucket — each write task deserializes the Hadoop conf, a
        fixed cost that dominated small keyed writes (SCALE.md "Keyed
        writes: AQE sizes the clustering shuffle")."""
        return df.repartition(F.col("_kb"))

    # -- snapshot manifests (every table) ----------------------------------
    #
    # A manifest generalizing the _meta sidecar is the one commit point
    # of every table: every write appends NEW part-files (never
    # deleting live ones) and atomically publishes a manifest listing
    # the files of the new snapshot, and a file no manifest names is
    # not part of the table. Readers resolve a manifest once at
    # plan time. On a versioned table (`overwrite_keyed(...,
    # versioned=True)`) superseded manifests and files stay until
    # `vacuum`, so any in-flight plan keeps a consistent version (read-
    # side snapshot isolation, VERDICT r5 item 5) and `read(name,
    # version=N)` pins one explicitly; an unversioned table removes
    # them right after the publish (the Delta shape: files the log no
    # longer names are cleanup work, not a recovery problem). Write
    # order (data files → manifest link → meta pointer) makes every
    # crash window heal: orphan data files are invisible until a
    # manifest names them, and an unpointed manifest is re-discovered by
    # max-version scan (crash-window tests in test_io).
    #
    # Object-store mapping (S3/GCS have no hard links or atomic rename):
    # the commit primitive here is "create manifest vN exclusively"
    # (os.link on a filesystem); on S3 it becomes a conditional PUT
    # (If-None-Match: *), on GCS x-goog-if-generation-match: 0 — the
    # same put-if-absent contract Delta/Iceberg commit services provide.
    # Everything else (append-only data files, manifest-resolved reads,
    # txn watermarks) is already rename-free and ports as-is.
    def _manifest_dir(self, name: str) -> str:
        return manifest_dir(self.root, name)

    def _manifest_path(self, name: str, version: int) -> str:
        return manifest_path(self.root, name, version)

    def is_versioned(self, name: str) -> bool:
        return bool(read_meta(self.root, name).get("versioned"))

    def versions(self, name: str) -> list[int]:
        return list_versions(self.root, name)

    def latest_version(self, name: str) -> int | None:
        """The version reads resolve by default: the max PUBLISHED
        manifest. The meta `version` pointer is advisory — publishing
        (atomic rename) is the commit point, so a crash between publish
        and pointer bump self-heals: the next read/write resolves the
        published manifest anyway (crash-window test in test_io)."""
        vs = self.versions(name)
        return max(vs) if vs else None

    def _data_files(self, name: str) -> list[str]:
        """The parquet part-files in the table directory, committed or
        not (``_parquet_files``)."""
        return _parquet_files(self._dir(name))

    def _manifest_doc(self, name: str, version: int) -> dict:
        p = self._manifest_path(name, version)
        if not os.path.isfile(p):
            raise FileNotFoundError(
                f"{name}: no manifest for version {version} "
                f"(available: {self.versions(name)})"
            )
        with open(p) as f:
            return json.load(f)

    def _manifest_files(self, name: str, version: int) -> list[str]:
        return self._manifest_doc(name, version)["files"]

    def _write_manifest_file(
        self,
        name: str,
        files: list[str],
        schema_json: str | None = None,
        txn: tuple[str, int] | None = None,
        op: str | None = None,
        seed_txn: dict | None = None,
        check_replay: bool = False,
        seed_stats: dict | None = None,
        txn_expect: int | None = None,
        colmap: dict | None = _CARRY,
        base: _Snapshot | None = None,
        txn_assert: dict[str, int] | None = None,
    ) -> int:
        """Commit the next manifest version PUT-IF-ABSENT: the document
        is fully written to a private tmp file, then CLAIMS its version
        number via os.link — an atomic create-exclusive, so of two
        writers that both picked N+1 exactly one wins the link and the
        other rescans and retries with N+2 (VERDICT r6 item 2: the old
        max+1 → os.replace protocol let a concurrent writer silently
        clobber the loser's commit). Readers still only ever see a
        complete manifest (the link target is fully written first).
        The link is the COMMIT POINT; the meta pointer is stamped
        separately (and is advisory — see latest_version).

        ``schema_json`` (the written frame's StructType JSON) rides in
        the manifest so an EMPTY snapshot stays readable — without it,
        a zero-file manifest has no schema source (ADVICE r6).

        ``txn`` = (app_id, txn_version) records a transactional write
        watermark (Delta's txnAppId/txnVersion pattern): the manifest
        carries the map {app_id: highest applied txn_version}, copied
        forward from the previous manifest on EVERY publish (including
        compaction — maintenance must not resurrect a replayed batch)
        and bumped by this write's entry. ``last_txn`` reads it back;
        ``upsert_txn`` turns it into exactly-once streaming upserts.

        ``seed_txn`` pre-seeds the map for publishes with no previous
        manifest to copy from — overwrite_keyed captures the retiring
        history's map before its reset so reseeds don't lose the
        watermarks (ADVICE r7); merged per-app by max with whatever a
        concurrent publish may have landed.

        ``check_replay=True`` (the incremental txn writers: upsert_txn,
        cdc_apply_txn) makes the watermark check ATOMIC with the claim:
        each retry re-reads the map the winning manifest carries and
        raises TxnAlreadyApplied when it already covers ``txn`` —
        closing the fast-check→commit race (VERDICT r7 item 1). The
        explicit-reseed path (overwrite_keyed) leaves it off: an
        administrative overwrite stamping a watermark is setting state,
        not replaying an incremental batch.

        ``txn_assert`` = {app_id: expected_watermark} CASes on OTHER
        apps' watermarks, atomically with the claim like txn_expect —
        for multi-feed maintainers (the join view) whose derivation
        pins one feed's state while committing under another's app id
        (ADVICE r10 medium). Raises CrossTxnConflict (NOT a
        TxnAlreadyApplied subclass — the write must be re-derived, not
        skipped) when any asserted watermark moved.

        ``base``: the snapshot this publish's content was derived from.
        The publish compare-and-swaps on it against the manifest ON
        DISK, never against the snapshot itself, and raises
        BaseVersionConflict when the table moved."""
        import uuid

        os.makedirs(self._manifest_dir(name), exist_ok=True)
        # every manifest carries a unique id — the identity token the
        # base-version CAS compares (version NUMBERS repeat across
        # reseeds, and file inodes are recycled on this filesystem, so
        # neither names "the exact object this write derived from")
        doc: dict = {"files": sorted(files), "uid": uuid.uuid4().hex}
        # per-file [min,max] column stats ride every manifest (data
        # skipping, read_where): carried forward for already-covered
        # files (immutable), footer-read only for new ones
        prev_stats = dict(seed_stats or {})
        prev_stats.update((base or self._snapshot(name)).stats)
        doc["stats"] = self._collect_stats(name, doc["files"], prev_stats)
        if schema_json is not None:
            doc["schema"] = schema_json
        if op is not None:
            doc["op"] = op  # audit trail for history()
        tmp = os.path.join(
            self._manifest_dir(name), f".tmp-{os.getpid()}-{uuid.uuid4().hex}"
        )
        try:
            for _ in range(1000):
                vs = self.versions(name)
                if base is not None and max(vs, default=0) != (base.version or 0):
                    # compare-and-swap on the BASE VERSION: this
                    # publish's content (file list, colmap) was derived
                    # from the base — a concurrent commit means
                    # publishing would silently drop its files/map
                    # (code-review r9 wave 2). Caller re-derives.
                    raise BaseVersionConflict(
                        f"{name}: base version moved past "
                        f"{base.version} — re-derive and retry"
                    )
                v = (max(vs, default=0)) + 1
                txn_map: dict = dict(seed_txn or {})
                prev_doc: dict = {}
                if vs:
                    try:
                        prev_doc = self._manifest_doc(name, max(vs))
                    except FileNotFoundError:
                        prev_doc = {}
                if base is not None and base.uid is not None and (
                    prev_doc.get("uid") != base.uid
                ):
                    # ...and on the version's IDENTITY (code-review r10
                    # wave 3): a reseed (overwrite_keyed/_retire_
                    # versioned) wipes the manifest history and
                    # restarts numbering at 1, so a concurrent writer
                    # pinned at the OLD incarnation's version 1 would
                    # pass the number check and publish a manifest
                    # mixing the retired incarnation's deleted files
                    # with its own. The manifest's uid (minted per
                    # publish) names the exact object the derivation
                    # read — version numbers repeat across reseeds and
                    # inodes are recycled, so neither suffices. Pre-r10
                    # manifests carry no uid: the number check alone.
                    raise BaseVersionConflict(
                        f"{name}: version {base.version}'s "
                        "manifest is not the object this write "
                        "was derived from (table reseeded "
                        "mid-write) — re-derive and retry"
                    )
                for a, t in prev_doc.get("txn", {}).items():
                    txn_map[a] = max(int(t), int(txn_map.get(a, -1)))
                # column mapping rides every manifest like the txn map:
                # carried forward verbatim unless this publish is a
                # rename/drop (which passes an explicit replacement)
                cm = (
                    prev_doc.get("colmap") if colmap is _CARRY else colmap
                )
                if cm:
                    doc["colmap"] = cm
                else:
                    doc.pop("colmap", None)
                # in-commit timestamp (ADVICE r8, Delta's in-commit-ts
                # adjustment): stamped at CLAIM time on every retry —
                # not once before the loop — and clamped to >= the
                # superseded manifest's ts, so version order implies
                # ts order even when a racing loser retries later or
                # the clock steps backward. version_as_of's binary
                # resolution relies on this monotonicity.
                doc["ts"] = max(
                    int(time.time() * 1000), int(prev_doc.get("ts", 0))
                )
                if txn_assert:
                    # cross-app CAS: atomic with the claim — if this
                    # attempt wins the link below, the map read from
                    # the superseded manifest WAS the state at commit
                    for app, exp in txn_assert.items():
                        cur_a = txn_map.get(app)
                        if cur_a is None or int(cur_a) != int(exp):
                            raise CrossTxnConflict(
                                f"{name}: watermark for {app} is "
                                f"{cur_a}, this write was derived "
                                f"against {exp} — re-derive against "
                                "the new state and retry"
                            )
                if txn is not None:
                    cur = int(txn_map.get(txn[0], -1))
                    if txn_expect is not None and cur != int(txn_expect):
                        # compare-and-swap: the writer derived its work
                        # from watermark == txn_expect; any other value
                        # means a concurrent writer moved it — applying
                        # an overlapping-but-different window would
                        # double-apply deltas (code-review r8 wave 3)
                        raise TxnConflict(
                            f"{name}: txn watermark for {txn[0]} is "
                            f"{cur}, writer expected {txn_expect} — "
                            "concurrent writer advanced it"
                        )
                    if check_replay and cur >= int(txn[1]):
                        raise TxnAlreadyApplied(
                            f"{name}: txn ({txn[0]}, {txn[1]}) already "
                            f"covered by watermark {txn_map.get(txn[0])} "
                            "at commit time — concurrent same-app writer "
                            "won the race"
                        )
                    txn_map[txn[0]] = max(int(txn[1]), txn_map.get(txn[0], -1))
                if txn_map:
                    doc["txn"] = txn_map
                doc["version"] = v
                with open(tmp, "w") as f:
                    # dumps: json.dump streams through the pure-Python
                    # encoder, ~50 ms per publish at 1,000 files
                    f.write(json.dumps(doc))
                if not _fs.link_if_absent(tmp, self._manifest_path(name, v)):
                    continue  # lost the race for v — rescan and retry
                return v
        finally:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass
        raise RuntimeError(
            f"{name}: could not claim a manifest version after 1000 attempts"
        )

    def _publish_version(
        self,
        name: str,
        files: list[str],
        schema_json: str | None = None,
        txn: tuple[str, int] | None = None,
        op: str | None = None,
        check_replay: bool = False,
        seed_stats: dict | None = None,
        txn_expect: int | None = None,
        colmap: dict | None = _CARRY,
        base: _Snapshot | None = None,
        txn_assert: dict[str, int] | None = None,
    ) -> int:
        v = self._write_manifest_file(
            name,
            files,
            schema_json=schema_json,
            txn=txn,
            op=op,
            check_replay=check_replay,
            seed_stats=seed_stats,
            txn_expect=txn_expect,
            colmap=colmap,
            base=base,
            txn_assert=txn_assert,
        )
        # the meta schema tracks evolution (widen-only), so constraint
        # checks see the CURRENT column set (code-review r7); widened
        # from the meta read under the claim, so two publishes widening
        # different columns keep both
        extra = {}
        if schema_json is not None:
            extra["schema"] = lambda cur: _widened_schema_json(cur, schema_json)
        self._touch_meta(name, version=v, **extra)
        return v

    # -- manifest-carried file statistics (data skipping) ------------------
    @staticmethod
    def _stat_val(v):
        """JSON-safe, ORDER-PRESERVING encoding of a parquet min/max
        statistic: numbers/strings/bools pass through, dates and
        timestamps become ISO strings (lexicographic == chronological),
        anything else (bytes, nested, Decimal) returns None = no stat
        recorded for pruning."""
        if isinstance(v, bool) or isinstance(v, (int, float, str)):
            return v
        if isinstance(v, dt.datetime):
            if v.tzinfo is not None:
                # normalize aware bounds to the UTC instant first:
                # replace(tzinfo=None) alone keeps the ORIGINAL zone's
                # wall clock, so a +10:00 bound would compare 10 hours
                # off against the UTC-encoded stats and prune files
                # whose rows the exact filter matches (code-review r8
                # wave 2)
                v = v.astimezone(dt.timezone.utc)
            return v.replace(tzinfo=None).isoformat(sep=" ")
        if isinstance(v, dt.date):
            # pad to the timestamp shape so a DATE bound compares
            # boundary-safely against TIMESTAMP column stats: an
            # unpadded "1997-06-30" sorts BELOW "1997-06-30 00:00:00"
            # and would prune a file whose min is exactly midnight of
            # the bound date (rows the exact filter matches)
            return v.isoformat() + " 00:00:00"
        return None

    def _file_stats(self, name: str, rel: str) -> dict:
        """Per-column stats of one part-file, from its parquet FOOTER
        (pyarrow metadata — no data pages read). Entry shape:
        ``[min, max]`` when only min/max are known (the pre-r13
        format, still what carried-forward old manifests hold), or
        ``[min, max, null_count, num_rows]`` when the footer also
        records null counts for every row group (r13 — feeds the
        IS_NULL/NOT_NULL planner route and lets value probes skip
        ALL-NULL files); ``[None, None, null_count, num_rows]`` for a
        column whose min/max is absent or non-encodable but whose null
        count is known (e.g. a fully-NULL column, or boolean stats
        pyarrow cannot decode). Columns with neither are omitted:
        absent stats mean 'cannot prune', never 'no rows'. Note:
        files written by a session still on the legacy INT96 timestamp
        type carry no min/max for TimestampType columns (the engine
        session sets TIMESTAMP_MICROS; a vanilla session doesn't) —
        those columns then never value-prune, which is the safe
        direction."""
        import pyarrow.parquet as pq

        path = os.path.join(self._dir(name), rel)
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return {}
        out: dict = {}
        nulls: dict = {}
        null_unknown: set = set()
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                cname = col.path_in_schema
                if "." in cname:
                    continue  # nested leaves: top-level pruning only
                # null counts accumulate independently of min/max: a
                # row group without a recorded null_count poisons the
                # column (a partial sum would UNDER-count NULLs and
                # could wrongly prune an IS_NULL probe)
                st = None
                try:
                    st = col.statistics
                    if (
                        st is not None
                        and st.has_null_count
                        and st.null_count is not None
                    ):
                        nulls[cname] = nulls.get(cname, 0) + int(
                            st.null_count
                        )
                    else:
                        null_unknown.add(cname)
                except Exception:
                    null_unknown.add(cname)
                try:
                    if st is None or not st.has_min_max:
                        continue
                    mn, mx = self._stat_val(st.min), self._stat_val(st.max)
                except Exception:
                    # pyarrow cannot decode stats for every physical
                    # type (ArrowNotImplementedError at st.min on
                    # boolean columns) — absent stats mean 'cannot
                    # prune', so skip, never fail the WRITE over an
                    # optimization (r9: a boolean column crashed every
                    # versioned publish)
                    continue
                if mn is None or mx is None:
                    continue
                if cname in out:
                    out[cname] = [min(out[cname][0], mn), max(out[cname][1], mx)]
                else:
                    out[cname] = [mn, mx]
        n_rows = int(md.num_rows)
        for cname, nc in nulls.items():
            if cname in null_unknown:
                continue
            if cname in out:
                out[cname] = out[cname][:2] + [nc, n_rows]
            else:
                out[cname] = [None, None, nc, n_rows]
        return out

    def _collect_stats(self, name: str, files: list[str], prev: dict) -> dict:
        """Stats map {rel_file: {col: [min, max]}} for a manifest about
        to publish: carried FORWARD from ``prev`` (the base manifest's
        map, plus the seed a restore passes — its target version's
        stats, so rolling back stays metadata-only, code-review r8
        wave 2) for files already covered (part-files are immutable,
        so stats never go stale), footer-read only for genuinely new
        files — at 100 TB the per-publish cost is the churned buckets'
        new files, each a single footer read by the writer that just
        produced it."""
        return {
            f: (prev[f] if f in prev else self._file_stats(name, f))
            for f in files
        }

    def read_where(
        self,
        name: str,
        col: str | None = None,
        between: tuple | None = None,
        version: int | None = None,
        ranges: dict | None = None,
    ) -> DataFrame:
        """DATA-SKIPPING read (Delta/Iceberg file-pruning parity): rows
        of a versioned keyed table with ``col`` BETWEEN the two bounds
        (inclusive; pass (v, v) for equality), planning the scan over
        ONLY the files whose manifest-carried [min, max] interval for
        ``col`` overlaps the range. The pruning decision reads the
        KILOBYTE manifest — no footers, no data — so at 100 TB a
        point/range query on a clustered column (write via
        compact(sort_cols=...) or overwrite after a sort) opens a
        handful of files instead of the table. Files without a
        recorded stat for ``col`` are always kept (pruning is an
        optimization, never a correctness gate), and the exact filter
        still applies on the scan — BETWEEN semantics, NULLs never
        match.

        ``ranges={col: (lo, hi), ...}`` is the multi-column
        conjunction form (every predicate must hold): a file survives
        only if EVERY listed column's interval overlaps its stats, so
        the kept set is the intersection of the per-column prunes —
        the payoff of z-ordered layout, where every file is narrow in
        every clustered dimension at once.

        This is the stats-only specialized verb; ``read(name,
        where=...)`` (r13) is the general entry point that also
        consults bloom sidecars and bucket routing per conjunct."""
        where = self._normalize_ranges(col, between, ranges)
        return self.read(name, version=version, where=where)

    @staticmethod
    def _normalize_ranges(col, between, ranges) -> dict:
        """The one validation of read_where/pruned_file_count's two
        calling forms (code-review r8 wave 4: the first cut let
        col-without-between, between-without-col, and an empty ranges
        dict crash deep in pruning with opaque TypeErrors). Returns
        the planner's conjunct dict: one inclusive ``slice(lo, hi)``
        per column."""
        if ranges is not None:
            if col is not None or between is not None:
                raise ValueError("pass col+between OR ranges, exactly one")
            if not ranges:
                raise ValueError("ranges must name at least one column")
            # isinstance BEFORE len() (ADVICE r8): a scalar bound like
            # ranges={"x": 5} must get the descriptive ValueError, not
            # the bare TypeError this validator exists to replace
            bad = {
                c: b
                for c, b in ranges.items()
                if not isinstance(c, str)
                or not isinstance(b, (tuple, list))
                or len(b) != 2
            }
            if bad:
                raise ValueError(f"malformed ranges entries: {bad}")
            return {c: slice(*b) for c, b in ranges.items()}
        if col is None or between is None:
            raise ValueError("pass col+between OR ranges, exactly one")
        if not isinstance(between, (tuple, list)) or len(between) != 2:
            raise ValueError(f"between must be (lo, hi), got {between!r}")
        return {col: slice(*between)}

    def _pruned_files(
        self, snap: _Snapshot, col: str, between: tuple
    ) -> list[str]:
        """The ONE stats pruning decision (plan_read's, for ranges and
        equalities, so the observability counters can never drift
        from what the plan actually opens — the _key_match lesson):
        keep a file when its recorded [min, max] for ``col``
        overlaps the bounds, or when no stat / no encodable bound
        exists (absent stats mean 'cannot prune', never 'no rows');
        incomparable encodings also keep — pruning is an optimization,
        the exact filter owns correctness. A file whose null-count
        stats say the column is ALL NULL is skipped regardless of the
        bounds (r13): BETWEEN/equality semantics never match NULL, so
        no row in it can pass the exact filter."""
        stats = snap.stats
        lo, hi = self._stat_val(between[0]), self._stat_val(between[1])
        keep = []
        for f in snap.files:
            s = stats.get(f, {}).get(col)
            if s is None:
                keep.append(f)
                continue
            if self._all_null(s):
                continue
            if lo is None or hi is None:
                keep.append(f)
                continue
            try:
                overlaps = not (s[1] < lo or s[0] > hi)
            except TypeError:
                overlaps = True
            if overlaps:
                keep.append(f)
        return keep

    @staticmethod
    def _all_null(s) -> bool:
        """True when a stats entry's null-count extension proves the
        column is NULL on EVERY row of the file (and the file is
        non-empty — an empty file has nothing to keep either, but
        empty parts are not published). 2-element legacy entries and
        unknown counts return False: cannot prove, cannot prune."""
        return (
            len(s) >= 4
            and s[2] is not None
            and s[3] is not None
            and s[2] == s[3]
        )

    def _null_pruned_files(
        self, snap: _Snapshot, col: str, want_null: bool
    ) -> list[str]:
        """Kept files for an IS_NULL (``want_null=True``) or NOT_NULL
        probe, from the manifests' null-count stats: an IS_NULL probe
        skips files whose footer recorded ZERO nulls for the column;
        a NOT_NULL probe skips files recorded ALL-null. Files with a
        legacy 2-element entry, an unknown count, or no entry at all
        (including files that predate a late-added column — their rows
        read back as NULL under schema merge, so they MUST stay in an
        IS_NULL scan) always keep."""
        stats = snap.stats
        keep = []
        for f in snap.files:
            s = stats.get(f, {}).get(col)
            if s is None or len(s) < 4 or s[2] is None or s[3] is None:
                keep.append(f)
                continue
            if want_null:
                if s[2] > 0:
                    keep.append(f)
            else:
                if s[2] < s[3]:
                    keep.append(f)
        return keep

    @staticmethod
    def _next_prefix(p: str) -> str | None:
        """The smallest string that sorts AFTER every string starting
        with ``p`` (increment the last code point, carrying over
        maxed-out tails; skip the surrogate block, which cannot appear
        in well-formed stats). None when every code point is U+10FFFF
        — then only the lower bound prunes."""
        chars = list(p)
        while chars:
            o = ord(chars[-1])
            if o < 0x10FFFF:
                nxt = o + 1
                if 0xD800 <= nxt <= 0xDFFF:
                    nxt = 0xE000
                chars[-1] = chr(nxt)
                return "".join(chars)
            chars.pop()
        return None

    def _prefix_pruned_files(
        self, snap: _Snapshot, col: str, p: str
    ) -> list[str]:
        """Kept files for a Prefix probe: a string starting with ``p``
        satisfies ``p <= x < _next_prefix(p)``, so a file is skipped
        when its recorded max sorts below ``p`` or its recorded min
        sorts at/above the exclusive upper bound. Non-string stats
        (the column is not a string at this file — schema evolution)
        and absent entries keep; all-NULL files skip (startswith never
        matches NULL)."""
        stats = snap.stats
        hi = self._next_prefix(p)
        keep = []
        for f in snap.files:
            s = stats.get(f, {}).get(col)
            if s is None:
                keep.append(f)
                continue
            if self._all_null(s):
                continue
            mn, mx = s[0], s[1]
            if not isinstance(mn, str) or not isinstance(mx, str):
                keep.append(f)
                continue
            if mx < p:
                continue
            if hi is not None and mn >= hi:
                continue
            keep.append(f)
        return keep

    _STATS_SCALAR_AGGS = ("min", "max", "count", "count_col")

    def stats_scalar(
        self,
        name: str,
        agg: str,
        col: str | None = None,
        version: int | None = None,
    ):
        """Scalar aggregate answered ENTIRELY from manifest stats —
        a kilobyte metadata read, ZERO Spark jobs (Delta's
        stats-answered ``SELECT MAX(col)`` / ``COUNT(*)`` parity, the
        watermark-gate shape at no scan cost). ``agg``:

        - ``"count"`` — COUNT(*): sum of per-file row counts (any
          column's null-count extension carries num_rows).
        - ``"count_col"`` — COUNT(col): rows minus NULLs of ``col``.
        - ``"min"`` / ``"max"`` — MIN/MAX(col) over non-null values:
          fold of the per-file [min, max] entries; all-NULL files
          contribute nothing; every file all-NULL returns None (SQL
          MIN/MAX of no values). STRING columns are refused (parquet
          writers may truncate binary stats, and a truncated bound is
          a valid PRUNING bound but not an exact extremum; numeric /
          date / timestamp / bool stats are always exact).

        Returns the scalar, or raises ``ValueError`` when the stats
        cannot answer EXACTLY — a live file missing the needed entry
        (pre-extension manifest, INT96 timestamps, undecodable types)
        means the caller must run the real aggregate; this verb never
        silently approximates. Timestamps/dates decode back from
        their order-preserving ISO encoding to ``datetime``/``date``,
        so the result is exactly what the scan-based aggregate would
        collect."""
        if agg not in self._STATS_SCALAR_AGGS:
            raise ValueError(
                f"agg must be one of {self._STATS_SCALAR_AGGS}, "
                f"got {agg!r}"
            )
        if agg != "count" and col is None:
            raise ValueError(f"{agg} needs col=")
        snap = self._snapshot(name, version).require_manifest("stats_scalar")
        stats = snap.stats
        files = snap.files
        if agg == "count":
            total = 0
            for f in files:
                fs = stats.get(f, {})
                rows = next(
                    (
                        s[3] for s in fs.values()
                        if len(s) >= 4 and s[3] is not None
                    ),
                    None,
                )
                if rows is None:
                    raise ValueError(
                        f"{name}: stats cannot answer COUNT(*) — file "
                        f"{f!r} carries no row-count extension (pre-"
                        "extension manifest; compact(name, max_files_per_bucket=0) rewrites every bucket and republishes it)"
                    )
                total += rows
            return total
        # carried-forward physical stats survive a drop_column, but the
        # scan-based aggregate would raise on the column, so refuse
        phys = snap.physical(col)
        if agg == "count_col":
            total = 0
            for f in files:
                s = stats.get(f, {}).get(phys)
                if s is None or len(s) < 4 or s[2] is None or s[3] is None:
                    raise ValueError(
                        f"{name}: stats cannot answer COUNT({col}) — "
                        f"file {f!r} has no null-count entry for it"
                    )
                total += s[3] - s[2]
            return total
        # min / max
        dtype = snap.dtype(phys)
        if dtype is None:
            # no manifest-recorded schema (heal-window publish, or a
            # column the snapshot never carried): without the type we
            # can neither apply the string-truncation refusal nor
            # decode timestamp/date bounds — exact-or-refuse means
            # refuse (review: returning the raw encoded stat here
            # silently broke both contracts)
            raise ValueError(
                f"{name}: stats cannot answer {agg.upper()}({col}) — "
                "the snapshot records no schema type for it; run the "
                "real aggregate"
            )
        if dtype == "string":
            raise ValueError(
                f"{name}: refusing stats MIN/MAX on string column "
                f"{col!r} — parquet writers may truncate string stats "
                "(valid bounds for pruning, not exact extrema); run "
                "the real aggregate"
            )
        best = None
        for f in files:
            s = stats.get(f, {}).get(phys)
            if s is None:
                raise ValueError(
                    f"{name}: stats cannot answer {agg.upper()}({col}) "
                    f"— file {f!r} has no stats entry for it"
                )
            if self._all_null(s):
                continue  # no non-null values to contribute
            b = s[0] if agg == "min" else s[1]
            if b is None:
                raise ValueError(
                    f"{name}: stats cannot answer {agg.upper()}({col}) "
                    f"— file {f!r} has null counts but no [min, max]"
                )
            if best is None:
                best = b
            else:
                best = min(best, b) if agg == "min" else max(best, b)
        return self._stat_decode(best, dtype)

    def count_where(
        self,
        name: str,
        where: dict,
        version: int | None = None,
        with_report: bool = False,
    ):
        """EXACT planned COUNT (partial aggregate pushdown — the
        row-group-count trick DuckDB/Delta play on parquet, done at
        the manifest level): count the rows matching ONE conjunct
        dict (the read(where=) grammar) by splitting the snapshot's
        files three ways — files the pruners prove can hold NO match
        contribute zero, files the stats prove EVERY row matches
        contribute their recorded row count with no I/O, and only the
        BOUNDARY files (partial overlap) scan, with the exact
        predicate applied. "How many events in March" on a date-slab
        table reads the two edge files at any table size; a
        slab-aligned range (or a pure IS_NULL/NOT_NULL conjunct on a
        fully-extended snapshot) costs ZERO Spark jobs.

        ALL-match proofs are conservative: every value kind demands a
        recorded zero null count (predicates never match NULL), range
        containment compares in the order-preserving stat encoding,
        prefix containment uses [p, next_prefix(p)) (writer-truncated
        string stats under-run the min and over-run the max, which is
        exactly the safe direction for a containment proof), and
        membership (Has) never proves ALL — bloom can only prove
        absence. Returns the exact count; ``with_report=True`` returns
        ``(count, {"total_files", "pruned", "stats_counted",
        "scanned", "rows_from_stats"})`` — the observability twin."""
        if not isinstance(where, dict) or not where:
            raise ValueError(
                "count_where takes ONE conjunct dict ({col: spec}) — "
                "count a disjunction as branch counts minus overlaps, "
                "or scan read(where=[...])"
            )
        snap = self._snapshot(name, version).require_manifest("count_where")
        stats = snap.stats
        # a dropped column raises here: the all-proven path must not
        # answer from retention artifacts (review)
        specs = [
            (snap.physical(c), *self._classify_spec(c, spec))
            for c, spec in where.items()
        ]
        keep_set, _cols = self._plan_branch(snap, where)
        from_stats = 0
        n_full = 0
        boundary: list[str] = []
        for f in snap.files:
            if f not in keep_set:
                continue
            fs = stats.get(f, {})
            proven = all(
                self._proves_all_match(fs.get(phys), kind, payload)
                for phys, kind, payload in specs
            )
            rows = next(
                (
                    s[3] for s in fs.values()
                    if len(s) >= 4 and s[3] is not None
                ),
                None,
            )
            if proven and rows is not None:
                from_stats += rows
                n_full += 1
            else:
                boundary.append(f)
        n = from_stats
        if boundary:
            n += (
                self._to_logical(
                    self._read_manifest_df(snap, boundary), snap.colmap
                )
                .filter(self._branch_expr(where))
                .count()
            )
        if not with_report:
            return n
        return n, {
            "total_files": len(snap.files),
            "pruned": len(snap.files) - len(keep_set),
            "stats_counted": n_full,
            "scanned": len(boundary),
            "rows_from_stats": from_stats,
        }

    @classmethod
    def _proves_all_match(cls, s, kind: str, payload) -> bool:
        """True when a file's stats entry PROVES every row satisfies
        the conjunct — count_where's no-I/O contribution test. Absent
        entries, legacy 2-element entries, unknown nulls, and
        membership probes all return False (scan owns it)."""
        if s is None:
            return False
        nulls_known = (
            len(s) >= 4 and s[2] is not None and s[3] is not None
        )
        if kind == "isnull":
            return nulls_known and s[2] == s[3]
        # every value kind needs zero NULLs: a NULL row never matches
        if not nulls_known or s[2] != 0:
            return False
        if kind == "notnull":
            return True
        mn, mx = s[0], s[1]
        if mn is None or mx is None:
            return False
        try:
            if kind == "range":
                lo = cls._stat_val(payload[0])
                hi = cls._stat_val(payload[1])
                return (
                    lo is not None and hi is not None
                    and lo <= mn and mx <= hi
                )
            if kind == "eq":
                val = cls._stat_val(payload[0])
                return val is not None and mn == val and mx == val
            if kind == "in":
                vs = {cls._stat_val(p) for p in payload}
                return None not in vs and mn == mx and mn in vs
            if kind == "prefix":
                p = payload[0]
                hi = cls._next_prefix(p)
                return (
                    isinstance(mn, str) and isinstance(mx, str)
                    and mn >= p and (hi is None or mx < hi)
                )
        except TypeError:
            return False
        return False  # has / unknown kinds: a scan owns it

    @staticmethod
    def _stat_decode(v, dtype: str | None):
        """Invert _stat_val's order-preserving encoding back to the
        column's Python type (timestamp/date columns encode as ISO
        strings in the manifest)."""
        if v is None or dtype is None or not isinstance(v, str):
            return v
        if dtype.startswith("timestamp"):
            return dt.datetime.fromisoformat(v)
        if dtype == "date":
            return dt.date.fromisoformat(v.split(" ")[0])
        return v

    def pruned_file_count(
        self,
        name: str,
        col: str | None = None,
        between: tuple | None = None,
        version: int | None = None,
        ranges: dict | None = None,
    ) -> tuple[int, int]:
        """(files the read_where plan would open, total live files) —
        the observability hook tests and capacity planning use to see
        data skipping actually skipping. Takes read_where's two
        calling forms and plans them through the same plan_read, so
        the counter can never drift from the plan."""
        keep, report = self.plan_read(
            name, self._normalize_ranges(col, between, ranges),
            version=version,
        )
        return len(keep), report["total_files"]

    def _warn_if_stats_inert(self, snap: _Snapshot, col: str) -> None:
        """LOUD no-stats signal (VERDICT r8 item 3 'what's wrong'):
        when a requested prune column carries NO [min, max] stat in
        ANY of the snapshot's files, data skipping on it is silently
        inert — every file is kept — which reads exactly like pruning
        working until someone measures. The classic trigger is a
        timestamp column written under Spark's INT96 parquet default
        (INT96 footers carry no min/max; this repo's session writes
        TIMESTAMP_MICROS since r8, but a vanilla writer's files have
        nothing to collect). Correctness is unaffected (absent stats
        mean 'cannot prune', never 'no rows'), so this warns and
        counts — ``prune_stat_misses`` is the observability counter —
        instead of raising."""
        files = snap.files
        if not files:
            return
        stats = snap.stats
        # a [None, None, nulls, rows] extension entry carries NO
        # usable min/max — range/prefix pruning on it is just as
        # inert as no entry at all, so it must not silence the
        # warning (review: the null-count extension regressed this).
        # A provably ALL-NULL file IS prunable evidence though (value
        # probes skip it outright), so it counts.
        if any(
            (s := stats.get(f, {}).get(col)) is not None
            and (
                (s[0] is not None and s[1] is not None)
                or self._all_null(s)
            )
            for f in files
        ):
            return
        import warnings

        key = (snap.name, col)
        self.prune_stat_misses[key] = self.prune_stat_misses.get(key, 0) + 1
        warnings.warn(
            f"{snap.name}: no min/max stats recorded for prune column "
            f"{col!r} in any of {len(files)} files — data skipping is "
            "INERT (every file scans). Likely cause: the files were "
            "written without column statistics for this type (e.g. a "
            "timestamp column under Spark's INT96 parquet default — "
            "set spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS "
            "and rewrite, e.g. compact(name, max_files_per_bucket=0) "
            "— the default compact skips healthy buckets).",
            stacklevel=3,
        )

    def stats_coverage(
        self, name: str, version: int | None = None
    ) -> dict:
        """Operability verb (bloom_coverage's stats twin): per LOGICAL
        column, how many of the snapshot's files carry a [min, max]
        stat and how many carry the null-count extension —
        ``{col: {"minmax": n, "nulls": n, "total": N}}``. The answer
        to "why is my range/prefix probe not pruning" (minmax == 0:
        INT96 timestamps, non-encodable types, pre-stats manifests)
        and "why is my IS_NULL probe inert / stats_scalar refusing"
        (nulls < total: pre-extension entries —
        ``compact(name, max_files_per_bucket=0)`` rewrites every
        bucket and republishes with the extension; the DEFAULT
        compact skips healthy buckets and would be a no-op on a
        well-maintained table). Kilobyte manifest read, zero Spark
        jobs."""
        snap = self._snapshot(name, version).require_manifest(
            "stats_coverage", versioned=False
        )
        stats = snap.stats
        files = snap.files
        cm = snap.colmap or {}
        dropped = set(cm.get("dropped", []))
        to_logical = {p: l for l, p in cm.get("renames", {}).items()}
        out: dict = {}
        # schema-known columns first, so never-covered ones show 0s
        for phys in snap.schema.names if snap.schema is not None else []:
            if phys != "_kb" and phys not in dropped:
                out[to_logical.get(phys, phys)] = {
                    "minmax": 0, "nulls": 0, "total": len(files)
                }
        for f in files:
            for phys, s in stats.get(f, {}).items():
                if phys in dropped:
                    continue  # retention artifacts of drop_column
                col = to_logical.get(phys, phys)
                ent = out.setdefault(
                    col, {"minmax": 0, "nulls": 0, "total": len(files)}
                )
                if s[0] is not None and s[1] is not None:
                    ent["minmax"] += 1
                if len(s) >= 4 and s[2] is not None:
                    ent["nulls"] += 1
        return out

    def _warn_if_null_stats_inert(self, snap: _Snapshot, col: str) -> None:
        """_warn_if_stats_inert's twin for IS_NULL/NOT_NULL probes:
        those prune on the NULL-COUNT extension (4-element entries,
        r13), which legacy manifests' carried-forward 2-element
        entries lack — a probe against an old snapshot is silently
        inert even though min/max stats exist. Same counter, same
        warn-don't-raise contract; rewriting the files
        (``compact(name, max_files_per_bucket=0)`` — the default
        compact skips healthy buckets) republishes with the extended
        entries."""
        files = snap.files
        if not files:
            return
        stats = snap.stats
        if any(
            (s := stats.get(f, {}).get(col)) is not None
            and len(s) >= 4
            and s[2] is not None
            for f in files
        ):
            return
        import warnings

        # distinct key from the min/max-inert counter: conflating the
        # two made "why is my probe inert" ambiguous and double-counted
        # probes hitting both warnings (ADVICE r13)
        key = (snap.name, col, "nulls")
        self.prune_stat_misses[key] = self.prune_stat_misses.get(key, 0) + 1
        warnings.warn(
            f"{snap.name}: no null-count stats recorded for prune column "
            f"{col!r} in any of {len(files)} files — IS_NULL/NOT_NULL "
            "skipping is INERT (every file scans). Likely cause: the "
            "manifest carries pre-r13 stats entries; rewrite the files "
            "(compact(name, max_files_per_bucket=0) — the default "
            "compact skips healthy buckets) to republish with null "
            "counts.",
            stacklevel=3,
        )

    # -- per-file BLOOM index: equality-probe file skipping ------------
    #
    # min/max stats (read_where) prune RANGE predicates on clustered
    # columns, but an equality probe on a high-cardinality UNCLUSTERED
    # column — "fetch this customer's orders" on a table bucketed by
    # orderkey — straddles every file's [min, max], so stats skipping
    # is inert. Delta answers this with its bloom filter index (a
    # sidecar per file); the analog here is a per-file bloom bitmap
    # over xxhash64(col), stored as a SIDECAR parquet dataset under
    # the table dir (never in the manifest: at 100 TB a 128 KiB bitmap
    # per file would bloat the kilobyte manifests vacuum/resolvers
    # re-read constantly, while the sidecar is touched only by probes
    # that benefit from it). File immutability makes staleness safe:
    # a bitmap stays valid for its file forever; files written after
    # the index build are simply not covered and always scan.

    _BLOOM_SEED = 17

    def _bloom_dir(self, name: str, phys_col: str) -> str:
        return os.path.join(self._dir(name), ".bloomidx", phys_col)

    def _bloom_bitmaps(
        self, df: DataFrame, phys: str, m_bits: int, k: int, seed: int,
        elements: bool = False,
    ) -> DataFrame:
        """(file, bitmap) per source parquet file of ``df`` — the build
        core shared by full and incremental indexing. ONE scan, NO
        row shuffle: bit positions are computed JVM-side (k seeded
        xxhash64, mod m), each task folds its rows into per-file
        bitmaps in Arrow batches, and a file split across tasks is
        OR-merged by a tiny groupBy over (file, bitmap) rows — n_files
        rows total, never row-sized data. ``elements=True`` (array
        columns) hashes the column's exploded ELEMENTS instead of the
        values, so membership probes can test single tokens. The
        explode is OUTER: rows whose array is empty or NULL surface
        one NULL element (hashing to the k seed positions, same as an
        all-NULL scalar column), so a file made only of such rows
        still gets a bitmap and counts as COVERED — otherwise
        update_bloom_index would rescan it on every run and
        bloom_coverage could never reach zero uncovered (review)."""
        import numpy as np
        import pandas as pd

        n_bytes = (m_bits + 7) // 8
        parts = F.split(F.input_file_name(), "/")
        src = df.select(
            # manifest-relative file path: always _kb=N/part-...
            F.concat_ws(
                "/", F.element_at(parts, -2), F.element_at(parts, -1)
            ).alias("_file"),
            (
                F.explode_outer(F.col(phys)) if elements else F.col(phys)
            ).alias("_v"),
        )
        pos = src.select(
            "_file",
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.col("_v"), F.lit(seed + i)),
                            F.lit(m_bits),
                        )
                        for i in range(k)
                    ]
                )
            ).alias("_pos"),
        )

        def fold(batches):
            maps: dict = {}
            for pdf in batches:
                for f, grp in pdf.groupby("_file"):
                    bm = maps.get(f)
                    if bm is None:
                        bm = maps[f] = np.zeros(n_bytes, dtype=np.uint8)
                    p = grp["_pos"].to_numpy()
                    np.bitwise_or.at(
                        bm, p >> 3, (1 << (p & 7)).astype(np.uint8)
                    )
            yield pd.DataFrame(
                {
                    "file": list(maps),
                    "bitmap": [m.tobytes() for m in maps.values()],
                }
            )

        def or_merge(pdf: pd.DataFrame) -> pd.DataFrame:
            out = np.zeros(n_bytes, dtype=np.uint8)
            for b in pdf["bitmap"]:
                out |= np.frombuffer(b, dtype=np.uint8)
            return pd.DataFrame(
                {"file": [pdf["file"].iloc[0]], "bitmap": [out.tobytes()]}
            )

        return (
            pos.mapInPandas(fold, "file string, bitmap binary")
            .groupBy("file")
            .applyInPandas(or_merge, "file string, bitmap binary")
        )

    def _bloom_claim(self, name: str, phys: str, body):
        """Run ``body()`` as a sidecar MAINTENANCE verb, serialized per
        (table, column) behind the store's create-exclusive heartbeated
        claim (VERDICT r12 item 5): build/update/compact on the same
        index are mutually exclusive, closing the documented lost-part
        window where an update racing compact's directory swap landed
        its part in the retiring dir. Probes stay claim-free — they
        only read, and degrade to no-pruning under any race. The claim
        lives BESIDE the index dir (not inside it) because compact
        renames the dir itself. A claim orphaned by a crashed verb
        goes stale after ``CLAIM_STALE_S`` and is stolen; the
        heartbeat keeps a long legitimate build from looking
        orphaned."""
        claim = os.path.join(self._dir(name), f".bloomidx-claim-{phys}")
        return run_claim_serialized(
            claim, lambda: None, body,
            f"{name}.{phys}: bloom index maintenance",
        )

    @staticmethod
    def _bloom_publish(final: str, stage):
        """Publish a sidecar index directory failure-atomically — the
        one swap of build and compact — and return what ``stage``
        returned: ``stage(tmp)`` writes the new index into a private
        ``tmp`` dir, the live index (if any) renames aside, ``tmp``
        renames in, and a failed second rename restores the live index
        before the error propagates (code-review r12), so a failure
        anywhere leaves the old index serving probes. A probe racing
        the two renames finds no index, which only costs it its
        pruning."""
        import uuid

        tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
        old = f"{final}.old-{uuid.uuid4().hex[:8]}"
        try:
            staged = stage(tmp)
            live = os.path.isdir(final)
            if live:
                _fs.rename(final, old)
            try:
                _fs.rename(tmp, final)
            except OSError:
                if live:
                    _fs.rename(old, final)
                raise
            if live:
                shutil.rmtree(old, ignore_errors=True)
            return staged
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    @staticmethod
    def _bloom_meta_of(bdir: str) -> dict | None:
        """The one reader of a sidecar's ``meta.json``: the dict, or
        None when no index is published at ``bdir``. An unreadable or
        malformed file raises (OSError / ValueError)."""
        try:
            with open(os.path.join(bdir, "meta.json")) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def build_bloom_index(
        self,
        name: str,
        col: str,
        m_bits: int = 1 << 20,
        k: int = 5,
        version: int | None = None,
        elements: bool = False,
    ) -> int:
        """Build (or rebuild from scratch) the per-file bloom index for
        equality probes on ``col``; returns the number of files
        indexed. ``elements=True`` builds an ELEMENT index over an
        array column (bitmaps hash the exploded elements), serving
        ``Has(...)`` membership probes instead of equality — required
        for array columns, rejected for scalar ones (the two modes
        hash different things; meta records which, and probes of the
        other shape degrade to no pruning rather than risk false
        negatives).

        Sizing: m ≈ 9.6·n_distinct_per_file bits gives ~1% false
        positives at k=5 — the default 1 Mib (128 KiB) bitmap covers
        ~109k distinct values per file; size m_bits to the expected
        per-file cardinality (for element indexes: distinct ELEMENTS
        per file), not the table's.

        The index publishes failure-atomically (``_bloom_publish``); a
        probe that races the rebuild sees the old index, the new one or
        none, all correct (no index = no pruning). File immutability
        makes coverage permanent: a bitmap stays valid for its file
        forever, and files written later are caught up INCREMENTALLY by
        ``update_bloom_index`` — the nightly maintenance verb — which
        scans only the uncovered files."""
        snap = self._snapshot(name, version).require_manifest(
            "build_bloom_index"
        )
        phys = snap.physical(col)
        df = self._read_manifest_df(snap)
        if phys not in df.columns:
            raise ValueError(
                f"{name}: no column {col!r} (physical {phys!r}) to index"
            )
        from pyspark.sql.types import ArrayType

        is_array = isinstance(df.schema[phys].dataType, ArrayType)
        if elements and not is_array:
            raise ValueError(
                f"{name}: elements=True needs an array column, "
                f"{col!r} is {df.schema[phys].dataType.simpleString()}"
            )
        if is_array and not elements:
            raise ValueError(
                f"{name}: {col!r} is an array column — index its "
                "elements (elements=True) and probe with Has(...); a "
                "whole-array bitmap would serve no planner probe"
            )
        dtype = (
            df.schema[phys].dataType.elementType.simpleString()
            if elements
            else df.schema[phys].dataType.simpleString()
        )
        seed = self._BLOOM_SEED
        merged = self._bloom_bitmaps(
            df, phys, m_bits, k, seed, elements=elements
        )

        def _stage(tmp: str) -> None:
            merged.write.mode("overwrite").parquet(
                os.path.join(tmp, "parts", "full.parquet")
            )
            with open(os.path.join(tmp, "meta.json"), "w") as fh:
                json.dump(
                    {
                        "version": snap.version,
                        "m_bits": m_bits,
                        "k": k,
                        "seed": seed,
                        "col": col,
                        "phys": phys,
                        "dtype": dtype,
                        "elements": elements,
                        "n_files": len(snap.files),
                    },
                    fh,
                )

        self._bloom_claim(
            name, phys,
            lambda: self._bloom_publish(self._bloom_dir(name, phys), _stage),
        )
        return len(snap.files)

    def update_bloom_index(
        self, name: str, col: str, version: int | None = None
    ) -> int:
        """INCREMENTAL index maintenance: scan only the live files the
        index does not yet cover (written by upserts/compactions since
        the last build/update) and APPEND their bitmaps as a new part
        of the sidecar dataset — the historical files are never
        re-scanned, mirroring the store's every other maintenance verb.
        Bitmaps of removed files linger harmlessly (probes intersect
        with the live manifest); a periodic ``build_bloom_index``
        rebuild reclaims them. Returns the number of newly indexed
        files (0 = fully covered, nothing scanned).

        If the live column's type no longer matches the type the index
        was built under (``meta['dtype']``) — possible via a schema-
        widening write, since xxhash64(int x) != xxhash64(bigint x) —
        mixing old and new bitmaps would make probes hash differently
        than the stored bits and produce SILENT FALSE NEGATIVES, so
        this forces a full ``build_bloom_index`` rebuild at the
        recorded sizing instead (ADVICE r12)."""
        import uuid

        snap = self._snapshot(name, version).require_manifest(
            "update_bloom_index", versioned=False
        )
        phys = snap.physical(col)
        bdir = self._bloom_dir(name, phys)
        meta = self._bloom_meta(name, col, bdir)
        live_dtype = snap.dtype(phys)
        expected = self._bloom_expected_dtype(meta)
        if live_dtype is not None and live_dtype != expected:
            import warnings

            warnings.warn(
                f"{name}: bloom index on {col!r} was built under dtype "
                f"{expected!r} but the column is now {live_dtype!r}"
                " — incremental bitmaps would hash differently than the "
                "recorded probes (silent false negatives), so the index "
                "is being fully rebuilt at the recorded sizing.",
                RuntimeWarning,
                stacklevel=2,
            )
            return self.build_bloom_index(
                name, col, m_bits=meta["m_bits"], k=meta["k"],
                version=snap.version, elements=bool(meta.get("elements")),
            )

        def _update() -> int:
            covered = {
                r["file"] for r in self._bloom_index_df(bdir)
                .select("file").collect()
            }
            new = [f for f in snap.files if f not in covered]
            if not new:
                return 0
            merged = self._bloom_bitmaps(
                self._read_manifest_df(snap, new), phys, meta["m_bits"],
                meta["k"], meta["seed"], elements=bool(meta.get("elements")),
            )
            tmp = os.path.join(bdir, f".tmp-{uuid.uuid4().hex[:8]}")
            try:
                merged.write.mode("overwrite").parquet(tmp)
                _fs.rename(
                    tmp,
                    os.path.join(
                        bdir, "parts", f"inc-{uuid.uuid4().hex[:8]}.parquet"
                    ),
                )
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            return len(new)

        return self._bloom_claim(name, phys, _update)

    def _bloom_meta(self, name: str, col: str, bdir: str) -> dict:
        """Load the sidecar's meta.json for a MAINTENANCE verb,
        distinguishing 'never built' from 'mid-swap under a racing or
        crashed compact' (ADVICE r12): when meta.json is absent but a
        sibling ``<dir>.tmp-*``/``<dir>.old-*`` swap dir exists, retry
        briefly (the swap is two renames apart), then report the race
        explicitly instead of the misleading 'run build_bloom_index
        first'. The maintenance claim makes the live-race window
        internal; the distinction still matters for crash leftovers."""
        parent, leaf = os.path.dirname(bdir), os.path.basename(bdir)

        def _swap_sibling() -> bool:
            if not os.path.isdir(parent):
                return False
            return any(
                e.startswith((f"{leaf}.tmp-", f"{leaf}.old-"))
                for e in os.listdir(parent)
            )

        for attempt in range(4):
            meta = self._bloom_meta_of(bdir)
            if meta is not None:
                return meta
            if attempt == 3 or not _swap_sibling():
                break
            time.sleep(0.1 * (attempt + 1))
        if _swap_sibling():
            raise RuntimeError(
                f"{name}: bloom index on {col!r} is MID-SWAP (a "
                "concurrent compact_bloom_index, or a crashed verb's "
                ".tmp-/.old- leftover, holds the directory) — retry, "
                "or rebuild with build_bloom_index if the sibling is "
                "a crash leftover"
            )
        raise ValueError(
            f"{name}: no bloom index on {col!r} — run "
            "build_bloom_index first"
        )

    @staticmethod
    def _bloom_expected_dtype(meta: dict) -> str:
        """The live column type a sidecar's bitmaps are valid for:
        ``meta['dtype']`` records the HASHED type — the element type
        for an element index — so an element index built on
        array<string> expects the live column to still be
        array<string>."""
        d = meta["dtype"]
        return f"array<{d}>" if meta.get("elements") else d

    def _bloom_index_df(self, bdir: str) -> DataFrame:
        """The sidecar dataset: every (file, bitmap) part written by
        the full build plus incremental updates."""
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(os.path.join(bdir, "parts"))
        )

    def compact_bloom_index(
        self, name: str, col: str
    ) -> tuple[int, int]:
        """Reclaim the sidecar's accumulated debt WITHOUT rescanning
        any data: bitmaps of files no longer in the live manifest
        (vacuumed/compacted away) are dropped, duplicate coverage rows
        from raced updates dedup to one, and the incremental parts
        fold into a single part. Returns (live rows kept, stale rows
        dropped). This touches only the sidecar — n_files rows — so it
        costs seconds at any table size; ``build_bloom_index`` remains
        the full data-rescanning rebuild (e.g. after changing m_bits).
        Publishes failure-atomically like the build
        (``_bloom_publish``); a probe racing it sees the old sidecar,
        the new one or none, all correct. Maintenance verbs
        (build/update/compact) are serialized per (table, column)
        behind the store's heartbeated claim (VERDICT r12 item 5), so
        an update can no longer land its part in the retiring directory
        mid-swap and lose it."""
        snap = self._snapshot(name).require_manifest(
            "compact_bloom_index", versioned=False
        )
        phys = snap.physical(col)
        bdir = self._bloom_dir(name, phys)

        def _compact() -> tuple[int, int]:
            meta = self._bloom_meta(name, col, bdir)
            # semi-join against the live file list, not a 100k-literal
            # isin: the list is driver-small either way, but the join
            # keeps the plan sane at large file counts
            live_df = local_frame(
                self.spark, [(f,) for f in snap.files], "file string"
            )
            idx = self._bloom_index_df(bdir)
            total = idx.count()
            kept = idx.join(
                F.broadcast(live_df), "file", "left_semi"
            ).dropDuplicates(["file"])

            def _stage(tmp: str) -> int:
                kept.write.mode("overwrite").parquet(
                    os.path.join(tmp, "parts", "full.parquet")
                )
                # n_files tracks what the sidecar NOW covers (ADVICE
                # r12: the copied meta went permanently stale here) —
                # count the just-written n_files-row part, not the data
                n_live = (
                    self.spark.read.option("recursiveFileLookup", "true")
                    .parquet(os.path.join(tmp, "parts"))
                    .count()
                )
                with open(os.path.join(tmp, "meta.json"), "w") as fh:
                    json.dump({**meta, "n_files": n_live}, fh)
                return n_live

            n_live = self._bloom_publish(bdir, _stage)
            return n_live, total - n_live

        return self._bloom_claim(name, phys, _compact)

    def bloom_coverage(
        self, name: str, col: str, version: int | None = None
    ) -> dict:
        """Operability verb: how much of the snapshot the bloom index
        on ``col`` actually covers — the maintenance-debt dashboard
        behind the probes' silent degrade-to-scan behavior. Returns
        ``{indexed, n_files, covered, uncovered, stale_rows,
        dtype_ok, m_bits, k, meta_version}``: ``uncovered`` live
        files always scan (update_bloom_index pays them down),
        ``stale_rows`` are sidecar bitmaps for vacuumed/compacted-away
        files (compact_bloom_index reclaims them), ``dtype_ok=False``
        means probes are degrading to full scans until a rebuild
        (ADVICE r12 drift). Cost: one kilobyte manifest read + one
        n_files-row sidecar scan shipping only file NAMES."""
        snap = self._snapshot(name, version).require_manifest(
            "bloom_coverage", versioned=False
        )
        phys = snap.physical(col)
        live = set(snap.files)
        bdir = self._bloom_dir(name, phys)
        meta = self._bloom_meta_of(bdir)
        if meta is None:
            return {
                "indexed": False, "n_files": len(live),
                "covered": 0, "uncovered": len(live), "stale_rows": 0,
            }
        covered_files = {
            r["file"]
            for r in self._bloom_index_df(bdir).select("file")
            .dropDuplicates(["file"]).collect()
        }
        live_dtype = snap.dtype(phys)
        return {
            "indexed": True,
            "n_files": len(live),
            "covered": len(live & covered_files),
            "uncovered": len(live - covered_files),
            "stale_rows": len(covered_files - live),
            "dtype_ok": (
                live_dtype is None
                or live_dtype == self._bloom_expected_dtype(meta)
            ),
            "elements": bool(meta.get("elements")),
            "m_bits": meta["m_bits"],
            "k": meta["k"],
            "meta_version": meta.get("version"),
        }

    def _bloom_degrade_warn(self, name: str, col: str, why: str) -> None:
        """LOUD degraded-probe signal (ADVICE r12): a probe falling
        back to a full scan because the sidecar is unreadable or
        type-inconsistent is CORRECT but slow — persistently so if the
        sidecar is corrupt, which without a signal reads exactly like
        pruning working. Warns and counts (``bloom_degrades`` is the
        observability counter) so one-off mid-swap races (a handful of
        warnings) are distinguishable from permanent corruption (the
        counter climbs forever)."""
        import warnings

        key = (name, col)
        self.bloom_degrades[key] = self.bloom_degrades.get(key, 0) + 1
        warnings.warn(
            f"{name}: bloom probe on {col!r} degraded to NO PRUNING "
            f"(full scan — correct, slower): {why}. Persistent "
            "recurrence means a corrupt sidecar; rebuild with "
            "build_bloom_index.",
            RuntimeWarning,
            stacklevel=3,
        )

    @staticmethod
    def _bloom_values(value) -> list:
        """Normalize a probe argument (scalar or IN-list) to a
        non-empty list of non-NULL values."""
        values = (
            list(value) if isinstance(value, (list, tuple, set))
            else [value]
        )
        if not values:
            raise ValueError("bloom IN-list probe needs at least one value")
        if any(v is None for v in values):
            raise ValueError(
                "bloom probes are equality probes — NULL never equals "
                "anything; filter IS NULL through an ordinary read"
            )
        return values

    # sidecar size under which a probe tests the bitmaps in-process
    # instead of launching a Spark job (32 MB ≈ thousands of files'
    # bitmaps; a 100 TB table's sidecar is orders bigger and keeps the
    # distributed scan)
    _BLOOM_DRIVER_PROBE_BYTES = 32 << 20

    def _bloom_kept_files_driver(
        self, bdir: str, meta: dict, values: list, files: list
    ) -> list | None:
        """Driver-side bitmap test for a small sidecar — the bounded
        fast path of bloom_kept_files. Returns the kept file list, or
        None when the sidecar is too big, a probe value/type cannot be
        hashed bit-exactly in python, or any read fails (callers then
        run the distributed probe, whose semantics are identical)."""
        import numpy as np

        from .functions.xxhash import hash_value

        parts = os.path.join(bdir, "parts")
        try:
            total = 0
            for root, _dirs, names in os.walk(parts):
                for f in names:
                    if f.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(root, f))
                        if total > self._BLOOM_DRIVER_PROBE_BYTES:
                            return None
            m_bits, k, seed = meta["m_bits"], meta["k"], meta["seed"]
            dtype = meta["dtype"]
            # positions via the parity-pinned python xxhash64, casting
            # each probe value as F.lit(v).cast(dtype) would; the
            # chained second column is the literal int seed like the
            # JVM expression form below
            pos = np.empty((len(values), k), dtype=np.int64)
            for vi, val in enumerate(values):
                cast_v = _bloom_cast_probe(val, dtype)
                for i in range(k):
                    h = hash_value(cast_v, dtype, 42)
                    h = hash_value(seed + i, "int", h)
                    h = h - (1 << 64) if h >= (1 << 63) else h
                    pos[vi, i] = h % m_bits
            import pyarrow.dataset as pads

            tbl = pads.dataset(parts, format="parquet").to_table(
                columns=["file", "bitmap"]
            )
            hit_files: set = set()
            covered: set = set()
            for batch in tbl.to_batches():
                fcol = batch.column(0).to_pylist()
                bcol = batch.column(1)
                for ri, fname in enumerate(fcol):
                    covered.add(fname)
                    if fname in hit_files:
                        continue
                    bm = np.frombuffer(
                        bcol[ri].as_py(), dtype=np.uint8
                    )
                    if (
                        (bm[pos >> 3] & (1 << (pos & 7)).astype(np.uint8))
                        != 0
                    ).all(axis=1).any():
                        hit_files.add(fname)
            return [f for f in files if f in hit_files or f not in covered]
        except (TypeError, ValueError, OverflowError, OSError):
            return None  # distributed probe handles what python can't

    def bloom_kept_files(
        self, name: str, col: str, value, version: int | None = None,
        elements: bool | None = None,
    ) -> tuple[list[str], int]:
        """(files an equality probe must open, total live files) — the
        pruning decision read_point plans with, exposed for
        observability like pruned_file_count. ``value`` may be a
        scalar or a list/tuple/set (an IN-list probe: one index scan
        answers every value; a file is kept when ANY value might be in
        it — the batch-key-lookup shape). A file is kept when its
        bitmap might-contain a probe value OR it is not covered by
        the index (written after the build, or no index at all):
        pruning is an optimization, never a correctness gate. The
        bitmaps are tested WHERE THEY LIVE — a pandas-filtered scan of
        the sidecar dataset ships only matching file names to the
        driver, never the bitmaps themselves.

        ``elements`` states the PROBE's shape: False = value equality
        (bitmaps must hash whole values), True = array membership
        (bitmaps must hash elements — ``Has`` probes). When the
        sidecar's recorded mode disagrees, the probe degrades to no
        pruning LOUDLY — testing tokens against whole-array bitmaps
        (or vice versa) would be a silent false negative. ``None``
        (legacy/observability callers) accepts whichever mode the
        sidecar holds. Probes one snapshot (the latest, or
        ``version``) through ``_bloom_probe``, the planner's probe."""
        values = self._bloom_values(value)
        snap = self._snapshot(name, version).require_manifest(
            "bloom_kept_files", versioned=False
        )
        kept = self._bloom_probe(snap, col, values, elements)
        return (list(snap.files) if kept is None else kept), len(snap.files)

    def _bloom_probe(
        self, snap: _Snapshot, col: str, values: list, elements: bool | None
    ) -> list[str] | None:
        """The bloom pruning decision on one snapshot (bloom_kept_files
        and the planner's): the files a probe of ``values`` must open,
        or None when no index on ``col`` is published."""
        import numpy as np
        import pandas as pd

        name, files = snap.name, snap.files
        phys = snap.physical(col)
        bdir = self._bloom_dir(name, phys)
        try:
            meta = self._bloom_meta_of(bdir)
        except (OSError, ValueError) as e:
            # the sidecar is mid-swap under this probe or corrupt:
            # degrade to no pruning — LOUDLY (ADVICE r12: a permanently
            # corrupt meta.json must not read as pruning-working-slowly
            # forever)
            self._bloom_degrade_warn(name, col, f"meta.json unreadable: {e}")
            return list(files)
        if meta is None:
            return None
        if elements is not None and bool(meta.get("elements")) != elements:
            self._bloom_degrade_warn(
                name, col,
                f"index mode elements={bool(meta.get('elements'))} does "
                f"not serve a {'membership' if elements else 'equality'} "
                "probe — rebuild with the matching elements= flag",
            )
            return list(files)
        live_dtype = snap.dtype(phys)
        expected = self._bloom_expected_dtype(meta)
        if live_dtype is not None and live_dtype != expected:
            # probe-side safety net for the ADVICE r12 false-negative
            # mechanism: an index built under another dtype hashes
            # values differently than this snapshot's column — pruning
            # with it could wrongly drop covered files. No pruning
            # until update_bloom_index (which detects this and
            # rebuilds) or build_bloom_index runs.
            self._bloom_degrade_warn(
                name, col,
                f"index dtype {expected!r} != live column dtype "
                f"{live_dtype!r} — rebuild via update_bloom_index/"
                "build_bloom_index",
            )
            return list(files)
        m_bits, k, seed = meta["m_bits"], meta["k"], meta["seed"]
        # r15 (optimization, guide §1.2): a DRIVER fast path for small
        # sidecars. The distributed probe below pays one Spark job +
        # a pandas-worker round trip just to test bitmaps — the right
        # shape when the sidecar is huge (millions of files at 100 TB),
        # pure fixed cost when it is kilobytes. When the parts dataset
        # is under _BLOOM_DRIVER_PROBE_BYTES on disk, read it with
        # pyarrow and test the bitmaps in-process, computing the probe
        # positions with the SAME bit-exact python xxhash64 the bucket
        # router uses (functions/xxhash.py, parity-pinned vs Spark's
        # expression). Types/values python hashing can't mirror
        # (temporal/float casts) fall back to the Spark job, as does
        # any read error — pruning semantics identical either way.
        kept_fast = self._bloom_kept_files_driver(
            bdir, meta, values, files
        )
        if kept_fast is not None:
            return kept_fast
        # probe positions from the SAME JVM expression as the build,
        # with each literal cast to the column's recorded type —
        # xxhash64(int 42) != xxhash64(bigint 42)
        probe = F.array(
            *[
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(
                                F.lit(val).cast(meta["dtype"]),
                                F.lit(seed + i),
                            ),
                            F.lit(m_bits),
                        )
                        for i in range(k)
                    ]
                )
                for val in values
            ]
        )
        try:
            idx = self._bloom_index_df(bdir).withColumn("_pos", probe)
        except Exception as e:  # noqa: BLE001 — parts dir mid-swap/vanished
            self._bloom_degrade_warn(name, col, f"sidecar unreadable: {e}")
            return list(files)

        def probe_test(batches):
            # ONE index scan answers both questions a probe needs —
            # which covered files might contain ANY probe value, and
            # which files are covered at all (uncovered = always scan):
            # (file, hit) rows are names+booleans, never bitmaps
            for pdf in batches:
                hits = []
                for bm_bytes, p in zip(pdf["bitmap"], pdf["_pos"]):
                    bm = np.frombuffer(bm_bytes, dtype=np.uint8)
                    # (n_values, k) position matrix: hit = some value
                    # has ALL its k bits set
                    pa = np.asarray([np.asarray(row) for row in p])
                    hits.append(
                        bool(
                            (
                                (bm[pa >> 3]
                                 & (1 << (pa & 7)).astype(np.uint8))
                                != 0
                            ).all(axis=1).any()
                        )
                    )
                yield pd.DataFrame({"file": pdf["file"], "hit": hits})

        rows = idx.mapInPandas(probe_test, "file string, hit boolean")
        hit_files: set = set()
        covered: set = set()
        try:
            collected = rows.collect()
        except Exception as e:  # noqa: BLE001 — sidecar swapped mid-scan
            self._bloom_degrade_warn(
                name, col, f"sidecar scan failed mid-probe: {e}"
            )
            return list(files)
        for r in collected:
            covered.add(r["file"])
            if r["hit"]:
                hit_files.add(r["file"])
        kept = [
            f for f in files if f in hit_files or f not in covered
        ]
        return kept

    def read_point(
        self, name: str, col: str, value, version: int | None = None
    ) -> DataFrame:
        """EQUALITY-probe read planned over only the files whose bloom
        bitmap might contain ``value`` (plus any file the index does
        not cover) — the Delta bloom-filter-index analog for point
        queries on high-cardinality unclustered columns, where min/max
        skipping (read_where) is inert. ``value`` may be a
        list/tuple/set for an IN-list probe (batch key lookup: one
        index scan prunes for every value at once; the exact filter is
        ``isin``). No false negatives by construction; false positives
        (~1% at the default sizing) cost one extra file scan each, and
        the exact filter below owns correctness either way. Without an
        index this degrades to an ordinary filtered snapshot read.

        Since r13 this routes through the ONE planning engine
        (plan_read, via _read_planned), so a point probe also gets
        min/max stats pruning and — on the merge key — driver-side
        bucket routing for free; ``read(name, where=...)`` is the
        general multi-conjunct entry point."""
        self._bloom_values(value)  # validate probe shape loudly
        spec = (
            list(value) if isinstance(value, (list, tuple, set))
            else value
        )
        return self.read(name, version=version, where={col: spec})

    def read_point_where(
        self, name: str, eq: dict, version: int | None = None
    ) -> DataFrame:
        """CONJUNCTIVE equality probe: ``eq = {col: value, ...}`` —
        the kept set is the INTERSECTION of each column's bloom prune
        (the read_where(ranges=…) multi-column form, for point
        predicates), so a file survives only if EVERY probed value
        might be in it. Columns without an index contribute no pruning
        (all files kept for that column); the exact AND-of-equalities
        filter owns correctness. The common serving shape: 'customer X
        AND status Y' opens only files that might hold both.

        Since r13 this routes through the ONE planning engine
        (plan_read, via _read_planned) — each equality also gets
        stats-interval pruning and, on the merge key, bucket routing;
        ``read(name, where=...)`` additionally accepts ranges."""
        if not eq:
            raise ValueError("read_point_where needs at least one column")
        where = {
            c: (list(val) if isinstance(val, (list, tuple, set)) else val)
            for c, val in eq.items()
        }
        return self.read(name, version=version, where=where)

    # -- unified predicate-driven read planning (VERDICT r12 item 3) ---
    #
    # read_where prunes with manifest min/max stats; read_point /
    # read_point_where prune with the bloom sidecars — but the CALLER
    # had to know which structure exists and pick the verb. Delta and
    # Iceberg readers consult every available skipping structure per
    # conjunct automatically; plan_read is that router: the user
    # states the predicate, the planner routes each conjunct to stats
    # (ranges, equalities) AND bloom (equalities, IN-lists) where they
    # exist, intersects the kept sets, and reports what pruned.
    # read(name, where=...) is the user-facing entry point.

    @staticmethod
    def _classify_spec(col: str, spec) -> tuple[str, list]:
        """Normalize one ``where`` conjunct: a scalar is an equality,
        a list/tuple/set an IN-list, a ``slice(lo, hi)`` an inclusive
        range (BETWEEN — Python's literal range syntax, with no step),
        ``IS_NULL``/``NOT_NULL`` a null probe (routed to null-count
        stats), and ``Prefix("abc")`` a LIKE-'abc%%' probe (routed to
        min/max stats). A bare ``None`` is still rejected: equality to
        NULL never matches — say ``IS_NULL`` when you mean it."""
        if spec is IS_NULL:
            return "isnull", []
        if spec is NOT_NULL:
            return "notnull", []
        if isinstance(spec, Prefix):
            return "prefix", [spec.s]
        if isinstance(spec, Has):
            return "has", list(spec.values)
        if isinstance(spec, slice):
            if spec.step is not None:
                raise ValueError(
                    f"{col}: range spec slice(lo, hi) takes no step"
                )
            if spec.start is None or spec.stop is None:
                raise ValueError(
                    f"{col}: range spec needs both bounds — "
                    "slice(lo, hi), inclusive"
                )
            return "range", [spec.start, spec.stop]
        if isinstance(spec, (list, tuple, set)):
            vals = list(spec)
            if not vals:
                raise ValueError(f"{col}: IN-list spec needs >= 1 value")
            if any(v is None for v in vals):
                raise ValueError(f"{col}: NULL in IN-list never matches")
            return "in", vals
        if spec is None:
            raise ValueError(
                f"{col}: equality to NULL never matches — probe with "
                "the IS_NULL spec sentinel when you mean IS NULL"
            )
        return "eq", [spec]

    _KEY_ROUTE_PY_TYPES = {
        "bigint": int, "int": int, "smallint": int, "tinyint": int,
        "string": str, "boolean": bool,
    }

    @classmethod
    def _route_key_tuples(cls, tuples, types, n_buckets: int):
        """Driver-side bucket routing for the planner's bucket pruner
        — lookup()'s _route_buckets, hardened for UNCOERCED user
        values: every probe value's PYTHON type must exactly match its
        declared key type (int for integer keys — bool excluded as an
        int subclass —, str for string, bool for boolean), because a
        loosely-typed value (4217.0 against a bigint key) can hash to
        a different bucket than the rows Spark's relaxed equality
        would match, which would be a silent FALSE NEGATIVE. Any
        mismatch or unsupported type returns None — no pruning, the
        other pruners and the exact filter still apply. Takes full key
        TUPLES (one element per key column, xxhash64-chained exactly
        like _kb_expr — parity pinned by test_quality)."""
        pys = [
            cls._KEY_ROUTE_PY_TYPES.get((t or "").lower()) for t in types
        ]
        if any(p is None for p in pys):
            return None
        for tup in tuples:
            for v, p in zip(tup, pys):
                if type(v) is not p or (p is int and isinstance(v, bool)):
                    return None
        from .functions.xxhash import bucket_of

        lt = [(t or "").lower() for t in types]
        try:
            return {bucket_of(tup, lt, n_buckets) for tup in tuples}
        except Exception:  # noqa: BLE001 — Spark-job path owns the rest
            return None

    @classmethod
    def _route_key_buckets(cls, values, key_type: str, n_buckets: int):
        """Single-column form of _route_key_tuples."""
        return cls._route_key_tuples(
            [(v,) for v in values], [key_type], n_buckets
        )

    def plan_read(
        self, name: str, where, version: int | None = None
    ) -> tuple[list[str], dict]:
        """THE file-skipping planner. ``where`` is one conjunct dict
        (``{col: scalar | [v, ...] | slice(lo, hi)}`` — AND of the
        entries) or a LIST of such dicts (OR of the branches —
        disjunctive normal form, r13): each conjunct routes to every
        applicable skipping structure — manifest min/max stats for
        ranges and (as point intervals) equalities/IN-lists, the bloom
        sidecar for equalities/IN-lists, and (for an equality/IN-list
        on a single-column merge key) the table's OWN bucket layout,
        which routes each probe value to its hash bucket driver-side
        and is the strongest pruner of all (lookup()'s mechanism,
        now reached by stating the predicate). Kept sets INTERSECT
        across a branch's conjuncts and UNION across branches — the
        Delta data-skipping algebra for AND/OR. Returns ``(kept file
        list, report)``; the report says what pruned: per column, per
        pruner, files kept / total (``None`` for a pruner that does
        not apply or is not built) — for a disjunction, one such block
        per branch under ``"branches"`` — so "is my layout/index
        actually skipping" is one call, the same observability
        contract as pruned_file_count/bloom_kept_files. Pruning is an
        optimization, never a correctness gate: absent stats keep,
        uncovered files keep, loosely-typed key probes skip bucket
        routing, and read() re-applies the exact predicate on the
        scan. The plan reads one snapshot of the table (the latest, or
        ``version``) and never publishes one: a versioned table in
        overwrite_keyed's reset window raises until a write heals it."""
        return self._plan(
            self._snapshot(name, version).require_manifest("where= planning"),
            where,
        )

    def _plan(self, snap: _Snapshot, where) -> tuple[list[str], dict]:
        """plan_read's body over one snapshot."""
        files = snap.files
        if isinstance(where, (list, tuple)):
            branches = list(where)
            if not branches:
                raise ValueError(
                    "a disjunctive where needs at least one branch"
                )
            keep_set: set = set()
            branch_reports = []
            for b in branches:
                if not isinstance(b, dict):
                    raise ValueError(
                        "a disjunctive where is a list of conjunct "
                        f"DICTS ({{col: spec}}), got {type(b).__name__}"
                    )
                b_keep, b_cols = self._plan_branch(snap, b)
                keep_set |= b_keep
                branch_reports.append(
                    {"columns": b_cols, "kept": len(b_keep)}
                )
            report = {
                "table": snap.name,
                "version": snap.version,
                "total_files": len(files),
                "branches": branch_reports,
                "kept_files": len(keep_set),
            }
            return [f for f in files if f in keep_set], report
        keep_set, cols = self._plan_branch(snap, where)
        report = {
            "table": snap.name,
            "version": snap.version,
            "total_files": len(files),
            "columns": cols,
            "kept_files": len(keep_set),
        }
        return [f for f in files if f in keep_set], report

    def _plan_branch(self, snap: _Snapshot, where: dict) -> tuple[set, dict]:
        """One conjunct dict's kept set (intersection across its
        columns) + per-column report — plan_read's branch core."""
        if not where:
            raise ValueError("where must name at least one column")
        files = snap.files
        # bucket routing applies to single-column merge keys (the
        # composite-tuple form stays lookup()'s job: routing needs
        # full key tuples, not independent conjuncts). Safe across
        # version pins: rebucket is a reseed (new incarnation, old
        # manifests retired), so any resolvable version of this table
        # shares the current spec's bucketing.
        kspec = snap.spec
        ktypes = snap.key_types
        key_phys = key_nb = key_type = None
        if kspec is not None and len(kspec[0]) == 1:
            key_phys, key_nb = kspec[0][0], kspec[1]
            key_type = ktypes[0] if ktypes else None
        keep_set = set(files)
        columns: dict = {}
        for c, spec in where.items():
            kind, payload = self._classify_spec(c, spec)
            phys = snap.physical(c)
            pruners: dict = {"stats": None, "bloom": None, "bucket": None}
            kept_col = set(files)
            if kind == "range":
                # the only pruner for a range is stats — warn loudly
                # if the column has none anywhere (read_where parity)
                self._warn_if_stats_inert(snap, phys)
                stats_kept = set(
                    self._pruned_files(snap, phys, tuple(payload))
                )
                pruners["stats"] = {
                    "kept": len(stats_kept), "total": len(files)
                }
                kept_col &= stats_kept
            elif kind == "prefix":
                # prefix probes are range probes over [p, next(p)) —
                # stats-only, same inert warning
                self._warn_if_stats_inert(snap, phys)
                stats_kept = set(
                    self._prefix_pruned_files(snap, phys, payload[0])
                )
                pruners["stats"] = {
                    "kept": len(stats_kept), "total": len(files)
                }
                kept_col &= stats_kept
            elif kind in ("isnull", "notnull"):
                self._warn_if_null_stats_inert(snap, phys)
                stats_kept = set(
                    self._null_pruned_files(snap, phys, kind == "isnull")
                )
                pruners["stats"] = {
                    "kept": len(stats_kept), "total": len(files)
                }
                kept_col &= stats_kept
            elif kind == "has":
                # array membership: the ELEMENT bloom index is the
                # only pruner (arrays carry no top-level min/max
                # stats, and buckets hash keys, not elements)
                bloom_kept = self._bloom_probe(snap, c, payload, True)
                if bloom_kept is not None:
                    pruners["bloom"] = {
                        "kept": len(bloom_kept), "total": len(files)
                    }
                    kept_col &= set(bloom_kept)
            else:  # eq / in: stats as point intervals, union of values
                stats_kept: set = set()
                for val in payload:
                    stats_kept |= set(
                        self._pruned_files(snap, phys, (val, val))
                    )
                pruners["stats"] = {
                    "kept": len(stats_kept), "total": len(files)
                }
                kept_col &= stats_kept
                bloom_kept = self._bloom_probe(snap, c, payload, False)
                if bloom_kept is not None:
                    pruners["bloom"] = {
                        "kept": len(bloom_kept), "total": len(files)
                    }
                    kept_col &= set(bloom_kept)
                if phys == key_phys and key_type is not None:
                    bks = self._route_key_buckets(
                        payload, key_type, key_nb
                    )
                    if bks is not None:
                        bucket_kept = {
                            f for f in files
                            if not f.startswith("_kb=")
                            or self._bucket_of(f) in bks
                        }
                        pruners["bucket"] = {
                            "kept": len(bucket_kept),
                            "total": len(files),
                        }
                        kept_col &= bucket_kept
            columns[c] = {
                "kind": kind,
                "pruners": pruners,
                "kept": len(kept_col),
            }
            keep_set &= kept_col
        # COMPOSITE-key bucket routing (r13 late): when the branch
        # pins EVERY key column of a multi-column merge key with an
        # equality/IN-list, the full key tuples are computable
        # driver-side — route their cartesian product (bounded) to
        # buckets exactly like lookup() would, and report it as a
        # synthetic pseudo-column spanning the branch. Single-column
        # keys are handled per-column above.
        if kspec is not None and len(kspec[0]) > 1:
            keys, n_b = kspec
            if ktypes and len(ktypes) == len(keys):
                phys_specs = {
                    snap.physical(c): spec for c, spec in where.items()
                }
                vals_per_key = []
                for k in keys:
                    spec = phys_specs.get(k)
                    if spec is None:
                        vals_per_key = None
                        break
                    kind, payload = self._classify_spec(k, spec)
                    if kind not in ("eq", "in"):
                        # ranges, prefixes and null probes don't
                        # enumerate key values — no tuple routing
                        vals_per_key = None
                        break
                    vals_per_key.append(payload)
                n_combos = 0
                if vals_per_key is not None:
                    n_combos = 1
                    for vl in vals_per_key:
                        n_combos *= len(vl)
                # bound the product: beyond this, the probe is a batch
                # job, not a point lookup — other pruners still apply
                if vals_per_key is not None and 0 < n_combos <= 1024:
                    import itertools

                    bks = self._route_key_tuples(
                        list(itertools.product(*vals_per_key)),
                        ktypes, n_b,
                    )
                    if bks is not None:
                        bucket_kept = {
                            f for f in files
                            if not f.startswith("_kb=")
                            or self._bucket_of(f) in bks
                        }
                        columns["__key_tuple__"] = {
                            "kind": "key-tuple",
                            "pruners": {
                                "bucket": {
                                    "kept": len(bucket_kept),
                                    "total": len(files),
                                }
                            },
                            "kept": len(bucket_kept),
                        }
                        keep_set &= bucket_kept
        return keep_set, columns

    def _branch_expr(self, where: dict):
        """One conjunct dict's EXACT predicate as a Column (AND of the
        entries) — the filter side of _plan_branch."""
        expr = None
        for c, spec in where.items():
            kind, payload = self._classify_spec(c, spec)
            if kind == "range":
                e = F.col(c).between(F.lit(payload[0]), F.lit(payload[1]))
            elif kind == "in":
                e = F.col(c).isin(payload)
            elif kind == "isnull":
                e = F.col(c).isNull()
            elif kind == "notnull":
                e = F.col(c).isNotNull()
            elif kind == "prefix":
                e = F.col(c).startswith(F.lit(payload[0]))
            elif kind == "has":
                if len(payload) == 1:
                    e = F.array_contains(F.col(c), F.lit(payload[0]))
                else:
                    e = F.arrays_overlap(
                        F.col(c), F.array(*[F.lit(p) for p in payload])
                    )
            else:
                e = F.col(c) == F.lit(payload[0])
            expr = e if expr is None else expr & e
        return expr

    def _read_planned(self, snap: _Snapshot, where) -> DataFrame:
        """read(where=...)'s body: plan the pruned scan of ``snap``,
        then apply the EXACT predicate on it (correctness never rides
        pruning). A dict filters as an AND chain; a list of dicts as
        the OR of its branches' AND chains (matching plan_read's
        union)."""
        keep, _report = self._plan(snap, where)
        out = self._to_logical(self._read_manifest_df(snap, keep), snap.colmap)
        if isinstance(where, (list, tuple)):
            expr = None
            for b in where:
                e = self._branch_expr(b)
                expr = e if expr is None else expr | e
            return out.filter(expr)
        return out.filter(self._branch_expr(where))

    def last_txn(self, name: str, app_id: str) -> int | None:
        """The highest transactional write version applied for
        ``app_id`` (recorded by upsert_txn / txn= writes; carried
        forward across every publish incl. compaction), or None."""
        t = self._snapshot(name).txn.get(app_id)
        return None if t is None else int(t)

    def _dir_files(self, snap: _Snapshot) -> list[str]:
        """The part-files that hold a table no manifest describes. A
        meta that records a version marks overwrite's reset window: the
        directory holds the table only if the overwrite JOB committed
        (Spark writes `_SUCCESS` at job commit; overwrite mode deletes
        it first), else a partial directory would be served, and
        published as history by the heal (code-review r6). A meta that
        records none marks a table no manifest ever described: the
        files Spark's committer wrote are a table from before every
        table had one, and the files ``_append_and_publish`` renamed in
        are a first commit that died before its publish."""
        name, base = snap.name, self._dir(snap.name)
        files = self._data_files(name)
        if snap.meta.get("version") is None:
            return [
                f for f in files
                if not _STAGE_RENAMED.match(os.path.basename(f))
            ]
        if os.path.isdir(base) and not os.path.isfile(
            os.path.join(base, "_SUCCESS")
        ):
            raise RuntimeError(
                f"{name}: manifest history missing and the data directory "
                "has no _SUCCESS marker — an overwrite died mid-write. "
                "Re-run the overwrite to restore the table."
            )
        return files

    def _ensure_latest(self, snap: _Snapshot) -> int | None:
        """Latest published version, HEALING a table with no manifest
        whose directory holds committed files (``_dir_files``): they
        are published as v1 with the schema the meta records. None for
        a table with neither. Only ``_pin_base`` calls this: the heal
        is a write, and reads never publish."""
        v = self.latest_version(snap.name)
        files = self._dir_files(snap) if v is None else []
        if files:
            v = self._publish_version(
                snap.name, files, schema_json=snap.meta.get("schema"),
                op="heal",
            )
        return v

    @staticmethod
    def _bucket_of(rel: str) -> int:
        """Bucket id of a manifest-relative file path (`_kb=3/part-…`)."""
        return int(rel.split("=", 1)[1].split("/", 1)[0])

    _CONFLICT_RETRIES = 10

    def _retry_base_conflicts(self, snap: _Snapshot, attempt):
        """Optimistic-concurrency loop for the write verbs (ADVICE r9
        medium), the package's one: each attempt derives
        its rewrite from one snapshot — ``attempt(base)`` — and
        publishes with a CAS on the base version and its uid; a
        concurrent commit fails the CAS with BaseVersionConflict and
        the WHOLE derivation re-runs against a new snapshot
        (``_pin_base``) — closing the window where a 'kept' list
        derived from a stale base silently dropped a racing writer's
        just-published files. The first attempt uses ``snap``, the pin
        the verb already took to validate its arguments.

        A commit on an unversioned table removes the manifest and the
        files it superseded (``_remove_superseded``), so a racing
        attempt can also fail inside Spark, on a base file that is
        gone. Any failure while the pinned manifest is gone is that
        conflict and retries; while it is still there the failure
        propagates as it is (this attempt's own publish leaves its base
        in place until its cleanup, which raises nothing). Watermark
        conflicts (TxnConflict/TxnAlreadyApplied/CrossTxnConflict)
        always propagate — those mean the WORK is stale, which only the
        caller can judge."""
        import random

        last: BaseVersionConflict | None = None
        for i in range(self._CONFLICT_RETRIES):
            if i:
                snap = self._pin_base(snap.name)
            try:
                return attempt(snap)
            except BaseVersionConflict as e:
                last = e
            except (TxnAlreadyApplied, CrossTxnConflict):
                raise
            except Exception as e:
                if snap.version is None:
                    raise  # no manifest describes the table: no conflict
                try:
                    gone = (
                        self._manifest_doc(snap.name, snap.version).get("uid")
                        != snap.uid
                    )
                except FileNotFoundError:
                    gone = True
                if not gone:
                    raise
                last = BaseVersionConflict(
                    f"{snap.name}: files of base version {snap.version} "
                    "were removed by a concurrent commit — re-derive and "
                    "retry"
                )
                last.__cause__ = e
            # jittered backoff (code-review r10 wave 3): two
            # sustained writers whose derivation jobs take similar
            # wall-clock would otherwise re-collide on every
            # attempt; a small randomized delay desynchronizes
            # them at negligible cost. No sleep after the FINAL
            # attempt — it precedes an unconditional raise
            if i < self._CONFLICT_RETRIES - 1:
                time.sleep(min(0.05 * (2 ** i), 1.0) * random.random())
        raise last

    def _snapshot(
        self, name: str, version: int | None = None, meta: dict | None = None
    ) -> _Snapshot:
        """The one resolver of a table for a verb: the meta, read once,
        and, when a manifest describes the table, the manifest of
        ``version`` or of the latest published version (listed again
        when an unversioned commit removed the listed version before
        its manifest was read). ``meta`` is the meta the verb already
        read, for a second snapshot of it (the other end of a
        ``table_changes`` range). An explicit version that is not
        retained raises FileNotFoundError. Version None when no
        manifest is published (an overwrite's reset window, a table
        written before every table had a manifest, or no table): reads
        then serve the committed directory or refuse, and never heal —
        a write pins with ``_pin_base``, which does."""
        if meta is None:
            meta = read_meta(self.root, name)
        if version is not None:
            return _Snapshot(name, meta, version, self._manifest_doc(name, version))
        while True:
            v = self.latest_version(name)
            if v is None:
                return _Snapshot(name, meta)
            try:
                return _Snapshot(name, meta, v, self._manifest_doc(name, v))
            except FileNotFoundError:
                continue

    def _pin_base(self, name: str) -> _Snapshot:
        """The snapshot a write verb validates its arguments with and an
        OCC attempt derives from and CASes its publish on: ``_snapshot``
        of the version ``_ensure_latest`` names — the write path's one
        heal of a missing manifest history. The base uid detects a
        reseed restarting version numbering (the number alone cannot,
        and inode identity is unreliable — inodes recycle; code-review
        r10 wave 3); pre-r10 manifests carry none, and the CAS then
        degrades to the version-number check alone. A table with
        neither manifest nor data pins an empty base (version None),
        and its first publish CASes on "no version"."""
        snap = self._snapshot(name)
        while True:
            v = self._ensure_latest(snap)
            if v == snap.version:
                return snap
            try:
                return self._snapshot(name, v, meta=snap.meta)
            except FileNotFoundError:
                continue  # an unversioned commit removed v meanwhile

    def _append_and_publish(
        self,
        stamped: DataFrame,
        base: _Snapshot,
        kept: list[str] | str | None,
        txn: tuple[str, int] | None = None,
        op: str | None = None,
        check_replay: bool = False,
        txn_expect: int | None = None,
        txn_assert: dict[str, int] | None = None,
        pre_clustered: bool = False,
    ) -> int | None:
        """The one incremental commit of every table: append
        ``stamped`` as NEW part-files — never deleting live ones — then
        publish a manifest of the base files ``kept`` names plus
        exactly the files THIS writer created, with a CAS on ``base``.
        ``kept`` keeps, of the ``base`` snapshot's files:

        - None: every one (an append);
        - a column name: those outside the ``col=value`` partitions the
          stage wrote (``reload_partitions``: dynamic partition
          overwrite, CAS-protected);
        - a list: those it names (a rewrite derived from ``base``: a
          keyed bucket rewrite, or a whole-table rewrite with ``[]``);
          a conflict reaches the caller's derivation-level retry. The
          other two kinds stage base-independent files, so a conflict
          retries JUST the publish (``_retry_base_conflicts``).

        The stage is partitioned by ``_kb`` on a keyed table (after
        ``_cluster_kb``'s shuffle), by the column ``kept`` names, else
        by the partition column of the base snapshot's file paths (a
        ``reload_partitions`` table keeps its Hive layout), else not at
        all. A stage that wrote no file onto a table with no published
        version publishes nothing and returns None: an empty first
        load creates no table. The manifest schema is the base's
        widened by ``stamped``'s, and a column the batch carries
        narrower is cast to the table's type. ``check_replay`` makes
        the publish raise TxnAlreadyApplied when ``txn`` is already
        covered at commit time (the appended files then stay invisible
        orphans until vacuum). After the publish a versioned table runs
        its write-path maintenance; an unversioned one removes what the
        publish superseded (``_remove_superseded``).

        Attribution is by writer, not by directory diff (ADVICE r8):
        the write job lands in a writer-private staging dir, and each
        produced part-file is renamed into the table under a
        stage-unique filename prefix — so a concurrent writer's files
        can never be captured into this writer's manifest, and a file
        no publish named is never part of the table. Private staging
        also gives each job its own ``_temporary`` dir, closing the
        local FileOutputCommitter corruption two same-path append jobs
        otherwise race on."""
        import uuid

        name = base.name
        token = uuid.uuid4().hex[:12]
        stage = os.path.join(self.root, f".stage-{name}-{token}")
        # a column the batch carries narrower than the table stages at
        # the table's type: the manifest keeps the wider one, and the
        # table's files would not read under the narrower
        staged = stamped.schema
        wide = _parse_schema(_widened_schema_json(base.schema_json, staged.json()))
        casts = {
            f.name: wide[f.name].dataType
            for f in staged.fields
            if wide[f.name].dataType != f.dataType
        }
        if casts:
            from pyspark.sql.types import StructField, StructType

            stamped = stamped.withColumns(
                {c: F.col(c).cast(t) for c, t in casts.items()}
            )
            staged = StructType([
                StructField(
                    f.name, casts.get(f.name, f.dataType), f.nullable, f.metadata
                )
                for f in staged.fields
            ])
        if base.spec is not None:
            part = "_kb"
            if not pre_clustered:
                # one part-file per bucket per write (see _cluster_kb) —
                # centralizing here covers every keyed write verb;
                # compact passes pre_clustered=True because it already
                # repartitioned by _kb and SORTED within partitions,
                # which a re-shuffle would undo
                stamped = self._cluster_kb(stamped)
        else:
            part = kept if isinstance(kept, str) else _layout_of(base.files)
        try:
            w = stamped.write.mode("append")
            (w.partitionBy(part) if part else w).parquet(stage)
            table_dir = self._dir(name)
            new_files: list[str] = []
            for rel in _parquet_files(stage):
                d, f = os.path.split(rel)
                dst = os.path.join(d, f"{token}-{f}")
                os.makedirs(os.path.join(table_dir, d), exist_ok=True)
                _fs.replace(
                    os.path.join(stage, rel), os.path.join(table_dir, dst)
                )
                new_files.append(dst)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        staged_schema = staged.json()
        replaced = {os.path.dirname(f) for f in new_files}

        def publish(base: _Snapshot) -> int | None:
            if base.version is None and not new_files:
                return None
            if kept is None or isinstance(kept, str):
                live = [
                    f for f in base.files
                    if kept is None or os.path.dirname(f) not in replaced
                ]
            else:
                live = list(kept)
            live += new_files
            schema_json = _widened_schema_json(base.schema_json, staged_schema)
            v = self._publish_version(
                name,
                live,
                schema_json=schema_json,
                txn=txn,
                op=op,
                check_replay=check_replay,
                txn_expect=txn_expect,
                base=base,
                txn_assert=txn_assert,
            )
            if base.versioned:
                self._maybe_auto_compact(base, op)
                self._maybe_auto_bloom(base, op, schema_json)
            else:
                self._remove_superseded(base, live)
            return v

        if isinstance(kept, list):
            return publish(base)
        return self._retry_base_conflicts(base, publish)

    def _remove_superseded(self, base: _Snapshot, live: list[str]) -> None:
        """After an unversioned publish: remove the base manifest, then
        exactly the files it named that the new manifest ``live`` does
        not (with their checksum sidecars), then the bucket directories
        that leaves empty. Never a listing: that would also take a
        concurrent writer's staged, not yet published files. The
        manifest goes first, so an attempt that fails on a removed file
        finds its pinned base gone and retries
        (``_retry_base_conflicts``). The base manifest on disk is read
        once more and must still be the snapshot's (same uid) before
        anything goes. Best effort: the commit is already published, so
        a crash or an error here leaves orphans for ``vacuum``, never
        an error."""
        name = base.name
        if base.version is None:
            return  # the first publish supersedes nothing
        try:
            doc = self._manifest_doc(name, base.version)
            if doc.get("uid") != base.uid:
                return  # not the base this write derived from (reseeded)
            _fs.remove(self._manifest_path(name, base.version))
        except (OSError, ValueError):
            return  # already removed (vacuum): its files are vacuum's
        table_dir = self._dir(name)
        gone = sorted(set(doc["files"]) - set(live))
        for rel in gone:
            d, f = os.path.split(os.path.join(table_dir, rel))
            for p in (os.path.join(d, f), os.path.join(d, f".{f}.crc")):
                try:
                    _fs.remove(p)
                except OSError:
                    pass
        for d in sorted({os.path.dirname(rel) for rel in gone} - {""}):
            try:
                _fs.remove_empty_dir(os.path.join(table_dir, d))
            except OSError:
                pass  # still holds live or staged files

    def set_table_properties(self, name: str, **props) -> None:
        """Table properties in the meta sidecar. Supported:
        ``auto_compact_files_per_bucket=N`` — after every incremental
        versioned write, buckets holding more than N live files are
        compacted inline (Delta's autoOptimize/auto-compaction
        posture): the small-file debt appends accumulate is paid by
        the writer that created it, instead of waiting for a
        maintenance window. ``bloom_index_cols=[col, ...]`` — after
        every incremental versioned write, the per-file bloom indexes
        on the listed columns are incrementally updated
        (update_bloom_index: only the write's NEW files are scanned),
        so equality probes keep full pruning power without a nightly
        catch-up job; the initial build_bloom_index (which fixes
        m_bits/k) is still explicit. ``None`` clears a property."""
        allowed = {"auto_compact_files_per_bucket", "bloom_index_cols"}
        bad = sorted(set(props) - allowed)
        if bad:
            raise ValueError(
                f"{name}: unknown table properties {bad} "
                f"(supported: {sorted(allowed)})"
            )
        cols = props.get("bloom_index_cols")
        if cols is not None and (
            not isinstance(cols, (list, tuple))
            or not all(isinstance(c, str) for c in cols)
        ):
            raise ValueError(
                f"{name}: bloom_index_cols must be a list of column "
                f"names, got {cols!r}"
            )
        self._touch_meta(name, **props)

    def table_property(self, name: str, key: str):
        return read_meta(self.root, name).get(key)

    def _maybe_auto_compact(self, base: _Snapshot, op: str | None) -> None:
        """Write-path auto-compaction: runs after an INCREMENTAL write
        published (never after compaction itself — that would recurse —
        and never on unversioned tables). The decision reads only the
        just-published manifest's per-bucket file counts; when nothing
        exceeds the threshold, compact() returns without touching
        data. The compaction publishes its own version, so the
        triggering write's snapshot (and its txn watermark) is already
        durable whatever happens here."""
        if op in (None, "compact"):
            return
        n = base.meta.get("auto_compact_files_per_bucket")
        if n is None:
            return
        try:
            self.compact(base.name, max_files_per_bucket=int(n))
        except Exception as e:  # noqa: BLE001 — best-effort maintenance
            # the triggering write's manifest is already durably
            # published; failing the caller here would make a
            # foreachBatch writer re-run a batch that already applied
            # (converges via the replay check, but surfaces spurious
            # batch failures — ADVICE r9). The debt stays for the next
            # write or an explicit compact() to pay.
            import warnings

            warnings.warn(
                f"{base.name}: auto-compaction after {op} failed and was "
                f"skipped (the write itself is committed): {e}",
                RuntimeWarning,
                stacklevel=2,
            )

    def _maybe_auto_bloom(
        self, base: _Snapshot, op: str | None, schema_json: str
    ) -> None:
        """Write-path bloom index maintenance (the bloom_index_cols
        table property): after an incremental versioned write — or an
        auto-/explicit compaction, whose rewritten files are just as
        uncovered — update each listed column's index over the NEW
        files only. Best-effort like auto-compaction (the write's
        manifest is already durably published; a failed update leaves
        uncovered files, which always scan — slower probes, never
        wrong ones). A column listed BEFORE any build ran gets its
        index BUILT here at default sizing (r13: the property is fully
        declarative — list the column, the write path takes care of
        the rest; size-sensitive deployments still call
        build_bloom_index explicitly for custom m_bits/k), its element
        mode inferred from ``schema_json``, the schema just published."""
        if op is None:
            return
        cols = base.meta.get("bloom_index_cols")
        if not cols:
            return
        import warnings

        name = base.name
        for col in cols:
            try:
                try:
                    self.update_bloom_index(name, col)
                except ValueError as e:
                    if "no bloom index" not in str(e):
                        raise
                    # declarative first build: element mode is
                    # inferred from the just-published column type
                    # (array → element index serving Has probes)
                    from pyspark.sql.types import ArrayType

                    schema = _parse_schema(schema_json)
                    phys = base.physical(col)
                    self.build_bloom_index(
                        name, col,
                        elements=schema is not None
                        and phys in schema.names
                        and isinstance(schema[phys].dataType, ArrayType),
                    )
            except Exception as e:  # noqa: BLE001 — best-effort
                warnings.warn(
                    f"{name}: bloom index auto-maintenance on {col!r} "
                    f"after {op} failed and was skipped (the write "
                    f"itself is committed; uncovered files scan until "
                    f"the next update): {e}",
                    RuntimeWarning,
                    stacklevel=2,
                )

    def compact(
        self,
        name: str,
        max_files_per_bucket: int = 1,
        sort_cols: list[str] | None = None,
        zorder_cols: list[str] | None = None,
        zorder_bits: int = 8,
    ) -> int:
        """OPTIMIZE analog for versioned keyed tables: every live
        bucket holding more than ``max_files_per_bucket`` files (the
        small-file debt upserts accumulate, since versioned writes only
        ever append) is rewritten into ~one file per bucket and
        published as a NEW version. Pinned readers of older versions
        are untouched (their files survive until vacuum); buckets
        already at or under the target are re-referenced verbatim —
        compaction never rewrites healthy buckets. Returns the
        published version (the current one if nothing needed doing).

        At 100 TB this is the maintenance job that keeps bucket scans
        at full parquet row-group efficiency; run it on the buckets the
        upsert stream actually churns (exactly what the file-count
        predicate selects).

        ``zorder_cols`` is the multi-dimensional form of ``sort_cols``
        (Delta's OPTIMIZE ... ZORDER BY): the rewritten buckets'
        rows order by the interleaved Morton code of the columns'
        quantile ranks (one boundary pass over the slice being
        rewritten, shared machinery with write_zordered), so row-group
        min/max stats narrow in EVERY listed dimension at once —
        where a linear sort only narrows its leading column. Mutually
        exclusive with ``sort_cols``."""
        if sort_cols and zorder_cols:
            raise ValueError("pass sort_cols or zorder_cols, not both")
        snap = self._pin_base(name)
        if not snap.versioned:
            raise ValueError(f"{name}: compact() is for versioned keyed tables")
        # derivation-level OCC retry (ADVICE r9): the rewritten slice
        # is derived from the version current at attempt start; a
        # concurrent commit fails the publish CAS and the compaction
        # re-plans against the new file set
        return self._retry_base_conflicts(
            snap,
            lambda base: self._compact_once(
                base, max_files_per_bucket, sort_cols, zorder_cols,
                zorder_bits,
            ),
        )

    def _compact_once(
        self,
        base: _Snapshot,
        max_files_per_bucket: int,
        sort_cols: list[str] | None,
        zorder_cols: list[str] | None,
        zorder_bits: int,
    ) -> int:
        # the rewrite is purely physical; clustering column args are
        # logical — translate through the snapshot's map
        sort_cols = [base.physical(c) for c in sort_cols or []]
        zorder_cols = [base.physical(c) for c in zorder_cols or []]
        by_bucket: dict[int, list[str]] = {}
        for f in base.files:
            by_bucket.setdefault(self._bucket_of(f), []).append(f)
        fat = sorted(
            b for b, fs in by_bucket.items() if len(fs) > max_files_per_bucket
        )
        if not fat:
            return base.version
        # under the recorded snapshot schema — no footer job (r14)
        slice_ = self._read_manifest_df(
            base, [f for b in fat for f in by_bucket[b]]
        )
        fat_set = set(fat)
        kept = [f for b, fs in by_bucket.items() if b not in fat_set for f in fs]
        # repartition on _kb → each bucket in one task → one file per dir.
        # ``sort_cols`` re-CLUSTERS the rewritten buckets while we're
        # already paying to rewrite them (the OPTIMIZE ... ZORDER/sort
        # maintenance pattern): rows sort on the given columns within
        # each bucket, so parquet row-group min/max stats on those
        # columns become disjoint ranges and point/range predicates
        # skip row groups on the compacted files — clustering debt from
        # append-ordered upserts is paid down incrementally, only on
        # the buckets being rewritten anyway.
        out = slice_.repartition(F.col("_kb"))
        if sort_cols:
            out = out.sortWithinPartitions("_kb", *sort_cols)
        elif zorder_cols:
            out = (
                out.withColumn(
                    "_z", zorder_rank_code(slice_, zorder_cols, zorder_bits)
                )
                .sortWithinPartitions("_kb", "_z")
                .drop("_z")
            )
        return self._append_and_publish(
            out, base, kept, op="compact", pre_clustered=True
        )

    def _dependent_watermark_floor(self, name: str) -> int | None:
        """The oldest version of ``name`` some maintained view in this
        store still reflects, or None. Scans EVERY RETAINED manifest of
        every other versioned table (not just the latest — ADVICE r11:
        a stacked DAG whose top-level rollup lags can have its only
        consistent cut pinned by a mid-level view's OLDER watermark
        version, which a latest-only floor would let vacuum reclaim;
        group time travel and write-group sequence backtracking
        likewise pin versions only older dependent manifests
        reference) for maintenance watermark apps
        (``rollup_sync:{name}:{inc}`` / ``viewsync_fact/dim:{name}:
        {inc}``, current incarnation only). Kilobyte manifest reads,
        one per retained sibling version — dependents' own vacuums
        (keep_last) bound the scan and raise the floor over time.

        Cost note (ADVICE r12): a store-wide vacuum pass calls this
        once per vacuumed table, so without memoization the pass is
        O(tables × retained versions) manifest READS. Published
        manifests are immutable (put-if-absent commit), so their txn
        maps are cached per store instance keyed by path +
        (mtime_ns, size) — repeat floors cost one stat per manifest
        instead of one read+parse; deleted manifests (a sibling's own
        vacuum) just miss and are skipped as before."""
        inc = self.table_incarnation(name) or "0"
        suffix = f":{name}:{inc}"
        floor = None
        cache = self._txn_map_cache
        for entry in os.listdir(self.root):
            if not entry.startswith("_manifest_"):
                continue
            other = entry[len("_manifest_"):]
            if other == name:
                continue
            for v in self.versions(other):
                path = self._manifest_path(other, v)
                try:
                    st = os.stat(path)
                    key = (st.st_mtime_ns, st.st_size)
                    hit = cache.get(path)
                    if hit is not None and hit[0] == key:
                        txn = hit[1]
                    else:
                        txn = (
                            self._manifest_doc(other, v).get("txn", {})
                            or {}
                        )
                        cache[path] = (key, txn)
                except FileNotFoundError:
                    cache.pop(path, None)
                    continue
                for app, w in txn.items():
                    if app.endswith(suffix) and app.split(":", 1)[0] in (
                        "rollup_sync", "viewsync_fact", "viewsync_dim"
                    ):
                        floor = (
                            int(w) if floor is None else min(floor, int(w))
                        )
        return floor

    def vacuum(
        self,
        name: str,
        keep_last: int = 1,
        grace_s: float = 600.0,
        keep_watermarked: bool = True,
        retain_s: float | None = None,
    ) -> list[str]:
        """Reclaim files referenced by no retained manifest. Keeps the
        newest ``keep_last`` versions (and drops the older manifests, so
        a pinned read of a vacuumed version fails loudly instead of
        returning partial data). Returns the deleted relative paths.

        ``retain_s`` (r12 — VERDICT r11 item 3, the analog of Delta's
        ``delta.deletedFileRetentionDuration``) makes the TIME-TRAVEL
        HORIZON a stated contract instead of an accident of keep_last:
        every version that was CURRENT at any instant within the last
        ``retain_s`` seconds is retained — i.e. all versions published
        inside the window PLUS the newest version published before it
        (the one ``version_as_of(now - retain_s)`` resolves). With
        ``retain_s=86400``, ``read(name, ts=...)`` and
        ``read_group(as_of_ts=...)`` are guaranteed to serve any
        timestamp in the last 24 h; older timestamps raise the existing
        loud not-retained error. A manifest missing its publish
        timestamp is retained conservatively. Default None = no
        time-horizon retention (keep_last/grace/watermarks only).

        ``keep_watermarked`` (default True, r11): ALSO retain every
        version at or after the oldest watermark any maintained view
        of this table still reflects — in ANY of the view's retained
        manifest versions, not just its newest (r12, ADVICE r11: group
        time travel, sequence backtracking, and lagging stacked DAGs
        can pin cuts only older dependent manifests reference).
        Vacuuming a dependent view's watermark version is the
        documented footgun that wedges BOTH the view's next sync
        (``table_changes`` needs the watermark manifest) and
        group-consistent reads (the only common cut becomes
        unreadable). Delta's VACUUM cannot know its downstream CDF
        consumers; this store's views register their watermarks in
        sibling manifests, so it can. Pass ``keep_watermarked=False``
        to reclaim regardless (accepting that stranded views must be
        reseeded).

        **BEHAVIOR CHANGE (r8, ADVICE r8):** the default ``grace_s``
        moved from 0.0 to **600.0** — by default, files and manifests
        newer than ~10 minutes are now RETAINED, not reclaimed
        immediately. Callers that relied on instant reclamation must
        pass ``grace_s=0.0`` explicitly. The writer-side age gate
        relies on **filesystem mtime semantics**: it is trustworthy on
        local/POSIX filesystems and on object stores that report
        object creation time, but an mtime-less or clock-skewed store
        weakens it to best-effort — size ``grace_s`` generously there.

        ``grace_s`` is the retention window for IN-FLIGHT work
        (VERDICT r6 item 6 + ADVICE r7, Delta's VACUUM retention
        model), protecting both sides of a concurrent maintenance run:

        - READERS: versions whose manifest was published within the
          last ``grace_s`` seconds are retained — files AND manifest —
          so a reader that planned its scan against version N keeps a
          complete file list across a concurrent compact+vacuum
          instead of dying mid-scan on vanished files.
        - WRITERS: data files whose mtime is within ``grace_s`` are
          retained REGARDLESS of manifest references (ADVICE r7
          medium): a concurrent upsert appends its files BEFORE
          publishing the manifest that names them, so an
          unreferenced-but-fresh file is most likely an in-flight
          commit — deleting it would let the writer publish a manifest
          referencing deleted files, wedging every read. (This is
          exactly Delta's age-gated VACUUM: retention judges file
          modification time, not just log references.)

        The default (10 min) is deliberately conservative — size it
        ≥ the longest expected query or write. ``grace_s=0`` reclaims
        aggressively with NO protection for concurrent work (orphans
        from aborted commits go immediately); only pass it when no
        reader or writer can be in flight."""
        vs = self.versions(name)
        if not vs:
            return []
        keep = set(vs[-max(1, keep_last):])
        if keep_watermarked:
            floor = self._dependent_watermark_floor(name)
            if floor is not None:
                keep.update(v for v in vs if v >= floor)
        if retain_s is not None:
            # the as-of horizon contract: keep every version published
            # inside the window, and the newest one published before
            # it — that version was CURRENT at the window's start, so
            # version_as_of(now - retain_s) must still resolve it
            horizon_ms = (time.time() - retain_s) * 1000
            newest_before = None
            for v in vs:  # ascending
                try:
                    ts = self._manifest_doc(name, v).get("ts")
                except FileNotFoundError:
                    continue  # a concurrent vacuum dropped it mid-scan
                if ts is None:
                    keep.add(v)  # undated commit: retain conservatively
                elif int(ts) <= horizon_ms:
                    newest_before = v
                else:
                    keep.add(v)
            if newest_before is not None:
                keep.add(newest_before)
        cutoff = time.time() - grace_s
        if grace_s > 0:
            for v in vs:
                if v in keep:
                    continue
                try:
                    if os.path.getmtime(self._manifest_path(name, v)) >= cutoff:
                        keep.add(v)
                except FileNotFoundError:
                    continue
        live: set[str] = set()
        for v in keep:
            live.update(self._manifest_files(name, v))
        deleted = []
        for rel in self._data_files(name):
            if rel in live:
                continue
            path = os.path.join(self._dir(name), rel)
            if grace_s > 0:
                try:
                    if os.path.getmtime(path) >= cutoff:
                        continue  # fresh unreferenced file: likely an
                        # in-flight writer's pre-publish append
                except FileNotFoundError:
                    continue
            os.remove(path)
            deleted.append(rel)
        # prune now-empty bucket/partition dirs and the dropped manifests
        base = self._dir(name)
        for d in os.listdir(base):
            sub = os.path.join(base, d)
            if "=" in d and os.path.isdir(sub) and not os.listdir(sub):
                os.rmdir(sub)
        for v in vs:
            if v not in keep:
                try:
                    os.remove(self._manifest_path(name, v))
                except FileNotFoundError:
                    pass
        return deleted

    def tables(self) -> list[str]:
        """Catalog listing: every table this store holds (manifested
        tables and directories written before every table had a
        manifest alike) — one directory scan, no data I/O."""
        out: set[str] = set()
        if not os.path.isdir(self.root):
            return []
        for entry in os.listdir(self.root):
            p = os.path.join(self.root, entry)
            if entry.startswith("_manifest_"):
                out.add(entry[len("_manifest_"):])
            elif entry.startswith("_meta_") and entry.endswith(".json"):
                out.add(entry[len("_meta_"):-len(".json")])
            elif os.path.isdir(p) and not entry.startswith((".", "_")):
                out.add(entry)
        return sorted(out)

    def describe_detail(self, name: str) -> dict:
        """DESCRIBE DETAIL parity (Delta's operability verb): one dict
        of table facts from metadata only — kilobyte manifest + meta
        reads plus one directory listing, no data I/O, no Spark jobs.

        Fields: ``format``, ``version`` (latest), ``n_versions``
        retained, ``n_files`` / ``size_bytes`` of the CURRENT
        snapshot, ``n_buckets`` + ``key_cols`` (keyed tables),
        ``incarnation``, ``created_ts_millis`` (earliest retained
        commit) / ``last_modified_ts_millis`` (latest commit),
        ``properties`` (table properties), ``txn_apps`` (app ids with
        watermarks — the maintenance/streaming consumers), and
        ``bloom_index_cols`` (columns with a built per-file bloom
        index). Per-bucket file-count skew is in ``files_per_bucket``
        (max/min/avg) — the auto-compaction signal."""
        if not self.exists(name):
            raise ValueError(f"{name}: no such table")
        out: dict = {"name": name, "format": "parquet"}
        meta = read_meta(self.root, name)
        spec = self._keyed_spec_of(meta)
        if spec is not None:
            out["key_cols"], out["n_buckets"] = spec
        out["incarnation"] = meta.get("incarnation")
        out["properties"] = {
            k: v
            for k, v in meta.items()
            if k in ("auto_compact_files_per_bucket", "bloom_index_cols")
            and v is not None
        }
        bdir = os.path.join(self._dir(name), ".bloomidx")
        out["bloom_index_cols"] = (
            sorted(
                c for c in os.listdir(bdir)
                # exclude a crashed build/compact's .tmp-* / .old-*
                # leftovers — they carry a meta.json but are not
                # published indexes (code-review r12)
                if ".tmp-" not in c and ".old-" not in c
                and os.path.isfile(os.path.join(bdir, c, "meta.json"))
            )
            if os.path.isdir(bdir)
            else []
        )
        # an unversioned table's mod-time is the S4 stamp its meta
        # carries, so describe_detail stays the one catalog verb
        # pipeline gates need (VERDICT r12 item 7); a versioned one's
        # is its latest commit's
        out["last_modified_ts_millis"] = meta.get("last_modified_millis")
        vs = self.versions(name)
        if not vs:
            # a table with NO retained manifests (the overwrite
            # reset/heal window, or written before every table had a
            # manifest) — report what its directory holds instead of
            # crashing on max([]) (code-review r12)
            out.update({"version": None, "n_versions": 0})
            files = self._data_files(name)
        else:
            v = max(vs)
            doc = self._manifest_doc(name, v)
            out["version"] = v
            out["n_versions"] = len(vs)
            out["created_ts_millis"] = self._manifest_doc(
                name, vs[0]
            ).get("ts")
            if meta.get("versioned"):
                out["last_modified_ts_millis"] = doc.get("ts")
            out["txn_apps"] = {
                a: int(w) for a, w in (doc.get("txn", {}) or {}).items()
            }
            files = doc["files"]
        base = self._dir(name)
        size = 0
        per_bucket: dict[int, int] = {}
        for f in files:
            try:
                size += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
            if f.startswith("_kb="):
                b = self._bucket_of(f)
                per_bucket[b] = per_bucket.get(b, 0) + 1
        out["n_files"] = len(files)
        out["size_bytes"] = size
        if per_bucket:
            counts = list(per_bucket.values())
            out["files_per_bucket"] = {
                "max": max(counts),
                "min": min(counts),
                "avg": round(sum(counts) / len(counts), 2),
            }
        return out

    def fsck(self, name: str) -> dict:
        """Consistency audit of a versioned table's metadata against
        the filesystem — the operability check a maintenance job runs
        before/after vacuum or a migration (audits REPORT, gates
        refuse — the validate() convention). Reads manifests + a
        directory listing, no data. Returns:

        - ``broken_versions``: {version: [missing files]} — retained
          manifests referencing files that no longer exist (a vacuumed
          pin, manual deletion, or a partial restore): reads of those
          versions will fail.
        - ``orphan_files`` / ``orphan_bytes``: live on disk but
          referenced by NO retained manifest — aborted commits and
          vacuum debt (reclaimable; fresh ones may be in-flight
          writers, see vacuum's grace).
        - ``issues``: structural problems — meta/manifest version
          pointer ahead of the published history, malformed txn or
          stats entries, a keyed spec whose key_types length mismatch.
        A healthy table returns all-empty/zero fields. Hardened to
        keep auditing THROUGH the corruption it exists to diagnose
        (code-review r8 wave 5): malformed txn/stats/meta become
        ``issues`` entries instead of tracebacks; an UNREADABLE
        manifest suppresses the orphan classification entirely (its
        files are unknown — calling them reclaimable would convert a
        recoverable metadata problem into data loss); a crashed
        rebucket's durable stage counts as ``stage_bytes`` debt."""
        meta: dict = {}
        meta_issue = None
        try:
            meta = read_meta(self.root, name)
        except (OSError, ValueError) as ex:
            meta_issue = f"unreadable meta file ({ex})"
        vs = self.versions(name)
        if (
            meta_issue is None
            and not meta.get("versioned")
            and (meta or not vs)
        ):
            # a CLEARLY unversioned table keeps no history to audit
            # (code-review r8 wave 5: a keyed one written before its
            # manifests would report EVERY live file as a reclaimable
            # orphan). A table with manifests but a lost (or
            # unreadable) meta still audits.
            raise ValueError(
                f"{name}: fsck audits versioned tables "
                "(overwrite_keyed(..., versioned=True))"
            )
        report: dict = {
            "broken_versions": {},
            "orphan_files": [],
            "orphan_bytes": 0,
            "stage_bytes": 0,
            "issues": [],
        }
        if meta_issue:
            report["issues"].append(meta_issue)
        referenced: set[str] = set()
        on_disk = set(self._data_files(name))  # ONE listing pass
        unreadable = False
        for v in vs:
            try:
                doc = self._manifest_doc(name, v)
                files = list(doc.get("files", []))
                missing = [f for f in files if f not in on_disk]
                if missing:
                    report["broken_versions"][v] = missing
                referenced.update(files)
                txn = doc.get("txn", {})
                if not isinstance(txn, dict) or not all(
                    isinstance(a, str) and isinstance(t, int)
                    for a, t in txn.items()
                ):
                    report["issues"].append(f"v{v}: malformed txn map {txn!r}")
                stats = doc.get("stats", {})
                if not isinstance(stats, dict):
                    report["issues"].append(f"v{v}: malformed stats entry")
                else:
                    stray = set(stats) - set(files)
                    if stray:
                        report["issues"].append(
                            f"v{v}: stats for unreferenced files "
                            f"{sorted(stray)}"
                        )
            except Exception as ex:  # audit THROUGH corruption
                report["issues"].append(f"v{v}: unreadable manifest ({ex})")
                unreadable = True
        if unreadable:
            report["issues"].append(
                "orphan scan skipped: unreadable manifests make file "
                "reachability unknown — repair the manifests first"
            )
        else:
            for rel in sorted(on_disk - referenced):
                report["orphan_files"].append(rel)
                try:
                    report["orphan_bytes"] += os.path.getsize(
                        os.path.join(self._dir(name), rel)
                    )
                except OSError:
                    pass
        stage = os.path.join(self.root, f"_rebucket_{name}")
        if os.path.isdir(stage):
            for root_, _dirs, files_ in os.walk(stage):
                for fn in files_:
                    try:
                        report["stage_bytes"] += os.path.getsize(
                            os.path.join(root_, fn)
                        )
                    except OSError:
                        pass
            report["issues"].append(
                f"stale rebucket stage holds {report['stage_bytes']} bytes "
                "(a crashed rebucket; the next rebucket resumes from it, "
                "drop() removes it)"
            )
        try:
            ptr = int(meta.get("version", 0))
            if vs and ptr > max(vs):
                report["issues"].append(
                    f"meta version pointer {ptr} ahead of published "
                    f"history (max v{max(vs)})"
                )
        except (TypeError, ValueError):
            report["issues"].append(
                f"malformed meta version pointer {meta.get('version')!r}"
            )
        keys = meta.get("keyed_on")
        types = meta.get("key_types")
        if (
            keys is not None
            and types is not None
            and len(keys) != len(types)
        ):
            report["issues"].append(
                f"keyed spec mismatch: {len(keys)} keys vs "
                f"{len(types)} key_types"
            )
        return report

    def history(self, name: str) -> list[dict]:
        """DESCRIBE HISTORY parity: one entry per retained version of a
        versioned table, newest first — version, publish timestamp
        (ms), operation tag, file count, and the transactional
        watermark map at that version. Reads only the kilobyte
        manifests; versions dropped by vacuum no longer appear (their
        files are gone — an audit needing full retention should vacuum
        with keep_last/grace sized accordingly)."""
        out = []
        for v in reversed(self.versions(name)):
            doc = self._manifest_doc(name, v)
            out.append(
                {
                    "version": v,
                    "ts_millis": doc.get("ts"),
                    "op": doc.get("op"),
                    "n_files": len(doc["files"]),
                    "txn": doc.get("txn", {}),
                }
            )
        return out

    @staticmethod
    def _as_millis(ts) -> int:
        """Normalize a time-travel timestamp to epoch milliseconds:
        int/float epoch ms pass through; datetimes convert — NAIVE
        datetimes are treated as UTC (manifest ``ts`` fields are UTC
        epoch ms; silently interpreting naive as local time would make
        the same query resolve different versions on differently-zoned
        machines)."""
        if isinstance(ts, dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=dt.timezone.utc)
            return int(ts.timestamp() * 1000)
        return int(ts)

    def version_as_of(self, name: str, ts) -> int:
        """TIMESTAMP AS OF resolution (Delta/Iceberg parity, VERDICT r7
        item 2): the version CURRENT at ``ts`` — the newest retained
        version whose manifest published at or before ``ts`` (epoch ms
        int, or datetime; naive = UTC). A ts after the last commit
        resolves to the latest version (the table as of now); a ts
        before the earliest RETAINED commit raises — that history is
        gone (vacuum) or never existed, and silently serving the oldest
        snapshot would misattribute data to a time it wasn't live.
        Reads only the kilobyte manifests."""
        return self._snapshot_as_of(name, ts).version

    def _snapshot_as_of(self, name: str, ts) -> _Snapshot:
        """The snapshot ``version_as_of`` resolves, read once: the meta
        once and each retained manifest once (``read(as_of_ts=)`` scans
        the manifest it resolved)."""
        millis = self._as_millis(ts)
        meta = read_meta(self.root, name)
        vs = self.versions(name)
        if not vs or not meta.get("versioned"):
            raise ValueError(
                f"{name}: no manifest history — timestamp time travel "
                "needs a versioned table (overwrite_keyed(..., "
                "versioned=True))"
            )
        docs = {v: self._manifest_doc(name, v) for v in vs}
        # ascending: the last qualifying version wins
        best = [
            v for v in vs
            if docs[v].get("ts") is not None and int(docs[v]["ts"]) <= millis
        ]
        if not best:
            raise ValueError(
                f"{name}: no retained version existed at ts={millis} "
                f"(earliest retained commit: {docs[vs[0]].get('ts')}) — "
                "the history was vacuumed or the table is younger than "
                "the requested timestamp"
            )
        return _Snapshot(name, meta, best[-1], docs[best[-1]])

    def restore(self, name: str, version: int) -> int:
        """RESTORE TABLE ... TO VERSION parity: make snapshot
        ``version`` the CURRENT table again by publishing a NEW version
        referencing exactly its files — a metadata-only rollback (no
        data moves; the bad intermediate versions stay in history until
        vacuum, so a restore is itself revertible). Requires the target
        version to still be retained (vacuumed targets raise — their
        files are gone). Transactional watermarks deliberately carry
        FORWARD across a restore: rolling data back must not let an
        already-applied streaming batch re-apply."""
        doc = self._manifest_doc(name, version)
        return self._publish_version(
            name,
            doc["files"],
            schema_json=doc.get("schema"),
            op=f"restore(v{version})",
            # the target's own stats seed the new manifest, so a
            # restore never footer-reads the restored files — it
            # stays metadata-only even when the files predate the
            # latest manifest (code-review r8 wave 2)
            seed_stats=doc.get("stats"),
            # Delta RESTORE restores table METADATA too: the target
            # version's column map (possibly none) replaces the
            # current one, so post-rename/drop rollbacks bring the
            # old logical names back — unlike txn watermarks, which
            # deliberately carry forward
            colmap=doc.get("colmap"),
        )

    def table_changes(
        self, name: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """CHANGE DATA FEED (Delta's table_changes parity on the
        plain-parquet versioned store): the row-level changes that turn
        snapshot ``from_version`` into ``to_version`` (default latest),
        as the table's columns plus ``_change_type`` ∈ {'insert',
        'delete', 'update_preimage', 'update_postimage'} — the feed a
        downstream incremental consumer (a secondary index, an
        aggregate maintainer, a replication target) applies instead of
        re-reading the table.

        Derivation is manifest-diff + key-diff, NOT a log (the store
        records states, not operations): only files REFERENCED BY
        EXACTLY ONE of the two manifests are read — at 100 TB that is
        the churned buckets' files, never the table — then a full
        outer join on the merge key over those rows classifies each
        key (only-new → insert, only-old → delete, both-with-
        different-payload → update pre+post). Rows rewritten without
        logical change (compaction, or an upsert landing identical
        values) cancel out — a pure compact() between the two versions
        yields ZERO changes. Payload equality is null-safe per column;
        a column added by schema evolution reads as NULL on the old
        side, so backfills surface as updates exactly when a real
        value arrived. Both versions must still be retained (vacuumed
        versions raise via the manifest read)."""
        end = self._snapshot(name, to_version)
        if end.spec is None or not end.versioned:
            raise ValueError(
                f"{name}: table_changes needs a versioned keyed table"
            )
        end.require_manifest("table_changes")
        keys = list(end.spec[0])
        if end.version < int(from_version):
            # a transposed range would silently INVERT the feed
            # (deletes read as inserts, pre/post images swap) — fed
            # into an incremental consumer that corrupts the target
            # with no error; Delta raises here too (code-review r8)
            raise ValueError(
                f"{name}: table_changes range is reversed "
                f"(from_version={from_version} > to_version={end.version})"
            )
        start = (
            end if end.version == int(from_version)
            else self._snapshot(name, int(from_version), meta=end.meta)
        )
        old_files, new_files = set(start.files), set(end.files)
        # each side under its own version's recorded schema (files the
        # version names), both named by the END version's column map
        old = self._to_logical(
            self._read_manifest_df(start, sorted(old_files - new_files)),
            end.colmap,
        )
        new = self._to_logical(
            self._read_manifest_df(end, sorted(new_files - old_files)),
            end.colmap,
        )
        # widen both sides to the union of columns (schema evolution:
        # the old side lacks later-added columns — they read as NULL)
        for c, t_ in new.dtypes:
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None).cast(t_))
        for c, t_ in old.dtypes:
            if c not in new.columns:
                new = new.withColumn(c, F.lit(None).cast(t_))
        cols = [c for c in new.columns]
        payload = [c for c in cols if c not in keys]
        o = old.select(*[F.col(c).alias(f"_o_{c}") for c in cols])
        n = new.select(*[F.col(c).alias(f"_n_{c}") for c in cols])
        # presence markers tagged PRE-join: a full-outer non-match
        # leaves every column of the absent side NULL, and checking the
        # key columns for NULL would misclassify legitimately-NULL keys
        o = o.withColumn("_o_present", F.lit(True))
        n = n.withColumn("_n_present", F.lit(True))
        cond = None
        for k in keys:
            c = F.col(f"_o_{k}").eqNullSafe(F.col(f"_n_{k}"))
            cond = c if cond is None else (cond & c)
        j = o.join(n, cond, "full_outer")
        same = None
        for c in payload:
            eq = F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
            same = eq if same is None else (same & eq)
        if same is None:
            same = F.lit(True)  # key-only table: presence IS the diff
        both = F.col("_o_present") & F.col("_n_present")
        only_old = F.col("_o_present") & F.col("_n_present").isNull()
        only_new = F.col("_n_present") & F.col("_o_present").isNull()

        # ONE evaluation of the full-outer join (r14 optimization: the
        # previous four filtered branches unioned the SAME join subtree
        # four times — the scans' exchanges were runtime-reused but the
        # join itself executed once per branch): each joined row maps
        # to 0-2 output rows via a struct array exploded in place —
        # inserts/deletes yield one row, a changed pair yields
        # pre+postimage, an unchanged matched pair (same row carried by
        # both diff file sets after an untouched-row bucket rewrite)
        # yields none.
        def _row(side: str, change: str):
            return F.struct(
                *[F.col(f"_{side}_{c}").alias(c) for c in cols],
                F.lit(change).alias("_change_type"),
            )

        rows = (
            F.when(only_new, F.array(_row("n", "insert")))
            .when(only_old, F.array(_row("o", "delete")))
            .when(
                both & ~same,
                F.array(
                    _row("o", "update_preimage"),
                    _row("n", "update_postimage"),
                ),
            )
        )  # no otherwise: unchanged pairs -> NULL, explode drops them
        return (
            j.filter(only_new | only_old | (both & ~same))
            .select(F.explode(rows).alias("_r"))
            .select("_r.*")
        )

    # -- column mapping (rename/drop without rewriting data) ---------------
    #
    # Delta's column-mapping parity on the plain-parquet store: every
    # manifest optionally carries ``colmap`` =
    # {"renames": {logical: physical}, "dropped": [physical, ...]}.
    # Physical column names — what the parquet files store — NEVER
    # change after a column first appears; rename_column and
    # drop_column publish a new manifest with the SAME files and an
    # updated map (metadata-only, like Delta). Reads translate
    # physical → logical at egress (read / read_buckets / lookup /
    # read_where / table_changes); incremental writes translate
    # logical → physical at ingress (append / overwrite_buckets), so
    # commit internals and manifest stats stay purely physical. Time
    # travel reads each version under ITS OWN map. Key columns cannot be renamed or dropped (they route
    # buckets and thread through every merge — model a key change as
    # a rewrite); re-adding a dropped logical name is refused (the old
    # physical data would resurrect under the widened schema — Delta avoids
    # this with field ids, we avoid it loudly). A reseed
    # overwrite_keyed or rebucket bakes the logical schema in and
    # resets the map (full rewrites by definition).
    @staticmethod
    def _to_logical(df: DataFrame, colmap: dict | None) -> DataFrame:
        """Physical frame → the logical view ``colmap`` describes, the
        bucket column dropped."""
        if not colmap:
            return df.drop("_kb")
        phys_to_log = {p: l for l, p in colmap.get("renames", {}).items()}
        dropped = set(colmap.get("dropped", [])) | {"_kb"}
        return df.select(
            *[
                F.col(c).alias(phys_to_log.get(c, c))
                for c in df.columns
                if c not in dropped
            ]
        )

    @staticmethod
    def _to_physical(df: DataFrame, colmap: dict | None) -> DataFrame:
        """Logical incoming frame → physical storage names."""
        if not colmap:
            return df
        renames = colmap.get("renames", {})
        dropped = set(colmap.get("dropped", [])) | set(
            colmap.get("dropped_logical", [])
        )
        bad = sorted(
            c for c in df.columns if c in dropped and c not in renames
        )
        if bad:
            raise ValueError(
                f"column(s) {bad} were previously dropped from this "
                "table; re-adding a dropped name is not supported (the "
                "old physical data would resurrect) — use a new name"
            )
        log_of_phys = {p: l for l, p in renames.items()}
        stale = sorted(
            c
            for c in df.columns
            if c in log_of_phys and c not in renames
        )
        if stale:
            raise ValueError(
                f"column(s) {stale} are physical storage names of "
                f"renamed columns — write through the current logical "
                f"name(s) {[log_of_phys[c] for c in stale]}"
            )
        return df.select(
            *[F.col(c).alias(renames.get(c, c)) for c in df.columns]
        )

    def _logical_columns(self, snap: _Snapshot) -> list[str]:
        """The snapshot's logical column set (plan-only: manifest schema
        or footers, no data read)."""
        if snap.schema is not None:
            phys = snap.schema.names
        else:
            phys = self._read_manifest_df(snap).columns
        cm = snap.colmap or {}
        phys_to_log = {p: l for l, p in cm.get("renames", {}).items()}
        dropped = set(cm.get("dropped", []))
        return [
            phys_to_log.get(c, c)
            for c in phys
            if c != "_kb" and c not in dropped
        ]

    _RESERVED_COLS = frozenset(
        {"_kb", "_change_type", "_t_present", "_s_present"}
    )

    def _colmap_op_guard(self, snap: _Snapshot, col: str) -> None:
        name = snap.name
        if not snap.versioned or snap.spec is None:
            raise ValueError(
                f"{name}: rename/drop_column need a versioned keyed "
                "table (the map lives in the snapshot manifests)"
            )
        if col in snap.spec[0]:
            raise ValueError(
                f"{name}: {col!r} is a merge-key column — keys route "
                "buckets and cannot be renamed or dropped; model a key "
                "change as a full rewrite (overwrite_keyed)"
            )
        self._refuse_constrained_column(snap, col)

    def _refuse_constrained_column(self, snap: _Snapshot, col: str) -> None:
        """A declared CHECK constraint referencing the column would
        wedge every future write after a rename/drop (the enforcement
        probe widens the vanished name to NULL, and strict-NULL
        semantics then count every row as a violation — code-review r9
        wave 2). Resolution is the test: the constraint expression
        must still resolve against the logical schema WITHOUT the
        column, else the op is refused until the constraint is
        remapped or dropped."""
        cons = snap.meta.get("constraints", {})
        if not cons:
            return
        others = [c for c in self._logical_columns(snap) if c != col]
        probe = self._to_logical(
            self._read_manifest_df(snap), snap.colmap
        ).select(*others).limit(0)
        for cname, expr in cons.items():
            try:
                probe.select(F.expr(expr)).schema  # resolve, no job
            except Exception:
                raise ValueError(
                    f"{snap.name}: CHECK constraint {cname!r} ({expr!r}) "
                    f"references column {col!r} — drop or remap the "
                    "constraint before renaming/dropping the column"
                ) from None

    def _publish_colmap(self, name: str, op: str, col: str, build) -> int:
        """Publish loop for the metadata-only mapping verbs, through
        the one OCC loop (``_retry_base_conflicts``): each attempt
        checks ``col`` against its snapshot, derives (files, schema,
        stats) from it and ``build(base)``'s new colmap, and commits
        with the base CAS — without the CAS, a racing upsert's files
        would silently vanish from the published manifest, and two
        concurrent mapping ops would clobber each other's map
        (code-review r9 wave 2). Carrying the snapshot's schema and
        stats keeps it metadata-only AND keeps empty-table readability
        and read_where's schema-widen guard working at the new version
        (same wave)."""

        def attempt(base: _Snapshot) -> int:
            self._colmap_op_guard(base, col)
            return self._publish_version(
                name,
                base.files,
                schema_json=base.schema_json,
                op=op,
                colmap=build(base),
                base=base,
            )

        return self._retry_base_conflicts(self._pin_base(name), attempt)

    def rename_column(self, name: str, old: str, new: str) -> int:
        """Metadata-only column RENAME (Delta column-mapping parity):
        publishes a new manifest with the same files (schema and stats
        carried) and an updated logical→physical map — no data
        rewrite, old snapshots keep the old name under time travel.
        Concurrency-safe via a base-version CAS. Returns the published
        version."""
        if new in self._RESERVED_COLS:
            raise ValueError(
                f"{name}: {new!r} is a reserved internal column name"
            )

        def build(base: _Snapshot) -> dict:
            logical = self._logical_columns(base)
            if old not in logical:
                raise ValueError(f"{name}: no column {old!r} (have {logical})")
            if new in logical:
                raise ValueError(f"{name}: column {new!r} already exists")
            cm = base.colmap or {}
            renames = dict(cm.get("renames", {}))
            dropped = list(cm.get("dropped", []))
            dropped_logical = list(cm.get("dropped_logical", []))
            if new in dropped_logical or (
                new in dropped and new not in renames.values()
            ):
                raise ValueError(
                    f"{name}: {new!r} names a previously dropped "
                    "column; pick another name"
                )
            phys = renames.pop(old, old)
            renames[new] = phys
            return {
                "renames": renames,
                "dropped": dropped,
                "dropped_logical": dropped_logical,
            }

        return self._publish_colmap(name, "rename_column", old, build)

    def drop_column(self, name: str, col: str) -> int:
        """Metadata-only column DROP: the physical data stays in the
        old files (time travel still sees it) but the current logical
        view excludes it; future bucket rewrites simply stop carrying
        it. Records BOTH the physical name and the logical name as
        dropped, so neither can be silently re-introduced (the old
        physical data would resurrect / old rows would read NULL under
        a name that once held values). Concurrency-safe via a
        base-version CAS. Returns the published version."""

        def build(base: _Snapshot) -> dict:
            logical = self._logical_columns(base)
            if col not in logical:
                raise ValueError(f"{name}: no column {col!r} (have {logical})")
            cm = base.colmap or {}
            renames = dict(cm.get("renames", {}))
            dropped = list(cm.get("dropped", []))
            dropped_logical = list(cm.get("dropped_logical", []))
            phys = renames.pop(col, col)
            dropped.append(phys)
            dropped_logical.append(col)
            return {
                "renames": renames,
                "dropped": dropped,
                "dropped_logical": dropped_logical,
            }

        return self._publish_colmap(name, "drop_column", col, build)

    def _read_manifest_df(
        self, snap: _Snapshot, files: list[str] | None = None
    ) -> DataFrame:
        """The one scan of a snapshot, or of ``files``, a subset of its
        files: the PHYSICAL frame, ``_kb`` included (``_to_logical``
        gives the logical view). No manifest published (an overwrite's
        reset window, or a table written before every table had a
        manifest): the committed files of the directory
        (``_dir_files``), the package's one directory read; the next
        WRITE republishes them (code-review r6). FileNotFoundError
        when it holds none."""
        name = snap.name
        base = self._dir(name)
        if snap.version is None:
            files = self._dir_files(snap)
            if not files:
                raise FileNotFoundError(f"{name}: no committed data")
            reader = self.spark.read.option("mergeSchema", "true")
            return reader.option("basePath", base).parquet(
                *[os.path.join(base, f) for f in files]
            )
        if files is not None and not files:
            # a pruned-to-nothing scan keeps the snapshot's columns
            return self._read_manifest_df(snap).limit(0)
        files = snap.files if files is None else files
        if not files:
            # an existing-but-empty snapshot (empty versioned overwrite,
            # or every bucket emptied by deletes) reads as an EMPTY
            # frame with the schema the manifest recorded at write time
            # — not a ValueError that makes the table unreadable
            # (ADVICE r6). Manifests predating schema recording (or the
            # heal path, which can't know the schema) still fail loudly.
            if snap.schema is None:
                raise ValueError(
                    f"{name} v{snap.version}: empty manifest with no "
                    "recorded schema"
                )
            return local_frame(self.spark, [], snap.schema)
        if snap.schema is not None:
            # r14 (optimization): the manifest already records the
            # snapshot's exact schema, so supply it instead of letting
            # a mergeSchema job re-derive it from every file footer —
            # one Spark job per snapshot read removed, and at 100 TB
            # the job it removes is proportional to file count. Files
            # missing a newer column read as NULL (the same widening
            # mergeSchema produced); physical columns a file carries
            # beyond the snapshot schema are simply not read.
            reader = self.spark.read.schema(snap.schema)
        else:
            reader = self.spark.read.option("mergeSchema", "true")
        # basePath keeps the _kb partition column derivable from the
        # explicit file list, so bucket-pruned filters work
        return reader.option("basePath", base).parquet(
            *[os.path.join(base, f) for f in files]
        )

    # -- reads -------------------------------------------------------------
    def read(
        self,
        name: str,
        version: int | None = None,
        as_of_ts=None,
        where: dict | None = None,
    ) -> DataFrame:
        """Scan a table. The scan resolves a snapshot manifest at PLAN
        time and takes its schema from it, so planning runs no Spark
        job. On a versioned table ``version=None`` pins the latest
        published version, an explicit ``version=N`` pins that
        snapshot, and ``as_of_ts=`` (epoch ms or datetime; naive = UTC)
        pins the version current at that wall-clock instant (Delta's
        ``TIMESTAMP AS OF`` — see version_as_of), resolved from the
        one snapshot's meta and manifests; either way the plan keeps
        reading those exact files even if upserts publish newer
        versions mid-query (snapshot isolation; vacuumed versions fail
        loudly). An unversioned table, keyed or not, resolves its
        latest manifest the same way, but the verb that supersedes it
        removes its files, so a plan racing a write can fail on a
        vanished file (no snapshot isolation), and
        ``version=``/``as_of_ts=`` refuse. A table whose manifest
        history is missing (an overwrite's reset window, or a table
        written before every table had a manifest) reads its committed
        directory and publishes nothing: the next write heals it
        (``_pin_base``).

        ``where={col: scalar | [v, ...] | slice(lo, hi)}`` (VERDICT
        r12 item 3) plans the scan through EVERY applicable
        file-skipping structure automatically — manifest min/max stats
        and per-column bloom sidecars, per conjunct, kept sets
        intersected (see plan_read for the routing + the pruning
        report) — and applies the exact predicate on the pruned scan.
        The caller states the predicate; the engine picks the index,
        Delta/Iceberg data-skipping parity. Composes with version=/
        as_of_ts= (prune within the pinned snapshot). Versioned keyed
        tables only — everything else should filter an ordinary read —
        with a published manifest: in the reset window ``where=``
        raises until a write heals the table, like every read verb
        that needs the manifest."""
        if version is not None and as_of_ts is not None:
            raise ValueError("pass version= or as_of_ts=, not both")
        snap = (
            self._snapshot(name, version) if as_of_ts is None
            else self._snapshot_as_of(name, as_of_ts)
        )
        if where is not None:
            return self._read_planned(
                snap.require_manifest("where= planning"), where
            )
        if version is not None and not snap.versioned:
            raise ValueError(
                f"{name} is not versioned (overwrite_keyed(..., versioned=True))"
            )
        return self._to_logical(self._read_manifest_df(snap), snap.colmap)

    def max_value(self, name: str, col: str):
        """A1+S11 watermark: MAX(col) fetched as a scalar
        (datasources.py:140-142). On a versioned table the manifest
        stats answer first (``stats_scalar`` — zero Spark jobs, exact
        or refuse; r13), so the freshness gates every orchestration
        loop runs stop costing a scan; any refusal (string column,
        pre-extension manifest, unversioned table) falls back to the
        real aggregate — the only sanctioned driver-side collect."""
        try:
            return self.stats_scalar(name, "max", col)
        except ValueError:
            pass
        agg = self.read(name).selectExpr(f"max({col}) AS w")
        row = agg.first()
        if row is None:
            return None
        w = row["w"]
        if isinstance(w, dt.datetime) and w.tzinfo is None:
            from pyspark.sql.types import TimestampType

            # PySpark's fromInternal renders TIMESTAMP (tz-adjusted)
            # scalars in the driver's OS timezone, while the stats
            # path above answers in UTC wall-clock (the parquet-footer
            # basis _stat_val normalizes to). On a non-UTC driver the
            # two paths would disagree by the UTC offset and the
            # watermark could jump whenever the path flips (one
            # pre-extension file forces the scan fallback) — normalize
            # the fallback to the same UTC basis (ADVICE r13).
            # TIMESTAMP_NTZ is a different class and needs no shift.
            if type(agg.schema[0].dataType) is TimestampType:
                w = w.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return w

    # -- writes ------------------------------------------------------------
    def append(self, df: DataFrame, name: str) -> None:
        """S8: WRITE_APPEND + ALLOW_FIELD_ADDITION. The rows stage as
        new part-files and commit with a manifest that keeps every
        file of the base (``_append_and_publish`` with ``kept=None``):
        a keyed table stamps them into their buckets, a table
        ``reload_partitions`` wrote takes them in its ``col=value``
        layout, any other lands them at the root. New columns widen
        the manifest schema and read as NULL in older files; a column
        the batch carries narrower than the table is cast to the
        table's type, and one neither type holds raises ValueError."""
        snap = self._pin_base(name)
        df = self._enforce_constraints(name, df, snap.meta)
        if snap.spec is not None:
            df = self._to_physical(df, snap.colmap)
            df = df.withColumn("_kb", self._kb_expr(*snap.spec, snap.key_types))
        # appends never remove files: against whatever version a
        # concurrent writer just published, 'kept' is simply ALL of its
        # files — no re-merge, the staged rows are base-independent
        self._append_and_publish(df, snap, None, op="append")

    def overwrite(self, df: DataFrame, name: str) -> None:
        """S9: TRUNCATE + WRITE_TRUNCATE → full overwrite: the reset
        ``overwrite_keyed`` runs, with no key (``_reset``). The snapshot
        history and bloom sidecars retire first, a static overwrite
        replaces the directory, v1 publishes from its listing, and the
        meta, stamped last, drops any key spec and the versioned flag
        (ADVICE r6: a crash in between leaves a readable directory,
        never manifests pointing at deleted files)."""
        self._reset(
            self._enforce_constraints(name, df, read_meta(self.root, name)),
            name,
        )

    def reload_partitions(self, df: DataFrame, name: str, part_col: str) -> None:
        """S10: idempotent partition re-load. The reference deletes the
        date slice then appends (datasources.py:50-59); here the rows
        stage partitioned by ``part_col`` and commit with every base
        file outside the partitions they fill (``_append_and_publish``
        with ``kept=part_col``, CAS-protected like every commit):
        exactly the partitions present in ``df`` are replaced and all
        others stay — exactly-once under re-run. A frame with no rows
        publishes nothing onto a new table — no table shell that
        exists() affirms but reads cannot serve, which wedged a
        streaming foreachBatch whose first batch had zero survivors
        (code-review r6) — and re-publishes an existing table
        unchanged, stamping its meta. ValueError onto a table laid out
        otherwise (root files, a keyed table, another partition
        column)."""
        snap = self._pin_base(name)
        layout = _layout_of(snap.files)
        if snap.spec is not None or (snap.files and layout != part_col):
            raise ValueError(
                f"{name}: mixed table layout (reload_partitions by "
                f"{part_col!r} onto a table laid out by {layout!r}); "
                "overwrite the table to repair it"
            )
        df = self._enforce_constraints(name, df, snap.meta)
        self._append_and_publish(df, snap, part_col, op="reload_partitions")

    def upsert(self, df: DataFrame, name: str, key: str | list[str]) -> None:
        """Keyed merge (MERGE/upsert): incoming rows replace existing
        rows with the same key; all other existing rows survive. The
        generalization of the reference's delete-then-append (S10) from
        a date slice to arbitrary keys.

        Two routes, semantically identical, both committed by snapshot
        manifest with a CAS on the pinned base:

        - A keyed table (``overwrite_keyed``) merged on its own key:
          only the buckets the batch's keys hash to are rewritten,
          through ``overwrite_buckets`` like every other keyed write
          verb; an unversioned table then removes the files it
          superseded.
        - Any other table: anti-join + union, staged as a whole-table
          rewrite (``_append_and_publish`` with ``kept=[]``; fine for
          dimension-sized tables; key the table to avoid it at scale).
          The old files stay until after the publish, so the merge
          reads them without a pin, and a writer committing inside the
          read→publish window makes the whole merge re-run on the new
          base (``_retry_base_conflicts``) instead of losing its rows.

        The incoming batch is deduplicated on the key (last-writer-wins
        within a batch is not defined — dropDuplicates keeps one)
        before merging, on every route."""
        keys = [key] if isinstance(key, str) else list(key)
        snap = self._pin_base(name)
        incoming = self._enforce_constraints(name, df, snap.meta)
        incoming = incoming.dropDuplicates(keys)
        if snap.spec is not None and list(snap.spec[0]) == keys:
            self._upsert_keyed(incoming, snap, keys)
            return

        def rewrite(base: _Snapshot) -> None:
            merged = incoming
            if self._table_initialized(base):
                existing = self._to_logical(
                    self._read_manifest_df(base), base.colmap
                )
                # null-safe key equality: plain `on=keys` never matches
                # NULL keys, so a NULL-key row would be appended again
                # every call
                inc_keys, cond = _key_match(keys, incoming, "_ik_")
                merged = existing.join(
                    inc_keys, cond, how="left_anti"
                ).unionByName(incoming, allowMissingColumns=True)
            # merged holds historical rows that constraints must not
            # re-judge: the incoming batch was validated above
            self._rewrite_table(merged, base, op="upsert")

        self._retry_base_conflicts(snap, rewrite)

    def overwrite_keyed(
        self,
        df: DataFrame,
        name: str,
        key: str | list[str],
        n_buckets: int = 64,
        versioned: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Write a table hash-bucket-partitioned by its merge key: rows
        land in parquet partitions _kb=pmod(xxhash64(key), n_buckets).
        Subsequent ``upsert`` calls on the same key then rewrite ONLY
        the buckets containing matched keys — the Delta/Iceberg MERGE
        cost profile on plain parquet, instead of the whole-table
        rewrite the unkeyed fallback pays. Size n_buckets so one bucket
        ≈ a few files at the table's target size (the same knob as
        lakehouse file sizing); the bucket column never surfaces on
        read.

        Every keyed table commits through a snapshot manifest (see the
        manifest section above), published here as v1: each write
        appends new files and publishes the next manifest with a CAS on
        the version it derived from. ``versioned=True`` keeps the
        superseded snapshots: readers get snapshot isolation and
        ``read(name, version=N)`` time travel, and ``vacuum`` reclaims
        unreferenced files. ``versioned=False`` (no time travel) makes
        each write remove the files and the manifest it superseded."""
        keys = [key] if isinstance(key, str) else list(key)
        if int(n_buckets) < 1:
            # pmod(x, 0) is NULL: every row would land in the Hive
            # default partition and bucket-pruned lookups/upserts would
            # silently match nothing (code-review r8 wave 4)
            raise ValueError(
                f"{name}: n_buckets must be >= 1, got {n_buckets}"
            )
        df = self._enforce_constraints(name, df, read_meta(self.root, name))
        key_types = [df.schema[k].dataType.simpleString() for k in keys]
        self._reset(
            df.withColumn("_kb", self._kb_expr(keys, n_buckets, key_types)),
            name,
            {"keyed_on": keys, "key_buckets": n_buckets, "key_types": key_types},
            versioned,
            txn,
        )

    def _reset(
        self,
        df: DataFrame,
        name: str,
        keyed: dict | None = None,
        versioned: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """The one reset of a table, shared by ``overwrite`` and
        ``overwrite_keyed``: replace every row with ``df``'s (already
        ``_kb``-stamped when ``keyed`` carries the key spec the meta
        records) and restart the history at v1 under a fresh
        incarnation.

        Crash-window ordering (code-review r5 + r6): (1) retire the
        old manifest history FIRST — the overwrite is about to delete
        the files it references, and a manifest pointing at deleted
        files is worse than no manifest (reads fall back to the
        directory, which stays consistent through every window
        below); (2) write the data; (3) publish the v1 manifest file;
        (4) stamp the full meta LAST — a crash before it leaves no
        phantom keyed/versioned marker, and a retry completes the
        table. A crash between (1) and (3) is read from the committed
        directory and healed by the next write.

        The retiring history's txn watermark map carries FORWARD into
        the reseeded v1 manifest (ADVICE r7): a reseed overwrite must
        not let an already-applied streaming batch (same app_id, old
        txn_version) silently re-apply — the same reasoning restore()
        documents, and Delta's behavior (txnAppId watermarks survive
        overwrites). Only when the NEW table is versioned: the
        watermark verbs refuse unversioned tables."""
        import uuid

        carried_txn: dict = {}
        if versioned:
            prev_v = self.latest_version(name)
            if prev_v is not None:
                try:
                    carried_txn = dict(
                        self._manifest_doc(name, prev_v).get("txn", {})
                    )
                except FileNotFoundError:
                    pass
        shutil.rmtree(self._manifest_dir(name), ignore_errors=True)
        # stale sidecars must not carry across the reset (ADVICE r12:
        # a surviving index hashes under the OLD incarnation's dtype —
        # probes casting to it could silently false-negative)
        self._retire_bloom_indexes(name)
        w = (
            self._cluster_kb(df).write.partitionBy("_kb") if keyed
            else df.write
        )
        (
            w.mode("overwrite")
            # STATIC overwrite, whatever the caller's session sets:
            # under dynamic, a partitioned "full" overwrite would only
            # replace the buckets receiving data — a re-overwrite with
            # a smaller/reshaped dataset would silently keep every
            # other bucket's stale rows (reproduced r6: 1-row
            # re-overwrite of a 40-row table read back 36 stale rows).
            # Static truncates the directory first, which also makes
            # the directory listing + _SUCCESS marker the trustworthy
            # heal source for the manifest fallback.
            .option("partitionOverwriteMode", "static")
            .parquet(self._dir(name))
        )
        schema_json = df.schema.json()
        v = self._write_manifest_file(
            name,
            self._data_files(name),
            schema_json=schema_json,
            txn=txn if versioned else None,
            op="overwrite",
            seed_txn=carried_txn,
        )

        self._touch_meta(
            name,
            **(keyed or dict.fromkeys(("keyed_on", "key_buckets", "key_types"))),
            versioned=versioned,
            version=v,
            # fresh per reseed: downstream incremental consumers
            # (sync_rollup) key their watermarks on the incarnation so
            # a reseed — which restarts version numbering at 1 — is
            # detected as a NEW table, not a stale/garbage feed source
            # (code-review r8 wave 3)
            incarnation=uuid.uuid4().hex,
            schema=schema_json,
        )

    def _upsert_keyed(
        self,
        incoming: DataFrame,
        snap: _Snapshot,
        keys: list[str],
        txn: tuple[str, int] | None = None,
        check_replay: bool = False,
    ) -> None:
        """Bucket-partitioned MERGE: read ONLY the buckets the incoming
        keys hash to, anti-join the survivors against the batch, union
        the batch in and rewrite exactly those buckets through
        ``overwrite_buckets`` (append + publish a manifest; an
        unversioned table then removes the files it superseded).
        Untouched buckets' files are never read or rewritten. Each
        attempt routes the batch, reads and publishes against one
        snapshot: ``snap`` first, then a new one per retry."""
        # pin the batch lineage ONCE: the bucket probe materializes the
        # lazy checkpoint, and the merge's two references (anti-join
        # key side + union side) read the cache instead of re-running
        # the lineage, so a non-deterministic lineage cannot hash rows
        # into buckets outside the probed set. A full two-phase
        # parquet staging of the batch was prototyped and measured
        # SLOWER locally (+0.75 s per 3-upsert lifecycle, interleaved
        # median-of-7: the extra staging job + tiny-file read-back cost
        # more than the saved evaluations); the checkpoint gets the
        # same single-evaluation property with no extra job.
        incoming = incoming.localCheckpoint(eager=False)

        def _attempt(base: _Snapshot) -> None:
            affected = self.keyed_buckets(base, incoming)
            inc_keys, cond = _key_match(keys, incoming, "_ik_")
            survivors = self.read_buckets(base, affected).join(
                inc_keys, cond, how="left_anti"
            )
            self.overwrite_buckets(
                survivors.unionByName(incoming, allowMissingColumns=True),
                base.name, affected, op="upsert", txn=txn,
                check_replay=check_replay, base=base,
                rows_within_buckets=True,
            )

        self._retry_base_conflicts(snap, _attempt)

    @staticmethod
    def _route_buckets(rows, types, n_buckets: int) -> list[int] | None:
        """Driver-side bucket routing for point lookups: pmod(
        xxhash64(key), n_buckets) computed in pure Python
        (functions/xxhash.py — bit-exact parity with Spark's
        expression, pinned by test) — a handful of probe keys should
        not cost a Spark JOB just to learn which buckets they live in.
        Returns None when a key type is outside the validated set
        (temporal/float keys carry normalization subtleties), sending
        the caller to the keyed_buckets Spark path. Probe values have
        already passed local_frame's typed-schema verification, so
        they conform to the stored key types."""
        if not types:
            return None
        from .functions.xxhash import bucket_of

        out: set[int] = set()
        try:
            for r in rows:
                out.add(bucket_of(r, types, n_buckets))
        except Exception:
            # unsupported key type, unencodable value (lone-surrogate
            # strings raise UnicodeEncodeError), anything else — the
            # Spark-job path is always definitionally correct
            return None
        return sorted(out)

    def keyed_buckets(self, table: str | _Snapshot, df: DataFrame) -> list[int]:
        """Bucket ids the rows of ``df`` hash to under the table's key
        spec — a bounded (≤ n_buckets) collect that drives
        partition-pruned maintenance. ``table`` is a table name or a
        snapshot of it."""
        snap = self._snapshot(table) if isinstance(table, str) else table
        return [
            r[0]
            for r in df.select(
                self._kb_expr(*snap.spec, snap.key_types).alias("_kb")
            )
            .distinct()
            .collect()
        ]

    def read_buckets(
        self, table: str | _Snapshot, buckets: list[int]
    ) -> DataFrame:
        """Partition-pruned read of just the listed buckets (without
        the internal _kb column), resolved through the manifest of a
        snapshot of the keyed table: ``table`` itself, or the latest
        when it is a table name."""
        snap = self._snapshot(table) if isinstance(table, str) else table
        out = self._read_manifest_df(snap).filter(
            F.col("_kb").isin(list(buckets))
        )
        return self._to_logical(out, snap.colmap)

    def lookup(self, name: str, values) -> DataFrame:
        """Bucket-pruned POINT LOOKUP: fetch the rows whose key equals
        any of ``values`` (a list of key values for single-column keys,
        or of tuples matching the composite key) by reading ONLY the
        buckets those keys hash to — the serving-path read that makes
        a keyed table answer "give me these ids" by scanning
        |keys' buckets| / n_buckets of the table instead of all of it.
        On a versioned table the lookup is snapshot-consistent (the
        bucket read resolves one manifest). Equality is null-safe,
        mirroring upsert's key matching.

        At 100 TB with n_buckets sized to a few files per bucket, a
        k-key lookup touches ≤ k bucket directories' footers — the
        poor man's primary-key index that bucketing already paid for."""
        snap = self._snapshot(name)
        spec = snap.spec
        if spec is None:
            raise ValueError(
                f"{name}: lookup() needs a keyed table "
                "(overwrite_keyed) — plain tables have no bucket "
                "routing to prune by"
            )
        keys, _n = spec
        rows = [
            tuple(v) if isinstance(v, (tuple, list)) else (v,)
            for v in values
        ]
        if not rows:
            return self.read_buckets(snap, [])
        types = snap.key_types
        # EXPLICIT schema from the stored key types (code-review r7
        # wave 3): inference dies on an all-None probe, and a lazy cast
        # of an uncastable value would become NULL and eqNullSafe-match
        # the table's NULL-key rows — with the typed schema, a
        # wrong-typed probe value fails loudly at conversion instead.
        if types:
            schema = ", ".join(f"`{k}` {t}" for k, t in zip(keys, types))
        else:
            schema = self.spark._inferSchemaFromList(rows, names=keys)
        probe = local_frame(self.spark, rows, schema).dropDuplicates(keys)
        buckets = self._route_buckets(rows, types, _n)
        if buckets is None:
            buckets = self.keyed_buckets(snap, probe)
        slice_ = self.read_buckets(snap, buckets)
        lk, cond = _key_match(keys, probe, "_lk_")
        return slice_.join(F.broadcast(lk), cond, "left_semi")

    def overwrite_buckets(
        self,
        df: DataFrame,
        name: str,
        buckets: list[int],
        op: str = "replace_buckets",
        txn: tuple[str, int] | None = None,
        check_replay: bool = False,
        txn_expect: int | None = None,
        base: _Snapshot | None = None,
        txn_assert: dict[str, int] | None = None,
        rows_within_buckets: bool = False,
    ) -> None:
        """Replace exactly the listed buckets with ``df``'s rows
        (stamped by the table's key spec). Buckets in ``buckets`` that
        end up with NO rows are emptied. Lazy frames are fine: the new
        bucket contents append as new part-files and the published
        manifest stops referencing the replaced (or emptied) buckets'
        old files, so the write never overwrites the files ``df``
        reads, and callers do not materialize survivor frames. On a
        versioned table deletes are logical until vacuum; an
        unversioned one removes the superseded files after the publish
        (``_remove_superseded``).

        ``base``: the snapshot the CALLER's frame was derived from
        (delete_where/merge_when survivors). Its key spec, key types
        and column map stamp the rows, its files are the ones kept, and
        the publish CASes on it, so a concurrent commit surfaces as
        BaseVersionConflict for the caller's retry instead of a lost
        update (ADVICE r9). Default: pinned here, which still guards
        the kept-list derivation below.

        ``rows_within_buckets=True`` (internal verbs) asserts the
        caller PROVED every row of ``df`` hashes into ``buckets``
        (delete/update survivors keep their keys; merge_when derived
        ``buckets`` from every source row including inserts) — the
        widening collect below is then skipped, saving a full
        evaluation of ``df``'s lineage (r14). Public callers leave it
        False and keep the safety net.

        This is the low-level maintenance primitive (delete_where and
        CDC feed SURVIVOR frames through it), so CHECK constraints are
        deliberately NOT enforced here — the caller owns validation of
        any genuinely new rows."""
        if base is None:
            base = self._pin_base(name)
        df = self._to_physical(df, base.colmap)
        stamped = df.withColumn(
            "_kb", self._kb_expr(*base.spec, base.key_types)
        )
        # rows hashing OUTSIDE the listed buckets must still land in
        # the manifest — without widening, their files would be
        # appended but unreferenced (an invisible write) while the
        # stale old rows of their buckets stayed live (code-review r6).
        # Callers that PROVED containment skip the widening evaluation
        # (rows_within_buckets above).
        eff = set(buckets)
        if not rows_within_buckets:
            eff |= {r[0] for r in stamped.select("_kb").distinct().collect()}
        kept = [f for f in base.files if self._bucket_of(f) not in eff]
        self._append_and_publish(
            stamped, base, kept, op=op, txn=txn,
            check_replay=check_replay, txn_expect=txn_expect,
            txn_assert=txn_assert,
        )

    def _rewrite_table(self, rows: DataFrame, base: _Snapshot, op: str) -> None:
        """Commit ``rows``, the logical view of the whole table derived
        from ``base``, as a rewrite (``kept=[]``); a keyed table's rows
        go back into their physical names and buckets."""
        if base.spec is not None:
            rows = self._to_physical(rows, base.colmap).withColumn(
                "_kb", self._kb_expr(*base.spec, base.key_types)
            )
        self._append_and_publish(rows, base, [], op=op)

    def _table_initialized(self, snap: _Snapshot) -> bool:
        """Has any WRITE ever landed for this table? Distinguishes a
        real (possibly empty) table from a meta-only shell, which
        set_constraints on a not-yet-written table creates — exists()
        affirms the shell (it sees the meta file), so routing
        create-vs-merge on exists() broke contract-first creation
        (code-review r7 wave 2: declare constraints, then upsert).
        A pinned snapshot (``_pin_base``) answers: its heal published
        any directory that holds committed rows."""
        return snap.spec is not None or snap.version is not None

    def set_constraints(self, name: str, constraints: dict[str, str]) -> None:
        """Declare CHECK constraints for a table (Delta's ALTER TABLE
        ADD CONSTRAINT parity): a map of constraint-name → boolean SQL
        expression every row of every future write must satisfy
        (`{"price_positive": "price > 0", "id_set": "id IS NOT NULL"}`).
        Stored in the table meta; enforced on the INCOMING batch of
        every write verb (append/overwrite/upsert/overwrite_keyed/
        upsert_txn) BEFORE any data lands — a violating batch raises
        with per-constraint violation counts and the whole write is
        refused, so no NEW row can land that fails its contract. NULL
        evaluations count as violations — deliberately STRICTER than
        standard SQL CHECK (where UNKNOWN passes): in a training
        pipeline a null sneaking past a gate is almost always a bug;
        write "x IS NULL OR <pred>" to opt into the lax form.

        Scope notes: rows written BEFORE a constraint was declared are
        not re-judged (declare-then-backfill with delete_where or an
        overwrite if needed), merged/survivor frames carrying such
        historical rows pass through unvalidated, and the low-level
        overwrite_buckets primitive leaves validation to its caller.
        Declaring constraints on a not-yet-written table is supported
        (contract-first creation).

        Cost: one aggregate over the INCOMING batch per write — at
        100 TB this is a map-side pass over data already in flight,
        not a table scan. Replayed transactions (upsert_txn) skip
        before validation and stay free."""
        for cname, expr in constraints.items():
            # fail fast on unparseable expressions (F.expr itself is
            # lazy — the string would otherwise only blow up at the
            # first write). Column RESOLUTION still happens per write,
            # against each batch's actual schema.
            self.spark._jsparkSession.sessionState().sqlParser().parseExpression(
                expr
            )
        self._touch_meta(
            name, constraints={str(k): str(v) for k, v in constraints.items()}
        )

    def constraints(self, name: str) -> dict[str, str]:
        return read_meta(self.root, name).get("constraints", {})

    def validate(self, name: str) -> dict[str, int]:
        """Audit the CURRENT table against its declared constraints:
        violation count per constraint (0s included) — the
        declare-then-backfill companion to set_constraints (which only
        guards FUTURE writes; rows predating a constraint stay until
        audited and repaired, e.g. via delete_where on the violating
        predicate). One table scan, one keys=[] aggregate, no raise —
        audits report, gates refuse."""
        cons = self.constraints(name)
        if not cons:
            return {}
        return self._violation_counts(name, cons, self.read(name))

    def _violation_counts(
        self, name: str, cons: dict[str, str], df: DataFrame
    ) -> dict[str, int]:
        """The one definition of violation counting (shared by the
        write gates and validate(), so audit and enforcement can never
        diverge — code-review r7 wave 4): per-constraint count of rows
        where the expression is not TRUE (strict-NULL semantics)."""
        try:
            counts = df.agg(
                *[
                    F.sum(
                        F.when(F.expr(expr), F.lit(0)).otherwise(F.lit(1))
                    ).alias(cname)
                    for cname, expr in cons.items()
                ]
            ).first()
        except Exception as ex:
            raise ValueError(
                f"{name}: constraint expressions {list(cons.values())} "
                f"failed to evaluate against columns {df.columns}: {ex}"
            ) from ex
        return {c: int(counts[c] or 0) for c in cons}

    def _check_constraints(self, name: str, df: DataFrame, meta: dict) -> None:
        """Raise-only constraint gate for frames that are ALREADY
        pinned and schema-complete (the CDC paths validate the
        post-merge rows a batch lands — full table schema, already
        checkpointed): no extra localCheckpoint, no NULL-widening.
        ``meta`` is the table meta the caller's verb read."""
        cons = meta.get("constraints", {})
        if not cons:
            return
        bad = {
            c: n for c, n in self._violation_counts(name, cons, df).items() if n
        }
        if bad:
            raise ValueError(
                f"{name}: write refused — constraint violations {bad} "
                f"(constraints: { {c: cons[c] for c in bad} })"
            )

    def _enforce_constraints(
        self, name: str, df: DataFrame, meta: dict
    ) -> DataFrame:
        """Raise if any row of the INCOMING batch violates a declared
        constraint of ``meta`` (the table meta the caller's verb read);
        returns the (checkpointed) batch otherwise.

        Design points, all surfaced by code-review r7 wave 2:
        - called once per PUBLIC verb on the incoming batch only —
          never on merged/survivor frames, so historical rows written
          before a constraint existed don't wedge later writes, and
          validation cost is the batch, not the table;
        - the batch is localCheckpoint'ed first, so the rows the
          constraint aggregate judged are EXACTLY the rows the write
          lands (a non-deterministic lineage can't pass the check and
          then materialize different rows), and the write doesn't
          recompute the lineage;
        - the batch is evaluated WIDENED to the stored table schema
          (missing columns as NULL — what the write would land), so a
          narrow batch is judged on its real effect ("note IS NOT
          NULL" refuses a note-less batch instead of crashing
          unresolved);
        - NULL evaluations count as violations: stricter than SQL's
          CHECK (which lets UNKNOWN pass) BY DESIGN — in a training
          pipeline a null sneaking past a gate is almost always a bug;
          write "x IS NULL OR <pred>" to opt into SQL's laxness."""
        cons = meta.get("constraints", {})
        if not cons:
            return df
        df = df.localCheckpoint(eager=True)
        probe = df
        schema = _parse_schema(meta.get("schema"))
        for fld in schema.fields if schema is not None else []:
            if fld.name not in probe.columns and fld.name != "_kb":
                probe = probe.withColumn(
                    fld.name, F.lit(None).cast(fld.dataType)
                )
        bad = {
            c: n
            for c, n in self._violation_counts(name, cons, probe).items()
            if n
        }
        if bad:
            raise ValueError(
                f"{name}: write refused — constraint violations {bad} "
                f"(constraints: { {c: cons[c] for c in bad} })"
            )
        return df

    def upsert_txn(
        self,
        df: DataFrame,
        name: str,
        key: str | list[str],
        app_id: str,
        txn_version: int,
        n_buckets: int = 64,
    ) -> bool:
        """EXACTLY-ONCE keyed upsert (Delta's txnAppId/txnVersion
        pattern on the plain-parquet versioned store): the write and
        its (app_id, txn_version) watermark publish in ONE atomic
        manifest commit, so an at-least-once retry of the same
        transaction (a replayed streaming micro-batch, a re-run job)
        is detected by ``last_txn`` and SKIPPED — true exactly-once
        even for non-idempotent change batches, where the _batch_id
        partition trick only covers append shapes and cdc_apply relies
        on operator idempotence. Watermarks survive compaction (every
        publish copies the txn map forward). Returns True if applied,
        False if skipped as a replay. Creates the table (versioned,
        keyed) on first use; requires a versioned table thereafter.

        The ``last_txn`` read below is only the cheap FAST check; the
        authoritative one re-runs inside the manifest claim loop
        (check_replay), so two CONCURRENT writers sharing an app_id —
        a zombie driver plus its replacement, the exact failure
        foreachBatch retries model — serialize on the put-if-absent
        claim and exactly one applies (VERDICT r7 item 1); the loser
        returns False and its appended files stay invisible orphans
        until vacuum.

        A retry after a CRASHED creation (overwrite_keyed died between
        its data write and the meta stamp: parquet present in _kb=
        bucket dirs but no keyed meta) re-runs the creation path
        instead of raising — without the heal, a restarted
        exactly-once stream wedged into a crash loop until manual
        repair (ADVICE r7).

        At 100 TB this is the streaming-dimension maintenance
        contract: per-batch cost is the batch's buckets, replay cost
        is one manifest read.

        The first-write claim (ADVICE r9) uses the module's claim
        timing: losers wait up to ``CLAIM_WAIT_S`` for the winner, and
        a claim untouched for ``CLAIM_STALE_S`` is presumed crashed and
        stolen. The holder HEARTBEATS the claim while its overwrite
        runs (_ClaimHeartbeat), so staleness measures silence, not
        duration — a first write may run longer than
        ``CLAIM_STALE_S`` safely."""
        keys = [key] if isinstance(key, str) else list(key)
        snap = self._pin_base(name)
        if not self._table_initialized(snap) or (
            snap.spec is None and self._creation_crashed(name)
        ):
            # creation path (or its retry after a crash between the
            # bucket-partitioned data write and the meta stamp — the
            # _kb= dirs without a keyed meta are that window's
            # signature, never a legitimately written plain table):
            # overwrite_keyed enforces constraints and statically
            # re-truncates whatever the crash left behind. Serialized
            # behind a create-exclusive claim (code-review r9 wave 1):
            # a zombie driver and its replacement both replaying
            # batch 0 would otherwise run two concurrent static
            # overwrites of the same directory — the claim lets one
            # create while the other converges and falls through to
            # the steady-state replay check below.
            created = self._create_txn_serialized(
                df, name, keys, app_id, int(txn_version), int(n_buckets)
            )
            if created:
                return True
            snap = self._pin_base(name)  # converged on a racer's table
        if snap.spec is None and self._meta_lost_one_commit(name):
            # meta-only damage on a readable one-commit snapshot
            # (ADVICE r8): recover losslessly instead of truncating —
            # the rebuild PROVES the caller's spec against the data
            # first. A (3)→(4) creation-crash retry lands here too and
            # then skips below as an already-applied txn (the v1
            # manifest carries the creation's watermark).
            self._rebuild_meta_from_manifest(name, keys, int(n_buckets))
            snap = self._pin_base(name)
        spec = snap.spec
        if spec is None or not snap.versioned:
            raise ValueError(
                f"{name}: upsert_txn needs a versioned keyed table "
                "(overwrite_keyed(..., versioned=True))"
            )
        if list(spec[0]) != keys:
            raise ValueError(
                f"{name}: upsert_txn key {keys} != table key {list(spec[0])}"
            )
        last = snap.txn.get(app_id)
        if last is not None and int(last) >= int(txn_version):
            # replayed transaction: already applied. Checked BEFORE
            # constraint enforcement (code-review r7 wave 2): a replay
            # must skip for free even if constraints have since
            # tightened past the batch — raising here would wedge a
            # restarted stream into a crash-replay loop, and even a
            # conformant replay should not pay an aggregate job.
            return False
        df = self._enforce_constraints(name, df, snap.meta)
        try:
            self._upsert_keyed(
                df.dropDuplicates(keys),
                snap,
                keys,
                txn=(app_id, int(txn_version)),
                check_replay=True,
            )
        except TxnAlreadyApplied:
            return False  # lost a concurrent same-app race — not applied
        return True

    def _creation_crashed(self, name: str) -> bool:
        """Does the table look like overwrite_keyed's CREATION crash
        window — bucket-partitioned data (_kb= dirs) but no keyed
        meta, and no READABLE committed snapshot? A legitimate plain
        table never has _kb= dirs (plain writes land at the directory
        root or in their own partitions; an overwrite of a keyed table
        truncates its buckets away). The manifest gates narrow the signature
        (code-review r8 + ADVICE r8): a MATURE versioned table that
        lost only its meta file also reads keyed_spec()=None with
        _kb= dirs present, but carries a multi-version history the
        creation window cannot; and a ONE-commit table whose v1
        manifest still resolves (every referenced file on disk) is a
        committed, readable snapshot that merely lost its meta —
        recreating EITHER would truncate committed data to one batch.
        Both now stay out of the heal: the one-commit case is
        recovered losslessly by _rebuild_meta_from_manifest (the
        upsert_txn retry path), the multi-version case stays a loud
        ValueError (restore the meta). Only versions()==[] (crash
        before the v1 manifest published) or a v1 manifest pointing
        at missing files (no readable snapshot exists at all) heal by
        re-running creation."""
        d = self._dir(name)
        if not os.path.isdir(d):
            return False
        if not any(e.startswith("_kb=") for e in os.listdir(d)):
            return False
        vs = self.versions(name)
        if vs == []:
            return True
        if vs != [1]:
            return False
        files = self._manifest_files(name, 1)
        return any(
            not os.path.isfile(os.path.join(d, f)) for f in files
        )

    def _create_txn_serialized(
        self,
        df: DataFrame,
        name: str,
        keys: list[str],
        app_id: str,
        txn_version: int,
        n_buckets: int,
    ) -> bool:
        """upsert_txn's FIRST-WRITE path, serialized behind a
        create-exclusive claim (code-review r9 wave 1): two writers
        racing the creation of one table (a zombie foreachBatch driver
        plus its replacement, both replaying batch 0) must not run two
        concurrent static overwrites of the same directory — the local
        committer shares one _temporary dir per path and the second
        truncation can destroy the first's committed files. Exactly
        one racer creates; the other returns False and falls through
        to the steady-state path, where the ordinary manifest replay
        check decides whether its batch still applies. A claim
        orphaned by a crashed creator goes stale after
        ``CLAIM_STALE_S`` and is stolen; the stealer's creation safely
        re-truncates partial state (the _creation_crashed retry
        contract)."""
        claim = os.path.join(self.root, f".createclaim_{name}")

        def _created() -> bool:
            return self.keyed_spec(name) is not None

        def _create() -> bool:
            self.overwrite_keyed(
                df.dropDuplicates(keys),
                name,
                keys,
                n_buckets=n_buckets,
                versioned=True,
                txn=(app_id, int(txn_version)),
            )
            return True

        return run_claim_serialized(
            claim,
            lambda: False if _created() else None,  # a racer finished
            _create,
            f"{name}: first-write creation",
        )

    def _meta_lost_one_commit(self, name: str) -> bool:
        """Meta-only damage signature: bucket-partitioned data, no
        keyed meta, and a v1-only manifest history whose files all
        still exist — a committed readable snapshot that merely lost
        its sidecar (ADVICE r8). Disjoint from _creation_crashed,
        which now requires the snapshot to be absent or unreadable."""
        d = self._dir(name)
        if not os.path.isdir(d) or not any(
            e.startswith("_kb=") for e in os.listdir(d)
        ):
            return False
        if self.versions(name) != [1]:
            return False
        return all(
            os.path.isfile(os.path.join(d, f))
            for f in self._manifest_files(name, 1)
        )

    def _rebuild_meta_from_manifest(
        self, name: str, keys: list[str], n_buckets: int
    ) -> None:
        """Lossless recovery for a versioned keyed table that lost
        ONLY its meta sidecar (ADVICE r8): the v1 manifest still
        resolves, so the data is a committed snapshot — rebuild the
        meta from the caller's declared (keys, n_buckets) instead of
        truncating the table through the creation path. The declared
        spec is PROVEN against the data before anything is stamped:
        every row's stored _kb must equal pmod(xxhash64(keys),
        n_buckets) under the snapshot's own key column types — a
        wrong key set or bucket count fails this for some row (or at
        minimum cannot be verified), and stamping it anyway would
        route future upserts to the wrong buckets (silent duplicate
        keys). One scan over the one-commit snapshot; this is a rare
        repair path."""
        # the v1 manifest alone describes the table: the meta is lost
        snap = _Snapshot(name, {}, 1, self._manifest_doc(name, 1))
        df = self._read_manifest_df(snap)
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise ValueError(
                f"{name}: cannot rebuild lost meta — declared keys "
                f"{missing} not in the v1 snapshot schema"
            )
        key_types = [df.schema[k].dataType.simpleString() for k in keys]
        expr = self._kb_expr(keys, int(n_buckets), key_types)
        bad = df.filter(~expr.eqNullSafe(F.col("_kb"))).limit(1).count()
        if bad:
            raise ValueError(
                f"{name}: cannot rebuild lost meta — declared spec "
                f"(keys={keys}, n_buckets={n_buckets}) does not "
                "reproduce the stored bucket ids; pass the spec the "
                "table was created with"
            )
        import uuid

        self._touch_meta(
            name,
            keyed_on=keys,
            key_buckets=int(n_buckets),
            key_types=key_types,
            versioned=True,
            version=1,
            # fresh lifetime: downstream incremental consumers must
            # re-seed rather than trust cursors from before the loss
            incarnation=uuid.uuid4().hex,
            schema=snap.schema_json or df.schema.json(),
        )

    def merge_when(
        self,
        source: DataFrame,
        name: str,
        key: str | list[str],
        when_matched_update: dict[str, str] | str | None = "all",
        matched_condition: str | None = None,
        when_matched_delete: str | None = None,
        when_not_matched_insert: bool | str = True,
        txn: tuple[str, int] | None = None,
        check_replay: bool = False,
        txn_expect: int | None = None,
        source_meta_cols: list[str] | None = None,
        txn_assert: dict[str, int] | None = None,
    ) -> list[int]:
        """Conditional MERGE — the full Delta ``MERGE INTO`` clause
        surface on the keyed store, generalizing ``upsert`` (which is
        MERGE with unconditional update-all + insert-all):

        - ``when_matched_delete``: SQL predicate over ``t.``/``s.``
          (target/source); matched target rows satisfying it are
          DELETED. Evaluated FIRST, like a leading Delta
          whenMatchedDelete clause.
        - ``when_matched_update``: ``"all"`` (set every source column),
          a dict {target_col: SQL expr over t./s.} for partial/computed
          updates (``{"price": "t.price + s.delta"}``), or None (leave
          matched rows untouched). Gated by ``matched_condition`` when
          given.
        - ``when_not_matched_insert``: True (insert all unmatched
          source rows), a SQL predicate over ``s.`` columns, or False.

        Matched rows satisfying NO clause survive unchanged, as do all
        unmatched target rows. The incoming source is deduplicated on
        the key (multi-row matches would make the update
        non-deterministic — same contract as upsert). Source columns
        absent from the target widen the schema (NULL backfill), like
        upsert.

        Cost profile: identical to the keyed upsert — the source's
        keys hash to their buckets (bounded collect), ONLY those
        buckets are read and rewritten (logically, on versioned
        tables), untouched buckets never move. CHECK constraints judge
        exactly the rows the merge LANDS (updated + inserted — kept
        survivors are not re-judged). Returns the affected bucket ids.
        Reference MERGE surface: Delta DeltaTable.merge /
        whenMatched{Update,Delete}/whenNotMatchedInsert.

        ``txn``/``check_replay`` give the merge the same transactional
        watermark upsert_txn has (versioned tables only): the
        (app_id, version) records atomically with the manifest commit,
        and ``check_replay=True`` raises TxnAlreadyApplied when the
        watermark already covers it — sync_rollup rides this for
        exactly-once incremental view maintenance."""
        keys = [key] if isinstance(key, str) else list(key)
        snap = self._pin_base(name)
        spec = snap.spec
        if spec is None:
            raise ValueError(
                f"{name}: merge_when needs a keyed table (overwrite_keyed)"
            )
        if txn is not None and not snap.versioned:
            # unversioned tables keep no txn watermarks: silently
            # applying would hand the caller a txn
            # guarantee that does not exist (code-review r8 wave 3) —
            # refuse loudly, like upsert_txn
            raise ValueError(
                f"{name}: merge_when(txn=...) needs a VERSIONED keyed "
                "table (overwrite_keyed(..., versioned=True)) — "
                "unversioned tables cannot record the watermark"
            )
        if list(spec[0]) != keys:
            raise ValueError(
                f"{name}: merge key {keys} != table key {list(spec[0])}"
            )
        # pinned lazily, like _upsert_keyed's batch: the attempt's
        # bucket probe is its first job and materializes it, and every
        # later use reads the pin
        source = source.dropDuplicates(keys).localCheckpoint(eager=False)

        def _attempt(base: _Snapshot) -> list[int]:
            return self._merge_when_once(
                base, source, keys, when_matched_update, matched_condition,
                when_matched_delete, when_not_matched_insert, txn,
                check_replay, txn_expect, source_meta_cols or [],
                txn_assert,
            )

        # derivation-level OCC retry (ADVICE r9): the merged frame is
        # derived from the version current at attempt start; a
        # concurrent commit fails the publish CAS and the whole merge
        # re-runs against the new version
        return self._retry_base_conflicts(snap, _attempt)

    def _merge_when_once(
        self,
        base: _Snapshot,
        source: DataFrame,
        keys: list[str],
        when_matched_update,
        matched_condition,
        when_matched_delete,
        when_not_matched_insert,
        txn,
        check_replay,
        txn_expect,
        source_meta_cols,
        txn_assert=None,
    ) -> list[int]:
        name = base.name
        buckets = self.keyed_buckets(base, source)
        target = self.read_buckets(base, buckets)
        # ``source_meta_cols`` are per-row MERGE DIRECTIVES (e.g. an
        # op marker the delete/update/insert predicates dispatch on) —
        # referenceable as ``s.<col>`` in every clause, but excluded
        # from schema widening and from "all" updates, so a CDC-style
        # single-publish merge doesn't grow the target a bookkeeping
        # column (r10: plans/viewmaint rides this)
        meta = set(source_meta_cols)
        bad_meta = sorted(meta - set(source.columns))
        if bad_meta:
            raise ValueError(
                f"{name}: source_meta_cols {bad_meta} not in the source"
            )
        if meta & set(target.columns):
            raise ValueError(
                f"{name}: source_meta_cols "
                f"{sorted(meta & set(target.columns))} collide with "
                "target columns — a directive column must not shadow "
                "real data"
            )
        out_cols = list(target.columns) + [
            c
            for c in source.columns
            if c not in target.columns and c not in meta
        ]
        t_ = target.withColumn("_t_present", F.lit(True)).alias("t")
        s_ = source.withColumn("_s_present", F.lit(True)).alias("s")
        cond = None
        for k in keys:
            c = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
            cond = c if cond is None else (cond & c)
        j = t_.join(s_, cond, "full_outer")
        both = F.col("t._t_present") & F.col("s._s_present")
        only_t = F.col("t._t_present") & F.col("s._s_present").isNull()
        only_s = F.col("s._s_present") & F.col("t._t_present").isNull()

        def _t_row():
            return [
                (
                    F.col(f"t.{c}")
                    if c in target.columns
                    else F.lit(None).cast(dict(source.dtypes)[c])
                ).alias(c)
                for c in out_cols
            ]

        def _s_row():
            return [
                (
                    F.col(f"s.{c}")
                    if c in source.columns
                    else F.lit(None).cast(dict(target.dtypes)[c])
                ).alias(c)
                for c in out_cols
            ]

        del_c = (
            F.coalesce(F.expr(when_matched_delete), F.lit(False))
            if when_matched_delete
            else F.lit(False)
        )
        upd_gate = (
            F.coalesce(F.expr(matched_condition), F.lit(False))
            if matched_condition
            else F.lit(True)
        )
        if when_matched_update == "all":
            upd_map = {
                c: f"s.`{c}`"
                for c in source.columns
                if c not in keys and c not in meta
            }
        else:
            upd_map = dict(when_matched_update or {})
            bad_keys = sorted(set(upd_map) & set(keys))
            if bad_keys:
                # a key-changing update would re-stamp the row into a
                # bucket OUTSIDE the read/rewritten set, and
                # overwrite_buckets would then replace that whole
                # bucket with just the rewritten row — silently
                # deleting its other inhabitants (code-review r8).
                # Key changes are a delete + insert, as in Delta.
                raise ValueError(
                    f"{name}: when_matched_update may not assign merge-"
                    f"key columns {bad_keys} — model a key change as "
                    "when_matched_delete + a new source row"
                )
        # r15 (optimization, guide §2.4): ONE projection over ONE
        # evaluation of the full-outer join. The old form unioned
        # filtered branches (updated / kept-matched / kept-unmatched /
        # inserted) of the SAME join — the physical plan repeated the
        # join subtree once per branch (plus once more for the landed
        # constraint check), re-scanning the target buckets each time.
        # Each joined row now gets exactly one action tag (U(pdate) /
        # K(eep) / I(nsert); delete and non-inserted source rows fall
        # through to NULL and are filtered), and every output column is
        # a per-action CASE — the same row multiset by construction
        # (the branch predicates were mutually exclusive and exhaustive
        # over the kept rows). CASE branches resolve a common type the
        # same way unionByName did, so the output schema is unchanged
        # (pinned by the merge_when tests + store_merge_when oracle).
        act = F.when(both & del_c, F.lit(None).cast("string"))
        has_landed = False
        if upd_map:
            act = act.when(both & upd_gate, F.lit("U"))
            has_landed = True
        act = act.when(both, F.lit("K")).when(only_t, F.lit("K"))
        if when_not_matched_insert:
            ins_gate = (
                F.coalesce(F.expr(when_not_matched_insert), F.lit(False))
                if isinstance(when_not_matched_insert, str)
                else F.lit(True)
            )
            act = act.when(only_s & ins_gate, F.lit("I"))
            has_landed = True

        def _out_col(i: int, c: str):
            t_e, s_e = _t_row()[i], _s_row()[i]
            e = None
            if upd_map:
                u_e = F.expr(upd_map[c]) if c in upd_map else t_e
                e = F.when(F.col("_act") == "U", u_e)
            if when_not_matched_insert:
                w = F.when(F.col("_act") == "I", s_e)
                e = e.when(F.col("_act") == "I", s_e) if e is not None else w
            return (e.otherwise(t_e) if e is not None else t_e).alias(c)

        proj = (
            j.withColumn("_act", act)
            .filter(F.col("_act").isNotNull())
            .select(
                *[_out_col(i, c) for i, c in enumerate(out_cols)], "_act"
            )
        )
        check_needed = has_landed and bool(base.meta.get("constraints"))
        if check_needed:
            # the landed check is an aggregate over the same projection
            # the write lands — pin it so check + write evaluate the
            # join ONCE between them (the check job materializes the
            # lazy checkpoint; the staging write reads the cache)
            proj = proj.localCheckpoint(eager=False)
        merged = proj.drop("_act")
        # no defensive materialization: the write appends + publishes
        # and never overwrites the files the join reads; the lazy
        # checkpoint above exists purely so the landed check and the
        # write share one evaluation of the join
        if check_needed:
            # constraints judge exactly what this merge WRITES anew —
            # updated and inserted rows; surviving history is not
            # re-judged (the delete_where/upsert contract)
            self._check_constraints(
                name, proj.filter(F.col("_act") != "K").drop("_act"), base.meta
            )
        self.overwrite_buckets(
            merged, name, buckets, op="merge", txn=txn,
            check_replay=check_replay, txn_expect=txn_expect, base=base,
            txn_assert=txn_assert,
            rows_within_buckets=True,
        )
        return sorted(buckets)

    def rebucket(self, name: str, n_buckets: int) -> None:
        """Change a keyed table's bucket count — the knob that tunes
        lookup/merge granularity as the table grows (SCALE.md: at
        fixed data, more buckets only add per-file overhead; at
        growing data, n_buckets should track 'a few row groups per
        bucket'). A full rewrite by necessity (every row re-hashes),
        executed as a reseed overwrite_keyed: versioned tables carry
        their txn watermark map forward (replayed streaming batches
        stay skipped), but version numbering restarts and a NEW
        incarnation is minted — change-feed cursors and sync_rollup
        watermarks correctly treat the rebucketed table as a fresh
        seed source, because old version numbers are meaningless
        against the new history. Single-writer, like every overwrite.

        Crash safety (code-review r8 wave 4): the snapshot STAGES to
        durable parquet (`_rebucket_<name>` beside the table) before
        the destructive overwrite — an in-memory checkpoint would be
        the only copy of the table the moment the overwrite truncates
        it, so a driver crash mid-rewrite would destroy every version
        with no recovery source. A crashed rebucket instead RESUMES:
        the retry finds the committed stage and completes the
        overwrite from it; the stage is removed only after success."""
        spec = self.keyed_spec(name)
        if spec is None:
            raise ValueError(f"{name}: rebucket needs a keyed table")
        keys, old_n = spec
        stage = os.path.join(self.root, f"_rebucket_{name}")
        if int(n_buckets) == int(old_n):
            # a retry after the overwrite already completed: just
            # clear the leftover stage
            shutil.rmtree(stage, ignore_errors=True)
            return
        staged = os.path.isfile(os.path.join(stage, "_SUCCESS"))
        if not staged:
            # stale partial stage from an earlier crash-in-staging is
            # overwritten (the table itself was untouched then)
            self.read(name).write.mode("overwrite").parquet(stage)
        self.overwrite_keyed(
            self.spark.read.parquet(stage),
            name,
            list(keys),
            n_buckets=int(n_buckets),
            versioned=self.is_versioned(name),
        )
        shutil.rmtree(stage, ignore_errors=True)

    def _where_to_condition(self, snap: _Snapshot, verb: str, condition, where):
        """Shared condition=/where= normalization for the mutating
        verbs (delete_where / update_where): exactly one of the two,
        where= only on versioned keyed tables (it drives the planner's
        find phase), a dict folds to its AND chain and a list to the
        OR of its branches' chains — with the planner's own
        empty-conjunct validation, so ``where={}`` raises the
        descriptive error instead of crashing on ``~None`` (review).
        Returns the exact-predicate Column."""
        if (condition is None) == (where is None):
            raise ValueError("pass condition= OR where=, exactly one")
        if where is not None:
            if snap.spec is None or not snap.versioned:
                raise ValueError(
                    f"{snap.name}: where= {verb} planning needs a versioned "
                    "keyed table; pass condition= instead"
                )
            if isinstance(where, (list, tuple)):
                if not where:
                    raise ValueError(
                        "a disjunctive where needs at least one branch"
                    )
                condition = None
                for b in where:
                    if not isinstance(b, dict) or not b:
                        raise ValueError(
                            "each disjunctive branch must be a "
                            "non-empty {col: spec} dict"
                        )
                    e = self._branch_expr(b)
                    condition = e if condition is None else condition | e
            else:
                if not isinstance(where, dict) or not where:
                    raise ValueError(
                        "where must name at least one column"
                    )
                condition = self._branch_expr(where)
        if isinstance(condition, str):
            condition = F.expr(condition)
        return condition

    def _find(self, base: _Snapshot, condition, where) -> DataFrame:
        """The find phase of delete_where/update_where: the rows of
        the ``base`` snapshot the predicate matches. ``where=`` prunes
        the scan through the file-skipping structures and applies the
        exact predicate on it (``_read_planned``); ``condition``
        filters the whole snapshot. Pinned at the base, so the OCC
        retry re-plans against the new snapshot."""
        if where is not None:
            return self._read_planned(base, where)
        return self._to_logical(
            self._read_manifest_df(base), base.colmap
        ).filter(condition)

    def delete_where(
        self, name: str, condition=None, where=None
    ) -> list[int]:
        """Row-level DELETE (the MERGE family's third verb, after
        upsert and append): remove the rows matching ``condition``
        (a Column or SQL string). SQL DELETE semantics — rows where
        the predicate is NULL are KEPT, only true matches go.

        On a keyed table only the buckets that actually CONTAIN
        matching rows rewrite (their ids come from hashing the matched
        rows' keys — a ≤ n_buckets bounded collect); untouched buckets'
        files are never read for the rewrite nor rewritten — the
        Delta/Iceberg DELETE cost profile on plain parquet, same as
        _upsert_keyed's. Versioned tables delete LOGICALLY: the new
        manifest stops referencing the affected buckets' old files and
        prior snapshots stay pinnable until vacuum (overwrite_buckets
        handles both, including fully-emptied buckets). Unkeyed tables
        stage the survivors as a whole-table rewrite
        (``_append_and_publish`` with ``kept=[]``), the same trade as
        unkeyed upsert; either way the rewrite is derived from one
        pinned snapshot and published with a CAS on it, so a writer
        committing inside the window makes it re-run on the new base
        (``_retry_base_conflicts``) instead of losing its rows. Returns
        the affected bucket ids ([] if nothing matched; [-1] for the
        unkeyed full rewrite).

        ``where=`` (r13, versioned keyed tables; mutually exclusive
        with ``condition``) states the delete as a PLANNER spec —
        ``{col: spec}`` or a DNF list, the read(where=) grammar — so
        the FIND phase ("which buckets hold matching rows") runs over
        the stats/bloom/bucket-pruned file set instead of the whole
        table: deleting a rare key on a bloom-indexed column reads
        ~1% of files to locate its buckets at any table size. The
        rewrite phase is unchanged (affected buckets rewrite whole —
        that is the merge-on-read-free contract), and the exact
        predicate still owns which rows go."""
        snap = self._pin_base(name)
        condition = self._where_to_condition(snap, "delete", condition, where)
        keep = F.coalesce(~condition, F.lit(True))

        def _attempt(base: _Snapshot) -> list[int]:
            if base.spec is None:
                df = self._read_manifest_df(base)
                if df.filter(condition).isEmpty():
                    return []
                # survivors are existing rows: constraint enforcement
                # does not apply (deletes on legacy-violating tables
                # must work); no pin: the old files stay until after
                # the publish
                self._append_and_publish(
                    df.filter(keep), base, [], op="delete"
                )
                return [-1]
            matches = self._find(base, condition, where)
            affected = self.keyed_buckets(base, matches)
            if not affected:
                return []
            survivors = self.read_buckets(base, affected).filter(keep)
            # no materialization: the write appends + publishes and
            # never overwrites the files the survivors frame reads
            self.overwrite_buckets(
                survivors, name, affected, op="delete", base=base,
                rows_within_buckets=True,
            )
            return sorted(affected)

        return self._retry_base_conflicts(snap, _attempt)

    def update_where(
        self, name: str, set: dict, condition=None, where=None
    ) -> list[int]:
        """SQL UPDATE (Delta ``UPDATE table SET ... WHERE ...``
        parity, completing the MERGE family: upsert / append /
        delete_where / merge_when / update_where): assign ``set``'s
        expressions to the rows matching the predicate. ``set`` maps
        existing column names to a Column, a SQL string, or a literal;
        every right-hand side evaluates against the PRE-update row
        (one projection, SQL UPDATE semantics — two set entries can
        swap columns), is cast to the target column's type, and rows
        where the predicate is NULL are left untouched. Key columns
        refuse (a key change re-buckets rows — that is a delete +
        insert, i.e. ``upsert``).

        Cost profile mirrors delete_where: only buckets CONTAINING
        matched rows rewrite; ``where=`` (planner grammar, versioned
        keyed tables) lets the FIND phase ride stats/bloom/bucket file
        skipping, so updating a rare key on an indexed column reads
        ~1% of files to locate its buckets. Versioned tables publish
        the rewrite as a new snapshot (time travel, CDF and the OCC
        retry all compose as with delete). Declared constraints are
        enforced on the post-update MATCHED rows only — judged on the
        write's real effect, while untouched legacy rows can't wedge
        the verb (the _enforce_constraints contract). Unkeyed tables
        stage the updated table as a whole-table rewrite with a CAS on
        the pinned base, retried on a conflict like delete_where's.
        Returns affected bucket ids ([] if nothing matched; [-1]
        unkeyed full rewrite)."""
        from pyspark.sql import Column

        if not isinstance(set, dict) or not set:
            raise ValueError(
                "set must map >= 1 existing column to its new value"
            )
        snap = self._pin_base(name)
        condition = self._where_to_condition(snap, "update", condition, where)
        kspec = snap.spec
        if kspec is not None:
            bad = [c for c in set if c in kspec[0]]
            if bad:
                raise ValueError(
                    f"{name}: refusing to UPDATE key column(s) {bad} — "
                    "a key change re-buckets the row; delete + upsert "
                    "instead"
                )
        set_exprs = {
            c: (
                F.expr(e) if isinstance(e, str)
                else e if isinstance(e, Column)
                else F.lit(e)
            )
            for c, e in set.items()
        }

        def _apply(df: DataFrame, always: bool = False) -> DataFrame:
            missing = [c for c in set_exprs if c not in df.columns]
            if missing:
                raise ValueError(
                    f"{name}: UPDATE of non-existent column(s) "
                    f"{missing} — set assigns existing columns only"
                )
            # ONE projection: every RHS sees the pre-update row.
            # always=True applies unconditionally (the enforcement
            # frame: rows already filtered to the PRE-update matches —
            # the predicate cannot be re-evaluated after assignment,
            # it references the old values)
            return df.select(
                *[
                    (
                        set_exprs[c].cast(df.schema[c].dataType)
                        if always
                        else F.when(
                            F.coalesce(condition, F.lit(False)),
                            set_exprs[c].cast(df.schema[c].dataType),
                        ).otherwise(F.col(c))
                    ).alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in df.columns
                ]
            )

        def _attempt(base: _Snapshot) -> list[int]:
            if base.spec is None:
                df = self._read_manifest_df(base)
                matched = df.filter(condition)
                if matched.isEmpty():
                    return []
                self._enforce_constraints(
                    name, _apply(matched, always=True), base.meta
                )
                # no pin: the old files stay until after the publish
                self._append_and_publish(_apply(df), base, [], op="update")
                return [-1]
            matches = self._find(base, condition, where)
            affected = self.keyed_buckets(base, matches)
            if not affected:
                return []
            bucket_rows = self.read_buckets(base, affected)
            self._enforce_constraints(
                name, _apply(bucket_rows.filter(condition), always=True),
                base.meta,
            )
            updated = _apply(bucket_rows)
            # no materialization: the write appends + publishes
            self.overwrite_buckets(
                updated, name, affected, op="update", base=base,
                rows_within_buckets=True,
            )
            return sorted(affected)

        return self._retry_base_conflicts(snap, _attempt)

    def drop(self, name: str) -> None:
        shutil.rmtree(self._dir(name), ignore_errors=True)
        shutil.rmtree(self._manifest_dir(name), ignore_errors=True)
        # a crashed rebucket's durable stage dies with its table
        shutil.rmtree(
            os.path.join(self.root, f"_rebucket_{name}"), ignore_errors=True
        )
        try:
            os.remove(self._meta_path(name))
        except FileNotFoundError:
            pass


# ---------------------------------------------------------------------------
# Bucketed tables: shuffle-free co-located joins (the 100 TB join posture)
# ---------------------------------------------------------------------------


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int, sort: bool = True
) -> None:
    """Persist a catalog table hash-bucketed (and sorted) by the join
    key. Two tables bucketed the same way join with ZERO exchange — the
    shuffle is paid once at write time and amortized over every
    subsequent join/agg on that key. At 100 TB this turns the nightly
    fact⋈fact join from the dominant cost into a local merge per
    bucket. Buckets should be sized so one bucket of the larger table
    fits an executor's memory (~128-512 MB each). Read it back with
    ``spark.table(table)``: Catalyst picks up the bucket spec and drops
    the Exchange when join/group keys match it."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def write_clustered(
    df: DataFrame, path: str, partition_col: str, sort_cols: list[str]
) -> None:
    """Write date/key-partitioned parquet with rows SORTED on
    ``sort_cols`` inside each partition (z-order-lite): parquet
    row-group min/max statistics on a sorted column are disjoint
    ranges, so a point or range predicate on it skips whole row groups
    at scan time — on a 100 TB table the difference between "scan the
    partition" and "scan two row groups of it". One shuffle at write
    (repartition by the partition column keeps one writer per
    directory, avoiding small files); reads need no special API — the
    stats live in the footers."""
    # the partition column leads the sort: FileFormatWriter requires
    # rows ordered by the partition columns and re-sorts (unstably) if
    # they aren't — which would scramble the clustering we just paid for
    (
        df.repartition(F.col(partition_col))
        .sortWithinPartitions(partition_col, *sort_cols)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        # full replacement intended, whatever the caller's session
        # sets: under dynamic, a re-run covering fewer partition values
        # would keep the stale directories (same class as the
        # overwrite_keyed bug fixed r6)
        .option("partitionOverwriteMode", "static")
        .parquet(path)
    )


def zorder_expr(bucket_cols: list, bits: int = 8):
    """Morton (Z-order) code of the given BUCKET columns (each already
    an integer 0..2^bits−1): bit b of column i lands at interleaved
    position b·n+i, so sorting by the code gives locality in EVERY
    dimension at once. Pure column arithmetic — whole-stage codegen,
    no UDF. bits·len(bucket_cols) must stay under the long's 63 value
    bits — beyond that, positions would hit the sign bit or wrap
    (Spark masks shift amounts to 6 bits) and SILENTLY corrupt the
    ordering, so it is rejected up front (code-review r7)."""
    n = len(bucket_cols)
    if bits * n > 63:
        raise ValueError(
            f"zorder_expr: {n} columns x {bits} bits = {bits * n} "
            "interleaved bits exceeds the 63 value bits of a long — "
            "lower bits (e.g. bits=63//n_cols)"
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(bucket_cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def zorder_rank_code(df: DataFrame, zcols: list[str], bits: int = 8):
    """Morton code Column over ``df``'s rows: each z column
    rank-normalizes to a 2^bits-way quantile bucket (ONE
    approx-percentile boundary pass over ``df`` for all columns
    together — code-review r7: a per-column .first() loop was
    len(zcols) full scans), bit-interleaved by zorder_expr. The
    returned expression references only ``zcols``, so it attaches to
    any frame carrying those columns — write_zordered's layout write
    and compact(zorder_cols=…)'s bucket rewrite share it."""
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    bounds_row = df.select(
        *[
            F.percentile_approx(
                F.col(c), F.array(*[F.lit(p) for p in probs]), 10000
            ).alias(f"_b{i}")
            for i, c in enumerate(zcols)
        ]
    ).first()
    buckets = []
    for i, c in enumerate(zcols):
        uniq = sorted(set(b for b in (bounds_row[i] or []) if b is not None))
        arr = F.array(*[F.lit(b) for b in uniq])
        # monotonic bucket id: how many boundaries the value exceeds
        # (NULL comparisons fold to 0 → bucket 0). Two-arg lambda only:
        # F.aggregate dispatches on lambda ARITY, so a bound third
        # default-arg would receive a lambda Column. `c` binds safely —
        # F.aggregate invokes the lambda eagerly inside this iteration.
        buckets.append(
            F.aggregate(
                arr,
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col(c) > b, F.lit(1)).otherwise(F.lit(0)),
            )
        )
    return zorder_expr(buckets, bits)


def write_zordered(
    df: DataFrame,
    path: str,
    zcols: list[str],
    bits: int = 8,
    n_files: int | None = None,
) -> None:
    """Multi-dimensional clustering (Delta OPTIMIZE ZORDER's layout on
    plain parquet): each z column rank-normalizes to a 2^bits-way
    quantile bucket (approx-percentile boundaries — a bounded driver
    collect; exactness is irrelevant for LAYOUT, only locality
    matters), rows order by the interleaved Morton code, and files
    split on code ranges. Result: every file covers a NARROW value
    range in EVERY z column simultaneously, so parquet footer min/max
    statistics skip files/row groups for predicates on ANY of the
    columns — where a linear sort (write_clustered) skips only on its
    leading column and a point query on the second column scans
    everything. The one range exchange is the write-time layout job
    paid once; reads need no special API (the stats live in the
    footers).

    NULLs bucket to 0 (their own edge of the curve). At 100 TB size
    n_files so one file ≈ a few row groups of executor-friendly size —
    the same knob as write_clustered."""
    out = df.withColumn("_z", zorder_rank_code(df, zcols, bits))
    out = (
        out.repartitionByRange(n_files, "_z")
        if n_files
        else out.repartitionByRange("_z")
    )
    (
        out.sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


class Query:
    """Raw-SQL passthrough — the reference's ``Query`` object
    (datasources.py:86-99: a class wrapping an SQL string with
    ``run()``) re-homed onto spark.sql. Views for the testdata tables
    come from ``register_views``; user tables from ``TableStore`` reads
    registered the same way."""

    def __init__(self, spark: SparkSession, sql: str):
        self.spark = spark
        self.sql = sql

    def run(self) -> DataFrame:
        return self.spark.sql(self.sql)


def write_formatted(
    df: DataFrame, path: str, fmt: str = "csv", mode: str = "overwrite", **options
) -> None:
    """Text-format sink (csv / json lines / text): the interchange
    formats a pipeline writes for downstream consumers that don't read
    parquet (reference: the CSV/JSON surfaces of datasources.py's
    load paths). CSV defaults to header+quote-all so free-text columns
    with commas/newlines round-trip."""
    w = df.write.mode(mode)
    if fmt == "csv":
        options = {"header": "true", "quoteAll": "true", "escape": '"', **options}
    w.format(fmt).options(**options).save(path)


def read_formatted(
    spark: SparkSession, path: str, fmt: str = "csv", schema=None, **options
):
    """Text-format scan with an EXPLICIT schema (never inference — at
    100 TB, schema inference is an extra full pass over the data and a
    correctness hazard; the contract is schema-on-write). CSV defaults
    mirror write_formatted's quote-all contract: multiLine on, so
    quoted free-text fields containing newlines round-trip without the
    caller having to know (ADVICE r4; multiLine makes a CSV file
    non-splittable, which is fine for the interchange-sized files this
    path serves — columnar data belongs in parquet)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        options = {"header": "true", "escape": '"', "multiLine": "true", **options}
    return r.format(fmt).options(**options).load(path)
