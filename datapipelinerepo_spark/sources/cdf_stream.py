"""Streaming CHANGE DATA FEED source (Delta's ``readStream`` +
``readChangeFeed`` parity on the plain-parquet versioned store): a
Spark-4 Python DataSourceStreamReader whose OFFSETS are the table's
manifest versions and whose partitions are the churned BUCKETS of each
version window.

Execution model, designed for the 100 TB posture:

- The driver side (``initialOffset``/``latestOffset``/``partitions``)
  reads only the kilobyte manifests — version listing, per-bucket file
  diff — never data.
- Each partition carries ONE bucket's (old files, new files) slice.
  Keys never change buckets (they hash to them), so the insert/delete/
  update classification is bucket-local: the executor diffs its slice
  with a full-outer join using null-safe key equality — the exact
  semantics of ``TableStore.table_changes`` (and of this repo's oracle
  layer) — with no Spark job inside the reader and no driver collect.
  The diff runs in embedded DuckDB (``IS NOT DISTINCT FROM``), so the
  duckdb wheel is needed on the driver and every executor; its
  spilling operators bound a large bucket's window by DuckDB's
  memory_limit. Feed cost per micro-batch tracks CHURN, not table
  size.
- Offsets replay deterministically: manifests are immutable, so
  re-planning a window after a crash reproduces the identical batch
  (``readBetweenOffsets`` semantics for free). Replays of vacuumed
  versions raise, like Delta.
- An administrative reseed (overwrite_keyed/rebucket) mints a new
  table INCARNATION and restarts version numbering; offsets from the
  old incarnation are meaningless against it, so the reader refuses
  loudly instead of serving a garbage diff. A mid-stream column
  rename/drop likewise raises (the declared stream schema is fixed at
  start — Delta CDF streams stop on schema change too).

Reference shape: Delta Lake ``spark.readStream.option
("readChangeFeed", "true")``; the batch twin is
``TableStore.table_changes`` (io.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructField, StructType

# ONE shared definition of the manifest layout (io.py module-level
# helpers): directory naming, version filename format, meta sidecar,
# logical-schema derivation — a layout change there cannot strand this
# source on a stale private copy (code-review r9 wave 3)
from ..io import (
    TableStore,
    list_versions,
    logical_fields as _logical_fields,
    read_manifest,
    read_meta,
)


# read() runs embedded DuckDB on every executor — the probe below runs
# when the reader is built on the driver, so a missing/ancient wheel
# fails the query up front instead of an ImportError thrown from deep
# inside a Python data source at task time, mid-drain. (The driver's
# environment is the proxy check — on a real cluster the wheel must be
# importable on executors too, e.g. via a cluster image.) The floor is
# pyproject.toml's.
_DUCKDB_MIN = (1, 0, 0)


def _require_duckdb() -> None:
    try:
        import duckdb
    except ImportError as e:
        raise RuntimeError(
            "the tablestore_changes stream requires the duckdb wheel on "
            "the driver AND every executor (the bucket-local change diff "
            "runs embedded DuckDB inside the partition reader) — install "
            "duckdb>=" + ".".join(map(str, _DUCKDB_MIN))
        ) from e
    parts: list[int] = []
    for p in str(duckdb.__version__).split("."):
        if not p.isdigit():
            break
        parts.append(int(p))
    # pad to the floor's arity: '1.0' or '1.0.1-dev1' (third component
    # non-digit) must compare as (1,0,0)/(1,0,0), not the shorter tuple
    # (1,0) < (1,0,0) — which spuriously rejected satisfying wheels
    # (code-review r10 wave 2)
    while len(parts) < len(_DUCKDB_MIN):
        parts.append(0)
    if tuple(parts[: len(_DUCKDB_MIN)]) < _DUCKDB_MIN:
        raise RuntimeError(
            f"the tablestore_changes stream needs duckdb>="
            f"{'.'.join(map(str, _DUCKDB_MIN))} (found "
            f"{duckdb.__version__}) — the diff uses IS NOT DISTINCT "
            "FROM and read_parquet(union_by_name)"
        )


def _sql_path_list(paths: list[str]) -> str:
    """DuckDB list literal of path strings, single-quote-escaped — a
    store root or table name containing a quote must not break (or
    inject into) the executor-side SQL (ADVICE r9). Parameter binding
    is not an option here: the list feeds read_parquet inside CREATE
    VIEW, and DuckDB prepared parameters are not allowed in DDL."""
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


_DUCK_TYPES = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "integer": "INTEGER",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "REAL",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "binary": "BLOB",
}


def _duck_type(spark_type: str) -> str:
    t = spark_type.lower()
    if t.startswith("decimal"):
        return t.upper()
    try:
        return _DUCK_TYPES[t]
    except KeyError:
        raise ValueError(
            f"CDF stream: unsupported column type {spark_type!r} "
            "(supported: numeric/string/boolean/date/timestamp/decimal/"
            "binary)"
        ) from None


@dataclass
class ChangesPartition(InputPartition):
    base_dir: str
    old_files: list[str] = field(default_factory=list)
    new_files: list[str] = field(default_factory=list)
    keys: list[str] = field(default_factory=list)
    # (logical_name, physical_name, duckdb_type, spark_type) per column
    cols: list[tuple] = field(default_factory=list)


class TableChangesStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        # the executors' duckdb is proven at stream start, not mid-drain
        _require_duckdb()
        self.root = options["path"]
        self.table = options["table"]
        self.start_opt = options.get("starting_version")
        meta = read_meta(self.root, self.table)
        if not meta.get("versioned") or meta.get("keyed_on") is None:
            raise ValueError(
                f"{self.table}: the CDF stream needs a versioned keyed "
                "table (overwrite_keyed(..., versioned=True))"
            )
        self.keys = list(meta["keyed_on"])
        self.incarnation = meta.get("incarnation")
        vs = list_versions(self.root, self.table)
        if not vs:
            raise ValueError(f"{self.table}: no published versions")
        self.current = vs[-1]
        # the stream's fixed logical schema (end columns + _change_type)
        self.fields = _logical_fields(read_manifest(self.root, self.table, self.current))

    # -- offsets ------------------------------------------------------------
    def _offset(self, v: int) -> dict:
        return {"v": int(v), "inc": self.incarnation}

    def _check_offset(self, off: dict) -> int:
        if off.get("inc") != self.incarnation:
            raise ValueError(
                f"{self.table}: offset belongs to table incarnation "
                f"{off.get('inc')!r} but the table is now "
                f"{self.incarnation!r} (reseed/rebucket restarted its "
                "history) — restart the stream from a fresh checkpoint"
            )
        return int(off["v"])

    def initialOffset(self) -> dict:
        if self.start_opt is not None:
            v = int(self.start_opt)
            if v not in list_versions(self.root, self.table):
                raise ValueError(
                    f"{self.table}: starting_version {v} is not a "
                    "retained version (vacuumed or never published)"
                )
            return self._offset(v)
        return self._offset(self.current)

    def latestOffset(self) -> dict:
        meta = read_meta(self.root, self.table)
        if meta.get("incarnation") != self.incarnation:
            raise ValueError(
                f"{self.table}: table was reseeded mid-stream (new "
                "incarnation) — restart the stream from a fresh "
                "checkpoint"
            )
        vs = list_versions(self.root, self.table)
        return self._offset(vs[-1] if vs else self.current)

    # -- planning (driver, manifests only) ----------------------------------
    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        v0, v1 = self._check_offset(start), self._check_offset(end)
        d0, d1 = (
            read_manifest(self.root, self.table, v0),
            read_manifest(self.root, self.table, v1),
        )
        end_fields = _logical_fields(d1)
        if [(f.name, f.dataType) for f in end_fields] != [
            (f.name, f.dataType) for f in self.fields
        ]:
            raise ValueError(
                f"{self.table}: logical schema changed inside the "
                f"window v{v0}→v{v1} (rename/drop/evolution) — the CDF "
                "stream's schema is fixed at start; restart the stream"
            )
        cm = d1.get("colmap") or {}
        renames = cm.get("renames", {})
        cols = [
            (
                f.name,
                renames.get(f.name, f.name),
                _duck_type(f.dataType.simpleString()),
                f.dataType.simpleString().lower(),
            )
            for f in end_fields
        ]
        old_only = set(d0["files"]) - set(d1["files"])
        new_only = set(d1["files"]) - set(d0["files"])
        by_bucket: dict[int, ChangesPartition] = {}

        def _slot(b: int) -> ChangesPartition:
            if b not in by_bucket:
                by_bucket[b] = ChangesPartition(
                    base_dir=os.path.join(self.root, self.table),
                    keys=self.keys,
                    cols=cols,
                )
            return by_bucket[b]

        for f in sorted(old_only):
            _slot(TableStore._bucket_of(f)).old_files.append(f)
        for f in sorted(new_only):
            _slot(TableStore._bucket_of(f)).new_files.append(f)
        # a metadata-only window (compaction diffs cancel per row;
        # rename/drop/restore reference the same files) may leave no
        # churned buckets: one empty partition keeps the batch planner
        # happy and yields zero rows
        return list(by_bucket.values()) or [
            ChangesPartition(base_dir="", keys=self.keys, cols=cols)
        ]

    # -- execution (executor, bucket-local diff) -----------------------------
    def read(self, partition: ChangesPartition):
        if not partition.old_files and not partition.new_files:
            return
        import duckdb

        con = duckdb.connect()
        keys = partition.keys
        cols = partition.cols

        def _side(view: str, files: list[str]) -> None:
            if files:
                paths = [os.path.join(partition.base_dir, f) for f in files]
                con.execute(
                    f"CREATE VIEW {view}_raw AS SELECT * FROM "
                    f"read_parquet({_sql_path_list(paths)}, "
                    "union_by_name=true)"
                )
                have = {
                    r[0]
                    for r in con.execute(f"DESCRIBE {view}_raw").fetchall()
                }
            else:
                have = set()
            sel = ", ".join(
                (f'"{phys}" AS "{log}"' if phys in have else
                 f'CAST(NULL AS {dt}) AS "{log}"')
                for log, phys, dt, _ in cols
            )
            src = f"{view}_raw" if files else "(SELECT 1) _dummy WHERE 1=0"
            con.execute(f"CREATE VIEW {view} AS SELECT {sel} FROM {src}")

        _side("o", partition.old_files)
        _side("n", partition.new_files)
        names = [log for log, _, _, _ in cols]
        payload = [c for c in names if c not in keys]
        o_sel = ", ".join(f'"{c}" AS "_o_{c}"' for c in names)
        n_sel = ", ".join(f'"{c}" AS "_n_{c}"' for c in names)
        on = " AND ".join(
            f'"_o_{k}" IS NOT DISTINCT FROM "_n_{k}"' for k in keys
        )
        same = (
            " AND ".join(
                f'"_o_{c}" IS NOT DISTINCT FROM "_n_{c}"' for c in payload
            )
            or "TRUE"
        )
        o_row = ", ".join(f'"_o_{c}" AS "{c}"' for c in names)
        n_row = ", ".join(f'"_n_{c}" AS "{c}"' for c in names)
        sql = f"""
        WITH o2 AS (SELECT {o_sel}, TRUE AS _op FROM o),
             n2 AS (SELECT {n_sel}, TRUE AS _np FROM n),
             j AS (SELECT * FROM o2 FULL OUTER JOIN n2 ON {on})
        SELECT {n_row}, 'insert' AS _change_type FROM j
        WHERE _np AND _op IS NULL
        UNION ALL
        SELECT {o_row}, 'delete' FROM j WHERE _op AND _np IS NULL
        UNION ALL
        SELECT {o_row}, 'update_preimage' FROM j
        WHERE _op AND _np AND NOT ({same})
        UNION ALL
        SELECT {n_row}, 'update_postimage' FROM j
        WHERE _op AND _np AND NOT ({same})
        """
        cur = con.execute(sql)
        # TimestampType (LTZ) columns: DuckDB hands back NAIVE
        # UTC-wall datetimes (the store writes UTC-adjusted
        # TIMESTAMP_MICROS), but PySpark's data-source conversion
        # calls astimezone(utc) on naive values — interpreting them in
        # the executor's OS timezone, shifting every value on non-UTC
        # hosts (code-review r9 wave 3). Attaching tzinfo=UTC makes
        # astimezone the identity. timestamp_ntz stays naive.
        ts_idx = [
            i for i, (_, _, _, st) in enumerate(cols) if st == "timestamp"
        ]
        if ts_idx:
            from datetime import timezone

            def _fix(row):
                row = list(row)
                for i in ts_idx:
                    v = row[i]
                    if v is not None and v.tzinfo is None:
                        row[i] = v.replace(tzinfo=timezone.utc)
                return tuple(row)
        while True:
            rows = cur.fetchmany(10_000)
            if not rows:
                break
            if ts_idx:
                rows = [_fix(r) for r in rows]
            yield from rows

    def commit(self, end: dict) -> None:
        pass


class TableChangesDataSource(DataSource):
    """``spark.readStream.format("tablestore_changes")`` — options:
    ``path`` (store root), ``table``, optional ``starting_version``."""

    @classmethod
    def name(cls) -> str:
        return "tablestore_changes"

    def _reader(self) -> TableChangesStreamReader:
        # ONE reader per DataSource instance: schema() and
        # streamReader() constructing independent readers raced a
        # version published between the two calls — the reader's fixed
        # fields could diverge from the schema declared to the query
        # (code-review r9 wave 3)
        if not hasattr(self, "_cached_reader"):
            self._cached_reader = TableChangesStreamReader(self.options)
        return self._cached_reader

    def schema(self) -> StructType:
        from pyspark.sql.types import StringType

        return StructType(
            list(self._reader().fields)
            + [StructField("_change_type", StringType(), False)]
        )

    def streamReader(self, schema) -> TableChangesStreamReader:
        return self._reader()


def read_changes_stream(
    spark,
    store,
    table: str,
    starting_version: int | None = None,
):
    """Convenience wrapper: register the source and open the stream on
    ``store``'s ``table``. The first micro-batch starts AFTER
    ``starting_version`` (default: the version current at stream
    start — like Delta, history before the stream began is not
    replayed unless asked for)."""
    spark.dataSource.register(TableChangesDataSource)
    r = (
        spark.readStream.format("tablestore_changes")
        .option("path", store.root)
        .option("table", table)
    )
    if starting_version is not None:
        r = r.option("starting_version", int(starting_version))
    return r.load()
