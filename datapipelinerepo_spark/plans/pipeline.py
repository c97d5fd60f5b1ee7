"""Pipeline orchestrator: the schedule→extract→load lifecycle
(SURVEY.md §2.10 O1-O9) re-homed onto Spark.

Reference shape (cited per method): a ``Pipeline`` takes a list of
sources, asks each whether it should pull (``schedule``), honors manual
overrides, resolves secrets, then runs extract→load per gated source
(``pipeline.py:10-59``). Here every gate is computed against our own
tables (watermark A1, quota A2, existence S3, catalog mtime S4)
instead of BigQuery — from table metadata where the layout proves the
answer, else with a small Spark query — and a ``Clock`` is injected so the
now()-dependent calendar gates are testable (SURVEY.md §7 hard part 3).
"""

from __future__ import annotations

import abc
import datetime as dt
from collections.abc import Iterable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..io import TableStore


def _rows(files: list[str]) -> int:
    """Rows in these parquet files, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


# ---------------------------------------------------------------------------
# Clock injection (F11/F12 gates depend on "now")
# ---------------------------------------------------------------------------


class Clock(abc.ABC):
    @abc.abstractmethod
    def today(self) -> dt.date: ...

    def yesterday(self) -> dt.date:
        """F11: date.today() - 1 day (datasources.py:131)."""
        return self.today() - dt.timedelta(days=1)


class SystemClock(Clock):
    def today(self) -> dt.date:
        return dt.date.today()


@dataclass
class FixedClock(Clock):
    fixed: dt.date

    def today(self) -> dt.date:
        return self.fixed


# ---------------------------------------------------------------------------
# Schedule gates (O1/O7 building blocks) — metadata reads or one small query
# ---------------------------------------------------------------------------


def existence_gate(store: TableStore, table: str) -> bool:
    """S3 existence probe (__TABLES__, datasources.py:136, :604):
    True iff the target table EXISTS. Sources that want
    "pull-everything when the table is missing" schedule on
    ``not existence_gate(...)`` — as every in-repo source does
    (docstring polarity fixed r6: it used to state the negation).

    Routed through the catalog verb (VERDICT r12 item 7): membership
    in ``store.tables()`` is the __TABLES__-listing shape, with
    ``exists()`` confirming committed data/meta so an empty directory
    (a crashed first write's husk) does not count as a table."""
    return table in store.tables() and store.exists(table)


def watermark_gate(store: TableStore, table: str, date_col: str, clock: Clock) -> bool:
    """A1/O1: pull iff MAX(date_col) is behind yesterday
    (datasources.py:140, :197). Missing table → pull (existence via
    the catalog verb — VERDICT r12 item 7). On an unversioned table
    partitioned by ``date_col`` (the Daily_Weather shape) the MAX comes
    from the partition directories with zero Spark jobs; any other
    layout runs ``max_value``."""
    if not existence_gate(store, table):
        return True
    parts = store._date_partitions(table, date_col)
    if parts is None:
        wm = store.max_value(table, date_col)
    else:
        # the newest partition that holds a row (a footer read per
        # file; Spark writes no zero-row files into partitions, but an
        # external writer may)
        wm = next(
            (d for d in sorted(parts, reverse=True) if _rows(parts[d])), None
        )
    if wm is None:
        return True
    if isinstance(wm, dt.datetime):
        wm = wm.date()
    return wm < clock.yesterday()


def monthly_quota_gate(
    store: TableStore,
    table: str,
    date_col: str,
    clock: Clock,
    budget: int,
    upcoming: int,
) -> bool:
    """A2/O7: proceed iff this month's pulls + the upcoming batch fit the
    request budget (1M/month accounting, datasources.py:147-167).
    Existence via the catalog verb (VERDICT r12 item 7); the month
    count itself is the one data read this gate owns. On an
    unversioned table partitioned by ``date_col`` it sums the parquet
    footers' row counts of this month's partitions (zero Spark jobs);
    any other layout scans."""
    used = 0
    if existence_gate(store, table):
        today = clock.today()
        parts = store._date_partitions(table, date_col)
        # month AND year: month() alone also counts the same month of
        # every PREVIOUS year, so a table with >1y of history would
        # strangle its own quota at month start (code-review r6)
        if parts is not None:
            used = sum(
                _rows(fs) for d, fs in parts.items()
                if (d.year, d.month) == (today.year, today.month)
            )
        else:
            used = (
                store.read(table)
                .where(
                    f"month({date_col}) = {today.month} "
                    f"AND year({date_col}) = {today.year}"
                )
                .count()
            )
    return budget - used - upcoming >= 0


def calendar_gate(clock: Clock, months: Iterable[int] = (8, 9, 10, 11, 12, 1), weekday: int | None = 0) -> bool:
    """F12/F17: season-and-weekday gate (month ∈ {8..12,1} ∧ Monday,
    datasources.py:608-609). weekday=None → any day."""
    today = clock.today()
    if today.month not in set(months):
        return False
    return weekday is None or today.weekday() == weekday


def annual_refresh_gate(store: TableStore, table: str, clock: Clock) -> bool:
    """S4/F14: refresh when a year has passed since last load
    (datetime(y+1,m,d) <= today, datasources.py:390-397; the reference's
    version is dead code after an unconditional return — §2.11 — the
    *intent* is implemented here).

    Mod-time comes from the catalog verb (VERDICT r12 item 7):
    ``describe_detail``'s ``last_modified_ts_millis`` — the manifest
    commit ts for versioned tables, the S4 meta stamp for plain ones
    — zero Spark jobs, kilobyte metadata reads only."""
    if not existence_gate(store, table):
        return True
    millis = store.describe_detail(table).get("last_modified_ts_millis")
    if millis is None:
        return True
    lm = dt.datetime.fromtimestamp(
        millis / 1000, dt.timezone.utc
    ).date()
    try:
        anniversary = lm.replace(year=lm.year + 1)
    except ValueError:  # Feb 29
        anniversary = lm.replace(year=lm.year + 1, day=28)
    return anniversary <= clock.today()


# ---------------------------------------------------------------------------
# DataSource / Pipeline (O1-O9)
# ---------------------------------------------------------------------------


@dataclass
class SourceContext:
    spark: SparkSession
    store: TableStore
    clock: Clock
    secrets: Mapping[str, str] = field(default_factory=dict)
    manual: bool = False


class DataSource(abc.ABC):
    """One pipeline source: schedule gate + extract + declared-schema
    load (reference DataSource, datasources.py:20-83)."""

    name: str
    table_name: str
    write_mode: str = "append"  # 'append' | 'overwrite' | 'partition_reload'
    partition_col: str | None = None
    # plan-lint finding codes this source's extract legitimately carries
    # (e.g. GamesSource's INTENTIONAL teams×years driving cross join, J4
    # — without this, Pipeline(lint_plans=True) would reject the
    # engine's own source library; code-review r6)
    lint_allow: tuple[str, ...] = ()

    @abc.abstractmethod
    def schedule(self, ctx: SourceContext) -> bool: ...

    @abc.abstractmethod
    def extract(self, ctx: SourceContext) -> DataFrame: ...

    def load(self, ctx: SourceContext, df: DataFrame) -> int:
        """S8/S9/S10 dispatch with the empty-batch guard
        (`df.shape[0] > 0` before load, datasources.py:756).

        The extract is MATERIALIZED once before counting: count + write
        would otherwise execute the whole extract twice — for a
        fetch_map source that is 2x the HTTP requests the quota gate
        budgets, and a fetch that flakes between the two actions would
        make the reported row count disagree with the table
        (code-review r6). The count is an ``Observation`` on that same
        materialization: one Spark job, where a ``count()`` after it
        ran two more."""
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
            eager=True
        )
        n = obs.get["n"]
        if n == 0:
            return 0
        if self.write_mode == "overwrite":
            ctx.store.overwrite(df, self.table_name)
        elif self.write_mode == "partition_reload":
            assert self.partition_col, "partition_reload requires partition_col"
            ctx.store.reload_partitions(df, self.table_name, self.partition_col)
        else:
            ctx.store.append(df, self.table_name)
        return n

    def smoke_test(self, ctx: SourceContext) -> dict:
        """O9: the reference's manual smoke harness (DataSource.test,
        datasources.py:75-83) — run schedule+extract, report shape."""
        gated = self.schedule(ctx)
        out: dict = {"source": self.name, "scheduled": gated}
        if gated:
            df = self.extract(ctx)
            out["rows"] = df.count()
            out["columns"] = df.columns
        return out


@dataclass
class PipelineReport:
    scheduled: dict[str, bool] = field(default_factory=dict)
    loaded_rows: dict[str, int] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)


class Pipeline:
    """O1-O5: gate each source (manual override wins, pipeline.py:34-41),
    resolve its secret (point-lookup shape, pipeline.py:23-31), run
    extract→load in declaration order (dependencies between sources are
    expressed by listing the upstream first — O5)."""

    def __init__(
        self,
        sources: Iterable[DataSource],
        *,
        spark: SparkSession,
        store: TableStore,
        clock: Clock | None = None,
        manual: Iterable[str] = (),
        secrets: Mapping[str, str] | None = None,
        lint_plans: bool = False,
    ):
        self.sources = list(sources)
        self.spark = spark
        self.store = store
        self.clock = clock or SystemClock()
        self.manual = set(manual)
        self.secrets = dict(secrets or {})
        # pre-flight plan gate: refuse to LOAD an extract whose physical
        # plan carries a scale anti-pattern (plans/lint.py) — at 100 TB
        # a cartesian product is cheaper to reject than to run. The
        # refusal lands in report.errors like any source failure (O6).
        self.lint_plans = lint_plans

    def _secret_for(self, src: DataSource) -> Mapping[str, str]:
        """O3: WHERE TBL_NM='x' point lookup against the key store
        (pipeline.py:28) — same query shape, config-backed."""
        key = self.secrets.get(src.table_name)
        return {src.table_name: key} if key is not None else {}

    def _run_one(self, src: DataSource, report: PipelineReport) -> None:
        manual = src.name in self.manual
        ctx = SourceContext(
            spark=self.spark,
            store=self.store,
            clock=self.clock,
            secrets=self._secret_for(src),
            manual=manual,
        )
        try:
            gated = True if manual else src.schedule(ctx)
            report.scheduled[src.name] = gated
            if gated:
                df = src.extract(ctx)
                if self.lint_plans:
                    from .lint import assert_clean

                    assert_clean(df, allow=getattr(src, "lint_allow", ()))
                report.loaded_rows[src.name] = src.load(ctx, df)
        except Exception as e:  # O6: isolate per-source failures
            report.errors[src.name] = f"{type(e).__name__}: {e}"

    def run(self, max_workers: int = 1) -> PipelineReport:
        """Sequential by default (the reference's order-dependent
        semantics — dependents list after their upstream, O5). With
        ``max_workers > 1``, independent sources run concurrently:
        Spark schedules jobs from multiple driver threads fairly, so
        small per-source queries (gates, loads) overlap instead of
        serializing on the driver. Only safe when no source reads a
        table another source in the same run writes."""
        report = PipelineReport()
        if max_workers <= 1:
            for src in self.sources:
                self._run_one(src, report)
            return report
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            futures = [pool.submit(self._run_one, s, report) for s in self.sources]
            for f in futures:
                f.result()
        return report
