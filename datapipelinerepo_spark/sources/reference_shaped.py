"""The reference's six pipelines re-homed as Spark DataSources
(SURVEY.md §3): weather (JSON API, watermark+quota, partition reload),
geo (HTML dim, annual overwrite), teams (HTML dim + regex id),
games (teams×years drive, incremental), game stats (flagship coverage
work list → append, converges), website events (pushed base64 JSON).

All extracts are fixture-driven through the injectable fetcher
(sources/base.py) — no network; the *shapes* (nested-JSON flatten,
HTML-table explode, work-list drive) are the reference's.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..functions import scalars as S
from ..operators import relational as R
from ..plans.pipeline import (
    DataSource,
    SourceContext,
    annual_refresh_gate,
    calendar_gate,
    existence_gate,
    monthly_quota_gate,
    watermark_gate,
)
from ..session import local_frame
from .base import RetryPolicy, fetch_map
from .html import html_records

# ---------------------------------------------------------------------------
# Weather: JSON API → flatten → typed → date-partition reload
# ---------------------------------------------------------------------------

WEATHER_METRICS = ("maxtemp_f", "mintemp_f", "avgtemp_f", "totalprecip_in")

# the nested shape the reference addresses as
# json["forecast"]["forecastday"][0]["day"] (datasources.py:266)
WEATHER_JSON_SCHEMA = StructType(
    [
        StructField(
            "forecast",
            StructType(
                [
                    StructField(
                        "forecastday",
                        ArrayType(
                            StructType(
                                [
                                    StructField(
                                        "day",
                                        StructType(
                                            [
                                                StructField(m, DoubleType(), True)
                                                for m in WEATHER_METRICS
                                            ]
                                        ),
                                    )
                                ]
                            )
                        ),
                    )
                ]
            ),
        )
    ]
)


class WeatherSource(DataSource):
    """Daily_Weather analog (datasources.py:120-276): per-zip JSON pulls
    gated by watermark + monthly quota; nested JSON flattened to one
    typed row per (zip, date); idempotent date-partition reload."""

    name = "weather"
    table_name = "daily_weather"
    write_mode = "partition_reload"
    partition_col = "date"

    def __init__(self, zipcodes: list[str], fetcher, quota: int = 1_000_000, policy: RetryPolicy | None = None):
        self.zipcodes = zipcodes
        self.fetcher = fetcher
        self.quota = quota
        self.policy = policy or RetryPolicy(backoff_s=0)

    def schedule(self, ctx: SourceContext) -> bool:
        return watermark_gate(ctx.store, self.table_name, self.partition_col, ctx.clock) and monthly_quota_gate(
            ctx.store, self.table_name, self.partition_col, ctx.clock, self.quota, len(self.zipcodes)
        )

    def extract(self, ctx: SourceContext) -> DataFrame:
        pull_date = ctx.clock.yesterday()
        worklist = local_frame(
            ctx.spark,
            [(z, f"weather://{z}/{pull_date}") for z in self.zipcodes],
            "zip_code string, url string",
        )
        fetched = fetch_map(worklist, "url", self.fetcher, self.policy).filter(
            F.col("payload").isNotNull()
        )
        # UD1: typed parse + nested flatten (from_json, not pandas)
        day = F.from_json("payload", WEATHER_JSON_SCHEMA)["forecast"]["forecastday"][0]["day"]
        return fetched.select(
            F.col("zip_code").cast("string"),
            F.lit(pull_date).cast("date").alias("date"),
            *[day[m].cast("double").alias(m) for m in WEATHER_METRICS],
        )


# ---------------------------------------------------------------------------
# Geo: HTML zips/counties dim → overwrite annually
# ---------------------------------------------------------------------------


class GeoSource(DataSource):
    """US_Zips_Counties analog (datasources.py:288-366): per-state HTML
    tables parsed to (zip, county); ' County' suffix stripped (F3);
    Date_Pulled stamped (P7); full overwrite, annual refresh (the
    reference's intended — not dead-code — schedule, §2.11)."""

    name = "geo"
    table_name = "us_zips_counties"
    write_mode = "overwrite"

    def __init__(self, states: list[str], fetcher, policy: RetryPolicy | None = None):
        self.states = states
        self.fetcher = fetcher
        self.policy = policy or RetryPolicy(backoff_s=0)

    def schedule(self, ctx: SourceContext) -> bool:
        return annual_refresh_gate(ctx.store, self.table_name, ctx.clock)

    def extract(self, ctx: SourceContext) -> DataFrame:
        worklist = local_frame(
            ctx.spark,
            [(st, f"geo://{st.lower()}") for st in self.states],
            "state string, url string",
        )
        pages = fetch_map(worklist, "url", self.fetcher, self.policy).filter(
            F.col("payload").isNotNull()
        )
        recs = html_records(pages, "payload", columns=["zip_code", "county"])
        return recs.select(
            "zip_code",
            S.remove_suffix("county", " County").alias("county"),
            F.col("state"),
            F.lit(ctx.clock.today()).cast("date").alias("date_pulled"),
        )


# ---------------------------------------------------------------------------
# Teams: HTML dim with regex-extracted id
# ---------------------------------------------------------------------------


class TeamsSource(DataSource):
    """Power_5_Schools analog (datasources.py:371-444): conference pages
    → (team, url) rows, id regex-extracted from the href (F1);
    overwrite."""

    name = "teams"
    table_name = "schools"
    write_mode = "overwrite"

    def __init__(self, conferences: list[str], fetcher, policy: RetryPolicy | None = None):
        self.conferences = conferences
        self.fetcher = fetcher
        self.policy = policy or RetryPolicy(backoff_s=0)

    def schedule(self, ctx: SourceContext) -> bool:
        return not existence_gate(ctx.store, self.table_name) or ctx.manual

    def extract(self, ctx: SourceContext) -> DataFrame:
        worklist = local_frame(
            ctx.spark,
            [(c, f"teams://{c.lower()}") for c in self.conferences],
            "conference string, url string",
        )
        pages = fetch_map(worklist, "url", self.fetcher, self.policy).filter(
            F.col("payload").isNotNull()
        )
        recs = html_records(
            pages, "payload", columns=["team"], with_href_of="team", href_alias="team_url"
        )
        return recs.select(
            "conference",
            "team",
            F.col("team_url").alias("url"),
            S.regex_extract_id("team_url").alias("id"),
        )


# ---------------------------------------------------------------------------
# Games: teams×years drive + incremental append
# ---------------------------------------------------------------------------


class GamesSource(DataSource):
    """Power_5_Games analog (datasources.py:453-566): schedule pages per
    (team, year) from the teams table (the reference *intended* to read
    the teams table — §2.11 quirk 3); game id split from the URL (F5);
    incremental = symmetric difference against already-loaded rows
    (J2, datasources.py:547-552); append.

    ``years=None`` enables the reference's *massgrab* historical
    backfill (datasources.py:487-489, :505-512): when the games table
    does not exist yet, schedule() flips ``massgrab`` on and extract()
    drives ``backfill_start``..current-season × teams; once the table
    exists, the auto range collapses to just the current season. The
    reference scrapes the max season from a dropdown (A5, :503-504);
    we derive the same value from the injected clock (a season belongs
    to the year it starts in: Aug-Dec → this year, Jan-Jul → last
    year), which keeps the gate deterministic and testable."""

    # the teams×years work-list IS an intentional driving cross join
    # (J4) — exempt it from Pipeline(lint_plans=True)
    lint_allow = ("cartesian_product", "broadcast_nested_loop")

    name = "games"
    table_name = "games"
    write_mode = "append"

    def __init__(
        self,
        years: list[str] | None,
        fetcher,
        teams_table: str = "schools",
        policy: RetryPolicy | None = None,
        backfill_start: int = 2010,
    ):
        self.years = years
        self.fetcher = fetcher
        self.teams_table = teams_table
        self.policy = policy or RetryPolicy(backoff_s=0)
        self.backfill_start = backfill_start
        self.massgrab = False

    def current_season(self, ctx: SourceContext) -> int:
        today = ctx.clock.today()
        return today.year if today.month >= 8 else today.year - 1

    def season_years(self, ctx: SourceContext) -> list[str]:
        """Explicit years win; otherwise 2010..current when massgrab is
        on (first-ever pull), else just the current season."""
        if self.years is not None:
            return self.years
        maxyr = self.current_season(ctx)
        start = self.backfill_start if self.massgrab else maxyr
        return [str(y) for y in range(start, maxyr + 1)]

    def schedule(self, ctx: SourceContext) -> bool:
        # datasources.py:487-489: missing table → massgrab + pull.
        # Re-derived on EVERY call (not just set once): a source object
        # is reused across pipeline runs, and a sticky True would make
        # every post-backfill run re-fetch the full historical range.
        self.massgrab = self.years is None and not existence_gate(
            ctx.store, self.table_name
        )
        if self.massgrab:
            return True
        return calendar_gate(ctx.clock, weekday=None) or ctx.manual

    def extract(self, ctx: SourceContext) -> DataFrame:
        teams = ctx.store.read(self.teams_table).select("id")
        season = self.season_years(ctx)
        years = local_frame(ctx.spark, [(y,) for y in season], "year string")
        worklist = R.driving_cross_join(teams, years).withColumn(
            "url", F.concat_ws("/", F.lit("games:/"), F.col("id"), F.col("year"))
        )
        pages = fetch_map(worklist, "url", self.fetcher, self.policy).filter(
            F.col("payload").isNotNull()
        )
        recs = html_records(
            pages,
            "payload",
            columns=["game_date", "opponent"],
            with_href_of="opponent",
            href_alias="game_url",
        )
        new = (
            recs.select(
                F.col("year"),
                F.col("game_date"),
                S.split_index("game_url", "gameId/", 1).alias("game_id"),
                F.col("id").alias("team_id"),
                F.col("game_url"),
            )
            .filter(F.col("year").isin(season))  # P2 IN-list re-check
            .distinct()
        )
        if ctx.store.exists(self.table_name):
            # J2: only rows not present yet survive (anti-join — the
            # *intended* incremental; symmetric_difference covered in ops/tests)
            return R.incremental_new(new, ctx.store.read(self.table_name))
        return new


# ---------------------------------------------------------------------------
# Game stats: the flagship dependent pull — converges to empty work list
# ---------------------------------------------------------------------------

STAT_FIELDS = [
    "points",
    "total_yds",
    "third_down_eff",
    "pass_comp_att",
    "poss_time",
]

# scraped-name → canonical-name map (P6 fieldmap, datasources.py:737-752)
STAT_FIELDMAP = {
    "Points": "points",
    "TotalYards": "total_yds",
    "3rdDownEfficiency": "third_down_eff",
    "Comp-Att": "pass_comp_att",
    "TimeOfPossession": "poss_time",
}


class GameStatsSource(DataSource):
    """Game_Team_Stats analog — the flagship lifecycle (SURVEY.md §3
    EP3, datasources.py:570-767): calendar gate (season ∧ Monday unless
    table missing), coverage-gap work list (games with <2 team-stat
    rows), per-game scrape → exactly two rows (home/away) with
    'unavail' fill (F18), canonical rename, append. Re-running after a
    full load converges to an empty work list (tested)."""

    name = "game_stats"
    table_name = "game_team_stats"
    write_mode = "append"
    EXPECTED_TEAMS = 2

    def __init__(self, fetcher, games_table: str = "games", policy: RetryPolicy | None = None):
        self.fetcher = fetcher
        self.games_table = games_table
        self.policy = policy or RetryPolicy(backoff_s=0)

    def schedule(self, ctx: SourceContext) -> bool:
        if not existence_gate(ctx.store, self.table_name):
            return True
        return calendar_gate(ctx.clock, weekday=0) or ctx.manual

    def worklist(self, ctx: SourceContext) -> DataFrame:
        games = ctx.store.read(self.games_table).select("game_id", "game_url").distinct()
        if not ctx.store.exists(self.table_name):
            return games
        stats = ctx.store.read(self.table_name)
        return R.coverage_gap(
            games, stats, "game_id", "game_id_s", "team", self.EXPECTED_TEAMS, "cntcheck"
        ).select("game_id", "game_url")

    def extract(self, ctx: SourceContext) -> DataFrame:
        pages = fetch_map(self.worklist(ctx), "game_url", self.fetcher, self.policy)
        recs = html_records(
            pages.filter(F.col("payload").isNotNull()),
            "payload",
            columns=["stat", "home", "away"],
        )
        # pivot the per-stat rows into one row per (game, side) — UD2 output
        # reshaped relationally, then canonical rename (P6) + unavail fill (F18)
        sides = []
        for side, is_home in (("home", True), ("away", False)):
            wide = (
                recs.groupBy("game_id")
                .pivot("stat", list(STAT_FIELDMAP.keys()))
                .agg(F.first(side))
            )
            renamed = R.rename_columns(wide, STAT_FIELDMAP)
            sides.append(
                renamed.select(
                    F.col("game_id").alias("game_id_s"),
                    F.concat_ws("-", F.lit("team"), F.col("game_id"), F.lit(side)).alias("team"),
                    F.lit(is_home).alias("is_home"),
                    *[S.fill_unavail(c).alias(c) for c in STAT_FIELDS],
                )
            )
        return R.union_accumulate(sides)


# ---------------------------------------------------------------------------
# Website events: pushed base64 JSON → append (EP2, batch twin)
# ---------------------------------------------------------------------------

TRAFFIC_SCHEMA = StructType(
    [
        StructField("time_stamp", StringType(), True),
        StructField("id", StringType(), True),
        StructField("session", StringType(), True),
        StructField("page", StringType(), True),
        StructField("referrer", StringType(), True),
        StructField("device", StringType(), True),
        StructField("language", StringType(), True),
    ]
)


class WebsiteEventsSource(DataSource):
    """Portfolio_Website_Traffic analog (datasources.py:775-805 +
    main.py:40-44): base64 payload → JSON records → typed append;
    schedule is constant-true (:791-793). The streaming twin lives in
    streaming/ingest.py."""

    name = "website_events"
    table_name = "website_traffic"
    write_mode = "append"

    def __init__(self, payloads_b64: list[str]):
        self.payloads = payloads_b64

    def schedule(self, ctx: SourceContext) -> bool:
        return True

    def extract(self, ctx: SourceContext) -> DataFrame:
        raw = local_frame(ctx.spark, [(p,) for p in self.payloads], "data string")
        line = S.b64_decode_utf8(F.col("data"))
        return (
            raw.select(F.from_json(line, TRAFFIC_SCHEMA).alias("r"))
            .select("r.*")
            .withColumn("ts", F.to_timestamp("time_stamp"))
        )


def make_dict_fetcher(pages: dict[str, str]):
    """Fixture fetcher: url → canned payload; unknown url raises
    FetchError (skip semantics)."""
    from .base import FetchError

    def _fetch(url: str) -> str:
        if url not in pages:
            raise FetchError(url)
        return pages[url]

    return _fetch
