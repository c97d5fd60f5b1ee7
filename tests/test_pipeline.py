"""Orchestrator tests: gates (O1/O7), manual override (O2), retry (O6),
end-to-end source lifecycles incl. the flagship convergence property
(SURVEY.md §5.4)."""

from __future__ import annotations

import base64
import datetime as dt
import json

import pytest

from datapipelinerepo_spark.io import TableStore
from datapipelinerepo_spark.plans import (
    FixedClock,
    Pipeline,
    annual_refresh_gate,
    calendar_gate,
    monthly_quota_gate,
    watermark_gate,
)
from datapipelinerepo_spark.sources.base import FetchError, FetchTimeout, RetryPolicy
from datapipelinerepo_spark.sources.reference_shaped import (
    GameStatsSource,
    GamesSource,
    GeoSource,
    TeamsSource,
    WeatherSource,
    WebsiteEventsSource,
    make_dict_fetcher,
)

from .test_job_budget import _days

MONDAY = dt.date(2026, 8, 10)  # a Monday in season


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path))


def _weather_payload(precip: float) -> str:
    return json.dumps(
        {
            "forecast": {
                "forecastday": [
                    {
                        "day": {
                            "maxtemp_f": 90.0,
                            "mintemp_f": 70.0,
                            "avgtemp_f": 80.0,
                            "totalprecip_in": precip,
                        }
                    }
                ]
            }
        }
    )


def _weather_source(zips, clock):
    pages = {
        f"weather://{z}/{clock.yesterday()}": _weather_payload(i / 10)
        for i, z in enumerate(zips)
    }
    return WeatherSource(zips, make_dict_fetcher(pages))


# ---------------------------------------------------------------------------
# Gates
# ---------------------------------------------------------------------------


def test_watermark_gate(spark, store):
    clock = FixedClock(MONDAY)
    assert watermark_gate(store, "w", "date", clock)  # missing table → pull
    df = spark.createDataFrame([("z", clock.yesterday(), 1.0)], "zip string, date date, v double")
    store.append(df, "w")
    assert not watermark_gate(store, "w", "date", clock)  # current → skip
    clock2 = FixedClock(MONDAY + dt.timedelta(days=2))
    assert watermark_gate(store, "w", "date", clock2)  # stale → pull


def test_quota_gate(spark, store):
    clock = FixedClock(MONDAY)
    df = spark.createDataFrame(
        [("z", dt.date(2026, 8, d), 0.0) for d in range(1, 6)],
        "zip string, date date, v double",
    )
    store.append(df, "w")
    assert monthly_quota_gate(store, "w", "date", clock, budget=10, upcoming=5)
    assert not monthly_quota_gate(store, "w", "date", clock, budget=9, upcoming=5)


# Gates on a table reloaded by date partition (the Daily_Weather shape)
# answer from the partition directories and parquet footers; each case
# below checks both gates against a Spark scan of the same files.


def _assert_gates_match_scan(spark, store, clock, fast):
    """Both gates at the exact boundary of the scanned MAX(date) and
    this month's COUNT(*); ``fast`` says which path the layout proves."""
    assert (store._date_partitions("w", "date") is not None) == fast
    scan = spark.read.parquet(store._dir("w"))
    today = clock.today()
    used = scan.where(
        f"month(date) = {today.month} AND year(date) = {today.year}"
    ).count()
    assert monthly_quota_gate(store, "w", "date", clock, budget=used + 2, upcoming=2)
    assert not monthly_quota_gate(store, "w", "date", clock, budget=used + 1, upcoming=2)
    wm = scan.selectExpr("max(date) AS m").first()["m"]
    at_wm = FixedClock(wm + dt.timedelta(days=1))  # yesterday == MAX: skip
    assert not watermark_gate(store, "w", "date", at_wm)
    assert watermark_gate(store, "w", "date", FixedClock(wm + dt.timedelta(days=2)))
    return used, wm


@pytest.fixture()
def two_years(spark, store):
    days = [dt.date(2025, 8, d) for d in range(1, 6)] + [
        dt.date(2026, 7, 30), dt.date(2026, 7, 31),
        dt.date(2026, 8, 1), dt.date(2026, 8, 2), dt.date(2026, 8, 3),
    ]
    store.reload_partitions(_days(spark, days), "w", "date")
    return store


def test_partition_gates_span_two_years(spark, two_years):
    # last August's 10 rows must not count against this August
    assert _assert_gates_match_scan(spark, two_years, FixedClock(MONDAY), True) == (
        6, dt.date(2026, 8, 3),
    )


def test_partition_gates_skip_the_null_partition(spark, two_years):
    nulls = _days(spark, [None]).union(_days(spark, [dt.date(2026, 8, 4)]))
    two_years.reload_partitions(nulls, "w", "date")
    assert _assert_gates_match_scan(spark, two_years, FixedClock(MONDAY), True) == (
        8, dt.date(2026, 8, 4),
    )


def test_partition_gates_skip_partitions_without_rows(spark, two_years):
    """A newest partition left without rows — no parquet file, or a
    zero-row one from another writer — sets no MAX and counts 0."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = two_years._dir("w")
    os.makedirs(os.path.join(base, "date=2026-08-05"))
    open(os.path.join(base, "date=2026-08-05", "_SUCCESS"), "w").close()
    os.makedirs(os.path.join(base, "date=2026-08-06"))
    empty = pa.table({"zip": pa.array([], pa.string()), "v": pa.array([], pa.float64())})
    pq.write_table(empty, os.path.join(base, "date=2026-08-06", "part-empty.parquet"))
    assert _assert_gates_match_scan(spark, two_years, FixedClock(MONDAY), True) == (
        6, dt.date(2026, 8, 3),
    )


def test_partition_gates_fall_back_on_a_root_level_file(spark, two_years):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root_file = pa.table({"zip": ["r"], "v": [1.0], "date": [dt.date(2026, 8, 9)]})
    pq.write_table(root_file, os.path.join(two_years._dir("w"), "part-root.parquet"))
    _assert_gates_match_scan(spark, two_years, FixedClock(MONDAY), False)


def test_partition_gates_fall_back_on_a_keyed_table(spark, store):
    """``_kb=`` bucket directories are data, not hidden entries."""
    store.overwrite_keyed(
        _days(spark, [dt.date(2026, 8, 1), dt.date(2025, 8, 1)]), "w", "zip",
        n_buckets=4,
    )
    assert _assert_gates_match_scan(spark, store, FixedClock(MONDAY), False) == (
        2, dt.date(2026, 8, 1),
    )


def test_partition_gates_fall_back_on_an_appended_table(spark, store):
    store.append(_days(spark, [dt.date(2026, 8, 1), dt.date(2025, 8, 1)]), "w")
    assert _assert_gates_match_scan(spark, store, FixedClock(MONDAY), False) == (
        2, dt.date(2026, 8, 1),
    )


def test_calendar_gate():
    assert calendar_gate(FixedClock(MONDAY), weekday=0)
    assert not calendar_gate(FixedClock(MONDAY + dt.timedelta(days=1)), weekday=0)
    assert not calendar_gate(FixedClock(dt.date(2026, 5, 4)), weekday=0)  # off-season Monday
    assert calendar_gate(FixedClock(dt.date(2026, 5, 4)), months=range(1, 13), weekday=None)


def test_annual_refresh_gate(spark, store):
    clock = FixedClock(MONDAY)
    assert annual_refresh_gate(store, "g", clock)  # missing
    store.overwrite(spark.createDataFrame([(1,)], "id long"), "g")
    assert not annual_refresh_gate(store, "g", clock)  # fresh
    # fake an old load by rewriting the meta file a year+ back
    import json as j

    with open(store._meta_path("g"), "w") as f:
        j.dump({"last_modified_millis": int(dt.datetime(2025, 8, 1).timestamp() * 1000)}, f)
    assert annual_refresh_gate(store, "g", clock)


# ---------------------------------------------------------------------------
# Retry policy (O6)
# ---------------------------------------------------------------------------


def test_retry_policy_timeout_then_success():
    calls = []

    def fetcher(url):
        calls.append(url)
        if len(calls) == 1:
            raise FetchTimeout(url)
        return "ok"

    sleeps = []
    p = RetryPolicy(backoff_s=30, sleep=sleeps.append)
    assert p.fetch(fetcher, "u") == "ok"
    assert sleeps == [30] and len(calls) == 2


def test_retry_policy_permanent_skip():
    p = RetryPolicy(backoff_s=0)
    assert p.fetch(lambda u: (_ for _ in ()).throw(FetchError(u)), "u") is None


# ---------------------------------------------------------------------------
# Source lifecycles
# ---------------------------------------------------------------------------


def test_weather_end_to_end_and_idempotent_reload(spark, store):
    clock = FixedClock(MONDAY)
    src = _weather_source(["30301", "30302"], clock)
    pipe = Pipeline([src], spark=spark, store=store, clock=clock)
    r1 = pipe.run()
    assert r1.scheduled["weather"] and r1.loaded_rows["weather"] == 2
    assert not r1.errors
    # second run same day: watermark current → gated off
    r2 = pipe.run()
    assert not r2.scheduled["weather"]
    # manual re-run (S10): same partition reloaded, no duplicates
    r3 = Pipeline([src], spark=spark, store=store, clock=clock, manual=["weather"]).run()
    assert r3.loaded_rows["weather"] == 2
    assert store.read("daily_weather").count() == 2


def test_parallel_run_matches_sequential(spark, store, tmp_path):
    """O4 extension: independent sources run concurrently from driver
    threads — same report and same loaded tables as sequential."""
    clock = FixedClock(MONDAY)
    weather = _weather_source(["30301", "30302", "30303"], clock)
    geo_pages = {
        "geo://ga": "<table><tr><th>h</th></tr>"
        + "<tr><td>Fulton County</td><td>30301</td></tr>"
        + "<tr><td>Cobb County</td><td>30302</td></tr></table>"
    }
    geo = GeoSource(["ga"], make_dict_fetcher(geo_pages))
    r = Pipeline(
        [weather, geo], spark=spark, store=store, clock=clock, manual=["geo"]
    ).run(max_workers=2)
    assert not r.errors
    assert r.loaded_rows["weather"] == 3
    assert r.loaded_rows["geo"] == 2
    assert store.read("daily_weather").count() == 3
    assert store.read("us_zips_counties").count() == 2


def test_weather_quota_blocks(spark, store):
    clock = FixedClock(MONDAY)
    zips = ["1", "2", "3"]
    pages = {f"weather://{z}/{clock.yesterday()}": _weather_payload(0.1) for z in zips}
    src = WeatherSource(zips, make_dict_fetcher(pages), quota=2)
    r = Pipeline([src], spark=spark, store=store, clock=clock).run()
    assert not r.scheduled["weather"]


def test_geo_html_parse_and_annual_overwrite(spark, store):
    html = """
    <table>
      <tr><th>ZIP</th><th>County</th></tr>
      <tr><td>30301</td><td>Fulton County</td></tr>
      <tr><td>30302</td><td>DeKalb County</td></tr>
    </table>"""
    src = GeoSource(["GA"], make_dict_fetcher({"geo://ga": html}))
    clock = FixedClock(MONDAY)
    r = Pipeline([src], spark=spark, store=store, clock=clock).run()
    assert r.loaded_rows["geo"] == 2
    rows = {(x["zip_code"], x["county"]) for x in store.read("us_zips_counties").collect()}
    assert rows == {("30301", "Fulton"), ("30302", "DeKalb")}  # suffix stripped
    # fresh table → annual gate off
    assert not Pipeline([src], spark=spark, store=store, clock=clock).run().scheduled["geo"]


TEAM_HTML = """
<table>
  <tr><th>Team</th></tr>
  <tr><td><a href="/cf/team/_/id/2633/tennessee">Tennessee</a></td></tr>
  <tr><td><a href="/cf/team/_/id/333/alabama">Alabama</a></td></tr>
</table>"""


def _games_html(team_id: str, year: str) -> str:
    gid = f"40{team_id}{year}"
    return f"""
    <table>
      <tr><th>Date</th><th>Opponent</th></tr>
      <tr><td>Sat, Sep 3</td><td><a href="/game/gameId/{gid}">Rival</a></td></tr>
    </table>"""


def test_teams_and_games_incremental(spark, store):
    clock = FixedClock(MONDAY)
    teams = TeamsSource(["SEC"], make_dict_fetcher({"teams://sec": TEAM_HTML}))
    games_pages = {
        f"games://{tid}/{yr}": _games_html(tid, yr)
        for tid in ("2633", "333")
        for yr in ("2025", "2026")
    }
    games = GamesSource(["2025", "2026"], make_dict_fetcher(games_pages))
    pipe = Pipeline([teams, games], spark=spark, store=store, clock=clock)
    r = pipe.run()
    assert r.loaded_rows["teams"] == 2
    assert r.loaded_rows["games"] == 4
    ids = {x["id"] for x in store.read("schools").collect()}
    assert ids == {"2633", "333"}  # F1 regex extraction
    # re-run: teams table exists (gate off); games incremental finds nothing new
    r2 = Pipeline([games], spark=spark, store=store, clock=clock).run()
    assert r2.scheduled["games"] and r2.loaded_rows["games"] == 0
    assert store.read("games").count() == 4


def test_games_massgrab_backfill(spark, store):
    """massgrab analog (datasources.py:487-489, :505-512): years=None
    with no games table yet → schedule flips massgrab on and extract
    drives backfill_start..current-season × teams; a second pipeline run
    sees the table, collapses the range to the current season, and the
    incremental anti-join converges to zero new rows."""
    clock = FixedClock(MONDAY)  # Aug 2026 → current season 2026
    teams = TeamsSource(["SEC"], make_dict_fetcher({"teams://sec": TEAM_HTML}))
    games_pages = {
        f"games://{tid}/{yr}": _games_html(tid, yr)
        for tid in ("2633", "333")
        for yr in ("2024", "2025", "2026")
    }
    games = GamesSource(
        None, make_dict_fetcher(games_pages), backfill_start=2024
    )
    r = Pipeline([teams, games], spark=spark, store=store, clock=clock).run()
    assert games.massgrab  # missing table flipped the backfill mode on
    assert r.loaded_rows["games"] == 6  # 2 teams x seasons 2024..2026
    assert {x["year"] for x in store.read("games").collect()} == {"2024", "2025", "2026"}
    # second run, SAME source object (the supported reuse pattern):
    # schedule() re-derives massgrab from the now-existing table, so the
    # flag is not sticky and the range collapses to the current season
    r1b = Pipeline([games], spark=spark, store=store, clock=clock).run()
    assert not games.massgrab
    assert r1b.loaded_rows["games"] == 0
    # third run, fresh source: table exists -> no massgrab, range is
    # just the current season, and nothing new survives the anti-join
    games2 = GamesSource(None, make_dict_fetcher(games_pages), backfill_start=2024)
    from datapipelinerepo_spark.plans import SourceContext

    ctx = SourceContext(spark=spark, store=store, clock=clock)
    r2 = Pipeline([games2], spark=spark, store=store, clock=clock).run()
    assert not games2.massgrab
    assert games2.season_years(ctx) == ["2026"]
    assert r2.scheduled["games"] and r2.loaded_rows["games"] == 0
    assert store.read("games").count() == 6
    # off-season clock: Jan belongs to the season that started last fall
    ctx_jan = SourceContext(
        spark=spark, store=store, clock=FixedClock(dt.date(2027, 1, 4))
    )
    assert games2.season_years(ctx_jan) == ["2026"]


def _stats_html(gid: str) -> str:
    return f"""
    <table>
      <tr><th>Stat</th><th>Home</th><th>Away</th></tr>
      <tr><td>Points</td><td>34</td><td>27</td></tr>
      <tr><td>TotalYards</td><td>452</td><td>388</td></tr>
      <tr><td>3rdDownEfficiency</td><td>4-12</td><td>6-13</td></tr>
      <tr><td>Comp-Att</td><td>24-39</td><td>18-30</td></tr>
      <tr><td>TimeOfPossession</td><td>28:36</td><td>31:24</td></tr>
    </table>"""


def test_gamestats_flagship_convergence(spark, store):
    """EP3 end-to-end: work list → extract → append; second run's work
    list is empty (the reference's convergence property,
    datasources.py:645-646)."""
    clock = FixedClock(MONDAY)
    gids = ["4026332025", "403332025"]
    games_df = spark.createDataFrame(
        [("2025", "Sat, Sep 3", g, "t", f"stats://{g}") for g in gids],
        "year string, game_date string, game_id string, team_id string, game_url string",
    )
    store.append(games_df, "games")
    stats = GameStatsSource(make_dict_fetcher({f"stats://{g}": _stats_html(g) for g in gids}))
    from datapipelinerepo_spark.plans import SourceContext

    ctx = SourceContext(spark=spark, store=store, clock=clock)
    assert stats.worklist(ctx).count() == 2  # both games uncovered
    r = Pipeline([stats], spark=spark, store=store, clock=clock).run()
    assert r.loaded_rows["game_stats"] == 4  # 2 games × home/away
    got = store.read("game_team_stats")
    assert got.count() == 4
    row = got.filter("game_id_s = '4026332025' AND is_home").first()
    assert row["points"] == "34" and row["third_down_eff"] == "4-12"
    # convergence: everything covered → empty work list, 0 loaded on re-run
    assert stats.worklist(ctx).count() == 0
    r2 = Pipeline([stats], spark=spark, store=store, clock=clock, manual=["game_stats"]).run()
    assert r2.loaded_rows["game_stats"] == 0


def test_gamestats_unavail_fill(spark, store):
    """F18: games whose page lacks stats load as 'unavail' sentinels."""
    clock = FixedClock(MONDAY)
    gid = "401"
    store.append(
        spark.createDataFrame(
            [("2025", "d", gid, "t", f"stats://{gid}")],
            "year string, game_date string, game_id string, team_id string, game_url string",
        ),
        "games",
    )
    sparse = """<table><tr><th>S</th><th>H</th><th>A</th></tr>
    <tr><td>Points</td><td>10</td><td>3</td></tr></table>"""
    stats = GameStatsSource(make_dict_fetcher({f"stats://{gid}": sparse}))
    Pipeline([stats], spark=spark, store=store, clock=clock).run()
    row = store.read("game_team_stats").filter("is_home").first()
    assert row["points"] == "10" and row["total_yds"] == "unavail"


def test_website_events_append(spark, store):
    recs = [
        {"time_stamp": "2026-08-12 14:03:21", "id": "v1", "session": "s1",
         "page": "/projects", "referrer": "r", "device": "mobile", "language": "en-US"},
        {"time_stamp": "2026-08-12 14:04:00", "id": "v2", "session": "s2",
         "page": "/", "referrer": "r", "device": "desktop", "language": "en-US"},
    ]
    payload = base64.b64encode(json.dumps(recs[0]).encode()).decode()
    payload2 = base64.b64encode(json.dumps(recs[1]).encode()).decode()
    src = WebsiteEventsSource([payload, payload2])
    r = Pipeline([src], spark=spark, store=TableStore(spark, store.root), clock=FixedClock(MONDAY)).run()
    assert r.loaded_rows["website_events"] == 2
    got = store.read("website_traffic")
    assert {x["page"] for x in got.collect()} == {"/projects", "/"}
    assert dict(got.dtypes)["ts"].startswith("timestamp")


def test_pipeline_error_isolation(spark, store):
    class Boom(WeatherSource):
        name = "boom"

        def extract(self, ctx):
            raise RuntimeError("kaput")

    clock = FixedClock(MONDAY)
    ok = _weather_source(["1"], clock)
    boom = Boom(["1"], make_dict_fetcher({}))
    r = Pipeline([boom, ok], spark=spark, store=store, clock=clock).run()
    assert "boom" in r.errors and r.loaded_rows["weather"] == 1


def test_smoke_test_harness(spark, store):
    clock = FixedClock(MONDAY)
    src = _weather_source(["1"], clock)
    from datapipelinerepo_spark.plans import SourceContext

    out = src.smoke_test(SourceContext(spark=spark, store=store, clock=clock))
    assert out["scheduled"] and out["rows"] == 1


def test_html_cells_udtf_matches_mapinpandas_parse(spark):
    """The @udtf SQL-lateral form of the HTML parse (UD2) agrees with
    the Arrow-batched html_records path on the same page."""
    from datapipelinerepo_spark.sources.html import html_records
    from datapipelinerepo_spark.sources.udtf import register_html_cells

    register_html_cells(spark)
    pages = spark.createDataFrame([("p1", TEAM_HTML)], "page_id string, payload string")
    pages.createOrReplaceTempView("udtf_pages")
    cells = spark.sql(
        """
        SELECT p.page_id, c.row_no, c.cell, c.href
        FROM udtf_pages p, LATERAL html_cells(p.payload) c
        WHERE c.row_no > 0 AND c.col_no = 0
        """
    )
    got = {(r["cell"], r["href"]) for r in cells.collect()}
    via_map = html_records(
        pages, "payload", columns=["team"], with_href_of="team", href_alias="team_url"
    )
    expected = {(r["team"], r["team_url"]) for r in via_map.collect()}
    assert got == expected == {
        ("Tennessee", "/cf/team/_/id/2633/tennessee"),
        ("Alabama", "/cf/team/_/id/333/alabama"),
    }


def test_entrypoints_mirror_reference_handlers(spark, store):
    """The six main.py-analog entry functions run their pipelines
    end-to-end with injected fetchers — the switch-over surface for a
    reference user (functions/main.py:14-90)."""
    import base64 as b64
    import json as js

    from datapipelinerepo_spark import entrypoints as EP

    clock = FixedClock(MONDAY)
    zips = ["30301", "30302"]
    wx_pages = {
        f"weather://{z}/{clock.yesterday()}": _weather_payload(i / 10)
        for i, z in enumerate(zips)
    }
    r = EP.weather_pipeline(
        spark, store, make_dict_fetcher(wx_pages), zips=zips, clock=clock
    )
    assert r.loaded_rows["weather"] == 2

    payload = b64.b64encode(js.dumps(
        {"time_stamp": "2026-08-12 14:03:21", "id": "v1", "session": "s1",
         "page": "/p", "referrer": "r", "device": "d", "language": "en"}
    ).encode()).decode()
    r = EP.websitehits_pipeline(spark, store, [payload], clock=clock)
    assert r.loaded_rows["website_events"] == 1

    r = EP.cf_pwr5teams_pipeline(
        spark, store, make_dict_fetcher({"teams://sec": TEAM_HTML}), clock=clock
    )
    assert r.loaded_rows["teams"] == 2

    games_pages = {
        f"games://{tid}/{yr}": _games_html(tid, yr)
        for tid in ("2633", "333") for yr in ("2025",)
    }
    r = EP.cf_games_pipeline(
        spark, store, make_dict_fetcher(games_pages), years=["2025"], clock=clock
    )
    assert r.loaded_rows["games"] == 2

    games_rows = store.read("games").collect()
    r = EP.cf_gamestats_pipeline(
        spark, store,
        make_dict_fetcher(
            {x["game_url"]: _stats_html(x["game_id"]) for x in games_rows}
        ),
        clock=clock,
    )
    assert r.loaded_rows["game_stats"] == len(games_rows) * 2

    geo_html = """
    <table>
      <tr><th>ZIP</th><th>County</th></tr>
      <tr><td>30301</td><td>Fulton County</td></tr>
    </table>"""
    r = EP.uslocations_pipeline(
        spark, store, make_dict_fetcher({"geo://ga": geo_html}), clock=clock
    )
    assert r.loaded_rows["geo"] == 1


def test_cli_list_and_oracle_paths(capsys):
    """The CLI runner lists queries and prints oracle SQL without a
    Spark session; unknown names fail with a close-match hint."""
    from datapipelinerepo_spark.__main__ import main

    assert main(["--list", "dedup_minhash*"]) == 0
    out = capsys.readouterr().out
    assert "dedup_minhash_lsh" in out and "[bench]" in out
    assert main(["text_zipf_fit", "--oracle"]) == 0
    assert "ln(" in capsys.readouterr().out
    assert main(["no_such_query"]) == 2
    assert main(["ann_topk_lsh", "--oracle"]) == 1  # rows-only


def test_quota_gate_ignores_previous_years(spark, store):
    """month() alone also matches the same month of EVERY previous
    year; a table with >1y of history would strangle its own quota at
    month start (code-review r6)."""
    clock = FixedClock(MONDAY)  # 2026-08
    old = spark.createDataFrame(
        [("z", dt.date(2025, 8, d), 0.0) for d in range(1, 10)],
        "zip string, date date, v double",
    )
    store.append(old, "w")
    # 9 rows of LAST August must not count against THIS August's budget
    assert monthly_quota_gate(store, "w", "date", clock, budget=5, upcoming=5)


def test_load_executes_extract_once(spark, store):
    """count + write must not run the extract twice: for an HTTP-backed
    source that is 2x the requests the quota gate budgets
    (code-review r6). Counted via an accumulator inside the extract."""
    from datapipelinerepo_spark.plans.pipeline import DataSource, Pipeline

    acc = spark.sparkContext.accumulator(0)

    class CountingSource(DataSource):
        name = "counting"
        table_name = "counting_t"

        def schedule(self, ctx):
            return True

        def extract(self, ctx):
            def tag(batches):
                for pdf in batches:
                    acc.add(len(pdf))
                    yield pdf

            return ctx.spark.range(10).mapInPandas(tag, "id long")

    report = Pipeline([CountingSource()], spark=spark, store=store).run()
    assert report.loaded_rows["counting"] == 10
    assert store.read("counting_t").count() == 10
    assert acc.value == 10, f"extract executed {acc.value / 10:g}x"


def test_pipeline_lint_gate_honors_source_allow(spark, tmp_path):
    """A source whose extract is an INTENTIONAL cross join (the J4
    driving work list) declares lint_allow and passes the lint gate;
    without the declaration the same extract is refused
    (code-review r6)."""
    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.plans.pipeline import DataSource, Pipeline

    class CrossSource(DataSource):
        name = "cross"
        table_name = "cross_t"
        lint_allow = ("cartesian_product", "broadcast_nested_loop")

        def schedule(self, ctx):
            return True

        def extract(self, ctx):
            a = ctx.spark.range(3)
            b = ctx.spark.range(2).withColumnRenamed("id", "id2")
            return a.crossJoin(b)

    store2 = TableStore(spark, str(tmp_path / "s1"))
    rep = Pipeline([CrossSource()], spark=spark, store=store2, lint_plans=True).run()
    assert rep.errors == {} and rep.loaded_rows["cross"] == 6

    class Undeclared(CrossSource):
        name = "undeclared"
        table_name = "undeclared_t"
        lint_allow = ()

    store3 = TableStore(spark, str(tmp_path / "s2"))
    rep2 = Pipeline([Undeclared()], spark=spark, store=store3, lint_plans=True).run()
    assert "undeclared" in rep2.errors


def test_games_entrypoint_accepts_none_years(spark, store):
    """years=None is the documented massgrab-backfill switch; the
    entrypoint must not TypeError on it before O6 isolation
    (code-review r6)."""
    from datapipelinerepo_spark.entrypoints import cf_games_pipeline

    def no_fetch(url):
        raise RuntimeError("offline")

    report = cf_games_pipeline(
        spark, store, fetcher=no_fetch, years=None, clock=FixedClock(MONDAY)
    )
    # reaching the per-source report (scheduled or error) proves the
    # TypeError is gone; the missing teams table / offline fetch land
    # in O6 isolation instead of aborting the entrypoint
    assert "games" in set(report.scheduled) | set(report.errors)


def test_html_records_multi_table_headers_and_typed_carry(spark):
    """Per-TABLE header skip (a summary table above the data table must
    not leak its header as a record), non-string carry columns keep
    their types, and colliding output names fail fast
    (code-review r6)."""
    import pytest as _pytest

    from datapipelinerepo_spark.sources.html import html_records

    page = (
        "<table><tr><td>Nav</td><td>X</td></tr></table>"
        "<table><tr><td>Name</td><td>Score</td></tr>"
        "<tr><td>alpha</td><td>10</td></tr>"
        "<tr><td>beta</td><td>20</td></tr></table>"
    )
    pages = spark.createDataFrame([(7, page)], "year int, html string")
    out = html_records(pages, "html", columns=["name", "score"])
    rows = {(r["year"], r["name"], r["score"]) for r in out.collect()}
    # both headers skipped ('Nav' and 'Name' rows), year stays an int
    assert rows == {(7, "alpha", "10"), (7, "beta", "20")}
    assert dict(out.dtypes)["year"] == "int"
    with _pytest.raises(ValueError, match="distinct"):
        html_records(pages, "html", columns=["year", "score"])
