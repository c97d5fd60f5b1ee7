"""Query registry: every implemented operator from SURVEY.md §2 as a
named (PySpark builder, DuckDB oracle SQL) pair.

The driver contract (__spark_entry__.py) runs each Spark query and the
oracle SQL side-by-side at sf0.01 and compares row-count + schema +
order-insensitive value hash; columns are sorted by name before hashing,
so *every* computed column is aliased identically on both sides.

Cross-engine determinism rules used throughout:
- double aggregates go through DECIMAL (exact, order-insensitive) and
  are cast back to DOUBLE (``decimal_sum``) — also what makes results
  stable across partitionings on a real cluster;
- timestamps are output as formatted strings or DATEs (parquet ns/us
  precision differs between engines);
- top-k queries carry a total deterministic ORDER BY (value, then key);
- floating-point *similarity* scores are rounded to 4dp and used only
  for ranking, with id tie-breaks.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import scalars as S
from .io import load_table
from .operators import relational as R
from .operators import windows as W


@dataclass
class Entry:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → non-SQL-expressible (rows-only check)
    bench: bool = False  # include in bench.py headline set
    # driver=False: registered + pytest-covered but NOT exposed through
    # __spark_entry__.queries(). Used for the hash/sketch-dependent
    # approximate forms whose oracle-checkable surface is a green
    # construction-exact twin (named in each docstring): their best
    # driver outcome is a permanent `err: no_oracle` row, which burns a
    # check-budget slot every round for zero information (VERDICT r5
    # item 2).
    driver: bool = True


REGISTRY: dict[str, Entry] = {}


def register(
    name: str,
    sql: str | None = None,
    bench: bool = False,
    driver: bool = True,
):
    def deco(fn):
        REGISTRY[name] = Entry(fn, sql, bench, driver)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ===========================================================================
# §2.1 Scans (S1, S2)
# ===========================================================================


@register("s1_full_scan", sql="SELECT * FROM region")
def s1_full_scan(spark, sf_dir):
    """S1: SELECT * FROM t (datasources.py:496, :650-654)."""
    return t(spark, sf_dir, "region")


@register("s2_projected_scan", sql="SELECT n_name FROM nation")
def s2_projected_scan(spark, sf_dir):
    """S2: single-column scan (datasources.py:171, :637-645); Catalyst
    prunes the parquet ReadSchema to one column."""
    return R.keep_columns(t(spark, sf_dir, "nation"), ["n_name"])


# ===========================================================================
# §2.2 Projections / filters (P1-P8)
# ===========================================================================


@register(
    "p1_point_lookup",
    sql="SELECT c_custkey, c_name, c_acctbal FROM customer "
    "WHERE c_mktsegment = 'BUILDING'",
)
def p1_point_lookup(spark, sf_dir):
    """P1: equality filter (WHERE State='GA', datasources.py:171)."""
    df = R.point_lookup(t(spark, sf_dir, "customer"), "c_mktsegment", "BUILDING")
    return R.keep_columns(df, ["c_custkey", "c_name", "c_acctbal"])


@register(
    "p2_in_list",
    sql="SELECT o_orderkey, o_orderpriority FROM orders "
    "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')",
)
def p2_in_list(spark, sf_dir):
    """P2: IN-list (WHERE YEAR IN (...), datasources.py:548)."""
    df = R.in_list(t(spark, sf_dir, "orders"), "o_orderpriority", ["1-URGENT", "2-HIGH"])
    return R.keep_columns(df, ["o_orderkey", "o_orderpriority"])


@register(
    "p4_date_part_filter",
    sql="SELECT COUNT(*) AS cnt FROM orders WHERE month(o_orderdate) = 3",
)
def p4_date_part_filter(spark, sf_dir):
    """P4+A2: EXTRACT(MONTH)=m quota count (datasources.py:159)."""
    return R.filtered_count(
        t(spark, sf_dir, "orders"), F.month("o_orderdate") == 3
    )


@register(
    "p5_column_prune",
    sql="SELECT l_orderkey, l_extendedprice FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '2000-01-01'",
)
def p5_column_prune(spark, sf_dir):
    """P5: keep-list projection + pushed filter (datasources.py:270-271).
    .explain shows PushedFilters + 3-column ReadSchema."""
    df = t(spark, sf_dir, "lineitem")
    return R.keep_columns(
        df.filter(F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp")),
        ["l_orderkey", "l_extendedprice"],
    )


@register(
    "p6_rename_projection",
    sql="SELECT n_nationkey AS nation_id, n_name AS nation_name FROM nation",
)
def p6_rename_projection(spark, sf_dir):
    """P6: canonical-name mapping (fieldmap rename, datasources.py:737-752)."""
    df = R.keep_columns(t(spark, sf_dir, "nation"), ["n_nationkey", "n_name"])
    return R.rename_columns(df, {"n_nationkey": "nation_id", "n_name": "nation_name"})


@register(
    "p7_computed_columns",
    sql="SELECT r_regionkey, r_name, DATE '2026-08-13' AS date_pulled, "
    "'batch42' AS batch_id FROM region",
)
def p7_computed_columns(spark, sf_dir):
    """P7: constant-column append (Date_Pulled, datasources.py:358)."""
    import datetime as dt

    return R.with_constants(
        t(spark, sf_dir, "region"),
        date_pulled=dt.date(2026, 8, 13),
        batch_id="batch42",
    )


@register(
    "p8_cast_projection",
    sql="SELECT CAST(o_orderkey AS VARCHAR) AS okey_str, "
    "CAST(o_orderdate AS DATE) AS odate, "
    "CAST(o_custkey AS DOUBLE) AS ckey_dbl FROM orders",
)
def p8_cast_projection(spark, sf_dir):
    """P8: astype cast projection (datasources.py:274-275) — the
    reference's astype targets are str / datetime64 / float, mirrored
    here as string / date / double. int→double is exact in both
    engines; double→decimal was dropped in round 2 because binary
    doubles that land exactly on a half-cent (x.125, x.375, ...) round
    HALF_UP in Spark but half-even in DuckDB — a tie-breaking
    convention difference, not a cast defect."""
    df = t(spark, sf_dir, "orders")
    return df.select(
        F.col("o_orderkey").cast("string").alias("okey_str"),
        F.col("o_orderdate").cast("date").alias("odate"),
        F.col("o_custkey").cast("double").alias("ckey_dbl"),
    )


# ===========================================================================
# §2.3 Joins + flagship (J1-J4)
# ===========================================================================

FLAGSHIP_SQL = """
SELECT okey, odate, o_totalprice, line_cnt
FROM (
  SELECT o.o_orderkey AS okey,
         CAST(o.o_orderdate AS DATE) AS odate,
         o.o_totalprice,
         c.line_cnt
  FROM orders o
  LEFT JOIN (
    SELECT l_orderkey, COUNT(DISTINCT l_linenumber) AS line_cnt
    FROM lineitem GROUP BY 1
  ) c ON o.o_orderkey = c.l_orderkey
)
WHERE line_cnt < 4 OR line_cnt IS NULL
"""


@register("flagship_coverage_gap", sql=FLAGSHIP_SQL, bench=True)
def flagship_coverage_gap(spark, sf_dir):
    """THE flagship (§3 EP3 step 3, datasources.py:627-647): orders whose
    distinct-lineitem coverage is below threshold or absent — the
    work-list query (J1+A3+P3+S2 composed). The 27 lineitem-less orders
    exercise the IS NULL branch."""
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_orderdate"), F.col("o_totalprice")
    )
    li = t(spark, sf_dir, "lineitem")
    gap = R.coverage_gap(
        orders, li, key_fact="o_orderkey", key_cov="l_orderkey",
        count_col="l_linenumber", expected=4, cnt_name="line_cnt",
    )
    return gap.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderdate").cast("date").alias("odate"),
        F.col("o_totalprice"),
        F.col("line_cnt"),
    )


_J2_A = "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey % 3 <> 0"
_J2_B = "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey % 5 <> 0"


@register(
    "j2_symmetric_difference",
    sql=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus, COUNT(*) AS cnt
      FROM (({_J2_A}) UNION ALL ({_J2_B}))
      GROUP BY 1, 2, 3
    ) WHERE cnt = 1
    """,
)
def j2_symmetric_difference(spark, sf_dir):
    """J2/U2 exact semantics of concat+drop_duplicates(keep=False)
    (datasources.py:547-552): rows occurring exactly once across both
    inputs."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    a = o.filter(F.col("o_orderkey") % 3 != 0)
    b = o.filter(F.col("o_orderkey") % 5 != 0)
    return R.symmetric_difference(a, b)


@register(
    "j2b_incremental_anti_join",
    sql=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus FROM ({_J2_B}) n
    WHERE NOT EXISTS (
      SELECT 1 FROM ({_J2_A}) e WHERE e.o_orderkey = n.o_orderkey
    )
    """,
)
def j2b_incremental_anti_join(spark, sf_dir):
    """J2 intended semantics: new-rows-not-yet-loaded as a left anti-join
    on the key (SURVEY.md §7 hard part 1 — implement BOTH)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    a = o.filter(F.col("o_orderkey") % 3 != 0)
    b = o.filter(F.col("o_orderkey") % 5 != 0)
    return R.incremental_new(b, a, key="o_orderkey")


@register(
    "j4_cross_join_worklist",
    sql="""
    SELECT r_name, yr FROM region CROSS JOIN
      (SELECT DISTINCT year(o_orderdate) AS yr FROM orders)
    """,
)
def j4_cross_join_worklist(spark, sf_dir):
    """J4: drivers × params work list (teams × years,
    datasources.py:514-516)."""
    years = (
        t(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("yr"))
        .distinct()
    )
    return R.driving_cross_join(
        t(spark, sf_dir, "region").select("r_name"), years
    )


# ===========================================================================
# §2.4 Aggregates (A1-A6)
# ===========================================================================


@register(
    "a1_watermark_max",
    sql="SELECT CAST(MAX(o_orderdate) AS DATE) AS max_odate FROM orders",
)
def a1_watermark_max(spark, sf_dir):
    """A1: MAX(Date) watermark read (datasources.py:140)."""
    return (
        t(spark, sf_dir, "orders")
        .agg(F.max(F.col("o_orderdate").cast("date")).alias("max_odate"))
    )


@register(
    "a3_grouped_count_distinct",
    sql="SELECT l_orderkey AS okey, COUNT(DISTINCT l_linenumber) AS line_cnt "
    "FROM lineitem GROUP BY l_orderkey",
)
def a3_grouped_count_distinct(spark, sf_dir):
    """A3: GROUP BY + COUNT(DISTINCT) (datasources.py:628-634)."""
    df = R.grouped_count_distinct(
        t(spark, sf_dir, "lineitem"), "l_orderkey", "l_linenumber", alias="line_cnt"
    )
    return df.withColumnRenamed("l_orderkey", "okey")


@register(
    "a4_distinct_rows",
    sql="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def a4_distinct_rows(spark, sf_dir):
    """A4: drop_duplicates (datasources.py:543)."""
    return R.distinct_rows(t(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"])


@register(
    "a6_emptiness_gate",
    sql="SELECT (COUNT(*) > 0) AS has_rows FROM orders WHERE o_totalprice < 0",
)
def a6_emptiness_gate(spark, sf_dir):
    """A6: df.shape[0] > 0 gate (datasources.py:78, :756)."""
    return R.has_rows(t(spark, sf_dir, "orders").filter(F.col("o_totalprice") < 0))


# ===========================================================================
# §2.6 Set ops (U1)
# ===========================================================================


@register(
    "u1_union_all",
    sql="""
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'P'
    """,
)
def u1_union_all(spark, sf_dir):
    """U1: pd.concat accumulation per page/state (datasources.py:276, :359)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    parts = [R.point_lookup(o, "o_orderstatus", s) for s in ("F", "O", "P")]
    return R.union_accumulate(parts)


# ===========================================================================
# §2.7 Scalar-function suites (F1-F18)
# ===========================================================================


@register(
    "f_string_suite",
    sql=r"""
    SELECT c_custkey,
           lower(c_name) AS name_lower,
           regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS cust_num,
           trim(translate(c_name, '#', ' ')) AS name_clean,
           regexp_replace(c_name, '[0-9]+$', '') AS name_nonum,
           split_part(c_name, '#', 2) AS after_hash,
           concat_ws(' ', c_mktsegment, c_name) AS seg_name
    FROM customer
    """,
)
def f_string_suite(spark, sf_dir):
    """F1-F7: regex extract (:433), translate (:341), suffix removal
    (:345), trim (:713), split+index (:534), lower (:328), concat (:725)."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        S.url_lower("c_name").alias("name_lower"),
        S.regex_extract_id("c_name", "Customer#([0-9]+)").alias("cust_num"),
        F.trim(F.translate(F.col("c_name"), "#", " ")).alias("name_clean"),
        F.regexp_replace(F.col("c_name"), "[0-9]+$", "").alias("name_nonum"),
        S.split_index("c_name", "#", 1).alias("after_hash"),
        S.name_concat("c_mktsegment", "c_name").alias("seg_name"),
    )


@register(
    "f_date_suite",
    sql="""
    SELECT o_orderkey,
           year(o_orderdate) AS o_year,
           month(o_orderdate) AS o_month,
           isodow(o_orderdate) AS o_isodow,
           CAST(o_orderdate AS DATE) + 30 AS plus_30d,
           CAST(o_orderdate + INTERVAL 12 MONTH AS DATE) AS plus_1y,
           epoch_ms(o_orderdate) AS epoch_millis,
           CAST(to_timestamp(epoch_ms(o_orderdate) / 1000) AS DATE) AS date_roundtrip,
           (month(o_orderdate) IN (8, 9, 10, 11, 12, 1)) AS in_season
    FROM orders
    """,
)
def f_date_suite(spark, sf_dir):
    """F11-F14, F17: date parts (:159, :609), +30d, +1y annual refresh
    (:397), epoch-millis→date (:394), season membership gate (:480)."""
    o = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("o_year"),
        S.month_of(d).alias("o_month"),
        S.iso_dow(d).alias("o_isodow"),
        F.date_add(d.cast("date"), 30).alias("plus_30d"),
        S.add_one_year(d.cast("date")).alias("plus_1y"),
        F.unix_millis(d.cast("timestamp")).alias("epoch_millis"),
        S.millis_to_date(F.unix_millis(d.cast("timestamp"))).alias("date_roundtrip"),
        S.in_season(d).alias("in_season"),
    )


@register(
    "f_json_suite",
    sql="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
    FROM events
    """,
)
def f_json_suite(spark, sf_dir):
    """F9/F10: JSON path extraction (datasources.py:266, :797)."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    return e.select(
        "event_id", k.alias("k_str"), k.cast("int").alias("k_int")
    )


@register(
    "f_base64_roundtrip",
    sql="""
    SELECT event_id,
           decode(from_base64(to_base64(encode(props)))) AS props_rt
    FROM events
    """,
)
def f_base64_roundtrip(spark, sf_dir):
    """F8: base64 decode of pushed payloads (functions/main.py:41) —
    encode/decode roundtrip proves both directions."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        S.b64_decode_utf8(F.base64(F.col("props").cast("binary"))).alias("props_rt"),
    )


# ===========================================================================
# §2.5 Window functions (extension)
# ===========================================================================


@register(
    "w1_latest_per_group",
    sql="""
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def w1_latest_per_group(spark, sf_dir):
    """Per-group latest row — the per-partition watermark generalization
    of MAX(Date) (datasources.py:140)."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    df = W.latest_per_group(o, "o_custkey", "o_orderdate", "o_orderkey")
    return df.select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("odate")
    )


@register(
    "w2_running_sum",
    sql="""
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running
    FROM lineitem
    """,
)
def w2_running_sum(spark, sf_dir):
    """Running total per order (decimal-exact, see module docstring)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return W.running_sum(li, "l_orderkey", "l_linenumber", "l_extendedprice").drop(
        "l_extendedprice"
    )


@register(
    "w3_lag_delta",
    sql="""
    SELECT event_id,
           round(value - lag(value) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta
    FROM events
    """,
)
def w3_lag_delta(spark, sf_dir):
    """Lag delta per user ordered by time (event-stream derivative)."""
    e = t(spark, sf_dir, "events")
    df = W.lag_delta(e, "user_id", "ts", "event_id", "value")
    return df.select("event_id", F.round("delta", 6).alias("delta"))


# ===========================================================================
# Analytical headline queries (bench set)
# ===========================================================================


@register(
    "q1_pricing_summary",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-shaped pricing summary: the canonical wide-agg scan.
    Map-side partial aggregation collapses 600k rows → 6 groups before
    the (tiny) shuffle; whole plan is one WholeStageCodegen over the scan."""
    li = t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("2001-09-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum((dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_top_revenue",
    sql="""
    SELECT o.o_orderkey AS okey,
           CAST(o.o_orderdate AS DATE) AS odate,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1, 2
    ORDER BY revenue DESC, okey ASC
    LIMIT 10
    """,
    bench=True,
)
def q3_top_revenue(spark, sf_dir):
    """TPC-H-Q3-shaped top-k: dim-filtered fact join + grouped revenue +
    deterministic ORDER BY/LIMIT. customer side is broadcast (small dim);
    lineitem⋈orders shuffles on orderkey once."""
    c = R.point_lookup(t(spark, sf_dir, "customer"), "c_mktsegment", "BUILDING")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    dec = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("o_orderkey").alias("okey"), F.col("o_orderdate").cast("date").alias("odate"))
        .agg(
            F.sum((dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("okey").asc())
        .limit(10)
    )


@register(
    "q5_region_volume",
    sql="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY 1
    """,
    bench=True,
)
def q5_region_volume(spark, sf_dir):
    """TPC-H-Q5-shaped multi-join: all dimension sides broadcast; the only
    big shuffle is lineitem⋈orders on orderkey."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = R.point_lookup(t(spark, sf_dir, "region"), "r_name", "ASIA")
    dec = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(n.n_name.alias("nation"))
        .agg(
            F.sum((dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "a7_percentiles",
    sql="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a7_percentiles(spark, sf_dir):
    """Exact grouped percentiles (continuous interpolation — matches
    DuckDB quantile_cont). The scale path swaps in approx_percentile
    (t-digest, single pass, no sort) — see operators docs; exact form
    kept for the oracle gate."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
    )


@register(
    "a8_rollup",
    sql="""
    SELECT coalesce(l_returnflag, 'ALL') AS rflag,
           coalesce(l_linestatus, 'ALL') AS lstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a8_rollup(spark, sf_dir):
    """Hierarchical ROLLUP totals (engine capability beyond the
    reference's flat GROUP BYs; grouping-set shuffles are one pass)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            S.decimal_sum("l_quantity").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "n",
            "sum_qty",
        )
    )


@register(
    "events_asof_join",
    bench=True,
    sql="""
    WITH purchases AS (
      SELECT user_id, ts, MAX(value) AS pvalue
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           p.pvalue AS last_purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def events_asof_join(spark, sf_dir):
    """As-of join: each click annotated with the user's most recent
    prior purchase value — checked against DuckDB's native ASOF JOIN.
    The operator (operators/asof.py) is a union + ordered window, not an
    inequality join: one shuffle on the key, linear in hot keys. The
    right side pre-aggregates to (user, ts) so equal-timestamp ties
    cannot make the match ambiguous in either engine."""
    from .operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["pvalue"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.col("pvalue").alias("last_purchase_value"),
    )


@register(
    "events_range_join",
    bench=True,
    sql="""
    WITH p AS (
      SELECT user_id, ts AS pts FROM events
      WHERE event_type = 'purchase' GROUP BY 1, 2
    ), c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id,
           strftime(p.pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND c.ts BETWEEN p.pts AND p.pts + INTERVAL 1 HOUR
    """,
)
def events_range_join(spark, sf_dir):
    """Range join: clicks landing within one hour after a purchase by
    the same user. Runs through the equi-binned interval join
    (operators/rangejoin.py) — an hour-bin equi-join plus exact BETWEEN
    prune — while the oracle states the naive inequality join; equal
    results prove the binning loses nothing at the boundaries."""
    from .operators.rangejoin import interval_join_binned

    e = t(spark, sf_dir, "events")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("pts"))
        .agg(F.lit(1).alias("_one"))
        .select("user_id", "pts", (F.col("pts") + F.expr("INTERVAL 1 HOUR")).alias("_pend"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = interval_join_binned(
        clicks, purchases, key="user_id", point_ts="ts",
        start_ts="pts", end_ts="_pend", bin_width_s=3600,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("pts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )


@register(
    "events_value_histogram",
    sql="""
    SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
           COUNT(*) AS n,
           MIN(value) AS bin_min,
           MAX(value) AS bin_max
    FROM events GROUP BY 1
    """,
)
def events_value_histogram(spark, sf_dir):
    """Fixed-width histogram of the value column (bin = floor(v/50)) —
    the distribution profile that sizes quality thresholds; one
    partial+final agg, bins as keys. min/max of doubles are exact
    values lifted from the data (order-insensitive, no accumulation),
    so they are emitted raw — round-2 fix: the earlier
    decimal(18,4)+round presentation tripped Spark-vs-DuckDB rounding
    ties exactly like p8."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.floor(F.col("value") / 50).cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("bin_min"),
            F.max("value").alias("bin_max"),
        )
    )


@register(
    "q14_promo_share",
    sql="""
    SELECT round(
             CAST(SUM(CASE WHEN p_type = 'PROMO'
                      THEN CAST(l_extendedprice AS DECIMAL(18,4)) *
                           (1 - CAST(l_discount AS DECIMAL(18,4)))
                      ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
                        (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE)
             * 100, 6) AS promo_share_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    """,
)
def q14_promo_share(spark, sf_dir):
    """TPC-H-Q14-shaped conditional aggregation: promo revenue share.
    One broadcast join (part is the dim) + a single two-branch agg —
    the CASE runs inside the partial aggregate, so no second pass."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,4)"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.sum(promo).cast("double") / F.sum(rev).cast("double") * 100, 6
            ).alias("promo_share_pct")
        )
    )


@register(
    "a11_cube",
    sql="""
    SELECT coalesce(l_returnflag, 'ALL') AS rflag,
           coalesce(l_linestatus, 'ALL') AS lstatus,
           COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a11_cube(spark, sf_dir):
    """CUBE grouping sets: all 2^k margin combinations in one pass (one
    grouping-set shuffle, not k separate aggregations)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "n",
        )
    )


@register(
    "sample_deterministic",
    sql="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
    """,
)
def sample_deterministic(spark, sf_dir):
    """Deterministic ~10% sample via content hash — reproducible across
    engines, runs, and cluster sizes, unlike rand()-based sampling
    (which is seed+partitioning dependent). The idiom training-data
    pipelines need for held-out splits. '1a' hex = 26/256 ≈ 10.2%."""
    o = t(spark, sf_dir, "orders")
    return o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < "1a"
    ).select("o_orderkey", "o_custkey")


@register(
    "events_pivot",
    sql="""
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click') AS click_n,
           COUNT(*) FILTER (event_type = 'view') AS view_n,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase_n,
           COUNT(*) FILTER (event_type = 'signup') AS signup_n,
           COUNT(*) FILTER (event_type = 'error') AS error_n
    FROM events GROUP BY user_id
    """,
)
def events_pivot(spark, sf_dir):
    """Pivot event counts per user (wide feature table shape)."""
    e = t(spark, sf_dir, "events")
    piv = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
    )
    out = piv.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(f"{c}_n") for c in ("click", "view", "purchase", "signup", "error")],
    )
    return out


# ===========================================================================
# Event-time windowing (batch forms of the streaming §2.8 extensions)
# ===========================================================================


@register(
    "events_window_tumbling",
    sql="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    bench=True,
)
def events_window_tumbling(spark, sf_dir):
    """Tumbling 1-hour counts per event type — the batch twin of the
    streaming windowed agg (SURVEY.md §2.8 extension; events table)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            S.decimal_sum("value").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_window_sliding",
    sql="""
    WITH g AS (
      SELECT event_type, ts,
             unnest(generate_series(
               to_timestamp(floor(epoch(ts) / 1800) * 1800) - INTERVAL 30 MINUTE,
               to_timestamp(floor(epoch(ts) / 1800) * 1800),
               INTERVAL 30 MINUTE)) AS ws
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n_events
    FROM g GROUP BY 1, 2
    """,
)
def events_window_sliding(spark, sf_dir):
    """Sliding windows (1 h length, 30 min slide): each event counts in
    two overlapping windows. Spark's window() explodes the assignment
    exactly like the oracle's generate_series — rows fan out 2×, then
    one shuffle on (window, type)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


@register("sql_flagship_passthrough", sql=FLAGSHIP_SQL)
def sql_flagship_passthrough(spark, sf_dir):
    """SQL-string passthrough (the reference's Query-object shape,
    datasources.py:86-99): the engine accepts raw ANSI SQL via
    spark.sql over registered views — the *same* string the DuckDB
    oracle runs, proving dialect-portable semantics."""
    from .io import register_views

    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(FLAGSHIP_SQL)


@register(
    "f_compound_stats",
    sql="""
    WITH g AS (
      SELECT l_orderkey AS okey, l_linenumber AS lineno,
             CAST(CAST(l_quantity AS INTEGER) AS VARCHAR) || '-' ||
               CAST(l_linenumber * 3 AS VARCHAR) AS eff,
             lpad(CAST(CAST(l_quantity AS INTEGER) % 60 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(l_linenumber * 7 AS VARCHAR), 2, '0') AS clock
      FROM lineitem
    )
    SELECT okey, lineno, eff, clock,
           CAST(split_part(eff, '-', 1) AS INTEGER) AS made,
           CAST(split_part(eff, '-', 2) AS INTEGER) AS att,
           CAST(split_part(clock, ':', 1) AS INTEGER) * 60 +
             CAST(split_part(clock, ':', 2) AS INTEGER) AS poss_seconds
    FROM g
    """,
)
def f_compound_stats(spark, sf_dir):
    """§7 hard part 5: the reference stores numeric facts as compound
    STRINGs — '4-12' made-attempted, '28:36' mm:ss clocks
    (Game_Team_Stats, datasources.py:585-597). Build those shapes from
    lineitem, then parse them back with the engine's split/cast helpers
    (F5+P8), proving analytic queries over STRING facts round-trip."""
    li = t(spark, sf_dir, "lineitem")
    g = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        F.concat_ws(
            "-",
            F.col("l_quantity").cast("int").cast("string"),
            (F.col("l_linenumber") * 3).cast("string"),
        ).alias("eff"),
        F.concat_ws(
            ":",
            F.lpad((F.col("l_quantity").cast("int") % 60).cast("string"), 2, "0"),
            F.lpad((F.col("l_linenumber") * 7).cast("string"), 2, "0"),
        ).alias("clock"),
    )
    return g.select(
        "okey",
        "lineno",
        "eff",
        "clock",
        S.compound_stat_made("eff").alias("made"),
        S.compound_stat_att("eff").alias("att"),
        S.mmss_to_seconds("clock").alias("poss_seconds"),
    )


@register(
    "u2_except_all",
    sql=f"({_J2_A}) EXCEPT ALL ({_J2_B})",
)
def u2_except_all(spark, sf_dir):
    """U2 multiset EXCEPT ALL — one half of the symmetric-difference
    decomposition (SURVEY.md §2.6)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    a = o.filter(F.col("o_orderkey") % 3 != 0)
    b = o.filter(F.col("o_orderkey") % 5 != 0)
    return a.exceptAll(b)


@register(
    "q18_large_orders",
    sql="""
    SELECT o.o_orderkey AS okey, o.o_custkey AS ckey,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,4))) > 180
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H-Q18-shaped grouped HAVING: large-volume orders."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("okey"), F.col("o_custkey").alias("ckey"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_tq"))
        .filter(F.col("_tq") > 180)
        .select("okey", "ckey", F.col("_tq").cast("double").alias("total_qty"))
    )


@register(
    "events_sessionize",
    bench=True,
    sql="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM flagged
    )
    SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
           COUNT(*) AS n_events
    FROM sess GROUP BY 1, 2
    """,
)
def events_sessionize(spark, sf_dir):
    """Sessionization (30-min inactivity gap) via gaps-and-islands —
    the batch twin of streaming session windows. Window-only plan:
    one shuffle on user_id, then two ordered passes. The gap test
    subtracts timestamps directly and compares the day-time interval
    (round-3 fix: ``unix_micros`` rejects TIMESTAMP_NTZ, which is what
    the driver's parquet read infers; interval subtraction is
    type-agnostic and keeps sub-second precision — the round-1
    ``ts.cast("long")`` truncated 1800.4 s gaps to 1800 and silently
    merged sessions the oracle split)."""
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES"), 1
        )
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0),
    )
    sess = flagged.withColumn(
        "sess_no",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "sess_no")
        .agg(
            F.date_format(
                F.min("ts"), "yyyy-MM-dd HH:mm:ss"
            ).alias("sess_start"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "events_retention",
    sql="""
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events
    ), fw AS (
      SELECT user_id, MIN(aw) AS cw FROM act GROUP BY 1
    )
    SELECT strftime(fw.cw, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', fw.cw, a.aw) / 7 AS BIGINT) AS week_offset,
           COUNT(*) AS n_users
    FROM act a JOIN fw USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention(spark, sf_dir):
    """Weekly cohort retention matrix: users cohorted by first-activity
    week; each cell counts users from that cohort active N weeks later
    — the standard product-analytics rollup. Plan: one distinct shuffle
    on (user, week), a per-user min (same user_id partitioning reused —
    AQE plans no second exchange), and the cell aggregation. The
    distinct collapses the event stream to at most |users|×|weeks| rows
    BEFORE the join, so the heavy table never meets the join."""
    e = t(spark, sf_dir, "events")
    act = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("aw")
    ).distinct()
    fw = act.groupBy("user_id").agg(F.min("aw").alias("cw"))
    return (
        act.join(fw, "user_id")
        .groupBy(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                F.datediff(F.to_date("aw"), F.to_date("cw")) / 7
            ).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "events_funnel",
    sql="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchased_after_click
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase): each stage
    keeps users whose stage event strictly follows their previous
    stage's first event. Three filtered per-user min-aggregations, each
    reusing the user_id partitioning of the last (AQE: one exchange,
    three aggs); stage frames shrink monotonically, and only the three
    1-row counts cross-join at the end (the scalar-gate pattern —
    intentionally single-partition, it IS the final scalar)."""
    e = t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view")))
        .crossJoin(
            p.agg(F.count(F.lit(1)).alias("n_purchased_after_click"))
        )
    )


# ===========================================================================
# §2.2 P3 standalone, semi/anti joins, INTERSECT, filter-aggs, top-k chains
# ===========================================================================


@register(
    "p3_null_disjunction",
    sql="""
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE nullif(l_linenumber, 1) < 3 OR nullif(l_linenumber, 1) IS NULL
    """,
)
def p3_null_disjunction(spark, sf_dir):
    """P3 standalone: range + IS NULL disjunction over a nullable
    expression (`cntcheck < 2 OR cntcheck IS NULL`, datasources.py:645-
    646; the composed form lives in flagship_coverage_gap). The whole
    predicate stays in one codegen'd scan filter."""
    li = t(spark, sf_dir, "lineitem")
    n = F.nullif(F.col("l_linenumber"), F.lit(1))
    return li.filter((n < 3) | n.isNull()).select("l_orderkey", "l_linenumber")


@register(
    "j5_semi_join_exists",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1995-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_quantity >= 45)
    GROUP BY o_orderpriority
    """,
)
def j5_semi_join_exists(spark, sf_dir):
    """EXISTS as a left-semi join (TPC-H Q4 shape) — the engine form of
    'orders that have at least one bulk lineitem'. Semi-join only ships
    the join key of the build side; at scale the date filter prunes the
    probe side before the shuffle."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    )
    late = t(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= 45
    ).select(F.col("l_orderkey").alias("o_orderkey"))
    return (
        o.join(late, on="o_orderkey", how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "j6_anti_join_missing",
    sql="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j6_anti_join_missing(spark, sf_dir):
    """NOT EXISTS as a left-anti join: customers with no orders — the
    pure-NULL case of the J3 coverage pattern (SURVEY.md §2.3). The
    orders side is reduced to its distinct join key before shuffling."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, on="c_custkey", how="left_anti").select("c_custkey", "c_name")


@register(
    "u4_intersect",
    sql="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def u4_intersect(spark, sf_dir):
    """INTERSECT (engine capability — the reference has none, SURVEY.md
    §2.6): building-segment customers who placed an urgent order."""
    c = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_custkey").alias("c_custkey"))
    return c.intersect(o)


@register(
    "q6_forecast_revenue",
    sql="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                    CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      AND l_shipdate < TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H-Q6-shaped filter-aggregate: every predicate pushes to the
    parquet scan (PushedFilters on shipdate/discount/quantity), then a
    single partial+final agg — no shuffle of row data at any scale.
    Product goes through DECIMAL for order-exact cross-engine parity."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * F.col("l_discount").cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q10_returned_items",
    sql="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H-Q10-shaped top-k join chain: revenue lost to returns per
    customer. The returnflag filter prunes lineitem at the scan; the
    customer dim broadcasts; deterministic ORDER BY (revenue DESC,
    c_custkey) makes LIMIT stable across engines and partitionings."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("double")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(rev.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "w4_ntile_quartiles",
    sql="""
    SELECT c_mktsegment, quartile, COUNT(*) AS n
    FROM (SELECT c_mktsegment,
                 ntile(4) OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) AS quartile
          FROM customer) s
    GROUP BY c_mktsegment, quartile
    """,
)
def w4_ntile_quartiles(spark, sf_dir):
    """ntile window: account-balance quartiles per market segment
    (deterministic order: balance then key). One shuffle on the
    partition key; the quartile agg reuses the same partitioning."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_mktsegment", F.ntile(4).over(w).alias("quartile"))
        .groupBy("c_mktsegment", "quartile")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "events_json_props",
    sql="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def events_json_props(spark, sf_dir):
    """F9/F10 on real data: JSON-path extraction from the events props
    column, aggregated per type. get_json_object stays JVM-side — no
    Python touches the payload."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
    )


@register(
    "events_props_variant",
    sql="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def events_props_variant(spark, sf_dir):
    """The VARIANT form of events_json_props: props parsed ONCE into
    Spark 4's binary Variant encoding (try_parse_json), fields read
    with try_variant_get. Same answer as the per-path get_json_object
    query — the difference is the scale posture: N path extractions
    re-parse the JSON string N times, while a Variant parses once and
    field reads are O(field) binary probes, so at 100 TB wide
    multi-field extraction shreds instead of re-parsing. Malformed JSON
    yields NULL (try_*), not a failed job."""
    e = t(spark, sf_dir, "events")
    pv = F.try_parse_json("props")
    return e.select("event_type", pv.alias("_pv")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.try_variant_get(F.col("_pv"), "$.k", "long")).alias("sum_k"),
    )


@register(
    "q7_bilateral_volume",
    sql="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE) AS volume
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2')
      AND n2.n_name IN ('NATION_1', 'NATION_2')
      AND n1.n_name <> n2.n_name
    GROUP BY 1, 2
    """,
)
def q7_bilateral_volume(spark, sf_dir):
    """TPC-H-Q7-shaped five-table join: trade volume between two
    nations. Both nation filters push below the joins (Catalyst routes
    the IN-lists through the dim joins), supplier/customer/nation all
    broadcast; only the lineitem⋈orders edge shuffles."""
    li = t(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey", "l_extendedprice", "l_discount")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ["NATION_1", "NATION_2"]
    n1 = n.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("_nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("_nk2"), F.col("n_name").alias("cust_nation")
    )
    vol = F.sum(
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("double")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_nk2"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(vol.alias("volume"))
    )


@register(
    "a9_above_avg",
    sql="""
    SELECT p_partkey, p_retailprice FROM part
    WHERE CAST(p_retailprice AS DECIMAL(18,4)) * (SELECT COUNT(*) FROM part)
          > (SELECT SUM(CAST(p_retailprice AS DECIMAL(18,4))) FROM part)
    """,
)
def a9_above_avg(spark, sf_dir):
    """Scalar-subquery comparison: parts priced above the global
    average. Written as price*n > sum (exact DECIMAL comparison) rather
    than price > avg — float averages are summation-order-dependent, so
    boundary rows would flap across engines and partitionings. The
    aggregate is a broadcast single row, not a collect."""
    p = t(spark, sf_dir, "part")
    stats = p.agg(
        F.sum(F.col("p_retailprice").cast("decimal(18,4)")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        p.crossJoin(F.broadcast(stats))
        .filter(F.col("p_retailprice").cast("decimal(18,4)") * F.col("_n") > F.col("_s"))
        .select("p_partkey", "p_retailprice")
    )


@register(
    "j7_multi_exists",
    sql="""
    WITH l1 AS (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R')
    SELECT l1.l_suppkey, COUNT(*) AS numwait
    FROM l1
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY 1
    """,
)
def j7_multi_exists(spark, sf_dir):
    """TPC-H Q21 shape: EXISTS + NOT EXISTS composed on one fact table —
    suppliers whose 'R' lineitem is the only 'R' in a multi-supplier
    order. Spark form: left-semi then left-anti, both equi-keyed on
    l_orderkey with a suppkey-inequality residual, so each is a plain
    key shuffle (never a nested-loop); the two probes reuse the same
    l_orderkey partitioning (exchange reuse), and the final per-supplier
    count partial-aggregates map-side."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3"))
    )
    waiting = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("_ok2")) & (F.col("l_suppkey") != F.col("_sk2")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("_ok3")) & (F.col("l_suppkey") != F.col("_sk3")),
        "left_anti",
    )
    return waiting.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("numwait"))


@register(
    "w5_moving_avg",
    sql="""
    WITH w AS (
      SELECT event_id, user_id,
             SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_win
      FROM events
    )
    SELECT event_id, user_id, CAST(s AS DOUBLE) AS mov_sum, n_win,
           CAST(s AS DOUBLE) / n_win AS mov_avg
    FROM w
    """,
)
def w5_moving_avg(spark, sf_dir):
    """Frame-bounded moving aggregate: per-user trailing-7-row sum/avg
    (ROWS BETWEEN 6 PRECEDING AND CURRENT ROW). Ordered by event_id, not
    ts: the unique key gives both engines an identical total order (ns
    vs us timestamp ties would silently change frame contents). The sum
    runs in DECIMAL (exact, order-insensitive) and only the final
    cast/divide is floating — double division of identical inputs is
    IEEE-deterministic, so the result hash-matches with no rounding."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-6, 0)
    s = F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
    n = F.count(F.lit(1)).over(w)
    return e.select(
        "event_id",
        "user_id",
        s.alias("mov_sum"),
        n.alias("n_win"),
        (s / n).alias("mov_avg"),
    )


@register(
    "q20_surplus_suppliers",
    sql="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem GROUP BY 1, 2
    ), tot AS (
      SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS part_qty
      FROM lineitem GROUP BY 1
    ), hot AS (
      SELECT DISTINCT l_suppkey FROM ps JOIN tot USING (l_partkey)
      WHERE qty * 100 > part_qty * 12
    )
    SELECT s.s_suppkey, s.s_name FROM supplier s
    JOIN hot ON hot.l_suppkey = s.s_suppkey
    """,
)
def q20_surplus_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: nested aggregate threshold inside a semi-join
    chain — suppliers holding >12% of any part's shipped quantity. Both
    aggregates come off ONE lineitem scan (Spark reuses the exchange
    for the (partkey,suppkey) and partkey groupings); the share
    comparison is DECIMAL-exact cross-multiplication (qty*100 >
    part_qty*12), never a float ratio — boundary pairs can't flap
    between engines or partitionings. The qualifying-supplier set is
    tiny → broadcasts into the supplier probe."""
    li = t(spark, sf_dir, "lineitem")
    qd = F.col("l_quantity").cast("decimal(18,2)")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum(qd).alias("qty"))
    tot = li.groupBy("l_partkey").agg(F.sum(qd).alias("part_qty"))
    hot = (
        ps.join(tot, on="l_partkey")
        .filter(F.col("qty") * 100 > F.col("part_qty") * 12)
        .select("l_suppkey")
        .distinct()
    )
    s = t(spark, sf_dir, "supplier")
    return s.join(
        F.broadcast(hot), s.s_suppkey == hot.l_suppkey
    ).select("s_suppkey", "s_name")


@register(
    "events_gap_fill",
    sql="""
    WITH base AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
      FROM events
    )
    SELECT event_id, user_id, purchase_value,
           last_value(purchase_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM base
    """,
)
def events_gap_fill(spark, sf_dir):
    """LOCF forward-fill (timeseries gap filling): carry each user's
    last observed purchase value forward across non-purchase events —
    ``last_value(..., ignoreNulls)`` over an UNBOUNDED-PRECEDING frame.
    One shuffle on the entity key; the fill itself is a single ordered
    pass per partition (no self-join, no loop). Values are compared,
    never combined, so floats hash-match exactly."""
    e = t(spark, sf_dir, "events")
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        pv.alias("purchase_value"),
        F.last(pv, ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "a10_correlated_max",
    sql="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM orders o
    WHERE o_custkey IS NOT NULL
      AND o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
)
def a10_correlated_max(spark, sf_dir):
    """Correlated-max lookup: each customer's priciest order(s). The
    correlated scalar subquery decorrelates to a per-key window max +
    equality filter — one shuffle on o_custkey, no join back (the
    groupBy+self-join alternative shuffles orders twice). Ties all
    qualify, exactly like the correlated form; comparison only, no float
    arithmetic. NULL custkeys are excluded on both sides (a correlated
    equality never matches NULL, a window would group it)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("_mx", F.max("o_totalprice").over(w))
        .filter(F.col("o_totalprice") == F.col("_mx"))
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ===========================================================================
# Remaining TPC-H-shape analogs: each adds a distinct operator composition
# (grouped-EXISTS, conditional CASE agg, outer-join count distribution,
# group-HAVING vs global scalar, agg-max lookup, correlated-avg threshold,
# disjunctive pushdown, scalar-gate + anti-join). These generalize the
# flagship's semi/anti + grouped-count pattern (datasources.py:627-647)
# into the full analytical surface a BigQuery user would have had.
# ===========================================================================


@register(
    "q4_late_ship_priority",
    sql="""
    SELECT o.o_orderpriority AS priority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY 1
    """,
)
def q4_late_ship_priority(spark, sf_dir):
    """TPC-H-Q4 shape: grouped count over a correlated EXISTS. The
    EXISTS decorrelates to a left-semi join on orderkey; the date
    filter prunes orders BEFORE the join (pushed to the scan), and the
    semi join ships only (orderkey, shipdate-vs-orderdate survivors) —
    never lineitem payload. Generalizes the flagship coverage-gap
    work-list (datasources.py:627-647) from anti to semi polarity."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q12_priority_class_counts",
    sql="""
    SELECT l.l_returnflag AS rflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q12_priority_class_counts(spark, sf_dir):
    """TPC-H-Q12 shape: conditional CASE aggregation over a fact⋈fact
    join. One orderkey shuffle; the CASE branches fold into a single
    grouped pass (no per-branch scans). Integer counts — no float
    hashing concerns."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("rflag"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q13_order_count_distribution",
    sql="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1
    )
    GROUP BY 1
    """,
)
def q13_order_count_distribution(spark, sf_dir):
    """TPC-H-Q13 shape: two-level aggregation — per-customer order count
    (LEFT join keeps zero-order customers; the filter lives in the join
    condition, not WHERE, so it can't turn the join inner), then the
    distribution of those counts. First agg shuffles on custkey; the
    second input is |customers| rows collapsing to a handful of counts,
    so its shuffle is trivial. COUNT(col) counts non-NULL only — the
    unmatched left rows contribute c_count=0 exactly as in SQL."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q11_group_share_having",
    sql="""
    SELECT s_nationkey AS nkey,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
    FROM supplier
    GROUP BY 1
    HAVING SUM(CAST(s_acctbal AS DECIMAL(18,4))) * 10 >
           (SELECT SUM(CAST(s_acctbal AS DECIMAL(18,4))) FROM supplier)
    """,
)
def q11_group_share_having(spark, sf_dir):
    """TPC-H-Q11 shape: HAVING against a global scalar subquery — keep
    groups holding >10% of the total. The global sum is a single-row
    aggregate broadcast into the group filter (crossJoin of a 1-row df;
    Catalyst plans it as a broadcast, no driver collect). The share
    threshold is exact decimal arithmetic (sum*10 > total), never a
    float ratio, so the boundary can't flip between engines."""
    s = t(spark, sf_dir, "supplier")
    dec_bal = F.col("s_acctbal").cast("decimal(18,4)")
    grouped = s.groupBy(F.col("s_nationkey").alias("nkey")).agg(
        F.sum(dec_bal).alias("_grp")
    )
    total = s.agg(F.sum(dec_bal).alias("_total"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .filter(F.col("_grp") * 10 > F.col("_total"))
        .select("nkey", F.col("_grp").cast("double").alias("total_bal"))
    )


@register(
    "q15_top_supplier",
    sql="""
    WITH revenue AS (
      SELECT l_suppkey AS skey,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
                 (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey AS skey, s.s_name AS sname,
           CAST(r.total_rev AS DOUBLE) AS total_rev
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.skey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H-Q15 shape: argmax over an aggregated view. The revenue agg
    is computed ONCE and reused for both the max (1-row broadcast) and
    the probe — in SQL the view would be inlined twice; here the
    DataFrame is shared so Spark reuses the exchange. Ties all qualify.
    Exact decimal revenue, compared before the double cast. supplier
    carries no forced broadcast hint — it scales with SF, so AQE
    promotes it only when its runtime size allows."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    revenue = li.groupBy(F.col("l_suppkey").alias("skey")).agg(
        F.sum((dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("decimal(18,4)")).alias("_rev")
    )
    mx = revenue.agg(F.max("_rev").alias("_mx"))
    s = t(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("_rev") == F.col("_mx"))
        .join(s, F.col("skey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("skey"),
            F.col("s_name").alias("sname"),
            F.col("_rev").cast("double").alias("total_rev"),
        )
    )


@register(
    "q17_small_quantity_revenue",
    sql="""
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey,
                 SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
                 COUNT(*) AS cnt
          FROM lineitem GROUP BY 1) a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND CAST(l.l_quantity AS DECIMAL(18,4)) * a.cnt * 5 < a.sum_qty
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H-Q17 shape: correlated AVG threshold (qty < 0.2 * per-part
    avg). Decorrelates to a per-part aggregate joined back to lineitem.
    The threshold is evaluated as exact integer-scaled decimal algebra
    (qty * cnt * 5 < sum) — never a float division whose boundary could
    flip between engines. Neither join side carries a forced broadcast:
    part and the per-part aggregate both scale with SF (at 100 TB they
    are billions of rows), so the plan must be allowed to fall back to
    a shuffle join — AQE still broadcasts them at small scale, and the
    brand filter keeps the part side selective."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    per_part = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("a_partkey"))
        .filter(
            F.col("l_quantity").cast("decimal(18,4)") * F.col("cnt") * 5
            < F.col("sum_qty")
        )
        .agg(
            (S.decimal_sum("l_extendedprice") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "q19_disjunctive_pushdown",
    sql="""
    SELECT CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_pushdown(spark, sf_dir):
    """TPC-H-Q19 shape: OR-of-ANDs join predicate. Catalyst derives the
    single-table residuals of the disjunction (brand IN (...) on part,
    quantity in the union range on lineitem) and pushes them below the
    join, so both scans prune before any row pairs up; the full
    disjunction re-checks post-join. No forced broadcast: part scales
    with SF; the pushed brand/size residual shrinks it enough that AQE
    broadcasts at small scale and shuffle-joins beyond."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    q, sz, br = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((br == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((br == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((br == "Brand#3") & sz.between(1, 15) & q.between(20, 30))
    )
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return j.filter(cond).agg(
        F.sum((dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("decimal(18,4)"))
        .cast("double")
        .alias("revenue")
    )


@register(
    "q22_idle_wealthy_customers",
    sql="""
    WITH pos AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS s, COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey AS nkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM customer c, pos
    WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) * pos.n > pos.s
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
)
def q22_idle_wealthy_customers(spark, sf_dir):
    """TPC-H-Q22 shape: scalar-average gate + NOT EXISTS + grouped
    rollup — above-average-balance customers who never ordered. The
    global average is exact decimal algebra (bal * n > sum, no float
    ratio); the 1-row aggregate broadcasts into the filter; the NOT
    EXISTS is a left-anti join shipping only o_custkey from orders."""
    c = t(spark, sf_dir, "customer")
    dec_bal = F.col("c_acctbal").cast("decimal(18,4)")
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(dec_bal).alias("s"), F.count(F.lit(1)).alias("n")
    )
    o = t(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(dec_bal * F.col("n") > F.col("s"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec_bal).cast("double").alias("totacctbal"),
        )
    )


@register(
    "f18_unavail_fill",
    sql="""
    SELECT o.o_orderkey AS okey,
           coalesce(c.c_name, 'unavail') AS cust_name,
           coalesce(c.c_mktsegment, 'unavail') AS segment
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
      ON o.o_custkey = c.c_custkey
    """,
)
def f18_unavail_fill(spark, sf_dir):
    """F18: missing-lookup fields filled with the 'unavail' sentinel
    (datasources.py:717-720, :728-732 — stats page absent → every stat
    field set to 'unavail'). The relational shape of that fill is a
    left join whose misses coalesce to the sentinel; previously only
    exercised through the GameStats pipeline path, registered here so
    the driver oracle checks it directly."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .select(
            F.col("o_orderkey").alias("okey"),
            S.fill_unavail("c_name").alias("cust_name"),
            S.fill_unavail("c_mktsegment").alias("segment"),
        )
    )


# ===========================================================================
# §2.1/§2.6 sinks + catalog + UD2 as driver-checkable round-trips
# ===========================================================================
# The sink/catalog/UDTF operators were previously pytest-only (not
# query-shaped). Each query below drives the REAL TableStore / parser
# code path against a throwaway store, reads the result back, and
# returns deterministic rows the DuckDB oracle reproduces with a plain
# SELECT — converting "covered by local tests" into a driver
# CORRECTNESS row. mkdtemp per call keeps them idempotent under re-run.


def _tmp_store(spark) -> "TableStore":
    import tempfile

    from .io import TableStore

    return TableStore(spark, tempfile.mkdtemp(prefix="sinkq_"))


@register(
    "s3_exists_probe",
    sql="SELECT 'sink' AS tbl, FALSE AS before_write, TRUE AS after_write",
)
def s3_exists_probe(spark, sf_dir):
    """S3: catalog existence probe (``__TABLES__`` scan,
    datasources.py:136) — the gate every scheduled source consults.
    Probed through the real TableStore before and after a write."""
    store = _tmp_store(spark)
    before = store.exists("sink")
    store.overwrite(t(spark, sf_dir, "region"), "sink")
    after = store.exists("sink")
    return spark.createDataFrame(
        [("sink", before, after)], "tbl string, before_write boolean, after_write boolean"
    )


@register(
    "s8_append_roundtrip",
    sql="""
    SELECT r_regionkey AS rkey, r_name AS rname, CAST(NULL AS BIGINT) AS extra
    FROM region
    UNION ALL
    SELECT r_regionkey, r_name, CAST(length(r_name) AS BIGINT) FROM region
    """,
)
def s8_append_roundtrip(spark, sf_dir):
    """S8: WRITE_APPEND + ALLOW_FIELD_ADDITION (datasources.py:60-66)
    round-trip: batch 2 carries a column batch 1 lacks; the read under
    the manifest's widened schema surfaces it as NULL on the old rows."""
    store = _tmp_store(spark)
    base = t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("rkey"), F.col("r_name").alias("rname")
    )
    store.append(base, "sink")
    store.append(base.withColumn("extra", F.length("rname").cast("long")), "sink")
    return store.read("sink")


@register(
    "s9_replace_roundtrip",
    sql="SELECT n_nationkey AS key, n_name AS name FROM nation",
)
def s9_replace_roundtrip(spark, sf_dir):
    """S9: TRUNCATE/WRITE_TRUNCATE (datasources.py:67-73) round-trip:
    the second overwrite fully replaces the first batch — only the
    replacement (different schema, different table) survives."""
    store = _tmp_store(spark)
    store.overwrite(t(spark, sf_dir, "region"), "sink")
    store.overwrite(
        t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("key"), F.col("n_name").alias("name")
        ),
        "sink",
    )
    return store.read("sink")


@register(
    "s10_reload_roundtrip",
    sql="""
    SELECT o_orderkey AS okey, CAST(month(o_orderdate) AS INT) AS o_month
    FROM orders WHERE month(o_orderdate) <= 2
    """,
)
def s10_reload_roundtrip(spark, sf_dir):
    """S10: idempotent partition re-load (datasources.py:50-59)
    round-trip: the month-2 partition is loaded TWICE via
    reload_partitions; the second load replaces (not duplicates) it,
    so the read-back equals a single clean copy."""
    store = _tmp_store(spark)
    df = (
        t(spark, sf_dir, "orders")
        .filter(F.month("o_orderdate") <= 2)
        .select(
            F.col("o_orderkey").alias("okey"),
            F.month("o_orderdate").cast("int").alias("o_month"),
        )
    )
    store.reload_partitions(df, "sink", "o_month")
    store.reload_partitions(df.filter(F.col("o_month") == 2), "sink", "o_month")
    return store.read("sink").select("okey", F.col("o_month").cast("int").alias("o_month"))


@register(
    "s4_last_modified_probe",
    sql="SELECT 'sink' AS tbl, TRUE AS before_missing, TRUE AS after_within_day",
)
def s4_last_modified_probe(spark, sf_dir):
    """S4: catalog last-modified read (DATE(TIMESTAMP_MILLIS(
    last_modified_time)), datasources.py:394-396) — the freshness gate
    scheduled sources branch on. Probed through the real TableStore
    ``_meta`` sidecar: absent before any write (None), today's UTC date
    after one. The date itself isn't a deterministic value, so the row
    reports the two boolean invariants the reference's gate actually
    tests (missing → pull; modified-today → skip), keeping the oracle a
    constant row while the probe still drives the real metadata path."""
    import datetime as dt

    store = _tmp_store(spark)
    before = store.last_modified_date("sink")
    store.overwrite(t(spark, sf_dir, "region"), "sink")
    after = store.last_modified_date("sink")
    today = dt.datetime.now(dt.timezone.utc).date()
    within = after is not None and abs((today - after).days) <= 1
    return spark.createDataFrame(
        [("sink", before is None, within)],
        "tbl string, before_missing boolean, after_within_day boolean",
    )


@register(
    "ud2_html_parse_rows",
    sql="""
    SELECT * FROM (VALUES
      ('p1', 'Alpha', '1', '/teams/alpha'),
      ('p1', 'Beta',  '2', '/teams/beta')
    ) AS v(page, name, seed, team_url)
    """,
)
def ud2_html_parse_rows(spark, sf_dir):
    """UD2: the table-generating HTML parse (datasources.py:330-352)
    on a deterministic literal page, so the mapInPandas UDTF path —
    header-row skip, positional cell mapping, href carry-out — earns a
    driver row rather than only fixture tests."""
    from .sources.html import html_records

    page = (
        "<table>"
        "<tr><th>Name</th><th>Seed</th></tr>"
        '<tr><td><a href="/teams/alpha">Alpha</a></td><td>1</td></tr>'
        '<tr><td><a href="/teams/beta">Beta</a></td><td>2</td></tr>'
        "</table>"
    )
    # one literal row — coalesce(1) so the mapInPandas parse starts ONE
    # Python worker instead of defaultParallelism empty ones (32 workers
    # for 1 row cost ~10 s of pure startup)
    pages = spark.createDataFrame(
        [("p1", page)], "page string, payload string"
    ).coalesce(1)
    return html_records(
        pages, "payload", columns=["name", "seed"],
        with_href_of="name", href_alias="team_url",
    )


# ===========================================================================
# §2.3/§2.4 remaining TPC-H join/agg shapes (Q2, Q8, Q9, Q16)
# ===========================================================================
# The testdata has no partsupp table, so the part<->supplier relation is
# derived from lineitem (l_partkey, l_suppkey) — the operator *shapes*
# (correlated min, market-share conditional agg over a 7-table join,
# profit decomposition, NOT-IN distinct count) are what parity requires.


@register(
    "q2_min_cost_supplier",
    sql="""
    WITH cost AS (
      SELECT l.l_partkey AS pkey, l.l_suppkey AS skey,
             MIN(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS unit_cost
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
      GROUP BY 1, 2
    )
    SELECT p.p_partkey AS pkey, p.p_name AS pname, s.s_name AS sname,
           n.n_name AS supp_nation, CAST(c.unit_cost AS DOUBLE) AS unit_cost
    FROM cost c
    JOIN part p ON p.p_partkey = c.pkey
    JOIN supplier s ON s.s_suppkey = c.skey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size = 15
      AND c.unit_cost = (SELECT MIN(c2.unit_cost) FROM cost c2
                         WHERE c2.pkey = c.pkey)
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H-Q2 shape: correlated MIN subquery over a region-scoped
    multi-join — for each size-15 part, the ASIA supplier(s) offering
    the cheapest observed price. The correlated min decorrelates to a
    window MIN over the per-(part,supplier) aggregate — one extra
    exchange on pkey instead of a join-back that would evaluate the
    whole cost subtree twice (join-back form measured 7 shuffles /
    2 SortMergeJoins; this form 2 / 0). Region/nation dims broadcast;
    ties all qualify. MIN is order-insensitive so the decimal compare
    is exact on both engines."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("supp_nation"))
    )
    cost = (
        li.join(asia_supp, li.l_suppkey == asia_supp.s_suppkey)
        .groupBy(F.col("l_partkey").alias("pkey"), F.col("l_suppkey").alias("skey"))
        .agg(F.min(F.col("l_extendedprice").cast("decimal(18,4)")).alias("unit_cost"))
    )
    best = F.min("unit_cost").over(Window.partitionBy("pkey"))
    p = t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    return (
        cost.withColumn("_best", best)
        .filter(F.col("unit_cost") == F.col("_best"))
        .drop("_best")
        .join(F.broadcast(p), F.col("pkey") == p.p_partkey)
        .join(F.broadcast(asia_supp), F.col("skey") == asia_supp.s_suppkey)
        .select(
            "pkey",
            F.col("p_name").alias("pname"),
            F.col("s_name").alias("sname"),
            "supp_nation",
            F.col("unit_cost").cast("double").alias("unit_cost"),
        )
    )


@register(
    "q8_market_share",
    sql="""
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           round(
             CAST(SUM(CASE WHEN n2.n_name = 'NATION_7'
                      THEN CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                           (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                      ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                        (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)))
                    AS DOUBLE),
             6) AS mkt_share
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n1.n_regionkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    GROUP BY 1
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H-Q8 shape: national market share — the widest join in the
    suite (lineitem ⋈ part ⋈ supplier ⋈ nation ⋈ orders ⋈ customer ⋈
    nation ⋈ region, 8 tables) feeding a two-branch conditional agg.
    Scale shape: every dim broadcasts (part after its type filter too);
    the only shuffles are lineitem⋈orders on orderkey and the final
    per-year agg. The share is decimal-summed then divided once in
    double, rounded 6dp — same idiom as q14."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    dec = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    rev = (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("decimal(18,4)")
    nation_rev = F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(nation_rev).cast("double") / F.sum(rev).cast("double"), 6
            ).alias("mkt_share")
        )
    )


@register(
    "q9_product_profit",
    sql="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,4))) -
                    CAST(p.p_retailprice AS DECIMAL(18,4)) *
                    CAST(l.l_quantity AS DECIMAL(18,4)) AS DECIMAL(18,4)))
                AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H-Q9 shape: profit decomposition (revenue minus cost) over a
    LIKE-filtered part dim, grouped by supplier nation × order year.
    p_retailprice stands in for ps_supplycost (no partsupp table). The
    LIKE prunes part before its broadcast; profit is exact decimal
    algebra summed order-insensitively, cast to double at the edge."""
    li = t(spark, sf_dir, "lineitem")
    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    dec = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    profit = (
        dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
        - dec("p_retailprice") * dec("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


@register(
    "q16_supplier_count",
    sql="""
    SELECT p.p_brand AS brand, p.p_type AS ptype, p.p_size AS psize,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#4'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_count(spark, sf_dir):
    """TPC-H-Q16 shape: COUNT(DISTINCT supplier) per part attribute
    triple, excluding a NOT-IN supplier subquery ("complaints" analog:
    negative balance). The NOT IN becomes a left-anti join shipping
    only suppkeys; the IN-list + NOT-LIKE filters push into the part
    scan before its broadcast; the distinct-count shuffles once on the
    (brand, type, size) grouping."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#4")
            & ~F.col("p_type").like("PROMO%")
            & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("ptype"),
            F.col("p_size").alias("psize"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q21_waiting_suppliers",
    bench=True,
    sql="""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    ), ord AS (
      SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp
      FROM lineitem GROUP BY 1
    ), lat AS (
      SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_late
      FROM late GROUP BY 1
    )
    SELECT s.s_name AS s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN ord USING (l_orderkey)
    JOIN lat USING (l_orderkey)
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE ord.n_supp >= 2 AND lat.n_late = 1 AND n.n_nationkey < 13
    GROUP BY 1
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H-Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier finished order. The original's correlated
    EXISTS (another supplier on the order) + NOT EXISTS (no OTHER late
    supplier) decorrelate into ONE per-order aggregate pass: distinct
    suppliers, distinct LATE suppliers, the late-line count, and — via
    max(when(late, suppkey)), exact whenever n_late = 1 — the sole late
    supplier's id. Orders with n_supp >= 2 and n_late = 1 qualify, and
    numwait is the sum of their late-line counts per supplier. That is
    one orderkey shuffle of (suppkey, late-flag) total where the
    EXISTS/NOT-EXISTS form needs three passes over lineitem; the
    qualifying-order frame carries four small columns, and supplier /
    nation broadcast. "Late" is adapted to this schema (no
    receipt/commit dates): shipped > 60 days after order date. Note
    lineitem joins only F-status orders first — non-F orders cannot
    qualify, so the filter prunes before the shuffle."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late_flag = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey", late_flag.alias("_late")
    )
    # r14 (optimization): the one-level form's two COUNT(DISTINCT)s
    # made Catalyst plan an Expand — every joined lineitem row
    # TRIPLED before the first exchange. Two-level aggregation
    # computes the same four order-level statistics with no Expand:
    # per (order, supplier) first (map-side partial agg, rows shrink
    # to distinct pairs before any shuffle), then per order —
    # n_supp = count of pairs, n_late = count of pairs with any late
    # line, identical values by definition of DISTINCT.
    per_os = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("_late").alias("_any_late"),
        F.sum(F.col("_late").cast("long")).alias("_late_lines"),
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("_any_late").cast("long")).alias("n_late"),
        F.sum("_late_lines").alias("n_late_lines"),
        F.max(F.when(F.col("_any_late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 13).select("n_nationkey")
    return (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("late_supp") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").alias("numwait"))
    )


@register(
    "events_anomaly_days",
    sql="""
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type,
             CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mu,
             sqrt(CAST(SUM(n * n) AS DOUBLE) / COUNT(*)
                  - (CAST(SUM(n) AS DOUBLE) / COUNT(*))
                    * (CAST(SUM(n) AS DOUBLE) / COUNT(*))) AS sigma
      FROM daily GROUP BY 1
    )
    SELECT d.event_type, d.d AS event_date, d.n AS n_events,
           round((d.n - s.mu) / s.sigma, 4) AS zscore
    FROM daily d JOIN stats s USING (event_type)
    WHERE s.sigma > 0 AND abs((d.n - s.mu) / s.sigma) >= 2.0
    """,
)
def events_anomaly_days(spark, sf_dir):
    """Volume-anomaly detection: days where an event type's count is
    ≥2σ from its own mean — the monitoring query every ingest pipeline
    runs over its telemetry. Two-level aggregation (daily rollup, then
    per-type moments in ONE pass via the population-variance identity
    E[n²]-E[n]² computed over exact integer sums — engine- and
    partitioning-stable, no float accumulation order) and a broadcast
    join back onto the daily rows. The daily rollup is the only
    event-table-sized shuffle."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
            "event_date"
        ),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    stats = daily.groupBy("event_type").agg(
        (F.sum("n_events").cast("double") / F.count(F.lit(1))).alias("_mu"),
        F.sqrt(
            F.sum(F.col("n_events") * F.col("n_events")).cast("double")
            / F.count(F.lit(1))
            - (F.sum("n_events").cast("double") / F.count(F.lit(1)))
            * (F.sum("n_events").cast("double") / F.count(F.lit(1)))
        ).alias("_sigma"),
    )
    z = (F.col("n_events") - F.col("_mu")) / F.col("_sigma")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .filter((F.col("_sigma") > 0) & (F.abs(z) >= 2.0))
        .select(
            "event_type",
            "event_date",
            "n_events",
            F.round(z, 4).alias("zscore"),
        )
    )


@register(
    "scd2_dimension_merge",
    sql="""
    WITH cur AS (
      SELECT c_custkey AS custkey, c_mktsegment AS segment,
             DATE '2020-01-01' AS valid_from,
             CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
      FROM customer
    ), upd AS (
      SELECT c_custkey AS custkey,
             CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment
                  ELSE 'SEGMENT_X' END AS u_segment,
             DATE '2024-06-01' AS eff
      FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 'NEWSEG', DATE '2024-06-01'
      FROM customer WHERE c_custkey % 100 = 0
    ), changed AS (
      SELECT c.custkey FROM cur c JOIN upd u USING (custkey)
      WHERE NOT (c.segment IS NOT DISTINCT FROM u.u_segment)
    )
    SELECT c.custkey, c.segment, c.valid_from,
           CASE WHEN ch.custkey IS NOT NULL THEN DATE '2024-06-01'
                ELSE c.valid_to END AS valid_to,
           CASE WHEN ch.custkey IS NOT NULL THEN FALSE
                ELSE c.is_current END AS is_current
    FROM cur c LEFT JOIN changed ch USING (custkey)
    UNION ALL
    SELECT u.custkey, u.u_segment, DATE '2024-06-01',
           CAST(NULL AS DATE), TRUE
    FROM upd u JOIN changed ch USING (custkey)
    UNION ALL
    SELECT u.custkey, u.u_segment, DATE '2024-06-01',
           CAST(NULL AS DATE), TRUE
    FROM upd u LEFT JOIN cur c USING (custkey) WHERE c.custkey IS NULL
    """,
)
def scd2_dimension_merge(spark, sf_dir):
    """Slowly-changing-dimension type-2 merge (operators/relational.
    scd2_apply): a deterministic batch of segment updates applied to
    the customer dimension — changed keys close their open row and
    append a new version, same-value updates are no-ops, unseen keys
    insert. The history-keeping load every warehouse dimension needs,
    beyond the reference's replace/append sinks (S8/S9) and keyed
    upsert. One key-shuffle join + union; the oracle replays the same
    merge in set algebra, so the driver hash-checks close/insert/no-op
    semantics including the null-safe comparison."""
    from .operators import relational as R

    cust = t(spark, sf_dir, "customer")
    cur = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    upd = (
        cust.filter(F.col("c_custkey") % 5 == 0)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.when(
                F.col("c_custkey") % 10 == 0, F.col("c_mktsegment")
            )
            .otherwise(F.lit("SEGMENT_X"))
            .alias("segment"),
            F.lit("2024-06-01").cast("date").alias("eff"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 100 == 0).select(
                (F.col("c_custkey") + 1000000).alias("custkey"),
                F.lit("NEWSEG").alias("segment"),
                F.lit("2024-06-01").cast("date").alias("eff"),
            )
        )
    )
    return R.scd2_apply(
        cur, upd, key="custkey", tracked=["segment"], effective_col="eff"
    )


# ===========================================================================
# Round 4: CDC merge + OLAP shapes (rollup, pivot, unpivot, deciles,
# exact percentiles)
# ===========================================================================


@register(
    "cdc_latest_wins",
    bench=True,
    sql="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ), ch AS (
      SELECT l_orderkey AS o_orderkey, l_linenumber AS seq,
             CASE WHEN l_returnflag = 'R' THEN 'D' ELSE 'U' END AS op,
             l_extendedprice AS o_totalprice, l_linestatus AS o_orderstatus
      FROM lineitem WHERE l_orderkey % 4 = 0
    ), latest AS (
      SELECT * FROM (
        SELECT ch.*, row_number() OVER (
          PARTITION BY o_orderkey
          ORDER BY seq DESC, CASE WHEN op = 'D' THEN 0 ELSE 1 END ASC,
                   o_totalprice ASC NULLS LAST,
                   o_orderstatus ASC NULLS LAST) AS rn
        FROM ch
      ) WHERE rn = 1
    )
    SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
           CASE WHEN c.op IS NOT NULL THEN c.o_totalprice
                ELSE b.o_totalprice END AS o_totalprice,
           CASE WHEN c.op IS NOT NULL THEN c.o_orderstatus
                ELSE b.o_orderstatus END AS o_orderstatus
    FROM base b FULL OUTER JOIN latest c ON b.o_orderkey = c.o_orderkey
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
)
def cdc_latest_wins(spark, sf_dir):
    """CDC latest-wins merge (operators/relational.cdc_apply): a change
    stream derived from lineitem (per-order line events; 'R' return
    flag ⇒ delete) applied to an orders snapshot — MERGE INTO semantics
    over plain parquet. One change-side window + one full-outer join;
    deletes and upserts resolve in the same projection, so the driver
    hash-checks the newest-per-key collapse, the delete/upsert split,
    and untouched-row passthrough. The synthetic lineitem has duplicate
    (orderkey, linenumber) rows, so the oracle mirrors cdc_apply's
    deterministic payload tie-break (ADVICE r4) — without it the
    same-seq winner is genuinely order-undefined on this data."""
    base = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    changes = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 0)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.col("l_linenumber").alias("seq"),
            F.when(F.col("l_returnflag") == "R", "D").otherwise("U").alias("op"),
            F.col("l_extendedprice").alias("o_totalprice"),
            F.col("l_linestatus").alias("o_orderstatus"),
        )
    )
    return R.cdc_apply(base, changes, key="o_orderkey", seq_col="seq")


@register(
    "a_rollup_pricing",
    sql="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a_rollup_pricing(spark, sf_dir):
    """ROLLUP hierarchy totals: (flag, status) → (flag) → () subtotal
    levels with a grouping id, in ONE pass — Catalyst expands the
    grouping sets before the single hash aggregate, so the 100 TB scan
    is read once for all three levels. Decimal sums keep the subtotal
    arithmetic order-insensitive; hash-checked across every level."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n_rows")
    )


@register(
    "pivot_priority_year",
    sql="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS urgent,
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
                AS BIGINT) AS high,
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
                AS BIGINT) AS medium,
           CAST(SUM(CASE WHEN o_orderpriority IN
                 ('1-URGENT', '2-HIGH', '3-MEDIUM') THEN 0 ELSE 1 END)
                AS BIGINT) AS other
    FROM orders GROUP BY 1
    """,
)
def pivot_priority_year(spark, sf_dir):
    """PIVOT: order counts by year × priority, wide form. The explicit
    value list keeps the pivot a single pass (no distinct-values
    pre-query) and the output schema static — the shape a reporting
    sink wants. Conditional-sum semantics hash-checked exactly."""
    o = t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.when(F.col("o_orderpriority") == "1-URGENT", "urgent")
        .when(F.col("o_orderpriority") == "2-HIGH", "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "medium")
        .otherwise("other")
        .alias("prio"),
    )
    return (
        o.groupBy("order_year")
        .pivot("prio", ["urgent", "high", "medium", "other"])
        .count()
        .na.fill(0)
    )


@register(
    "unpivot_pricing_metrics",
    sql="""
    WITH agg AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
             CAST(COUNT(*) AS DOUBLE) AS n_rows
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, metric, value FROM agg
    UNPIVOT (value FOR metric IN (sum_qty, sum_price, n_rows))
    """,
)
def unpivot_pricing_metrics(spark, sf_dir):
    """UNPIVOT (melt): a wide per-flag metric row folded to long
    (metric, value) form — the metrics-sink shape. The unpivot is a
    zero-shuffle expression over the 3-row aggregate; decimal sums
    upstream keep values engine-exact."""
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "n_rows"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "w_ntile_deciles",
    sql="""
    WITH d AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile, COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM d GROUP BY 1
    """,
)
def w_ntile_deciles(spark, sf_dir):
    """Decile banding WITHOUT a corpus-sized global window (r4 item 7:
    this was the one unpartitioned ntile in the registry): exact global
    positions in (price, key) order come from the range-bucketed
    rank-with-offsets machinery (sampling.global_order_positions — the
    same shape sample_global_shuffle uses for hash order), and ntile's
    exact tile arithmetic is reproduced from (pos, n): the first
    n mod 10 tiles hold ceil(n/10) rows, the rest floor(n/10). The key
    tie-break makes the ordering total, so band edges are engine-exact
    against the oracle's real ntile(10)."""
    from .operators.sampling import global_order_positions

    o = t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    pos = global_order_positions(o, ("o_totalprice", "o_orderkey"))
    n_total = pos.agg(F.count(F.lit(1)).alias("_n"))
    base = (F.col("_n") / 10).cast("long")  # floor tile size
    r = F.col("_n") % 10  # number of big (base+1) tiles
    big_span = r * (base + 1)
    decile = F.when(
        F.col("pos") < big_span, (F.col("pos") / (base + 1)).cast("long") + 1
    ).otherwise(
        # base can only be 0 when pos < big_span covers every row, so
        # the divide here never sees base = 0
        r + ((F.col("pos") - big_span) / F.greatest(base, F.lit(1))).cast("long") + 1
    )
    return (
        pos.crossJoin(F.broadcast(n_total))
        .select("o_totalprice", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@register(
    "stat_exact_percentiles",
    sql="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1
    """,
)
def stat_exact_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (percentile_cont
    semantics: x[lo] + frac·(x[hi]−x[lo]) on the sorted values — the
    same formula in both engines, so the doubles agree bit-for-bit
    before the cosmetic 4dp rounding). The exact twin of the t-digest
    sketch in scale_approx_aggs: per-group sort-based aggregate,
    shuffled once on the group key."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "a_cube_order_volume",
    sql="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderpriority,
           GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (year(o_orderdate), o_orderpriority)
    """,
)
def a_cube_order_volume(spark, sf_dir):
    """CUBE: all four grouping sets of (year, priority) — per-cell,
    per-year, per-priority, and grand total — in ONE scan + one hash
    aggregate (Catalyst expands the sets before aggregation). The
    reporting companion of a_rollup_pricing; decimal sums keep every
    subtotal engine-exact."""
    o = t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("order_year"), "o_orderpriority",
        "o_totalprice",
    )
    return (
        o.cube("order_year", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_price"),
        )
        .select("order_year", "o_orderpriority", "gid", "n_orders", "sum_price")
    )


@register(
    "s_csv_roundtrip",
    sql="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def s_csv_roundtrip(spark, sf_dir):
    """CSV sink + scan round-trip (io.write_formatted/read_formatted):
    header + quote-all write, explicit-schema read (inference is an
    extra full pass at scale — the contract is schema-on-write). The
    driver hash-checks that the text format round-trips types and
    values exactly."""
    import tempfile

    from .io import read_formatted, write_formatted

    n = t(spark, sf_dir, "nation")
    path = tempfile.mkdtemp(prefix="csvq_") + "/nation"
    write_formatted(n, path, fmt="csv")
    return read_formatted(spark, path, fmt="csv", schema=n.schema)


@register(
    "s_jsonl_roundtrip",
    sql="""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate, o_orderpriority
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def s_jsonl_roundtrip(spark, sf_dir):
    """JSON-lines sink + scan round-trip with an explicit schema — the
    event/export interchange path (reference: the JSON API load
    surface, datasources.py). Dates round-trip as ISO strings typed
    back on read."""
    import tempfile

    from .io import read_formatted, write_formatted

    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("odate"),
            "o_orderpriority",
        )
    )
    path = tempfile.mkdtemp(prefix="jsonq_") + "/orders"
    write_formatted(o, path, fmt="json")
    return read_formatted(spark, path, fmt="json", schema=o.schema)


@register(
    "profile_column_stats",
    sql="""
    SELECT 'o_orderkey' AS col_name,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
           CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_totalprice),
           MIN(o_totalprice), MAX(o_totalprice), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderstatus),
           NULL, NULL, MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderpriority),
           NULL, NULL, MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
)
def profile_column_stats(spark, sf_dir):
    """ANALYZE-style column profile: null counts, exact distinct
    counts, and typed min/max lanes for five orders columns, ONE scan —
    Catalyst's distinct-aggregate Expand evaluates all five
    count_distincts in a single pass (at 100 TB swap
    approx_count_distinct to drop the expand; the exact form is the
    oracle-checkable twin). The first table a pipeline profiles before
    choosing join keys and partition columns."""
    o = t(spark, sf_dir, "orders")
    num_cols = ("o_orderkey", "o_custkey", "o_totalprice")
    str_cols = ("o_orderstatus", "o_orderpriority")
    aggs = []
    for c in num_cols + str_cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"_nd_{c}"),
            F.min(F.col(c)).alias(f"_mn_{c}"),
            F.max(F.col(c)).alias(f"_mx_{c}"),
        ]
    one = o.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    rows = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"_nn_{c}").alias("n_nulls"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            F.col(f"_mn_{c}").cast("double").alias("min_num"),
            F.col(f"_mx_{c}").cast("double").alias("max_num"),
            null_s.alias("min_str"),
            null_s.alias("max_str"),
        )
        for c in num_cols
    ] + [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"_nn_{c}").alias("n_nulls"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            null_d.alias("min_num"),
            null_d.alias("max_num"),
            F.col(f"_mn_{c}").alias("min_str"),
            F.col(f"_mx_{c}").alias("max_str"),
        )
        for c in str_cols
    ]
    return one.select(F.explode(F.array(*rows)).alias("_r")).select("_r.*")


@register(
    "j_null_safe_join",
    sql="""
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders WHERE o_orderkey % 2 = 0
    ), b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT a.k IS NULL AS null_key, COUNT(*) AS n_pairs,
           CAST(COUNT(DISTINCT a.k) AS BIGINT) AS n_keys
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
                 AND a.o_orderkey < b.o_orderkey
    GROUP BY 1
    """,
)
def j_null_safe_join(spark, sf_dir):
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match EACH OTHER instead of vanishing — the semantics a dedup or
    reconciliation join needs when the key is legitimately absent.
    Catalyst plans eqNullSafe as a hash join on a null-safe key (NOT a
    nested loop), so the shape survives scale. The key is
    HIGH-CARDINALITY (o_custkey) with a ~1% NULL share (every 97th
    order's key is 'absent'): per-key match counts stay constant as
    the data grows, so join output scales linearly — the r9 bench
    sweep caught the original 7-value key enumerating ~500M pairs at
    sf0.1 (quadratic per bucket; 100× worse at sf1). The NULL bucket
    is still the inherent quadratic hot-spot of null-safe semantics
    (all-nulls pair with each other): keep the null share small or
    pre-aggregate it separately when it is large. Hash-checked for
    both the null and non-null key classes."""
    o = t(spark, sf_dir, "orders")
    mk = lambda flt: (  # noqa: E731
        o.filter(F.col("o_orderkey") % flt == 0).select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
            .otherwise(F.col("o_custkey"))
            .alias("k"),
        )
    )
    a, b = mk(2).alias("a"), mk(3).alias("b")
    return (
        a.join(
            b,
            F.col("a.k").eqNullSafe(F.col("b.k"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .groupBy(F.col("a.k").isNull().alias("null_key"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct(F.col("a.k")).cast("bigint").alias("n_keys"),
        )
    )
