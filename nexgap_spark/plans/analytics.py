"""SQL-coverage + time-series + sampling analytics queries (q48-q58).

Round-2 widening: pivot, exact quantiles, GROUPING SETS, window-rank
families (ntile), correlated EXISTS, deterministic hash sampling
(plain + stratified), and the time-series operators
(nexgap_spark.operators.timeseries) the events table invites.

The reference has no analytics engine of its own — these are the "free in
Spark, in scope for the extended engine" families SURVEY §2.4/§2.5 calls
out (grouping sets next to its rollup/cube note; window ranks next to W1-W4;
hash sampling is the scalable twin of its seen-set dedups at
web_research_agent.py:146-159).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from nexgap_spark.operators import sampling, timeseries
from nexgap_spark.plans.registry import query
from nexgap_spark.session import load_table as t

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# ---------------------------------------------------------------------------
# q48 — pivot: per-user event-type count matrix. Implemented as single-pass
# conditional aggregation, NOT df.groupBy().pivot(): with an explicit value
# list the semantics are identical, but .pivot() plans TWO exchanges
# (groupBy(user, type) then re-shuffle to user) where count(when(...)) per
# value needs ONE map-side-combinable shuffle on user_id — at 100 TB that
# halves the shuffled bytes. (The implicit .pivot() form is worse still: an
# extra distinct pass over the full input to discover the domain.)
# ---------------------------------------------------------------------------


@query(
    "q48_pivot_event_matrix",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) FILTER (event_type = 'click')    AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (event_type = 'error')    AS BIGINT) AS error,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (event_type = 'signup')   AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (event_type = 'view')     AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
)
def q48_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == v, 1)).alias(v)
            for v in EVENT_TYPES
        ]
    )


# ---------------------------------------------------------------------------
# q49 — exact quantiles per group (percentile with linear interpolation, the
# quantile_cont contract). Exact, not approx_percentile: the oracle compare
# needs bit-stable answers; at 100 TB swap in approx_percentile(…, 10000)
# and widen the tolerance — same plan shape, sketch-mergeable.
# ---------------------------------------------------------------------------


@query(
    "q49_price_quantiles",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(o_totalprice, 0.25), 2) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 2) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 2) AS p75,
           ROUND(quantile_cont(o_totalprice, 0.90), 2) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def q49_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE percentile(array) aggregate, not four: each scalar percentile
    # call is its own sort-heavy buffer collecting every group value; the
    # array form sorts once and reads four ranks (r7: 1.41 s → 0.55 s,
    # value-identical) — at scale that's 4× less agg-buffer memory too
    orders = t(spark, sf_dir, "orders")
    pct = F.percentile(
        "o_totalprice", F.array(*[F.lit(p) for p in (0.25, 0.50, 0.75, 0.90)])
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), pct.alias("_p"))
        .select(
            "o_orderpriority",
            "n",
            *[
                F.round(F.element_at("_p", i + 1), 2).alias(a)
                for i, a in enumerate(["p25", "p50", "p75", "p90"])
            ],
        )
    )


# ---------------------------------------------------------------------------
# q50 — GROUPING SETS: detail, per-flag subtotal, and grand total in ONE
# shuffle (vs 3 unioned scans); GROUPING() flags disambiguate NULL keys.
# ---------------------------------------------------------------------------


@query(
    "q50_grouping_sets",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
           COALESCE(l_linestatus, 'ALL') AS lstatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rflag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_lstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q50_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
               COALESCE(l_linestatus, 'ALL') AS lstatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rflag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_lstatus,
               COUNT(*) AS n,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# ---------------------------------------------------------------------------
# q51 — inter-arrival gaps: lag over (user_id ORDER BY ts) then aggregate by
# the current row's event_type. Deltas are exact bigint µs, so the double
# AVG is order-independent (sums stay < 2^53).
# ---------------------------------------------------------------------------


@query(
    "q51_interarrival_stats",
    oracle="""
    WITH d AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS delta_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(delta_us) AS BIGINT) AS n_gaps,
           ROUND(AVG(delta_us) / 1000000.0, 6) AS avg_gap_s,
           CAST(MAX(delta_us) AS BIGINT) AS max_gap_us
    FROM d GROUP BY event_type
    """,
)
def q51_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    d = timeseries.interarrival_deltas(
        ev, partition_cols=["user_id"], ts_col="ts", tiebreak_cols=["event_id"]
    )
    return d.groupBy("event_type").agg(
        F.count("delta_us").alias("n_gaps"),
        F.round(F.avg("delta_us") / 1000000.0, 6).alias("avg_gap_s"),
        F.max("delta_us").alias("max_gap_us"),
    )


# ---------------------------------------------------------------------------
# q52 — ntile quartiles over a global order. The global sort is the scale
# hazard: Spark range-partitions it (sampled bounds), so it stays parallel;
# the quartile aggregate then reuses the sorted runs.
# ---------------------------------------------------------------------------


@query(
    "q52_ntile_quartiles",
    oracle="""
    WITH tiled AS (
      SELECT c_acctbal,
             ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS tile
      FROM customer
    )
    SELECT tile, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(c_acctbal), 2) AS avg_bal,
           ROUND(MIN(c_acctbal), 2) AS min_bal,
           ROUND(MAX(c_acctbal), 2) AS max_bal
    FROM tiled GROUP BY tile
    """,
)
def q52_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    w = W.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        cust.withColumn("tile", F.ntile(4).over(w))
        .groupBy("tile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


# ---------------------------------------------------------------------------
# q53 — deterministic hash sample (~10%) + aggregate. Engine-portable by
# construction (md5 of the key, no RNG) — the oracle runs the SAME sample.
# ---------------------------------------------------------------------------


@query(
    "q53_hash_sample",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           ROUND(AVG(o_totalprice), 2) AS avg_price
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '1999'
    """,
)
def q53_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    picked = sampling.deterministic_sample(orders, key_col="o_orderkey")
    return picked.agg(
        F.count("*").alias("n_sampled"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# q54 — stratified deterministic sample: exactly ceil(5%) of every
# mktsegment, ranked by content hash. Guarantees small-stratum coverage that
# Bernoulli sampling misses.
# ---------------------------------------------------------------------------


@query(
    "q54_stratified_sample",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
               ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rk,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           ROUND(AVG(c_acctbal), 2) AS avg_bal
    FROM ranked WHERE rk <= CEIL(n * 0.05)
    GROUP BY c_mktsegment
    """,
)
def q54_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    picked = sampling.stratified_sample(
        cust, strata_cols=["c_mktsegment"], key_col="c_custkey", fraction=0.05
    )
    return picked.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_sampled"),
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
    )


# ---------------------------------------------------------------------------
# q55 — correlated EXISTS / NOT EXISTS. Catalyst rewrites both to
# semi/anti hash joins on o_custkey — one shuffle each, no per-row subquery.
# ---------------------------------------------------------------------------

_Q55_SQL = """
SELECT c_mktsegment, {count} AS n_cust
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
GROUP BY c_mktsegment
"""


@query(
    "q55_exists_subquery",
    oracle=_Q55_SQL.format(count="CAST(COUNT(*) AS BIGINT)"),
)
def q55_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q55_SQL.format(count="COUNT(*)"))


# ---------------------------------------------------------------------------
# q56 — month-spine gap fill: dense (month × priority) grid with zero-filled
# gaps. The spine is driver-small and broadcast; the fact side is aggregated
# BEFORE the join so the grid never touches raw rows.
# ---------------------------------------------------------------------------


@query(
    "q56_monthly_gap_fill",
    oracle="""
    WITH b AS (
      SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
             date_trunc('month', MAX(o_orderdate)) AS hi
      FROM orders
    ),
    months AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS m FROM b),
    prios AS (SELECT DISTINCT o_orderpriority FROM orders),
    fact AS (
      SELECT date_trunc('month', o_orderdate) AS m, o_orderpriority,
             COUNT(*) AS n, SUM(o_totalprice) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT strftime(months.m, '%Y-%m') AS month,
           prios.o_orderpriority,
           CAST(COALESCE(fact.n, 0) AS BIGINT) AS n_orders,
           ROUND(COALESCE(fact.rev, 0), 2) AS revenue
    FROM months CROSS JOIN prios
    LEFT JOIN fact ON fact.m = months.m
                  AND fact.o_orderpriority = prios.o_orderpriority
    """,
)
def q56_monthly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    spine = timeseries.month_spine(orders, date_col="o_orderdate")
    prios = orders.select("o_orderpriority").distinct()
    fact = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"), "o_orderpriority"
    ).agg(F.count("*").alias("n_orders"), F.sum("o_totalprice").alias("revenue"))
    filled = timeseries.gap_fill_monthly(
        fact,
        prios,
        spine,
        month_col="month",
        fill={"n_orders": F.lit(0), "revenue": F.lit(0.0)},
    )
    return filled.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round("revenue", 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q57 — hopping (sliding) windows: 10-minute windows every 5 minutes. Each
# event replicates into exactly window/slide = 2 buckets; the oracle makes
# that replication explicit with a 2-element unnest.
# ---------------------------------------------------------------------------


@query(
    "q57_hopping_windows",
    oracle="""
    WITH hopped AS (
      SELECT unnest([CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT),
                     CAST(FLOOR(epoch(ts) / 300) * 300 - 300 AS BIGINT)])
               AS window_start,
             value
      FROM events
    )
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM hopped GROUP BY window_start
    """,
)
def q57_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return timeseries.hopping_window_agg(
        ev,
        ts_col="ts",
        window="10 minutes",
        slide="5 minutes",
        aggs=[
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    )


# ---------------------------------------------------------------------------
# q58 — fixed-range histogram via width_bucket (DuckDB lacks it; the oracle
# spells out the same bucket arithmetic). Single map-side-combinable groupBy.
# ---------------------------------------------------------------------------


@query(
    "q58_value_histogram",
    oracle="""
    SELECT CASE WHEN value < 0 THEN 0
                WHEN value >= 500 THEN 11
                ELSE CAST(FLOOR(value / 50) + 1 AS BIGINT) END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total
    FROM events GROUP BY 1
    """,
)
def q58_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return timeseries.fixed_histogram(ev, value_col="value", lo=0.0, hi=500.0, nbuckets=10)


# ---------------------------------------------------------------------------
# q63 — discrete quantiles through approx_percentile's mergeable GK sketch:
# one map-side-combinable shuffle, no per-group sort.
#
# Exact at any SF below 2^30 rows per group: with accuracy = Int.MaxValue
# the sketch's rank error n/accuracy stays under one rank, so it keeps
# every sample and returns the exact rank — Spark's percentile_approx
# definition (smallest value with ≥ p·N values ≤ it) is DuckDB's
# quantile_disc, equal on all 5×4 cells at sf0.01 and sf0.1 (a smaller
# accuracy such as 10000 diverges once a group outgrows it). percentile_disc
# ... WITHIN GROUP gives the same values but sorts once per quantile (~5×
# the time at sf0.1).
# ---------------------------------------------------------------------------


@query(
    "q63_approx_quantiles",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*)::BIGINT AS n,
           ROUND(QUANTILE_DISC(o_totalprice, 0.25), 2) AS p25,
           ROUND(QUANTILE_DISC(o_totalprice, 0.5),  2) AS p50,
           ROUND(QUANTILE_DISC(o_totalprice, 0.75), 2) AS p75,
           ROUND(QUANTILE_DISC(o_totalprice, 0.9),  2) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def q63_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    pct = F.percentile_approx(
        "o_totalprice",
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.9)),
        2**31 - 1,
    )
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(pct[0], 2).alias("p25"),
        F.round(pct[1], 2).alias("p50"),
        F.round(pct[2], 2).alias("p75"),
        F.round(pct[3], 2).alias("p90"),
    )


# ---------------------------------------------------------------------------
# q65 — moving average (window FRAME spec: ROWS BETWEEN 6 PRECEDING AND
# CURRENT ROW) over per-day revenue. The unpartitioned window runs on the
# PRE-AGGREGATED daily frame (thousands of rows), same rule as q09 — never
# on raw orders.
# ---------------------------------------------------------------------------


@query(
    "q65_moving_average",
    oracle="""
    WITH daily AS (
      SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
             SUM(o_totalprice) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT day, ROUND(revenue, 2) AS revenue,
           ROUND(AVG(revenue) OVER (ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7
    FROM daily
    """,
)
def q65_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    w = W.orderBy("day").rowsBetween(-6, W.currentRow)
    return daily.select(
        "day",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.avg("revenue").over(w), 2).alias("ma7"),
    )


# ---------------------------------------------------------------------------
# q66 — unpivot (melt): the wide per-user matrix of q48 back to long form
# via stack(); equals the plain (user, type) counts, which is the oracle.
# stack() is a generator projection — no extra shuffle beyond q48's one.
# ---------------------------------------------------------------------------


@query(
    "q66_unpivot_matrix",
    oracle="""
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id, event_type
    """,
)
def q66_unpivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q48_pivot_event_matrix(spark, sf_dir)
    stack_args = ", ".join(f"'{v}', {v}" for v in EVENT_TYPES)
    return (
        wide.select(
            "user_id",
            F.expr(
                f"stack({len(EVENT_TYPES)}, {stack_args}) AS (event_type, n)"
            ),
        )
        .filter(F.col("n") > 0)
    )


# ---------------------------------------------------------------------------
# q67 — bivariate statistics per group: Pearson correlation + sample
# covariance/variance of event value vs its JSON-props k. One map-side-
# combinable shuffle (all four are algebraic aggregates with mergeable
# moment state — the distributed-friendly family).
# ---------------------------------------------------------------------------


@query(
    "q67_corr_stats",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
      FROM events
    )
    SELECT event_type,
           ROUND(corr(value, k), 6) AS corr_vk,
           ROUND(covar_samp(value, k), 6) AS covar_vk,
           ROUND(var_samp(value), 6) AS var_v,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM e GROUP BY event_type
    """,
)
def q67_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    e = ev.select("event_type", "value", k.alias("k"))
    return e.groupBy("event_type").agg(
        F.round(F.corr("value", "k"), 6).alias("corr_vk"),
        F.round(F.covar_samp("value", "k"), 6).alias("covar_vk"),
        F.round(F.var_samp("value"), 6).alias("var_v"),
        F.count("*").alias("n"),
    )
