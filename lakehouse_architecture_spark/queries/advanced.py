"""Advanced operator queries: as-of join, range join over an inline
VALUES relation, pivot, scalar subqueries, quantiles, approximate
aggregates. These go beyond the reference's own operator set (SURVEY.md
§2.11) but are standard analytics surface its Athena layer implies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_architecture_spark.functions.numeric import dsum, dsum_expr
from lakehouse_architecture_spark.operators.caching import one_slot_persist
from lakehouse_architecture_spark.operators.quantiles import (
    grouped_interpolated_quantiles,
)
from lakehouse_architecture_spark.queries.registry import query
from lakehouse_architecture_spark.sources.tables import load_table, register_views


@query(
    "asof_join_purchase_click",
    oracle="""
SELECT p.event_id,
       p.user_id,
       epoch_ms(p.ts) AS purchase_ms,
       MAX(epoch_ms(c.ts)) AS asof_click_ms
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id, epoch_ms(p.ts)
""",
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase, the most recent click at-or-before
    it by the same user.

    Spark has no ASOF JOIN operator; the scalable expression is the
    union-and-carry-forward trick: union both sides, one window pass per
    user ordered by time carrying the last click forward. ONE shuffle on
    user_id — versus the oracle's O(clicks × purchases) inequality join,
    which is the textbook anti-pattern at scale.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.lit(0).alias("side"),          # clicks sort before purchases on ties
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.lit(1).alias("side"),
        "event_id",
    )
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "asof_click_ms",
        F.last(F.when(F.col("side") == 0, F.col("ms")), ignorenulls=True).over(w),
    )
    return (
        carried.filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ms").alias("purchase_ms"),
            "asof_click_ms",
        )
    )


@query(
    "asof_join_forward_tolerance",
    oracle="""
SELECT p.event_id,
       p.user_id,
       epoch_ms(p.ts) AS purchase_ms,
       MIN(CASE WHEN epoch_ms(c.ts) - epoch_ms(p.ts) <= 3600000
                THEN epoch_ms(c.ts) END) AS next_click_ms
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts > p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id, epoch_ms(p.ts)
""",
)
def asof_join_forward_tolerance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FORWARD as-of join with a tolerance window (r15): for every
    purchase, the FIRST click STRICTLY AFTER it by the same user,
    admitted only within 1 hour — the post-conversion attribution
    probe (pandas merge_asof direction='forward' + tolerance; kdb
    aj's mirror). Completes the as-of pair with
    `asof_join_purchase_click` (backward).

    Same one-shuffle union-and-carry shape as the backward row, run in
    DESCENDING time order so the carried value is the NEAREST LATER
    click: at equal timestamps the purchase sorts BEFORE the click in
    the descending walk, so a click at the exact purchase instant is
    correctly invisible (strictly after). The tolerance applies AFTER
    the carry — the nearest later click either lands inside the hour
    or there is no admissible click at all (anything later is farther),
    which is why MIN(CASE WHEN within-window) in the oracle states the
    same value. One window pass per user — versus the oracle's
    O(clicks x purchases) inequality join, the textbook anti-pattern
    at scale."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.lit(1).alias("side"),          # clicks sort after purchases
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.lit(0).alias("side"),
        "event_id",
    )
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ms"), F.asc("side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "_next_ms",
        F.last(
            F.when(F.col("side") == 1, F.col("ms")), ignorenulls=True
        ).over(w),
    )
    return carried.filter(F.col("side") == 0).select(
        "event_id",
        "user_id",
        F.col("ms").alias("purchase_ms"),
        F.when(
            F.col("_next_ms") - F.col("ms") <= 3_600_000, F.col("_next_ms")
        ).alias("next_click_ms"),
    )


@query(
    "range_join_price_bands",
    oracle="""
SELECT b.band, COUNT(o_orderkey) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS band_total
FROM (VALUES ('low', 0.0, 100000.0),
             ('mid', 100000.0, 250000.0),
             ('high', 250000.0, 400000.0),
             ('whale', 400000.0, 1e18)) AS b(band, lo, hi)
LEFT JOIN orders ON o_totalprice >= b.lo AND o_totalprice < b.hi
GROUP BY b.band
""",
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join against an inline VALUES relation — the
    reference's S10 VALUES tables (README.md:266-270) joined on interval
    containment. The VALUES side is 4 rows: Spark broadcasts it and the
    inequality join is a broadcast-nested-loop, which is exactly right."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT b.band, COUNT(o_orderkey) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS band_total
        FROM VALUES ('low', 0.0D, 100000.0D),
                    ('mid', 100000.0D, 250000.0D),
                    ('high', 250000.0D, 400000.0D),
                    ('whale', 400000.0D, 1e18D) AS b(band, lo, hi)
        LEFT JOIN orders ON o_totalprice >= b.lo AND o_totalprice < b.hi
        GROUP BY b.band
        """
    )


@query(
    "pivot_status_by_priority",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders
GROUP BY o_orderpriority
""",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per priority with one column per status."""
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("n_f"),
        F.coalesce("O", F.lit(0)).alias("n_o"),
        F.coalesce("P", F.lit(0)).alias("n_p"),
    )


@query(
    "scalar_subquery_above_avg",
    oracle="""
WITH stats AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         / COUNT(o_totalprice) AS avg_price
  FROM orders
)
SELECT COUNT(*) AS n_above,
       ROUND((SELECT avg_price FROM stats), 6) AS avg_price
FROM orders
WHERE o_totalprice > (SELECT avg_price FROM stats)
""",
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (orders above the global mean)."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH stats AS (
          SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(o_totalprice) AS avg_price
          FROM orders
        )
        SELECT COUNT(*) AS n_above,
               ROUND((SELECT avg_price FROM stats), 6) AS avg_price
        FROM orders
        WHERE o_totalprice > (SELECT avg_price FROM stats)
        """
    )


@query(
    "correlated_min_per_group_join",
    oracle="""
SELECT p.p_brand, p.p_partkey, p.p_retailprice AS min_price
FROM part p
JOIN (SELECT p_brand, MIN(p_retailprice) AS mn FROM part GROUP BY p_brand) m
  ON p.p_brand = m.p_brand AND p.p_retailprice = m.mn
""",
)
def correlated_min_per_group_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-per-group back-join (TPC-H Q2's core shape): cheapest part(s)
    per brand. Aggregate first, join the tiny rollup back broadcast."""
    part = load_table(spark, sf_dir, "part")
    mins = part.groupBy(F.col("p_brand").alias("mb")).agg(
        F.min("p_retailprice").alias("mn")
    )
    return (
        part.join(
            F.broadcast(mins),
            (part.p_brand == mins.mb) & (part.p_retailprice == mins.mn),
        )
        .select("p_brand", "p_partkey", F.col("p_retailprice").alias("min_price"))
    )


@query(
    "quantiles_exact",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75
FROM lineitem
GROUP BY l_returnflag
""",
)
def quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (both engines: linear interpolation
    over the sorted values — identical doubles, rounded 6).

    r16: restated through
    ``operators.quantiles.grouped_interpolated_quantiles`` — the
    previous ``F.percentile`` form buffers a per-group value→count map
    in ONE aggregation buffer, memory-bounded by distinct prices per
    group, which does not survive 100× (the r7 doctrine). The bucketed
    machinery gives the identical interpolated doubles with every
    window bounded by one (group, bucket)'s distinct values."""
    li = load_table(spark, sf_dir, "lineitem")
    q = grouped_interpolated_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [0.25, 0.5, 0.75]
    )
    pick = lambda p: F.round(  # noqa: E731
        F.max(F.when(F.col("q") == p, F.col("q_value"))), 6
    )
    return q.groupBy("l_returnflag").agg(
        pick(0.25).alias("p25"),
        pick(0.5).alias("p50"),
        pick(0.75).alias("p75"),
    )


@query(
    "approx_distinct_and_quantile",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS approx_orders_ok,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS exact_median,
       TRUE AS approx_median_ok
FROM lineitem
GROUP BY l_returnflag
""",
)
def approx_distinct_and_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — HLL++ distinct count + approx quantiles,
    the sketches that replace exact distinct/sort at 100 TB — QA'd
    against their exact twins IN the compared output: the sketch values
    themselves are algorithm-specific (HLL++/KLL have no DuckDB twin),
    so the oracle checks the exact columns plus tolerance-band booleans
    (approx within 5% of exact distinct / 1% of exact median) that the
    oracle asserts as literal TRUE. A sketch drifting out of tolerance
    now FAILS the driver hash instead of hiding behind rows-only.

    r16: the exact-median anchor is restated through
    ``operators.quantiles.grouped_interpolated_quantiles`` — the prior
    ``F.percentile`` call buffered a per-group value→count map in one
    aggregation buffer (memory bounded by distinct prices, an
    executor-OOM shape at 100×; the r7 doctrine this query was the
    last holdout against). The sketch columns and the compared surface
    are unchanged; only the anchor's plan shape moved.

    r16 second finding — the row's REAL historic cost: putting
    ``countDistinct`` and ``percentile_approx`` in ONE aggregate is a
    pathological pairing — the distinct rewrite runs the non-distinct
    aggregates through a two-level path that drags the KLL object
    buffer (accuracy 10000) through every expanded row. Measured
    isolated at sf0.1: each aggregate alone ≤1 s, the
    countDistinct+percentile_approx pair **33–46 s** (this, not the
    exact anchor, was the bulk of the 27–34 s sweep history). The
    sketches now aggregate separately from the exact distinct and
    broadcast-join back on the 3-row group key — identical values,
    one extra cheap scan."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_median"
        ),
    )
    sk = exact.join(F.broadcast(sketches), "l_returnflag")
    med = grouped_interpolated_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [0.5]
    ).select(
        "l_returnflag", F.round("q_value", 6).alias("exact_median")
    )
    agg = sk.join(F.broadcast(med), "l_returnflag")
    ok = lambda a, e, tol: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) <= F.col(e) * tol
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        ok("approx_orders", "exact_orders", 0.05).alias("approx_orders_ok"),
        "exact_median",
        ok("approx_median", "exact_median", 0.01).alias("approx_median_ok"),
    )


WINSOR_ORACLE = """
WITH q AS (
  SELECT l_returnflag,
         ROUND(quantile_cont(l_extendedprice, 0.05), 6) AS p05,
         ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag, q.p05, q.p95,
       CAST(SUM(CASE WHEN l.l_extendedprice < q.p05 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped_low,
       CAST(SUM(CASE WHEN l.l_extendedprice > q.p95 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped_high,
       CAST(SUM(CAST(GREATEST(LEAST(l.l_extendedprice, q.p95), q.p05)
                AS DECIMAL(18,6))) AS DOUBLE) AS winsorized_sum
FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
GROUP BY l.l_returnflag, q.p05, q.p95
"""


@query("lineitem_winsorized_price_stats", oracle=WINSOR_ORACLE)
def lineitem_winsorized_price_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winsorized robust statistics: clip prices to their per-group
    [p05, p95] band, then aggregate — the outlier-robust moment
    estimator a quality/feature pipeline applies before fitting
    anything on heavy-tailed measures. The band comes from the r16
    scale-safe quantile machinery
    (``operators.quantiles.grouped_interpolated_quantiles`` — every
    window bounded by one (group, bucket)'s distinct values; no
    per-group percentile buffer), rounded to 6 places BEFORE clipping
    so both engines clip against the identical boundary double; the
    clipped sum rides the decimal fixed-point doctrine
    (``dsum_expr``); clip counts are pure integers.

    Scale shape (r16): ONE scan builds the (flag, price, cnt) frequency
    relation, persisted for the duration of the query; the quantile
    machinery consumes it (``counts=`` passthrough — without it the
    groupBy subtree re-expanded under every DAG branch: 10 parquet
    scans / 13 Exchanges in the before-plan) and the final winsorized
    aggregate runs over the SAME relation with cnt weights. Weighted
    equivalence is exact: clip(v) is identical for equal v, the
    decimal(18,6) cast is exact, and decimal × integer count is exact,
    so Σ_rows decimal(clip(v)) == Σ_values cnt·decimal(clip(v)) —
    bit-identical to the row-wise ``dsum_expr`` (l_extendedprice is
    NOT NULL by schema; a null measurement group would be excluded by
    the order statistic on both engines). Nothing in the plan holds
    per-group state proportional to distinct values."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = one_slot_persist(
        li.groupBy("l_returnflag", "l_extendedprice").agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        slot="winsor-price-counts",
    )
    q = grouped_interpolated_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [0.05, 0.95],
        counts=counts,
    )
    pick = lambda p: F.round(  # noqa: E731
        F.max(F.when(F.col("q") == p, F.col("q_value"))), 6
    )
    bounds = q.groupBy("l_returnflag").agg(
        pick(0.05).alias("p05"), pick(0.95).alias("p95")
    )
    price = F.col("l_extendedprice")
    clipped = F.greatest(F.least(price, F.col("p95")), F.col("p05"))
    return (
        counts.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag", "p05", "p95")
        .agg(
            F.sum(F.when(price < F.col("p05"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_clipped_low"),
            F.sum(F.when(price > F.col("p95"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_clipped_high"),
            F.sum(clipped.cast("decimal(18,6)") * F.col("cnt"))
            .cast("double")
            .alias("winsorized_sum"),
        )
        .select(
            "l_returnflag",
            "p05",
            "p95",
            "n_clipped_low",
            "n_clipped_high",
            "winsorized_sum",
        )
    )


SNAPSHOT_DIFF_ORACLE = """
WITH old_snap AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 != 0
),
new_snap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 100.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 7 != 0
),
d AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
    CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
         WHEN n.o_orderkey IS NULL THEN 'deleted'
         WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
           THEN 'unchanged'
         ELSE 'updated' END AS change_type
  FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
)
SELECT change_type, COUNT(*) AS n_rows
FROM d GROUP BY change_type ORDER BY change_type
"""


@query("snapshot_diff_counts", oracle=SNAPSHOT_DIFF_ORACLE)
def snapshot_diff_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/diff.py): classify each key across two
    table versions as inserted/deleted/updated/unchanged via one
    NULL-safe full-outer join — the change-set relation behind CDC
    audits and MERGE debugging. Versions are simulated from orders by
    key filters + a price perturbation."""
    from lakehouse_architecture_spark.operators.diff import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 100.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    d = snapshot_diff(old, new, ["o_orderkey"])
    return (
        d.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("change_type")
    )


@query(
    "orders_pareto_concentration",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents
  FROM orders GROUP BY o_custkey
),
t AS (SELECT SUM(rev_cents) AS total, COUNT(*) AS n_customers FROM rev),
c AS (
  SELECT SUM(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS cum,
         ROW_NUMBER() OVER (ORDER BY rev_cents DESC, o_custkey) AS rnk
  FROM rev
)
SELECT t.n_customers,
       MIN(CASE WHEN cum * 100 >= total * 50 THEN rnk END) AS n_top_for_50pct,
       MIN(CASE WHEN cum * 100 >= total * 80 THEN rnk END) AS n_top_for_80pct,
       MIN(CASE WHEN cum * 100 >= total * 95 THEN rnk END) AS n_top_for_95pct,
       CAST(t.total AS BIGINT) AS total_revenue_cents
FROM c, t
GROUP BY t.n_customers, t.total
""",
)
def orders_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) report: how many top customers
    account for 50 / 80 / 95 % of total order revenue — the curve
    behind every "whales vs long tail" decision. Integer-cents compared
    surface (float rule).

    The oracle ranks with one GLOBAL cumulative window; this plan does
    NOT (a global window collapses to a single task at scale) — it
    goes through the reusable two-phase prefix-sum operator
    (operators/quantiles.global_desc_rank_cumsum): coarse value-band
    bucketing, cross-bucket running totals over the bucket aggregate,
    rank/cumsum windows partitioned BY bucket. floor-bucketing is
    monotonic, so the per-customer cum/rank reproduce the oracle's
    global window exactly while every window input is either
    bucket-count sized or one bucket's customers."""
    from lakehouse_architecture_spark.operators.quantiles import (
        global_desc_rank_cumsum,
    )

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    )
    per = global_desc_rank_cumsum(rev, "rev_cents", "o_custkey")
    tot = rev.agg(
        F.sum("rev_cents").alias("total"), F.count(F.lit(1)).alias("n_customers")
    )
    need = lambda pct: F.min(  # noqa: E731
        F.when(F.col("cum") * 100 >= F.col("total") * pct, F.col("rnk"))
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .groupBy("n_customers", "total")
        .agg(
            need(50).alias("n_top_for_50pct"),
            need(80).alias("n_top_for_80pct"),
            need(95).alias("n_top_for_95pct"),
        )
        .select(
            "n_customers",
            "n_top_for_50pct",
            "n_top_for_80pct",
            "n_top_for_95pct",
            F.col("total").cast("long").alias("total_revenue_cents"),
        )
    )


@query(
    "orders_monthly_growth",
    oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1
)
SELECT month, n_orders, rev_cents,
       LAG(rev_cents) OVER (ORDER BY month) AS prev_rev_cents,
       ROUND(
         (CAST(rev_cents AS DOUBLE) - LAG(rev_cents) OVER (ORDER BY month))
           / LAG(rev_cents) OVER (ORDER BY month), 6) AS growth_rate
FROM m
""",
)
def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: LAG over the MONTHLY aggregate
    — the growth-rate reporting shape. The global window is safe here
    by construction: its input is the month relation (range-length
    rows, data-volume independent), the one case where an
    unpartitioned window is the right plan. Revenue in exact integer
    cents; the growth ratio divides exact ints (identical IEEE result
    on both engines) and rounds only in the projection."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents"),
    )
    w = Window.orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return m.select(
        "month",
        "n_orders",
        "rev_cents",
        prev.alias("prev_rev_cents"),
        F.round(
            (F.col("rev_cents").cast("double") - prev) / prev, 6
        ).alias("growth_rate"),
    )
