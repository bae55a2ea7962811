"""Advanced relational coverage: non-equi (range/theta) joins, full
outer join, ntile, grouping sets through the SQL API, per-group OLS,
and the approximate-sketch variants (rows-only by contract).

Two queries here are deliberately written with ``spark.sql`` over temp
views instead of the DataFrame API: the engine exposes both surfaces
(SURVEY §3.2 — notebook users get the same Catalyst plans either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.regression import fit_per_group
from ..sources.readers import load_table
from .catalog import register
from .extensions import ASOF_EVENTS_ORDERS_SQL, asof_join_events_orders


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "range_join_value_bands",
    sql="""
    WITH bands AS (
        SELECT * FROM (VALUES
            ('tiny',   0.0,   50.0),
            ('small',  50.0,  150.0),
            ('medium', 150.0, 300.0),
            ('big',    300.0, 1000.0)) AS t(band, lo, hi))
    SELECT b.band,
           CAST(count(e.event_id) AS BIGINT) AS n,
           round(sum(e.value), 2)            AS total_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    ORDER BY b.band
    """,
    doc="range/theta join (§2.3): events banded by value interval — "
    "broadcast-nested-loop on a 4-row literal dimension; the general "
    "non-equi join surface the reference's date-range schema implies.",
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("tiny", 0.0, 50.0), ("small", 50.0, 150.0),
         ("medium", 150.0, 300.0), ("big", 300.0, 1000.0)],
        "band string, lo double, hi double",
    )
    return (
        e.join(
            F.broadcast(bands),
            (e.value >= bands.lo) & (e.value < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("event_id").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("band")
    )


@register(
    "full_outer_join_daily",
    sql="""
    WITH ev AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1),
    od AS (
        SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00' GROUP BY 1)
    SELECT coalesce(ev.day, od.day)            AS day,
           CAST(coalesce(ev.n_events, 0) AS BIGINT) AS n_events,
           CAST(coalesce(od.n_orders, 0) AS BIGINT) AS n_orders
    FROM ev FULL OUTER JOIN od ON ev.day = od.day
    ORDER BY day
    """,
    doc="full outer join: daily event counts vs recent order counts — "
    "days present on either side survive with zero-filled other side.",
)
def full_outer_join_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n_events"))
    )
    od = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        ev.join(od, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
        )
        .orderBy("day")
    )


@register(
    "ntile_customer_quartiles",
    sql="""
    WITH q AS (
        SELECT c_custkey, c_acctbal,
               CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
        FROM customer)
    SELECT quartile,
           CAST(count(*) AS BIGINT)   AS n,
           round(min(c_acctbal), 2)   AS lo,
           round(max(c_acctbal), 2)   AS hi
    FROM q GROUP BY quartile ORDER BY quartile
    """,
    doc="ntile window: customers quartiled by account balance "
    "(deterministic tie-break on key).",
)
def ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_custkey", "c_acctbal", F.ntile(4).over(w).cast("int").alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
        .orderBy("quartile")
    )


@register(
    "grouping_sets_sql",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="explicit GROUPING SETS via the spark.sql surface (same Catalyst "
    "plan as the DataFrame rollup/cube queries) — demonstrates the SQL "
    "API entry point (SURVEY §3.2).",
)
def grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    # per-sf_dir view name: no collision if several sf dirs share a session
    view = "lineitem_gs_" + re.sub(r"\W", "_", sf_dir).strip("_")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               round(sum(l_extendedprice), 2) AS total_price
        FROM {view}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """
    )


@register(
    "range_frame_window",
    sql="""
    WITH seq AS (
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('day', DATE '1995-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS day_no
        FROM orders)
    SELECT o_custkey, o_orderkey,
           CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY day_no
                RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS orders_in_30d
    FROM seq
    ORDER BY o_custkey, o_orderkey
    """,
    doc="RANGE-framed window (value-based frame, vs the ROWS frames "
    "elsewhere): per customer, how many orders landed in the trailing "
    "30-day value window of each order — missing days widen the frame "
    "correctly, which a ROWS frame would get wrong.",
)
def range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    seq = o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).cast("bigint").alias("day_no"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day_no").rangeBetween(-30, 0)
    return (
        seq.select(
            "o_custkey",
            "o_orderkey",
            F.count("*").over(w).alias("orders_in_30d"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "correlated_subqueries_sql",
    sql="""
    SELECT o.o_orderkey, round(o.o_totalprice, 2) AS total_price
    FROM orders o
    WHERE o.o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
    ORDER BY o.o_orderkey
    """,
    doc="SQL-surface correlated subqueries: a correlated scalar subquery "
    "(above the customer's own average) and a correlated EXISTS, both "
    "decorrelated by Catalyst into aggregate+join / semi-join — no "
    "per-row re-execution.",
)
def correlated_subqueries_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    view_o = "orders_cs_" + re.sub(r"\W", "_", sf_dir).strip("_")
    view_l = "lineitem_cs_" + re.sub(r"\W", "_", sf_dir).strip("_")
    _t(spark, sf_dir, "orders").createOrReplaceTempView(view_o)
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView(view_l)
    return spark.sql(
        f"""
        SELECT o.o_orderkey, round(o.o_totalprice, 2) AS total_price
        FROM {view_o} o
        WHERE o.o_totalprice > (SELECT avg(o2.o_totalprice) FROM {view_o} o2
                                WHERE o2.o_custkey = o.o_custkey)
          AND EXISTS (SELECT 1 FROM {view_l} l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        ORDER BY o.o_orderkey
        """
    )


@register(
    "join_strategy_hints",
    sql="""
    SELECT n.n_nationkey, n.n_name,
           CAST(count(c.c_custkey) AS BIGINT) AS n_customers,
           round(sum(c.c_acctbal), 2)         AS total_acctbal
    FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey, n.n_name
    ORDER BY n.n_nationkey
    """,
    doc="join strategy hints: the same equi-join forced to SHUFFLE_HASH "
    "(build the small side's hash table per partition — no sort, no "
    "broadcast). Catalyst obeys hints over its own choice; the plan test "
    "asserts ShuffledHashJoin appears. Result is strategy-independent.  "
    "Demonstrated on the BOUNDED nation dimension: SHJ's build side "
    "cannot spill, so pinning the hint on an sf-scaling relation is a "
    "size cliff (proven to die at 100x — NOTES) and is banned by "
    "tests/test_broadcast_guard.py.",
)
def join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded: 25 nations by TPC-H spec — SHJ build side cannot spill,
    # so only a bounded relation may carry this hint
    n = _t(spark, sf_dir, "nation").hint("shuffle_hash")
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "per_group_ols",
    sql="""
    SELECT l_returnflag,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS b0,
           round(regr_slope(l_extendedprice, l_quantity), 4)     AS b1,
           CAST(count(*) AS BIGINT)                              AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="per-group OLS (SURVEY U4): the Lambda's global model fitted "
    "per l_returnflag as ONE grouped aggregation via the closed form "
    "(covar_pop/var_pop) — no loop over groups, scales to any group "
    "count. Oracle uses regr_slope/regr_intercept (identical algebra).",
)
def per_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    fitted = fit_per_group(li, "l_returnflag", "l_quantity", "l_extendedprice")
    return fitted.select(
        "l_returnflag",
        F.round("b0", 4).alias("b0"),
        F.round("b1", 4).alias("b1"),
        F.col("n").cast("bigint").alias("n"),
    ).orderBy("l_returnflag")


@register(
    "approx_sketches",
    sql="""
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)  AS exact_parts,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS parts_within_rse,
           TRUE AS orders_within_rse,
           TRUE AS median_within_eps
    FROM lineitem
    """,
    doc="approximate sketches for the 100 TB path: approx_count_distinct "
    "(HyperLogLog++) and percentile_approx (KLL-ish) — constant memory "
    "per group vs the exact variants' expand/sort.  Sketch REGISTERS are "
    "engine-internal, so the oracle checks error CONTRACTS in-plan: the "
    "exact distinct counts (hash-compared against DuckDB) plus booleans "
    "asserting each approximation landed inside its published bound "
    "(3x the default 5% rsd for HLL++; the exact p45-p55 bracket for "
    "the approx median, whose default accuracy=1e4 keeps rank error "
    "~1e-4*N).  The DuckDB twin emits TRUE for each bound — a sketch "
    "drifting out of contract flips the hash.  hll_error_report / "
    "cms_error_report rebuild portable registers bit-exactly; this "
    "query covers Spark's BUILT-IN sketch aggregates.",
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # the sketch aggregates and each exact reference run as SEPARATE
    # one-row aggregations crossJoined together (all bounded): putting
    # TWO count(DISTINCT) columns plus exact percentiles into one agg
    # makes Catalyst plan an Expand (x3 row multiplication) feeding a
    # single giant ObjectHashAggregate — measured 12.6 s at sf0.1 vs
    # ~1 s for this shape, each branch a plain two-phase aggregation
    # over one pruned column
    sketch = li.agg(
        F.approx_count_distinct("l_partkey").alias("ap"),
        F.approx_count_distinct("l_orderkey").alias("ao"),
        F.percentile_approx("l_extendedprice", 0.5).alias("am"),
        F.expr("percentile(l_extendedprice, array(0.45, 0.55))").alias("p4555"),
    )
    # bounded: each is a 1-row global aggregate
    agg = (
        sketch.crossJoin(F.broadcast(li.agg(F.countDistinct("l_partkey").alias("ep"))))
        .crossJoin(F.broadcast(li.agg(F.countDistinct("l_orderkey").alias("eo"))))
        .withColumn("p45", F.element_at("p4555", 1))
        .withColumn("p55", F.element_at("p4555", 2))
    )
    return agg.select(
        F.col("ep").cast("bigint").alias("exact_parts"),
        F.col("eo").cast("bigint").alias("exact_orders"),
        (F.abs(F.col("ap") - F.col("ep")) <= 0.15 * F.col("ep")).alias(
            "parts_within_rse"
        ),
        (F.abs(F.col("ao") - F.col("eo")) <= 0.15 * F.col("eo")).alias(
            "orders_within_rse"
        ),
        ((F.col("am") >= F.col("p45")) & (F.col("am") <= F.col("p55"))).alias(
            "median_within_eps"
        ),
    )


@register(
    "ml_linear_regression",
    sql="""
    SELECT round(regr_intercept(l_extendedprice, l_quantity), 4) AS b0,
           round(regr_slope(l_extendedprice, l_quantity), 4)     AS b1,
           TRUE AS mllib_b0_agrees,
           TRUE AS mllib_b1_agrees
    FROM lineitem
    """,
    doc="pyspark.ml LinearRegression variant of the flagship (SURVEY U2): "
    "same model through the MLlib estimator API.  With one feature and "
    "regParam=0 the default 'auto' solver is the NORMAL-EQUATIONS path "
    "(WeightedLeastSquares) — a closed form, not an iterative descent — "
    "so it agrees with the covar/var closed form to ~1e-9 relative.  The "
    "hashed numeric columns come from the closed form (the same algebra "
    "as DuckDB's regr_*); the ESTIMATOR output is oracle-checked through "
    "an explicit-tolerance boolean (1e-6 relative — far above solver "
    "noise, far below any real bug), never by exact equality of two "
    "independently-rounded doubles from different solvers, which would "
    "flip the hash whenever a coefficient landed within solver noise of "
    "a rounding boundary.",
)
def ml_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.regression import ml_linear_regression as fit

    li = _t(spark, sf_dir, "lineitem")
    xy = li.select(F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y"))
    model = fit(xy, "x", "y")
    b1 = F.covar_pop("x", "y") / F.var_pop("x")
    closed = xy.agg(b1.alias("cb1"), (F.avg("y") - b1 * F.avg("x")).alias("cb0"))

    def agrees(closed_col: str, fitted: float):
        return F.abs(F.col(closed_col) - F.lit(fitted)) <= F.lit(1e-6) * F.greatest(
            F.abs(F.col(closed_col)), F.lit(1.0)
        )

    return closed.select(
        # round Spark-side (F.round is half-up like DuckDB's round;
        # Python round is banker's and would diverge on .xxxx5 values)
        F.round("cb0", 4).alias("b0"),
        F.round("cb1", 4).alias("b1"),
        agrees("cb0", float(model.intercept)).alias("mllib_b0_agrees"),
        agrees("cb1", float(model.coefficients[0])).alias("mllib_b1_agrees"),
    )


@register(
    "salted_join_agg",
    sql="""
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
    doc="skew-mitigation equivalence: the salted join (build side "
    "replicated 8 ways, probe salted by order key) must produce exactly "
    "the rows of the plain equi-join — the oracle IS the plain join. "
    "Salting only changes task placement, never results.",
)
def salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    joined = salted_join(o, c, "custkey", salt_factor=8, probe_salt_col="o_orderkey")
    return (
        joined.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "asof_join_pandas_variant",
    sql=ASOF_EVENTS_ORDERS_SQL,
    doc="the events-to-orders as-of join under its older name, kept "
    "registered so existing callers of queries() still find it. Served "
    "by asof_join_events_orders, so rows, schema and oracle are "
    "identical.",
)
def asof_join_pandas_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_join_events_orders(spark, sf_dir)


@register(
    "merge_upsert_summary",
    sql="""
    WITH base AS (
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS base_price
        FROM orders WHERE o_orderkey % 10 <> 0),
    updates AS (
        SELECT o_orderkey,
               CAST(o_totalprice AS DECIMAL(18,2))
                 * CAST(1.1 AS DECIMAL(3,1)) AS new_price
        FROM orders WHERE o_orderkey % 3 = 0),
    merged AS (
        SELECT coalesce(u.new_price, CAST(b.base_price AS DECIMAL(22,3)))
                 AS final_price,
               CASE WHEN b.o_orderkey IS NULL THEN 'inserted'
                    WHEN u.o_orderkey IS NULL THEN 'unchanged'
                    ELSE 'updated' END AS action
        FROM base b FULL OUTER JOIN updates u
          ON u.o_orderkey = b.o_orderkey)
    SELECT action,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(final_price) AS DOUBLE), 2) AS total_price
    FROM merged
    GROUP BY action
    """,
    doc="warehouse MERGE/upsert semantics as one lazy plan: a base "
    "snapshot full-outer-joined to an update set, rows classified "
    "inserted/updated/unchanged and re-priced with coalesce — the "
    "batch equivalent of MERGE INTO (the reference's per-row INSERT "
    "loop, F:598-657, done set-wise). One key-partitioned shuffle; at "
    "100 TB both sides bucket by the merge key so the join is "
    "exchange-free (write_bucketed_table). Prices go through exact "
    "DECIMAL arithmetic (double round(x*1.1) half-cases diverge "
    "between engines); only the final exact sum is cast to double.",
)
def merge_upsert_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("base_price"),
    )
    updates = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("u_orderkey"),
        (
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.1").cast("decimal(3,1)")
        ).alias("new_price"),
    )
    merged = base.join(
        updates, F.col("o_orderkey") == F.col("u_orderkey"), "full"
    ).select(
        F.coalesce(
            "new_price", F.col("base_price").cast("decimal(22,3)")
        ).alias("final_price"),
        F.when(F.col("o_orderkey").isNull(), "inserted")
        .when(F.col("u_orderkey").isNull(), "unchanged")
        .otherwise("updated")
        .alias("action"),
    )
    return merged.groupBy("action").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("final_price").cast("double"), 2).alias("total_price"),
    )


@register(
    "median_mode_stats",
    sql="""
    WITH status_counts AS (
        SELECT l_returnflag, l_linestatus, count(*) AS c
        FROM lineitem GROUP BY l_returnflag, l_linestatus),
    mode_pick AS (
        SELECT l_returnflag, l_linestatus AS mode_status
        FROM status_counts
        QUALIFY row_number() OVER (PARTITION BY l_returnflag
                                   ORDER BY c DESC, l_linestatus ASC) = 1)
    SELECT s.l_returnflag,
           round(median(s.l_quantity), 3) AS median_qty,
           round(median(s.l_extendedprice), 3) AS median_price,
           m.mode_status
    FROM lineitem s JOIN mode_pick m USING (l_returnflag)
    GROUP BY s.l_returnflag, m.mode_status
    """,
    doc="exact interpolated median (percentile_cont 0.5 semantics in "
    "both engines) and deterministic mode (ties to the smallest value "
    "— Spark mode(deterministic=True), oracle row_number tie-break) "
    "per return flag (medians rounded to 3 — midpoints of 2-decimal "
    "prices end in .xx5, so round-to-2 sits ON the half boundary). "
    "Median needs a per-group sort of the values; at "
    "scale prefer approx_percentile (approx_sketches) unless exactness "
    "is contractual.",
)
def median_mode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_quantity"), 3).alias("median_qty"),
            F.round(F.median("l_extendedprice"), 3).alias("median_price"),
            F.mode("l_linestatus", True).alias("mode_status"),
        )
        .select("l_returnflag", "median_qty", "median_price", "mode_status")
    )


@register(
    "summary_stats_wide",
    sql="""
    WITH agg AS (SELECT
        CAST(count(l_quantity) AS BIGINT) AS qty_n,
        round(avg(l_quantity), 6) AS qty_mean,
        round(stddev_samp(l_quantity), 6) AS qty_std,
        round(min(l_quantity), 2) AS qty_min,
        round(max(l_quantity), 2) AS qty_max,
        CAST(count(l_extendedprice) AS BIGINT) AS price_n,
        round(avg(l_extendedprice), 6) AS price_mean,
        round(stddev_samp(l_extendedprice), 6) AS price_std,
        round(min(l_extendedprice), 2) AS price_min,
        round(max(l_extendedprice), 2) AS price_max,
        CAST(count(l_discount) AS BIGINT) AS disc_n,
        round(avg(l_discount), 6) AS disc_mean,
        round(stddev_samp(l_discount), 6) AS disc_std,
        round(min(l_discount), 2) AS disc_min,
        round(max(l_discount), 2) AS disc_max
        FROM lineitem)
    SELECT col, n, mean, std, min_v, max_v FROM (
        SELECT 'l_quantity' AS col, qty_n AS n, qty_mean AS mean,
               qty_std AS std, qty_min AS min_v, qty_max AS max_v FROM agg
        UNION ALL
        SELECT 'l_extendedprice', price_n, price_mean, price_std,
               price_min, price_max FROM agg
        UNION ALL
        SELECT 'l_discount', disc_n, disc_mean, disc_std,
               disc_min, disc_max FROM agg)
    """,
    doc="one-pass df.describe(): count/mean/stddev/min/max for three "
    "numeric columns computed in a SINGLE aggregation over a single "
    "scan (15 partial aggregates, map-side combined), then unpivoted "
    "to one row per column with stack() — never one pass per column.",
)
def summary_stats_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cols = {
        "l_quantity": "qty",
        "l_extendedprice": "price",
        "l_discount": "disc",
    }
    aggs = []
    for c, p in cols.items():
        aggs += [
            F.count(c).alias(f"{p}_n"),
            F.round(F.avg(c), 6).alias(f"{p}_mean"),
            F.round(F.stddev_samp(c), 6).alias(f"{p}_std"),
            F.round(F.min(c), 2).alias(f"{p}_min"),
            F.round(F.max(c), 2).alias(f"{p}_max"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {p}_n, {p}_mean, {p}_std, {p}_min, {p}_max"
        for c, p in cols.items()
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (col, n, mean, std, min_v, max_v)"
        )
    )


@register(
    "pipe_syntax_pricing",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT)       AS n,
           round(sum(l_quantity), 2)      AS sum_qty,
           round(avg(l_extendedprice), 4) AS avg_price
    FROM lineitem
    WHERE l_quantity < 40
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="SQL PIPE SYNTAX (|>, new surface in Spark 4): the pricing "
    "roll-up written as a linear FROM |> WHERE |> AGGREGATE |> ORDER "
    "pipeline — compiles to the identical plan as the nested form "
    "(same scan pushdown, same partial aggregation), pinned by the "
    "standard-SQL oracle.",
)
def pipe_syntax_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    view = "lineitem_pipe_" + re.sub(r"\W", "_", sf_dir).strip("_")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        FROM {view}
        |> WHERE l_quantity < 40
        |> AGGREGATE CAST(count(*) AS BIGINT)       AS n,
                     round(sum(l_quantity), 2)      AS sum_qty,
                     round(avg(l_extendedprice), 4) AS avg_price
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, sum_qty, avg_price
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


@register(
    "collation_case_insensitive",
    sql="""
    WITH mixed AS (
        SELECT source, lang FROM documents
        UNION ALL
        SELECT source, upper(lang) FROM documents)
    SELECT source,
           CAST(count(DISTINCT lang) AS BIGINT)        AS n_raw,
           CAST(count(DISTINCT lower(lang)) AS BIGINT) AS n_ci
    FROM mixed
    GROUP BY source
    ORDER BY source
    """,
    doc="COLLATION-aware semantics (Spark 4 UTF8_LCASE): distinct "
    "counts over a deliberately case-mixed relation — the collated "
    "count collapses case variants where the raw binary collation "
    "doesn't. The oracle expresses the same semantics via lower() "
    "(collations are engine-specific; UTF8_LCASE == lowercase-fold "
    "for this ASCII domain, which is exactly what the comparison "
    "pins).",
)
def collation_case_insensitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("source", "lang")
    mixed = d.unionAll(d.select("source", F.upper("lang").alias("lang")))
    return (
        mixed.groupBy("source")
        .agg(
            F.countDistinct("lang").cast("bigint").alias("n_raw"),
            F.countDistinct(F.expr("lang COLLATE UTF8_LCASE"))
            .cast("bigint")
            .alias("n_ci"),
        )
        .orderBy("source")
    )


@register(
    "lateral_topk_per_group",
    sql="""
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n,
         LATERAL (SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal
                  FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey
                  ORDER BY c.c_acctbal DESC, c.c_custkey
                  LIMIT 2) t
    ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey
    """,
    doc="correlated LATERAL subquery with LIMIT (Spark 4 lateral-join "
    "decorrelation): top-2 customers by balance per nation written the "
    "SQL-standard way instead of a window.  Catalyst decorrelates the "
    "lateral into a ranked join — same physical shape as the "
    "row_number formulation, so the per-group semantics carry to any "
    "group count.  Deterministic tie-break on c_custkey.",
)
def lateral_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    suffix = re.sub(r"\W", "_", sf_dir).strip("_")
    _t(spark, sf_dir, "nation").createOrReplaceTempView(f"nation_lat_{suffix}")
    _t(spark, sf_dir, "customer").createOrReplaceTempView(f"customer_lat_{suffix}")
    return spark.sql(
        f"""
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation_lat_{suffix} n,
             LATERAL (SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal
                      FROM customer_lat_{suffix} c
                      WHERE c.c_nationkey = n.n_nationkey
                      ORDER BY c.c_acctbal DESC, c.c_custkey
                      LIMIT 2) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey
        """
    )


@register(
    "null_safe_join",
    sql="""
    WITH a AS (
        SELECT nullif(c_mktsegment, 'BUILDING') AS seg,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM customer GROUP BY 1),
    b AS (
        SELECT nullif(c_mktsegment, 'BUILDING') AS seg,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer GROUP BY 1)
    SELECT coalesce(a.seg, '<null>') AS seg, a.n_customers, b.total_bal
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    ORDER BY seg
    """,
    doc="null-safe equality join (<=> / IS NOT DISTINCT FROM): two "
    "aggregates keyed on a deliberately-nulled segment join back "
    "together WITHOUT dropping the NULL group, which a plain equi-join "
    "silently would — the classic silent-data-loss bug in key-nullable "
    "warehouse joins.  Null-safe equality still hash-partitions (NULL "
    "is one key), so the join stays a shuffle/broadcast hash join, not "
    "a nested loop.",
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").withColumn(
        "seg", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    )
    a = c.groupBy("seg").agg(F.count("*").cast("bigint").alias("n_customers"))
    b = c.groupBy("seg").agg(F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
    return (
        a.join(b, a["seg"].eqNullSafe(b["seg"]))
        .select(
            F.coalesce(a["seg"], F.lit("<null>")).alias("seg"),
            "n_customers",
            "total_bal",
        )
        .orderBy("seg")
    )


@register(
    "try_arithmetic",
    sql="""
    WITH t AS (
        SELECT o_orderkey,
               o_totalprice / nullif(o_custkey % 3, 0) AS safe_div,
               TRY_CAST(o_orderpriority AS INT)        AS bad_cast,
               CASE WHEN o_orderkey % 2 = 1 THEN NULL
                    ELSE 9223372036854775807 END       AS overflow_add
        FROM orders)
    SELECT CAST(count(*) AS BIGINT)                      AS n_rows,
           CAST(count(*) - count(safe_div) AS BIGINT)    AS n_div_null,
           CAST(count(bad_cast) AS BIGINT)               AS n_cast_ok,
           CAST(count(*) - count(overflow_add) AS BIGINT) AS n_overflow_null,
           round(sum(safe_div), 2)                       AS sum_safe_div
    FROM t
    """,
    doc="ANSI-safe try_* arithmetic (try_divide / try_cast / try_add): "
    "under ANSI mode these return NULL instead of raising, which is "
    "what a 100 TB batch needs — one malformed row must not kill a "
    "12-hour job.  try_add is probed at int64 max so the overflow "
    "path is exercised, not just divide-by-zero.  The oracle expresses "
    "identical semantics with nullif/TRY_CAST/CASE.",
)
def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    t = o.select(
        F.try_divide("o_totalprice", F.col("o_custkey") % 3).alias("safe_div"),
        F.expr("try_cast(o_orderpriority AS INT)").alias("bad_cast"),
        F.try_add(
            F.lit(9223372036854775807), (F.col("o_orderkey") % 2).cast("long")
        ).alias("overflow_add"),
    )
    return t.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (F.count("*") - F.count("safe_div")).cast("bigint").alias("n_div_null"),
        F.count("bad_cast").cast("bigint").alias("n_cast_ok"),
        (F.count("*") - F.count("overflow_add"))
        .cast("bigint")
        .alias("n_overflow_null"),
        F.round(F.sum("safe_div"), 2).alias("sum_safe_div"),
    )


@register(
    "xml_event_props",
    sql="""
    WITH x AS (
        SELECT '<e><t>' || event_type || '</t><id>' || CAST(event_id AS VARCHAR)
               || '</id></e>' AS xml
        FROM events),
    parsed AS (
        SELECT regexp_extract(xml, '<t>([^<]*)</t>', 1) AS t,
               CAST(regexp_extract(xml, '<id>([0-9]*)</id>', 1) AS BIGINT) AS id
        FROM x)
    SELECT t AS event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(id) AS BIGINT)  AS id_sum
    FROM parsed
    GROUP BY t
    ORDER BY t
    """,
    doc="XML ingestion surface (from_xml, new in Spark 4): events "
    "rendered to XML fragments and parsed back through a typed schema, "
    "then aggregated — proves the schema-projected XML path "
    "round-trips.  from_xml is a JVM-side expression (no UDF); the "
    "oracle parses the same fragments with regexes since DuckDB has "
    "no XML type.",
)
def xml_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    xml = e.select(
        F.concat(
            F.lit("<e><t>"),
            "event_type",
            F.lit("</t><id>"),
            F.col("event_id").cast("string"),
            F.lit("</id></e>"),
        ).alias("xml")
    )
    parsed = xml.select(
        F.from_xml("xml", "t string, id long").alias("s")
    ).select("s.t", "s.id")
    return (
        parsed.groupBy(F.col("t").alias("event_type"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("id").cast("bigint").alias("id_sum"),
        )
        .orderBy("event_type")
    )
