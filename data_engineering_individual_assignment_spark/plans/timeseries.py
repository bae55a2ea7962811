"""Time-series warehouse shapes over the events log: calendar-spine
gap filling with forward-fill interpolation, and a type-2
slowly-changing-dimension (SCD2) history build.

Scale design:
- The date spine is GENERATED on-executor (``sequence`` + ``explode``
  from a 1-row min/max aggregate broadcast) — no driver-side date loop,
  no collected bounds.
- Forward fill is ``last(ignoreNulls)`` over a per-key ordered window —
  one exchange per key, linear in rows.
- SCD2 collapses consecutive same-state rows with ``lag`` then derives
  validity intervals with ``lead`` — two windows over the SAME
  (user_id, ts) ordering, so Catalyst plans ONE exchange + sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .catalog import register


@register(
    "gap_fill_daily",
    sql="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               round(avg(value), 6) AS avg_value
        FROM events GROUP BY event_type, day),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
    spine AS (
        SELECT t.event_type, CAST(u.d AS DATE) AS day
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN (SELECT unnest(generate_series(d0, d1,
                                  INTERVAL 1 DAY)) AS d
                    FROM bounds) u),
    filled AS (
        SELECT s.event_type, s.day,
               coalesce(d.n_events, 0) AS n_events,
               last_value(d.avg_value IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS avg_value_ff
        FROM spine s
        LEFT JOIN daily d ON d.event_type = s.event_type
                         AND d.day = s.day)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_events,
           round(avg_value_ff, 6) AS avg_value_ff
    FROM filled
    """,
    doc="calendar-spine gap filling: per-event-type daily counts joined "
    "to a generated min..max date spine (sequence+explode from a 1-row "
    "broadcast bounds aggregate — no driver loop), missing days "
    "zero-filled and the daily average forward-filled with "
    "last(ignoreNulls) over the per-type ordered window.",
)
def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("avg_value", ignorenulls=True).over(w).alias("ff"),
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            F.round("ff", 6).alias("avg_value_ff"),
        )
    )


@register(
    "scd2_user_state_history",
    sql="""
    WITH ordered AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events WHERE user_id < 20),
    runs AS (
        SELECT user_id, event_type AS state, ts AS valid_from_ts
        FROM ordered
        WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, state,
           strftime(valid_from_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           coalesce(strftime(lead(valid_from_ts) OVER (
                        PARTITION BY user_id ORDER BY valid_from_ts),
                    '%Y-%m-%d %H:%M:%S.%f'), 'current') AS valid_to,
           CAST(lead(valid_from_ts) OVER (
                    PARTITION BY user_id ORDER BY valid_from_ts)
                IS NULL AS INT) AS is_current
    FROM runs
    """,
    doc="SCD2 history build: each user's event_type stream collapsed to "
    "state-change runs (lag over (user_id, ts) detects transitions), "
    "then lead() closes each validity interval — the standard type-2 "
    "dimension derivation, two windows sharing one exchange+sort. "
    "user_id < 20 keeps the checked slice small; the plan is "
    "slice-independent.",
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        e.select(
            "user_id",
            F.col("event_type").alias("state"),
            "ts",
            F.lag("event_type").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("state")))
        .select("user_id", "state", F.col("ts").alias("valid_from_ts"))
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_ts")
    nxt = F.lead("valid_from_ts").over(w2)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return runs.select(
        "user_id",
        "state",
        F.date_format("valid_from_ts", fmt).alias("valid_from"),
        F.coalesce(F.date_format(nxt, fmt), F.lit("current")).alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
    )


@register(
    "forward_fill_last_purchase",
    sql="""
    SELECT event_id, user_id,
           round(coalesce(last_value(
               CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0), 2)
               AS last_purchase_value
    FROM events
    ORDER BY event_id
    """,
    doc="forward-fill (last-observation-carried-forward) via "
    "last_value IGNORE NULLS: every event annotated with the user's "
    "most recent purchase value at that point in time (-1 sentinel "
    "before the first purchase). One key-partitioned window — the "
    "sparse-to-dense state propagation used for feature backfill; "
    "the as-of join covers the two-table variant of the same need.",
)
def forward_fill_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return (
        e.select(
            "event_id",
            "user_id",
            F.round(
                F.coalesce(
                    F.last(purchase_val, ignorenulls=True).over(w), F.lit(-1.0)
                ),
                2,
            ).alias("last_purchase_value"),
        )
        .orderBy("event_id")
    )


@register(
    "ewma_daily",
    sql="""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY CAST(ts AS DATE)) AS rn
        FROM events GROUP BY event_type, CAST(ts AS DATE)),
    walk AS (
        SELECT event_type, rn, day, cnt, CAST(cnt AS DOUBLE) AS ewma
        FROM daily WHERE rn = 1
        UNION ALL
        SELECT d.event_type, d.rn, d.day, d.cnt,
               0.3 * d.cnt + 0.7 * w.ewma
        FROM daily d JOIN walk w
          ON d.event_type = w.event_type AND d.rn = w.rn + 1)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
           round(ewma, 4) AS ewma
    FROM walk ORDER BY event_type, day
    """,
    doc="exponentially-weighted moving average of daily counts per type "
    "(alpha=0.3, adjust-free recursion s_i = a*x_i + (1-a)*s_{i-1}) via "
    "grouped-map applyInPandas — the recursion is sequential per key, so "
    "it runs pandas-side after one exchange on the key; day-grain input "
    "keeps each group tiny.  The oracle executes the SAME recursion as a "
    "recursive CTE, so the float trajectory itself is differential-"
    "tested (identical operation order on both engines).",
)
def ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("cnt"))

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        pdf["ewma"] = (
            pdf["cnt"].astype("float64").ewm(alpha=0.3, adjust=False).mean()
        ).round(4)
        return pdf

    out = daily.groupBy("event_type").applyInPandas(
        smooth, schema="event_type string, day date, cnt bigint, ewma double"
    )
    return out.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cnt",
        "ewma",
    ).orderBy("event_type", "day")


@register(
    "temporal_state_join",
    sql="""
    WITH status AS (
        SELECT user_id, event_type AS status, ts, event_id
        FROM events WHERE event_type IN ('signup', 'error')),
    purchases AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'purchase'),
    ranked AS (
        SELECT p.event_id, p.value, s.status,
               row_number() OVER (PARTITION BY p.event_id
                   ORDER BY s.ts DESC, s.event_id DESC) AS rn
        FROM purchases p
        LEFT JOIN status s
          ON s.user_id = p.user_id AND s.ts <= p.ts)
    SELECT coalesce(status, 'none') AS status,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 2) AS total_value
    FROM ranked WHERE rn = 1
    GROUP BY coalesce(status, 'none')
    ORDER BY status
    """,
    doc="temporal (point-in-interval) dimension join: each purchase "
    "joined to the account status (signup/error SCD2 state) VALID AT "
    "purchase time.  A validity-interval join against an SCD2 dimension "
    "is exactly a backward as-of join on (key, valid_from) — so the "
    "plan is the single-shuffle union-merge carry, not a range join; "
    "the oracle runs the naive interval containment + row_number pick.",
)
def temporal_state_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import joins

    e = load_table(spark, sf_dir, "events")
    status = e.where(F.col("event_type").isin("signup", "error")).select(
        F.col("user_id").alias("s_user"),
        F.col("event_type").alias("status"),
        F.col("ts").alias("s_ts"),
        F.col("event_id").alias("s_event_id"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    j = joins.asof_join(
        purchases,
        status,
        left_ts="ts",
        right_ts="s_ts",
        left_by="user_id",
        right_by="s_user",
        tie_break="s_event_id",
        right_cols=["status"],
    )
    return (
        j.groupBy(F.coalesce("status", F.lit("none")).alias("status"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("status")
    )


@register(
    "holt_linear_daily",
    sql="""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY CAST(ts AS DATE)) AS rn
        FROM events GROUP BY event_type, CAST(ts AS DATE)),
    walk AS (
        SELECT d1.event_type, d1.rn, d1.day, d1.x,
               d1.x AS lvl, d2.x - d1.x AS trend
        FROM daily d1 JOIN daily d2
          ON d2.event_type = d1.event_type AND d2.rn = 2
        WHERE d1.rn = 1
        UNION ALL
        SELECT d.event_type, d.rn, d.day, d.x,
               0.5 * d.x + 0.5 * (w.lvl + w.trend),
               0.3 * ((0.5 * d.x + 0.5 * (w.lvl + w.trend)) - w.lvl)
                   + 0.7 * w.trend
        FROM daily d JOIN walk w
          ON d.event_type = w.event_type AND d.rn = w.rn + 1)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(x AS BIGINT) AS cnt,
           lvl AS level,
           trend,
           lvl + trend AS forecast_next
    FROM walk ORDER BY event_type, day
    """,
    doc="Holt double-exponential smoothing (level + linear trend, "
    "alpha=0.5 beta=0.3) of daily event counts per type; "
    "forecast_next = level + trend is the one-step-ahead forecast.  "
    "Same architecture as ewma_daily: collapse to day grain first, "
    "run the per-key sequential recursion in ONE grouped-map pandas "
    "pass (groups are day-count sized), and differential-test the "
    "float trajectory against a recursive CTE executing the "
    "identical operation order (init: level=x1, trend=x2-x1).  The "
    "trajectory is BIT-identical across engines (sequential IEEE "
    "recursion, no parallel-sum reorder), so outputs ship unrounded — "
    "single-day keys are excluded in both dialects (no trend init) — "
    "round() itself is the only cross-engine divergence (Spark "
    "decimal HALF_UP vs DuckDB multiply-then-std::round disagree "
    "within 1 ulp of a half, seen at step 7 of this very series).",
)
def holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("x"))
    # Holt needs two points to initialize the trend (b1 = x2 - x1);
    # single-day keys are excluded in BOTH dialects (the oracle's
    # rn=2 anchor join drops them implicitly)
    daily = daily.withColumn(
        "g_n", F.count("*").over(Window.partitionBy("event_type"))
    ).filter(F.col("g_n") >= 2).drop("g_n")

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        x = pdf["x"].to_numpy()
        n = len(x)
        lvl = [0.0] * n
        trd = [0.0] * n
        lvl[0] = x[0]
        trd[0] = x[1] - x[0]
        for i in range(1, n):
            # identical op order to the recursive-CTE oracle
            lvl[i] = 0.5 * x[i] + 0.5 * (lvl[i - 1] + trd[i - 1])
            trd[i] = 0.3 * (lvl[i] - lvl[i - 1]) + 0.7 * trd[i - 1]
        pdf["level"] = lvl
        pdf["trend"] = trd
        return pdf

    out = daily.groupBy("event_type").applyInPandas(
        smooth,
        schema="event_type string, day date, x double, "
        "level double, trend double",
    )
    return out.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("long").alias("cnt"),
        "level",
        "trend",
        (F.col("level") + F.col("trend")).alias("forecast_next"),
    ).orderBy("event_type", "day")


@register(
    "rolling_distinct_users",
    sql="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM du),
    fanned AS (
        SELECT d.day AS window_end, u.user_id
        FROM days d
        JOIN du u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day)
    SELECT strftime(window_end, '%Y-%m-%d') AS window_end,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM fanned GROUP BY window_end ORDER BY window_end
    """,
    doc="rolling 7-day distinct users (WAU): COUNT DISTINCT over a "
    "sliding window can't be expressed as a window aggregate "
    "(distinct isn't decomposable), so the scalable shape is: "
    "collapse to the DISTINCT (day, user) relation first (one linear "
    "dedup — the only corpus-sized step), fan each day-user row out "
    "to the <=7 window-ends it participates in (a bounded explode, "
    "NOT a range join at row grain), then count distinct per "
    "window-end over the day-grain relation.  Cost: 7x the day-user "
    "relation, independent of raw event volume.",
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    fanned = du.select(
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), 6)
            )
        ).alias("window_end"),
        "user_id",
    )
    # fan-out generates window_ends past the data's last day; keep only
    # window ends that are real days (matches the oracle's days CTE)
    days = du.select(F.col("day").alias("window_end")).distinct()
    return (
        fanned.join(days, "window_end", "left_semi")
        .groupBy("window_end")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(
            F.date_format("window_end", "yyyy-MM-dd").alias("window_end"),
            "wau",
        )
        .orderBy("window_end")
    )


@register(
    "capped_decay_balance",
    sql="""
    WITH RECURSIVE seq AS (
        SELECT o_custkey AS cust, o_totalprice AS amt,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders),
    walk AS (
        SELECT cust, rn, least(500000.0, amt) AS bal
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.cust, s.rn,
               least(500000.0, 0.9 * w.bal + s.amt)
        FROM seq s JOIN walk w ON s.cust = w.cust AND s.rn = w.rn + 1)
    SELECT cust, CAST(max(rn) AS BIGINT) AS n_orders,
           max_by(bal, rn) AS final_balance
    FROM walk GROUP BY cust
    ORDER BY cust
    """,
    doc="capped decaying accumulator per customer: bal_i = "
    "min(cap, 0.9*bal_{i-1} + amount_i) — NON-associative (the cap "
    "absorbs, the decay orders), so no window/aggregate can express "
    "it: the honest shapes are a PARTITION-level segmented scan "
    "(Spark) vs a recursive CTE (oracle) running the identical float "
    "ops — final balances compared unrounded because the sequential "
    "trajectory is bit-identical across engines.  One "
    "repartition(cust) + sortWithinPartitions co-locates and orders "
    "each customer's rows, then a single mapInPandas pass walks every "
    "segment — ~1 Python invocation per PARTITION, not per group "
    "(the applyInPandas form paid ~100k per-group dispatches at "
    "sf0.1: 4x the whole headline suite).  The loyalty-balance / "
    "rate-limiter / token-bucket state pattern at customer grain.",
)
def capped_decay_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").alias("amt"),
        "o_orderdate",
        "o_orderkey",
    )
    # hash-partition on cust (each customer's rows land in ONE task),
    # order the run (cust, date, key) — the scan below just walks runs
    part = o.repartition("cust").sortWithinPartitions(
        "cust", "o_orderdate", "o_orderkey"
    )
    CAP = 500000.0

    def walk_partition(batches):
        # Arrow may hand one partition over as several batches: carry
        # the open segment's state across batch boundaries, flush a
        # customer only when the next one starts (or input ends)
        cur = None
        bal = 0.0
        n = 0
        out_c: list[int] = []
        out_n: list[int] = []
        out_b: list[float] = []
        for pdf in batches:
            for c, a in zip(pdf["cust"].tolist(), pdf["amt"].tolist()):
                if c != cur:
                    if cur is not None:
                        out_c.append(cur)
                        out_n.append(n)
                        out_b.append(bal)
                    cur = c
                    # identical op order to the recursive-CTE oracle
                    bal = min(CAP, a)
                    n = 1
                else:
                    bal = min(CAP, 0.9 * bal + a)
                    n += 1
        if cur is not None:
            out_c.append(cur)
            out_n.append(n)
            out_b.append(bal)
        if out_c:
            yield pd.DataFrame(
                {"cust": out_c, "n_orders": out_n, "final_balance": out_b}
            )

    return part.mapInPandas(
        walk_partition, schema="cust long, n_orders bigint, final_balance double"
    ).orderBy("cust")


@register(
    "stl_decompose_anomalies",
    sql="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY day),
    trended AS (
        SELECT day, x,
               avg(x) OVER (ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   AS trend,
               CAST(count(*) OVER (ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   AS BIGINT) AS wnd
        FROM daily),
    detrended AS (
        SELECT day, x, trend, x - trend AS detr,
               dayofweek(day) AS dow
        FROM trended WHERE wnd = 7),
    seasonal AS (
        SELECT dow, avg(detr) AS s FROM detrended GROUP BY dow),
    resid AS (
        SELECT d.day, d.x, d.trend, s.s,
               d.detr - s.s AS r
        FROM detrended d JOIN seasonal s ON s.dow = d.dow),
    sigma AS (SELECT stddev_pop(r) AS sd FROM resid)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(x AS BIGINT) AS n_events,
           round(trend, 4) AS trend,
           round(s, 4) AS seasonal,
           round(r, 4) AS residual,
           CAST(abs(r) > 3 * (SELECT sd FROM sigma) AS INT) AS is_anomaly
    FROM resid ORDER BY day
    """,
    doc="STL-style seasonal decomposition of the daily event count: "
    "trend = centered 7-day moving average (full windows only), "
    "seasonal = mean detrended value per day-of-week, residual = "
    "x - trend - seasonal, anomaly = |residual| > 3 sigma.  The whole "
    "decomposition is two windows + two tiny aggregates over the "
    "DAY-grain relation — the additive-decomposition anomaly screen "
    "that complements CUSUM (level shifts) and MAD (point outliers) "
    "with seasonality awareness.  Note the day-grain global window "
    "is day-count sized, not row sized.",
)
def stl_decompose_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("double").alias("x")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "x",
        F.avg("x").over(w7).alias("trend"),
        F.count("*").over(w7).alias("wnd"),
    )
    detrended = trended.filter(F.col("wnd") == 7).select(
        "day",
        "x",
        "trend",
        (F.col("x") - F.col("trend")).alias("detr"),
        F.dayofweek("day").alias("dow"),
    )
    seasonal = detrended.groupBy("dow").agg(F.avg("detr").alias("s"))
    # bounded: seasonal is one row per day-of-week (7 rows)
    resid = detrended.join(F.broadcast(seasonal), "dow").select(
        "day", "x", "trend", "s", (F.col("detr") - F.col("s")).alias("r")
    )
    sigma = resid.agg(F.stddev_pop("r").alias("sd"))
    return (
        resid.crossJoin(F.broadcast(sigma))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("x").cast("long").alias("n_events"),
            F.round("trend", 4).alias("trend"),
            F.round("s", 4).alias("seasonal"),
            F.round("r", 4).alias("residual"),
            (F.abs(F.col("r")) > 3 * F.col("sd")).cast("int").alias(
                "is_anomaly"
            ),
        )
        .orderBy("day")
    )


@register(
    "state_dwell_times",
    sql="""
    WITH seq AS (
        SELECT user_id, event_type, ts,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_ts
        FROM events),
    dwell AS (
        SELECT event_type,
               epoch_us(next_ts) - epoch_us(ts) AS us
        FROM seq WHERE next_ts IS NOT NULL)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(us) // 1000000 AS BIGINT) AS total_secs,
           round(CAST(avg(us) AS DOUBLE) / 1000000, 4) AS avg_secs,
           round(CAST(max(us) AS DOUBLE) / 1000000, 1) AS max_secs
    FROM dwell GROUP BY event_type ORDER BY event_type
    """,
    doc="duration-weighted state analytics: each event opens a 'state' "
    "that lasts until the user's next event (lead over the per-user "
    "timeline — one keyed exchange), so per-type dwell totals answer "
    "'where do users SPEND TIME', not 'what do they do most' — the "
    "two rankings differ whenever frequent states are short-lived.  "
    "Durations are exact MICROSECOND diffs in both dialects "
    "(timestampdiff(MICROSECOND) / epoch_us): DuckDB's "
    "date_diff('second') counts boundary CROSSINGS, not elapsed "
    "seconds, and Spark's timestampdiff(SECOND) truncates — at "
    "sub-second grain they disagree; microseconds are exact.",
)
def state_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", "ts", F.lead("ts").over(w).alias("next_ts")
    ).filter(F.col("next_ts").isNotNull())
    dwell = seq.select(
        "event_type",
        F.expr("timestampdiff(MICROSECOND, ts, next_ts)").alias("us"),
    )
    return (
        dwell.groupBy("event_type")
        .agg(
            F.count("*").alias("n_intervals"),
            F.expr("sum(us) div 1000000").alias("total_secs"),
            F.round(F.avg("us") / 1000000, 4).alias("avg_secs"),
            F.round(F.max("us").cast("double") / 1000000, 1).alias("max_secs"),
        )
        .orderBy("event_type")
    )
