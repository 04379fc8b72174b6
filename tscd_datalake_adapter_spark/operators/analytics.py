"""Time-series / monitoring / data-quality analytics (events + TPC-H star).

Production-pipeline shapes that sit beside the LLM operators: trailing-
window anomaly scores, grouped-map EWMA smoothing, exact grouped medians
via bounded value histograms, pivot (wide) aggregation, decimal-exact
correlation, binned interval-overlap joins, leakage-safe temporal splits,
and a data-quality expectation suite. Every query is DuckDB-oracle-exact;
determinism recipes per docstring (integer-derived statistics wherever a
float fold would be partition-order-dependent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tscd_datalake_adapter_spark.functions import (
    bounded_fold,
    checkpoint_bounded,
    oracle_dec_sum,
    dec_sum,
    h60,
    oracle_h60,
    persist_corpus,
    spread,
)
from tscd_datalake_adapter_spark.operators import register
from tscd_datalake_adapter_spark.sources import load_table

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


@register(
    "anomaly_zscore_daily",
    tags=("events", "analytics"),
    oracle="""
    WITH daily AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    w AS (
        SELECT event_type, day, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s1,
               sum(c * c) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s2,
               count(c) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n
        FROM daily
    )
    SELECT event_type, day, c AS n_events,
           round((CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / 7.0)
                 / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                         * CAST(s1 AS DOUBLE) / 7.0) / 6.0), 6) AS zscore,
           CASE WHEN abs((CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / 7.0)
                 / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                         * CAST(s1 AS DOUBLE) / 7.0) / 6.0)) > 2.0
                THEN true ELSE false END AS is_anomaly
    FROM w
    WHERE n = 7
      AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
           * CAST(s1 AS DOUBLE) / 7.0) > 0
    ORDER BY event_type, day
    """,
)
def anomaly_zscore_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: per event type, each day's count
    is z-scored against the mean/stddev of the PRECEDING 7 days (the frame
    excludes the current row, so a spike can't mask itself). |z| > 2 flags
    an anomaly — the standard metrics-monitoring shape.

    Determinism: the window statistics are INTEGER sums (s1 = Σc,
    s2 = Σc²) over the frame; mean and sample variance are derived from
    them in double with identical operand order in both engines — no
    engine-native ``stddev`` whose accumulation order could differ.
    Scale: the window runs over the (event_type, day) AGGREGATE — bounded
    by types × days, never by raw event volume — so the per-partition sort
    is trivial at any corpus size."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("c"))
    frame = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    )
    w = daily.select(
        "event_type",
        "day",
        "c",
        F.sum("c").over(frame).alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(frame).alias("s2"),
        F.count("c").over(frame).alias("n"),
    )
    mean = F.col("s1").cast("double") / 7.0
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / 7.0
    ) / 6.0
    z = (F.col("c").cast("double") - mean) / F.sqrt(var)
    return (
        w.where((F.col("n") == 7) & (var * 6.0 > 0))
        .select(
            "event_type",
            "day",
            F.col("c").alias("n_events"),
            F.round(z, 6).alias("zscore"),
            (F.abs(z) > 2.0).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "ewma_user_value",
    tags=("events", "analytics", "udf"),
    oracle=f"""
    WITH seq AS (
        SELECT user_id, CAST(value AS DOUBLE) AS v, ts, event_id
        FROM events WHERE user_id < 40 AND value IS NOT NULL
    ),
    folded AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               list_reduce(list(v ORDER BY ts, event_id),
                           (a, x) -> a * 0.75 + x * 0.25) AS ewma,
               last(v ORDER BY ts, event_id) AS last_value
        FROM seq GROUP BY user_id
    )
    SELECT user_id, n_events,
           round(ewma, 6) AS ewma,
           round(last_value, 6) AS last_value
    FROM folded ORDER BY user_id
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha = 0.25) of event values — the grouped-map
    stateful-fold shape: ``applyInPandas`` streams each user's ordered
    history through a Python fold s := 0.75·s + 0.25·x (seeded with the
    first value), the canonical pattern for per-entity recursions that
    window frames cannot express (each output depends on ALL priors).

    Cross-engine exactness: DuckDB's ``list_reduce`` performs the IDENTICAL
    left fold over the identical (ts, event_id)-ordered doubles — same
    multiply/add sequence, same IEEE rounding — so even this iterative
    float recursion sits in the exact gate. Scale: state is one double per
    user; groups are hash-distributed by user_id, the same shuffle any
    per-entity aggregation pays. 100 TB caveat: a single user's history
    must fit one Arrow batch group — bound it with history windows in a
    real deployment."""
    import pandas as pd

    e = (
        load_table(spark, sf_dir, "events")
        .where((F.col("user_id") < 40) & F.col("value").isNotNull())
        .select("user_id", F.col("value").cast("double").alias("v"),
                "ts", "event_id")
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        vals = pdf["v"].tolist()
        s = vals[0]
        for x in vals[1:]:
            s = s * 0.75 + x * 0.25
        # Emit UNROUNDED doubles: Python round() is half-to-even while
        # DuckDB round() is half-away-from-zero — a dyadic value landing
        # exactly on a 6-decimal half would diverge. F.round below is
        # HALF_UP, matching DuckDB for these values.
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(vals)],
                "ewma": [s],
                "last_value": [vals[-1]],
            }
        )

    return (
        e.groupBy("user_id")
        .applyInPandas(
            fold,
            "user_id long, n_events long, ewma double, last_value double",
        )
        .select(
            "user_id",
            "n_events",
            F.round("ewma", 6).alias("ewma"),
            F.round("last_value", 6).alias("last_value"),
        )
        .orderBy("user_id")
    )


@register(
    "median_ship_delay_histogram",
    tags=("tpch", "analytics"),
    oracle="""
    WITH delays AS (
        SELECT l.l_returnflag AS returnflag,
               CAST(datediff('day', o.o_orderdate, l.l_shipdate)
                    AS BIGINT) AS delay_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    hist AS (
        SELECT returnflag, delay_days, CAST(count(*) AS BIGINT) AS cnt
        FROM delays GROUP BY 1, 2
    ),
    cum AS (
        SELECT returnflag, delay_days, cnt,
               sum(cnt) OVER (PARTITION BY returnflag ORDER BY delay_days
                              ROWS UNBOUNDED PRECEDING) AS cum_cnt,
               sum(cnt) OVER (PARTITION BY returnflag) AS n
        FROM hist
    )
    SELECT returnflag,
           CAST(min(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum_cnt * 2 >= n THEN delay_days END)
                AS BIGINT) AS p50_delay,
           CAST(min(CASE WHEN cum_cnt * 10 >= 9 * n THEN delay_days END)
                AS BIGINT) AS p90_delay
    FROM cum GROUP BY returnflag ORDER BY returnflag
    """,
)
def median_ship_delay_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped p50/p90 of order→ship delay via the bounded-value-
    histogram pattern (``length_percentile_filter``'s grouped sibling):
    aggregate counts per (group, integer day-delay), then walk the
    cumulative histogram — percentile_disc semantics (smallest value with
    cum_count ≥ ⌈p·n⌉, expressed integer-only as cum·2 ≥ n / cum·10 ≥ 9n).

    Scale: exact percentiles without ``percentile()``'s buffer-every-value
    aggregation state — the shuffle is (groups × distinct day-delays),
    bounded by the delay value domain (~5k days) regardless of row count;
    each window partition is one group's bounded histogram."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    delays = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_returnflag").alias("returnflag"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("long")
        .alias("delay_days"),
    )
    hist = delays.groupBy("returnflag", "delay_days").agg(
        F.count("*").alias("cnt")
    )
    wcum = (
        Window.partitionBy("returnflag")
        .orderBy("delay_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("returnflag")
    cum = hist.select(
        "returnflag",
        "delay_days",
        F.sum("cnt").over(wcum).alias("cum_cnt"),
        F.sum("cnt").over(wall).alias("n"),
    )
    return (
        cum.groupBy("returnflag")
        .agg(
            F.min("n").cast("long").alias("n"),
            F.min(
                F.when(
                    F.col("cum_cnt") * 2 >= F.col("n"), F.col("delay_days")
                )
            )
            .cast("long")
            .alias("p50_delay"),
            F.min(
                F.when(
                    F.col("cum_cnt") * 10 >= 9 * F.col("n"),
                    F.col("delay_days"),
                )
            )
            .cast("long")
            .alias("p90_delay"),
        )
        .orderBy("returnflag")
    )


@register(
    "pivot_status_revenue",
    tags=("tpch", "analytics"),
    oracle=f"""
    SELECT l_returnflag,
           {oracle_dec_sum(
               "CASE WHEN l_linestatus = 'F' "
               "THEN l_extendedprice * (1 - l_discount) END")} AS rev_f,
           {oracle_dec_sum(
               "CASE WHEN l_linestatus = 'O' "
               "THEN l_extendedprice * (1 - l_discount) END")} AS rev_o,
           CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END)
                AS BIGINT) AS n_f,
           CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END)
                AS BIGINT) AS n_o
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long → wide): revenue and row counts per returnflag, spread
    across linestatus columns. The pivot VALUES are declared explicitly
    (['F', 'O']) — omitting them makes Spark run a distinct-values
    collection job at plan time, a hidden driver round-trip this registry
    bans. Decimal-exact money sums; the oracle is the equivalent
    conditional aggregation (what Catalyst lowers pivot to)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            dec_sum(rev).alias("rev"),
            # count(lit(1)): Spark disallows count(*) inside PIVOT aggs
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    # Empty pivot cells: Spark yields NULL for count over a missing
    # (returnflag, linestatus) combination while the oracle's
    # count(CASE ...) yields 0 — coalesce the counts (revenue sums are
    # NULL-on-empty in both engines and stay as-is).
    return wide.select(
        "l_returnflag",
        F.col("F_rev").alias("rev_f"),
        F.col("O_rev").alias("rev_o"),
        F.coalesce(F.col("F_n"), F.lit(0)).cast("long").alias("n_f"),
        F.coalesce(F.col("O_n"), F.lit(0)).cast("long").alias("n_o"),
    ).orderBy("l_returnflag")


@register(
    "corr_quantity_price",
    tags=("tpch", "analytics"),
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               {oracle_dec_sum('l_quantity')} AS sx,
               {oracle_dec_sum('l_extendedprice')} AS sy,
               {oracle_dec_sum('l_quantity * l_quantity')} AS sxx,
               {oracle_dec_sum('l_extendedprice * l_extendedprice')} AS syy,
               {oracle_dec_sum('l_quantity * l_extendedprice')} AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS corr_qty_price,
           round((n * sxy - sx * sy) / (n * (n - 1.0)), 6)
               AS covar_samp_qty_price
    FROM s ORDER BY l_returnflag
    """,
)
def corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance of quantity vs price per
    returnflag — computed from five DECIMAL-EXACT sums (Σx, Σy, Σx², Σy²,
    Σxy) rather than engine-native ``corr``/``covar_samp``, whose
    co-moment accumulation order differs between engines and across
    partition counts. The derived doubles see identical operands in an
    identical order, so the result is bit-stable at any parallelism —
    the same reasoning as ``functions.dec_var_samp``. One map-side partial
    agg + a 3-row shuffle; scale-flat. The five decimal folds are the cost
    (~1us/row), so the narrow 3-column projection is spread() first — on a
    real cluster that shuffle is no-op-sized, locally it lifts the fold off
    the 3 file partitions onto every core."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = spread(
        li.select("l_returnflag", "l_quantity", "l_extendedprice")
    ).groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        dec_sum(x).alias("sx"),
        dec_sum(y).alias("sy"),
        dec_sum(x * x).alias("sxx"),
        dec_sum(y * y).alias("syy"),
        dec_sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    cov_num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        F.round(
            cov_num
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("corr_qty_price"),
        F.round(cov_num / (n * (n - F.lit(1.0))), 6).alias(
            "covar_samp_qty_price"
        ),
    ).orderBy("l_returnflag")


@register(
    "orders_in_flight_by_month",
    tags=("tpch", "analytics"),
    oracle="""
    WITH iv AS (
        SELECT l.l_orderkey, l.l_linenumber,
               date_trunc('month', o.o_orderdate) AS m0,
               date_trunc('month', l.l_shipdate) AS m1
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    ),
    exploded AS (
        SELECT strftime(unnest(generate_series(m0, m1, INTERVAL 1 MONTH)),
                        '%Y-%m') AS month
        FROM iv
    )
    SELECT month, CAST(count(*) AS BIGINT) AS n_in_flight
    FROM exploded GROUP BY month ORDER BY month
    """,
)
def orders_in_flight_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap aggregation via BINNING: each line item is "in
    flight" from order month to ship month; exploding the bounded month
    sequence turns the interval-overlap join (how many intervals cover
    month X?) into a plain groupBy — the same rewrite as
    ``range_join_binned``, here for the temporal-overlap shape.

    Scale (round-5 aggregate-before-expand rewrite): intervals are first
    COUNTED per distinct (order-month, ship-month) pair — a map-side
    partial aggregation on a key whose cardinality is bounded by the
    month-domain square (~84² here), independent of row count — and only
    the tiny pair table explodes its month sequence, carrying the pair
    count as a weight. The row-count-sized explode the naive form pays
    (one sequence per line item) never happens; after the first
    aggregation every stage is month-domain-sized. Intervals with
    ship < order (synthetic fixture noise) are excluded explicitly so
    the month sequence is always non-empty and forward."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pair_counts = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy(
            F.trunc(F.col("o_orderdate").cast("date"), "MM").alias("m0"),
            F.trunc(F.col("l_shipdate").cast("date"), "MM").alias("m1"),
        )
        .agg(F.count("*").alias("n"))
    )
    months = pair_counts.select(
        "n",
        F.explode(F.expr("sequence(m0, m1, interval 1 month)")).alias("m"),
    )
    return (
        months.groupBy(F.date_format("m", "yyyy-MM").alias("month"))
        .agg(F.sum("n").cast("long").alias("n_in_flight"))
        .orderBy("month")
    )


@register(
    "temporal_split_embargo",
    tags=("events", "analytics"),
    oracle=f"""
    WITH tagged AS (
        SELECT CASE
                 WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
                 WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'test'
                 ELSE 'embargo'
               END AS split,
               user_id, ts
        FROM events
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           strftime(min(ts), '{_TS_FMT_DUCK}') AS min_ts,
           strftime(max(ts), '{_TS_FMT_DUCK}') AS max_ts
    FROM tagged GROUP BY split ORDER BY split
    """,
)
def temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal train/test split with an embargo gap: train on
    events before T−2d, test on events after T, and DROP the 2-day embargo
    band between them (events whose effects straddle the boundary — the
    standard guard against temporal leakage in forecasting/backtest
    pipelines, complementing ``domain_grouped_split``'s entity-level
    leakage guard). Pure predicate tagging — map-side, zero shuffle before
    the summary aggregation, trivially partition-prunable when the lake is
    date-partitioned."""
    e = load_table(spark, sf_dir, "events")
    split = (
        F.when(F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"),
               "train")
        .when(F.col("ts") >= F.lit("2024-01-22 00:00:00").cast("timestamp"),
              "test")
        .otherwise("embargo")
    )
    return (
        e.select(split.alias("split"), "user_id", "ts")
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.date_format(F.min("ts"), _TS_FMT_SPARK).alias("min_ts"),
            F.date_format(F.max("ts"), _TS_FMT_SPARK).alias("max_ts"),
        )
        .orderBy("split")
    )


@register(
    "dq_expectations_orders",
    tags=("tpch", "analytics"),
    oracle="""
    WITH checks AS (
        SELECT
            CAST(count(*) AS BIGINT) AS n_rows,
            CAST(count(*) - count(o_orderkey) AS BIGINT) AS key_nulls,
            CAST(count(o_orderkey) - count(DISTINCT o_orderkey)
                 AS BIGINT) AS key_dupes,
            CAST(sum(CASE WHEN o_totalprice <= 0
                            OR o_totalprice > 1000000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS price_range,
            CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                          THEN 1 ELSE 0 END) AS BIGINT) AS status_enum,
            CAST(count(*) - count(o_orderdate) AS BIGINT) AS date_nulls
        FROM orders
    )
    SELECT e.expectation, e.n_violations, c.n_rows,
           CASE WHEN e.n_violations = 0 THEN true ELSE false END AS passed
    FROM checks c, (
        SELECT 'orderkey_not_null' AS expectation,
               key_nulls AS n_violations FROM checks
        UNION ALL SELECT 'orderkey_unique', key_dupes FROM checks
        UNION ALL SELECT 'totalprice_in_range', price_range FROM checks
        UNION ALL SELECT 'status_in_enum', status_enum FROM checks
        UNION ALL SELECT 'orderdate_not_null', date_nulls FROM checks
    ) e
    ORDER BY e.expectation
    """,
)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (the Deequ/Great-Expectations shape):
    declared constraints — key non-null + unique, price range, status
    enum, date non-null — verified in ONE aggregation pass whose counters
    all ride the same map-side partial agg, then unpivoted to one row per
    expectation. At 100 TB this is the pattern that matters: N checks =
    one scan, not N scans; uniqueness is the only counter that needs a
    distinct (its shuffle is the key column, unavoidable for exactness)."""
    o = load_table(spark, sf_dir, "orders")
    checks = o.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("o_orderkey")).alias("key_nulls"),
        (F.count("o_orderkey") - F.countDistinct("o_orderkey")).alias(
            "key_dupes"
        ),
        F.sum(
            F.when(
                (F.col("o_totalprice") <= 0)
                | (F.col("o_totalprice") > 1_000_000),
                1,
            ).otherwise(0)
        ).alias("price_range"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("status_enum"),
        (F.count("*") - F.count("o_orderdate")).alias("date_nulls"),
    )
    stacked = checks.select(
        "n_rows",
        F.expr(
            "stack(5,"
            " 'orderkey_not_null', key_nulls,"
            " 'orderkey_unique', key_dupes,"
            " 'totalprice_in_range', price_range,"
            " 'status_in_enum', status_enum,"
            " 'orderdate_not_null', date_nulls)"
            " AS (expectation, n_violations)"
        ),
    )
    return stacked.select(
        "expectation",
        F.col("n_violations").cast("long").alias("n_violations"),
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("expectation")


@register(
    "mad_outlier_days",
    tags=("tpch", "analytics"),
    oracle="""
    WITH delays AS (
        SELECT CAST(datediff('day', o.o_orderdate, l.l_shipdate)
                    AS BIGINT) AS d
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    hist AS (SELECT d, CAST(count(*) AS BIGINT) AS cnt
             FROM delays GROUP BY d),
    cum AS (
        SELECT d, cnt,
               sum(cnt) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                   AS cum_cnt,
               sum(cnt) OVER () AS n
        FROM hist
    ),
    med AS (
        SELECT CAST(min(CASE WHEN cum_cnt * 2 >= n THEN d END)
                    AS BIGINT) AS median,
               CAST(min(n) AS BIGINT) AS n
        FROM cum
    ),
    dev_hist AS (
        SELECT abs(h.d - m.median) AS dev, CAST(sum(h.cnt) AS BIGINT) AS cnt
        FROM hist h CROSS JOIN med m GROUP BY 1
    ),
    dev_cum AS (
        SELECT dev, cnt,
               sum(cnt) OVER (ORDER BY dev ROWS UNBOUNDED PRECEDING)
                   AS cum_cnt,
               sum(cnt) OVER () AS n
        FROM dev_hist
    ),
    mad AS (
        SELECT CAST(min(CASE WHEN cum_cnt * 2 >= n THEN dev END)
                    AS BIGINT) AS mad
        FROM dev_cum
    )
    SELECT m.median, a.mad, m.n AS n_total,
           CAST(coalesce((SELECT sum(h.cnt) FROM hist h
                          WHERE abs(h.d - m.median) > 5 * a.mad), 0)
                AS BIGINT) AS n_outliers
    FROM med m CROSS JOIN mad a
    """,
)
def mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by Median Absolute Deviation: median and
    MAD of the order→ship day delay via TWO bounded-value-histogram passes
    (the exact-percentile pattern, reused: the deviation domain is as
    bounded as the delay domain), then count delays beyond 5·MAD — the
    robust alternative to z-scores when the distribution has heavy tails
    (a handful of extreme delays cannot drag the threshold the way they
    drag a mean/stddev).

    Scale: the raw data is touched once (histogram aggregation keyed on
    the integer day-delay); every subsequent pass — deviation histogram,
    MAD walk, outlier count — runs over the bounded histogram with the
    1-row median/MAD broadcast back. All integer arithmetic end to end."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    delays = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("long")
        .alias("d")
    )
    # the bounded delay histogram feeds three consumers (median walk,
    # deviation histogram, outlier count) — checkpoint it so the
    # lineitem⋈orders join really does run once (executed-plan audit:
    # 7 scans of each table without, despite the docstring's claim)
    hist = delays.groupBy("d").agg(F.count("*").alias("cnt")).localCheckpoint()
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = hist.select(
        "d",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum_cnt"),
        F.sum("cnt").over(wall).alias("n"),
    )
    med = cum.agg(
        F.min(F.when(F.col("cum_cnt") * 2 >= F.col("n"), F.col("d")))
        .cast("long")
        .alias("median"),
        F.min("n").cast("long").alias("n"),
    )
    dev_hist = (
        hist.crossJoin(F.broadcast(med))
        .groupBy(F.abs(F.col("d") - F.col("median")).alias("dev"))
        .agg(F.sum("cnt").alias("cnt"))
    )
    wdev = Window.orderBy("dev").rowsBetween(Window.unboundedPreceding, 0)
    dev_cum = dev_hist.select(
        "dev",
        F.sum("cnt").over(wdev).alias("cum_cnt"),
        F.sum("cnt").over(Window.partitionBy()).alias("dn"),
    )
    mad = dev_cum.agg(
        F.min(F.when(F.col("cum_cnt") * 2 >= F.col("dn"), F.col("dev")))
        .cast("long")
        .alias("mad")
    )
    outliers = (
        hist.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .where(F.abs(F.col("d") - F.col("median")) > 5 * F.col("mad"))
        .agg(F.sum("cnt").cast("long").alias("n_outliers"))
    )
    return (
        med.crossJoin(F.broadcast(mad))
        .crossJoin(F.broadcast(outliers))
        .select(
            "median",
            "mad",
            F.col("n").alias("n_total"),
            F.coalesce("n_outliers", F.lit(0)).cast("long").alias("n_outliers"),
        )
    )


@register(
    "longest_purchase_streak",
    tags=("events", "analytics"),
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        FROM events WHERE event_type = 'purchase' AND user_id < 60
    ),
    grouped AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                        AS INTEGER) AS island
        FROM days
    ),
    streaks AS (
        SELECT user_id, island, CAST(count(*) AS BIGINT) AS len,
               min(d) AS start_d
        FROM grouped GROUP BY user_id, island
    ),
    best AS (
        SELECT user_id, len, start_d,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY len DESC, start_d) AS rk
        FROM streaks
    )
    SELECT user_id, len AS streak_days,
           strftime(start_d, '%Y-%m-%d') AS streak_start
    FROM best WHERE rk = 1 ORDER BY user_id
    """,
)
def longest_purchase_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of CONSECUTIVE calendar
    days with at least one purchase, via the classic date-minus-row_number
    island key (consecutive dates share a constant difference from their
    per-user rank). Ties on length resolve to the earliest streak.

    Scale: both windows are partitioned by user_id over the per-user
    distinct-day set (bounded by the calendar, not event volume); the
    island groupBy rides the same hash distribution."""
    e = (
        load_table(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & (F.col("user_id") < 60))
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    wdays = Window.partitionBy("user_id").orderBy("d")
    grouped = e.select(
        "user_id",
        "d",
        F.date_sub(
            F.col("d"), F.row_number().over(wdays)
        ).alias("island"),
    )
    streaks = grouped.groupBy("user_id", "island").agg(
        F.count("*").cast("long").alias("len"), F.min("d").alias("start_d")
    )
    wbest = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("start_d")
    )
    return (
        streaks.withColumn("rk", F.row_number().over(wbest))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("len").alias("streak_days"),
            F.date_format("start_d", "yyyy-MM-dd").alias("streak_start"),
        )
        .orderBy("user_id")
    )


@register(
    "top_event_trigrams_by_session",
    tags=("events", "analytics"),
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events WHERE user_id < 80
    ),
    marked AS (
        -- epoch_us: microsecond-exact boundary (fractional epoch() vs a
        -- whole-second diff would place near-boundary gaps in different
        -- sessions per engine; same convention as sessionize_events_batch)
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts)
                            >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM seq
    ),
    sessions AS (
        SELECT user_id, ts, event_id, event_type,
               sum(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                   AS session_id
        FROM marked
    ),
    withnext AS (
        SELECT user_id, session_id, event_type,
               lead(event_type, 1) OVER (PARTITION BY user_id, session_id
                                         ORDER BY ts, event_id) AS e2,
               lead(event_type, 2) OVER (PARTITION BY user_id, session_id
                                         ORDER BY ts, event_id) AS e3
        FROM sessions
    )
    SELECT concat(event_type, '>', e2, '>', e3) AS path,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM withnext WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY 1 ORDER BY n_occurrences DESC, path LIMIT 15
    """,
)
def top_event_trigrams_by_session(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Behavioral path mining: the most common 3-step event sequences
    WITHIN a session (30-minute-gap sessionization, same rule as
    ``sessionize_events_batch``) — trigrams never span a session boundary,
    which is what separates this from a naive per-user lead() and is the
    property the oracle pins. The product-analytics "top user journeys"
    report.

    Scale: sessionization + lead windows are all partitioned by user (and
    session) — per-entity state; the final path count is a low-cardinality
    aggregation (|event_types|^3 keys max)."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 80)
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(wseq).isNull()
            | (
                F.unix_micros("ts")
                - F.unix_micros(F.lag("ts").over(wseq))
                >= 1800 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = marked.withColumn(
        "session_id",
        F.sum("new_session").over(
            wseq.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    wsess = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    withnext = sessions.select(
        "event_type",
        F.lead("event_type", 1).over(wsess).alias("e2"),
        F.lead("event_type", 2).over(wsess).alias("e3"),
    )
    return (
        withnext.where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "path")
        .limit(15)
    )


@register(
    "dow_seasonality_profile",
    tags=("events", "analytics"),
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    dow AS (
        SELECT d, c, dayofweek(d) AS dw FROM daily
    ),
    profile AS (
        SELECT dw,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(c) AS BIGINT) AS total,
               round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS mean_events
        FROM dow GROUP BY dw
    ),
    overall AS (
        SELECT round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS grand_mean
        FROM daily
    )
    SELECT CAST(p.dw AS BIGINT) AS day_of_week, p.n_days, p.total,
           p.mean_events,
           round(p.mean_events / o.grand_mean, 6) AS seasonal_index
    FROM profile p CROSS JOIN overall o
    ORDER BY day_of_week
    """,
)
def dow_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: mean daily event volume per
    weekday and its seasonal index (ratio to the grand daily mean) — the
    first decomposition step of any traffic forecast. Integer sums
    end-to-end (counts), divisions on identical operands; the grand mean
    arrives by broadcast 1-row aggregate. DuckDB ``dayofweek`` (0=Sunday)
    differs from Spark ``dayofweek`` (1=Sunday), reconciled by shifting
    Spark's value down one. Bounded output (7 rows) from one daily
    aggregation."""
    e = load_table(spark, sf_dir, "events")
    # the daily series feeds the weekday profile AND the grand mean —
    # checkpoint so events aggregates once
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").alias("c")
    ).localCheckpoint()
    dow = daily.select(
        (F.dayofweek("d") - 1).alias("dw"), "c"
    )
    profile = dow.groupBy("dw").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("total"),
        F.round(F.sum("c").cast("double") / F.count("*"), 6).alias(
            "mean_events"
        ),
    )
    overall = daily.agg(
        F.round(F.sum("c").cast("double") / F.count("*"), 6).alias(
            "grand_mean"
        )
    )
    return (
        profile.crossJoin(F.broadcast(overall))
        .select(
            F.col("dw").cast("long").alias("day_of_week"),
            "n_days",
            "total",
            "mean_events",
            F.round(F.col("mean_events") / F.col("grand_mean"), 6).alias(
                "seasonal_index"
            ),
        )
        .orderBy("day_of_week")
    )


@register(
    "rfm_segmentation",
    tags=("events", "analytics"),
    oracle="""
    WITH ref AS (SELECT max(ts) AS ref_ts FROM events),
    purch AS (
        SELECT user_id,
               CAST(datediff('day', max(ts), (SELECT ref_ts FROM ref))
                    AS BIGINT) AS recency,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(round(sum(CAST(value AS DECIMAL(38, 6))) * 100, 0)
                    AS BIGINT) AS monetary_cents
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY user_id
    ),
    metrics AS (
        SELECT 'r' AS m, recency AS v FROM purch
        UNION ALL SELECT 'f', frequency FROM purch
        UNION ALL SELECT 'm', monetary_cents FROM purch
    ),
    hist AS (SELECT m, v, CAST(count(*) AS BIGINT) AS cnt
             FROM metrics GROUP BY m, v),
    cum AS (
        SELECT m, v, cnt,
               sum(cnt) OVER (PARTITION BY m ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS cum_cnt,
               sum(cnt) OVER (PARTITION BY m) AS n
        FROM hist
    ),
    cuts AS (
        SELECT m,
               min(CASE WHEN cum_cnt * 3 >= n THEN v END) AS t1,
               min(CASE WHEN cum_cnt * 3 >= 2 * n THEN v END) AS t2
        FROM cum GROUP BY m
    ),
    wide AS (
        SELECT max(CASE WHEN m = 'r' THEN t1 END) AS r1,
               max(CASE WHEN m = 'r' THEN t2 END) AS r2,
               max(CASE WHEN m = 'f' THEN t1 END) AS f1,
               max(CASE WHEN m = 'f' THEN t2 END) AS f2,
               max(CASE WHEN m = 'm' THEN t1 END) AS m1,
               max(CASE WHEN m = 'm' THEN t2 END) AS m2
        FROM cuts
    ),
    bucketed AS (
        SELECT p.user_id,
               CASE WHEN p.recency <= w.r1 THEN 1
                    WHEN p.recency <= w.r2 THEN 2 ELSE 3 END AS r_b,
               CASE WHEN p.frequency <= w.f1 THEN 1
                    WHEN p.frequency <= w.f2 THEN 2 ELSE 3 END AS f_b,
               CASE WHEN p.monetary_cents <= w.m1 THEN 1
                    WHEN p.monetary_cents <= w.m2 THEN 2 ELSE 3 END AS m_b,
               p.monetary_cents
        FROM purch p CROSS JOIN wide w
    )
    SELECT concat(CAST(r_b AS VARCHAR), '-', CAST(f_b AS VARCHAR), '-',
                  CAST(m_b AS VARCHAR)) AS segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(monetary_cents) AS BIGINT) AS total_cents
    FROM bucketed GROUP BY 1 ORDER BY segment
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per purchasing user, Recency (days since
    last purchase vs corpus max ts), Frequency (purchase count), Monetary
    (decimal-exact cent sum); each metric is cut into EXACT terciles via
    the bounded-value-histogram percentile pattern (stacked long so one
    histogram pass serves all three metrics), and users are bucketed into
    the 27 possible r-f-m segments with counts and value totals — the
    standard CRM segmentation, leakage-free and rerun-stable.

    Scale: one purchase aggregation keyed on user; the tercile machinery
    runs over metric HISTOGRAMS (distinct values, not users); cutoffs
    (6 scalars) broadcast back. Bucket index 1 = lowest metric value, so
    1-x-x recency is the MOST recent tier — interpretation, not math."""
    e = load_table(spark, sf_dir, "events")
    ref = e.agg(F.max("ts").alias("ref_ts"))
    # purch is one row per PURCHASING USER — corpus-volume, so persist
    # (lineage kept, spillable), not a checkpoint pinning O(users) rows
    # per executor. It feeds the stacked metric pass AND the final
    # bucketing; the metric stack is built by explode-tag (ONE linear
    # consumer) rather than a unionByName of three arms over the cache —
    # DeduplicateRelations remaps union-arm exprIds so only one arm
    # would hit the cache (NOTES r7, the FD-audit gotcha).
    purch = persist_corpus(
        e.where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").cast("long").alias("frequency"),
            F.round(F.sum(F.col("value").cast("decimal(38,6)")) * 100, 0)
            .cast("long")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            F.datediff(F.col("ref_ts"), F.col("last_ts"))
            .cast("long")
            .alias("recency"),
            "frequency",
            "monetary_cents",
        )
    )
    metrics = purch.select(
        F.explode(
            F.array(
                F.struct(F.lit("r").alias("m"), F.col("recency").alias("v")),
                F.struct(F.lit("f").alias("m"), F.col("frequency").alias("v")),
                F.struct(
                    F.lit("m").alias("m"), F.col("monetary_cents").alias("v")
                ),
            )
        ).alias("mv")
    ).select(F.col("mv.m").alias("m"), F.col("mv.v").alias("v"))
    hist = metrics.groupBy("m", "v").agg(F.count("*").alias("cnt"))
    wcum = (
        Window.partitionBy("m")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "m",
        "v",
        F.sum("cnt").over(wcum).alias("cum_cnt"),
        F.sum("cnt").over(Window.partitionBy("m")).alias("n"),
    )
    cuts = cum.groupBy("m").agg(
        F.min(F.when(F.col("cum_cnt") * 3 >= F.col("n"), F.col("v"))).alias(
            "t1"
        ),
        F.min(
            F.when(F.col("cum_cnt") * 3 >= 2 * F.col("n"), F.col("v"))
        ).alias("t2"),
    )
    wide = cuts.groupBy().agg(
        F.max(F.when(F.col("m") == "r", F.col("t1"))).alias("r1"),
        F.max(F.when(F.col("m") == "r", F.col("t2"))).alias("r2"),
        F.max(F.when(F.col("m") == "f", F.col("t1"))).alias("f1"),
        F.max(F.when(F.col("m") == "f", F.col("t2"))).alias("f2"),
        F.max(F.when(F.col("m") == "m", F.col("t1"))).alias("m1"),
        F.max(F.when(F.col("m") == "m", F.col("t2"))).alias("m2"),
    )
    tier = lambda v, t1, t2: (  # noqa: E731
        F.when(F.col(v) <= F.col(t1), 1)
        .when(F.col(v) <= F.col(t2), 2)
        .otherwise(3)
    )
    bucketed = purch.crossJoin(F.broadcast(wide)).select(
        "user_id",
        "monetary_cents",
        tier("recency", "r1", "r2").alias("r_b"),
        tier("frequency", "f1", "f2").alias("f_b"),
        tier("monetary_cents", "m1", "m2").alias("m_b"),
    )
    return (
        bucketed.select(
            F.concat_ws(
                "-",
                F.col("r_b").cast("string"),
                F.col("f_b").cast("string"),
                F.col("m_b").cast("string"),
            ).alias("segment"),
            "monetary_cents",
        )
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("monetary_cents").cast("long").alias("total_cents"),
        )
        .orderBy("segment")
    )


@register(
    "benford_first_digit",
    tags=("tpch", "analytics"),
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (
        SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
    SELECT c.d AS first_digit, c.n,
           round(CAST(c.n AS DOUBLE) / t.total, 6) AS observed_freq,
           round(log10(1.0 + 1.0 / c.d), 6) AS benford_freq,
           round(CAST(c.n AS DOUBLE) / t.total
                 - log10(1.0 + 1.0 / c.d), 6) AS deviation
    FROM counts c CROSS JOIN tot t ORDER BY first_digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order totals: observed leading-
    digit frequencies vs the log10(1 + 1/d) expectation — the classic
    anomaly/fraud screen for financial magnitude columns. String-extracted
    first digit (integer-exact), one bounded aggregation (9 rows), total
    via broadcast 1-row crossJoin; the only float math is division and
    log10 on identical operands."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("d")
    )
    # the 9-row digit table feeds the total AND the readout — checkpoint
    # so orders scans once
    counts = digits.groupBy("d").agg(
        F.count("*").cast("long").alias("n")
    ).localCheckpoint()
    tot = counts.agg(F.sum("n").cast("long").alias("total"))
    obs = F.col("n").cast("double") / F.col("total")
    ben = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("first_digit"),
            "n",
            F.round(obs, 6).alias("observed_freq"),
            F.round(ben, 6).alias("benford_freq"),
            F.round(obs - ben, 6).alias("deviation"),
        )
        .orderBy("first_digit")
    )


@register(
    "revenue_share_within_region",
    tags=("tpch", "analytics"),
    oracle="""
    WITH rev AS (
        -- revenue stays DECIMAL through the partition-total window sum: a
        -- double window sum's accumulation order differs per engine and
        -- an ulp at a round(...,6) boundary would flip the hash.
        SELECT r.r_name AS region, n.n_name AS nation,
               SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    )
    SELECT region, nation,
           round(CAST(revenue AS DOUBLE), 2) AS revenue,
           round(CAST(revenue AS DOUBLE)
                 / CAST(sum(revenue) OVER (PARTITION BY region) AS DOUBLE),
                 6) AS share_in_region,
           CAST(row_number() OVER (PARTITION BY region
                ORDER BY revenue DESC, nation) AS BIGINT) AS rank_in_region
    FROM rev ORDER BY region, rank_in_region
    """,
)
def revenue_share_within_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue plus
    its in-region rank — the BI staple missing from the frame-aggregate
    family (the share window has NO frame: it is the partition total).
    Runs over the (region, nation) AGGREGATE (25 rows at any scale), so
    the share window is trivially bounded; revenue sums are decimal-exact
    before the one share division. Broadcast dimension joins throughout."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        # decimal sum stays DECIMAL through the share window below — a
        # double window sum would be an order-dependent float fold
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias(
                "revenue"
            )
        )
    )
    wshare = Window.partitionBy("region")
    wrank = Window.partitionBy("region").orderBy(
        F.col("revenue").desc(), F.col("nation")
    )
    return rev.select(
        "region",
        "nation",
        F.round(F.col("revenue").cast("double"), 2).alias("revenue"),
        F.round(
            F.col("revenue").cast("double")
            / F.sum("revenue").over(wshare).cast("double"),
            6,
        ).alias("share_in_region"),
        F.row_number().over(wrank).cast("long").alias("rank_in_region"),
    ).orderBy("region", "rank_in_region")


@register(
    "cumulative_unique_users",
    tags=("events", "analytics"),
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    ),
    per_day AS (
        SELECT first_day, CAST(count(*) AS BIGINT) AS n_new
        FROM firsts GROUP BY first_day
    )
    SELECT strftime(first_day, '%Y-%m-%d') AS day, n_new,
           CAST(sum(n_new) OVER (ORDER BY first_day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
    FROM per_day ORDER BY day
    """,
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user growth curve: the streaming-unfriendly
    "distinct count to date" rewritten as first-seen-day attribution (one
    groupBy(user) for first_day, one bounded daily aggregate, one running
    sum over the CALENDAR) — the standard rewrite that turns an
    O(days × users) repeated-distinct into two linear aggregations. The
    running-sum window orders the per-day aggregate, bounded by the
    calendar at any scale."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    per_day = firsts.groupBy("first_day").agg(
        F.count("*").cast("long").alias("n_new")
    )
    wrun = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return per_day.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        "n_new",
        F.sum("n_new").over(wrun).cast("long").alias("cumulative_users"),
    ).orderBy("day")


@register(
    "market_basket_lift_topk",
    tags=("tpch", "analytics"),
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
        FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders
          FROM baskets),
    freq AS (SELECT pkey, CAST(count(*) AS BIGINT) AS c
             FROM baskets GROUP BY pkey),
    pairs AS (
        SELECT a.pkey AS part_a, b.pkey AS part_b,
               CAST(count(*) AS BIGINT) AS c_ab
        FROM baskets a JOIN baskets b
          ON a.okey = b.okey AND a.pkey < b.pkey
        GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT p.part_a, p.part_b, p.c_ab,
           round(CAST(p.c_ab AS DOUBLE) / n.n_orders, 6) AS support,
           round(CAST(p.c_ab AS DOUBLE) / fa.c, 6) AS confidence_a_to_b,
           round((CAST(n.n_orders AS DOUBLE) * p.c_ab)
                 / CAST(fa.c * fb.c AS DOUBLE), 6) AS lift
    FROM pairs p
    JOIN freq fa ON p.part_a = fa.pkey
    JOIN freq fb ON p.part_b = fb.pkey
    CROSS JOIN n
    ORDER BY lift DESC, part_a, part_b LIMIT 20
    """,
)
def market_basket_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: part pairs co-ordered in >= 3
    orders with support, confidence, and lift (the Apriori first rung) —
    top-20 by lift. Baskets are folded to per-order sorted part arrays in
    ONE okey shuffle (collect_set both dedups and bounds state by basket
    size), and the pair explode runs inside the array — bounded by basket
    size squared per order, never catalog x catalog and never a basket
    self-join shuffle. Part frequencies join back at catalog cardinality;
    N arrives broadcast. Integer products N·c_ab and c_a·c_b are exact
    longs, so the double divisions see identical operands in both engines.
    The basket table feeds three consumers (N, frequencies, pairs), so it
    is checkpointed — one fold, three cheap re-reads."""
    li = load_table(spark, sf_dir, "lineitem")
    # one row per ORDER — corpus-volume, so persist (lineage kept,
    # spillable), not a checkpoint pinning O(|orders|) rows per executor
    baskets = persist_corpus(
        li.select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_partkey").alias("pkey"),
        )
        .groupBy("okey")
        .agg(F.sort_array(F.collect_set("pkey")).alias("parts"))
    )
    n = baskets.agg(F.count("*").cast("long").alias("n_orders"))
    freq = (
        baskets.select(F.explode("parts").alias("pkey"))
        .groupBy("pkey")
        .agg(F.count("*").cast("long").alias("c"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> transform("
                    "slice(parts, i + 2, size(parts)),"
                    " y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("c_ab"))
        .where(F.col("c_ab") >= 3)
    )
    return (
        pairs.join(
            freq.select(F.col("pkey").alias("part_a"), F.col("c").alias("ca")),
            "part_a",
        )
        .join(
            freq.select(F.col("pkey").alias("part_b"), F.col("c").alias("cb")),
            "part_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            F.round(
                F.col("c_ab").cast("double") / F.col("n_orders"), 6
            ).alias("support"),
            F.round(F.col("c_ab").cast("double") / F.col("ca"), 6).alias(
                "confidence_a_to_b"
            ),
            F.round(
                (F.col("n_orders").cast("double") * F.col("c_ab"))
                / (F.col("ca") * F.col("cb")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(20)
    )


@register(
    "interarrival_stats_by_type",
    tags=("events", "analytics"),
    oracle=f"""
    WITH seq AS (
        -- ts IS NOT NULL: Spark orders NULLS FIRST, DuckDB NULLS LAST, so
        -- a NULL timestamp would pair different neighbors per engine.
        -- floor(epoch) per endpoint = Spark's whole-second unix_timestamp
        -- (epoch() is fractional in DuckDB; flooring the DIFFERENCE would
        -- round differently).
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               lag(CAST(floor(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY event_type
                         ORDER BY ts, event_id) AS prev_sec
        FROM events WHERE ts IS NOT NULL
    ),
    gaps AS (
        SELECT event_type, sec - prev_sec AS gap_s
        FROM seq WHERE prev_sec IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           round(CAST(sum(gap_s) AS DOUBLE) / count(*), 6) AS mean_gap_s,
           CAST(min(gap_s) AS BIGINT) AS min_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s
    FROM gaps GROUP BY event_type ORDER BY event_type
    """,
)
def interarrival_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time statistics per event type (the arrival-process
    profile capacity planning starts from): per-type lag over the ordered
    stream, whole-second gaps, integer-sum-derived mean. The lag window is
    partitioned by event type; gap sums are exact integers so the one mean
    division is identical cross-engine."""
    e = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "event_type",
            (
                F.unix_timestamp("ts")
                - F.lag(F.unix_timestamp("ts")).over(w)
            ).alias("gap_s"),
        )
        .where(F.col("gap_s").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.round(
                F.sum("gap_s").cast("double") / F.count("*"), 6
            ).alias("mean_gap_s"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


@register(
    "abc_pareto_parts",
    tags=("tpch", "analytics"),
    oracle=f"""
    WITH part_rev AS (
        SELECT l_partkey,
               {oracle_dec_sum('l_extendedprice * (1 - l_discount)')}
                   AS revenue
        FROM lineitem GROUP BY l_partkey
    ),
    -- cents-rounded through an (engine-identical) double, then pinned to
    -- DECIMAL(20,2) so the cumulative/total window sums below are EXACT
    -- integer-cent arithmetic — a double window sum's accumulation order
    -- differs per engine and could flip a share at a rounding or A/B/C
    -- class boundary.
    top AS (
        SELECT l_partkey,
               CAST(round(revenue, 2) AS DECIMAL(20,2)) AS revenue
        FROM part_rev ORDER BY revenue DESC, l_partkey LIMIT 200
    ),
    cum AS (
        SELECT l_partkey, revenue,
               sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
                                  ROWS UNBOUNDED PRECEDING) AS cum_rev,
               sum(revenue) OVER () AS total
        FROM top
    )
    SELECT l_partkey, CAST(revenue AS DOUBLE) AS revenue,
           round(CAST(cum_rev AS DOUBLE) / CAST(total AS DOUBLE), 6)
               AS cum_share,
           CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(total AS DOUBLE) <= 0.5
                     THEN 'A'
                WHEN CAST(cum_rev AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8
                     THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cum ORDER BY revenue DESC, l_partkey
    """,
)
def abc_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of the top-200 revenue parts: rank by
    decimal-exact revenue, classify by cumulative share (A: first 50%,
    B: to 80%, C: rest) — the inventory-prioritization classic. The
    cumulative window runs over the TakeOrdered top-200 ONLY (bounded by
    construction; a global cumulative share over every part would be the
    single-partition trap — the production form for full-catalog ABC is
    the bounded-value-histogram percentile pattern used elsewhere here).
    Revenue rounded to cents BEFORE the cumulative sum so the running
    totals add identical operands in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # cents-rounded through an (engine-identical) double, then pinned to
    # decimal(20,2) so the window sums below are exact cent arithmetic —
    # never an order-dependent double fold (see oracle comment).
    part_rev = li.groupBy("l_partkey").agg(
        F.round(dec_sum(rev), 2).cast("decimal(20,2)").alias("revenue")
    )
    top = part_rev.orderBy(
        F.col("revenue").desc(), F.col("l_partkey")
    ).limit(200)
    wcum = Window.orderBy(
        F.col("revenue").desc(), F.col("l_partkey")
    ).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    share = F.col("cum_rev").cast("double") / F.col("total").cast("double")
    return (
        top.select(
            "l_partkey",
            "revenue",
            F.sum("revenue").over(wcum).alias("cum_rev"),
            F.sum("revenue").over(wall).alias("total"),
        )
        .select(
            "l_partkey",
            F.col("revenue").cast("double").alias("revenue"),
            F.round(share, 6).alias("cum_share"),
            F.when(share <= 0.5, "A")
            .when(share <= 0.8, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
        .orderBy(F.col("revenue").desc(), "l_partkey")
    )


@register(
    "weekday_hour_heatmap",
    tags=("events", "analytics"),
    oracle="""
    SELECT CAST(dayofweek(ts) AS BIGINT) AS day_of_week,
           CAST(hour(ts) AS BIGINT) AS hour_of_day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2 ORDER BY day_of_week, hour_of_day
    """,
)
def weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity heatmap (events and distinct users per
    cell) — the operational-dashboard staple; bounded 7x24 output from one
    aggregation. Spark's dayofweek is 1=Sunday, DuckDB's 0=Sunday;
    reconciled by shifting Spark down one."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).cast("long").alias("day_of_week"),
            F.hour("ts").cast("long").alias("hour_of_day"),
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("day_of_week", "hour_of_day")
    )


@register(
    "dq_profile_all_tables",
    tags=("analytics", "dq"),
    oracle="""
    SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct_keys,
           CAST(count(*) - count(c_name) AS BIGINT) AS n_null_attr
    FROM customer
    UNION ALL
    SELECT 'documents', count(*), count(DISTINCT doc_id),
           count(*) - count(text) FROM documents
    UNION ALL
    SELECT 'events', count(*), count(DISTINCT event_id),
           count(*) - count(value) FROM events
    UNION ALL
    SELECT 'lineitem', count(*),
           count(DISTINCT l_orderkey * 10 + l_linenumber),
           count(*) - count(l_shipdate) FROM lineitem
    UNION ALL
    SELECT 'orders', count(*), count(DISTINCT o_orderkey),
           count(*) - count(o_orderdate) FROM orders
    ORDER BY tbl
    """,
)
def dq_profile_all_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table data-quality profile: row count, distinct key count,
    and null count of one representative attribute for the five largest
    fixture tables, unioned into one report — the warehouse-wide freshness
    dashboard every nightly pipeline publishes. One aggregation per table
    (each its own map-side pass), a 5-row union; lineitem's composite key
    is checked as orderkey·10 + linenumber (linenumber < 10 in TPC-H)."""
    def prof(name: str, key, attr) -> DataFrame:
        t = load_table(spark, sf_dir, name)
        return t.agg(
            F.lit(name).alias("tbl"),
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct(key).cast("long").alias("n_distinct_keys"),
            (F.count("*") - F.count(attr)).cast("long").alias("n_null_attr"),
        )

    out = (
        prof("customer", F.col("c_custkey"), "c_name")
        .unionByName(prof("documents", F.col("doc_id"), "text"))
        .unionByName(prof("events", F.col("event_id"), "value"))
        .unionByName(
            prof(
                "lineitem",
                F.col("l_orderkey") * 10 + F.col("l_linenumber"),
                "l_shipdate",
            )
        )
        .unionByName(prof("orders", F.col("o_orderkey"), "o_orderdate"))
    )
    return out.orderBy("tbl")


@register(
    "revenue_gini_binned",
    tags=("tpch", "analytics"),
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(38, 6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY o_custkey
    ),
    binned AS (
        SELECT CAST(floor(rev / 1000.0) AS BIGINT) AS kv,
               CAST(count(*) AS BIGINT) AS c
        FROM per_cust GROUP BY 1
    ),
    pairs AS (
        SELECT CAST(sum(a.c * b.c * abs(a.kv - b.kv)) AS BIGINT)
            AS pair_diff_sum
        FROM binned a CROSS JOIN binned b
    ),
    tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c * kv) AS BIGINT) AS mass
        FROM binned
    )
    SELECT t.n AS n_customers,
           CAST((SELECT count(*) FROM binned) AS BIGINT) AS n_bins,
           round(CAST(p.pair_diff_sum AS DOUBLE)
                 / (2.0 * t.n * t.mass), 6) AS gini
    FROM pairs p CROSS JOIN tot t
    """,
)
def revenue_gini_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue concentration, computed on
    a 1000-unit binned distribution: G = Σ_{b,b'} c_b·c_b'·|v_b − v_b'| /
    (2·n·Σ c_b·v_b) — the mean-absolute-difference form evaluated on the
    bounded bin domain, so every numerator/denominator ingredient is an
    INTEGER and the single division at the end is engine-exact.

    Scale: per-customer revenue is one decimal-exact aggregation; the
    bin×bin pair sum is value-domain-bounded (bins² independent of
    customer count), never a customer×customer pair join — the same
    bounded-histogram trade the exact-percentile operators make
    (bin-resolution Gini, exact for the binned distribution)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        dec_sum("o_totalprice").alias("rev")
    )
    # the bounded bin table feeds both pair-join sides and the totals —
    # checkpoint so the per-customer aggregation runs once
    binned = per_cust.groupBy(
        F.floor(F.col("rev") / 1000.0).cast("long").alias("kv")
    ).agg(F.count("*").cast("long").alias("c")).localCheckpoint()
    a = binned.select(F.col("kv").alias("ka"), F.col("c").alias("ca"))
    b = binned.select(F.col("kv").alias("kb"), F.col("c").alias("cb"))
    pairs = a.crossJoin(b).agg(
        F.sum(
            F.col("ca") * F.col("cb") * F.abs(F.col("ka") - F.col("kb"))
        )
        .cast("long")
        .alias("pair_diff_sum")
    )
    tot = binned.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("kv")).cast("long").alias("mass"),
        F.count("*").cast("long").alias("n_bins"),
    )
    return pairs.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_customers"),
        "n_bins",
        F.round(
            F.col("pair_diff_sum").cast("double")
            / (2.0 * F.col("n") * F.col("mass")),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Wave 8 (deferred behind the r5 verification window)
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i:]
]


def _corr_matrix_oracle() -> str:
    sums = ",\n               ".join(
        f"{oracle_dec_sum(c)} AS s_{c}" for c in _CORR_COLS
    )
    cross = ",\n               ".join(
        f"{oracle_dec_sum(f'{a} * {b}')} AS s_{a}_{b}" for a, b in _CORR_PAIRS
    )
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT '{a}' AS feature_x, '{b}' AS feature_y,
           round((n * s_{a}_{b} - s_{a} * s_{b})
                 / sqrt((n * s_{a}_{a} - s_{a} * s_{a})
                        * (n * s_{b}_{b} - s_{b} * s_{b})), 6) AS corr
    FROM s"""
        for a, b in _CORR_PAIRS
        if a != b
    )
    return f"""
    WITH s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               {sums},
               {cross}
        FROM lineitem
    )
    SELECT * FROM (
{rows}
    ) ORDER BY feature_x, feature_y
    """


@register(
    "feature_corr_matrix",
    tags=("analytics", "mlprep"),
    defer=True,
    oracle=_corr_matrix_oracle(),
)
def feature_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over four lineitem features in
    ONE table scan — the feature-audit query run before training to spot
    redundant/leaky columns. All 4 first moments, 4 second moments, and 6
    cross moments accumulate as decimal(38,6) in a single map-side-combined
    global aggregate (15 sums + a count, one 1-row shuffle); the six corr
    doubles derive from identical operands in identical order on both
    engines (same recipe as ``corr_quantity_price``, widened to a matrix).
    Scale-flat: cost is one pass regardless of pair count, vs the naive
    per-pair ``df.stat.corr`` loop that scans once PER PAIR."""
    li = load_table(spark, sf_dir, "lineitem").repartition(
        spark.sparkContext.defaultParallelism
    )
    aggs = [F.count("*").cast("double").alias("n")]
    aggs += [dec_sum(F.col(c)).alias(f"s_{c}") for c in _CORR_COLS]
    aggs += [
        dec_sum(F.col(a) * F.col(b)).alias(f"s_{a}_{b}")
        for a, b in _CORR_PAIRS
    ]
    s = li.agg(*aggs)
    n = F.col("n")
    # all six matrix cells derive from the ONE-row moment aggregate in a
    # single select (explode of a struct array) — a per-pair union of
    # selects would re-execute the full scan+aggregate once per pair
    cells = []
    for a, b in _CORR_PAIRS:
        if a == b:
            continue
        num = n * F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        den = F.sqrt(
            (n * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
            * (n * F.col(f"s_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        )
        cells.append(
            F.struct(
                F.lit(a).alias("feature_x"),
                F.lit(b).alias("feature_y"),
                F.round(num / den, 6).alias("corr"),
            )
        )
    return (
        s.select(F.explode(F.array(*cells)).alias("p"))
        .select("p.*")
        .orderBy("feature_x", "feature_y")
    )


# Poisson(1) CDF * 1e6, rounded once in Python and embedded as integer
# literals in BOTH engines (the bootstrap needs a fixed weight law, not a
# perfect one): P(0)=.367879, P(<=1)=.735759, P(<=2)=.919699, P(<=3)=.981012.
_BOOT_CDF = (367879, 735759, 919699, 981012)
_BOOT_B = 100
_BOOT_P = 999983
"""Prime modulus for the per-replica uniform: one md5 per ROW (not per
(row, replica) — that costs B× the hash work and dominated the sf0.1
runtime at ~15 M md5 calls), mixed across replicas by the mod-prime affine
scatter u_b = (h·(b+1) + b) mod p. The CDF thresholds are against p, so
weight probabilities shift by p/10^6 − 1 ≈ −0.002% — immaterial to a
bootstrap, and the mixing stays bit-exact cross-engine (pure BIGINT)."""


@register(
    "poisson_bootstrap_ci",
    tags=("analytics", "scale"),
    defer=True,
    oracle=f"""
    WITH reps AS (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b),
    hashed AS (
        SELECT o_totalprice,
               {oracle_h60("'boot:' || o_orderkey")} % {_BOOT_P} AS hm
        FROM orders
    ),
    weighted AS (
        SELECT r.b, o.o_totalprice,
               CASE
                 WHEN u < {_BOOT_CDF[0]} THEN 0
                 WHEN u < {_BOOT_CDF[1]} THEN 1
                 WHEN u < {_BOOT_CDF[2]} THEN 2
                 WHEN u < {_BOOT_CDF[3]} THEN 3
                 ELSE 4
               END AS w
        FROM hashed o CROSS JOIN reps r
        CROSS JOIN LATERAL (SELECT
            (o.hm * (r.b + 1) + r.b) % {_BOOT_P} AS u) h
    ),
    means AS (
        SELECT b,
               round(CAST({oracle_dec_sum('w * o_totalprice')} AS DOUBLE)
                     / sum(w), 6) AS m
        FROM weighted GROUP BY b
    ),
    ranked AS (
        SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM means
    ),
    point AS (
        SELECT round(CAST({oracle_dec_sum('o_totalprice')} AS DOUBLE)
                     / count(*), 6) AS point_mean
        FROM orders
    )
    SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicas,
           point.point_mean,
           max(CASE WHEN rn = 5 THEN m END) AS ci_lo_p05,
           max(CASE WHEN rn = 50 THEN m END) AS boot_median,
           max(CASE WHEN rn = 96 THEN m END) AS ci_hi_p95
    FROM ranked CROSS JOIN point
    GROUP BY point.point_mean
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of mean(o_totalprice): the ONLY bootstrap that
    works at 100 TB. Classic resampling needs B full shuffled copies of the
    data; the Poisson trick (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012) replaces sampling-with-replacement
    by an independent Poisson(1) weight per (row, replica) — computed
    INLINE from a content hash, so the whole procedure is one scan: the
    100x row expansion is pipelined through a map-side partial aggregate
    and only B=100 partial rows per partition ever reach the shuffle.

    Weights are deterministic (h60-derived uniform vs fixed CDF literals),
    so the replica means — and therefore the CI — are partition-invariant
    and cross-engine exact: this demo's CI is hash-verified, not just
    plausible. Output: point estimate + rank-based 5th/50th/96th replica
    means (percentile CI at B=100)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice",
        (
            h60(F.concat(F.lit("boot:"), F.col("o_orderkey").cast("string")))
            % _BOOT_P
        ).alias("hm"),
    )
    # Spark sizes scan partitions by INPUT bytes; a B=100 fan-out needs its
    # parallelism sized to the EXPANDED data or the whole expansion runs on
    # as many threads as the source has files (1 at small SF). One cheap
    # narrow-row shuffle before the crossJoin fixes it; on a real cluster
    # with thousands of input splits this is a no-op-sized safeguard.
    # persist: the narrow projection feeds the replica fan-out AND the
    # point estimate — "one scan" stays literally true (per-row = corpus
    # volume, so persist, not checkpoint).
    o = persist_corpus(o.repartition(spark.sparkContext.defaultParallelism))
    reps = spark.range(_BOOT_B).select(F.col("id").cast("int").alias("b"))
    u = (F.col("hm") * (F.col("b") + 1) + F.col("b")) % _BOOT_P
    w = (
        F.when(u < _BOOT_CDF[0], 0)
        .when(u < _BOOT_CDF[1], 1)
        .when(u < _BOOT_CDF[2], 2)
        .when(u < _BOOT_CDF[3], 3)
        .otherwise(4)
    )
    means = (
        o.crossJoin(F.broadcast(reps))
        .select("b", w.alias("w"), "o_totalprice")
        .groupBy("b")
        .agg(
            F.round(
                dec_sum(F.col("w") * F.col("o_totalprice")) / F.sum("w"), 6
            ).alias("m")
        )
    )
    w_rank = Window.orderBy("m", "b")
    ranked = means.withColumn("rn", F.row_number().over(w_rank))
    point = o.agg(
        F.round(dec_sum("o_totalprice") / F.count("*"), 6).alias("point_mean")
    )
    return (
        ranked.crossJoin(F.broadcast(point))
        .groupBy("point_mean")
        .agg(
            F.max(F.when(F.col("rn") == 5, F.col("m"))).alias("ci_lo_p05"),
            F.max(F.when(F.col("rn") == 50, F.col("m"))).alias("boot_median"),
            F.max(F.when(F.col("rn") == 96, F.col("m"))).alias("ci_hi_p95"),
        )
        .select(
            F.lit(_BOOT_B).cast("long").alias("n_replicas"),
            "point_mean",
            "ci_lo_p05",
            "boot_median",
            "ci_hi_p95",
        )
    )


@register(
    "seasonal_decompose_daily",
    tags=("analytics", "timeseries"),
    defer=True,
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               round(CAST({oracle_dec_sum('value')} AS DOUBLE), 6) AS total
        FROM events GROUP BY 1
    ),
    tr AS (
        SELECT d, total,
               CASE WHEN count(*) OVER w = 7 THEN
                   round(CAST(sum(CAST(total AS DECIMAL(38,6))) OVER w
                              AS DOUBLE) / 7, 6)
               END AS trend
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
        SELECT d, total, trend,
               round(total - trend, 6) AS detrended,
               isodow(d) AS dow
        FROM tr
    ),
    seas AS (
        SELECT dow,
               round(CAST({oracle_dec_sum('detrended')} AS DOUBLE)
                     / count(detrended), 6) AS seasonal
        FROM detr WHERE detrended IS NOT NULL GROUP BY dow
    )
    SELECT strftime(detr.d, '%Y-%m-%d') AS day,
           detr.total, detr.trend, seas.seasonal,
           round(detr.detrended - seas.seasonal, 6) AS remainder
    FROM detr JOIN seas ON detr.dow = seas.dow
    ORDER BY day
    """,
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event-value
    series: trend = centered 7-day moving average (full windows only),
    seasonal = mean detrended value per ISO weekday, remainder = the rest.
    The heavy step is the daily aggregation (map-side combined, one small
    shuffle); every window after it runs over the AGGREGATED ~30-row
    series, so the decomposition itself is scale-free no matter how many
    raw events feed a day. Frame sums go through decimal(38,6) so the
    moving average is order-independent (float frame folds are not)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.round(dec_sum("value"), 6).alias("total")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.withColumn(
        "trend",
        F.when(
            F.count("*").over(w7) == 7,
            F.round(
                F.sum(F.col("total").cast("decimal(38,6)")).over(w7).cast(
                    "double"
                )
                / 7,
                6,
            ),
        ),
    )
    detr = tr.select(
        "d",
        "total",
        "trend",
        F.round(F.col("total") - F.col("trend"), 6).alias("detrended"),
        (F.expr("weekday(d)") + 1).alias("dow"),
    ).localCheckpoint()  # feeds the seasonal means AND the final readout
    seas = (
        detr.where(F.col("detrended").isNotNull())
        .groupBy("dow")
        .agg(
            F.round(
                dec_sum("detrended") / F.count("detrended"), 6
            ).alias("seasonal")
        )
    )
    return (
        detr.join(seas, "dow")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "total",
            "trend",
            "seasonal",
            F.round(F.col("detrended") - F.col("seasonal"), 6).alias(
                "remainder"
            ),
        )
        .orderBy("day")
    )


_OLS_MOMS = f"""
        SELECT CAST(count(*) AS DOUBLE) AS n,
               {oracle_dec_sum('l_quantity')} AS s1,
               {oracle_dec_sum('l_discount')} AS s2,
               {oracle_dec_sum('l_extendedprice')} AS sy,
               {oracle_dec_sum('l_quantity * l_quantity')} AS s11,
               {oracle_dec_sum('l_quantity * l_discount')} AS s12,
               {oracle_dec_sum('l_discount * l_discount')} AS s22,
               {oracle_dec_sum('l_quantity * l_extendedprice')} AS s1y,
               {oracle_dec_sum('l_discount * l_extendedprice')} AS s2y,
               {oracle_dec_sum('l_extendedprice * l_extendedprice')} AS syy
        FROM lineitem
"""


@register(
    "ols_regression_coeffs",
    tags=("analytics", "mlprep"),
    defer=True,
    oracle=f"""
    WITH m AS (
{_OLS_MOMS}
    ),
    det AS (
        SELECT *,
               n * (s11 * s22 - s12 * s12)
               - s1 * (s1 * s22 - s12 * s2)
               + s2 * (s1 * s12 - s11 * s2) AS d
        FROM m
    ),
    beta AS (
        SELECT *,
               (sy * (s11 * s22 - s12 * s12)
                - s1 * (s1y * s22 - s12 * s2y)
                + s2 * (s1y * s12 - s11 * s2y)) / d AS b0,
               (n * (s1y * s22 - s12 * s2y)
                - sy * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s2y - s1y * s2)) / d AS b1,
               (n * (s11 * s2y - s1y * s12)
                - s1 * (s1 * s2y - s1y * s2)
                + sy * (s1 * s12 - s11 * s2)) / d AS b2
        FROM det
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(b0, 6) AS beta0,
           round(b1, 6) AS beta_quantity,
           round(b2, 6) AS beta_discount,
           round(1 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
                     / (syy - sy * sy / n), 6) AS r2
    FROM beta
    """,
)
def ols_regression_coeffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multiple linear regression (l_extendedprice ~ quantity
    + discount) trained in ONE scan: the 3x3 normal equations are solved
    by Cramer's rule over ten decimal-exact moments — the way linear
    models are actually fit on 100 TB (a single map-side-combined
    aggregate; no gradient iterations, no driver-side matrix library).
    R² comes from the same moments (SSE = y'y − β'X'y).

    Determinant expansions evaluate identical double operands in
    identical order on both engines (the ``corr_quantity_price`` recipe
    scaled up to a 3-variable solve), so coefficients are hash-exact."""
    li = load_table(spark, sf_dir, "lineitem").repartition(
        spark.sparkContext.defaultParallelism
    )  # spread the 10-decimal-moment agg (file-count scans)
    x1, x2, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.agg(
        F.count("*").cast("double").alias("n"),
        dec_sum(x1).alias("s1"),
        dec_sum(x2).alias("s2"),
        dec_sum(y).alias("sy"),
        dec_sum(x1 * x1).alias("s11"),
        dec_sum(x1 * x2).alias("s12"),
        dec_sum(x2 * x2).alias("s22"),
        dec_sum(x1 * y).alias("s1y"),
        dec_sum(x2 * y).alias("s2y"),
        dec_sum(y * y).alias("syy"),
    )
    c = {k: F.col(k) for k in
         ("n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y", "syy")}
    det = (
        c["n"] * (c["s11"] * c["s22"] - c["s12"] * c["s12"])
        - c["s1"] * (c["s1"] * c["s22"] - c["s12"] * c["s2"])
        + c["s2"] * (c["s1"] * c["s12"] - c["s11"] * c["s2"])
    )
    b0 = (
        c["sy"] * (c["s11"] * c["s22"] - c["s12"] * c["s12"])
        - c["s1"] * (c["s1y"] * c["s22"] - c["s12"] * c["s2y"])
        + c["s2"] * (c["s1y"] * c["s12"] - c["s11"] * c["s2y"])
    ) / det
    b1 = (
        c["n"] * (c["s1y"] * c["s22"] - c["s12"] * c["s2y"])
        - c["sy"] * (c["s1"] * c["s22"] - c["s12"] * c["s2"])
        + c["s2"] * (c["s1"] * c["s2y"] - c["s1y"] * c["s2"])
    ) / det
    b2 = (
        c["n"] * (c["s11"] * c["s2y"] - c["s1y"] * c["s12"])
        - c["s1"] * (c["s1"] * c["s2y"] - c["s1y"] * c["s2"])
        + c["sy"] * (c["s1"] * c["s12"] - c["s11"] * c["s2"])
    ) / det
    sse = c["syy"] - b0 * c["sy"] - b1 * c["s1y"] - b2 * c["s2y"]
    sst = c["syy"] - c["sy"] * c["sy"] / c["n"]
    return m.select(
        c["n"].cast("long").alias("n"),
        F.round(b0, 6).alias("beta0"),
        F.round(b1, 6).alias("beta_quantity"),
        F.round(b2, 6).alias("beta_discount"),
        F.round(1 - sse / sst, 6).alias("r2"),
    )


@register(
    "ab_test_zscore",
    tags=("analytics", "experiment"),
    defer=True,
    oracle=f"""
    WITH assigned AS (
        SELECT user_id,
               {oracle_h60("'ab:' || user_id")} % 2 AS arm,
               CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS pv
        FROM events
    ),
    per_user AS (
        SELECT user_id, arm,
               round(CAST({oracle_dec_sum('pv')} AS DOUBLE), 6) AS total
        FROM assigned GROUP BY user_id, arm
    ),
    arms AS (
        SELECT arm,
               CAST(count(*) AS DOUBLE) AS n,
               {oracle_dec_sum('total')} AS s,
               {oracle_dec_sum('total * total')} AS s2
        FROM per_user GROUP BY arm
    ),
    wide AS (
        SELECT
            max(CASE WHEN arm = 0 THEN n END) AS n0,
            max(CASE WHEN arm = 0 THEN s END) AS s0,
            max(CASE WHEN arm = 0 THEN s2 END) AS s20,
            max(CASE WHEN arm = 1 THEN n END) AS n1,
            max(CASE WHEN arm = 1 THEN s END) AS s1,
            max(CASE WHEN arm = 1 THEN s2 END) AS s21
        FROM arms
    )
    SELECT CAST(n0 AS BIGINT) AS n_control,
           CAST(n1 AS BIGINT) AS n_treatment,
           round(s0 / n0, 6) AS mean_control,
           round(s1 / n1, 6) AS mean_treatment,
           round((s1 / n1 - s0 / n0)
                 / sqrt(((s20 - s0 * s0 / n0) / (n0 - 1)) / n0
                        + ((s21 - s1 * s1 / n1) / (n1 - 1)) / n1), 6)
               AS welch_z,
           abs((s1 / n1 - s0 / n0)
               / sqrt(((s20 - s0 * s0 / n0) / (n0 - 1)) / n0
                      + ((s21 - s1 * s1 / n1) / (n1 - 1)) / n1)) > 1.959964
               AS significant_05
    FROM wide
    """,
)
def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample experiment readout — the query every experimentation
    platform runs at scale: deterministic hash assignment of users to
    arms (h60, so assignment is reproducible and partition-invariant,
    never a stored lookup), per-user total purchase value as the metric,
    and a Welch z-statistic from decimal-exact per-arm moments. Two
    map-side-combined aggregations (events→user, user→arm) and a 2-row
    pivot; scale-flat regardless of event volume.

    The per-user totals are rounded once (6dp) before the second-moment
    aggregation so Σx² sees identical operands on both engines; the z
    derivation then evaluates identical doubles in identical order."""
    e = load_table(spark, sf_dir, "events")
    assigned = e.select(
        "user_id",
        (h60(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2).alias(
            "arm"
        ),
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(0.0)
        .alias("pv"),
    )
    per_user = assigned.groupBy("user_id", "arm").agg(
        F.round(dec_sum("pv"), 6).alias("total")
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("double").alias("n"),
        dec_sum("total").alias("s"),
        dec_sum(F.col("total") * F.col("total")).alias("s2"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("s0"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("s20"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("s21"),
    )
    m0, m1 = F.col("s0") / F.col("n0"), F.col("s1") / F.col("n1")
    se = F.sqrt(
        ((F.col("s20") - F.col("s0") * F.col("s0") / F.col("n0"))
         / (F.col("n0") - 1)) / F.col("n0")
        + ((F.col("s21") - F.col("s1") * F.col("s1") / F.col("n1"))
           / (F.col("n1") - 1)) / F.col("n1")
    )
    z = (m1 - m0) / se
    return wide.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("n1").cast("long").alias("n_treatment"),
        F.round(m0, 6).alias("mean_control"),
        F.round(m1, 6).alias("mean_treatment"),
        F.round(z, 6).alias("welch_z"),
        (F.abs(z) > 1.959964).alias("significant_05"),
    )


@register(
    "theil_sen_daily_trend",
    tags=("analytics", "timeseries"),
    defer=True,
    oracle=f"""
    WITH daily AS (
        SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS idx,
               round(CAST({oracle_dec_sum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")} AS DOUBLE), 6) AS v
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT a.idx AS i1, b.idx AS i2,
               round((b.v - a.v) / (b.idx - a.idx), 12) AS slope
        FROM daily a JOIN daily b ON a.idx < b.idx
    ),
    ranked AS (
        SELECT slope,
               row_number() OVER (ORDER BY slope, i1, i2) AS rn,
               count(*) OVER () AS n
        FROM pairs
    ),
    med AS (SELECT slope FROM ranked WHERE rn = (n + 1) // 2),
    resid AS (
        SELECT round(d.v - m.slope * d.idx, 12) AS r
        FROM daily d CROSS JOIN med m
    ),
    rr AS (
        SELECT r, row_number() OVER (ORDER BY r) AS rn,
               count(*) OVER () AS n
        FROM resid
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
           (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs,
           round((SELECT slope FROM med), 6) AS ts_slope,
           round((SELECT r FROM rr WHERE rn = (n + 1) // 2), 6)
               AS ts_intercept
    """,
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimate over the daily purchase-revenue
    series: slope = median of all pairwise day-to-day slopes, intercept =
    median residual at that slope — the outlier-resistant alternative to
    OLS (``ols_regression_coeffs``) for monitoring drifting daily totals.

    Scale shape: the pair join runs over the DAILY AGGREGATE (bounded by
    the calendar — ~366 rows and ~67k pairs regardless of event volume),
    never over raw events; the only corpus-sized work is one map-side-
    combined groupBy(day). Medians rank on round-12 slopes with the day
    pair as tiebreak, so the selected element is identical cross-engine
    (lower median: rank (n+1) DIV 2)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("idx")
        )
        .agg(
            F.round(
                dec_sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    ).otherwise(0.0)
                ),
                6,
            )
            .cast("double")
            .alias("v")
        )
        # the ~366-row daily series feeds both pair-join sides and the
        # residual pass — checkpoint so events aggregates once (executed-
        # plan audit: 5 scans without)
        .localCheckpoint()
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.idx") < F.col("b.idx")).select(
        F.col("a.idx").alias("i1"),
        F.col("b.idx").alias("i2"),
        F.round(
            (F.col("b.v") - F.col("a.v")) / (F.col("b.idx") - F.col("a.idx")),
            12,
        ).alias("slope"),
    )
    w_all = Window.orderBy("slope", "i1", "i2")
    ranked = pairs.select(
        "slope",
        F.row_number().over(w_all).alias("rn"),
        F.count("*").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    med = ranked.where(
        F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("int")
    ).select("slope")
    resid = daily.crossJoin(F.broadcast(med)).select(
        F.round(F.col("v") - F.col("slope") * F.col("idx"), 12).alias("r")
    )
    w_r = Window.orderBy("r")
    rr = resid.select(
        "r",
        F.row_number().over(w_r).alias("rn"),
        F.count("*").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    intercept = rr.where(
        F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("int")
    ).select(F.col("r").alias("ts_intercept"))
    n_days = daily.agg(F.count("*").cast("long").alias("n_days"))
    n_pairs = pairs.agg(F.count("*").cast("long").alias("n_pairs"))
    return (
        n_days.crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(intercept))
        .select(
            "n_days",
            "n_pairs",
            F.round("slope", 6).alias("ts_slope"),
            F.round("ts_intercept", 6).alias("ts_intercept"),
        )
    )


@register(
    "bh_fdr_event_metrics",
    tags=("analytics", "experiment"),
    defer=True,
    oracle=f"""
    WITH assigned AS (
        SELECT event_type,
               {oracle_h60("'ab:' || user_id")} % 2 AS arm,
               value
        FROM events
    ),
    arms AS (
        SELECT event_type, arm,
               CAST(count(*) AS DOUBLE) AS n,
               CAST({oracle_dec_sum('value')} AS DOUBLE) AS s,
               CAST({oracle_dec_sum('value * value')} AS DOUBLE) AS s2
        FROM assigned GROUP BY 1, 2
    ),
    wide AS (
        SELECT event_type,
               max(CASE WHEN arm = 0 THEN n END) AS n0,
               max(CASE WHEN arm = 0 THEN s END) AS s0,
               max(CASE WHEN arm = 0 THEN s2 END) AS s20,
               max(CASE WHEN arm = 1 THEN n END) AS n1,
               max(CASE WHEN arm = 1 THEN s END) AS s1,
               max(CASE WHEN arm = 1 THEN s2 END) AS s21
        FROM arms GROUP BY event_type
        HAVING n0 > 1 AND n1 > 1
    ),
    z AS (
        SELECT event_type,
               round((s1 / n1 - s0 / n0)
                     / sqrt(((s20 - s0 * s0 / n0) / (n0 - 1)) / n0
                            + ((s21 - s1 * s1 / n1) / (n1 - 1)) / n1), 9)
                   AS welch_z
        FROM wide
    ),
    p AS (
        SELECT event_type, welch_z,
               round(2.0 / (1.0 + exp(1.702 * abs(welch_z))), 9) AS p_approx
        FROM z
    ),
    ranked AS (
        SELECT event_type, welch_z, p_approx,
               row_number() OVER (ORDER BY p_approx, event_type) AS rk,
               count(*) OVER () AS m
        FROM p
    ),
    kstar AS (
        SELECT coalesce(max(CASE WHEN p_approx * m <= 0.10 * rk
                                 THEN rk END), 0) AS k
        FROM ranked
    )
    SELECT event_type, round(welch_z, 6) AS welch_z,
           round(p_approx, 6) AS p_approx,
           CAST(rk AS BIGINT) AS p_rank,
           rk <= (SELECT k FROM kstar) AS bh_significant_10
    FROM ranked ORDER BY p_rank
    """,
)
def bh_fdr_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control for a metric sweep: one Welch z per
    event_type (deterministic h60 arm split, decimal-exact moments), a
    sigmoid normal-tail approximation for the two-sided p-value
    (p = 2/(1+exp(1.702|z|)) — both engines evaluate identical operands,
    so the approximation choice costs nothing in determinism), and
    Benjamini-Hochberg step-up at FDR 0.10: reject the k* smallest
    p-values where k* = max{{k : p_(k) <= alpha*k/m}}.

    Scale shape: one corpus pass into a (event_type x arm) aggregate;
    every window thereafter runs over the ~5-row metric table. The BH
    threshold comparison is rearranged to ``p*m <= alpha*k`` (integer
    multiplier on the rank side) to avoid a division's ulp wobble."""
    e = load_table(spark, sf_dir, "events")
    assigned = e.select(
        "event_type",
        (h60(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2).alias(
            "arm"
        ),
        "value",
    )
    arms = assigned.groupBy("event_type", "arm").agg(
        F.count("*").cast("double").alias("n"),
        dec_sum("value").cast("double").alias("s"),
        dec_sum(F.col("value") * F.col("value")).cast("double").alias("s2"),
    )
    wide = (
        arms.groupBy("event_type")
        .agg(
            F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
            F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("s0"),
            F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("s20"),
            F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
            F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("s1"),
            F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("s21"),
        )
        .where((F.col("n0") > 1) & (F.col("n1") > 1))
        # the ~5-row metric table anchors the ranking AND the k* threshold
        # — checkpoint so the corpus aggregate runs once
        .localCheckpoint()
    )
    m0, m1 = F.col("s0") / F.col("n0"), F.col("s1") / F.col("n1")
    se = F.sqrt(
        ((F.col("s20") - F.col("s0") * F.col("s0") / F.col("n0"))
         / (F.col("n0") - 1)) / F.col("n0")
        + ((F.col("s21") - F.col("s1") * F.col("s1") / F.col("n1"))
           / (F.col("n1") - 1)) / F.col("n1")
    )
    z = wide.select(
        "event_type", F.round((m1 - m0) / se, 9).alias("welch_z")
    )
    p = z.select(
        "event_type",
        "welch_z",
        F.round(
            2.0 / (1.0 + F.exp(1.702 * F.abs(F.col("welch_z")))), 9
        ).alias("p_approx"),
    )
    w_rk = Window.orderBy("p_approx", "event_type")
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = p.select(
        "event_type",
        "welch_z",
        "p_approx",
        F.row_number().over(w_rk).alias("rk"),
        F.count("*").over(w_all).alias("m"),
    )
    kstar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_approx") * F.col("m") <= 0.10 * F.col("rk"),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .select(
            "event_type",
            F.round("welch_z", 6).alias("welch_z"),
            F.round("p_approx", 6).alias("p_approx"),
            F.col("rk").cast("long").alias("p_rank"),
            (F.col("rk") <= F.col("k")).alias("bh_significant_10"),
        )
        .orderBy("p_rank")
    )


def _logreg_sums_sql(beta_cte: str) -> str:
    """One IRLS pass's nine moment sums (X'WX upper triangle + X'(y−p)),
    each term round-12 then decimal-summed — shared between both unrolled
    iterations of the ``logistic_regression_returnflag`` oracle."""
    z = f"(b.b0 + b.b1 * f.x1 + b.b2 * f.x2)"
    p = f"(1.0 / (1.0 + exp(-{z})))"
    wgt = f"({p} * (1.0 - {p}))"
    r = f"(f.y - {p})"

    def s(expr: str, name: str) -> str:
        return (
            f"CAST(SUM(CAST(round({expr}, 12) AS DECIMAL(38,12)))"
            f" AS DOUBLE) AS {name}"
        )

    return f"""
        SELECT {s(wgt, 'a11')}, {s(f'{wgt} * f.x1', 'a12')},
               {s(f'{wgt} * f.x2', 'a13')},
               {s(f'{wgt} * f.x1 * f.x1', 'a22')},
               {s(f'{wgt} * f.x1 * f.x2', 'a23')},
               {s(f'{wgt} * f.x2 * f.x2', 'a33')},
               {s(r, 'g1')}, {s(f'{r} * f.x1', 'g2')},
               {s(f'{r} * f.x2', 'g3')}
        FROM feats f CROSS JOIN {beta_cte} b"""


_LOGREG_SOLVE_SQL = """
        SELECT
            round(b.b0 + (m.g1 * (m.a22 * m.a33 - m.a23 * m.a23)
                   - m.a12 * (m.g2 * m.a33 - m.a23 * m.g3)
                   + m.a13 * (m.g2 * m.a23 - m.a22 * m.g3))
                  / (m.a11 * (m.a22 * m.a33 - m.a23 * m.a23)
                   - m.a12 * (m.a12 * m.a33 - m.a23 * m.a13)
                   + m.a13 * (m.a12 * m.a23 - m.a22 * m.a13)), 9) AS b0,
            round(b.b1 + (m.a11 * (m.g2 * m.a33 - m.a23 * m.g3)
                   - m.g1 * (m.a12 * m.a33 - m.a23 * m.a13)
                   + m.a13 * (m.a12 * m.g3 - m.g2 * m.a13))
                  / (m.a11 * (m.a22 * m.a33 - m.a23 * m.a23)
                   - m.a12 * (m.a12 * m.a33 - m.a23 * m.a13)
                   + m.a13 * (m.a12 * m.a23 - m.a22 * m.a13)), 9) AS b1,
            round(b.b2 + (m.a11 * (m.a22 * m.g3 - m.g2 * m.a23)
                   - m.a12 * (m.a12 * m.g3 - m.g2 * m.a13)
                   + m.g1 * (m.a12 * m.a23 - m.a22 * m.a13))
                  / (m.a11 * (m.a22 * m.a33 - m.a23 * m.a23)
                   - m.a12 * (m.a12 * m.a33 - m.a23 * m.a13)
                   + m.a13 * (m.a12 * m.a23 - m.a22 * m.a13)), 9) AS b2"""


@register(
    "logistic_regression_returnflag",
    tags=("analytics", "mlprep"),
    defer=True,
    oracle=f"""
    WITH feats AS MATERIALIZED (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
               l_quantity / 50.0 AS x1,
               l_discount * 10.0 AS x2
        FROM lineitem
    ),
    bz AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
    m1 AS MATERIALIZED ({_logreg_sums_sql('bz')}),
    bt1 AS MATERIALIZED ({_LOGREG_SOLVE_SQL} FROM m1 m CROSS JOIN bz b),
    m2 AS MATERIALIZED ({_logreg_sums_sql('bt1')}),
    bt2 AS ({_LOGREG_SOLVE_SQL} FROM m2 m CROSS JOIN bt1 b)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM feats) AS n_rows,
           round(b0, 6) AS beta_intercept,
           round(b1, 6) AS beta_quantity,
           round(b2, 6) AS beta_discount
    FROM bt2
    """,
)
def logistic_regression_returnflag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Logistic regression TRAINED IN-ENGINE: two unrolled IRLS/Newton
    steps for P(returnflag = 'R' | quantity, discount) — the glm sibling
    of ``ols_regression_coeffs`` (closed-form) and
    ``naive_bayes_lang_confusion`` (counting), completing the
    train-a-model-with-aggregations tier. Each step is one corpus pass
    producing the nine weighted moments (X'WX upper triangle, X'(y−p)),
    solved 3×3 by Cramer's rule; β starts at 0 (where p is exactly 0.5
    in both engines) and is round-9 after every step, so the float
    recursion is bit-identical cross-engine — the ``pagerank`` recipe
    applied to model training.

    Scale shape: 2 passes × one map-side-combined aggregate each; the
    solve runs on a 1-row table. More iterations = more passes — the
    honest distributed-GLM trade, noted rather than hidden."""
    li = load_table(spark, sf_dir, "lineitem")
    feats = li.select(
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
    )
    # the decimal-moment aggregate is CPU-bound: spread it over every core
    # (scan parallelism = source file count, 1-3 at local SFs; no-op-sized
    # on a real cluster) and keep the projected features resident so each
    # IRLS pass re-reads 3 narrow columns, not the parquet scan lineage.
    # persist is load-bearing (guide §2.4/§5): feats is consumed THREE
    # times (2 IRLS passes + the n_rows count) and without it every pass
    # re-ran the scan AND the round-robin exchange — 3 full-data shuffles
    # for one query (measured r11: 3.05 s → see OPTIMIZATION_r11.md)
    feats = persist_corpus(
        feats.repartition(spark.sparkContext.defaultParallelism)
    )
    beta = spark.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1"), F.lit(0.0).alias("b2")
    )

    def s(expr, name):
        return (
            F.sum(F.round(expr, 12).cast("decimal(38,12)"))
            .cast("double")
            .alias(name)
        )

    for _ in range(2):
        j = feats.crossJoin(F.broadcast(beta))
        z = F.col("b0") + F.col("b1") * F.col("x1") + F.col("b2") * F.col("x2")
        p = 1.0 / (1.0 + F.exp(-z))
        wgt = p * (1.0 - p)
        r = F.col("y") - p
        x1, x2 = F.col("x1"), F.col("x2")
        m = j.agg(
            s(wgt, "a11"),
            s(wgt * x1, "a12"),
            s(wgt * x2, "a13"),
            s(wgt * x1 * x1, "a22"),
            s(wgt * x1 * x2, "a23"),
            s(wgt * x2 * x2, "a33"),
            s(r, "g1"),
            s(r * x1, "g2"),
            s(r * x2, "g3"),
        )
        a11, a12, a13 = F.col("a11"), F.col("a12"), F.col("a13")
        a22, a23, a33 = F.col("a22"), F.col("a23"), F.col("a33")
        g1, g2, g3 = F.col("g1"), F.col("g2"), F.col("g3")
        det = (
            a11 * (a22 * a33 - a23 * a23)
            - a12 * (a12 * a33 - a23 * a13)
            + a13 * (a12 * a23 - a22 * a13)
        )
        d0 = (
            g1 * (a22 * a33 - a23 * a23)
            - a12 * (g2 * a33 - a23 * g3)
            + a13 * (g2 * a23 - a22 * g3)
        )
        d1 = (
            a11 * (g2 * a33 - a23 * g3)
            - g1 * (a12 * a33 - a23 * a13)
            + a13 * (a12 * g3 - g2 * a13)
        )
        d2 = (
            a11 * (a22 * g3 - g2 * a23)
            - a12 * (a12 * g3 - g2 * a13)
            + g1 * (a12 * a23 - a22 * a13)
        )
        beta = m.crossJoin(F.broadcast(beta)).select(
            F.round(F.col("b0") + d0 / det, 9).alias("b0"),
            F.round(F.col("b1") + d1 / det, 9).alias("b1"),
            F.round(F.col("b2") + d2 / det, 9).alias("b2"),
        )
        # one-row eager cut: without it pass k's broadcast(beta) lineage
        # re-runs every earlier pass, turning 2 IRLS passes into 3 scans
        beta = beta.localCheckpoint()
    n = feats.agg(F.count("*").cast("long").alias("n_rows"))
    return n.crossJoin(F.broadcast(beta)).select(
        "n_rows",
        F.round("b0", 6).alias("beta_intercept"),
        F.round("b1", 6).alias("beta_quantity"),
        F.round("b2", 6).alias("beta_discount"),
    )


@register(
    "did_event_effect",
    tags=("analytics", "experiment"),
    defer=True,
    oracle=f"""
    WITH per_cell AS (
        SELECT {oracle_h60("'did:' || user_id")} % 2 AS treated,
               CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
                   AS post,
               CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS pv
        FROM events
    ),
    cells AS (
        SELECT treated, post,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST({oracle_dec_sum('pv')} AS DOUBLE) / count(*), 9)
                   AS mean_pv
        FROM per_cell GROUP BY treated, post
    ),
    wide AS (
        SELECT
            max(CASE WHEN treated = 0 AND post = 0 THEN mean_pv END) AS c0,
            max(CASE WHEN treated = 0 AND post = 1 THEN mean_pv END) AS c1,
            max(CASE WHEN treated = 1 AND post = 0 THEN mean_pv END) AS t0,
            max(CASE WHEN treated = 1 AND post = 1 THEN mean_pv END) AS t1,
            max(CASE WHEN treated = 0 AND post = 0 THEN n END) AS nc0,
            max(CASE WHEN treated = 0 AND post = 1 THEN n END) AS nc1,
            max(CASE WHEN treated = 1 AND post = 0 THEN n END) AS nt0,
            max(CASE WHEN treated = 1 AND post = 1 THEN n END) AS nt1
        FROM cells
    )
    SELECT CAST(nc0 AS BIGINT) AS n_control_pre,
           CAST(nc1 AS BIGINT) AS n_control_post,
           CAST(nt0 AS BIGINT) AS n_treated_pre,
           CAST(nt1 AS BIGINT) AS n_treated_post,
           round(c0, 6) AS mean_control_pre,
           round(c1, 6) AS mean_control_post,
           round(t0, 6) AS mean_treated_pre,
           round(t1, 6) AS mean_treated_post,
           round((t1 - t0) - (c1 - c0), 6) AS did_estimate
    FROM wide
    """,
)
def did_event_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout — the quasi-experimental
    companion of ``ab_test_zscore`` for launches without a holdout: a
    deterministic h60 "treated" split, a mid-stream cutover date, and
    DiD = (treated_post − treated_pre) − (control_post − control_pre)
    over per-event purchase value, which nets out both the group baseline
    and the common time trend.

    Scale shape: one corpus pass into the 2×2 cell aggregate (decimal
    sums), then a single-row pivot — scale-flat. Cell means are round-9
    before the DiD arithmetic so both engines subtract identical
    doubles."""
    e = load_table(spark, sf_dir, "events")
    per = e.select(
        (
            h60(F.concat(F.lit("did:"), F.col("user_id").cast("string"))) % 2
        ).alias("treated"),
        F.when(F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), 1)
        .otherwise(0)
        .alias("post"),
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(0.0)
        .alias("pv"),
    )
    cells = per.groupBy("treated", "post").agg(
        F.count("*").cast("long").alias("n"),
        F.round(dec_sum("pv").cast("double") / F.count("*"), 9).alias(
            "mean_pv"
        ),
    )

    def cell(t, p, col):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col))
        )

    wide = cells.agg(
        cell(0, 0, "mean_pv").alias("c0"),
        cell(0, 1, "mean_pv").alias("c1"),
        cell(1, 0, "mean_pv").alias("t0"),
        cell(1, 1, "mean_pv").alias("t1"),
        cell(0, 0, "n").alias("nc0"),
        cell(0, 1, "n").alias("nc1"),
        cell(1, 0, "n").alias("nt0"),
        cell(1, 1, "n").alias("nt1"),
    )
    return wide.select(
        F.col("nc0").cast("long").alias("n_control_pre"),
        F.col("nc1").cast("long").alias("n_control_post"),
        F.col("nt0").cast("long").alias("n_treated_pre"),
        F.col("nt1").cast("long").alias("n_treated_post"),
        F.round("c0", 6).alias("mean_control_pre"),
        F.round("c1", 6).alias("mean_control_post"),
        F.round("t0", 6).alias("mean_treated_pre"),
        F.round("t1", 6).alias("mean_treated_post"),
        F.round(
            (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")), 6
        ).alias("did_estimate"),
    )


@register(
    "activity_entropy_per_user",
    tags=("analytics", "events"),
    defer=True,
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    withn AS (
        SELECT user_id, event_type, c,
               sum(c) OVER (PARTITION BY user_id) AS n
        FROM counts
    ),
    ent AS (
        SELECT user_id,
               CAST(max(n) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_types,
               round(CAST(SUM(CAST(
                   round(-(CAST(c AS DOUBLE) / n)
                         * ln(CAST(c AS DOUBLE) / n), 12)
                   AS DECIMAL(38,12))) AS DOUBLE), 6) AS entropy
        FROM withn GROUP BY user_id
    )
    SELECT user_id, n_events, n_types, entropy
    FROM ent
    ORDER BY entropy DESC, user_id
    LIMIT 20
    """,
)
def activity_entropy_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity score: Shannon entropy of each user's
    event-type distribution, top 20 — flat-profile users (every action
    equally likely) score near ln(k) and are the classic bot signature;
    single-action users score 0. The per-entity companion of the
    corpus-level ``token_entropy_quality``.

    Scale shape: one (user, type) aggregate, a per-user window over that
    bounded grid (≤ |types| rows per user), per-user entropy as round-12
    decimal-summed −p·ln p terms, TakeOrdered top-20. Never a shuffle
    wider than users × types."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("c")
    )
    wu = Window.partitionBy("user_id")
    withn = counts.withColumn("n", F.sum("c").over(wu))
    p = F.col("c").cast("double") / F.col("n")
    ent = withn.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_types"),
        F.round(
            F.sum(
                F.round(-p * F.log(p), 12).cast("decimal(38,12)")
            ).cast("double"),
            6,
        ).alias("entropy"),
    )
    return ent.orderBy(F.col("entropy").desc(), "user_id").limit(20)


# ---------------------------------------------------------------------------
# Wave 17: PCA top component via unrolled power iteration
# ---------------------------------------------------------------------------

_PCA_STEPS = 16
_PCA_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_revenue"]
_PCA_PAIRS = [
    (a, b) for i, a in enumerate(_PCA_COLS) for b in _PCA_COLS[i:]
]


def _pca_formula_sqls():
    """Build the shared formula text once; both engines parse the SAME
    strings (Spark ``F.expr``/``selectExpr`` and the DuckDB oracle), so
    every double op runs on identical operands in identical order.

    Returns (corr exprs, per-step (w exprs, v exprs) pairs, (sign-sum
    expr, Rayleigh expr)) — all as lists of ``<formula> AS <name>``
    fragments safe to pass one-per-selectExpr-argument."""
    cols = _PCA_COLS
    k = len(cols)

    def cname(i: int, j: int) -> str:
        a, b = (cols[i], cols[j]) if i <= j else (cols[j], cols[i])
        return f"s_{a}_{b}"

    def cov(i: int, j: int) -> str:
        return f"(({cname(i, j)} - s_{cols[i]} * s_{cols[j]} / n) / n)"

    corr = [
        f"round({cov(i, j)} / sqrt({cov(i, i)} * {cov(j, j)}), 12)"
        f" AS c_{i}_{j}"
        for i in range(k)
        for j in range(k)
        if i <= j
    ]

    def centry(i: int, j: int) -> str:
        return f"c_{min(i, j)}_{max(i, j)}"

    ws = [
        "(" + " + ".join(f"{centry(i, j)} * v{j}" for j in range(k)) + ")"
        for i in range(k)
    ]
    nrm = "sqrt(" + " + ".join(f"w{i} * w{i}" for i in range(k)) + ")"
    step = (
        [f"round({w}, 12) AS w{i}" for i, w in enumerate(ws)],
        [f"round(w{i} / {nrm}, 12) AS v{i}" for i in range(k)],
    )
    steps = [step] * _PCA_STEPS

    vsum = " + ".join(f"v{i}" for i in range(k))
    us = [
        "round("
        + " + ".join(f"{centry(i, j)} * v{j}" for j in range(k))
        + ", 12)"
        for i in range(k)
    ]
    rayleigh = (
        "round("
        + " + ".join(f"v{i} * {u}" for i, u in enumerate(us))
        + ", 6) + 0.0"
    )
    return corr, steps, (vsum, rayleigh)


def _pca_oracle() -> str:
    cols = _PCA_COLS
    k = len(cols)
    sums = ",\n           ".join(f"{oracle_dec_sum(c)} AS s_{c}" for c in cols)
    cross = ",\n           ".join(
        f"{oracle_dec_sum(f'{a} * {b}')} AS s_{a}_{b}" for a, b in _PCA_PAIRS
    )
    corr, steps, (vsum, rayleigh) = _pca_formula_sqls()
    init = ", ".join(f"0.5 AS v{i}" for i in range(k))
    ctes = [
        "src AS (SELECT l_quantity, l_extendedprice, l_discount,"
        " l_extendedprice * (1 - l_discount) AS l_revenue FROM lineitem)",
        f"s AS (SELECT CAST(count(*) AS DOUBLE) AS n,\n           {sums},\n"
        f"           {cross} FROM src)",
        "c AS (SELECT n,\n           " + ",\n           ".join(corr) + " FROM s)",
        f"it0 AS (SELECT *, {init} FROM c)",
    ]
    prev = "it0"
    for t, (w_sel, v_sel) in enumerate(steps, 1):
        ctes.append(f"raw{t} AS (SELECT *, {', '.join(w_sel)} FROM {prev})")
        ctes.append(
            f"it{t} AS (SELECT * EXCLUDE (v0, v1, v2, v3, w0, w1, w2, w3),"
            f" {', '.join(v_sel)} FROM raw{t})"
        )
        prev = f"it{t}"
    ctes.append(
        f"fin AS (SELECT *, CASE WHEN {vsum} < 0 THEN -1.0 ELSE 1.0 END"
        f" AS sgn, {rayleigh} AS eigenvalue FROM {prev})"
    )
    rows = "\n    UNION ALL\n    ".join(
        f"SELECT '{c}' AS feature, round(sgn * v{i}, 6) + 0.0 AS loading,"
        f" eigenvalue, CAST(n AS BIGINT) AS n FROM fin"
        for i, c in enumerate(cols)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n    SELECT * FROM (\n    {rows}"
        "\n    ) ORDER BY feature"
    )


@register(
    "pca_top_component_power",
    tags=("analytics", "mlprep"),
    defer=True,
    oracle=_pca_oracle(),
)
def pca_top_component_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal component of a 4-feature lineitem correlation
    matrix (quantity, extendedprice, discount, and the DERIVED revenue =
    extendedprice·(1−discount), which plants a genuinely collinear
    direction) via 16 unrolled power-iteration steps — the one-pass,
    driver-math-free PCA a feature pipeline uses to spot a dominant
    redundant direction. Fixture spectrum: λ1 ≈ 2.0 vs λ2 ≈ 1.01, so 16
    steps converge the loadings to ~1e-5 ((λ2/λ1)^16); a gapless matrix
    would need more steps — the test pins accuracy against numpy eigh.

    Determinism: the correlation entries derive from the decimal moment
    sums (order-free); every iteration is a fixed-order 4-term double
    dot product round-12 per component, normalized by an IEEE-exact sqrt.
    Both engines parse the IDENTICAL formula strings (built once by
    ``_pca_formula_sqls``), so the float recursion is bit-stable — the
    pagerank/IRLS unrolling recipe applied to an eigenproblem. The sign is
    canonicalized by the loading-sum direction.

    Scale shape: ONE scan accumulating 15 decimal sums (map-side combine,
    1-row shuffle); the 16 iterations are scalar expressions over that one
    row — zero extra jobs, zero driver loops. At 100 TB cost equals the
    moment scan; a d-feature version shuffles d(d+3)/2 decimals."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "l_revenue"
        ),
    )
    # spread the 15-decimal-sum moment aggregate over every core (scan
    # parallelism = file count at local SFs; no-op-sized on a cluster)
    li = li.repartition(spark.sparkContext.defaultParallelism)
    cols = _PCA_COLS
    aggs = [F.count("*").cast("double").alias("n")]
    aggs += [dec_sum(F.col(c)).alias(f"s_{c}") for c in cols]
    aggs += [
        dec_sum(F.col(a) * F.col(b)).alias(f"s_{a}_{b}")
        for a, b in _PCA_PAIRS
    ]
    s = li.agg(*aggs)
    corr, steps, (vsum, rayleigh) = _pca_formula_sqls()
    cur = s.selectExpr("n", *corr)
    cur = cur.selectExpr("*", *(f"0.5 AS v{i}" for i in range(len(cols))))
    keep = [f"c_{i}_{j}" for i in range(4) for j in range(4) if i <= j]
    # The one-row iteration state is localCheckpoint-ed per step (the MMR /
    # k-hop-BFS lineage recipe): each v_i inlines nrm's four w terms, so a
    # single collapsed plan grows ~20x per step and costs >10 s of optimizer
    # time by step 8; eight sub-millisecond one-row jobs are free.
    cur = cur.localCheckpoint()
    for t, (w_sel, v_sel) in enumerate(steps, 1):
        cur = cur.selectExpr("*", *w_sel)
        cur = cur.selectExpr("n", *keep, *v_sel)
        if t % 2 == 0:  # ~400 inlined terms per cut — cheap for Catalyst
            cur = cur.localCheckpoint()
    fin = cur.selectExpr(
        "*",
        f"CASE WHEN {vsum} < 0 THEN -1.0 ELSE 1.0 END AS sgn",
        f"{rayleigh} AS eigenvalue",
    )
    out = None
    for i, c in enumerate(cols):
        row = fin.selectExpr(
            f"'{c}' AS feature",
            f"round(sgn * v{i}, 6) + 0.0 AS loading",
            "eigenvalue",
            "CAST(n AS BIGINT) AS n",
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("feature")


# the series is calendar-bound: one row per month, a century at most
_HOLT_MAX_MONTHS = 100 * 12


@register(
    "holt_linear_forecast_eval",
    tags=("analytics", "forecast"),
    defer=True,
    oracle="""
    WITH RECURSIVE m AS MATERIALIZED (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(count(*) AS BIGINT) AS y,
               CAST(row_number() OVER (
                   ORDER BY date_trunc('month', o_orderdate)) AS BIGINT) AS t
        FROM orders GROUP BY date_trunc('month', o_orderdate)
    ),
    n AS (SELECT CAST(max(t) AS BIGINT) AS n FROM m),
    rec AS (
        SELECT 1 AS t,
               CAST(m1.y AS DOUBLE) AS l,
               CAST(m2.y AS DOUBLE) - m1.y AS b,
               CAST(NULL AS DOUBLE) AS f
        FROM (SELECT y FROM m WHERE t = 1) m1,
             (SELECT y FROM m WHERE t = 2) m2
        UNION ALL
        SELECT m.t,
               0.5 * m.y + 0.5 * (rec.l + rec.b),
               0.3 * ((0.5 * m.y + 0.5 * (rec.l + rec.b)) - rec.l)
                   + 0.7 * rec.b,
               rec.l + rec.b
        FROM rec JOIN m ON m.t = rec.t + 1
    ),
    horizon AS MATERIALIZED (
        SELECT m.month, m.y AS actual, rec.f
        FROM rec JOIN m ON m.t = rec.t CROSS JOIN n
        WHERE rec.t >= 2 AND rec.t > n.n - 12
    ),
    tot AS (
        SELECT round(CAST(SUM(CAST(round(abs(actual - f), 12)
                   AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) + 0.0 AS mae
        FROM horizon
    )
    SELECT month, actual,
           round(f, 6) + 0.0 AS forecast,
           round(abs(actual - f), 6) + 0.0 AS abs_err,
           mae
    FROM horizon CROSS JOIN tot ORDER BY month
    """,
)
def holt_linear_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing over the monthly order
    count with a one-step-ahead backtest on the last 12 months — the
    trend-aware capacity-forecast job a platform runs on ingest volume
    (seasonal_naive_forecast_eval's trended sibling). α = 0.5, β = 0.3;
    l₁ = y₁, b₁ = y₂ − y₁.

    Determinism WITHOUT per-step rounding: the recursion is pure IEEE
    +/×— no libm — and both engines (and the Python fold) evaluate the
    IDENTICAL formula text in identical order, so every intermediate is
    bit-equal; rounding happens once at output (the Spark plan's
    F.round, per the ewma lesson — never Python's banker's round).

    Scale shape: rows → month histogram (map-side combine, ~10² rows at
    any SF — the series length is calendar-, not data-, bound); the fold
    runs in one bounded_fold over that bounded series; MAE folds over
    12 rows. The oracle twin is a recursive CTE over the same series."""
    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(F.count("*").cast("long").alias("y"))
    )

    def _holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month").reset_index(drop=True)
        ys = [float(v) for v in pdf["y"]]
        n = len(ys)
        out = []
        if n >= 2:
            l, b = ys[0], ys[1] - ys[0]
            for t in range(1, n):
                f = l + b
                l_new = 0.5 * ys[t] + 0.5 * (l + b)
                b = 0.3 * (l_new - l) + 0.7 * b
                l = l_new
                if t + 1 > n - 12:
                    out.append(
                        {
                            "month": pdf["month"][t],
                            "actual": int(pdf["y"][t]),
                            "f": f,
                        }
                    )
        return pd.DataFrame(out, columns=["month", "actual", "f"])

    # the ≤12-row backtest horizon feeds the MAE aggregate AND the final
    # row readout — checkpoint so the fold pipeline runs once
    horizon = checkpoint_bounded(
        bounded_fold(
            monthly,
            _holt,
            "month string, actual long, f double",
            bound="one row per calendar month",
            max_rows=_HOLT_MAX_MONTHS,
        ),
        bound="the <=12-row backtest horizon",
    )
    tot = horizon.agg(
        (
            F.round(
                dec_sum(F.round(F.abs(F.col("actual") - F.col("f")), 12))
                / F.count("*"),
                6,
            )
            + 0.0
        ).alias("mae")
    )
    return (
        horizon.crossJoin(F.broadcast(tot))
        .select(
            "month",
            "actual",
            (F.round(F.col("f"), 6) + 0.0).alias("forecast"),
            (F.round(F.abs(F.col("actual") - F.col("f")), 6) + 0.0).alias(
                "abs_err"
            ),
            "mae",
        )
        .orderBy("month")
    )


_SPRT_LLR_POS = "0.4054651081081642"  # ln(0.3/0.2)
_SPRT_LLR_NEG = "-0.13353139262452274"  # ln(0.7/0.8)
_SPRT_BOUND = "2.9444389791664403"  # ln(19) — alpha = beta = 0.05


@register(
    "sprt_sequential_ab",
    tags=("analytics", "experiment"),
    defer=True,
    oracle=f"""
    WITH daily AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purch
        FROM events GROUP BY 1
    ),
    cum AS MATERIALIZED (
        SELECT day, n_events, n_purch,
               CAST(SUM(CAST(round(n_purch * {_SPRT_LLR_POS}
                        + (n_events - n_purch) * {_SPRT_LLR_NEG}, 12)
                    AS DECIMAL(38,12))) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS cum_llr
        FROM daily
    ),
    flagged AS MATERIALIZED (
        SELECT day, n_events, n_purch, round(cum_llr, 6) + 0.0 AS cum_llr,
               CASE WHEN cum_llr >= {_SPRT_BOUND} THEN 'accept_h1'
                    WHEN cum_llr <= -{_SPRT_BOUND} THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM cum
    ),
    first_dec AS (
        SELECT coalesce(min(day), '') AS first_decision_day
        FROM flagged WHERE decision != 'continue'
    )
    SELECT day, n_events, n_purch, cum_llr, decision, first_decision_day
    FROM flagged CROSS JOIN first_dec ORDER BY day
    """,
)
def sprt_sequential_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the daily purchase
    conversion stream — H0: p = 0.2 vs H1: p = 0.3, α = β = 0.05 — the
    always-valid monitoring readout that lets an experiment stop the day
    the evidence crosses ln(19), instead of waiting for a fixed horizon
    (``ab_test_zscore``'s sequential sibling). Each day contributes
    n_purch·ln(p1/p0) + n_other·ln((1−p1)/(1−p0)); the cumulative LLR and
    a per-day decision are emitted, plus the first crossing day.

    Determinism: the two log-likelihood increments are shared decimal
    literals (identical doubles in both engines); per-day terms round-12
    into a DECIMAL(38,12) running-sum window over the bounded daily
    histogram (never base rows).

    Scale shape: rows → day histogram (map-side combine, calendar-bound),
    one ordered window over it, a 1-row broadcast for the crossing day."""
    from tscd_datalake_adapter_spark.functions import checkpoint_bounded

    e = load_table(spark, sf_dir, "events")
    # the daily histogram feeds the LLR stream AND the crossing-day probe
    # — checkpoint so events aggregates once (executed-plan audit: 2
    # scans without)
    daily = checkpoint_bounded(
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purch"),
        ),
        bound="one row per calendar day",
    )
    term = F.round(
        F.col("n_purch") * F.expr(_SPRT_LLR_POS)
        + (F.col("n_events") - F.col("n_purch")) * F.expr(_SPRT_LLR_NEG),
        12,
    ).cast("decimal(38,12)")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.withColumn(
        "cum_llr_raw", F.sum(term).over(w).cast("double")
    )
    flagged = cum.select(
        "day",
        "n_events",
        "n_purch",
        (F.round(F.col("cum_llr_raw"), 6) + 0.0).alias("cum_llr"),
        F.when(
            F.col("cum_llr_raw") >= F.expr(_SPRT_BOUND), "accept_h1"
        )
        .when(F.col("cum_llr_raw") <= -F.expr(_SPRT_BOUND), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )
    first_dec = flagged.where(F.col("decision") != "continue").agg(
        F.coalesce(F.min("day"), F.lit("")).alias("first_decision_day")
    )
    return (
        flagged.crossJoin(F.broadcast(first_dec))
        .orderBy("day")
    )


@register(
    "ks_test_two_sample",
    tags=("analytics", "experiment"),
    defer=True,
    oracle="""
    WITH base AS (
        SELECT CAST(floor(o_totalprice) AS BIGINT) AS v,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_f
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    hist AS (
        SELECT v, CAST(sum(is_f) AS BIGINT) AS nf_bin,
               CAST(sum(1 - is_f) AS BIGINT) AS no_bin
        FROM base GROUP BY v
    ),
    cum AS MATERIALIZED (
        SELECT sum(nf_bin) OVER w AS cum_f, sum(no_bin) OVER w AS cum_o
        FROM hist
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
        SELECT CAST(sum(nf_bin) AS BIGINT) AS nf,
               CAST(sum(no_bin) AS BIGINT) AS no FROM hist
    ),
    d AS (
        SELECT CAST(max(abs(cum_f * tot.no - cum_o * tot.nf)) AS BIGINT)
                   AS dnum
        FROM cum CROSS JOIN tot GROUP BY tot.nf, tot.no
    )
    SELECT tot.nf, tot.no,
           round(CAST(dnum AS DOUBLE) / (tot.nf * tot.no), 6) + 0.0
               AS d_stat,
           round(1.358 * sqrt(CAST(tot.nf + tot.no AS DOUBLE)
                              / (tot.nf * tot.no)), 6) + 0.0
               AS d_crit_05,
           CAST(dnum AS DOUBLE) / (tot.nf * tot.no)
               > 1.358 * sqrt(CAST(tot.nf + tot.no AS DOUBLE)
                              / (tot.nf * tot.no)) AS reject_h0
    FROM d CROSS JOIN tot
    """,
)
def ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test (fulfilled vs open orders'
    value distributions): D = sup|F̂₁ − F̂₂| computed EXACTLY as a pure
    integer maximum — |cumF·n_O − cumO·n_F| over the merged dollar-binned
    histogram — divided once at output; compared against the α = 0.05
    asymptotic critical value c(α)·√((n+m)/nm). The
    distribution-drift gate a data-quality pipeline runs between
    snapshots, next to [[psi_drift_totalprice]] (PSI is binned/smoothed;
    KS is the sup-norm with a significance threshold).

    Scale shape: rows → value histogram (map-side combine), one window
    over the bounded histogram, integer max. No sort of raw values."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus").isin("F", "O")
    )
    hist = o.select(
        F.floor("o_totalprice").cast("long").alias("v"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("is_f"),
    ).groupBy("v").agg(
        F.sum("is_f").cast("long").alias("nf_bin"),
        F.sum(1 - F.col("is_f")).cast("long").alias("no_bin"),
    ).localCheckpoint()  # feeds the cumulative AND the totals — scan once
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        F.sum("nf_bin").over(w).alias("cum_f"),
        F.sum("no_bin").over(w).alias("cum_o"),
    )
    tot = hist.agg(
        F.sum("nf_bin").cast("long").alias("nf"),
        F.sum("no_bin").cast("long").alias("no"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("nf", "no")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_f") * F.col("no")
                    - F.col("cum_o") * F.col("nf")
                )
            )
            .cast("long")
            .alias("dnum")
        )
    )
    dstat = F.col("dnum").cast("double") / (F.col("nf") * F.col("no"))
    dcrit = 1.358 * F.sqrt(
        (F.col("nf") + F.col("no")).cast("double")
        / (F.col("nf") * F.col("no"))
    )
    return d.select(
        "nf",
        "no",
        (F.round(dstat, 6) + 0.0).alias("d_stat"),
        (F.round(dcrit, 6) + 0.0).alias("d_crit_05"),
        (dstat > dcrit).alias("reject_h0"),
    )


@register(
    "decision_stump_train",
    tags=("analytics", "mlprep"),
    defer=True,
    oracle="""
    WITH base AS (
        SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS bin,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    hist AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos
        FROM base GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                   CAST(sum(pos) AS BIGINT) AS pt FROM hist),
    cum AS MATERIALIZED (
        SELECT bin,
               sum(n) OVER w AS nl, sum(pos) OVER w AS pl
        FROM hist
        WINDOW w AS (ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    scored AS (
        SELECT bin, nl, pl, tot.nt - nl AS nr, tot.pt - pl AS pr,
               round(
                 (nl - (CAST(pl AS DOUBLE) * pl
                        + CAST(nl - pl AS DOUBLE) * (nl - pl)) / nl)
                 + (tot.nt - nl
                    - (CAST(tot.pt - pl AS DOUBLE) * (tot.pt - pl)
                       + CAST((tot.nt - nl) - (tot.pt - pl) AS DOUBLE)
                         * ((tot.nt - nl) - (tot.pt - pl)))
                      / (tot.nt - nl)), 12) AS gini_num
        FROM cum CROSS JOIN tot WHERE nl < tot.nt
    ),
    best AS (
        SELECT bin, nl, pl, nr, pr, gini_num,
               row_number() OVER (ORDER BY gini_num, bin) AS rk
        FROM scored
    )
    SELECT b.bin AS split_bin,
           CAST(b.nl AS BIGINT) AS n_left, CAST(b.pl AS BIGINT) AS pos_left,
           CAST(b.nr AS BIGINT) AS n_right, CAST(b.pr AS BIGINT) AS pos_right,
           round(b.gini_num / tot.nt, 6) + 0.0 AS weighted_gini,
           round((CAST(greatest(b.pl, b.nl - b.pl) AS DOUBLE)
                  + greatest(b.pr, b.nr - b.pr)) / tot.nt, 6) + 0.0
               AS train_accuracy
    FROM best b CROSS JOIN tot WHERE rk = 1
    """,
)
def decision_stump_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A depth-1 decision tree (stump) TRAINED IN-ENGINE: the Gini-optimal
    split of the binned order-value feature predicting fulfilled status —
    the exact histogram-split search every distributed GBDT (XGBoost/
    LightGBM hist mode) runs per node, reduced to one cumulative window
    over the value histogram. Completes the train-with-aggregations tier
    (OLS, IRLS logistic, NB, KMeans-free IVF, k-NN): split search is
    aggregation, not iteration.

    Weighted Gini impurity stays a round-12 double of integer operands
    (nl − (pl² + (nl−pl)²)/nl, summed for both sides, ÷ n once at
    output); the argmin tie-breaks on the split bin. Majority-vote
    train accuracy comes from the same four counts.

    Scale shape: rows → histogram → bounded window → argmin row. The
    full-tree extension recurses on filtered histograms — each level one
    more aggregated pass, the standard distributed-tree cost model."""
    from tscd_datalake_adapter_spark.functions import checkpoint_bounded

    o = load_table(spark, sf_dir, "orders")
    # the value-bin histogram feeds the totals AND the cumulative window
    # — checkpoint so orders scans once (executed-plan audit: 2 without)
    hist = checkpoint_bounded(
        o.select(
            F.floor(F.col("o_totalprice") / 1000.0).cast("long").alias("bin"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        ).groupBy("bin").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        ),
        bound="one row per 1000-value price bin",
    )
    tot = hist.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("pos").cast("long").alias("pt"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin",
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("pl"),
    )
    nl, pl = F.col("nl"), F.col("pl")
    nr = F.col("nt") - nl
    pr = F.col("pt") - pl
    gini_num = F.round(
        (
            nl
            - (
                pl.cast("double") * pl
                + (nl - pl).cast("double") * (nl - pl)
            )
            / nl
        )
        + (
            nr
            - (
                pr.cast("double") * pr
                + (nr - pr).cast("double") * (nr - pr)
            )
            / nr
        ),
        12,
    )
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .where(nl < F.col("nt"))
        .select(
            "bin",
            "nl",
            "pl",
            nr.alias("nr"),
            pr.alias("pr"),
            "nt",
            gini_num.alias("gini_num"),
        )
    )
    best = scored.withColumn(
        "rk",
        F.row_number().over(Window.orderBy("gini_num", "bin")),
    ).where(F.col("rk") == 1)
    return best.select(
        F.col("bin").alias("split_bin"),
        F.col("nl").alias("n_left"),
        F.col("pl").alias("pos_left"),
        F.col("nr").alias("n_right"),
        F.col("pr").alias("pos_right"),
        (F.round(F.col("gini_num") / F.col("nt"), 6) + 0.0).alias(
            "weighted_gini"
        ),
        (
            F.round(
                (
                    F.greatest(
                        F.col("pl"), F.col("nl") - F.col("pl")
                    ).cast("double")
                    + F.greatest(F.col("pr"), F.col("nr") - F.col("pr"))
                )
                / F.col("nt"),
                6,
            )
            + 0.0
        ).alias("train_accuracy"),
    )


_RANSAC_K = 16
_RANSAC_TAU = 8.0


@register(
    "ransac_line_fit",
    tags=("analytics", "robust"),
    defer=True,
    oracle=f"""
    WITH daily0 AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    daily AS MATERIALIZED (
        SELECT day, y,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM daily0
    ),
    n AS (SELECT CAST(max(t) AS BIGINT) AS n FROM daily),
    cand AS MATERIALIZED (
        SELECT k.k,
               1 + {oracle_h60("'ransac:a:' || k.k")} % n.n AS i,
               1 + ({oracle_h60("'ransac:a:' || k.k")} % n.n
                    + 1 + {oracle_h60("'ransac:b:' || k.k")} % (n.n - 1))
                   % n.n AS j
        FROM (SELECT unnest(range(0, {_RANSAC_K})) AS k) k CROSS JOIN n
    ),
    models AS MATERIALIZED (
        SELECT c.k,
               (CAST(dj.y AS DOUBLE) - di.y) / (dj.t - di.t) AS slope,
               di.y - (CAST(dj.y AS DOUBLE) - di.y) / (dj.t - di.t) * di.t
                   AS icept
        FROM cand c
        JOIN daily di ON di.t = c.i
        JOIN daily dj ON dj.t = c.j
    ),
    scored AS (
        SELECT m.k, m.slope, m.icept,
               CAST(sum(CASE WHEN abs(d.y - (m.icept + m.slope * d.t))
                                  <= {_RANSAC_TAU}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
        FROM models m CROSS JOIN daily d
        GROUP BY m.k, m.slope, m.icept
    ),
    best AS MATERIALIZED (
        SELECT k, slope, icept, n_inliers,
               row_number() OVER (ORDER BY n_inliers DESC, k) AS rk
        FROM scored
    ),
    refit AS (
        SELECT b.k, b.slope, b.icept, b.n_inliers,
               CAST(count(*) AS DOUBLE) AS rn,
               {oracle_dec_sum('d.t')} AS sx,
               {oracle_dec_sum('d.y')} AS sy,
               {oracle_dec_sum('d.t * d.t')} AS sxx,
               {oracle_dec_sum('d.t * d.y')} AS sxy
        FROM best b CROSS JOIN daily d
        WHERE b.rk = 1
          AND abs(d.y - (b.icept + b.slope * d.t)) <= {_RANSAC_TAU}
        GROUP BY b.k, b.slope, b.icept, b.n_inliers
    )
    SELECT CAST(k AS BIGINT) AS best_candidate,
           n_inliers,
           round(slope, 6) + 0.0 AS cand_slope,
           round(icept, 6) + 0.0 AS cand_intercept,
           round((rn * sxy - sx * sy) / (rn * sxx - sx * sx), 6) + 0.0
               AS refit_slope,
           round((sy - (rn * sxy - sx * sy) / (rn * sxx - sx * sx) * sx)
                 / rn, 6) + 0.0 AS refit_intercept
    FROM refit
    """,
)
def ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC robust line fit of the daily event-count trend: 16
    h60-chosen candidate point pairs (deterministic "random" sampling —
    the repo's replayable-randomness recipe), each scored by its inlier
    count at ±8 events, winner refit by OLS over its inliers — the
    outlier-immune alternative to [[theil_sen_daily_trend]] when the
    series has gross corruption (a backfill day, an outage day).

    The j-index draw is offset-from-i modulo n, so i ≠ j by construction
    (no degenerate model, no rejection loop). Every stage is bounded:
    candidates × days is a K·n scalar grid over the calendar-bound daily
    histogram, and the refit is 4 decimal moments over the inlier rows.
    At 100 TB the daily aggregate is the only corpus-scale pass."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").cast("long").alias("y"))
        .withColumn(
            "t",
            F.row_number().over(Window.orderBy("day")).cast("long"),
        )
        # the calendar-bounded series feeds n, both model endpoints, the
        # scoring grid, and the refit — checkpoint so events aggregates
        # once (executed-plan audit: 5 scans without)
        .localCheckpoint()
    )
    n = daily.agg(F.max("t").cast("long").alias("n"))
    ks = spark.range(_RANSAC_K).select(F.col("id").cast("long").alias("k"))
    ha = h60(F.concat(F.lit("ransac:a:"), F.col("k").cast("string")))
    hb = h60(F.concat(F.lit("ransac:b:"), F.col("k").cast("string")))
    cand = ks.crossJoin(F.broadcast(n)).select(
        "k",
        (1 + ha % F.col("n")).alias("i"),
        (
            1
            + (ha % F.col("n") + 1 + hb % (F.col("n") - 1)) % F.col("n")
        ).alias("j"),
    )
    di = daily.select(
        F.col("t").alias("i"), F.col("y").alias("yi"), F.col("t").alias("ti")
    )
    dj = daily.select(
        F.col("t").alias("j"), F.col("y").alias("yj"), F.col("t").alias("tj")
    )
    slope = (F.col("yj").cast("double") - F.col("yi")) / (
        F.col("tj") - F.col("ti")
    )
    models = (
        cand.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            "k",
            slope.alias("slope"),
            (F.col("yi") - slope * F.col("ti")).alias("icept"),
        )
    )
    resid_ok = (
        F.abs(
            F.col("y") - (F.col("icept") + F.col("slope") * F.col("t"))
        )
        <= _RANSAC_TAU
    )
    scored = (
        models.crossJoin(F.broadcast(daily))
        .groupBy("k", "slope", "icept")
        .agg(
            F.sum(F.when(resid_ok, 1).otherwise(0))
            .cast("long")
            .alias("n_inliers")
        )
    )
    best = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("n_inliers").desc(), F.col("k"))
        ),
    ).where(F.col("rk") == 1)
    refit = (
        best.crossJoin(F.broadcast(daily))
        .where(resid_ok)
        .groupBy("k", "slope", "icept", "n_inliers")
        .agg(
            F.count("*").cast("double").alias("rn"),
            dec_sum("t").alias("sx"),
            dec_sum("y").alias("sy"),
            dec_sum(F.col("t") * F.col("t")).alias("sxx"),
            dec_sum(F.col("t") * F.col("y")).alias("sxy"),
        )
    )
    b1 = (F.col("rn") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("rn") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return refit.select(
        F.col("k").alias("best_candidate"),
        "n_inliers",
        (F.round(F.col("slope"), 6) + 0.0).alias("cand_slope"),
        (F.round(F.col("icept"), 6) + 0.0).alias("cand_intercept"),
        (F.round(b1, 6) + 0.0).alias("refit_slope"),
        (
            F.round(
                (F.col("sy") - b1 * F.col("sx")) / F.col("rn"), 6
            )
            + 0.0
        ).alias("refit_intercept"),
    )


@register(
    "binary_segmentation_changepoints",
    tags=("analytics", "changepoint"),
    defer=True,
    oracle="""
    WITH daily0 AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    daily AS MATERIALIZED (
        SELECT day, y,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
               CAST(sum(y) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM daily0
    ),
    n AS (SELECT CAST(max(t) AS BIGINT) AS n,
                 CAST(max(cum) AS BIGINT) AS s FROM daily),
    l1 AS MATERIALIZED (
        SELECT d.t, d.day, abs(n.n * d.cum - d.t * n.s) AS stat
        FROM daily d CROSS JOIN n WHERE d.t < n.n
        ORDER BY stat DESC, d.t LIMIT 1
    ),
    scopes AS (
        SELECT 'full' AS scope, 1 AS a, n.n AS b FROM n
        UNION ALL
        SELECT 'left', 1, l1.t FROM l1
        UNION ALL
        SELECT 'right', l1.t + 1, n.n FROM l1 CROSS JOIN n
    ),
    bounds AS MATERIALIZED (
        SELECT s.scope, s.a, s.b,
               b.b - s.a + 1 AS nl,
               (SELECT cum FROM daily WHERE t = s.b)
                 - coalesce((SELECT cum FROM daily WHERE t = s.a - 1), 0)
                 AS sl
        FROM scopes s JOIN scopes b
          ON b.scope = s.scope AND b.a = s.a AND b.b = s.b
        WHERE s.b - s.a >= 2
    ),
    cps AS (
        SELECT sc.scope, sc.a, sc.b, d.t, d.day,
               abs(sc.nl * (d.cum
                     - coalesce((SELECT cum FROM daily
                                 WHERE t = sc.a - 1), 0))
                   - (d.t - sc.a + 1) * sc.sl) AS stat,
               row_number() OVER (PARTITION BY sc.scope
                   ORDER BY abs(sc.nl * (d.cum
                       - coalesce((SELECT cum FROM daily
                                   WHERE t = sc.a - 1), 0))
                     - (d.t - sc.a + 1) * sc.sl) DESC, d.t) AS rk
        FROM bounds sc JOIN daily d ON d.t >= sc.a AND d.t < sc.b
    )
    SELECT c.scope,
           (SELECT day FROM daily WHERE t = c.a) AS seg_start,
           (SELECT day FROM daily WHERE t = c.b) AS seg_end,
           c.day AS changepoint_day,
           CAST(c.stat AS BIGINT) AS stat_num,
           round(CAST(c.stat AS DOUBLE)
                 / ((c.b - c.a + 1) * (c.b - c.a + 1)), 6) + 0.0
               AS stat_norm
    FROM cps c WHERE c.rk = 1 ORDER BY c.scope
    """,
)
def binary_segmentation_changepoints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary segmentation on the daily event-count series: the top CUSUM
    changepoint over the full range, then the best changepoint inside
    each resulting half — the standard recursive changepoint detector,
    unrolled one level the way a monitoring pipeline reports "the regime
    shifted HERE, and within each regime the next-strongest shift is
    THERE" ([[cusum_changepoint_daily]]'s recursive extension).

    The statistic stays a pure integer through every comparison
    (|n'·cumΔ − k'·totalΔ|, the cusum recipe localized to a scope via
    prefix-sum differences); only the normalized readout divides.
    Ties break to the earliest day in both engines.

    Scale shape: one pass builds the prefix-summed day histogram
    (calendar-bound); every scope statistic derives from that table with
    scalar subqueries on the bounded index — no re-scan per segment. A
    k-level tree is k more bounded passes."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").cast("long").alias("y"))
        .select(
            "day",
            "y",
            F.row_number().over(Window.orderBy("day")).cast("long").alias(
                "t"
            ),
        )
        .withColumn(
            "cum",
            F.sum("y")
            .over(
                Window.orderBy("t").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .cast("long"),
        )
        .localCheckpoint()
    )
    n = daily.agg(
        F.max("t").cast("long").alias("n"),
        F.max("cum").cast("long").alias("s"),
    )
    l1 = (
        daily.crossJoin(F.broadcast(n))
        .where(F.col("t") < F.col("n"))
        .select(
            "t",
            F.abs(F.col("n") * F.col("cum") - F.col("t") * F.col("s")).alias(
                "stat"
            ),
        )
        .orderBy(F.col("stat").desc(), "t")
        .limit(1)
    )
    scopes = (
        n.select(F.lit("full").alias("scope"), F.lit(1).cast("long").alias("a"), F.col("n").alias("b"))
        .unionByName(
            l1.select(
                F.lit("left").alias("scope"),
                F.lit(1).cast("long").alias("a"),
                F.col("t").alias("b"),
            )
        )
        .unionByName(
            l1.crossJoin(F.broadcast(n)).select(
                F.lit("right").alias("scope"),
                (F.col("t") + 1).alias("a"),
                F.col("n").alias("b"),
            )
        )
        .where(F.col("b") - F.col("a") >= 2)
    )
    pre = daily.select(
        F.col("t").alias("pt"), F.col("cum").alias("pre_cum")
    )
    endc = daily.select(
        F.col("t").alias("bt"), F.col("cum").alias("end_cum")
    )
    bounds = (
        scopes.join(
            F.broadcast(pre), F.col("pt") == F.col("a") - 1, "left"
        )
        .join(F.broadcast(endc), F.col("bt") == F.col("b"))
        .select(
            "scope",
            "a",
            "b",
            (F.col("b") - F.col("a") + 1).alias("nl"),
            (
                F.col("end_cum") - F.coalesce(F.col("pre_cum"), F.lit(0))
            ).alias("sl"),
            F.coalesce(F.col("pre_cum"), F.lit(0)).alias("base_cum"),
        )
    )
    stat = F.abs(
        F.col("nl") * (F.col("cum") - F.col("base_cum"))
        - (F.col("t") - F.col("a") + 1) * F.col("sl")
    )
    cps = (
        bounds.join(
            F.broadcast(daily),
            (F.col("t") >= F.col("a")) & (F.col("t") < F.col("b")),
        )
        .select("scope", "a", "b", "t", "day", stat.alias("stat"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("scope").orderBy(
                    F.col("stat").desc(), F.col("t")
                )
            ),
        )
        .where(F.col("rk") == 1)
    )
    sd = daily.select(F.col("t").alias("at"), F.col("day").alias("seg_start"))
    ed = daily.select(F.col("t").alias("et"), F.col("day").alias("seg_end"))
    return (
        cps.join(F.broadcast(sd), F.col("at") == F.col("a"))
        .join(F.broadcast(ed), F.col("et") == F.col("b"))
        .select(
            "scope",
            "seg_start",
            "seg_end",
            F.col("day").alias("changepoint_day"),
            F.col("stat").cast("long").alias("stat_num"),
            (
                F.round(
                    F.col("stat").cast("double")
                    / (
                        (F.col("b") - F.col("a") + 1)
                        * (F.col("b") - F.col("a") + 1)
                    ),
                    6,
                )
                + 0.0
            ).alias("stat_norm"),
        )
        .orderBy("scope")
    )


@register(
    "revenue_waterfall_pvm",
    tags=("analytics", "finance"),
    defer=True,
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS grp,
               CAST(year(l_shipdate) AS BIGINT) AS yr,
               l_quantity AS qty,
               l_extendedprice * (1 - l_discount) AS rev
        FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
    ),
    g AS (
        SELECT grp,
               {oracle_dec_sum("CASE WHEN yr = 1996 THEN qty ELSE 0 END")}
                   AS v0,
               {oracle_dec_sum("CASE WHEN yr = 1997 THEN qty ELSE 0 END")}
                   AS v1,
               {oracle_dec_sum("CASE WHEN yr = 1996 THEN rev ELSE 0 END")}
                   AS r0,
               {oracle_dec_sum("CASE WHEN yr = 1997 THEN rev ELSE 0 END")}
                   AS r1
        FROM base GROUP BY grp
    ),
    eff AS (
        SELECT
            round(CAST(SUM(CAST(round(
                CASE WHEN v0 > 0 AND v1 > 0
                     THEN (r0 / v0) * (v1 - v0) ELSE 0 END, 12)
                AS DECIMAL(38,6))) AS DOUBLE), 6) + 0.0 AS volume_effect,
            round(CAST(SUM(CAST(round(
                CASE WHEN v0 > 0 AND v1 > 0
                     THEN v1 * (r1 / v1 - r0 / v0) ELSE 0 END, 12)
                AS DECIMAL(38,6))) AS DOUBLE), 6) + 0.0 AS price_effect,
            round(CAST(SUM(CAST(round(
                CASE WHEN v0 = 0 THEN r1 ELSE 0 END, 12)
                AS DECIMAL(38,6))) AS DOUBLE), 6) + 0.0 AS new_groups,
            round(CAST(SUM(CAST(round(
                CASE WHEN v1 = 0 THEN -r0 ELSE 0 END, 12)
                AS DECIMAL(38,6))) AS DOUBLE), 6) + 0.0 AS lost_groups,
            round({oracle_dec_sum('r1')} - {oracle_dec_sum('r0')}, 6) + 0.0
                AS total_delta
        FROM g
    )
    SELECT * FROM (
        SELECT 'volume' AS effect, volume_effect AS amount FROM eff
        UNION ALL SELECT 'price', price_effect FROM eff
        UNION ALL SELECT 'new_groups', new_groups FROM eff
        UNION ALL SELECT 'lost_groups', lost_groups FROM eff
        UNION ALL SELECT 'total_delta', total_delta FROM eff
        UNION ALL
        SELECT 'residual_check',
               round(total_delta - (volume_effect + price_effect
                     + new_groups + lost_groups), 6) + 0.0
        FROM eff
    ) ORDER BY effect
    """,
)
def revenue_waterfall_pvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix revenue waterfall between 1996 and 1997 (grouped
    by return flag): Δrevenue decomposed into volume effect
    (p₀·Δv per continuing group), price effect (v₁·Δp), and new/lost
    group contributions — the FP&A "why did revenue move" bridge, plus a
    residual_check row that must come out 0.000000 exactly (this
    decomposition is additive by construction), which doubles as an
    internal-consistency proof in the hash gate.

    Determinism: per-group aggregates are decimal sums; the per-group
    effect terms round-12 then decimal-sum (order-free); divisions p =
    r/v run on identical operands. Scale: one scan with map-side combine
    to |groups| rows; the waterfall is scalar math over that table."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.year("l_shipdate").isin(1996, 1997)
    )
    base = li.select(
        F.col("l_returnflag").alias("grp"),
        F.year("l_shipdate").cast("long").alias("yr"),
        F.col("l_quantity").alias("qty"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    g = base.groupBy("grp").agg(
        dec_sum(F.when(F.col("yr") == 1996, F.col("qty")).otherwise(0)).alias(
            "v0"
        ),
        dec_sum(F.when(F.col("yr") == 1997, F.col("qty")).otherwise(0)).alias(
            "v1"
        ),
        dec_sum(F.when(F.col("yr") == 1996, F.col("rev")).otherwise(0)).alias(
            "r0"
        ),
        dec_sum(F.when(F.col("yr") == 1997, F.col("rev")).otherwise(0)).alias(
            "r1"
        ),
    )
    both = (F.col("v0") > 0) & (F.col("v1") > 0)

    def dsum(col):
        return F.sum(F.round(col, 12).cast("decimal(38,6)")).cast("double")

    eff = g.agg(
        (
            F.round(
                dsum(
                    F.when(
                        both,
                        (F.col("r0") / F.col("v0"))
                        * (F.col("v1") - F.col("v0")),
                    ).otherwise(0.0)
                ),
                6,
            )
            + 0.0
        ).alias("volume_effect"),
        (
            F.round(
                dsum(
                    F.when(
                        both,
                        F.col("v1")
                        * (
                            F.col("r1") / F.col("v1")
                            - F.col("r0") / F.col("v0")
                        ),
                    ).otherwise(0.0)
                ),
                6,
            )
            + 0.0
        ).alias("price_effect"),
        (
            F.round(
                dsum(F.when(F.col("v0") == 0, F.col("r1")).otherwise(0.0)), 6
            )
            + 0.0
        ).alias("new_groups"),
        (
            F.round(
                dsum(F.when(F.col("v1") == 0, -F.col("r0")).otherwise(0.0)),
                6,
            )
            + 0.0
        ).alias("lost_groups"),
        (F.round(dec_sum("r1") - dec_sum("r0"), 6) + 0.0).alias(
            "total_delta"
        ),
    )
    # one-row eager cut: the 6 unioned readout branches each reference
    # eff — uncut, every branch re-runs the whole scan+aggregate
    eff = eff.localCheckpoint()
    rows = None
    for name, col in (
        ("volume", F.col("volume_effect")),
        ("price", F.col("price_effect")),
        ("new_groups", F.col("new_groups")),
        ("lost_groups", F.col("lost_groups")),
        ("total_delta", F.col("total_delta")),
        (
            "residual_check",
            F.round(
                F.col("total_delta")
                - (
                    F.col("volume_effect")
                    + F.col("price_effect")
                    + F.col("new_groups")
                    + F.col("lost_groups")
                ),
                6,
            )
            + 0.0,
        ),
    ):
        r = eff.select(F.lit(name).alias("effect"), col.alias("amount"))
        rows = r if rows is None else rows.unionAll(r)
    return rows.orderBy("effect")


@register(
    "tail_contribution_audit",
    tags=("analytics", "ops"),
    defer=True,
    oracle="""
    WITH base AS (
        SELECT event_type,
               CAST(round(value * 100.0, 0) AS BIGINT) AS cents
        FROM events
    ),
    hist AS (
        SELECT cents, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY cents
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM hist),
    thresh AS (
        SELECT min(cents) AS p95_cents FROM (
            SELECT cents,
                   sum(n) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM hist
        ) CROSS JOIN tot
        WHERE cum >= CAST(ceil(0.95 * nt) AS BIGINT)
    ),
    flagged AS MATERIALIZED (
        SELECT b.event_type,
               CASE WHEN b.cents >= t.p95_cents THEN 1 ELSE 0 END AS tail
        FROM base b CROSS JOIN thresh t
    ),
    per_type AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(tail) AS BIGINT) AS n_tail
        FROM flagged GROUP BY event_type
    ),
    g AS (
        SELECT CAST(sum(n_total) AS BIGINT) AS all_total,
               CAST(sum(n_tail) AS BIGINT) AS all_tail
        FROM per_type
    )
    SELECT p.event_type, p.n_total, p.n_tail,
           round(CAST(p.n_tail AS DOUBLE) / g.all_tail, 6) + 0.0
               AS tail_share,
           round(CAST(p.n_total AS DOUBLE) / g.all_total, 6) + 0.0
               AS overall_share,
           round((CAST(p.n_tail AS DOUBLE) / g.all_tail)
                 / (CAST(p.n_total AS DOUBLE) / g.all_total), 6) + 0.0
               AS tail_lift
    FROM per_type p CROSS JOIN g ORDER BY p.event_type
    """,
)
def tail_contribution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail attribution: which event types over-index above the global
    P95 of value — "who drives the P99" for latency/cost dashboards.
    ``tail_lift`` > 1 means the type contributes more of the tail than
    its volume share predicts (the slice to optimize first). The P95
    threshold comes from the integer-cent value histogram's cumulative
    count (the exact-percentile-without-sorting recipe).

    Scale shape: ONE corpus pass builds the (event_type, cents) histogram
    (checkpointed — it feeds the global threshold walk AND the per-type
    tail counts; the executed-plan audit measured 4 scans of events when
    the raw rows were re-flagged instead); everything downstream runs
    over bounded histogram cells. No sort of raw values, no per-row
    windows."""
    e = load_table(spark, sf_dir, "events")
    histc = (
        e.select(
            "event_type",
            F.round(F.col("value") * 100.0, 0).cast("long").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint()
    )
    hist = histc.groupBy("cents").agg(F.sum("n").cast("long").alias("n"))
    tot = hist.agg(F.sum("n").cast("long").alias("nt"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    thresh = (
        hist.withColumn("cum", F.sum("n").over(w))
        .crossJoin(F.broadcast(tot))
        .where(
            F.col("cum") >= F.ceil(0.95 * F.col("nt")).cast("long")
        )
        .agg(F.min("cents").alias("p95_cents"))
    )
    per_type = (
        histc.crossJoin(F.broadcast(thresh))
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_total"),
            F.sum(
                F.when(F.col("cents") >= F.col("p95_cents"), F.col("n"))
                .otherwise(0)
            )
            .cast("long")
            .alias("n_tail"),
        )
    )
    g = per_type.agg(
        F.sum("n_total").cast("long").alias("all_total"),
        F.sum("n_tail").cast("long").alias("all_tail"),
    )
    ts = F.col("n_tail").cast("double") / F.col("all_tail")
    os_ = F.col("n_total").cast("double") / F.col("all_total")
    return (
        per_type.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "n_total",
            "n_tail",
            (F.round(ts, 6) + 0.0).alias("tail_share"),
            (F.round(os_, 6) + 0.0).alias("overall_share"),
            (F.round(ts / os_, 6) + 0.0).alias("tail_lift"),
        )
        .orderBy("event_type")
    )


@register(
    "ohlc_daily_value",
    tags=("analytics", "timeseries"),
    defer=True,
    oracle=f"""
    WITH b AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, ts, value
        FROM events
    ),
    w AS (
        SELECT event_type, day, ts, value,
               min(ts) OVER (PARTITION BY event_type, day) AS t0,
               max(ts) OVER (PARTITION BY event_type, day) AS t1
        FROM b
    )
    SELECT event_type, day,
           min(CASE WHEN ts = t0 THEN value END) AS open_v,
           max(value) AS high_v,
           min(value) AS low_v,
           min(CASE WHEN ts = t1 THEN value END) AS close_v,
           CAST(count(*) AS BIGINT) AS n_events,
           round({oracle_dec_sum('value')}, 6) + 0.0 AS day_total
    FROM w
    GROUP BY event_type, day
    ORDER BY event_type, day
    """,
)
def ohlc_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick resample of the event value stream per (type, day)
    — the market-data/metrics downsampling shape: open = value at the
    day's first timestamp, close = at the last, plus high/low/volume. Ties
    (several events on the exact first/last timestamp) resolve to the MIN
    value at that instant, a stated total order so the result is engine-
    independent without an event-id tiebreak column.

    Scale shape: one window pass partitioned by (type, day) — never a
    global window — then one groupBy with map-side combine; output
    cardinality is types x days, independent of row count. The day key is
    emitted as an ISO string (driver canonicalization can't sort raw
    DATE cells)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "ts",
        "value",
    )
    w = Window.partitionBy("event_type", "day")
    b = e.select(
        "event_type",
        "day",
        "ts",
        "value",
        F.min("ts").over(w).alias("t0"),
        F.max("ts").over(w).alias("t1"),
    )
    return (
        b.groupBy("event_type", "day")
        .agg(
            F.min(
                F.when(F.col("ts") == F.col("t0"), F.col("value"))
            ).alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.min(
                F.when(F.col("ts") == F.col("t1"), F.col("value"))
            ).alias("close_v"),
            F.count("*").cast("long").alias("n_events"),
            (F.round(dec_sum("value"), 6) + 0.0).alias("day_total"),
        )
        .orderBy("event_type", "day")
    )


_HBOS_TOPK = 20


@register(
    "hbos_outlier_scores",
    tags=("analytics", "anomaly"),
    defer=True,
    oracle=f"""
    WITH b AS (
        SELECT o_orderkey, o_orderpriority, o_orderstatus,
               CAST(floor(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)
                          / 1000000.0) AS BIGINT) AS price_bucket,
               CAST(month(o_orderdate) AS BIGINT) AS mth
        FROM orders
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
    h_pb AS (SELECT price_bucket, CAST(count(*) AS BIGINT) AS c
             FROM b GROUP BY 1),
    h_pr AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS c
             FROM b GROUP BY 1),
    h_st AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS c
             FROM b GROUP BY 1),
    h_m AS (SELECT mth, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
    scored AS (
        SELECT b.o_orderkey, b.price_bucket, b.o_orderpriority,
               b.o_orderstatus, b.mth,
               round(round(ln(n.n / h_pb.c), 12)
                     + round(ln(n.n / h_pr.c), 12)
                     + round(ln(n.n / h_st.c), 12)
                     + round(ln(n.n / h_m.c), 12), 6) + 0.0 AS hbos_score
        FROM b
        CROSS JOIN n
        JOIN h_pb USING (price_bucket)
        JOIN h_pr USING (o_orderpriority)
        JOIN h_st USING (o_orderstatus)
        JOIN h_m USING (mth)
    )
    SELECT * FROM scored
    ORDER BY hbos_score DESC, o_orderkey LIMIT {_HBOS_TOPK}
    """,
)
def hbos_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBOS anomaly scores (Goldstein & Dengel 2012): per-feature histogram
    densities over orders — $10k price bucket, priority, status, order
    month — summed as log-inverse-densities; high score = the order sits in
    rare bins across independent features, the linear-time unsupervised
    outlier detector that scales where pairwise/kNN methods can't. Reports
    the top-20 most anomalous orders (rounded-score desc, orderkey
    tiebreak, the deterministic-cutoff recipe).

    Determinism: each ln(n/c) runs on bit-identical bigint-division
    operands and is rounded to 12 dp (the repo's libm recipe); the 4-term
    sum has a fixed expression order, so it is bit-identical too.

    Scale shape: ALL four bounded histograms plus the total come out of
    ONE scan via GROUPING SETS (Expand multiplies rows 5x map-side but
    partial aggregation collapses them before the shuffle, so the
    exchange carries only feature-cardinality rows — vs the naive form's
    five separate full passes over orders); the bounded grouped table is
    checkpoint_bounded and splits into the per-feature broadcast sides;
    one more scan feeds the row-local score expression and a
    TakeOrderedAndProject for the top-k. Two scans of orders total,
    nothing shuffles the fact table."""
    from tscd_datalake_adapter_spark.functions import checkpoint_bounded

    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        F.floor(
            F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
            / 1000000.0
        )
        .cast("long")
        .alias("price_bucket"),
        F.month("o_orderdate").cast("long").alias("mth"),
    )
    hh = checkpoint_bounded(
        b.groupingSets(
            [
                [],
                [F.col("price_bucket")],
                [F.col("o_orderpriority")],
                [F.col("o_orderstatus")],
                [F.col("mth")],
            ],
            "price_bucket",
            "o_orderpriority",
            "o_orderstatus",
            "mth",
        ).agg(
            F.count("*").cast("long").alias("c"),
            F.grouping_id().cast("long").alias("gid"),
        ),
        bound="sum of the four feature cardinalities + 1 global row",
    )
    # grouping_id bit i is SET when column i is aggregated AWAY (cols in
    # groupingSets order: price_bucket, priority, status, mth)
    n = hh.where(F.col("gid") == 15).select(F.col("c").alias("n"))
    h_pb = hh.where(F.col("gid") == 7).select(
        "price_bucket", F.col("c").alias("c_pb")
    )
    h_pr = hh.where(F.col("gid") == 11).select(
        "o_orderpriority", F.col("c").alias("c_pr")
    )
    h_st = hh.where(F.col("gid") == 13).select(
        "o_orderstatus", F.col("c").alias("c_st")
    )
    h_m = hh.where(F.col("gid") == 14).select(
        "mth", F.col("c").alias("c_m")
    )

    def lterm(cc):
        return F.round(F.log(F.col("n") / F.col(cc)), 12)

    scored = (
        b.crossJoin(F.broadcast(n))
        .join(F.broadcast(h_pb), "price_bucket")
        .join(F.broadcast(h_pr), "o_orderpriority")
        .join(F.broadcast(h_st), "o_orderstatus")
        .join(F.broadcast(h_m), "mth")
        .select(
            "o_orderkey",
            "price_bucket",
            "o_orderpriority",
            "o_orderstatus",
            "mth",
            (
                F.round(
                    lterm("c_pb")
                    + lterm("c_pr")
                    + lterm("c_st")
                    + lterm("c_m"),
                    6,
                )
                + 0.0
            ).alias("hbos_score"),
        )
    )
    return scored.orderBy(
        F.col("hbos_score").desc(), "o_orderkey"
    ).limit(_HBOS_TOPK)


@register(
    "weighted_median_by_flag",
    tags=("analytics", "quantile"),
    defer=True,
    oracle="""
    WITH b AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
    ),
    hist AS (
        SELECT flag, cents, CAST(sum(w) AS BIGINT) AS w
        FROM b GROUP BY 1, 2
    ),
    cum AS (
        SELECT flag, cents, w,
               sum(w) OVER (PARTITION BY flag ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
               sum(w) OVER (PARTITION BY flag) AS tot
        FROM hist
    )
    SELECT flag,
           CAST(min(tot) AS BIGINT) AS total_weight,
           round(min(CASE WHEN c >= (tot + 1) // 2 THEN cents END)
                 / 100.0, 6) + 0.0 AS weighted_median_price
    FROM cum GROUP BY flag ORDER BY flag
    """,
)
def weighted_median_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    quantile every pricing/inventory readout wants ("the median UNIT
    ships at what price", not "the median line item"): lower weighted
    median at integer rank (W+1)/2 over the integer-cent value histogram,
    so no sort of raw rows and no floating cumulative — the exact-
    percentile recipe extended with weights.

    Scale shape: one (flag, cents) histogram with map-side combine
    (bounded by the price domain), then a TWO-LEVEL cumulative sum — the
    fine prefix sum runs per (flag, coarse-$10k-block) partition and each
    block's offset comes from a tiny per-block window, so no single task
    ever prefix-sums a whole flag's histogram (a per-flag window would be
    one reducer per flag: ~10^7 cells at full price domain — fine-ish, but
    the blocked form is embarrassingly parallel and exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100.0, 0)
        .cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    # the histogram feeds BOTH the fine cumulative and the block totals;
    # Spark does not reuse the exchange across the two branches (measured:
    # two full scans+aggregations without this), so checkpoint the bounded
    # table once
    hist = (
        b.groupBy("flag", "cents")
        .agg(F.sum("w").cast("long").alias("w"))
        .withColumn("coarse", F.expr("cents DIV 1000000"))
        .localCheckpoint()
    )
    wf = Window.partitionBy("flag", "coarse").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fine = hist.select(
        "flag", "coarse", "cents", F.sum("w").over(wf).alias("cw")
    )
    blocks = hist.groupBy("flag", "coarse").agg(
        F.sum("w").cast("long").alias("bw")
    )
    wb = Window.partitionBy("flag").orderBy("coarse").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wt = Window.partitionBy("flag")
    off = blocks.select(
        "flag",
        "coarse",
        F.coalesce(F.sum("bw").over(wb), F.lit(0)).cast("long").alias("off"),
        F.sum("bw").over(wt).cast("long").alias("tot"),
    )
    cum = fine.join(F.broadcast(off), ["flag", "coarse"]).select(
        "flag",
        "cents",
        (F.col("cw") + F.col("off")).alias("c"),
        "tot",
    )
    half = ((F.col("tot") + 1) / 2).cast("long")
    return (
        cum.groupBy("flag")
        .agg(
            F.min("tot").cast("long").alias("total_weight"),
            (
                F.round(
                    F.min(
                        F.when(F.col("c") >= half, F.col("cents"))
                    )
                    / 100.0,
                    6,
                )
                + 0.0
            ).alias("weighted_median_price"),
        )
        .orderBy("flag")
    )


@register(
    "groupwise_ols_slopes",
    tags=("analytics", "ml"),
    defer=True,
    oracle=f"""
    WITH b AS (
        SELECT l_returnflag AS flag,
               CAST(l_quantity AS DOUBLE) AS x,
               l_extendedprice * (1 - l_discount) AS y
        FROM lineitem
    ),
    m AS (
        SELECT flag,
               CAST(count(*) AS BIGINT) AS n,
               {oracle_dec_sum('x')} AS sx,
               {oracle_dec_sum('y')} AS sy,
               {oracle_dec_sum('x * x')} AS sxx,
               {oracle_dec_sum('round(x * y, 6)')} AS sxy,
               {oracle_dec_sum('round(y * y, 6)')} AS syy
        FROM b GROUP BY flag
    ),
    fit AS (
        SELECT flag, n, sx, sy,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (n * sxy - sx * sy) AS cov_n,
               (n * sxx - sx * sx) AS var_x_n,
               (n * syy - sy * sy) AS var_y_n
        FROM m
    )
    SELECT flag, n,
           round(slope, 6) + 0.0 AS slope,
           round(sy / n - slope * sx / n, 6) + 0.0 AS intercept,
           round((cov_n * cov_n) / (var_x_n * var_y_n), 6) + 0.0 AS r2
    FROM fit ORDER BY flag
    """,
)
def groupwise_ols_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS — one simple regression (revenue ~ quantity) PER
    return flag, fitted from the 5 decimal moments inside a single
    groupBy: the many-small-models pattern (per-store demand curves,
    per-segment elasticities — thousands of fits in one shuffle, no
    per-group driver loop, no ML library). Slope/intercept/R² all derive
    from (n, Σx, Σy, Σx², Σxy, Σy²), which is also WHY this parallelizes:
    moments are order-free decimal sums, the fit is row-local arithmetic
    on the |groups|-row table.

    Determinism: x*y and y*y terms round-6 before the decimal fold
    (products of price-scale doubles exceed 6dp); all divisions run on
    bit-identical operands.

    Scale shape: one map-side-combined groupBy to |groups| rows; nothing
    else."""
    # 6 decimal folds per row: repartition the narrow projection first
    # (the stats_by_returnflag file-count-trap fix; order-free sums)
    b = spread(
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("double").alias("x"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "y"
            ),
        )
    )
    m = b.groupBy("flag").agg(
        F.count("*").cast("long").alias("n"),
        dec_sum("x").alias("sx"),
        dec_sum("y").alias("sy"),
        dec_sum(F.col("x") * F.col("x")).alias("sxx"),
        dec_sum(F.round(F.col("x") * F.col("y"), 6)).alias("sxy"),
        dec_sum(F.round(F.col("y") * F.col("y"), 6)).alias("syy"),
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y_n = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / var_x_n
    return m.select(
        "flag",
        "n",
        (F.round(slope, 6) + 0.0).alias("slope"),
        (
            F.round(
                F.col("sy") / F.col("n") - slope * F.col("sx") / F.col("n"),
                6,
            )
            + 0.0
        ).alias("intercept"),
        (F.round((cov_n * cov_n) / (var_x_n * var_y_n), 6) + 0.0).alias("r2"),
    ).orderBy("flag")


# --- Croston intermittent-demand forecast (recursive CTE, both engines) ----

_CROSTON_ORACLE = """
    WITH RECURSIVE d0 AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS day_idx,
               CAST(count(*) AS BIGINT) AS q,
               (('0x' || substr(md5('croston:'
                    || strftime(CAST(ts AS DATE), '%Y-%m-%d')), 1, 15))
                    ::BIGINT) % 3 AS hk
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, strftime(CAST(ts AS DATE), '%Y-%m-%d')
    ),
    s AS (
        SELECT row_number() OVER (ORDER BY day_idx) AS rn, day_idx, q
        FROM d0 WHERE hk = 0
    ),
    sc AS (SELECT * FROM s WHERE rn <= 40),
    c AS (
        SELECT rn, day_idx, q, CAST(q AS DOUBLE) AS z,
               CAST(NULL AS DOUBLE) AS p
        FROM sc WHERE rn = 1
        UNION ALL
        SELECT sc.rn, sc.day_idx, sc.q,
               0.2 * sc.q + 0.8 * c.z AS z,
               CASE WHEN c.p IS NULL
                    THEN CAST(sc.day_idx - c.day_idx AS DOUBLE)
                    ELSE 0.2 * (sc.day_idx - c.day_idx) + 0.8 * c.p
               END AS p
        FROM c JOIN sc ON sc.rn = c.rn + 1
    )
    SELECT CAST(rn AS BIGINT) AS n_demand_days,
           round(z, 6) AS croston_size,
           round(p, 6) AS croston_interval,
           round(z / p, 6) AS forecast_per_day
    FROM c WHERE rn = (SELECT max(rn) FROM c)
"""


_CROSTON_MAX_DEMANDS = 40


@register(
    "croston_intermittent_forecast",
    tags=("analytics", "timeseries", "recursive"),
    defer=True,
    oracle=_CROSTON_ORACLE,
)
def croston_intermittent_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Croston's method for INTERMITTENT demand (sparse series with many
    zero days, where plain exponential smoothing biases toward zero):
    separate EWMAs of the nonzero demand SIZE (z) and the INTERVAL
    between demands (p), forecast = z/p per day. The demand series is a
    deterministic day-hash sample of purchase days (h60 % 3 — scale-free
    sparsity: the calendar is fixed, so a plain value cutoff is dense at
    one SF and empty at another).

    The recurrence is the oracle's ``WITH RECURSIVE`` fold run as one
    :func:`functions.bounded_fold` task (the engine-side recursive CTE
    launched one cluster JOB per step). It is bit-identical because the
    Python fold performs the same IEEE-double operations in the same
    order, and rounding happens ONCE at output in Spark expressions.

    Scale shape: the fold is capped at the first 40 demand events
    (``rn <= 40``) — Croston is inherently sequential, so the bounded
    series IS the scale story; the corpus-sized work is one map-side-
    combined groupBy(day) ahead of it, and the fold input is a ≤40-row
    single group (executor-side, nothing collected to the driver)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias(
                "day_idx"
            ),
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count("*").cast("long").alias("q"))
        .where(h60(F.concat(F.lit("croston:"), F.col("day"))) % 3 == 0)
        # the demand-day table is value-domain bounded (≤ calendar days);
        # the ORDER BY day_idx + rn<=40 cap needs every row in one
        # partition for the sequential fold
        .select("day_idx", "q")
        .orderBy("day_idx")
        .limit(_CROSTON_MAX_DEMANDS)
    )

    def _croston_fold(s):
        import pandas as pd

        s = s.sort_values("day_idx")
        # the exact recurrence of the oracle's recursive CTE, same
        # IEEE-double op order per step: z ← 0.2*q + 0.8*z;
        # p ← (d − d_prev) first, then 0.2*(d − d_prev) + 0.8*p
        rn = 0
        z = None
        p = None
        prev = None
        for d, q in zip(s["day_idx"].tolist(), s["q"].tolist()):
            rn += 1
            if rn == 1:
                z = float(q)
                p = None
            else:
                z = 0.2 * q + 0.8 * z
                p = (
                    float(d - prev)
                    if p is None
                    else 0.2 * (d - prev) + 0.8 * p
                )
            prev = d
        return pd.DataFrame({"rn": [rn], "z": [z], "p": [p]})

    folded = bounded_fold(
        daily,
        _croston_fold,
        "rn long, z double, p double",
        bound="the first 40 demand days",
        max_rows=_CROSTON_MAX_DEMANDS,
    )
    return folded.select(
        F.col("rn").alias("n_demand_days"),
        F.round("z", 6).alias("croston_size"),
        F.round("p", 6).alias("croston_interval"),
        F.round(F.col("z") / F.col("p"), 6).alias("forecast_per_day"),
    )


# --- partial autocorrelation (Durbin-Levinson to lag 3) --------------------

_PACF_ORACLE = """
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    led AS (
        SELECT y,
               lead(y, 1) OVER (ORDER BY d) AS y1,
               lead(y, 2) OVER (ORDER BY d) AS y2,
               lead(y, 3) OVER (ORDER BY d) AS y3
        FROM daily
    ),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s,
               CAST(sum(y * y) AS BIGINT) AS p0,
               CAST(sum(CASE WHEN y1 IS NOT NULL THEN y * y1 ELSE 0 END)
                    AS BIGINT) AS p1,
               CAST(sum(CASE WHEN y1 IS NOT NULL THEN y ELSE 0 END)
                    AS BIGINT) AS a1,
               CAST(sum(COALESCE(y1, 0)) AS BIGINT) AS b1,
               CAST(sum(CASE WHEN y2 IS NOT NULL THEN y * y2 ELSE 0 END)
                    AS BIGINT) AS p2,
               CAST(sum(CASE WHEN y2 IS NOT NULL THEN y ELSE 0 END)
                    AS BIGINT) AS a2,
               CAST(sum(COALESCE(y2, 0)) AS BIGINT) AS b2,
               CAST(sum(CASE WHEN y3 IS NOT NULL THEN y * y3 ELSE 0 END)
                    AS BIGINT) AS p3,
               CAST(sum(CASE WHEN y3 IS NOT NULL THEN y ELSE 0 END)
                    AS BIGINT) AS a3,
               CAST(sum(COALESCE(y3, 0)) AS BIGINT) AS b3
        FROM led
    ),
    rs AS (
        SELECT n,
               CAST(n * n * p1 - n * s * (a1 + b1) + (n - 1) * s * s
                    AS DOUBLE)
               / CAST(n * n * p0 - n * s * (s + s) + n * s * s AS DOUBLE)
                   AS r1,
               CAST(n * n * p2 - n * s * (a2 + b2) + (n - 2) * s * s
                    AS DOUBLE)
               / CAST(n * n * p0 - n * s * (s + s) + n * s * s AS DOUBLE)
                   AS r2,
               CAST(n * n * p3 - n * s * (a3 + b3) + (n - 3) * s * s
                    AS DOUBLE)
               / CAST(n * n * p0 - n * s * (s + s) + n * s * s AS DOUBLE)
                   AS r3
        FROM sums
    ),
    dl2 AS (
        SELECT n, r1, r2, r3,
               (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22
        FROM rs
    ),
    dl2b AS (
        SELECT n, r1, r2, r3, phi22, r1 - phi22 * r1 AS phi21 FROM dl2
    )
    SELECT n AS n_days,
           round(r1, 6) AS pacf1,
           round(phi22, 6) AS pacf2,
           round((r3 - phi21 * r2 - phi22 * r1)
                 / (1.0 - phi21 * r1 - phi22 * r2), 6) AS pacf3
    FROM dl2b
"""


@register(
    "pacf_daily_events",
    tags=("analytics", "timeseries"),
    defer=True,
    oracle=_PACF_ORACLE,
)
def pacf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily event-count series at lags
    1-3 via Durbin-Levinson — the AR-order-selection companion to
    ``autocorr_daily_events`` (PACF cutting off after lag k is the
    classic AR(k) signature). Autocovariances are cross-multiplied to
    INTEGER sufficient statistics: ``n²·c_k = n²·Σy_t·y_{t+k} −
    n·S·(A_k+B_k) + (n−k)·S²`` (A_k/B_k = head/tail partial sums), so
    r_k = c_k/c_0 is one exact-integer division and the D-L recursion is
    a handful of IEEE ops spelled identically in both engines — no
    rounding until output.

    Scale shape: one map-side-combined groupBy(day), three leads over
    the bounded calendar aggregate, one global fold. BIGINT headroom:
    n²·Σyy ≈ 7e16 at sf1-equivalent daily volumes, within the 9.2e18
    BIGINT range; beyond that the sums should widen to DECIMAL(38,0)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d")
    ).agg(F.count("*").cast("long").alias("y"))
    w = Window.orderBy("d")
    led = daily.select(
        "y",
        F.lead("y", 1).over(w).alias("y1"),
        F.lead("y", 2).over(w).alias("y2"),
        F.lead("y", 3).over(w).alias("y3"),
    )
    aggs = [
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("p0"),
    ]
    for k in (1, 2, 3):
        yk = F.col(f"y{k}")
        aggs += [
            F.sum(
                F.when(yk.isNotNull(), F.col("y") * yk).otherwise(0)
            )
            .cast("long")
            .alias(f"p{k}"),
            F.sum(F.when(yk.isNotNull(), F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"a{k}"),
            F.sum(F.coalesce(yk, F.lit(0))).cast("long").alias(f"b{k}"),
        ]
    sums = led.agg(*aggs)
    n, s = F.col("n"), F.col("s")
    c0 = (n * n * F.col("p0") - n * s * (s + s) + n * s * s).cast("double")

    def rk(k: int):
        return (
            n * n * F.col(f"p{k}")
            - n * s * (F.col(f"a{k}") + F.col(f"b{k}"))
            + (n - k) * s * s
        ).cast("double") / c0

    rs = sums.select(n.alias("n"), rk(1).alias("r1"), rk(2).alias("r2"), rk(3).alias("r3"))
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    dl2 = rs.select(
        "n", "r1", "r2", "r3",
        ((r2 - r1 * r1) / (1.0 - r1 * r1)).alias("phi22"),
    )
    phi22 = F.col("phi22")
    dl2b = dl2.select(
        "n", "r1", "r2", "r3", "phi22", (r1 - phi22 * r1).alias("phi21")
    )
    phi21 = F.col("phi21")
    return dl2b.select(
        F.col("n").alias("n_days"),
        F.round(r1, 6).alias("pacf1"),
        F.round(phi22, 6).alias("pacf2"),
        F.round(
            (r3 - phi21 * r2 - phi22 * r1)
            / (1.0 - phi21 * r1 - phi22 * r2),
            6,
        ).alias("pacf3"),
    )


# --- CUPED variance reduction ----------------------------------------------


@register(
    "cuped_variance_reduction",
    tags=("analytics", "experiment"),
    defer=True,
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'view'
                              AND ts < TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END) AS BIGINT) AS x,
               round(CAST(SUM(CAST(CASE WHEN event_type = 'purchase'
                                    AND ts >= TIMESTAMP '2024-01-16'
                              THEN value ELSE 0.0 END AS DECIMAL(38,6)))
                     AS DOUBLE), 6) AS y
        FROM events WHERE user_id < 300 GROUP BY user_id
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(CAST(round(y, 12) AS DECIMAL(38,12))) AS DOUBLE)
                   AS sy,
               CAST(sum(CAST(round(y * y, 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS syy,
               CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS sxy
        FROM per_user
    ),
    t AS (
        SELECT n,
               (sxy - CAST(sx AS DOUBLE) * sy / n)
               / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                  * CAST(sx AS DOUBLE) / n) AS theta,
               (syy - sy * sy / n) / (n - 1) AS var_y,
               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                   * CAST(sx AS DOUBLE) / n AS ssx,
               sxy - CAST(sx AS DOUBLE) * sy / n AS ssxy,
               syy - sy * sy / n AS ssy
        FROM m
    )
    SELECT n AS n_users, round(theta, 6) AS theta,
           round(var_y, 6) AS var_y,
           round((ssy - ssxy * ssxy / ssx) / (n - 1), 6) AS var_y_adj,
           round(1.0 - (ssy - ssxy * ssxy / ssx) / ssy, 6)
               AS variance_reduction
    FROM t
    """,
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data): reduce
    outcome variance with the pre-period covariate — per user, X =
    pre-period view count, Y = post-period purchase revenue, adjusted
    outcome Y − θ(X − X̄) with θ = cov(X,Y)/var(X). The adjusted variance
    has the closed form SSY − SSXY²/SSX (no second pass over users), and
    the reported ``variance_reduction`` is the squared X-Y correlation —
    the exact theoretical CUPED gain.

    Determinism: X integer; Y a round-6 decimal sum; the cross moments
    round-12 + DECIMAL(38,12) summed (order-free); everything after the
    fold is IEEE arithmetic spelled identically in both engines.

    Scale shape: one map-side-combined groupBy(user) then a 1-row fold —
    the experiment-analytics shape that runs unchanged on billions of
    units."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    split = "2024-01-16"
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                (F.col("event_type") == "view")
                & (F.col("ts") < F.lit(split).cast("timestamp")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("x"),
        F.round(
            dec_sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.lit(split).cast("timestamp")),
                    F.col("value"),
                ).otherwise(0.0)
            ),
            6,
        )
        .cast("double")
        .alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    m = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(F.round(y, 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.round(y * y, 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("syy"),
        F.sum(F.round(x * y, 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n")
    sxd = F.col("sx").cast("double")
    ssx = F.col("sxx").cast("double") - sxd * sxd / n
    ssxy = F.col("sxy") - sxd * F.col("sy") / n
    ssy = F.col("syy") - F.col("sy") * F.col("sy") / n
    t = m.select(
        n.alias("n"),
        (ssxy / ssx).alias("theta"),
        (ssy / (n - 1)).alias("var_y"),
        ssx.alias("ssx"),
        ssxy.alias("ssxy"),
        ssy.alias("ssy"),
    )
    adj = F.col("ssy") - F.col("ssxy") * F.col("ssxy") / F.col("ssx")
    return t.select(
        F.col("n").alias("n_users"),
        F.round("theta", 6).alias("theta"),
        F.round("var_y", 6).alias("var_y"),
        F.round(adj / (F.col("n") - 1), 6).alias("var_y_adj"),
        F.round(1.0 - adj / F.col("ssy"), 6).alias("variance_reduction"),
    )


# --- delete-one-group jackknife for a ratio estimator -----------------------


@register(
    "jackknife_ratio_by_nation",
    tags=("analytics", "stats"),
    defer=True,
    oracle="""
    WITH j AS (
        SELECT c.c_nationkey AS nat, o.o_totalprice AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    per_nat AS (
        SELECT nat,
               CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS ti,
               CAST(count(*) AS BIGINT) AS ni
        FROM j GROUP BY nat
    ),
    tot AS (
        SELECT CAST(sum(CAST(ti AS DECIMAL(38,6))) AS DOUBLE) AS t,
               CAST(sum(ni) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS g
        FROM per_nat
    ),
    loo AS (
        SELECT p.nat,
               round((tot.t - p.ti) / (tot.n - p.ni), 12) AS theta_i,
               tot.t AS t, tot.n AS n, tot.g AS g
        FROM per_nat p CROSS JOIN tot
    ),
    mean_loo AS (
        SELECT CAST(max(g) AS BIGINT) AS g, max(t) AS t,
               CAST(max(n) AS BIGINT) AS n,
               CAST(sum(CAST(theta_i AS DECIMAL(38,12))) AS DOUBLE)
                   / max(g) AS theta_dot
        FROM loo
    ),
    dev AS (
        SELECT m.g, m.t, m.n, m.theta_dot,
               CAST(sum(CAST(round((l.theta_i - m.theta_dot)
                                   * (l.theta_i - m.theta_dot), 12)
                        AS DECIMAL(38,12))) AS DOUBLE) AS ssd
        FROM loo l CROSS JOIN mean_loo m
        GROUP BY m.g, m.t, m.n, m.theta_dot
    )
    SELECT g AS n_groups, CAST(n AS BIGINT) AS n_orders,
           round(t / n, 6) AS theta,
           round(theta_dot, 6) AS theta_jack_mean,
           round(sqrt((g - 1.0) / g * ssd), 6) AS jack_se
    FROM dev
    """,
)
def jackknife_ratio_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife standard error for the mean-order-value
    ratio estimator: recompute θ = ΣT/ΣN with each nation's orders left
    out, then SE = sqrt((g−1)/g · Σ(θ_(i) − θ̄)²) — the resampling-free
    uncertainty estimate that respects cluster structure (nations are the
    sampling clusters), complementing ``poisson_bootstrap_ci``'s
    replicate-based interval.

    Determinism: totals are decimal sums; each leave-one-out ratio is a
    round-12 division of exact aggregates; the 25 θ_(i) fold through
    DECIMAL(38,12) (order-free) for both the mean and squared
    deviations.

    Scale shape: corpus work is one key join + one groupBy(nation); the
    jackknife itself runs on the g-row group table — delete-one-group
    needs only (T−T_i, N−N_i) per group, never a second data pass."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    # the g-row group table anchors the totals and the leave-one-out
    # ratios, and loo feeds the mean and deviation folds — checkpoint both
    # so the key join runs once (executed-plan audit: 4 scans without)
    per_nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nat"))
        .agg(
            dec_sum("o_totalprice").alias("ti"),
            F.count("*").cast("long").alias("ni"),
        )
        .localCheckpoint()
    )
    tot = per_nat.agg(
        F.sum(F.col("ti").cast("decimal(38,6)")).cast("double").alias("t"),
        F.sum("ni").cast("long").alias("n"),
        F.count("*").cast("long").alias("g"),
    )
    loo = per_nat.crossJoin(F.broadcast(tot)).select(
        "nat",
        F.round(
            (F.col("t") - F.col("ti")) / (F.col("n") - F.col("ni")), 12
        ).alias("theta_i"),
        "t",
        "n",
        "g",
    ).localCheckpoint()
    mean_loo = loo.agg(
        F.max("g").cast("long").alias("g"),
        F.max("t").alias("t"),
        F.max("n").cast("long").alias("n"),
        (
            F.sum(F.col("theta_i").cast("decimal(38,12)")).cast("double")
            / F.max("g")
        ).alias("theta_dot"),
    )
    dev = (
        loo.select("theta_i")
        .crossJoin(F.broadcast(mean_loo))
        .groupBy("g", "t", "n", "theta_dot")
        .agg(
            F.sum(
                F.round(
                    (F.col("theta_i") - F.col("theta_dot"))
                    * (F.col("theta_i") - F.col("theta_dot")),
                    12,
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("ssd")
        )
    )
    return dev.select(
        F.col("g").alias("n_groups"),
        F.col("n").cast("long").alias("n_orders"),
        F.round(F.col("t") / F.col("n"), 6).alias("theta"),
        F.round("theta_dot", 6).alias("theta_jack_mean"),
        F.round(
            F.sqrt((F.col("g") - 1.0) / F.col("g") * F.col("ssd")), 6
        ).alias("jack_se"),
    )
