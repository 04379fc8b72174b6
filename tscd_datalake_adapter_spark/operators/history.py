"""Event-history operators: SCD Type-2 dimension build and batch
sessionization (lakehouse change-tracking block; complements the streaming
session window in ``streaming/batch_twins.py`` and the MERGE upsert in
``lake/adapter.py``).

The reference keeps only latest-state rows (``S3DatalakeStorage.java:32-150``
overwrites by partition path); these operators add the standard history
shapes a warehouse derives FROM such a change stream. Every window here is
partitioned by the entity key, so state stays distributed at 100 TB — no
global windows (cf. ``plans.unpartitioned_windows_over_unaggregated_input``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tscd_datalake_adapter_spark.functions import (
    bounded_fold,
    dec_sum,
    oracle_dec_sum,
    persist_corpus,
    spark_decimal,
    spark_round,
)
from tscd_datalake_adapter_spark.operators import register
from tscd_datalake_adapter_spark.sources import load_table

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


@register(
    "scd2_user_event_history",
    tags=("history",),
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type, ts, event_id FROM events WHERE user_id < 50
    ),
    marked AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM e
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id FROM marked
        WHERE prev IS NULL OR prev != event_type
    ),
    hist AS (
        SELECT user_id, event_type AS state, ts, event_id,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_ts
        FROM changes
    )
    SELECT user_id, state,
           strftime(ts, '{_TS_FMT_DUCK}') AS valid_from,
           coalesce(strftime(next_ts, '{_TS_FMT_DUCK}'), '9999-12-31')
               AS valid_to,
           CAST(CASE WHEN next_ts IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_current
    FROM hist ORDER BY user_id, valid_from
    """,
)
def scd2_user_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build from a change stream: per user, collapse
    consecutive repeats of the tracked attribute (event_type), then stamp
    each surviving state with ``valid_from`` / ``valid_to`` (lead of the
    next change; open-ended rows marked current). This is the standard
    kimball-style history derivation a lakehouse runs over CDC feeds.

    Scale shape: two windows, BOTH partitioned by user_id — per-entity
    history never crosses partitions, so the operator scales with the
    number of users, not total events. Timestamps leave as formatted
    strings (determinism recipe)."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    )
    hist = changes.withColumn("next_ts", F.lead("ts").over(w))
    return hist.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("ts", _TS_FMT_SPARK).alias("valid_from"),
        F.coalesce(
            F.date_format("next_ts", _TS_FMT_SPARK), F.lit("9999-12-31")
        ).alias("valid_to"),
        F.when(F.col("next_ts").isNull(), 1).otherwise(0).cast("long").alias(
            "is_current"
        ),
    ).orderBy("user_id", "valid_from")


@register(
    "sessionize_events_batch",
    tags=("history",),
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id FROM events WHERE user_id < 200
    ),
    g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM g
    ),
    sess AS (
        SELECT user_id, session_no,
               CAST(count(*) AS BIGINT) AS n_events,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
        FROM s GROUP BY user_id, session_no
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(max(n_events) AS BIGINT) AS longest_session_events,
           CAST(sum(dur_us) AS BIGINT) AS total_active_us
    FROM sess GROUP BY user_id ORDER BY user_id
    """,
)
def sessionize_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (30-minute inactivity gap): mark
    session starts with a lag() comparison, number sessions with a running
    sum, aggregate per session then per user. The batch twin of the
    streaming ``session_window`` — same gap semantics, point-in-time over
    the full history.

    Scale shape: both windows partitioned by user_id (per-entity,
    distributed); the two aggregations shuffle on (user_id, session_no)
    and user_id — keys that partition evenly unless one user dominates the
    event stream. Durations are exact integer microseconds."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 200)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    g = e.select("user_id", "ts", "event_id").withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    s = g.withColumn("session_no", F.sum("is_new").over(run))
    sess = s.groupBy("user_id", "session_no").agg(
        F.count("*").cast("long").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "dur_us"
        ),
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.max("n_events").cast("long").alias("longest_session_events"),
            F.sum("dur_us").cast("long").alias("total_active_us"),
        )
        .orderBy("user_id")
    )


@register(
    "retention_cohorts",
    tags=("history",),
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CAST(strftime(date_trunc('week', ts), '%Y-%m-%d')
                   AS VARCHAR)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id,
               CAST(strftime(date_trunc('week', ts), '%Y-%m-%d') AS VARCHAR)
                   AS active_week
        FROM events
    )
    SELECT f.cohort_week, a.active_week,
           CAST(count(*) AS BIGINT) AS n_users
    FROM firsts f JOIN activity a USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, counted in
    every week they were active — the standard growth-analytics triangle.

    Scale shape: one groupBy(user_id) min-aggregate for cohorts, one
    distinct over (user, week) — both shuffle on user_id and partial-
    aggregate map-side; the final matrix is |weeks|² cells regardless of
    event volume. Weeks leave as formatted date strings (Spark and DuckDB
    both truncate to Monday)."""
    e = load_table(spark, sf_dir, "events")
    week = F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
    # one events pass: the distinct (user, week) table feeds BOTH the
    # cohort min-aggregate and the activity side (min over distinct weeks
    # == min over raw events); per-user-week = corpus-volume → persist
    uw = persist_corpus(
        e.select("user_id", week.alias("active_week")).distinct()
    )
    firsts = uw.groupBy("user_id").agg(
        F.min("active_week").alias("cohort_week")
    )
    return (
        firsts.join(uw, "user_id")
        .groupBy("cohort_week", "active_week")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy("cohort_week", "active_week")
    )


@register(
    "last_touch_attribution",
    tags=("history",),
    oracle="""
    WITH purchases AS (
        SELECT user_id, event_id AS purchase_id, ts AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    views AS (
        SELECT user_id, event_id AS view_id, ts AS v_ts
        FROM events WHERE event_type = 'view'
    ),
    latest AS (
        SELECT p.user_id, p.purchase_id, p.value,
               max(epoch_us(v.v_ts)) AS mt
        FROM purchases p JOIN views v
          ON p.user_id = v.user_id
         AND v.v_ts <= p.p_ts
         AND v.v_ts >= p.p_ts - INTERVAL 7 DAY
        GROUP BY p.user_id, p.purchase_id, p.value
    ),
    touched AS (
        SELECT l.user_id, l.purchase_id, l.value,
               max(v.view_id) AS attributed_view
        FROM latest l JOIN views v
          ON v.user_id = l.user_id AND epoch_us(v.v_ts) = l.mt
        GROUP BY l.user_id, l.purchase_id, l.value
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_attributed,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS value_cents,
           CAST(max(attributed_view) AS BIGINT) AS max_view_id
    FROM touched GROUP BY user_id ORDER BY user_id
    """,
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the latest view by the
    same user within a 7-day lookback — the marketing-analytics sibling of
    the as-of join, here as a bounded range join + ``max_by`` argmax (no
    window over the joined stream, no pair blow-up beyond the lookback).

    Scale shape: the join shuffles on user_id; the 7-day bound keeps
    per-user pair counts proportional to activity density, and the argmax
    folds map-side. Money leaves as exact integer cents."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        "value",
    )
    # views feed BOTH argmax steps (latest-ts join + id-at-ts join) —
    # cache the projection so events scans once for the view side
    # (audited r7: 3 scans -> 2). persist: event rows are corpus volume.
    v = persist_corpus(
        e.where(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    # Two-step portable argmax (DuckDB 1.0's max_by cannot take a tuple
    # sort key): latest view timestamp per purchase, then the max view_id
    # at that timestamp — deterministic under ts ties on both engines.
    latest = (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (
                F.unix_micros("v_ts")
                >= F.unix_micros("p_ts") - 7 * 24 * 3600 * 1_000_000
            ),
        )
        .groupBy("user_id", "purchase_id", "value")
        .agg(F.max(F.unix_micros("v_ts")).alias("mt"))
    )
    touched = (
        latest.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.unix_micros("v_ts") == F.col("mt")),
        )
        .groupBy("user_id", "purchase_id", "value")
        .agg(F.max("view_id").alias("attributed_view"))
    )
    return (
        touched.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_attributed"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("value_cents"),
            F.max("attributed_view").cast("long").alias("max_view_id"),
        )
        .orderBy("user_id")
    )


@register(
    "event_transition_matrix",
    tags=("history",),
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ),
    pairs AS (
        SELECT prev, event_type AS curr FROM seq WHERE prev IS NOT NULL
    ),
    counts AS (
        SELECT prev, curr, CAST(count(*) AS BIGINT) AS n
        FROM pairs GROUP BY prev, curr
    )
    SELECT prev, curr, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY prev), 6) AS p
    FROM counts ORDER BY prev, curr
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: count
    (previous event type → current event type) per user-ordered sequence
    and normalize rows to probabilities — the behavioral-model building
    block (and the input to anomaly scoring on unlikely transitions).

    Scale shape: one per-entity lag window, one (prev, curr) aggregate —
    the matrix is |event_types|² cells however large the stream; the
    normalizing window runs over that bounded aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNotNull())
        .select("prev", F.col("event_type").alias("curr"))
    )
    counts = pairs.groupBy("prev", "curr").agg(
        F.count("*").cast("long").alias("n")
    )
    wp = Window.partitionBy("prev")
    return counts.select(
        "prev",
        "curr",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wp), 6).alias("p"),
    ).orderBy("prev", "curr")


@register(
    "time_weighted_avg_value",
    tags=("history",),
    oracle="""
    WITH seq AS (
        SELECT user_id, value, epoch_us(ts) AS t,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS t_next
        FROM events WHERE user_id < 100
    ),
    seg AS (
        SELECT user_id, value, t_next - t AS dt
        FROM seq WHERE t_next IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(dt) AS BIGINT) AS span_us,
           round(sum(value * dt) / sum(dt), 6) AS twap
    FROM seg GROUP BY user_id
    HAVING sum(dt) > 0
    ORDER BY user_id
    """,
)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP-style): each observation holds until the
    next one, so its weight is the gap to the successor — the correct mean
    for irregularly-sampled state series (a plain AVG over-weights bursts).
    Hypertable-adjacent: the continuous-aggregate form of this runs in the
    streaming rollup.

    Scale shape: one per-entity lead window + one aggregate, both keyed on
    user_id. Weights are exact integer microseconds; the weighted sum is
    double both engines fold over identical per-row products (sum order
    inside one group is engine-internal — values here are uniform-scale
    positive, and 6-decimal rounding absorbs the reassociation; the
    decimal-exact recipe remains available if a future fixture breaks
    that)."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "value", F.unix_micros("ts").alias("t"), "ts", "event_id"
    ).withColumn("t_next", F.lead(F.unix_micros("ts")).over(w))
    seg = seq.where(F.col("t_next").isNotNull()).select(
        "user_id", "value", (F.col("t_next") - F.col("t")).alias("dt")
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum("dt").cast("long").alias("span_us"),
            F.round(
                F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6
            ).alias("twap"),
        )
        .where(F.col("span_us") > 0)
        .orderBy("user_id")
    )


@register(
    "gap_fill_locf_daily",
    tags=("history",),
    oracle="""
    WITH e AS (
        SELECT user_id, ts, value FROM events WHERE user_id < 100
    ),
    mt AS (
        SELECT user_id, CAST(ts AS DATE) AS d, max(epoch_us(ts)) AS m
        FROM e GROUP BY 1, 2
    ),
    daily AS (
        SELECT mt.user_id, mt.d, max(e.value) AS v
        FROM mt JOIN e ON e.user_id = mt.user_id
                      AND epoch_us(e.ts) = mt.m
                      AND CAST(e.ts AS DATE) = mt.d
        GROUP BY 1, 2
    ),
    rng AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
    spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS d
        FROM rng
    ),
    j AS (
        SELECT s.user_id, s.d, daily.v
        FROM spine s LEFT JOIN daily USING (user_id, d)
    ),
    f AS (
        SELECT user_id, d, v,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
        FROM j
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(count(v) AS BIGINT) AS n_observed,
           CAST(count(*) - count(v) AS BIGINT) AS n_filled,
           round(CAST(sum(CAST(round(fv, 6) AS DECIMAL(38,6))) AS DOUBLE), 6)
               AS checksum
    FROM f GROUP BY user_id ORDER BY user_id
    """,
)
def gap_fill_locf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill with last-observation-carried-forward: build each
    user's daily spine (``sequence`` between first and last active day),
    left-join the per-day closing value (portable two-step argmax on the
    day's latest event), and fill missing days with
    ``last(value, ignorenulls)`` — the standard state-series densification
    every BI layer runs before day-over-day math.

    Scale shape: all windows and joins keyed on user_id (per-entity); the
    spine explode is bounded by each user's active date span, not the
    event volume. Output is the compact per-user summary (spine length,
    observed vs filled days, decimal-exact checksum of the filled
    series)."""
    from tscd_datalake_adapter_spark.functions import DEC

    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    # ed feeds the max-timestamp aggregate AND the value lookup join;
    # daily below feeds the spine range AND the spine join — cache both so
    # events scans once (executed-plan audit). persist, not
    # localCheckpoint: ed is raw event rows and daily is (user, day)
    # keyed — both grow with the data, so keep a recompute path.
    ed = persist_corpus(
        e.select(
            "user_id", "ts", "value", F.to_date("ts").alias("d"),
            F.unix_micros("ts").alias("us"),
        )
    )
    mt = ed.groupBy("user_id", "d").agg(F.max("us").alias("m"))
    daily = (
        mt.join(
            ed.select(
                F.col("user_id").alias("u2"), F.col("d").alias("d2"),
                "us", "value",
            ),
            (F.col("user_id") == F.col("u2"))
            & (F.col("d") == F.col("d2"))
            & (F.col("us") == F.col("m")),
        )
        .groupBy("user_id", "d")
        .agg(F.max("value").alias("v"))
    )
    daily = persist_corpus(daily)
    rng = daily.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = rng.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
    )
    j = spine.join(daily, ["user_id", "d"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = j.withColumn("fv", F.last("v", ignorenulls=True).over(w))
    return (
        f.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.count("v").cast("long").alias("n_observed"),
            (F.count("*") - F.count("v")).cast("long").alias("n_filled"),
            F.round(
                F.sum(F.round("fv", 6).cast(DEC)).cast("double"), 6
            ).alias("checksum"),
        )
        .orderBy("user_id")
    )


@register(
    "cdc_merge_apply",
    tags=("history", "lakehouse"),
    oracle=f"""
    WITH cdc AS (
        SELECT user_id, ts, event_id,
               CASE event_type
                 WHEN 'signup' THEN 'I'
                 WHEN 'error' THEN 'D'
                 ELSE 'U'
               END AS op,
               CAST(value AS DOUBLE) AS v
        FROM events
    ),
    latest AS (
        SELECT user_id, op, v FROM (
            SELECT user_id, op, v,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM cdc
        ) WHERE rn = 1
    ),
    ops AS (
        SELECT CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_inserts,
               CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_updates,
               CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_deletes
        FROM cdc
    )
    SELECT o.n_inserts, o.n_updates, o.n_deletes,
           CAST(count(CASE WHEN l.op != 'D' THEN 1 END) AS BIGINT)
               AS n_live_users,
           CAST(count(CASE WHEN l.op = 'D' THEN 1 END) AS BIGINT)
               AS n_tombstoned_users,
           round({oracle_dec_sum("CASE WHEN l.op != 'D' THEN l.v END")}, 4)
               AS live_value_sum
    FROM latest l CROSS JOIN ops o
    GROUP BY o.n_inserts, o.n_updates, o.n_deletes
    """,
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE semantics as a query: interpret the event stream as a
    change feed (signup→INSERT, error→DELETE, everything else→UPDATE),
    apply latest-wins per key — row_number over (ts, event_id) DESC, the
    deterministic variant of Delta/Iceberg MERGE's match resolution — and
    report the resulting table state: live rows, tombstones, applied-op
    counts, and the decimal-exact sum of surviving values.

    This is the semantics `LakeAdapter.merge_books` implements physically
    (and what the gated Delta/Iceberg sink would hand to the table
    format); expressing it as a pure query makes the resolution rule
    oracle-verifiable. Scale: one hash-partitioned window keyed on
    user_id — the same shuffle any MERGE shuffles — plus a broadcast 1-row
    op-count aggregate."""
    from tscd_datalake_adapter_spark.functions import dec_sum

    e = load_table(spark, sf_dir, "events")
    cdc = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.col("value").cast("double").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        cdc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "op", "v")
    )
    ops = cdc.agg(
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0))
        .cast("long")
        .alias("n_inserts"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
        .cast("long")
        .alias("n_updates"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .cast("long")
        .alias("n_deletes"),
    )
    return (
        latest.crossJoin(F.broadcast(ops))
        .groupBy("n_inserts", "n_updates", "n_deletes")
        .agg(
            F.count(F.when(F.col("op") != "D", 1)).cast("long").alias(
                "n_live_users"
            ),
            F.count(F.when(F.col("op") == "D", 1)).cast("long").alias(
                "n_tombstoned_users"
            ),
            F.round(
                dec_sum(F.when(F.col("op") != "D", F.col("v"))), 4
            ).alias("live_value_sum"),
        )
        .select(
            "n_inserts",
            "n_updates",
            "n_deletes",
            "n_live_users",
            "n_tombstoned_users",
            "live_value_sum",
        )
    )


@register(
    "time_decay_attribution",
    tags=("history",),
    oracle="""
    WITH purchases AS (
        SELECT user_id, event_id AS purchase_id, ts AS p_ts,
               CAST(value AS DOUBLE) AS value
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    views AS (
        SELECT user_id, event_id AS view_id, ts AS v_ts
        FROM events WHERE event_type = 'view'
    ),
    touches AS (
        SELECT p.user_id, p.purchase_id, p.value, v.view_id,
               CAST(round(pow(0.5,
                    (epoch_us(p.p_ts) - epoch_us(v.v_ts)) / 86400000000.0),
                    12) AS DECIMAL(38, 12)) AS w
        FROM purchases p JOIN views v
          ON p.user_id = v.user_id
         AND v.v_ts <= p.p_ts
         AND epoch_us(v.v_ts) >= epoch_us(p.p_ts) - 604800000000
    ),
    norm AS (
        SELECT user_id, purchase_id, value,
               CAST(sum(w) AS DOUBLE) AS sw
        FROM touches GROUP BY 1, 2, 3
    ),
    credits AS (
        SELECT t.view_id,
               CAST(round(n.value * CAST(t.w AS DOUBLE) / n.sw, 12)
                    AS DECIMAL(38, 12)) AS credit
        FROM touches t
        JOIN norm n ON t.purchase_id = n.purchase_id
    )
    SELECT view_id,
           CAST(count(*) AS BIGINT) AS n_purchases_touched,
           round(CAST(sum(credit) AS DOUBLE), 6) AS attributed_value
    FROM credits GROUP BY view_id
    ORDER BY attributed_value DESC, view_id LIMIT 20
    """,
)
def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every view in a purchase's
    7-day lookback shares the purchase value with weight 0.5^(Δdays)
    (half-life decay), normalized per purchase — the standard middle
    ground between last-touch (all credit to one touch) and linear
    (equal credit) attribution. Reports the top-20 views by attributed
    value.

    Float recipe: the decay weight is a libm ``pow`` double, so each
    weight is rounded to 12 decimals and DECIMAL-summed for the
    per-purchase normalizer (order-free), and each view credit is again
    a round-12 decimal term summed per view — no raw float fold
    anywhere (the NDCG/PSI recipe, twice). Scale shape: identical to
    ``last_touch_attribution`` — a user-keyed range join bounded by the
    lookback, then two bounded aggregations."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").cast("double").alias("value"),
    )
    v = e.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    w = F.round(
        F.pow(
            F.lit(0.5),
            (F.unix_micros("p_ts") - F.unix_micros("v_ts"))
            / 86400000000.0,
        ),
        12,
    ).cast("decimal(38,12)")
    touches = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (
            F.unix_micros("v_ts")
            >= F.unix_micros("p_ts") - 604800000000
        ),
    ).select("user_id", "purchase_id", "value", "view_id", w.alias("w"))
    # touches feed the per-purchase normalizer AND the credit join —
    # cache so the range join runs once. persist, not localCheckpoint:
    # touch rows are O(events).
    touches = persist_corpus(touches)
    norm = touches.groupBy("user_id", "purchase_id", "value").agg(
        F.sum("w").cast("double").alias("sw")
    )
    credits = touches.join(
        norm.select("purchase_id", "sw"), "purchase_id"
    ).select(
        "view_id",
        F.round(
            F.col("value") * F.col("w").cast("double") / F.col("sw"), 12
        )
        .cast("decimal(38,12)")
        .alias("credit"),
    )
    return (
        credits.groupBy("view_id")
        .agg(
            F.count("*").cast("long").alias("n_purchases_touched"),
            F.round(F.sum("credit").cast("double"), 6).alias(
                "attributed_value"
            ),
        )
        .orderBy(F.col("attributed_value").desc(), "view_id")
        .limit(20)
    )


@register(
    "pit_scd2_feature_join",
    tags=("history", "asof"),
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type, ts, event_id, value
        FROM events WHERE user_id < 50
    ),
    st AS (
        SELECT user_id, event_type, ts, event_id FROM e
        WHERE event_type != 'purchase'
    ),
    marked AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM st
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id FROM marked
        WHERE prev IS NULL OR prev != event_type
    ),
    hist AS (
        SELECT user_id, event_type AS state, ts AS vf,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS vt
        FROM changes
    ),
    p AS (
        SELECT user_id, ts, event_id, value FROM e
        WHERE event_type = 'purchase'
    )
    SELECT p.user_id,
           strftime(p.ts, '{_TS_FMT_DUCK}') AS purchase_ts,
           p.event_id,
           coalesce(h.state, '<none>') AS state_at_purchase,
           round(p.value, 6) AS value
    FROM p LEFT JOIN hist h
      ON p.user_id = h.user_id AND p.ts >= h.vf
         AND (h.vt IS NULL OR p.ts < h.vt)
    ORDER BY p.user_id, p.event_id
    """,
)
def pit_scd2_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of a fact stream against an SCD2 dimension — the
    feature-store staple that prevents training-serving leakage: each
    purchase is labeled with the state that was valid AT ITS TIMESTAMP
    (never a later state), via ``valid_from <= ts < valid_to`` against
    the interval table built by the same collapse-consecutive-changes
    derivation as ``scd2_user_event_history``. Purchases before the first
    observed state get ``<none>`` (left join preserves fact cardinality;
    the half-open intervals partition time per user, so each fact matches
    at most one interval — cardinality is provably preserved).

    Scale shape: both SCD2 windows AND the join are keyed by user_id —
    the interval predicate rides the user_id equi-join as a post-filter
    (hash/SMJ join, never a nested loop; per-entity history is small, so
    no interval binning is needed, unlike the value-domain range join in
    ``range_join_binned``)."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    st = e.where(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        st.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    )
    hist = changes.select(
        F.col("user_id").alias("h_user_id"),
        F.col("event_type").alias("state"),
        F.col("ts").alias("vf"),
        F.lead("ts").over(w).alias("vt"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    j = p.join(
        hist,
        (p.user_id == hist.h_user_id)
        & (p.ts >= hist.vf)
        & (hist.vt.isNull() | (p.ts < hist.vt)),
        "left",
    )
    return j.select(
        "user_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("purchase_ts"),
        "event_id",
        F.coalesce(F.col("state"), F.lit("<none>")).alias(
            "state_at_purchase"
        ),
        F.round("value", 6).alias("value"),
    ).orderBy("user_id", "event_id")


@register(
    "kaplan_meier_sessions",
    tags=("history", "analytics"),
    defer=True,
    oracle="""
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM g
    ),
    horizon AS (SELECT max(ts) AS h FROM events),
    sess AS (
        SELECT user_id, session_no,
               (epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000 AS t,
               max(ts) > h - INTERVAL 30 MINUTE AS censored
        FROM s CROSS JOIN horizon GROUP BY user_id, session_no, h
    ),
    by_t AS (
        SELECT t,
               CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
                   AS d,
               CAST(count(*) AS BIGINT) AS leaving
        FROM sess GROUP BY t
    ),
    risk AS (
        SELECT t, d,
               (SELECT count(*) FROM sess) 
               - coalesce(sum(leaving) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS n_risk
        FROM by_t
    ),
    km AS (
        SELECT t, d, CAST(n_risk AS BIGINT) AS n_risk,
               sum(CASE WHEN d = n_risk THEN NULL
                        ELSE round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 12)
                   END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lns
        FROM risk WHERE d > 0
    )
    SELECT t AS t_minutes, n_risk, d AS n_deaths,
           round(coalesce(lns, '-infinity'::DOUBLE), 6) AS log_survival,
           CASE WHEN lns IS NULL THEN 0.0
                ELSE round(exp(lns), 6) END AS survival
    FROM km ORDER BY t_minutes
    """,
)
def kaplan_meier_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over SESSION durations (whole minutes),
    right-censored: a session whose last event lies within one gap-width
    (30 min) of the stream horizon may still be ongoing, so it leaves the
    risk set without counting as a "death". S(t) = Π_{t_j<=t} (1−d_j/n_j)
    over death times — the product accumulates as a running sum of
    round-12 natural logs (the repo's libm determinism recipe), with the
    terminal d==n step mapped to S=0 explicitly (ln 0 is −inf).

    Scale shape: sessionization windows are per-user (same derivation as
    ``sessionize_events_batch``); everything after the session table is
    aggregated-by-duration — the KM recursion runs over the ~tens-of-rows
    death-time table, never the raw stream. ``log_survival`` is the
    bit-stable column; ``survival`` adds one ``exp`` of an identical
    operand (correctly rounded on both engines)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1800 * 1000000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    s = g.withColumn(
        "session_no",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # the session table feeds the death-time histogram AND the risk-set
    # total — cache so the sessionization windows run once. persist,
    # not localCheckpoint: one row per session grows with the data.
    # The stream horizon (global max ts) = max of the per-session maxes,
    # so it derives from the SAME cache instead of a second events pass
    # (executed-plan audit: 2 scans with the separate horizon aggregate).
    sess_raw = persist_corpus(
        s.groupBy("user_id", "session_no").agg(
            F.floor(
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / 60000000
            )
            .cast("long")
            .alias("t"),
            F.unix_micros(F.max("ts")).alias("last_us"),
        )
    )
    horizon = sess_raw.agg(F.max("last_us").alias("h_us"))
    sess = sess_raw.crossJoin(F.broadcast(horizon)).select(
        "t",
        (F.col("last_us") > F.col("h_us") - 1800 * 1000000).alias(
            "censored"
        ),
    )
    by_t = sess.groupBy("t").agg(
        F.sum(F.when(F.col("censored"), 0).otherwise(1))
        .cast("long")
        .alias("d"),
        F.count("*").cast("long").alias("leaving"),
    )
    total = sess_raw.agg(F.count("*").cast("long").alias("n_total"))
    w_prev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = (
        by_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
        )
        .where(F.col("d") > 0)
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = risk.withColumn(
        "lns",
        F.sum(
            F.when(F.col("d") == F.col("n_risk"), None).otherwise(
                F.round(
                    F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")),
                    12,
                )
            )
        ).over(w_cum),
    )
    return km.select(
        F.col("t").alias("t_minutes"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").alias("n_deaths"),
        F.round(
            F.coalesce(F.col("lns"), F.lit(float("-inf"))), 6
        ).alias("log_survival"),
        F.when(F.col("lns").isNull(), 0.0)
        .otherwise(F.round(F.exp("lns"), 6))
        .alias("survival"),
    ).orderBy("t_minutes")


def _markov_oracle() -> str:
    """Chained power-iteration CTEs; every reused CTE is MATERIALIZED so
    DuckDB doesn't inline the recursion into an exponential tree (the
    ``mmr_diversified_topk`` lesson)."""
    its = []
    prev = "pi0"
    for t in range(1, 6):
        its.append(f"""
    it{t} AS MATERIALIZED (
        SELECT curr AS state, round(s / tot, 9) AS pi
        FROM (
            SELECT p.curr,
                   CAST(SUM(CAST(round(x.pi * p.p, 12) AS DECIMAL(38,12)))
                        AS DOUBLE) AS s
            FROM {prev} x JOIN pm p ON x.state = p.prev
            GROUP BY p.curr
        )
        CROSS JOIN (
            SELECT CAST(SUM(CAST(round(x.pi * p.p, 12) AS DECIMAL(38,12)))
                        AS DOUBLE) AS tot
            FROM {prev} x JOIN pm p ON x.state = p.prev
        )
    )""")
        prev = f"it{t}"
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ),
    counts AS MATERIALIZED (
        SELECT prev, event_type AS curr, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    states AS MATERIALIZED (SELECT DISTINCT prev AS state FROM counts),
    pm AS MATERIALIZED (
        SELECT c.prev, c.curr,
               round(CAST(c.n AS DOUBLE)
                     / sum(c.n) OVER (PARTITION BY c.prev), 12) AS p
        FROM counts c
        WHERE c.curr IN (SELECT state FROM states)
    ),
    pi0 AS MATERIALIZED (
        SELECT state,
               round(1.0 / (SELECT count(*) FROM states), 9) AS pi
        FROM states
    ),{','.join(its)}
    SELECT state, round(pi, 6) AS pi_stationary
    FROM it5 ORDER BY state
    """


# the events.event_type domain (FIXTURES.md): the Markov chains' state space
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_MARKOV_MAX_ROWS = len(_EVENT_TYPES) ** 2


@register(
    "markov_stationary_distribution",
    tags=("history", "graph"),
    defer=True,
    oracle=_markov_oracle(),
)
def markov_stationary_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stationary distribution of the event-type Markov chain (the
    long-run fraction of time a user's behavior spends in each state) —
    the eigenvector companion of ``event_transition_matrix``, computed as
    five unrolled power iterations π ← πP with per-step renormalization.
    Same iterative-determinism recipe as ``pagerank_token_graph``:
    round-12 transition probabilities, round-12 products decimal-summed,
    round-9 after each renormalize — the float recursion is bit-identical
    cross-engine at every step.

    Scale shape: one corpus pass builds the |types|² transition counts;
    every iteration thereafter joins a k-row vector with a k²-row matrix
    (k = distinct event types). Transitions into states with no outgoing
    edges are dropped and the vector renormalized, keeping the state
    space closed."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counts = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("curr"))
        .agg(F.count("*").cast("long").alias("n"))
    )

    # The recursion state is k rows over a k²-cell matrix, so the matrix
    # build, 5 power iterations and renormalizations run in one
    # bounded_fold that replays the recipe with spark_round/spark_decimal.
    # counts has one consumer, so the whole query is one job.
    def _stationary_fold(pdf):
        from decimal import Decimal

        import pandas as pd

        rows = list(
            zip(pdf["prev"].tolist(), pdf["curr"].tolist(), pdf["n"].tolist())
        )
        states = sorted({pv for pv, _, _ in rows})
        sset = set(states)
        # closure first, THEN the per-prev denominator: the original
        # per-prev sum window ran over the states-joined (post-closure)
        # rows, so transitions into sink states are excluded from the
        # denominator too
        out_n = {}
        for pv, cu, n in rows:
            if cu in sset:
                out_n[pv] = out_n.get(pv, 0) + int(n)
        pm = {
            (pv, cu): spark_round(float(int(n)) / float(out_n[pv]), 12)
            for pv, cu, n in rows
            if cu in sset
        }
        k = len(states)
        pi = {st: spark_round(1.0 / k, 9) for st in states}
        for _ in range(5):
            terms = {}
            tot = Decimal(0)
            for (pv, cu), p in pm.items():
                if pv not in pi:
                    continue
                t = spark_decimal(spark_round(pi[pv] * p, 12), 12)
                terms[cu] = terms.get(cu, Decimal(0)) + t
                tot += t
            ftot = float(tot)
            pi = {
                cu: spark_round(float(s) / ftot, 9) for cu, s in terms.items()
            }
        res = sorted(pi.items())
        return pd.DataFrame(
            {
                "state": [st for st, _ in res],
                "pi_stationary": [spark_round(v, 6) for _, v in res],
            }
        )

    folded = bounded_fold(
        counts,
        _stationary_fold,
        "state string, pi_stationary double",
        bound="one transition count per (prev, curr) event-type pair",
        max_rows=_MARKOV_MAX_ROWS,
    )
    return folded.orderBy("state")


@register(
    "gap_fill_interpolate_daily",
    tags=("history",),
    defer=True,
    oracle="""
    WITH e AS (
        SELECT user_id, ts, value FROM events WHERE user_id < 100
    ),
    mt AS (
        SELECT user_id, CAST(ts AS DATE) AS d, max(epoch_us(ts)) AS m
        FROM e GROUP BY 1, 2
    ),
    daily AS (
        SELECT mt.user_id, mt.d, max(e.value) AS v
        FROM mt JOIN e ON e.user_id = mt.user_id
                      AND epoch_us(e.ts) = mt.m
                      AND CAST(e.ts AS DATE) = mt.d
        GROUP BY 1, 2
    ),
    rng AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
    spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS d
        FROM rng
    ),
    j AS (
        SELECT s.user_id, s.d, daily.v
        FROM spine s LEFT JOIN daily USING (user_id, d)
    ),
    ctx AS (
        SELECT user_id, d, v,
               last_value(v IGNORE NULLS) OVER wb AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
                   OVER wb AS pd,
               first_value(v IGNORE NULLS) OVER wf AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
                   OVER wf AS nd
        FROM j
        WINDOW wb AS (PARTITION BY user_id ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY d
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    f AS (
        SELECT user_id, d, v,
               CASE WHEN v IS NOT NULL THEN v
                    ELSE pv + (nv - pv)
                         * CAST(datediff('day', pd, d) AS DOUBLE)
                         / datediff('day', pd, nd) END AS fv
        FROM ctx
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(count(v) AS BIGINT) AS n_observed,
           CAST(count(*) - count(v) AS BIGINT) AS n_interpolated,
           round(CAST(sum(CAST(round(fv, 6) AS DECIMAL(38,6))) AS DOUBLE), 6)
               AS checksum
    FROM f GROUP BY user_id ORDER BY user_id
    """,
)
def gap_fill_interpolate_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calendar gap-fill by LINEAR INTERPOLATION — the numeric sibling of
    ``gap_fill_locf_daily``: missing days between two observations get
    the time-weighted blend pv + (nv−pv)·Δ/span instead of a carried-
    forward step. The spine is bounded by each user's first/last observed
    day, so every gap is interior and both anchors always exist.

    Scale shape: identical to the LOCF form — per-user spine explode,
    per-user backward/forward ignore-nulls windows (four context columns
    in two frames), per-user aggregate; nothing global. Interpolated
    values are round-6 into a decimal checksum; the blend's operands
    (anchor values + integer day distances) are identical cross-engine,
    so the division is too."""
    from tscd_datalake_adapter_spark.functions import DEC

    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    # ed feeds the max-timestamp aggregate AND the value lookup join;
    # daily below feeds the spine range AND the spine join — cache both so
    # events scans once (executed-plan audit). persist, not
    # localCheckpoint: ed is raw event rows and daily is (user, day)
    # keyed — both grow with the data, so keep a recompute path.
    ed = persist_corpus(
        e.select(
            "user_id", "ts", "value", F.to_date("ts").alias("d"),
            F.unix_micros("ts").alias("us"),
        )
    )
    mt = ed.groupBy("user_id", "d").agg(F.max("us").alias("m"))
    daily = (
        mt.join(
            ed.select(
                F.col("user_id").alias("u2"), F.col("d").alias("d2"),
                "us", "value",
            ),
            (F.col("user_id") == F.col("u2"))
            & (F.col("d") == F.col("d2"))
            & (F.col("us") == F.col("m")),
        )
        .groupBy("user_id", "d")
        .agg(F.max("value").alias("v"))
    )
    daily = persist_corpus(daily)
    rng = daily.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = rng.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
    )
    j = spine.join(daily, ["user_id", "d"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("v").isNotNull(), F.col("d"))
    ctx = j.select(
        "user_id",
        "d",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_d, ignorenulls=True).over(wb).alias("pd"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_d, ignorenulls=True).over(wf).alias("nd"),
    )
    fv = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * F.datediff("d", "pd").cast("double")
        / F.datediff("nd", "pd")
    )
    return (
        ctx.withColumn("fv", fv)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.count("v").cast("long").alias("n_observed"),
            (F.count("*") - F.count("v")).cast("long").alias(
                "n_interpolated"
            ),
            F.round(
                F.sum(F.round("fv", 6).cast(DEC)).cast("double"), 6
            ).alias("checksum"),
        )
        .orderBy("user_id")
    )


@register(
    "event_pattern_match_regex",
    tags=("history", "mining"),
    defer=True,
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, substr(event_type, 1, 1) AS init
        FROM events
    ),
    g AS (
        SELECT user_id, ts, event_id, init,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, init, ts, event_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM g
    ),
    s2 AS (
        SELECT user_id, session_id, init, ts, event_id,
               row_number() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts, event_id) AS tn
        FROM s
    ),
    traces AS MATERIALIZED (
        SELECT user_id, session_id,
               string_agg(init, '' ORDER BY ts, event_id) AS trace
        FROM s2 WHERE tn <= 500 GROUP BY user_id, session_id
    ),
    flagged AS MATERIALIZED (
        SELECT trace,
               CASE WHEN regexp_matches(trace, 'v[^e]*c[^e]*p')
                    THEN 1 ELSE 0 END AS m,
               CASE WHEN regexp_matches(trace, 'e') THEN 1 ELSE 0 END
                   AS has_err
        FROM traces
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(m) AS BIGINT) AS n_matched,
               CAST(sum(has_err) AS BIGINT) AS n_with_error,
               round(CAST(sum(m) AS DOUBLE) / count(*), 6) + 0.0
                   AS match_rate
        FROM flagged
    ),
    top AS (
        SELECT trace, CAST(count(*) AS BIGINT) AS n,
               CAST(max(m) AS BIGINT) AS matches_funnel
        FROM flagged GROUP BY trace
        ORDER BY n DESC, trace LIMIT 10
    )
    SELECT t.trace, t.n, t.matches_funnel,
           tot.n_sessions, tot.n_matched, tot.n_with_error, tot.match_rate
    FROM top t CROSS JOIN tot ORDER BY t.n DESC, t.trace
    """,
)
def event_pattern_match_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequential pattern matching, emulated with
    session traces + regex: each 30-minute session becomes a compact
    string of event-type initials in (ts, event_id) order, and the funnel
    pattern "view, later click, later purchase, with NO error in between"
    is the regex ``v[^e]*c[^e]*p`` — row-pattern recognition (SQL:2016
    MATCH_RECOGNIZE, Flink CEP) expressed with operators Spark already
    has. Emits the 10 most common traces plus global funnel-match stats.

    Regex parity: Java regex (Spark) and RE2 (DuckDB) agree on character
    classes, `*`, and unanchored search — the flesch/langid precedent.

    Scale shape: sessionization is the standard per-user window; traces
    aggregate one row per session (bounded by the session cap a real
    deployment enforces); pattern evaluation is a map over session rows,
    embarrassingly parallel. No cross-session state."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("init"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    s = g.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # trace-length cap IN CODE (was prose): a bot session that never
    # idles 30 min would otherwise collect an unbounded per-group list;
    # 500 events caps the aggregation state and the regex input, and no
    # fixture session approaches it (the containment hot-token-guard
    # precedent — bounds belong in code, mirrored in the oracle)
    wt = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    capped = s.withColumn("tn", F.row_number().over(wt)).where(
        F.col("tn") <= 500
    )
    traces = capped.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "init"))
                ),
                lambda r: r.getField("init"),
            ),
            "",
        ).alias("trace")
    )
    flagged = traces.select(
        "trace",
        F.when(F.col("trace").rlike("v[^e]*c[^e]*p"), 1)
        .otherwise(0)
        .alias("m"),
        F.when(F.col("trace").rlike("e"), 1).otherwise(0).alias("has_err"),
    )
    # per-session traces feed the global stats AND the top-10 — persist
    # so sessionization + regex run once (per-session = corpus volume)
    flagged = persist_corpus(flagged)
    tot = flagged.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("m").cast("long").alias("n_matched"),
        F.sum("has_err").cast("long").alias("n_with_error"),
        (F.round(F.sum("m").cast("double") / F.count("*"), 6) + 0.0).alias(
            "match_rate"
        ),
    )
    top = (
        flagged.groupBy("trace")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("m").cast("long").alias("matches_funnel"),
        )
        .orderBy(F.col("n").desc(), "trace")
        .limit(10)
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "trace",
            "n",
            "matches_funnel",
            "n_sessions",
            "n_matched",
            "n_with_error",
            "match_rate",
        )
        .orderBy(F.col("n").desc(), "trace")
    )


@register(
    "snapshot_diff_cdc",
    tags=("history", "lakehouse"),
    defer=True,
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS price
        FROM orders WHERE o_orderkey % 50 != 0
    ),
    v2 AS (
        SELECT o_orderkey AS k, o_orderstatus AS st,
               CASE WHEN o_orderkey % 37 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 41 != 0
    ),
    d AS (
        SELECT coalesce(v1.k, v2.k) AS k,
               CASE
                 WHEN v1.k IS NULL THEN 'insert'
                 WHEN v2.k IS NULL THEN 'delete'
                 WHEN v1.st != v2.st OR v1.price != v2.price THEN 'update'
                 ELSE 'unchanged'
               END AS op
        FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    )
    SELECT op, CAST(count(*) AS BIGINT) AS n
    FROM d GROUP BY op ORDER BY op
    """,
)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff CDC derivation: when an upstream system can only
    hand over FULL dumps, the change feed is recovered by diffing
    consecutive snapshots on the primary key — insert / delete / update /
    unchanged per key (full outer join + column compare). The fixture
    simulates the two snapshots deterministically from orders (a slice
    missing from v1 = inserts, a slice missing from v2 = deletes, a
    price-bumped slice = updates). The derived op stream is exactly what
    [[cdc_merge_apply]] then applies downstream.

    Scale shape: ONE full-outer shuffle join on the key (both sides
    key-partitioned; at 100 TB this is the canonical sort-merge diff) and
    a map-side-combined count by op. With bucketed snapshot tables the
    shuffle disappears entirely — the documented production layout."""
    o = load_table(spark, sf_dir, "orders")
    v1 = o.where(F.col("o_orderkey") % 50 != 0).select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_orderstatus").alias("st1"),
        F.col("o_totalprice").alias("price1"),
    )
    v2 = o.where(F.col("o_orderkey") % 41 != 0).select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_orderstatus").alias("st2"),
        F.when(
            F.col("o_orderkey") % 37 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price2"),
    )
    d = v1.join(v2, v1.k1 == v2.k2, "full_outer").select(
        F.when(F.col("k1").isNull(), "insert")
        .when(F.col("k2").isNull(), "delete")
        .when(
            (F.col("st1") != F.col("st2"))
            | (F.col("price1") != F.col("price2")),
            "update",
        )
        .otherwise("unchanged")
        .alias("op")
    )
    return (
        d.groupBy("op").agg(F.count("*").cast("long").alias("n")).orderBy("op")
    )


_IVM_CUTOFF = "1999-01-01"


@register(
    "ivm_agg_delta_merge",
    tags=("history", "lakehouse"),
    defer=True,
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority AS pri,
               CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS s,
               min(strftime(o_orderdate, '%Y-%m-%d')) AS d0,
               max(strftime(o_orderdate, '%Y-%m-%d')) AS d1
        FROM orders WHERE o_orderdate < TIMESTAMP '{_IVM_CUTOFF}'
        GROUP BY 1
    ),
    delta AS (
        SELECT o_orderpriority AS pri,
               CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS s,
               min(strftime(o_orderdate, '%Y-%m-%d')) AS d0,
               max(strftime(o_orderdate, '%Y-%m-%d')) AS d1
        FROM orders WHERE o_orderdate >= TIMESTAMP '{_IVM_CUTOFF}'
        GROUP BY 1
    ),
    merged AS (
        SELECT COALESCE(b.pri, d.pri) AS pri,
               COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n,
               COALESCE(b.s, 0) + COALESCE(d.s, 0) AS s,
               least(COALESCE(b.d0, d.d0), COALESCE(d.d0, b.d0)) AS d0,
               greatest(COALESCE(b.d1, d.d1), COALESCE(d.d1, b.d1)) AS d1
        FROM base b FULL OUTER JOIN delta d ON b.pri = d.pri
    ),
    full_v AS (
        SELECT o_orderpriority AS pri,
               CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS s,
               min(strftime(o_orderdate, '%Y-%m-%d')) AS d0,
               max(strftime(o_orderdate, '%Y-%m-%d')) AS d1
        FROM orders GROUP BY 1
    )
    SELECT m.pri,
           CAST(m.n AS BIGINT) AS n_orders,
           CAST(m.s AS DOUBLE) AS total_price,
           m.d0 AS first_date, m.d1 AS last_date,
           m.n = f.n AND m.s = f.s AND m.d0 = f.d0 AND m.d1 = f.d1
               AS merge_matches_full
    FROM merged m JOIN full_v f USING (pri) ORDER BY m.pri
    """,
)
def ivm_agg_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for an aggregate materialization: the
    standing view (orders before 1999-01-01) merges a delta batch (orders
    since) by ALGEBRA — counts add, DECIMAL sums add, min/max take
    least/greatest — instead of recomputing from facts, the pattern every
    lakehouse rollup table runs on each ingest cycle (count/sum/min/max
    are the self-maintainable aggregates; AVG derives from (sum, n);
    MEDIAN is not and needs the histogram recipes). The
    ``merge_matches_full`` column proves merged == full-recompute INSIDE
    the hash gate — exactly true because sums stay DECIMAL through the
    merge and only cast to double at output.

    Scale shape: the delta aggregate touches only new partitions; the
    merge is a |groups|-row full-outer join. Fixture cutoff 1999-01-01
    splits the 1995-2001 order range so both sides are non-empty at
    every SF."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp")

    def agg(df):
        return df.groupBy(F.col("o_orderpriority").alias("pri")).agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("s"),
            F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("d0"),
            F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("d1"),
        )

    base = agg(o.where(F.col("o_orderdate") < cutoff))
    delta = agg(o.where(F.col("o_orderdate") >= cutoff))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(d, F.col("b.pri") == F.col("d.pri"), "full_outer").select(
        F.coalesce(F.col("b.pri"), F.col("d.pri")).alias("pri"),
        (
            F.coalesce(F.col("b.n"), F.lit(0))
            + F.coalesce(F.col("d.n"), F.lit(0))
        )
        .cast("long")
        .alias("n"),
        (
            F.coalesce(F.col("b.s"), F.lit(0).cast("decimal(38,6)"))
            + F.coalesce(F.col("d.s"), F.lit(0).cast("decimal(38,6)"))
        ).alias("s"),
        F.least(
            F.coalesce(F.col("b.d0"), F.col("d.d0")),
            F.coalesce(F.col("d.d0"), F.col("b.d0")),
        ).alias("d0"),
        F.greatest(
            F.coalesce(F.col("b.d1"), F.col("d.d1")),
            F.coalesce(F.col("d.d1"), F.col("b.d1")),
        ).alias("d1"),
    )
    full_v = agg(o)
    m, f = merged.alias("m"), full_v.alias("f")
    return (
        m.join(f, F.col("m.pri") == F.col("f.pri"))
        .select(
            F.col("m.pri").alias("pri"),
            F.col("m.n").alias("n_orders"),
            F.col("m.s").cast("double").alias("total_price"),
            F.col("m.d0").alias("first_date"),
            F.col("m.d1").alias("last_date"),
            (
                (F.col("m.n") == F.col("f.n"))
                & (F.col("m.s") == F.col("f.s"))
                & (F.col("m.d0") == F.col("f.d0"))
                & (F.col("m.d1") == F.col("f.d1"))
            ).alias("merge_matches_full"),
        )
        .orderBy("pri")
    )


_MRA_CHANNELS = ("click", "error", "signup", "view")
_MRA_ITERS = 12


def _mra_oracle() -> str:
    """Absorbing-chain power iteration over a (scenario, state) vector —
    the ``_markov_oracle`` recipe extended with a scenario dimension
    (full + one removal per channel). Every reused CTE MATERIALIZED."""
    its = []
    prev = "p0"
    for t in range(1, _MRA_ITERS + 1):
        its.append(f"""
    it{t} AS MATERIALIZED (
        SELECT sc.scenario, tm.f AS state,
               round(CAST(SUM(CAST(round(tm.p *
                   (CASE WHEN x.state = sc.removed THEN 0.0 ELSE x.p END),
                   12) AS DECIMAL(38,12))) AS DOUBLE), 9) AS p
        FROM scenarios sc
        JOIN {prev} x ON x.scenario = sc.scenario
        JOIN tm ON tm.t = x.state
        GROUP BY sc.scenario, tm.f
        UNION ALL
        SELECT scenario, 'CONV', 1.0 FROM scenarios
        UNION ALL
        SELECT scenario, 'NULL', 0.0 FROM scenarios
    )""")
        prev = f"it{t}"
    chans = ", ".join(f"('{c}', '{c}')" for c in _MRA_CHANNELS)
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    firstp AS (
        SELECT user_id, min(rn) AS prn FROM seq
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS MATERIALIZED (
        SELECT s.user_id, s.event_type,
               row_number() OVER (PARTITION BY s.user_id ORDER BY s.rn)
                   AS tn,
               count(*) OVER (PARTITION BY s.user_id) AS nt,
               CASE WHEN f.prn IS NULL THEN 0 ELSE 1 END AS conv
        FROM seq s LEFT JOIN firstp f USING (user_id)
        WHERE s.event_type != 'purchase'
          AND (f.prn IS NULL OR s.rn < f.prn)
    ),
    edges AS MATERIALIZED (
        SELECT 'START' AS f, event_type AS t FROM touches WHERE tn = 1
        UNION ALL
        SELECT a.event_type, b.event_type
        FROM touches a JOIN touches b
          ON a.user_id = b.user_id AND b.tn = a.tn + 1
        UNION ALL
        SELECT event_type, CASE WHEN conv = 1 THEN 'CONV' ELSE 'NULL' END
        FROM touches WHERE tn = nt
        UNION ALL
        SELECT 'START', 'CONV'
        FROM firstp f
        WHERE NOT EXISTS (SELECT 1 FROM touches t
                          WHERE t.user_id = f.user_id)
    ),
    counts AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n
               FROM edges GROUP BY 1, 2),
    tm AS MATERIALIZED (
        SELECT f, t,
               round(CAST(n AS DOUBLE)
                     / sum(n) OVER (PARTITION BY f), 12) AS p
        FROM counts
    ),
    scenarios AS MATERIALIZED (
        SELECT * FROM (VALUES ('full', '__none__'), {chans})
            s(scenario, removed)
    ),
    p0 AS MATERIALIZED (
        SELECT sc.scenario, st.state,
               CASE WHEN st.state = 'CONV' THEN 1.0 ELSE 0.0 END AS p
        FROM scenarios sc CROSS JOIN (
            SELECT DISTINCT f AS state FROM tm
            UNION SELECT 'CONV' UNION SELECT 'NULL'
        ) st
    ),{','.join(its)},
    readout AS MATERIALIZED (
        SELECT x.scenario, x.p AS p_start
        FROM it{_MRA_ITERS} x WHERE x.state = 'START'
    ),
    re AS MATERIALIZED (
        SELECT r.scenario AS channel,
               (SELECT p_start FROM readout WHERE scenario = 'full')
                   AS p_full,
               r.p_start AS p_removed,
               round(1.0 - r.p_start /
                   (SELECT p_start FROM readout WHERE scenario = 'full'),
                   9) AS re
        FROM readout r WHERE r.scenario != 'full'
    )
    SELECT channel,
           round(p_full, 6) + 0.0 AS p_conv_full,
           round(p_removed, 6) + 0.0 AS p_conv_removed,
           round(re, 6) + 0.0 AS removal_effect,
           round(re / (SELECT CAST(SUM(CAST(re AS DECIMAL(38,12)))
                                   AS DOUBLE) FROM re), 6) + 0.0
               AS attribution_share
    FROM re ORDER BY channel
    """


@register(
    "markov_removal_attribution",
    tags=("history", "attribution"),
    defer=True,
    oracle=_mra_oracle(),
)
def markov_removal_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014) — the
    data-driven alternative to last-touch/time-decay: model journeys
    (per-user touch sequence up to the first purchase) as an absorbing
    Markov chain (START → channels → CONV/NULL), compute the conversion
    probability from START, then re-compute it with each channel REMOVED
    (its probability mass forced to 0, i.e. every visit to it becomes a
    NULL absorption); a channel's credit is how much conversion
    probability disappears without it, normalized across channels.
    Absorption probabilities come from 12 unrolled iterations of
    p ← T·p over a (scenario × state) vector — 5 scenarios advance in the
    SAME tiny joins, and the per-step round-12-product / decimal-sum /
    round-9 recipe keeps the recursion bit-identical cross-engine
    (the ``markov_stationary_distribution`` / ``pagerank_token_graph``
    family).

    Scale shape: journeys and edges are two window passes over events;
    the chain is |states|² rows and the 12 iterations run in one task
    over its one-row pivot — iteration cost is independent of data
    size, the whole point of fitting a chain instead of replaying
    journeys per scenario."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    # persist both: seq feeds firstp AND the touches join (2 events scans
    # inside the touches cache build otherwise), and firstp is referenced
    # again by the START->CONV anti-join arm (a 3rd scan) — all invisible
    # to the tree-walk audit, surfaced by the r8 construction-inclusive
    # scan audit (events now scans ONCE, in the seq cache build).
    seq = persist_corpus(seq)
    firstp = persist_corpus(
        seq.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    wt = Window.partitionBy("user_id").orderBy("rn")
    wn = Window.partitionBy("user_id")
    # touches is referenced FOUR times below (first-touch arm, the
    # lead-derived touch→touch arm, last-touch arm, the START->CONV
    # anti-join) — inside the single eager-checkpoint job the union arms
    # each re-derive the seq windows + firstp join uncached. persist: per-
    # touch rows are corpus volume. NOTE this construction-time cost is
    # invisible to the executed-scan audit (the checkpoint cuts the
    # lineage the audit walks) — measured 3.7 s -> see NOTES.
    touches = persist_corpus(
        seq.join(firstp, "user_id", "left")
        .where(
            (F.col("event_type") != "purchase")
            & (F.col("prn").isNull() | (F.col("rn") < F.col("prn")))
        )
        .select(
            "user_id",
            "event_type",
            F.row_number().over(wt).alias("tn"),
            # the SUCCESSOR touch, computed in the same window pass as tn
            # (identical window spec → same WindowExec, no extra sort or
            # shuffle): `lead IS NOT NULL` is exactly "a row with tn+1
            # exists", so the touch→touch edge arm below reads it straight
            # off the cache instead of self-joining touches⋈touches on
            # user_id (guide §2.4 — the join cost one more full pass +
            # join build per bench run; at 100 TB it would be a full
            # corpus shuffle since a corpus-sized side can't broadcast)
            F.lead("event_type").over(wt).alias("next_type"),
            F.count("*").over(wn).alias("nt"),
            F.when(F.col("prn").isNull(), 0).otherwise(1).alias("conv"),
        )
    )
    edges = (
        touches.where(F.col("tn") == 1)
        .select(F.lit("START").alias("f"), F.col("event_type").alias("t"))
        .unionAll(
            touches.where(F.col("next_type").isNotNull()).select(
                F.col("event_type").alias("f"),
                F.col("next_type").alias("t"),
            )
        )
        .unionAll(
            touches.where(F.col("tn") == F.col("nt")).select(
                F.col("event_type").alias("f"),
                F.when(F.col("conv") == 1, "CONV")
                .otherwise("NULL")
                .alias("t"),
            )
        )
        .unionAll(
            firstp.join(
                touches.select("user_id").distinct(), "user_id", "left_anti"
            ).select(F.lit("START").alias("f"), F.lit("CONV").alias("t"))
        )
    )
    counts = edges.groupBy("f", "t").agg(F.count("*").cast("long").alias("n"))
    wf = Window.partitionBy("f")
    tm = counts.select(
        "f",
        "t",
        F.round(F.col("n").cast("double") / F.sum("n").over(wf), 12).alias(
            "tp"
        ),
    )
    # The state space is COMPILE-TIME fixed (START + the 4 channel types +
    # the two absorbers), so the matrix pivots to ONE row: one column per
    # (f, t) cell.
    froms = ("START",) + _MRA_CHANNELS
    tos = _MRA_CHANNELS + ("CONV", "NULL")
    row = tm.groupBy().agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("f") == f) & (F.col("t") == t), F.col("tp")
                    )
                ),
                F.lit(0.0),
            ).alias(f"tp_{f}_{t}")
            for f in froms
            for t in tos
        ]
    )  # one row; consumed once by the fold below — no checkpoint needed
    scenarios = ("full",) + _MRA_CHANNELS
    channels = _MRA_CHANNELS
    iters = _MRA_ITERS

    # The (scenario × state) recursion state is 35 doubles over the one-row
    # pivoted matrix, so the 12-step fold runs in one bounded_fold: per
    # term, a double product cast to decimal(·,12), exact decimal adds,
    # round 9 — the op sequence the oracle's SQL evaluates.
    def _mra_fold(pdf):
        from decimal import Decimal

        import pandas as pd

        r = pdf.iloc[0]
        tp = {
            (f, t): float(r[f"tp_{f}_{t}"]) for f in froms for t in tos
        }
        states = froms + ("CONV", "NULL")
        p = {
            (sc, st): (1.0 if st == "CONV" else 0.0)
            for sc in scenarios
            for st in states
        }
        for _ in range(iters):
            nxt = dict(p)
            for sc in scenarios:
                removed = sc if sc != "full" else None
                for f in froms:
                    acc = Decimal(0)
                    for t in tos:
                        mp = 0.0 if t == removed else p[(sc, t)]
                        acc += spark_decimal(tp[(f, t)] * mp, 12)
                    nxt[(sc, f)] = spark_round(float(acc), 9)
            p = nxt
        p_full = p[("full", "START")]
        res = [
            (
                c,
                p_full,
                p[(c, "START")],
                spark_round(1.0 - p[(c, "START")] / p_full, 9),
            )
            for c in channels
        ]
        tot = float(sum(spark_decimal(re, 12) for _, _, _, re in res))
        return pd.DataFrame(
            {
                "channel": [c for c, _, _, _ in res],
                "p_conv_full": [spark_round(pf, 6) for _, pf, _, _ in res],
                "p_conv_removed": [spark_round(pr, 6) for _, _, pr, _ in res],
                "removal_effect": [spark_round(re, 6) for _, _, _, re in res],
                "attribution_share": [
                    spark_round(re / tot, 6) for _, _, _, re in res
                ],
            }
        )

    folded = bounded_fold(
        row,
        _mra_fold,
        "channel string, p_conv_full double, p_conv_removed double,"
        " removal_effect double, attribution_share double",
        bound="one pivoted transition-matrix row",
        max_rows=1,
    )
    return folded.orderBy("channel")


def _shapley_pairs():
    """(channel, mask_without, mask_with, w24) for every channel and every
    subset S of the OTHER channels: w24 = |S|!·(3−|S|)! — the exact
    4-player Shapley weight times 24, kept integer so the only float is
    the marginal v-difference. Shared by the Spark side and the oracle."""
    import math

    chans = list(_MRA_CHANNELS)
    rows = []
    for ci, c in enumerate(chans):
        others = [i for i in range(4) if i != ci]
        for sub in range(8):
            mask = 0
            size = 0
            for bi, oi in enumerate(others):
                if sub >> bi & 1:
                    mask |= 1 << oi
                    size += 1
            w24 = math.factorial(size) * math.factorial(3 - size)
            rows.append((c, mask, mask | (1 << ci), w24))
    return rows


def _shapley_oracle() -> str:
    pairs = ",\n            ".join(
        f"('{c}', {m0}, {m1}, {w})" for c, m0, m1, w in _shapley_pairs()
    )
    bits = " + ".join(
        f"max(CASE WHEN event_type = '{c}' THEN {1 << i} ELSE 0 END)"
        for i, c in enumerate(_MRA_CHANNELS)
    )
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    firstp AS (
        SELECT user_id, min(rn) AS prn FROM seq
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    journeys AS MATERIALIZED (
        SELECT s.user_id,
               CAST({bits} AS BIGINT) AS mask,
               CAST(max(CASE WHEN f.prn IS NULL THEN 0 ELSE 1 END)
                    AS BIGINT) AS conv
        FROM seq s LEFT JOIN firstp f USING (user_id)
        WHERE s.event_type != 'purchase'
          AND (f.prn IS NULL OR s.rn < f.prn)
        GROUP BY s.user_id
    ),
    v AS MATERIALIZED (
        SELECT mask, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(conv) AS BIGINT) AS n_conv,
               round(CAST(sum(conv) AS DOUBLE) / count(*), 12) AS v
        FROM journeys WHERE mask > 0 GROUP BY mask
    ),
    pairs AS (
        SELECT * FROM (VALUES
            {pairs}
        ) p(channel, m0, m1, w24)
    ),
    terms AS MATERIALIZED (
        SELECT p.channel,
               CAST(SUM(CAST(round(p.w24 *
                   (COALESCE(v1.v, 0.0) - COALESCE(v0.v, 0.0)), 12)
                   AS DECIMAL(38,12))) AS DOUBLE) / 24.0 AS phi
        FROM pairs p
        LEFT JOIN v v0 ON v0.mask = p.m0
        LEFT JOIN v v1 ON v1.mask = p.m1
        GROUP BY p.channel
    ),
    tot AS (
        SELECT CAST(SUM(CAST(round(phi, 9) AS DECIMAL(38,12)))
                    AS DOUBLE) AS tot
        FROM terms
    )
    SELECT channel,
           round(phi, 6) + 0.0 AS shapley_value,
           round(round(phi, 9) / tot, 6) + 0.0 AS attribution_share
    FROM terms CROSS JOIN tot ORDER BY channel
    """


@register(
    "shapley_attribution",
    tags=("history", "attribution"),
    defer=True,
    oracle=_shapley_oracle(),
)
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value attribution over channel COALITIONS (Zhao et
    al. 2018's simplified game) — the order-free counterpart of
    ``markov_removal_attribution``: a journey's value v(S) is the
    conversion rate of users whose touched-channel SET is exactly S
    (unobserved coalitions contribute 0, and v(∅) := 0 — the
    direct-to-purchase journeys carry no channel credit by convention);
    channel credit is the Shapley average of marginal contributions over
    all 2³ orderings, with the 4-player weights kept as exact integers
    (|S|!·(3−|S|)!, denominator 24 applied once) so the only float work
    is the v-differences, round-12 decimal-summed.

    Scale shape: journeys collapse to ≤15 coalition rows in one
    bitmask groupBy (map-side combine); the Shapley sum is a 32-row
    literal join — constant cost at any data size, like the Markov
    chain's pivoted recursion."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    firstp = (
        seq.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    bits = None
    for i, c in enumerate(_MRA_CHANNELS):
        b = F.max(
            F.when(F.col("event_type") == c, 1 << i).otherwise(0)
        )
        bits = b if bits is None else bits + b
    journeys = (
        seq.join(firstp, "user_id", "left")
        .where(
            (F.col("event_type") != "purchase")
            & (F.col("prn").isNull() | (F.col("rn") < F.col("prn")))
        )
        .groupBy("user_id")
        .agg(
            bits.cast("long").alias("mask"),
            F.max(
                F.when(F.col("prn").isNull(), 0).otherwise(1)
            )
            .cast("long")
            .alias("conv"),
        )
    )
    v = (
        journeys.where(F.col("mask") > 0)
        .groupBy("mask")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("conv").cast("long").alias("n_conv"),
        )
        .select(
            "mask",
            F.round(
                F.col("n_conv").cast("double") / F.col("n"), 12
            ).alias("v"),
        )
    )
    pairs = spark.createDataFrame(
        _shapley_pairs(), "channel string, m0 long, m1 long, w24 long"
    )
    v0 = v.select(F.col("mask").alias("m0"), F.col("v").alias("va"))
    v1 = v.select(F.col("mask").alias("m1"), F.col("v").alias("vb"))
    terms = (
        pairs.join(F.broadcast(v0), "m0", "left")
        .join(F.broadcast(v1), "m1", "left")
        .groupBy("channel")
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("w24")
                        * (
                            F.coalesce(F.col("vb"), F.lit(0.0))
                            - F.coalesce(F.col("va"), F.lit(0.0))
                        ),
                        12,
                    ).cast("decimal(38,12)")
                ).cast("double")
                / 24.0
            ).alias("phi")
        )
        .localCheckpoint()
    )
    tot = terms.agg(
        F.sum(F.round(F.col("phi"), 9).cast("decimal(38,12)"))
        .cast("double")
        .alias("tot")
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            (F.round(F.col("phi"), 6) + 0.0).alias("shapley_value"),
            (
                F.round(F.round(F.col("phi"), 9) / F.col("tot"), 6) + 0.0
            ).alias("attribution_share"),
        )
        .orderBy("channel")
    )


@register(
    "nelson_aalen_hazard",
    tags=("history", "analytics", "stats"),
    defer=True,
    oracle="""
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM g
    ),
    horizon AS (SELECT max(ts) AS h FROM events),
    sess AS (
        SELECT user_id, session_no,
               (epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000 AS t,
               max(ts) > h - INTERVAL 30 MINUTE AS censored
        FROM s CROSS JOIN horizon GROUP BY user_id, session_no, h
    ),
    by_t AS (
        SELECT t,
               CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
                   AS d,
               CAST(count(*) AS BIGINT) AS leaving
        FROM sess GROUP BY t
    ),
    risk AS (
        SELECT t, d,
               (SELECT count(*) FROM sess)
               - coalesce(sum(leaving) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS n_risk
        FROM by_t
    ),
    na AS (
        SELECT t, d, CAST(n_risk AS BIGINT) AS n_risk,
               sum(CAST(round(CAST(d AS DOUBLE) / n_risk, 12)
                   AS DECIMAL(38,12)))
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS hsum,
               sum(CAST(round(CAST(d AS DOUBLE) / (n_risk * n_risk), 12)
                   AS DECIMAL(38,12)))
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS vsum
        FROM risk WHERE d > 0
    )
    SELECT t AS t_minutes, n_risk, d AS n_deaths,
           round(CAST(hsum AS DOUBLE), 6) AS cum_hazard,
           round(sqrt(CAST(vsum AS DOUBLE)), 6) AS hazard_se
    FROM na ORDER BY t_minutes
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over the same right-censored session
    durations as ``kaplan_meier_sessions``: ``H(t) = Σ_{t_j≤t} d_j/n_j``
    with the standard variance ``Σ d_j/n_j²`` — the hazard-scale
    companion to KM's survival scale (H = −ln S only asymptotically;
    reporting both is how survival tooling cross-checks). Each increment
    is an exact-integer division, round-12 + DECIMAL(38,12) through the
    cumulative window (doubles are never window-summed, per the repo
    rule).

    Scale shape: identical to KM — per-user sessionization windows, then
    every survival computation runs over the bounded duration table."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1800 * 1000000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    s = g.withColumn(
        "session_no",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # the session table feeds the death-time histogram AND the risk-set
    # total — cache so the sessionization windows run once. persist,
    # not localCheckpoint: one row per session grows with the data.
    # The stream horizon (global max ts) = max of the per-session maxes,
    # so it derives from the SAME cache instead of a second events pass
    # (executed-plan audit: 2 scans with the separate horizon aggregate).
    sess_raw = persist_corpus(
        s.groupBy("user_id", "session_no").agg(
            F.floor(
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / 60000000
            )
            .cast("long")
            .alias("t"),
            F.unix_micros(F.max("ts")).alias("last_us"),
        )
    )
    horizon = sess_raw.agg(F.max("last_us").alias("h_us"))
    sess = sess_raw.crossJoin(F.broadcast(horizon)).select(
        "t",
        (F.col("last_us") > F.col("h_us") - 1800 * 1000000).alias(
            "censored"
        ),
    )
    by_t = sess.groupBy("t").agg(
        F.sum(F.when(F.col("censored"), 0).otherwise(1))
        .cast("long")
        .alias("d"),
        F.count("*").cast("long").alias("leaving"),
    )
    total = sess_raw.agg(F.count("*").cast("long").alias("n_total"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        by_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
        )
        .where(F.col("d") > 0)
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    na = risk.select(
        "t",
        "d",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.sum(
            F.round(
                F.col("d").cast("double") / F.col("n_risk"), 12
            ).cast("decimal(38,12)")
        )
        .over(w_cum)
        .alias("hsum"),
        F.sum(
            F.round(
                F.col("d").cast("double")
                / (F.col("n_risk") * F.col("n_risk")),
                12,
            ).cast("decimal(38,12)")
        )
        .over(w_cum)
        .alias("vsum"),
    )
    return na.select(
        F.col("t").alias("t_minutes"),
        "n_risk",
        F.col("d").alias("n_deaths"),
        F.round(F.col("hsum").cast("double"), 6).alias("cum_hazard"),
        F.round(F.sqrt(F.col("vsum").cast("double")), 6).alias("hazard_se"),
    ).orderBy("t_minutes")
