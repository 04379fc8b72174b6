"""Corpus & behavior mining operators (round 5, second wave): session-path
mining, grid-blocked spatial joins, cross-document n-gram span duplication,
per-domain cap sampling, token-entropy quality scoring, rolling exact
medians, and Pareto (skyline) frontiers.

Each query follows the repo's determinism recipes (NOTES.md): integer
arithmetic through shuffles wherever possible, ``h60`` for any hash-derived
value, round-12 + DECIMAL(38,12) sums for libm-derived terms, round-6
double outputs. Scale shapes are called out per operator; the common theme
of this wave is *blocking*: every pairwise computation (spatial pairs,
duplicated spans) goes through an equi-joinable candidate key, never an
all-pairs join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tscd_datalake_adapter_spark.functions import (
    bounded_fold,
    checkpoint_bounded,
    dec_sum,
    h60,
    oracle_dec_sum,
    oracle_h60,
    persist_corpus,
    spark_round,
)
from tscd_datalake_adapter_spark.operators import register
from tscd_datalake_adapter_spark.sources import load_table

LN2 = "0.6931471805599453"
"""The double nearest ln(2), as a literal both engines parse identically."""

GEO_LAT_RANGE = 180_000_001
GEO_LON_RANGE = 360_000_001
GEO_CELL = 10_000_000
GEO_PAIR_D = 1_000_000  # pair radius in µdeg (and the blocking cell size)


def _geo_points(spark: SparkSession, sf_dir: str, limit_id: int) -> DataFrame:
    """Synthetic deterministic planar coordinates for events: non-negative
    integer micro-degrees derived from ``h60`` of the event id (the fixture
    has no geo columns; the *operators* over the grid are the deliverable).
    Integer µdeg keep every distance computation exact in BIGINT."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < limit_id)
    return e.select(
        "event_id",
        (h60(F.concat(F.lit("lat:"), F.col("event_id").cast("string")))
         % GEO_LAT_RANGE).alias("y"),
        (h60(F.concat(F.lit("lon:"), F.col("event_id").cast("string")))
         % GEO_LON_RANGE).alias("x"),
    )


def _oracle_geo_points(limit_id: int) -> str:
    lat = oracle_h60("'lat:' || CAST(event_id AS VARCHAR)")
    lon = oracle_h60("'lon:' || CAST(event_id AS VARCHAR)")
    return f"""
        SELECT event_id,
               {lat} % {GEO_LAT_RANGE} AS y,
               {lon} % {GEO_LON_RANGE} AS x
        FROM events WHERE event_id < {limit_id}
    """


@register(
    "session_path_topk",
    tags=("history", "mining"),
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type
        FROM events WHERE user_id < 300
    ),
    g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts, event_id, event_type,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM g
    ),
    r AS (
        SELECT user_id, session_no, event_type,
               row_number() OVER (PARTITION BY user_id, session_no
                                  ORDER BY ts, event_id) AS rn
        FROM s
    ),
    paths AS (
        SELECT user_id, session_no,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 5 GROUP BY user_id, session_no
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-path mining: the most common event-type journeys, where a
    journey is the first five events of each 30-minute-gap session joined
    as ``view>click>purchase`` — the flat-table form of a prefix tree over
    user behavior (every prefix count is recoverable by grouping on a
    path prefix).

    Scale shape: sessionization windows are per-user (the same shape as
    ``sessionize_events_batch``); the path build groups on (user,
    session) — a key strictly finer than user — and the final count
    groups on path with a TakeOrderedAndProject top-20, so no stage sees
    an unpartitioned window or a global sort."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g = e.select("user_id", "ts", "event_id", "event_type").withColumn(
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
    rw = Window.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
    r = s.withColumn("rn", F.row_number().over(rw)).where(F.col("rn") <= 5)
    paths = r.groupBy("user_id", "session_no").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda st: st.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


@register(
    "geo_grid_hotspots",
    tags=("mining", "geo"),
    oracle=f"""
    WITH pts AS ({_oracle_geo_points(100_000_000)})
    SELECT x // {GEO_CELL} AS cell_x, y // {GEO_CELL} AS cell_y,
           CAST(count(*) AS BIGINT) AS n_events
    FROM pts GROUP BY cell_x, cell_y
    ORDER BY n_events DESC, cell_x, cell_y LIMIT 15
    """,
)
def geo_grid_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial hotspot detection by uniform grid binning: densest
    ``GEO_CELL``-sized cells over synthetic planar µdeg coordinates (an
    H3/S2-style discrete global grid reduced to its analytic core: a
    map-side integer cell key). Coordinates are non-negative integers, so
    ``div`` truncation equals floor in both engines.

    Scale: the cell id is computed in the scan projection; one hash
    aggregation on a bounded key domain (648 cells here; a real deployment
    picks the cell size so the cell count stays shuffle-friendly), then
    TakeOrdered top-15."""
    pts = _geo_points(spark, sf_dir, 100_000_000)
    return (
        pts.select(
            F.expr(f"x div {GEO_CELL}").alias("cell_x"),
            F.expr(f"y div {GEO_CELL}").alias("cell_y"),
        )
        .groupBy("cell_x", "cell_y")
        .agg(F.count("*").cast("long").alias("n_events"))
        .orderBy(F.col("n_events").desc(), "cell_x", "cell_y")
        .limit(15)
    )


@register(
    "geo_closest_pairs",
    headline=True,
    tags=("mining", "geo"),
    oracle=f"""
    WITH pts AS ({_oracle_geo_points(20_000)}),
    cells AS (
        SELECT event_id, x, y,
               x // {GEO_PAIR_D} AS cx, y // {GEO_PAIR_D} AS cy
        FROM pts
    ),
    probes AS (
        SELECT c.event_id, c.x, c.y,
               c.cx + dx.dx AS px, c.cy + dy.dy AS py
        FROM cells c
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) dx
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) dy
    ),
    pairs AS (
        SELECT a.event_id AS id_a, b.event_id AS id_b,
               (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
        FROM probes a JOIN cells b ON a.px = b.cx AND a.py = b.cy
        WHERE a.event_id < b.event_id
    )
    SELECT id_a, id_b, d2 FROM pairs
    WHERE d2 <= {GEO_PAIR_D}::BIGINT * {GEO_PAIR_D}
    ORDER BY d2, id_a, id_b LIMIT 20
    """,
)
def geo_closest_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial pair join via grid blocking: all point pairs within
    ``GEO_PAIR_D`` µdeg (euclidean), found by equi-joining on grid cells
    with a 3×3 neighbor probe — the standard distributed spatial-join
    plan (block, probe neighbors, verify exactly). Lossless: the cell
    width equals the radius, so any qualifying pair's cells differ by at
    most 1 per axis; each pair is found exactly once because only the
    probe side explodes (the build side keeps its true cell).

    Scale: candidate volume is density-bounded (9 cells per point), the
    join is a hash equi-join on (cx, cy), distances are exact BIGINT
    µdeg² — no floats until never. The all-pairs quadratic form never
    appears at any scale."""
    pts = _geo_points(spark, sf_dir, 20_000)
    return geo_block_pairs(pts, GEO_PAIR_D).orderBy("d2", "id_a", "id_b").limit(20)


def geo_block_pairs(pts: DataFrame, d: int) -> DataFrame:
    """All point pairs within euclidean distance ``d`` of any
    (event_id, x, y) integer-coordinate frame, via the cell + 3x3-probe
    blocking join — the shared core of ``geo_closest_pairs`` (also driven
    by randomized brute-force-equivalence tests)."""
    cells = pts.select(
        "event_id",
        "x",
        "y",
        F.expr(f"x div {d}").alias("cx"),
        F.expr(f"y div {d}").alias("cy"),
    )
    probes = (
        cells.select(
            "event_id",
            "x",
            "y",
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dx"),
            "cx",
            "cy",
        )
        .select(
            "event_id",
            "x",
            "y",
            (F.col("cx") + F.col("dx")).alias("px"),
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dy"),
            "cy",
        )
        .select(
            "event_id", "x", "y", "px", (F.col("cy") + F.col("dy")).alias("py")
        )
    )
    a, b = probes.alias("a"), cells.alias("b")
    d2 = (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")) + (
        F.col("a.y") - F.col("b.y")
    ) * (F.col("a.y") - F.col("b.y"))
    return (
        a.join(
            b,
            (F.col("a.px") == F.col("b.cx")) & (F.col("a.py") == F.col("b.cy")),
        )
        .where(F.col("a.event_id") < F.col("b.event_id"))
        .select(
            F.col("a.event_id").alias("id_a"),
            F.col("b.event_id").alias("id_b"),
            d2.alias("d2"),
        )
        .where(F.col("d2") <= F.lit(d).cast("long") * F.lit(d).cast("long"))
    )


@register(
    "ngram_span_dedup",
    headline=True,
    tags=("llm", "dedup", "mining"),
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x != '') AS t
        FROM documents WHERE doc_id < 300
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 6),
                      i -> array_to_string(t[i:i+7], ' '))) AS g
        FROM toks WHERE len(t) >= 8
    ),
    hashed AS (SELECT doc_id, {oracle_h60("g")} AS h FROM grams),
    hstats AS (
        SELECT h, count(DISTINCT doc_id) AS nd FROM hashed GROUP BY h
    )
    SELECT a.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_grams,
           round(sum(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_frac
    FROM hashed a JOIN hstats s USING (h)
    GROUP BY a.doc_id ORDER BY a.doc_id
    """,
)
def ngram_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span measurement (the Lee et al.
    "Deduplicating Training Data" exact-substring signal, at 8-token
    granularity): for every document, the fraction of its 8-gram token
    windows that also occur in at least one OTHER document. Pipelines
    use this to cut boilerplate-heavy documents that exact and near-dup
    passes miss because the *whole* documents differ.

    Scale shape: the sliding 8-gram expansion is a map-side
    ``transform(sequence(...))`` (output volume = tokens × 1, not
    quadratic); spans meet through a groupBy on the 60-bit gram hash —
    the blocking key — and rejoin per-doc. Count-distinct runs per gram
    hash (bounded by docs sharing a span), never globally."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return ngram_dup_stats(docs)


def ngram_dup_stats(docs: DataFrame) -> DataFrame:
    """Per-doc duplicated-8-gram stats for any (doc_id, text) DataFrame —
    the shared core of :func:`ngram_span_dedup` (also driven by tests on
    planted-span synthetic corpora)."""
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("t"),
    )
    # the (doc_id, gram-hash) stream feeds the per-hash doc counts AND
    # the per-doc rejoin — persist so the sliding-window expansion + md5
    # run once (gram stream = corpus volume)
    grams = persist_corpus(
        toks.where(F.size("t") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 7),"
                    " i -> array_join(slice(t, i, 8), ' '))"
                )
            ).alias("g"),
        )
        .select("doc_id", h60("g").alias("h"))
    )
    hstats = grams.groupBy("h").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    dup = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (
        grams.join(hstats, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            dup.cast("long").alias("n_dup_grams"),
            F.round(dup / F.count("*").cast("double"), 6).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "domain_cap_sample",
    tags=("llm", "curation", "mining"),
    oracle="""
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN rn <= 10 THEN n_chars ELSE 0 END) AS BIGINT)
               AS kept_chars,
           round(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS keep_ratio
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap sampling — the curation step that stops one crawl
    domain from dominating a training mixture: keep at most 10 documents
    per source (longest first, id tiebreak) and report the per-domain
    keep ledger. One window partitioned by source, one aggregation on
    the same key — a single shuffle at any scale; hot domains are the
    common case and stay a single partition's worth of ranking state
    because row_number needs no buffering beyond the sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    kept = F.sum(F.when(F.col("rn") <= 10, 1).otherwise(0))
    return (
        docs.select("source", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            kept.cast("long").alias("n_kept"),
            F.sum(F.when(F.col("rn") <= 10, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
            F.round(kept / F.count("*").cast("double"), 6).alias("keep_ratio"),
        )
        .orderBy("source")
    )


@register(
    "token_entropy_quality",
    tags=("llm", "text", "mining"),
    oracle=f"""
    WITH tokc AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id < 300)
        WHERE tok <> '' GROUP BY doc_id, tok
    ),
    agg AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(CAST(round(c * ln(c), 12) AS DECIMAL(38, 12)))
                    AS DOUBLE) AS s
        FROM tokc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           round((round(ln(n_tokens), 12) - s / n_tokens) / {LN2}, 6)
               AS entropy_bits
    FROM agg ORDER BY doc_id
    """,
)
def token_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document (bits/token) — the
    quality signal that separates natural prose (high entropy) from
    keyword stuffing and template boilerplate (low). Computed as
    ``H = (ln N − Σ c·ln c / N) / ln 2`` so the corpus pass needs only
    per-(doc, token) counts.

    Determinism: the ``c·ln c`` terms are libm-derived, so each is
    rounded to 12 decimals and summed as DECIMAL(38,12) (the NOTES
    float-fold recipe); ``ln N`` is rounded per-row; the ln 2 divisor is
    a shared double literal. Scale: one groupBy(doc, tok), one
    groupBy(doc) — both partial-aggregated map-side."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    tokc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    c = F.col("c").cast("double")
    term = F.round(c * F.log(c), 12).cast("decimal(38,12)")
    agg = tokc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(term).cast("double").alias("s"),
    )
    n = F.col("n_tokens").cast("double")
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(
            (F.round(F.log(n), 12) - F.col("s") / n) / F.lit(float(LN2)),
            6,
        ).alias("entropy_bits"),
    ).orderBy("doc_id")


@register(
    "rolling_median_daily_value",
    tags=("analytics", "mining"),
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               {oracle_dec_sum("value")} AS total
        FROM events GROUP BY event_type, day
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           round(total, 6) AS total,
           round(median(total) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
               AS med7
    FROM daily ORDER BY event_type, day
    """,
)
def rolling_median_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day EXACT median of daily event value totals — the
    robust-trend twin of the moving average (medians shrug off the bursty
    outlier days that drag a mean). Spark has no windowed median, so the
    frame's ≤7 values are collected per row (``collect_list`` over a
    ROWS frame — bounded state by construction), sorted, and the middle
    element(s) picked; the DuckDB oracle is its native windowed
    ``median``, making this a cross-implementation check, not an
    echo. Even frames average the two middles — both engines do the
    identical two-double mean.

    Scale: daily totals are decimal-exact; the window is partitioned by
    event_type and its frame is 7 rows regardless of data volume."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(dec_sum("value").alias("total"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("total").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n.cast("int") / 2 + 1).cast("int"))
    mid_lo = F.element_at(arr, (n.cast("int") / 2).cast("int"))
    med = F.when(n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))).otherwise(
        (mid_lo + mid_hi) / 2.0
    )
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("total", 6).alias("total"),
        F.round(med, 6).alias("med7"),
    ).orderBy("event_type", "day")


@register(
    "skyline_pareto_parts",
    tags=("relational", "mining"),
    oracle="""
    SELECT a.p_partkey, a.p_retailprice, a.p_size
    FROM part a
    WHERE a.p_partkey < 2000 AND NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_partkey < 2000
          AND b.p_retailprice <= a.p_retailprice
          AND b.p_size >= a.p_size
          AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
    ORDER BY a.p_retailprice, a.p_partkey
    """,
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of parts: cheapest-for-their-size parts —
    every part not dominated by one that is both no more expensive and no
    smaller (strictly better in at least one dimension). The operator
    behind multi-objective shortlists (price/quality, latency/accuracy).

    Spark plan is the scale-safe 2D skyline, NOT the quadratic NOT
    EXISTS: aggregate max(size) per price, take the running strict max
    over cheaper prices (one unpartitioned window, but over the
    *aggregated* per-price frame, bounded by the price domain), and keep
    parts equal to their price-group max that strictly beat every
    cheaper group. The oracle states dominance declaratively — a
    different formulation whose agreement is the test."""
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") < 2000)
        .select("p_partkey", "p_retailprice", "p_size")
    )
    return pareto_frontier_2d(p, "p_retailprice", "p_size").orderBy(
        "p_retailprice", "p_partkey"
    )


def pareto_frontier_2d(df: DataFrame, cost_col: str, gain_col: str) -> DataFrame:
    """Rows not dominated by any (cost <=, gain >=, strict in one) row —
    the window-based 2D skyline shared by ``skyline_pareto_parts`` (also
    driven by randomized brute-force dominance tests)."""
    g = df.groupBy(cost_col).agg(F.max(gain_col).alias("msize"))
    w = (
        Window.orderBy(cost_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gg = g.withColumn("prev_max", F.max("msize").over(w))
    return (
        df.join(gg, cost_col)
        .where(
            (F.col(gain_col) == F.col("msize"))
            & (
                F.col("prev_max").isNull()
                | (F.col("msize") > F.col("prev_max"))
            )
        )
        .select(*df.columns)
    )


LEN_BUCKETS = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096]


@register(
    "length_bucketed_batching",
    tags=("llm", "curation", "mining"),
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x != '')) AS n
        FROM documents
    ),
    b AS (
        SELECT doc_id, n,
               CASE {" ".join(f"WHEN n <= {b} THEN {b}" for b in LEN_BUCKETS)}
                    ELSE {LEN_BUCKETS[-1]} END AS bucket
        FROM toks WHERE n > 0
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(sum(bucket - least(n, bucket)) AS BIGINT) AS padding_tokens,
           round(sum(bucket - least(n, bucket))
                 / CAST(sum(bucket - least(n, bucket)) + sum(n) AS DOUBLE),
                 6) AS waste_ratio,
           CAST(ceil(count(*) / 32.0) AS BIGINT) AS n_batches_of_32
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketed batching plan — the packing step before
    training: assign every document to the smallest power-of-two length
    bucket that holds it (so each batch pads only to its bucket, not the
    corpus max) and report the per-bucket padding-waste ledger that tells
    you whether the bucket boundaries fit the corpus.

    Bucket assignment is a CASE chain over the fixed boundary list — no
    log2/pow floats to disagree across engines (``ceil(log2(n))`` lands
    on libm at exact powers of two). One map-side projection plus one
    aggregation on a ≤9-value key; documents beyond the last boundary
    truncate to it (padding clamps at 0 via ``least``)."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    bucket = F.lit(LEN_BUCKETS[-1])
    for b in reversed(LEN_BUCKETS):
        bucket = F.when(F.col("n") <= b, F.lit(b)).otherwise(bucket)
    bdf = (
        docs.select("doc_id", n.alias("n"))
        .where(F.col("n") > 0)
        .withColumn("bucket", bucket)
    )
    pad = F.sum(F.col("bucket") - F.least("n", "bucket"))
    return (
        bdf.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            pad.cast("long").alias("padding_tokens"),
            F.round(
                pad / (pad + F.sum("n")).cast("double"), 6
            ).alias("waste_ratio"),
            F.ceil(F.count("*") / 32.0).cast("long").alias("n_batches_of_32"),
        )
        .orderBy("bucket")
    )


@register(
    "source_overlap_matrix",
    tags=("llm", "curation", "mining"),
    oracle="""
    WITH st AS (
        SELECT DISTINCT source, tok FROM (
            SELECT source,
                   unnest(list_filter(string_split(text, ' '),
                                      x -> x != '')) AS tok
            FROM documents
        )
    ),
    sizes AS (SELECT source, count(*) AS n FROM st GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS i
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b,
           CAST(i.i AS BIGINT) AS n_shared,
           round(i.i / CAST(sa.n + sb.n - i.i AS DOUBLE), 6) AS jaccard,
           round(i.i / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS containment
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
    ORDER BY jaccard DESC, src_a, src_b LIMIT 25
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between corpus sources (Jaccard and
    Broder containment over each domain's distinct token set) — the
    audit that surfaces mirrored crawls and cross-domain contamination
    BEFORE mixture weights are chosen (two sources with near-1
    containment are the same content wearing two domain labels).

    Scale shape: the pair computation is the inverted-index join the
    dedup tier already proved out — sources meet only through shared
    tokens, grouped on the (src_a, src_b) pair key whose cardinality is
    domains², not documents². The distinct (source, token) projection is
    the only corpus-volume pass."""
    docs = load_table(spark, sf_dir, "documents")
    # the distinct (source, token) projection is the only corpus-volume
    # pass — checkpoint it so the sizes aggregate and both join sides
    # consume the materialized table (executed-plan audit: 4 scans)
    st = (
        docs.select(
            "source",
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .distinct()
        .localCheckpoint()
    )
    sizes = st.groupBy("source").agg(F.count("*").alias("n"))
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("i").cast("long").alias("n_shared"),
            F.round(
                F.col("i")
                / (F.col("na") + F.col("nb") - F.col("i")).cast("double"),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("i") / F.least("na", "nb").cast("double"), 6
            ).alias("containment"),
        )
        .orderBy(F.col("jaccard").desc(), "src_a", "src_b")
        .limit(25)
    )


@register(
    "view_to_purchase_latency",
    tags=("history", "mining"),
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                   AS fv,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   AS fp
        FROM events GROUP BY user_id
    ),
    lat AS (
        SELECT user_id, (fp - fv) // 3600000000 AS hours
        FROM per_user WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
    ),
    hist AS (
        SELECT hours, count(*) AS n FROM lat GROUP BY hours
    ),
    tot AS (SELECT sum(n) AS t FROM hist)
    SELECT CAST(h.hours AS BIGINT) AS hours,
           CAST(h.n AS BIGINT) AS n_users,
           round(sum(h.n) OVER (ORDER BY h.hours) / CAST(t.t AS DOUBLE), 6)
               AS cum_frac
    FROM hist h CROSS JOIN tot t
    ORDER BY h.hours
    """,
)
def view_to_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion distribution: whole-hours between each user's
    first view and first purchase, as a histogram with the cumulative
    conversion fraction — the survival-curve input behind "how long does
    intent take to convert" decisions (attribution windows, retargeting
    delays). Latencies are exact integer microseconds floored to hours;
    the cumulative fraction is a running sum over the (bounded) hour
    domain, so the one unpartitioned window sits above an aggregate.

    Scale: one per-user conditional-min aggregation (the event_funnel
    shuffle), one histogram groupBy on the hour key."""
    e = load_table(spark, sf_dir, "events")
    fmin = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.unix_micros("ts"))
    )
    per_user = e.groupBy("user_id").agg(
        fmin("view").alias("fv"), fmin("purchase").alias("fp")
    )
    lat = per_user.where(
        F.col("fv").isNotNull()
        & F.col("fp").isNotNull()
        & (F.col("fp") >= F.col("fv"))
    ).select(F.expr("(fp - fv) div 3600000000").alias("hours"))
    # the bounded latency histogram feeds the total and the cumulative
    # readout — checkpoint so events aggregates once
    hist = lat.groupBy("hours").agg(F.count("*").alias("n")).localCheckpoint()
    tot = hist.agg(F.sum("n").alias("t"))
    w = Window.orderBy("hours").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("hours").cast("long").alias("hours"),
            F.col("n").cast("long").alias("n_users"),
            F.round(
                F.sum("n").over(w) / F.col("t").cast("double"), 6
            ).alias("cum_frac"),
        )
        .orderBy("hours")
    )


@register(
    "tokenizer_fertility_by_lang",
    tags=("llm", "text", "mining"),
    oracle="""
    WITH t AS (
        SELECT lang,
               len(list_filter(string_split(text, ' '), x -> x != ''))
                   AS n_toks,
               n_chars
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(sum(n_chars) / CAST(sum(n_toks) AS DOUBLE), 6)
               AS chars_per_token
    FROM t WHERE n_toks > 0 GROUP BY lang ORDER BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: characters per (whitespace)
    token — the compression-ratio audit run before committing to a
    tokenizer, because a language whose fertility is far off the corpus
    mean gets proportionally fewer effective context tokens and worse
    training economics. Integer sums only, one division at output; a
    single map-side projection + groupBy on the language key."""
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    t = docs.select("lang", n_toks.alias("n_toks"), "n_chars").where(
        F.col("n_toks") > 0
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(
                F.sum("n_chars") / F.sum("n_toks").cast("double"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


def _skew_oracle_arm(name: str, table: str, key: str) -> str:
    return f"""
        SELECT '{name}' AS join_key,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(max(c) AS BIGINT) AS max_rows_per_key,
               round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top1_share,
               round(max(c) * count(*) / CAST(sum(c) AS DOUBLE), 6)
                   AS skew_ratio
        FROM (SELECT {key}, count(*) AS c FROM {table} GROUP BY {key})
    """


@register(
    "join_key_skew_audit",
    tags=("relational", "mining", "audit"),
    oracle=f"""
    {_skew_oracle_arm('lineitem.l_orderkey', 'lineitem', 'l_orderkey')}
    UNION ALL
    {_skew_oracle_arm('lineitem.l_partkey', 'lineitem', 'l_partkey')}
    UNION ALL
    {_skew_oracle_arm('lineitem.l_suppkey', 'lineitem', 'l_suppkey')}
    UNION ALL
    {_skew_oracle_arm('orders.o_custkey', 'orders', 'o_custkey')}
    ORDER BY join_key
    """,
)
def join_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit over the fact tables' join keys — the
    number every 100-TB join plan should be sized against BEFORE it runs:
    ``top1_share`` is the fraction of rows landing on the single hottest
    key (the lower bound on the straggler partition's share of a shuffle
    keyed there), and ``skew_ratio`` = max/avg rows per key is the
    imbalance factor AQE's skew-join split or a salting rewrite must
    absorb (1.0 = perfectly uniform). ``salted_join_agg`` and the AQE
    skew-join plan test are the mitigations this audit tells you when to
    reach for.

    ALL three lineitem keys come out of ONE scan via GROUPING SETS
    (Expand multiplies rows 3x map-side, partial aggregation collapses
    them before the shuffle — the hbos/FD-audit single-pass pattern;
    audited r7: 4 scans total -> 2, one per fact table), each set's
    per-key counts then folding to its 1-row stats grouped by gid."""

    def stats_per_gid(cnts: DataFrame, names: dict[int, str]) -> DataFrame:
        name_col = F.lit(None).cast("string")
        for g, n in names.items():
            name_col = F.when(F.col("gid") == g, F.lit(n)).otherwise(name_col)
        return cnts.groupBy("gid").agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("c").cast("long").alias("n_rows"),
            F.max("c").cast("long").alias("max_rows_per_key"),
            F.round(F.max("c") / F.sum("c").cast("double"), 6).alias(
                "top1_share"
            ),
            F.round(
                F.max("c") * F.count("*") / F.sum("c").cast("double"), 6
            ).alias("skew_ratio"),
        ).select(
            name_col.cast("string").alias("join_key"),
            "n_keys",
            "n_rows",
            "max_rows_per_key",
            "top1_share",
            "skew_ratio",
        )

    li = load_table(spark, sf_dir, "lineitem")
    li_cnts = li.groupingSets(
        [
            [F.col("l_orderkey")],
            [F.col("l_partkey")],
            [F.col("l_suppkey")],
        ],
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
    ).agg(
        F.count("*").alias("c"),
        F.grouping_id().cast("long").alias("gid"),
    )
    # gid bit i SET when column i (order: orderkey, partkey, suppkey) is
    # aggregated away
    li_stats = stats_per_gid(
        li_cnts,
        {
            3: "lineitem.l_orderkey",
            5: "lineitem.l_partkey",
            6: "lineitem.l_suppkey",
        },
    )
    o_cnts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("c"))
        .select("c", F.lit(0).cast("long").alias("gid"))
    )
    o_stats = stats_per_gid(o_cnts, {0: "orders.o_custkey"})
    return li_stats.unionByName(o_stats).orderBy("join_key")


@register(
    "trigram_novelty_daily",
    tags=("mining", "events", "timeseries"),
    defer=True,
    oracle="""
    WITH seq AS (
        SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, event_type,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3,
               lead(CAST(ts AS DATE), 2) OVER w AS d3
        FROM events
        WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
                     ORDER BY ts, event_id)
    ),
    tri AS (
        SELECT strftime(day, '%Y-%m-%d') AS day,
               event_type || '>' || e2 || '>' || e3 AS g
        FROM seq WHERE e3 IS NOT NULL
    ),
    per_day AS (
        SELECT day, g, CAST(count(*) AS BIGINT) AS n
        FROM tri GROUP BY 1, 2
    ),
    firsts AS (
        SELECT g, min(day) AS first_day FROM per_day GROUP BY g
    )
    SELECT p.day,
           CAST(count(*) AS BIGINT) AS n_distinct_trigrams,
           CAST(sum(CASE WHEN f.first_day = p.day THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN f.first_day = p.day THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS novelty_rate
    FROM per_day p JOIN firsts f USING (g)
    GROUP BY p.day ORDER BY p.day
    """,
)
def trigram_novelty_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution freshness over time: per day, the fraction of distinct
    behavioral trigrams (3-step within-user-day event sequences) never
    seen on any earlier day — the drift metric a training-data pipeline
    watches to decide when yesterday's model no longer matches today's
    traffic (novelty decays toward zero as the pattern space saturates;
    a spike flags a behavior change).

    Scale shape: per-(user, day) lead windows (entity-keyed), one
    aggregate to the (day, trigram) grid, one tiny min-per-trigram
    aggregate joined back on the trigram key. The day×trigram grid is
    bounded by |types|³ × days, never event volume."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    seq = e.select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    tri = seq.where(F.col("e3").isNotNull()).select(
        "day",
        F.concat_ws(">", "event_type", "e2", "e3").alias("g"),
    )
    # the (day, trigram) grid feeds the first-seen aggregate AND the
    # novelty join — checkpoint so the lead windows run once
    per_day = tri.groupBy("day", "g").agg(
        F.count("*").cast("long").alias("n")
    ).localCheckpoint()
    firsts = per_day.groupBy("g").agg(F.min("day").alias("first_day"))
    novel = F.sum(
        F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)
    ).cast("long")
    return (
        per_day.join(firsts, "g")
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_distinct_trigrams"),
            novel.alias("n_novel"),
            F.round(novel.cast("double") / F.count("*"), 6).alias(
                "novelty_rate"
            ),
        )
        .orderBy("day")
    )


_BURST_GAMMA = "3.0"
# the series is calendar-bound: one row per day, a century at most
_BURST_MAX_DAYS = 100 * 366


@register(
    "burst_detection_viterbi",
    tags=("mining", "analytics"),
    defer=True,
    oracle=f"""
    WITH RECURSIVE daily0 AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS k
        FROM events GROUP BY 1
    ),
    daily AS MATERIALIZED (
        SELECT day, k,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM daily0
    ),
    n AS (SELECT CAST(max(t) AS BIGINT) AS n,
                 CAST(sum(k) AS BIGINT) AS total FROM daily),
    rates AS (
        SELECT CAST(total AS DOUBLE) / n AS r0,
               2.0 * (CAST(total AS DOUBLE) / n) AS r1,
               round(ln(CAST(total AS DOUBLE) / n), 12) AS lr0,
               round(ln(2.0 * (CAST(total AS DOUBLE) / n)), 12) AS lr1,
               n FROM n
    ),
    emit AS MATERIALIZED (
        SELECT d.day, d.k, d.t,
               round(r.r0 - d.k * r.lr0, 12) AS e0,
               round(r.r1 - d.k * r.lr1, 12) AS e1
        FROM daily d CROSS JOIN rates r
    ),
    fwd AS (
        SELECT t, day, k, e0 AS v0, e1 + {_BURST_GAMMA} AS v1
        FROM emit WHERE t = 1
        UNION ALL
        SELECT e.t, e.day, e.k,
               e.e0 + least(f.v0, f.v1),
               e.e1 + least(f.v1, f.v0 + {_BURST_GAMMA})
        FROM fwd f JOIN emit e ON e.t = f.t + 1
    ),
    fm AS MATERIALIZED (SELECT * FROM fwd),
    bwd AS (
        SELECT t, day, k, v0, v1,
               CASE WHEN v1 < v0 THEN 1 ELSE 0 END AS state
        FROM fm WHERE t = (SELECT n FROM n)
        UNION ALL
        SELECT f.t, f.day, f.k, f.v0, f.v1,
               CASE WHEN b.state = 1
                    THEN CASE WHEN f.v1 <= f.v0 + {_BURST_GAMMA}
                              THEN 1 ELSE 0 END
                    ELSE CASE WHEN f.v1 < f.v0 THEN 1 ELSE 0 END
               END AS state
        FROM bwd b JOIN fm f ON f.t = b.t - 1
    ),
    tot AS (
        SELECT CAST(sum(state) AS BIGINT) AS n_burst_days,
               round(least(max(CASE WHEN t = (SELECT n FROM n)
                                    THEN v0 END),
                           max(CASE WHEN t = (SELECT n FROM n)
                                    THEN v1 END)), 6) + 0.0
                   AS total_cost
        FROM bwd
    )
    SELECT b.day, b.k AS n_events, CAST(b.state AS BIGINT) AS burst,
           tot.n_burst_days, tot.total_cost
    FROM bwd b CROSS JOIN tot ORDER BY b.day
    """,
)
def burst_detection_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg-style burst detection on the daily event stream: a
    two-state automaton (base rate r₀ = mean daily count, burst rate
    r₁ = 2r₀, cost γ = 3 to ENTER the burst state) decoded by exact
    Viterbi — the trend/burst labeling a feed-monitoring pipeline runs
    over ingest volumes. Emissions are Poisson negative log-likelihoods
    with the state-independent ln k! dropped (argmin-invariant).

    Determinism: the only libm terms (ln r₀, ln r₁) round-12 once; the
    forward min-sum recursion and the backward argmin traversal are pure
    IEEE +/min with identical formula order in the Python fold and the
    oracle's two recursive CTEs (the holt recipe, plus backtracking).
    Tie rule: staying in the current state wins ties.

    Scale shape: rows → day histogram (calendar-bound); the fold runs in
    one bounded_fold over that bounded series."""
    import math

    import pandas as pd

    gamma = float(_BURST_GAMMA)
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").cast("long").alias("k"))

    def _viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        ks = [int(x) for x in pdf["k"]]
        n = len(ks)
        total = sum(ks)
        r0 = float(total) / n
        r1 = 2.0 * r0
        lr0 = spark_round(math.log(r0), 12)
        lr1 = spark_round(math.log(r1), 12)
        e0 = [spark_round(r0 - k * lr0, 12) for k in ks]
        e1 = [spark_round(r1 - k * lr1, 12) for k in ks]
        v0 = [0.0] * n
        v1 = [0.0] * n
        v0[0], v1[0] = e0[0], e1[0] + gamma
        for t in range(1, n):
            v0[t] = e0[t] + min(v0[t - 1], v1[t - 1])
            v1[t] = e1[t] + min(v1[t - 1], v0[t - 1] + gamma)
        states = [0] * n
        states[n - 1] = 1 if v1[n - 1] < v0[n - 1] else 0
        for t in range(n - 2, -1, -1):
            if states[t + 1] == 1:
                states[t] = 1 if v1[t] <= v0[t] + gamma else 0
            else:
                states[t] = 1 if v1[t] < v0[t] else 0
        total_cost = min(v0[n - 1], v1[n - 1])
        return pd.DataFrame(
            {
                "day": pdf["day"],
                "n_events": ks,
                "burst": states,
                "total_cost_raw": [total_cost] * n,
            }
        )

    # the decoded calendar-bounded series feeds the burst totals AND the
    # final readout — checkpoint so the events aggregate + Viterbi fold
    # run once (executed-plan audit: 2 scans without)
    decoded = checkpoint_bounded(
        bounded_fold(
            daily,
            _viterbi,
            "day string, n_events long, burst long, total_cost_raw double",
            bound="one row per calendar day",
            max_rows=_BURST_MAX_DAYS,
        ),
        bound="one row per calendar day",
    )
    tot = decoded.agg(
        F.sum("burst").cast("long").alias("n_burst_days"),
        (F.round(F.max("total_cost_raw"), 6) + 0.0).alias("total_cost"),
    )
    return (
        decoded.crossJoin(F.broadcast(tot))
        .select("day", "n_events", "burst", "n_burst_days", "total_cost")
        .orderBy("day")
    )


_TRAJ_MAX_UID = 60
_TRAJ_TOPK = 10


@register(
    "user_trajectory_topk_pairs",
    tags=("mining", "similarity"),
    defer=True,
    oracle=f"""
    WITH traj AS (
        SELECT user_id,
               CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS day,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events WHERE user_id < {_TRAJ_MAX_UID}
        GROUP BY 1, 2
    ),
    norms AS (
        SELECT user_id, CAST(sum(cents * cents) AS BIGINT) AS n2,
               CAST(count(*) AS BIGINT) AS n_days
        FROM traj GROUP BY user_id
    ),
    dots AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
               CAST(sum(a.cents * b.cents) AS BIGINT) AS dot
        FROM traj a JOIN traj b
          ON a.day = b.day AND a.user_id < b.user_id
        GROUP BY 1, 2
    ),
    dist AS (
        SELECT na.user_id AS user_a, nb.user_id AS user_b,
               na.n_days AS days_a, nb.n_days AS days_b,
               na.n2 + nb.n2 - 2 * COALESCE(d.dot, 0) AS d2
        FROM norms na
        JOIN norms nb ON na.user_id < nb.user_id
        LEFT JOIN dots d ON d.ua = na.user_id AND d.ub = nb.user_id
    )
    SELECT user_a, user_b, days_a, days_b, CAST(d2 AS BIGINT) AS d2,
           round(sqrt(CAST(d2 AS DOUBLE)) / 100.0, 6) + 0.0
               AS l2_distance
    FROM dist ORDER BY d2, user_a, user_b LIMIT {_TRAJ_TOPK}
    """,
)
def user_trajectory_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most-similar user value trajectories (the distributed
    trajectory-similarity shape of REPOSE, ICDE'21, on the time-grid
    representation): each user's trajectory is their daily spend vector
    (integer cents, absent days = 0), and pair distance comes from the
    SPARSE identity d² = ‖a‖² + ‖b‖² − 2⟨a,b⟩ — norms are one groupBy,
    dot products only touch (user, user) pairs that SHARE a day (the
    day-keyed self-join is the blocking step; all-pairs zero-overlap
    never materializes beyond the bounded norm join). All integer until
    the final sqrt (IEEE-correctly-rounded, so cross-engine safe on
    identical operands).

    The user slice (< 60) bounds the quadratic norm join at every SF —
    at production scale the same query blocks by LSH over the trajectory
    vectors first (the embedding_cosine_near_dup_lsh machinery).

    Scale shape: day-keyed equi self-join (shared-day pairs only), two
    bounded aggregates, TakeOrdered top-k."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id") < _TRAJ_MAX_UID
    )
    traj = (
        e.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
            .cast("long")
            .alias("day"),
            F.round(F.col("value") * 100.0, 0).cast("long").alias("c"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("c").cast("long").alias("cents"))
        # traj feeds the norms and both dot-join sides; norms feed both
        # theta-join sides — cache so events aggregates once
        # (executed-plan audit: 4 scans without). persist, not
        # localCheckpoint: (user, day) and per-user tables grow with data.
    )
    traj = persist_corpus(traj)
    norms = persist_corpus(
        traj.groupBy("user_id").agg(
            F.sum(F.col("cents") * F.col("cents")).cast("long").alias("n2"),
            F.count("*").cast("long").alias("n_days"),
        )
    )
    a, b = traj.alias("a"), traj.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("ua"), F.col("b.user_id").alias("ub")
        )
        .agg(F.sum(F.col("a.cents") * F.col("b.cents")).cast("long").alias("dot"))
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    dist = (
        na.join(nb, F.col("na.user_id") < F.col("nb.user_id"))
        .join(
            dots,
            (F.col("ua") == F.col("na.user_id"))
            & (F.col("ub") == F.col("nb.user_id")),
            "left",
        )
        .select(
            F.col("na.user_id").alias("user_a"),
            F.col("nb.user_id").alias("user_b"),
            F.col("na.n_days").alias("days_a"),
            F.col("nb.n_days").alias("days_b"),
            (
                F.col("na.n2")
                + F.col("nb.n2")
                - 2 * F.coalesce(F.col("dot"), F.lit(0))
            )
            .cast("long")
            .alias("d2"),
        )
    )
    return (
        dist.orderBy("d2", "user_a", "user_b")
        .limit(_TRAJ_TOPK)
        .select(
            "user_a",
            "user_b",
            "days_a",
            "days_b",
            "d2",
            (
                F.round(F.sqrt(F.col("d2").cast("double")) / 100.0, 6) + 0.0
            ).alias("l2_distance"),
        )
    )


@register(
    "prefixspan_topk_patterns",
    tags=("history", "mining"),
    defer=True,
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type
        FROM events WHERE user_id < 300
    ),
    g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts, event_id, event_type,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM g
    ),
    r AS (
        SELECT user_id * 100000 + session_no AS skey, event_type,
               row_number() OVER (PARTITION BY user_id, session_no
                                  ORDER BY ts, event_id) AS rn
        FROM s
    ),
    rb AS (SELECT * FROM r WHERE rn <= 8),
    pat AS (
        SELECT DISTINCT a.skey,
               a.event_type || '>' || b.event_type || '>' || c.event_type
                   AS pattern
        FROM rb a
        JOIN rb b ON b.skey = a.skey AND b.rn > a.rn
        JOIN rb c ON c.skey = a.skey AND c.rn > b.rn
    )
    SELECT pattern, CAST(count(*) AS BIGINT) AS support
    FROM pat GROUP BY pattern
    ORDER BY support DESC, pattern LIMIT 15
    """,
)
def prefixspan_topk_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent SUBSEQUENCE mining (PrefixSpan's output for fixed length
    3): the most common event-type patterns occurring in order — but not
    necessarily contiguously — within a session, the gap-tolerant
    complement of ``session_path_topk``'s contiguous paths. Support
    counts SESSIONS containing the pattern at least once (the DISTINCT
    before the count), the standard sequential-pattern-mining semantics.

    Scale shape: sessionization windows are per-user; the subsequence
    expansion is two self-equi-joins on the session key with rank
    inequalities — bounded by C(8,3)=56 combinations per session because
    the join input is truncated to each session's first 8 events (the
    basket-cap pattern of ``item_item_cosine_recs``); the final count
    groups by pattern with a TakeOrdered top-15."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g = e.select("user_id", "ts", "event_id", "event_type").withColumn(
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
    r = s.select(
        (F.col("user_id") * 100000 + F.col("session_no")).alias("skey"),
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("user_id", "session_no").orderBy(
                "ts", "event_id"
            )
        )
        .alias("rn"),
    ).where(F.col("rn") <= 8)
    r = persist_corpus(r)
    # ^ the capped session table feeds all three subsequence-join sides —
    # cache so the sessionization windows run once (audit: 3 scans).
    # persist, not localCheckpoint: one row per session event is corpus
    # volume.
    a = r.select("skey", F.col("event_type").alias("t1"), F.col("rn").alias("r1"))
    b = r.select("skey", F.col("event_type").alias("t2"), F.col("rn").alias("r2"))
    c = r.select("skey", F.col("event_type").alias("t3"), F.col("rn").alias("r3"))
    pat = (
        a.join(b, "skey")
        .where(F.col("r2") > F.col("r1"))
        .join(c, "skey")
        .where(F.col("r3") > F.col("r2"))
        .select(
            "skey",
            F.concat_ws(">", "t1", "t2", "t3").alias("pattern"),
        )
        .distinct()
    )
    return (
        pat.groupBy("pattern")
        .agg(F.count("*").cast("long").alias("support"))
        .orderBy(F.col("support").desc(), "pattern")
        .limit(15)
    )
