"""ML-data-preparation operators (round 5): retrieval fusion + ranking
evaluation, leakage-safe feature engineering, fold assignment, referential
integrity auditing, and behavioral funnels.

These sit beside the dedup/similarity/text tiers as the "make a training
set out of a lake" layer: hybrid retrieval (RRF), NDCG evaluation of a
ranker, smoothed target encoding, deterministic k-fold splits, FK-orphan
audits, and funnel conversion. Every query is DuckDB-oracle-exact; the
determinism recipes follow NOTES.md (integer counts through shuffles,
decimal for money, two-term double expressions instead of float folds,
round-12 before decimal-summing libm-derived weights).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tscd_datalake_adapter_spark.functions import (
    DEC_SUM,
    dec_sum,
    h60,
    oracle_dec_sum,
    oracle_h60,
    persist_corpus,
    spread,
)
from tscd_datalake_adapter_spark.operators import register
from tscd_datalake_adapter_spark.sources import load_table

RRF_K = 60
RRF_TERM = "scan"


@register(
    "rrf_hybrid_search_topk",
    tags=("llm", "retrieval"),
    oracle=f"""
    WITH lex_top AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '),
                   x -> x = '{RRF_TERM}')) AS tf
        FROM documents
        WHERE len(list_filter(string_split(text, ' '),
                  x -> x = '{RRF_TERM}')) > 0
        ORDER BY tf DESC, doc_id LIMIT 50
    ),
    lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY tf DESC, doc_id)
                    AS BIGINT) AS rank_lex
        FROM lex_top
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
    sem_top AS (
        SELECT e.vec_id AS doc_id,
               round(list_dot_product(e.v, qv.q)
                     / sqrt(list_dot_product(e.v, e.v)
                            * list_dot_product(qv.q, qv.q)), 6) AS cos
        FROM e CROSS JOIN qv WHERE e.vec_id != 0
        ORDER BY cos DESC, doc_id LIMIT 50
    ),
    sem AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                    AS BIGINT) AS rank_sem
        FROM sem_top
    ),
    fused AS (
        SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
               lex.rank_lex, sem.rank_sem,
               round(coalesce(1.0 / ({RRF_K} + lex.rank_lex), 0.0)
                     + coalesce(1.0 / ({RRF_K} + sem.rank_sem), 0.0), 6)
                   AS rrf_score
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    )
    SELECT doc_id, rank_lex, rank_sem, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
                AS BIGINT) AS rk
    FROM fused
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def rrf_hybrid_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.):
    a lexical ranking (term frequency of one query term over documents)
    and a semantic ranking (cosine to one query embedding, vec_id = 0,
    joined on doc_id = vec_id) fused as Σ 1/(60 + rank) — the standard
    score-free way to combine heterogeneous rankers in hybrid search.

    Determinism: both input ranks carry unique-id tiebreaks; the fused
    score is a two-term double expression (no float fold), rounded before
    the final rank. Scale: each ranker keeps only its TOP-50 via
    ``orderBy().limit()`` (TakeOrderedAndProject — per-partition top-k,
    never a global sort), and the rank window runs above that bounded
    list — fusing top-N lists is also the actual RRF semantics (rankers
    return result pages, not total orders). The fusion itself is a
    full outer join of two ≤50-row sides."""
    docs = load_table(spark, sf_dir, "documents")
    tf = F.size(
        F.filter(F.split("text", " "), lambda x: x == F.lit(RRF_TERM))
    )
    lex = (
        docs.select("doc_id", tf.alias("tf"))
        .where(F.col("tf") > 0)
        .orderBy(F.col("tf").desc(), F.col("doc_id"))
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("tf").desc(), F.col("doc_id")))
            .cast("long")
            .alias("rank_lex"),
        )
    )
    from tscd_datalake_adapter_spark.operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    sem = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("q")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("doc_id"))
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("cos").desc(), F.col("doc_id")))
            .cast("long")
            .alias("rank_sem"),
        )
    )
    fused = (
        lex.join(sem, "doc_id", "full")
        .select(
            "doc_id",
            "rank_lex",
            "rank_sem",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_lex")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_sem")),
                    F.lit(0.0),
                ),
                6,
            ).alias("rrf_score"),
        )
    )
    return (
        fused.select(
            "*",
            F.row_number()
            .over(Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id")))
            .cast("long")
            .alias("rk"),
        )
        .where(F.col("rk") <= 10)
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
    )


@register(
    "ndcg_retrieval_eval",
    tags=("llm", "retrieval"),
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
          FROM e WHERE vec_id < 10),
    ranked AS (
        SELECT q.query_id, q.qlabel, e.label AS nlabel,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_dot_product(q.qv, e.v)
                         / sqrt(list_dot_product(q.qv, q.qv)
                                * list_dot_product(e.v, e.v)), 6) DESC,
                   e.vec_id) AS rk
        FROM q CROSS JOIN e WHERE e.vec_id != q.query_id
    ),
    top AS (
        SELECT query_id,
               CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END AS rel, rk
        FROM ranked WHERE rk <= 10
    ),
    scored AS (
        SELECT query_id,
               CAST(sum(rel) AS BIGINT) AS n_rel,
               sum(CASE WHEN rel = 1
                        THEN CAST(round(1.0 / log2(rk + 1.0), 12)
                                  AS DECIMAL(38, 12)) END) AS dcg_d
        FROM top GROUP BY query_id
    ),
    ideal AS (
        SELECT n.query_id, n.n_rel,
               sum(CAST(round(1.0 / log2(i.i + 1.0), 12)
                        AS DECIMAL(38, 12))) AS idcg_d
        FROM scored n
        JOIN (SELECT unnest(range(1, 11)) AS i) i ON i.i <= n.n_rel
        GROUP BY n.query_id, n.n_rel
    )
    SELECT s.query_id, s.n_rel,
           round(CAST(coalesce(s.dcg_d, 0) AS DOUBLE), 6) AS dcg,
           round(CASE WHEN s.n_rel > 0
                      THEN CAST(s.dcg_d AS DOUBLE) / CAST(i.idcg_d AS DOUBLE)
                      END, 6) AS ndcg
    FROM scored s LEFT JOIN ideal i ON s.query_id = i.query_id
    ORDER BY s.query_id
    """,
)
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the exact cosine ranker against label-match relevance —
    the standard graded-ranking evaluation every retrieval/embedding
    pipeline reports (here with binary gains: rel = 1 iff the neighbor
    shares the query's label).

    Cross-engine float recipe: each DCG term 1/log2(rank+1) is a
    libm-derived double, so terms are rounded to 12 decimals and summed
    as DECIMAL(38,12) — order-independent, immune to the ulp skew
    engine libms can have (same recipe as weighted_sample_topk's
    round-12 keys). IDCG is derived from n_rel alone (binary gains:
    ideal list = all hits first), so it shares the identical term table.
    Scale: ranking is the one corpus-sized stage; everything after rides
    per-query top-10 rows."""
    from tscd_datalake_adapter_spark.operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label"), "embedding"
    )
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
    )
    ranked = (
        F.broadcast(q)
        # the per-row cosine folds are the cost — spread the corpus side
        # off the file-count scan partitions (cosine_topk pattern)
        .crossJoin(spread(e))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            F.col("label").alias("nlabel"),
            F.col("vec_id"),
            F.round(cosine(F.col("qv"), F.col("embedding")), 6).alias("cos"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cos").desc(), F.col("vec_id")
                )
            ),
        )
        .where(F.col("rk") <= 10)
    )
    term = F.round(1.0 / F.log2(F.col("rk") + 1.0), 12).cast(
        "decimal(38,12)"
    )
    rel = F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0)
    from tscd_datalake_adapter_spark.functions import checkpoint_bounded

    scored = checkpoint_bounded(
        ranked.groupBy("query_id").agg(
            F.sum(rel).cast("long").alias("n_rel"),
            F.sum(F.when(rel == 1, term)).alias("dcg_d"),
        ),
        bound="one row per query, <= 10 rows",
    )  # feeds ideal AND the final join — uncut, each re-ran the corpus rank
    ranks = spark.range(1, 11).select(F.col("id").alias("i"))
    ideal = (
        scored.join(F.broadcast(ranks), F.col("i") <= F.col("n_rel"))
        .groupBy("query_id")
        .agg(
            F.sum(
                F.round(1.0 / F.log2(F.col("i") + 1.0), 12).cast(
                    "decimal(38,12)"
                )
            ).alias("idcg_d")
        )
    )
    return (
        scored.join(ideal, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.round(
                F.coalesce(F.col("dcg_d"), F.lit(0)).cast("double"), 6
            ).alias("dcg"),
            F.round(
                F.when(
                    F.col("n_rel") > 0,
                    F.col("dcg_d").cast("double")
                    / F.col("idcg_d").cast("double"),
                ),
                6,
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


@register(
    "target_encoding_smoothed",
    tags=("tpch", "mlprep"),
    oracle="""
    WITH g AS (
        SELECT CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                    AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS grate
        FROM orders
    ),
    per AS (
        SELECT o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                    AS BIGINT) AS n_pos
        FROM orders GROUP BY o_orderpriority
    )
    SELECT priority, n, n_pos,
           round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate,
           round((CAST(n_pos AS DOUBLE) + 20.0 * g.grate)
                 / (CAST(n AS DOUBLE) + 20.0), 6) AS encoded
    FROM per CROSS JOIN g
    ORDER BY priority
    """,
)
def target_encoding_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m-estimate target encoding (m = 20) of order priority against the
    binary target "order is finished": encoded = (n_pos + m·global_rate)
    / (n + m) — the smoothing that keeps rare categories from memorizing
    their few labels, the standard leakage-aware categorical feature.

    Single DAG: the global rate is a broadcast 1-row aggregate crossJoin
    (no driver count), the per-category stats one map-side-combined
    groupBy on integer counts; every division happens after aggregation,
    so the result is engine-exact at any parallelism. At 100 TB this is
    a scan + one low-cardinality shuffle."""
    from tscd_datalake_adapter_spark.functions import checkpoint_bounded

    o = load_table(spark, sf_dir, "orders")
    pos = F.when(F.col("o_orderstatus") == "F", 1)
    # the bounded per-category table also yields the global rate
    # (Σn_pos/Σn — integer sums, one division, identical double) — one
    # orders scan instead of two (executed-plan audit: 2 without)
    per = checkpoint_bounded(
        o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
            F.count("*").cast("long").alias("n"),
            F.count(pos).cast("long").alias("n_pos"),
        ),
        bound="one row per order priority",
    )
    g = per.agg(
        (
            F.sum("n_pos").cast("double") / F.sum("n").cast("double")
        ).alias("grate")
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "priority",
            "n",
            "n_pos",
            F.round(
                F.col("n_pos").cast("double") / F.col("n").cast("double"), 6
            ).alias("raw_rate"),
            F.round(
                (F.col("n_pos").cast("double") + 20.0 * F.col("grate"))
                / (F.col("n").cast("double") + 20.0),
                6,
            ).alias("encoded"),
        )
        .orderBy("priority")
    )


@register(
    "kfold_assignment_stats",
    tags=("tpch", "mlprep"),
    oracle=f"""
    WITH folded AS (
        SELECT {oracle_h60("'fold:' || o_orderkey")} % 5 AS fold,
               o_totalprice, o_orderstatus, o_orderkey
        FROM orders
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(count(*) AS BIGINT) AS n,
           {oracle_dec_sum('o_totalprice')} AS revenue,
           CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                AS BIGINT) AS n_pos,
           round(count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                 / CAST(count(*) AS DOUBLE), 6) AS pos_rate
    FROM folded GROUP BY fold ORDER BY fold
    """,
)
def kfold_assignment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment (k = 5) by content hash — fold =
    h60('fold:' || key) % 5 — with per-fold size, decimal-exact revenue,
    and target-rate balance stats: the split audit run before any
    cross-validated training job. Hash-based assignment is
    partition-invariant and reproducible across runs/engines (same
    recipe as the deterministic samplers); the stats verify the folds
    are balanced in both size and label rate. One map-side-combined
    groupBy on a 5-value key; zero extra shuffles."""
    o = load_table(spark, sf_dir, "orders")
    folded = o.select(
        (h60(F.concat(F.lit("fold:"), F.col("o_orderkey"))) % 5).alias(
            "fold"
        ),
        "o_totalprice",
        "o_orderstatus",
    )
    pos = F.when(F.col("o_orderstatus") == "F", 1)
    return (
        folded.groupBy(F.col("fold").cast("long").alias("fold"))
        .agg(
            F.count("*").cast("long").alias("n"),
            dec_sum("o_totalprice").alias("revenue"),
            F.count(pos).cast("long").alias("n_pos"),
            F.round(
                F.count(pos) / F.count("*").cast("double"), 6
            ).alias("pos_rate"),
        )
        .orderBy("fold")
    )


@register(
    "referential_integrity_audit",
    tags=("tpch", "dq"),
    oracle="""
    SELECT * FROM (
        SELECT 'lineitem.l_orderkey->orders' AS edge,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
                   AS n_orphans
        UNION ALL
        SELECT 'lineitem.l_partkey->part',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE p.p_partkey = l.l_partkey))
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                  WHERE s.s_suppkey = l.l_suppkey))
        UNION ALL
        SELECT 'orders.o_custkey->customer',
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'customer.c_nationkey->nation',
               (SELECT count(*) FROM customer),
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))
    ) ORDER BY edge
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema: for each FK edge,
    total child rows and rows whose key has no parent (left-anti join) —
    the referential face of the DQ tier (``dq_profile_all_tables`` covers
    nulls/ranges; this covers joinability, the property every downstream
    join silently depends on).

    Scale shape: each edge is ONE pass over the child — a left join onto
    the distinct parent keys feeding a single aggregate that counts total
    rows and null-parent (orphan) rows together (a separate count +
    anti-join pair scanned every child twice; executed-plan audit) — the
    same shuffle the production join would pay, with broadcast parents
    where small; edges audit independently (no barrier between them)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")

    def edge(name, child, child_key, parent, parent_key):
        pk = parent.select(F.col(parent_key).alias("_pk")).distinct()
        return (
            child.select(F.col(child_key).alias("_ck"))
            .join(pk, F.col("_ck") == F.col("_pk"), "left")
            .agg(
                F.lit(name).alias("edge"),
                F.count("*").cast("long").alias("n_child"),
                F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_orphans"),
            )
        )

    edges = [
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
        edge("lineitem.l_suppkey->supplier", li, "l_suppkey", s, "s_suppkey"),
        edge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        edge(
            "customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"
        ),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out.orderBy("edge")


@register(
    "session_funnel_conversion",
    tags=("events", "analytics"),
    oracle="""
    WITH s1 AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS tv
        FROM events GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id,
               min(CASE WHEN e.event_type = 'click'
                         AND e.ts > s1.tv THEN e.ts END) AS tc
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE s1.tv IS NOT NULL
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id,
               min(CASE WHEN e.event_type = 'purchase'
                         AND e.ts > s2.tc THEN e.ts END) AS tp
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE s2.tc IS NOT NULL
        GROUP BY e.user_id
    ),
    m AS (
        SELECT
            (SELECT count(*) FROM s1 WHERE tv IS NOT NULL) AS n_view,
            (SELECT count(*) FROM s2 WHERE tc IS NOT NULL) AS n_click,
            (SELECT count(*) FROM s3 WHERE tp IS NOT NULL) AS n_purchase
    )
    SELECT CAST(n_view AS BIGINT) AS n_view,
           CAST(n_click AS BIGINT) AS n_click,
           CAST(n_purchase AS BIGINT) AS n_purchase,
           round(CASE WHEN n_view > 0
                      THEN n_click / CAST(n_view AS DOUBLE) END, 6)
               AS view_to_click,
           round(CASE WHEN n_click > 0
                      THEN n_purchase / CAST(n_click AS DOUBLE) END, 6)
               AS click_to_purchase
    FROM m
    """,
)
def session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered behavioral funnel (view → later click → later
    purchase) with stage conversion rates: each stage's timestamp must be
    AFTER the previous stage's first completion, the semantics product
    funnels need (a purchase before the first view does not convert).

    Expressed as three STACKED per-user window minima over ONE events
    pass: tv = first view, tc = first click after tv, tp = first purchase
    after tc. The three Window operators and the per-user collapse all
    share the user_id partitioning, so the whole funnel is one scan and
    ONE hash exchange. The r7 staged groupBy+rejoin form looked cheap
    ("each stage ships per-user partial minima") but its stage joins
    RE-SHUFFLED the full events table twice on top of 3 scans —
    interleaved A/B at sf0.1: windowed 0.64 s vs staged 0.93 s min, and
    the structural ledger (1 full shuffle vs 2 full shuffles + 2 extra
    scans) holds at any scale. Found by the r8 construction-inclusive
    scan audit. Timestamp comparisons stay native microsecond timestamps
    on both engines (no epoch conversion — NOTES.md). Counts are
    integers; rates divide after aggregation."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    x = e.withColumn(
        "tv",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    x = x.withColumn(
        "tc",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("tv")),
                F.col("ts"),
            )
        ).over(w),
    )
    x = x.withColumn(
        "tp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("tc")),
                F.col("ts"),
            )
        ).over(w),
    )
    # tv/tc/tp are per-user constants: collapse to one row per user (same
    # partitioning — no new exchange), then count the stage completions
    per_user = x.groupBy("user_id").agg(
        F.first("tv").alias("tv"),
        F.first("tc").alias("tc"),
        F.first("tp").alias("tp"),
    )
    m = per_user.agg(
        F.count("tv").cast("long").alias("n_view"),
        F.count("tc").cast("long").alias("n_click"),
        F.count("tp").cast("long").alias("n_purchase"),
    )
    return m.select(
        "n_view",
        "n_click",
        "n_purchase",
        F.round(
            F.when(
                F.col("n_view") > 0,
                F.col("n_click") / F.col("n_view").cast("double"),
            ),
            6,
        ).alias("view_to_click"),
        F.round(
            F.when(
                F.col("n_click") > 0,
                F.col("n_purchase") / F.col("n_click").cast("double"),
            ),
            6,
        ).alias("click_to_purchase"),
    )


@register(
    "autocorr_daily_events",
    tags=("events", "analytics"),
    oracle="""
    WITH daily AS (
        SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS idx,
               CAST(count(*) AS BIGINT) AS c
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, 4)) AS lag),
    pairs AS (
        SELECT l.lag, a.c AS x, b.c AS y
        FROM lags l
        JOIN daily a ON true
        JOIN daily b ON b.idx = a.idx - l.lag
    ),
    s AS (
        SELECT lag, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * x) AS DOUBLE) AS sxx,
               CAST(sum(y * y) AS DOUBLE) AS syy,
               CAST(sum(x * y) AS DOUBLE) AS sxy
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS autocorr
    FROM s ORDER BY lag
    """,
)
def autocorr_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1–3 — the
    first diagnostic of any forecasting pipeline (is there day-over-day
    persistence / weekly structure worth modeling?).

    Determinism: the series is INTEGER daily counts, every Pearson
    ingredient (Σx, Σy, Σx², Σy², Σxy, n) is an exact integer sum, and
    the correlation is derived once per lag from those integers — the
    ``corr_quantity_price`` recipe applied to a self-lagged series.
    Scale: one events aggregation (row-count-sized), then all lag work
    happens on the day-domain-sized series (~30 rows here, bounded by
    calendar span, not data volume)."""
    e = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # the calendar-bounded series feeds both lag-join sides — checkpoint
    # so events aggregates once (the x/y sides differ, so no reuse)
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("idx")
    ).agg(F.count("*").cast("long").alias("c")).localCheckpoint()
    lags = spark.range(1, 4).select(F.col("id").alias("lag"))
    a = daily.select(F.col("idx").alias("ia"), F.col("c").alias("x"))
    b = daily.select(F.col("idx").alias("ib"), F.col("c").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("ib") == F.col("ia") - F.col("lag"))
    )
    s = pairs.groupBy("lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    return s.select(
        F.col("lag").cast("long").alias("lag"),
        n.cast("long").alias("n_pairs"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("autocorr"),
    ).orderBy("lag")


@register(
    "cusum_changepoint_daily",
    tags=("events", "analytics"),
    oracle="""
    WITH daily AS (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    w AS (
        SELECT day, c,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
               sum(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
               CAST(count(*) OVER () AS BIGINT) AS nn,
               sum(c) OVER () AS tot
        FROM daily
    ),
    t AS (
        SELECT day, c, nn * cum - k * tot AS tk, nn FROM w
    )
    SELECT day, c AS n_events,
           round(CAST(tk AS DOUBLE) / nn, 6) AS cusum,
           CASE WHEN abs(tk) = max(abs(tk)) OVER () THEN true ELSE false END
               AS is_peak
    FROM t ORDER BY day
    """,
)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the daily event-count series: the
    cumulative sum of deviations from the global mean, S_k = Σ_{i≤k} c_i
    − k·mean, whose |maximum| marks the most likely level-shift point
    (the classic offline CUSUM statistic).

    Integer-exact float recipe: S_k is computed as the INTEGER
    T_k = N·cum_k − k·T (NOTES.md: never window-sum doubles), divided by
    N only at output; the peak flag compares integers. The windows are
    global but run over the AGGREGATED day-domain series (~30 rows) —
    the registry's bounded-input exemption, same as
    ``cumulative_unique_users``."""
    e = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").cast("long").alias("c"))
    wo = Window.orderBy("day")
    wall = Window.partitionBy()
    w = daily.select(
        "day",
        "c",
        F.row_number().over(wo).cast("long").alias("k"),
        F.sum("c").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
        F.count("*").over(wall).cast("long").alias("nn"),
        F.sum("c").over(wall).alias("tot"),
    )
    t = w.select(
        "day",
        "c",
        (F.col("nn") * F.col("cum") - F.col("k") * F.col("tot")).alias("tk"),
        "nn",
    )
    return t.select(
        "day",
        F.col("c").alias("n_events"),
        F.round(F.col("tk").cast("double") / F.col("nn"), 6).alias("cusum"),
        (F.abs("tk") == F.max(F.abs("tk")).over(wall)).alias("is_peak"),
    ).orderBy("day")


@register(
    "kmv_distinct_sketch",
    tags=("tpch", "sketch"),
    oracle=f"""
    WITH hashed AS (
        SELECT c_mktsegment AS segment, c_custkey,
               {oracle_h60("'kmv:' || c_custkey")} AS h
        FROM customer
    ),
    ranked AS (
        SELECT segment, h,
               CAST(row_number() OVER (PARTITION BY segment
                    ORDER BY h, c_custkey) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n_true
        FROM hashed
    ),
    kth AS (
        SELECT segment, n_true,
               max(CASE WHEN rn = 16 THEN h END) AS h16
        FROM ranked GROUP BY segment, n_true
    )
    SELECT segment, n_true,
           round(CASE WHEN n_true <= 16 THEN CAST(n_true AS DOUBLE)
                      ELSE 15.0 * 1152921504606846976.0 / h16 END, 2)
               AS est_distinct,
           round((CASE WHEN n_true <= 16 THEN CAST(n_true AS DOUBLE)
                       ELSE 15.0 * 1152921504606846976.0 / h16 END
                  - n_true) / n_true, 6) AS rel_err
    FROM kth ORDER BY segment
    """,
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, k = 16, per market
    segment: D̂ = (k−1)·M/h_(k) where h_(k) is the k-th smallest h60 value
    and M = 2^60 is the hash space — the mergeable distinct sketch that
    (unlike HLL) also supports set-intersection estimates, completing the
    sketch tier (Count-Min / HLL / Bloom / KMV).

    Like the other sketches it is rebuilt on h60 so the ENTIRE sketch —
    every h value, the k-th order statistic, the estimate — is
    cross-engine exact (vs engine-native approx_count_distinct, which is
    weak-by-design). Sub-sketch (n_true ≤ k) degenerates to the exact
    count, the standard KMV rule. Scale: per-group top-k-by-hash is a
    partial-aggregatable pattern; the window form here is segment-
    partitioned and the per-segment state is k values."""
    c = load_table(spark, sf_dir, "customer")
    hashed = c.select(
        F.col("c_mktsegment").alias("segment"),
        "c_custkey",
        h60(F.concat(F.lit("kmv:"), F.col("c_custkey"))).alias("h"),
    )
    wseg = Window.partitionBy("segment")
    ranked = hashed.select(
        "segment",
        "h",
        F.row_number()
        .over(wseg.orderBy("h", "c_custkey"))
        .cast("long")
        .alias("rn"),
        F.count("*").over(wseg).cast("long").alias("n_true"),
    )
    kth = ranked.groupBy("segment", "n_true").agg(
        F.max(F.when(F.col("rn") == 16, F.col("h"))).alias("h16")
    )
    est = F.when(
        F.col("n_true") <= 16, F.col("n_true").cast("double")
    ).otherwise(15.0 * 1152921504606846976.0 / F.col("h16"))
    return kth.select(
        "segment",
        "n_true",
        F.round(est, 2).alias("est_distinct"),
        F.round((est - F.col("n_true")) / F.col("n_true"), 6).alias(
            "rel_err"
        ),
    ).orderBy("segment")


@register(
    "feature_hashing_counts",
    tags=("llm", "mlprep"),
    oracle=f"""
    WITH tok AS (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
            AS tok
        FROM documents
    ),
    bucketed AS (
        SELECT {oracle_h60("'fh:' || tok")} % 512 AS bucket, tok FROM tok
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
    FROM bucketed GROUP BY bucket
    ORDER BY n_occurrences DESC, bucket LIMIT 15
    """,
)
def feature_hashing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the "hashing trick"): token → h60('fh:'||tok) mod
    512 bucket, with per-bucket occurrence counts and distinct-token
    collision counts for the top-15 buckets — the fixed-width,
    vocabulary-free featurization used when a learned vocab is too big
    or too mutable, plus the collision audit that sizes the bucket count.

    One explode + one map-side-combined groupBy on a 512-value key;
    distinct-token counting rides the same shuffle. Top-k via
    TakeOrdered with bucket-id tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    bucketed = tok.select(
        (h60(F.concat(F.lit("fh:"), F.col("tok"))) % 512)
        .cast("long")
        .alias("bucket"),
        "tok",
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("tok").cast("long").alias("n_distinct_tokens"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("bucket"))
        .limit(15)
    )


@register(
    "seasonal_naive_forecast_eval",
    tags=("events", "analytics"),
    oracle="""
    WITH daily AS (
        SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS idx,
               CAST(count(*) AS BIGINT) AS c
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    eval AS (
        SELECT a.idx, a.c,
               s.c AS f_seasonal,
               n1.c AS f_naive1
        FROM daily a
        JOIN daily s ON s.idx = a.idx - 7
        JOIN daily n1 ON n1.idx = a.idx - 1
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(abs(c - f_seasonal)) AS BIGINT) AS abs_err_seasonal,
               CAST(sum(abs(c - f_naive1)) AS BIGINT) AS abs_err_naive1
        FROM eval
    )
    SELECT n_days, abs_err_seasonal, abs_err_naive1,
           round(abs_err_seasonal / CAST(n_days AS DOUBLE), 6)
               AS mae_seasonal,
           round(abs_err_naive1 / CAST(n_days AS DOUBLE), 6) AS mae_naive1,
           round(1.0 - (abs_err_seasonal / CAST(n_days AS DOUBLE))
                 / (abs_err_naive1 / CAST(n_days AS DOUBLE)), 6) AS skill
    FROM m
    """,
)
def seasonal_naive_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict today = same
    weekday last week) against the naive-1 baseline (predict today =
    yesterday) on daily event counts: MAE of both over every day where
    both forecasts exist, plus the skill score 1 − MAE_s/MAE_n1 — the
    sanity benchmark any forecasting pipeline must beat before deploying
    a model.

    Integer-exact: the series and both absolute-error sums are integers;
    divisions happen once at the end. Scale: one row-count-sized
    aggregation to the day domain, then self-joins on the ~30-row
    series."""
    e = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # the ~30-row series feeds all three self-join sides — checkpoint so
    # events aggregates once (executed-plan audit: 3 scans without)
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("idx")
    ).agg(F.count("*").cast("long").alias("c")).localCheckpoint()
    a = daily.select(F.col("idx"), F.col("c"))
    s = daily.select(F.col("idx").alias("is_"), F.col("c").alias("f_seasonal"))
    n1 = daily.select(F.col("idx").alias("in1"), F.col("c").alias("f_naive1"))
    ev = a.join(s, F.col("is_") == F.col("idx") - 7).join(
        n1, F.col("in1") == F.col("idx") - 1
    )
    m = ev.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.abs(F.col("c") - F.col("f_seasonal")))
        .cast("long")
        .alias("abs_err_seasonal"),
        F.sum(F.abs(F.col("c") - F.col("f_naive1")))
        .cast("long")
        .alias("abs_err_naive1"),
    )
    mae_s = F.col("abs_err_seasonal") / F.col("n_days").cast("double")
    mae_n = F.col("abs_err_naive1") / F.col("n_days").cast("double")
    return m.select(
        "n_days",
        "abs_err_seasonal",
        "abs_err_naive1",
        F.round(mae_s, 6).alias("mae_seasonal"),
        F.round(mae_n, 6).alias("mae_naive1"),
        F.round(1.0 - mae_s / mae_n, 6).alias("skill"),
    )


@register(
    "psi_drift_totalprice",
    tags=("tpch", "dq"),
    oracle="""
    WITH binned AS (
        SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                    THEN 'ref' ELSE 'cur' END AS period,
               least(CAST(floor(o_totalprice / 50000.0) AS BIGINT), 9)
                   AS bin
        FROM orders
    ),
    counts AS (
        SELECT bin,
               CAST(count(CASE WHEN period = 'ref' THEN 1 END) AS BIGINT)
                   AS n_ref,
               CAST(count(CASE WHEN period = 'cur' THEN 1 END) AS BIGINT)
                   AS n_cur
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
               CAST(sum(n_cur) AS BIGINT) AS t_cur
        FROM counts
    ),
    terms AS (
        SELECT c.bin, c.n_ref, c.n_cur,
               CAST(round(
                   (c.n_ref / CAST(t.t_ref AS DOUBLE)
                    - c.n_cur / CAST(t.t_cur AS DOUBLE))
                   * ln((c.n_ref / CAST(t.t_ref AS DOUBLE))
                        / (c.n_cur / CAST(t.t_cur AS DOUBLE))), 12)
                   AS DECIMAL(38, 12)) AS term
        FROM counts c CROSS JOIN tot t
        WHERE c.n_ref > 0 AND c.n_cur > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           round(CAST(sum(term) AS DOUBLE), 6) AS psi
    FROM terms
    """,
)
def psi_drift_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the pre-1998 (reference) and
    post-1998 (current) order-value distributions over fixed 50k-wide
    bins: PSI = Σ (p_ref − p_cur)·ln(p_ref/p_cur) — the standard drift
    monitor every deployed-model pipeline runs on its features (PSI <
    0.1 stable, > 0.25 drifted). Bins empty on either side are excluded
    (the standard convention; both engines apply the identical filter).

    Determinism: bin counts are integers from one map-side-combined
    groupBy; each PSI term is derived once from those integers, rounded
    to 12 decimals, and summed as DECIMAL — order-independent, immune to
    libm ulp skew in ``ln`` (the NDCG recipe). Scale: one scan, one
    10-value-key shuffle, then constant-size math."""
    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
            "ref",
        )
        .otherwise("cur")
        .alias("period"),
        F.least(
            F.floor(F.col("o_totalprice") / 50000.0).cast("long"), F.lit(9)
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("period") == "ref", 1))
        .cast("long")
        .alias("n_ref"),
        F.count(F.when(F.col("period") == "cur", 1))
        .cast("long")
        .alias("n_cur"),
    ).localCheckpoint()  # feeds the totals AND the PSI terms
    tot = counts.agg(
        F.sum("n_ref").cast("long").alias("t_ref"),
        F.sum("n_cur").cast("long").alias("t_cur"),
    )
    p = F.col("n_ref") / F.col("t_ref").cast("double")
    q = F.col("n_cur") / F.col("t_cur").cast("double")
    terms = (
        counts.crossJoin(F.broadcast(tot))
        .where((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .select(
            F.round((p - q) * F.log(p / q), 12)
            .cast("decimal(38,12)")
            .alias("term")
        )
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_bins"),
        F.round(F.sum("term").cast("double"), 6).alias("psi"),
    )


@register(
    "mutual_information_priority_status",
    tags=("tpch", "mlprep"),
    oracle="""
    WITH joint AS (
        SELECT o_orderpriority AS x, o_orderstatus AS y,
               CAST(count(*) AS BIGINT) AS nxy
        FROM orders GROUP BY 1, 2
    ),
    mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM joint GROUP BY x),
    my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM joint GROUP BY y),
    tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM joint),
    terms AS (
        SELECT CAST(round(
                   (j.nxy / CAST(t.n AS DOUBLE))
                   * ln((CAST(j.nxy AS DOUBLE) * t.n)
                        / (CAST(mx.nx AS DOUBLE) * my.ny)), 12)
                   AS DECIMAL(38, 12)) AS mi_term,
               CAST(round(
                   -(j.nxy / CAST(t.n AS DOUBLE))
                   * ln(j.nxy / CAST(t.n AS DOUBLE)), 12)
                   AS DECIMAL(38, 12)) AS hxy_term
        FROM joint j
        JOIN mx ON j.x = mx.x
        JOIN my ON j.y = my.y
        CROSS JOIN tot t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           round(CAST(sum(mi_term) AS DOUBLE), 6) AS mi_nats,
           round(CAST(sum(hxy_term) AS DOUBLE), 6) AS joint_entropy_nats,
           round(CAST(sum(mi_term) AS DOUBLE)
                 / CAST(sum(hxy_term) AS DOUBLE), 6) AS nmi_ratio
    FROM terms
    """,
)
def mutual_information_priority_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information (nats) between order priority and order status —
    the model-free dependence measure used for categorical feature
    selection: MI = Σ_xy p(x,y)·ln(p(x,y)/(p(x)p(y))), reported with the
    joint entropy and their ratio (a normalized-MI variant).

    Everything derives from ONE joint-count aggregation: the ≤15-cell
    joint table is checkpoint_bounded (it feeds both margins, the total,
    and the term join — without the cut each consumer re-derived the
    aggregation, i.e. 4 scans of orders; audited r7, now 1); each term is
    rounded to 12 decimals and decimal-summed (order-independent,
    libm-ulp-proof — the NDCG/PSI recipe)."""
    from tscd_datalake_adapter_spark.functions import checkpoint_bounded

    o = load_table(spark, sf_dir, "orders")
    joint = checkpoint_bounded(
        o.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        ).agg(F.count("*").cast("long").alias("nxy")),
        bound="|priorities| x |statuses| <= 15 cells",
    )
    mx = joint.groupBy("x").agg(F.sum("nxy").cast("long").alias("nx"))
    my = joint.groupBy("y").agg(F.sum("nxy").cast("long").alias("ny"))
    tot = joint.agg(F.sum("nxy").cast("long").alias("n"))
    pxy = F.col("nxy") / F.col("n").cast("double")
    mi_term = F.round(
        pxy
        * F.log(
            (F.col("nxy").cast("double") * F.col("n"))
            / (F.col("nx").cast("double") * F.col("ny"))
        ),
        12,
    ).cast("decimal(38,12)")
    hxy_term = F.round(-pxy * F.log(pxy), 12).cast("decimal(38,12)")
    terms = (
        joint.join(mx, "x")
        .join(my, "y")
        .crossJoin(F.broadcast(tot))
        .select(mi_term.alias("mi_term"), hxy_term.alias("hxy_term"))
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.round(F.sum("mi_term").cast("double"), 6).alias("mi_nats"),
        F.round(F.sum("hxy_term").cast("double"), 6).alias(
            "joint_entropy_nats"
        ),
        F.round(
            F.sum("mi_term").cast("double")
            / F.sum("hxy_term").cast("double"),
            6,
        ).alias("nmi_ratio"),
    )


@register(
    "winsorized_stats_by_priority",
    tags=("tpch", "mlprep"),
    oracle=f"""
    WITH v AS (
        SELECT o_orderpriority AS priority,
               CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS kv,
               o_totalprice
        FROM orders
    ),
    hist AS (
        SELECT priority, kv, CAST(count(*) AS BIGINT) AS cnt
        FROM v GROUP BY 1, 2
    ),
    cum AS (
        SELECT priority, kv, cnt,
               sum(cnt) OVER (PARTITION BY priority ORDER BY kv
                              ROWS UNBOUNDED PRECEDING) AS cum_cnt,
               sum(cnt) OVER (PARTITION BY priority) AS n
        FROM hist
    ),
    cuts AS (
        SELECT priority,
               CAST(min(CASE WHEN cum_cnt * 20 >= n THEN kv END)
                    AS BIGINT) AS k05,
               CAST(min(CASE WHEN cum_cnt * 20 >= 19 * n THEN kv END)
                    AS BIGINT) AS k95
        FROM cum GROUP BY priority
    )
    SELECT v.priority,
           CAST(count(*) AS BIGINT) AS n,
           c.k05, c.k95,
           {oracle_dec_sum(
               "CASE WHEN v.kv < c.k05 THEN c.k05 * 1000.0 "
               "WHEN v.kv > c.k95 THEN c.k95 * 1000.0 "
               "ELSE v.o_totalprice END")} / count(*) AS winsorized_mean,
           round(count(CASE WHEN v.kv < c.k05 OR v.kv > c.k95 THEN 1 END)
                 / CAST(count(*) AS DOUBLE), 6) AS clipped_frac
    FROM v JOIN cuts c ON v.priority = c.priority
    GROUP BY v.priority, c.k05, c.k95
    ORDER BY v.priority
    """,
)
def winsorized_stats_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winsorized mean of order value per priority: order values are
    clipped at the exact p05/p95 of a 1000-unit value histogram
    (percentile_disc over the BOUNDED bucket domain — the
    ``length_percentile_filter`` pattern, grouped), then decimal-exact
    averaged — the robust-mean feature that tames heavy tails before
    model training, with the clipped fraction as the audit column.

    ONE pass over orders: the histogram carries each cell's decimal price
    sum alongside its count (checkpointed — it feeds the quantile walk
    AND the winsorized readout), so the clipped mean derives entirely
    from cells: clipped-below cells contribute cnt·k05·1000, clipped-
    above cnt·k95·1000, in-range cells their exact decimal sums —
    associative decimal regrouping, bit-equal to the per-row clip. The
    quantile windows run over the bucket domain (~500 rows/group), never
    raw rows. Clipping to the BUCKET boundary (k·1000) keeps the clipped
    value integer-derived, so the winsorized sum stays decimal-exact
    cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") / 1000.0).cast("long").alias("kv"),
        "o_totalprice",
    )
    # psum stays DECIMAL in the histogram (no dec_sum double readout): a
    # double round-trip per cell is exact only while a cell's price sum
    # stays under ~4.5e9 (half-ulp < 5e-7) — fine locally, violated by a
    # 100 TB (priority, $1000-bucket) cell. The raw decimal sum regroups
    # associatively in the outer fold and casts to double exactly once.
    hist = v.groupBy("priority", "kv").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.col("o_totalprice").cast(DEC_SUM)).alias("psum"),
    ).localCheckpoint()
    wcum = (
        Window.partitionBy("priority")
        .orderBy("kv")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("priority")
    cum = hist.select(
        "priority",
        "kv",
        F.sum("cnt").over(wcum).alias("cum_cnt"),
        F.sum("cnt").over(wall).alias("n"),
    )
    cuts = cum.groupBy("priority").agg(
        F.min(F.when(F.col("cum_cnt") * 20 >= F.col("n"), F.col("kv")))
        .cast("long")
        .alias("k05"),
        F.min(
            F.when(F.col("cum_cnt") * 20 >= 19 * F.col("n"), F.col("kv"))
        )
        .cast("long")
        .alias("k95"),
    )
    # each cell's contribution is DECIMAL end-to-end (psum never left
    # decimal); one final cast to double mirrors dec_sum exactly
    cell_sum = (
        F.when(
            F.col("kv") < F.col("k05"),
            (F.col("cnt") * F.col("k05") * 1000).cast("decimal(38,6)"),
        )
        .when(
            F.col("kv") > F.col("k95"),
            (F.col("cnt") * F.col("k95") * 1000).cast("decimal(38,6)"),
        )
        .otherwise(F.col("psum").cast("decimal(38,6)"))
    )
    out_cnt = F.sum(
        F.when(
            (F.col("kv") < F.col("k05")) | (F.col("kv") > F.col("k95")),
            F.col("cnt"),
        ).otherwise(0)
    )
    return (
        hist.join(F.broadcast(cuts), "priority")
        .groupBy("priority", "k05", "k95")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            (F.sum(cell_sum).cast("double") / F.sum("cnt")).alias(
                "winsorized_mean"
            ),
            F.round(out_cnt / F.sum("cnt").cast("double"), 6).alias(
                "clipped_frac"
            ),
        )
        .select(
            "priority", "n", "k05", "k95", "winsorized_mean", "clipped_frac"
        )
        .orderBy("priority")
    )


@register(
    "er_blocking_candidates",
    tags=("tpch", "dedup"),
    oracle="""
    WITH c AS (
        SELECT c_custkey, c_nationkey,
               CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
        FROM customer
    ),
    blocked AS (
        SELECT c_custkey, c_nationkey, cents, cents // 1000 AS block
        FROM c
    ),
    probes AS (
        SELECT c_custkey, c_nationkey, cents, block + d.d AS probe
        FROM blocked CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) d
    ),
    pairs AS (
        SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
               a.c_nationkey AS nationkey,
               abs(a.cents - b.cents) AS diff_cents
        FROM probes a JOIN blocked b
          ON a.probe = b.block
         AND a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey
        WHERE abs(a.cents - b.cents) <= 500
    )
    SELECT custkey_a, custkey_b, CAST(nationkey AS BIGINT) AS nationkey,
           diff_cents
    FROM pairs
    ORDER BY diff_cents, custkey_a, custkey_b LIMIT 20
    """,
)
def er_blocking_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking over customers: candidate duplicate
    accounts = same nation, account balances within 5.00 of each other —
    found via 10-unit balance-bucket BLOCKING KEYS with ±1 adjacent-
    bucket probes (the levenshtein length-bucket pattern applied to
    numeric ER), never an all-pairs comparison. The top-20 closest pairs
    are the review queue a data steward would triage.

    Balances are converted to integer cents once (round-to-cent is
    engine-identical on 2-decimal money), so blocks, the distance
    band, and the ranking are all integer-exact. (The oracle's `//`
    truncates toward zero on negative cents where Spark's floor() does
    not — benign HERE because the ±5.00 band is narrower than a block
    under either convention, so no qualifying pair can land more than one
    block apart in either engine; `er_blocking_eval` spells out floor()
    instead.) Scale: the join is an
    equi-join on (nation, block); each qualifying pair matches exactly
    once per probe construction."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    blocked = c.withColumn("block", F.floor(F.col("cents") / 1000))
    probes = blocked.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_nationkey").alias("nk_a"),
        F.col("cents").alias("cents_a"),
        F.explode(
            F.array(F.col("block") - 1, F.col("block"), F.col("block") + 1)
        ).alias("probe"),
    )
    pairs = probes.join(
        blocked,
        (F.col("probe") == F.col("block"))
        & (F.col("nk_a") == F.col("c_nationkey"))
        & (F.col("custkey_a") < F.col("c_custkey")),
    ).where(F.abs(F.col("cents_a") - F.col("cents")) <= 500)
    return (
        pairs.select(
            "custkey_a",
            F.col("c_custkey").alias("custkey_b"),
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.abs(F.col("cents_a") - F.col("cents")).alias("diff_cents"),
        )
        .orderBy("diff_cents", "custkey_a", "custkey_b")
        .limit(20)
    )


@register(
    "er_match_scores",
    tags=("tpch", "dedup"),
    defer=True,
    oracle="""
    WITH c AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               c_custkey % 97 AS branch,
               CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
        FROM customer
    ),
    blocked AS (
        SELECT *, cents // 1000 AS block FROM c
    ),
    probes AS (
        SELECT c_custkey, c_nationkey, c_mktsegment, branch, cents,
               block + d.d AS probe
        FROM blocked CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) d
    ),
    pairs AS (
        SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
               abs(a.cents - b.cents) AS diff_cents,
               CASE WHEN a.c_mktsegment = b.c_mktsegment
                    THEN 12 ELSE -3 END AS seg_score,
               CASE WHEN a.branch = b.branch THEN 8 ELSE -2 END AS branch_score,
               CASE WHEN abs(a.cents - b.cents) <= 100 THEN 10
                    WHEN abs(a.cents - b.cents) <= 500 THEN 4
                    ELSE 0 END AS bal_score
        FROM probes a JOIN blocked b
          ON a.probe = b.block
         AND a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey
        WHERE abs(a.cents - b.cents) <= 500
    )
    SELECT custkey_a, custkey_b, diff_cents,
           CAST(seg_score + branch_score + bal_score AS BIGINT) AS score,
           (seg_score + branch_score + bal_score) >= 18 AS is_match
    FROM pairs
    ORDER BY score DESC, diff_cents, custkey_a, custkey_b LIMIT 20
    """,
)
def er_match_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter-style match scoring on the blocked candidate pairs
    of ``er_blocking_candidates``: each field comparison contributes a
    fixed integer log-odds-like weight (market segment +12/−3, branch
    code +8/−2, balance proximity +10/+4/0) and pairs at or above
    the decision threshold (18) classify as matches. Integer weights keep
    the score — and the classification boundary — cross-engine exact.

    Scale shape inherits from the blocking stage: scoring is a projection
    over the (nation, balance-block) equi-join's survivors, so total cost
    is blocking cost + O(candidates); no all-pairs comparison exists
    anywhere in the plan."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_custkey") % 97).alias("branch"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    blocked = c.withColumn("block", F.floor(F.col("cents") / 1000))
    probes = blocked.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_nationkey").alias("nk_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("branch").alias("branch_a"),
        F.col("cents").alias("cents_a"),
        F.explode(
            F.array(F.col("block") - 1, F.col("block"), F.col("block") + 1)
        ).alias("probe"),
    )
    diff = F.abs(F.col("cents_a") - F.col("cents"))
    pairs = (
        probes.join(
            blocked,
            (F.col("probe") == F.col("block"))
            & (F.col("nk_a") == F.col("c_nationkey"))
            & (F.col("custkey_a") < F.col("c_custkey")),
        )
        .where(diff <= 500)
        .select(
            "custkey_a",
            F.col("c_custkey").alias("custkey_b"),
            diff.alias("diff_cents"),
            F.when(F.col("seg_a") == F.col("c_mktsegment"), 12)
            .otherwise(-3)
            .alias("seg_score"),
            F.when(F.col("branch_a") == F.col("branch"), 8)
            .otherwise(-2)
            .alias("branch_score"),
            F.when(diff <= 100, 10)
            .when(diff <= 500, 4)
            .otherwise(0)
            .alias("bal_score"),
        )
    )
    total = F.col("seg_score") + F.col("branch_score") + F.col("bal_score")
    return (
        pairs.select(
            "custkey_a",
            "custkey_b",
            "diff_cents",
            total.cast("long").alias("score"),
            (total >= 18).alias("is_match"),
        )
        .orderBy(F.col("score").desc(), "diff_cents", "custkey_a", "custkey_b")
        .limit(20)
    )


@register(
    "k_anonymity_audit",
    tags=("mlprep", "privacy"),
    defer=True,
    oracle="""
    WITH q AS (
        SELECT c_mktsegment AS seg, c_nationkey AS nat,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
               CAST(count(*) AS BIGINT) AS gsize
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT seg AS mktsegment,
           CAST(count(*) AS BIGINT) AS n_combos,
           CAST(sum(CASE WHEN gsize < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_risky_combos,
           CAST(sum(CASE WHEN gsize < 5 THEN gsize ELSE 0 END) AS BIGINT)
               AS n_exposed_rows,
           min(gsize) AS min_group_size,
           max(gsize) AS max_group_size
    FROM q GROUP BY seg ORDER BY mktsegment
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple — the privacy
    check a training-data release pipeline runs before publishing rows
    that could be joined back to individuals. Quasi-identifiers here:
    (market segment, nation, account-balance bucket of width 1000); a
    combination with fewer than k=5 members is re-identifiable, and the
    rows inside it are "exposed".

    Scale shape: two stacked map-side-combined aggregations (rows ->
    combos -> segments); no joins, no windows. The bucket boundary uses
    floor(x/1000.0) on the raw double — identical operands both engines,
    so bucket membership is cross-engine exact."""
    c = load_table(spark, sf_dir, "customer")
    q = c.groupBy(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
    ).agg(F.count("*").cast("long").alias("gsize"))
    return (
        q.groupBy(F.col("seg").alias("mktsegment"))
        .agg(
            F.count("*").cast("long").alias("n_combos"),
            F.sum(F.when(F.col("gsize") < 5, 1).otherwise(0))
            .cast("long")
            .alias("n_risky_combos"),
            F.sum(F.when(F.col("gsize") < 5, F.col("gsize")).otherwise(0))
            .cast("long")
            .alias("n_exposed_rows"),
            F.min("gsize").alias("min_group_size"),
            F.max("gsize").alias("max_group_size"),
        )
        .orderBy("mktsegment")
    )


# ---------------------------------------------------------------------------
# Wave 17: model-evaluation + governance operators
# ---------------------------------------------------------------------------


@register(
    "roc_auc_eval",
    tags=("mlprep", "eval"),
    defer=True,
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS grp,
               CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS score_bin,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    hist AS (
        SELECT grp, score_bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos
        FROM base GROUP BY grp, score_bin
    ),
    ghist AS (
        SELECT score_bin, CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS pos
        FROM hist GROUP BY score_bin
    ),
    per AS (
        SELECT grp, score_bin, n, pos,
               COALESCE(sum(n) OVER (PARTITION BY grp ORDER BY score_bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM hist
    ),
    gper AS (
        SELECT score_bin, n, pos,
               COALESCE(sum(n) OVER (ORDER BY score_bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM ghist
    ),
    stats AS (
        SELECT grp,
               CAST(sum(pos) AS BIGINT) AS npos,
               CAST(sum(n - pos) AS BIGINT) AS nneg,
               CAST(sum(pos * (2 * cum_before + n + 1)) AS BIGINT) AS r2
        FROM per GROUP BY grp
        UNION ALL
        SELECT 'ALL' AS grp,
               CAST(sum(pos) AS BIGINT) AS npos,
               CAST(sum(n - pos) AS BIGINT) AS nneg,
               CAST(sum(pos * (2 * cum_before + n + 1)) AS BIGINT) AS r2
        FROM gper
    )
    SELECT grp, npos, nneg,
           round(CAST(r2 - npos * (npos + 1) AS DOUBLE)
                 / CAST(2 * npos * nneg AS DOUBLE), 6) + 0.0 AS auc
    FROM stats ORDER BY grp
    """,
)
def roc_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney ROC AUC of a scorer (order value predicting fulfilled
    status), global and per priority group — the standard offline-eval
    metric a quality-classifier pipeline reports per data slice.

    Ties are handled exactly via average ranks on the *binned* score
    histogram: for a score value with ``n`` rows after ``cum_before``
    predecessors, every row's average rank is ``cum_before + (n+1)/2``, so
    ``2 * sum(rank of positives) = sum(pos * (2*cum_before + n + 1))`` stays
    a BIGINT and AUC = (R - npos(npos+1)) / (2*npos*nneg) divides once at
    output.

    Scale shape: rows -> (group, bin) histogram (map-side combine), windows
    run over the bounded histogram (never base rows — the
    ``range_partition_balance`` recipe), so the global AUC costs one
    aggregated pass no matter the row count. The ``+ 0.0`` canonicalizes a
    would-be IEEE ``-0.0``."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") / 1000.0).cast("long").alias("score_bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    # the (group, bin) histogram feeds the per-group stats AND the global
    # rollup — checkpoint so orders scans once
    hist = base.groupBy("grp", "score_bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    ).localCheckpoint()
    ghist = hist.groupBy("score_bin").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("pos"),
    )

    def _stats(h: DataFrame, part_cols: list[str]) -> DataFrame:
        w = (
            Window.partitionBy(*part_cols).orderBy("score_bin")
            if part_cols
            else Window.orderBy("score_bin")
        ).rowsBetween(Window.unboundedPreceding, -1)
        per = h.withColumn(
            "cum_before", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
        )
        grp = (
            per.groupBy(*part_cols)
            if part_cols
            else per.groupBy(F.lit("ALL").alias("grp"))
        )
        return grp.agg(
            F.sum("pos").cast("long").alias("npos"),
            F.sum(F.col("n") - F.col("pos")).cast("long").alias("nneg"),
            F.sum(
                F.col("pos")
                * (2 * F.col("cum_before") + F.col("n") + 1)
            )
            .cast("long")
            .alias("r2"),
        )

    stats = _stats(hist, ["grp"]).unionByName(_stats(ghist, []))
    return stats.select(
        "grp",
        "npos",
        "nneg",
        (
            F.round(
                (F.col("r2") - F.col("npos") * (F.col("npos") + 1)).cast(
                    "double"
                )
                / (2 * F.col("npos") * F.col("nneg")).cast("double"),
                6,
            )
            + 0.0
        ).alias("auc"),
    ).orderBy("grp")


@register(
    "calibration_reliability_bins",
    tags=("mlprep", "eval"),
    defer=True,
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               round(1.0 / (1.0 + exp(-((o_totalprice - 150000.0)
                                        / 100000.0))), 12) AS p
        FROM orders
    ),
    binned AS (
        SELECT least(9, CAST(floor(p * 10.0) AS BIGINT)) AS bin, y, p
        FROM scored
    ),
    per_bin AS (
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos,
               {oracle_dec_sum('p')} AS sum_p,
               {oracle_dec_sum('round((p - y) * (p - y), 12)')} AS sum_sq
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_total,
               round({oracle_dec_sum('''round(abs(sum_p / n
                     - CAST(n_pos AS DOUBLE) / n) * n, 12)''')}
                     / sum(n), 6) + 0.0 AS ece,
               round({oracle_dec_sum('sum_sq')} / sum(n), 6) + 0.0 AS brier
        FROM per_bin
    )
    SELECT bin, n, n_pos,
           round(sum_p / n, 6) + 0.0 AS mean_pred,
           round(CAST(n_pos AS DOUBLE) / n, 6) + 0.0 AS frac_pos,
           ece, brier
    FROM per_bin, tot ORDER BY bin
    """,
)
def calibration_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Brier score + expected calibration error for a
    fixed logistic scorer — the calibration readout a filtering-model
    pipeline publishes next to its AUC.

    Determinism: the sigmoid argument is plain IEEE arithmetic on literals
    (identical operands both engines) and ``exp`` has proven
    correctly-rounded-identical across JVM/DuckDB on round-12 inputs (the
    kaplan_meier / logistic_regression precedent); ``p`` is round-12 before
    binning so bin membership can't straddle an ulp. Per-bin sums use the
    round-12 + DECIMAL(38,6) order-free recipe.

    Scale shape: one scan -> 10-bin histogram (map-side combine); the ECE
    fold runs over the 10-row bin table. No joins, no windows over base
    rows; the tiny totals row is a broadcast cross join."""
    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.round(
            1.0
            / (
                1.0
                + F.exp(-((F.col("o_totalprice") - 150000.0) / 100000.0))
            ),
            12,
        ).alias("p"),
    )
    binned = scored.select(
        F.least(F.lit(9), F.floor(F.col("p") * 10.0)).cast("long").alias("bin"),
        "y",
        "p",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        dec_sum("p").alias("sum_p"),
        dec_sum(
            F.round((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 12)
        ).alias("sum_sq"),
    ).localCheckpoint()  # bounded bin table feeds the totals AND the readout
    tot = per_bin.agg(
        F.sum("n").cast("long").alias("n_total"),
        (
            F.round(
                dec_sum(
                    F.round(
                        F.abs(
                            F.col("sum_p") / F.col("n")
                            - F.col("n_pos").cast("double") / F.col("n")
                        )
                        * F.col("n"),
                        12,
                    )
                )
                / F.sum("n"),
                6,
            )
            + 0.0
        ).alias("ece"),
        (F.round(dec_sum("sum_sq") / F.sum("n"), 6) + 0.0).alias("brier"),
    )
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_pos",
            (F.round(F.col("sum_p") / F.col("n"), 6) + 0.0).alias("mean_pred"),
            (
                F.round(F.col("n_pos").cast("double") / F.col("n"), 6) + 0.0
            ).alias("frac_pos"),
            "ece",
            "brier",
        )
        .orderBy("bin")
    )


@register(
    "item_item_cosine_recs",
    tags=("mlprep", "recs"),
    defer=True,
    oracle="""
    WITH ratings AS (
        SELECT o_custkey AS cust, l_partkey AS part,
               CAST(count(*) AS BIGINT) AS r
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey < 1000
        GROUP BY 1, 2
    ),
    kept AS (
        SELECT cust, part, r FROM (
            SELECT cust, part, r,
                   count(*) OVER (PARTITION BY cust) AS basket
            FROM ratings
        ) WHERE basket <= 50
    ),
    pairs AS (
        SELECT a.part AS part_a, b.part AS part_b,
               CAST(count(*) AS BIGINT) AS n_common,
               CAST(sum(a.r * b.r) AS BIGINT) AS dotsum
        FROM kept a JOIN kept b
          ON a.cust = b.cust AND a.part < b.part
        GROUP BY 1, 2
    ),
    norms AS (
        SELECT part, CAST(sum(r * r) AS BIGINT) AS sq
        FROM kept GROUP BY part
    )
    SELECT part_a, part_b, n_common, dotsum,
           round(CAST(dotsum AS DOUBLE)
                 / sqrt(CAST(na.sq AS DOUBLE) * CAST(nb.sq AS DOUBLE)),
                 6) AS cos
    FROM pairs
    JOIN norms na ON na.part = part_a
    JOIN norms nb ON nb.part = part_b
    WHERE n_common >= 2
    ORDER BY cos DESC, part_a, part_b LIMIT 20
    """,
)
def item_item_cosine_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering cosine similarity (top-20 part
    pairs by co-purchase cosine, >= 2 shared customers) — the classic
    "customers who bought X also bought Y" candidate generator.

    Scale shape: the pair blow-up is bounded IN CODE by the per-customer
    basket cap (<= 50 distinct parts; a window count over the per-customer
    slice, then filter) — the standard hot-user guard in production CF: a
    crawler account with 10^5 items would otherwise contribute 10^10 pairs.
    With the cap, co-occurrence is an equi-join on the customer key
    (shuffle-partitioned, never all-pairs), pairs aggregate map-side, and
    the norms joins are left to AQE (norms scales with the part catalog —
    broadcast while small, shuffle at catalog scale). sqrt on
    integer operands is IEEE-exactly-rounded, hence cross-engine."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 1000)
    l = load_table(spark, sf_dir, "lineitem")
    ratings = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .agg(F.count("*").cast("long").alias("r"))
    )
    # kept feeds both co-occurrence sides and the norms — checkpoint the
    # capped rating table so the orders⋈lineitem join runs once (executed-
    # plan audit: 4 scans of each table without)
    kept = (
        ratings.withColumn(
            "basket", F.count("*").over(Window.partitionBy("cust"))
        )
        .where(F.col("basket") <= 50)
        .drop("basket")
        .localCheckpoint()
    )
    a = kept.select(
        F.col("cust"), F.col("part").alias("part_a"), F.col("r").alias("ra")
    )
    b = kept.select(
        F.col("cust"), F.col("part").alias("part_b"), F.col("r").alias("rb")
    )
    pairs = (
        a.join(b, ["cust"])
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(F.col("ra") * F.col("rb")).cast("long").alias("dotsum"),
        )
        .where(F.col("n_common") >= 2)
    )
    norms = kept.groupBy("part").agg(
        F.sum(F.col("r") * F.col("r")).cast("long").alias("sq")
    )
    na = norms.select(F.col("part").alias("part_a"), F.col("sq").alias("sqa"))
    nb = norms.select(F.col("part").alias("part_b"), F.col("sq").alias("sqb"))
    # norms is one row per DISTINCT part in the kept ratings — it scales
    # with the part catalog, so no explicit broadcast hint (AQE
    # broadcasts it while small, shuffles at catalog scale; the forced
    # hint was caught at 15k rows and growing by broadcast_audit.py)
    return (
        pairs.join(na, ["part_a"])
        .join(nb, ["part_b"])
        .select(
            "part_a",
            "part_b",
            "n_common",
            "dotsum",
            F.round(
                F.col("dotsum").cast("double")
                / F.sqrt(
                    F.col("sqa").cast("double") * F.col("sqb").cast("double")
                ),
                6,
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "part_a", "part_b")
        .limit(20)
    )


@register(
    "forget_user_cascade_audit",
    tags=("mlprep", "privacy"),
    defer=True,
    oracle="""
    WITH forget AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    cust AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS gone
        FROM customer
    ),
    ord AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS gone
        FROM orders
    ),
    li AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS gone
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    ev AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS gone
        FROM events
    )
    SELECT * FROM (
        SELECT 'customer' AS table_name, gone AS n_forgotten,
               total - gone AS n_retained FROM cust
        UNION ALL
        SELECT 'orders', gone, total - gone FROM ord
        UNION ALL
        SELECT 'lineitem', gone, total - gone FROM li
        UNION ALL
        SELECT 'events', gone, total - gone FROM ev
    ) ORDER BY table_name
    """,
)
def forget_user_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: for a deterministic forget-set
    (custkey % 97 == 0; events keyed independently by user_id), count the
    rows each table would delete vs retain — customer directly, orders via
    the foreign key, lineitem transitively through its order, events by
    user id. The pre-deletion impact report a GDPR/CCPA erasure pipeline
    emits before rewriting partitions.

    Scale shape: the cascade membership is a *predicate* on the local key
    (customer, orders, events — no join at all), and lineitem's transitive
    membership rides the existing orderkey equi-join with the flag computed
    on the orders side (at 100 TB: broadcast the forgotten-order bloom
    instead of joining full orders; the repo's bloom sketch is the drop-in).
    Four map-side-combined aggregates, one row each, unioned."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    e = load_table(spark, sf_dir, "events")

    def _audit(df: DataFrame, name: str, flag) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("total"),
            F.sum(F.when(flag, 1).otherwise(0)).cast("long").alias("gone"),
        ).select(
            F.lit(name).alias("table_name"),
            F.col("gone").alias("n_forgotten"),
            (F.col("total") - F.col("gone")).alias("n_retained"),
        )

    li = l.join(o, l.l_orderkey == o.o_orderkey)
    return (
        _audit(c, "customer", F.col("c_custkey") % 97 == 0)
        .unionByName(_audit(o, "orders", F.col("o_custkey") % 97 == 0))
        .unionByName(_audit(li, "lineitem", F.col("o_custkey") % 97 == 0))
        .unionByName(_audit(e, "events", F.col("user_id") % 97 == 0))
        .orderBy("table_name")
    )


@register(
    "offline_policy_ips_eval",
    tags=("mlprep", "experiment"),
    defer=True,
    oracle=f"""
    WITH logged AS (
        SELECT event_id, user_id,
               CASE WHEN user_id % 2 = 0 THEN 700 ELSE 300 END AS p1m,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100.0, 0) AS BIGINT)
                    ELSE 0 END AS r
        FROM events
    ),
    acts AS (
        SELECT event_id, user_id, r,
               CASE WHEN {oracle_h60("'pol:' || CAST(event_id AS VARCHAR)")}
                         % 1000 < p1m THEN 1 ELSE 0 END AS a,
               CASE WHEN {oracle_h60("'pol:' || CAST(event_id AS VARCHAR)")}
                         % 1000 < p1m THEN p1m ELSE 1000 - p1m END AS pm,
               CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS pi_a
        FROM logged
    ),
    terms AS (
        SELECT r, a, pi_a,
               CASE WHEN a = pi_a THEN 1 ELSE 0 END AS matched,
               CASE WHEN a = pi_a
                    THEN round(CAST(r AS DOUBLE) / (pm / 1000.0), 12)
                    ELSE 0.0 END AS wr,
               CASE WHEN a = pi_a
                    THEN round(1.0 / (pm / 1000.0), 12)
                    ELSE 0.0 END AS w
        FROM acts
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(matched) AS BIGINT) AS n_matched,
           round({oracle_dec_sum('wr')} / count(*), 6) + 0.0
               AS ips_value_cents,
           round({oracle_dec_sum('wr')} / {oracle_dec_sum('w')}, 6) + 0.0
               AS snips_value_cents
    FROM terms
    """,
)
def offline_policy_ips_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation by inverse-propensity scoring: estimate the
    value of a DETERMINISTIC target policy (serve arm 1 to every third
    user) from logs generated by a stochastic logging policy (arm 1 with
    probability 0.7 for even users, 0.3 for odd — arms drawn via h60, so
    the "randomization" replays identically in both engines). IPS =
    mean(1{{π(u)=a}} · r / p(a|u)); SNIPS divides by the summed weights
    instead of n (lower variance, the production default). Rewards are
    purchase values in integer cents.

    This is how recommendation / curation policies are evaluated before
    an online test at 100 TB: one scan over logs, no simulator.

    Scale shape: pure map-side arithmetic (h60, CASE, division by a
    2-valued propensity) then one global aggregate of round-12 decimal
    sums. No joins, no windows."""
    e = load_table(spark, sf_dir, "events")
    logged = e.select(
        "event_id",
        "user_id",
        F.when(F.col("user_id") % 2 == 0, 700).otherwise(300).alias("p1m"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100.0, 0).cast("long"),
        )
        .otherwise(0)
        .alias("r"),
    )
    hv = h60(F.concat(F.lit("pol:"), F.col("event_id").cast("string"))) % 1000
    acts = logged.select(
        "r",
        F.when(hv < F.col("p1m"), 1).otherwise(0).alias("a"),
        F.when(hv < F.col("p1m"), F.col("p1m"))
        .otherwise(1000 - F.col("p1m"))
        .alias("pm"),
        F.when(F.col("user_id") % 3 == 0, 1).otherwise(0).alias("pi_a"),
    )
    terms = acts.select(
        F.when(F.col("a") == F.col("pi_a"), 1).otherwise(0).alias("matched"),
        F.when(
            F.col("a") == F.col("pi_a"),
            F.round(
                F.col("r").cast("double") / (F.col("pm") / 1000.0), 12
            ),
        )
        .otherwise(0.0)
        .alias("wr"),
        F.when(
            F.col("a") == F.col("pi_a"),
            F.round(1.0 / (F.col("pm") / 1000.0), 12),
        )
        .otherwise(0.0)
        .alias("w"),
    )
    return terms.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("matched").cast("long").alias("n_matched"),
        (F.round(dec_sum("wr") / F.count("*"), 6) + 0.0).alias(
            "ips_value_cents"
        ),
        (F.round(dec_sum("wr") / dec_sum("w"), 6) + 0.0).alias(
            "snips_value_cents"
        ),
    )


@register(
    "conformal_interval_coverage",
    tags=("mlprep", "eval"),
    defer=True,
    oracle=f"""
    WITH base AS (
        SELECT o.o_orderkey, o.o_totalprice AS y,
               CAST(count(*) AS BIGINT) AS x,
               {oracle_h60("'cf:' || CAST(o.o_orderkey AS VARCHAR)")} % 10
                   AS split
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice
    ),
    m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               {oracle_dec_sum('x')} AS sx,
               {oracle_dec_sum('y')} AS sy,
               {oracle_dec_sum('x * x')} AS sxx,
               {oracle_dec_sum('x * y')} AS sxy
        FROM base WHERE split <= 5
    ),
    beta AS (
        SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b1,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS b0,
               CAST(n AS BIGINT) AS n_train
        FROM m
    ),
    cal AS MATERIALIZED (
        SELECT CAST(floor(abs(y - (b0 + b1 * x))) AS BIGINT) AS score_bin
        FROM base CROSS JOIN beta WHERE split IN (6, 7)
    ),
    calhist AS (
        SELECT score_bin, CAST(count(*) AS BIGINT) AS c
        FROM cal GROUP BY score_bin
    ),
    caln AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
    qhat AS (
        SELECT min(score_bin) + 1 AS q_upper FROM (
            SELECT score_bin,
                   sum(c) OVER (ORDER BY score_bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM calhist
        ) CROSS JOIN caln
        WHERE cum >= ceil(0.9 * (n_cal + 1))
    ),
    test AS (
        SELECT CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN abs(y - (b0 + b1 * x)) <= q_upper
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        FROM base CROSS JOIN beta CROSS JOIN qhat WHERE split >= 8
    )
    SELECT beta.n_train, caln.n_cal, test.n_test,
           round(beta.b0, 6) + 0.0 AS beta0,
           round(beta.b1, 6) + 0.0 AS beta_nitems,
           CAST(qhat.q_upper AS BIGINT) AS q_upper,
           round(CAST(test.n_covered AS DOUBLE) / test.n_test, 6) + 0.0
               AS coverage
    FROM beta CROSS JOIN caln CROSS JOIN qhat CROSS JOIN test
    """,
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction: fit a 1-feature linear model (order
    value ~ item count) on an h60 train split, take the 90th-percentile
    calibration residual as the interval half-width, and report empirical
    coverage on a held-out test split — the distribution-free uncertainty
    wrapper production models ship with. Split-conformal guarantees
    coverage >= 90% in expectation; binning residual scores to integer
    dollars and taking the bin's UPPER edge keeps the guarantee (only
    widens the interval) while making the quantile an exact integer
    cumulative-count over a bounded histogram — the
    ``range_partition_balance`` percentile recipe, so no global sort of
    raw residuals at 100 TB.

    Scale shape: one orders⋈lineitem count aggregate; OLS from 4 decimal
    moments; residual pass is map-side vs broadcast betas; the quantile
    window runs over the aggregated score histogram."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    # aggregate BEFORE the join (r12, guide §2.3): the per-order item
    # count needs only lineitem keys, so fold lineitem to one row per
    # order first (map-side combine cuts the exchange ~4x: |lineitem|
    # rows → |orders| rows) and join the two order-sized tables — the
    # old join-then-groupBy shuffled every lineitem row into the join
    # before collapsing it. Inner-join equivalence: o_orderkey is unique
    # in orders, so join→groupBy(o_orderkey, o_totalprice) ≡
    # count-per-l_orderkey→join, and orders without lineitems are
    # excluded by both forms.
    cnt = l.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count("*").cast("long").alias("x")
    )
    base = (
        o.select("o_orderkey", "o_totalprice")
        .join(cnt, "o_orderkey")
        .select(
            F.col("o_totalprice").alias("y"),
            "x",
            (
                h60(
                    F.concat(
                        F.lit("cf:"), F.col("o_orderkey").cast("string")
                    )
                )
                % 10
            ).alias("split"),
        )
    )
    # one materialization of the orders⋈lineitem aggregate: beta/cal/test
    # each reference base (and beta's lineage re-embeds it in every
    # broadcast), so uncached the join re-executes up to 7x. The frame is
    # |orders| rows — CORPUS-VOLUME, so persist (lineage kept, spillable),
    # not a checkpoint pinning O(|orders|) rows per executor
    base = persist_corpus(base)
    m = base.where(F.col("split") <= 5).agg(
        F.count("*").cast("double").alias("n"),
        dec_sum("x").alias("sx"),
        dec_sum("y").alias("sy"),
        dec_sum(F.col("x") * F.col("x")).alias("sxx"),
        dec_sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    b1 = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    beta = m.select(
        b1.alias("b1"),
        ((F.col("sy") - b1 * F.col("sx")) / F.col("n")).alias("b0"),
        F.col("n").cast("long").alias("n_train"),
    )
    resid = F.abs(F.col("y") - (F.col("b0") + F.col("b1") * F.col("x")))
    cal = (
        base.where(F.col("split").isin(6, 7))
        .crossJoin(F.broadcast(beta.select("b0", "b1")))
        .select(F.floor(resid).cast("long").alias("score_bin"))
    )
    calhist = cal.groupBy("score_bin").agg(
        F.count("*").cast("long").alias("c")
    )
    # n_cal = Σ histogram counts, computed IN the same window pass (r12,
    # guide §2.3/§2.4): the old separate `caln` aggregate was a second
    # full pass over the calibration slice of the cached base, and its
    # crossJoin a second consumer of calhist — both ride the one ordered
    # window over the bin-bounded histogram now
    w = Window.orderBy("score_bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("score_bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # the quantile condition filters inside min(), not in a where: with
    # n_cal <= 8 no bin reaches ceil(0.9 * (n_cal + 1)), and only q_upper
    # may go NULL then — n_cal stays the unfiltered calibration count
    # (0 for an empty calibration slice, as the oracle's count(*))
    qhat = calhist.select(
        "score_bin",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n_cal"),
    ).agg(
        (
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(0.9 * (F.col("n_cal") + 1)),
                    F.col("score_bin"),
                )
            )
            + 1
        ).alias("q_upper"),
        F.coalesce(F.max("n_cal"), F.lit(0).cast("long")).alias("n_cal"),
    )
    test = (
        base.where(F.col("split") >= 8)
        .crossJoin(F.broadcast(beta.select("b0", "b1")))
        # the FULL qhat frame (not a projection): both its consumers then
        # share one ReusedExchange-able broadcast subtree
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(F.when(resid <= F.col("q_upper"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        beta.crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(test))
        .select(
            "n_train",
            "n_cal",
            "n_test",
            (F.round(F.col("b0"), 6) + 0.0).alias("beta0"),
            (F.round(F.col("b1"), 6) + 0.0).alias("beta_nitems"),
            F.col("q_upper").cast("long").alias("q_upper"),
            (
                F.round(
                    F.col("n_covered").cast("double") / F.col("n_test"), 6
                )
                + 0.0
            ).alias("coverage"),
        )
    )


@register(
    "dp_laplace_histogram",
    tags=("mlprep", "privacy"),
    defer=True,
    oracle=f"""
    WITH hist AS (
        SELECT o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS true_n
        FROM orders GROUP BY 1
    ),
    noise AS (
        SELECT priority, true_n,
               ({oracle_h60("'dp:' || priority")} % 999999 + 1)
                   / 1000000.0 AS u
        FROM hist
    ),
    drawn AS (
        SELECT priority, true_n,
               round(-2.0 * (CASE WHEN u - 0.5 >= 0 THEN 1.0 ELSE -1.0 END)
                     * ln(1.0 - 2.0 * abs(u - 0.5)), 12) AS lap
        FROM noise
    )
    SELECT priority, true_n,
           CAST(greatest(0, round(true_n + lap, 0)) AS BIGINT)
               AS released_n,
           round(abs(lap), 6) + 0.0 AS abs_noise,
           round(abs(lap) / true_n, 6) + 0.0 AS rel_error,
           0.5 AS epsilon
    FROM drawn ORDER BY priority
    """,
)
def dp_laplace_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release audit: the order-priority
    counts with Laplace(Δ/ε = 1/0.5 = 2.0) noise drawn by inverse-CDF from
    an h60-derived uniform — a DETERMINISTIC replay of the mechanism, which
    is what a privacy-engineering team audits before turning on true
    randomness (the released value, clamp-to-zero post-processing, and the
    utility loss per cell are all mechanism-faithful). True counts appear
    alongside ONLY because this is the utility-audit view, not the public
    release.

    Completes the governance tier: [[k_anonymity_audit]] (risk),
    [[forget_user_cascade_audit]] (erasure), this (noised release).

    Determinism: u ∈ [1e-6, 0.999999] (never 0/1, so ln stays finite);
    the single ln per cell rounds-12 (libm recipe). Scale shape: one
    map-side-combined histogram; noise is per-cell scalar math."""
    o = load_table(spark, sf_dir, "orders")
    hist = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("long").alias("true_n")
    )
    u = (
        h60(F.concat(F.lit("dp:"), F.col("priority"))) % 999999 + 1
    ) / 1000000.0
    t = u - 0.5
    lap = F.round(
        -2.0
        * F.when(t >= 0, 1.0).otherwise(-1.0)
        * F.log(1.0 - 2.0 * F.abs(t)),
        12,
    )
    return hist.select(
        "priority",
        "true_n",
        F.greatest(F.lit(0), F.round(F.col("true_n") + lap, 0))
        .cast("long")
        .alias("released_n"),
        (F.round(F.abs(lap), 6) + 0.0).alias("abs_noise"),
        (F.round(F.abs(lap) / F.col("true_n"), 6) + 0.0).alias("rel_error"),
        F.lit(0.5).alias("epsilon"),
    ).orderBy("priority")


@register(
    "er_blocking_eval",
    tags=("mlprep", "er", "eval"),
    defer=True,
    oracle="""
    WITH c AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               c_custkey % 97 AS branch,
               CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
               CAST(floor(CAST(round(c_acctbal * 100, 0) AS BIGINT)
                          / 10000.0) AS BIGINT) AS block
        FROM customer WHERE c_custkey < 400
    ),
    allp AS MATERIALIZED (
        SELECT a.c_custkey AS ka, b.c_custkey AS kb,
               (CASE WHEN a.c_mktsegment = b.c_mktsegment
                     THEN 12 ELSE -3 END
                + CASE WHEN a.branch = b.branch THEN 8 ELSE -2 END
                + CASE WHEN abs(a.cents - b.cents) <= 100 THEN 10
                       WHEN abs(a.cents - b.cents) <= 500 THEN 4
                       ELSE 0 END) AS score,
               CASE WHEN a.c_nationkey = b.c_nationkey
                     AND abs(a.block - b.block) <= 1
                    THEN 1 ELSE 0 END AS blocked
        FROM c a JOIN c b ON a.c_custkey < b.c_custkey
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_entities,
           CAST(count(*) AS BIGINT) AS n_all_pairs,
           CAST(sum(blocked) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN score >= 18 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_matches,
           CAST(sum(CASE WHEN score >= 18 AND blocked = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
           round(1.0 - CAST(sum(blocked) AS DOUBLE) / count(*), 6) + 0.0
               AS reduction_ratio,
           round(CAST(sum(CASE WHEN score >= 18 AND blocked = 1
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / greatest(1, sum(CASE WHEN score >= 18
                                        THEN 1 ELSE 0 END)), 6) + 0.0
               AS pairs_completeness,
           round(CAST(sum(CASE WHEN score >= 18 AND blocked = 1
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / greatest(1, sum(blocked)), 6) + 0.0
               AS blocking_precision
    FROM allp
    """,
)
def er_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality evaluation for the entity-resolution tier: on a
    bounded entity slice, compute ALL pairs (the ground truth a blocking
    scheme is supposed to approximate), score them with the same integer
    Fellegi-Sunter weights as ``er_match_scores``, and report the three
    standard blocking metrics — reduction ratio (pairs eliminated),
    pairs completeness (recall of true matches: the (nation, balance
    block ±1) scheme CANNOT catch cross-nation duplicates, and this query
    measures exactly that loss), and blocking precision.

    Scale shape: the all-pairs truth join is restricted to the bounded
    audit slice (custkey < 400 → ~80k comparisons) — at 100 TB you run
    this on a deterministic h60 sample, never the full corpus; the
    production candidate path stays the equi-join blocking of
    ``er_blocking_candidates``. One aggregated pass over the pair list."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") < 400
    ).select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_custkey") % 97).alias("branch"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    ).withColumn(
        # $100 audit blocks (wider than the production $10 blocking so the
        # tiny slice still yields candidates); floor() spelled out so the
        # bucket edge is negative-balance-safe in BOTH engines (DuckDB //
        # truncates toward zero, floor(x/10000.0) does not)
        "block",
        F.floor(F.col("cents") / 10000.0).cast("long"),
    )
    from tscd_datalake_adapter_spark.functions import checkpoint_bounded

    # both self-join sides AND the entity count consume the slice — one
    # materialization instead of three scans (audited r7: 3 -> 1)
    c = checkpoint_bounded(c, bound="audit slice c_custkey < 400 rows")
    a = c.select(*[F.col(x).alias(f"{x}_a") for x in c.columns])
    pairs = a.join(
        F.broadcast(c), F.col("c_custkey_a") < F.col("c_custkey")
    )
    diff = F.abs(F.col("cents_a") - F.col("cents"))
    score = (
        F.when(F.col("c_mktsegment_a") == F.col("c_mktsegment"), 12)
        .otherwise(-3)
        + F.when(F.col("branch_a") == F.col("branch"), 8).otherwise(-2)
        + F.when(diff <= 100, 10).when(diff <= 500, 4).otherwise(0)
    )
    blocked = F.when(
        (F.col("c_nationkey_a") == F.col("c_nationkey"))
        & (F.abs(F.col("block_a") - F.col("block")) <= 1),
        1,
    ).otherwise(0)
    n_ent = c.agg(F.count("*").cast("long").alias("n_entities"))
    agg = pairs.select(score.alias("score"), blocked.alias("blocked")).agg(
        F.count("*").cast("long").alias("n_all_pairs"),
        F.sum("blocked").cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("score") >= 18, 1).otherwise(0))
        .cast("long")
        .alias("n_true_matches"),
        F.sum(
            F.when((F.col("score") >= 18) & (F.col("blocked") == 1), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_caught"),
    )
    return (
        n_ent.crossJoin(F.broadcast(agg))
        .select(
            "n_entities",
            "n_all_pairs",
            "n_candidates",
            "n_true_matches",
            "n_caught",
            (
                F.round(
                    1.0
                    - F.col("n_candidates").cast("double")
                    / F.col("n_all_pairs"),
                    6,
                )
                + 0.0
            ).alias("reduction_ratio"),
            (
                F.round(
                    F.col("n_caught").cast("double")
                    / F.greatest(F.lit(1), F.col("n_true_matches")),
                    6,
                )
                + 0.0
            ).alias("pairs_completeness"),
            (
                F.round(
                    F.col("n_caught").cast("double")
                    / F.greatest(F.lit(1), F.col("n_candidates")),
                    6,
                )
                + 0.0
            ).alias("blocking_precision"),
        )
    )


@register(
    "average_precision_eval",
    tags=("mlprep", "eval"),
    defer=True,
    oracle="""
    WITH base AS (
        SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS score_bin,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    hist AS (
        SELECT score_bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos
        FROM base GROUP BY score_bin
    ),
    cum AS MATERIALIZED (
        SELECT score_bin, n, pos,
               sum(n) OVER w AS cum_n,
               sum(pos) OVER w AS cum_pos
        FROM hist
        WINDOW w AS (ORDER BY score_bin DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (SELECT CAST(sum(pos) AS BIGINT) AS npos,
                   CAST(sum(n) AS BIGINT) AS ntot FROM hist)
    SELECT tot.npos, tot.ntot,
           round(CAST(SUM(CAST(round(
                   pos * (CAST(cum_pos AS DOUBLE) / cum_n), 12)
                 AS DECIMAL(38,12))) AS DOUBLE) / tot.npos, 6) + 0.0
               AS average_precision,
           round(CAST(tot.npos AS DOUBLE) / tot.ntot, 6) + 0.0
               AS baseline_prevalence
    FROM cum CROSS JOIN tot
    GROUP BY tot.npos, tot.ntot
    """,
)
def average_precision_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve, the
    step-interpolated form rankers report): descending-score sweep over
    the binned score histogram, where each score bin contributes
    pos_bin · precision@bin and AP = Σ/npos — the right metric when
    positives are rare and ROC AUC flatters (the ``roc_auc_eval``
    companion; baseline = prevalence).

    Ties (whole bins) contribute their bin-end precision, the standard
    tie-aware AP. Scale shape: rows → histogram, one window over the
    bounded bins, round-12 decimal-summed terms."""
    o = load_table(spark, sf_dir, "orders")
    hist = o.select(
        F.floor(F.col("o_totalprice") / 1000.0).cast("long").alias(
            "score_bin"
        ),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    ).groupBy("score_bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    ).localCheckpoint()  # feeds the cumulative walk AND the totals
    w = Window.orderBy(F.col("score_bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "pos",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("pos").over(w).alias("cum_pos"),
    )
    tot = hist.agg(
        F.sum("pos").cast("long").alias("npos"),
        F.sum("n").cast("long").alias("ntot"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("npos", "ntot")
        .agg(
            (
                F.round(
                    dec_sum(
                        F.round(
                            F.col("pos")
                            * (
                                F.col("cum_pos").cast("double")
                                / F.col("cum_n")
                            ),
                            12,
                        )
                    )
                    / F.col("npos"),
                    6,
                )
                + 0.0
            ).alias("average_precision"),
            (
                F.round(F.col("npos").cast("double") / F.col("ntot"), 6)
                + 0.0
            ).alias("baseline_prevalence"),
        )
        .select("npos", "ntot", "average_precision", "baseline_prevalence")
    )


@register(
    "lift_gain_deciles",
    tags=("mlprep", "eval"),
    defer=True,
    oracle="""
    WITH base AS (
        SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS score_bin,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    hist AS (
        SELECT score_bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos
        FROM base GROUP BY score_bin
    ),
    cum AS MATERIALIZED (
        SELECT score_bin, n, pos,
               sum(n) OVER w AS cum_n, sum(pos) OVER w AS cum_pos
        FROM hist
        WINDOW w AS (ORDER BY score_bin DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS ntot,
                   CAST(sum(pos) AS BIGINT) AS npos FROM hist),
    deciled AS (
        SELECT CAST(least(9, (cum_n - 1) * 10 // ntot) AS BIGINT)
                   AS decile,
               max(cum_n) AS cum_n, max(cum_pos) AS cum_pos
        FROM cum CROSS JOIN tot
        GROUP BY 1
    )
    SELECT decile,
           CAST(cum_n AS BIGINT) AS cum_targeted,
           CAST(cum_pos AS BIGINT) AS cum_captured,
           round(CAST(cum_pos AS DOUBLE) / tot.npos, 6) + 0.0 AS gain,
           round((CAST(cum_pos AS DOUBLE) / cum_n)
                 / (CAST(tot.npos AS DOUBLE) / tot.ntot), 6) + 0.0
               AS lift
    FROM deciled CROSS JOIN tot ORDER BY decile
    """,
)
def lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table by score decile — "target the top
    k% by model score; what fraction of positives do you capture, and at
    what multiple of random?" — the campaign-targeting readout. Deciles
    are cut on the CUMULATIVE count of the descending-score histogram
    (bin granularity; each decile row reports its last bin's cumulative
    stats), so no per-row ntile window exists anywhere.

    Scale shape: rows → histogram → one bounded window → 10-row output.
    """
    o = load_table(spark, sf_dir, "orders")
    hist = o.select(
        F.floor(F.col("o_totalprice") / 1000.0).cast("long").alias(
            "score_bin"
        ),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    ).groupBy("score_bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    ).localCheckpoint()  # feeds the cumulative walk AND the totals
    w = Window.orderBy(F.col("score_bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        F.sum("n").over(w).alias("cum_n"),
        F.sum("pos").over(w).alias("cum_pos"),
    )
    tot = hist.agg(
        F.sum("n").cast("long").alias("ntot"),
        F.sum("pos").cast("long").alias("npos"),
    )
    deciled = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy(
            F.least(
                F.lit(9), F.floor((F.col("cum_n") - 1) * 10 / F.col("ntot"))
            )
            .cast("long")
            .alias("decile")
        )
        .agg(
            F.max("cum_n").cast("long").alias("cum_targeted"),
            F.max("cum_pos").cast("long").alias("cum_captured"),
        )
    )
    return (
        deciled.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "cum_targeted",
            "cum_captured",
            (
                F.round(
                    F.col("cum_captured").cast("double") / F.col("npos"), 6
                )
                + 0.0
            ).alias("gain"),
            (
                F.round(
                    (
                        F.col("cum_captured").cast("double")
                        / F.col("cum_targeted")
                    )
                    / (F.col("npos").cast("double") / F.col("ntot")),
                    6,
                )
                + 0.0
            ).alias("lift"),
        )
        .orderBy("decile")
    )


_FD_CANDIDATES = (
    ("c_nationkey", "c_mktsegment"),
    ("c_mktsegment", "c_nationkey"),
    ("c_custkey", "c_mktsegment"),
    ("c_nationkey", "c_custkey"),
)


def _fd_oracle() -> str:
    arms = []
    for lhs, rhs in _FD_CANDIDATES:
        arms.append(f"""
        SELECT '{lhs} -> {rhs}' AS dependency,
               CAST(count(DISTINCT {lhs}) AS BIGINT) AS n_keys,
               CAST(sum(grp_n) AS BIGINT) AS n_rows,
               CAST(sum(grp_n) - sum(grp_max) AS BIGINT) AS n_violations,
               round(1.0 - CAST(sum(grp_max) AS DOUBLE) / sum(grp_n), 6)
                   + 0.0 AS violation_rate
        FROM (
            SELECT {lhs}, CAST(sum(val_n) AS BIGINT) AS grp_n,
                   CAST(max(val_n) AS BIGINT) AS grp_max
            FROM (
                SELECT {lhs}, {rhs}, count(*) AS val_n
                FROM customer GROUP BY {lhs}, {rhs}
            ) GROUP BY {lhs}
        )""")
    return ("SELECT * FROM (" + "\n    UNION ALL\n".join(arms)
            + ") ORDER BY dependency")


@register(
    "functional_dependency_audit",
    tags=("mlprep", "dq"),
    defer=True,
    oracle=_fd_oracle(),
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency discovery (the TANE/metanome
    profiling primitive, g₃-style error): for each candidate A → B, the
    violation rate is the fraction of rows that would need deleting for
    the dependency to hold exactly — 1 − Σ_A max_B count / n. Exact FDs
    (rate 0) become enforced constraints; near-FDs flag denormalization
    or dirty data. Candidates here span key→attr (holds trivially),
    attr→attr (should fail), and attr→key (fails hard) so the metric's
    whole range is exercised.

    Scale shape: ONE scan of customer computes every candidate's (A, B)
    count table via GROUPING SETS over the three distinct column sets
    (Expand multiplies rows 3x map-side, partial aggregation collapses
    them before the shuffle); every candidate's A-level max/sum then reads
    its gid slice of that ONE grouped table through an explode that tags
    rows with their candidate label — a single linear plan, no union of
    re-analyzed branches, no cache needed — 4 scans → 1 (audited r7).
    All integers until the final rate."""
    c = load_table(spark, sf_dir, "customer")
    all_cols = ("c_nationkey", "c_mktsegment", "c_custkey")
    sets = []  # distinct column sets, insertion-ordered
    for lhs, rhs in _FD_CANDIDATES:
        key = frozenset((lhs, rhs))
        if key not in [frozenset(s) for s in sets]:
            sets.append(tuple(col for col in all_cols if col in key))

    def gid_of(colset) -> int:  # bit i SET when all_cols[i] aggregated away
        return sum(
            1 << (len(all_cols) - 1 - i)
            for i, col in enumerate(all_cols)
            if col not in colset
        )

    pairs = c.groupingSets(
        [[F.col(col) for col in s] for s in sets], *all_cols
    ).agg(
        F.count("*").alias("val_n"),
        F.grouping_id().cast("long").alias("gid"),
    )
    # tag each grouped row with the candidate(s) its gid serves; lhs
    # values group as strings (distinct ⇔ distinct for int/string cols)
    cand_structs = [
        F.when(
            F.col("gid") == gid_of(frozenset((lhs, rhs))),
            F.struct(
                F.lit(f"{lhs} -> {rhs}").alias("dependency"),
                F.col(lhs).cast("string").alias("lhs_val"),
            ),
        )
        for lhs, rhs in _FD_CANDIDATES
    ]
    tagged = pairs.select(
        "val_n",
        F.explode(
            F.filter(
                F.array(*cand_structs), lambda s: s.isNotNull()
            )
        ).alias("cand"),
    ).select("val_n", "cand.dependency", "cand.lhs_val")
    grp = tagged.groupBy("dependency", "lhs_val").agg(
        F.sum("val_n").cast("long").alias("grp_n"),
        F.max("val_n").cast("long").alias("grp_max"),
    )
    return (
        grp.groupBy("dependency")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("grp_n").cast("long").alias("n_rows"),
            (F.sum("grp_n") - F.sum("grp_max")).cast("long").alias(
                "n_violations"
            ),
            (
                F.round(
                    1.0
                    - F.sum("grp_max").cast("double") / F.sum("grp_n"),
                    6,
                )
                + 0.0
            ).alias("violation_rate"),
        )
        .orderBy("dependency")
    )


@register(
    "brier_murphy_decomposition",
    tags=("mlprep", "eval"),
    defer=True,
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               round(1.0 / (1.0 + exp(-((o_totalprice - 150000.0)
                                        / 100000.0))), 12) AS p
        FROM orders
    ),
    binned AS (
        SELECT least(9, CAST(floor(p * 10.0) AS BIGINT)) AS bin, y, p
        FROM scored
    ),
    per_bin AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos,
               {oracle_dec_sum('p')} AS sum_p,
               {oracle_dec_sum('round((p - y) * (p - y), 12)')} AS sum_sq
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(n_pos) AS BIGINT) AS pt,
               {oracle_dec_sum('sum_sq')} AS raw_sq
        FROM per_bin
    ),
    terms AS (
        SELECT
            {oracle_dec_sum("round(n * ((sum_p / n - CAST(n_pos AS DOUBLE) / n) * (sum_p / n - CAST(n_pos AS DOUBLE) / n)), 12)")}
                AS rel_num,
            {oracle_dec_sum("round(n * ((CAST(n_pos AS DOUBLE) / n - CAST(pt AS DOUBLE) / nt) * (CAST(n_pos AS DOUBLE) / n - CAST(pt AS DOUBLE) / nt)), 12)")}
                AS res_num,
            {oracle_dec_sum("round(n * ((sum_p / n) * (sum_p / n)) - 2 * (sum_p / n) * n_pos + n_pos, 12)")}
                AS bb_num,
            CAST(min(nt) AS BIGINT) AS nt, CAST(min(pt) AS BIGINT) AS pt,
            CAST(min(raw_sq) AS DOUBLE) AS raw_sq
        FROM per_bin CROSS JOIN tot
    ),
    o AS (
        SELECT nt AS n_total,
               round(CAST(pt AS DOUBLE) / nt, 6) + 0.0 AS base_rate,
               round(raw_sq / nt, 6) + 0.0 AS brier_raw,
               round(bb_num / nt, 9) AS bb,
               round(rel_num / nt, 9) AS rel,
               round(res_num / nt, 9) AS res,
               round((CAST(pt AS DOUBLE) / nt)
                     * (1.0 - CAST(pt AS DOUBLE) / nt), 9) AS unc
        FROM terms
    )
    SELECT n_total, base_rate, brier_raw,
           round(bb, 6) + 0.0 AS brier_binned,
           round(rel, 6) + 0.0 AS reliability,
           round(res, 6) + 0.0 AS resolution,
           round(unc, 6) + 0.0 AS uncertainty,
           round(bb - (rel - res + unc), 6) + 0.0 AS murphy_residual
    FROM o
    """,
)
def brier_murphy_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score for the fixed
    logistic scorer ``calibration_reliability_bins`` evaluates: over the
    10-bin forecast discretization, brier_binned = RELIABILITY (calibration
    gap) - RESOLUTION (how much the forecast separates outcomes) +
    UNCERTAINTY (base-rate variance) — the standard answer to "is my
    filtering model's Brier bad because it's miscalibrated or because it
    can't discriminate". The identity holds exactly for binned forecasts,
    and ``murphy_residual`` asserts it INSIDE the hash gate (0.000000);
    ``brier_raw`` (unbinned) is reported alongside for the binning loss.

    Determinism: per-bin means come from decimal sums over round-12 terms
    (order-free); every cross-engine division runs on bit-identical
    operands; the three decomposition terms round-9 before the residual is
    formed so the identity check subtracts identical doubles.

    Scale shape: one scan -> 10-bin histogram with map-side combine; the
    decomposition is arithmetic over the 10-row bin table."""
    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.round(
            1.0
            / (1.0 + F.exp(-((F.col("o_totalprice") - 150000.0) / 100000.0))),
            12,
        ).alias("p"),
    )
    binned = scored.select(
        F.least(F.lit(9), F.floor(F.col("p") * 10.0)).cast("long").alias("bin"),
        "y",
        "p",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        dec_sum("p").alias("sum_p"),
        dec_sum(
            F.round((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 12)
        ).alias("sum_sq"),
    ).localCheckpoint()  # bounded bin table feeds the totals AND the readout
    tot = per_bin.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("n_pos").cast("long").alias("pt"),
        dec_sum("sum_sq").alias("raw_sq"),
    )
    pbar = F.col("sum_p") / F.col("n")
    ybar_k = F.col("n_pos").cast("double") / F.col("n")
    ybar = F.col("pt").cast("double") / F.col("nt")
    terms = (
        per_bin.crossJoin(F.broadcast(tot))
        .agg(
            dec_sum(
                F.round(F.col("n") * ((pbar - ybar_k) * (pbar - ybar_k)), 12)
            ).alias("rel_num"),
            dec_sum(
                F.round(F.col("n") * ((ybar_k - ybar) * (ybar_k - ybar)), 12)
            ).alias("res_num"),
            dec_sum(
                F.round(
                    F.col("n") * (pbar * pbar)
                    - 2 * pbar * F.col("n_pos")
                    + F.col("n_pos"),
                    12,
                )
            ).alias("bb_num"),
            F.min("nt").cast("long").alias("nt"),
            F.min("pt").cast("long").alias("pt"),
            F.min("raw_sq").cast("double").alias("raw_sq"),
        )
    )
    base = F.col("pt").cast("double") / F.col("nt")
    out = terms.select(
        F.col("nt").alias("n_total"),
        (F.round(base, 6) + 0.0).alias("base_rate"),
        (F.round(F.col("raw_sq") / F.col("nt"), 6) + 0.0).alias("brier_raw"),
        F.round(F.col("bb_num") / F.col("nt"), 9).alias("bb"),
        F.round(F.col("rel_num") / F.col("nt"), 9).alias("rel"),
        F.round(F.col("res_num") / F.col("nt"), 9).alias("res"),
        F.round(base * (1.0 - base), 9).alias("unc"),
    )
    return out.select(
        "n_total",
        "base_rate",
        "brier_raw",
        (F.round(F.col("bb"), 6) + 0.0).alias("brier_binned"),
        (F.round(F.col("rel"), 6) + 0.0).alias("reliability"),
        (F.round(F.col("res"), 6) + 0.0).alias("resolution"),
        (F.round(F.col("unc"), 6) + 0.0).alias("uncertainty"),
        (
            F.round(
                F.col("bb")
                - (F.col("rel") - F.col("res") + F.col("unc")),
                6,
            )
            + 0.0
        ).alias("murphy_residual"),
    )


@register(
    "l_diversity_audit",
    tags=("mlprep", "privacy"),
    defer=True,
    oracle="""
    WITH b AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS sens
        FROM customer
    ),
    g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(count(*) AS BIGINT) AS k,
               CAST(count(DISTINCT sens) AS BIGINT) AS l
        FROM b GROUP BY 1, 2
    )
    SELECT l,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(k) AS BIGINT) AS n_rows,
           CAST(min(k) AS BIGINT) AS min_group_size,
           CAST(max(k) AS BIGINT) AS max_group_size
    FROM g GROUP BY l ORDER BY l
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the companion to
    ``k_anonymity_audit``: within each quasi-identifier group (nation,
    market segment), how many DISTINCT sensitive values ($1k account-
    balance bucket) appear? A group that is k-anonymous but 1-diverse
    still leaks the sensitive attribute outright; the histogram over l
    (with group-size bounds per l) is the release-readiness readout.
    floor(x/1000.0) is spelled identically in both engines because
    acctbal can be NEGATIVE and integer `//` truncates toward zero in
    DuckDB while floor() floors (the er_blocking_candidates lesson).

    Scale shape: one two-level aggregate (exact distinct per group rides
    the same shuffle), then a bounded histogram over groups."""
    c = load_table(spark, sf_dir, "customer")
    b = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("sens"),
    )
    g = b.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("long").alias("k"),
        F.countDistinct("sens").cast("long").alias("l"),
    )
    return (
        g.groupBy("l")
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum("k").cast("long").alias("n_rows"),
            F.min("k").cast("long").alias("min_group_size"),
            F.max("k").cast("long").alias("max_group_size"),
        )
        .orderBy("l")
    )


@register(
    "isotonic_calibration_bins",
    tags=("mlprep", "eval"),
    defer=True,
    oracle="""
    WITH b AS (
        SELECT least(19, greatest(0,
                   CAST(floor(o_totalprice / 30000.0) AS BIGINT))) AS b,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS u
        FROM orders GROUP BY 1
    ),
    c AS (
        SELECT b, n, u,
               sum(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cn,
               sum(u) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cu
        FROM b
    ),
    inner_min AS (
        SELECT i.b AS bi, j.b AS bj,
               min(CAST(k.cu - (j.cu - j.u) AS DOUBLE)
                   / CAST(k.cn - (j.cn - j.n) AS DOUBLE)) AS mn
        FROM c i JOIN c j ON j.b <= i.b JOIN c k ON k.b >= i.b
        GROUP BY i.b, j.b
    ),
    iso AS (SELECT bi AS b, max(mn) AS iso_rate FROM inner_min GROUP BY bi)
    SELECT c.b, c.n, c.u,
           round(CAST(c.u AS DOUBLE) / CAST(c.n AS DOUBLE), 6) AS raw_rate,
           round(iso.iso_rate, 6) AS iso_rate
    FROM c JOIN iso ON iso.b = c.b
    ORDER BY c.b
    """,
)
def isotonic_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression (the calibration method behind
    isotonic probability calibration) on the binned urgent-order rate by
    total-price bucket — declared, not iterated: instead of the
    sequential pool-adjacent-violators loop, the fit uses the minimax
    characterization ``iso(i) = max_{j<=i} min_{k>=i} avg(y[j..k])``
    (weighted), which is pure relational algebra over prefix sums. Every
    candidate average is one exact-integer IEEE division, so min/max
    aggregates are bit-identical cross-engine with no rounding until
    output; pytest additionally pins equality to an independent Python
    PAVA implementation.

    Scale shape: the corpus-sized work is one map-side-combined groupBy
    into 20 buckets; the O(bins³) minimax join (~1.5k rows) runs on the
    bounded bucket table — the same histogram-first pattern as
    ``roc_auc_eval``/``median_ship_delay_histogram``."""
    o = load_table(spark, sf_dir, "orders")
    b = o.groupBy(
        F.least(
            F.lit(19),
            F.greatest(
                F.lit(0),
                F.floor(F.col("o_totalprice") / 30000.0).cast("long"),
            ),
        ).alias("b")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        )
        .cast("long")
        .alias("u"),
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    # materialize the ~20-row cumulative table ONCE: it feeds the i/j/k
    # projections AND the final join, and each re-embedding would repeat
    # the full corpus scan + groupBy (4 scans observed before this)
    c = b.select(
        "b",
        "n",
        "u",
        F.sum("n").over(w).alias("cn"),
        F.sum("u").over(w).alias("cu"),
    ).localCheckpoint(eager=True)
    i = c.select(F.col("b").alias("bi"))
    j = c.select(
        F.col("b").alias("bj"),
        (F.col("cu") - F.col("u")).alias("pu"),
        (F.col("cn") - F.col("n")).alias("pn"),
    )
    k = c.select(
        F.col("b").alias("bk"),
        F.col("cu").alias("ku"),
        F.col("cn").alias("kn"),
    )
    inner = (
        i.join(j, F.col("bj") <= F.col("bi"))
        .join(k, F.col("bk") >= F.col("bi"))
        .groupBy("bi", "bj")
        .agg(
            F.min(
                (F.col("ku") - F.col("pu")).cast("double")
                / (F.col("kn") - F.col("pn")).cast("double")
            ).alias("mn")
        )
    )
    iso = inner.groupBy("bi").agg(F.max("mn").alias("iso_rate"))
    return (
        c.join(iso, c.b == iso.bi)
        .select(
            "b",
            "n",
            "u",
            F.round(
                F.col("u").cast("double") / F.col("n").cast("double"), 6
            ).alias("raw_rate"),
            F.round("iso_rate", 6).alias("iso_rate"),
        )
        .orderBy("b")
    )


_ALS_IX1 = ("(('0x' || substr(md5('alsf1:' || CAST(l_partkey AS VARCHAR)),"
            " 1, 15))::BIGINT) % 2001 - 1000")
_ALS_IX2 = ("(('0x' || substr(md5('alsf2:' || CAST(l_partkey AS VARCHAR)),"
            " 1, 15))::BIGINT) % 2001 - 1000")


@register(
    "als_user_factors_step",
    tags=("mlprep", "recsys"),
    defer=True,
    oracle=f"""
    WITH r AS (
        SELECT c.c_custkey AS u, l.l_partkey,
               CAST(l.l_quantity AS BIGINT) AS q,
               {_ALS_IX1} AS ix1,
               {_ALS_IX2} AS ix2
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    m AS (
        SELECT u,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(ix1 * ix1) AS BIGINT) AS a11,
               CAST(sum(ix1 * ix2) AS BIGINT) AS a12,
               CAST(sum(ix2 * ix2) AS BIGINT) AS a22,
               CAST(sum(ix1 * q) AS BIGINT) AS b1,
               CAST(sum(ix2 * q) AS BIGINT) AS b2
        FROM r GROUP BY u
    ),
    solved AS (
        SELECT u, n_items,
               1000.0 * CAST(b1 * (a22 + 1000) - b2 * a12 AS DOUBLE)
               / CAST((a11 + 1000) * (a22 + 1000) - a12 * a12 AS DOUBLE)
                   AS u1,
               1000.0 * CAST(b2 * (a11 + 1000) - b1 * a12 AS DOUBLE)
               / CAST((a11 + 1000) * (a22 + 1000) - a12 * a12 AS DOUBLE)
                   AS u2
        FROM m
    )
    SELECT u AS custkey, n_items,
           round(u1, 6) AS u1, round(u2, 6) AS u2,
           round(sqrt(u1 * u1 + u2 * u2), 6) AS factor_norm
    FROM solved
    ORDER BY factor_norm DESC, custkey LIMIT 15
    """,
)
def als_user_factors_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS half-step of implicit-feedback matrix factorization (k=2):
    given fixed deterministic item factors (h60-derived integer
    thousandths — the ``ann_ivf`` trick), solve each user's ridge
    least-squares ``(FᵀF + λI)u = Fᵀr`` with r = purchased quantity, via
    the 2×2 Cramer rule — the many-small-models pattern of
    ``groupwise_ols_slopes`` applied to recommender bootstrapping.

    Determinism: item factors are INTEGER numerators (f = ix/1000), so
    every normal-equation moment is an exact BIGINT; the scale factors
    cancel into one final ``1000·adj(A_s)b_s / det(A_s)`` integer ratio
    per user (λ = 1000/1e6 = 1e-3) — IEEE-exact division, no rounding
    until output. BIGINT headroom: per-user moments carry ~|items|·1e6,
    det ~ (that)² — fine to ~3e3 items/user; beyond that widen to
    DECIMAL(38,0) like the chi² squares.

    Scale shape: the item factors depend only on partkey, so the two h60
    hashes are computed ONCE PER PART on the part dimension and joined
    back to the fact rows (~30x fewer md5 calls than hashing per line
    item; no broadcast hint — AQE broadcasts while the dim is small and
    falls back to a partkey shuffle join when it is not), then two key
    equi-joins (lineitem⋈orders⋈customer), one
    map-side-combined groupBy(user), a per-row Cramer solve, TakeOrdered
    top-15 on the rounded norm. At 100 TB the alternating iteration
    would checkpoint factors per pass (the IRLS lesson)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    item_factors = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("fk"),
        (
            h60(F.concat(F.lit("alsf1:"), F.col("p_partkey").cast("string")))
            % 2001
            - 1000
        ).alias("ix1"),
        (
            h60(F.concat(F.lit("alsf2:"), F.col("p_partkey").cast("string")))
            % 2001
            - 1000
        ).alias("ix2"),
    )
    r = (
        li.join(item_factors, li.l_partkey == F.col("fk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_custkey").alias("u"),
            F.col("l_quantity").cast("long").alias("q"),
            "ix1",
            "ix2",
        )
    )
    m = r.groupBy("u").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(F.col("ix1") * F.col("ix1")).cast("long").alias("a11"),
        F.sum(F.col("ix1") * F.col("ix2")).cast("long").alias("a12"),
        F.sum(F.col("ix2") * F.col("ix2")).cast("long").alias("a22"),
        F.sum(F.col("ix1") * F.col("q")).cast("long").alias("b1"),
        F.sum(F.col("ix2") * F.col("q")).cast("long").alias("b2"),
    )
    det = (
        (F.col("a11") + 1000) * (F.col("a22") + 1000)
        - F.col("a12") * F.col("a12")
    ).cast("double")
    u1 = (
        1000.0
        * (
            F.col("b1") * (F.col("a22") + 1000) - F.col("b2") * F.col("a12")
        ).cast("double")
        / det
    )
    u2 = (
        1000.0
        * (
            F.col("b2") * (F.col("a11") + 1000) - F.col("b1") * F.col("a12")
        ).cast("double")
        / det
    )
    solved = m.select(
        F.col("u").alias("custkey"),
        "n_items",
        u1.alias("u1"),
        u2.alias("u2"),
    )
    return (
        solved.select(
            "custkey",
            "n_items",
            F.round("u1", 6).alias("u1"),
            F.round("u2", 6).alias("u2"),
            F.round(
                F.sqrt(F.col("u1") * F.col("u1") + F.col("u2") * F.col("u2")),
                6,
            ).alias("factor_norm"),
        )
        .orderBy(F.col("factor_norm").desc(), "custkey")
        .limit(15)
    )
