"""Similarity search over the embedding column (SURVEY.md §2.2 LLM block).

- ``cosine_topk`` — exact brute-force cosine top-k (oracle-checked against
  DuckDB ``list_dot_product``). The correctness baseline.
- ``ann_lsh_topk`` — random-hyperplane LSH bucketing + exact rerank within
  buckets: the scale path. Deterministic (hyperplanes derived from a fixed
  seed), validated by recall-vs-bruteforce in tests, no SQL oracle.
- ``embedding_label_centroids`` — per-label component means (oracle-checked),
  the grouped-aggregation face of the embedding column.

Dot products use Spark's higher-order functions (``zip_with`` +
``aggregate``) — JVM-side, no Python in the row path. At 100 TB the
brute-force form is only for bounded query sets (its cost is |Q|·|N|); the
LSH form shuffles once on bucket id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tscd_datalake_adapter_spark.functions import (
    bounded_fold,
    checkpoint_bounded,
    dec_sum,
    h60,
    oracle_dec_sum,
    oracle_h60,
    persist_corpus,
    spread,
)
from tscd_datalake_adapter_spark.operators import register
from tscd_datalake_adapter_spark.sources import load_table

DIM = 64


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double (left-to-right fold, engine-stable at dim 64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def sq_norm(a: Column) -> Column:
    return F.aggregate(
        a,
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.sqrt(sq_norm(a) * sq_norm(b))


@register(
    "cosine_topk",
    headline=True,
    tags=("llm", "similarity"),
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round(list_dot_product(q.qv, e.v)
                     / sqrt(list_dot_product(q.qv, q.qv)
                            * list_dot_product(e.v, e.v)), 6) AS cos
        FROM q CROSS JOIN e WHERE e.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
        FROM scored
    )
    SELECT query_id, neighbor_id, cos, rk FROM ranked
    WHERE rk <= 5 ORDER BY query_id, rk
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors vec_id<10.

    Ranking is on the *rounded* cosine with neighbor-id tiebreak, so ordering
    is engine-independent even at float boundaries. The query side is tiny and
    broadcast; the corpus scan is a single pass (no shuffle before top-k).
    The per-row cosine folds are the cost, so the corpus side is spread()
    off the file-count scan partitions (no-op on a well-split cluster)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(spread(e))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("embedding")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


def _lsh_plane_matrix(n_tables: int, bits: int, dim: int = DIM):
    """(n_tables·bits, dim) float64 plane matrix with h60-derived
    components, ``(h60('lshplane:t:b:d') % 2001 - 1000) / 1000.0`` —
    the same deterministic derivation family as the IVF planes, computed
    with hashlib so the matrix is a broadcast-able Python constant
    (~n_tables·bits·dim·8 bytes; 6 KB at 12×8×64)."""
    import hashlib

    import numpy as np

    rows = []
    for t in range(n_tables):
        for b in range(bits):
            rows.append(
                [
                    (
                        int(
                            hashlib.md5(
                                f"lshplane:{t}:{b}:{d}".encode()
                            ).hexdigest()[:15],
                            16,
                        )
                        % 2001
                        - 1000
                    )
                    / 1000.0
                    for d in range(dim)
                ]
            )
    return np.asarray(rows, dtype=np.float64)


def _lsh_signatures(
    df: DataFrame,
    vec_col: str,
    n_tables: int,
    bits: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id_col, tbl, bucket): all sign-LSH bucket ids per vector, computed
    in ONE Arrow-batched ``mapInPandas`` pass — a single numpy matmul of
    each batch against the broadcast plane matrix yields every sign bit,
    then integer bit-packing per table.

    This is the vectorized replacement for the plane-crossJoin + groupBy
    formulation: no n_tables×bits row blow-up carrying the embedding
    array, no signature shuffle at all (signatures stream out of the
    scan, per-row and hence partition-invariant), and the dot products
    run at BLAS speed instead of one-interpreted-lambda-per-element
    (measured ~10× on the fixture). Sign determinism: each row's bits
    depend only on that row and the constant matrix."""
    import numpy as np
    import pandas as pd

    planes = _lsh_plane_matrix(n_tables, bits)
    weights = 1 << np.arange(bits, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            emb = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            signs = (emb @ planes.T) >= 0.0
            buckets = (
                signs.reshape(len(pdf), n_tables, bits) * weights
            ).sum(axis=2)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_tables),
                    "tbl": np.tile(
                        np.arange(n_tables, dtype=np.int64), len(pdf)
                    ),
                    "bucket": buckets.reshape(-1),
                }
            )

    # file-count-parallelism guard (functions.spread): the matmul batches
    # must not inherit the 1-file fixture's single scan partition
    return spread(df.select(id_col, vec_col)).mapInPandas(
        gen, f"{id_col} long, tbl long, bucket long"
    )


@register(
    "ann_lsh_topk",
    tags=("llm", "similarity"),
    # Oracle = the EXACT cosine top-5 SQL (same as cosine_topk). Legitimate
    # because multi-probe 12×4-bit LSH measures recall@5 = 1.0 at sf0.001-0.1
    # (tests/test_llm_ops.py gates it), and the rerank ranks on the same
    # (round(cos,6) DESC, neighbor_id) key as the exact path — so whenever
    # every true top-5 neighbor is a candidate, the outputs are identical.
    # This is the same pattern by which minhash_lsh_near_dup oracle-checks an
    # LSH pipeline end-to-end. If a future fixture drops recall below 1.0 the
    # driver row goes red and the oracle should be removed, not the query.
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round(list_dot_product(q.qv, e.v)
                     / sqrt(list_dot_product(q.qv, q.qv)
                            * list_dot_product(e.v, e.v)), 6) AS cos
        FROM q CROSS JOIN e WHERE e.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
        FROM scored
    )
    SELECT query_id, neighbor_id, cos, rk FROM ranked
    WHERE rk <= 5 ORDER BY query_id, rk
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: multi-table random-hyperplane LSH (12 tables × 4 sign bits) with
    Hamming-1 multi-probe → bucket join → exact cosine rerank.

    Candidates are vectors sharing any probed bucket in any table with the
    query; multi-table OR-amplification plus bit-flip probing measures
    recall@5 = 1.0 at sf0.001-0.1 (see tests). The only data-sized shuffle
    is the bucket join keyed on (table, signature) — uniform by
    construction. At 100 TB: raise bits per table as density grows;
    candidates per query stay ~corpus/2^bits × tables × probes."""
    n_tables, bits = 12, 4
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # Vectorized signature computation (numpy matmul in mapInPandas, no
    # shuffle) — see _lsh_signatures. sig is narrow: (vec_id, tbl,
    # bucket); embeddings are re-joined only for the rerank over ids.
    # persist_corpus: sig feeds BOTH the query-probe side and the
    # candidate bucket join — uncached each consumer re-runs the full
    # embeddings scan + matmul (measured 4 executed embeddings scans).
    sig = persist_corpus(_lsh_signatures(e, "embedding", n_tables, bits))
    # Multi-probe: besides the query's own bucket, probe every bucket at
    # Hamming distance 1 (flip each of the `bits` sign bits). Probe count is
    # (bits+1)·tables per query — recall rises sharply for near-boundary
    # neighbors at zero extra shuffle (probes ride the same broadcast join).
    probe_flips = F.array(F.lit(-1), *[F.lit(i) for i in range(bits)])
    q = (
        sig.where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("tbl").alias("qtbl"),
            F.col("bucket").alias("qbucket0"),
            F.explode(probe_flips).alias("flip"),
        )
        .select(
            "query_id",
            "qtbl",
            F.when(F.col("flip") < 0, F.col("qbucket0"))
            .otherwise(
                F.expr(
                    "qbucket0 ^ shiftleft(cast(1 as bigint), cast(flip as int))"
                )
            )
            .alias("qbucket"),
        )
    )
    # Candidate ids first (narrow distinct), embeddings re-joined after —
    # the distinct never shuffles 64-double arrays.
    cand_ids = (
        F.broadcast(q)
        .join(
            sig,
            (F.col("bucket") == F.col("qbucket")) & (F.col("tbl") == F.col("qtbl")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qv = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = (
        cand_ids.join(F.broadcast(qv), "query_id")
        .join(e, F.col("neighbor_id") == F.col("vec_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("embedding")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


IVF_PLANES = 4  # 2^4 = 16 inverted lists
IVF_NPROBE = 6


def _ivf_plane_components(p: int, dim: int = DIM) -> list[float]:
    """Plane p's components, derived from h60 exactly as the oracle does:
    ``(h60('ivfplane:p:d') % 2001 - 1000) / 1000.0`` ∈ [-1, 1]. Computed
    with hashlib here (bit-identical to Spark's md5-based h60) so the
    planes become codegen literals — no extra join in the assignment."""
    import hashlib

    out = []
    for d in range(dim):
        h = int(
            hashlib.md5(f"ivfplane:{p}:{d}".encode()).hexdigest()[:15], 16
        )
        out.append((h % 2001 - 1000) / 1000.0)
    return out


@register(
    "ann_ivf_topk",
    tags=("llm", "similarity"),
    # Oracle: replicates the ENTIRE IVF computation — plane generation
    # (h60-derived components), sign-bit cell assignment, decimal-exact
    # centroid means, centroid-ranked probes, exact rerank — so the row is
    # hash-exact REGARDLESS of recall (unlike ann_lsh_topk, whose oracle is
    # the exact top-k and relies on measured recall 1.0).
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    planes AS (
        SELECT p, list(comp ORDER BY d) AS plane FROM (
            SELECT pp.p, dd.d,
                   (({oracle_h60("'ivfplane:' || pp.p || ':' || dd.d")}
                     % 2001) - 1000) / 1000.0 AS comp
            FROM (SELECT unnest(range(0, {IVF_PLANES})) AS p) pp
            CROSS JOIN (SELECT unnest(range(0, {DIM})) AS d) dd
        ) GROUP BY p
    ),
    assigned AS (
        SELECT e.vec_id,
               CAST(sum(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
                             THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS cell
        FROM e CROSS JOIN planes pl GROUP BY e.vec_id
    ),
    cents AS (
        SELECT a.cell, dd.d AS dim,
               {oracle_dec_sum('e.v[dd.d]')} / count(*) AS c
        FROM e JOIN assigned a USING (vec_id)
        CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS d) dd
        GROUP BY a.cell, dd.d
    ),
    centroids AS (
        SELECT cell, list(round(c, 6) ORDER BY dim) AS centroid
        FROM cents GROUP BY cell
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    qc AS (
        SELECT q.query_id, q.qv, c.cell,
               round(list_dot_product(q.qv, c.centroid)
                     / sqrt(list_dot_product(q.qv, q.qv)
                            * list_dot_product(c.centroid, c.centroid)), 6)
                   AS ccos
        FROM q CROSS JOIN centroids c
    ),
    probes AS (
        SELECT query_id, qv, cell FROM (
            SELECT query_id, qv, cell,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY ccos DESC, cell) AS crk
            FROM qc)
        WHERE crk <= {IVF_NPROBE}
    ),
    cand AS (
        SELECT p.query_id, e.vec_id AS neighbor_id,
               round(list_dot_product(p.qv, e.v)
                     / sqrt(list_dot_product(p.qv, p.qv)
                            * list_dot_product(e.v, e.v)), 6) AS cos
        FROM probes p JOIN assigned a ON p.cell = a.cell
        JOIN e ON e.vec_id = a.vec_id
        WHERE e.vec_id != p.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
        FROM cand
    )
    SELECT query_id, neighbor_id, cos, rk FROM ranked
    WHERE rk <= 5 ORDER BY query_id, rk
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a DETERMINISTIC coarse quantizer (round 5; closes
    VERDICT r4 #5): cells are the 4 sign bits of h60-derived hyperplanes
    (so assignment is a map-side codegen expression over plane literals —
    no training pass), centroids are the decimal-exact per-cell component
    means, and each query probes its ``IVF_NPROBE`` nearest centroids by
    rounded cosine before the exact rerank — the FAISS-IVF probe/verify
    structure with a data-independent quantizer.

    Why not KMeans (the classic choice): its iterative float updates are
    not cross-engine-reproducible, which kept this query oracle-less for
    four rounds; the sign-LSH-derived centroids make every stage
    SQL-expressible, so the oracle now replicates the whole pipeline and
    the row is hash-exact. At 100 TB the trade also stands on its own: no
    training scan, assignment costs 4 dot products per vector in
    whole-stage codegen, and the centroid table (2^4 rows here; grow the
    plane count as the corpus grows so lists stay balanced — cells scale
    as 2^planes) stays broadcast-small. Measured recall@5 vs brute force
    is gated in tests; ``ann_lsh_topk`` (multi-probe, recall 1.0) remains
    the quality default, IVF the cheap-assignment path."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    cell = F.lit(0).cast("long")
    for p in range(IVF_PLANES):
        plane = F.array(
            *[F.lit(c) for c in _ivf_plane_components(p)]
        )
        cell = cell + F.when(
            dot(F.col("embedding"), plane) >= 0, F.lit(1 << p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    assigned = e.select("vec_id", "embedding", cell.alias("cell"))

    comp = F.col("comp").cast("double")
    cents = (
        assigned.select(
            "cell", F.posexplode("embedding").alias("pos", "comp")
        )
        .select("cell", (F.col("pos") + 1).alias("dim"), comp.alias("comp"))
        .groupBy("cell", "dim")
        .agg((dec_sum("comp") / F.count("*")).alias("c"))
    )
    centroids = cents.groupBy("cell").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("dim", F.round("c", 6).alias("c")))
            ),
            lambda s: s.getField("c"),
        ).alias("centroid")
    )

    q = assigned.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "qv",
            "cell",
            F.round(cosine(F.col("qv"), F.col("centroid")), 6).alias("ccos"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("cell")
    )
    probes = (
        qc.withColumn("crk", F.row_number().over(wq))
        .where(F.col("crk") <= IVF_NPROBE)
        .select("query_id", "qv", "cell")
    )
    cand = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("embedding")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


@register(
    "embedding_label_centroids",
    tags=("llm", "similarity"),
    oracle=f"""
    SELECT CAST(label AS BIGINT) AS label,
           count(*) AS n,
           round({oracle_dec_sum('CAST(embedding[1] AS DOUBLE)')} / count(*), 6) AS c0,
           round({oracle_dec_sum('CAST(embedding[2] AS DOUBLE)')} / count(*), 6) AS c1,
           round({oracle_dec_sum('CAST(embedding[3] AS DOUBLE)')} / count(*), 6) AS c2,
           round({oracle_dec_sum('list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))')} / count(*), 6) AS mean_sq_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (decimal-exact means) — grouped
    aggregation over array columns."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = lambda i: F.element_at("embedding", i).cast("double")  # noqa: E731
    return (
        e.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count("*").alias("n"),
            F.round(dec_sum(comp(1)) / F.count("*"), 6).alias("c0"),
            F.round(dec_sum(comp(2)) / F.count("*"), 6).alias("c1"),
            F.round(dec_sum(comp(3)) / F.count("*"), 6).alias("c2"),
            F.round(dec_sum(sq_norm(F.col("embedding"))) / F.count("*"), 6).alias(
                "mean_sq_norm"
            ),
        )
        .orderBy("label")
    )


@register(
    "cosine_topk_vectorized",
    tags=("llm", "similarity"),
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round(list_dot_product(q.qv, e.v)
                     / sqrt(list_dot_product(q.qv, q.qv)
                            * list_dot_product(e.v, e.v)), 6) AS cos
        FROM q CROSS JOIN e WHERE e.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
        FROM scored
    )
    SELECT query_id, neighbor_id, cos, rk FROM ranked
    WHERE rk <= 5 ORDER BY query_id, rk
    """,
)
def cosine_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized twin of ``cosine_topk`` — the production shape for
    "score the whole corpus against K query vectors at 100 TB":

    - the K query vectors (K·dim doubles — NOT corpus-scale) are collected
      once and closed over into a numpy matrix shipped with the task;
    - ``mapInPandas`` streams Arrow batches of corpus embeddings and scores
      each batch with ONE float64 matmul (SIMD, ~100× a per-row Python UDF);
    - each batch emits only its per-query top-5 (global top-5 is a subset of
      the union of per-batch top-5s), so executor→shuffle traffic is
      O(K · 5 · batches), independent of corpus size;
    - a final window rank merges the per-batch candidates.

    Same oracle as ``cosine_topk``: identical results from the higher-order-
    function path, the numpy path, and DuckDB (rounding to 6 decimals
    absorbs summation-order differences; ranking ties break on neighbor_id).
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_rows = sorted(
        e.where(F.col("vec_id") < 10).collect(), key=lambda r: r.vec_id
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.embedding for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    out_schema = "query_id long, neighbor_id long, cos double"

    def score_batches(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            norms = np.sqrt((m * m).sum(axis=1))
            cos = np.round(
                (q_mat @ m.T) / (q_norm[:, None] * norms[None, :]), 6
            )
            parts = []
            for qi in range(len(q_ids)):
                mask = ids != q_ids[qi]
                cand = pd.DataFrame(
                    {
                        "query_id": q_ids[qi],
                        "neighbor_id": ids[mask],
                        "cos": cos[qi][mask],
                    }
                )
                cand = cand.sort_values(
                    ["cos", "neighbor_id"], ascending=[False, True]
                ).head(5)
                parts.append(cand)
            yield pd.concat(parts) if parts else pd.DataFrame(
                columns=["query_id", "neighbor_id", "cos"]
            )

    scored = spread(e).mapInPandas(score_batches, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


@register(
    "embedding_int8_quantize",
    tags=("llm", "similarity"),
    oracle="""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE vec_id < 50
    ),
    m AS (
        SELECT vec_id, e,
               list_max(list_transform(e, x -> abs(x))) AS mx
        FROM v
    )
    SELECT vec_id,
           round(mx, 6) AS scale_max,
           array_to_string(list_transform(e,
               x -> CAST(CAST(round(x * 127.0 / mx, 0) AS BIGINT)
                         AS VARCHAR)), ',') AS q_csv,
           round(list_sum(list_transform(e,
               x -> (x - round(x * 127.0 / mx, 0) * mx / 127.0)
                    * (x - round(x * 127.0 / mx, 0) * mx / 127.0)))
                 / len(e), 6) AS mse
    FROM m WHERE mx > 0 ORDER BY vec_id
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the storage/bandwidth lever
    for vector search at 100 TB: 4× smaller than float32, SIMD-friendly
    integer dot products): per-vector absmax scale, ``q = round(x·127/mx)``,
    plus the exact reconstruction MSE. Pure higher-order expressions —
    map-side, zero shuffle beyond the scan; both engines fold the MSE
    left-to-right over the same doubles, so even the error term is
    bit-deterministic. Output is all-scalar (q vector as CSV) per the
    registered-query shape rules."""
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 50)
    ed = F.transform("embedding", lambda x: x.cast("double"))
    m = e.select("vec_id", ed.alias("e")).withColumn(
        "mx", F.array_max(F.transform("e", lambda x: F.abs(x)))
    )
    q_of = lambda x: F.round(x * 127.0 / F.col("mx"), 0)
    return (
        m.where(F.col("mx") > 0)
        .select(
            "vec_id",
            F.round("mx", 6).alias("scale_max"),
            F.concat_ws(
                ",",
                F.transform("e", lambda x: q_of(x).cast("long").cast("string")),
            ).alias("q_csv"),
            F.round(
                F.aggregate(
                    "e",
                    F.lit(0.0),
                    lambda acc, x: acc
                    + (x - q_of(x) * F.col("mx") / 127.0)
                    * (x - q_of(x) * F.col("mx") / 127.0),
                )
                / F.size("e"),
                6,
            ).alias("mse"),
        )
        .orderBy("vec_id")
    )


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Int8-quantize an embedding column: adds ``q`` (array<long> in
    [-127, 127]), ``mx`` (absmax scale), and ``qnorm`` (the dequantized L2
    norm) — one map-side pass, the storage/SIMD layout for quantized
    retrieval. Vectors with absmax 0 are dropped (cosine undefined)."""
    ed = F.transform(vec_col, lambda x: x.cast("double"))
    out = df.withColumn("_e", ed).withColumn(
        "mx", F.array_max(F.transform("_e", lambda x: F.abs(x)))
    )
    q = F.transform("_e", lambda x: F.round(x * 127.0 / F.col("mx"), 0).cast("long"))
    return (
        out.where(F.col("mx") > 0)
        .withColumn("q", q)
        .withColumn(
            "qnorm",
            F.sqrt(
                F.aggregate(
                    "q", F.lit(0.0), lambda acc, x: acc + (x * x).cast("double")
                )
            )
            * F.col("mx")
            / 127.0,
        )
        .drop("_e")
    )


def quantized_cosine_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 10
) -> DataFrame:
    """Approximate cosine top-k over INT8-quantized vectors — the compressed
    retrieval path (4× less memory/IO than float32; integer dot products).
    Same plan shape as :func:`cosine_topk` (broadcast query side, single
    corpus pass, per-query window top-k); the score is the integer dot
    product rescaled by ``mx_a·mx_b/127²`` and normalized by dequantized
    norms. Recall vs the exact ranker is gated in
    ``tests/test_llm_ops.py::test_quantized_cosine_recall`` (no oracle —
    quantization error is implementation-defined, like the ANN tier)."""
    e = quantize_embeddings(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ).select("vec_id", "q", "mx", "qnorm")
    qs = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qa"),
        F.col("mx").alias("mx_a"),
        F.col("qnorm").alias("norm_a"),
    )
    idot = F.aggregate(
        F.zip_with("qa", "q", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(qs)
        .crossJoin(e)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                idot.cast("double")
                * (F.col("mx_a") * F.col("mx") / (127.0 * 127.0))
                / (F.col("norm_a") * F.col("qnorm")),
                6,
            ).alias("qcos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .orderBy("query_id", "rk")
    )


@register(
    "quantized_cosine_topk_q",
    tags=("llm", "similarity"),
    oracle="""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    m AS (
        SELECT vec_id, list_max(list_transform(e, x -> abs(x))) AS mx, e
        FROM v
    ),
    q AS (
        SELECT vec_id, mx,
               list_transform(e, x -> CAST(round(x * 127.0 / mx, 0)
                                           AS BIGINT)) AS qv
        FROM m WHERE mx > 0
    ),
    n AS (
        SELECT vec_id, mx, qv,
               sqrt(list_sum(list_transform(qv,
                    x -> CAST(x * x AS DOUBLE)))) * mx / 127.0 AS qnorm
        FROM q
    ),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               round(list_sum(list_transform(range(1, len(a.qv) + 1),
                         i -> CAST(a.qv[i] * b.qv[i] AS DOUBLE)))
                     * (a.mx * b.mx / (127.0 * 127.0))
                     / (a.qnorm * b.qnorm), 6) AS qcos
        FROM n a JOIN n b ON b.vec_id != a.vec_id
        WHERE a.vec_id < 10
    ),
    ranked AS (
        SELECT query_id, neighbor_id, qcos,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY qcos DESC, neighbor_id) AS BIGINT) AS rk
        FROM scored
    )
    SELECT query_id, neighbor_id, qcos, rk FROM ranked
    WHERE rk <= 5 ORDER BY query_id, rk
    """,
)
def quantized_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`quantized_cosine_topk`: int8 quantization
    is approximate RETRIEVAL but fully DETERMINISTIC computation, so unlike
    the ANN tier it gets an exact value oracle — DuckDB re-derives the
    quantized vectors, integer dot products, and rescaled cosines
    bit-identically (index-based transform instead of zip; DuckDB 1.0 has
    no list_zip). Recall vs the float ranker is separately gated in
    tests/test_llm_ops.py."""
    return quantized_cosine_topk(spark, sf_dir, k=5, n_queries=10).select(
        "query_id", "neighbor_id", "qcos", "rk"
    )


@register(
    "embedding_cosine_near_dup_lsh",
    tags=("llm", "similarity", "dedup"),
    oracle="""
    WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    ok AS (SELECT * FROM base WHERE list_dot_product(e, e) > 0),
    corpus AS (
        SELECT vec_id, e FROM ok
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
               list_concat([e[1] + 0.05], e[2:]) AS e
        FROM ok WHERE vec_id < 25
    ),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_dot_product(a.e, b.e)
                 / sqrt(list_dot_product(a.e, a.e)
                        * list_dot_product(b.e, b.e)) AS c
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(c, 6) AS cos
    FROM pairs WHERE c >= 0.99 ORDER BY vec_a, vec_b
    """,
)
def embedding_cosine_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection at SCALE (the LSH-bucketed
    production path; ``embedding_cosine_near_dup`` in relational_extra.py is
    the bounded-slice exact twin) — the semantic tier of the
    dedup family (exact/MinHash/SimHash/ngram/containment are lexical):
    pairs of vectors with cosine >= 0.99 found via sign-LSH candidate
    generation + exact verification, never an all-pairs scan.

    The fixture has no embedding near-dups (max pairwise cosine ~0.51), so
    the query PLANTS them deterministically: each vec_id < 25 gets a twin
    (id + 100000) with component 1 shifted by +0.05 — cosine ~0.9999,
    built identically by both engines. Candidates: 24 LSH tables x 16 sign
    bits over the shared hyperplanes — at cosine 0.99 the per-table band
    match probability is 0.955^16 ~ 0.48, so the 24-table miss probability
    is < 2e-7 per threshold pair (and ~1e-28 for the planted ~0.9999
    twins; the DuckDB oracle is BRUTE-FORCE all-pairs, so any miss would
    fail the hash gate; recall is additionally pinned in tests). 16-bit
    buckets keep RANDOM collisions at ~n^2*T/2^17 (measured ~100x fewer
    verify pairs than the earlier 8-bit/12-table shape for the same
    recall). Scale: the only corpus-sized shuffles are the signature
    groupBy and the bucket self-join — candidate pairs per bucket are
    corpus/2^16 sized, uniform by hash construction."""
    n_tables, bits, thresh = 24, 16, 0.99
    base = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> cast(x as double))"
            ).alias("e"),
        )
        .where(sq_norm(F.col("e")) > 0)
    )
    planted = base.where(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "concat(array(e[0] + 0.05d), slice(e, 2, size(e) - 1))"
        ).alias("e"),
    )
    # corpus feeds the signature stage and both verify sides — cache so
    # the planted-twin union builds once (executed-plan audit: 4 scans of
    # embeddings without). persist, not localCheckpoint: one embedding row
    # per doc is corpus volume.
    corpus = persist_corpus(base.unionByName(planted))
    # Vectorized per-row signatures (numpy matmul in mapInPandas, no
    # shuffle; see _lsh_signatures) and a NARROW bucket self-join —
    # candidate ids dedupe without dragging 64-double arrays through the
    # shuffle; vectors re-join for verify. The explicit repartition on
    # the join key gives both self-join sides identical exchange
    # subtrees, making the signature stage eligible for the engine's
    # exchange-reuse rewrite (and pre-keys the join either way).
    sig = _lsh_signatures(corpus, "e", n_tables, bits).repartition(
        "tbl", "bucket"
    )
    cand = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    # squared norms once per VECTOR (corpus-sized), not per candidate
    # pair — cuts the interpreted-HOF verify work to the dot product only
    withn = corpus.select("vec_id", "e", sq_norm(F.col("e")).alias("n2"))
    scored = (
        cand.join(
            withn.select(
                F.col("vec_id").alias("vec_a"),
                F.col("e").alias("ea"),
                F.col("n2").alias("na"),
            ),
            "vec_a",
        )
        .join(
            withn.select(
                F.col("vec_id").alias("vec_b"),
                F.col("e").alias("eb"),
                F.col("n2").alias("nb"),
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            (
                dot(F.col("ea"), F.col("eb"))
                / F.sqrt(F.col("na") * F.col("nb"))
            ).alias("c"),
        )
    )
    return (
        scored.where(F.col("c") >= thresh)
        .select("vec_a", "vec_b", F.round("c", 6).alias("cos"))
        .orderBy("vec_a", "vec_b")
    )


@register(
    "knn_label_accuracy",
    tags=("llm", "similarity"),
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
          FROM e WHERE vec_id < 50),
    scored AS (
        SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id,
               e.label AS nlabel,
               round(list_dot_product(q.qv, e.v)
                     / sqrt(list_dot_product(q.qv, q.qv)
                            * list_dot_product(e.v, e.v)), 6) AS cos
        FROM q CROSS JOIN e WHERE e.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, qlabel, nlabel,
               row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored
    ),
    votes AS (
        SELECT query_id, qlabel, nlabel, count(*) AS cnt
        FROM ranked WHERE rk <= 5 GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT query_id, qlabel, nlabel AS predicted
        FROM (
            SELECT query_id, qlabel, nlabel, row_number() OVER (
                PARTITION BY query_id ORDER BY cnt DESC, nlabel) AS vr
            FROM votes
        ) WHERE vr = 1
    )
    SELECT qlabel AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN predicted = qlabel THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN predicted = qlabel THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS accuracy
    FROM pred GROUP BY qlabel ORDER BY qlabel
    """,
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-prediction evaluation (k = 5, majority vote, ties to the
    smallest label): for each query vector (vec_id < 50), predict its
    label from its 5 exact-cosine nearest neighbors and report per-label
    accuracy — the standard embedding-quality probe run after training a
    new encoder. Scoring is the ``cosine_topk_vectorized`` shape (round-5
    perf rewrite): the 50 query vectors are collected once (K·dim
    doubles, NOT corpus-scale) into a numpy matrix, ``mapInPandas``
    scores each Arrow batch with one float64 matmul and emits only its
    per-batch top-5 per query, and a window rank merges the candidates —
    ~3× the interpreted higher-order-function crossJoin it replaced.
    The vote argmax uses a deterministic (count DESC, label ASC)
    tiebreak in both engines; round-6 cosines keep the ranking
    engine-exact, same as the vectorized top-k."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        "embedding",
    )
    q_rows = sorted(
        e.where(F.col("vec_id") < 50).collect(), key=lambda r: r.vec_id
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    q_labels = {int(r.vec_id): int(r.label) for r in q_rows}
    q_mat = np.array([r.embedding for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    def score_batches(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            labels = pdf["label"].to_numpy(dtype=np.int64)
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            norms = np.sqrt((m * m).sum(axis=1))
            cos = np.round(
                (q_mat @ m.T) / (q_norm[:, None] * norms[None, :]), 6
            )
            parts = []
            for qi in range(len(q_ids)):
                mask = ids != q_ids[qi]
                cand = pd.DataFrame(
                    {
                        "query_id": q_ids[qi],
                        "neighbor_id": ids[mask],
                        "nlabel": labels[mask],
                        "cos": cos[qi][mask],
                    }
                )
                parts.append(
                    cand.sort_values(
                        ["cos", "neighbor_id"], ascending=[False, True]
                    ).head(5)
                )
            yield pd.concat(parts) if parts else pd.DataFrame(
                columns=["query_id", "neighbor_id", "nlabel", "cos"]
            )

    scored = spread(e).mapInPandas(
        score_batches,
        "query_id long, neighbor_id long, nlabel long, cos double",
    )
    wrk = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    top5 = (
        scored.withColumn("rk", F.row_number().over(wrk))
        .where(F.col("rk") <= 5)
        .withColumn(
            "qlabel",
            # 50-entry literal map — JVM-side lookup, no Python in the row
            # path and no extra join for the tiny query-label table
            F.create_map(
                *[
                    F.lit(v)
                    for kv in sorted(q_labels.items())
                    for v in kv
                ]
            )[F.col("query_id")].cast("long"),
        )
    )
    votes = top5.groupBy("query_id", "qlabel", "nlabel").agg(
        F.count("*").alias("cnt")
    )
    wvote = Window.partitionBy("query_id").orderBy(
        F.col("cnt").desc(), F.col("nlabel")
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(wvote))
        .where(F.col("vr") == 1)
        .select("query_id", "qlabel", F.col("nlabel").alias("predicted"))
    )
    correct = F.when(F.col("predicted") == F.col("qlabel"), 1).otherwise(0)
    return (
        pred.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum(correct).cast("long").alias("n_correct"),
            F.round(
                F.sum(correct) / F.count("*").cast("double"), 4
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# MMR diversified top-k (round 5, wave 2)
# ---------------------------------------------------------------------------

MMR_LAMBDA = "0.7"  # literal shared verbatim with the oracle SQL
MMR_K = 8
MMR_CANDS = 20
# the fold's input: one rel row per candidate plus one sim row per ordered pair
_MMR_FOLD_MAX_ROWS = MMR_CANDS * MMR_CANDS


def _mmr_oracle() -> str:
    """Unrolled-MMR DuckDB oracle: k-1 chained pick CTEs (plain SQL, no
    recursion) over the same top-``MMR_CANDS`` candidate table the Spark
    plan uses. Generated programmatically so the unroll depth follows
    ``MMR_K``."""
    lam = MMR_LAMBDA
    parts = [
        f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id AS cand_id,
               round(list_dot_product(e.v, q.qv)
                     / sqrt(list_dot_product(e.v, e.v)
                            * list_dot_product(q.qv, q.qv)), 6) AS rel
        FROM e CROSS JOIN q WHERE e.vec_id != 0
    ),
    cands AS MATERIALIZED (
        SELECT cand_id, rel FROM scored
        ORDER BY rel DESC, cand_id LIMIT {MMR_CANDS}
    ),
    cv AS (SELECT c.cand_id, e.v FROM cands c JOIN e ON e.vec_id = c.cand_id),
    sims AS MATERIALIZED (
        SELECT a.cand_id AS sa, b.cand_id AS sb,
               round(list_dot_product(a.v, b.v)
                     / sqrt(list_dot_product(a.v, a.v)
                            * list_dot_product(b.v, b.v)), 6) AS sim
        FROM cv a JOIN cv b ON a.cand_id != b.cand_id
    ),
    sel1 AS MATERIALIZED (
        SELECT CAST(1 AS INTEGER) AS step, cand_id, rel AS score
        FROM cands ORDER BY rel DESC, cand_id LIMIT 1
    )"""
    ]
    for s in range(2, MMR_K + 1):
        prev = f"sel{s - 1}"
        parts.append(
            f""",
    pick{s} AS (
        SELECT CAST({s} AS INTEGER) AS step, c.cand_id,
               {lam} * c.rel - (1 - {lam}) * m.ms AS score
        FROM cands c JOIN (
            SELECT s.sa AS cand_id, max(s.sim) AS ms FROM sims s
            WHERE s.sb IN (SELECT cand_id FROM {prev}) GROUP BY s.sa
        ) m ON m.cand_id = c.cand_id
        WHERE c.cand_id NOT IN (SELECT cand_id FROM {prev})
        ORDER BY score DESC, c.cand_id LIMIT 1
    ),
    sel{s} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{s})"""
        )
    parts.append(
        f"""
    SELECT step, cand_id, round(score, 6) AS score
    FROM sel{MMR_K} ORDER BY step
    """
    )
    return "".join(parts)


@register("mmr_diversified_topk", tags=("llm", "similarity"), oracle=_mmr_oracle())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein) diversified
    top-k: greedily pick the candidate maximizing
    ``λ·rel(c) − (1−λ)·max_sim(c, selected)`` — the standard re-rank that
    stops a retrieval page from returning eight near-copies of the same
    document. Inherently sequential, so the greedy loop is unrolled as
    ``MMR_K`` lazy TakeOrdered(1) stages over the cached candidate page —
    one DAG, no driver collect; the oracle unrolls the identical greedy
    chain in plain SQL.

    Scale shape: the distributed work is candidate generation (one corpus
    pass, TakeOrderedAndProject top-20); MMR itself runs on the page,
    whose size is the API contract (re-ranking is O(k·|page|) by
    definition). Determinism: rel/sim are round-6; the marginal score is
    a two-term double expression on identical literals, bit-equal across
    engines, with cand_id tiebreaks at every argmax."""
    lam = float(MMR_LAMBDA)
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("cand_id"),
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("rel"),
            "embedding",
        )
    )
    cands = (
        scored.orderBy(F.col("rel").desc(), "cand_id").limit(MMR_CANDS).cache()
    )
    a, b = cands.alias("a"), cands.alias("b")
    # single consumer since the r12 fold (the tagged union below) — no
    # cache; the pairwise page is recomputed zero extra times
    sims = a.join(
        b, F.col("a.cand_id") != F.col("b.cand_id")
    ).select(
        F.col("a.cand_id").alias("sa"),
        F.col("b.cand_id").alias("sb"),
        F.round(
            cosine(F.col("a.embedding"), F.col("b.embedding")), 6
        ).alias("sim"),
    )
    # The greedy chain runs over the BOUNDED page (MMR_CANDS rows + its
    # pairwise sim table), so the k-step selection is one bounded_fold.
    # rel and sim stay Spark-computed round-6 doubles; the fold replays
    # the argmax chain's two-term double arithmetic with the identical λ
    # literal and (score desc, cand_id) tiebreak, and the final round-6
    # stays a Spark expression.
    k_steps = MMR_K
    tagged = cands.select(
        F.lit(0).alias("is_sim"),
        F.col("cand_id").alias("ia"),
        F.lit(None).cast("long").alias("ib"),
        F.col("rel").alias("x"),
    ).unionByName(
        sims.select(
            F.lit(1).alias("is_sim"),
            F.col("sa").alias("ia"),
            F.col("sb").cast("long").alias("ib"),
            F.col("sim").alias("x"),
        )
    )

    def _mmr_fold(pdf):
        import pandas as pd

        rel = {}
        sim = {}
        for t, a, b, x in zip(
            pdf["is_sim"], pdf["ia"], pdf["ib"], pdf["x"]
        ):
            if t == 0:
                rel[int(a)] = float(x)
            else:
                sim[(int(a), int(b))] = float(x)
        # step 1: max rel, cand_id tiebreak
        first = min(rel, key=lambda c: (-rel[c], c))
        out = [(1, first, rel[first])]
        selected = [first]
        for step in range(2, k_steps + 1):
            best = None
            for c in sorted(rel):
                if c in selected:
                    continue
                pairs = [
                    sim[(c, s)] for s in selected if (c, s) in sim
                ]
                if not pairs:
                    continue  # the per-step ms join is inner
                ms = max(pairs)
                score = lam * rel[c] - (1 - lam) * ms
                if best is None or score > best[2] or (
                    score == best[2] and c < best[1]
                ):
                    best = (step, c, score)
            if best is None:
                break
            out.append(best)
            selected.append(best[1])
        return pd.DataFrame(
            {
                "step": [s for s, _, _ in out],
                "cand_id": [c for _, c, _ in out],
                "score": [v for _, _, v in out],
            }
        ).astype({"step": "int32", "cand_id": "int64"})

    sel = bounded_fold(
        tagged,
        _mmr_fold,
        "step int, cand_id long, score double",
        bound="the MMR_CANDS-row candidate page and its pairwise sims",
        max_rows=_MMR_FOLD_MAX_ROWS,
    )
    return sel.select(
        "step", "cand_id", F.round("score", 6).alias("score")
    ).orderBy("step")



# ---------------------------------------------------------------------------
# Product quantization (PQ) ADC top-k (round 5, wave 2)
# ---------------------------------------------------------------------------

PQ_M = 8  # subvectors
PQ_BITS = 4  # 2^4 = 16 codes per subvector
PQ_K = 1 << PQ_BITS
PQ_SUBDIM = DIM // PQ_M
PQ_NQ = 8  # query vectors (vec_id < PQ_NQ)
PQ_CANDS = 50  # ADC shortlist size per query


def _pq_plane_components(m: int, b: int) -> list[float]:
    """Sub-quantizer plane (m, b)'s components over the subspace,
    ``(h60('pqplane:m:b:d') % 2001 - 1000) / 1000`` — the deterministic
    plane family shared with ``ann_ivf_topk``/``_lsh_plane_matrix``."""
    import hashlib

    out = []
    for d in range(PQ_SUBDIM):
        h = int(
            hashlib.md5(f"pqplane:{m}:{b}:{d}".encode()).hexdigest()[:15], 16
        )
        out.append((h % 2001 - 1000) / 1000.0)
    return out


@register(
    "pq_adc_topk",
    tags=("llm", "similarity"),
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> x / sqrt(list_dot_product(
                                   CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])))) AS vh,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    planes AS (
        SELECT mm.m, bb.b, list(comp ORDER BY d) AS plane FROM (
            SELECT mm2.m, bb2.b, dd.d,
                   (({oracle_h60("'pqplane:' || mm2.m || ':' || bb2.b || ':' || dd.d")}
                     % 2001) - 1000) / 1000.0 AS comp
            FROM (SELECT unnest(range(0, {PQ_M})) AS m) mm2
            CROSS JOIN (SELECT unnest(range(0, {PQ_BITS})) AS b) bb2
            CROSS JOIN (SELECT unnest(range(0, {PQ_SUBDIM})) AS d) dd
        ) pc(m, b, d, comp)
        JOIN (SELECT unnest(range(0, {PQ_M})) AS m) mm USING (m)
        JOIN (SELECT unnest(range(0, {PQ_BITS})) AS b) bb USING (b)
        GROUP BY mm.m, bb.b
    ),
    subs AS (
        SELECT e.vec_id, mm.m,
               e.vh[mm.m * {PQ_SUBDIM} + 1 : mm.m * {PQ_SUBDIM} + {PQ_SUBDIM}]
                   AS sub
        FROM e CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) mm
    ),
    assigned AS (
        SELECT s.vec_id, s.m, s.sub,
               CAST(sum(CASE WHEN list_dot_product(s.sub, p.plane) >= 0
                             THEN 1 << p.b ELSE 0 END) AS BIGINT) AS cell
        FROM subs s JOIN planes p ON s.m = p.m
        GROUP BY s.vec_id, s.m, s.sub
    ),
    cellmeans AS (
        SELECT a.m, a.cell, dd.d AS dim,
               {oracle_dec_sum('a.sub[dd.d]')} / count(*) AS c
        FROM assigned a
        CROSS JOIN (SELECT unnest(range(1, {PQ_SUBDIM} + 1)) AS d) dd
        GROUP BY a.m, a.cell, dd.d
    ),
    cents AS (
        SELECT m, cell AS k, list(round(c, 6) ORDER BY dim) AS cent
        FROM cellmeans GROUP BY m, cell
    ),
    cn AS (SELECT m, k, cent, list_dot_product(cent, cent) AS cnorm FROM cents),
    sn AS (
        SELECT vec_id, m, sub, list_dot_product(sub, sub) AS snorm
        FROM assigned
    ),
    d2s AS (
        SELECT s.vec_id, s.m, c.k,
               round(s.snorm - 2 * list_dot_product(s.sub, c.cent) + c.cnorm,
                     6) AS d2
        FROM sn s JOIN cn c ON s.m = c.m
    ),
    codes AS (
        SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2, k) AS rn
            FROM d2s)
        WHERE rn = 1
    ),
    qsubs AS (
        SELECT e.vec_id AS query_id, mm.m,
               e.v[mm.m * {PQ_SUBDIM} + 1 : mm.m * {PQ_SUBDIM} + {PQ_SUBDIM}]
                   AS qsub
        FROM e CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) mm
        WHERE e.vec_id < {PQ_NQ}
    ),
    lut AS (
        SELECT q.query_id, q.m, c.k,
               round(list_dot_product(q.qsub, c.cent), 6) AS lv
        FROM qsubs q JOIN cn c ON q.m = c.m
    ),
    adc AS (
        SELECT l.query_id, co.vec_id,
               CAST(sum(CAST(l.lv AS DECIMAL(38, 6))) AS DOUBLE) AS adot
        FROM codes co JOIN lut l ON co.m = l.m AND co.k = l.k
        WHERE co.vec_id != l.query_id
        GROUP BY l.query_id, co.vec_id
    ),
    shortlist AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adot DESC, vec_id) AS arn
            FROM adc)
        WHERE arn <= {PQ_CANDS}
    ),
    rerank AS (
        SELECT s.query_id, s.vec_id AS neighbor_id,
               round(list_dot_product(qe.v, ne.v)
                     / sqrt(list_dot_product(qe.v, qe.v)
                            * list_dot_product(ne.v, ne.v)), 6) AS cos
        FROM shortlist s
        JOIN e qe ON qe.vec_id = s.query_id
        JOIN e ne ON ne.vec_id = s.vec_id
    )
    SELECT query_id, neighbor_id, cos,
           CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM rerank)
    WHERE rk <= 5 ORDER BY query_id, rk
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al.) with asymmetric distance
    computation: each NORMALIZED vector is compressed to ``PQ_M`` 4-bit
    codes (2 bytes per 64-dim vector — 128× smaller than float32), queries
    score the whole corpus from a per-query code→dot lookup table without
    touching raw vectors, and the ADC shortlist is exactly reranked.
    Because the quantized vector is v/||v||, the ADC sum approximates
    ``||q||·cos(q, v)`` — monotone in cosine per query, so the shortlist
    chases the right ranking.

    The sub-codebooks are DATA-ADAPTIVE yet deterministic, the
    ``ann_ivf_topk`` trick applied per subspace: 4 h60-derived sign
    planes split each subspace into 16 cells, and the codeword is the
    cell's decimal-exact mean — a one-pass, SQL-expressible "training"
    that replaces k-means, so the ENTIRE pipeline (normalize, assign,
    train, encode, LUT, ADC, rerank) has a hash-exact DuckDB twin;
    recall vs brute force is gated separately in tests.

    Scale shape: codebook training is one groupBy((m, cell), dim) decimal
    mean over subvectors; encoding is a broadcast join (codebook ≤ M·K
    rows) with the d2 computed via the norm identity (one subdim-16 dot
    per pair); ADC is code-table ⋈ broadcast LUT on integer keys with a
    decimal 4-term sum; rerank touches ``PQ_CANDS`` vectors per query.
    At 100 TB the point is the 2-byte code table: the whole corpus'
    codes fit in memory where raw embeddings cannot."""
    e = spread(  # cell assignment = 64 interpreted dot products/row
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    )
    inv_norm = F.lit(1.0) / F.sqrt(sq_norm(F.col("embedding")))
    ev = e.select(
        "vec_id",
        "embedding",
        F.transform(
            "embedding", lambda x: x.cast("double") * inv_norm
        ).alias("vh"),
    )
    # The 64 plane literals are emitted as ONE SQL expression string and
    # parsed JVM-side: building them as nested Column objects costs
    # thousands of py4j round-trips (~4s of pure plan construction,
    # measured); the parsed plan and its semantics are identical (the
    # dot is the same left-to-right zip_with/aggregate fold as dot()).
    def _dot_sql(a: str, comps: list[float]) -> str:
        arr = "array(" + ",".join(f"{c!r}D" for c in comps) + ")"
        return (
            f"aggregate(zip_with({a}, {arr}, (x, y) -> CAST(x AS DOUBLE)"
            " * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE),"
            " (acc, v) -> acc + v)"
        )

    def _sub_struct_sql(m: int) -> str:
        sub = f"slice(vh, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
        bits = " + ".join(
            f"(CASE WHEN {_dot_sql(sub, _pq_plane_components(m, b))} >= 0"
            f" THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for b in range(PQ_BITS)
        )
        return (
            f"struct(CAST({m} AS INT) AS m, {sub} AS sub, ({bits}) AS cell)"
        )

    structs = ",".join(_sub_struct_sql(m) for m in range(PQ_M))
    # the 64-dot assignment pass feeds codebook training AND the encode
    # distances; the codebook (cn, m x 256 cells) feeds the encode AND the
    # query LUT — cache both so the expensive pass runs once. assigned is
    # persist-ed, not checkpointed: one row per (vector, subspace) is
    # corpus volume, so keep a recompute path.
    assigned = persist_corpus(
        ev.select(
            "vec_id", F.expr(f"explode(array({structs}))").alias("ms")
        ).select(
            "vec_id",
            F.col("ms.m").alias("m"),
            F.col("ms.sub").alias("sub"),
            F.col("ms.cell").alias("cell"),
        )
    )

    cellmeans = (
        assigned.select(
            "m", "cell", F.posexplode("sub").alias("pos", "comp")
        )
        .select("m", "cell", (F.col("pos") + 1).alias("dim"), "comp")
        .groupBy("m", "cell", "dim")
        .agg((dec_sum("comp") / F.count("*")).alias("c"))
    )
    cents = cellmeans.groupBy("m", F.col("cell").alias("k")).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("dim", F.round("c", 6).alias("c")))
            ),
            lambda s: s.getField("c"),
        ).alias("cent")
    )
    cn = cents.select(
        "m", "k", "cent", dot(F.col("cent"), F.col("cent")).alias("cnorm")
    ).localCheckpoint()
    sn = assigned.withColumn("snorm", dot(F.col("sub"), F.col("sub")))
    d2s = sn.join(F.broadcast(cn), "m").select(
        "vec_id",
        "m",
        "k",
        F.round(
            F.col("snorm")
            - 2 * dot(F.col("sub"), F.col("cent"))
            + F.col("cnorm"),
            6,
        ).alias("d2"),
    )
    wassign = Window.partitionBy("vec_id", "m").orderBy("d2", "k")
    codes = (
        d2s.withColumn("rn", F.row_number().over(wassign))
        .where(F.col("rn") == 1)
        .select("vec_id", "m", "k")
    )
    # One pruned scan serves BOTH query surfaces (LUT subvectors and the
    # rerank query vectors): PQ_NQ rows is bounded by construction, so a
    # checkpoint is the right cache (was two separate filtered scans, and
    # the rerank side was UNFILTERED — broadcasting the whole embeddings
    # table, a 100 TB-scale bug even though the join key made it correct).
    # Local cost at sf0.1: ~+0.15s from the eager-checkpoint jobs vs the
    # two pushdown-pruned scans — accepted for the broadcast-size fix;
    # the pruned scans stop being free once the corpus outgrows one
    # row-group per file.
    qraw = checkpoint_bounded(
        e.where(F.col("vec_id") < PQ_NQ), bound=f"{PQ_NQ} query vectors"
    )
    qsubs = qraw.select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(
                            "embedding", m * PQ_SUBDIM + 1, PQ_SUBDIM
                        ).alias("qsub"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("ms"),
    ).select(
        "query_id", F.col("ms.m").alias("m"), F.col("ms.qsub").alias("qsub")
    )
    lut = qsubs.join(F.broadcast(cn), "m").select(
        "query_id",
        "m",
        "k",
        F.round(dot(F.col("qsub"), F.col("cent")), 6).alias("lv"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "k"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum(F.col("lv").cast("decimal(38,6)"))
            .cast("double")
            .alias("adot")
        )
    )
    wadc = Window.partitionBy("query_id").orderBy(
        F.col("adot").desc(), "vec_id"
    )
    shortlist = (
        adc.withColumn("arn", F.row_number().over(wadc))
        .where(F.col("arn") <= PQ_CANDS)
        .select("query_id", "vec_id")
    )
    qe = qraw.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    rerank = (
        shortlist.join(F.broadcast(qe), "query_id")
        .join(e, "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("embedding")), 6).alias("cos"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    return (
        rerank.withColumn("rk", F.row_number().over(wr).cast("long"))
        .where(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


@register(
    "contrastive_pair_mining",
    tags=("llm", "similarity"),
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    q AS (SELECT vec_id AS anchor_id, label AS alabel, v AS qv
          FROM e WHERE vec_id < 30),
    scored AS (
        SELECT q.anchor_id, q.alabel, e.vec_id, e.label,
               round(list_dot_product(q.qv, e.v)
                     / sqrt(list_dot_product(q.qv, q.qv)
                            * list_dot_product(e.v, e.v)), 6) AS cos
        FROM q CROSS JOIN e WHERE e.vec_id != q.anchor_id
    ),
    ranked AS (
        SELECT anchor_id, alabel, vec_id, cos,
               (label = alabel) AS same,
               row_number() OVER (PARTITION BY anchor_id, (label = alabel)
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM scored
    ),
    pos AS (SELECT anchor_id, alabel, vec_id AS pos_id, cos AS pos_cos
            FROM ranked WHERE same AND rn = 1),
    neg AS (SELECT anchor_id, vec_id AS neg_id, cos AS neg_cos
            FROM ranked WHERE NOT same AND rn = 1)
    SELECT p.anchor_id, CAST(p.alabel AS BIGINT) AS label,
           p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
           round(p.pos_cos - n.neg_cos, 6) AS margin
    FROM pos p JOIN neg n USING (anchor_id)
    ORDER BY anchor_id
    """,
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-pair mining for contrastive training (the triplet-mining step
    of embedding-model pipelines): for each anchor, the hardest positive
    (most-similar vector of the SAME label — the pair the model should
    pull together from the strongest starting point) and the hardest
    negative (most-similar vector of a DIFFERENT label — the confusable
    impostor it must push away), with the margin between them. Anchors
    with a non-positive margin are exactly the ones a trainer samples
    first.

    Scale shape: identical to ``cosine_topk`` — broadcast anchor set, one
    corpus pass, windows partitioned by (anchor, same-label flag); at
    corpus scale the pass is replaced by the LSH/PQ candidate generators
    already in this module (same rerank key), so the mining semantics
    here are the verification oracle for those."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    q = e.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("alabel"),
        F.col("embedding").alias("qv"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(spread(e))
        .where(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "alabel",
            "vec_id",
            (F.col("label") == F.col("alabel")).alias("same"),
            F.round(cosine(F.col("qv"), F.col("embedding")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("anchor_id", "same").orderBy(
        F.col("cos").desc(), "vec_id"
    )
    # ranked (≤2 rows per anchor) feeds both the positive and negative
    # branches — cache so the corpus pass + window run once, not twice.
    # persist, not localCheckpoint: anchors grow with the corpus.
    ranked = persist_corpus(
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    pos = ranked.where(F.col("same")).select(
        "anchor_id",
        F.col("alabel").cast("long").alias("label"),
        F.col("vec_id").alias("pos_id"),
        F.col("cos").alias("pos_cos"),
    )
    neg = ranked.where(~F.col("same")).select(
        "anchor_id",
        F.col("vec_id").alias("neg_id"),
        F.col("cos").alias("neg_cos"),
    )
    return (
        pos.join(neg, "anchor_id")
        .select(
            "anchor_id",
            "label",
            "pos_id",
            "pos_cos",
            "neg_id",
            "neg_cos",
            F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
        )
        .orderBy("anchor_id")
    )


@register(
    "matryoshka_truncation_eval",
    tags=("llm", "similarity"),
    defer=True,
    oracle=f"""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    dims AS (SELECT unnest([8, 16, 32]) AS d),
    per AS (
        SELECT d.d, b.vec_id,
               round(sqrt(
                   list_sum(list_transform(b.e[1:d.d], x -> x * x))
                   / list_sum(list_transform(b.e, x -> x * x))), 12)
                   AS cos_retained
        FROM base b CROSS JOIN dims d
        WHERE list_sum(list_transform(b.e, x -> x * x)) > 0
    )
    SELECT CAST(d AS BIGINT) AS trunc_dim,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST({oracle_dec_sum('cos_retained')} AS DOUBLE)
                 / count(*), 6) AS avg_cos_retained,
           round(min(cos_retained), 6) AS min_cos_retained,
           round(CAST(sum(CASE WHEN cos_retained >= 0.9 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS frac_ge_090
    FROM per GROUP BY d ORDER BY trunc_dim
    """,
)
def matryoshka_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: how much of each embedding's
    signal survives keeping only the first d dimensions? For a vector v,
    cos(v, v[:d] zero-padded) = ||v[:d]|| / ||v||, so the retained-cosine
    distribution per truncation width (8/16/32 of 64) tells a retrieval
    pipeline which storage tier it can afford — the decision behind
    shipping truncated embeddings to an ANN index (``ann_*_topk``) while
    keeping full vectors for rerank (``pq_adc_topk`` quantizes the same
    trade).

    Scale shape: one pass over embeddings fanned x3 by a literal dim
    array, all inside codegen (in-order HOF folds per row, no UDF, no
    shuffle beyond the 3-group aggregate). Per-row ratios are round-12
    (identical fold order both engines), means decimal-summed."""
    base = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
        )
        .where(sq_norm(F.col("e")) > 0)
    )
    per = base.select(
        F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("d"),
        F.round(
            F.sqrt(
                sq_norm(F.slice(F.col("e"), F.lit(1), F.col("d")))
                / sq_norm(F.col("e"))
            ),
            12,
        ).alias("cos_retained"),
    )
    n = F.count("*")
    return (
        per.groupBy(F.col("d").cast("long").alias("trunc_dim"))
        .agg(
            n.cast("long").alias("n_vecs"),
            F.round(dec_sum("cos_retained").cast("double") / n, 6).alias(
                "avg_cos_retained"
            ),
            F.round(F.min("cos_retained"), 6).alias("min_cos_retained"),
            F.round(
                F.sum(
                    F.when(F.col("cos_retained") >= 0.9, 1).otherwise(0)
                ).cast("double")
                / n,
                6,
            ).alias("frac_ge_090"),
        )
        .orderBy("trunc_dim")
    )


# ---------------------------------------------------------------------------
# Wave 17: Johnson-Lindenstrauss distortion audit + silhouette eval
# ---------------------------------------------------------------------------

_JL_K = 16
_JL_SLICE = 80


def _jl_signs(k: int = _JL_K, dim: int = DIM) -> list[list[int]]:
    """±1 Rademacher projection matrix derived from md5 (the h60 family),
    computed with hashlib so it is a shared Python constant both the Spark
    exprs and the oracle SQL embed as literals."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"jl:{p}:{d}".encode()).hexdigest()[:15], 16)
            % 2
            == 0
            else -1
            for d in range(dim)
        ]
        for p in range(k)
    ]


def _jl_proj_exprs(one_based: bool) -> list[str]:
    """``round(±x_0 ±x_1 ..., 12) / 4.0 AS y{p}`` — identical formula text
    for both engines modulo the engine's array base; /4.0 = 1/sqrt(16) is a
    power of two, so the scaling is exact."""
    signs = _jl_signs()
    base = 1 if one_based else 0
    out = []
    for p, row in enumerate(signs):
        terms = []
        for d, s in enumerate(row):
            t = f"CAST(embedding[{d + base}] AS DOUBLE)"
            terms.append(("+ " if s > 0 else "- ") + t)
        body = " ".join(terms).lstrip("+ ").strip()
        if row[0] < 0:
            body = "- " + f"CAST(embedding[{base}] AS DOUBLE) " + " ".join(
                terms[1:]
            )
        out.append(f"round({body}, 12) / 4.0 AS y{p}")
    return out


def _jl_pair_dist_exprs() -> tuple[str, str]:
    d2p = " + ".join(
        f"(a.y{p} - b.y{p}) * (a.y{p} - b.y{p})" for p in range(_JL_K)
    )
    return (
        "(a.n2 + b.n2 - 2 * dab)",
        f"round({d2p}, 12)",
    )


@register(
    "jl_projection_distortion",
    tags=("llm", "similarity"),
    defer=True,
    oracle=f"""
    WITH sl AS (
        SELECT vec_id,
               CAST(embedding AS DOUBLE[]) AS v,
               round(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])), 12) AS n2,
               {", ".join(_jl_proj_exprs(one_based=True))}
        FROM embeddings WHERE vec_id < {_JL_SLICE}
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_jl_pair_dist_exprs()[0].replace("dab",
                   "round(list_dot_product(a.v, b.v), 12)")} AS d2_orig,
               {_jl_pair_dist_exprs()[1]} AS d2_proj
        FROM sl a JOIN sl b ON a.vec_id < b.vec_id
    ),
    ratios AS MATERIALIZED (
        SELECT round(d2_proj / d2_orig, 6) AS ratio
        FROM pairs WHERE d2_orig > 1e-9
    ),
    hist AS (
        SELECT CAST(floor(ratio * 10.0) AS BIGINT) AS ratio_bin,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM ratios GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               round({oracle_dec_sum('round(ratio, 12)')} / count(*), 6)
                   + 0.0 AS mean_ratio
        FROM ratios
    )
    SELECT ratio_bin, n_pairs, n_total, mean_ratio
    FROM hist CROSS JOIN tot ORDER BY ratio_bin
    """,
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss audit: project 64-d embeddings to 16-d with a
    deterministic ±1 Rademacher matrix (scale 1/√16 = exact /4.0) and
    histogram the pairwise squared-distance ratio d²_proj/d²_orig over a
    bounded slice — the empirical-distortion readout that justifies running
    ANN/dedup candidate generation in the cheap projected space at 100 TB
    (JL: ratios concentrate near 1 independent of corpus size).

    Determinism: projections are round-12 fixed-order ±sums; original
    distances use the polarization identity on round-12 dot products
    (matching ``list_dot_product``'s left-to-right fold); ratios round-6.

    Scale shape: the projection is one narrow map (16 doubles/row replaces
    64) — at 100 TB this runs corpus-wide. Only the *audit histogram* needs
    pairs, so it runs on a fixed slice (here id<80 -> 3 160 pairs;
    production: a deterministic h60 sample), and the distribution estimate
    is sample-size-, not corpus-size-, bound."""
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _JL_SLICE
    )
    sl = e.selectExpr(
        "vec_id",
        "embedding",
        "round(aggregate(embedding, CAST(0.0 AS DOUBLE),"
        " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 12)"
        " AS n2",
        *_jl_proj_exprs(one_based=False),
    )
    # 80 rows; cut the 16x64-term projection exprs out of the pair-join
    # codegen (they would otherwise inline TWICE into a multi-MB stage).
    sl = sl.localCheckpoint()
    a = sl.alias("a")
    b = sl.alias("b")
    d2o_tpl, d2p = _jl_pair_dist_exprs()
    dab = (
        "round(aggregate(zip_with(a.embedding, b.embedding,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 12)"
    )
    pairs = (
        a.join(F.broadcast(b), F.expr("a.vec_id < b.vec_id"))
        .selectExpr(
            "a.vec_id AS id_a",
            "b.vec_id AS id_b",
            f"{d2o_tpl.replace('dab', dab)} AS d2_orig",
            f"{d2p} AS d2_proj",
        )
    )
    ratios = pairs.where(F.col("d2_orig") > 1e-9).select(
        F.round(F.col("d2_proj") / F.col("d2_orig"), 6).alias("ratio")
    )
    hist = ratios.groupBy(
        F.floor(F.col("ratio") * 10.0).cast("long").alias("ratio_bin")
    ).agg(F.count("*").cast("long").alias("n_pairs"))
    tot = ratios.agg(
        F.count("*").cast("long").alias("n_total"),
        (
            F.round(dec_sum(F.round(F.col("ratio"), 12)) / F.count("*"), 6)
            + 0.0
        ).alias("mean_ratio"),
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select("ratio_bin", "n_pairs", "n_total", "mean_ratio")
        .orderBy("ratio_bin")
    )


def _silhouette_centroid_sums(one_based: bool) -> list[str]:
    """Per-dimension decimal centroid sums; the oracle reads the already
    DOUBLE[]-cast column ``v`` (1-based), Spark the raw float array
    ``embedding`` (0-based, cast per element) — identical values."""
    if one_based:
        return [
            f"CAST(SUM(CAST(v[{d + 1}] AS DECIMAL(20,6))) AS DOUBLE) AS s{d}"
            for d in range(DIM)
        ]
    return [
        f"CAST(SUM(CAST(CAST(embedding[{d}] AS DOUBLE)"
        f" AS DECIMAL(20,6))) AS DOUBLE) AS s{d}"
        for d in range(DIM)
    ]


@register(
    "clustering_silhouette_eval",
    tags=("llm", "similarity", "eval"),
    defer=True,
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    cent AS MATERIALIZED (
        SELECT label AS clabel, CAST(count(*) AS BIGINT) AS cn,
               {", ".join(_silhouette_centroid_sums(one_based=True))}
        FROM e GROUP BY label
    ),
    carr AS MATERIALIZED (
        SELECT clabel, cn,
               [{", ".join(f"round(s{d} / cn, 12)" for d in range(DIM))}] AS c
        FROM cent
    ),
    dists AS MATERIALIZED (
        SELECT e.vec_id, e.label, carr.clabel,
               sqrt(greatest(
                   round(list_dot_product(e.v, e.v), 12)
                   - 2 * round(list_dot_product(e.v, carr.c), 12)
                   + round(list_dot_product(carr.c, carr.c), 12), 0.0))
                   AS dist
        FROM e CROSS JOIN carr
    ),
    per_vec AS MATERIALIZED (
        SELECT vec_id, label,
               max(CASE WHEN clabel = label THEN dist END) AS a_own,
               min(CASE WHEN clabel != label THEN dist END) AS b_other
        FROM dists GROUP BY vec_id, label
    ),
    sil AS MATERIALIZED (
        SELECT label,
               round((b_other - a_own) / greatest(a_own, b_other), 12) AS s,
               round(a_own, 12) AS a12
        FROM per_vec
    )
    SELECT * FROM (
        SELECT label, CAST(count(*) AS BIGINT) AS n,
               round({oracle_dec_sum('s')} / count(*), 6) + 0.0
                   AS mean_silhouette,
               round({oracle_dec_sum('a12')} / count(*), 6) + 0.0
                   AS mean_own_dist
        FROM sil GROUP BY label
        UNION ALL
        SELECT -1 AS label, CAST(count(*) AS BIGINT) AS n,
               round({oracle_dec_sum('s')} / count(*), 6) + 0.0,
               round({oracle_dec_sum('a12')} / count(*), 6) + 0.0
        FROM sil
    ) ORDER BY label
    """,
)
def clustering_silhouette_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per label and overall
    (label -1) — the clustering-quality readout an embedding pipeline
    publishes to decide whether label/topic assignments are separable
    enough to drive curation. Uses the medoid-free simplified silhouette
    s = (b - a)/max(a, b) with a = distance to own centroid, b = nearest
    other centroid, which needs only n·k distances (never the O(n²)
    pairwise form — THE difference between a metric that runs at 100 TB
    and one that doesn't).

    Determinism: centroid components are decimal-mean round-12 doubles;
    distances use round-12 dot products (left-to-right fold ==
    ``list_dot_product``) under an IEEE-exact sqrt; per-vector s rounds-12
    before the order-free decimal mean.

    Scale shape: one groupBy(label) pass builds k centroids (map-side
    combine over 64 decimal sums), the k-row centroid table broadcasts,
    and one more pass scores every vector — shuffle volume is k rows plus
    the final k-row aggregate."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.col("embedding"),
    )
    cent = e.groupBy(F.col("label").alias("clabel")).agg(
        F.count("*").cast("long").alias("cn"),
        *[
            F.expr(x)
            for x in [
                s.replace(" AS s", " AS s")
                for s in _silhouette_centroid_sums(one_based=False)
            ]
        ],
    )
    carr = cent.selectExpr(
        "clabel",
        "cn",
        "array("
        + ", ".join(f"round(s{d} / cn, 12)" for d in range(DIM))
        + ") AS c",
    ).localCheckpoint()
    dvc = dot(F.col("embedding"), F.col("c"))
    d2 = (
        F.round(sq_norm(F.col("embedding")), 12)
        - 2 * F.round(dvc, 12)
        + F.round(dot(F.col("c"), F.col("c")), 12)
    )
    dists = e.crossJoin(F.broadcast(carr)).select(
        "vec_id",
        "label",
        "clabel",
        F.sqrt(F.greatest(d2, F.lit(0.0))).alias("dist"),
    )
    per_vec = dists.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("dist"))
        ).alias("a_own"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.col("dist"))
        ).alias("b_other"),
    )
    sil = per_vec.select(
        "label",
        F.round(
            (F.col("b_other") - F.col("a_own"))
            / F.greatest(F.col("a_own"), F.col("b_other")),
            12,
        ).alias("s"),
        F.round(F.col("a_own"), 12).alias("a12"),
    )

    def _agg(g):
        return g.agg(
            F.count("*").cast("long").alias("n"),
            (F.round(dec_sum("s") / F.count("*"), 6) + 0.0).alias(
                "mean_silhouette"
            ),
            (F.round(dec_sum("a12") / F.count("*"), 6) + 0.0).alias(
                "mean_own_dist"
            ),
        )

    per_label = _agg(sil.groupBy("label"))
    overall = _agg(sil.groupBy(F.lit(-1).cast("long").alias("label")))
    return per_label.unionByName(overall).orderBy("label")


def _ari_plane_sqls(bits: int = 6) -> tuple[list[str], list[str]]:
    """Per-plane dot-product sign exprs for Spark (0-based ``aggregate``
    fold) and DuckDB (``list_dot_product`` over a literal plane array) —
    both left-to-right folds over identical double literals, so the sign
    decision is bit-identical even adjacent to zero."""
    planes = _lsh_plane_matrix(1, bits)
    spark_exprs, duck_exprs = [], []
    for b in range(bits):
        lits = ", ".join(f"{c!r}D" for c in planes[b])
        dlits = ", ".join(repr(c) for c in planes[b])
        spark_exprs.append(
            f"CASE WHEN aggregate(zip_with(embedding, array({lits}),"
            " (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE),"
            f" (acc, v) -> acc + v) >= 0.0 THEN {1 << b} ELSE 0 END"
        )
        duck_exprs.append(
            f"CASE WHEN list_dot_product(v, [{dlits}]) >= 0.0"
            f" THEN {1 << b} ELSE 0 END"
        )
    return spark_exprs, duck_exprs


@register(
    "cluster_label_ari",
    tags=("llm", "similarity", "eval"),
    defer=True,
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    assign AS (
        SELECT label, {" + ".join(_ari_plane_sqls()[1])} AS cluster
        FROM e
    ),
    cont AS (
        SELECT cluster, label, CAST(count(*) AS BIGINT) AS nij
        FROM assign GROUP BY cluster, label
    ),
    parts AS (
        SELECT CAST(sum(nij) AS BIGINT) AS n,
               CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
               CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
               CAST(sum(nij * (nij - 1) / 2) AS BIGINT) AS s_ij
        FROM cont
    ),
    marg AS (
        SELECT
            (SELECT CAST(sum(ai * (ai - 1) / 2) AS BIGINT) FROM (
                SELECT sum(nij) AS ai FROM cont GROUP BY cluster)) AS s_a,
            (SELECT CAST(sum(bj * (bj - 1) / 2) AS BIGINT) FROM (
                SELECT sum(nij) AS bj FROM cont GROUP BY label)) AS s_b
    )
    SELECT n, n_clusters, n_labels, s_ij, s_a, s_b,
           round((s_ij - CAST(s_a AS DOUBLE) * s_b / (n * (n - 1) / 2))
                 / ((CAST(s_a AS DOUBLE) + s_b) / 2
                    - CAST(s_a AS DOUBLE) * s_b / (n * (n - 1) / 2)), 6)
               + 0.0 AS ari
    FROM parts CROSS JOIN marg
    """,
)
def cluster_label_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between a deterministic sign-LSH clustering
    (one 6-bit table -> up to 64 buckets) and the embedding labels — the
    external-validity readout a curation pipeline uses to decide whether
    cheap hash clusters track semantic labels well enough to drive
    stratification. ARI = (Σ C(n_ij,2) − E) / (½(Σ C(a_i,2) + Σ C(b_j,2))
    − E) with E the permutation expectation; everything except the final
    division stays BIGINT (pair counts from the contingency table).

    Scale shape: one scan -> (cluster, label) contingency (map-side
    combine; ≤ 64·k cells regardless of corpus size), then scalar math on
    the tiny table. The sign bits come from fixed-order fold dot products
    against literal planes, bit-identical cross-engine."""
    spark_exprs, _ = _ari_plane_sqls()
    e = load_table(spark, sf_dir, "embeddings")
    assign = e.selectExpr(
        "CAST(label AS BIGINT) AS label",
        " + ".join(spark_exprs) + " AS cluster",
    )
    # the ≤64·k-cell contingency feeds three aggregates — checkpoint so
    # the sign-plane scan runs once (executed-plan audit: 3 scans)
    cont = assign.groupBy("cluster", "label").agg(
        F.count("*").cast("long").alias("nij")
    ).localCheckpoint()
    parts = cont.agg(
        F.sum("nij").cast("long").alias("n"),
        F.countDistinct("cluster").cast("long").alias("n_clusters"),
        F.countDistinct("label").cast("long").alias("n_labels"),
        F.sum(F.col("nij") * (F.col("nij") - 1) / 2)
        .cast("long")
        .alias("s_ij"),
    )
    s_a = (
        cont.groupBy("cluster")
        .agg(F.sum("nij").alias("ai"))
        .agg(
            F.sum(F.col("ai") * (F.col("ai") - 1) / 2)
            .cast("long")
            .alias("s_a")
        )
    )
    s_b = (
        cont.groupBy("label")
        .agg(F.sum("nij").alias("bj"))
        .agg(
            F.sum(F.col("bj") * (F.col("bj") - 1) / 2)
            .cast("long")
            .alias("s_b")
        )
    )
    exp = (
        F.col("s_a").cast("double") * F.col("s_b")
        / (F.col("n") * (F.col("n") - 1) / 2)
    )
    return (
        parts.crossJoin(F.broadcast(s_a))
        .crossJoin(F.broadcast(s_b))
        .select(
            "n",
            "n_clusters",
            "n_labels",
            "s_ij",
            "s_a",
            "s_b",
            (
                F.round(
                    (F.col("s_ij") - exp)
                    / (
                        (F.col("s_a").cast("double") + F.col("s_b")) / 2
                        - exp
                    ),
                    6,
                )
                + 0.0
            ).alias("ari"),
        )
    )


@register(
    "ivf_list_balance_audit",
    tags=("llm", "similarity", "ops"),
    defer=True,
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    planes AS (
        SELECT p, list(comp ORDER BY d) AS plane FROM (
            SELECT pp.p, dd.d,
                   (({oracle_h60("'ivfplane:' || pp.p || ':' || dd.d")}
                     % 2001) - 1000) / 1000.0 AS comp
            FROM (SELECT unnest(range(0, {IVF_PLANES})) AS p) pp
            CROSS JOIN (SELECT unnest(range(0, {DIM})) AS d) dd
        ) GROUP BY p
    ),
    assigned AS (
        SELECT e.vec_id,
               CAST(sum(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
                             THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS cell
        FROM e CROSS JOIN planes pl GROUP BY e.vec_id
    ),
    lists AS MATERIALIZED (
        SELECT cell, CAST(count(*) AS BIGINT) AS list_size
        FROM assigned GROUP BY cell
    ),
    ranked AS (
        SELECT list_size,
               row_number() OVER (ORDER BY list_size DESC, cell)
                   AS rk
        FROM lists
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lists,
           CAST(sum(list_size) AS BIGINT) AS n_vectors,
           CAST(min(list_size) AS BIGINT) AS min_list,
           CAST(max(list_size) AS BIGINT) AS max_list,
           round(CAST(max(list_size) AS DOUBLE)
                 / (CAST(sum(list_size) AS DOUBLE) / count(*)), 6)
               AS imbalance,
           CAST((SELECT sum(list_size) FROM ranked
                 WHERE rk <= {IVF_NPROBE}) AS BIGINT)
               AS worst_probe_scan
    FROM lists
    """,
)
def ivf_list_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-build introspection for the IVF quantizer: inverted-list size
    distribution, imbalance factor (max/mean), and the worst-case probe
    scan cost (sum of the NPROBE largest lists) — the report an ANN
    index-build job publishes to decide whether to add planes before
    serving. A skewed quantizer silently turns "probe 6 of 16 lists" into
    "scan half the corpus"; this query is the guard.

    Scale shape: assignment is the same 4-literal-plane codegen map as
    ``ann_ivf_topk`` (no training pass), then one groupBy(cell) with
    map-side combine — 2^planes rows of shuffle regardless of corpus
    size; the ranked window runs over that tiny aggregated table."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cell = F.lit(0).cast("long")
    for p in range(IVF_PLANES):
        plane = F.array(*[F.lit(c) for c in _ivf_plane_components(p)])
        cell = cell + F.when(
            dot(F.col("embedding"), plane) >= 0, F.lit(1 << p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    lists = (
        e.select(cell.alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("list_size"))
    )
    ranked = lists.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("list_size").desc(), F.col("cell"))
        ),
    )
    probe_cost = ranked.where(F.col("rk") <= IVF_NPROBE).agg(
        F.sum("list_size").cast("long").alias("worst_probe_scan")
    )
    stats = lists.agg(
        F.count("*").cast("long").alias("n_lists"),
        F.sum("list_size").cast("long").alias("n_vectors"),
        F.min("list_size").cast("long").alias("min_list"),
        F.max("list_size").cast("long").alias("max_list"),
        F.round(
            F.max("list_size").cast("double")
            / (F.sum("list_size").cast("double") / F.count("*")),
            6,
        ).alias("imbalance"),
    )
    return stats.crossJoin(F.broadcast(probe_cost)).select(
        "n_lists",
        "n_vectors",
        "min_list",
        "max_list",
        "imbalance",
        "worst_probe_scan",
    )


@register(
    "embedding_source_drift",
    tags=("llm", "similarity", "eval"),
    defer=True,
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    c0 AS MATERIALIZED (
        SELECT label, CAST(count(*) AS BIGINT) AS cn,
               {", ".join(_silhouette_centroid_sums(one_based=True))}
        FROM e WHERE vec_id % 2 = 0 GROUP BY label
    ),
    c1 AS MATERIALIZED (
        SELECT label, CAST(count(*) AS BIGINT) AS cn,
               {", ".join(_silhouette_centroid_sums(one_based=True))}
        FROM e WHERE vec_id % 2 = 1 GROUP BY label
    ),
    a0 AS (
        SELECT label, cn AS n0,
               [{", ".join(f"round(s{d} / cn, 12)" for d in range(DIM))}]
                   AS c
        FROM c0
    ),
    a1 AS (
        SELECT label, cn AS n1,
               [{", ".join(f"round(s{d} / cn, 12)" for d in range(DIM))}]
                   AS c
        FROM c1
    )
    SELECT a0.label, a0.n0, a1.n1,
           round(list_dot_product(a0.c, a1.c)
                 / sqrt(list_dot_product(a0.c, a0.c)
                        * list_dot_product(a1.c, a1.c)), 6) + 0.0
               AS centroid_cosine,
           round(list_max(list_transform(range(1, {DIM} + 1),
                 i -> abs(a0.c[i] - a1.c[i]))), 6) + 0.0
               AS max_dim_shift
    FROM a0 JOIN a1 USING (label) ORDER BY a0.label
    """,
)
def embedding_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift readout between two snapshots (vec_id parity
    stands in for "last week's embedding run vs this week's"): per-label
    centroid cosine and the largest per-dimension centroid shift — the
    guard an embedding pipeline runs after a model or corpus update
    before trusting cached ANN indexes (cosine ≈ 1 and small shifts →
    indexes stay valid; a drifted label → re-embed/re-index that slice).

    Centroids are decimal-mean round-12 doubles; the cosine rides the
    fixed-order dot fold (== list_dot_product). Scale shape: two
    groupBy(label) centroid passes (map-side combined, k rows out) and a
    k-row join — corpus size only enters the scans."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label"), "embedding"
    )

    # ONE corpus pass: centroids for both snapshots come from a single
    # groupBy(label, parity) (checkpointed — each parity slice is then a
    # filter over k·2 rows), instead of two full scans filtered by parity
    centp = (
        e.groupBy("label", (F.col("vec_id") % 2).alias("par"))
        .agg(
            F.count("*").cast("long").alias("cn"),
            *[F.expr(x) for x in _silhouette_centroid_sums(one_based=False)],
        )
        .localCheckpoint()
    )

    def _cents(parity: int, n_name: str, c_name: str) -> DataFrame:
        return centp.where(F.col("par") == parity).selectExpr(
            "label",
            f"cn AS {n_name}",
            "array("
            + ", ".join(f"round(s{d} / cn, 12)" for d in range(DIM))
            + f") AS {c_name}",
        )

    a0 = _cents(0, "n0", "c0")
    a1 = _cents(1, "n1", "c1")
    cos = dot(F.col("c0"), F.col("c1")) / F.sqrt(
        sq_norm(F.col("c0")) * sq_norm(F.col("c1"))
    )
    shift = F.array_max(
        F.zip_with(F.col("c0"), F.col("c1"), lambda x, y: F.abs(x - y))
    )
    return (
        a0.join(a1, "label")
        .select(
            "label",
            "n0",
            "n1",
            (F.round(cos, 6) + 0.0).alias("centroid_cosine"),
            (F.round(shift, 6) + 0.0).alias("max_dim_shift"),
        )
        .orderBy("label")
    )


@register(
    "vector_index_delta_incremental",
    tags=("similarity", "lakehouse"),
    defer=True,
    oracle="""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    hs AS (
        SELECT vec_id, v,
               (('0x' || substr(md5('ivfseed:' || CAST(vec_id AS VARCHAR)),
                                1, 15))::BIGINT) AS h
        FROM e
    ),
    seeds AS (
        SELECT cell, v FROM (
            SELECT v, row_number() OVER (ORDER BY h, vec_id) AS cell
            FROM hs
        ) WHERE cell <= 16
    ),
    assign AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, s.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(CAST(list_dot_product(e.v, s.v) AS DOUBLE), 12)
                                DESC, s.cell
                   ) AS rk
            FROM e, seeds s
        ) WHERE rk = 1
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (1, 2, 3)),
    probes AS (
        SELECT qid, cell FROM (
            SELECT q.qid, s.cell,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round(CAST(list_dot_product(q.qv, s.v) AS DOUBLE), 12)
                                DESC, s.cell
                   ) AS prk
            FROM q, seeds s
        ) WHERE prk <= 6
    ),
    scored AS (
        SELECT qid, vec_id, sim,
               row_number() OVER (
                   PARTITION BY qid ORDER BY sim DESC, vec_id
               ) AS rank
        FROM (
            SELECT DISTINCT p.qid, a.vec_id,
                   round(CAST(list_dot_product(q.qv, e.v) AS DOUBLE), 6) AS sim
            FROM probes p
            JOIN assign a ON a.cell = p.cell
            JOIN q ON q.qid = p.qid
            JOIN e ON e.vec_id = a.vec_id
        )
    )
    SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
           CAST(vec_id AS BIGINT) AS vec_id, sim
    FROM scored WHERE rank <= 5 ORDER BY qid, rank
    """,
)
def vector_index_delta_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """An IVF vector index PERSISTED IN THE LAKEHOUSE and maintained
    incrementally (r9 — the composite of the similarity tier and the
    delta_lite log): centroids are 16 h60-seeded vectors (deterministic,
    cross-engine reproducible — no kmeans nondeterminism), the
    assignment table is a delta_lite table built in TWO commits — the
    base slice (vec_id %% 5 != 0), then the remainder APPENDED against
    the frozen centroids, which is exactly how a production vector index
    absorbs new embeddings without re-indexing (commit cost O(new
    vectors); the log gives atomic visibility and time travel over index
    generations). Search reads the index back, probes the top-6 of 16
    cells per query, and exact-reranks the candidates.

    The ENTIRE pipeline — seeding, assignment argmax, cell probing,
    rerank — is replicated in the DuckDB oracle via the h60 hash (the
    round-1 MinHash recipe), so the driver hash-checks the index
    contents and the search result, not just row counts.

    Scale shape: assignment is the standard O(N·K) IVF cost with K=16
    broadcast; per-query work is bounded by the probed cells' candidate
    count; the only windows are per-vec_id / per-qid (hash-partitioned,
    never global). The seed selection is a TakeOrdered top-16, not a
    global sort."""
    import tempfile

    from tscd_datalake_adapter_spark.sources.delta_lite import (
        read_delta,
        write_delta,
    )

    emb = persist_corpus(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").alias("v")
        )
    )
    h = h60(F.concat(F.lit("ivfseed:"), F.col("vec_id").cast("string")))
    seed16 = emb.select("vec_id", "v", h.alias("h")).orderBy(
        "h", "vec_id"
    ).limit(16)
    cents = seed16.select(
        F.row_number()
        .over(Window.orderBy("h", "vec_id"))
        .cast("long")
        .alias("cell"),
        F.col("v").alias("cv"),
    )

    def assign(df: DataFrame) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "cell",
            F.round(dot(F.col("v"), F.col("cv")), 12).alias("s"),
        )
        wv = Window.partitionBy("vec_id").orderBy(
            F.col("s").desc(), F.col("cell")
        )
        return (
            scored.withColumn("rk", F.row_number().over(wv))
            .where(F.col("rk") == 1)
            .select("vec_id", "cell")
        )

    path = tempfile.mkdtemp(prefix="tscd_vecidx_") + "/index"
    write_delta(
        assign(emb.where(F.col("vec_id") % 5 != 0)),
        path,
        mode="overwrite",
        operation="INDEX_BUILD",
    )
    write_delta(
        assign(emb.where(F.col("vec_id") % 5 == 0)),
        path,
        mode="append",
        operation="INDEX_APPEND",
    )
    index = read_delta(spark, path)

    q = emb.where(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("ps").desc(), F.col("cell")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "qid",
            "qv",
            "cell",
            F.round(dot(F.col("qv"), F.col("cv")), 12).alias("ps"),
        )
        .withColumn("prk", F.row_number().over(wq))
        .where(F.col("prk") <= 6)
        .select("qid", "qv", "cell")
    )
    cand = probes.join(index, "cell").select("qid", "qv", "vec_id")
    scored = cand.join(emb, "vec_id").select(
        "qid",
        "vec_id",
        F.round(dot(F.col("qv"), F.col("v")), 6).alias("sim"),
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= 5)
        .select(
            F.col("qid").cast("long").alias("qid"),
            "rank",
            F.col("vec_id").cast("long").alias("vec_id"),
            "sim",
        )
        .orderBy("qid", "rank")
    )
