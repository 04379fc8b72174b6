"""UDF / UDAF / UDTF surface (SURVEY.md §2.2 UDF block).

Demonstrates every Python-extension tier with *oracle-checkable* semantics —
each UDF computes something SQL-expressible so the DuckDB twin can verify the
plumbing end-to-end:

- scalar Python UDF (row-at-a-time — the slow path, kept off hot loops),
- vectorized ``pandas_udf`` (Arrow batches — the 10-100× faster form),
- grouped-map ``applyInPandas`` (per-group pandas transform),
- grouped-agg ``pandas_udf`` (vectorized custom aggregate),
- UDTF-shaped expansion via ``posexplode`` (plus Python UDTF in tests where
  supported).

The scalar UDF implements the reference's Gutenberg marker-split (R2,
``IngestionService.java:54-60``) — the one genuinely custom scalar in the
reference — reusing the exact parity-tested pure function.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tscd_datalake_adapter_spark.functions import spark_decimal, spark_round
from tscd_datalake_adapter_spark.lake.gutenberg import split_book
from tscd_datalake_adapter_spark.operators import register
from tscd_datalake_adapter_spark.sources import load_table

_SPLIT_SCHEMA = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("header", T.StringType()),
        T.StructField("body", T.StringType()),
    ]
)


@F.udf(returnType=_SPLIT_SCHEMA)
def gutenberg_split_udf(txt: str):
    r = split_book(txt or "")
    return (r.ok, r.header, r.body)


@register(
    "udf_gutenberg_split",
    tags=("udf", "ingest"),
    oracle="""
    WITH wrapped AS (
        SELECT doc_id, text,
               'Title of doc ' || CAST(doc_id AS VARCHAR) || chr(10)
               || '*** START OF THE PROJECT GUTENBERG EBOOK DOC ***' || chr(10)
               || text || chr(10)
               || '*** END OF THE PROJECT GUTENBERG EBOOK DOC ***' || chr(10)
               || 'trailer' AS raw
        FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           TRUE AS ok,
           'Title of doc ' || CAST(doc_id AS VARCHAR) || chr(10)
               || '*** START OF THE PROJECT GUTENBERG EBOOK' AS header,
           'DOC ***' || chr(10) || text AS body
    FROM wrapped ORDER BY doc_id
    """,
)
def udf_gutenberg_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Python UDF running the reference's marker split over
    synthesized Gutenberg-framed documents. The oracle states the *expected*
    split algebraically (header keeps the marker prefix; body keeps the
    title tail — SURVEY.md §1.1), so UDF semantics are hash-verified."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    nl = F.lit("\n")
    raw = F.concat(
        F.lit("Title of doc "),
        F.col("doc_id").cast("string"),
        nl,
        F.lit("*** START OF THE PROJECT GUTENBERG EBOOK DOC ***"),
        nl,
        F.col("text"),
        nl,
        F.lit("*** END OF THE PROJECT GUTENBERG EBOOK DOC ***"),
        nl,
        F.lit("trailer"),
    )
    split = gutenberg_split_udf(raw).alias("s")
    return (
        d.select("doc_id", split)
        .select(
            "doc_id",
            F.col("s.ok").alias("ok"),
            F.col("s.header").alias("header"),
            F.col("s.body").alias("body"),
        )
        .orderBy("doc_id")
    )


@F.pandas_udf(T.DoubleType())
def _discounted_price(ext: pd.Series, disc: pd.Series) -> pd.Series:
    return ext * (1.0 - disc)


@register(
    "pandas_udf_discounted_price",
    tags=("udf",),
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS disc_price
    FROM lineitem WHERE l_orderkey < 50 ORDER BY l_orderkey, l_linenumber
    """,
)
def pandas_udf_discounted_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF (Arrow batches): numpy double arithmetic
    is IEEE-identical to the engines', so results hash-match exactly."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 50)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(_discounted_price("l_extendedprice", "l_discount"), 4).alias(
            "disc_price"
        ),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "grouped_map_demean",
    tags=("udf",),
    oracle="""
    SELECT c_custkey, c_nationkey,
           round(c_acctbal - CAST(
               (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                       / COUNT(*)
                FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
               AS DOUBLE), 4) AS acctbal_demeaned
    FROM customer c WHERE c_custkey < 300
    ORDER BY c_custkey
    """,
)
def grouped_map_demean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas``: per-nation account-balance de-meaning.

    The group mean replicates the engine's decimal(38,6) exact-sum semantics
    in Python (:func:`_decimal_sum`) and rounds with
    :func:`functions.spark_round`, so it matches the decimal-sum oracle
    bit-for-bit. At scale each nation group is one Arrow batch; groups
    shuffle once on the key."""
    # project BEFORE the grouped-map: Catalyst cannot prune columns
    # through the Python barrier (the UDF could read any field), so an
    # unprojected input scans AND Arrow-ships every column (the
    # column-prune audit caught all 5 of customer for this 3-column UDF)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )

    def _demean(pdf: pd.DataFrame) -> pd.DataFrame:
        mean = float(_decimal_sum(pdf["c_acctbal"])) / len(pdf)
        out = pdf[pdf["c_custkey"] < 300][["c_custkey", "c_nationkey"]].copy()
        vals = pdf.loc[pdf["c_custkey"] < 300, "c_acctbal"] - mean
        out["acctbal_demeaned"] = [spark_round(v, 4) for v in vals]
        return out

    return (
        cust.groupBy("c_nationkey")
        .applyInPandas(
            _demean,
            schema="c_custkey long, c_nationkey int, acctbal_demeaned double",
        )
        .orderBy("c_custkey")
    )


def _decimal_sum(values) -> "Decimal":
    """Python replica of SUM(CAST(x AS DECIMAL(38,6))): each double cast
    as the engine casts it (:func:`functions.spark_decimal`), summed
    exactly."""
    from decimal import Decimal

    return sum((spark_decimal(x, 6) for x in values), Decimal(0))


@F.pandas_udf(T.DoubleType())
def _exact_sum_agg(v: pd.Series) -> float:
    return float(_decimal_sum(v))


@register(
    "grouped_agg_pandas",
    tags=("udf",),
    oracle="""
    SELECT o_orderstatus,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_price
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def grouped_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: per-group sum with Python-side
    decimal(38,6) replica semantics, matching the decimal-sum oracle
    bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(F.round(_exact_sum_agg("o_totalprice"), 4).alias("total_price"))
        .orderBy("o_orderstatus")
    )


@register(
    "udtf_chunk_documents",
    tags=("udf", "llm"),
    oracle="""
    SELECT doc_id, chunk_idx, chunk_text, n_tokens FROM (
        SELECT doc_id,
               CAST(floor((pos - 1) / 10) AS BIGINT) AS chunk_idx,
               string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
               count(*) AS n_tokens
        FROM (
            SELECT doc_id,
                   generate_subscripts(string_split(text, ' '), 1) AS pos,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id < 20
        )
        GROUP BY doc_id, floor((pos - 1) / 10)
    ) ORDER BY doc_id, chunk_idx
    """,
)
def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark ≥ 3.5 table function): chunk each document into
    10-token windows — the canonical LLM-context chunking step — emitting
    (chunk_idx, chunk_text, n_tokens) rows per input document. The oracle
    reproduces the chunking algebraically with positional grouping."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="chunk_idx bigint, chunk_text string, n_tokens bigint")
    class ChunkDoc:
        def eval(self, text: str, size: int):  # noqa: D401
            toks = [t for t in (text or "").split(" ")]
            for i in range(0, len(toks), size):
                chunk = toks[i : i + size]
                yield i // size, " ".join(chunk), len(chunk)

    ChunkDoc_registered = ChunkDoc  # local-scope table function
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    return (
        d.lateralJoin(
            ChunkDoc_registered(F.col("text").outer(), lit(10))
        )
        .select("doc_id", "chunk_idx", "chunk_text", "n_tokens")
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "posexplode_tokens",
    tags=("udf",),
    oracle="""
    SELECT doc_id, CAST(pos - 1 AS BIGINT) AS pos, tok
    FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id < 20
    )
    ORDER BY doc_id, pos
    """,
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-valued expansion (the UDTF-shaped surface): position-preserving
    token explode."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    return (
        d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")
        .orderBy("doc_id", "pos")
    )


@register(
    "udtf_polymorphic_first_tokens",
    tags=("udf", "llm"),
    defer=True,
    oracle="""
    SELECT doc_id, l[1] AS w1, l[2] AS w2, l[3] AS w3
    FROM (
        SELECT doc_id, string_split(text, ' ') AS l
        FROM documents WHERE doc_id < 50
    ) ORDER BY doc_id
    """,
)
def udtf_polymorphic_first_tokens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark ≥ 3.5 ``analyze()``): the output
    schema is computed at plan time from a constant argument — here
    ``FirstTokens(text, 3)`` derives columns ``w1..w3`` from the literal
    3, the dynamic-schema table-function face the fixed-``returnType``
    UDTFs (``udtf_chunk_documents``) cannot express. Out-of-range
    positions yield NULL, mirroring DuckDB's out-of-bounds list index.

    Scale shape: embarrassingly parallel row expansion; the plan-time
    schema derivation costs one driver-side ``analyze()`` call, not a
    job."""
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.types import StructType
    from pyspark.sql.udtf import AnalyzeResult

    @udtf
    class FirstTokens:
        @staticmethod
        def analyze(text, n):  # noqa: ANN001
            k = int(n.value)
            st = StructType()
            for i in range(1, k + 1):
                st = st.add(f"w{i}", "string")
            return AnalyzeResult(schema=st)

        def eval(self, text: str, n: int):  # noqa: D401
            toks = (text or "").split(" ")
            yield tuple(
                toks[i] if i < len(toks) else None for i in range(int(n))
            )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return (
        d.lateralJoin(FirstTokens(F.col("text").outer(), lit(3)))
        .select("doc_id", "w1", "w2", "w3")
        .orderBy("doc_id")
    )


@register(
    "arrow_scalar_udf_tokens",
    tags=("udf",),
    defer=True,
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_split_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents WHERE doc_id < 50 ORDER BY doc_id
    """,
)
def arrow_scalar_udf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED scalar Python UDF (Spark ≥ 3.5 ``useArrow=True``):
    same logical signature as a classic pickled-row UDF but the exchange
    is Arrow record batches — the migration path for row-at-a-time UDFs
    that can't be rewritten as pandas_udfs. The oracle recomputes the
    token count relationally, so the hash gate proves the Arrow codec
    round-trips values exactly.

    Scale note: still Python-per-row work inside the batch — prefer
    built-ins or pandas_udfs in hot paths (repo rule); this query exists
    to pin the API surface and serialization correctness."""
    count_tokens = F.udf(
        lambda s: len(s.split(" ")) if s is not None else None,
        "long",
        useArrow=True,
    )
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        count_tokens("text").alias("n_split_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


@register(
    "mapinarrow_token_stats",
    tags=("udf", "llm"),
    defer=True,
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
                AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(list_filter(string_split(text, ' '),
                                              x -> x != '')))
                AS BIGINT) AS n_distinct
    FROM documents WHERE doc_id < 50 ORDER BY doc_id
    """,
)
def mapinarrow_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the zero-pandas Arrow batch iterator — token
    counts computed entirely with ``pyarrow.compute`` kernels (split,
    list lengths, per-row distinct via hashing on the flattened values),
    no pandas materialization. Completes the Python-execution surface:
    classic UDF, Arrow UDF, pandas_udf, grouped map/agg, UDTF
    (+polymorphic), mapInPandas, applyInPandas(WithState), mapInArrow.

    Scale note: mapInArrow skips the Arrow↔pandas conversion both ways —
    the right tool when the kernel is already columnar (as here)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(batches):
        for batch in batches:
            toks = pc.split_pattern(batch.column("text"), " ")
            # drop empty tokens, count, and count distinct per row
            n_tok, n_dist = [], []
            for lst in toks.to_pylist():
                kept = [t for t in lst if t != ""]
                n_tok.append(len(kept))
                n_dist.append(len(set(kept)))
            yield pa.RecordBatch.from_arrays(
                [
                    pc.cast(batch.column("doc_id"), pa.int64()),
                    pa.array(n_tok, pa.int64()),
                    pa.array(n_dist, pa.int64()),
                ],
                names=["doc_id", "n_tokens", "n_distinct"],
            )

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 50)
        .select("doc_id", "text")
    )
    return d.mapInArrow(
        stats, "doc_id long, n_tokens long, n_distinct long"
    ).orderBy("doc_id")
