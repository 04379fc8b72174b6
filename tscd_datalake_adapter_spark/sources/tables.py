"""Fixture-table loaders and generic sources/sinks.

The fixture star schema (TESTDATA.md / FIXTURES.md §F1) is read straight from
parquet; loaders never infer schemas at query time beyond the parquet footer,
and callers are expected to ``select`` only what they need so Catalyst prunes
columns down to the scan (verify with ``df.explain`` → ``ReadSchema``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_engine_confs(spark: SparkSession) -> None:
    """Defensive runtime confs for sessions the engine didn't build (e.g. the
    round driver's): UTC determinism and nanosecond-parquet readability are
    required by every query; both are runtime-settable SQL confs.

    OS-timezone caveat: the session zone governs SQL functions and Arrow
    transfer, but a plain ``collect()`` of TIMESTAMP renders through the
    *driver JVM's* default zone. Full determinism therefore also assumes the
    driver runs with TZ=UTC (true here; set ``TZ``/``user.timezone`` when
    deploying elsewhere)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive (isAdjustedToUTC=false) parquet timestamps must arrive as
    # TIMESTAMP (LTZ): watermarks/windows require it, and with the session
    # zone pinned to UTC the wall-clock values equal the NTZ reading — the
    # same interpretation DuckDB oracles use. Spark 4 would otherwise infer
    # TIMESTAMP_NTZ.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Recursive-CTE volume valve: the default 1M-row limit misfires on
    # provably-bounded linear recursions once tables grow (found by the r9
    # sf1 stress bench: the part-hierarchy walk carries |part| rows per
    # level, 200k x 7 levels > 1M). The global raise is DELIBERATE (r9
    # verdict item 8, investigated r10): the limit is enforced at
    # EXECUTION time, not plan time (verified empirically — a restored
    # conf re-applies to a lazy frame materialized later), and the engine
    # contract returns LAZY DataFrames the driver materializes after the
    # query function exits, so a per-query set/restore scope would
    # re-impose the low limit at exactly the wrong moment. The LEVEL
    # limit (cteRecursionLevelLimit, default 100) remains the actual
    # non-termination guard: a runaway linear recursion is bounded by
    # 100 x base-rows regardless of this valve. EAGER contexts
    # (maintenance scripts, tests) that want a tight per-query budget use
    # ``recursion_row_budget`` below, which IS sound when the
    # materialization happens inside the scope.
    spark.conf.set("spark.sql.cteRecursionRowLimit", "100000000")


from contextlib import contextmanager


@contextmanager
def recursion_row_budget(spark: SparkSession, rows: int):
    """Scoped ``cteRecursionRowLimit`` for EAGER recursive queries whose
    true row need is derivable from their own slice bound (r9 verdict
    item 8): tightens (or raises) the valve for materializations that
    happen INSIDE the scope, then restores the session value. Do NOT
    wrap a lazily-returned DataFrame in this — the limit is enforced at
    execution time, so the restore would re-apply before the driver
    materializes (documented at the global valve above)."""
    key = "spark.sql.cteRecursionRowLimit"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(int(rows)))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table {name!r}")
    ensure_engine_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.ts is parquet timestamp[ns]; with nanosAsLong it arrives as
        # a raw long. Truncate to microseconds (Spark's native precision) —
        # the same truncation DuckDB-side oracles apply via epoch_us.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            # Integer division: ns epochs (~1.7e18) exceed double precision.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql`` use."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_csv(
    spark: SparkSession, path: str, schema=None, header: bool = True
) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_text(spark: SparkSession, path: str, wholetext: bool = False) -> DataFrame:
    """Text scan; ``wholetext=True`` is the fixture-book read mode
    (reference R1's test form, SURVEY.md §2.1). Must be passed as the
    ``.text()`` kwarg — ``.option("wholetext")`` is silently ignored."""
    return spark.read.text(path, wholetext=wholetext)


def read_json_with_quarantine(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """JSON reader with corrupt-record quarantine (PERMISSIVE +
    ``_corrupt_record``): malformed lines land in the quarantine column
    instead of failing the job or being silently dropped — at 100 TB a few
    bad records must never kill an ingest, and must stay auditable.
    Filter ``_corrupt_record IS NOT NULL`` to route them to a dead-letter
    sink."""
    full_schema = f"{schema}, _corrupt_record string"
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_lake_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: ``mergeSchema`` unions the schemas of every
    file footer, so files written before a column existed read as NULL for
    it — additive lake evolution without rewrites."""
    ensure_engine_confs(spark)  # timestamp typing must not depend on call order
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Generic sink through Spark's DataSource API: ``df.write.format(fmt)``.
    ``fmt="delta"``/``"iceberg"`` need their connector on the classpath;
    without it Spark fails the call at entry with ``DATA_SOURCE_NOT_FOUND``
    and writes nothing. The connector jars are not in this environment,
    so both open formats are implemented in-repo from their public specs:
    ``sources.delta_lite`` (JSON transaction log:
    write/read/time-travel/MERGE/VACUUM/checkpoints) and
    ``sources.iceberg_lite`` (metadata.json + Avro manifests via
    ``sources.avro_lite``: snapshots, manifest-reusing appends, partition
    pruning, expiry) — see ``delta_lite_roundtrip_agg`` /
    ``iceberg_lite_roundtrip_agg`` and siblings in the registry.
    """
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...],
    mode: str = "append",
    cluster_by: tuple[str, ...] = (),
    n_files: int | None = None,
) -> None:
    """Reference R4's lake write shape: append, Hive-partitioned parquet.

    ``cluster_by`` range-partitions and sorts rows on the given columns
    before writing, so each parquet file covers a narrow value range and
    row-group min/max statistics prune selectively on those columns — the
    plain-parquet analogue of Z-ordering, and a first-order lever at 100 TB
    (a point/range query then touches a handful of files instead of all)."""
    if cluster_by:
        if n_files:
            df = df.repartitionByRange(n_files, *cluster_by)
        else:
            df = df.repartitionByRange(*cluster_by)
        df = df.sortWithinPartitions(*cluster_by)
    write_table(df, path, fmt="parquet", mode=mode, partition_by=partition_by)
