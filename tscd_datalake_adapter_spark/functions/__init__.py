"""Cross-engine-deterministic expression helpers.

The oracle gate (SURVEY.md §2.2 determinism rules) hash-compares Spark results
against DuckDB. Per-row double arithmetic is bit-identical across engines
(IEEE 754), but *aggregation* over doubles is order-dependent. These helpers
make aggregates exact and therefore engine-independent:

- ``dec_sum`` — sum through ``decimal(38,6)`` (exact, associative), cast back
  to double. The matching oracle form is
  ``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)``.
- ``dec_avg`` — exact decimal sum divided by count in double.
- ``dec_std`` / ``dec_var`` — sample std/variance from exact decimal moments
  (sum x, sum x²) so both engines do identical double arithmetic at the end.
- ``spark_round`` / ``spark_decimal`` — Python twins of Spark's ``round()``
  and double→decimal cast, for the folds ``bounded_fold`` runs in one
  Python task.

At 100 TB these stay fully distributed: decimal sums are partial-aggregated
map-side exactly like double sums, with no extra shuffle.

Performance note (measured at sf0.1, Q1-shaped agg over lineitem):
decimal(38,6) costs ~3.3× a plain double sum and decimal(20,6) ~2.5× when
the cores are saturated (local[8]); at local[32] the scan dominates and the
gap shrinks to ~2%. The narrower per-row cast and arithmetic are cheaper
even though both sum buffers exceed Spark's 18-digit compact-long
representation — at 1000-executor scale aggregation is CPU-bound, so
first-moment sums (``dec_sum``/``dec_avg``) cast through ``DEC_SUM`` =
decimal(20,6): Spark widens the SUM result to decimal(30,6) → 24 integral
digits of capacity, overflow-safe for |x| ≤ 1e10 over ≤ 1e13 rows per group
(a 100 TB money sum is ~1e17 — seven orders of headroom; ANSI mode would
error loudly, not wrap, if ever exceeded). Second moments (``dec_var_samp``)
keep decimal(38,6): squared prices (~1e11 each) need the wider buffer.
A scaled-bigint variant would be ~2× faster still but silently wraps past
~9.2e18 — an unacceptable failure mode at 100 TB. The DuckDB oracle side
stays DECIMAL(38,6) everywhere: exact decimal sums are equal regardless of
declared width, so the final doubles are bit-identical.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,6)"
DEC_SUM = "decimal(20,6)"


def dec_sum(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC_SUM)).cast("double")


def dec_avg(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC_SUM)).cast("double") / F.count(c)


def dec_var_samp(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c).cast("double")
    sx = F.sum(c.cast(DEC)).cast("double")
    sx2 = F.sum((c * c).cast(DEC)).cast("double")
    return (sx2 - sx * sx / n) / (n - F.lit(1.0))


def dec_std_samp(col: Column | str) -> Column:
    return F.sqrt(dec_var_samp(col))


def oracle_dec_sum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def oracle_dec_avg(expr: str) -> str:
    return f"{oracle_dec_sum(expr)} / COUNT({expr})"


def oracle_dec_var_samp(expr: str) -> str:
    sx = oracle_dec_sum(expr)
    sx2 = oracle_dec_sum(f"({expr}) * ({expr})")
    n = f"CAST(COUNT({expr}) AS DOUBLE)"
    return f"({sx2} - {sx} * {sx} / {n}) / ({n} - 1.0)"


def oracle_dec_std_samp(expr: str) -> str:
    return f"sqrt({oracle_dec_var_samp(expr)})"


def r6(col: Column) -> Column:
    """Round a double output to 6 decimals (determinism rule)."""
    return F.round(col, 6)


def r2(col: Column) -> Column:
    return F.round(col, 2)


def h60(col: Column | str) -> Column:
    """Cross-engine deterministic 60-bit hash: first 15 hex chars of md5 as a
    non-negative BIGINT. Chosen because BOTH Spark and DuckDB compute the
    identical value (Spark: ``conv(substring(md5(x),1,15),16,10)``; DuckDB:
    ``('0x' || substr(md5(x),1,15))::BIGINT``), which makes hash-derived
    operators (MinHash, SimHash, winnowing fingerprints) fully
    oracle-checkable instead of weak. 15 hex digits < 2^60 always fits a
    signed 64-bit int.

    Scale note: md5 is ~3-4x slower than xxhash64 per call but both are
    JVM-side and codegen'd; for a production 100 TB run where cross-engine
    verification is not needed, swap ``F.xxhash64`` in at the call site —
    every consumer treats the hash as an opaque bigint.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


H60_SQLEXPR = "cast(conv(substring(md5({x}), 1, 15), 16, 10) as bigint)"
"""Spark-SQL-string form of :func:`h60` for use inside ``F.expr`` lambdas."""


def oracle_h60(expr: str) -> str:
    """DuckDB twin of :func:`h60` (bit-identical)."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def spread(df):
    """Repartition a narrow projection to the session's full parallelism —
    but ONLY when the input is under-split.

    Spark sizes scan tasks by INPUT bytes, so a small-file table (the
    local fixtures are one parquet file each) reads as 1-3 partitions and
    any CPU-heavy map stage built on it — Arrow mapInPandas batches, big
    explodes, md5/exp/decimal folds — runs on that many threads no matter
    how many cores the session has. One round-robin shuffle of the narrow
    input restores parallelism.

    Scale guard: an unconditional ``repartition`` would physically shuffle
    the whole projection on a production cluster too, where a 100 TB scan
    already yields ~10^5 splits and the map stage is fully parallel — pure
    cost, no benefit. So the shuffle is inserted only when the pre-AQE
    split count is below the session's parallelism (reading the partition
    count plans the scan but runs no job); on a big cluster this makes
    spread() a literal no-op, locally it is the 4-10x fold-stage win.
    Use AFTER projecting/filtering to the columns the hot stage needs, and
    only on ops whose results are partition-invariant (this repo's
    determinism recipes guarantee that by construction).

    Constraint: call only on PRE-SHUFFLE scan projections. The guard reads
    ``df.rdd.getNumPartitions()``; on a scan-only plan that merely plans
    file splits, but on a frame with an upstream exchange the ``.rdd``
    conversion materializes AQE query stages (runs real shuffle jobs) and
    the pre-AQE count can differ from the executed one. The helper
    enforces this itself: if the physical plan already contains an
    Exchange it returns the frame untouched without reading ``.rdd`` —
    post-shuffle parallelism is the shuffle-partition setting's job, not
    spread()'s."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism

    # The PREPARED plan (exchanges inserted; under AQE this is the initial
    # adaptive plan — stringifying runs no jobs). sparkPlan() would be
    # useless here: it predates EnsureRequirements, so it never contains
    # an Exchange node.
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def checkpoint_bounded(df, bound: str):
    """``localCheckpoint`` with an explicit, recorded boundedness claim.

    ``bound`` states WHY the materialized table cannot grow with corpus
    volume (a value-domain histogram, a k-row moment table, a bounded
    edge/pair list, a per-iteration loop state of fixed width). That claim
    is what justifies truncating lineage and pinning the rows on
    executor-local storage: a bounded table is cheap to pin and cheap to
    lose. Corpus-volume multi-consumer intermediates (exploded token
    streams, per-document score tables, shingle/signature tables) must use
    :func:`persist_corpus` instead — persist keeps the lineage, spills to
    disk instead of pinning, and stays recoverable after executor loss.

    The plan lint (``plans.unpartitioned_windows_over_unaggregated_input``)
    exempts checkpoint scans on the strength of this invariant;
    ``tests/test_checkpoint_audit.py`` allowlists the audited raw
    ``.localCheckpoint`` call sites so a new unaudited site fails loudly.
    """
    if not bound or not isinstance(bound, str):
        raise ValueError("checkpoint_bounded requires a boundedness claim")
    return df.localCheckpoint()


def bounded_fold(df, fn, schema, *, bound: str, max_rows: int):
    """Run ``fn`` once over ALL rows of ``df`` in a single task: a
    constant-key grouped map, ``groupBy(lit(1)).applyInPandas(fn, schema)``.

    The venue for a sequential fold (recursion, greedy chain, union-find)
    over a table that cannot grow with corpus volume: one task replaces
    the per-step Spark jobs an engine-side loop pays. Spark itself routes
    every row to the one group, so the fold cannot silently turn into
    per-partition partial folds.

    ``bound`` states why the input is bounded, as for
    :func:`checkpoint_bounded`; ``max_rows`` is the row count that claim
    allows. The task raises a ``ValueError`` naming ``bound`` when the
    group holds more rows, so an input that outgrows one task fails
    loudly instead of running the worker out of memory.

    ``fn`` is never called on empty input: over an empty frame the
    grouped map has no group and returns 0 rows."""
    if not bound or not isinstance(bound, str):
        raise ValueError("bounded_fold requires a boundedness claim")

    def _checked(pdf):
        if len(pdf) > max_rows:
            raise ValueError(
                f"bounded_fold: {len(pdf)} rows exceed max_rows={max_rows}"
                f" of the claim {bound!r}"
            )
        return fn(pdf)

    return df.groupBy(F.lit(1).alias("_g")).applyInPandas(_checked, schema)


# The default 28-digit context cannot hold a large double at scale 12; 400
# digits fit every finite double (309 integral digits) at any scale up to
# 90, past Spark's decimal limit of 38.
_WIDE = Context(prec=400, rounding=ROUND_HALF_UP)


def spark_decimal(x: float, scale: int) -> Decimal:
    """Spark's double→decimal cast of ``x`` at ``scale``, as a Python
    ``Decimal``: HALF_UP rounding of the SHORTEST round-trip representation
    (``Double.toString`` on the JVM, ``repr`` in Python), not of the
    exact binary expansion ``Decimal(x)`` holds. ``x`` must be finite.

    Summing these exactly replays ``SUM(CAST(x AS DECIMAL(p, scale)))``."""
    return Decimal(repr(float(x))).quantize(
        Decimal(f"1e{-scale}"), context=_WIDE
    )


def spark_round(x: float, scale: int) -> float:
    """Spark's ``round(x, scale)`` on a double, bit for bit: HALF_UP on the
    shortest representation (:func:`spark_decimal`), ``inf``/``nan``
    passed through, and never ``-0.0``. Python's built-in ``round`` differs:
    it rounds half-to-even on the binary value (``round(2.675, 2)`` is
    2.67, Spark's is 2.68)."""
    if not math.isfinite(x):
        return x
    return float(spark_decimal(x, scale)) + 0.0


def persist_corpus(df):
    """Cache a corpus-volume multi-consumer intermediate without cutting
    its lineage: ``persist(MEMORY_AND_DISK)``.

    The alternative (``localCheckpoint``) pins the materialized rows on
    executor-local block storage with NO recompute path — acceptable for
    bounded tables (:func:`checkpoint_bounded`), but at the 100 TB design
    target an exploded token stream checkpointed that way is O(corpus)
    data pinned per executor, and an executor loss kills the job instead
    of recomputing the lost partitions. persist keeps the plan's lineage
    (recoverable, AQE-visible) and MEMORY_AND_DISK spills rather than
    OOMing. Within one action the cached relation is still materialized
    once and shared by every consuming branch, so the duplicate-scan
    economics are the same as a checkpoint.

    Lifecycle: entries live until evicted (LRU under memory pressure) or
    the session ends — fine for the query-registry pattern (bounded test
    data, one session). A long-lived production pipeline should
    ``df.unpersist()`` after the consuming action, exactly as it would
    have had to clean up checkpoint files."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)
