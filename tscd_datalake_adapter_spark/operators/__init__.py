"""Operator/query registry — the SURVEY.md §2.2 correctness contract.

Every implemented operator registers a named query: a Spark callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB oracle
SQL string. ``__spark_entry__.py`` exposes this registry to the round driver;
``scripts/parity_check.py`` runs it locally.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    fn: QueryFn
    oracle: str | None = None
    headline: bool = False
    tags: tuple[str, ...] = field(default_factory=tuple)
    defer: bool = False
    """Queue behind the current round's locked verification window.

    Registry order follows module IMPORT order, so a query added to an
    early-imported module after a round's 50-slot window has been planned
    would silently displace a query whose first green row that round needs.
    ``defer=True`` pins such additions behind every non-deferred
    never-verified query; rotation promotes them automatically once the
    round lands and the window frees up."""


_CONSTRUCTION_MARKERS = (
    "_tmp(",          # tempfile table/dir demos (operators/io.py)
    "mkdtemp",        # direct temp dirs (similarity index, exports)
    "write_delta(",
    "write_iceberg(",
    "commit_snapshot(",
    "zorder_write(",
    "write_bucketed(",
    "LakeAdapter(",   # lake demos ingest before reading
    ".write.",        # any direct DataFrameWriter call in the query fn
    ".writeStream",   # live streaming jobs stand up sinks
)


def is_construction(spec: "QuerySpec") -> bool:
    """Whether the query BUILDS its own data (write-path demo: temp
    tables, lakehouse commits, index construction) before reading it, so
    its bench time includes construction cost, not just read cost.
    Detected from the function source: a query whose own function writes
    data is construction-inclusive. Inspect failures (callables without
    retrievable source) default to False. ``bench.py --families`` splits
    family subtotals into construction-inclusive vs pure-read using this,
    so a read-path regression isn't chased through demo-write noise."""
    import inspect

    try:
        src = inspect.getsource(spec.fn)
    except (OSError, TypeError):
        return False
    return any(m in src for m in _CONSTRUCTION_MARKERS)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
    defer: bool = False,
):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name}")
        REGISTRY[name] = QuerySpec(
            fn=fn, oracle=oracle, headline=headline, tags=tags, defer=defer
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so registrations run."""
    from tscd_datalake_adapter_spark.operators import (  # noqa: F401
        analytics,
        asof,
        dedup,
        export,
        hierarchy,
        history,
        mining,
        mlprep,
        multimodal,
        pipeline,
        relational,
        relational_extra,
        scalars,
        sampling,
        similarity,
        sketches,
        stats_tests,
        subqueries,
        text,
        tpch_more,
        udfs,
    )
    from tscd_datalake_adapter_spark.operators import io as io_ops  # noqa: F401
    from tscd_datalake_adapter_spark.streaming import batch_twins  # noqa: F401

    from tscd_datalake_adapter_spark.operators._rotation import rotate

    return rotate(REGISTRY)
