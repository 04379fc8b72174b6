"""Physical-plan inspection helpers (SURVEY.md §4.2, M5).

The engine's performance contract is declarative: filters reach the parquet
scan, dimension joins broadcast, top-k avoids full sorts, codegen spans stay
wide. These helpers walk the executed plan tree (:func:`executed_nodes`)
or read Spark's SQL status store so tests can pin those properties
instead of hoping for them. Only :func:`formatted_plan` reads
``explain()`` text: the plan dump for people, and the text pins no
structural helper covers yet.
"""

from __future__ import annotations

import contextlib
import io
from collections import Counter
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_nodes(df: DataFrame) -> Iterator:
    """Every operator of ``df``'s executed physical plan, as JVM plan nodes
    — the one plan-tree walk the introspection helpers share. Run the
    query to a sink first to walk the post-AQE plan; before that it is the
    initial adaptive plan ``explain()`` prints.

    Walks the JVM plan TREE instead of the plan string, which matters for
    the two node families whose string rendering lies about execution
    counts:

    - ``InMemoryTableScanExec`` (``functions.persist_corpus``): the string
      inlines the cached plan's lineage at EVERY reference, but a cache
      entry materializes its plan at most once — so each distinct cache
      entry's plan is walked once, no matter how many branches read it
      (cached plans are innerChildren, invisible to ``children()``; we
      descend explicitly, deduplicated by canonicalized cached plan).
    - ``ReusedExchangeExec`` / ``ReusedSubqueryExec``: references, not
      executions — skipped.

    AQE wrappers (adaptive plan, ``*QueryStageExec``) hold their real plan
    as a field, not a child: they are descended through, not yielded. So
    is every node's ``subqueries`` (scalar subqueries execute too)."""
    seen_caches: set[str] = set()

    def walk(node) -> Iterator:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            yield from walk(node.executedPlan())
            return
        if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            return
        if cls.endswith("QueryStageExec"):
            yield from walk(node.plan())
            return
        yield node
        if cls == "InMemoryTableScanExec":
            rel = node.relation()
            key = rel.cachedPlan().canonicalized().toString()
            if key not in seen_caches:
                seen_caches.add(key)
                yield from walk(rel.cachedPlan())
            return
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            yield from walk(subs.apply(i))

    yield from walk(df._jdf.queryExecution().executedPlan())


def node_counts(df: DataFrame) -> Counter:
    """Executed-plan operator class name → occurrences (e.g.
    ``ShuffleExchangeExec``, ``BroadcastHashJoinExec``) over
    :func:`executed_nodes` — the structural form of a plan pin: it counts
    plan nodes, not how often a word appears in the printed plan."""
    return Counter(n.getClass().getSimpleName() for n in executed_nodes(df))


def _scan_table(node) -> str | None:
    """File name of a file-scan node's first root path, if it has one."""
    try:
        paths = node.relation().location().rootPaths()
        return paths.apply(0).getName() if paths.size() else None
    except Exception:
        return None


def executed_scan_counts(df: DataFrame) -> dict[str, int]:
    """EXECUTED parquet scans per table file in the post-AQE physical plan
    (run the query to a sink first) — the duplicate-scan audit primitive.
    A persisted cache's scans count once however many branches read it,
    and reused exchanges count zero (:func:`executed_nodes`)."""
    counts: Counter = Counter()
    for node in executed_nodes(df):
        if node.getClass().getSimpleName().startswith("FileSourceScan"):
            table = _scan_table(node)
            if table:
                counts[table] += 1
    return dict(counts)


def broadcast_build_rows(df: "DataFrame | Callable[[], DataFrame]") -> list[int]:
    """Execute ``df`` to a noop sink and return the rows actually built
    into every broadcast relation along the way — the corpus-volume-
    broadcast audit primitive.

    A ``F.broadcast(x)`` whose row count scales with the corpus passes
    every fixture-sized test and then ships the whole table to every
    executor on a real cluster (the ``pq_adc_topk`` rerank bug: an
    unfiltered embeddings broadcast that was correct only because the
    join key never matched the extra rows). Reading each
    BroadcastExchange's ``number of output rows`` at two scale factors
    makes that class measurable: a build side that is bounded by
    construction (top-k, value-domain histogram, fixed dim) stays flat,
    a corpus-volume one grows with SF.

    Metric values come from the SQL status store (the Spark-UI source of
    truth): under AQE the plan-tree node instances reachable from
    ``executedPlan()`` carry FRESH zero accumulators, so walking the tree
    reads zeros — the store keys accumulator ids to the values the run
    actually recorded. Every SQL execution between the watermark and the
    drain is scanned; ReusedExchange nodes are separate graph-node names
    and naturally count zero.

    Pass a ZERO-ARG THUNK (not a built DataFrame) to also capture
    construction-time executions: eager ``localCheckpoint``/cache-build
    jobs fire while the operator function RUNS, so a broadcast inside a
    checkpointed subtree is invisible unless construction happens after
    the watermark. A pre-built DataFrame only measures the final action's
    executions (fine for plain lazy plans)."""
    rows: list[int] = []
    for mvals, nodes in _run_executions(df):
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if node.name() != "BroadcastExchange":
                continue
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.name() != "number of output rows":
                    continue
                opt = mvals.get(m.accumulatorId())
                if opt.isDefined():
                    rows.append(int(str(opt.get()).replace(",", "")))
    return sorted(rows, reverse=True)


def _run_executions(fn: "DataFrame | Callable[[], DataFrame]") -> Iterator:
    """Run ``fn`` (a DataFrame, or a zero-arg thunk that builds one, so
    construction-time jobs are measured too) to a noop sink and yield
    ``(metric values, plan-graph nodes)`` for every SQL execution it
    triggered, read from the SQL status store.

    Executions count from a watermark: the max execution ID in the store
    before the run, not ``executionsCount()`` — IDs are monotonic but the
    store evicts old entries past ``spark.sql.ui.retainedExecutions``, so
    in a long session a count-based cutoff would leak earlier queries
    into the measurement. The store is fed by an async listener bus,
    drained before the watermark and after the run."""
    spark = getattr(fn, "sparkSession", None) or SparkSession.getActiveSession()
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    execs = store.executionsList()
    before_max = max(
        (execs.apply(i).executionId() for i in range(execs.size())), default=-1
    )
    df = fn() if callable(fn) and not isinstance(fn, DataFrame) else fn
    df.write.format("noop").mode("overwrite").save()
    bus.waitUntilEmpty()
    execs = store.executionsList()
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid > before_max:
            yield store.executionMetrics(eid), store.planGraph(eid).allNodes()


def executed_scan_counts_full(
    fn: "DataFrame | Callable[[], DataFrame]",
) -> dict[str, int]:
    """Executed file scans per table across EVERY SQL execution the query
    triggers — construction-time jobs included — read from the SQL status
    store. The construction-time companion to :func:`executed_scan_counts`.

    The tree-walk instrument (:func:`executed_scan_counts`) starts at the
    final action's executed plan, so scans that ran inside an eager
    ``localCheckpoint`` / cache-build job during operator CONSTRUCTION are
    invisible to it (the final plan starts at the truncated RDD) — the
    class that made ``markov_removal_attribution`` re-run its whole
    upstream pipeline once per union arm (NOTES r7 §11). This function
    closes the blind spot: pass a ZERO-ARG THUNK so construction runs
    inside the measured window, then every execution between the
    watermark and the drain is scanned.

    Counting rule: one count per DISTINCT ``number of files read``
    accumulator with a recorded value > 0, per execution. Three
    empirically-verified graph behaviors force each clause:

    - cache-hit references show the scan node with the metric undefined
      (a later execution) or defined ``0`` (re-planned cached subtree in
      the same session) — only value > 0 proves the scan's RDD actually
      read files in that execution;
    - the plan graph INLINES a persisted cache's plan once per
      InMemoryTableScan reference, but every copy carries the SAME
      accumulator id (one shared cached-plan instance) — 6 graph nodes /
      1 real scan for ``jaccard_near_dup``'s 6 token-cache references,
      so counting nodes instead of distinct accumulators overcounts
      exactly the way the plan STRING does;
    - two genuinely separate scans (a self-union's arms, two slices) are
      distinct plan node instances with distinct accumulators, so they
      still count twice.

    Clear the cache (``spark.catalog.clearCache()``) before measuring a
    query that shares cached intermediates with earlier work, or the
    build scan lands outside the window and the count under-reports."""
    import re

    table_re = re.compile(r"([A-Za-z0-9_.-]+\.parquet)")
    counts: dict[str, int] = {}
    for mvals, nodes in _run_executions(fn):
        seen_accs: set[int] = set()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if not node.name().startswith("Scan"):
                continue
            ms = node.metrics()
            ran = False
            acc = None
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.name() == "number of files read":
                    acc = m.accumulatorId()
                    opt = mvals.get(acc)
                    if opt.isDefined():
                        ran = int(str(opt.get()).replace(",", "")) > 0
                    break
            if not ran or acc in seen_accs:
                continue
            seen_accs.add(acc)
            m_table = table_re.search(node.desc())
            table = m_table.group(1) if m_table else "?"
            counts[table] = counts.get(table, 0) + 1
    return counts


def _split_filters(text: str) -> list[str]:
    """``"[a(x,1), In(y, [1,2])]"`` → ``["a(x,1)", "In(y, [1,2])"]``:
    split a scan's printed filter list on its top-level commas only."""
    out: list[str] = []
    depth, start = 0, 1
    for i, ch in enumerate(text):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if (ch == "," and depth == 1) or (ch == "]" and depth == 0):
            if text[start:i].strip():
                out.append(text[start:i].strip())
            start = i + 1
    return out


def executed_scan_columns(df: DataFrame) -> list[dict]:
    """Per-scan column pruning and filter pushdown in the post-AQE
    physical plan (run the query to a sink first): one record per
    FileSourceScan with the table file name, the columns actually read
    (``requiredSchema``), the table's full width and the filters pushed
    into the parquet reader (``pushed``) — the projection-pruning and
    pushdown audit primitive. A scan whose read width equals the table
    width on a wide table means column pruning never fired for it; at
    100 TB on columnar parquet that's the difference between reading 2
    columns and reading 12. Same tree-walk contract as
    :func:`executed_scan_counts`."""
    out: list[dict] = []
    for node in executed_nodes(df):
        if not node.getClass().getSimpleName().startswith("FileSourceScan"):
            continue
        try:
            req = node.requiredSchema()
            width = node.relation().dataSchema().size()
        except Exception:
            continue
        out.append(
            {
                "table": _scan_table(node) or "?",
                "read": [str(req.apply(i).name()) for i in range(req.size())],
                "width": width,
                "pushed": _split_filters(node.metadata().apply("PushedFilters")),
            }
        )
    return out


def forced_broadcast_base_tables(df: DataFrame, tables: list[str]) -> set[str]:
    """Base tables of ``tables`` that sit under a BroadcastExchange as a bare
    scan (no aggregation in between).

    Intended use: build ``df`` with ``spark.sql.autoBroadcastJoinThreshold=-1``
    so size-based broadcasts are off — any BroadcastExchange left in the plan
    then comes from an explicit ``F.broadcast`` hint. A hinted *bare* scan of
    a table that grows with data is the 100 TB OOM pattern this helper
    exists to catch; aggregate-derived build sides (scalar subqueries,
    qualifying-key sets) are excluded because aggregation bounds them.
    """
    import re

    # Scan locations are elided past spark.sql.maxMetadataStringLength
    # (default 100 chars) when nodes stringify — under a deep fixture path
    # the '<table>.parquet' tail would vanish and the check pass vacuously.
    spark = df.sparkSession
    old_len = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    found: set[str] = set()

    def walk(node):
        name = node.getClass().getSimpleName()
        if name.startswith("BroadcastHashJoin") or name.startswith(
            "BroadcastNestedLoopJoin"
        ):
            build = 0 if node.buildSide().toString() == "BuildLeft" else 1
            subtree = node.children().apply(build).toString()
            if "HashAggregate" not in subtree and "Distinct" not in subtree:
                for t in tables:
                    if re.search(rf"\b{t}\.parquet\b", subtree):
                        found.add(t)
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    try:
        # sparkPlan has the join strategy chosen but exchanges not yet
        # inserted, so look at Broadcast*Join nodes and take their
        # build-side subtree (stringified AFTER raising the metadata cap).
        walk(df._jdf.queryExecution().sparkPlan())
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old_len)
    return found


def unpartitioned_windows_over_unaggregated_input(df: DataFrame) -> list[str]:
    """Window nodes with an EMPTY partition spec whose input can still be
    base-table-sized — the "move the whole table to one partition" pattern
    that dies at 100 TB. A global window whose every input branch passes
    through an aggregation is acceptable (bounded: group count caps the
    rows, e.g. a 7-row YoY table or a value-domain-bounded distinct set).

    The bound check walks the actual plan tree: a global window is an
    offender iff some SCAN in its input is reachable WITHOUT crossing an
    aggregate node — substring-matching the subtree would wrongly excuse a
    window over base rows merely because an aggregate exists somewhere in
    a joined branch. Returns one plan-line per offender."""
    out: list[str] = []

    def scan_reachable_unaggregated(node) -> bool:
        name = node.getClass().getSimpleName()
        if "Aggregate" in name:  # Hash/Sort/ObjectHash/InPandas: bounds below
            return False
        # A limit caps the window's input rows just as hard as an aggregate
        # does (GlobalLimit/TakeOrderedAndProject/CollectLimit emit at most
        # N rows regardless of scan size) — a global window above one is
        # bounded by construction, e.g. ranking an already-limited top-k.
        if "Limit" in name or "TakeOrderedAndProject" in name:
            return False
        if name == "RDDScanExec":
            # A localCheckpoint scan. In this repo a checkpoint is always a
            # deliberately materialized BOUNDED intermediate (a value
            # histogram, an edge list, a per-iteration loop state — each
            # call site documents its bound), inserted exactly because
            # several branches consume it; the aggregation that bounded it
            # is on the far side of the checkpoint where this walk can't
            # see it. The invariant is ENFORCED, not just claimed:
            # corpus-volume multi-consumer intermediates (token streams,
            # per-doc/session tables, signature tables) use
            # functions.persist_corpus (an InMemoryTableScan, still flagged
            # below), and tests/test_checkpoint_audit.py allowlists the
            # audited raw localCheckpoint call sites so a new unaudited
            # site fails loudly.
            return False
        if "Scan" in name:
            # Includes InMemoryTableScan (functions.persist_corpus): a
            # cached relation MIGHT hold an aggregate internally, but the
            # plan can't show it — flagging is the conservative choice (a
            # false positive fails loudly in a test; a false negative
            # ships a 100 TB single-partition window). Registry queries
            # persist only corpus-volume intermediates, which must never
            # feed a global window without an intervening aggregate anyway.
            return True
        kids = node.children()
        for i in range(kids.size()):
            if scan_reachable_unaggregated(kids.apply(i)):
                return True
        return False

    def walk(node):
        name = node.getClass().getSimpleName()
        if name in ("WindowExec", "WindowInPandasExec", "WindowGroupLimitExec"):
            try:
                empty_spec = node.partitionSpec().isEmpty()
            except Exception:
                empty_spec = False
            if empty_spec and scan_reachable_unaggregated(node.children().apply(0)):
                out.append(node.toString().splitlines()[0])
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().sparkPlan())
    return out


def partition_skew_report(df: DataFrame) -> dict:
    """Materialize per-partition row counts and return skew statistics:
    ``{"n_partitions", "rows", "max", "mean", "skew_factor"}`` where
    ``skew_factor = max/mean`` (1.0 = perfectly balanced). The straggler
    diagnostic for shuffles: run it on a DataFrame AFTER a repartition/join
    to see whether one partition holds the hot key. Cost: under AQE
    (default here) up to TWO executions of ``df`` — ``df.rdd`` materializes
    the adaptive plan to resolve the true physical partition count, and the
    counting aggregate re-runs the pipeline. A diagnostic you reach for
    when a job is already misbehaving, not something to leave in a
    production path."""
    from pyspark.sql import functions as F

    # Physical partition count comes from the RDD, NOT from counting the
    # groupBy's rows: empty partitions produce no (pid, count) row, so a
    # max-skew layout (every row in one of 8 partitions) would otherwise
    # read as n_partitions=1 and skew_factor=1.0 — the exact case this
    # diagnostic exists to expose.
    n_partitions = df.rdd.getNumPartitions()
    counts = df.groupBy(F.spark_partition_id().alias("pid")).count()
    row = counts.agg(
        F.sum("count").alias("rows"),
        F.max("count").alias("mx"),
    ).collect()[0]
    rows = int(row["rows"] or 0)
    mean = rows / n_partitions if n_partitions else 0.0
    return {
        "n_partitions": int(n_partitions),
        "rows": rows,
        "max": int(row["mx"] or 0),
        "mean": mean,
        "skew_factor": (float(row["mx"]) / mean) if mean else 0.0,
    }
