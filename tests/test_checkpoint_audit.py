"""Allowlist audit of raw ``.localCheckpoint(`` call sites.

The plan lint (``plans.unpartitioned_windows_over_unaggregated_input``)
exempts checkpoint scans (RDDScanExec) on the invariant that in this repo a
localCheckpoint is always a BOUNDED intermediate — a value histogram, a
k-row moment table, an edge/pair list, or a per-iteration loop state whose
lineage must be cut. Corpus-volume multi-consumer intermediates (exploded
token streams, per-doc/per-session/per-vector tables, signature tables)
must instead use ``functions.persist_corpus`` — persist keeps the lineage
(recoverable after executor loss) and spills instead of pinning O(corpus)
rows on executor-local storage (the r6 ADVICE medium; verified fixed r7).

This test pins the audited raw call-site counts per module. A NEW
``.localCheckpoint(`` site fails here with instructions: either it caches a
corpus-volume table (use ``persist_corpus``), or it is a genuinely bounded
table / iterative loop state (use ``functions.checkpoint_bounded(df,
bound=...)`` with the boundedness claim, or bump the audited count below
with a comment in the same commit explaining the bound).

Audit record (r7) of what the remaining raw sites are:
- iterative loop states needing lineage cuts: dedup_clusters labels,
  MMR/conformal selections, markov iterates, BFS frontiers, image dedup
  label propagation, IRLS/beta steps;
- value-domain histograms and k-row moment tables feeding global
  cumulative windows (stats_tests, analytics, mlprep, sketches ddsketch);
- bounded edge/pair/grid tables (token graph edges, zone maps, bigram
  count tables, thresholded near-dup pair lists);
- sliced fixtures bounded by an explicit doc_id cap (language-id eval
  frames).
"""

from __future__ import annotations

import ast
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "tscd_datalake_adapter_spark")

# module (relative to the package) -> audited raw localCheckpoint sites
AUDITED: dict[str, int] = {
    "functions/__init__.py": 1,  # the checkpoint_bounded helper itself
    # r7 second-session re-audit: market_basket baskets (per order) and
    # rfm purch (per user) were corpus-volume → persist_corpus
    # r11 optimization: croston's 40-step recursive CTE became one
    # single-partition mapInPandas fold — its pre-recursion checkpoint
    # site (bounded ≤40-row series) is gone with the recursion
    # holt's horizon checkpoint moved from a raw .localCheckpoint() onto
    # checkpoint_bounded (bound: the <=12-row backtest horizon)
    "operators/analytics.py": 18,
    "operators/dedup.py": 4,
    # r12: markov_removal_attribution's expression-unrolled recursion
    # (pivot row + every-2-steps + out: 4 sites) and
    # markov_stationary_distribution's matrix + per-iteration cuts
    # (2 sites) became applyInPandas folds over the bounded matrices
    "operators/history.py": 1,
    "operators/io.py": 1,
    "operators/mining.py": 3,
    # r7 second-session re-audit: conformal base (|orders| rows) and the
    # funnel's s1/s2 (per user) were corpus-volume → persist_corpus
    "operators/mlprep.py": 11,
    # r12: image_dedup_clusters' propagation loop (edges + labels +
    # per-round state, 3 sites) became one union-find task — no
    # checkpoints left in multimodal.py
    "operators/pipeline.py": 1,
    "operators/relational.py": 1,
    "operators/sampling.py": 1,
    # r12: mmr's per-pick selection checkpoints (2 sites) folded into one
    # applyInPandas greedy chain over the bounded page
    "operators/similarity.py": 5,
    "operators/sketches.py": 2,
    "operators/stats_tests.py": 16,
    # r8: pagerank/BFS symmetrized edge lists and the shared
    # _cooccurrence_edges moved to persist_corpus (threshold-derived,
    # scale with corpus co-occurrence density — r7 ADVICE); verified
    # every caller still materializes the cache exactly once
    # r12: pagerank's degs checkpoint folded into the persisted edge
    # cache (deg attached via a src window at cache-build time)
    "operators/text.py": 13,
}


def _sites(root: str, pattern: str, skip: str = "") -> dict[str, int]:
    """``.py`` file (relative to ``root``) -> matches of ``pattern``."""
    rx = re.compile(pattern)
    found: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path == skip:
                continue
            with open(path, encoding="utf-8") as f:
                n = len(rx.findall(f.read()))
            if n:
                found[os.path.relpath(path, root)] = n
    return found


@pytest.mark.smoke
def test_no_unaudited_localcheckpoint_sites():
    found = _sites(PKG, r"\.localCheckpoint\(")
    assert found == AUDITED, (
        "raw .localCheckpoint( call sites changed.\n"
        f"found   = {found}\n"
        f"audited = {AUDITED}\n"
        "A checkpoint truncates lineage and pins rows on executor-local "
        "storage. If the table grows with corpus volume (token stream, "
        "per-doc/session/vector rows, signatures), use "
        "functions.persist_corpus instead. If it is genuinely bounded "
        "(histogram, k-row moments, loop state), use "
        "functions.checkpoint_bounded(df, bound=...) or update AUDITED "
        "here with the bound documented at the call site."
    )


@pytest.mark.smoke
def test_corpus_cache_helper_is_memory_and_disk():
    from pyspark import StorageLevel

    # the helper's contract: spillable AND recomputable (lineage kept)
    import inspect

    from tscd_datalake_adapter_spark.functions import persist_corpus

    src = inspect.getsource(persist_corpus)
    assert "MEMORY_AND_DISK" in src
    assert StorageLevel.MEMORY_AND_DISK is not None


def test_checkpoint_bounded_requires_claim():
    from tscd_datalake_adapter_spark.functions import checkpoint_bounded

    with pytest.raises(ValueError):
        checkpoint_bounded(None, "")
    with pytest.raises(ValueError):
        checkpoint_bounded(None, None)  # type: ignore[arg-type]


# Each repeated pattern has ONE primitive; its hand-rolled form may appear
# only inside that primitive. name -> (pattern, {module: audited count}),
# modules relative to the package.
PRIMITIVE_SITES: dict[str, tuple[str, dict[str, int]]] = {
    # Spark-exact rounding: functions.spark_decimal / spark_round
    "round_half_up": (r"ROUND_HALF_UP", {"functions/__init__.py": 2}),
    "decimal_repr": (r"Decimal\(repr\(", {"functions/__init__.py": 1}),
    # the bounded single-task fold: functions.bounded_fold
    "constant_key_grouped_map": (
        r"groupBy\(\s*F\.lit\([^()]*\)(?:\.alias\([^()]*\))?\s*\)\s*"
        r"\.applyInPandas",
        {"functions/__init__.py": 1},
    ),
    # the executed-plan walk: plans.executed_nodes
    "plan_tree_walk": (r"AdaptiveSparkPlanExec", {"plans/__init__.py": 1}),
}


@pytest.mark.smoke
@pytest.mark.parametrize("name", sorted(PRIMITIVE_SITES))
def test_no_hand_rolled_primitive_copies(name):
    pattern, audited = PRIMITIVE_SITES[name]
    found = _sites(PKG, pattern)
    assert found == audited, (
        f"hand-rolled copies of {pattern!r} changed.\n"
        f"found   = {found}\n"
        f"audited = {audited}\n"
        "Use the primitive instead of copying it: functions.spark_round / "
        "spark_decimal for Spark's round() and double->decimal cast, "
        "functions.bounded_fold for a constant-key single-task fold, "
        "plans.executed_nodes / node_counts for the executed plan tree."
    )


@pytest.mark.smoke
def test_tests_do_not_walk_the_plan_tree_themselves():
    pattern = PRIMITIVE_SITES["plan_tree_walk"][0]
    found = _sites(
        os.path.join(ROOT, "tests"), pattern, skip=os.path.abspath(__file__)
    )
    assert found == {}, (
        f"plan-tree walk copied into tests: {found}; use "
        "plans.executed_nodes / plans.node_counts"
    )


@pytest.mark.smoke
def test_lake_has_one_data_file_writer():
    """The lake writes parquet data files on the driver in one place,
    ``LakeAdapter._write_book_files`` (its ``ParquetWriter`` and
    ``write_table`` calls); single ingests and small rewrites both go
    through it."""
    pattern = r"\bwrite_table\(|\bParquetWriter\(|\bwrite_to_dataset\(|\bwrite_dataset\("
    found = _sites(os.path.join(PKG, "lake"), pattern)
    assert found == {"adapter.py": 2}, (
        f"driver-side parquet writers under lake/ changed: {found}; write "
        "data files through LakeAdapter._write_book_files"
    )


@pytest.mark.smoke
def test_plan_text_comes_from_one_place():
    """``plans.formatted_plan`` is the one reader of ``explain()`` text in
    the package and ``scripts/``; plan facts come from the plan tree
    (``plans.executed_nodes`` and the helpers over it)."""
    pattern = r"explainString|\.explain\("
    found = _sites(PKG, pattern)
    found.update(
        (f"scripts/{k}", n)
        for k, n in _sites(os.path.join(ROOT, "scripts"), pattern).items()
    )
    assert found == {"plans/__init__.py": 1}, (
        f"explain-text readers changed: {found}; dump plans with "
        "plans.formatted_plan and pin plan facts with plans.node_counts / "
        "executed_scan_columns"
    )


@pytest.mark.smoke
def test_delta_latest_version_has_one_helper():
    """Only ``delta_lite`` reads the checkpoint pointer; everything else
    asks ``delta_lite._log_head`` for the log's latest version."""
    found = _sites(PKG, r"\b_last_checkpoint_version\b")
    assert set(found) == {"sources/delta_lite.py"}, (
        f"_last_checkpoint_version used outside delta_lite: {found}; call "
        "delta_lite._log_head"
    )


class _Uses(ast.NodeVisitor):
    """The innermost enclosing function of every use of ``name`` (a name
    or an attribute), ``<module>`` at module level."""

    def __init__(self, name: str):
        self.name = name
        self.stack = ["<module>"]
        self.found: set[str] = set()

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Name(self, node):
        if node.id == self.name:
            self.found.add(self.stack[-1])

    def visit_Attribute(self, node):
        if node.attr == self.name:
            self.found.add(self.stack[-1])
        self.generic_visit(node)


def _trees(root: str):
    """``(path relative to root, parsed module)`` for every ``.py`` file."""
    for dirpath, _dirs, files in os.walk(root):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, root), ast.parse(f.read())


def _users(root: str, name: str) -> dict[str, list[str]]:
    """module -> the functions that use ``name``."""
    out: dict[str, list[str]] = {}
    for rel, tree in _trees(root):
        v = _Uses(name)
        v.visit(tree)
        if v.found:
            out[rel] = sorted(v.found)
    return out


@pytest.mark.smoke
def test_delta_commits_are_parsed_only_by_commit_actions():
    """A delta commit file is opened and parsed in one place,
    ``delta_lite._commit_actions`` (through the ``write_once`` parse
    cache); the other callers of ``_version_file`` write a commit, test
    that it exists or delete it."""
    assert _users(PKG, "_version_file") == {
        "sources/delta_lite.py": [
            "_commit", "_commit_actions", "_commit_info", "checkpoint_delta",
        ]
    }, "parse delta commits with delta_lite._commit_actions"


@pytest.mark.smoke
def test_avro_containers_are_decoded_only_by_read_container():
    """Avro containers (iceberg manifests and manifest lists) are decoded
    only by ``avro_lite.read_container``, through the ``write_once`` parse
    cache."""
    assert _users(PKG, "_decode_container") == {
        "sources/avro_lite.py": ["read_container"]
    }
    assert _users(PKG, "read_datum") == {
        "sources/avro_lite.py": ["_decode_container", "read_datum"]
    }, "decode avro containers with avro_lite.read_container"


_MUTATING_METHODS = {
    "add", "append", "clear", "discard", "extend", "insert", "move_to_end",
    "pop", "popitem", "remove", "setdefault", "update",
}


def _module_caches(tree: ast.Module) -> list[str]:
    """Module-level names that a function of the module writes into (item
    assignment or deletion, or a mutating method), and functions wrapped
    in ``functools.cache`` / ``lru_cache``."""
    names = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.add(node.target.id)
    found = set()
    for func in ast.walk(tree):
        if not isinstance(func, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for dec in func.decorator_list:
            d = dec.func if isinstance(dec, ast.Call) else dec
            if getattr(d, "id", getattr(d, "attr", None)) in ("cache", "lru_cache"):
                found.add(func.name)
        for node in ast.walk(func):
            if isinstance(node, ast.Subscript) and isinstance(
                node.ctx, (ast.Store, ast.Del)
            ):
                target = node.value
            elif isinstance(node, ast.Call) and isinstance(
                node.func, ast.Attribute
            ) and node.func.attr in _MUTATING_METHODS:
                target = node.func.value
            else:
                continue
            if isinstance(target, ast.Name) and target.id in names:
                found.add(target.id)
    return sorted(found)


@pytest.mark.smoke
def test_sources_keep_one_module_level_cache():
    """Under ``sources/`` the one module-level cache is the parse cache of
    write-once metadata files, ``write_once._entries``: it compares each
    file's bytes before it reuses a value, and it is bounded."""
    found = {}
    for rel, tree in _trees(os.path.join(PKG, "sources")):
        names = _module_caches(tree)
        if names:
            found[rel] = names
    assert found == {"write_once.py": ["_entries"]}, (
        f"module-level caches under sources/: {found}; cache parsed "
        "metadata files through sources.write_once.parsed"
    )


def _enclosing(tree: ast.AST, match) -> list[str]:
    """The innermost enclosing function of every node ``match`` accepts,
    once per node (``<module>`` at module level)."""
    found = []

    def walk(node, name):
        for child in ast.iter_child_nodes(node):
            if match(child):
                found.append(name)
            inner = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else name
            )
            walk(child, inner)

    walk(tree, "<module>")
    return found


def _is_parquet_read(node: ast.AST) -> bool:
    """A ``DataFrameReader.parquet`` call: ``.parquet(...)`` on a receiver
    chain through ``.read`` (``spark.read.schema(s).parquet(...)``), not a
    writer's ``.parquet``."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
    ):
        return False
    recv = node.func.value
    while isinstance(recv, (ast.Call, ast.Attribute)):
        if isinstance(recv, ast.Attribute) and recv.attr == "read":
            return True
        recv = recv.func if isinstance(recv, ast.Call) else recv.value
    return False


def _raises_partition_mismatch(node: ast.AST) -> bool:
    """A ``raise`` whose message names a partition mismatch."""
    if not isinstance(node, ast.Raise):
        return False
    text = " ".join(
        c.value
        for c in ast.walk(node)
        if isinstance(c, ast.Constant) and isinstance(c.value, str)
    )
    return "partition" in text and "mismatch" in text


@pytest.mark.smoke
def test_lake_data_files_have_one_spark_reader():
    """Spark reads a lake's data files in one place,
    ``delta_lite.read_data_files`` (the given schema, ``basePath``, sorted
    paths, the partition check): no other ``DataFrameReader.parquet``
    call in ``delta_lite``, ``iceberg_lite`` or ``lake/``."""
    found = {}
    for sub, only in (
        ("sources", {"delta_lite.py", "iceberg_lite.py"}),
        ("lake", None),
    ):
        for rel, tree in _trees(os.path.join(PKG, sub)):
            sites = _enclosing(tree, _is_parquet_read)
            if sites and (only is None or rel in only):
                found[f"{sub}/{rel}"] = sites
    assert found == {"sources/delta_lite.py": ["read_data_files"]}, (
        f"Spark parquet reads of lake data files: {found}; read them "
        "through delta_lite.read_data_files"
    )


@pytest.mark.smoke
def test_sources_have_one_partition_check():
    """One function under ``sources/`` checks a data file's metadata
    partition against its hive path, ``delta_lite._check_partitions``:
    it is the only one that raises a partition mismatch."""
    found = {}
    for rel, tree in _trees(os.path.join(PKG, "sources")):
        checks = sorted(set(_enclosing(tree, _raises_partition_mismatch)))
        if checks:
            found[rel] = checks
    assert found == {"delta_lite.py": ["_check_partitions"]}, (
        f"partition checks under sources/: {found}; check partitions with "
        "delta_lite._check_partitions"
    )
