"""The analytics workload: the 23 ``headline=True`` registry queries.

One client runs passes. Each query is built by its registry function and
executed to the ``noop`` sink, as ``bench.py`` does; a pass runs all of
them in a seed-permuted order. Every query runs cold: the session's cache
is cleared after each one, outside the timing. Pass 0 is untimed: it warms
the JVM and runs the same per-query code, collecting each result to
pandas instead of the ``noop`` write; after the timed window an
order-insensitive digest of those rows is compared with the query's
DuckDB oracle on the same fixture.

The fixture is made by the repository's own generator
(``scripts/gen_stress_fixture.py``, fixed seed 42), with every row count
divided by ``ROW_DIVISOR``: 10 gives the sf0.1 row counts of FIXTURES.md.
It is made once per checkout, in ``.perfbench_work/cache/``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import io
import json
import math
import os
import statistics
import subprocess
import sys
import time
from decimal import Decimal

import numpy as np

from perfbench import gen
from perfbench.common import geomean, percentile, tail_note
from perfbench.tracing import catalyst_phases

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROW_DIVISOR = 10
PASS_S = 25  # about one timed pass over the 23 queries, on 4 cores
_SCALED = ("N_CUSTOMER", "N_SUPPLIER", "N_PART", "N_ORDERS", "N_EVENTS", "N_USERS", "N_DOCS", "N_EMB")


def make_fixture(target: str) -> str:
    """Write the fixture into ``target``. The generator takes its row
    counts from module constants and only an integer multiplier, so the
    constants are divided for the call and restored after it."""
    from scripts import gen_stress_fixture as g

    saved = {k: getattr(g, k) for k in _SCALED}
    try:
        for k, v in saved.items():
            setattr(g, k, v // ROW_DIVISOR)
        with contextlib.redirect_stdout(io.StringIO()):
            g.main(target, scale=1)
    finally:
        for k, v in saved.items():
            setattr(g, k, v)
    return target


def _inputs_key(*extra) -> str:
    """Hash of the fixture generator, this module and ``extra``: what the
    fixture and the oracle digests depend on."""
    from scripts import gen_stress_fixture as g

    key = hashlib.sha256()
    for path in (g.__file__, __file__):
        with open(path, "rb") as f:
            key.update(f.read())
    key.update(json.dumps([ROW_DIVISOR, *extra]).encode())
    return key.hexdigest()[:16]


def fixture(cache_dir: str) -> str:
    """The fixture, made once per checkout and kept in ``cache_dir`` (no
    query writes into it). It is generated in a child process, so the
    generator's memory is not counted as the driver's."""
    path = os.path.join(cache_dir, f"sf0.1-{_inputs_key()}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        code = "import sys; from perfbench.analytics import make_fixture; make_fixture(sys.argv[1])"
        subprocess.run([sys.executable, "-c", code, tmp], cwd=ROOT, check=True)
        os.replace(tmp, path)
    return path


# -- output check ---------------------------------------------------------------


def _cell(v):
    """Normalize one cell so Spark and DuckDB rows compare exactly (the
    rules of ``scripts/parity_check.py``; its row walk uses ``iterrows``,
    which would add seconds to every run's set-up)."""
    if v is None:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return ("float", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, bytes):
        return ("bytes", v.hex())
    return v


def digest(pdf) -> str:
    """Order-insensitive digest of a result: columns sorted by name, rows
    normalized and sorted."""
    cols = sorted(pdf.columns)
    columns = [[_cell(v) for v in pdf[c].tolist()] for c in cols]
    rows = sorted(map(repr, zip(*columns)))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return f"{len(rows)}:{h.hexdigest()}"


def oracle_digests(sf_dir: str, specs: dict, cache_dir: str) -> dict[str, str]:
    """Digest of each query's DuckDB oracle on the fixture. They depend only
    on the fixture generator, the oracle SQL and this module, so they are
    kept in ``cache_dir`` under a hash of all three and computed once per
    checkout."""
    key = _inputs_key(sorted((n, s.oracle) for n, s in specs.items()))
    path = os.path.join(cache_dir, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)

    import duckdb

    from tscd_datalake_adapter_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {name: digest(con.execute(spec.oracle).df()) for name, spec in specs.items()}
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


# -- workload -------------------------------------------------------------------


def run(ctx) -> dict:
    cache = os.path.join(os.path.dirname(ctx.work), "cache")
    t = time.perf_counter()
    sf_dir = fixture(cache)
    ctx.phase("fixture_s", t)
    ctx.record["fixture"] = {"path": sf_dir, "generator": "scripts/gen_stress_fixture.py", "row_divisor": ROW_DIVISOR}
    ctx.mark_memory()

    from tscd_datalake_adapter_spark.operators import load_all

    with ctx.tracer.span("operators.load_all", trace="setup"):
        t = time.perf_counter()
        registry = load_all()
        ctx.layer["operators.load_all_s"] = time.perf_counter() - t
    specs = {n: s for n, s in registry.items() if s.headline}

    if ctx.tracer.enabled:
        _trace_table_loads(ctx, sf_dir)

    orders = gen.pass_orders(ctx.seed, list(specs), 1 + ctx.rounds(PASS_S))
    t = time.perf_counter()
    got, errors = _warm_up(ctx, specs, sf_dir, orders[0])
    ctx.phase("warm_up_s", t)
    ctx.end_setup()

    failed = len(errors)
    passes: list[float] = []
    latency: dict[str, list[float]] = {}
    construct: list[float] = []
    spark = ctx.spark
    for p, order in enumerate(orders[1:], start=1):
        ctx.tracer.round = p
        pass_s = 0.0
        for name in order:
            try:
                built, total, _ = _query(spark, ctx.tracer, name, specs[name].fn, sf_dir, p)
            except Exception as exc:  # noqa: BLE001
                errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
                failed += 1
                continue
            finally:
                spark.catalog.clearCache()
            pass_s += total
            construct.append(built)
            latency.setdefault(name, []).append(total)
        passes.append(pass_s)
    ctx.tracer.round = -1
    ctx.end_window()

    t = time.perf_counter()
    expected = oracle_digests(sf_dir, specs, cache)
    wrong = sorted(n for n, pdf in got.items() if digest(pdf) != expected[n])
    ctx.phase("check_s", t)
    attempted = len(specs) * (1 + len(passes))
    failed += len(wrong)

    per_query = [x for xs in latency.values() for x in xs]
    ctx.record.update(
        queries=sorted(specs),
        passes=len(passes),
        pass_s=passes,
        query_latency=tail_note(len(per_query), 90),
        construct_share=sum(construct) / sum(per_query) if per_query else None,
        wrong_results=wrong,
        errors=errors,
    )
    return {
        "attempted": attempted,
        "failed": failed,
        "round_s": statistics.median(passes),
        "op_gmean_ms": 1000 * geomean([statistics.median(xs) for xs in latency.values()]),
        "op_p50_ms": 1000 * percentile(per_query, 50),
        "op_p90_ms": 1000 * percentile(per_query, 90),
    }


def _query(spark, tr, name, fn, sf_dir, p, collect=False):
    """Build one query with its registry function and execute it: to the
    ``noop`` sink, or with ``collect`` to pandas for the output check.
    Returns (construct s, construct + execute s, pandas result or None)."""
    trace_id = f"pass{p}:{name}"
    t0 = time.perf_counter()
    with tr.span("operators.construct", trace=trace_id, query=name):
        df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    if tr.enabled:
        with tr.span("catalyst.plan", trace=trace_id) as sp:
            tr.add(sp, **catalyst_phases(df))
    pdf = None
    with tr.span("exec.execute", trace=trace_id):
        if collect:
            pdf = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return t1 - t0, t2 - t0, pdf


def _warm_up(ctx, specs, sf_dir, order):
    """Untimed pass 0: every query once through ``_query``, collected for
    the output check (digested after the timed window, so the check's own
    memory is not counted as the driver's), ``nproc`` at a time and
    untraced. Run one at a time, this cold pass took 47-53 s on 4 cores
    against 26-31 s this way, which would make every run a third longer.
    The cache is cleared once the pass is done, so the timed passes start
    cold."""
    from concurrent.futures import ThreadPoolExecutor

    from perfbench.tracing import Tracer

    spark, off = ctx.spark, Tracer(ctx.spark, enabled=False)

    def one(name):
        try:
            return name, _query(spark, off, name, specs[name].fn, sf_dir, 0, collect=True)[2], None
        except Exception as exc:  # noqa: BLE001 - an error is a failed op
            return name, None, f"{type(exc).__name__}: {exc}"[:300]

    try:
        with ThreadPoolExecutor(ctx.cfg["nproc"]) as pool:
            results = list(pool.map(one, order))
    finally:
        spark.catalog.clearCache()
    got = {n: d for n, d, e in results if e is None}
    errors = {n: e for n, d, e in results if e is not None}
    return got, errors


def _trace_table_loads(ctx, sf_dir: str) -> None:
    """Open each fixture table directly through ``sources.tables``."""
    from tscd_datalake_adapter_spark.sources.tables import TABLE_NAMES, load_table

    for name in TABLE_NAMES:
        with ctx.tracer.span("sources.tables.load", trace=f"load:{name}", table=name):
            load_table(ctx.spark, sf_dir, name)
