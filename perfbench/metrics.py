"""Every metric the benchmark prints, and how per-layer numbers are
computed from the traced run's spans.

``E2E`` and ``PER_LAYER`` are the single source of the names in
``BENCHMARK.json`` (a test checks the two agree). Every workload prints
every one of them: the end-to-end metrics are defined so that each has a
meaning on every workload (see README.md), and a per-layer metric of a
layer a workload does not reach is a count of zero.

Layer-specific timings that only one kind of workload can produce (query
construction, single-ingest latency split by checkpoint, format open
cost, split throughput) are reported in the run record and the layer
report instead, so no declared metric is a time that is always zero.
"""

from __future__ import annotations

import statistics

# name, unit, better, bound (share of the parent's median)
E2E = (
    ("setup_s", "s", "lower", 0.25),
    ("round_s", "s", "lower", 0.25),
    ("op_gmean_ms", "ms", "lower", 0.25),
    ("driver_rss_gain_mb", "MB", "lower", 0.25),
)

# name, unit, better
PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("operators.load_all_s", "s", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("scheduler.jobs", "count", "lower"),
    ("scheduler.stages", "count", "lower"),
    ("scheduler.tasks", "count", "lower"),
    ("scheduler.failed_tasks", "count", "lower"),
    ("exec.task_s", "s", "lower"),
    ("exec.scan_rows", "rows", "lower"),
    ("exec.scan_bytes", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.broadcast_rows", "rows", "lower"),
    ("exec.python_rows", "rows", "lower"),
    ("operators.construct_jobs", "count", "lower"),
    ("sources.tables.load_jobs", "count", "lower"),
    ("lake.adapter.exists_jobs", "count", "lower"),
    ("lake.adapter.list_books_jobs", "count", "lower"),
    ("lake.adapter.ingest_raw_df_jobs", "count", "lower"),
    ("lake.adapter.merge_books_jobs", "count", "lower"),
    ("lake.adapter.compact_jobs", "count", "lower"),
    ("lake.adapter.read_latest_jobs", "count", "lower"),
    ("lake.data_files", "count", "lower"),
    ("lake.data_bytes", "bytes", "lower"),
    ("lake.meta_files", "count", "lower"),
    ("lake.meta_bytes", "bytes", "lower"),
)

UNITS = {n: u for n, u, *_ in E2E + PER_LAYER}

# span name -> per-request job-count metric (mean jobs per call)
JOBS_PER_CALL = {
    "sources.tables.load": "sources.tables.load_jobs",
    "lake.api.status": "lake.adapter.exists_jobs",
    "lake.api.list": "lake.adapter.list_books_jobs",
    "lake.adapter.ingest_raw_df": "lake.adapter.ingest_raw_df_jobs",
    "lake.adapter.merge_books": "lake.adapter.merge_books_jobs",
    "lake.adapter.compact": "lake.adapter.compact_jobs",
    "lake.adapter.read_latest": "lake.adapter.read_latest_jobs",
}

# Which end-to-end metric each layer should move, and where (README.md).
PREDICTIONS = {
    "session": "setup_s on every workload",
    "operators": "setup_s (load_all) on both; round_s and op_gmean_ms on analytics_sf01 (construct)",
    "sources.tables": "round_s and op_gmean_ms on analytics_sf01",
    "catalyst": "op_gmean_ms on analytics_sf01 (small: 50-200 ms on the largest plans)",
    "scheduler": "round_s on analytics_sf01; op_gmean_ms on lake (each status/list is a job)",
    "exec": "round_s on analytics_sf01; the maintenance share of round_s on lake",
    "lake.api": "op_gmean_ms on lake",
    "lake.adapter": "round_s on lake (bulk ingest, merge, compact, read_latest)",
    "lake.gutenberg": "round_s on lake (bulk ingest)",
    "sources.delta_lite": "op_gmean_ms and round_s on lake (delta half)",
    "sources.iceberg_lite": "op_gmean_ms and round_s on lake (iceberg half)",
}

# Layers each workload is expected to record spans for.
EXPECTED_LAYERS = {
    "analytics_sf01": ("operators", "sources.tables", "catalyst", "exec"),
    "lake": ("operators", "lake.api", "lake.adapter", "lake.gutenberg",
             "sources.delta_lite", "sources.iceberg_lite"),
}


def _median(xs):
    return statistics.median(xs) if xs else None


def layer_metrics(spans, rounds: int, direct: dict) -> tuple[dict, dict]:
    """(declared per-layer metrics, extra layer-specific metrics) from the
    traced run's spans. Per-round figures divide totals over the timed
    rounds (passes or cycles) by ``rounds``."""
    timed = [s for s in spans if s.round >= 1]
    per_round = max(rounds, 1)
    out = dict.fromkeys((n for n, *_ in PER_LAYER), 0)
    out.update(direct)

    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"scheduler.{key}"] = sum(s.counts[key] for s in timed) / per_round
    for key in ("task_s", "scan_rows", "scan_bytes", "shuffle_write_bytes",
                "spill_bytes", "broadcast_rows", "python_rows"):
        out[f"exec.{key}"] = sum(s.counts[key] for s in timed) / per_round
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = sum(s.attrs.get(phase, 0.0) for s in timed) / per_round
    out["operators.construct_jobs"] = sum(
        s.counts["jobs"] for s in timed if s.name == "operators.construct"
    ) / per_round
    for span_name, metric in JOBS_PER_CALL.items():
        # table opens run only in set-up; every other call is averaged
        # over the timed rounds, like the scheduler counts
        pool = spans if span_name == "sources.tables.load" else timed
        calls = [s for s in pool if s.name == span_name]
        out[metric] = sum(s.counts["jobs"] for s in calls) / len(calls) if calls else 0

    # lake size at run end, summed over the lakes of the run
    last_open = {s.name: s.attrs for s in spans if s.name.endswith("_lite.open")}
    for key in ("data_files", "data_bytes", "meta_files", "meta_bytes"):
        out[f"lake.{key}"] = sum(a[key] for a in last_open.values())

    extra: dict = {}
    construct = [s for s in timed if s.name == "operators.construct"]
    if construct:
        extra["operators.construct_s"] = sum(s.seconds for s in construct) / per_round
        extra["exec.execute_s"] = sum(s.seconds for s in timed if s.name == "exec.execute") / per_round
    loads = [s for s in spans if s.name == "sources.tables.load"]
    if loads:
        extra["sources.tables.load_ms"] = 1000 * _median([s.seconds for s in loads])
    ingests = [s for s in timed if s.name == "lake.api.ingest"]
    if ingests:
        plain = [s.seconds for s in ingests if not s.attrs.get("checkpoint")]
        ckpt = [s.seconds for s in ingests if s.attrs.get("checkpoint")]
        extra["lake.adapter.ingest_plain_ms"] = 1000 * _median(plain) if plain else None
        extra["lake.adapter.ingest_ckpt_ms"] = 1000 * _median(ckpt) if ckpt else None
        extra["lake.adapter.ingest_ckpt_count"] = len(ckpt)
    splits = [s for s in spans if s.name == "lake.gutenberg.split"]
    if splits:
        extra["lake.gutenberg.split_mb_per_s"] = sum(s.attrs["mb"] for s in splits) / sum(
            s.attrs["split_s"] for s in splits
        )
    for fmt in ("delta_lite", "iceberg_lite"):
        fo = [s for s in spans if s.name == f"sources.{fmt}.open"]
        if fo:
            extra[f"sources.{fmt}.open_ms"] = 1000 * _median([s.seconds for s in fo])
            last = fo[-1].attrs
            if fmt == "delta_lite":
                extra["sources.delta_lite.log_files"] = last["meta_files"]
            else:
                extra["sources.iceberg_lite.manifest_files"] = last["manifest_files"]
                extra["sources.iceberg_lite.metadata_bytes"] = last["meta_bytes"]
    extra["scheduler.jobs_by_round"] = {
        r: sum(s.counts["jobs"] for s in timed if s.round == r)
        for r in sorted({s.round for s in timed})
    }
    return out, extra
