"""The book-lake workload: the reference surface on ``LakeAdapter``, on a
delta lake and an iceberg lake side by side.

One client runs cycles over a seeded corpus (``gen.LakeScript``); each
lake gets the identical script, the delta lake first. A cycle writes into
its own hour partition and does, in order, on each lake:

- a bulk append of 40 books through ``ingest_raw_df``;
- a burst of 21 ``IngestApi`` requests in seeded order: 10 single-book
  ingests, 7 status hits (uniform and recent-biased), 2 status misses
  and 2 lists;
- ``merge_books`` of 10% of the live ids;
- ``compact`` of the cycle's partition;
- ``read_latest().count()``.

Cycle 0 is untimed warm-up. Every answer is checked against the script's
ground truth as it arrives; the stored bodies are checked after the timed
window.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import time

from perfbench import gen
from perfbench.common import dir_stats, geomean, percentile, tail_note

BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
BACKENDS = ("delta", "iceberg")
BODY_SAMPLE = 24  # unmerged books whose stored body is checked at the end
REQUEST_KINDS = ("ingest", "status", "list")
# --seconds per timed cycle: a cycle on both lakes takes about 9 s on 4
# cores, but two cycles per 10 s give the per-kind medians twice the samples
CYCLE_S = 5


def _ts(cycle: int, minute: int = 0) -> dt.datetime:
    return BASE_TS + dt.timedelta(hours=cycle, minutes=minute)


def _meta_dir(backend: str) -> str:
    return "_delta_log" if backend == "delta" else "metadata"


def _open(backend: str, spark, root: str):
    """Open the table without an action: log replay or snapshot load."""
    if backend == "delta":
        from tscd_datalake_adapter_spark.sources.delta_lite import read_delta

        return read_delta(spark, root)
    from tscd_datalake_adapter_spark.sources.iceberg_lite import read_iceberg

    return read_iceberg(spark, root)


class Lake:
    def __init__(self, ctx, backend: str, script: gen.LakeScript):
        from tscd_datalake_adapter_spark.lake import LakeAdapter
        from tscd_datalake_adapter_spark.lake.api import IngestApi

        self.ctx = ctx
        self.backend = backend
        self.root = os.path.join(ctx.work, f"lake-{backend}")
        self.adapter = LakeAdapter(ctx.spark, self.root, backend=backend)
        self.api = IngestApi(self.adapter)
        self.script = script  # run to its end already: the final ground truth
        self.ops: dict[str, list[float]] = {}
        self.requests: list[float] = []
        self.attempted = 0
        self.problems: list[str] = []
        self.download_failed = 0
        self.bulk_dropped = 0
        self.last = None  # the cycle run last

    # -- bookkeeping ----------------------------------------------------------

    def _op(self, kind: str, seconds: float) -> None:
        self.ops.setdefault(kind, []).append(seconds)

    def _check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.problems.append(what)

    # -- one cycle --------------------------------------------------------------

    def cycle(self, c: gen.Cycle) -> None:
        tr, spark = self.ctx.tracer, self.ctx.spark
        self.last, i = c, c.index
        ts = _ts(i)

        trace = f"cycle{i}:bulk"
        with tr.span("lake.adapter.ingest_raw_df", trace=trace, books=len(c.bulk)):
            t0 = time.perf_counter()
            raw_df = spark.createDataFrame(
                [(b.book_id, b.raw) for b in c.bulk], "book_id long, raw string"
            )
            dropped = self.adapter.ingest_raw_df(raw_df, ts)
            self._op("bulk_ingest", time.perf_counter() - t0)
        self.bulk_dropped += dropped
        self._check(dropped == c.bulk_failures, f"cycle {i}: bulk dropped {dropped} != {c.bulk_failures}")

        for k, req in enumerate(c.requests):
            self._request(i, k, req)

        upd = [(bid, "h", gen.updated_body(bid, i)) for bid in c.merge_ids]
        with tr.span("lake.adapter.merge_books", trace=f"cycle{i}:merge", ids=len(upd)):
            t0 = time.perf_counter()
            updates = spark.createDataFrame(upd, "book_id long, header string, body string")
            self.adapter.merge_books(updates, _ts(i, 30))
            self._op("merge", time.perf_counter() - t0)
        self.attempted += 1

        day, hour = _ts(i).strftime("%Y%m%d"), _ts(i).strftime("%H")
        in_partition = len({b.book_id for b in c.bulk if b.ok} | {
            r[1].book_id for r in c.requests if r[0] == "ingest" and r[1].ok
        } | set(c.merge_ids))
        with tr.span("lake.adapter.compact", trace=f"cycle{i}:compact"):
            t0 = time.perf_counter()
            n = self.adapter.compact(day, hour)
            self._op("compact", time.perf_counter() - t0)
        self._check(n == in_partition, f"cycle {i}: compact saw {n} rows, expected {in_partition}")

        with tr.span("lake.adapter.read_latest", trace=f"cycle{i}:read_latest") as sp:
            t0 = time.perf_counter()
            df = self.adapter.read_latest()
            if tr.enabled:
                from perfbench.tracing import catalyst_phases

                tr.add(sp, **catalyst_phases(df))
            n = df.count()
            self._op("read_latest", time.perf_counter() - t0)
        self._check(n == len(c.live_after), f"cycle {i}: read_latest {n} != {len(c.live_after)}")

    def _request(self, i: int, k: int, req: tuple) -> None:
        tr = self.ctx.tracer
        kind = req[0]
        trace = f"cycle{i}:req{k}"
        if kind == "ingest":
            book = req[1]
            with tr.span("lake.api.ingest", trace=trace, book=book.book_id) as sp:
                t0 = time.perf_counter()
                res = self.api.ingest(book.book_id, book.raw, _ts(i, 1 + k))
                dt_s = time.perf_counter() - t0
                if tr.enabled:
                    pos = self.adapter.log_position()
                    ckpt = self.backend == "delta" and pos is not None and pos % self.adapter.checkpoint_every == 0
                    tr.add(sp, checkpoint=bool(ckpt and book.ok))
            if book.ok:
                self._check(res.get("status") == "ingested", f"ingest {book.book_id}: {res}")
            else:
                self.download_failed += res.get("error", {}).get("code") == "download_failed"
                self._check(res.get("error", {}).get("code") == "download_failed", f"malformed {book.book_id}: {res}")
        elif kind == "status":
            _, bid, hit, _sub = req
            with tr.span("lake.api.status", trace=trace, hit=hit):
                t0 = time.perf_counter()
                res = self.api.status(bid)
                dt_s = time.perf_counter() - t0
            want = "available" if hit else "not_found"
            self._check(res.get("status") == want, f"status {bid}: {res} (want {want})")
        else:
            with tr.span("lake.api.list", trace=trace):
                t0 = time.perf_counter()
                res = self.api.list()
                dt_s = time.perf_counter() - t0
            want = list(req[1])
            self._check(res.get("books") == want, f"list: {res.get('count')} ids, want {len(want)}")
        self._op(kind, dt_s)
        self.requests.append(dt_s)

    # -- traced-only measurements, made after the cycle's timing ------------------

    def trace_layers(self) -> None:
        self._trace_split(self.last)
        self._trace_open(self.last.index)

    def _trace_split(self, c) -> None:
        from tscd_datalake_adapter_spark.lake.gutenberg import split_book

        with self.ctx.tracer.span("lake.gutenberg.split", trace=f"cycle{c.index}:split") as sp:
            t0 = time.perf_counter()
            for b in c.bulk:
                split_book(b.raw)
            secs = time.perf_counter() - t0
            self.ctx.tracer.add(sp, mb=sum(len(b.raw.encode()) for b in c.bulk) / 1e6, split_s=secs)

    def _trace_open(self, i: int) -> None:
        layer = "sources.delta_lite" if self.backend == "delta" else "sources.iceberg_lite"
        tr = self.ctx.tracer
        with tr.span(f"{layer}.open", trace=f"cycle{i}:open") as sp:
            _open(self.backend, self.ctx.spark, self.root)
        meta_files, meta_bytes = dir_stats(os.path.join(self.root, _meta_dir(self.backend)))
        manifests = 0
        if self.backend == "iceberg":
            manifests = sum(
                f.endswith(".avro") for f in os.listdir(os.path.join(self.root, "metadata"))
            )
        data_files, data_bytes = dir_stats(self.root, skip=(_meta_dir(self.backend),))
        tr.add(sp, meta_files=meta_files, meta_bytes=meta_bytes, manifest_files=manifests,
               data_files=data_files, data_bytes=data_bytes)

    # -- end of run -----------------------------------------------------------------

    def summary(self) -> dict:
        files, size = dir_stats(self.root)
        user_bytes = sum(len(body.encode()) for body in self.script.live.values())
        return {
            "ops_s": self.ops,
            "ops_median_s": {k: statistics.median(v) for k, v in self.ops.items()},
            "ops_p90_s": {k: percentile(v, 90) for k, v in self.ops.items()},
            "bulk_ingest_books_per_s": statistics.median(
                gen.BULK_BOOKS / s for s in self.ops["bulk_ingest"]
            ),
            "space_amp": size / user_bytes,
            "lake_files": files,
            "lake_bytes": size,
            "live_books": len(self.script.live),
            "malformed": self.script.malformed_seen,
            "problems": self.problems[:20],
        }

    def final_check(self) -> None:
        """Stored bodies: every merged book reads back updated and a seeded
        sample of the others reads back exactly as split."""
        from pyspark.sql import functions as F

        live, merged = self.script.live, self.script.merged
        others = sorted(set(live) - merged)
        sample = random.Random(f"sample:{self.ctx.seed}").sample(others, min(BODY_SAMPLE, len(others)))
        ids = sorted(merged) + sample
        rows = (
            self.adapter.read_latest()
            .where(F.col("book_id").isin(ids))
            .select("book_id", "body")
            .collect()
        )
        got = {r.book_id: r.body for r in rows}
        for bid in ids:
            self._check(got.get(bid) == live[bid], f"body of {bid} differs")
        self._check(
            self.download_failed + self.bulk_dropped == self.script.malformed_seen,
            f"malformed surfaced {self.download_failed}+{self.bulk_dropped} != {self.script.malformed_seen}",
        )


def run(ctx) -> dict:
    # the whole script is made before the memory reference, so the
    # generator's corpus and ground truth are not counted as the driver's
    script = gen.LakeScript(ctx.seed)
    script_cycles = [script.cycle(i) for i in range(1 + ctx.rounds(CYCLE_S))]
    ctx.mark_memory()

    from tscd_datalake_adapter_spark.operators import load_all

    with ctx.tracer.span("operators.load_all", trace="setup"):
        t = time.perf_counter()
        load_all()
        ctx.layer["operators.load_all_s"] = time.perf_counter() - t

    ctx.cfg["backends"] = list(BACKENDS)
    lakes = [Lake(ctx, backend, script) for backend in BACKENDS]
    warm = {}
    for lk in lakes:  # warm-up
        t0 = time.perf_counter()
        lk.cycle(script_cycles[0])
        warm[lk.backend] = time.perf_counter() - t0
        if ctx.tracer.enabled:
            lk.trace_layers()
        lk.ops.clear()
        lk.requests.clear()
    ctx.end_setup()
    per_lake: dict[str, list[float]] = {lk.backend: [] for lk in lakes}

    cycles: list[float] = []
    for c in script_cycles[1:]:
        ctx.tracer.round = c.index
        for lk in lakes:
            t0 = time.perf_counter()
            lk.cycle(c)
            per_lake[lk.backend].append(time.perf_counter() - t0)
            if ctx.tracer.enabled:
                lk.trace_layers()
        cycles.append(sum(per_lake[lk.backend][-1] for lk in lakes))
    ctx.tracer.round = -1
    ctx.end_window()

    t = time.perf_counter()
    for lk in lakes:
        lk.final_check()
    ctx.phase("check_s", t)
    requests = [x for lk in lakes for x in lk.requests]
    ctx.record.update(
        cycles=len(cycles),
        cycle_s=cycles,
        cycle_s_by_backend=per_lake,
        warm_up_s=warm,
        request_latency=tail_note(len(requests), 90),
        backends={lk.backend: lk.summary() for lk in lakes},
    )
    return {
        "attempted": sum(lk.attempted for lk in lakes),
        "failed": sum(len(lk.problems) for lk in lakes),
        "round_s": statistics.median(cycles),
        "op_gmean_ms": 1000 * geomean(
            [statistics.median(lk.ops[k]) for lk in lakes for k in REQUEST_KINDS]
        ),
        "op_p50_ms": 1000 * percentile(requests, 50),
        "op_p90_ms": 1000 * percentile(requests, 90),
    }
