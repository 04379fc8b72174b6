"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics_sf01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs come from ``--seed``; the run
times as many passes or cycles as fit in ``--seconds`` at their nominal
length (at least one; the count does not depend on the machine), checks
every output, and prints two JSON lines on stdout: the run record
(configuration, host probes, per-op detail) and, last, the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics of a traced run, whose spans are also written to
``.perfbench_work/spans/<workload>-seed<N>.json`` for ``report.py``.

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and the per-run part is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("analytics_sf01", "lake")


class Context:
    """What a workload needs: the session, the tracer, its seed and time
    budget, and the two clocks that bound set-up and the timed window."""

    def __init__(self, args, cfg: dict, t_setup0: float):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = cfg["work_dir"]
        self.cfg = cfg
        self.record: dict = {}
        self.layer: dict = {}
        self.spark = None
        self.tracer = None
        self._t_setup0 = t_setup0
        self.setup_s = None
        self.window_s = None
        self.rss_ref_mb = None
        self.peak_rss_mb = None
        self.driver_rss_gain_mb = None
        self.driver_peak_gain_mb = None
        self._t_window0 = None

    def rounds(self, nominal_s: float) -> int:
        """Timed rounds (passes or cycles) to run: as many as fit in
        ``--seconds`` at their nominal length, at least one. The count
        depends on ``--seconds`` only, not on how fast the machine is, so
        every run of a seed does the same work."""
        return max(1, round(self.seconds / nominal_s))

    def phase(self, name: str, t0: float) -> None:
        """Record the wall time of one untimed step (set-up, check)."""
        self.record.setdefault("phases", {})[name] = time.perf_counter() - t0

    def mark_memory(self) -> None:
        """Take the driver's memory reference: called by the workload once
        its inputs exist, before it imports the registry."""
        from perfbench.common import driver_rss_mb

        self.rss_ref_mb = driver_rss_mb()

    def end_setup(self) -> None:
        from perfbench.common import spark_probe

        self.setup_s = time.perf_counter() - self._t_setup0
        self.record["spark_probe_pre_s"] = spark_probe(self.spark)
        self._t_window0 = time.perf_counter()

    def end_window(self) -> None:
        from perfbench.common import driver_peak_rss_mb, driver_rss_mb, peak_rss_mb

        self.window_s = time.perf_counter() - self._t_window0
        # before the output check, whose own memory is not the program's
        self.driver_rss_gain_mb = driver_rss_mb() - self.rss_ref_mb
        self.driver_peak_gain_mb = driver_peak_rss_mb() - self.rss_ref_mb
        self.peak_rss_mb = peak_rss_mb(self.spark)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "tscd_datalake_adapter_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2

    from perfbench import analytics, lake
    from perfbench.common import cpu_pressure, cpu_probe, cpu_ticks, run_config, spark_probe, start_spark
    from perfbench.metrics import E2E, PER_LAYER, UNITS, layer_metrics
    from perfbench.tracing import Span, Tracer

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Python's and Spark's scratch space stay inside the checkout
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = work
    cfg = run_config(args.workload, args.seed, args.seconds, bool(args.trace), work)
    record: dict = {"config": cfg, "cpu_pressure_pre": cpu_pressure(), "cpu_probe_pre_s": cpu_probe()}
    ticks0 = cpu_ticks()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(cfg)
        session_s = time.perf_counter() - t0
        ctx = Context(args, cfg, t0)
        ctx.spark = spark
        ctx.tracer = Tracer(spark, enabled=bool(args.trace))
        ctx.layer["session.start_s"] = session_s
        if args.trace:
            ctx.tracer.spans.append(
                Span(id=0, name="session.start", layer="session", trace="setup",
                     parent=None, start=-session_s, end=0.0)
            )

        res = (analytics if args.workload == "analytics_sf01" else lake).run(ctx)

        record.update(ctx.record)
        record.setdefault("phases", {})["session_s"] = session_s
        record["spark_probe_post_s"] = spark_probe(spark)
        record["cpu_probe_post_s"] = cpu_probe()
        record["cpu_pressure_post"] = cpu_pressure()
        ticks1 = cpu_ticks()
        if ticks0 and ticks1 and ticks1[0] > ticks0[0]:
            record["cpu_steal_share"] = (ticks1[1] - ticks0[1]) / (ticks1[0] - ticks0[0])
        record["setup_s"] = ctx.setup_s
        record["window_s"] = ctx.window_s
        record["error_rate"] = res["failed"] / res["attempted"]
        e2e = {
            "setup_s": ctx.setup_s,
            "round_s": res["round_s"],
            "op_gmean_ms": res["op_gmean_ms"],
            "driver_rss_gain_mb": ctx.driver_rss_gain_mb,
        }
        record["end_to_end"] = e2e
        # too noisy or too sparse to bound; kept for diagnosis
        record["diagnostics"] = {
            "op_p50_ms": res["op_p50_ms"], "op_p90_ms": res["op_p90_ms"], "peak_rss_mb": ctx.peak_rss_mb,
            "driver_rss_ref_mb": ctx.rss_ref_mb, "driver_peak_gain_mb": ctx.driver_peak_gain_mb,
        }
        if args.trace:
            rounds = record.get("passes") or record.get("cycles") or 0
            declared, extra = layer_metrics(ctx.tracer.spans, rounds, ctx.layer)
            record["per_layer"] = declared
            record["per_layer_extra"] = extra
            metrics = {n: declared[n] for n, *_ in PER_LAYER}
            spans_dir = os.path.join(base, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
            ctx.tracer.write(path, {"config": cfg, "rounds": rounds, "record": record})
            record["spans_file"] = os.path.relpath(path, ROOT)
        else:
            metrics = {n: e2e[n] for n, *_ in E2E}
        records_dir = os.path.join(base, "records")
        os.makedirs(records_dir, exist_ok=True)
        with open(os.path.join(records_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": float(v), "unit": UNITS[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
