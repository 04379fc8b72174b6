"""Run configuration, host probes and small statistics shared by the
workloads."""

from __future__ import annotations

import contextlib
import math
import os
import resource
import statistics
import time


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints, without its
    ``OMP_NUM_THREADS`` override)."""
    return len(os.sched_getaffinity(0))


def run_config(workload: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    """The pinned configuration every run records. No host default leaks
    in: the master is ``local[nproc]``, never a hardcoded core count."""
    n = cores()
    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "nproc": n,
        "master": f"local[{n}]",
        "shuffle_partitions": max(n, 8),
        "work_dir": work,
        "client_threads": 1,
    }


def start_spark(cfg: dict):
    """The engine session on the pinned master. Spark's scratch space and
    the JVM's temp dir stay inside the run's work dir."""
    from tscd_datalake_adapter_spark import get_spark

    spark = get_spark(
        "perfbench",
        master=cfg["master"],
        conf={
            "spark.sql.shuffle.partitions": str(cfg["shuffle_partitions"]),
            "spark.local.dir": os.path.join(cfg["work_dir"], "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(cfg["work_dir"], "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                "-Duser.timezone=UTC -XX:-UsePerfData "
                f"-Djava.io.tmpdir={cfg['work_dir']} "
                f"-Dderby.system.home={cfg['work_dir']}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- host probes (diagnostics only: no metric is adjusted by them) -----------


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop, median of three."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def spark_probe(spark) -> float:
    """Seconds for a fixed JVM-side job on all cores, min of two."""
    samples = []
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(20_000_000).selectExpr("sum(id)").collect()
        samples.append(time.perf_counter() - t0)
    return min(samples)


def cpu_pressure() -> float | None:
    """Percent of the last 10 s in which some task waited for a CPU (Linux
    pressure stall information), or None where the kernel has none."""
    try:
        with open("/proc/pressure/cpu") as f:
            return float(f.readline().split()[1].split("=")[1])
    except (OSError, IndexError, ValueError):
        return None


def cpu_ticks() -> tuple[int, int] | None:
    """(all, stolen) CPU ticks of this machine so far, from ``/proc/stat``;
    stolen ticks are time the hypervisor ran something else on a virtual
    CPU that had work."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return sum(fields[:8]), fields[7]
    except (OSError, IndexError, ValueError):
        return None


def driver_peak_rss_mb() -> float:
    """Peak resident memory of this (the driver's) Python process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def driver_rss_mb() -> float:
    """Resident memory of this (the driver's) Python process now, after
    handing free heap memory back to the system: whether the C allocator
    kept it depends on how threads interleaved, not on what is held."""
    import ctypes

    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmRSS in /proc/self/status")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the Spark JVM it
    launched."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


# -- statistics ---------------------------------------------------------------


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in values))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def tail_note(n: int, q: float) -> dict:
    """How many samples lie beyond the ``q`` percentile of ``n``."""
    return {"samples": n, "beyond": n - math.ceil(q / 100.0 * n)}


def dir_stats(root: str, skip: tuple[str, ...] = ()) -> tuple[int, int]:
    """(files, bytes) under ``root``, skipping any path part in ``skip``."""
    files = size = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in skip]
        for fn in filenames:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, fn))
    return files, size
