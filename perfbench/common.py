"""Session, environment and measurement helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import resource
import statistics
import subprocess
import time

# Session profile of every measured run. The JVM heap is pinned to
# fit a 15 GiB box that other jobs share (the session default is 24g);
# the core count is the process's CPU affinity, i.e. `nproc`.
DRIVER_MEMORY = "4g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_env(work: str) -> dict[str, str]:
    """Environment for a measured session. Every scratch path the
    program or Spark writes (shuffle files, temp dirs) points into
    ``work`` inside the checkout."""
    return {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }


def start_session(work: str):
    """The engine's own session factory, with the console progress bar
    off so the run's output is the benchmark's alone."""
    from noaa_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_configs={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM (the
    gateway process and whatever it exec'd or spawned)."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = jvm_pid(spark)
    if pid is not None:
        kb += max([_vm_hwm_kb(pid)] + [_vm_hwm_kb(k) for k in _descendants(pid)])
    return kb / 1024.0


def median(xs) -> float:
    return statistics.median(xs)


def pct(xs, q: float) -> float:
    """The q-th percentile (0 < q < 100) by linear interpolation."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def dir_stats(root: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under ``root``."""
    n = size = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def box_probes(spark) -> dict[str, float]:
    """bench.py's two fixed-shape box probes with bench.py's protocol,
    after the workload: one warm run each, then the best of 3. Context
    for drift between days, not a gated metric."""
    import bench

    path = bench._scan_probe_path(spark)
    probes = {"calibration_s": lambda: bench._calibration(spark),
              "calibration_scan_s": lambda: bench._calibration_scan(spark, path)}
    for fn in probes.values():
        fn()
    out = dict.fromkeys(probes, float("inf"))
    for _ in range(3):
        for name, fn in probes.items():
            t0 = time.perf_counter()
            fn()
            out[name] = min(out[name], time.perf_counter() - t0)
    return out


def iterations(seconds: float, iteration_s: float) -> int:
    """Loop iterations a run of ``seconds`` measures: as many as fit at
    the baseline's ``iteration_s``, at least one. The count does not
    depend on the clock during the run, so every run of a workload at
    a given ``--seconds`` measures the same iterations."""
    return max(1, round(seconds / iteration_s))


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (its Python workers are its children and go with it)."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def unit_of(name: str) -> str:
    """Unit of a detail figure, from its name's suffix."""
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("per_row", "B/row"), ("per_s", "1/s")):
        if name.endswith(suffix):
            return unit
    return "count"
