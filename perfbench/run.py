"""Benchmark entry point: one seeded workload, measured for a fixed
time, outputs checked, one JSON result line last on stdout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the same work with the program's module boundaries
wrapped, and reports the per-layer metrics. Each run also writes a
record (and, traced, its spans) under ``.perfbench_out/`` in the
checkout. A traced run whose untraced twin (same workload and seed)
has already written its record also records the tracing overhead:
its ``pass_s`` minus the twin's. Everything the run writes besides
that lives in ``.perfbench_work/<run>/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the program under test, the files the benchmark borrows from it, and
# the benchmark's own spec
REQUIRED = ["noaa_data_pipeline_spark/__init__.py", "__spark_entry__.py", "bench.py",
            "tools/check_correctness.py", "BENCHMARK.json"]


def _workloads():
    from perfbench import analytics, weather

    return {
        "analytics_sf0.01": (analytics.Analytics, analytics.env()),
        "weather_product": (weather.WeatherProduct, {}),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result, record = run(args, workloads[args.workload], work, spec)
    except Exception:  # noqa: BLE001 — a run that cannot finish prints no result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    _print_table(record)
    print(json.dumps(result))
    return 0


def run(args, workload, work: str, spec: dict) -> tuple[dict, dict]:
    from perfbench import common
    from perfbench.trace import NullTracer, Tracer

    cls, wl_env = workload
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    os.environ.update(common.session_env(work))
    os.environ.update(wl_env)

    t0 = time.perf_counter()
    wl = cls(args.seed, work)
    t_session = time.perf_counter()
    spark = common.start_session(work)
    session_s = time.perf_counter() - t_session
    tracer = Tracer(spark) if args.trace else NullTracer()
    try:
        wl.install(tracer)
        wl.setup(spark, tracer)
        tracer.uninstall()
        setup_s = time.perf_counter() - t0
        setup_failed = len(wl.failures)

        attempted = failed = 0
        # a faster program runs the same iterations in less time, not
        # more of them: the first passes are slower than later ones and
        # weather hours grow, so a clock-driven count would move the
        # medians for reasons of its own
        n = common.iterations(args.seconds, wl.iteration_s)
        wl.install(tracer)
        t_loop = time.perf_counter()
        for i in range(n):
            tracer.iter = i
            a, f = wl.iteration(spark, tracer, i)
            attempted, failed = attempted + a, failed + f
        measured_s = time.perf_counter() - t_loop
        tracer.uninstall()

        tracer.iter = "finish"
        wl.install(tracer)
        a, f = wl.finish(spark, tracer) or (0, 0)
        tracer.uninstall()
        attempted, failed = attempted + a, failed + f
        # set-up checks (query digests, the warm tick or cycle) count too
        attempted += wl.setup_checks
        failed += setup_failed

        e2e = {"setup_s": setup_s, "peak_rss_mb": 0.0, **wl.end_to_end(measured_s)}
        detail = wl.detail(measured_s)
        e2e["peak_rss_mb"] = common.peak_rss_mb(spark)
        probes, layers = {}, {}
        if args.trace:
            # the box probes cost ~20 s, so they ride along with the
            # traced runs only
            probes = common.box_probes(spark)
            layers = {"session.start_s": session_s, **wl.layers(tracer.spans, set(range(n)))}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            twin = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
            if os.path.isfile(twin):
                with open(twin) as fh:
                    layers["trace.overhead_s"] = e2e["pass_s"] - json.load(fh)["end_to_end"]["pass_s"]
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace1.spans.jsonl"))
    finally:
        close = getattr(wl, "close", None)
        if close:
            close()
        common.stop_session(spark)

    section = "per_layer" if args.trace else "end_to_end"
    values = layers if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[section]
    }
    correct = failed == 0 and not wl.failures
    result = {"correct": correct, "attempted": max(1, attempted), "failed": failed, "metrics": metrics}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "iterations": n, "measured_s": measured_s,
        "session": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")}
        | {"spark.ui.showConsoleProgress": "false"},
        "units": {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]},
        "end_to_end": e2e, "detail": detail, "box_probes": probes, "per_layer": layers,
        "failures": wl.failures, "result": result,
    }
    return result, record


def _print_table(record: dict) -> None:
    from perfbench.common import unit_of

    print(f"# {record['workload']} seed={record['seed']} iterations={record['iterations']} "
          f"measured={record['measured_s']:.2f}s trace={record['trace']}")
    for section in ("end_to_end", "detail", "box_probes", "per_layer"):
        for k, v in record[section].items():
            items = v.items() if isinstance(v, dict) else [(None, v)]
            for kk, vv in items:
                name = k if kk is None else f"{k}.{kk}"
                unit = record["units"].get(name) or unit_of(k)
                print(f"{section:10s} {name:56s} {vv:12.6g} {unit}")
    for f in record["failures"]:
        print(f"FAILED {f}")


if __name__ == "__main__":
    sys.exit(main())
