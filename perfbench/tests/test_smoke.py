"""A tiny-scale run of each workload: set-up, one loop iteration and the
closing checks, traced, in one shared session.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import os

import pytest

from perfbench import analytics, common, weather
from perfbench.trace import Tracer


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench_session"))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    saved = {k: os.environ.get(k) for k in common.session_env(work)}
    os.environ.update(common.session_env(work))
    session = common.start_session(work)
    yield session
    common.stop_session(session)
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


def _run(wl, spark):
    tracer = Tracer(spark)
    wl.install(tracer)
    try:
        wl.setup(spark, tracer)
        tracer.iter = 0
        attempted, failed = wl.iteration(spark, tracer, 0)
        tracer.iter = "finish"
        a, f = wl.finish(spark, tracer)
    finally:
        tracer.uninstall()
        wl.close()
    assert wl.failures == []
    assert failed + f == 0 and attempted + a > 0
    return tracer


def test_analytics_smoke(spark, tmp_path, monkeypatch):
    for k, v in analytics.env().items():
        monkeypatch.setenv(k, v)
    wl = analytics.Analytics(1, str(tmp_path), names=["q1_pricing_summary", "dedup_exact"])
    tracer = _run(wl, spark)
    assert set(wl.end_to_end(1.0)) == {"pass_s", "op_geomean_s", "op_p50_s", "ops_per_s", "lake_bytes_per_row"}
    layers = wl.layers(tracer.spans, {0})
    assert layers["engine.jobs.q1_pricing_summary"] >= 1
    assert layers["engine.tasks.q1_pricing_summary"] >= layers["engine.jobs.q1_pricing_summary"]
    assert layers["tables.load_table_calls"] >= 1


def test_weather_product_smoke(spark, tmp_path):
    wl = weather.WeatherProduct(2, str(tmp_path), stations=6, max_ticks=4)
    tracer = _run(wl, spark)
    e2e = wl.end_to_end(1.0)
    assert all(v > 0 for v in e2e.values())
    layers = wl.layers(tracer.spans, {0})
    assert layers["weather.lake.write_snapshot_s"] > 0
    assert layers["functions.schnorr.signs"] == 1
    assert layers["weather.streaming_ingest.files_after"] < layers["weather.streaming_ingest.files_before"]
