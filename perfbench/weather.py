"""``weather_product``: the reference's product path, one hour at a time.

Each loop iteration is one hourly daemon tick (a fake transport serves
the fleet's documents; ``weather.sources`` parses them,
``weather.flatten`` builds the forecast plan, ``lake.write_snapshot``
executes it) followed by one client's traffic cycle against the
oracle's HTTP server over the lake the ticks wrote: an event and its
entries (``weather.event_store``), station and SQL reads
(``lake.read_lake``, ``weather.api``, ``sql_surface``, ``weather.ui``),
and the ETL pass (``weather.run``, ``weather.etl``,
``functions.schnorr``). After the loop every day partition is
compacted (``weather.streaming_ingest``). ``plans`` and ``tables`` are
bypassed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import json
import os
import random
import time
import urllib.error
import urllib.request

from . import common, fleet

STATIONS = 50  # one of the reference's 50-station NDFD batches
MAX_TICKS = 48
ENTRIES_PER_EVENT = 2  # the reference caps an event at 25
# a measured cycle's weather reads: route kind -> count. The set-up's
# warm cycle reads half as many, enough to touch every route.
READS = {"forecasts": 12, "observations": 10, "stations": 4, "ui_sql": 6}
READ_KINDS = tuple(READS)
UI_QUERY = "SELECT * FROM observations ORDER BY station_id, generated_at DESC LIMIT 200"
INDEX_URL = "http://fleet.invalid/stations.cache.xml.gz"
METAR_URL = "http://fleet.invalid/metars.cache.xml.gz"
_FORECAST_URL = "http://fleet.invalid/forecast?ids="
_DAY = dt.timedelta(days=1)


def forecast_url(batch: list[str]) -> str:
    return _FORECAST_URL + ",".join(batch)


class WeatherProduct:
    """Ticks and traffic cycles over a fleet generated from ``seed``."""

    # Baseline wall of one hour (a tick and its cycle) on 4 cores. Each
    # hour adds a snapshot to the lake and an event to the store, so
    # later hours do more work; at --seconds 12 a run measures exactly
    # the first hour after set-up.
    iteration_s = 20.0

    def __init__(self, seed: int, work: str, stations: int = STATIONS, max_ticks: int = MAX_TICKS):
        self.seed, self.work = seed, work
        self.fleet = fleet.Fleet(seed, stations, max_ticks)
        self.lake = os.path.join(work, "lake")
        self.store_root = os.path.join(work, "store")
        self.day = fleet.BASE.replace(hour=0)  # every event observes the fleet's first day
        self.now = self.day + 2 * _DAY  # the oracle's simulated clock: every event is signable
        self.seckey = hashlib.sha256(f"perfbench-oracle-{seed}".encode()).digest()
        self.tick = -1  # ticks 0..tick have landed
        self.samples: dict[str, list[float]] = {}
        self.passes: list[float] = []
        self.failures: list[str] = []
        self.rows_landed = 0
        self.tick_jobs: list[int] = []
        self.tick_cpu: list[float] = []
        self.write_stats: dict[int, tuple[int, int]] = {}
        self.compact_stats: dict[str, int] = {}
        self.files_per_partition = 0.0
        self.events: list[tuple[dict, list[dict], int]] = []
        self.fetched: dict[str, dict] = {}
        self.requests = 0
        self.server = self.tracer = None
        self.setup_checks = 2  # the warm tick's counts and the warm cycle

    # -- layers --------------------------------------------------------

    def install(self, tracer) -> None:
        from noaa_data_pipeline_spark import sql_surface
        from noaa_data_pipeline_spark.functions import schnorr
        from noaa_data_pipeline_spark.weather import (
            api, etl, event_store, flatten, http_api, lake, run, sources, streaming_ingest, ui,
        )

        tracer.wrap(sources, "station_index_df", "weather.sources.station_index_df")
        tracer.wrap(sources, "dwml_frames", "weather.sources.dwml_frames")
        tracer.wrap(sources, "metar_df", "weather.sources.metar_df")
        # builders: construction only, the plan executes in write_snapshot
        tracer.wrap(flatten, "flatten_forecasts", "weather.flatten.build")
        tracer.wrap(lake, "write_snapshot", "weather.lake.write_snapshot", count_jobs=True)
        tracer.wrap(streaming_ingest, "compact_partition", "weather.streaming_ingest.compact", count_jobs=True)
        tracer.wrap(lake, "read_lake", "weather.lake.read_lake")
        for kind in ("forecasts", "observations", "stations"):
            tracer.wrap(api, kind, f"route.{kind}", count_jobs=True)
        tracer.wrap(ui, "run_query", "route.ui_sql", count_jobs=True)
        tracer.wrap(sql_surface, "translate_duckdb", "sql_surface.translate")
        tracer.wrap(run, "run_etl_batch", "route.update", count_jobs=True)
        for method, name in (("create_event", "route.create_event"), ("add_entry", "route.add_entry"),
                             ("get_event", "route.get_event")):
            tracer.wrap(http_api.WeatherApp, method, name)
        for method in ("add_event", "add_entry", "update_scores", "sign_events"):
            tracer.wrap(event_store.EventStore, method, f"weather.event_store.{method}")
        tracer.wrap(etl, "score_entries_batch", "weather.etl.score_build")
        tracer.wrap(schnorr, "sign", "functions.schnorr.sign")

    # -- set-up --------------------------------------------------------

    def setup(self, spark, tracer) -> None:
        """The first tick and the first cycle pay every first-touch
        cost (plan codegen, writer and reader start-up, each route's
        first query) before timing starts."""
        from noaa_data_pipeline_spark.weather import http_api
        from noaa_data_pipeline_spark.weather.event_store import EventStore

        self.tracer = tracer
        self._tick(spark, tracer, timed=False)
        store = EventStore(spark, self.store_root)
        app = http_api.WeatherApp(spark, self.lake, store, os.path.join(self.work, "files"),
                                  oracle_seckey=self.seckey, now=lambda: self.now)
        self.server, self.base = http_api.serve_background(app)
        self.pubkey = self._call("setup", "GET", "/oracle/pubkey", timed=False)["pubkey"]
        self._upload_and_bootstrap()
        self._cycle(tracer, 0, timed=False)

    def _upload_and_bootstrap(self) -> None:
        """The daemon's drop-box leg, then the UI's table registration."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        stamp = dt.datetime.now(dt.timezone.utc).replace(microsecond=0).isoformat().replace("+00:00", "Z")
        uploaded_obs = [r for t in range(self.fleet.n_ticks) for r in self.fleet.observation_rows(t)]
        names = []
        for kind, cols, rows in (("forecasts", fleet.FORECAST_COLUMNS, self.fleet.forecast_rows(0)),
                                 ("observations", fleet.OBSERVATION_COLUMNS, uploaded_obs)):
            buf = io.BytesIO()
            pq.write_table(pa.Table.from_pylist([dict(zip(cols, r)) for r in rows]), buf)
            name = f"{kind}_{stamp}.parquet"
            boundary = "perfbenchBOUNDARY"
            body = (
                f'--{boundary}\r\nContent-Disposition: form-data; name="file"; filename="{name}"\r\n\r\n'
            ).encode() + buf.getvalue() + f"\r\n--{boundary}--\r\n".encode()
            self._call("upload", "POST", f"/file/{name}", raw=body, timed=False,
                       headers={"Content-Type": f"multipart/form-data; boundary={boundary}"})
            names.append(name)
        self._call("bootstrap", "POST", "/ui/bootstrap", {"file_names": names}, timed=False)
        self.ui_rows = [(r[0], r[4].isoformat())
                        for r in sorted(uploaded_obs, key=lambda r: (r[0], -r[4].timestamp()))[:200]]

    # -- the daemon tick -----------------------------------------------

    def transport(self, url: str, timeout: float, headers: dict) -> tuple[int, bytes]:
        if url == INDEX_URL:
            return 200, self.fleet.index_gz
        if url == METAR_URL:
            return 200, self.fleet.metar(self.tick)
        if url.startswith(_FORECAST_URL):
            return 200, self.fleet.dwml(self.tick, url[len(_FORECAST_URL):].split(","))
        return 404, b""

    def _tick(self, spark, tracer, timed: bool = True) -> bool:
        from noaa_data_pipeline_spark.weather import daemon
        from noaa_data_pipeline_spark.weather.fetcher import XmlFetcher

        if self.tick + 1 >= self.fleet.n_ticks:
            raise RuntimeError("the fleet has no ticks left; raise MAX_TICKS")
        self.tick += 1
        tick = self.tick
        tracer.op = f"tick{tick}"
        tracker = spark.sparkContext.statusTracker()
        jobs_before = set(tracker.getJobIdsForGroup(None))
        files_before = common.dir_stats(self.lake)
        cpu0, t0 = time.process_time(), time.perf_counter()
        try:
            with tracer.span("weather.daemon.daemon_tick"):
                counts = daemon.daemon_tick(
                    spark, XmlFetcher(transport=self.transport), self.lake, INDEX_URL,
                    forecast_url, METAR_URL, now=self.fleet.tick_time(tick),
                )
        except Exception as exc:  # noqa: BLE001 — a failed tick is counted, the loop goes on
            self.failures.append(f"tick {tick}: {type(exc).__name__}: {exc}"[:300])
            return False
        elapsed, cpu = time.perf_counter() - t0, time.process_time() - cpu0
        if counts != self.fleet.expected_counts(tick):
            self.failures.append(f"tick {tick}: counts {counts} != {self.fleet.expected_counts(tick)}")
            return False
        self.rows_landed += counts["forecasts"] + counts["observations"]
        if timed:
            files_after = common.dir_stats(self.lake)
            self.samples.setdefault("tick", []).append(elapsed)
            self.tick_cpu.append(cpu)
            self.tick_jobs.append(len(set(tracker.getJobIdsForGroup(None)) - jobs_before))
            self.write_stats[tick] = (files_after[0] - files_before[0], files_after[1] - files_before[1])
        return True

    # -- the traffic cycle ---------------------------------------------

    def _call(self, kind: str, method: str, path: str, body=None, raw: bytes | None = None,
              headers: dict | None = None, timed: bool = True):
        data = raw if raw is not None else (None if body is None else json.dumps(body).encode())
        req = urllib.request.Request(self.base + path, data=data, method=method,
                                     headers=headers or {"Content-Type": "application/json"})
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"http.{kind}"), urllib.request.urlopen(req, timeout=120) as resp:
                status, payload = resp.status, resp.read()
        except urllib.error.HTTPError as exc:
            status, payload = exc.code, exc.read()
        elapsed = time.perf_counter() - t0
        self.requests += 1
        if timed:
            self.samples.setdefault(kind, []).append(elapsed)
        if not 200 <= status < 300:
            self.failures.append(f"{method} {path[:80]} -> {status}: {payload[:200]!r}")
            return None
        return json.loads(payload) if payload else {}

    def _cycle(self, tracer, k: int, timed: bool = True) -> tuple[int, int]:
        """Create an event and its entries, fetch the previous event and
        run the ETL pass, with the weather reads spread evenly between
        those writes, so the reads sample the whole cycle rather than a
        burst of it."""
        rng = random.Random(f"{self.seed}:cycle:{k}")
        self.tracer = tracer
        tracer.op = f"cycle{k}"
        n0, f0 = self.requests, len(self.failures)
        event = self.fleet.event_payload(k, self.day)
        entries = [self.fleet.entry_payload(event, j) for j in range(ENTRIES_PER_EVENT)]
        writes = [lambda: self._create_event(event, timed)]
        writes += [lambda e=e: self._add_entry(event, e, timed) for e in entries]
        if self.events:
            writes.append(lambda prev=self.events[-1][0]["id"]: self._get_event(prev, timed))
        writes.append(lambda: self._update(event, timed))
        self.events.append((event, entries, self.tick))
        reads = [kind for kind, n in READS.items() for _ in range(n if timed else max(1, n // 2))]
        rng.shuffle(reads)
        gaps = len(writes) + 1
        chunks = [reads[len(reads) * g // gaps:len(reads) * (g + 1) // gaps] for g in range(gaps)]
        for g, chunk in enumerate(chunks):
            for kind in chunk:
                self._read(kind, rng, timed)
            if g < len(writes):
                writes[g]()
        return self.requests - n0, len(self.failures) - f0

    def _create_event(self, event: dict, timed: bool) -> None:
        got = self._call("create_event", "POST", "/oracle/events", event, timed=timed)
        if got is not None and (got.get("id") != event["id"] or got.get("locations") != event["locations"]):
            self.failures.append(f"event {event['id']} read back as {got}")

    def _add_entry(self, event: dict, entry: dict, timed: bool) -> None:
        got = self._call("add_entry", "POST", f"/oracle/events/{event['id']}/entry", entry, timed=timed)
        if got is not None:
            picks = lambda cs: sorted((c["station"], c["temp_low"], c["temp_high"], c["wind_speed"]) for c in cs)  # noqa: E731
            if (got.get("id"), got.get("event_id"), picks(got.get("choices", []))) != (
                entry["id"], event["id"], picks(entry["choices"])
            ):
                self.failures.append(f"entry {entry['id']} read back as {got}")

    def _get_event(self, event_id: str, timed: bool) -> None:
        got = self._call("get_event", "GET", f"/oracle/events/{event_id}", timed=timed)
        if got is not None:
            self.fetched[event_id] = got

    def _update(self, event: dict, timed: bool) -> None:
        got = self._call("update", "POST", "/oracle/update", {}, timed=timed)
        if got is not None and got.get(event["id"]) != "signed":
            self.failures.append(f"update left event {event['id']} as {got.get(event['id'])!r}")

    def _landed(self, rows_of, ids, lo: dt.datetime, hi: dt.datetime, upto: int | None = None) -> list:
        """Rows of the ticks landed so far whose ingest time is in [lo, hi]."""
        upto = self.tick if upto is None else upto
        return [r for t in range(upto + 1) if lo <= self.fleet.tick_time(t) <= hi
                for r in rows_of(t) if ids is None or r[0] in ids]

    def _read(self, kind: str, rng, timed: bool) -> None:
        """One weather read, checked against the fleet model. The
        routes scan snapshots ingested in [start - 1 day, end] for
        forecasts and [start, end] for observations."""
        day, nxt = self.day, self.day + _DAY
        window = f"start={day.isoformat()}Z&end={nxt.isoformat()}Z"
        ids = set(rng.sample(sorted(self.fleet.by_id), rng.randint(1, 5)))
        qs = f"{window}&station_ids={','.join(sorted(ids))}"
        if kind == "forecasts":
            got = self._call(kind, "GET", f"/stations/forecasts?{qs}", timed=timed)
            rows = self._landed(self.fleet.forecast_rows, ids, day - _DAY, nxt)
            want = {k: _jsonable(v) for k, v in fleet.forecasts_daily(rows, ids, day, nxt).items()}
            have = None if got is None else {(r["station_id"], r["date"]): (r["start_time"], r["end_time"], r["temp_low"],
                                                           r["temp_high"], r["wind_speed"]) for r in got}
        elif kind == "observations":
            got = self._call(kind, "GET", f"/stations/observations?{qs}", timed=timed)
            rows = self._landed(self.fleet.observation_rows, ids, day, nxt)
            want = {k: _jsonable(v) for k, v in fleet.observations_daily(rows, ids, day, nxt).items()}
            have = None if got is None else {r["station_id"]: (r["start_time"], r["end_time"], r["temp_low"],
                                              r["temp_high"], r["wind_speed"]) for r in got}
        elif kind == "stations":
            got = self._call(kind, "GET", "/stations", timed=timed)
            rows = self._landed(self.fleet.observation_rows, None, dt.datetime.min, dt.datetime.max)
            want = sorted({r[:4] for r in rows})
            have = None if got is None else sorted((r["station_id"], r["station_name"], r["latitude"], r["longitude"]) for r in got)
        else:
            got = self._call(kind, "POST", "/ui/sql", {"sql": UI_QUERY}, timed=timed)
            want = self.ui_rows
            have = None if got is None else [(r["station_id"], r["generated_at"]) for r in got["rows"]]
        if got is not None and have != want:
            self.failures.append(f"{kind} read differs from the fleet model")

    # -- measured loop -------------------------------------------------

    def iteration(self, spark, tracer, i: int) -> tuple[int, int]:
        t0 = time.perf_counter()
        ok = self._tick(spark, tracer)
        attempted, failed = self._cycle(tracer, i + 1)
        self.passes.append(time.perf_counter() - t0)
        return attempted + 1, failed + (not ok)

    def finish(self, spark, tracer) -> tuple[int, int]:
        """Verify every attestation, then compact every day partition
        and check a daily rollup read back from the compacted lake."""
        attempted, failed = self._verify(tracer)
        self.close()
        a, f = self._compact_and_check(spark, tracer)
        return attempted + a, failed + f

    def _verify(self, tracer) -> tuple[int, int]:
        """Each signed event's attestation must verify against the
        oracle's public key over the winners the fleet model predicts
        from the lake the ETL pass saw."""
        from noaa_data_pipeline_spark.functions import schnorr

        tracer.op = "verify"
        last = self.events[-1][0]["id"]
        got = self._call("get_event", "GET", f"/oracle/events/{last}", timed=False)
        if got is not None:
            self.fetched[last] = got
        attempted = failed = 0
        pub = bytes.fromhex(self.pubkey)
        for event, entries, upto in self.events:
            ev = self.fetched.get(event["id"])
            if ev is None:
                continue
            attempted += 1
            fc = self._landed(self.fleet.forecast_rows, None, self.day - _DAY, self.day + _DAY, upto)
            ob = self._landed(self.fleet.observation_rows, None, self.day, self.day + _DAY, upto)
            msg = fleet.expected_winning_bytes(event, entries, fc, ob)
            sig = ev.get("attestation_signature")
            if not sig or not schnorr.verify(msg, pub, bytes.fromhex(sig)):
                failed += 1
                self.failures.append(f"event {event['id']}: attestation does not verify")
        return attempted, failed

    def _compact_and_check(self, spark, tracer) -> tuple[int, int]:
        from noaa_data_pipeline_spark.weather import lake, queries, streaming_ingest

        attempted = failed = 0
        files_before, bytes_before = common.dir_stats(self.lake)
        parts = [n for _, _, fs in os.walk(self.lake) if (n := sum(f.endswith(".parquet") for f in fs))]
        self.files_per_partition = sum(parts) / len(parts)
        for ft in (lake.FORECASTS, lake.OBSERVATIONS):
            base = os.path.join(self.lake, f"file_type={ft}")
            for d in sorted(os.listdir(base)):
                day = d.split("=", 1)[1]
                tracer.op = f"compact:{ft}:{day}"
                attempted += 1
                t0 = time.perf_counter()
                try:
                    streaming_ingest.compact_partition(spark, self.lake, ft, day)
                except Exception as exc:  # noqa: BLE001
                    failed += 1
                    self.failures.append(f"compact {ft}/{day}: {type(exc).__name__}: {exc}"[:300])
                    continue
                self.samples.setdefault("compact", []).append(time.perf_counter() - t0)
        files_after, bytes_after = common.dir_stats(self.lake)
        self.compact_stats = {"files_before": files_before, "files_after": files_after,
                              "bytes_before": bytes_before, "bytes_after": bytes_after}

        tracer.op = "check"
        attempted += 1
        sample = set(sorted(self.fleet.by_id)[:: max(1, len(self.fleet.by_id) // 10)])
        start, end = self.day, self.day + _DAY
        fc = lake.read_lake(spark, self.lake, lake.FORECASTS)
        got = {
            (r.station_id, r.date): (r.start_time, r.end_time, r.temp_low, r.temp_high, r.wind_speed)
            for r in queries.forecasts_daily(fc, sorted(sample), start, end).collect()
        }
        rows = self._landed(self.fleet.forecast_rows, sample, dt.datetime.min, dt.datetime.max)
        if got != fleet.forecasts_daily(rows, sample, start, end):
            failed += 1
            self.failures.append("forecasts_daily read back from the compacted lake differs from the fleet model")
        return attempted, failed

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    # -- results -------------------------------------------------------

    def _reads(self) -> list[float]:
        return [x for k in READ_KINDS for x in self.samples.get(k, [])]

    def end_to_end(self, measured_s: float) -> dict[str, float]:
        loop_ops = sum(len(v) for k, v in self.samples.items() if k != "compact")
        return {
            "pass_s": common.median(self.passes),
            "op_geomean_s": common.geomean([common.median(v) for v in self.samples.values()]),
            "op_p50_s": common.median(self._reads()),
            "ops_per_s": loop_ops / measured_s,
            "lake_bytes_per_row": self.compact_stats["bytes_after"] / self.rows_landed,
        }

    def detail(self, measured_s: float) -> dict:
        """The workload's own figures, under the names of the product path."""
        reads = self._reads()
        writes = self.samples.get("create_event", []) + self.samples.get("add_entry", [])
        requests = sum(len(v) for k, v in self.samples.items() if k not in ("tick", "compact"))
        return {
            "tick_s": common.median(self.samples["tick"]),
            "compact_s": sum(self.samples.get("compact", [])),
            "lake_bytes_per_row": self.compact_stats["bytes_after"] / self.rows_landed,
            "read_p50_s": common.median(reads),
            "read_p90_s": common.pct(reads, 90),
            "write_p50_s": common.median(writes),
            "etl_pass_s": common.median(self.samples["update"]),
            "requests_per_s": requests / measured_s,
            "read_samples": len(reads),
            "rows_landed": self.rows_landed,
            "route_median_s": {k: common.median(v) for k, v in self.samples.items()},
        }

    def layers(self, spans: list[dict], traced: set) -> dict[str, float]:
        """Loop layers per iteration or per call, compaction as
        totals, file counts as measured on disk."""
        from .trace import layer_totals, self_times

        loop, fin, n = layer_totals(spans, traced), layer_totals(spans, {"finish"}), len(traced)
        g = lambda t, k, f="self": t.get(k, {}).get(f, 0)  # noqa: E731
        per_call = lambda k: g(loop, k) / max(1, g(loop, k, "calls"))  # noqa: E731
        # loop iteration i runs tick i + 1 (tick 0 is the set-up's)
        writes = [self.write_stats[i + 1] for i in sorted(traced) if i + 1 in self.write_stats]
        reads = [f"route.{k}" for k in READ_KINDS]
        selfs = self_times(spans)
        overhead = [selfs[s["id"]] for s in spans if s["iter"] in traced and s["name"].startswith("http.")]
        store_files = {t: common.dir_stats(os.path.join(self.store_root, t))[0]
                       for t in ("events", "entries", "choices", "weather")}
        return {
            "weather.sources.station_index_df_s": g(loop, "weather.sources.station_index_df") / n,
            "weather.sources.dwml_frames_s": g(loop, "weather.sources.dwml_frames") / n,
            "weather.sources.metar_df_s": g(loop, "weather.sources.metar_df") / n,
            "weather.flatten.build_s": g(loop, "weather.flatten.build") / n,
            "weather.lake.write_snapshot_s": g(loop, "weather.lake.write_snapshot") / n,
            "weather.lake.files_written": common.median([w[0] for w in writes]) if writes else 0,
            "weather.lake.bytes_written": common.median([w[1] for w in writes]) if writes else 0,
            "weather.daemon.self_s": g(loop, "weather.daemon.daemon_tick") / n,
            "weather.daemon.jobs_per_tick": common.median(self.tick_jobs),
            "weather.daemon.driver_cpu_s": common.median(self.tick_cpu),
            "weather.streaming_ingest.compact_s": g(fin, "weather.streaming_ingest.compact"),
            "weather.streaming_ingest.files_before": self.compact_stats["files_before"],
            "weather.streaming_ingest.files_after": self.compact_stats["files_after"],
            "weather.streaming_ingest.bytes_rewritten": self.compact_stats["bytes_before"],
            "weather.lake.read_lake_s": per_call("weather.lake.read_lake"),
            "weather.lake.files_per_partition": self.files_per_partition,
            "weather.api.forecasts_s": per_call("route.forecasts"),
            "weather.api.observations_s": per_call("route.observations"),
            "weather.api.stations_s": per_call("route.stations"),
            "weather.api.jobs_per_read": sum(g(loop, k, "jobs") for k in reads)
            / max(1, sum(g(loop, k, "calls") for k in reads)),
            "weather.http_api.overhead_s": common.median(overhead) if overhead else 0.0,
            "sql_surface.translate_s": per_call("sql_surface.translate"),
            "weather.ui.run_query_s": per_call("route.ui_sql"),
            **{f"weather.event_store.{m}_s": per_call(f"weather.event_store.{m}")
               for m in ("add_event", "add_entry", "update_scores", "sign_events")},
            **{f"weather.event_store.files.{t}": c for t, c in store_files.items()},
            "weather.run.etl_batch_s": per_call("route.update"),
            "weather.run.jobs_per_pass": g(loop, "route.update", "jobs") / max(1, g(loop, "route.update", "calls")),
            "weather.etl.score_build_s": per_call("weather.etl.score_build"),
            "functions.schnorr.sign_s": per_call("functions.schnorr.sign"),
            "functions.schnorr.signs": g(loop, "functions.schnorr.sign", "calls") / n,
        }


def _jsonable(v):
    return tuple(x.isoformat() if isinstance(x, dt.datetime) else x for x in v)
