"""Seeded synthetic weather fleet: every byte the weather workloads feed
the program, plus pure-Python models of what the program must return.

One :class:`Fleet` holds, as a pure function of its seed:

- a gzip station index with US stations, non-US rows, US territories
  the 50-state filter drops, and a row whose latitude does not parse;
- per hourly tick, one DWML document per <=50-station batch (12 h and
  3 h time layouts, some empty ``<value/>`` elements to exercise the
  carry-forward, one location with no station) and one METAR document
  (some rows without ``temp_c``, some foreign stations);
- event and entry payloads for the oracle routes.

The models (:meth:`Fleet.forecast_rows`, :func:`forecasts_daily`,
:func:`observations_daily`, :func:`expected_winning_bytes`) restate
the reference semantics in plain Python so the benchmark can check
the program's outputs without asking the program.
"""

from __future__ import annotations

import datetime as dt
import decimal
import gzip
import random

# the fleet's first tick; ticks are hourly, so the lake crosses a
# day boundary after four ticks and every run writes two partitions
BASE = dt.datetime(2024, 8, 11, 20, 0)
STATION_BATCH = 50
GRID_SLOTS = 57  # 3 h slots from now through one week, inclusive
_STATES = ["MN", "WA", "TX", "CA", "NY", "CO", "FL", "IL", "OH", "GA", "AZ", "MI"]

# DWML element -> (layout, type attribute, model field, value range)
_FIELDS_12H = [
    ("temperature", "maximum", "max_temp", (60, 100)),
    ("temperature", "minimum", "min_temp", (30, 70)),
    ("probability-of-precipitation", "12 hour",
     "twelve_hour_probability_of_precipitation", (0, 100)),
]
_FIELDS_3H = [
    ("wind-speed", "sustained", "wind_speed", (0, 30)),
    ("direction", "wind", "wind_direction", (0, 359)),
]
_EMPTY_SHARE = 0.05

FORECAST_COLUMNS = [
    "station_id", "station_name", "latitude", "longitude", "generated_at",
    "begin_time", "end_time", "max_temp", "min_temp", "temperature_unit_code",
    "wind_speed", "wind_speed_unit_code", "wind_direction",
    "wind_direction_unit_code", "relative_humidity_max", "relative_humidity_min",
    "relative_humidity_unit_code", "liquid_precipitation_amt",
    "liquid_precipitation_unit_code", "twelve_hour_probability_of_precipitation",
    "twelve_hour_probability_of_precipitation_unit_code",
]
OBSERVATION_COLUMNS = [
    "station_id", "station_name", "latitude", "longitude", "generated_at",
    "temperature_value", "temperature_unit_code", "wind_direction",
    "wind_direction_unit_code", "wind_speed", "wind_speed_unit_code",
    "dewpoint_value", "dewpoint_unit_code",
]


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S+00:00")


class Fleet:
    """S US stations x ``n_ticks`` hourly ticks, all drawn from ``seed``."""

    def __init__(self, seed: int, n_stations: int = 100, n_ticks: int = 48):
        self.seed = seed
        self.n_ticks = n_ticks
        rng = random.Random(seed)
        ids = rng.sample(range(26**3), n_stations + 8)
        names = ["K" + "".join(chr(65 + (i // 26**k) % 26) for k in (2, 1, 0)) for i in ids]
        lats = rng.sample(range(2500, 4900), n_stations + 8)
        lons = [rng.randrange(-12400, -6800) for _ in range(n_stations + 8)]
        # (station_id, name, state, country, lat, lon) as the index has them
        self.stations = [
            (names[i], f"Station {names[i]}", rng.choice(_STATES), "US",
             f"{lats[i] / 100:.2f}", f"{lons[i] / 100:.2f}")
            for i in range(n_stations)
        ]
        j = n_stations
        self.dropped = [
            ("C" + names[j][1:], "Toronto-ish", "ON", "CA", f"{lats[j] / 100:.2f}", f"{lons[j] / 100:.2f}"),
            ("C" + names[j + 1][1:], "Montreal-ish", "QC", "CA", f"{lats[j + 1] / 100:.2f}", f"{lons[j + 1] / 100:.2f}"),
            ("P" + names[j + 2][1:], "Guam-ish", "GU", "US", "13.48", "144.80"),
            ("T" + names[j + 3][1:], "San Juan-ish", "PR", "US", "18.43", "-66.00"),
            ("X" + names[j + 4][1:], "Unparseable", "MN", "US", "n/a", f"{lons[j + 4] / 100:.2f}"),
        ]
        self.by_id = {s[0]: s for s in self.stations}
        self._dwml: dict[tuple[int, tuple[str, ...]], bytes] = {}
        self._values: dict[tuple[int, str], dict[str, list]] = {}
        self._metar: dict[int, tuple[bytes, list[tuple]]] = {}
        self._forecasts: dict[int, list[tuple]] = {}
        # draw every tick up front so each tick's bytes depend only on
        # (seed, tick), never on which ticks a run reached
        for tick in range(n_ticks):
            self._draw_tick(random.Random(f"{seed}:{tick}"), tick)
        self.index_gz = gzip.compress(self._index_xml(rng), mtime=0)

    # -- station index -------------------------------------------------

    def _index_xml(self, rng: random.Random) -> bytes:
        rows = self.stations + self.dropped
        order = list(range(len(rows)))
        # dropped rows sit between the US rows, not after them
        for k in range(len(self.stations), len(rows)):
            order.insert(rng.randrange(0, k), order.pop(k))
        parts = ['<?xml version="1.0"?>\n<wx_station_index>\n']
        self.index_order = []
        for k in order:
            sid, name, state, country, lat, lon = rows[k]
            if k < len(self.stations):
                self.index_order.append(sid)
            parts.append(
                f"  <Station><station_id>{sid}</station_id><station_name>{name}</station_name>"
                f"<state>{state}</state><country>{country}</country>"
                f"<latitude>{lat}</latitude><longitude>{lon}</longitude></Station>\n"
            )
        parts.append("</wx_station_index>\n")
        return "".join(parts).encode()

    def batches(self) -> list[list[str]]:
        """US station ids in index order, split as the daemon splits them."""
        ids = self.index_order
        return [ids[i : i + STATION_BATCH] for i in range(0, len(ids), STATION_BATCH)]

    def tick_time(self, tick: int) -> dt.datetime:
        return BASE + dt.timedelta(hours=tick)

    # -- per-tick documents --------------------------------------------

    def _draw_tick(self, rng: random.Random, tick: int) -> None:
        for sid, *_ in self.stations:
            vals = {}
            for _, _, field, (lo, hi) in _FIELDS_12H:
                vals[field] = [None if rng.random() < _EMPTY_SHARE else rng.randint(lo, hi) for _ in range(15)]
            for _, _, field, (lo, hi) in _FIELDS_3H:
                vals[field] = [None if rng.random() < _EMPTY_SHARE else rng.randint(lo, hi) for _ in range(GRID_SLOTS)]
            self._values[(tick, sid)] = vals
        obs_rows = []
        parts = ['<?xml version="1.0"?>\n<response><data>\n']
        t_obs = self.tick_time(tick) - dt.timedelta(minutes=7)
        stamp = t_obs.strftime("%Y-%m-%dT%H:%M:%SZ")
        foreign = [(s[0], s[4], s[5]) for s in self.dropped[:2]]
        for sid, lat, lon in [(s[0], s[4], s[5]) for s in self.stations] + foreign:
            temp = None if rng.random() < 0.05 else round(rng.uniform(-10.0, 35.0), 1)
            wdir, wspd, dew = rng.randint(0, 359), rng.randint(0, 30), round(rng.uniform(-15.0, 25.0), 1)
            tag = "" if temp is None else f"<temp_c>{temp}</temp_c>"
            parts.append(
                f"  <METAR><station_id>{sid}</station_id><observation_time>{stamp}</observation_time>"
                f"<latitude>{lat}</latitude><longitude>{lon}</longitude>{tag}"
                f"<wind_dir_degrees>{wdir}</wind_dir_degrees><wind_speed_kt>{wspd}</wind_speed_kt>"
                f"<dewpoint_c>{dew}</dewpoint_c></METAR>\n"
            )
            if temp is not None and sid in self.by_id:
                obs_rows.append((sid, self.by_id[sid][1], float(lat), float(lon), t_obs,
                                 temp, "celcius", wdir, "degrees true", wspd, "knots", dew, "celcius"))
        parts.append("</data></response>\n")
        self._metar[tick] = ("".join(parts).encode(), obs_rows)

    def dwml(self, tick: int, batch: list[str]) -> bytes:
        key = (tick, tuple(batch))
        if key not in self._dwml:
            self._dwml[key] = self._dwml_doc(tick, batch)
        return self._dwml[key]

    def _dwml_doc(self, tick: int, batch: list[str]) -> bytes:
        now = self.tick_time(tick)
        created = now - dt.timedelta(minutes=15)
        p = [
            '<?xml version="1.0"?>\n<dwml version="1.0">\n<head><product>'
            f'<creation-date refresh-frequency="PT1H">{_iso(created)}</creation-date>'
            "</product></head>\n<data>\n"
        ]
        for k, sid in enumerate(batch):
            s = self.by_id[sid]
            p.append(f'<location><location-key>point{k + 1}</location-key>'
                     f'<point latitude="{s[4]}" longitude="{s[5]}"/></location>\n')
        # a forecast point no station sits at: the flattener drops it
        p.append('<location><location-key>point0</location-key>'
                 '<point latitude="10.00" longitude="10.00"/></location>\n')
        p.append('<time-layout time-coordinate="local" summarization="none">'
                 "<layout-key>k-p12h-n15-1</layout-key>")
        for k in range(15):
            t = now + dt.timedelta(hours=12 * k)
            p.append(f"<start-valid-time>{_iso(t)}</start-valid-time>"
                     f"<end-valid-time>{_iso(t + dt.timedelta(hours=12))}</end-valid-time>")
        p.append("</time-layout>\n")
        p.append('<time-layout time-coordinate="local" summarization="none">'
                 "<layout-key>k-p3h-n57-2</layout-key>")
        for k in range(GRID_SLOTS):
            p.append(f"<start-valid-time>{_iso(now + dt.timedelta(hours=3 * k))}</start-valid-time>")
        p.append("</time-layout>\n")
        for k, sid in enumerate(batch):
            vals = self._values[(tick, sid)]
            p.append(f'<parameters applicable-location="point{k + 1}">')
            for layout, fields in (("k-p12h-n15-1", _FIELDS_12H), ("k-p3h-n57-2", _FIELDS_3H)):
                for tag, kind, field, _ in fields:
                    p.append(f'<{tag} type="{kind}" time-layout="{layout}"><name>{field}</name>')
                    p.extend("<value/>" if v is None else f"<value>{v}</value>" for v in vals[field])
                    p.append(f"</{tag}>")
            p.append("</parameters>\n")
        p.append("</data>\n</dwml>\n")
        return "".join(p).encode()

    def metar(self, tick: int) -> bytes:
        return self._metar[tick][0]

    # -- models of what the program must produce -----------------------

    def forecast_rows(self, tick: int) -> list[tuple]:
        """The flattened forecast snapshot of one tick, in
        FORECAST_COLUMNS order: each 3 h grid slot takes the latest
        parseable reading whose layout start is at or before it."""
        if tick not in self._forecasts:
            self._forecasts[tick] = self._forecast_rows(tick)
        return self._forecasts[tick]

    def _forecast_rows(self, tick: int) -> list[tuple]:
        now = self.tick_time(tick)
        generated = now - dt.timedelta(minutes=15)
        rows = []
        for sid, name, _, _, lat, lon in self.stations:
            vals = self._values[(tick, sid)]
            filled = {}
            for _, _, field, _ in _FIELDS_12H:
                filled[field] = _carry(vals[field], step=4)
            for _, _, field, _ in _FIELDS_3H:
                filled[field] = _carry(vals[field], step=1)
            for i in range(GRID_SLOTS):
                begin = now + dt.timedelta(hours=3 * i)
                rows.append((
                    sid, name, float(lat), float(lon), generated, begin,
                    begin + dt.timedelta(hours=3),
                    filled["max_temp"][i], filled["min_temp"][i], "fahrenheit",
                    filled["wind_speed"][i], "knots", filled["wind_direction"][i],
                    "degrees true", None, None, "percent", None, "inches",
                    filled["twelve_hour_probability_of_precipitation"][i], "percent",
                ))
        return rows

    def observation_rows(self, tick: int) -> list[tuple]:
        """The observation snapshot of one tick, in OBSERVATION_COLUMNS order."""
        return self._metar[tick][1]

    def expected_counts(self, tick: int) -> dict[str, int]:
        return {
            "forecast_batches_failed": 0,
            "forecasts": len(self.stations) * GRID_SLOTS,
            "observations": len(self._metar[tick][1]),
        }

    # -- oracle payloads -----------------------------------------------

    def event_payload(self, k: int, observation_date: dt.datetime) -> dict:
        rng = random.Random(f"{self.seed}:event:{k}")
        locs = rng.sample([s[0] for s in self.stations], rng.randint(3, 5))
        return {
            "id": _uuid7(rng, observation_date),
            "observation_date": observation_date.isoformat() + "Z",
            "signing_date": (observation_date + dt.timedelta(days=1, hours=1)).isoformat() + "Z",
            "locations": locs,
            "total_allowed_entries": 25,
            "number_of_values_per_entry": 6,
            "number_of_places_win": 3,
        }

    def entry_payload(self, event: dict, k: int) -> dict:
        rng = random.Random(f"{self.seed}:entry:{event['id']}:{k}")
        picks = ["over", "par", "under", None]
        choices, budget = [], event["number_of_values_per_entry"]
        for sid in rng.sample(event["locations"], 2):
            c = {"station": sid}
            for metric in ("temp_low", "temp_high", "wind_speed"):
                pick = rng.choice(picks) if budget else None
                budget -= pick is not None
                c[metric] = pick
            choices.append(c)
        ts = dt.datetime.fromisoformat(event["observation_date"][:-1]) - dt.timedelta(days=2)
        return {"id": _uuid7(rng, ts), "choices": choices}


def _carry(raw: list, step: int) -> list:
    """Forward-fill: slot i sees readings 0..i//step and keeps the last
    non-empty one (None until the first non-empty reading)."""
    out, last = [], None
    for i in range(GRID_SLOTS):
        if i % step == 0 and raw[i // step] is not None:
            last = raw[i // step]
        out.append(last)
    return out


def _uuid7(rng: random.Random, at: dt.datetime) -> str:
    ms = int(at.replace(tzinfo=dt.timezone.utc).timestamp() * 1000) + rng.randrange(0, 86_400_000)
    rand = rng.getrandbits(74)
    hi = (ms << 16) | (0x7 << 12) | (rand >> 62)
    lo = (0b10 << 62) | (rand & ((1 << 62) - 1))
    h = f"{hi:016x}{lo:016x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _day(t: dt.datetime) -> dt.datetime:
    return t.replace(hour=0, minute=0, second=0, microsecond=0)


def _min(vals):
    vals = [v for v in vals if v is not None]
    return min(vals) if vals else None


def _max(vals):
    vals = [v for v in vals if v is not None]
    return max(vals) if vals else None


def forecasts_daily(rows, station_ids, start, end) -> dict[tuple[str, str], tuple]:
    """Two-level daily rollup of forecast rows (FORECAST_COLUMNS
    tuples): per (station, begin_time) across snapshots, then per day.
    Returns {(station_id, 'YYYY-MM-DD'): (start_time, end_time,
    temp_low, temp_high, wind_speed)}."""
    c = {name: i for i, name in enumerate(FORECAST_COLUMNS)}
    level1: dict[tuple, list] = {}
    for r in rows:
        sid, begin, end_t = r[c["station_id"]], r[c["begin_time"]], r[c["end_time"]]
        if station_ids and sid not in station_ids:
            continue
        if start is not None and _day(begin) < start:
            continue
        if end is not None and _day(end_t) > end:
            continue
        level1.setdefault((sid, begin), []).append(r)
    level2: dict[tuple, list] = {}
    for (sid, begin), rs in level1.items():
        level2.setdefault((sid, begin.strftime("%Y-%m-%d")), []).append((
            begin,
            max(r[c["end_time"]] for r in rs),
            _min(r[c["min_temp"]] for r in rs),
            _max(r[c["max_temp"]] for r in rs),
            _max(r[c["wind_speed"]] for r in rs),
        ))
    return {
        k: (min(v[0] for v in vs), max(v[1] for v in vs), _min(v[2] for v in vs),
            _max(v[3] for v in vs), _max(v[4] for v in vs))
        for k, vs in level2.items()
    }


def observations_daily(rows, station_ids, start, end) -> dict[str, tuple]:
    """Per-station observation aggregate over [start, end]:
    {station_id: (start_time, end_time, temp_low, temp_high, wind_speed)}."""
    c = {name: i for i, name in enumerate(OBSERVATION_COLUMNS)}
    acc: dict[str, list] = {}
    for r in rows:
        sid, t = r[c["station_id"]], r[c["generated_at"]]
        if station_ids and sid not in station_ids:
            continue
        if (start is not None and t < start) or (end is not None and t > end):
            continue
        acc.setdefault(sid, []).append(r)
    return {
        sid: (min(r[c["generated_at"]] for r in rs), max(r[c["generated_at"]] for r in rs),
              _min(r[c["temperature_value"]] for r in rs), _max(r[c["temperature_value"]] for r in rs),
              _max(r[c["wind_speed"]] for r in rs))
        for sid, rs in acc.items()
    }


def _round_half_away(x):
    if x is None:
        return None
    return int(decimal.Decimal(x).quantize(0, rounding=decimal.ROUND_HALF_UP))


def expected_winning_bytes(event: dict, entries: list[dict], fc_rows, ob_rows) -> bytes:
    """The attestation message for one completed event: the top three
    entries by score (base points x 10000 plus the UUIDv7 creation-time
    tiebreak), as big-endian u64 indices into the id-sorted entry list.
    ``fc_rows``/``ob_rows`` are the lake rows the ETL pass can see."""
    day = dt.datetime.fromisoformat(event["observation_date"][:-1])
    nxt = day + dt.timedelta(days=1)
    fc = forecasts_daily(fc_rows, event["locations"], day, nxt)
    ob = observations_daily(ob_rows, event["locations"], day, nxt)
    scores = {}
    for entry in entries:
        base = 0
        for ch in entry["choices"]:
            f = fc.get((ch["station"], day.strftime("%Y-%m-%d")))
            o = ob.get(ch["station"])
            if f is None or o is None:
                continue
            fv = {"temp_low": f[2], "temp_high": f[3], "wind_speed": f[4]}
            ov = {"temp_low": _round_half_away(o[2]), "temp_high": _round_half_away(o[3]),
                  "wind_speed": o[4]}
            for metric in ("temp_low", "temp_high", "wind_speed"):
                pick, a, b = ch.get(metric), fv[metric], ov[metric]
                if pick is None or a is None or b is None:
                    continue
                if (pick == "par" and a == b) or (pick == "over" and a < b) or (pick == "under" and a > b):
                    base += 20 if pick == "par" else 10
        ms = int(entry["id"].replace("-", "")[:12], 16)
        scores[entry["id"]] = base * 10000 + (9999 - ms % 10000)
    canonical = sorted(scores)
    ranked = sorted(canonical, key=lambda e: (-scores[e], e))[:3]
    return b"".join(canonical.index(e).to_bytes(8, "big") for e in ranked)
