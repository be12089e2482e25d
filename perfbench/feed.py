"""Seeded hourly feed: GBFS ``station_status`` and weather envelopes.

Each simulated hour writes one station-status envelope and one weather
envelope as JSON files, shaped like ``tests/fixtures/*.json`` and
``schemas.VELIB_ENVELOPE_SCHEMA``. The program under test only ever sees
these files (through ``FileFetcher``); the generator keeps the rows it
wrote so the benchmark can compute the expected results itself.

Every hour, each of the ``STATIONS`` stations either reports fresh
(``last_reported`` inside the hour that ends at the poll time) or, with
probability ``REREPORT_SHARE``, re-sends its previous record unchanged —
the stale re-report pattern of SURVEY §2.8. That section shows one stale
station in a single poll, not a rate: the 0.1 share is an assumption.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

STATIONS = 1474
REREPORT_SHARE = 0.1
BASE_TS = 1_738_368_000  # 2025-02-01T00:00:00Z
_DESCRIPTIONS = [
    (800, "Clear", "clear sky", "01d"),
    (801, "Clouds", "few clouds", "02d"),
    (803, "Clouds", "broken clouds", "04d"),
    (500, "Rain", "light rain", "10d"),
    (701, "Mist", "mist", "50d"),
]


@dataclass
class Hour:
    run_ts: int
    station_path: str
    weather_path: str
    #: (station_id, last_reported, bikes, docks) for every station row sent
    rows: list[tuple[int, int, int, int]]
    temp: float


@dataclass
class Feed:
    out_dir: str
    seed: int
    hours: list[Hour] = field(default_factory=list)

    def __post_init__(self) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        self._rng = np.random.default_rng(self.seed)
        rng = self._rng
        self.station_ids = rng.choice(np.arange(10_000, 20_000_000_000, 7919), STATIONS, replace=False)
        self.codes = rng.integers(1_000, 99_999, STATIONS)
        self.capacity = rng.integers(10, 61, STATIONS)
        self._last: list[dict] | None = None

    def _fresh(self, i: int, run_ts: int) -> dict:
        rng = self._rng
        cap = int(self.capacity[i])
        bikes = int(rng.integers(0, cap + 1))
        ebike = int(rng.integers(0, bikes + 1))
        up = int(rng.random() > 0.03)
        return {
            "station_id": int(self.station_ids[i]),
            "stationCode": str(self.codes[i]),
            "is_installed": up,
            "is_renting": up,
            "is_returning": up,
            "last_reported": run_ts - int(rng.integers(1, 3601)),
            "num_bikes_available": bikes,
            "num_docks_available": cap - bikes,
            "numBikesAvailable": bikes,
            "numDocksAvailable": cap - bikes,
            "num_bikes_available_types": [{"mechanical": bikes - ebike}, {"ebike": ebike}],
        }

    def next_hour(self) -> Hour:
        """Generate and write the next hour's two envelopes."""
        h = len(self.hours)
        run_ts = BASE_TS + 3600 * h
        rng = self._rng
        stations = []
        for i in range(STATIONS):
            if self._last is not None and rng.random() < REREPORT_SHARE:
                stations.append(self._last[i])
            else:
                stations.append(self._fresh(i, run_ts))
        self._last = stations
        sp = os.path.join(self.out_dir, f"h{h:04d}_station_status.json")
        with open(sp, "w") as f:
            json.dump({"lastUpdatedOther": run_ts, "ttl": 3600, "data": {"stations": stations}}, f)
        wid, main, desc, icon = _DESCRIPTIONS[int(rng.integers(0, len(_DESCRIPTIONS)))]
        temp = round(float(rng.normal(8.0, 5.0)), 2)
        weather = {
            "lat": 48.866667,
            "lon": 2.333333,
            "timezone": "Europe/Paris",
            "timezone_offset": 3600,
            "current": {
                "dt": run_ts,
                "sunrise": run_ts - run_ts % 86400 + 27000,
                "sunset": run_ts - run_ts % 86400 + 61000,
                "temp": temp,
                "feels_like": round(temp - float(rng.uniform(0, 4)), 2),
                "pressure": int(rng.integers(990, 1040)),
                "humidity": int(rng.integers(30, 101)),
                "dew_point": round(temp - 2.0, 2),
                "uvi": round(float(rng.uniform(0, 3)), 2),
                "clouds": int(rng.integers(0, 101)),
                "visibility": 10000,
                "wind_speed": round(float(rng.uniform(0, 12)), 2),
                "wind_deg": int(rng.integers(0, 360)),
                "weather": [{"id": wid, "main": main, "description": desc, "icon": icon}],
            },
        }
        wp = os.path.join(self.out_dir, f"h{h:04d}_weather.json")
        with open(wp, "w") as f:
            json.dump(weather, f)
        rows = [
            (s["station_id"], s["last_reported"], s["num_bikes_available"], s["num_docks_available"])
            for s in stations
        ]
        hour = Hour(run_ts, sp, wp, rows, temp)
        self.hours.append(hour)
        return hour

    def expected_hourly(self, last: int, span: int = 24) -> dict[int, tuple[int, int, int, float]]:
        """Expected analyst read after hour ``last``: for the ingest hours
        ``last-span+1 .. last``, distinct (station, last_reported) reports
        grouped by the hour window they fall in, keeping windows whose end
        matches an ingested weather observation:
        ``{window_end: (n_reports, bikes, docks, temp)}``."""
        hours = self.hours[max(0, last - span + 1) : last + 1]
        temps = {h.run_ts: h.temp for h in hours}
        seen: set[tuple[int, int]] = set()
        out: dict[int, list] = {}
        for h in hours:
            for sid, lr, bikes, docks in h.rows:
                if (sid, lr) in seen:
                    continue
                seen.add((sid, lr))
                end = lr - lr % 3600 + 3600
                if end in temps:
                    acc = out.setdefault(end, [0, 0, 0, temps[end]])
                    acc[0] += 1
                    acc[1] += bikes
                    acc[2] += docks
        return {k: tuple(v) for k, v in out.items()}
