"""Seeded input for the ``nightly_etl`` workload.

``WeatherFeed`` plays the Open-Meteo archive: it is the ``Fetcher`` the
engine's extract calls, and all the engine receives from it is the JSON
payload the real API returns (parallel ``daily`` arrays). Every value
derives from ``(seed, city, date)``, so the same seed gives the same
nights. Planted cases, each a branch of ``transform_load``:

- re-fetched days: a payload repeats a day with a second reading
  (dedup keeps one row per ``(city_name, date)``);
- NULL ``temperature_2m_max`` / ``temperature_2m_min`` (imputation);
- readings far beyond 3 sigma of the city's mean (outlier capping);
- late corrections: a payload also revises a day loaded on an earlier
  night (the fact MERGE's matched-update branch and CDC update images);
- one city that always fails with the reference notebook's real error,
  so ``fetch_with_retry`` exhausts its attempts and the city is skipped;
- one city absent from ``dim_city`` that is onboarded mid-run (the
  insert-only dim MERGE).

``seed_frames`` builds the warehouse history the nights start from.
"""

from __future__ import annotations

import datetime as dt
import json
import zlib

import numpy as np

HISTORY_END = dt.date(2023, 12, 31)
FAILING_CITY = "Throttled City"
UNSEEN_CITY = "Onboarded City"
RATE_LIMIT_ERROR = "Minutely API request limit exceeded"
OUTLIER_C = 85.0
ONBOARD_DAYS = 30
PLANTED_SHARE = 0.3


def city_names(n: int) -> list[str]:
    """``n`` dim cities; the last one is the permanently failing city."""
    return [f"City {i:03d}" for i in range(n - 1)] + [FAILING_CITY]


def night_dates(night: int) -> tuple[str, str]:
    """(today, load_ts) of a night: night 0 extracts the first day after
    the seeded history and runs at 02:00 the next morning."""
    today = HISTORY_END + dt.timedelta(days=night + 1)
    return today.isoformat(), f"{today + dt.timedelta(days=1)} 02:00:00"


def onboard_start(today: str) -> str:
    """First day of the onboarded city's backfill window ending ``today``."""
    return (dt.date.fromisoformat(today) - dt.timedelta(days=ONBOARD_DAYS - 1)).isoformat()


def _climate(seed: int, city: str) -> tuple[float, float]:
    """(annual mean, seasonal amplitude) of a city."""
    rng = np.random.default_rng([seed, zlib.crc32(city.encode())])
    return float(rng.uniform(0.0, 25.0)), float(rng.uniform(3.0, 12.0))


def _readings(seed: int, city: str, days: list[dt.date]):
    """Clean (temp_max, temp_min, precipitation) per day, 2-decimal."""
    mean, amp = _climate(seed, city)
    rng = np.random.default_rng([seed, zlib.crc32(city.encode()), days[0].toordinal(), len(days)])
    doy = np.array([d.timetuple().tm_yday for d in days])
    tmax = mean + 4.0 + amp * np.sin(2 * np.pi * (doy - 100) / 365.0) + rng.normal(0, 2.5, len(days))
    tmin = tmax - rng.uniform(4.0, 10.0, len(days))
    prcp = np.maximum(0.0, rng.normal(0.0, 3.0, len(days)))
    return np.round(tmax, 2), np.round(tmin, 2), np.round(prcp, 2)


class WeatherFeed:
    """The injected ``Fetcher``: ``feed(city, start, end) -> payload``.

    ``keys`` records every ``(city, date)`` a successful payload carried,
    which is how the checks know what the fact table must hold."""

    def __init__(self, seed: int, n_cities: int):
        self.seed = seed
        self.cities = city_names(n_cities)[:-1] + [UNSEEN_CITY]
        self.keys: set[tuple[str, str]] = set()
        self.night_keys: set[tuple[str, str]] = set()

    def _picked(self, city: str, end: str, case: str) -> bool:
        """Whether ``city`` gets ``case`` in the fetch ending ``end``:
        a seeded PLANTED_SHARE of the cities does, so every night loads
        the same number of rows."""
        ranked = sorted(self.cities, key=lambda c: zlib.crc32(f"{self.seed}|{end}|{case}|{c}".encode()))
        return city in ranked[: round(PLANTED_SHARE * len(ranked))]

    def __call__(self, city: str, start: str, end: str) -> str:
        if city == FAILING_CITY:
            raise RuntimeError(RATE_LIMIT_ERROR)
        d0, d1 = dt.date.fromisoformat(start), dt.date.fromisoformat(end)
        days = [d0 + dt.timedelta(days=i) for i in range((d1 - d0).days + 1)]
        rng = np.random.default_rng([self.seed, zlib.crc32(city.encode()), d1.toordinal()])
        if self._picked(city, end, "late"):  # revises a day loaded earlier
            days = [d0 - dt.timedelta(days=3)] + days
        tmax, tmin, prcp = (list(map(float, a)) for a in _readings(self.seed, city, days))
        if days[0] < d0:
            tmax[0] = round(tmax[0] + 1.5, 2)
        for i in range(len(days)):
            r = rng.random()
            if r < 0.04:
                tmax[i] = None
            elif r < 0.07:
                tmin[i] = None
            elif r < 0.09:
                tmax[i] = OUTLIER_C
        times = [d.isoformat() for d in days]
        if self._picked(city, end, "dup"):  # the API re-sent the last day
            times.append(times[-1])
            tmax.append(None if tmax[-1] is None else round(tmax[-1] - 0.5, 2))
            tmin.append(tmin[-1])
            prcp.append(prcp[-1])
        keys = {(city, t) for t in times}
        self.keys |= keys
        self.night_keys |= keys
        return json.dumps({"daily": {
            "time": times,
            "temperature_2m_max": tmax,
            "temperature_2m_min": tmin,
            "precipitation_sum": prcp,
        }})


def seed_frames(seed: int, n_cities: int, years: int):
    """(dim_city rows, history rows) for the seeded warehouse. History
    rows are ``(city_id, city_name, date, temp_max, temp_min, precip)``
    over ``years`` years ending at HISTORY_END, for every dim city except
    the failing one (it failed before the history was loaded too)."""
    names = city_names(n_cities)
    start = HISTORY_END - dt.timedelta(days=365 * years - 1)
    days = [start + dt.timedelta(days=i) for i in range(365 * years)]
    dim, hist = [], []
    for cid, name in enumerate(names, start=1):
        rng = np.random.default_rng([seed, cid])
        dim.append((cid, name, f"Country {cid % 7}", round(float(rng.uniform(-60, 60)), 6),
                    round(float(rng.uniform(-180, 180)), 6), "UTC"))
        if name == FAILING_CITY:
            continue
        tmax, tmin, prcp = _readings(seed, name, days)
        hist.extend(zip([cid] * len(days), [name] * len(days), days,
                        tmax.tolist(), tmin.tolist(), prcp.tolist()))
    return dim, hist
