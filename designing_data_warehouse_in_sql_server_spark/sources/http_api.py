"""Incremental HTTP API extract (S1/S2 + O1/O2).

The reference (extract_weather.py:24-68) loops cities on the driver,
fetches the Open-Meteo archive JSON, and inserts rows one at a time.
Engine design:

- Fetch happens through an injectable ``fetcher(city, start, end) ->
  payload-JSON-string`` with retry (O2: 3 attempts). Tests inject a
  deterministic fake; production wires ``requests`` here. The container
  has no network, so no live fetcher ships.
- JSON decoding is ENGINE-side, not driver-side Python: the payload
  string goes through ``from_json`` with an explicit schema, then
  ``arrays_zip`` + ``explode`` turns the parallel arrays into rows
  (SURVEY §2.1 S2 mapping) — all Catalyst expressions.
- At 5 cities the fetch is a driver loop; at scale the same fetcher runs
  on executors, one input partition per city window, through the
  ``weather_api`` Python DataSource (``WeatherApiDataSource``).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import OPEN_METEO_DAILY

Fetcher = Callable[[str, str, str], str]  # (city_name, start_date, end_date) -> JSON


def fetch_with_retry(
    fetcher: Fetcher,
    city: str,
    start: str,
    end: str,
    attempts: int = 3,
    delay_s: float = 0.0,
) -> str | None:
    """O2: retry wrapper (reference: 3 attempts, 60 s delay,
    extract_weather.py:37-54); returns None when all attempts fail so the
    pipeline can skip the city like the reference's for-else does."""
    for i in range(attempts):
        try:
            return fetcher(city, start, end)
        except Exception:
            if i == attempts - 1:
                return None
            time.sleep(delay_s)
    return None


#: city -> (latitude, longitude), the reference's hard-coded city list
#: (extract_weather.py:7-13)
OPEN_METEO_COORDS: dict[str, tuple[float, float]] = {
    "London": (51.5074, -0.1278),
    "New York": (40.7128, -74.0060),
    "Tokyo": (35.6762, 139.6503),
    "Sydney": (-33.8688, 151.2093),
    "Lagos": (6.5244, 3.3792),
}

OPEN_METEO_URL = "https://archive-api.open-meteo.com/v1/archive"
_DAILY_VARS = "temperature_2m_max,temperature_2m_min,precipitation_sum"


def open_meteo_fetcher(
    coords: dict[str, tuple[float, float]] | None = None,
    transport: Callable[[str], str] | None = None,
    timeout_s: float = 30.0,
) -> Fetcher:
    """Live fetcher for the Open-Meteo archive API (the reference's
    endpoint, extract_weather.py:39-54): returns a ``Fetcher`` suitable
    for ``extract_incremental`` / the ``weather_api`` DataSource.

    ``transport(url) -> body`` defaults to ``requests`` when installed,
    else stdlib urllib — the engine never hard-depends on requests (this
    container has no network, so tests inject a fake transport and
    assert the URL contract instead of calling out).
    """
    coords = OPEN_METEO_COORDS if coords is None else coords

    if transport is None:

        def transport(url: str) -> str:
            try:
                import requests

                resp = requests.get(url, timeout=timeout_s)
                resp.raise_for_status()
                return resp.text
            except ImportError:
                from urllib.request import urlopen

                with urlopen(url, timeout=timeout_s) as fh:
                    return fh.read().decode("utf-8")

    def fetch(city: str, start: str, end: str) -> str:
        from urllib.parse import urlencode

        if city not in coords:
            raise KeyError(f"no coordinates for city {city!r}")
        lat, lon = coords[city]
        qs = urlencode(
            {
                "latitude": lat,
                "longitude": lon,
                "start_date": start,
                "end_date": end,
                "daily": _DAILY_VARS,
                "timezone": "UTC",
            }
        )
        return transport(f"{OPEN_METEO_URL}?{qs}")

    return fetch


def payloads_to_rows(spark: SparkSession, payloads: Iterable[tuple[str, str]]) -> DataFrame:
    """(city_name, payload_json) pairs -> one row per day (driver-built
    input; the decode itself is `decode_payloads`)."""
    raw = spark.createDataFrame(list(payloads), "city_name string, payload string")
    return decode_payloads(raw)


def decode_payloads(raw: DataFrame) -> DataFrame:
    """(city_name, payload) DataFrame -> one typed staging row per day.

    from_json + arrays_zip + explode: the parallel-array payload
    (time[], temperature_2m_max[], ...) is reassembled by index exactly as
    the reference's zip loop (extract_weather.py:57-65), but as Catalyst
    expressions that run distributed."""
    parsed = raw.select(
        "city_name", F.from_json("payload", OPEN_METEO_DAILY).alias("p")
    )
    zipped = parsed.select(
        "city_name",
        F.explode(
            F.arrays_zip(
                F.col("p.daily.time").alias("date"),
                F.col("p.daily.temperature_2m_max").alias("temp_max"),
                F.col("p.daily.temperature_2m_min").alias("temp_min"),
                F.col("p.daily.precipitation_sum").alias("precipitation"),
            )
        ).alias("d"),
    )
    return zipped.select(
        "city_name",
        F.to_date("d.date").alias("date"),
        F.col("d.temp_max").cast("decimal(5,2)").alias("temp_max"),
        F.col("d.temp_min").cast("decimal(5,2)").alias("temp_min"),
        F.col("d.precipitation").cast("decimal(5,2)").alias("precipitation"),
        F.lit(False).alias("is_processed"),
        F.lit(None).cast("timestamp_ntz").alias("load_timestamp"),
    )


def extract_incremental(
    spark: SparkSession,
    fetcher: Fetcher,
    windows: list[tuple[str, str, str]],
    load_ts: str,
) -> DataFrame:
    """O1 driver loop over (city, start, end) fetch windows -> staging rows.

    ``windows`` comes from the watermark operator (A3); cities whose
    window is empty (start > end, P7 guard) must be filtered by the
    caller. Failed cities are skipped (reference behavior on exhausted
    retries)."""
    payloads = []
    for city, start, end in windows:
        payload = fetch_with_retry(fetcher, city, start, end)
        if payload is not None:
            payloads.append((city, payload))
    if not payloads:
        return spark.createDataFrame([], payloads_to_rows(spark, [("x", "{}")]).schema)
    rows = payloads_to_rows(spark, payloads)
    return rows.withColumn("load_timestamp", F.lit(load_ts).cast("timestamp_ntz"))


# ---------------------------------------------------------------------------
# Spark 4 Python DataSource: the API extract as a first-class
# `spark.read.format(...)` source (SURVEY §2.1 S1's "custom Python
# DataSource" scale path). One input partition per fetch window, so a
# 1000-city backfill runs 1000-way parallel on executors with no driver
# fetch loop; the fetcher is named by an importable "module:attr" string
# option (options are strings — executors import it locally, nothing is
# pickled through the plan).
# ---------------------------------------------------------------------------
def _import_fetcher(spec: str) -> Fetcher:
    import importlib

    mod, _, attr = spec.partition(":")
    fn = importlib.import_module(mod)
    for part in attr.split("."):
        fn = getattr(fn, part)
    return fn


try:  # pyspark >= 4: Python DataSource API
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _CityWindow(InputPartition):
        def __init__(self, city: str, start: str, end: str):
            self.city, self.start, self.end = city, start, end

    class WeatherApiReader(DataSourceReader):
        def __init__(self, options):
            self.cities = [c for c in options.get("cities", "").split(",") if c]
            self.start = options.get("start_date", "2000-01-01")
            self.end = options.get("end_date", self.start)
            self.fetcher_spec = options["fetcher"]
            self.attempts = int(options.get("attempts", "3"))

        def partitions(self):
            # one partition per city window; chunk by date range here when
            # a single city's history exceeds one task's appetite
            return [_CityWindow(c, self.start, self.end) for c in self.cities]

        def read(self, partition):
            if partition is None:  # empty cities option -> empty source
                return
            fetcher = _import_fetcher(self.fetcher_spec)
            payload = fetch_with_retry(
                fetcher, partition.city, partition.start, partition.end,
                attempts=self.attempts,
            )
            if payload is not None:
                yield (partition.city, payload)

    class WeatherApiDataSource(DataSource):
        """`spark.read.format("weather_api").option(...)` source emitting
        (city_name, payload) rows; compose with `decode_payloads` for the
        typed staging rows. Register once per session with
        `spark.dataSource.register(WeatherApiDataSource)`."""

        @classmethod
        def name(cls) -> str:
            return "weather_api"

        def schema(self) -> str:
            return "city_name string, payload string"

        def reader(self, schema):
            return WeatherApiReader(self.options)

        def simpleStreamReader(self, schema):
            return WeatherApiStreamReader(self.options)

    from pyspark.sql.datasource import SimpleDataSourceStreamReader

    class WeatherApiStreamReader(SimpleDataSourceStreamReader):
        """Streaming form of the API extract: each micro-batch fetches the
        next ``window_days`` date window for every city and advances the
        offset — the reference's nightly watermark loop
        (extract_weather.py:24-68) become a continuously-running
        `spark.readStream.format("weather_api")` source.

        Offsets are the replayable contract: {"next": "YYYY-MM-DD"} is
        checkpointed by the engine, so a restarted query resumes at the
        exact date watermark with no duplicate fetch — the role
        `is_processed` plays in the reference's batch design. A bounded
        run (end_date reached) keeps returning the same offset with no
        rows, which streaming triggers treat as 'no new data'."""

        def __init__(self, options):
            self.cities = [c for c in options.get("cities", "").split(",") if c]
            self.start = options.get("start_date", "2000-01-01")
            self.end = options.get("end_date", self.start)
            self.window_days = int(options.get("window_days", "1"))
            self.fetcher_spec = options["fetcher"]
            self.attempts = int(options.get("attempts", "3"))

        def initialOffset(self):
            return {"next": self.start}

        def read(self, start):
            from datetime import date, timedelta

            nxt = date.fromisoformat(start["next"])
            end = date.fromisoformat(self.end)
            if nxt > end:
                return iter([]), dict(start)  # bounded: no new data
            win_end = min(nxt + timedelta(days=self.window_days - 1), end)
            fetcher = _import_fetcher(self.fetcher_spec)
            rows = []
            for city in self.cities:
                payload = fetch_with_retry(
                    fetcher, city, nxt.isoformat(), win_end.isoformat(),
                    attempts=self.attempts,
                )
                if payload is None:
                    # Fail the micro-batch BEFORE the offset commits: a
                    # silently-skipped window would be permanently lost
                    # once {"next": ...} advances, unlike the batch path
                    # where a re-run retries the same watermark window.
                    # Raising here leaves the checkpoint at the current
                    # offset, so Spark's restart retries this window.
                    raise RuntimeError(
                        f"weather_api stream: fetch failed for {city} "
                        f"window {nxt.isoformat()}..{win_end.isoformat()} "
                        f"after {self.attempts} attempts; offset not advanced"
                    )
                rows.append((city, payload))
            return iter(rows), {"next": (win_end + timedelta(days=1)).isoformat()}

except ImportError:  # pragma: no cover - pyspark < 4 fallback
    WeatherApiDataSource = None  # type: ignore[assignment]
    WeatherApiStreamReader = None  # type: ignore[assignment]
