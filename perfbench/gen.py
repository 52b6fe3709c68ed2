"""Seeded input generators for the benchmark.

Everything the ``live`` workload feeds the program is written here, from
the run's seed: Kafka-shaped weather rows ``{"key", "value", "timestamp"}``
(FIXTURES.md section 1) with Vietnamese location names, a 5-minute cadence,
duplicate ``(location, time)`` pairs with differing broker timestamps, late
and out-of-order rows, error-message rows, rows without the v2 metrics and
rows that carry ``timestamp`` instead of ``time``.  Each row also carries
``created_ms``, the wall-clock stamp of its creation, for ingest lag.  (The
``batch`` workload reads the fixed tables in ``data/``.)

Alongside the raw rows the generator returns the rows the parse chain must
produce, so output checks never consult the program under test.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd

CADENCE = dt.timedelta(minutes=5)
#: Last history day; the service clock ("today") is pinned to it.
HISTORY_END = dt.datetime(2025, 11, 18, 12, 0)

PROVINCES = (
    "Thành phố Hồ Chí Minh", "Thành phố Hà Nội", "Thành phố Đà Nẵng",
    "Thành phố Cần Thơ", "Thành phố Hải Phòng", "Tỉnh Khánh Hòa",
    "Tỉnh Lâm Đồng", "Thành phố Huế", "Tỉnh Đồng Nai", "Tỉnh Quảng Ninh",
)
WARDS = (
    "Phú An", "Bến Nghé", "Tân Định", "Hòa Khánh", "Thạch Thang", "An Lạc",
    "Vĩnh Tuy", "Ngọc Hà", "Cát Linh", "Xuân Hòa", "Thủy Xuân", "Đông Hưng",
    "Long Bình", "Phước Long", "Hồng Gai", "Bạch Đằng", "Lộc Thọ", "Đa Kao",
)
WEATHER_CODES = np.array([0, 1, 2, 3, 45, 51, 61, 63, 80, 95])
METRIC_COLS = (
    "temperature", "windspeed", "winddirection", "humidity", "rain",
    "visibility", "pressure", "precipitation", "weathercode", "interval",
    "is_day", "latitude", "longitude",
)
ERROR_MESSAGE = "Lỗi khi gọi API"


def location_names(n: int) -> list[str]:
    out = []
    for i in range(n):
        ward = WARDS[i % len(WARDS)]
        province = PROVINCES[(i // len(WARDS)) % len(PROVINCES)]
        lap = i // (len(WARDS) * len(PROVINCES))
        suffix = f" {lap + 1}" if lap else ""
        out.append(f"Phường {ward}{suffix}, {province}")
    return out


class WeatherFeed:
    """Deterministic crawler: cycle ``k`` is one event per location at event
    time ``HISTORY_END + k * 5 min`` (history cycles are ``k <= 0``).  Quirk
    shares are fixed; which rows get them follows the seed."""

    DUP_SHARE = 0.02
    LATE_SHARE = 0.02
    ERROR_SHARE = 0.01
    NO_V2_SHARE = 0.10
    TIMESTAMP_KEY_SHARE = 0.05
    ALT_FORMAT_SHARE = 0.05

    def __init__(self, seed: int, n_locations: int):
        self.seed = seed
        self.names = location_names(n_locations)
        self._name_json = [json.dumps(n, ensure_ascii=False) for n in self.names]
        rng = np.random.default_rng([seed, 1])
        self.lat = np.round(rng.uniform(8.5, 23.0, n_locations), 7)
        self.lon = np.round(rng.uniform(102.2, 109.4, n_locations), 7)
        self.base_temp = rng.uniform(18.0, 30.0, n_locations)
        self.code_cum = rng.dirichlet(np.full(len(WEATHER_CODES), 0.6), n_locations).cumsum(axis=1)

    def cycles(self, k0: int, k1: int, created_ms: int) -> tuple[list[tuple[str, str]], pd.DataFrame]:
        """Cycles ``k0..k1`` inclusive: raw JSON lines as ``(broker_ts_iso,
        line)`` pairs, and the parsed rows they must become (error rows parse
        to nothing; a duplicate is a second row with a later broker time)."""
        n_loc = len(self.names)
        ks = np.arange(k0, k1 + 1)
        shape = (len(ks), n_loc)
        rng = np.random.default_rng([self.seed, 2, k0 + 10_000_000, k1 + 10_000_000])
        t = np.datetime64(HISTORY_END, "us") + (ks * 300_000_000).astype("timedelta64[us]")
        hour = ((t - t.astype("datetime64[D]")).astype("int64") / 3.6e9)[:, None]
        # rounded before formatting, so the text parses back to these floats
        temp = np.round(self.base_temp + 5.0 * np.sin((hour - 9.0) / 24.0 * 2 * np.pi) + rng.normal(0, 0.8, shape), 1)
        wind = np.round(np.abs(rng.normal(8.0, 4.0, shape)), 1)
        wdir = rng.integers(0, 360, shape)
        code = WEATHER_CODES[(rng.random(shape)[..., None] > self.code_cum).sum(axis=2).clip(0, len(WEATHER_CODES) - 1)]
        humid = np.round(rng.uniform(40, 100, shape))
        press = np.round(rng.normal(1010, 5, shape), 1)
        precip = np.round(np.where(rng.random(shape) < 0.3, rng.exponential(1.5, shape), 0.0), 1)
        vis = np.round(rng.uniform(2000, 24000, shape))
        delay_ms = rng.integers(5_000, 90_000, shape)
        late = rng.random(shape) < self.LATE_SHARE
        delay_ms[late] += rng.integers(3600_000, 6 * 3600_000, late.sum())
        dup = rng.random(shape) < self.DUP_SHARE
        error = rng.random(shape) < self.ERROR_SHARE
        no_v2 = rng.random(shape) < self.NO_V2_SHARE
        ts_key = rng.random(shape) < self.TIMESTAMP_KEY_SHARE
        alt_fmt = rng.random(shape) < self.ALT_FORMAT_SHARE
        is_day = ((hour >= 6) & (hour < 18)).astype(int) * np.ones(shape, dtype=int)
        kafka = t[:, None] + delay_ms.astype("timedelta64[ms]")
        iso_t = np.datetime_as_string(t, unit="m")
        iso_kafka = np.datetime_as_string(kafka, unit="ms")
        created = f', "created_ms": "{created_ms}"}}'

        lines: list[tuple[str, str]] = []
        for c in range(len(ks)):
            tt = iso_t[c]
            tt_alt = tt.replace("T", " ") + ":00"
            for i in range(n_loc):
                key = "timestamp" if ts_key[c, i] else "time"
                head = f'{{"location_name": {self._name_json[i]}, "{key}": "{tt_alt if alt_fmt[c, i] else tt}"'
                if error[c, i]:
                    value = f'{head}, "message": "{ERROR_MESSAGE}"{created}'
                else:
                    value = (
                        f'{head}, "latitude": "{self.lat[i]}", "longitude": "{self.lon[i]}", '
                        f'"interval": "300", "temperature": "{temp[c, i]:.1f}", '
                        f'"windspeed": "{wind[c, i]:.1f}", "winddirection": "{wdir[c, i]}", '
                        f'"is_day": "{is_day[c, i]}", "weathercode": "{code[c, i]}"'
                    )
                    if not no_v2[c, i]:
                        value += (
                            f', "humidity": "{humid[c, i]:.0f}", "pressure": "{press[c, i]:.1f}", '
                            f'"precipitation": "{precip[c, i]:.1f}", "rain": "{precip[c, i]:.1f}", '
                            f'"visibility": "{vis[c, i]:.0f}"'
                        )
                    value += created
                value_json = json.dumps(value, ensure_ascii=False)
                kts = iso_kafka[c, i]
                lines.append((kts, f'{{"key": {self._name_json[i]}, "value": {value_json}, "timestamp": "{kts}"}}'))
                if dup[c, i]:
                    kts2 = np.datetime_as_string(kafka[c, i] + np.timedelta64(7, "s"), unit="ms")
                    lines.append((kts2, f'{{"key": {self._name_json[i]}, "value": {value_json}, "timestamp": "{kts2}"}}'))

        # parsed rows, vectorised: every non-error row, duplicates twice
        keep = ~error
        reps = (keep & dup).astype(int) + keep.astype(int)
        flat = lambda a: np.repeat(a.reshape(-1), reps.reshape(-1))  # noqa: E731
        kafka_rows = flat(kafka.astype("datetime64[us]"))
        second = np.zeros(len(kafka_rows), dtype=bool)
        starts = np.cumsum(reps.reshape(-1)) - reps.reshape(-1)
        second[starts[(reps.reshape(-1) == 2)] + 1] = True
        kafka_rows = kafka_rows + np.where(second, np.timedelta64(7, "s"), np.timedelta64(0, "s"))
        v2 = np.where(no_v2, np.nan, 1.0)
        names = np.array(self.names, dtype=object)
        df = pd.DataFrame({
            "key": flat(np.broadcast_to(names, shape)),
            "event_timestamp": flat(np.broadcast_to(t[:, None], shape)),
            "kafka_timestamp": kafka_rows,
            "temperature": flat(temp),
            "windspeed": flat(wind),
            "winddirection": flat(wdir.astype(float)),
            "humidity": flat(humid * v2),
            "rain": flat(precip * v2),
            "visibility": flat(vis * v2),
            "pressure": flat(press * v2),
            "precipitation": flat(precip * v2),
            "weathercode": flat(code.astype(float)),
            "interval": 300.0,
            "is_day": flat(is_day.astype(float)),
            "latitude": flat(np.broadcast_to(self.lat, shape)),
            "longitude": flat(np.broadcast_to(self.lon, shape)),
        })
        df.insert(1, "location", df["key"])
        return lines, df


def write_lines(path: str, lines: list[str]) -> None:
    """One JSON-lines file in the stream's file-source layout, written under
    a temporary name and renamed so the source never sees a partial file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, path)


def write_history(feed: WeatherFeed, days: int, in_dir: str, created_ms: int) -> tuple[pd.DataFrame, int]:
    """``days`` of history ending at ``HISTORY_END`` into ``in_dir``, one file
    per broker day, shuffled (late rows land in a later file, out of event
    order).  Returns the parsed rows the sink must hold and the raw row
    count."""
    lines, expected = feed.cycles(-days * 24 * 12 + 1, 0, created_ms)
    by_day: dict[str, list[str]] = {}
    for kts, line in lines:
        by_day.setdefault(kts[:10], []).append(line)
    rng = np.random.default_rng([feed.seed, 3])
    for day, day_lines in sorted(by_day.items()):
        order = rng.permutation(len(day_lines))
        write_lines(os.path.join(in_dir, f"history-{day}.json"), [day_lines[i] for i in order])
    return expected, len(lines)
