"""Output checks, computed without the program under test.

* :class:`ServeOracle` answers every HTTP route from the generator's own
  parsed rows with pandas (route semantics as documented in
  ``service/http_app.py`` and ``service/weather.py``), including the 404,
  400 and 422 answers.
* :func:`result_digest` reduces a query result to (row count, order-
  insensitive hash) so a Spark ``toPandas()`` frame can be compared with the
  DuckDB run of ``contract.oracle_sql()``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from urllib.parse import parse_qs, unquote, urlsplit

import numpy as np
import pandas as pd

METRICS = ("temperature", "windspeed", "winddirection", "humidity", "rain", "visibility", "pressure", "precipitation")
CONTEXT = ("latitude", "longitude", "interval", "is_day")
INT_COLS = ("weathercode", "interval", "is_day")
NO_DATA = "No weather data available for location key '{}'"


def _jsonish(v):
    """A value as the HTTP layer would serialise it (``json.dumps(default=str)``)."""
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return str(pd.Timestamp(v).to_pydatetime())
    if isinstance(v, np.generic):
        return v.item()
    return v


class ServeOracle:
    """Answers over ``events``, plus the rows of ``base`` (an oracle over
    strictly older events) when given: a growing table is a chain of
    oracles, one link per micro-batch."""

    def __init__(self, events: pd.DataFrame, today: dt.date, events_per_hour: int = 12,
                 base: "ServeOracle | None" = None):
        self.today = today
        self.eph = events_per_hour
        self.base = base
        df = events.sort_values(["event_timestamp", "kafka_timestamp"], ascending=False, kind="stable")
        self._own = df.reset_index(drop=True)
        self._by_loc = {k.lower(): g for k, g in self._own.groupby(self._own["location"].str.lower())}

    def extend(self, newer: pd.DataFrame) -> "ServeOracle":
        return ServeOracle(newer, self.today, self.eph, base=self)

    # -- helpers -----------------------------------------------------------

    def _chain(self):
        link = self
        while link is not None:
            yield link
            link = link.base

    @property
    def events(self) -> pd.DataFrame:
        """All rows, newest first (event time, then broker time)."""
        return pd.concat([link._own for link in self._chain()], ignore_index=True)

    def _rows(self, key: str) -> pd.DataFrame:
        """Rows whose location or key equals ``key`` case-insensitively,
        newest first."""
        k = key.lower()
        return pd.concat([link._by_loc.get(k, link._own.iloc[:0]) for link in self._chain()])

    @staticmethod
    def _record(row) -> dict:
        rec = {}
        for k, v in row.items():
            if v is None or (isinstance(v, float) and math.isnan(v)):
                continue
            if k in INT_COLS:
                v = int(v)
            rec[k] = _jsonish(v)
        return rec

    def _profile(self, df: pd.DataFrame, bucket: pd.Series, name: str) -> list[dict]:
        out = []
        df = df.assign(_b=bucket.values)
        for b, g in sorted(df.groupby("_b"), key=lambda kv: kv[0]):
            rec = {name: _jsonish(b)}
            for m in METRICS:
                v = g[m].mean()
                if not math.isnan(v):
                    rec[m] = float(v)
            first = g.sort_values("event_timestamp", kind="stable").iloc[0]
            for c in CONTEXT:
                rec[c] = int(first[c]) if c in INT_COLS else float(first[c])
            rec["n_events"] = len(g)
            counts = g["weathercode"].value_counts()
            rec["weathercode"] = int(min(counts[counts == counts.max()].index))
            out.append(rec)
        return out

    # -- routes ------------------------------------------------------------

    def answer(self, url: str) -> tuple[int, object]:
        parts_url = urlsplit(url)
        query = parse_qs(parts_url.query)
        parts = [unquote(p) for p in parts_url.path.strip("/").split("/") if p]

        def int_param(name, default):
            vals = query.get(name)
            if not vals:
                return default
            try:
                return int(vals[0])
            except ValueError:
                raise _Invalid(f"query parameter '{name}' must be an integer") from None

        try:
            if not parts:
                return 200, {"message": "Weather service is up", "spark_master": "local", "kafka_topic": "weather"}
            if parts[0] != "weather":
                return 404, {"detail": "Not Found"}
            if len(parts) == 1:
                limit = int_param("limit", 50)
                if limit <= 0:
                    raise _Invalid("limit must be greater than 0")
                latest = self.events.drop_duplicates("location", keep="first").sort_values("location").head(limit)
                recs = [self._record(r) for _, r in latest.iterrows()]
                return 200, {"count": len(recs), "results": recs}
            if parts[1] == "average_day" and len(parts) == 4:
                key, day = parts[2], dt.date.fromisoformat(parts[3])
                rows = self._rows(key)
                rows = rows[rows["event_timestamp"].dt.date == day]
                if rows.empty:
                    return 404, {"detail": f"No weather data available for location key '{key}' and date '{parts[3]}'"}
                return 200, {
                    "location": key, "date": day.isoformat(),
                    "average_temperature": float(rows["temperature"].mean()),
                    "average_windspeed": float(rows["windspeed"].mean()),
                    "average_winddirection": float(rows["winddirection"].mean()),
                }
            if parts[1] == "days" and len(parts) == 3:
                days = sorted({d.isoformat() for d in self._rows(parts[2])["event_timestamp"].dt.date})
                if not days:
                    return 404, {"detail": NO_DATA.format(parts[2])}
                return 200, {"location": parts[2], "days": days}
            if parts[1] == "recent_with_step" and len(parts) == 3:
                hours, step = int_param("hours", 24), int_param("step", 1)
                recs = self._recent(parts[2], hours, step)
                return 200, {"count": len(recs), "results": recs}
            if parts[1] == "predict" and len(parts) == 3:
                steps = int_param("steps", 1)
                if not 1 <= steps <= 48:
                    raise _Invalid("steps must be between 1 and 48")
                return self._predict(parts[2], steps)
            if len(parts) == 2:
                rows = self._rows(parts[1])
                if rows.empty:
                    return 404, {"detail": NO_DATA.format(parts[1])}
                return 200, self._record(rows.iloc[0])
            return 404, {"detail": "Not Found"}
        except _Invalid as exc:
            return 422, {"detail": str(exc)}

    def _recent(self, key: str, hours: int, step: int) -> list[dict]:
        rows = self._rows(key)
        days = rows["event_timestamp"].dt.date
        if (hours, step) == (24, 1):
            today = rows[days == self.today]
            return self._profile(today, today["event_timestamp"].dt.hour, "hour")
        if (hours, step) == (168, 24):
            week = rows[(days >= self.today - dt.timedelta(days=6)) & (days <= self.today)]
            return self._profile(week, week["event_timestamp"].dt.date.map(dt.date.isoformat), "day")
        n, step_n = hours * self.eph, max(step * self.eph, 1)
        head = rows.head(max(n, 0))
        return self._profile(head, pd.Series(np.arange(len(head)) // step_n), "bucket")

    def _predict(self, key: str, steps: int) -> tuple[int, dict]:
        ctx = self._rows(key).head(24).iloc[::-1]
        if len(ctx) < 24:
            return 400, {"detail": f"Insufficient data for location '{key}'. Need at least 24 data points, got {len(ctx)}."}
        last = ctx.iloc[-1]
        counts = ctx["weathercode"].value_counts()
        modal = int(min(counts[counts == counts.max()].index))
        t0 = pd.Timestamp(last["event_timestamp"]).to_pydatetime()
        by_hour: dict[dt.datetime, int] = {}
        for i in range(1, steps * self.eph + 1):
            h = (t0 + dt.timedelta(minutes=5 * i)).replace(minute=0, second=0, microsecond=0)
            by_hour[h] = by_hour.get(h, 0) + 1
        temp = float(last["temperature"])
        preds = [
            {"hour": h.isoformat(), "temperature": sum([temp] * n) / n, "weathercode": modal, "n_steps": n}
            for h, n in sorted(by_hour.items())
        ]
        return 200, {
            "key": key, "location": key, "steps": steps, "predictions": preds,
            "based_on": {"sequence_length": 24, "last_timestamp": str(t0)},
            "details": {},
        }


class _Invalid(Exception):
    pass


def same_json(a, b, rel: float = 1e-9) -> bool:
    """Deep equality with a relative tolerance for floats (Spark and pandas
    sum in different orders)."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_json(a[k], b[k], rel) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same_json(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, bool) or isinstance(b, bool) or not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)
    return a == b


# ---------------------------------------------------------------------------
# Batch result digests
# ---------------------------------------------------------------------------

def _norm(v):
    if v is None:
        return "None"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "None"
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=False)
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, hash of the sorted normalised rows, columns by name)."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm(row[i]) for i in order) for row in rows)
    h = hashlib.sha256("\x1e".join([",".join(sorted(cols))] + lines).encode()).hexdigest()
    return len(lines), h


def frame_rows(pdf: pd.DataFrame) -> list[tuple]:
    """``toPandas()`` rows with pandas' missing-value markers turned to None."""
    cols = [pdf[c].tolist() for c in pdf.columns]
    return [tuple(None if (x is pd.NaT) else x for x in row) for row in zip(*cols)]
