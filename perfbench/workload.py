"""One benchmark run of one workload, in a fresh process.

``run.py`` starts this file with the environment the program needs; it sets
up, measures for ``--seconds``, checks outputs and writes a JSON report to
``--out``.  Workloads:

* ``live``: generated history is drained through
  ``streaming.start_parquet_sink`` and served by ``http_app.serve`` over
  ``WeatherService(lambda: spark.read.parquet(sink))``; then an open-loop
  crawler writes one cycle (one event per location) per interval into the
  stream's input directory while two closed-loop clients send a fixed
  route cycle with seeded keys.  Operations: the HTTP requests.
* ``batch``: fixed contract queries over the fixed sf0.01 tables in
  ``data/``, each fully materialised with ``toPandas()``; the seed sets the
  query order.
  Operations: the query executions.
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import http.client
import itertools
import json
import math
import os
import random
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import quote

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402

# Sizes: see "Sizes and where they come from" in METRICS.md.  60 locations
# keep a run within its time budget (300 took 92 s a run); the crawl interval
# is ~4x the commit time per cycle of the sink alone (sink_capacity.py: p90
# 460 ms), so each cycle stays its own micro-batch beside the reads.
N_LOCATIONS = 60
HISTORY_DAYS = 7
CLIENTS = 2
LIVE_INTERVAL_S = 2.0
WARMUP_REQUESTS = 10
VISIBILITY_SLACK_S = 1.0
#: A copy of the repository's seed-42 sf0.01 test tables (60k lineitem rows).
BATCH_TABLES = os.path.join(HERE, "data", "sf0.01")
MIN_PASSES = 3
BATCH_QUERIES = (
    "latest_event_per_user", "hourly_profile", "daily_profile", "mode_event_type_per_user",
    "build_training_sequences", "autoregressive_forecast_hourly", "sessionize_events",
    "asof_click_before_purchase", "q1_pricing_summary", "q3_shipping_priority",
    "q18_large_volume_customers", "dedup_exact_docs", "minhash_lsh_near_dups",
    "cosine_topk_ivf", "doc_quality_scores",
)
#: Route kinds in request order, repeated; the same for every seed, so a
#: run's mix does not depend on where the clock stops it.  "fast" is the
#: root route and a 422 answer, alternately.
ROUTE_CYCLE = ("location", "hourly", "latest", "days", "daily", "predict", "average_day", "generic", "location", "fast")
SERVICE_LABELS = (
    "list_latest", "get_location", "get_weather_days", "get_weather_average_day",
    "recent_hourly", "recent_daily", "recent_generic", "predict_weather",
)


def pct(values, q: float) -> float:
    """Percentile by linear interpolation; NaN (reported as not computed)
    for no samples."""
    if not values:
        return math.nan
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(values) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values)) if values else math.nan


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return math.nan


def dir_stats(path: str) -> tuple[int, float]:
    files = glob.glob(os.path.join(path, "*.parquet"))
    return len(files), sum(os.path.getsize(p) for p in files) / 1e6


# ---------------------------------------------------------------------------
# Request schedule and HTTP client
# ---------------------------------------------------------------------------

class Schedule:
    """Endless request stream over ``ROUTE_CYCLE``; the seed picks location
    keys (Zipf-skewed, with a share of mixed-case and unknown keys), dates
    and parameters."""

    def __init__(self, seed: int, names: list[str], days: list[str]):
        self.rng = random.Random(seed)
        self.names = names[:]
        self.rng.shuffle(self.names)
        self.weights = [1.0 / (r + 1) ** 1.1 for r in range(len(names))]
        self.days = days
        self._kinds = itertools.cycle(ROUTE_CYCLE)
        self._fast = 0

    def _key(self) -> str:
        u = self.rng.random()
        if u < 0.05:
            return f"Phường Không Có {self.rng.randrange(1000)}"
        name = self.rng.choices(self.names, self.weights)[0]
        if u < 0.10:
            return name.upper() if self.rng.random() < 0.5 else name.lower()
        return name

    def next(self) -> tuple[str, str]:
        """(route kind, URL); not thread-safe, callers serialise."""
        kind = next(self._kinds)
        k = quote(self._key(), safe="")
        r = self.rng
        if kind == "latest":
            url = r.choice(["/weather", "/weather?limit=10", "/weather?limit=100"])
        elif kind == "location":
            url = f"/weather/{k}"
        elif kind == "days":
            url = f"/weather/days/{k}"
        elif kind == "average_day":
            url = f"/weather/average_day/{k}/{r.choice(self.days + ['2025-10-01'])}"
        elif kind == "hourly":
            url = f"/weather/recent_with_step/{k}?hours=24&step=1"
        elif kind == "daily":
            url = f"/weather/recent_with_step/{k}?hours=168&step=24"
        elif kind == "generic":
            h, s = r.choice([(6, 2), (12, 3), (48, 6), (2, 1)])
            url = f"/weather/recent_with_step/{k}?hours={h}&step={s}"
        elif kind == "predict":
            url = f"/weather/predict/{k}?steps={r.randint(1, 6)}"
        else:
            self._fast += 1
            url = "/" if self._fast % 2 else r.choice([
                "/weather?limit=0", f"/weather/predict/{k}?steps=0",
                f"/weather/predict/{k}?steps=49", f"/weather/recent_with_step/{k}?hours=abc",
                "/weather?limit=x",
            ])
        return kind, url


def fetch(port: int, url: str) -> tuple[int, object, float]:
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", url)
        resp = conn.getresponse()
        body = resp.read()
    finally:
        conn.close()
    ms = (time.perf_counter() - t0) * 1000.0
    return resp.status, json.loads(body.decode("utf-8")), ms


def closed_loop(port: int, schedule: Schedule, n_clients: int, seconds: float, trace: bool) -> list[dict]:
    """``n_clients`` threads, each sending its next request when the previous
    one completed, for ``seconds`` and then up to the end of the current
    route cycle, so every run sends whole cycles of the same mix."""
    results: list[dict] = []
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds
    issued = 0

    def take():
        nonlocal issued
        with lock:
            if time.perf_counter() >= deadline and issued % len(ROUTE_CYCLE) == 0:
                return None
            issued += 1
            return issued, *schedule.next()

    def client():
        while (job := take()) is not None:
            rid, kind, url = job
            sent = url + (("&" if "?" in url else "?") + f"_rid={rid}" if trace else "")
            rec = {"kind": kind, "url": url, "rid": str(rid), "wall_start": time.time()}
            try:
                rec["status"], rec["body"], rec["ms"] = fetch(port, sent)
            except Exception as exc:  # a failed request is counted, not fatal
                rec["status"], rec["body"], rec["ms"] = 0, repr(exc), 0.0
            rec["wall_end"] = time.time()
            with lock:
                results.append(rec)

    threads = [threading.Thread(target=client) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def _iso(wall: float) -> str:
    """Wall time in the format of ``StreamingQueryProgress.timestamp``."""
    return dt.datetime.fromtimestamp(wall, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


class SinkLog:
    """When each input file was committed and made visible, from the
    stream's checkpoint and the file sink's metadata log (the mtime of a
    batch's marker is when the batch finished that step)."""

    def __init__(self, checkpoint: str, sink: str):
        self.batch_of: dict[str, int] = {}
        for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    if line.startswith("{"):
                        entry = json.loads(line)
                        self.batch_of[os.path.basename(entry["path"])] = entry["batchId"]
        self.committed = self._mtimes(os.path.join(checkpoint, "commits"))
        self.visible = self._mtimes(os.path.join(sink, "_spark_metadata"))

    @staticmethod
    def _mtimes(log_dir: str) -> dict[int, float]:
        out = {}
        for path in glob.glob(os.path.join(log_dir, "[0-9]*")):
            batch = os.path.basename(path).split(".")[0]  # "9" or "9.compact"
            if batch.isdigit():
                out[int(batch)] = os.path.getmtime(path)
        return out

    def commit_time(self, file: str) -> float:
        return self.committed[self.batch_of[file]]

    def visible_states(self, files: dict) -> list[tuple[float, list[str]]]:
        """(visible-at, files) per batch that read any of ``files``, in order."""
        by_batch: dict[int, list[str]] = {}
        for f in files:
            by_batch.setdefault(self.batch_of[f], []).append(f)
        return [(self.visible[b], sorted(fs)) for b, fs in sorted(by_batch.items())]


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.trace = bool(args.trace)
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    # -- session -----------------------------------------------------------

    def start_spark(self):
        t0 = time.perf_counter()
        from bigdata_weather_system_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
            # fixed heap size: no heap resizing decisions to vary peak RSS
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ.get('SPARK_DRIVER_MEMORY', '1g')} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
            ),
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + os.path.join(self.work, "eventlog")
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)
        self.tracer = tracing.Tracer(self.spark if self.trace else None)
        self.layer["session.get_spark_s"] = time.perf_counter() - t0

    def peak_rss(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)

    # -- live ----------------------------------------------------------------

    def start_sink(self):
        """Start the stream and drain the generated history into the sink."""
        from bigdata_weather_system_spark.streaming import read_event_stream, start_parquet_sink

        t0 = time.perf_counter()
        self.query = start_parquet_sink(read_event_stream(self.spark, path=self.in_dir), self.sink, self.ckpt)
        self.query.processAllAvailable()
        backfill_s = time.perf_counter() - t0
        self.layer["sources.backfill_events_per_s"] = self.n_history_rows / backfill_s

    def weather_setup(self):
        from bigdata_weather_system_spark.service import http_app
        from bigdata_weather_system_spark.service.weather import WeatherService

        self.start_sink()

        sink = self.sink
        service = WeatherService(lambda: self.spark.read.parquet(sink), now_fn=lambda: gen.HISTORY_END)
        if self.trace:
            service = tracing.TimedService(service, self.tracer)
            http_app.route = tracing.timed_route(http_app.route, self.tracer)
        self.httpd = http_app.serve(service, host="127.0.0.1", port=0)
        self.port = self.httpd.server_address[1]
        days = sorted(self.expected["event_timestamp"].dt.strftime("%Y-%m-%d").unique())
        self.schedule = Schedule(self.args.seed, self.feed.names, days)

        # warm-up before timing: one route cycle, from four threads
        t0 = time.perf_counter()
        warm = Schedule(self.args.seed + 1, self.feed.names, days)
        urls = [warm.next()[1] for _ in range(WARMUP_REQUESTS)]
        with ThreadPoolExecutor(4) as pool:
            list(pool.map(lambda url: fetch(self.port, url), urls))
        self.layer["session.warmup_s"] = time.perf_counter() - t0

    def live(self):
        self.weather_setup()
        self.setup_done()
        written: list[dict] = []
        stop = threading.Event()
        start = time.time()

        def crawler():
            k = 0
            while not stop.is_set():
                k += 1
                due = start + k * LIVE_INTERVAL_S
                delay = due - time.time()
                if delay > 0 and stop.wait(delay):
                    return
                lines, rows = self.feed.cycles(k, k, int(due * 1000))
                path = os.path.join(self.in_dir, f"live-{k:06d}.json")
                gen.write_lines(path, [line for _, line in lines])
                written.append({"k": k, "file": os.path.basename(path), "due": due,
                                "late_ms": (time.time() - due) * 1000.0, "rows": rows})

        gen_thread = threading.Thread(target=crawler)
        t0 = time.perf_counter()
        gen_thread.start()
        results = closed_loop(self.port, self.schedule, CLIENTS, self.args.seconds, self.trace)
        stop.set()
        gen_thread.join()
        end_wall = time.time()
        elapsed = time.perf_counter() - t0
        sink_files, sink_mb = dir_stats(self.sink)
        progress = [p for p in self.query.recentProgress if p["numInputRows"] > 0 and p["timestamp"] >= _iso(start)]
        self.peak = self.peak_rss()
        self.httpd.shutdown()
        self.httpd.server_close()

        # reads: the end-to-end operations of this workload
        ok = [r for r in results if r["status"]]
        lat = [r["ms"] for r in ok]
        self.metrics.update(op_p50_ms=pct(lat, 0.5), op_p90_ms=pct(lat, 0.9), ops_per_s=len(ok) / elapsed)
        self.attempted += len(results)
        self.failed += len(results) - len(ok)

        # ingest: drain the backlog (outside the timed region), then lag per
        # event = commit of the micro-batch that read its file - its due time
        self.query.processAllAvailable()
        self.query.stop()
        log = SinkLog(self.ckpt, self.sink)
        lags, n_by_end = [], 0
        for w in written:
            committed = log.commit_time(w["file"])
            lags.extend([(committed - w["due"]) * 1000.0] * len(w["rows"]))
            n_by_end += len(w["rows"]) if committed <= end_wall else 0
        self.notes.append(f"{len(ok)} reads, {len(written)} crawl cycles ({len(lags)} events) in {elapsed:.1f} s")
        trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
        self.layer.update({
            "streaming.ingest_lag_p50_ms": pct(lags, 0.5),
            "streaming.ingest_lag_p90_ms": pct(lags, 0.9),
            "streaming.ingest_events_per_s": n_by_end / (end_wall - start),
            "bench.generator_late_ms.max": max((w["late_ms"] for w in written), default=math.nan),
            "streaming.batches": len(progress),
            "streaming.rows_per_batch.p50": pct([p["numInputRows"] for p in progress], 0.5),
            "streaming.trigger_ms.p50": pct(trig, 0.5),
            "streaming.trigger_ms.p90": pct(trig, 0.9),
            "streaming.add_batch_ms.p50": pct([p["durationMs"].get("addBatch", 0) for p in progress], 0.5),
            "streaming.query_planning_ms.p50": pct([p["durationMs"].get("queryPlanning", 0) for p in progress], 0.5),
            "streaming.latest_offset_ms.p50": pct([p["durationMs"].get("latestOffset", 0) for p in progress], 0.5),
            "streaming.wal_commit_ms.p50": pct([p["durationMs"].get("walCommit", 0) for p in progress], 0.5),
            "streaming.busy_share": sum(trig) / (elapsed * 1000.0),
            "streaming.backlog_files_end": sum(1 for w in written if log.commit_time(w["file"]) > end_wall),
            "streaming.sink_files": sink_files,
            "streaming.sink_mb": sink_mb,
        })
        self.trace_serve_layers(results)

        # output check 1: every response equals the pandas answer over the
        # table as some reader could have seen it during the request (the
        # sink grows while the request runs, so each batch made visible in
        # [start, end] is a candidate state)
        cycles = {w["file"]: w["rows"] for w in written}
        states = log.visible_states(cycles)
        oracles = [oracle.ServeOracle(self.expected, gen.HISTORY_END.date())]
        for _, files in states:
            oracles.append(oracles[-1].extend(pd.concat([cycles[f] for f in files], ignore_index=True)))

        times = [t for t, _ in states]
        wrong = 0
        for r in ok:
            # a batch's log file is written a little before it is renamed
            # into place, so its mtime may precede visibility
            lo = sum(1 for t in times if t < r["wall_start"] - VISIBILITY_SLACK_S)
            hi = sum(1 for t in times if t <= r["wall_end"])
            answers = [oracles[i].answer(r["url"]) for i in range(lo, hi + 1)]
            if not any(s == r["status"] and oracle.same_json(b, r["body"]) for s, b in answers):
                wrong += 1
                if wrong <= 3:
                    s, b = answers[-1]
                    self.notes.append(f"WRONG {r['url']}: got {r['status']} {str(r['body'])[:300]} want {s} {str(b)[:300]}")
        self.failed += wrong

        # output check 2: every non-error generated row is in the sink exactly once
        expected = pd.concat([self.expected] + list(cycles.values()), ignore_index=True)
        got = self.spark.read.parquet(self.sink).toPandas()
        keys = ["location", "event_timestamp", "kafka_timestamp"]
        counts = pd.concat([expected.groupby(keys).size().rename("want"), got.groupby(keys).size().rename("got")], axis=1).fillna(0)
        bad = counts[counts["want"] != counts["got"]]
        merged = expected.merge(got, on=keys, suffixes=("", "_got"))
        wrong_value = pd.Series(False, index=merged.index)
        for c in gen.METRIC_COLS:
            a, b = merged[c], merged[f"{c}_got"].astype("float64")
            wrong_value |= ~((a == b) | (a.isna() & b.isna()))
        wrong_ts = {k[1] for k in bad.index} | set(merged.loc[wrong_value, "event_timestamp"])
        live_ts = {gen.HISTORY_END + w["k"] * gen.CADENCE for w in written}
        # one operation per crawl cycle, plus one for the history drain
        self.attempted += len(written) + 1
        self.failed += len(wrong_ts & live_ts) + (1 if wrong_ts - live_ts else 0)
        if wrong_ts:
            self.notes.append(f"WRONG sink: {len(bad)} keys with a wrong row count, {int(wrong_value.sum())} rows with wrong values")

    def batch(self):
        import duckdb

        from bigdata_weather_system_spark import contract

        tables = BATCH_TABLES
        order = list(BATCH_QUERIES)
        random.Random(self.args.seed).shuffle(order)

        def run_query(name: str, span_name: str | None = None):
            if span_name:
                with self.tracer.span(span_name, query=name):
                    return contract.QUERIES[name](self.spark, tables).toPandas()
            return contract.QUERIES[name](self.spark, tables).toPandas()

        # warm-up before timing: a cold pass from four threads
        t0 = time.perf_counter()
        with ThreadPoolExecutor(4) as pool:
            for fut in [pool.submit(run_query, name) for name in order]:
                fut.result()
        self.layer["session.warmup_s"] = time.perf_counter() - t0
        self.setup_done()

        execs: list[dict] = []
        passes = 0
        t0 = time.perf_counter()
        # whole passes until --seconds have passed, at least MIN_PASSES so
        # that every query's median sets the first (least warm) pass aside
        while passes < MIN_PASSES or time.perf_counter() - t0 < self.args.seconds:
            for name in order:
                q0 = time.perf_counter()
                try:
                    pdf = run_query(name, f"contract.{name}" if self.trace else None)
                    err = None
                except Exception as exc:  # counted as a failed operation
                    pdf, err = None, repr(exc)
                execs.append({"query": name, "s": time.perf_counter() - q0, "pdf": pdf, "err": err})
            passes += 1
        # a query's time is its median over the passes, which sets aside the
        # first pass's residual warm-up (10-30% slower) and short host stalls
        per_query = {name: statistics.median(e["s"] for e in execs if e["query"] == name) for name in order}
        ms = [s * 1000.0 for s in per_query.values()]
        total_s = sum(per_query.values())
        self.metrics.update(op_p50_ms=pct(ms, 0.5), op_p90_ms=pct(ms, 0.9), ops_per_s=len(order) / total_s)
        self.layer["contract.batch_total_s"] = total_s
        self.layer["contract.batch_geomean_ms"] = geomean(ms)
        pass_s = [sum(e["s"] for e in execs[i:i + len(order)]) for i in range(0, len(execs), len(order))]
        self.notes.append(f"{passes} passes of {len(order)} queries, pass times {[round(s, 2) for s in pass_s]} s")
        for name, s in per_query.items():
            self.layer[f"contract.{name}.s"] = s
        self.peak = self.peak_rss()

        # output check: row count and order-insensitive hash against DuckDB
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(tables, t + '.parquet')}')")
        want = {}
        for name in BATCH_QUERIES:
            res = con.execute(contract.oracle_sql()[name])
            want[name] = oracle.result_digest([d[0] for d in res.description], res.fetchall())
        con.close()
        self.attempted += len(execs)
        for e in execs:
            got = None if e["pdf"] is None else oracle.result_digest(list(e["pdf"].columns), oracle.frame_rows(e["pdf"]))
            if got != want[e["query"]]:
                self.failed += 1
                self.notes.append(f"WRONG {e['query']}: got {got} want {want[e['query']]} {e['err'] or ''}")
        self.passes = passes

    # -- shared ------------------------------------------------------------

    def setup_done(self):
        self.t_timed = time.perf_counter()
        self.metrics["setup_s"] = self.t_timed - self.t_start

    def trace_serve_layers(self, results: list[dict]):
        if not self.trace:
            return
        # the timed window only, not the warm-up
        self.tracer.spans = [s for s in self.tracer.spans if s["start"] >= self.t_timed]
        spans = [s for s in self.tracer.spans if s["name"].startswith("service.")]
        for label in SERVICE_LABELS:
            self.layer[f"service.{label}.p50_ms"] = pct([s["ms"] for s in spans if s["name"] == f"service.{label}"], 0.5)
        self.layer["service.spark_jobs_per_call"] = statistics.fmean(s["jobs"] for s in spans) if spans else math.nan
        self.layer["service.spark_tasks_per_call"] = statistics.fmean(s["tasks"] for s in spans) if spans else math.nan
        self.layer["http_app.route_self_ms"] = pct(tracing.route_self_ms(self.tracer), 0.5)
        route_ms = {s["rid"]: s["ms"] for s in self.tracer.by_name("http_app.route")}
        self.layer["http_app.transport_ms"] = pct(
            [r["ms"] - route_ms[r["rid"]] for r in results if r["rid"] in route_ms], 0.5
        )

    def event_log_layers(self):
        logs = tracing.event_log_metrics(os.path.join(self.work, "eventlog"))
        groups = {s["group"]: s for s in self.tracer.spans}
        service = [g for g, s in groups.items() if s["name"].startswith("service.")]
        if service:
            self.layer["service.input_mb_per_call"] = sum(logs[g]["input_bytes"] for g in service if g in logs) / 1e6 / len(service)
        contract_groups = [g for g, s in groups.items() if s["name"].startswith("contract.")]
        if contract_groups:
            passes = self.passes
            tot = lambda k: sum(logs[g][k] for g in contract_groups if g in logs)  # noqa: E731
            self.layer.update({
                "contract.spark_tasks": tot("tasks") / passes,
                "contract.shuffle_write_mb": tot("shuffle_write_bytes") / 1e6 / passes,
                "contract.input_mb": tot("input_bytes") / 1e6 / passes,
                "contract.spill_mb": tot("spill_bytes") / 1e6 / passes,
                "contract.gc_ms": tot("gc_ms") / passes,
            })

    def write_inputs(self):
        """Generate this run's input files (overlaps the JVM start)."""
        if self.args.workload == "batch":
            return
        self.in_dir = os.path.join(self.work, "stream-in")
        self.sink = os.path.join(self.work, "sink")
        self.ckpt = os.path.join(self.work, "checkpoint")
        os.makedirs(self.in_dir)
        self.feed = gen.WeatherFeed(self.args.seed, N_LOCATIONS)
        self.expected, self.n_history_rows = gen.write_history(self.feed, HISTORY_DAYS, self.in_dir, int(time.time() * 1000))

    def execute(self) -> dict:
        self.t_start = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(self.write_inputs)
            self.start_spark()
            inputs.result()
        getattr(self, self.args.workload)()
        self.metrics["peak_rss_mb"] = self.peak
        t_stop = time.perf_counter()
        self.spark.stop()
        self.notes.append(f"setup {self.metrics['setup_s']:.1f} s, then {t_stop - self.t_timed:.1f} s measuring and checking")
        if self.trace:
            self.event_log_layers()
            out_dir = os.path.join(os.path.dirname(self.work), "spans")
            os.makedirs(out_dir, exist_ok=True)
            self.tracer.dump(os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}.jsonl"))
        return {
            "attempted": self.attempted, "failed": self.failed,
            "metrics": self.metrics, "layer": self.layer, "notes": self.notes,
        }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["live", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    report = Run(args).execute()
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(report, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
