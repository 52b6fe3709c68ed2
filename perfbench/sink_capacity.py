"""What the stream's parquet sink sustains on its own: the measurement the
``live`` workload's crawl interval is set from.

    python3 perfbench/sink_capacity.py [--locations 60] [--seconds 30] [--seed 1]

Run from the repository root.  Sets up as ``live`` does (the same generated
history drained through ``streaming.start_parquet_sink``), but starts no
HTTP server and no clients.  Then, for ``--seconds``, it writes one crawl
cycle (one event per location) into the stream's input directory and waits
with ``processAllAvailable()`` until the sink has committed it, cycle after
cycle.  It prints the history drain rate and the commit time per cycle, from
which follows the highest rate at which the sink keeps up alone when each
micro-batch carries one crawl cycle, as in ``live``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--locations", type=int, default=60)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    work = os.path.join(run.ROOT, ".perfbench_work", f"capacity-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.environ.update(run.child_env(work))
    time.tzset()
    sys.path.insert(0, run.ROOT)
    import gen
    import workload

    workload.N_LOCATIONS = args.locations
    bench = workload.Run(types.SimpleNamespace(workload="live", seed=args.seed, seconds=args.seconds, trace=0, work=work))
    try:
        t0 = time.perf_counter()
        bench.write_inputs()
        bench.start_spark()
        bench.start_sink()
        print(f"setup (inputs, session, drain) {time.perf_counter() - t0:.1f} s; "
              f"history {bench.n_history_rows} events drained at "
              f"{bench.layer['sources.backfill_events_per_s']:.0f} events/s")

        commit_s = []
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds:
            k = len(commit_s) + 1
            lines, _ = bench.feed.cycles(k, k, int(time.time() * 1000))
            c0 = time.perf_counter()
            gen.write_lines(os.path.join(bench.in_dir, f"live-{k:06d}.json"), [line for _, line in lines])
            bench.query.processAllAvailable()
            commit_s.append(time.perf_counter() - c0)
        elapsed = time.perf_counter() - start
        q = statistics.quantiles(commit_s, n=10)
        print(f"{len(commit_s)} cycles of {args.locations} events in {elapsed:.1f} s: "
              f"commit time per cycle p50 {statistics.median(commit_s) * 1000:.0f} ms, p90 {q[8] * 1000:.0f} ms; "
              f"sustained alone {len(commit_s) / elapsed:.2f} cycles/s = "
              f"{len(commit_s) * args.locations / elapsed:.0f} events/s")
        bench.query.stop()
        bench.spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
