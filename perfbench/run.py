#!/usr/bin/env python3
"""Repository benchmark: one workload per run, at local[4].

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Generates the workload's inputs from the
seed, launches the JVM and session and runs the warm pass (timed as
``setup_s``), checks the program's outputs, then runs timed reps for
``--seconds`` seconds in a closed loop.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` the run is traced and
the metrics are the per-layer ones (see README.md). ``--smoke`` shrinks every
input for a quick pass through every workload and checker.

Exit codes: 0 result printed (and correct), 1 result printed but outputs
wrong or a rep failed, 2 the program or an input fingerprint is missing or
wrong (no result printed).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]


def timed_loop(fn, seconds: float) -> list:
    """Start reps until ``seconds`` have passed (so at least one, and the
    last may run past the mark). A rep that raises counts as failed."""
    from workloads import Rep

    reps: list[Rep] = []
    end = time.perf_counter() + seconds
    while not reps or time.perf_counter() < end:
        t0 = time.perf_counter()
        try:
            reps.append(fn(len(reps)))
        except Exception:  # noqa: BLE001 -- a failed rep is counted, not fatal
            traceback.print_exc()
            reps.append(Rep(time.perf_counter() - t0, ok=False))
    return reps


def error_share(check, reps) -> float:
    share = check.errors / check.attempted if check.attempted else 0.0
    return share + sum(not r.ok for r in reps) / len(reps)


def set_up(wl, env, event_log: bool = False) -> tuple:
    """Launch the JVM and session and run the warm pass (timed), then check
    the outputs (not timed). Returns (spark, setup seconds, check, detail)."""
    t0 = time.perf_counter()
    spark = env.start(event_log=event_log)
    wl.warm(spark)
    t1 = time.perf_counter()
    check = wl.check(spark)
    return spark, t1 - t0, check, {"check_s": time.perf_counter() - t1}


def untraced(wl, env, seconds: float) -> tuple[dict, object, list, dict]:
    from tracing import MemSampler

    spark, setup_s, check, detail = set_up(wl, env)
    t0 = time.perf_counter()
    with MemSampler() as mem:
        reps = timed_loop(lambda i: wl.rep(spark, i), seconds)
    metrics = wl.end_to_end(reps)
    metrics["setup_s"] = setup_s
    metrics["peak_mem_mb"] = mem.peak / 2**20
    detail.update(walls_s=[r.wall for r in reps], timed_s=time.perf_counter() - t0)
    return metrics, check, reps, detail


def traced(wl, env, seconds: float) -> tuple[dict, object, list, dict]:
    """Pairs of reps in one session with the event log on: a rep with spans
    and the driver-side wrappers, then the same rep without. The tracing
    overhead is the traced median minus the untraced median (the event log
    is on for both, so its own cost is not in it)."""
    from tracing import EventLog, Tracer, find_event_log

    spark, _, check, detail = set_up(wl, env, event_log=True)
    tracer = Tracer(run_id=f"{wl.name}-s{wl.seed}-{os.getpid()}")
    traced_reps = []

    def pair(i):
        wl.instrument(tracer)
        try:
            with tracer.span("rep"):
                traced_reps.append(wl.traced_rep(spark, i, tracer))
        finally:
            tracer.unwrap_all()
        return wl.rep(spark, i)

    plain = timed_loop(pair, seconds)
    log_dir = env.event_log_dir
    env.stop()
    untraced_wall = statistics.median(r.wall for r in plain)
    log = EventLog(find_event_log(log_dir))
    m = wl.layers(log, traced_reps, tracer, untraced_wall)
    m["trace.overhead_s"] = statistics.median(r.wall for r in traced_reps) - untraced_wall
    m["trace.overhead_share"] = m["trace.overhead_s"] / untraced_wall
    results = HERE / ".results"
    results.mkdir(exist_ok=True)
    tracer.dump(results / f"{wl.name}-s{wl.seed}-spans.jsonl")
    detail.update(walls_s=[r.wall for r in plain], traced_walls_s=[r.wall for r in traced_reps])
    return m, check, plain + traced_reps, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the tests")
    args = ap.parse_args(argv)
    # a TERM still runs the cleanup below: stop the JVM, remove the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        import action_pdf_accessibility_paddle_docker_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import inputs
    from session import RunEnv
    from tracing import host_control
    from workloads import PER_LAYER, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    scale = inputs.SMOKE if args.smoke else inputs.FULL
    env = RunEnv()
    try:
        wl = WORKLOADS[args.workload](env, scale, args.seed)
        t0 = time.perf_counter()
        try:
            wl.prepare()
        except inputs.InputDrift as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 2
        prepare_s = time.perf_counter() - t0
        run = traced if args.trace else untraced
        metrics, check, reps, detail = run(wl, env, args.seconds)
    finally:
        t0 = time.perf_counter()
        env.close()
    detail.update(prepare_s=prepare_s, close_s=time.perf_counter() - t0)

    control = host_control()
    failed = sum(not r.ok for r in reps)
    share = error_share(check, reps)
    detail.update({
        "workload": wl.name, "seed": args.seed, "rows": wl.rows(),
        "input_sha256": wl.digest,
        "mismatch_count": check.mismatches, "error_share": share,
        "host_control_s": control,
    })
    if args.trace:
        layer = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
        layer.update({k: v for k, v in metrics.items() if k in layer})
        layer.update({"host.control_s": control, "check.mismatch_count": check.mismatches,
                      "check.error_share": share})
        units = dict(PER_LAYER)
        out = {n: {"value": float(v), "unit": units[n]} for n, v in layer.items()}
    else:
        units = {"setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s",
                 "call_geomean_s": "s", "peak_mem_mb": "MB"}
        out = {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()}
    correct = check.mismatches == 0 and share == 0
    print(json.dumps({"detail": detail}), flush=True)
    print(json.dumps({"correct": correct, "attempted": len(reps), "failed": failed,
                      "metrics": out}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
