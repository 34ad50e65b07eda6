"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_fanout --seed 1 --seconds 15 --trace 0

One process, one Spark session at ``local[nproc]``. Set-up stages the
seeded inputs three times (the median counts) and makes untimed warm-up
calls; then a closed loop of timed calls runs for ``--seconds``.
Every call's output is summarised right after it (untimed) and checked
against the DuckDB oracle after the loop. Human-readable details go to
stderr; the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first runs
the same workload untraced in a child process (for the tracing
overhead), then runs it with Spark's event log on and every call tagged
``<workload>/<layer>``, adds the per-layer probe calls, and reports the
per-layer metrics. ``--scale smoke`` and ``--corrupt`` serve
``perfbench/selftest.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402

STAGE_REPS = 3

# reported by every workload, next to the workload's own metrics
COMMON_E2E = {"setup_s": "s", "peak_rss_mb": "MB"}
COMMON_LAYERS = {
    "workload.python_start_s": "s",
    "workload.gc_s": "s",
    "workload.trace_overhead_ratio": "ratio",
}


def since_process_start() -> float:
    """Seconds since this process was created (kernel clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one output row before each check (checker self-test)")
    return ap.parse_args(argv)


def untraced_headline(args, name: str) -> float:
    """The headline metric of the same workload and seed, tracing off."""
    cmd = [sys.executable, os.path.abspath(__file__),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "0",
           "--scale", args.scale]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        raise RuntimeError(f"untraced run failed:\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    return result["metrics"][name]["value"]


def run(args) -> dict:
    from perfbench import ledger, oracles, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    kind = workloads.WORKLOADS[args.workload]
    headline, higher_is_better = kind.headline
    child_s, untraced = workloads.timed(
        lambda: untraced_headline(args, headline) if args.trace else None)

    run_dir = os.path.join(host.WORK, f"run-{os.getpid()}")
    evlog = os.path.join(run_dir, "eventlog") if args.trace else None
    cache = oracles.OracleCache(os.path.join(host.WORK, "oracle"))
    spark = None
    warming = True
    try:
        with host.RssSampler() as rss:
            spark, hostinfo = host.build_bench_session(
                f"perfbench-{args.workload}", evlog)
            session_s = since_process_start() - child_s

            def tag(layer: str) -> None:
                if args.trace:
                    spark.sparkContext.setJobDescription(
                        f"{args.workload}/{'warm' if warming else layer}")

            wl = kind(spark, args.seed, args.scale, run_dir, cache, tag)
            wl.corrupt = args.corrupt
            stage_s = [workloads.timed(lambda r=r: wl.stage(r))[0]
                       for r in range(STAGE_REPS)]
            tag("warm")
            warm_s, _ = workloads.timed(wl.warm)
            warming = False
            setup_s = session_s + statistics.median(stage_s) + warm_s

            calls, summaries, rss_mb, errors = [], [], [], 0
            ticks0 = host.cpu_ticks()
            t0 = time.perf_counter()
            while not calls or time.perf_counter() - t0 < args.seconds:
                try:
                    rss.window()
                    c = wl.call(len(calls) + errors)
                    rss_mb.append(rss.window())
                    summaries.append(wl.summarize(c))
                    calls.append(c)
                except Exception:  # a failed call counts; the loop goes on
                    log(traceback.format_exc())
                    errors += 1
                    if errors >= 3 and not calls:
                        break
            stolen, total = (b - a for a, b in zip(ticks0, host.cpu_ticks()))
            probes = wl.probes() if args.trace and calls else {}
            mismatches = sum(0 if wl.verify(s) else 1 for s in summaries)
            host.stop_session(spark)
            spark = None
    finally:
        if spark is not None:
            host.stop_session(spark)

    attempted = len(calls) + errors
    failed = errors + mismatches
    e2e = {"setup_s": setup_s,
           "peak_rss_mb": statistics.median(rss_mb) if rss_mb else 0.0,
           **(wl.end_to_end(calls) if calls else dict.fromkeys(kind.e2e_units, 0.0))}
    log(f"host: {json.dumps(hostinfo)}")
    log(f"host: {stolen / max(total, 1):.1%} of CPU time stolen by the hypervisor "
        "during the timed calls")
    log(f"set-up: session {session_s:.3f}s, staging {[round(s, 3) for s in stage_s]}, "
        f"warm-up {warm_s:.3f}s")
    log(f"calls: {len(calls)} ok, {errors} raised, {mismatches} wrong; "
        f"error_rate {failed / max(attempted, 1):.4f}")
    log(f"call seconds: {[round(c.seconds, 3) for c in calls]}")
    for note in wl.notes(calls):
        log(note)
    if args.trace:
        rows = ledger.fold_event_log(evlog)
        units_of = {**kind.layer_units, **COMMON_LAYERS}
        metrics = dict.fromkeys(units_of, 0.0)
        if calls:
            metrics.update(wl.layer_metrics(calls, rows, probes))
        metrics["workload.python_start_s"] = (
            ledger.total(rows, "python_start_ms") + ledger.total(rows, "python_init_ms")) / 1000
        metrics["workload.gc_s"] = ledger.total(rows, "gc_s")
        traced = e2e[headline]
        if traced and untraced:
            metrics["workload.trace_overhead_ratio"] = (
                untraced / traced if higher_is_better else traced / untraced)
        for desc, r in sorted(rows.items()):
            log(f"ledger {desc!r}: " + json.dumps({k: round(v, 4) for k, v in r.items()}))
    else:
        metrics, units_of = e2e, {**COMMON_E2E, **kind.e2e_units}
    shutil.rmtree(run_dir, ignore_errors=True)
    for k, v in metrics.items():
        log(f"  {k:36s} {v:14.6f} {units_of[k]}")
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import slog_agent_spark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: the slog_agent_spark package is not importable from {ROOT}: {e}")
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
