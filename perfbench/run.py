"""Record-linkage benchmark: one workload per invocation.

    python3 perfbench/run.py --workload er_clones --seed 42 --seconds 8 --trace 0

Runs closed-loop in one Spark driver process (local[nproc], one job at a
time):

1. start the Spark session (box-fit settings from harness.session_settings);
2. generate the workload's inputs from --seed (cached per seed);
3. run one untimed warm-up repetition on the tiny inputs (Python-worker
   start and JIT land here), then load and cache the inputs once;
   setup_s = session start + the warm-up + the load;
4. repeat the workload until --seconds have passed and at least
   MIN_REPS repetitions ran, checking every repetition's output checksum
   against the first; wall_s is the median repetition;
5. check the final output (structure, oracle or quality floor, and the
   recorded seed-42 checksums) and compute ARI / pairwise F1;
6. with --trace 1, run one more repetition under spans and report the
   per-layer metrics from the spans and the Spark event log.

The last stdout line is the JSON result; the line before it (prefixed
"# run ") is the run record: settings, every repetition's time,
checksums, and load average, CPU calibration and hypervisor steal time
before and after the run.
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

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

MIN_REPS = 2
EXPECTED = Path(__file__).resolve().parent / "expected.json"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                   help="input size; tiny is the smoke test's")
    return p.parse_args(argv)


def load_program():
    """Import the program under test; exit non-zero when it is absent."""
    harness.prepare_process_env()
    try:
        import pyspark  # noqa: F401

        import record_matching_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        sys.exit(2)


def main(argv=None) -> int:
    args = parse_args(argv)
    load_program()
    from record_matching_spark.session import get_spark

    import eventlog
    import workloads
    from spans import NoTrace, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "scale": args.scale, "before": harness.contention_probe()}
    evdir = harness.clean_dir(harness.WORK / "eventlog") if args.trace else None
    settings = harness.session_settings(evdir)
    record["settings"] = {k: settings[k] for k in ("master", "driver_memory")}
    print(f"perfbench: session {json.dumps(settings)}", flush=True)

    t0 = time.monotonic()
    spark = get_spark(**settings)
    start_s = time.monotonic() - t0
    cls = workloads.WORKLOADS[args.workload]
    w = cls(spark, args.seed, args.scale)
    warm = cls(spark, args.seed, "tiny")
    t0 = time.monotonic()
    path, warm_path = w.generate(), warm.generate()
    record["generate_s"] = time.monotonic() - t0

    # warm-up on the smoke test's tiny inputs: Python-worker start, class
    # loading and code generation land here. A full-size pass makes the
    # first timed er_forks_staged repetition as fast as the second, but
    # costs about 6 s more on every run, which the run budget cannot carry
    t0 = time.monotonic()
    warm.load(warm_path)
    warm.prepare(0)
    warm.run(NoTrace(), 0)
    spark.catalog.clearCache()
    warm_s = time.monotonic() - t0
    t0 = time.monotonic()
    n_records = w.load(path)
    load_s = time.monotonic() - t0
    record["session_start_s"] = start_s
    record["load_s"] = load_s
    record["warmup_s"] = warm_s
    record["records"] = n_records

    reps, failed, first, last = [], 0, None, None
    deadline = time.monotonic() + args.seconds
    with harness.RssSampler() as rss:
        rss.reset()
        while True:
            rep = len(reps) + 1
            w.prepare(rep)
            t0 = time.monotonic()
            try:
                out = w.run(NoTrace(), rep)
            except Exception:  # a failed repetition is counted, never dropped
                traceback.print_exc()
                reps.append({"wall_s": time.monotonic() - t0, "error": True})
                failed += 1
            else:
                wall = time.monotonic() - t0
                first = first or out.checksums
                probs = [p for p in out.problems if p]
                ok = not probs and out.checksums == first
                reps.append({"wall_s": wall, "checksums": out.checksums,
                             "problems": probs, "ok": ok})
                failed += not ok
                last = out
            if len(reps) >= MIN_REPS and time.monotonic() >= deadline:
                break
        peak_rss = rss.peak_mb

    checks = {"rep_checksums": "" if failed == 0 else f"{failed} repetitions failed"}
    quality = {}
    if last is not None:
        checks.update(w.check(last, n_records))
        quality = w.evaluate(last)
        if args.workload.startswith("er_"):
            low = {k: v for k, v in quality.items() if v < workloads.ER_QUALITY_FLOOR}
            checks["quality_floor"] = f"{low} below {workloads.ER_QUALITY_FLOOR}" if low else ""
        if args.seed == 42:
            checks["recorded_seed42"] = check_recorded(args, n_records, last.checksums)
    problems = [f"{k}: {v}" for k, v in checks.items() if v]
    if problems:
        failed = len(reps)
    record["reps"] = reps
    record["checks"] = {k: v or "ok" for k, v in checks.items()}

    ok_walls = [r["wall_s"] for r in reps if r.get("ok")] or [r["wall_s"] for r in reps]
    wall_s = statistics.median(ok_walls)
    if args.trace:
        tracer = Tracer(spark, f"{args.workload}-{args.seed}")
        w.prepare(len(reps) + 1)
        t0 = time.monotonic()
        out = w.run(tracer, len(reps) + 1)
        traced_wall = time.monotonic() - t0
        spark.sparkContext.setJobDescription("counters")
        counts = w.counters(out)
        if hasattr(w, "probes"):
            counts.update(w.probes(tracer))
        counts = {name: counts.get(name, 0) for name in workloads.COUNT_METRICS}
        harness.stop_descendants()
        tracer.dump(harness.WORK / "spans.jsonl")
        metrics = eventlog.layer_metrics(tracer, evdir, harness.cores(), counts)
        metrics["trace_overhead_s"] = (traced_wall - wall_s, "s")
        metrics["session.start_s"] = (start_s, "s")
    else:
        harness.stop_descendants()
        metrics = {
            "wall_s": (wall_s, "s"),
            "records_per_s": (n_records / wall_s, "1/s"),
            "setup_s": (start_s + load_s + warm_s, "s"),
            "peak_rss_mb": (peak_rss, "MB"),
            "ari": (quality.get("ari", 0.0), "ratio"),
            "pairwise_f1": (quality.get("pairwise_f1", 0.0), "ratio"),
        }
    record["after"] = harness.contention_probe()
    print("# run " + json.dumps(record), flush=True)
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": len(reps),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def check_recorded(args, n_records: int, checksums: dict) -> str:
    """Seed 42's outputs must equal the recorded answer."""
    want = json.loads(EXPECTED.read_text()).get(args.scale, {}).get(args.workload)
    got = {"records": n_records, "checksums": checksums}
    if want is None:
        return f"no recorded answer for {args.workload} at scale {args.scale}"
    return "" if got == want else f"got {got}, recorded {want}"


if __name__ == "__main__":
    os.chdir(harness.ROOT)
    harness.become_subreaper()
    # a SIGTERM (e.g. a caller's timeout) unwinds through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = main()
    finally:  # on every way out, including an exception or sys.exit
        harness.stop_descendants()
    sys.exit(code)
