"""Spark event-log reader for the traced run.

Every Spark job launched in the traced repetition carries its span's label
(``setJobDescription``). Jobs are grouped into timed units, one per SQL
execution (else one per job), and each unit is attributed to exactly one
layer, so the layers partition the traced repetition:

1. ``minhash`` if the unit's physical plan runs the signature UDF (the
   job that computes signatures, whichever call launched it);
2. else the layer of the innermost program function at the unit's Python
   call site, when that function is a layer entry point
   (CALL_SITE_LAYERS). PySpark records call sites for collect-style
   actions only; writes and checkpoints carry none;
3. else the layer of its span (a pipeline stage span belongs to the layer
   that stage runs, STAGE_LAYERS).

Per layer: busy_s is span self time with the units attributed elsewhere
moved to their layer; task_s, shuffle_write_mb, shuffle_read_mb, spill_mb,
gc_s and tasks_failed sum the task-end events of the layer's units;
task_skew is max over median task time in the layer's slowest stage;
core_util is task_s / (busy_s x cores).
"""

from __future__ import annotations

import ast
import json
import re
import statistics
from collections import defaultdict
from functools import lru_cache
from pathlib import Path

MB = float(1 << 20)

# program function at a job's call site -> layer it belongs to
CALL_SITE_LAYERS = {
    "normalize_files": "normalize",
    "sha_features": "sha_features",
    "blocking_keys": "blocking_keys",
    "candidate_pairs": "candidate_pairs",
    "pair_features": "pair_features",
    "score_pairs": "score_pairs",
    "minhash_near_dup_pairs": "near_dup",
    "connected_components": "cluster",
    "cluster_assignments": "cluster",
    "input_fingerprint": "pipeline",
    "_write_stage": "pipeline",
}
# Pipeline stage span -> the layer that stage runs
STAGE_LAYERS = {
    "pipeline.s1": "normalize", "pipeline.s2": "sha_features",
    "pipeline.s3": "blocking_keys", "pipeline.s4": "candidate_pairs",
    "pipeline.s5": "pair_features", "pipeline.s6": "score_pairs",
    "pipeline.s7": "cluster", "pipeline.resume": "pipeline",
}
SIGNATURE_UDF = "minhash_udf"
# spans that collect extra counts after the traced chain; not a layer
PROBE = "probe."
LAYERS = ["normalize", "sha_features", "minhash", "blocking_keys",
          "candidate_pairs", "pair_features", "score_pairs", "near_dup",
          "cluster", "pipeline"]
COUNTERS = ["task_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
            "gc_s", "tasks_failed", "task_skew", "core_util"]
UNITS = {"task_s": "s", "gc_s": "s", "tasks_failed": "count",
         "task_skew": "ratio", "core_util": "ratio"}
_CALL_SITE = re.compile(r" at (\S+\.py):(\d+)")


@lru_cache(maxsize=None)
def _functions(path: str) -> list[tuple[int, int, str]]:
    """(first line, last line, name) of every function and method."""
    try:
        tree = ast.parse(Path(path).read_text())
    except (OSError, SyntaxError):
        return []
    return sorted((n.lineno, n.end_lineno, n.name) for n in ast.walk(tree)
                  if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)))


def call_site_function(call_site: str) -> str | None:
    """Innermost program function enclosing a PySpark call site
    ('<action> at <file>:<line>'), or None outside the program."""
    m = _CALL_SITE.search(call_site or "")
    if not m or "record_matching_spark" not in m.group(1):
        return None
    line, best = int(m.group(2)), None
    for lo, hi, name in _functions(m.group(1)):
        if lo <= line <= hi and (best is None or lo >= best[0]):
            best = (lo, name)
    return best and best[1]


def read_events(evdir: Path) -> list[dict]:
    """All events under evdir; Spark 4 writes rolling logs as
    eventlog_v2_<app>/events_<n>_<app>."""
    files = sorted(evdir.rglob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    out = []
    for p in files:
        with open(p) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def units(events: list[dict]) -> dict:
    """Jobs grouped into timed units (one per SQL execution, else one per
    job): span label, call site, JVM action, plan text, interval, tasks."""
    execs: dict = {}
    for e in events:
        if e["Event"].endswith("SparkListenerSQLExecutionStart"):
            execs[e["executionId"]] = {
                "plan": e.get("physicalPlanDescription", ""),
                "action": e.get("details", "").split("\n", 1)[0],
                "start": e["time"] / 1000.0}
        elif e["Event"].endswith("SparkListenerSQLExecutionEnd"):
            execs[e["executionId"]]["end"] = e["time"] / 1000.0
    out: dict = {}
    job_unit, stage_unit = {}, {}
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        props = e.get("Properties") or {}
        xid = props.get("spark.sql.execution.root.id") or props.get("spark.sql.execution.id")
        key = ("x", int(xid)) if xid is not None else ("j", e["Job ID"])
        x = execs.get(int(xid), {}) if xid is not None else {}
        u = out.setdefault(key, {
            "label": props.get("spark.job.description"),
            "call_site": props.get("callSite.short", ""),
            "plan": x.get("plan", ""), "action": x.get("action", ""),
            "start": x.get("start", e["Submission Time"] / 1000.0),
            "end": x.get("end", 0.0), "tasks": defaultdict(list)})
        u["start"] = min(u["start"], e["Submission Time"] / 1000.0)
        job_unit[e["Job ID"]] = key
        for sid in e["Stage IDs"]:
            stage_unit[sid] = key
    for e in events:
        if e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in job_unit:
            u = out[job_unit[e["Job ID"]]]
            u["end"] = max(u["end"], e["Completion Time"] / 1000.0)
        elif e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_unit:
            out[stage_unit[e["Stage ID"]]]["tasks"][e["Stage ID"]].append(e)
    return out


def task_totals(tasks_by_stage: dict) -> tuple[dict, float]:
    """Summed task counters of one unit, and its slowest stage's span (ms)
    with that stage's skew in t["task_skew"]."""
    t = dict.fromkeys(COUNTERS, 0.0)
    slowest = -1.0
    for tasks in tasks_by_stage.values():
        durs = []
        for e in tasks:
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            durs.append(info["Finish Time"] - info["Launch Time"])
            t["tasks_failed"] += bool(info.get("Failed"))
            t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        if durs and max(durs) > slowest:
            slowest = max(durs)
            med = statistics.median(durs)
            t["task_skew"] = slowest / med if med > 0 else 1.0
    return t, slowest


def layer_metrics(tracer, evdir: Path, cores: int, counts: dict) -> dict:
    """Per-layer metrics {name: (value, unit)} of the traced repetition;
    `counts` (row counts taken after it) are merged in."""
    spans = {s["id"]: s for s in tracer.spans}
    label_span = {f"{tracer.run_id}#{sid}": sid for sid in spans}
    self_t = tracer.self_times()
    busy: dict = defaultdict(float)
    for sid, t in self_t.items():
        name = spans[sid]["name"]
        if not name.startswith(PROBE):
            busy[STAGE_LAYERS.get(name, name)] += t
    totals: dict = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    slowest: dict = defaultdict(lambda: -1.0)
    checkpoints = 0
    input_fp_s = 0.0
    for u in units(read_events(evdir)).values():
        sid = label_span.get(u["label"])
        if sid is None or spans[sid]["name"].startswith(PROBE):
            continue  # untraced repetitions, set-up, counters and probes
        home = STAGE_LAYERS.get(spans[sid]["name"], spans[sid]["name"])
        fn = call_site_function(u["call_site"])
        layer = ("minhash" if SIGNATURE_UDF in u["plan"]
                 else CALL_SITE_LAYERS.get(fn, home))
        dur = max(0.0, u["end"] - u["start"])
        if layer != home:
            busy[home] -= dur
            busy[layer] += dur
        if fn == "input_fingerprint":
            input_fp_s += dur
        if layer == "cluster" and "localCheckpoint" in u["action"]:
            checkpoints += 1
        t, stage_ms = task_totals(u["tasks"])
        for c in COUNTERS[:6]:
            totals[layer][c] += t[c]
        if stage_ms > slowest[layer]:
            slowest[layer] = stage_ms
            totals[layer]["task_skew"] = t["task_skew"]

    out: dict = {}
    for layer in LAYERS:
        tot, b = totals[layer], busy.get(layer, 0.0)
        tot["core_util"] = tot["task_s"] / (b * cores) if b > 0 else 0.0
        out[f"{layer}.busy_s"] = (b, "s")
        for c in COUNTERS:
            out[f"{layer}.{c}"] = (tot[c], UNITS.get(c, "MB"))
    stage_t = defaultdict(float)
    for sid, t in self_t.items():
        stage_t[spans[sid]["name"]] += t
    for i in range(1, 8):
        out[f"pipeline.s{i}.busy_s"] = (stage_t[f"pipeline.s{i}"], "s")
    out["pipeline.resume_s"] = (stage_t["pipeline.resume"], "s")
    out["pipeline.input_fp_s"] = (input_fp_s, "s")
    # one checkpoint canonicalizes the input edges, one closes each round
    out["cluster.rounds"] = (max(0, checkpoints - 1), "count")
    for name, v in counts.items():
        out[name] = (v, "MB" if name.endswith("_mb") else "count")
    out.update(ratios(out))
    return out


def ratios(m: dict) -> dict:
    def div(a: str, b: str) -> float:
        den = m.get(b, (0, ""))[0]
        return m.get(a, (0, ""))[0] / den if den else 0.0

    return {
        "pair_features.pairs_per_s": (
            div("pair_features.pairs_in", "pair_features.busy_s"), "1/s"),
        "candidate_pairs.useful_ratio": (
            div("candidate_pairs.pairs_out", "candidate_pairs.raw_pairs"), "ratio"),
        "near_dup.verify_ratio": (
            div("near_dup.verified_out", "near_dup.candidates"), "ratio"),
    }
