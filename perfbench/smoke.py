"""Smoke test of the benchmark at tiny sizes.

    python3 perfbench/smoke.py [workload ...]     (default: all four)

For every workload, runs ``run.py --scale tiny --seed 42`` untraced and
traced, and asserts that:

- the run exits 0 and its last stdout line is the result object, correct,
  with no failed repetition;
- untraced, it prints exactly BENCHMARK.json's end_to_end metrics, traced
  exactly its per_layer metrics, each with the listed unit;
- every output check of the workload ran and passed (the run record's
  "checks");
- no process the run started outlives it (the smoke test is the reaper
  of orphans, so a JVM or Python worker left behind shows up as its
  descendant).

It also checks, on a small random clustering, that the contingency-table
pairwise F1 the benchmark reports equals operators.evaluate's
pairwise_metrics over the expanded within-cluster pairs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402

SPEC = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
CHECKS = {
    "er_clones": {"rep_checksums", "structure", "quality_floor", "recorded_seed42"},
    "er_forks_staged": {"rep_checksums", "structure", "resumed_equals_fresh",
                        "quality_floor", "recorded_seed42"},
    "near_dup_docs": {"rep_checksums", "structure", "oracle_pairs",
                      "oracle_clusters", "recorded_seed42"},
    "cc_chains": {"rep_checksums", "structure", "oracle_clusters", "recorded_seed42"},
}


def run(workload: str, trace: int) -> None:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "42", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=harness.ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    harness._reap()
    left = harness._descendants(os.getpid())
    assert not left, f"{cmd} left processes running: {left}"
    lines = p.stdout.strip().splitlines()
    result, record = json.loads(lines[-1]), json.loads(lines[-2][len("# run "):])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, (
        result, record["checks"])
    want = SPEC["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}, (
        set(got) ^ {m["name"] for m in want})
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float)), got[m["name"]]
    assert set(record["checks"]) == CHECKS[workload], record["checks"]
    assert all(v == "ok" for v in record["checks"].values()), record["checks"]
    print(f"ok  {workload} trace={trace}: {len(got)} metrics, "
          f"checks {sorted(record['checks'])}", flush=True)


def f1_matches_evaluate() -> None:
    import random

    harness.prepare_process_env()
    from pyspark.sql import functions as F

    from record_matching_spark.operators.evaluate import clusters_to_pairs, pairwise_metrics
    from record_matching_spark.session import get_spark
    from workloads import quality

    spark = get_spark(**harness.session_settings())
    try:
        rng = random.Random(7)
        rows = [(i, rng.randrange(40), rng.randrange(30)) for i in range(400)]
        df = spark.createDataFrame(rows, "id long, pred long, truth long")
        got = quality(df, df, "id", "pred", "truth")["pairwise_f1"]
        want = pairwise_metrics(
            clusters_to_pairs(df.select("id", F.col("pred").alias("cluster_id")), "id"),
            clusters_to_pairs(df.select("id", F.col("truth").alias("cluster_id")), "id"),
        )["f1"]
        assert abs(got - want) < 1e-12, (got, want)
        print(f"ok  contingency F1 {got:.6f} == evaluate.pairwise_metrics", flush=True)
    finally:
        harness.stop_descendants()


def main(argv: list[str]) -> int:
    harness.become_subreaper()
    f1_matches_evaluate()
    for workload in argv or list(CHECKS):
        for trace in (0, 1):
            run(workload, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
