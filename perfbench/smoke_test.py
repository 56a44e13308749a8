#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on the small sf0.001 fixture.

    python3 perfbench/smoke_test.py

For each workload it runs one untraced pass and one traced run (three
passes: untraced, traced, untraced) and checks that every metric
BENCHMARK.json names is printed with its unit, that every op passed its
correctness check, and that each layer the workload uses was measured:
its metrics are not 0 (`USED` below follows the layer map in README.md).
It then corrupts the reference of one scan query and checks that the
correctness gate fails. Takes a few minutes; exits non-zero on the first
failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


# Per-layer metrics that must be nonzero on a workload, because it uses
# the layer: a name, or a prefix ending in ".".
EVERY = ["session.start_s", "session.warm_s", "spark.plan.", "spark.sched.", "spark.exec.task_run_s",
         "spark.exec.task_cpu_s", "spark.exec.core_util", "trace.self.op_s", "trace.self.stage_s",
         "functions.kernel.", "host.spin_mops", "query_p50_s", "query_p90_s"]
USED = {
    "scan": EVERY + ["session.stage_s", "queries.op.", "spark.scan.", "metrics.planner.", "metrics.ranged."],
    "pipeline": EVERY + ["operators.op.", "spark.exec.shuffle_write_mb", "spark.exec.shuffle_read_mb"],
    "index_serve": EVERY + ["session.stage_s", "sources.layouts.", "operators.probe.", "lifecycle_s", "space_amp",
                            "serve_p50_s", "serve_p75_s", "streaming.triggers", "streaming.start_s",
                            "streaming.add_batch_ms"],
}
# Per-layer metrics that may read 0 on every workload of a correct run:
# nothing failed, nothing spilled, a quiet host, or a phase shorter than
# the 1 ms its clock resolves.
MAY_BE_ZERO = {"failed_frac", "spark.exec.spill_mb", "spark.exec.gc_s", "trace.self.plan_s", "trace.self.job_s",
               "trace.overhead_frac", "host.steal_pct", "host.other_cores", "streaming.queue_s",
               "streaming.gen_lag_max_s", "streaming.latest_offset_ms", "streaming.get_batch_ms",
               "streaming.query_planning_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms"}


def used(name, workload):
    return any(name == u or (u.endswith(".") and name.startswith(u)) for u in USED[workload])


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", str(trace), "--scale", "0.001", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}"
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    return out


def main():
    unclassified = [m["name"] for m in SPEC["per_layer"]
                    if m["name"] not in MAY_BE_ZERO and not any(used(m["name"], w) for w in USED)]
    assert not unclassified, f"per-layer metrics no workload is checked to measure: {unclassified}"
    for w in SPEC["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
            assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0, out
            if trace:
                zero = [k for k, v in out["metrics"].items() if used(k, w["name"]) and v["value"] == 0]
                assert not zero, f"{w['name']}: layers it uses read 0: {zero}"
            print(f"ok   {w['name']} trace={trace}: {len(got)} metrics, {out['attempted']} ops correct")
    out = run("scan", 0, "--corrupt-reference", "q01_filter_agg")
    assert not out["correct"] and out["failed"] >= 1, out
    print(f"ok   corrupted q01_filter_agg reference: {out['failed']} failed op(s) reported")


if __name__ == "__main__":
    main()
