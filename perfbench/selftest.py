"""Steadiness self-test: two traced runs of one seed must give identical
counts (records, bytes, calls, and each op's jobs); task counts, which
AQE derives from runtime sizes, must agree within TASK_TOLERANCE.
s08's ANN-store access was seen to launch 24 or 25 jobs for one seed,
so its job count may differ by JOB_SLACK.

    python3 perfbench/selftest.py [--seed 7] [--workload warc_etl ...]

Exits 1 and names every count that differs.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # nothing written into the benchmark's own dir

import build  # noqa: E402

TASK_TOLERANCE = 0.10
JOB_SLACK = {"s08_ann_ivfpq": 1}
EXACT = {
    "warc_etl": ["scan.records", "scan.bytes", "scan.splits", "gunzip.calls",
                 "gunzip.corrupt", "html.calls", "html.bytes",
                 "html.oversize_skipped", "html.repaired_share", "url.links",
                 "filter.kept_share", "rake.calls", "rake.words", "sink.records",
                 "sink.bytes_out", "spark.shuffle_write_mb"],
    "session": ["gate.docs", "gate.kept_share", "dedup.candidates",
                "dedup.confirmed", "dedup.containment_pairs", "cc.jobs",
                "cc.components", "drill.kept_docs"],
}


def traced(workload, seed):
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                    workload, "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                   check=True, stdout=subprocess.DEVNULL, cwd=build.ROOT)
    path = os.path.join(build.BUILD, "results", f"{workload}-{seed}-trace1.json")
    with open(path) as f:
        return json.load(f)


def per_op(result):
    """(jobs, tasks) per op name over the traced loop's first round."""
    rows = {}
    for op_id, row in result["op_layer"].items():
        rows.setdefault(op_id.split("#")[0], (row["jobs"], row["tasks"]))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workload", nargs="*", default=list(EXACT))
    args = ap.parse_args()
    bad = []
    for w in args.workload:
        a, b = traced(w, args.seed), traced(w, args.seed)
        for k in EXACT[w]:
            if a["layers"][k] != b["layers"][k]:
                bad.append(f"{w} {k}: {a['layers'][k]} != {b['layers'][k]}")
        ops_a, ops_b = per_op(a), per_op(b)
        for op, (jobs, tasks) in ops_a.items():
            jobs_b, tasks_b = ops_b[op]
            if abs(jobs - jobs_b) > JOB_SLACK.get(op, 0):
                bad.append(f"{w} {op} jobs: {jobs} != {jobs_b}")
            if abs(tasks - tasks_b) > TASK_TOLERANCE * max(tasks, tasks_b):
                bad.append(f"{w} {op} tasks: {tasks} vs {tasks_b} beyond {TASK_TOLERANCE:.0%}")
        print(f"{w}: compared {len(EXACT[w])} layer counts and jobs/tasks of {len(ops_a)} ops")
    for line in bad:
        print("MISMATCH " + line)
    print("selftest " + ("FAILED" if bad else "passed"))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
