"""Workload benchmark for the graft engine.

    python3 perfbench/run.py --workload warc_etl --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the engine and the benchmark from
source on first use (perfbench/build.py), generates the workload's inputs
from the seed (cached per seed), runs one JVM at local[<nproc>], checks
every output, prints a report and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
The traced report also prints every workload-specific layer number.

Workloads (one closed-loop client each):
  warc_etl  Pipeline.run(glob -> avro) over seeded WARC archives.
  session   a seeded order of registry operations on one warm session
            over the sf 0.01 test tables in perfbench/data/sf0.01.

Everything is written under .bench_build/ in the working directory; the
run's own temp root is removed when it ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # nothing written into the benchmark's own dir

import build  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
# The JVM starts no op after BUDGET_S (from its start) and reports what it
# measured; an op started before then ends by BUDGET_S + 15 s (Main's
# OverrunS). JVM_KILL_S is the hard stop; tools/check.py runs after it.
BUDGET_S = 130
JVM_KILL_S = 160
SESSION_TABLES = os.path.join(BENCH, "data", "sf0.01")
HEAP = "4g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Layers of perfbench/README.md's table a workload's traced run does not reach.
ABSENT = {
    "warc_etl": "gate.*, dedup.*, cc.*, shard.*, provenance.*, card.* "
                "(Pipeline.run calls no text, dedup or shard code; the "
                "session's traced run measures them)",
    "session": "scan/filter/gunzip/headers/ga/html/url/rake/sink.* (the "
               "session reaches the WARC chain only inside w08's one plan, "
               "so it cannot be timed call by call)",
}


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def inputs_for(workload, seed):
    """Return (input dir, input properties). warc_etl's archives are
    generated once per seed and generator version; the session reads the
    committed test tables, so its seed picks only the op order."""
    if workload == "session":
        files = sorted(os.listdir(SESSION_TABLES))
        size = sum(os.path.getsize(os.path.join(SESSION_TABLES, f)) for f in files)
        return SESSION_TABLES, {"tables": os.path.relpath(SESSION_TABLES, ROOT),
                                "files": len(files), "mb": round(size / 1048576, 3)}
    with open(os.path.join(BENCH, "gen_warc.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{version}")
    done = os.path.join(d, "props.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        import gen_warc
        truth, props = gen_warc.generate(seed, os.path.join(d, "warc"))
        with open(os.path.join(d, "truth.json"), "w") as f:
            json.dump(truth, f)
        with open(done, "w") as f:
            json.dump(props, f)
    with open(done) as f:
        return d, json.load(f)


def run_jvm(classes, args, input_dir, work):
    jars = os.path.join(build.spark_jars(), "*")
    cp = os.pathsep.join([classes, build.RESOURCES, jars])
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--input", input_dir, "--work", os.path.join(work, "w"),
              "--out", out, "--budget", str(BUDGET_S)])
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
               SPARK_LOCAL_DIRS=os.path.join(work, "w", "local"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=work)
        try:
            code = proc.wait(timeout=JVM_KILL_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise SystemExit(f"perfbench: JVM ended with {code}\n{tail}")
    with open(out) as f:
        return json.load(f)


def check_oracles(r, tables):
    """Compare each op's saved first result with its DuckDB oracle by
    tools/check.py; each FAIL line counts as a failed op."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        tables, r["oracle_dir"]], capture_output=True, text=True,
                       env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
    lines = p.stdout.splitlines()
    bad = [line[len("FAIL "):] for line in lines if line.startswith("FAIL ")]
    if p.returncode not in (0, 1) or (p.returncode == 1) != bool(bad):
        bad.append(f"tools/check.py exited {p.returncode}: {p.stderr[-500:]}")
    r["oracle_ops"] = sum(line.startswith(("PASS ", "FAIL ")) for line in lines)
    r["failed"] += len(bad)
    r["failures"] += [f"oracle {b}" for b in bad]


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["warc_etl", "session"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    overrides = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if overrides:
        raise SystemExit(f"perfbench: refusing to run with engine overrides set: {overrides}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build()
    input_dir, props = inputs_for(args.workload, args.seed)

    work = os.path.join(BUILD, "tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = run_jvm(classes, args, input_dir, work)
        if args.workload == "session":
            check_oracles(r, input_dir)
        if args.trace:
            spans = os.path.join(work, "w", "spans.jsonl")
            keep = os.path.join(BUILD, f"spans-{args.workload}-{args.seed}.jsonl")
            shutil.copyfile(spans, keep)
            r["span_file"] = os.path.relpath(keep, ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(r, f, indent=1)

    attempted, failed = r["attempted"], r["failed"]
    print(f"perfbench {args.workload} seed={args.seed} master={r['master']} "
          f"load1 start={r['load_start']:.2f} end={r['load_end']:.2f}")
    print("input: " + json.dumps(props, sort_keys=True))
    print(f"input_mb: {r['input_mb']:.3f} MB")
    print(f"fail_share: {failed / attempted:.4f} ({failed}/{attempted} ops)")
    if "oracle_ops" in r:
        print(f"oracle: {r['oracle_ops']} op results compared with DuckDB")
    for msg in r["failures"] + r.get("check_mismatches", []):
        print(f"  FAILED {msg}")
    print(f"setup_s: {r['setup_s']:.3f} s (session start {r['session_start_s']:.3f} s)")
    if "warm_up_runs_s" in r:
        print("warm-up runs: " + ", ".join(f"{v:.2f}s" for v in r["warm_up_runs_s"]))
    if "setup_ops" in r:
        print("setup ops: " + ", ".join(f"{k} {v:.2f}s" for k, v in r["setup_ops"].items()))
    print(f"loop_s: {r['loop_s']:.3f} s, ops: " +
          ", ".join(f"{o['name']} {o['s']:.2f}s" for o in r["ops"]))
    print(f"op_p50_s: {fmt(r['op_p50_s'])} s  ops_per_s: {fmt(r['ops_per_s'])} 1/s")
    if r.get("budget_cut"):
        print(f"budget: the run's {BUDGET_S} s were spent before the loop ended; "
              "the metrics cover the ops that ran")
    print(f"read_p50_s: {fmt(r['read_p50_s'])} s (n={r['read_samples']})  "
          f"write_p50_s: {fmt(r['write_p50_s'])} s (n={r['write_samples']})")
    if args.workload == "warc_etl" and r["op_p50_s"]:
        print(f"input_mb_per_s: {r['input_mb'] * r['ops_per_s']:.6g} MB/s "
              f"({r['input_mb']:.3f} MB of WARC per run)")
        print(f"docs_per_s: {r['survivors'] / r['op_p50_s']:.6g} docs/s "
              f"({r['survivors']} surviving records per run)")
    print(f"heap_live_mb: {r['heap_live_mb']:.3f} MB")
    if args.trace:
        layers = r["layers"]
        print(f"trace: {r['span_count']} spans in {r['span_file']}; overhead "
              f"{layers['trace.overhead_share']:+.3f} of untraced op_p50_s")
        for k in sorted(layers):
            print(f"  layer {k}: {fmt(layers[k])}")
        for op, row in r["op_layer"].items():
            print(f"  op {op}: " + " ".join(f"{k}={fmt(v)}" for k, v in row.items()))
        for k, v in sorted(r["span_self_s"].items()):
            print(f"  self_s {k}: {v:.6g}")
        print(f"  absent on this workload: {ABSENT[args.workload]}")

    group = "per_layer" if args.trace else "end_to_end"
    source = r["layers"] if args.trace else r
    # a metric with no successful op is NaN, which JSON cannot carry
    metrics = {m["name"]: {"value": source[m["name"]] if source[m["name"]] == source[m["name"]]
                           else None, "unit": m["unit"]}
               for m in spec[group]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
