#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds graft and the
benchmark with sbt, generates the fixture tables and computes the DuckDB
references; later runs reuse them. All state lives under `.perfbench/`
in the checkout. The last line of stdout is one JSON object with the
keys `correct`, `attempted`, `failed` and `metrics`; with `--trace 0` the
metrics are BENCHMARK.json's `end_to_end` list, with `--trace 1` its
`per_layer` list. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

SCALE = 0.005  # fixture scale factor: 30k lineitem rows, 500 documents
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s", 4)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile graft and the benchmark once per source tree; return the classpath."""
    key = tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                     os.path.join(ROOT, "project", "build.properties"),
                     os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")])
    cp_file = os.path.join(STATE, f"classpath-{key}.txt")
    if not os.path.exists(cp_file):
        os.makedirs(STATE, exist_ok=True)
        log = os.path.join(STATE, "build.log")
        with open(log, "w") as out:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           BUILD_TIMEOUT_S, cwd=HERE, stdout=out, stderr=subprocess.STDOUT)
        lines = open(log).read().splitlines()
        cp = [l for l in lines if ":" in l and not l.startswith("[") and ".jar" in l]
        if rc != 0 or not cp:
            fail(f"build failed (see {log})", 3)
        with open(cp_file + ".tmp", "w") as f:
            f.write(cp[-1].strip())
        os.replace(cp_file + ".tmp", cp_file)
    return open(cp_file).read().strip(), key


def fixture(scale):
    import fixture as fx
    d = os.path.join(STATE, f"fixture-sf{scale}-v{fx.VERSION}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        fx.generate(tmp, scale)
        os.replace(tmp, d)
    return d


def java(cp, args, work, log, timeout):
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           *ADD_OPENS, "-cp", cp, "perfbench.Main", *args]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, GRAFT_SCRATCH_DIR=f"{work}/scratch", SPARK_LOCAL_DIRS=f"{work}/spark-local")
    with open(log, "w") as out:
        return run_group(cmd, timeout, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)


def references(cp, key, fx_dir):
    """DuckDB results of every catalog query the workloads run, per build and fixture."""
    import oracle
    d = os.path.join(STATE, f"golden-{key}-{os.path.basename(fx_dir)}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if java(cp, ["oracle", f"{tmp}/oracle_sql.json"], tmp, f"{tmp}/jvm.log", JVM_TIMEOUT_S) != 0:
            fail(f"oracle SQL dump failed (see {tmp}/jvm.log)", 3)
        oracle.catalog(fx_dir, f"{tmp}/oracle_sql.json", tmp)
        os.replace(tmp, d)
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["scan", "pipeline", "index_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help="fixture scale factor")
    ap.add_argument("--corrupt-reference", metavar="QUERY",
                    help="alter this query's reference first (the smoke test's gate check)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}; run from a full checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp, key = build()
    fx_dir = fixture(a.scale)
    golden = references(cp, key, fx_dir)
    import oracle
    tiers = oracle.tiers(fx_dir, a.seed)

    runs = os.path.join(STATE, "runs")
    work = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.corrupt_reference:
        bad = os.path.join(work, "golden")
        shutil.copytree(golden, bad)
        p = os.path.join(bad, f"{a.corrupt_reference}.json")
        ref = json.load(open(p))
        ref["rows"] = ref["rows"][1:] if ref["rows"] else [[None] * len(ref["cols"])]
        json.dump(ref, open(p, "w"))
        golden = bad
    traces = os.path.join(STATE, "traces")
    os.makedirs(traces, exist_ok=True)
    cfg = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": bool(a.trace),
        "fixture": fx_dir, "work": work, "golden": golden,
        "result": os.path.join(work, "result.json"),
        "spans": os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"),
        "tiers": tiers,
    }
    json.dump(cfg, open(os.path.join(work, "config.json"), "w"))
    log = os.path.join(STATE, f"last-{a.workload}.log")
    try:
        rc = java(cp, [os.path.join(work, "config.json")], work, log, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(cfg["result"]):
            fail(f"benchmark JVM exited with {rc} (see {log})", 3)
        res = json.load(open(cfg["result"]))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            fail(f"metric {m['name']} missing or not in {m['unit']}: {got}", 5)
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    for k, v in res.get("info", {}).items():
        print(f"# {k}: {v}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
