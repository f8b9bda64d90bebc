#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload spatial_ops --seed 1 --seconds 10 --trace 0

Builds the engine plus the benchmark (perfbench/build.py), generates the
seeded inputs, runs the workload's ops in one `local[4]` JVM as a closed
loop for `--seconds`, checks every op's output untimed, and prints the
metrics: a readable table, then one JSON line as the last line of stdout.
`--trace 1` adds per-layer spans and reports the per-layer metrics named
in BENCHMARK.json instead of the end-to-end ones.

Everything it writes stays under `.bench_build/` in the checkout.
"""
import argparse
import json
import time
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("osm_spatial", "image_corpus")
# seeded test-table sizes: (lineitem, orders, part) and (documents, embeddings)
TABLES = {"osm_spatial": {"geo": (60000, 15000, 2000)},
          "image_corpus": {"corpus": (500, 500)}}
JVM_TIMEOUT_S = 155
ORACLE_TIMEOUT_S = 20
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Xss8m", "-XX:-UsePerfData"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def start_oracle(tables_dir, check_dir):
    """Start the repo's oracle gate (scripts/check_oracle.py) over the
    outputs listed in `check_dir/oracle_sql.json`."""
    return subprocess.Popen([sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"),
                             tables_dir, check_dir],
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)


def oracle_failures(proc):
    """Wait for the oracle gate; return {output: error}."""
    try:
        stdout, _ = proc.communicate(timeout=ORACLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        return {"check_oracle": "timeout"}
    bad = {}
    for line in stdout.splitlines():
        name, sep, msg = line.partition(": ")
        if sep and name != "FAILS" and not msg.startswith("OK"):
            bad[name] = msg
    if proc.returncode != 0 and not bad:
        bad["check_oracle"] = f"exit {proc.returncode}: {stdout[-500:]}"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    t0 = time.time()
    classes = build.build()
    base = build.build_dir()
    data = os.path.join(base, "data")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if args.workload in TABLES:
        import gen
        gen.ensure(os.path.join(data, f"{args.workload}-{args.seed}"), args.seed,
                   TABLES[args.workload])

    t_gen = time.time()
    out = os.path.join(work, "result.json")
    cp = os.pathsep.join([classes] + build.spark_jars())
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                                  "graft.perfbench.Main",
                                  "--workload", args.workload, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                                  "--data", data, "--work", work, "--out", out])
    log = os.path.join(work, "jvm.log")
    tables = os.path.join(data, f"{args.workload}-{args.seed}")
    check_dir = os.path.join(work, "check")
    oracle = None
    deadline = time.time() + JVM_TIMEOUT_S
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        # the JVM publishes oracle_sql.json once the measured loop is over, so
        # the oracle runs beside the JVM's own untimed checks, never beside
        # a measurement
        while proc.poll() is None and time.time() < deadline:
            if oracle is None and os.path.exists(os.path.join(check_dir, "oracle_sql.json")):
                oracle = start_oracle(tables, check_dir)
            time.sleep(0.2)
        code = proc.poll()
        if code is None:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        if oracle is not None:
            oracle.kill()
            oracle.wait()
        with open(log) as lf:
            sys.stderr.write(lf.read()[-8000:])
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(out) as fh:
        res = json.load(fh)
    t_jvm = time.time()

    errors = dict(res["errors"])
    bad = oracle_failures(oracle or start_oracle(tables, check_dir))
    oracle_failed = len(bad)
    errors.update({f"{k} (oracle)": v for k, v in bad.items()})
    res["timing_s"].update(build_gen=round(t_gen - t0, 3), jvm_total=round(t_jvm - t_gen, 3),
                           oracle=round(time.time() - t_jvm, 3))
    failed = res["failed"] + res["checks_failed"] + oracle_failed
    attempted = res["attempted"]

    m = res["metrics"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"passes {res['passes']}  ops {len(res['ops'])}  timing {res['timing_s']}")
    if not args.trace:
        m["failed_ops"] = {"value": failed / attempted, "unit": "share"}
    for k, v in m.items():
        print(f"  {k:28s} {v['value']:14.6g} {v['unit']}")
    for k, v in res["ops"].items():
        print(f"  op {k:25s} " + " ".join(f"{x:.3f}" for x in v))
    for k, v in errors.items():
        print(f"  FAILED {k}: {v}")
    missing = [x["name"] for x in wanted if x["name"] not in m]
    if missing:
        raise SystemExit(f"metrics missing from the run: {missing}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {x["name"]: {"value": m[x["name"]]["value"], "unit": x["unit"]}
                          for x in wanted}}
    print(json.dumps(result))
    shutil.rmtree(check_dir, ignore_errors=True)
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
