#!/usr/bin/env python3
"""sydraDB end-to-end benchmark.

    python3 sydrabench/run.py --workload dashboard|ingest|analytic \\
        --seed N --seconds S --trace 0|1
    python3 sydrabench/run.py --smoke

Run from the repository root. The first run compiles the engine sources of
this checkout together with the benchmark's own (sbt, offline); later runs
reuse that build while no source changes. Each run starts one JVM with
Spark local[nproc], which serves the workload to one closed-loop client.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics with --trace 0, the per-layer
ones with --trace 1). The line before it is the workload's own report.
--smoke runs every workload at a tiny size, untraced and traced, and exits
nonzero unless all of them are correct. See README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-build.stamp")
WORKLOADS = ("dashboard", "ingest", "analytic")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[sydrabench] {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def build():
    """Compile engine and benchmark unless this exact source set was built;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"engine sources not found under {ROOT}/src/main/scala")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build takes the Spark jars from it")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if all(os.path.exists(f) for f in (STAMP, CLASSPATH)):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    for f in (STAMP, CLASSPATH):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.forcestart=false"
    print("[sydrabench] building engine and benchmark", file=sys.stderr)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    classes = os.path.join(TARGET, "scala-2.13", "classes")
    cp = [l for l in p.stdout.splitlines() if l.startswith(classes)]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = cp[-1]
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp


def sf_dir(scale):
    """The test-data directory of one scale factor, as TESTDATA.md lists it."""
    path = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.exists(path):
        fail("TESTDATA.md not found: it names the analytic data directories")
    with open(path) as fh:
        for line in fh:
            m = re.match(r"\|\s*" + re.escape(scale) + r"\s*\|\s*`([^`]+)`", line)
            if m:
                return m.group(1).rstrip("/")
    fail(f"TESTDATA.md lists no sf{scale} directory")


def result_hashes(results):
    """Canonical hash of each query result, as tools/oracle_check.py takes it."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from oracle_check import table_hash
    con = duckdb.connect()
    out = {}
    for name in sorted(os.listdir(results)):
        rel = con.sql(f"SELECT * FROM parquet_scan('{results}/{name}/*.parquet')")
        out[name] = table_hash([d[0] for d in rel.description], rel.fetchall())
    return out


def run_jvm(cp, tmp, argv):
    """Run the benchmark JVM from the repository root; (exit code, stdout, stderr)."""
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main",
              "--tmp", tmp] + argv)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    return p.returncode, out, err


def run(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    cp = build()
    tmp = os.path.join(TARGET, "tmp", f"run-{os.getpid()}")
    results = os.path.join(tmp, "results")
    os.makedirs(results, exist_ok=True)
    extra = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.smoke:
        extra += ["--smoke", "1"]
    if args.workload == "analytic":
        extra += ["--sf-dir", sf_dir("0.001" if args.smoke else "0.1"), "--results-dir", results]
    if args.trace:
        spans = os.path.join(TARGET, "trace", f"{args.workload}-{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        extra += ["--spans", spans]
    try:
        code, out, err = run_jvm(cp, tmp, extra)
        lines = dict(l.split(" ", 1) for l in out.splitlines()
                     if l.startswith(("PERFBENCH_RESULT ", "PERFBENCH_REPORT ")))
        if "PERFBENCH_RESULT" not in lines:
            sys.stderr.write(err[-6000:])
            fail(f"benchmark JVM exited {code} without a result")
        result = json.loads(lines["PERFBENCH_RESULT"])
        report, failures = lines["PERFBENCH_REPORT"].split("\t", 1)
        failures = json.loads(failures)
        if args.workload == "analytic":
            with open(os.path.join(BENCH, "expected_hashes.json")) as fh:
                expected = json.load(fh)["sf0.001" if args.smoke else "sf0.1"]
            got = result_hashes(results)
            for name, want in sorted(expected.items()):
                if got.get(name) != want["hash"]:
                    failures.append(f"{name}: result hash {got.get(name)} != expected "
                                    f"{want['hash']} ({want['source']})")
                    result["failed"] += 1
            if failures:
                result["correct"] = False
        for f in failures:
            print(f"[sydrabench] failure: {f}", file=sys.stderr)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "trace": args.trace, "report": json.loads(report)}))
        print(json.dumps(result))
        return 0 if code == 0 and result["correct"] else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def smoke():
    status = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run([sys.executable, __file__, "--workload", w, "--seed", "7",
                                "--seconds", "2", "--trace", str(trace), "--smoke-size"],
                               stdout=subprocess.PIPE, text=True)
            last = (p.stdout.strip().splitlines() or [""])[-1]
            try:
                ok = p.returncode == 0 and json.loads(last).get("correct") is True
            except json.JSONDecodeError:
                ok = False
            print(f"smoke {w} trace={trace}: {'ok' if ok else 'FAILED'} {last}")
            status |= 0 if ok else 1
    return status


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run every workload at a tiny size")
    ap.add_argument("--smoke-size", dest="smoke_size", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.smoke:
        sys.exit(smoke())
    if not args.workload:
        ap.error("--workload is required")
    args.smoke = args.smoke_size
    sys.exit(run(args))


if __name__ == "__main__":
    main()
