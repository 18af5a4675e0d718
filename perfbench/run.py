#!/usr/bin/env python3
"""Repository benchmark: builds the engine plus the benchmark driver from
source (sbt, offline) and runs one workload in a fresh JVM.

    python3 perfbench/run.py --workload chunk_corpus --seed 1 --seconds 10 --trace 0

Workloads: chunk_corpus, query_tail, query_heavy, lake_ingest. The last
line of standard output is one JSON object: correct, attempted, failed,
metrics. Earlier lines carry every metric with its unit and sample count.

Other modes:
    --selftest 1              tiny runs of every workload with injected faults
    --mode sweep --out FILE   survey every registry query (picks workloads)
    --mode record             rewrite perfbench/expected.json from this tree
    --mode tables --out DIR   write the query workloads' tables (oracle checks)
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["chunk_corpus", "query_tail", "query_heavy", "lake_ingest"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("engine sources not found next to the benchmark; run from a "
            "full checkout of the repository")
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved.get("digest") == digest:
            return saved["classpath"]
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           "export Runtime/fullClasspath"]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S,
                           text=True)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = p.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and " " not in l.strip()]
    if p.returncode != 0 or not cps:
        errs = [l for l in lines if l.startswith("[error]")] or lines[-40:]
        sys.stderr.write("\n".join(errs[:80]) + "\n")
        die(f"build failed (exit {p.returncode})")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        json.dump({"digest": digest, "classpath": cps[-1].strip()}, fh)
    return cps[-1].strip()


def run_jvm(classpath, args, timeout=RUN_TIMEOUT_S, echo=True):
    """Run the benchmark program in a fresh JVM with its scratch space
    under the checkout; returns (exit code, stdout lines)."""
    work = os.path.join(BUILD, "work", f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dderby.system.home={tmp}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", "--work", work] + args
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep spill files
    # under the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    out = []
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    deadline = time.time() + timeout
    try:
        for line in p.stdout:
            out.append(line.rstrip("\n"))
            if echo:
                print(line, end="", flush=True)
            if time.time() > deadline:
                raise subprocess.TimeoutExpired(cmd, timeout)
        p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        die("run timed out", 3)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
    return p.returncode, out


def last_json(lines):
    for l in reversed(lines):
        l = l.strip()
        if l.startswith("{"):
            try:
                return json.loads(l)
            except ValueError:
                return None
    return None


def selftest(classpath):
    """Tiny runs of every workload: all metrics printed with units, clean
    runs pass their checks, and each injected fault is reported as a
    failure with its cause."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {False: spec["end_to_end"], True: spec["per_layer"]}
    faults = {"chunk_corpus": ["dedup"], "query_tail": ["fingerprint"],
              "query_heavy": ["fingerprint"], "lake_ingest": ["lakerow", "nodelete"]}
    bad = []
    for w in WORKLOADS:
        for trace, fault in [(False, ""), (True, "")] + [(False, f) for f in faults[w]]:
            args = ["--workload", w, "--seed", "7", "--seconds", "1",
                    "--trace", "1" if trace else "0", "--tiny", "1"]
            if fault:
                args += ["--faults", fault]
            code, lines = run_jvm(classpath, args, echo=False)
            res = last_json(lines)
            tag = f"{w} trace={int(trace)} fault={fault or '-'}"
            if code != 0 or res is None:
                bad.append(f"{tag}: exit {code}, no result")
                continue
            for m in want[trace]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or got.get("value") is None:
                    bad.append(f"{tag}: metric {m['name']} missing or wrong unit")
            text = "\n".join(lines)
            if fault:
                if res["correct"] or res["failed"] < 1 or "FAILED " not in text:
                    bad.append(f"{tag}: injected fault not reported as a failure")
            elif not res["correct"] or res["failed"]:
                bad.append(f"{tag}: clean run reported failures")
            print(f"selftest {tag}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}", file=sys.stderr)
    for b in bad:
        print("selftest FAIL " + b, file=sys.stderr)
    print(json.dumps({"selftest": "fail" if bad else "pass", "problems": len(bad)}))
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--mode", default="run")
    ap.add_argument("--selftest", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--only")
    a = ap.parse_args()
    if a.mode == "run" and not a.selftest and a.workload not in WORKLOADS:
        die(f"--workload must be one of {', '.join(WORKLOADS)}")
    classpath = build()
    if a.selftest:
        sys.exit(selftest(classpath))
    args = ["--mode", a.mode, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--workload", a.workload or ""]
    if a.out:
        args += ["--out", os.path.abspath(a.out)]
    if a.only:
        args += ["--only", a.only]
    timeout = RUN_TIMEOUT_S if a.mode == "run" else 3600
    code, lines = run_jvm(classpath, args, timeout=timeout)
    if a.mode == "run" and (code != 0 or last_json(lines) is None):
        die(f"workload exited {code} without a result", code or 4)
    sys.exit(code)


if __name__ == "__main__":
    main()
