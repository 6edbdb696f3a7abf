#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the importer
(`src/main/scala`) and the harness (`perfbench/scala`) with the Scala
compiler that ships in Spark's jars, into `.bench_build/`; later runs
reuse the classes while the sources are unchanged. The harness JVM then
runs the workload and prints one JSON result as the last stdout line.
Inputs, outputs and logs live under `.bench_work/`.

    python3 perfbench/run.py --write-expected

rewrites `perfbench/expected/queries.json` from the current code, and

    python3 perfbench/run.py --self-test

runs the benchmark's own tests.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("import_wide24", "queries_sf0.01")
JVM_SECONDS = 170
HEAP = "1536m"

# Spark 4 on JDK 17 needs these when a session is built outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    out = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "scala")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile once per source digest; returns the classes directory."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        fail("no importer sources under src/main/scala")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    key = digest.hexdigest()[:16]
    classes = os.path.join(BUILD, key)
    if os.path.isdir(classes):
        return classes, key
    os.makedirs(BUILD, exist_ok=True)
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    t0 = time.time()
    # cwd: scalac puts "." on its class path, and the checkout root holds a
    # perfbench/scala directory that would shadow the scala package
    r = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    os.rename(tmp, classes)
    for old in os.listdir(BUILD):
        if old != key:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, key


def commit_id():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes, jars, main_class, args, tag, timeout):
    """Runs a harness main class; returns its stdout lines, or None on failure."""
    log_dir = os.path.join(WORK, "logs")
    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(WORK, f"tmp-{tag}")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM would write it to the system temp directory
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main_class] + args)
    log_path = os.path.join(log_dir, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"perfbench: harness stopped; log in {log_path}", file=sys.stderr)
            return None
    shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.stderr.write(out)
        print(f"perfbench: harness exited with {proc.returncode}; log in {log_path}", file=sys.stderr)
        return None
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not (a.write_expected or a.self_test or a.workload):
        ap.error("--workload is required")

    jars = spark_jars()
    classes, source_key = build(jars)
    tag = ("expected" if a.write_expected else "selftest" if a.self_test
           else f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    work = os.path.join(WORK, tag)
    shutil.rmtree(work, ignore_errors=True)
    args = ["--work", work, "--bench-dir", BENCH]
    if a.self_test:
        lines = run_jvm(classes, jars, "perfbench.SelfTest", args, tag, timeout=600)
        shutil.rmtree(work, ignore_errors=True)
        print("\n".join(lines or []))
        sys.exit(0 if lines is not None else 1)
    if a.write_expected:
        args.append("--write-expected")
    else:
        args += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--commit", f"{commit_id()}+src:{source_key}"]
    try:
        lines = run_jvm(classes, jars, "perfbench.Main", args, tag,
                        timeout=JVM_SECONDS if not a.write_expected else 900)
        if lines is None:
            sys.exit(1)
        if a.write_expected:
            return
        for line in lines[:-1]:
            print(line)
        result = json.loads(lines[-1]) if lines else None
        if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail("harness printed no result line")
        results = os.path.join(WORK, "results")
        os.makedirs(results, exist_ok=True)
        env = next((json.loads(l)["env"] for l in lines if l.startswith('{"env"')), {})
        with open(os.path.join(results, f"{tag}.json"), "w") as f:
            json.dump({"env": env, "result": result}, f, indent=1)
        trace = os.path.join(work, "trace.json")
        if os.path.exists(trace):
            shutil.copy(trace, os.path.join(results, f"{tag}.trace.json"))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
