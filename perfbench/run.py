#!/usr/bin/env python3
"""Build the program from source and run one benchmark workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dns_read --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --selftest      # negative control on tiny inputs

The Scala sources of the program (src/main/scala) and of the benchmark
(perfbench/src) are compiled with the Scala compiler that ships in
$SPARK_HOME/jars, into .bench_build/perfbench; a later run reuses the
build while no source has changed. The benchmark JVM prints what it
measured in readable form; this script prints the result as one JSON
object on the last line of standard output. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(top, suffix=""):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must name a Spark installation (its jars/ holds Spark and scalac)")
    return os.path.join(home, "jars")


def scalac(jars, classpath, out, files):
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail(f"compilation into {out} failed")


def build(jars):
    """Compile program and benchmark unless the stamp says nothing changed."""
    for d in (PROGRAM_SRC, BENCH_SRC):
        if not os.path.isdir(d):
            fail(f"{os.path.relpath(d, ROOT)} not found: run from the root of a full checkout")
    program = sources(PROGRAM_SRC, ".scala")
    bench = sources(BENCH_SRC, ".scala")
    resources = sources(PROGRAM_RES) if os.path.isdir(PROGRAM_RES) else []
    h = hashlib.sha256()
    for f in program + bench + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = BUILD + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    prog_out, bench_out = os.path.join(tmp, "program"), os.path.join(tmp, "bench")
    os.makedirs(prog_out)
    os.makedirs(bench_out)
    print("perfbench: building program and benchmark", file=sys.stderr)
    scalac(jars, None, prog_out, program)
    for f in resources:
        dst = os.path.join(prog_out, os.path.relpath(f, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    scalac(jars, prog_out, bench_out, bench)
    with open(os.path.join(tmp, "stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(BUILD, ignore_errors=True)
    os.rename(tmp, BUILD)


def run_jvm(jars, bench_args, tag):
    """Run the benchmark JVM; returns (exit code, result JSON or None)."""
    scratch = os.path.join(ROOT, ".bench_build", "run", f"{tag}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    logs = os.path.join(ROOT, ".bench_build", "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{tag}.log")
    result = os.path.join(scratch, "result.json")
    cp = os.pathsep.join([os.path.join(BUILD, "bench"), os.path.join(BUILD, "program"),
                          os.path.join(jars, "*")])
    # -XX:-UsePerfData: the JVM would otherwise write hsperfdata outside the checkout
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # A fixed, pre-touched heap keeps the peak-RSS figure steady from run to
    # run: it then moves with native and off-heap memory, not with how much
    # of the heap the garbage collector happened to touch.
    cmd += ["-XX:+AlwaysPreTouch", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={scratch}",
            "-cp", cp, "perfbench.DnsBench"]
    cmd += bench_args + ["--scratch", scratch, "--result", result]
    sys.stdout.flush()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=sys.stdout, stderr=log, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = -1
            print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was stopped", file=sys.stderr)
    out = None
    if code == 0 and os.path.exists(result):
        with open(result) as fh:
            out = json.load(fh)
    if code != 0:
        with open(log_path) as fh:
            tail = [l for l in fh.read().splitlines()
                    if not l.lstrip().startswith("at ") and " INFO " not in l][-25:]
        print("\n".join(tail), file=sys.stderr)
    shutil.rmtree(scratch, ignore_errors=True)
    return code, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["dns_read", "dns_write", "dns_stream"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="negative control: every check must pass clean and fail when corrupted")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    build(jars)
    if a.selftest:
        code, _ = run_jvm(jars, ["--selftest", "1", "--seed", str(a.seed)], "selftest")
        sys.exit(0 if code == 0 else 1)
    code, result = run_jvm(jars, ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           f"{a.workload}-{a.seed}-t{a.trace}")
    if code != 0 or result is None:
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
