#!/usr/bin/env python3
"""Run one benchmark workload against the program in the current checkout.

    python3 perfbench/run.py --workload serve-dashboard --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run compiles the program
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
shipped in the Spark distribution, and builds the serve-dashboard fixture
store with that program; both are cached under $CARGO_TARGET_DIR (default
.bench_build) keyed by a hash of the sources. The last line of stdout is
the result JSON; `--self-test` runs the benchmark's own tests instead.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ["serve-dashboard", "ingest-scan"]
RUN_TIMEOUT_S = 170
FIXTURE_SOURCE = "perfbench/src/perfbench/ServeData.scala"
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark distribution with a Scala compiler at {jars} (set SPARK_HOME)")
    return jars


def sources():
    program = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    resources = sorted(p for p in glob.glob("src/main/resources/**/*", recursive=True)
                       if os.path.isfile(p))
    if not program:
        fail("no program sources under src/main/scala; run from the root of a checkout")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return program, bench, resources


def jvm(jars, classpath, tmp, args, heap="3g"):
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{heap}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-cp", f"{classpath}:{jars}/*", *args]


def run_logged(cmd, log_path, timeout, tmp):
    """Runs cmd in its own process group, with Spark's scratch space under
    tmp; returns (exit code, stdout lines)."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True, env=env)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, []
    return proc.returncode, out.splitlines()


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(out_root, jars):
    """Compiles program + benchmark and builds the serve fixture, once per source hash."""
    program, bench, resources = sources()
    key = digest(program + bench + resources)
    home = os.path.join(out_root, key)
    classes = os.path.join(home, "classes")
    # the fixture depends on the program and on its own definition only
    fixtures = os.path.join(out_root, "fixtures-" + digest(program + resources + [FIXTURE_SOURCE]))
    tmp = os.path.join(home, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if not os.path.exists(os.path.join(classes, ".ok")):
        staging = classes + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        argfile = os.path.join(home, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(program + bench) + "\n")
        t0 = time.time()
        res = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
             "-nowarn", "-d", staging, "-classpath", f"{jars}/*", f"@{argfile}"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            print(res.stdout[-4000:], file=sys.stderr)
            fail("compilation failed")
        for r in resources:
            dst = os.path.join(staging, os.path.relpath(r, "src/main/resources"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        open(os.path.join(staging, ".ok"), "w").close()
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(staging, classes)
        print(f"[perfbench] compiled {len(program)} program + {len(bench)} benchmark "
              f"sources in {time.time() - t0:.1f}s", flush=True)
    if not os.path.exists(os.path.join(fixtures, "serve-store.READY")):
        t0 = time.time()
        code, _ = run_logged(jvm(jars, classes, tmp, ["perfbench.Main", "build-fixtures", fixtures]),
                             os.path.join(tmp, "fixture.log"), 880, tmp)
        if code != 0:
            fail(f"fixture build failed (exit {code}); see {os.path.join(tmp, 'fixture.log')}")
        print(f"[perfbench] built the serve fixture store in {time.time() - t0:.1f}s", flush=True)
    return key, classes, fixtures, tmp


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    jars = spark_jars()
    out_root = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    key, classes, fixtures, tmp = build(out_root, jars)

    if a.self_test:
        code, out = run_logged(jvm(jars, classes, tmp, ["perfbench.SelfTest"]),
                               os.path.join(tmp, "selftest.log"), RUN_TIMEOUT_S, tmp)
        print("\n".join(out))
        sys.exit(1 if code != 0 else 0)

    work = os.path.join(out_root, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = os.getloadavg()
    code, out = run_logged(
        jvm(jars, classes, tmp, ["perfbench.Main", a.workload, str(a.seed), str(a.seconds),
                                 str(a.trace), work, fixtures]),
        os.path.join(work, "stderr.log"), RUN_TIMEOUT_S, tmp)
    load_after = os.getloadavg()
    result = None
    if out:
        try:
            result = json.loads(out[-1])
        except ValueError:
            result = None
    if code != 0 or result is None:
        print("\n".join(out[-20:]))
        with open(os.path.join(work, "stderr.log")) as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
        fail(f"workload {a.workload} failed (exit {code})")
    trace_file = os.path.join(work, "trace.jsonl")
    if os.path.exists(trace_file):
        os.makedirs(os.path.join(out_root, "traces"), exist_ok=True)
        shutil.move(trace_file, os.path.join(out_root, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    context = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "git_commit": git_commit(), "source_hash": key,
    }
    print("\n".join(out[:-1]))
    print("context: " + json.dumps(context))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
