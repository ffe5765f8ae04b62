#!/usr/bin/env python3
"""Benchmark of the CDC-to-query path (see perfbench/README.md).

Run from the repository root:

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --selftest

The first call compiles the program (src/main) and the benchmark's own Scala
sources with the Scala compiler that ships in the Spark distribution, into
the build directory ($CARGO_TARGET_DIR, else .bench_build). Every run is then
a plain JVM over those classes. The last line of standard output is one JSON
object: correct, attempted, failed and metrics.
"""
import argparse
import contextlib
import fcntl
import glob
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
DATA = os.path.join(BENCH, "data", "sf0.01")
WORKLOADS = ("cdc_ingest", "operator_suite")
HEAP = "3g"
DEADLINE_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"),
                                      recursive=True) if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(BENCH, "scala", "*.scala")))
    return main, res, bench


def scalac(out, files, classpath=None):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    proc = subprocess.run(cmd + files, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        fail("compilation failed:\n" + proc.stdout[-4000:])


def digest_of(paths, seed=""):
    h = hashlib.sha256(seed.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(build_dir):
    """Compile the program, then the benchmark, each unless its sources are
    unchanged since the last build; return the run classpath."""
    main, res, bench = sources()
    if not main:
        fail("no program sources under src/main/scala: run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS}")
    os.makedirs(build_dir, exist_ok=True)
    classes_main = os.path.join(build_dir, "classes", "main")
    classes_bench = os.path.join(build_dir, "classes", "bench")
    main_digest = digest_of(main + res)
    bench_digest = digest_of(bench, main_digest)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for out, files, digest, cp in ((classes_main, main, main_digest, None),
                                       (classes_bench, bench, bench_digest, classes_main)):
            stamp = out + ".stamp"
            if os.path.exists(stamp) and open(stamp).read() == digest:
                continue
            t0 = time.time()
            scalac(out, files, classpath=cp)
            if out == classes_main:
                res_root = os.path.join(ROOT, "src/main/resources")
                for p in res:
                    dest = os.path.join(out, os.path.relpath(p, res_root))
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    shutil.copyfile(p, dest)
            with open(stamp, "w") as f:
                f.write(digest)
            print(f"perfbench: compiled {os.path.basename(out)} in {time.time() - t0:.1f} s",
                  file=sys.stderr)
    return os.pathsep.join([classes_bench, classes_main, os.path.join(SPARK_JARS, "*")])


def run_jvm(classpath, work, args, deadline):
    """Run the benchmark JVM; return its PERFBENCH_RESULT object."""
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                env=env, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("the benchmark JVM ran out of time")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"the benchmark JVM exited with {proc.returncode}")
    for line in reversed(stdout.splitlines()):
        if line.startswith("PERFBENCH_RESULT "):
            return json.loads(line[len("PERFBENCH_RESULT "):])
    fail("the benchmark JVM printed no result")


def oracle_failures(pass_dirs):
    """Compare each pass's query outputs with their DuckDB oracle, the
    comparison tools/check_oracle.py makes; return the failing outputs."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True
    import check_oracle  # noqa: E402
    bad = []
    for d in pass_dirs:
        with open(os.path.join(d, "oracle_sql.json")) as f:
            names = json.load(f)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            check_oracle.main(DATA, d)
        ok = {line.split()[1] for line in buf.getvalue().splitlines()
              if line.startswith("OK ")}
        bad += [f"{os.path.basename(d)}/{n}: " + next(
            (line for line in buf.getvalue().splitlines() if n in line), "no output")
            for n in sorted(names) if n not in ok]
    return bad


def main():
    # a terminated launcher still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that the reference-state comparison rejects wrong tables")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    deadline = time.time() + DEADLINE_S
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(build_dir)
    deadline = max(deadline, time.time() + 150)  # a build does not eat the run's time

    workload = "selftest" if a.selftest else a.workload
    work = os.path.join(build_dir, "runs", f"{workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classpath, work, [
            "--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", DATA,
            "--cpus", str(len(os.sched_getaffinity(0)))], deadline)
        problems = list(res["problems"])
        failed = res["failed"]
        if workload == "operator_suite":
            passes = sorted(glob.glob(os.path.join(work, "outputs", "pass-*")))
            bad = oracle_failures(passes)
            problems += bad
            failed += len(bad)
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copyfile(os.path.join(work, "trace.json"),
                            os.path.join(traces, f"{workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print("perfbench: measured " + json.dumps(
        {k: v["value"] for k, v in res["metrics"].items()}), file=sys.stderr)
    if a.selftest:
        print(json.dumps({"selftest": "ok" if not failed else "failed", "checks": res["attempted"]}))
        sys.exit(1 if failed else 0)

    got = res["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = got[m["name"]]
        elif a.trace:
            # a layer this workload does not exercise did no work
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"workload {workload} did not measure {m['name']}")
    print(json.dumps({"correct": True, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
