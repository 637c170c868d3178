#!/usr/bin/env python3
"""End-to-end benchmark of the chess puzzle ETL pipeline.

Run from the root of a checkout:

    python3 e2ebench/run.py --workload backfill --seed 1 --seconds 8 --trace 0
    python3 e2ebench/run.py --selftest

It builds the benchmark (sbt project in this directory, compiling the
checkout's own src/main with it) into .bench_build/ when the sources
changed, then starts the benchmark JVM (e2ebench.Main) once per set-up
sample. The last line of standard output is the JSON result:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

Set-up time (setup_s) is measured here, from starting a JVM until its
Tuning-configured session has run its first action. SETUP_SAMPLES JVMs
are timed per run (SETUP_SAMPLES - 1 set-up-only ones, then the one that
measures) and their median is reported. A start costs about 8 s on a
4-core host, which is why a run makes two.

Everything the benchmark writes stays under .bench_build/ in the
checkout; each run's scratch directory carries a nonce and is deleted
when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("backfill", "incremental", "pgn_roundtrip")
SETUP_SAMPLES = 2
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JAVA_OPTS = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
    # a fixed heap size keeps GC ergonomics the same from run to run; the
    # small young generation makes a run that allocates 16 MB collect
    # inside its timed section, which driver_heap_peak_mb is read from
    "-Xms3g", "-Xmx3g", "-Xmn16m", "-Dspark.sql.session.timeZone=UTC",
    # no hsperfdata file: the JVM would write it outside the checkout
    "-XX:-UsePerfData",
]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles when the sources changed; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no src/main/scala under {ROOT}: run from the root of a checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True,
            timeout=BUILD_DEADLINE_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [x for x in r.stdout.splitlines() if x and not x.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def jvm(cp, args, work, log, deadline):
    """Runs e2ebench.Main; returns (setup sample, stdout lines)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "e2ebench.Main", "--work", work, *args]
    t0 = time.perf_counter()
    with open(log, "a") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), p.kill)
        timer.start()
        setup, lines = None, []
        try:
            for line in p.stdout:
                if line.startswith("E2E_SETUP") and setup is None:
                    kv = dict(x.split("=") for x in line.split()[1:])
                    setup = {"setup_s": time.perf_counter() - t0,
                             "session_s": float(kv["session_s"]),
                             "first_action_s": float(kv["first_action_s"])}
                else:
                    lines.append(line.rstrip("\n"))
            p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or setup is None:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM exited with {p.returncode} ({' '.join(args)})")
    return setup, lines


def run(workload, seed, seconds, trace, extra=()):
    """One benchmark run; returns (result dict, report lines)."""
    cp = build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{uuid.uuid4().hex[:12]}")
    os.makedirs(work)
    log = os.path.join(work, "jvm.log")
    try:
        samples = [jvm(cp, ["--setup-only"], work, log, deadline)[0]
                   for _ in range(SETUP_SAMPLES - 1)]
        args = ["--workload", workload, "--seed", str(seed), "--seconds",
                str(seconds), "--trace", str(trace), *extra]
        if trace:
            traces = os.path.join(BUILD, "traces")
            args += ["--trace-out", os.path.join(traces, f"{workload}-seed{seed}.json")]
        setup, lines = jvm(cp, args, work, log, deadline)
        samples.append(setup)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("benchmark JVM printed no result")
    med = {k: statistics.median(s[k] for s in samples) for k in samples[0]}
    m = result["metrics"]
    if trace:
        m["setup.session_s"] = {"value": med["session_s"], "unit": "s"}
        m["setup.first_action_s"] = {"value": med["first_action_s"], "unit": "s"}
    else:
        m["setup_s"] = {"value": med["setup_s"], "unit": "s"}
    report = lines[:-1] + [
        f"  setup_s {med['setup_s']:.4f} s (median of {len(samples)} JVM starts: "
        + ", ".join(f"{s['setup_s']:.3f}" for s in samples) + ")"]
    return result, report


def selftest():
    """Every workload at a tiny size: clean runs must pass the output
    check and report exactly the declared metrics; a run whose output
    loses one PGN block must be reported as failed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {0: {m["name"] for m in spec["end_to_end"]},
                1: {m["name"] for m in spec["per_layer"]}}
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            res, _ = run(w, 7, 2, trace, ["--scale", "tiny"])
            got = set(res["metrics"])
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: clean run not correct: {res}")
            if got != declared[trace]:
                problems.append(f"{w} trace={trace}: metrics differ from BENCHMARK.json: "
                                f"extra {sorted(got - declared[trace])}, "
                                f"missing {sorted(declared[trace] - got)}")
            print(f"selftest {w} trace={trace}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
        res, _ = run(w, 7, 2, 0, ["--scale", "tiny", "--corrupt"])
        if res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: a dropped PGN block was not reported: {res}")
        print(f"selftest {w} corrupted: correct={res['correct']} failed={res['failed']}")
    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


def main():
    # a terminated run still unwinds, so its JVM is killed and its
    # scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        ap.error("--workload is required")
    result, report = run(a.workload, a.seed, a.seconds, a.trace)
    for line in report:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
