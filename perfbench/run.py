"""Benchmark entry point: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload dag_full --seed 1 --seconds 8 --trace 0

Run from the repository root. It builds the program from source
(perfbench/build.py, cached in .bench_build), generates the seeded inputs
once per seed (perfbench/gen.py, cached), measures session set-up in a
probe JVM, then runs PerfBench in one JVM: a cold run, a warm-up
run, then measured warm runs for about --seconds (at least one), every
run's stage tables checked. The last line of
standard output is the JSON result; the full artifact (samples, digests,
spans) is written under .bench_build/artifacts.

Extra flags, used by the negative controls (test_controls.py):
  --plant-slow <span>=<factor>   sleep around one stage call
  --plant-corrupt <table>        change one value of one stage table
  --pin                          rewrite pinned.json for seeds 1 and 2
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dag_full", "curate_corpus")
PINNED = os.path.join(HERE, "pinned.json")
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def inputs_for(workload, seed):
    """Generate once per (workload, seed, generator version)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        import hashlib
        stamp = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(build_dir(), "inputs", "%s-%d-%s" % (workload, seed, stamp))
    if not os.path.exists(os.path.join(d, "manifest.json")):
        tmp = d + ".tmp%d" % os.getpid()
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def jvm(classes, jars, work, args):
    """Run PerfBench in a fresh JVM; returns its parsed --out file."""
    out = os.path.join(work, "out-%d.json" % time.time_ns())
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xmx" + HEAP, "-Xms" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.PerfBench"]
    cmd += args + ["--out", out, "--work", work, "--cores", str(cores()),
                   "--t0-ns", str(time.time_ns())]
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("perfbench: JVM exceeded %d s" % JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit("perfbench: JVM exited with code %d" % rc)
    with open(out) as f:
        return json.load(f)


def measure(a, classes, jars, pinned=True):
    inputs = inputs_for(a.workload, a.seed)
    work = os.path.abspath(os.path.join(build_dir(), "work", str(os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    art_dir = os.path.join(build_dir(), "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    artifact = os.path.abspath(os.path.join(
        art_dir, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)))
    try:
        if not a.trace:
            probe = jvm(classes, jars, work, ["--probe-setup", "1"])["setup_s"]
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--inputs", os.path.abspath(inputs),
                "--artifact", artifact]
        if pinned and os.path.exists(PINNED):
            args += ["--pinned", PINNED]
        if a.plant_slow:
            args += ["--plant-slow", a.plant_slow]
        if a.plant_corrupt:
            args += ["--plant-corrupt", a.plant_corrupt]
        res = jvm(classes, jars, work, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not a.trace:
        setup = res["metrics"]["setup_s"]
        setup["value"] = statistics.median([probe, setup["value"]])
    return res, artifact


def pin(classes, jars):
    pinned = {}
    for w in WORKLOADS:
        for seed in (1, 2):
            a = argparse.Namespace(workload=w, seed=seed, seconds=0, trace=0,
                                   plant_slow=None, plant_corrupt=None)
            res, artifact = measure(a, classes, jars, pinned=False)
            if not res["correct"]:
                raise SystemExit("perfbench: %s seed %d is not correct; not pinning" % (w, seed))
            with open(artifact) as f:
                pinned.setdefault(w, {})[str(seed)] = json.load(f)["digests"]
    with open(PINNED, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-slow")
    ap.add_argument("--plant-corrupt")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    classes, jars = build.build(".", build_dir())
    if a.pin:
        pin(classes, jars)
        return
    if not a.workload:
        ap.error("--workload is required")
    res, artifact = measure(a, classes, jars)
    for name, m in res["metrics"].items():
        print("%-40s %14s %s" % (name, m["value"], m["unit"]))
    print("artifact: %s" % artifact)
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
