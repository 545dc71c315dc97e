#!/usr/bin/env python3
"""Benchmark entry point: build, make inputs, derive expected outputs, run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first call builds the engine and the
harness with sbt (offline) into the build directory (`$CARGO_TARGET_DIR`,
default `.bench_build`) and reuses the build while no source changes.
Each call then generates the seeded inputs (cached per seed), derives the
expected outputs with DuckDB and plain Python (cached likewise), and runs
the workload in one JVM. The JVM's log goes to <build>/logs/.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; `--trace 0` reports the
end-to-end metrics and `--trace 1` the per-layer ones. The exit code is 0
only if the run completed and every operation's output was correct.

`--corrupt 1` perturbs one expected value before the run, to show that
the checks catch a wrong output (the run then reports failures).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark directory free of build output

import datagen  # noqa: E402
import oracle  # noqa: E402

# Input scale per workload (1.0 = 6M lineitem rows), sized so one call takes
# 0.5-3 s on 4 cores and an 8 s timed loop holds several cycles.
SCALE = {"profile_exact": 0.01, "validate_catalog": 0.005, "corpus_curate": 0.01}
TABLES = {"profile_exact": ["lineitem", "orders", "part"],
          "validate_catalog": datagen.ALL_TABLES,
          "corpus_curate": ["documents"]}
DEADLINE_S = 170  # whole run, build excluded
BUILD_TIMEOUT_S = 800

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every input the build reads."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties")]
    for d in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for dp, dns, fns in os.walk(d):
            dns[:] = sorted(x for x in dns if x != "target")
            paths += [os.path.join(dp, f) for f in sorted(fns)]
    paths += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "datagen.py"),
              os.path.join(HERE, "oracle.py")]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_logged(cmd, logfile, timeout, cwd=None, env=None):
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -1


def java_cmd(build, classpath, main, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"] + opens + ["-cp", classpath, main] + args


def ensure_built(root, build):
    """Compile engine and harness; dump the engine constants the oracle
    reads. Returns (classpath, constants, source stamp)."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(build, "build.stamp")
    cp_file = os.path.join(build, "classpath.txt")
    const_file = os.path.join(build, "constants.json")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        classpath = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in classpath.split(os.pathsep)):
            with open(const_file) as f:
                return classpath, json.load(f), stamp
    log("building engine and harness (sbt compile) ...")
    t0 = time.time()
    logfile = os.path.join(build, "logs", "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], logfile, BUILD_TIMEOUT_S,
                    cwd=HERE, env=sbt_env())
    lines = open(logfile).read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if rc != 0 or not cps:
        raise SystemExit(f"build failed (exit {rc}); see {logfile}")
    classpath = cps[-1].strip()
    tiny = os.path.join(build, "constants-data")
    datagen.generate(tiny, 0, 0.0005, datagen.ALL_TABLES)
    rc = run_logged(java_cmd(build, classpath, "perfbench.Constants",
                             [tiny, const_file] + datagen.ALL_TABLES),
                    os.path.join(build, "logs", "constants.log"), 300, cwd=root)
    if rc != 0:
        raise SystemExit("constants dump failed; see logs/constants.log")
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    with open(const_file) as f:
        return classpath, json.load(f), stamp


def expected_outputs(workload, seed, data, constants, rows):
    rnd = random.Random(seed)
    exp = {"workload": workload, "seed": seed}
    if workload == "profile_exact":
        exp["order"] = rnd.sample(TABLES[workload], len(TABLES[workload]))
        exp["profiles"] = oracle.profiles(data, TABLES[workload])
    elif workload == "validate_catalog":
        exp["order"] = rnd.sample(TABLES[workload], len(TABLES[workload]))
        exp["rules"] = oracle.rule_values(data, constants["rules"])
        exp["rows"] = rows
    elif workload == "corpus_curate":
        exp["corpus"] = oracle.corpus(data, constants["language_seeds"])
    return exp


def corrupt(exp):
    """Make one expected value wrong."""
    if "profiles" in exp:
        exp["profiles"]["lineitem"]["row_count"] += 1
    elif "rules" in exp:
        exp["rules"]["orders"][0] += 1
    else:
        k = next(iter(exp["corpus"]["components"]))
        exp["corpus"]["components"][k] += 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="override the workload's input scale")
    a = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        log("engine sources not found: run from the repository root")
        return 2
    build = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(os.path.join(build, "logs"), exist_ok=True)
    classpath, constants, stamp = ensure_built(root, build)

    w, scale = a.workload, a.scale or SCALE[a.workload]
    data = os.path.join(build, "data", f"{w}-s{scale}-seed{a.seed}-{stamp[:12]}")
    exp_file = os.path.join(data, "expected.json")
    if not os.path.isfile(exp_file):
        t0 = time.time()
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        rows = datagen.generate(tmp, a.seed, scale, TABLES[w])
        exp = expected_outputs(w, a.seed, tmp, constants, rows)
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(exp, f)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
        log(f"inputs and expected outputs for seed {a.seed} in {time.time() - t0:.1f} s")
    if a.corrupt:
        with open(exp_file) as f:
            exp = json.load(f)
        corrupt(exp)
        exp_file = os.path.join(build, "expected-corrupted.json")
        with open(exp_file, "w") as f:
            json.dump(exp, f)

    work = os.path.join(build, "work", w)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    cmd = java_cmd(build, classpath, "perfbench.Main", [
        "--workload", w, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--work", work, "--expected", exp_file, "--result", result])
    jvm_log = os.path.join(build, "logs", f"{w}-seed{a.seed}-trace{a.trace}.log")
    rc = run_logged(cmd, jvm_log, max(10, DEADLINE_S - (time.time() - started)), cwd=root)
    if rc != 0 or not os.path.isfile(result):
        log(f"benchmark JVM failed (exit {rc}); see {jvm_log}")
        return 1
    with open(result) as f:
        res = json.load(f)
    with open(jvm_log) as f:
        for line in f:
            if line.startswith(("mismatch:", "operation on")):
                log(line.rstrip())

    info = {k: m["value"] for k, m in res["info"].items()}
    print(f"workload {w} seed {a.seed} scale {scale} trace {a.trace}: "
          f"{int(info['timed_ops'])} timed operations")
    print("host: nproc %d, load1 %.2f -> %.2f, process CPU / wall %.2f" % (
        info["nproc"], info["load1_start"], info["load1_end"], info["process_cpu_per_wall"]))
    print("op_fail_ratio %.4f (%d failed / %d attempted)" % (
        info["op_fail_ratio"], res["failed"], res["attempted"]))
    print("not gated: cold_op_s %.4f s, heap_peak_mb %.1f MB" % (
        info["cold_op_s"], info["heap_peak_mb"]))
    for name, m in sorted(res["metrics"].items()):
        print(f"  {name:32s} {m['value']:>16.6g} {m['unit']}")
    if a.trace:
        print(f"trace: {os.path.join(work, 'trace.json')}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
