#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from the checkout,
runs one workload in a fresh JVM, checks every op's answer, and prints the
metrics as the last line of stdout.

    python3 perfbench/run.py --workload <interactive|analytics> --seed <n>
                             --seconds <s> --trace <0|1> [--op <idx>]

Run it from the root of the checkout. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones (see README.md). `--op <idx>`
replays one op of the seeded op list alone. The input tables are the
engine's sf0.01 test tables, copied under perfbench/data/. Build outputs
and cached expected answers go to .bench_build/, each run's op list,
result rows, spans and logs to .bench_out/<workload>-s<seed>-t<trace>/.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("interactive", "analytics")
# Nominal seconds of one round on 4 cores. A run measures
# ceil(seconds / this) rounds: a fixed amount of work, so a faster or slower
# machine (or commit) runs the same ops, not more or fewer.
ROUND_SECONDS = {"interactive": 5.0, "analytics": 30.0}
SETUP_TIMEOUT_S = 120
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)
import check  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        found = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in found:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_logged(cmd, cwd, env, log, timeout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build():
    """Compile engine + harness with sbt (offline) once per source state;
    return the runtime classpath."""
    sources = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    sources += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        fail(f"engine or harness sources not found: {', '.join(os.path.relpath(p, ROOT) for p in missing)}")
    stamp = tree_hash(sources)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    print("perfbench: building engine and harness (sbt)", file=sys.stderr)
    code = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                       "writeClasspath"], HERE, env, log, 840)
    if code != 0:
        print(tail(log), file=sys.stderr)
        fail("build failed")
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def jvm_timeout(workload, rounds, traced):
    """Seconds the benchmark JVM may take: its set-up plus four times the
    nominal duration of its rounds (traced runs time most ops twice), so a
    slower commit is measured rather than cut off."""
    return SETUP_TIMEOUT_S + 4 * rounds * ROUND_SECONDS[workload] * (2 if traced else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--op", type=int, help="replay this op of the seeded op list alone")
    a = ap.parse_args()

    classpath = build()
    if not os.path.isdir(DATA):
        fail(f"input tables not found: {os.path.relpath(DATA, ROOT)}")
    name = f"{a.workload}-s{a.seed}-t{a.trace}" + (f"-op{a.op}" if a.op is not None else "")
    out = os.path.join(ROOT, ".bench_out", name)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    rounds = max(1, math.ceil(a.seconds / ROUND_SECONDS[a.workload]))

    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}", "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--rounds", str(rounds),
        "--trace", str(a.trace), "--data", DATA, "--out", out]
    if a.op is not None:
        cmd += ["--only", str(a.op)]
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    log = os.path.join(out, "jvm.log")
    t0 = time.time()
    code = run_logged(cmd, out, env, log, jvm_timeout(a.workload, rounds, a.trace == 1))
    if code != 0:
        print(tail(log), file=sys.stderr)
        fail("the benchmark JVM " + ("timed out" if code is None else f"exited with {code}"))
    print(f"perfbench: {a.workload} seed {a.seed} ran in {time.time() - t0:.1f} s", file=sys.stderr)

    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [json.loads(l) for l in f]
    with open(os.path.join(out, "rows.jsonl")) as f:
        rows = {r["idx"]: r["rows"] for r in map(json.loads, f)}
    with open(os.path.join(out, "metrics.json")) as f:
        metrics = json.load(f)["metrics"]
    failed = check.check_run(ops, rows, DATA, os.path.join(BUILD, "oracle-" + tree_hash([DATA])[:16]))
    attempted = sum(1 for r in ops if not r.get("replay_only"))
    with open(os.path.join(out, "check.json"), "w") as f:
        json.dump({str(k): v for k, v in failed.items()}, f, indent=1)
    for idx, why in sorted(failed.items()):
        print(f"perfbench: op {idx} failed: {why}", file=sys.stderr)

    for k, m in metrics.items():
        print(f"{k:32s} {m['value']:.6g} {m['unit']}")
    print(f"{'failed_ratio':32s} {len(failed) / attempted:.6g} ratio ({len(failed)} of {attempted} ops)")
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
