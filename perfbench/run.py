#!/usr/bin/env python3
"""The repo benchmark: one timed, cold pass of one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness together with the checkout's engine sources (sbt,
offline; skipped while the sources are unchanged), runs one JVM for the
pass and prints, as the last line of stdout, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are BENCHMARK.json's `end_to_end` ones, with `--trace 1` its
`per_layer` ones. Progress and failures go to stderr.

`--seconds` is the run's time budget for the pass: a workload sized so
that its pass fits is run once; the number is checked, not used to
stop a pass early (every operation runs exactly once).

Recording expected outputs on a known-good commit:

    python3 perfbench/run.py --workload <name> --seed <n> --record
    python3 perfbench/run.py --freeze

`--record` runs without checking and keeps the observed digests under
perfbench/.record; `--freeze` writes perfbench/expected.json from every
recorded run, checking by row count only those results whose digest
differed between runs.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TARGET = os.path.join(BENCH, "target")
DATA = os.path.join(BENCH, "data")
EXPECTED = os.path.join(BENCH, "expected.json")
RECORDED = os.path.join(BENCH, ".record")
SPANS = os.path.join(BENCH, ".spans")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
RUN_LIMIT_S = 170
HEAP = "-Xmx8g"  # the root build's default heap

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def clean_env():
    """The environment for sbt and the JVM: offline resolution, and no
    SPARK_GRAFT_* knob from the caller's shell leaking into the run."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the harness and the engine; returns the runtime classpath."""
    cp_file = os.path.join(TARGET, "bench-classpath.txt")
    stamp_file = os.path.join(TARGET, "bench-stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "compile", "writeClasspath"], cwd=BENCH,
                       env=clean_env(), stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"build failed with code {r.returncode}")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read()


def run_jvm(cp, args, deadline):
    """Run the harness JVM in its own process group; kill the group if it
    outlives the deadline, or if this script is told to stop. Returns
    the exit code."""
    cmd = ["java", HEAP] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "-cp", cp, "perfbench.Main"] + args
    p = subprocess.Popen(cmd, cwd=ROOT, env=clean_env(), stdout=sys.stderr,
                         stderr=sys.stderr, start_new_session=True)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()

    def on_signal(signum, _):
        stop()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit; stopping the JVM")
        stop()
        return -1


def freeze():
    observed = {}
    for path in sorted(glob.glob(os.path.join(RECORDED, "observed-*.json"))):
        with open(path) as f:
            for name, digest in json.load(f).items():
                observed.setdefault(name, []).append(digest)
    if not observed:
        fail("no recorded runs under perfbench/.record (run with --record first)")
    expected = {}
    for name, ds in sorted(observed.items()):
        if len(set(ds)) == 1:
            if len(ds) < 2:
                fail(f"{name} was recorded once; record at least two seeds")
            expected[name] = {"value": ds[0]}
        else:
            rows = {d.split(":")[0] for d in ds}
            if len(rows) != 1:
                fail(f"{name} returned different row counts across runs: {sorted(rows)}")
            expected[name] = {"value": rows.pop(), "reason":
                              f"hash sum differed across {len(ds)} recorded runs; row count only"}
    with open(EXPECTED, "w") as f:
        json.dump({"expected": expected}, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"wrote {len(expected)} expected results to perfbench/expected.json")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=60)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--freeze", action="store_true")
    a = ap.parse_args()
    if a.freeze:
        return freeze()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload!r}")
    if not os.path.isdir(ENGINE_SRC):
        fail("engine sources (src/main) not found: run from the root of a checkout")
    if not a.record and not os.path.exists(EXPECTED):
        fail("perfbench/expected.json not found")
    for sf in ("sf0.1", "sf0.001"):
        if not glob.glob(os.path.join(DATA, sf, "*.parquet")):
            fail(f"input tables missing under perfbench/data/{sf}")

    # one run at a time per checkout: runs share the build and scratch dirs
    os.makedirs(TARGET, exist_ok=True)
    lock = open(os.path.join(TARGET, "run.lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fail("another benchmark run is using this checkout")
    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(SPANS, exist_ok=True)
    out = os.path.join(WORK, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
            "--data", DATA, "--work", WORK, "--out", out,
            "--spans", os.path.join(SPANS, f"{a.workload}-{a.seed}.json"),
            "--expected", os.path.join(WORK, "none.json") if a.record else EXPECTED]
    t_run = time.time()
    code = run_jvm(cp, args, t_run + RUN_LIMIT_S)
    if code != 0 or not os.path.exists(out):
        fail(f"harness exited with code {code}", 1)
    with open(out) as f:
        res = json.load(f)

    for fl in res["failures"]:
        log(f"FAILED {fl['op']}: {fl['error']}")
    if a.record:
        path = os.path.join(RECORDED, f"observed-{a.workload}-{a.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(res["observed"], f, indent=1, sort_keys=True)
        log(f"recorded {len(res['observed'])} digests to {os.path.relpath(path, ROOT)}")

    wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    metrics = {}
    for m in wanted:
        if m["name"] not in res["metrics"]:
            fail(f"harness did not report metric {m['name']}", 3)
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}
    pass_s = res["metrics"]["wall_s"]
    if pass_s > a.seconds:
        log(f"note: the pass took {pass_s:.1f} s, over the {a.seconds} s budget")
    log(f"run took {time.time() - t_start:.1f} s ({time.time() - t_run:.1f} s in the JVM)")
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
