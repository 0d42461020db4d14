#!/usr/bin/env python3
"""perfbench: one closed-loop, single-client run of one workload.

    python3 perfbench/run.py --workload suite|ingest|corpus --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and
the bench driver with sbt into perfbench/target; inputs are generated
from the seed into perfbench/.work and reused behind a _SUCCESS marker.
The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics untraced, the per-layer metrics traced).
The exit code is non-zero when an output check fails.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
import gen  # noqa: E402

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
SUITE_SF = 0.01
SUITE_TABLE_SEED = 42
INGEST_SIZES = dict(seed_docs=5_000, batches=48, batch_docs=500,
                    backfill_docs=1_500, backfill_every=4,
                    near_dup_share=0.2, takedown_every=4, takedown_share=0.01,
                    maint_every=4)
CORPUS_SIZES = dict(docs=2_000, vectors=800, parts=4)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def read(path):
    with open(path) as f:
        return f.read()


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_quiet(cmd, cwd, env, timeout, log_path):
    """Run `cmd` in its own process group with output to `log_path`; on
    timeout or interruption the whole group is killed and waited for."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + driver once per source state; returns classpath."""
    target = os.path.join(BENCH, "target")
    cp_file, stamp_file = (os.path.join(target, "classpath.txt"),
                           os.path.join(target, "build.stamp"))
    stamp = source_stamp()
    if os.path.exists(stamp_file) and read(stamp_file) == stamp:
        return read(cp_file).strip()
    log("building with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    os.makedirs(WORK, exist_ok=True)
    rc = run_quiet(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "writeClasspath"], BENCH, env, BUILD_TIMEOUT_S,
                   os.path.join(WORK, "build.log"))
    if rc != 0 or not os.path.exists(cp_file):
        sys.exit(f"perfbench: build failed (rc={rc}), see {WORK}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return read(cp_file).strip()


def inputs(workload, seed):
    root = os.path.join(WORK, "inputs")
    if workload == "suite":
        return gen.ensure(root, "tables", SUITE_TABLE_SEED, sf=SUITE_SF)
    if workload == "ingest":
        return gen.ensure(root, "ingest", seed, **INGEST_SIZES)
    return gen.ensure(root, "corpus", seed, **CORPUS_SIZES)


def run_jvm(cp, workload, seed, seconds, trace, inp, extra=()):
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        return _run_jvm(cp, workload, seed, seconds, trace, inp, extra, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run_jvm(cp, workload, seed, seconds, trace, inp, extra, run_dir):
    out = os.path.join(run_dir, "result.json")
    cores = min(4, os.cpu_count() or 1)
    # fixed heap and young generation: the peak RSS then tracks retained
    # data instead of the collector's adaptive sizing; no perf-data file,
    # which the JVM would otherwise write outside the checkout
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--inputs", inp, "--work", run_dir,
            "--bench", BENCH, "--cores", str(cores), "--out", out,
            *extra])
    log_path = os.path.join(WORK, f"jvm-{workload}-s{seed}-t{trace}.log")
    rc = run_quiet(cmd, ROOT, dict(os.environ), JVM_TIMEOUT_S, log_path)
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: driver JVM failed (rc={rc}), see {log_path}")
    with open(out) as f:
        res = json.load(f)
    trace_file = os.path.join(run_dir, "trace.json")
    if trace and os.path.exists(trace_file):
        dst = os.path.join(WORK, f"trace-{workload}-s{seed}.json")
        shutil.copyfile(trace_file, dst)
        res["info"]["trace_file"] = os.path.relpath(dst, ROOT)
    return res


def final_line(res, trace):
    """The last stdout line: compact JSON, every requested metric."""
    metrics = res["layers"] if trace else res["metrics"]
    out = {"correct": res["failed"] == 0 and all(
               m["value"] is not None for m in metrics.values()),
           "attempted": res["attempted"], "failed": res["failed"],
           "metrics": metrics}
    return json.dumps(out, separators=(",", ":"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["suite", "ingest", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="suite: rewrite expected_digests.json from this run")
    a = ap.parse_args()
    # a SIGTERM unwinds like an exception, so child processes are reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no library sources next to perfbench/; run from "
                 "the root of a full checkout")
    t0 = time.time()
    cp = build()
    build_s = time.time() - t0
    t0 = time.time()
    inp, props = inputs(a.workload, a.seed)
    gen_s = time.time() - t0
    extra = ("--write-expected", os.path.basename(inp)) if a.write_expected else ()
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, inp, extra)
    info = dict(res["info"], inputs=props, build_s=round(build_s, 3),
                gen_s=round(gen_s, 3),
                fail_frac=res["failed"] / max(1, res["attempted"]))
    for f in res["failures"]:
        print(f"perfbench: FAILED {f}")
    print("perfbench: info " + json.dumps(info, separators=(",", ":")))
    line = final_line(res, a.trace)
    print(line, flush=True)
    return 0 if json.loads(line)["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
