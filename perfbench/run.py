#!/usr/bin/env python3
"""graft benchmark: builds the harness from source, runs one workload for a
fixed time in a closed loop with one client, and prints its metrics.

    python3 perfbench/run.py --workload cdc_refresh --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, from a traced run over every workload. The lines before it print each
metric by name with its unit, the tail percentile and sample count, and the
reason of every failed op.

Inputs are generated from the testdata directory in $SPARK_GRAFT_SF_DIR
(default ~/testdata/sf0.1). Build outputs and scratch data stay under
$CARGO_TARGET_DIR (default .bench_build) in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import summarize  # noqa: E402

WORKLOADS = ("cdc_refresh", "training_graph")
JVM_TIMEOUT_S = 170
# the module opens Spark needs on JDK 17 outside spark-submit (as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every input to the build, so an unchanged tree is not rebuilt."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile graft and the harness with sbt; returns the runtime classpath."""
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspathAsJars"],
        cwd=os.path.join(root, "perfbench"), capture_output=True, text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    jsa = os.path.join(build_dir, "classes.jsa")
    if os.path.exists(jsa):  # archived classes of the previous build
        os.remove(jsa)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, work, build_dir):
    # A class-data archive of the harness classpath, dumped by the first run
    # and mapped by every later one, takes class loading off the set-up.
    jsa = os.path.join(build_dir, "classes.jsa")
    cds = ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa)
           else [f"-XX:ArchiveClassesAtExit={jsa}"])
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m"] + cds + [
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"] + ADD_OPENS
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            rc = -9
    if rc != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy the raw run record to this file")
    ap.add_argument("--selfcheck", action="store_true",
                    help="only generate every workload's inputs (seed twice, seed+1 once) "
                         "and print each table's fingerprints as JSON")
    a = ap.parse_args()
    if not a.selfcheck and (a.workload is None or a.seconds is None):
        ap.error("--workload and --seconds are required")

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala not found)")
    src = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")
    if not os.path.isdir(src):
        fail(f"testdata directory {src} not found (set SPARK_GRAFT_SF_DIR)")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)
    cores = min(len(os.sched_getaffinity(0)), 4)
    work = tempfile.mkdtemp(prefix="work-", dir=build_dir)
    try:
        rec_file = os.path.join(work, "record.json")
        if a.selfcheck:
            run_jvm(cp, ["--selfcheck", "1", "--seed", str(a.seed), "--cores", str(cores),
                         "--src", src, "--work", work, "--record", rec_file], work, build_dir)
            with open(rec_file) as f:
                print(f.read())
            return
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(cores), "--src", src,
                "--work", work, "--record", rec_file]
        run_jvm(cp, args, work, build_dir)
        with open(rec_file) as f:
            rec = json.load(f)
        if a.keep:
            shutil.copy(rec_file, a.keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace == 0:
        m, attempted, failed, correct, d = metrics.end_to_end(rec)
        for k, (v, u) in m.items():
            print(f"{k:<48} {v:>14.4f} {u}")
        # printed, not gated: a run holds 3-9 op samples of a few op kinds,
        # so both move by more than the bound from run to run (see README)
        print(f"{'op_p50_ms':<48} {d['op_p50_ms']:>14.4f} ms")
        print(f"{'op_tail_ms':<48} {d['op_tail_ms']:>14.4f} ms  (p{d['tail_percentile']:.1f}: "
              f"{d['tail_beyond']} of {d['samples']} op samples beyond it)")
        print(f"{d['passes']} passes; failed_frac {d['failed_frac']:.4f}")
        print("inputs: " + json.dumps(d["inputs"], sort_keys=True))
        for fl in d["failures"] + d["warm_failures"]:
            print(f"FAILED {fl}")
        if d["warm_check"]:
            print(f"FAILED warm pass check: {d['warm_check']}")
    else:
        attempted, failed, correct = 0, 0, True
        for name, w in rec["workloads"].items():
            print(f"{name} inputs: " + json.dumps(w["inputs"], sort_keys=True))
            for part in ("untraced", "traced"):
                for o in w[part]["ops"]:
                    attempted += 1
                    if not o["ok"]:
                        failed += 1
                        print(f"FAILED {name} {o['op']}: {o.get('error_class')} {o.get('error')}")
                bad = [p["check"] for p in w[part]["passes"] if p["check"]]
                failed += len(bad)
                for b in bad:
                    print(f"FAILED {name} pass check: {b}")
            correct = correct and not w["warm"]["errors"] and not w["warm"]["pass_check"]
        m = summarize.report(rec)
        correct = correct and failed == 0
    out = {"correct": bool(correct), "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
