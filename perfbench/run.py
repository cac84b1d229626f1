#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload batch_backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the harness and the
engine from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Inputs are generated by a JVM of
their own when the seed's are not cached yet, so the measured JVM's set-up
never includes generation. Everything the run writes stays in the checkout:
build output under perfbench/target, generated inputs, traces and run
records under perfbench/.work.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. The exit code is 1 when an output check
failed and 2 when the checkout has no engine to build.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")
WORKLOADS = ("batch_backfill", "stream_arrivals")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
KEEP_SEEDS = 6
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build compiles, so edits trigger a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile and package once per source stamp; returns (classpath, stamp)."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1], stamp
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    env = dict(os.environ, GRAFT_SPARK_JARS=jars)
    print("[perfbench] building (sbt package)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(p.stdout[-4000:])
    if p.returncode != 0:
        fail("build failed", 1)
    cp = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath", 1)
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(stamp + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip(), stamp


def jvm_command(classpath, extra, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    return [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap, so heap growth does not land in the timed runs
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
    ] + extra + ["-cp", classpath, "graft.perfbench.PerfBench", "--work", WORK] + args


def run_jvm(cmd, stdout, timeout):
    """Run one benchmark JVM in its own process group; kill it on timeout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=stdout,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


def generate(classpath, extra, workload, seed, trace):
    """Write the inputs of one run in a JVM of its own; a no-op when cached."""
    cmd = jvm_command(classpath, extra, [
        "--workload", workload, "--seed", str(seed), "--seconds", "0",
        "--trace", str(trace), "--generate", "1"])
    code, _ = run_jvm(cmd, sys.stderr, JVM_TIMEOUT_S)
    if code != 0:
        fail(f"input generation exited {code}", 1)


def class_archive(classpath, stamp):
    """JVM class-data-sharing archive of the build's classes, made once per
    build by a short stream_arrivals run (it loads the pipeline, sink and
    streaming classes) and mapped by every measured run: it cuts JVM and
    Spark start-up by several seconds. Returns the JVM flags that use it."""
    archive = os.path.join(HERE, "target", f"perfbench-{stamp[:16]}.jsa")
    failed = archive + ".failed"
    if not os.path.exists(archive) and not os.path.exists(failed):
        for old in os.listdir(os.path.dirname(archive)):
            if old.startswith("perfbench-") and ".jsa" in old:
                os.remove(os.path.join(os.path.dirname(archive), old))
        print("[perfbench] dumping the class archive", file=sys.stderr)
        generate(classpath, [], "stream_arrivals", 0, 0)
        cmd = jvm_command(classpath, [f"-XX:ArchiveClassesAtExit={archive}.tmp"], [
            "--workload", "stream_arrivals", "--seed", "0", "--seconds", "1", "--trace", "0"])
        code, _ = run_jvm(cmd, sys.stderr, BUILD_TIMEOUT_S)
        if code == 0 and os.path.exists(archive + ".tmp"):
            os.replace(archive + ".tmp", archive)
        else:
            # run without the archive rather than retry the dump every run
            open(failed, "w").close()
    return [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []


def prune_generated():
    """Keep the inputs of the most recently used seeds only."""
    gen = os.path.join(WORK, "gen")
    seeds = []
    for d, dirs, _ in os.walk(gen):
        seeds += [os.path.join(d, s) for s in dirs if s.startswith("seed-")]
        dirs[:] = [s for s in dirs if not s.startswith("seed-")]
    seeds.sort(key=os.path.getmtime, reverse=True)
    for s in seeds[KEEP_SEEDS:]:
        shutil.rmtree(s, ignore_errors=True)


def metric_names(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "Pipeline.scala")):
        fail("no engine sources in this checkout (src/main/scala/graft)")
    wanted = metric_names(args.trace)
    classpath, stamp = build(spark_jars())
    os.makedirs(WORK, exist_ok=True)
    os.utime(WORK)
    prune_generated()
    cds = class_archive(classpath, stamp)
    generate(classpath, cds, args.workload, args.seed, args.trace)
    cmd = jvm_command(classpath, cds, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace)])
    code, stdout = run_jvm(cmd, subprocess.PIPE, JVM_TIMEOUT_S)
    if code is None:
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s", 3)

    lines = stdout.splitlines()
    result = None
    for line in lines:
        if result is None and line.startswith('{"correct"'):
            result = json.loads(line)
        else:
            print(line)
    if result is None:
        fail(f"benchmark JVM exited {code} without a result", 1)

    got = result["metrics"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in got:
            metrics[name] = {"value": got[name]["value"], "unit": m["unit"]}
        elif args.trace:
            # a layer the workload does not run reports zero work
            metrics[name] = {"value": 0, "unit": m["unit"]}
        else:
            print(f"[perfbench] end-to-end metric {name} missing", file=sys.stderr)
            result["correct"] = False
    if not args.trace and any(not v["value"] or v["value"] <= 0 for v in metrics.values()):
        print("[perfbench] an end-to-end metric is not positive", file=sys.stderr)
        result["correct"] = False
    out = {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
           "failed": int(result["failed"]), "metrics": metrics}
    print(json.dumps(out))
    sys.exit(0 if out["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
