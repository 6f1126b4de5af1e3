#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload analytics-cold --seed 1 --seconds 15 --trace 0

Run from the repo root. The first run builds the harness and graft's
sources with sbt into perfbench/target (later runs reuse it while the
sources are unchanged). The harness (perfbench/src/main/scala/graft/perfbench)
runs the workload at local[<cores>] with a single closed-loop client;
this script checks every op's output against expected.json, writes the
run's artifact to perfbench/out/ and prints, as its last stdout line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). See perfbench/README.md.
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

import check
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALES = ["sf0.01", "sf0.001"]  # timed runs; smoke runs
SMALL = os.path.join(HERE, "data", "sf0.001")  # each set-up runs one op on it
EXPECTED = os.path.join(HERE, "expected.json")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
# workload -> time limit of its JVM. BENCHMARK.json lists the first two,
# which must end within the per-run limit; each cold workload runs its
# whole query family once, for a deeper look at one family
WORKLOADS = {"session-warm": 160, "stream-events": 160, "analytics-cold": 600, "curation-cold": 600}
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, for the rebuild stamp."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("Spark not found: set SPARK_HOME")
    return home


def build():
    """Compile graft plus the harness; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("graft's sources (src/main/scala) are not beside perfbench/")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    sbt = shutil.which("sbt") or die("sbt not found on PATH")
    env = dict(os.environ, SPARK_HOME=spark_home())
    p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "target" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    open(cp_file, "w").write(lines[-1].strip())
    open(stamp_file, "w").write(stamp)
    return lines[-1].strip()


def work_dir(name):
    d = os.path.join(WORK, f"{name}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def clean(d):
    shutil.rmtree(d, ignore_errors=True)


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def harness(args, timeout):
    """Run the harness JVM in its own process group; kill and reap the
    whole group if it overruns."""
    cp = build()
    out = args[args.index("--out") + 1]
    # a fixed, pre-touched heap: its resident size is then constant, so
    # the peak resident set minus the heap is the memory outside it
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={out}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Harness", "--small", SMALL, "--expected", EXPECTED]
           + args)
    # two malloc arenas: native memory then follows what the program
    # allocates rather than how many threads happened to get an arena
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=f"{out}/tmp",
               MALLOC_ARENA_MAX="2")
    log = open(os.path.join(out, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        clean(out)
        die("stopped")
    # a stopped run takes its JVM with it
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"harness exceeded {timeout} s")
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
        log.close()
    if p.returncode != 0:
        sys.stderr.write("".join(l for l in open(os.path.join(out, "jvm.log"))
                                 if "perfbench" in l or "Exception" in l)[-4000:])
        die(f"harness exited with {p.returncode}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=SCALES, default=SCALES[0],
                    help="data scale; sf0.001 is the smoke scale")
    a = ap.parse_args()
    data = os.path.join(HERE, "data", a.scale)
    if not os.path.isfile(EXPECTED) or not os.path.isdir(data):
        die("expected.json or the benchmark data is missing")
    expected = json.load(open(EXPECTED))[a.scale]
    out = work_dir(f"{a.workload}-s{a.seed}-t{a.trace}")
    t0 = time.time()
    harness(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--out", out, "--data", data],
            timeout=WORKLOADS[a.workload])
    run = json.load(open(os.path.join(out, "run.json")))
    spans = []
    if a.trace:
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f]
    t1 = time.time()
    # output checks, outside the timed window
    failed = check.check_ops(run["ops"], expected)
    print(f"perfbench: harness {t1 - t0:.1f} s, output checks {time.time() - t1:.1f} s",
          file=sys.stderr)
    attempted = len(run["ops"])
    picked = metrics.per_layer(run, spans, failed) if a.trace else metrics.end_to_end(run)
    for o in run["ops"]:
        o.pop("result", None)
    os.makedirs(OUT, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    artifact = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}.json")
    with open(artifact, "w") as f:
        json.dump({"run": run, "spans": spans, "metrics": picked, "wall": metrics.latency(run)}, f)
    clean(out)
    print(f"perfbench: workload={a.workload} seed={a.seed} passes={run['passes']} "
          f"ops={attempted} failed={failed} artifact={os.path.relpath(artifact, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in picked.items()}}))


if __name__ == "__main__":
    main()
