#!/usr/bin/env python3
"""Benchmark of the graft engine: three workloads, timed end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the harness (perfbench/src) with the Scala compiler
that ships in Spark's jars, into .bench_build/; later runs reuse it while
the sources are unchanged. Each run then:

  1. starts one JVM running Spark as local[nproc] with scratch, temp and
     checkpoint directories pinned under .bench_build/;
  2. makes its inputs (the ingest backlog, generated from the seed inside
     the JVM; the query workloads read the engine's sf0.01 reference
     tables in perfbench/data/, and the seed orders their passes);
  3. warms up, then times whole passes over the workload for --seconds;
  4. checks every output, and prints one JSON result line last.

With --trace 1 the run times untraced passes, then traced ones, and
reports the per-layer figures instead of the end-to-end ones; the span
log of the traced passes is kept in .bench_build/traces/.

Workloads: ingest_pipeline, stream_roundtrips, analytic_mix.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest_pipeline", "stream_roundtrips", "analytic_mix")
# The query workloads' tables: the engine's sf0.01 reference testdata,
# fixed so expected.json can pin each query's output; the seed orders the
# operations of each pass instead.
DATA = os.path.join(HERE, "data", "sf0.01")
# The JVM's time limit: session start and the warm pass, plus each
# --seconds stretch of passes (one, or four when traced: timed, traced,
# untraced and the layer probes), with room for a slow host.
SETUP_ALLOWANCE_S = 120
SLOWDOWN = 3

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        die(f"no engine sources at {engine}: run from the root of a checkout")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile engine + harness once per source digest; return the classes dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("compile failed")
    open(os.path.join(out, ".done"), "w").close()
    return out


def cpu_times():
    """(total, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7]
    except (OSError, IndexError, ValueError):
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None


def run_jvm(classes, jars, args, work, cpus, timeout):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            f"-Dspark.sql.streaming.checkpointLocation={os.path.join(work, 'checkpoints')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.codegen.cache.maxEntries=5000"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "graftbench.Main"]
           + args + ["--cpus", str(cpus), "--launch-ms", str(int(time.time() * 1000))])
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                         start_new_session=True)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    finally:
        log.close()
    return p.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 1,
                    help="Spark local[N] threads (default: every CPU)")
    ap.add_argument("--selftest", action="store_true",
                    help="run only the ingest ground-truth checker's own tests")
    ap.add_argument("--record", metavar="DIR",
                    help="write the query workloads' outputs and fingerprints to DIR "
                         "instead of timing (see perfbench/README.md)")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        die(f"no input tables at {DATA}")
    jars = spark_jars()
    classes = build(jars)
    cpus = a.cpus
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        timeout = SETUP_ALLOWANCE_S + (1 + 3 * a.trace) * a.seconds * SLOWDOWN
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--data", DATA,
                "--expected", os.path.join(HERE, "expected.json")]
        if a.selftest:
            rc = run_jvm(classes, jars, args + ["--out", out, "--mode", "selftest"], work, cpus,
                         timeout)
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stdout.write("".join(l for l in f if l.startswith("selftest")))
            sys.exit(rc)
        if a.record:
            rec = os.path.abspath(a.record)
            rc = run_jvm(classes, jars, args + ["--out", rec, "--mode", "record"], work, cpus,
                         timeout)
            if rc != 0:
                die(f"record run failed (exit {rc}); see {work}/jvm.log")
            print(f"recorded to {rec}; check with: python3 tools/check.py "
                  f"{os.path.relpath(DATA)} {rec}")
            return
        cpu0, load0 = cpu_times(), loadavg()
        rc = run_jvm(classes, jars, args + ["--out", out], work, cpus, timeout)
        cpu1, load1 = cpu_times(), loadavg()
        if rc != 0 or not os.path.isfile(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            die(f"benchmark JVM failed (exit {rc})")
        with open(out) as f:
            r = json.load(f)
        steal = None
        if cpu0 and cpu1 and cpu1[0] > cpu0[0]:
            steal = (cpu1[1] - cpu0[1]) / (cpu1[0] - cpu0[0])
        info = r["info"]
        environment = {"cpus": cpus, "loadavg_start": load0, "loadavg_end": load1,
                       "steal_share": steal, "tables": os.path.relpath(DATA, ROOT)}
        if a.trace:
            metrics = info.pop("layers")
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
        else:
            metrics = r["metrics"]
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "environment": environment, "failures": r["failures"], "info": info,
                  "metrics": metrics}
        with open(os.path.join(BUILD, "runs.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
        own = dict(info.get("workload_metrics", {}))
        own["failed_ratio"] = r["failed"] / max(1, r["attempted"])
        print("# " + json.dumps({"workload": a.workload, "environment": environment,
                                 "workload_metrics": own, "failures": r["failures"][:20]}))
        print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                          "failed": r["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
