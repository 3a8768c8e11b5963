#!/usr/bin/env python3
"""Repository benchmark: build the engine from source, run one workload, and
print one JSON summary line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The program and the benchmark are compiled
with the Scala compiler shipped in the Spark distribution into .bench_build/
(reused while the sources are unchanged). Scratch data goes to .bench_work/,
per-run result files (metrics, checks, environment, spans) to
.bench_results/. With --trace 0 the summary holds the end-to-end metrics
named in BENCHMARK.json, with --trace 1 the per-layer ones. Exits non-zero,
without a summary, when the build fails, the run fails or times out, or an
output check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BUILD = ".bench_build"
WORK = ".bench_work"
RESULTS = ".bench_results"
RUN_TIMEOUT_S = 170
HEAP = "2g"
# Per-layer metrics of layers a workload does not reach (see README.md);
# they report 0. Any other metric the run did not measure is an error.
NOT_REACHED = {
    "batch_commit": ("sources.", "functions.", "queries.", "parse.xycut_failed_pages"),
    "turn_latency": ("spark.", "table."),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory: SPARK_JARS, else the one build.sbt compiles against."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        fail("no Spark jar directory: set SPARK_JARS or run from the root of a checkout")
    return m.group(1)


def sources():
    here = os.path.dirname(os.path.abspath(__file__))
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(os.path.join(here, "src", "**", "*.scala"), recursive=True))
    return prog, bench


def build(jars_dir):
    """Compile program + benchmark once per source state; returns classes dir."""
    prog, bench = sources()
    if not prog or not os.path.isdir("src/main/resources"):
        fail("no program sources under src/main (run from the root of a checkout)")
    if not glob.glob(os.path.join(jars_dir, "scala-compiler-*.jar")):
        fail(f"no Scala compiler under {jars_dir}")
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "classes.tmp")
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(prog + bench) + "\n")
    cp = os.path.join(jars_dir, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"build {time.time() - t0:.1f} s", flush=True)
    return classes


def cpu_stat():
    """Aggregate /proc/stat cpu line: (total jiffies, steal jiffies)."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f[:8]), (f[7] if len(f) > 7 else 0)
    except OSError:
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["batch_commit", "turn_latency"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    jars_dir = spark_jars()
    classes = build(jars_dir)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.abspath(os.path.join(RESULTS, f"{a.workload}-s{a.seed}-t{a.trace}.json"))
    if os.path.exists(out):
        os.remove(out)

    here = os.path.dirname(os.path.abspath(__file__))
    jvm_flags = [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={os.path.abspath(os.path.join(WORK, 'tmp'))}",
                 f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
                 "-Dspark.ui.enabled=false"]
    add_opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([os.path.abspath(classes), os.path.abspath("src/main/resources"),
                          os.path.join(jars_dir, "*")])
    cmd = ["java"] + jvm_flags + add_opens + ["-cp", cp, "perfbench.Main",
                                  "--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--work", os.path.abspath(WORK), "--out", out]

    env0 = {"nproc": os.cpu_count(), "load_before": loadavg()}
    tot0, steal0 = cpu_stat()
    t0 = time.time()
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    tot1, steal1 = cpu_stat()
    env = dict(env0, load_after=loadavg(), wall_s=round(time.time() - t0, 3),
               steal_share=round((steal1 - steal0) / max(1, tot1 - tot0), 6),
               jvm_flags=jvm_flags)
    print("env " + json.dumps(env), flush=True)
    if not os.path.exists(out):
        fail(f"run exited with code {code} and wrote no result")
    with open(out) as fh:
        res = json.load(fh)
    res["env"] = env
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1)
    shutil.rmtree(WORK, ignore_errors=True)
    if code != 0 or not res["correct"]:
        bad = [c for c in res["checks"] if not c["ok"]]
        fail(f"output checks failed: {bad} (exit code {code})")

    have = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        if m["name"] in have:
            value = have[m["name"]]["value"]
        elif a.trace and m["name"].startswith(NOT_REACHED[a.workload]):
            value = 0
        else:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": True, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
