#!/usr/bin/env python3
"""Build the library with the benchmark harness and run one workload.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the library's
sources together with the harness (sbt, offline); later runs reuse the
build while no source file has changed. Every file the run creates stays
under `.bench_build/` in the checkout.

The last line of standard output is the result object. With `--trace 1`
the per-layer metrics also carry `trace.overhead_pct`: how much the traced
run's median unit latency exceeds that of untraced runs of the same
workload and length kept in `.bench_build` (the same seed's when there is
one, else the median over the seeds kept; with none kept, an untraced run
of the same seed is made first).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "e2ebench")
WORKLOADS = ("ingest_backlog", "ingest_live", "corpus_dedup")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Pinned for a 4-core machine; the heap is fixed so live-heap and GC figures
# compare across runs.
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in (os.path.join("src", "main"), os.path.join("e2ebench", "src", "main")):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out += [os.path.join("e2ebench", "build.sbt"), os.path.join("e2ebench", "project", "build.properties")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no library sources under src/main/scala; run from the root of a checkout")
    files = sources()
    st = stamp(files)
    record = os.path.join(BUILD, "classpath.json")
    if os.path.exists(record):
        with open(record) as fh:
            rec = json.load(fh)
        if rec.get("stamp") == st:
            return rec["classpath"], st
    os.makedirs(BUILD, exist_ok=True)
    for f in os.listdir(BUILD):  # class archives of earlier builds
        if f.startswith("classes-") and f.endswith(".jsa"):
            os.remove(os.path.join(BUILD, f))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                 "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
                 "-Dsbt.server.forcestart=false", "compile", "export Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        fh.write(p.stdout)
    cp = [l for l in p.stdout.splitlines() if l.startswith("/") and "classes" in l]
    if p.returncode != 0 or not cp:
        fail(f"build failed; see {log}")
    with open(record, "w") as fh:
        json.dump({"stamp": st, "classpath": cp[-1]}, fh)
    return cp[-1], st


def run_jvm(build, workload, seed, seconds, trace):
    """Run the harness once; returns (exit code, stdout lines).

    The first run of a build dumps the classes it loaded into a class-data
    sharing archive, and later runs map it: the JVM's cold start then loads
    fewer classes from jars. Only class loading changes, so only the noted
    cold start moves; every metric is taken from a warm JVM.
    """
    cp, st = build
    jsa = os.path.join(BUILD, f"classes-{st[:16]}.jsa")
    cds = f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else f"-XX:ArchiveClassesAtExit={jsa}"
    work = os.path.join(BUILD, "runs", f"{workload}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch", cds,
           # JVM log lines (e.g. the archive's) must not follow the result line
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "e2ebench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--dir", work]
    with open(os.path.join(BUILD, f"{workload}.stderr.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{workload} did not finish within {JVM_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    return p.returncode, out.splitlines()


def e2e_values(lines):
    """The `e2e <name> <value> <unit>` lines a run prints."""
    out = {}
    for l in lines:
        parts = l.split()
        if len(parts) == 4 and parts[0] == "e2e":
            out[parts[1]] = float(parts[2])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    build = classpath()

    # untraced latency_p50_ms per seed, the reference for tracing overhead
    cache = os.path.join(BUILD, "untraced", a.workload, str(a.seconds))
    os.makedirs(cache, exist_ok=True)
    refs = {}
    for f in os.listdir(cache):
        with open(os.path.join(cache, f)) as fh:
            refs[int(f.split(".")[0])] = json.load(fh)["latency_p50_ms"]
    if a.trace == 1 and not refs:
        code, lines = run_jvm(build, a.workload, a.seed, a.seconds, 0)
        if code != 0:
            print("\n".join(lines))
            fail(f"untraced reference run exited {code}")
        refs[a.seed] = e2e_values(lines)["latency_p50_ms"]
        with open(os.path.join(cache, f"{a.seed}.json"), "w") as fh:
            json.dump({"latency_p50_ms": refs[a.seed]}, fh)

    code, lines = run_jvm(build, a.workload, a.seed, a.seconds, a.trace)
    if not lines or not lines[-1].startswith("{"):
        print("\n".join(lines))
        fail(f"{a.workload} printed no result (exit {code})")
    result = json.loads(lines[-1])
    mine = e2e_values(lines)
    if a.trace == 0 and code == 0:
        with open(os.path.join(cache, f"{a.seed}.json"), "w") as fh:
            json.dump({"latency_p50_ms": mine["latency_p50_ms"]}, fh)
    if a.trace == 1:
        if a.seed in refs:
            ref, what = refs[a.seed], f"seed {a.seed}"
        else:
            ref, what = statistics.median(refs.values()), f"median of {len(refs)} seeds"
        over = (mine["latency_p50_ms"] - ref) / ref * 100
        result["metrics"]["trace.overhead_pct"] = {"value": over, "unit": "%"}
        lines.insert(-1, f"note  trace.overhead_pct: latency_p50_ms traced {mine['latency_p50_ms']} "
                         f"vs untraced {ref} ({what})")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
