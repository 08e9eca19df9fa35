#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload suite --seed 1 --seconds 20 --trace 0

Workloads: suite, crawl_cold, crawl_warm (see BENCHMARK.json), plus two
harness modes that are not timed workloads:

    --workload selftest   each output check must reject a corrupted output
    --workload record     reference outputs and digests for the suite

The first run compiles the engine (src/main/scala) and the harness
(perfbench/scala) with the Scala compiler shipped in the Spark jars, into
.bench_build/; later runs reuse the build while the sources are unchanged.
Each run is one JVM. Its full record (metrics, environment, canary) is printed
as a `record:` line and the last stdout line is the result JSON.
"""
import argparse
import hashlib
import json
import os
import re
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"

def spark_jars():
    """The Spark jar directory the sbt build compiles against (unmanagedBase)."""
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        die("build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


DATA = BENCH / "data" / "sf0.01"
JVM_TIMEOUT_S = 170
# the reference mode runs all queries twice and is not a timed workload
RECORD_TIMEOUT_S = 1800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def scalac(srcs, out, classpath, jars):
    out.mkdir(parents=True, exist_ok=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", str(out)]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + [f"@{argfile}"], capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die(f"compilation into {out.name} failed")


def build(jars):
    """Compile the engine, then the harness against it, when sources changed."""
    engine_src = ROOT / "src" / "main" / "scala"
    if not (jars / "scala-compiler-2.13.17.jar").exists():
        die(f"no Scala compiler in {jars}")
    t0 = time.time()
    built = False
    for name, srcs, cp in (("engine", sources(engine_src), None),
                           ("harness", sources(BENCH / "scala"), f"{BUILD / 'engine'}:{jars}/*")):
        h = hashlib.sha256()
        for p in srcs:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
        stamp = BUILD / f"{name}.stamp"
        # a rebuilt engine invalidates the harness compiled against it
        if not built and stamp.exists() and stamp.read_text() == h.hexdigest():
            continue
        subprocess.run(["rm", "-rf", str(BUILD / name), str(stamp)], check=True)
        scalac(srcs, BUILD / name, cp, jars)
        stamp.write_text(h.hexdigest())
        built = True
    if built:
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    if not DATA.is_dir():
        die(f"missing input tables {DATA}")
    if not (ROOT / "src" / "main" / "scala").is_dir():
        die("src/main/scala not found: run from the root of a repository checkout")
    jars = spark_jars()
    build(jars)
    out = BUILD / "records" / f"{a.workload}-{a.seed}-{a.trace}.json"
    if out.exists():
        out.unlink()
    log = BUILD / "logs" / f"{a.workload}-{a.seed}-{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap size keeps the peak RSS from following heap resizing
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{BUILD / 'harness'}:{BUILD / 'engine'}:{jars}/*",
              "perfbench.PerfBench", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--data", str(DATA),
              "--out", str(out)])
    cpu0 = cpu_times()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = p.wait(timeout=RECORD_TIMEOUT_S if a.workload == "record" else JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"run exceeded {JVM_TIMEOUT_S} s; log: {log}")
    if rc != 0 or not out.exists():
        sys.stderr.write("".join(open(log, errors="replace").readlines()[-40:]))
        die(f"harness exited with {rc}; log: {log}")
    record = json.loads(out.read_text())
    # share of CPU time the hypervisor gave to other guests during the run
    busy = [b - a for a, b in zip(cpu0, cpu_times())]
    record["env"]["steal_frac"] = round(busy[7] / max(1, sum(busy)), 4)
    print("record: " + json.dumps(record))
    result = {k: record[k] for k in ("correct", "attempted", "failed", "metrics")}
    spec_file = ROOT / "BENCHMARK.json"
    if spec_file.exists() and a.workload not in ("record", "selftest"):
        spec = json.loads(spec_file.read_text())
        wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
        got, metrics = record["metrics"], {}
        for m in wanted:
            if m["name"] in got:
                metrics[m["name"]] = got[m["name"]]
            elif a.trace == "1":
                # a layer this workload does not exercise
                metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
            else:
                die(f"workload {a.workload} did not report {m['name']}")
        result["metrics"] = metrics
    print(json.dumps(result))


if __name__ == "__main__":
    main()
