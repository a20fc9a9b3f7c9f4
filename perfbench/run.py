#!/usr/bin/env python3
"""CDC-first benchmark of the log2sqlspark engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
      [--corrupt]

Builds the engine and the benchmark from source (once per source
state, into .bench_build/), launches one JVM on the compiled classpath
for the run, checks every output, and prints two lines: the full
record (`"schema":1`, with run metadata and units) and, last, the
summary `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json, with
`--trace 1` the per-layer ones. `--corrupt` damages one output on
purpose; the run must then fail. Exit code 0 only for a correct run.

Workloads, layers and the session are described in perfbench/config.json.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
OUT = os.path.join(ROOT, ".bench_out")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jars_dir():
    """The Spark jars the build compiles against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    die("no Spark jars (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_once(name, srcs, classpath, jars):
    """Compile `srcs` into .bench_build/<name> unless the same sources
    were compiled there already; returns the class directory."""
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    h.update(":".join(classpath).encode())
    stamp = h.hexdigest()
    dest = os.path.join(BUILD, name)
    stamp_file = os.path.join(dest, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", ":".join(classpath)]
    argfile = os.path.join(BUILD, f"{name}.sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    r = subprocess.run(cmd + ["@" + argfile], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die(f"compiling {name} failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest


def build(jars):
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        die(f"no engine sources at {os.path.relpath(main_src, ROOT)}")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        main = compile_once("main", sources(main_src), [], jars)
        bench = compile_once("bench", sources(os.path.join(HERE, "scala")), [main], jars)
    return [bench, main]


def heap_mb():
    """A quarter of the host's memory, between 2 and 3 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return max(2048, min(3072, kb // 4096))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        die("BENCHMARK.json not found")
    spec = json.load(open(bench_json))
    cfg = json.load(open(os.path.join(HERE, "config.json")))
    if args.workload not in cfg["workloads"]:
        die(f"unknown workload {args.workload}")
    jars = jars_dir()
    classpath = build(jars) + [os.path.join(jars, "*")]

    cores = min(os.cpu_count() or 1, cfg["max_cores"])
    heap = heap_mb()
    out = os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(out, 'derby.log')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath), "graft.queries.perfbench.PerfBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", DATA, "--out", out, "--cores", str(cores),
              "--config", os.path.join(HERE, "config.json")]
           + (["--corrupt"] if args.corrupt else []))
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=out)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    rec_path = os.path.join(out, "record.json")
    if rc != 0 or not os.path.exists(rec_path):
        sys.stderr.write(open(log_path, errors="replace").read()[-6000:])
        die(f"benchmark JVM exited with {rc}")
    rec = json.load(open(rec_path))

    # every metric the BENCHMARK.json names for this kind of run; a
    # per-layer metric of a layer the workload does not run reads 0
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    missing = []
    for m in names:
        got = rec["metrics"].get(m["name"])
        if got is None:
            layer = m["name"].split(".")[0]
            if args.trace and args.workload not in cfg["layers"].get(layer, {}).get("workloads", []):
                got = {"value": 0, "unit": m["unit"]}
            else:
                missing.append(m["name"])
                continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    if missing:
        rec["failures"].append(f"metrics not measured: {missing}")
    correct = rec["failed"] == 0 and not missing
    rec["correct"] = correct
    rec["heap_mb"] = heap

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "records.jsonl"), "a") as f:
        f.write(json.dumps(rec, sort_keys=False) + "\n")
    if os.path.exists(os.path.join(out, "spans.jsonl")):
        shutil.copy(os.path.join(out, "spans.jsonl"),
                    os.path.join(OUT, f"spans-{args.workload}-s{args.seed}.jsonl"))
    shutil.rmtree(out, ignore_errors=True)
    for f in rec["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps(rec))
    print(json.dumps({"correct": correct, "attempted": max(1, rec["attempted"]),
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
