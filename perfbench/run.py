#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload snapshot-scan --seed 1 --seconds 15 --trace 0

Run from the repository root. Compiles the engine (src/main/scala) together
with the benchmark (perfbench/src) into .bench_build/perfbench/ the first
time, or when a source changed, then runs one workload in one JVM and
prints, as the last line of standard output, one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1).

Other modes:
    --record-golden            re-record perfbench/golden/query_pack.json
    --write-benchmark-json     write BENCHMARK.json from perfbench/catalog.py
"""
import argparse
import hashlib
import json
import os
import pathlib
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import catalog  # noqa: E402

BUILD = pathlib.Path(".bench_build") / "perfbench"
SOURCE_DIRS = [pathlib.Path("src/main/scala"), pathlib.Path("perfbench/src")]
RUN_TIMEOUT_S = 170
GOLDEN_TIMEOUT_S = 1800
BUILD_TIMEOUT_S = 600

# Spark on JDK 17 outside spark-submit needs these (the list build.sbt uses)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME, else the first
    spark-submit on PATH that sits in a Spark distribution."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        pathlib.Path(d, "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if pathlib.Path(d, "spark-submit").is_file()]
    for home in homes:
        jars = pathlib.Path(home) / "jars"
        if jars.is_dir():
            return f"{jars}/*"
    fail("no Spark jars found: set SPARK_HOME")


def sources():
    for d in SOURCE_DIRS:
        if not d.is_dir():
            fail(f"{d} not found: run from the repository root")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def run_child(cmd, timeout):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"timed out after {timeout} s: {cmd[0]}")
    return proc.returncode, out


def build():
    """Compile with scalac when the sources' content hash changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    classes = BUILD / "classes"
    stamp = BUILD / "classes.sha256"
    if stamp.is_file() and stamp.read_text() == digest:
        return classes
    if classes.exists():
        subprocess.run(["rm", "-rf", str(classes)], check=True)
    classes.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    jars = spark_jars()
    code, out = run_child(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(classes), "-classpath", jars, f"@{argfile}"],
        BUILD_TIMEOUT_S)
    if code != 0:
        sys.stderr.write(out)
        fail("compilation failed")
    stamp.write_text(digest)
    return classes


def java_cmd(classes, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", *opens, "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.configurationFile=perfbench/log4j2.properties",
             "-cp", f"{spark_jars()}:{classes}", "perfbench.Main"] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=catalog.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true")
    ap.add_argument("--write-benchmark-json", action="store_true")
    a = ap.parse_args()

    if a.write_benchmark_json:
        pathlib.Path("BENCHMARK.json").write_text(
            json.dumps(catalog.benchmark_json(), indent=2) + "\n")
        return 0
    names = [n for n, _ in catalog.WORKLOADS + catalog.LAYER_WORKLOADS]
    if not a.record_golden and a.workload not in names:
        fail(f"--workload must be one of {names}")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    classes = build()
    wl = "record-golden" if a.record_golden else a.workload
    code, out = run_child(java_cmd(classes, [
        "--workload", wl, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace)]),
        GOLDEN_TIMEOUT_S if a.record_golden else RUN_TIMEOUT_S)
    result = None
    units = catalog.units()
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("metric "):
            print(line, units.get(line.split()[1], ""))
        else:
            print(line)
    if a.record_golden:
        return code
    if result is None:
        fail(f"the benchmark printed no result (exit {code})")

    wanted = catalog.PER_LAYER if a.trace else catalog.END_TO_END
    metrics, missing = {}, []
    for name, *_ in wanted:
        if name in result["metrics"]:
            metrics[name] = {"value": result["metrics"][name],
                             "unit": units[name]}
        else:
            missing.append(name)
    if missing:
        print(f"missing metrics: {', '.join(missing)}")
    correct = bool(result["correct"]) and not missing and code == 0
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
