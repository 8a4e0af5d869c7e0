#!/usr/bin/env python3
"""Extraction benchmark: builds the engine from source, generates a seeded
workload, runs it in a fresh JVM and prints one JSON result line.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run it from the repository root. Build output, generated inputs and span
dumps go to `.bench_build/` there. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("crawl", "office_docs", "curate")
BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
OUT = ROOT / ".bench_build"

# Spark 4 on JDK 17 outside spark-submit needs the module opens build.sbt lists
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# the bounded metrics BENCHMARK.json lists; the latency percentiles and
# mismatch_ratio are printed beside them (README.md says why)
END_TO_END = [("docs_per_s", "docs/s"), ("docs_per_s_1core", "docs/s"),
              ("setup_s", "s"), ("peak_live_heap_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def jar_dir():
    """The Spark/Scala jar directory the project build declares."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    d = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not list(d.glob("spark-core_*.jar")):
        fail(f"no Spark jars in {d}")
    return d


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main or not (ROOT / "build.sbt").is_file():
        fail("run from the repository root: src/main/scala and build.sbt are missing")
    return main + sorted((BENCH / "src").glob("*.scala"))


def build(jars, srcs):
    """Compile the engine and the benchmark with the Scala compiler the jar
    directory ships; skipped when the sources are unchanged."""
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    classes = OUT / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT / 'tmp'}",
                        "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail("compilation failed")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    log(f"compiled in {time.time() - t0:.1f}s")
    return classes


def java_cmd(classes, jars, main, args, heap="2g", young="1536m"):
    cp = os.pathsep.join([str(classes), str(ROOT / "src" / "main" / "resources"), f"{jars}/*"])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap with a large young generation: in a half-minute JVM the
    # collector's adaptive sizing would otherwise still be growing the young
    # generation while measuring, and frequent young collections set the
    # latency tail
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Xmn{young}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={OUT / 'tmp'}", "-Dspark.ui.enabled=false"] + opens +
            ["-cp", cp, main] + [str(a) for a in args])


def run_jvm(cmd, timeout):
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"timed out: {' '.join(cmd[-8:])}")
    if rc != 0:
        fail(f"exit {rc}: {' '.join(cmd[-8:])}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    srcs = sources()
    jars = jar_dir()
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    classes = build(jars, srcs)
    cores = len(os.sched_getaffinity(0))
    work = OUT / "work" / f"{a.workload}-{a.seed}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    deadline = time.time() + 170

    try:
        t0 = time.time()
        run_jvm(java_cmd(classes, jars, "extractous.perfbench.Gen",
                         [a.workload, a.seed, work, cores]), timeout=90)
        log(f"generated inputs in {time.time() - t0:.1f}s")

        result = work / "result.json"
        t_launch = time.time()
        run_jvm(java_cmd(classes, jars, "extractous.perfbench.Main",
                         [a.workload, work, a.seconds, a.trace, cores, result]),
                timeout=max(10, deadline - time.time()))
        r = json.loads(result.read_text())
        r["setup_s"] = r["first_doc_ms"] / 1000.0 - t_launch

        if a.trace:
            metrics = {k: {"value": v, "unit": r["layer_units"][k]} for k, v in r["layers"].items()}
            extra = {}
            spans = OUT / "trace" / f"{a.workload}-seed{a.seed}.spans.tsv"
            spans.parent.mkdir(exist_ok=True)
            if (work / "trace" / "spans.tsv").exists():
                shutil.copy(work / "trace" / "spans.tsv", spans)
                log(f"span dump: {spans}")
        else:
            metrics = {k: {"value": r[k], "unit": unit} for k, unit in END_TO_END}
            extra = {k: (r[k], "us") for k in ("doc_lat_p50_us", "doc_lat_p999_us")}
            log(f"latency leg: {r['latency_calls']} calls, {r['latency_beyond_p999']} beyond p99.9")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = int(r["attempted"]), int(r["mismatches"])
    extra["mismatch_ratio"] = (failed / attempted, "ratio")
    for k, m in metrics.items():
        print(f"{k:34s} {m['value']:14.6g} {m['unit']}")
    for k, (v, unit) in extra.items():
        print(f"{k:34s} {v:14.6g} {unit}")
    # a traced run is also incorrect when its layers do not add up to
    # Extract.apply within 10% (README.md, trace.residual_ratio)
    correct = failed == 0 and r.get("residual_ok", True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
