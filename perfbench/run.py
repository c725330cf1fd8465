#!/usr/bin/env python3
"""Clinical-service benchmark: builds the program from source, runs one
workload in one JVM, checks every output, and prints one JSON result line.

    python3 perfbench/run.py --workload clinical_jobs --seed 1 --seconds 12 --trace 0

With --trace 0 the result carries the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer metrics, and the span trace is written to
.bench_build/perfbench/trace/<workload>-<seed>.json. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("clinical_jobs", "api_reads")
# a run, build included, must end within 180 s
RUN_TIMEOUT_S = 170
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
ETL_STAGES = ("start", "ingest", "stage", "dims", "transform", "quality", "finish")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_ms", "job_ms", "driver_gap_ms",
                  "catalyst_ms", "shuffle_bytes", "input_bytes", "output_bytes", "spill_bytes")


class BenchError(Exception):
    pass


# --- statistics ------------------------------------------------------------

def percentile(xs, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of a non-empty sample."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def beyond(n, q):
    """Samples ranked above the q-quantile of n samples."""
    return n - math.ceil(q * n)


def tail_percentile(xs, q):
    """The q-quantile when at least ten samples lie beyond it, else None."""
    return percentile(xs, q) if beyond(len(xs), q) >= 10 else None


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --- build -----------------------------------------------------------------

def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BenchError("build.sbt not found: run from a checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise BenchError("build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BenchError("src/main/scala not found: nothing to build")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build():
    """Compile the program and the benchmark into one class directory; reuse
    it while no source changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes, jars
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    args_file = BUILD / "scalac.args"
    args_file.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
                        f"-Djava.io.tmpdir={BUILD}", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(classes), "-classpath", cp, f"@{args_file}"],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=RUN_TIMEOUT_S)
    if r.returncode != 0:
        raise BenchError("compilation failed")
    stamp_file.write_text(stamp)
    return classes, jars


def java_cmd(classes, jars, main_args, tmp):
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
            + ["-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
               f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
               "-Dspark.ui.enabled=false", "-cp", f"{classes}:{jars}/*",
               "graft.perfbench.Main"] + main_args)


# --- result ----------------------------------------------------------------

def summarise(records, trace):
    """The result line from the JVM's raw records."""
    # the warm-up set-up pays JIT and codegen once and is left out
    setup = [r["s"] for r in records if r["type"] == "setup" and not r["warmup"]]
    ops = [r for r in records if r["type"] == "op"]
    summary = next(r for r in records if r["type"] == "summary")
    failed_ids = set(summary["failed_ids"])
    good = [o for o in ops if o["error"] is None and o["id"] not in failed_ids]
    failed = len(ops) - len(good)
    correct = failed == 0 and not summary["errors"] and len(setup) > 0
    if trace:
        metrics = layer_metrics(ops, good, summary)
    else:
        # timings come from untraced, correct operations only
        ms = [o["ms"] for o in good]
        metrics = {
            "setup_s": (median(setup), "s"),
            "op_p50_ms": (percentile(ms, 0.5) if ms else 0.0, "ms"),
        }
    return {"correct": correct, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def layer_metrics(ops, good, summary):
    traced = [o for o in good if o["traced"]]
    plain = [o["ms"] for o in good if not o["traced"]]
    cores = summary["cores"]

    def med(key, xs=traced):
        return median([o[key] for o in xs if key in o])

    m = {}
    for st in ETL_STAGES:
        m[f"etl.{st}_ms"] = (med(f"etl.{st}_ms"), "ms")
    units = {"jobs": "count", "stages": "count", "tasks": "count"}
    for c in SPARK_COUNTERS:
        m[f"spark.{c}"] = (med(c), units.get(c, "bytes" if c.endswith("bytes") else "ms"))
    wall = sum(o["ms"] for o in traced)
    m["spark.core_util"] = (sum(o["task_ms"] for o in traced) / (wall * cores) if wall else 0.0,
                            "fraction")
    written = sum(o["bytes_written"] for o in traced)
    csv_bytes = sum(o["csv_bytes"] for o in traced)
    m["wh.files_written"] = (med("files_written"), "count")
    m["wh.bytes_written"] = (med("bytes_written"), "bytes")
    m["wh.write_amp"] = (written / csv_bytes if csv_bytes else 0.0, "ratio")
    m["wh.live_files"] = (summary["live_files"], "count")
    m["wh.live_bytes"] = (summary["live_bytes"], "bytes")
    data = [o for o in traced if o["kind"].startswith("api.data")]
    rows = sum(o["rows"] for o in data)
    m["api.records_read_per_row"] = (sum(o["input_records"] for o in data) / rows if rows else 0.0,
                                     "ratio")
    m["api.input_bytes_per_req"] = (med("input_bytes", data), "bytes")
    m["api.catalyst_ms"] = (med("catalyst_ms", data), "ms")
    m["api.jobs_per_req"] = (med("jobs", data), "count")
    m["api.view_p50_ms"] = (med("ms", [o for o in good if o["kind"].startswith("api.view")
                                       and not o["traced"]]), "ms")
    p75 = tail_percentile(plain, 0.75)
    m["op.p75_ms"] = (p75 if p75 is not None else 0.0, "ms")
    overhead = med("ms") - median(plain) if traced and plain else 0.0
    m["trace.overhead_ms"] = (overhead, "ms")
    m["trace.overhead_frac"] = (overhead / median(plain) if plain else 0.0, "fraction")
    m["failed_frac"] = ((len(ops) - len(good)) / len(ops) if ops else 0.0, "fraction")
    m["cache_mb"] = (summary["cache_mb"], "MB")
    return m


def trace_file(records):
    """Spans with their self time: duration minus the part covered by children."""
    spans = [r for r in records if r["type"] == "span"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        covered, cur = 0.0, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur = (cur[0], max(cur[1], b))
            else:
                covered += (cur[1] - cur[0]) if cur else 0.0
                cur = (a, b)
        covered += (cur[1] - cur[0]) if cur else 0.0
        s["self_ms"] = (s["end"] - s["start"]) - covered
    return {"spans": spans, "ops": [r for r in records if r["type"] == "op"]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.monotonic()
    try:
        classes, jars = build()
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    tmp = BUILD / "tmp" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    raw = tmp / "raw.jsonl"
    cmd = java_cmd(classes, jars, ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--out", str(raw), "--tmp", str(tmp)], tmp)
    try:
        # Spark's scratch space stays inside the run's directory too
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                           timeout=max(10, RUN_TIMEOUT_S - (time.monotonic() - started)))
        if r.returncode != 0:
            print(f"perfbench: the benchmark JVM exited with {r.returncode}", file=sys.stderr)
            return 1
        records = [json.loads(line) for line in raw.read_text().splitlines() if line]
        result = summarise(records, a.trace == 1)
        if a.trace:
            out = BUILD / "trace" / f"{a.workload}-{a.seed}.json"
            out.parent.mkdir(parents=True, exist_ok=True)
            out.write_text(json.dumps(trace_file(records)))
    except subprocess.TimeoutExpired:
        print("perfbench: the benchmark JVM timed out", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
