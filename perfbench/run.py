#!/usr/bin/env python3
"""Fixed-work benchmark of the TimeDb facade: one workload, one run.

    python3 perfbench/run.py --workload forecast_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call builds the program from
source (sbt, offline) into $CARGO_TARGET_DIR/perfbench (default
`.bench_build/perfbench`); later calls reuse the build while the sources
are unchanged. One JVM runs the workload (see FacadeBench.scala); this
script turns its raw samples into metrics, prints a short report, and
prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (BENCHMARK.json lists both). Exit status is 0 only when
every timed result matched the model.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("forecast_ingest", "dashboard_reads")
# The op class whose latency is the workload's headline.
PRIMARY = {"forecast_ingest": "write", "dashboard_reads": "read"}
# A fixed heap (-Xms = -Xmx): the heap never resizes mid-run, so GC work
# and peak RSS do not depend on when the collector chose to grow it.
HEAP = "1536m"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- statistics ---------------------------------------------------------------

def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    s = sorted(samples)
    if not s:
        raise ValueError("no samples")
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(n):
    """Highest whole percentile that leaves at least 10 of n samples
    beyond it (p90 needs 100 samples), capped at p99; None below 11."""
    if n < 11:
        return None
    return min(99, math.floor(100.0 * (n - 10) / n))


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---- build ---------------------------------------------------------------------

def source_digest(root):
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile the program and the benchmark; return the runtime classpath."""
    stamp = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    digest = source_digest(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", *opts, "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
                           timeout=BUILD_TIMEOUT_S)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = package(lines[-1].strip(), out)
    train(cp, out)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def package(cp, out):
    """Replace the compiled-classes directory on the classpath by a jar:
    the JVM's class-data-sharing archive only covers classes from jars."""
    jar = os.path.join(out, "perfbench.jar")
    parts = cp.split(os.pathsep)
    dirs = [p for p in parts if os.path.isdir(p)]
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d in dirs:
            for base, _, fs in os.walk(d):
                for f in sorted(fs):
                    full = os.path.join(base, f)
                    z.write(full, os.path.relpath(full, d))
    return os.pathsep.join([jar] + [p for p in parts if p not in dirs])


def java_cmd(cp, out, *jvm_flags):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", *jvm_flags,
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in JDK_OPENS]
    return cmd + ["-cp", cp]


def train(cp, out):
    """Record the classes a short run of every workload loads into a
    class-data-sharing archive; later runs start the JVM from it, which
    takes seconds off every run's set-up."""
    archive = os.path.join(out, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(out, "work", "train")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(cp, out, f"-XX:ArchiveClassesAtExit={archive}", f"-Djava.io.tmpdir={tmp}")
    cmd += ["perfbench.FacadeBench", "train", "1", "1", "0", os.path.join(work, "result.json"), work]
    with open(os.path.join(out, "train.log"), "w") as fh:
        p = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0:
        fail(f"class-data-sharing training run failed (exit {p.returncode}); see {out}/train.log")


# ---- run -----------------------------------------------------------------------

def run_jvm(cp, out, args):
    tag = f"{args.workload}-{os.getpid()}"
    work = os.path.join(out, "work", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(out, "logs", f"{tag}.result.json")
    trace_file = os.path.join(out, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    cmd = java_cmd(cp, out, f"-XX:SharedArchiveFile={os.path.join(out, 'classes.jsa')}",
                   f"-Djava.io.tmpdir={tmp}")
    cmd += ["perfbench.FacadeBench", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), result, work, trace_file if args.trace else ""]
    log = os.path.join(out, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        with open(log, "w") as fh:
            p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
            try:
                code = p.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
            finally:
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if code != 0 or not os.path.exists(result):
            fail(f"benchmark JVM exited with {code}; see {log}")
        with open(result) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---- metrics -------------------------------------------------------------------

def end_to_end(r):
    """The end-to-end metrics of BENCHMARK.json, plus the report-only
    figures the workload supports."""
    samples = r["samples"]
    primary = samples[PRIMARY[r["workload"]]]
    wall = r["timed_wall_s"]
    metrics = {
        "setup_s": r["session_start_s"] + median(r["setup_builds_s"]) + r["warmup_s"],
        "op_p50_ms": percentile(primary, 50),
        "ops_per_s": r["ops"] / wall,
        "bytes_per_row": r["bytes_per_row"],
        "rss_peak_mb": r["rss_peak_mb"],
    }
    report = {
        "setup_s": (metrics["setup_s"], "s"),
        "session_start_s": (r["session_start_s"], "s"),
        "store_build_s": (median(r["setup_builds_s"]), "s"),
        "warmup_s": (r["warmup_s"], "s"),
    }
    for cls in ("write", "skip_write", "read"):
        xs = samples.get(cls)
        if not xs:
            continue
        report[f"{cls}_p50_ms"] = (percentile(xs, 50), "ms")
        tp = tail_percentile(len(xs))
        if tp is not None and tp > 50:
            report[f"{cls}_p{tp}_ms"] = (percentile(xs, tp), "ms")
        report[f"{cls}_samples"] = (len(xs), "count")
    if "maintain" in samples:
        report["maintain_s"] = (sum(samples["maintain"]) / 1000.0, "s")
    if r["workload"] == "forecast_ingest":
        report["ingest_rows_per_s"] = (r["offered_rows"] / wall, "rows/s")
    else:
        report["reads_per_s"] = (r["ops"] / wall, "1/s")
    report["bytes_per_row"] = (metrics["bytes_per_row"], "B/row")
    report["rss_peak_mb"] = (metrics["rss_peak_mb"], "MB")
    report["error_rate"] = (r["failed"] / max(1, r["attempted"]), "ratio")
    return metrics, report


def declared(root, key):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


def per_layer(r):
    metrics = dict(r["layers"])
    metrics["trace.op_p50_ms"] = percentile(r["samples"][PRIMARY[r["workload"]]], 50)
    return metrics


def main():
    # A SIGTERM unwinds like Ctrl-C, so the JVM or build child is killed
    # and waited for on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "src", "main", "scala", "graft", "TimeDb.scala")):
        fail("run from the repository root: the program's sources (src/main/scala) are missing")
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    cp = build(root, out)
    r = run_jvm(cp, out, args)

    metrics, report = end_to_end(r)
    units = declared(root, "per_layer" if args.trace else "end_to_end")
    if args.trace:
        metrics = per_layer(r)
    if set(metrics) != set(units):
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    print(f"workload {r['workload']} seed {r['seed']}: {r['ops']} timed ops, "
          f"{r['cores']} cores, timed wall {r['timed_wall_s']:.3f} s")
    for k, (v, unit) in report.items():
        print(f"  {k} = {v!r} {unit}")
    for e in r["errors"]:
        print(f"  MISMATCH {e}")
    errors = len(r["errors"])
    correct = errors == 0
    print(json.dumps({
        "correct": correct,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
