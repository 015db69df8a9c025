#!/usr/bin/env python3
"""Cold/warm pass benchmark for the TLQ, report and curation pipelines.

    python3 coldwarm/run.py --workload tlq_report --seed 1 --seconds 1 --trace 0

Run from the repository root. It builds the library from `src/main`
together with the benchmark harness (sbt, offline), generates the
workload's inputs from the seed, and runs one fresh JVM: set-up, the
cold pass and, in a traced run, warm passes. Outputs are checked after
the timed passes: every pass must produce the same result digest as
the first, and the first pass's outputs must match DuckDB over the
same inputs. See WORKLOADS.md for the inputs and metrics.

`--trace 0` runs set-up and the cold pass and prints the end-to-end
metrics; the cold pass is measured in CPU seconds of the JVM, since its
wall time follows the CPU other tenants of a shared machine take (the
wall time is on the `# env` line). `--trace 1` adds warm passes that
alternate traced and untraced and prints the per-layer metrics of the
traced passes with the tracing overhead. The last line of stdout is the result object; the lines
before it carry the run environment.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "coldwarm.stamp")
WORK = os.path.join(HERE, ".work")

HEAP = "3g"  # fixed (-Xms = -Xmx): heap resizing adds run-to-run spread
# The timed (cold) JVM runs as a short-lived JVM such as a FaaS function
# usually does: C1 only and one Spark thread. C2 compiler threads took 40
# of the 75 CPU-seconds of a cold tlq_report pass and competed with
# Spark's threads for the CPUs, and three Spark threads made the pass's
# CPU time vary by a tenth from run to run on a quiet machine (one: by
# 1-2%). The traced run stands for a long-lived session and keeps the
# default tiered JIT and up to three Spark threads.
COLD_JIT_FLAGS = ["-XX:TieredStopAtLevel=1"]
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

WORKLOADS = ("tlq_report", "curation")
# Warm passes of a traced run: traced, untraced, traced.
TRACE_WARM_PASSES = 3

SPANS = ["etl.transform", "sources.csv_write", "sources.load", "queries.q",
         "sources.scan", "report.build", "report.overlap", "runner.pipeline",
         "report.window", "sources.report_csv", "ops.keeplist", "ops.decontam",
         "ops.repetition", "ops.mix", "ops.pack"]
SPAN_COUNTERS = {"jobs": "count", "tasks": "count", "busy_s": "s",
                 "shuffle_bytes": "bytes", "spill_bytes": "bytes"}
LAYERS = ["etl", "sources", "queries", "report", "runner", "ops"]
LAYER_COUNTERS = {"fetch_wait_s": "s", "gc_s": "s"}
NOTES = {"etl.dedup_keep_frac": "fraction", "sources.csv_write_bytes": "bytes",
         "report.overlap_rows": "count", "ops.keeplist_kept_frac": "fraction",
         "ops.decontam_flagged": "count"}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def per_layer_units():
    """Every per-layer metric name with its unit."""
    units = {}
    for s in SPANS:
        units[f"{s}_s"] = "s"
        for c, u in SPAN_COUNTERS.items():
            units[f"{s}.{c}"] = u
    for layer in LAYERS:
        units[f"{layer}.self_s"] = "s"
        for c, u in LAYER_COUNTERS.items():
            units[f"{layer}.{c}"] = u
    units.update(NOTES)
    units.update({"core.shuffle_partitions": "count", "jvm.compile_cold_s": "s",
                  "jvm.compile_warm_s": "s", "trace.warm_s": "s",
                  "trace.untraced_warm_s": "s", "trace.overhead_warm_s": "s"})
    return units


END_TO_END_UNITS = {"setup_s": "s", "cold_cpu_s": "s", "heap_peak_mb": "MB"}


def source_stamp():
    h = hashlib.sha256()
    for base in (LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for dirpath, dirs, files in os.walk(base):
            dirs[:] = sorted(d for d in dirs if d not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the harness unless the sources are unchanged."""
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                           cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        with open(log) as f:
            raise BenchError("build failed:\n" + "".join(f.readlines()[-30:]))
    with open(STAMP, "w") as f:
        f.write(stamp)


def cpu_steal_s():
    """Steal time accrued on this machine so far, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_jvm(workload, data, work, seconds, min_warm, traced, threads):
    """One fresh JVM; returns its result record plus the run environment."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spark_home = os.environ.get("SPARK_HOME", "")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", *([] if traced else COLD_JIT_FLAGS)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    result = os.path.join(work, "result.json")
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
            "coldwarm.ColdWarm", "--workload", workload, "--data", data,
            "--work", work, "--seconds", str(seconds), "--min-warm", str(min_warm),
            "--threads", str(threads), "--trace", "1" if traced else "0",
            "--result", result]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    steal0, load0 = cpu_steal_s(), load1()
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"{workload} JVM exceeded {JVM_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            tail = "".join(line for line in f.readlines()[-40:])
        raise BenchError(f"{workload} JVM exited with {p.returncode}:\n{tail}")
    with open(result) as f:
        r = json.load(f)
    r["env"] = {"load1_start": load0, "load1_end": load1(),
                "steal_s": round(cpu_steal_s() - steal0, 3)}
    return r


def verify(workload, data, work, record):
    """Correctness operations of one JVM run: each pass and each oracle
    check. Returns (attempted, failed, problems)."""
    problems = []
    passes = record.get("passes", [])
    for p in passes:
        if "error" not in p:
            p["digest"] = {n: oracle.digest(p["dir"], n) for n in p["outputs"]}
    ref = next((p["digest"] for p in passes if "digest" in p), None)
    failed = 0
    for p in passes:
        if "error" in p:
            problems.append(f"pass {p['pass']}: {p['error']}")
        elif p["digest"] != ref or None in p["digest"].values():
            problems.append(f"pass {p['pass']}: result digest differs from the first pass")
        else:
            continue
        failed += 1
    checks = oracle.check(workload, data, work) if ref is not None else [("oracle", ["no pass completed"])]
    for _, found in checks:
        problems += found
    failed += sum(1 for _, found in checks if found)
    return len(passes) + len(checks), failed, problems


def median(values):
    return statistics.median(values) if values else 0.0


def layer_metrics(rec):
    """Per-layer figures: medians over the traced warm passes."""
    traced = [p["pass"] for p in rec["passes"] if p["traced"]]
    untraced_warm = [p["wall_s"] for p in rec["passes"] if not p["traced"] and p["pass"] > 0]

    def per_pass(pred, key):
        return [sum(s[key] if key != "wall" else s["end_s"] - s["start_s"]
                    for s in rec["spans"] if s["pass"] == p and pred(s))
                for p in traced]

    m = {}
    for name in SPANS:
        m[f"{name}_s"] = median(per_pass(lambda s: s["name"] == name, "wall"))
        for c in SPAN_COUNTERS:
            m[f"{name}.{c}"] = median(per_pass(lambda s: s["name"] == name, c))
    for layer in LAYERS:
        in_layer = lambda s: s["name"].split(".")[0] == layer  # noqa: E731
        # spans are leaves under the pass, so a layer's self time is the
        # time of its spans
        m[f"{layer}.self_s"] = median(per_pass(in_layer, "wall"))
        for c in LAYER_COUNTERS:
            m[f"{layer}.{c}"] = median(per_pass(in_layer, c))
    for name in NOTES:
        m[name] = median([n["value"] for n in rec["notes"]
                          if n["name"] == name and n["pass"] in traced])
    compile_s = [p["compile_s"] for p in rec["passes"]]
    m["core.shuffle_partitions"] = rec["shuffle_partitions"]
    m["jvm.compile_cold_s"] = compile_s[0]
    m["jvm.compile_warm_s"] = median(compile_s[1:])
    m["trace.warm_s"] = median([p["wall_s"] for p in rec["passes"] if p["traced"]])
    m["trace.untraced_warm_s"] = median(untraced_warm)
    m["trace.overhead_warm_s"] = m["trace.warm_s"] - m["trace.untraced_warm_s"]
    return m


def self_time_table(m):
    pass_warm = m["trace.warm_s"]
    lines = ["# per-layer self time (traced run, warm-pass medians)",
             f"# {'layer':<10}{'self_s':>10}{'share':>8}"]
    for layer in LAYERS:
        s = m[f"{layer}.self_s"]
        lines.append(f"# {layer:<10}{s:>10.3f}{s / pass_warm:>8.1%}")
    outside = pass_warm - sum(m[f"{layer}.self_s"] for layer in LAYERS)
    lines.append(f"# {'(pass)':<10}{outside:>10.3f}{outside / pass_warm:>8.1%}")
    return "\n".join(lines)


def write_spans(path, run_id, record):
    with open(path, "w") as f:
        for s in record["spans"]:
            f.write(json.dumps({"run": run_id, "pass": s["pass"], "name": s["name"],
                                "parent": s["parent"], "start_s": s["start_s"],
                                "end_s": s["end_s"]}) + "\n")


def run(workload, seed, seconds, trace, scale=1.0):
    if not os.path.isdir(os.path.join(LIB_SRC, "scala", "graft")):
        raise BenchError(f"library sources not found under {LIB_SRC}; "
                         "run from a checkout of the repository")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        raise BenchError("SPARK_HOME must name a Spark installation with jars/")
    build()
    threads = max(1, min(3, len(os.sched_getaffinity(0)))) if trace else 1
    run_id = f"{workload}-{seed}-t{trace}"
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "inputs")
    t0 = time.time()
    info = gen.generate(workload, seed, data, scale)
    t1 = time.time()
    jwork = os.path.join(work, "jvm")
    os.makedirs(jwork)
    rec = run_jvm(workload, data, jwork, seconds, TRACE_WARM_PASSES if trace else 0,
                  trace == 1, threads)
    t2 = time.time()
    attempted, failed, problems = verify(workload, data, jwork, rec)
    phases = {"gen_s": round(t1 - t0, 2), "jvm_s": round(t2 - t1, 2),
              "check_s": round(time.time() - t2, 2)}
    for d in (data, *(os.path.join(jwork, x) for x in ("out", "spark-local", "tmp"))):
        shutil.rmtree(d, ignore_errors=True)

    env = {"workload": workload, "seed": seed, "trace": trace, "nproc": os.cpu_count(),
           "affinity_cpus": len(os.sched_getaffinity(0)), "spark_threads": threads,
           "jvm_flags": rec["jvm_flags"], "core.shuffle_partitions": rec["shuffle_partitions"],
           "load1_start": rec["env"]["load1_start"], "load1_end": rec["env"]["load1_end"],
           "steal_s": rec["env"]["steal_s"], "gc_s": rec["gc_s"], "passes": len(rec["passes"]),
           "cold_wall_s": rec["passes"][0]["wall_s"], "cold_steal_s": rec["passes"][0]["steal_s"],
           "fail_frac": failed / attempted, "inputs": info, "phases": phases}
    print("# env " + json.dumps(env, sort_keys=True))
    for p in problems:
        print(f"# FAIL {p}")
    if trace:
        metrics = layer_metrics(rec)
        write_spans(os.path.join(work, "spans.jsonl"), run_id, rec)
        print(self_time_table(metrics))
        units = per_layer_units()
    else:
        metrics = {"setup_s": rec["setup_s"], "cold_cpu_s": rec["passes"][0]["cpu_s"],
                   "heap_peak_mb": rec["heap_peak_mb"]}
        units = END_TO_END_UNITS
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the benchmark's (for its own tests)")
    args = ap.parse_args(argv)
    t0 = time.time()
    try:
        result = run(args.workload, args.seed, args.seconds, args.trace, args.scale)
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        print(f"coldwarm: {e}", file=sys.stderr)
        return 1
    print(f"# wall {time.time() - t0:.1f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
