#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured, checked, reported.

    python3 perfbench/run.py --workload ingest|search|upsert --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the library and the benchmark from source (perfbench/build.py),
runs one JVM (Spark local[nproc], one closed-loop client) on inputs it
generates from the seed in a fresh directory under perfbench/.out/work,
removes that directory, and prints every metric by name and unit. The
last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The full run record (host, sizes, input checksums, named
metrics, failures with their causes, per-span layer table, spans) is
kept under perfbench/.out/runs/.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

OUT = os.path.join(HERE, ".out")
KEEP_RUNS = 300
TIMEOUT_S = 170
HEAP = "1g"

# Spark on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    """HEAD of the checkout when it is a git repository of its own."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        lines = r.stdout.split()
        if r.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            return lines[1]
    except (OSError, IndexError):
        pass
    return "none"


def java_cmd(jar, main, args, tmpdir, share=()):
    cp = os.pathsep.join([jar, os.path.join(build.spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + list(share)
            + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, main] + args)


def run_java(cmd, cwd, timeout):
    """Run the JVM in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"benchmark JVM killed after {timeout}s", file=sys.stderr)
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def ensure_cds(jar):
    """Class-data sharing: archive the classes a short upsert run loads
    (Spark SQL, MLlib, streaming, the library), once per build, so that
    every measured run maps them instead of loading and verifying them
    again. Without the archive runs are correct, only slower to start."""
    if not os.path.exists(build.CDS):
        work = os.path.join(OUT, "cds-train")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        args = ["--workload", "upsert", "--seed", "0", "--seconds", "1", "--trace", "0",
                "--work", work, "--out", os.path.join(work, "out"), "--cpus", str(cpus())]
        try:
            run_java(java_cmd(jar, "graftbench.Main", args, os.path.join(work, "tmp"),
                              [f"-XX:ArchiveClassesAtExit={build.CDS}"]), work, TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={build.CDS}"] if os.path.exists(build.CDS) else []


def prune_runs():
    runs = sorted(glob.glob(os.path.join(OUT, "runs", "*")), key=os.path.getmtime)
    for old in runs[:-KEEP_RUNS]:
        shutil.rmtree(old, ignore_errors=True)


def last_untraced(workload, seed, exclude):
    """Most recent untraced record of the same workload: of the same seed
    if there is one, else of any seed (same sizes, other inputs)."""
    for s in (seed, "*"):
        pattern = os.path.join(OUT, "runs", f"{workload}-seed{s}-trace0-*", "record.json")
        for path in sorted(glob.glob(pattern), key=os.path.getmtime, reverse=True):
            if os.path.dirname(path) != exclude:
                with open(path) as fh:
                    return json.load(fh), path
    return None, None


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(rec, traced, out_dir):
    w = rec["workload"]
    host = rec["host"]
    print(f"# graft benchmark: workload={w} seed={rec['seed']} seconds={rec['seconds']} "
          f"trace={int(traced)}")
    print(f"# host: nproc={host['nproc']} loadavg {host['loadavg_start']} -> {host['loadavg_end']} "
          f"java_processes={host['java_processes_start']} jdk={host['jdk']} spark={host['spark']} "
          f"commit={host['commit']} source={host.get('source_sha256', '')[:12]}")
    print(f"# inputs: sizes={json.dumps(rec['sizes'])} checksums="
          f"{','.join(c[:12] for c in rec['input_checksums'])} work_dir={rec['work_dir']}")
    print(f"{w}.error_rate = {fmt(rec['error_rate'])} ratio "
          f"({rec['failed']} failed / {rec['attempted']} attempted)")
    for f in rec["failures"][:20]:
        print(f"# FAILED {f['phase']}/{f['trace']} {f['span']}: {f['exception']}: {f['message']}")
    for name, m in rec["named"].items():
        print(f"{w}.{name} = {fmt(m['value'])} {m['unit']}")
    for name, m in rec["end_to_end"].items():
        print(f"end_to_end.{name} = {fmt(m['value'])} {m['unit']}")
    if traced:
        for name, m in rec["per_layer"].items():
            print(f"per_layer.{name} = {fmt(m['value'])} {m['unit']}")
        for span, ms in rec["per_span"].items():
            if isinstance(ms, dict):
                print(f"span {span}: " + " ".join(f"{k}={fmt(v)}" for k, v in ms.items()))
            else:
                print(f"span {span} = {fmt(ms)}")
        for name, r in rec["ratios"].items():
            print(f"ratio {name} = {fmt(r['value'])} ({r['base']})")
        base, path = last_untraced(w, rec["seed"], out_dir)
        if base is None:
            print("# tracing overhead: no untraced run of this workload to compare")
        else:
            over = {}
            for name, m in rec["end_to_end"].items():
                if name in base["end_to_end"]:
                    over[name] = m["value"] - base["end_to_end"][name]["value"]
                    print(f"tracing_overhead.{name} = {fmt(over[name])} {m['unit']} "
                          f"(traced minus untraced seed {base['seed']})")
            rec["tracing_overhead"] = {"against": path, "delta": over}
    print(f"# record: {os.path.join(out_dir, 'record.json')}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    try:
        jar, source = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    if a.selftest:
        tmp = os.path.join(OUT, "selftest-tmp")
        os.makedirs(tmp, exist_ok=True)
        try:
            rc = run_java(java_cmd(jar, "graftbench.SelfTest", [], tmp), OUT, TIMEOUT_S)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return 1 if rc != 0 else 0

    share = ensure_cds(jar)
    stamp = time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}"
    work = os.path.join(OUT, "work", f"{a.workload}-{stamp}")
    out_dir = os.path.join(OUT, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out_dir, "--cpus", str(cpus()),
            "--commit", commit()]
    try:
        rc = run_java(java_cmd(jar, "graftbench.Main", args, tmp, share), work, TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec_path = os.path.join(out_dir, "record.json")
    if rc != 0 or not os.path.exists(rec_path):
        print(f"benchmark run failed (exit {rc}); no result", file=sys.stderr)
        return 1
    with open(rec_path) as fh:
        rec = json.load(fh)
    rec["host"]["source_sha256"] = source
    traced = a.trace == 1
    report(rec, traced, out_dir)
    with open(rec_path, "w") as fh:
        json.dump(rec, fh, indent=1)
    prune_runs()

    metrics = rec["per_layer"] if traced else rec["end_to_end"]
    present = all(isinstance(m["value"], (int, float)) and m["value"] >= 0 for m in metrics.values())
    result = {
        "correct": rec["failed"] == 0 and present,
        # a phase that threw outside any call is a failure but not a call
        "attempted": max(rec["attempted"], rec["failed"], 1),
        "failed": rec["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
