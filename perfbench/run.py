#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload retail_api --seed 1 --seconds 20 --trace 0

The first run in a checkout builds the engine and the harness with sbt
(perfbench/build.sbt pulls the engine in as a source dependency); later runs
reuse the build while the sources are unchanged. Each run starts one JVM with
one Spark session in a fresh run directory under perfbench/.work/, which
is deleted afterwards. Workloads, metrics and the layer map are described in
perfbench/README.md.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics of BENCHMARK.json with --trace 0,
the per-layer metrics with --trace 1. A traced run also writes its spans to
perfbench/.work/traces/ and, when an untraced run of the same workload and
seed on the same sources exists, the tracing overhead next to them.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("retail_api", "catalog_batch")
DEFAULT_SF = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
JVM_TIMEOUT_S = 170
GOLDEN_TIMEOUT_S = 1200
BUSY_WAIT_S = 30

# Per-layer metrics each workload measures; a traced run reports the others
# as 0 ("not exercised by this workload").
LAYER_OWNERS = {
    "retail_api": ("http.", "api."),
    "catalog_batch": ("catalog.", "setup.", "state."),
}
SHARED_LAYERS = ("spark.", "traced.", "cached_mb", "latency_p95_ms", "latency_samples")

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        path = os.path.join(ROOT, top)
        found = []
        if os.path.isfile(path):
            found = [path]
        else:
            for d, dirs, names in os.walk(path):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                found += [os.path.join(d, n) for n in names
                          if n.endswith((".scala", ".java", ".sbt", ".properties"))]
        for f in sorted(found):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config="
                   + os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
                   + " -Dsbt.offline=true -Xmx4g")
    return env


def build(stamp):
    """Compile engine + harness unless the recorded build matches the sources
    (`stamp`). Returns the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read().strip() == stamp:
                return g.read().strip()
    print("[perfbench] building engine and harness with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    lines = [ln for ln in proc.stdout.splitlines()
             if not ln.startswith("[") and "scala-2.13/classes" in ln]
    if not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def busy_jvms():
    """sbt or Spark JVMs on this machine that are not ours."""
    me = os.getpid()
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if not argv or not argv[0].endswith(b"java"):
            continue
        cmd = b" ".join(argv)
        if any(m in cmd for m in (b"sbt-launch", b"xsbt.boot", b"org.apache.spark",
                                  b"perfbench.Main", b"sbt.ForkMain", b"graft.")):
            found.append(f"{pid}: {cmd[:160].decode(errors='replace')}")
    return found


def wait_for_quiet_machine():
    deadline = time.time() + BUSY_WAIT_S
    while True:
        busy = busy_jvms()
        if not busy:
            return
        if time.time() > deadline:
            fail("refusing to start: another sbt or Spark JVM holds the machine:\n  "
                 + "\n  ".join(busy))
        time.sleep(2)


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def run_jvm(classpath, workload, args, run_dir, out, timeout):
    """Run perfbench.Main in its own process group; `out` is the file the
    JVM writes its report (or hash table) to."""
    cpus = len(os.sched_getaffinity(0))
    sf = os.environ.get("PERFBENCH_SF_DIR", DEFAULT_SF)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--sf", sf, "--work", run_dir, "--out", out,
            "--trace-out", trace_path(args)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_group(proc)
        fail(f"{workload} did not finish within {timeout} s")
    except BaseException:
        kill_group(proc)
        raise
    if code != 0:
        fail(f"benchmark JVM exited with {code}")
    if not os.path.exists(out):
        fail("benchmark JVM wrote no result")


def trace_path(args):
    return os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")


def select_metrics(spec, report, workload, traced):
    """The metrics BENCHMARK.json lists for this mode, units checked."""
    section = "per_layer" if traced else "end_to_end"
    got = report[section]
    metrics = {}
    for m in spec[section]:
        name = m["name"]
        if name in got:
            if got[name]["unit"] != m["unit"]:
                fail(f"metric {name}: unit {got[name]['unit']}, BENCHMARK.json says {m['unit']}")
            metrics[name] = {"value": got[name]["value"], "unit": m["unit"]}
        elif traced and not (name.startswith(LAYER_OWNERS[workload])
                             or name.startswith(SHARED_LAYERS)):
            metrics[name] = {"value": 0, "unit": m["unit"]}
        elif traced and name.startswith("traced."):
            e2e = report["end_to_end"].get(name[len("traced."):])
            if e2e is None:
                fail(f"metric {name} has no end-to-end counterpart")
            metrics[name] = {"value": e2e["value"], "unit": m["unit"]}
        else:
            fail(f"workload {workload} did not report metric {name}")
    return metrics


def record_overhead(report, args, stamp, trace_out):
    """Keep untraced results by source stamp; next to a traced run's spans,
    write the difference of each end-to-end metric between the traced run
    and the untraced run of the same sources, workload and seed."""
    results = os.path.join(WORK, "results", stamp)
    os.makedirs(results, exist_ok=True)
    key = os.path.join(results, f"{args.workload}-seed{args.seed}.json")
    if not args.trace:
        with open(key, "w") as f:
            json.dump(report["end_to_end"], f)
        return
    if not os.path.exists(key):
        print("[perfbench] no untraced run of this workload and seed on these "
              "sources: tracing overhead not computed", file=sys.stderr)
        return
    with open(key) as f:
        plain = json.load(f)
    overhead = {}
    for name, m in report["end_to_end"].items():
        if name in plain and plain[name]["value"]:
            base = plain[name]["value"]
            overhead[name] = {"untraced": base, "traced": m["value"],
                              "diff": m["value"] - base,
                              "share": (m["value"] - base) / base}
    with open(trace_out, "a") as f:
        f.write(json.dumps({"trace_overhead": overhead}) + "\n")
    print("[perfbench] tracing overhead: " + json.dumps(overhead), file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--golden", choices=("retail", "catalog", "state"),
                    help="rewrite perfbench/expected/<golden>_sf0.1.tsv from "
                         "this checkout's engine instead of measuring")
    args = ap.parse_args()
    if not args.workload and not args.golden:
        ap.error("--workload or --golden is required")

    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not the root of an engine checkout: {need} is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sf = os.environ.get("PERFBENCH_SF_DIR", DEFAULT_SF)
    if not os.path.isdir(sf):
        fail(f"scale-factor data not found at {sf}")

    wait_for_quiet_machine()
    stamp = source_stamp()
    classpath = build(stamp)
    wait_for_quiet_machine()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    try:
        if args.golden:
            target = os.path.join(BENCH, "expected", f"{args.golden}_sf0.1.tsv")
            run_jvm(classpath, f"golden_{args.golden}", args, run_dir, target, GOLDEN_TIMEOUT_S)
            print(f"[perfbench] wrote {os.path.relpath(target, ROOT)}", file=sys.stderr)
            return
        out = os.path.join(run_dir, "result.json")
        run_jvm(classpath, args.workload, args, run_dir, out, JVM_TIMEOUT_S)
        with open(out) as f:
            report = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in report["failures"]:
        print(f"[perfbench] failed op: {f}", file=sys.stderr)
    metrics = select_metrics(spec, report, args.workload, bool(args.trace))
    record_overhead(report, args, stamp, trace_path(args))
    print(json.dumps({"correct": report["failed"] == 0,
                      "attempted": report["attempted"],
                      "failed": report["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
