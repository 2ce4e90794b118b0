#!/usr/bin/env python3
"""The repo benchmark: one seeded workload, measured end to end, checked
against a reference, and optionally traced layer by layer.

Usage (from the repo root):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: replicate, stream (see perfbench/NOTES.md).
The first run builds the harness and the library with sbt into
perfbench/target and target/; later runs reuse the build while the
sources are unchanged. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170  # the whole run, build excepted
SETUP_REPS = 3

# input sizes per workload (rows); the probe inputs are small ones for
# the replicate warm-up and the traced run's layer probes
EVENTS_REPLICATE = 150_000
PROBE_EVENTS = 20_000
PROBE_DOCS = 500

JAVA_OPTS = [
    "-Xmx3g", "-XX:+UseG1GC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "project")):
        for d, subdirs, names in os.walk(base):
            subdirs[:] = sorted(x for x in subdirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build the harness and the library (when their sources changed)
    and return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the library's sources (build.sbt, src/main/scala/graft) are not in this checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp_file, cp_file = os.path.join(WORK, "stamp"), os.path.join(WORK, "classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own global state goes under WORK too, not the home directory
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.autostart=false" \
        f" -Dsbt.global.base={os.path.join(WORK, 'sbt')}"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def make_inputs(workload, seed, run_dir):
    """Write the workload's inputs SETUP_REPS times (the same bytes each
    time); returns their properties and each write's seconds."""
    in_dir = os.path.join(run_dir, "in")
    os.makedirs(in_dir, exist_ok=True)
    times, props = [], {}
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if workload == "replicate":
            props = gen.write_events(os.path.join(in_dir, "events.parquet"), EVENTS_REPLICATE, seed)
        else:  # the stream's generator runs inside the harness
            props = {"seed": seed, "generator": "in-process, one thread"}
        times.append(time.perf_counter() - t0)
    return props, times


def make_probe_inputs(seed, run_dir):
    probe = os.path.join(run_dir, "probe")
    os.makedirs(probe, exist_ok=True)
    return {"events": gen.write_events(os.path.join(probe, "events.parquet"), PROBE_EVENTS, seed),
            "documents": gen.write_documents(os.path.join(probe, "documents.parquet"), PROBE_DOCS, seed)}


def run_harness(cp, args, run_dir, budget_s):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # scratch space (shuffle files, native libraries) stays in the run dir
    local = [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
    cmd = ["java"] + JAVA_OPTS + local + ["-cp", cp, "perfbench.Main",
                                  "--workload", args.workload, "--seconds", str(args.seconds),
                                  "--trace", str(args.trace), "--cores", str(cores()),
                                  "--seed", str(args.seed), "--run-dir", run_dir,
                                  "--setup-reps", str(SETUP_REPS),
                                  "--op-timeout", str(max(10, budget_s / 3))]
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also when this process is told to stop
            if p.poll() is None:
                p.kill()
                p.wait()
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.isfile(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("harness timed out" if rc is None else f"harness exited with {rc}")
    with open(result_path) as f:
        return json.load(f)


def cores():
    """The cores this process may run on, as nproc counts them."""
    return len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["replicate", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the harness JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = classpath()
    started = time.monotonic()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        props, gen_times = make_inputs(args.workload, args.seed, run_dir)
        props["probe"] = make_probe_inputs(args.seed, run_dir)
        r = run_harness(cp, args, run_dir, DEADLINE_S - (time.monotonic() - started))
        checks = [(c["name"], c["ok"], c["detail"]) for c in r["checks"]]
        if r["oracle"]:
            checks += oracle.check({"events": os.path.join(run_dir, "in", "events.parquet")}, r["oracle"],
                                   os.path.join(run_dir, "tmp"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    r["timeline"]["total"] = time.monotonic() - started
    out = layers.report(args.workload, r, gen_times, props, checks, bool(args.trace))
    print(json.dumps({"workload": args.workload, "inputs": props, "checks": checks,
                      "detail": out["detail"]}))
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": out["metrics"]}))


if __name__ == "__main__":
    main()
