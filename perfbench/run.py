#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the program and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the harness JVM at
local[<cores>] (a cold pass, then warm passes for ``--seconds``), checks
every operation's output outside the timers, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. Build output goes to the sbt target directories of the
checkout, run scratch (inputs, outputs, the JVM's tmpdir and Spark local
dirs) to perfbench/.work, which each run removes when it ends; a traced run
keeps its spans, jobs and trigger progress in
perfbench/.work/trace-<workload>.json.
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
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Input sizes and operation lists, chosen from measurements on 4 cores (see
# CHANGES.md). autocomplete_hourly: a history of 30000 lines is the
# starting state (about 0.28M rows) and each hour adds 2000 lines (about
# 35k delta rows), so the state each run rewrites is eight to nine times
# the delta. similarity_sweep: ``frac`` scales the sf0.1 documents and
# embeddings.
WORKLOADS = {
    "autocomplete_hourly": {
        "hours": 2, "lines": 2000, "vocab": 50000, "history": 30000,
        "ops": [],
    },
    "similarity_sweep": {
        "frac": 0.2,
        "ops": ["q_dedup_clusters", "q_dbscan_ann", "q_stream_dedup_update"],
    },
}
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, subdirs, names in os.walk(r):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    """sbt runs offline: the toolchain and every dependency come from the
    local caches."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_to_end(cmd, log_path, timeout, **kw):
    """Run ``cmd`` in its own process group with output to ``log_path``;
    on timeout kill the whole group. Returns the exit code or "timeout"."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return "timeout"


def build():
    """Compile the program and the harness; return the JVM classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to the benchmark")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "sbt.log")
    rc = run_to_end(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"],
                    log_path, BUILD_TIMEOUT_S, cwd=HARNESS, env=sbt_env())
    with open(log_path) as f:
        out = f.read()
    lines = [ln for ln in out.splitlines()
             if "harness" in ln and os.pathsep in ln and " " not in ln]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"build failed ({rc})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def jvm(classpath, run_dir, args):
    """Run the harness JVM to completion."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    opens = [x for p in JDK17_OPENS
             for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graftbench.Harness", *args]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_LOCAL_DIRS=local, GRAFT_NO_SHM_SCRATCH="1")
    log_path = os.path.join(run_dir, "jvm.log")
    rc = run_to_end(cmd, log_path, JVM_TIMEOUT_S, cwd=run_dir, env=env)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM exited with {rc}")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def make_inputs(inputs, cfg, seed):
    """Generate a workload's inputs from the seed; returns the hourly log
    files and the history's query counts (none for the query workload,
    which reads tables)."""
    if "hours" in cfg:
        return gen.query_logs(os.path.join(inputs, "logs"),
                              os.path.join(inputs, "state"), seed,
                              cfg["hours"], cfg["lines"], cfg["vocab"],
                              cfg["history"])
    gen.tables(os.path.join(inputs, "tables"), seed, cfg["frac"])
    return [], {}


def count_lines(path):
    with open(path) as f:
        return sum(1 for _ in f)


def bench(spec, workload, cfg, seed, seconds, trace):
    """One run of one workload; returns the result line as a dict."""
    classpath = build()
    run_dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    inputs, out = (os.path.join(run_dir, d) for d in ("in", "out"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out)
    try:
        # set-up: input generation, JVM start, session, fixture staging
        t0 = time.time() * 1e3
        logs, history = make_inputs(inputs, cfg, seed)
        t1 = time.time() * 1e3
        jvm(classpath, run_dir,
            [workload, inputs, out, str(trace), str(seconds),
             str(os.cpu_count() or 1), ",".join(cfg["ops"])])
        t2 = time.time() * 1e3
        with open(os.path.join(out, "result.json")) as f:
            result = json.load(f)
        setup_s = (result["setup_end_ms"] - t0) / 1e3
        for p in result["passes"]:
            print(f"[perfbench] pass {p['index']} {p['kind']}"
                  f"{' traced' if p['traced'] else ''}: " + " ".join(
                      f"{o['name']}={metrics.op_seconds(o):.2f}s"
                      for o in p["ops"]), file=sys.stderr)

        if logs:
            verdict = check.check_autocomplete(result, out, logs, history)
        else:
            verdict = check.check_queries(result, out,
                                          os.path.join(inputs, "tables"))
        print(f"[perfbench] inputs {(t1 - t0) / 1e3:.1f}s, "
              f"JVM {(t2 - t1) / 1e3:.1f}s, "
              f"checks {time.time() - t2 / 1e3:.1f}s", file=sys.stderr)
        attempted = failed = 0
        for p in result["passes"]:
            for o in p["ops"]:
                attempted += 1
                err = o["error"] or verdict.get((p["index"], o["name"]),
                                                "unchecked")
                if err:
                    failed += 1
                    print(f"[perfbench] pass {p['index']} {o['name']}: {err}",
                          file=sys.stderr)

        if trace:
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            log_lines = sum(count_lines(p) for p in logs)
            log_bytes = sum(os.path.getsize(p) for p in logs)
            vals = metrics.per_layer(result, log_lines, log_bytes, units)
            vals["fail_ratio"] = failed / attempted
            shutil.copyfile(os.path.join(out, "result.json"),
                            os.path.join(WORK, f"trace-{workload}.json"))
        else:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            vals = metrics.end_to_end(result, setup_s)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": vals[k], "unit": u}
                        for k, u in units.items()}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    line = bench(load_spec(), a.workload, WORKLOADS[a.workload], a.seed,
                 a.seconds, a.trace)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
