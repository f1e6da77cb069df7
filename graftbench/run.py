#!/usr/bin/env python3
"""graftbench: one run of one workload, checked, as one JSON result line.

Usage (from the repo root):
    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program (`sbt package`) and the harness in graftbench/harness
when their sources differ from the last build's, makes the workload's inputs from the seed, runs the harness JVM,
checks the outputs against expectations computed apart from the program,
deletes everything the run made, and prints
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
as the last line of stdout. With --trace 0 the metrics are the end-to-end
metrics of BENCHMARK.json, with --trace 1 its per-layer metrics (a layer the
workload does not run reads 0). Exits non-zero, printing no result, when the
program cannot be built or a run does not finish.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")
HEAP = "3g"
RUN_TIMEOUT_S = 160
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

sys.path.insert(0, HERE)
import checks  # noqa: E402


def die(msg, code=2):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sbt(cwd, tasks, env):
    """Run sbt tasks and return their output, copied to stderr: stdout
    carries only the result line."""
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + tasks, cwd=cwd, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       stdin=subprocess.DEVNULL, timeout=800)
    sys.stderr.write(r.stdout)
    if r.returncode != 0:
        die(f"sbt {' '.join(tasks)} failed in {cwd}")
    return r.stdout


def build_key():
    """SHA-1 over the path and content of every build input: the build
    definitions and main sources of the program and of the harness."""
    files = set()
    for base in (ROOT, HARNESS):
        files.add(os.path.join(base, "build.sbt"))
        for pattern in ("*.sbt", "*.scala", "*.properties"):
            files.update(glob.glob(os.path.join(base, "project", pattern)))
        files.update(glob.glob(os.path.join(base, "src", "main", "**"), recursive=True))
    h = hashlib.sha1()
    for path in sorted(files):
        if os.path.isfile(path):
            data = open(path, "rb").read()
            h.update(f"{os.path.relpath(path, ROOT)}\0{len(data)}\0".encode())
            h.update(data)
    return h.hexdigest()


def ensure_built():
    """`sbt package` for the program, keeping its runtime classpath (its
    classes with their META-INF/services, and the Spark jars), then `sbt
    package` for the harness against that classpath. Returns the classpath
    the harness JVM runs with. The classpath is saved with the build key of
    the sources it was built from, and the builds run again, incrementally,
    whenever the key differs: a run always measures the sources it sits in."""
    saved = os.path.join(BUILD, "build.json")
    key = build_key()
    if os.path.exists(saved):
        built = json.load(open(saved))
        if built["key"] == key:
            return built["classpath"]
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        die("no build.sbt at the repo root: nothing to build")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    out = sbt(ROOT, ["package", "export Runtime/fullClasspath"], env)
    program = [line for line in out.splitlines() if line and not line.startswith("[")][-1]
    sbt(HARNESS, ["package"], dict(env, GRAFTBENCH_PROGRAM_CP=program))
    harness = glob.glob(os.path.join(HARNESS, "target", "scala-2.13", "graftbench_*.jar"))
    if not harness:
        die("the harness jar was not built")
    os.makedirs(BUILD, exist_ok=True)
    cp = os.pathsep.join([program] + harness)
    with open(saved, "w") as f:
        json.dump({"key": key, "classpath": cp}, f)
    return cp


def run_jvm(cp, args, work, log):
    """Run the harness; return (exit status, peak RSS in KiB, launch time)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
           ["-cp", cp, "graftbench.Main"] + args)
    launched = time.time()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=lf, stdin=subprocess.DEVNULL,
                             start_new_session=True)
    deadline = launched + RUN_TIMEOUT_S
    while True:
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid:
            p.returncode = os.waitstatus_to_exitcode(status)
            return p.returncode, ru.ru_maxrss, launched
        if time.time() > deadline:
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
            return -9, 0, launched
        time.sleep(0.05)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    cp = ensure_built()

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work]
        tables = None
        if a.workload == "analytics_sf01":
            import gen_tables
            tables = os.path.join(work, "tables")
            gen_tables.generate(tables, a.seed)
            args += ["--data", tables]
        log = os.path.join(work, "harness.log")
        code, rss_kib, launched = run_jvm(cp, args, work, log)
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_path):
            sys.stderr.write(open(log, errors="replace").read()[-6000:])
            die(f"harness exited with {code}", 3)
        res = json.load(open(result_path))
        for line in open(log, errors="replace"):
            if line.startswith("[graftbench]"):
                sys.stderr.write(line)

        errors = checks.check_workload(a.workload, work, res["expect"], tables)
        for e in errors:
            print(f"[graftbench] check failed: {e}", file=sys.stderr)

        measured = dict(res["metrics"])
        measured["setup_s"] = {"value": res["ready_epoch_ms"] / 1000.0 - launched, "unit": "s"}
        measured["jvm.peak_rss_mb"] = {"value": rss_kib / 1024.0, "unit": "MB"}
        # a traced run reports its end-to-end figures too, as traced.<name>:
        # their difference from an untraced run is the tracing overhead
        for m in spec["end_to_end"]:
            measured[f"traced.{m['name']}"] = measured.get(m["name"])
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        metrics = {}
        for m in wanted:
            got = measured.get(m["name"])
            if got is None and not a.trace:
                die(f"end-to-end metric {m['name']} was not measured", 3)
            metrics[m["name"]] = {"value": got["value"] if got else 0, "unit": m["unit"]}
        print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
