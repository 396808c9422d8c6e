#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <ingest|query>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library from
`src/main/scala` together with the benchmark program (`perfbench/build.sbt`)
and generates the input tables; both are cached under `perfbench/.work`
and rebuilt when their sources change. Each run then starts one JVM on
`local[<cpus>]`, and all of its temporary files stay in `perfbench/.work`.

Extra, for maintaining the benchmark: `--record <tsv>` writes the observed
row counts and digests of a query workload's panel instead of checking
them (see `record_expected.py`).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("ingest", "query")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    """Hash of every source file under `paths` (name and bytes)."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if f.endswith((".scala", ".sbt", ".properties", ".py")))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cached(stamp_name, key, make):
    """Run `make` unless the stamp file already records `key`."""
    stamp = os.path.join(WORK, stamp_name)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    if os.path.exists(stamp):
        os.remove(stamp)
    make()
    with open(stamp, "w") as fh:
        fh.write(key)


def build():
    """Compile with sbt; keep the runtime classpath it exports."""
    log("building the library and the benchmark program (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    out = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    cp = [l for l in out if os.path.join(BENCH, "target") in l and ":" in l]
    if not cp:
        raise SystemExit("build produced no classpath")
    with open(os.path.join(WORK, "classpath.txt"), "w") as fh:
        fh.write(cp[-1].strip())


def generate():
    log("generating input tables")
    data = os.path.join(WORK, "data")
    shutil.rmtree(data, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(BENCH, "gen_data.py"), data],
                   check=True, timeout=300)


def run_jvm(args, run_dir):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cpus = len(os.sched_getaffinity(0))
    cp = open(os.path.join(WORK, "classpath.txt")).read()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = [java] + [a for p in ADD_OPENS
                    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-Dfile.encoding=UTF-8",
        f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", run_dir, "--data", os.path.join(WORK, "data"),
        "--bench", BENCH, "--cores", str(cpus)]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"workload did not finish within {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        raise SystemExit("benchmark JVM printed no result")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed result line: {lines[-1][:200]}")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help=argparse.SUPPRESS)
    args = ap.parse_args()

    library = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(library, "graft", "SparkEntry.scala")):
        raise SystemExit(f"library sources not found under {library}")
    os.makedirs(WORK, exist_ok=True)
    cached("build.stamp", tree_hash([library, os.path.join(BENCH, "src", "main"),
                                     os.path.join(BENCH, "build.sbt"),
                                     os.path.join(BENCH, "project")]), build)
    cached("data.stamp", tree_hash([os.path.join(BENCH, "gen_data.py")]), generate)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        line = run_jvm(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(line, flush=True)


if __name__ == "__main__":
    main()
