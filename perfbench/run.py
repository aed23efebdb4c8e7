#!/usr/bin/env python3
"""Run one geckospark benchmark workload and print its result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the harness on
first use (see build.py), then runs the workload in one JVM at
local[<cores>]. The last stdout line is the result JSON; the JVM's log
and the run record (spans, checks, controls) land in .bench_build/.
Exits non-zero when a correctness check fails or nothing could run.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["synth_pipeline", "mutate_table", "link_eval", "text_curation"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    args = p.parse_args()

    root = os.getcwd()
    try:
        classpath = build.ensure_built(root)
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2

    bench = os.path.join(root, build.BUILD_DIR)
    tmp = os.path.join(bench, "tmp")
    logs = os.path.join(bench, "logs")
    for d in (tmp, logs):
        os.makedirs(d, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    cmd = [build.java_bin(), "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData"]
    cmd += [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--cores", str(cores()),
            "--work", os.path.join(bench, "work", tag),
            "--out", os.path.join(bench, "results"),
            "--pinned", os.path.join(root, "perfbench", "pinned.tsv")]
    log_path = os.path.join(logs, tag + ".log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE,
                                stderr=log, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"[perfbench] run exceeded {JVM_TIMEOUT_S}s; log: {log_path}",
                  file=sys.stderr)
            return 3

    result = None
    for line in reversed(out.decode(errors="replace").splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            result = line
            break
    if result is None:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-3000:])
        print(f"[perfbench] no result line (exit {proc.returncode}); log: {log_path}",
              file=sys.stderr)
        return proc.returncode or 4
    if proc.returncode != 0:
        print(f"[perfbench] checks failed (exit {proc.returncode}); log: {log_path}",
              file=sys.stderr)
    print(result)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
