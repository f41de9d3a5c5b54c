#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the library and the
benchmark from source (see build.py). Each run starts one JVM on
`local[nproc]`, sets up the workload's generated inputs, warms up, then
calls the workload's entry point in a closed loop for `--seconds`,
checking every op's output. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`; the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The exit code
is 0 only when every op passed its check.

Workloads, metrics and their meaning are listed in BENCHMARK.json and
perfbench/README.md. `--inject-fail K` makes op K fail its check (used by
the benchmark's own tests).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fail", type=int, default=-1)
    ap.add_argument("--digest", action="store_true",
                    help="print the SHA-256 of the workload's generated inputs")
    a = ap.parse_args()

    cp = build.build()
    out_dir = build.build_dir()
    work = os.path.join(out_dir, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    env = dict(os.environ, GRAFT_MODEL_DIR=os.path.join(work, "models"))
    # a fixed-size heap and the parallel collector: measured steadier
    # than the default collector on the short, latency-bound ingest ops
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed)])
    if a.digest:
        cmd.append("--digest")
    else:
        cmd += ["--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", result,
                "--inject-fail", str(a.inject_fail)]
    # the JVM's log goes to the build directory; the benchmark's own
    # messages ("perfbench: ...") are echoed to stderr
    logs = os.path.join(out_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)

        def stop(reason):
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"perfbench: {reason}")

        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda n, _: stop(f"stopped by signal {n}"))
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop("run exceeded its time limit")
    with open(log) as fh:
        for line in fh:
            if line.startswith("perfbench:"):
                sys.stderr.write(line)
    sys.stdout.write(out)
    code = proc.returncode
    if a.digest:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)
    trace_json = os.path.join(work, "trace.json")
    if os.path.exists(trace_json):
        keep = os.path.join(out_dir, "traces")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(trace_json, os.path.join(keep, f"{a.workload}-seed{a.seed}.json"))
    res = None
    if os.path.exists(result):
        with open(result) as fh:
            res = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    if res is None or code not in (0, 1):
        sys.exit(f"perfbench: benchmark JVM exited with {code} and no result")
    print(json.dumps(res))
    sys.exit(0 if code == 0 and res["correct"] else 1)


if __name__ == "__main__":
    main()
