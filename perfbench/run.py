"""Repo benchmark: the memo engine driven through its public functions.

Usage (from the checkout root):

    python3 perfbench/run.py --workload memo_read|memo_ingest --seed N \
        --seconds S --trace 0|1

Builds the engine and the harness if their sources changed
(`perfbench/build.py`), runs one JVM at local[nproc] in a fresh per-run
directory (java.io.tmpdir, spark.local.dir and the warehouse all point
into it; it is deleted afterwards, so nothing is cached across runs), and
prints a `{"record": ...}` line with the run's inputs and the box weather
(loadavg and /proc/stat steal at start and end), then the result object
as the last line. With `--trace 1` the spans and jobs are also written to
`.bench_out/trace-<workload>-s<seed>.jsonl`. Exits non-zero, without a
result, when it cannot build or run; exits 1 after the result when an
output check failed.
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

WORKLOADS = ("memo_read", "memo_ingest")
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def weather():
    out = {}
    try:
        with open("/proc/loadavg") as fh:
            out["loadavg"] = [float(x) for x in fh.read().split()[:3]]
    except OSError:
        pass
    try:
        with open("/proc/stat") as fh:
            cpu = [int(x) for x in fh.readline().split()[1:]]
        out["steal_jiffies"] = cpu[7] if len(cpu) > 7 else 0
        out["total_jiffies"] = sum(cpu[:8])
    except (OSError, ValueError):
        pass
    return out


def steal_share(start, end):
    try:
        total = end["total_jiffies"] - start["total_jiffies"]
        return (end["steal_jiffies"] - start["steal_jiffies"]) / total if total else 0.0
    except KeyError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    try:
        cp = build.build()
        java = build.java()
    except build.BuildError as e:
        print("[perfbench] build error: %s" % e, file=sys.stderr)
        return 2

    w0 = weather()
    run_dir = os.path.join(build.ROOT, ".bench_run",
                           "%s-s%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    trace_out = None
    if args.trace:
        out_dir = os.path.join(build.ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_out = os.path.join(out_dir, "trace-%s-s%d.jsonl" % (args.workload, args.seed))
    cpus = len(os.sched_getaffinity(0))
    cmd = [java, "-Xmx2g", "-Xss4m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--cpus", str(cpus)]
    if trace_out:
        cmd += ["--trace-out", trace_out]

    log_path = os.path.join(run_dir, "jvm.log")
    proc = None

    def stop(*_):
        raise SystemExit(3)
    signal.signal(signal.SIGTERM, stop)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print("[perfbench] run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
                return 3
        code = proc.returncode
        lines = [l for l in stdout.splitlines() if l.startswith("{")]
        result = next((l for l in reversed(lines) if '"correct"' in l), None)
        if code not in (0, 1) or result is None:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            print("[perfbench] JVM exited %d without a result" % code, file=sys.stderr)
            return code or 4
        w1 = weather()
        for l in lines:
            if l.startswith('{"record"'):
                rec = json.loads(l)
                rec["record"]["weather"] = {
                    "start": {"loadavg": w0.get("loadavg")},
                    "end": {"loadavg": w1.get("loadavg")},
                    "steal_share": steal_share(w0, w1)}
                print(json.dumps(rec, separators=(",", ":")))
        with open(log_path) as fh:
            sys.stderr.write("".join(l for l in fh if "[perfbench]" in l))
        print(result, flush=True)
        return code
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
