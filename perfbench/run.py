"""One benchmark run of graft: builds the library and the harness, starts one
JVM at local[N] (N = usable cores), runs one workload for a fixed time and
prints one JSON result line as the last line of standard output.

    python3 perfbench/run.py --workload fwd_plain --seed 1 --seconds 20 --trace 0

Everything the run writes stays under the build directory (`.bench_build`, or
$CARGO_TARGET_DIR): classes, per-run scratch data, the run record with its
host facts (records/), and the trace file of a traced run (traces/).
"""

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("fwd_plain", "fwd_guarded")
# The harness must end well inside 180 s; the JVM gets this long.
JVM_DEADLINE_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_times():
    """Aggregate (total, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return sum(f[:8]), (f[7] if len(f) > 7 else 0)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, work, args, result_file):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, jars]), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores()), "--work", work, "--result", result_file,
            "--build", build.build_dir()]
    # The JVM's own stdout goes to our stderr: the result line must be last.
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=JVM_DEADLINE_S)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {JVM_DEADLINE_S} s; killing it")
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def contract_problem(res, trace):
    """Compares the run's metric names and units with BENCHMARK.json."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if want != got:
        return {"missing": sorted(set(want) - set(got)), "extra": sorted(set(got) - set(want)),
                "unit": sorted(k for k in want if k in got and want[k] != got[k])}
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes, source_sha = build.build()
    except RuntimeError as e:
        log(f"build failed: {e}")
        return 2

    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
    work = os.path.join(build.build_dir(), "runs", stamp)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    load_before = os.getloadavg()
    cpu0 = cpu_times()
    wall0 = time.time()
    try:
        rc = run_jvm(classes, work, args, result_file)
        cpu1 = cpu_times()
        if rc != 0 or not os.path.exists(result_file):
            log(f"JVM failed (exit code {rc})")
            return 3
        with open(result_file) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    problem = contract_problem(res, args.trace)
    if problem:
        log(f"result does not match BENCHMARK.json: {problem}")
        return 4

    steal = None
    if cpu0 and cpu1 and cpu1[0] > cpu0[0]:
        steal = round(100.0 * (cpu1[1] - cpu0[1]) / (cpu1[0] - cpu0[0]), 2)
    host = {
        "nproc": cores(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": res["info"].get("spark_version"),
        "jdk_version": res["info"].get("jdk_version"),
        "git_commit": git_commit(),
        "source_sha256": source_sha,
        "loadavg_before": list(load_before),
        "loadavg_after": list(os.getloadavg()),
        "cpu_steal_pct": steal,
        "machine": platform.machine(),
        "run_wall_s": round(time.time() - wall0, 3),
    }
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host,
              "fail_ratio": res["failed"] / res["attempted"],
              "result": {k: res[k] for k in ("correct", "attempted", "failed", "metrics")},
              "info": res["info"]}
    rec_dir = os.path.join(build.build_dir(), "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, stamp + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    log("host " + json.dumps(host, sort_keys=True))
    log("info " + json.dumps(res["info"], sort_keys=True))
    print(json.dumps(record["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
