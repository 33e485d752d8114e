"""CPU profile of a running JVM with Java Flight Recorder: attaches JFR for a
while, then prints, for each thread-name pattern, a pruned call tree of the
`jdk.ExecutionSample` events of the matching threads.

    python3 tools/jfr_profile.py --jvm perfbench.Main --seconds 30
    python3 tools/jfr_profile.py --pid 1234 --thread 'stream execution' \\
        --thread 'Executor task launch' --min-share 2

`--jvm` waits for a process whose `comm` is `java` and whose command line
contains the pattern (so the profiler can be started before the program).
Matching on `comm` rather than with `pgrep -f` keeps the shell that runs the
program from matching too; `jcmd -l` does not list a JVM run with
`-XX:-UsePerfData`, as the benchmark's is.

The recording raises JFR's stack depth to 1024 frames first (`jcmd <pid>
JFR.configure stackdepth=1024`): at the default of 64, Spark's driver stacks
are cut off below the frames that say what the thread is doing. The setting
only takes effect before the JVM's first recording, so profile a fresh JVM.
The recording stops after `--seconds`, or earlier when the JVM exits (the
recording is then dumped on exit).

JFR samples a thread about every 20 ms without a safepoint, so it costs far
less than `jstack` sampling (tools/stack_sample.py). It still adds work to
the profiled run: use the tree to find where a thread spends its time, and
never take a profiled run's timings as evidence.
"""

import argparse
import json
import os
import re
import subprocess
import sys
import tempfile
import time


def find_jvm(pattern, timeout_s):
    """The pid of a process whose comm is `java` and whose command line
    contains `pattern`, waiting up to `timeout_s`."""
    deadline = time.time() + timeout_s
    me = os.getpid()
    while time.time() < deadline:
        for d in os.listdir("/proc"):
            if not d.isdigit() or int(d) == me:
                continue
            try:
                with open(f"/proc/{d}/comm") as fh:
                    if fh.read().strip() != "java":
                        continue
                with open(f"/proc/{d}/cmdline", "rb") as fh:
                    cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
            except OSError:
                continue
            if pattern in cmd:
                return int(d)
        time.sleep(0.5)
    sys.exit(f"no java process matching {pattern!r} within {timeout_s} s")


def jcmd(pid, *args):
    r = subprocess.run(["jcmd", str(pid), *args], capture_output=True, text=True)
    return r.returncode == 0 and "Could not" not in r.stdout, r.stdout.strip()


def alive(pid):
    return os.path.exists(f"/proc/{pid}")


def record(pid, seconds, out):
    ok, msg = jcmd(pid, "JFR.configure", "stackdepth=1024")
    if not ok:
        sys.exit(f"JFR.configure failed: {msg}")
    ok, msg = jcmd(pid, "JFR.start", "name=graft-profile", "settings=profile",
                   "dumponexit=true", f"filename={out}")
    if not ok:
        sys.exit(f"JFR.start failed: {msg}")
    end = time.time() + seconds
    while time.time() < end and alive(pid):
        time.sleep(0.5)
    if alive(pid):
        ok, msg = jcmd(pid, "JFR.dump", "name=graft-profile", f"filename={out}")
        jcmd(pid, "JFR.stop", "name=graft-profile")
        if not ok:
            sys.exit(f"JFR.dump failed: {msg}")
    else:  # dumped on exit; give the file a moment to land
        for _ in range(20):
            if os.path.exists(out) and os.path.getsize(out) > 0:
                break
            time.sleep(0.5)


def samples(jfr_file):
    """(thread name, [frame, ...] outermost first) per execution sample."""
    r = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ExecutionSample",
                        "--stack-depth", "1024", jfr_file],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"jfr print failed: {r.stderr.strip()}")
    events = json.loads(r.stdout)["recording"]["events"]
    for e in events:
        v = e["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or "?"
        frames = []
        for f in (v.get("stackTrace") or {}).get("frames", []):
            m = f["method"]
            frames.append(f'{m["type"]["name"]}.{m["name"]}')
        yield thread, frames[::-1]


def tree(stacks):
    root = {"n": 0, "kids": {}}
    for frames in stacks:
        node = root
        node["n"] += 1
        for f in frames:
            node = node["kids"].setdefault(f, {"n": 0, "kids": {}})
            node["n"] += 1
    return root


def show(node, total, min_share, max_depth, depth=0, name=None):
    """Prints the tree; a chain of single children above `min_share` is
    folded onto one level so deep framework stacks stay readable."""
    if name is not None:
        folded = [name]
        while len(node["kids"]) == 1:
            (k, child), = node["kids"].items()
            if child["n"] != node["n"]:
                break
            folded.append(k)
            node = child
        label = folded[0] if len(folded) == 1 else \
            f"{folded[0]} … {folded[-1]} ({len(folded)} frames)"
        print(f"{'  ' * depth}{node['n']:6d} {100.0 * node['n'] / total:5.1f}%  {label}")
        depth += 1
    if depth > max_depth:
        return
    for k, child in sorted(node["kids"].items(), key=lambda kv: -kv[1]["n"]):
        if 100.0 * child["n"] / total >= min_share:
            show(child, total, min_share, max_depth, depth, k)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    who = ap.add_mutually_exclusive_group(required=True)
    who.add_argument("--pid", type=int)
    who.add_argument("--jvm", help="substring of the java command line")
    who.add_argument("--file", help="print an existing .jfr recording instead")
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--thread", action="append",
                    help="regex on the thread name; repeat for several trees "
                         "(default: the stream execution thread)")
    ap.add_argument("--min-share", type=float, default=1.0,
                    help="prune subtrees under this %% of the thread's samples")
    ap.add_argument("--max-depth", type=int, default=40, help="printed levels")
    ap.add_argument("--keep", help="also keep the recording at this path")
    a = ap.parse_args()
    patterns = a.thread or ["stream execution thread"]

    if a.file:
        jfr_file = a.file
    else:
        pid = a.pid or find_jvm(a.jvm, timeout_s=120)
        jfr_file = a.keep or os.path.join(tempfile.mkdtemp(prefix="jfr-"), "profile.jfr")
        record(pid, a.seconds, jfr_file)
        print(f"pid {pid}: recorded {a.seconds:g} s to {jfr_file}")

    all_samples = list(samples(jfr_file))
    for p in patterns:
        thread_re = re.compile(p)
        stacks = [f for t, f in all_samples if thread_re.search(t)]
        print(f"\n== {len(stacks)} samples of threads matching {p!r} "
              f"(of {len(all_samples)})")
        if stacks:
            show(tree(stacks), len(stacks), a.min_share, a.max_depth)


if __name__ == "__main__":
    main()
