"""Poor man's profiler for a running JVM: samples `jstack <pid>` for a
while, keeps the threads whose name matches a pattern, and prints

- inclusive frame counts: in how many sampled stacks each method appears;
- the callers of `org.apache.hadoop.util.Shell.runCommand`: the first
  frames outside Hadoop's `Shell` classes of every stack that was starting
  a child process (`chmod`, `readlink`, `ls`, ...), grouped and counted.

    python3 tools/stack_sample.py --jvm perfbench.Main --seconds 20
    python3 tools/stack_sample.py --pid 1234 --thread 'Executor task launch' --top 40

`--jvm` waits for a `java` process whose command line contains the pattern
(so the sampler can be started before the program; `jcmd -l` does not list
a JVM run with `-XX:-UsePerfData`, as the benchmark's is). Sampling stops after
`--seconds` or when the JVM exits.

Every `jstack` call pauses the JVM at a safepoint, which adds work to the
sampled run: use the counts to find where a thread spends its time, and
never take a sampled run's timings as evidence.
"""

import argparse
import collections
import re
import subprocess
import sys
import time

RUN_COMMAND = "org.apache.hadoop.util.Shell.runCommand"
SHELL_CLASSES = ("org.apache.hadoop.util.Shell.", "org.apache.hadoop.util.Shell$")
THREAD_HEADER = re.compile(r'^"(?P<name>.*)" #')
FRAME = re.compile(r"^\s+at (?P<method>[^(]+)\(")
LAMBDA = re.compile(r"\$\$Lambda\$?[0-9]*/0x[0-9a-f]+")  # differs per JVM run


def find_jvm(pattern, timeout_s):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        out = subprocess.run(["ps", "-eo", "pid=,args="],
                             capture_output=True, text=True).stdout
        for line in out.splitlines():
            pid, _, cmd = line.strip().partition(" ")
            if cmd.split(" ", 1)[0].endswith("java") and pattern in cmd:
                return int(pid)
        time.sleep(0.5)
    sys.exit(f"no JVM matching {pattern!r} within {timeout_s} s")


def thread_stacks(dump, thread_re):
    """The (name, [method, ...]) of each matching thread, innermost frame first."""
    stacks, name, frames = [], None, []
    for line in dump.splitlines() + [""]:
        header = THREAD_HEADER.match(line)
        if header or not line.strip():
            if name is not None and thread_re.search(name):
                stacks.append((name, frames))
            name, frames = (header.group("name"), []) if header else (None, [])
            continue
        frame = FRAME.match(line)
        if frame and name is not None:
            frames.append(LAMBDA.sub("$$Lambda", frame.group("method")))
    return stacks


def shell_callers(frames, depth):
    """The `depth` frames that called into Hadoop's Shell classes, then the
    first frame outside Hadoop (the caller that asked Hadoop for the work),
    or None when the stack is not in Shell.runCommand."""
    if RUN_COMMAND not in frames:
        return None
    i = frames.index(RUN_COMMAND)
    while i < len(frames) and frames[i].startswith(SHELL_CLASSES):
        i += 1
    outside = next((f for f in frames[i:] if not f.startswith("org.apache.hadoop.")), None)
    chain = frames[i:i + depth]
    return tuple(chain + [outside] if outside and outside not in chain else chain)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    who = ap.add_mutually_exclusive_group(required=True)
    who.add_argument("--pid", type=int)
    who.add_argument("--jvm", help="substring of the java command line")
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--thread", default="stream execution thread",
                    help="regex on the thread name")
    ap.add_argument("--top", type=int, default=25, help="frames to print")
    ap.add_argument("--depth", type=int, default=3,
                    help="caller frames to print per Shell.runCommand stack")
    a = ap.parse_args()

    pid = a.pid or find_jvm(a.jvm, timeout_s=120)
    thread_re = re.compile(a.thread)
    dumps = samples = 0
    inclusive = collections.Counter()
    callers = collections.Counter()
    end = time.time() + a.seconds
    while time.time() < end:
        r = subprocess.run(["jstack", str(pid)], capture_output=True, text=True)
        if r.returncode != 0:
            break  # the JVM exited
        dumps += 1
        for _, frames in thread_stacks(r.stdout, thread_re):
            samples += 1
            inclusive.update(set(frames))
            c = shell_callers(frames, a.depth)
            if c is not None:
                callers[c] += 1

    print(f"pid {pid}: {dumps} dumps, {samples} stacks of threads matching {a.thread!r}")
    if not samples:
        return
    shell = inclusive[RUN_COMMAND]
    print(f"\n{shell} of {samples} stacks ({100.0 * shell / samples:.0f}%) "
          f"inside {RUN_COMMAND}")
    for chain, n in callers.most_common():
        print(f"{n:6d}  " + "\n        <- ".join(chain))
    print(f"\ninclusive frame counts (top {a.top}):")
    for method, n in inclusive.most_common(a.top):
        print(f"{n:6d} {100.0 * n / samples:5.1f}%  {method}")


if __name__ == "__main__":
    main()
