#!/usr/bin/env python3
"""CPU time per thread group of one child process, and how many cores it
kept busy over time.

    python3 tools/thread_cpu.py [--interval 0.5] -- CMD [ARG...]

Launches CMD and, until it exits, samples every `--interval` seconds
`/proc/<pid>/stat` and `/proc/<pid>/task/*/stat` of that child and of
nothing else. Its stdin, stdout and stderr are CMD's; the report goes to
stderr once CMD exits, and the exit status is CMD's:

  - CPU seconds (user + system) per thread group, largest first. A group
    is a thread name with its trailing number dropped, so `GC Thread#0`
    and `GC Thread#3` are one group `GC Thread`. Linux keeps only the first
    15 bytes of a name: a JVM's compiler threads read `C2 CompilerThre`
    and its Spark task threads `Executor task l`; its `main` thread keeps
    the launcher's name, `java`.
  - busy cores per interval: the child's CPU time in that interval over
    the interval's length.
  - the child's total CPU time as `wait4` reports it, and the part of it
    no sample attributed to a thread (threads that exited between two
    samples, or after the last one).
"""
import argparse
import collections
import os
import re
import subprocess
import sys
import time

TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(stat_line):
    """(name, user + system CPU seconds) from one `stat` line."""
    head, _, rest = stat_line.rpartition(")")
    fields = rest.split()
    # fields[0] is `state` (field 3 of proc(5)); utime, stime are 14, 15
    return head.partition("(")[2], (int(fields[11]) + int(fields[12])) / TICK


def read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the thread or the process has just exited
        return None


def group(name):
    return re.sub(r"[-#_ ]?\d+$", "", name) or name


def sample(pid, threads):
    """Update `threads` (tid -> (name, CPU s)) and return the process's
    own CPU seconds, or None once it is gone."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        tids = []
    for tid in tids:
        line = read(f"/proc/{pid}/task/{tid}/stat")
        if line:
            threads[tid] = cpu_s(line)
    line = read(f"/proc/{pid}/stat")
    return cpu_s(line)[1] if line else None


def report(threads, busy, interval, total, out):
    groups = collections.Counter()
    counts = collections.Counter()
    for name, s in threads.values():
        groups[group(name)] += s
        counts[group(name)] += 1
    seen = sum(groups.values())
    print(f"[thread_cpu] CPU {total:.1f} s in total; per thread group "
          "(threads, CPU s):", file=out)
    for g, s in groups.most_common():
        print(f"[thread_cpu]   {g:<18} {counts[g]:>4} {s:8.1f}", file=out)
    print(f"[thread_cpu]   {'(not sampled)':<18} {'':>4} "
          f"{max(total - seen, 0.0):8.1f}", file=out)
    print(f"[thread_cpu] busy cores per {interval:g} s from launch:", file=out)
    per_line = max(1, round(5 / interval))
    for i in range(0, len(busy), per_line):
        row = " ".join(f"{b:4.1f}" for b in busy[i:i + per_line])
        print(f"[thread_cpu]   {i * interval:6.1f} s  {row}", file=out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--interval", type=float, default=0.5,
                    help="seconds between samples (default 0.5)")
    ap.add_argument("cmd", nargs=argparse.REMAINDER,
                    help="the command to launch, after --")
    args = ap.parse_args()
    cmd = args.cmd[1:] if args.cmd[:1] == ["--"] else args.cmd
    if not cmd or args.interval <= 0:
        ap.error("give a positive --interval and a command after --")

    child = subprocess.Popen(cmd)
    threads, busy, status, usage = {}, [], None, None
    t_last, cpu_last = time.monotonic(), 0.0
    while True:
        while status is None and time.monotonic() < t_last + args.interval:
            pid, st, ru = os.wait4(child.pid, os.WNOHANG)
            if pid:
                status, usage = st, ru
            else:
                time.sleep(0.02)
        if status is not None:
            break
        cpu = sample(child.pid, threads)
        now = time.monotonic()
        if cpu is not None:
            busy.append((cpu - cpu_last) / (now - t_last))
            cpu_last = cpu
        t_last = now
    child.returncode = os.waitstatus_to_exitcode(status)
    report(threads, busy, args.interval,
           usage.ru_utime + usage.ru_stime, sys.stderr)
    return child.returncode


if __name__ == "__main__":
    sys.exit(main())
