#!/usr/bin/env python3
"""CPU per thread group of the running engine JVMs, between two instants.

    python3 tools/thread_cpu.py [--delay D] [--seconds N] [--pid PID ...]

Without --pid it finds every JVM whose command line runs graft.app.Main
and labels it by its mode (pipeline, wall, ...). It reads
/proc/<pid>/task/*/stat and comm at two instants N seconds apart (after
waiting D seconds) and prints, per JVM, the CPU seconds each thread group
used in between: the JIT compiler threads, GC and VM threads, stream
execution threads, executor task threads and everything else. A thread
born inside the window counts from its start; one that ends inside it is
missed. Linux only; it starts no process and writes nothing.
"""
import argparse
import os
import time

TICK = os.sysconf("SC_CLK_TCK")
GROUPS = (("compiler", ("C1 CompilerThre", "C2 CompilerThre")),
          ("gc+vm", ("GC Thread", "G1 ", "VM Thread")),
          ("stream", ("stream executio",)),
          ("executor", ("Executor task l",)))


def group(comm):
    return next((g for g, prefixes in GROUPS if comm.startswith(prefixes)), "other")


def engines():
    found = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open("/proc/%s/cmdline" % pid, "rb") as fh:
                argv = fh.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        if "graft.app.Main" in argv:
            i = argv.index("graft.app.Main")
            found[int(pid)] = argv[i + 1] if i + 1 < len(argv) and argv[i + 1] else "pipeline"
    return found


def sample(pid):
    """{tid: (group, cpu ticks)} of one process's live threads."""
    out, base = {}, "/proc/%d/task" % pid
    for tid in os.listdir(base):
        try:
            with open("%s/%s/comm" % (base, tid)) as fh:
                comm = fh.read().rstrip("\n")
            with open("%s/%s/stat" % (base, tid)) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[tid] = (group(comm), int(fields[11]) + int(fields[12]))  # utime + stime
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--delay", type=float, default=0.0, help="seconds to wait before the first sample")
    ap.add_argument("--seconds", type=float, default=5.0, help="length of the window")
    ap.add_argument("--pid", type=int, nargs="*", help="JVMs to read (default: every graft.app.Main)")
    args = ap.parse_args()
    time.sleep(args.delay)
    procs = {p: "pid" for p in args.pid} if args.pid else engines()
    if not procs:
        raise SystemExit("no graft.app.Main JVM is running")
    before = {p: sample(p) for p in procs}
    time.sleep(args.seconds)
    for pid, label in sorted(procs.items()):
        after = sample(pid)
        used = {}
        for tid, (g, ticks) in after.items():
            used[g] = used.get(g, 0.0) + (ticks - before[pid].get(tid, (g, 0))[1]) / TICK
        total = sum(used.values())
        print("%s (pid %d): %.2f s CPU in %.1f s" % (label, pid, total, args.seconds))
        for g in [name for name, _ in GROUPS] + ["other"]:
            share = 100.0 * used.get(g, 0.0) / total if total else 0.0
            print("  %-9s %7.2f s %5.1f %%" % (g, used.get(g, 0.0), share))


if __name__ == "__main__":
    main()
