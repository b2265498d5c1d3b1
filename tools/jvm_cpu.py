"""Per-thread CPU breakdown of the Spark driver JVM that a command starts.

Runs the command, finds the ``SparkSubmit`` JVM among its descendants
(spark-submit's short-lived ``org.apache.spark.launcher.Main`` JVM is
not one), and samples ``/proc/<jvm>/task/*/stat`` until the command
exits. It only reads ``/proc``. When the command exits it prints, on
stderr, the JVM's CPU seconds grouped by thread class: the C2 and C1
JIT compilers, GC, executor task threads, py4j's ``Thread-N`` planning
threads, exchange and query-stage threads, and other.

Usage:
    python tools/jvm_cpu.py -- python3 perfbench/run.py --workload analytics \\
        --seed 611 --seconds 10 --trace 0

The command's own output passes through, and its exit code is this
script's exit code. CPU of a thread that exits between two samples is
lost to the per-class rows after its last sample; the ``unsampled`` row
is the JVM's process CPU minus what the thread rows hold.
"""

from __future__ import annotations

import argparse
import collections
import os
import re
import subprocess
import sys
import time

TICK = os.sysconf("SC_CLK_TCK")
MAIN_CLASS = b"org.apache.spark.deploy.SparkSubmit"
LAUNCHER_CLASS = b"org.apache.spark.launcher.Main"
INTERVAL_S = 0.25

# (class, pattern on the thread name). Linux keeps the first 15 bytes
# of a Java thread's name ("C2 CompilerThre", "Executor task l").
CLASSES = [
    ("C2 compiler", re.compile(r"C2 CompilerThre")),
    ("C1 compiler", re.compile(r"C1 CompilerThre")),
    ("GC", re.compile(r"GC Thread|G1 ")),
    ("executor tasks", re.compile(r"Executor task l")),
    ("py4j Thread-N", re.compile(r"Thread-\d+$")),
    ("exchange/query stages", re.compile(r"broadcast-|shuffle-|subquery-|.*QueryStag")),
]
OTHER = "other"


def classify(name: str) -> str:
    for cls, pattern in CLASSES:
        if pattern.match(name):
            return cls
    return OTHER


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a ``/proc`` stat file; None once the
    process or thread is gone. comm may hold spaces or parentheses, so
    split at the last ``)``."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    head, _, rest = raw.rpartition(")")
    return head.partition("(")[2], rest.split()


def _ticks(fields: list[str]) -> int:
    # fields[0] is the state (stat field 3); utime and stime are 14 and 15
    return int(fields[11]) + int(fields[12])


def _descendants(root: int) -> list[int]:
    children = collections.defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(f"/proc/{entry}/stat")
            if st:
                children[int(st[1][1])].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out[1:]


def _is_spark_submit(pid: int) -> bool:
    """A java process running SparkSubmit. The spark-submit and
    spark-class shell scripts, and the launcher JVM that builds the
    command line, also carry the class name among their arguments."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
    except OSError:
        return False
    return (
        os.path.basename(argv[0]) == b"java"
        and MAIN_CLASS in argv
        and LAUNCHER_CLASS not in argv
    )


class JvmSampler:
    """Last seen (name, CPU ticks) of every thread of one JVM, and the
    JVM's process CPU ticks (which keep the CPU of exited threads)."""

    def __init__(self, pid: int):
        self.pid = pid
        self.threads: dict[int, tuple[str, int]] = {}
        self.process_ticks = 0

    def sample(self) -> None:
        st = _stat(f"/proc/{self.pid}/stat")
        if st is None:
            return
        try:
            tids = os.listdir(f"/proc/{self.pid}/task")
        except OSError:
            return
        for tid in tids:
            tst = _stat(f"/proc/{self.pid}/task/{tid}/stat")
            if tst is not None:
                self.threads[int(tid)] = (tst[0], _ticks(tst[1]))
        self.process_ticks = max(self.process_ticks, _ticks(st[1]))


def report(jvms: list[JvmSampler], n_samples: int) -> str:
    by_class: dict[str, int] = collections.Counter()
    for jvm in jvms:
        for name, ticks in jvm.threads.values():
            by_class[classify(name)] += ticks
    total = sum(j.process_ticks for j in jvms)
    rows = [cls for cls, _ in CLASSES] + [OTHER]
    lines = [
        f"# jvm_cpu: {n_samples} samples every {INTERVAL_S} s, "
        f"{len(jvms)} SparkSubmit JVM(s): "
        + ", ".join(
            f"pid {j.pid} ({j.process_ticks / TICK:.2f} cpu_s, {len(j.threads)} threads)"
            for j in jvms
        ),
        f"{'threads':<24}{'cpu_s':>9}{'share':>8}",
    ]

    def line(label: str, ticks: int) -> str:
        share = f"{100 * ticks / total:.1f}%" if total else "-"
        return f"{label:<24}{ticks / TICK:>9.2f}{share:>8}"

    lines += [line(cls, by_class[cls]) for cls in rows]
    lines.append(line("unsampled", total - sum(by_class.values())))
    lines.append(line("JVM process total", total))
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("command", nargs=argparse.REMAINDER, help="-- command to run")
    args = ap.parse_args()
    command = args.command[1:] if args.command[:1] == ["--"] else args.command
    if not command:
        ap.error("no command given")

    proc = subprocess.Popen(command)
    jvms: dict[int, JvmSampler] = {}
    n_samples = 0
    try:
        while proc.poll() is None:
            for pid in _descendants(proc.pid):
                if pid not in jvms and _is_spark_submit(pid):
                    jvms[pid] = JvmSampler(pid)
            for jvm in jvms.values():
                jvm.sample()
            n_samples += 1
            time.sleep(INTERVAL_S)
    except KeyboardInterrupt:
        proc.terminate()
        proc.wait()
    print(report(list(jvms.values()), n_samples), file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
