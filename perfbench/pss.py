#!/usr/bin/env python3
"""Peak memory of a process tree, sampled from a process of its own.

    python3 perfbench/pss.py <root-pid> [interval-seconds]

Every interval, sums the proportional set size (PSS) of ``root-pid``
and its descendants -- for Spark, the JVM, the Python daemon and its
forked workers.  PSS splits pages shared after a fork between the
sharers, where summing RSS would count them once per worker.  Sampling
stops when standard input closes; the last line printed is
``<peak bytes> <samples> <own CPU seconds>``.

Running apart from the benchmark's driver keeps the sampling off the
thread whose latency is being measured.
"""

from __future__ import annotations

import glob
import select
import sys
import time


def tree(root: int) -> list[int]:
    """``root`` and its descendants, from the kernel's child lists."""
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        for path in glob.glob(f"/proc/{pid}/task/*/children"):
            try:
                with open(path) as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass  # the thread or process exited while we looked
    return pids


def pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the process exited while we looked
    return 0


def main() -> int:
    root = int(sys.argv[1])
    interval = float(sys.argv[2]) if len(sys.argv) > 2 else 0.5
    peak = samples = 0
    while True:
        peak = max(peak, sum(map(pss, tree(root))))
        samples += 1
        ready, _, _ = select.select([sys.stdin], [], [], interval)
        if ready and not sys.stdin.read(1):
            break  # end of input: the benchmark is done
    print(peak, samples, round(time.process_time(), 4))
    return 0


if __name__ == "__main__":
    sys.exit(main())
