"""Does the CPU probe read the host's speed, or the load on the cores?

    python3 webbench/probe_load.py [--rounds 14] [--block 1.5]

Alternates blocks in which 0, 1 and nproc busy processes (a pure-Python
loop each) run beside the runner's probe (:class:`run.Region`), and
prints the probe's median reading per load and, per round, each load's
reading over the idle reading of the same round. If the probe followed
only the host's speed, the ratios would be 1. A ratio below 1 means busy
cores make the probe read faster, so a program that keeps more cores
busy would be scaled down; above 1, scaled up.
"""

from __future__ import annotations

import argparse
import multiprocessing
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webbench.run import Region, _probe_work  # noqa: E402


def _spin(stop) -> None:
    while not stop.is_set():
        _probe_work(20_000)


def block(n_busy: int, seconds: float) -> float:
    """probe_s over ``seconds`` with ``n_busy`` busy processes beside it."""
    ctx = multiprocessing.get_context("fork")
    stop = ctx.Event()
    procs = [ctx.Process(target=_spin, args=(stop,)) for _ in range(n_busy)]
    for p in procs:
        p.start()
    try:
        with Region() as region:
            stop.wait(seconds)
    finally:
        stop.set()
        for p in procs:
            p.join()
    return region.probe_s


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--rounds", type=int, default=14)
    p.add_argument("--block", type=float, default=1.5)
    args = p.parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    loads = [0, 1, nproc]
    readings = {n: [] for n in loads}
    for r in range(args.rounds):
        for n in loads if r % 2 == 0 else loads[::-1]:
            readings[n].append(block(n, args.block))
    print(f"nproc = {nproc}, {args.rounds} rounds of {args.block} s blocks")
    for n in loads:
        ratios = [x / idle for x, idle in zip(readings[n], readings[0])]
        q = statistics.quantiles(ratios, n=4) if len(ratios) > 1 else ratios * 3
        print(f"busy = {n}: probe_s median {statistics.median(readings[n]):.5f} s; "
              f"over idle, same round: median {statistics.median(ratios):.4f} "
              f"[q1 {q[0]:.4f}, q3 {q[2]:.4f}]")
    return 0


if __name__ == "__main__":
    sys.exit(main())
