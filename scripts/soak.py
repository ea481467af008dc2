"""sf1-class soak: the flagship at the scaling-protocol input (seeded
synthetic transcripts, ~26x the sf0.1 bench input) on local[SPARK_GRAFT_CPUS or *], with peak
process memory sampled across the JVM and every Python worker.

Evidence for: (a) the flagship completes a ~1.7B-rolled-point run in one
job wave with bounded memory (no O(spine) or O(conversation) state — the
pack UDF's carry is data-sized and calendar-bounded), (b) peak RSS sits
far below the 125 GiB box, so the sf0.1 bench numbers are not secretly
memory-cliff-adjacent.

Usage: python scripts/soak.py [n_turns] [n_convs]   (defaults 20M / 2000)
Prints one JSON line; BENCH.md carries the recorded row.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _descendants(root_pid: int) -> set[int]:
    """root_pid + all transitive children, via /proc (no psutil here)."""
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().split(")")[-1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    out, stack = set(), [root_pid]
    while stack:
        p = stack.pop()
        if p in out:
            continue
        out.add(p)
        stack.extend(kids.get(p, []))
    return out


def _rss_bytes(pids: set[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, ValueError, IndexError):
            continue
    return total


class PeakSampler(threading.Thread):
    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        # NOTE: must not be named _stop — that shadows a Thread internal
        self._stopped = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stopped.is_set():
            self.peak = max(self.peak, _rss_bytes(_descendants(me)))
            self._stopped.wait(self.interval)

    def stop(self):
        self._stopped.set()


def main() -> None:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    n_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000

    from bench import flagship_synth_points
    from tmframe_spark.session import get_spark

    spark = get_spark(app_name="tmframe-soak")
    spark.sparkContext.setLogLevel("ERROR")
    # warm codegen/JIT on a 1%-scale same-shape input (scaling.py protocol)
    flagship_synth_points(spark, max(n_turns // 100, 10_000), max(n_convs // 10, 10))

    sampler = PeakSampler()
    sampler.start()
    t0 = time.time()
    points = flagship_synth_points(spark, n_turns, n_convs)
    wall = time.time() - t0
    sampler.stop()
    sampler.join(2)

    print(
        json.dumps(
            {
                "job": "flagship_rollup_pack_3tiers (synth soak)",
                "n_turns": n_turns,
                "n_convs": n_convs,
                "rolled_points": points,
                "wall_sec": round(wall, 1),
                "points_per_sec": round(points / wall, 1),
                "peak_rss_gib": round(sampler.peak / (1 << 30), 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
