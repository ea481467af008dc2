"""Pack-stage probe for ``pack_rollup_blocks(..., split_dense_rows=N)``.

    python3 scripts/split_probe.py [--base <rev>] [--runs 3] [--years 10] [--cores 4]

Shape: one conversation dense at 1m for ``--years`` years (the straggler the
split path exists for) plus 31 small conversations of a few hundred rows.
The rollup is built and checkpointed first, so only the pack is timed: each
run packs the 1m tier into day blocks and writes them to the ``noop`` sink,
once one-pass and once with ``split_dense_rows`` (the order alternates from
run to run), on ``local[--cores]``, after one untimed warm-up pack per mode
(the first pack of a fresh JVM and Python worker pool runs ~1.5x slower).
One more pass per mode collects (conv, group, sha256 of the frame) and
fails unless both modes wrote the same bytes. Prints one JSON line per
tree: each mode's times and median.

With ``--base``, the same probe also runs on a clean export of that git
revision (``git archive`` into a temporary directory, always removed
afterwards), each tree in its own process and JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPLIT_ROWS = 100_000
N_SMALL = 31


def rollup_rows(spark, years: int):
    """The probe's 1m rollup: the dense conversation, then the small ones."""
    from pyspark.sql import functions as F

    base = 1_420_070_400  # 2015-01-01T00:00:00Z
    n_hot = years * 365 * 1440

    def conv(name, n, stride, offset):
        return spark.range(n).select(
            F.lit(name).alias("conv_id"),
            F.timestamp_seconds(F.lit(base + offset) + F.col("id") * 60 * stride).alias(
                "bucket"
            ),
            (F.col("id") % 5 + 1).alias("turns"),
            (F.col("id") * 7 % 1000).alias("token_volume"),
        )

    df = conv("hot", n_hot, 1, 0)
    for i in range(N_SMALL):
        df = df.unionByName(conv(f"small-{i:02d}", 200 + 13 * i, 7 + i, 86_400 * i))
    return df


def probe(runs: int, years: int, cores: int) -> dict:
    from pyspark.sql import functions as F

    from tmframe_spark.codec.udfs import pack_rollup_blocks
    from tmframe_spark.session import get_spark

    spark = get_spark(cores=cores, app_name="split-probe")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rolled = rollup_rows(spark, years).localCheckpoint(eager=True)
        modes = {"one_pass": None, "split": SPLIT_ROWS}

        def pack(mode):
            return pack_rollup_blocks(rolled, "1m", "day", split_dense_rows=modes[mode])

        for mode in modes:
            pack(mode).write.format("noop").mode("overwrite").save()
        times = {m: [] for m in modes}
        for r in range(runs):
            for mode in modes if r % 2 == 0 else reversed(modes):
                t = time.perf_counter()
                pack(mode).write.format("noop").mode("overwrite").save()
                times[mode].append(round(time.perf_counter() - t, 3))
        digests = {
            mode: sorted(
                tuple(row)
                for row in pack(mode)
                .select("conv_id", F.col("grp").cast("string"), F.sha2("frame", 256))
                .collect()
            )
            for mode in modes
        }
        if digests["split"] != digests["one_pass"]:
            raise RuntimeError("split_dense_rows wrote different block bytes")
        return {
            "tree": os.getcwd(),
            "blocks": len(digests["one_pass"]),
            "bytes_identical": True,
            **{f"{m}_s": ts for m, ts in times.items()},
            **{f"{m}_median_s": statistics.median(ts) for m, ts in times.items()},
        }
    finally:
        spark.stop()


def run_tree(tree: str, args) -> dict:
    """The probe in a fresh process importing ``tree``'s package."""
    cmd = [sys.executable, os.path.abspath(__file__), "--child",
           "--runs", str(args.runs), "--years", str(args.years), "--cores", str(args.cores)]
    env = {**os.environ, "PYTHONPATH": tree}
    proc = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"probe failed in {tree}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", help="git revision to probe too, from a clean export")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--years", type=int, default=10)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.child:
        print(json.dumps(probe(args.runs, args.years, args.cores)), flush=True)
        return 0
    tmp = None
    try:
        if args.base:
            tmp = tempfile.mkdtemp(prefix="split_probe_base_")
            archive = subprocess.run(
                ["git", "archive", args.base], cwd=ROOT, capture_output=True, check=True
            ).stdout
            subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
            print(json.dumps({"side": "base", "rev": args.base, **run_tree(tmp, args)}),
                  flush=True)
        print(json.dumps({"side": "tree", **run_tree(ROOT, args)}), flush=True)
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
