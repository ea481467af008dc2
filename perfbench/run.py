"""Benchmark entry point for the rollup engine.

    python3 perfbench/run.py --workload build --seed 1 --seconds 8 --trace 0

Run from the repository root. One run, in one process with one closed-loop
client on local[<nproc>]:

1. set-up: start the Spark session, then three times (the median is
   ``setup_s``) write the seeded transcripts to parquet and compute the
   reference answers in pandas from the uncompressed inputs;
2. ``build``: one untimed warm-up build, then archive builds (rollup,
   cascade, pack of three tiers, Catalog write) until ``--seconds`` of them
   and at least three are timed;
   ``serve``: an untimed build of the 1m archive and untimed warm-up reads
   (the 2-day range and both as-of batch sizes), then pairs of serving cycles
   until ``--seconds`` of them and at least two are timed. A cycle is range
   reads of 1 h, 1 d and 2 d and one as-of batch, of 16 probes in one cycle
   of a pair and 256 in the other, in a seeded order.
   Every operation is checked against the references outside its timed
   span; a wrong answer counts as a failed operation;
3. with ``--trace 1``, in place of step 2's timed part: one untraced
   operation, then a build of all tiers, the widest range read and an as-of
   batch with every layer forced at its boundary and wrapped in a span, the
   traced ingest and curation passes (``ingest_curate.py``), and the
   single-core codec rates. The span ledger goes to
   ``.perfbench-state/ledger/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end with ``--trace 0``, per-layer with
``--trace 1``). All state lives under ``.perfbench-state/run/`` and is wiped
at the start of every run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_ROOT = os.path.join(ROOT, ".perfbench-state")

SETUP_REPS = 3
#: Fewest operations a run times, however long they take: three builds, so
#: their median passes over one slow build; one pair of serving cycles.
MIN_OPS = {"build": 3, "serve": 2}
#: Untimed builds before a build run times any.
WARMUP_BUILDS = 1
#: Traced-pass spans that measure extra work inside this workload's traced
#: operation: the boundary floor's identity stage, and the as-of seek that
#: serve_asof repeats internally.
EXTRA_SPANS = {"build": ("codec.udfs.boundary_floor",), "serve": ("ops.asof.seek",)}
#: Layers that run Spark jobs, and so carry stage counters.
SPARK_LAYERS = (
    "data.transcripts", "ops.rollup", "codec.udfs", "data.catalog", "ops.serve", "ops.asof",
)


def nproc() -> int:
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    out = subprocess.run(["nproc"], env=env, capture_output=True, text=True, check=True)
    return int(out.stdout)


def isolate(state: str) -> None:
    """Wipe the run's state dir and point every temp location into it. Runs
    before the JVM starts, and again at the start of every later run in the
    same process."""
    shutil.rmtree(state, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(state, d))
    os.environ["TMPDIR"] = os.path.join(state, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(state, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Ops:
    """Attempted/failed tally; an exception or a wrong answer is a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def run(self, fn, check):
        """Time ``fn()``, then check its result outside the timing."""
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            self.record(False)
            return None, time.perf_counter() - t0
        wall = time.perf_counter() - t0
        try:
            ok = bool(check(out))
        except Exception:
            traceback.print_exc()
            ok = False
        self.record(ok)
        return out, wall


def run(workload: str, seed: int, seconds: int, trace: bool, size: str = "full",
        corrupt_reference: bool = False) -> dict:
    """One benchmark run; returns the result object (and writes the ledger).

    ``corrupt_reference`` perturbs the reference answers after set-up, so
    the benchmark's own tests can show that the correctness gate fails."""
    state = os.path.join(STATE_ROOT, "run")
    isolate(state)
    from harness import RssSampler, Tracer
    from ingest_curate import trace_curate, trace_ingest
    from pipeline import RANGE_HOURS, SIZES, TIERS, Bench, parquet_files

    cores = nproc()
    ops = Ops()
    with RssSampler() as rss:
        bench = Bench(seed, size, state, cores)
        session_s = bench.start_session()
        setup_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            bench.write_inputs()
            bench.compute_references()
            setup_s.append(time.perf_counter() - t0)
        digest = bench.input_digest()
        if corrupt_reference:
            bench.ref_points["1m"] += 1
            for cycle in bench.cycles:
                cycle[0]["answer"] = (cycle[0]["answer"][0] + 1, *cycle[0]["answer"][1:])
        off = Tracer(bench.spark, False)

        def build_op(tracer, tiers=len(TIERS)):
            stats = {}

            def check(_):
                ok, got = bench.check_build()
                stats.update(got)
                return ok

            _, wall = ops.run(lambda: bench.build(tracer, tiers), check)
            return wall, stats

        def cycle_op(cycle, tracer):
            """One serving cycle; returns (wall, [(request id, wall, answer)])."""
            done = []
            for req in cycle:
                out, wall = ops.run(
                    lambda: bench.serve(req, tracer), lambda out: out == req["answer"]
                )
                done.append((req["id"], wall, out))
            return sum(w for _, w, _ in done), done

        def enough(op_s):
            return len(op_s) >= MIN_OPS[workload] and sum(op_s) >= seconds

        # warm-up, neither counted nor timed: the first build or the first
        # read of each kind compiles plans and starts Python workers (the
        # first build takes 2-3x the second). The JIT keeps speeding the
        # engine up over the next few (the second build of a run took 1.2x
        # the fourth, the third 1.15x), so a build run's median is its third.
        tracer = Tracer(bench.spark, True) if trace else off
        widest = f"range{RANGE_HOURS[-1]}"
        if workload == "build":
            for _ in range(WARMUP_BUILDS):
                bench.build(off)
        else:
            # a traced run traces this build, so it needs no second one
            t0 = time.perf_counter()
            _, stats = build_op(tracer, tiers=len(TIERS) if trace else 1)
            archive_s = time.perf_counter() - t0
            # every request shape once: a range read (the windows differ only
            # in their bounds) and both as-of batch sizes
            warm = [r for r in bench.cycles[0] if r["id"].endswith(widest)]
            for req in warm + [r for c in bench.cycles[:2] for r in c if r["kind"] == "asof"]:
                bench.serve(req, off)
        ledger = {
            "workload": workload, "seed": seed, "size": SIZES[size], "nproc": cores,
            "clients": 1, "input_digest": digest, "setup_s": setup_s,
            "session_start_s": session_s,
        }
        if workload == "serve":
            ledger["archive_build_s"] = archive_s

        if not trace:
            op_s, served = [], []
            if workload == "build":
                while not enough(op_s):
                    wall, stats = build_op(off)
                    op_s.append(wall)
            else:
                for cycle in bench.cycles[2:]:
                    if enough(op_s) and len(op_s) % 2 == 0:
                        break
                    wall, done = cycle_op(cycle, off)
                    op_s.append(wall)
                    served.extend((rid, w) for rid, w, _ in done)
            points = sum(t["points"] for t in stats.values())
            metrics = {
                "setup_s": (statistics.median(setup_s), "s"),
                "op_p50_ms": (statistics.median(op_s) * 1e3, "ms"),
                "archive_bytes_per_point": (
                    sum(t["bytes"] for t in stats.values()) / points, "B/point",
                ),
            }
            ledger.update(archive=stats, op_s=op_s, requests=served)
        else:
            # no timed loop: one untraced operation of the workload's kind,
            # then the same traced pass on both workloads, so every layer is
            # measured on each: a build (for serve, its set-up build above),
            # the widest range read and an as-of batch, and the ingest and
            # curation passes
            cycle = [
                r for r in bench.cycles[-1] if r["kind"] == "asof" or r["id"].endswith(widest)
            ]
            plain = build_op(off)[0] if workload == "build" else cycle_op(cycle, off)[0]
            if workload == "build":
                build_op(tracer)
            bench.prepare_traced_serving()
            _, done = cycle_op(cycle, tracer)
            ok, ingest = trace_ingest(bench, tracer)
            ops.record(ok)
            ok, curate = trace_curate(bench, tracer)
            ops.record(ok)
            tracer.finish()
            sol = bench.codec_speed_of_light()
            ops.record(sol["identical"])
            files, written = parquet_files(bench.archive_root)
            returned = sum(out[0] for rid, _, out in done if "range" in rid and out)
            metrics = per_layer(tracer, cores, sol, files, written, returned)
            metrics.update(side_layers(tracer, cores, ingest, curate))
            metrics["session.start_s"] = (session_s, "s")
            # the traced operation of the workload's kind against the
            # untraced one: the tracing cost, lost stage fusion included.
            # The boundary floor and the separate as-of seek are extra
            # measurements, not tracing cost, so they are left out.
            root = "build" if workload == "build" else "request."
            traced_op = sum(
                (s["end"] - s["start"]) * (1 if s["parent"] is None else -1)
                for s in tracer.spans
                if (s["parent"] is None and s["name"].startswith(root))
                or s["name"] in EXTRA_SPANS[workload]
            )
            metrics["trace.overhead_s"] = (traced_op - plain, "s")
            ledger.update(
                untraced_op_s=plain, traced_op_s=traced_op, codec_speed_of_light=sol,
                ingest=ingest, curate=curate,
                spans=[{k: v for k, v in s.items() if k != "group"} for s in tracer.spans],
            )
        bench.spark.stop()
    # The whole tree's peak is not an end-to-end metric. Under the engine's
    # 8 GiB heap ceiling, G1 commits heap by the GC pressure it sees, which
    # follows host load: over forty runs the JVM's peak ranged from 1.6 to
    # 2.5 GB, and the tree's quartile spread over ten runs was 0.05-0.19 in
    # four sets. The largest worker's was under 0.01. The JVM's peak is a per-layer
    # metric, and the ledger keeps every peak.
    if trace:
        metrics["session.jvm_peak_rss_mb"] = (rss.peak_mb("jvm"), "MB")
    else:
        metrics["worker_peak_rss_mb"] = (rss.peak_mb("worker_max"), "MB")
    ledger["peak_rss_mb"] = {k: rss.peak_mb(k) for k in rss.peak}
    ledger["metrics"] = {k: v for k, (v, _) in metrics.items()}
    out = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    ledger_dir = os.path.join(STATE_ROOT, "ledger")
    os.makedirs(ledger_dir, exist_ok=True)
    with open(os.path.join(ledger_dir, f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump({**ledger, "result": out}, f, indent=1, default=float)
    return out


def span_total(tracer, name: str, key: str | None = None) -> float:
    """Summed self time of the spans named ``name``, or their ``key`` count."""
    spans = [s for s in tracer.spans if s["name"] == name]
    if key is None:
        return sum(s["self_s"] for s in spans)
    return sum(s["counts"][key] for s in spans)


def per_layer(tracer, cores: int, sol: dict, files: int, written: int,
              returned: int) -> dict:
    """The per-layer metrics of one traced pass."""
    decoded = span_total(tracer, "codec.udfs.unpack", "points_decoded")
    seek = span_total(tracer, "ops.asof.seek")
    m = {
        "data.transcripts.scan_s": (span_total(tracer, "data.transcripts.scan"), "s"),
        "data.transcripts.rows": (
            span_total(tracer, "data.transcripts.scan", "rows"), "count",
        ),
        "ops.rollup.1m_s": (span_total(tracer, "ops.rollup.1m"), "s"),
        "ops.rollup.1m_rows": (span_total(tracer, "ops.rollup.1m", "rows"), "count"),
        "ops.rollup.cascade_s": (span_total(tracer, "ops.rollup.cascade"), "s"),
        "ops.rollup.shuffle_write_bytes": (
            tracer.layer("ops.rollup")["shuffle_write_bytes"], "bytes",
        ),
        "codec.udfs.boundary_floor_s": (
            span_total(tracer, "codec.udfs.boundary_floor"), "s",
        ),
        "codec.udfs.pack_1m_s": (span_total(tracer, "codec.udfs.pack_1m"), "s"),
        "codec.udfs.pack_1h_s": (span_total(tracer, "codec.udfs.pack_1h"), "s"),
        "codec.udfs.pack_1d_s": (span_total(tracer, "codec.udfs.pack_1d"), "s"),
        "codec.udfs.unpack_s": (span_total(tracer, "codec.udfs.unpack"), "s"),
        "codec.blocks.encode_pts_per_s_1core": (sol["encode_pts_per_s"], "points/s"),
        "codec.blocks.decode_pts_per_s_1core": (sol["decode_pts_per_s"], "points/s"),
        "codec.blocks.bytes_per_point": (sol["bytes_per_point"], "B/point"),
        "data.catalog.write_s": (tracer.layer("data.catalog")["self_s"], "s"),
        "data.catalog.files_written": (files, "count"),
        "data.catalog.bytes_written": (written, "bytes"),
        "ops.serve.prune_s": (span_total(tracer, "ops.serve.prune"), "s"),
        "ops.serve.blocks_scanned": (
            span_total(tracer, "ops.serve.prune", "blocks_scanned"), "count",
        ),
        "ops.serve.blocks_decoded": (
            span_total(tracer, "ops.serve.prune", "blocks_decoded"), "count",
        ),
        "ops.serve.points_decoded": (decoded, "count"),
        "ops.serve.decode_yield": (returned / decoded if decoded else 0.0, "fraction"),
        "ops.asof.seek_s": (seek, "s"),
        # serve_asof repeats the seek internally; its remainder is the join
        "ops.asof.join_s": (span_total(tracer, "ops.asof.serve") - seek, "s"),
        "ops.asof.blocks_per_probe": (
            span_total(tracer, "ops.asof.seek", "blocks")
            / max(1, span_total(tracer, "ops.asof.seek", "probes")),
            "count",
        ),
    }
    for layer in SPARK_LAYERS:
        m.update(stage_counters(tracer, layer, cores))
    return m


def stage_counters(tracer, layer: str, cores: int) -> dict:
    """Spark's own counters over the layer's spans. Failed tasks and spill
    bytes stay in the ledger only: they were zero on every workload."""
    c = tracer.layer(layer)
    return {
        f"{layer}.tasks": (c["tasks"], "count"),
        f"{layer}.cpu_s": (c["cpu_s"], "s"),
        f"{layer}.gc_s": (c["gc_s"], "s"),
        f"{layer}.utilization": (
            c["cpu_s"] / (c["self_s"] * cores) if c["self_s"] > 0 else 0.0, "fraction",
        ),
    }


def side_layers(tracer, cores: int, ingest: dict, curate: dict) -> dict:
    """Per-layer metrics of the traced ingest and curation passes."""

    m = {f"streaming.{k}": (ingest[k], "ms") for k in (
        "query_start_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
        "query_planning_ms",
    )}
    m["streaming.state_rows"] = (ingest["state_rows"], "count")
    m["streaming.late_dropped_rows"] = (ingest["late_dropped_rows"], "count")
    m["streaming.consolidate_s"] = (span_total(tracer, "streaming.consolidate"), "s")
    m["text.dedup.signatures_s"] = (span_total(tracer, "text.dedup.signatures"), "s")
    m["text.dedup.candidates"] = (curate["candidates"], "count")
    m["text.dedup.pairs"] = (curate["pairs"], "count")
    m["text.dedup.candidate_yield"] = (curate["candidate_yield"], "fraction")
    m["text.dedup.clusters_s"] = (span_total(tracer, "text.dedup.clusters"), "s")
    m["text.dedup.planted_recall"] = (curate["planted_recall"], "fraction")
    m["vec.embed.embed_s"] = (span_total(tracer, "vec.embed"), "s")
    m["vec.pq.build_s"] = (span_total(tracer, "vec.pq.build"), "s")
    queries = [s["self_s"] for s in tracer.spans if s["name"] == "vec.pq.query"]
    m["vec.pq.query_s"] = (sum(queries) / len(queries), "s")
    m["vec.pq.query_cells_probed"] = (curate["query_cells_probed"], "count")
    m["vec.pq.recall_at_10"] = (curate["recall_at_10"], "fraction")
    # the streaming query runs its jobs on its own thread, under its own
    # job group, so only these two layers carry stage counters
    for layer in ("text.dedup", "vec"):
        m.update(stage_counters(tracer, layer, cores))
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("build", "serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        # on every path out: no JVM or Python worker outlives the run
        from harness import stop_spark

        stop_spark()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
