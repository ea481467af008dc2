"""The benchmark's workload: build a TMFRAME archive from seeded transcripts
and serve range and as-of reads from it, through the engine's public
functions only, checking every answer against uncompressed points.

One ``Bench`` holds one run's state: the Spark session, the seeded inputs,
the reference answers, and the latest archive. Set-up, the timed operations
and the checks are separate methods, so ``run.py`` can keep the checks out
of the timed spans.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tmframe_spark.codec.blocks import decode_block, encode_blocks_gapfilled_batch
from tmframe_spark.codec.frames import unmarshal_frames
from tmframe_spark.codec.udfs import (
    bucket_ts_ns,
    pack_rollup_blocks,
    tier_step_ns,
    unpack_blocks,
)
from tmframe_spark.data.catalog import Catalog
from tmframe_spark.data.transcripts import synth_transcripts
from tmframe_spark.ops.asof import AVAIL, IN_FUTURE, IN_PAST
from tmframe_spark.ops.rollup import cascade_up, rollup
from tmframe_spark.ops.serve import blocks_for_asof, blocks_overlapping, serve_asof
from tmframe_spark.ops.serve import serve_range
from tmframe_spark.ops.sizing import cpu_stage_partitions
from tmframe_spark.session import get_spark

from harness import Tracer

TIERS = (("1m", "day"), ("1h", "month"), ("1d", "year"))
BLOCK_KEYS = ["conv_id", "grp"]
HOUR_NS = 3_600 * 10**9

#: 10% of turns land on one conversation, so the pack stage keeps its
#: hot-conversation straggler.
HOT_CONV_PCT = 10

#: ``full`` is what the benchmark measures; ``tiny`` only proves the
#: plumbing in the benchmark's own tests. 70k turns at the generator's
#: 2.5 s cadence span 2 days; the widest read window covers all of it.
SIZES = {
    "full": {"turns": 70_000, "convs": 70, "sample_convs": 6},
    "tiny": {"turns": 4_000, "convs": 8, "sample_convs": 2},
}

#: One serving cycle, in a seeded order: range reads of 1 h, 1 d and the
#: whole 2-day archive, and one as-of batch of 16 probes (even cycles) or
#: 256 probes (odd cycles). Runs time whole pairs of cycles, so both batch
#: sizes weigh the same in every run.
RANGE_HOURS = (1, 24, 48)
ASOF_PROBES = (16, 256)


def parquet_files(root: str) -> tuple[int, int]:
    """(file count, bytes) of the parquet files under ``root``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Bench:
    def __init__(self, seed: int, size: str, state_dir: str, cores: int):
        self.cfg = SIZES[size]
        self.seed = seed
        self.state = state_dir
        self.cores = cores
        self.spark = None
        self.turns_path = os.path.join(state_dir, "inputs", "turns")
        self.builds = 0
        self.archive_root = None
        self.blocks = None

    # -- set-up ------------------------------------------------------------

    def start_session(self) -> float:
        """Start the Spark session; returns seconds until it ran a job."""
        t0 = time.perf_counter()
        self.spark = get_spark(
            cores=self.cores,
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.state, "warehouse"),
                "spark.local.dir": os.path.join(self.state, "spark-local"),
                # no hsperfdata file under /tmp: the run writes only in its tree
                "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
                + os.path.join(self.state, "tmp"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def write_inputs(self) -> None:
        synth_transcripts(
            self.spark,
            n_turns=self.cfg["turns"],
            n_convs=self.cfg["convs"],
            seed=self.seed,
            hot_conv_pct=HOT_CONV_PCT,
        ).drop("ts_ns").write.mode("overwrite").parquet(self.turns_path)

    def input_digest(self) -> str:
        """Order-independent digest of the written transcripts plus the
        seeded requests and their answers: equal seeds give equal digests."""
        t = pq.read_table(self.turns_path).to_pandas()
        h = pd.util.hash_pandas_object(t[sorted(t.columns)], index=False).to_numpy()
        doc = json.dumps(
            [len(t), int(np.bitwise_xor.reduce(h)), int(h.sum(dtype=np.uint64)), self.cycles],
            default=str,
        )
        return hashlib.sha256(doc.encode()).hexdigest()[:16]

    def compute_references(self) -> None:
        """Answers from the uncompressed gap-filled points, computed once in
        pandas straight from the parquet inputs, so no engine code is its
        own reference. The 1m tier is a groupby on the minute plus a zero
        row for every empty minute inside a conversation's lifespan; every
        hour and day in that lifespan then holds gap-filled minutes, so the
        1h and 1d tiers are plain sums of the 1m points."""
        t = pq.read_table(self.turns_path, columns=["conv_id", "text", "ts"]).to_pandas()
        step = tier_step_ns("1m")
        t["ts_ns"] = t["ts"].to_numpy("datetime64[ns]").astype(np.int64) // step * step
        t["n"] = t["text"].str.len()
        rolled = (
            t.groupby(["conv_id", "ts_ns"], sort=True)
            .agg(v0=("n", "sum"), v1=("n", "size"))
            .reset_index()
        )
        span = rolled.groupby("conv_id", sort=True)["ts_ns"].agg(["min", "max"])
        lens = ((span["max"] - span["min"]) // step + 1).to_numpy()
        conv = np.repeat(span.index.to_numpy(), lens)
        first = np.repeat(span["min"].to_numpy(), lens)
        offs = np.arange(lens.sum()) - np.repeat(np.cumsum(lens) - lens, lens)
        self.ref_rolled = rolled.astype({"v0": np.float64, "v1": np.int64})
        ref = pd.DataFrame({"conv_id": conv, "ts_ns": first + offs * step})
        ref = ref.merge(rolled, on=["conv_id", "ts_ns"], how="left")
        ref["v0"] = ref["v0"].fillna(0).astype(np.float64)
        ref["v1"] = ref["v1"].fillna(0).astype(np.int64)
        self.ref_ts = ref["ts_ns"].to_numpy(np.int64)
        self.ref_v0 = ref["v0"].to_numpy(np.float64)
        self.ref_v1 = ref["v1"].to_numpy(np.int64)
        conv = ref["conv_id"].to_numpy()
        cuts = np.flatnonzero(conv[1:] != conv[:-1]) + 1
        starts = np.concatenate([[0], cuts])
        ends = np.concatenate([cuts, [len(conv)]])
        self.conv_rows = {conv[s]: (s, e) for s, e in zip(starts, ends)}
        convs = sorted(self.conv_rows)
        rng = random.Random(self.seed)
        sample = rng.sample(convs, min(self.cfg["sample_convs"], len(convs)))
        if "conv-0" not in sample:  # the hot conversation
            sample[0] = "conv-0"
        self.sample_convs = sorted(sample)
        tiers = {"1m": ref}
        for tier, _ in TIERS[1:]:
            step = tier_step_ns(tier)
            tiers[tier] = (
                ref.assign(ts_ns=ref["ts_ns"] // step * step)
                .groupby(["conv_id", "ts_ns"], sort=True)
                .agg(v0=("v0", "sum"), v1=("v1", "sum"))
                .reset_index()
            )
        self.ref_points = {t: len(df) for t, df in tiers.items()}
        self.ref_tiers = {
            t: df[df["conv_id"].isin(self.sample_convs)].reset_index(drop=True)
            for t, df in tiers.items()
        }
        self.cycles = self._make_cycles(rng, convs)

    def _make_cycles(self, rng: random.Random, convs: list, n: int = 16) -> list:
        lo_all, hi_all = int(self.ref_ts.min()), int(self.ref_ts.max())
        cycles = []
        for c in range(n):
            kinds = [("range", h) for h in RANGE_HOURS]
            kinds.append(("asof", ASOF_PROBES[c % len(ASOF_PROBES)]))
            rng.shuffle(kinds)
            cycle = []
            for kind, arg in kinds:
                req = {"id": f"{c}-{kind}{arg}", "kind": kind}
                if kind == "range":
                    w = arg * HOUR_NS
                    req["lo"] = rng.randint(lo_all, max(lo_all, hi_all - w))
                    req["hi"] = req["lo"] + w
                else:
                    req["probes"] = sorted(
                        (rng.choice(convs), rng.randint(lo_all - HOUR_NS, hi_all + HOUR_NS))
                        for _ in range(arg)
                    )
                req["answer"] = self.reference_answer(req)
                cycle.append(req)
            cycles.append(cycle)
        return cycles

    def reference_answer(self, req: dict) -> tuple:
        if req["kind"] == "range":
            m = (self.ref_ts >= req["lo"]) & (self.ref_ts <= req["hi"])
            return (int(m.sum()), float(self.ref_v0[m].sum()), int(self.ref_v1[m].sum()))
        n = v0 = v1 = 0
        status = {IN_PAST: 0, AVAIL: 0, IN_FUTURE: 0}
        for conv, t in req["probes"]:
            s, e = self.conv_rows[conv]
            i = int(np.searchsorted(self.ref_ts[s:e], t, side="right")) - 1
            n += 1
            if i < 0:
                status[IN_PAST] += 1
                continue
            v0 += float(self.ref_v0[s + i])
            v1 += int(self.ref_v1[s + i])
            status[IN_FUTURE if t > self.ref_ts[e - 1] else AVAIL] += 1
        return (n, v0, v1, status[IN_PAST], status[AVAIL], status[IN_FUTURE])

    # -- the archive build -------------------------------------------------

    def build(self, tracer: Tracer, tiers: int = len(TIERS)) -> float:
        """Roll up, cascade, pack the first ``tiers`` tiers and write their
        block tables through the Catalog. Returns wall seconds. With tracing
        on, every layer's output is forced at its boundary so its span holds
        its work."""
        self.builds += 1
        root = os.path.join(self.state, "archive", f"build-{self.builds}")
        force = (lambda df: df.localCheckpoint(eager=True)) if tracer.enabled else (
            lambda df: df
        )
        t0 = time.perf_counter()
        with tracer.span("build", request_id=f"build-{self.builds}"):
            with tracer.span("data.transcripts.scan") as sp:
                tr = force(self.spark.read.parquet(self.turns_path))
                if sp is not None:
                    sp["counts"]["rows"] = tr.count()
            with tracer.span("ops.rollup.1m") as sp:
                # feeds all three tiers: computed once (eager localCheckpoint,
                # the engine's rule for multi-consumer intermediates)
                m = rollup(tr, "1m").localCheckpoint(eager=True)
                if sp is not None:
                    sp["counts"]["rows"] = m.count()
            if tiers > 1:
                with tracer.span("ops.rollup.cascade"):
                    h = force(cascade_up(m, "1h"))
                    d = force(cascade_up(h, "1d"))
            if tracer.enabled:
                with tracer.span("codec.udfs.boundary_floor"):
                    self._boundary_floor(m)
            cat = Catalog(self.spark, root)
            frames = (m, h, d) if tiers > 1 else (m,)
            for (tier, unit), df in zip(TIERS, frames):
                with tracer.span(f"codec.udfs.pack_{tier}"):
                    blocks = pack_rollup_blocks(df, tier, unit).withColumn(
                        "day", F.to_date("grp")
                    ).localCheckpoint(eager=True)  # feeds one write per day
                with tracer.span(f"data.catalog.write_{tier}"):
                    name = f"blocks_{tier}"
                    cat.ensure_table(name, blocks)
                    for r in blocks.select("day").distinct().collect():
                        day = str(r["day"])
                        cat.overwrite_day(name, blocks.where(F.col("day") == day), day)
        wall = time.perf_counter() - t0
        old, self.archive_root = self.archive_root, root
        self.catalog = cat
        self.tiers = TIERS[:tiers]
        self.blocks = cat.read("blocks_1m")
        if old and os.path.isdir(old):
            shutil.rmtree(old)
        return wall

    def _boundary_floor(self, m) -> None:
        """The Python-boundary floor of the 1m pack: the same exchange and
        sort as ``pack_rollup_blocks`` into an identity mapInPandas."""
        pts = m.select(
            "conv_id",
            bucket_ts_ns().alias("_ts"),
            F.col("token_volume").cast("double").alias("_v0"),
            F.col("turns").cast("long").alias("_v1"),
        )
        part = pts.repartition(cpu_stage_partitions(pts), F.col("conv_id"))
        part.sortWithinPartitions("conv_id", "_ts").mapInPandas(
            lambda it: it, pts.schema
        ).write.format("noop").mode("overwrite").save()

    def _archive(self):
        """The tiers of the latest build as one frame with a tier column."""
        tables = [
            self.catalog.read(f"blocks_{t}").withColumn("tier", F.lit(t))
            for t, _ in self.tiers
        ]
        out = tables[0]
        for t in tables[1:]:
            out = out.unionByName(t)
        return out

    def check_build(self) -> tuple[bool, dict]:
        """One read of the latest build's block metadata, with the frames
        of the sampled conversations. Returns (ok, per-tier block count,
        points and frame bytes). OK means every tier holds the reference
        point count and the sampled blocks, decoded in this process, equal
        the reference points exactly."""
        sample = F.col("conv_id").isin(self.sample_convs)
        rows = self._archive().select(
            "tier", "conv_id", "grp", "n_points",
            F.length("frame").alias("nbytes"),
            F.when(sample, F.col("frame")).alias("frame"),
        ).toPandas()
        stats = {
            t: {"blocks": len(g), "points": int(g["n_points"].sum()),
                "bytes": int(g["nbytes"].sum())}
            for t, g in rows.groupby("tier")
        }
        if any(stats.get(t, {}).get("points") != self.ref_points[t] for t, _ in self.tiers):
            return False, stats
        for tier, _ in self.tiers:
            blocks = rows[(rows["tier"] == tier) & rows["frame"].notna()]
            blocks = blocks.sort_values(["conv_id", "grp"])
            got = {"conv_id": [], "ts_ns": [], "v0": [], "v1": []}
            for conv, frame in zip(blocks["conv_id"], blocks["frame"]):
                ts, v0, v1 = decode_block(bytes(unmarshal_frames(bytes(frame)).data[0]))
                got["conv_id"].append(np.full(len(ts), conv, dtype=object))
                got["ts_ns"].append(ts)
                got["v0"].append(v0)
                got["v1"].append(v1)
            want = self.ref_tiers[tier]
            for c in ("conv_id", "ts_ns", "v0", "v1"):
                col = np.concatenate(got[c]) if got[c] else np.array([])
                if not np.array_equal(col, want[c].to_numpy()):
                    return False, stats
        return True, stats

    # -- serving -----------------------------------------------------------

    def serve(self, req: dict, tracer: Tracer) -> tuple:
        """One request, ending in one small aggregate action."""
        with tracer.span(f"request.{req['kind']}", request_id=req["id"]):
            if req["kind"] == "range":
                return self._serve_range(req, tracer)
            return self._serve_asof(req, tracer)

    def _serve_range(self, req: dict, tracer: Tracer) -> tuple:
        lo, hi = req["lo"], req["hi"]
        if not tracer.enabled:
            pts = serve_range(self.blocks, BLOCK_KEYS, lo, hi)
        else:
            # serve_range's own steps, each forced so its span holds its work
            with tracer.span("ops.serve.prune") as sp:
                pruned = blocks_overlapping(self.blocks, lo, hi).localCheckpoint(eager=True)
                sp["counts"]["blocks_scanned"] = self.n_blocks_1m
                sp["counts"]["blocks_decoded"] = pruned.count()
            with tracer.span("codec.udfs.unpack") as sp:
                decoded = unpack_blocks(pruned, BLOCK_KEYS).localCheckpoint(eager=True)
                sp["counts"]["points_decoded"] = decoded.count()
            pts = decoded.where((F.col("ts_ns") >= lo) & (F.col("ts_ns") <= hi))
        with tracer.span("ops.serve.aggregate"):
            r = pts.agg(
                F.count(F.lit(1)), F.sum("v0"), F.sum("v1")
            ).collect()[0]
        return (int(r[0]), float(r[1] or 0.0), int(r[2] or 0))

    def _serve_asof(self, req: dict, tracer: Tracer) -> tuple:
        probes = self.spark.createDataFrame(req["probes"], "conv_id string, ts_ns long")
        if tracer.enabled:
            with tracer.span("ops.asof.seek") as sp:
                picked = blocks_for_asof(
                    self.blocks, ["conv_id"], probes, "ts_ns"
                ).localCheckpoint(eager=True)
                sp["counts"]["blocks"] = picked.count()
                sp["counts"]["probes"] = len(req["probes"])
        with tracer.span("ops.asof.serve"):
            out = serve_asof(self.blocks, BLOCK_KEYS, ["conv_id"], probes)
            r = out.agg(
                F.count(F.lit(1)),
                F.sum("m_v0"),
                F.sum("m_v1"),
                *[F.sum((F.col("status") == s).cast("int")) for s in (IN_PAST, AVAIL, IN_FUTURE)],
            ).collect()[0]
        return (int(r[0]), float(r[1] or 0.0), int(r[2] or 0), *[int(x or 0) for x in r[3:]])

    def prepare_traced_serving(self) -> None:
        self.n_blocks_1m = self.blocks.count()

    # -- codec speed of light ---------------------------------------------

    def codec_speed_of_light(self) -> dict:
        """Single-core encode/decode rates over the 1m tier's blocks, in
        this process, and a byte-identity check of the re-encode."""
        rows = (
            self.blocks.select("conv_id", "grp", "frame")
            .orderBy("conv_id", "grp")
            .toPandas()
        )
        payloads = [bytes(unmarshal_frames(bytes(f)).data[0]) for f in rows["frame"]]
        t0 = time.perf_counter()
        decoded = [decode_block(p) for p in payloads]
        dec_s = time.perf_counter() - t0
        n_pts = sum(len(ts) for ts, _, _ in decoded)
        step = tier_step_ns("1m")
        # one encoder call per conversation, as the pack stage batches them
        convs = rows["conv_id"].to_numpy()
        cuts = np.flatnonzero(convs[1:] != convs[:-1]) + 1
        calls = []
        for s, e in zip(np.concatenate([[0], cuts]), np.concatenate([cuts, [len(convs)]])):
            t0s, ns, bids, idx, v0s, v1s = [], [], [], [], [], []
            for b, (ts, v0, v1) in enumerate(decoded[s:e]):
                nz = np.flatnonzero(v1)
                t0s.append(ts[0])
                ns.append(len(ts))
                bids.append(np.full(len(nz), b, np.int64))
                idx.append(nz)
                v0s.append(v0[nz])
                v1s.append(v1[nz])
            calls.append((
                np.array(t0s, np.int64), step, np.array(ns, np.int64),
                np.concatenate(bids), np.concatenate(idx),
                np.concatenate(v0s), np.concatenate(v1s),
            ))
        t0 = time.perf_counter()
        encoded = [b for args in calls for b in encode_blocks_gapfilled_batch(*args)]
        enc_s = time.perf_counter() - t0
        return {
            "points": n_pts,
            "encode_pts_per_s": n_pts / enc_s,
            "decode_pts_per_s": n_pts / dec_s,
            "bytes_per_point": sum(len(p) for p in payloads) / n_pts,
            "identical": encoded == payloads,
        }
