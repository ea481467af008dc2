"""Transcript table: the engine's input shape, and two deterministic sources.

Input shape (BASELINE.json input_hint):
    conv_id:string, turn_idx:int, role:string, text:string,
    tool:string (nullable), ts:timestamp

Sources:
1. ``TRANSCRIPTS_FROM_EVENTS_SQL`` — a *portable* (Spark SQL == DuckDB SQL)
   derivation of a transcript table from the driver-provided ``events``
   table, so every oracle-checked query runs on identical inputs in both
   engines. Stable turn ordering comes from (ts, event_id).
2. ``synth_transcripts`` — a Spark-native deterministic generator
   (seeded xxhash64 over ``spark.range``; no driver-side data, no RNG state)
   with Zipf-skewed conversation sizes (exercises salting) and deliberate
   time gaps (exercises gap-fill), modeled on the reference's test
   generators (/root/reference/util.go:17-156 GenTestFrames /
   MakeTwo64Frames gap-via-skip pattern) but scale-parameterized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Portable Spark/DuckDB SQL. `{events}` is the relation name.
# role/tool mapping is the engine's transcript modeling of the event stream:
# signup opens a conversation (system), view/click are user turns, purchase is
# the assistant acting, error is a tool result. click/purchase carry a tool.
TRANSCRIPTS_FROM_EVENTS_SQL = """
SELECT
  concat('conv-', user_id)                                         AS conv_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) - 1
                                                                   AS turn_idx,
  CASE event_type
    WHEN 'signup'   THEN 'system'
    WHEN 'view'     THEN 'user'
    WHEN 'click'    THEN 'user'
    WHEN 'purchase' THEN 'assistant'
    ELSE 'tool'
  END                                                              AS role,
  concat(event_type, ' ', props)                                   AS text,
  CASE WHEN event_type IN ('click', 'purchase') THEN event_type END AS tool,
  ts                                                               AS ts
FROM {events}
"""


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver parquet tables as temp views.

    Also pins the session timezone to UTC: the engine's bucket boundaries
    and unix_micros conversions must match the (timezone-naive) DuckDB
    oracles even when the caller's SparkSession was built elsewhere.

    Re-registering the SAME, unchanged directory on the SAME session is a
    no-op: each ``spark.read.parquet`` costs a driver-side listing + footer
    schema read (~0.1 s/table measured), so a registry sweep that calls
    this per query would pay ~1 s of pure metadata overhead per call.
    The memo holds only the last registration (a Python attribute on this
    session wrapper), keyed on the absolute directory plus every table
    file's ``(st_mtime_ns, st_size)`` — one ``stat`` per table — so
    switching sf_dirs or rewriting a table in place re-registers, and
    every query action still reads the parquet data itself from disk."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    import os

    stats = [os.stat(f"{sf_dir}/{t}.parquet") for t in TABLES]
    key = (os.path.abspath(sf_dir), [(st.st_mtime_ns, st.st_size) for st in stats])
    if getattr(spark, "_tmframe_registered", None) == key:
        return
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    spark._tmframe_registered = key


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript table derived from the driver's events parquet.

    Row-identical to ``TRANSCRIPTS_FROM_EVENTS_SQL`` (the cross-engine
    contract the oracles restate; equivalence pinned by
    tests/test_transcripts_equiv.py) but built with the turn-numbering
    window PARTITIONed BY the projected ``conv_id`` attribute instead of
    ``user_id``. ``conv_id = 'conv-' || user_id`` is a bijection, so the
    row numbering is unchanged — while the window's exchange now IS a
    hash partitioning on ``conv_id``, which every downstream conv-keyed
    window/groupBy (sessionize, count-window dedup, the rollup cascade)
    reuses instead of inserting a second exchange+sort (verified in the
    executed plans: 2 Exchanges -> 1 for the sessionize shape). The SQL
    form couldn't do this: PARTITION BY an expression is extracted into a
    private attribute that downstream alias matching doesn't unify."""
    register_tables(spark, sf_dir)
    ev = spark.table("events")
    role = (
        F.when(F.col("event_type") == "signup", "system")
        .when(F.col("event_type") == "view", "user")
        .when(F.col("event_type") == "click", "user")
        .when(F.col("event_type") == "purchase", "assistant")
        .otherwise("tool")
    )
    base = ev.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("event_id"),
        role.alias("role"),
        F.concat("event_type", F.lit(" "), "props").alias("text"),
        F.when(
            F.col("event_type").isin("click", "purchase"), F.col("event_type")
        ).alias("tool"),
        F.col("ts"),
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    return base.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        "role",
        "text",
        "tool",
        "ts",
    )


ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "code", "browse", "calc", "none")


def synth_transcripts(
    spark: SparkSession,
    n_turns: int = 1_000_000,
    n_convs: int = 10_000,
    seed: int = 42,
    hot_conv_pct: int = 10,
    start_ts: str = "2024-01-01",
) -> DataFrame:
    """Deterministic synthetic transcripts at arbitrary scale.

    Built entirely from ``spark.range`` + hash arithmetic — O(1) driver
    memory, generates in parallel on executors, same rows at any
    parallelism. ``hot_conv_pct`` percent of turns all land on conv 0 to
    create the skew the salting path must survive.
    """
    df = spark.range(n_turns)  # id: 0..n-1
    h = F.xxhash64(F.col("id"), F.lit(seed))
    h2 = F.xxhash64(F.col("id"), F.lit(seed + 1))
    conv_num = F.when(
        F.pmod(h, F.lit(100)) < F.lit(hot_conv_pct), F.lit(0)
    ).otherwise(F.pmod(h2, F.lit(n_convs)))
    # deliberate gaps: every ~13th turn jumps forward several minutes
    gap_ns = F.when(
        F.pmod(h, F.lit(13)) == 0, (F.pmod(h2, F.lit(7)) + 2) * F.lit(60_000_000_000)
    ).otherwise(F.lit(0))
    ts_ns = (
        F.lit(0).cast("long")
        + F.unix_timestamp(F.lit(start_ts).cast("timestamp")) * F.lit(1_000_000_000)
        + F.col("id") * F.lit(2_500_000_000)  # 2.5s average cadence
        + F.pmod(h, F.lit(1_000_000_000))  # sub-second jitter
        + gap_ns
    )
    role = F.element_at(F.array(*[F.lit(r) for r in ROLES]), (F.pmod(h, 4) + 1).cast("int"))
    tool = F.element_at(F.array(*[F.lit(t) for t in TOOLS]), (F.pmod(h2, 5) + 1).cast("int"))
    out = df.select(
        F.concat(F.lit("conv-"), conv_num).alias("conv_id"),
        F.col("id").alias("_gid"),
        role.alias("role"),
        F.concat(
            F.lit("turn "),
            F.col("id").cast("string"),
            F.lit(" "),
            F.expr("repeat('tok ', " + "pmod(xxhash64(id, 7), 50) + 1)"),
        ).alias("text"),
        F.when(role == "tool", tool).alias("tool"),
        # NTZ to match the driver parquet tables' timestamp type
        F.timestamp_micros((ts_ns / 1000).cast("long")).cast("timestamp_ntz").alias("ts"),
        ts_ns.cast("long").alias("ts_ns"),
    )
    w_turn = F.row_number().over(
        Window.partitionBy("conv_id").orderBy("ts_ns", "_gid")
    )
    return out.withColumn("turn_idx", (w_turn - 1).cast("int")).drop("_gid")
