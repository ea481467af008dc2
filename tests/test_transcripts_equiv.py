"""load_transcripts (DataFrame form, conv_id-partitioned turn numbering)
must be ROW-IDENTICAL to TRANSCRIPTS_FROM_EVENTS_SQL — the portable SQL
the DuckDB oracles restate. The DataFrame form exists only so the
turn-numbering window's exchange doubles as the conv_id hash partitioning
every downstream conv-keyed operator reuses (r7 optimization); `conv_id =
'conv-' || user_id` is a bijection, so the per-partition ROW_NUMBER is
unchanged. This test pins that equivalence on the real driver tables."""

import os

from tmframe_spark.data.transcripts import (
    TRANSCRIPTS_FROM_EVENTS_SQL,
    load_transcripts,
    register_tables,
)

SF_DIR = os.environ.get("TMFRAME_TEST_SF_DIR", "/root/testdata/sf0.01")


def test_load_transcripts_matches_portable_sql(spark):
    register_tables(spark, SF_DIR)
    sql_rows = sorted(
        tuple(r)
        for r in spark.sql(
            TRANSCRIPTS_FROM_EVENTS_SQL.format(events="events")
        ).collect()
    )
    df_rows = sorted(tuple(r) for r in load_transcripts(spark, SF_DIR).collect())
    assert df_rows == sql_rows
    # schema (names + types) must match too — oracles hash by column name
    sql_schema = spark.sql(TRANSCRIPTS_FROM_EVENTS_SQL.format(events="events")).schema
    assert load_transcripts(spark, SF_DIR).schema == sql_schema


def test_register_tables_memo_sees_rewritten_table(spark, tmp_path):
    # the per-session memo must not serve a stale view after a table file
    # is rewritten in place: it keys on each file's (mtime_ns, size)
    import shutil

    import pyarrow.parquet as pq

    from tests.conftest import SF_DIR as SMALL_SF

    sf = tmp_path / "sf"
    sf.mkdir()
    for f in os.listdir(SMALL_SF):
        shutil.copyfile(os.path.join(SMALL_SF, f), sf / f)
    register_tables(spark, str(sf))
    assert spark.table("nation").count() > 1
    nation = sf / "nation.parquet"
    pq.write_table(pq.read_table(nation).slice(0, 1), nation)
    register_tables(spark, str(sf))
    assert spark.table("nation").count() == 1
