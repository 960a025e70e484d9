"""Driver-contract smoke: entry() + every queries()/oracle_sql() pair at
sf0.001 (the full sf0.01 sweep lives in scripts/check_contract.py)."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from scripts.check_contract import value_hash

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(not os.path.isdir(SF),
                                reason="driver testdata missing")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"doc_id", "spans"} <= set(df.columns)
    for r in rows[:5]:
        orders = [s["order"] for s in r["spans"]]
        assert orders == list(range(len(orders)))


def test_queries_match_duckdb_oracles(spark):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(SF, t + '.parquet')}'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    for name, sql in oracles.items():
        df = qs[name](spark, SF)
        rows = [tuple(r) for r in df.collect()]
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        assert len(rows) == len(orows), f"{name}: row count"
        assert sorted(df.columns) == sorted(ocols), f"{name}: columns"
        assert value_hash(df.columns, rows) == value_hash(ocols, orows), \
            f"{name}: value hash"


def test_rows_only_queries_run(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    for name in set(qs) - set(oracles):
        df = qs[name](spark, SF)
        assert df.count() >= 0, name


def test_registry_fits_driver_window():
    """The driver harness verifies at most the first 50 registered
    queries (rounds 1-2 silently dropped keys 51-53): the main registry
    must stay at EXACTLY 50 and the media queries inside the window."""
    qs = list(entrymod.queries())
    assert len(qs) == 50
    # round-5 rotation: the real-codec media leg and the promoted
    # never-verified queries must sit inside the driver window
    for name in ("media_inventory", "media_decode_real",
                 "pdf_image_roundtrip", "simhash_near_dup",
                 "stream_stream_join", "stream_stream_join_outer",
                 "quality_filter", "stratified_sample",
                 "token_count_bpe_merged"):
        assert qs.index(name) < 50
    ex = entrymod.extra_queries()
    for name in ("simhash", "doc_fingerprint"):
        assert name in ex, f"displaced query {name} lost its local gate"


def test_extra_queries_match_duckdb_oracles(spark):
    """Local-gate extras (operators past the driver cap) hold the same
    bit-exact DuckDB contract as the main registry."""
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(SF, t + '.parquet')}'")
    qs = entrymod.extra_queries()
    oracles = entrymod.extra_oracle_sql()
    assert set(oracles) == set(qs)
    for name, sql in oracles.items():
        df = qs[name](spark, SF)
        rows = [tuple(r) for r in df.collect()]
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        assert len(rows) == len(orows), f"{name}: row count"
        assert sorted(df.columns) == sorted(ocols), f"{name}: columns"
        assert value_hash(df.columns, rows) == value_hash(ocols, orows), \
            f"{name}: value hash"
