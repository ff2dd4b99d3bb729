"""Driver-contract smoke: entry() returns rows with a stable schema; every
query has a runnable definition; engine BM25 queries match the DuckDB
oracle at sf0.001 (full parity at sf0.01 runs via tools/check_oracle_parity.py)."""

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as e  # noqa: E402

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def test_entry_returns_rows(spark):
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"doc_id", "score", "sha256"}


def test_queries_have_oracles_and_fit_the_gate(spark):
    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    # the driver records CORRECTNESS for the first 50 entries only — the
    # whole surface must fit so every operator family stays gated
    assert len(qs) <= 50
    assert len(qs) >= 45


@pytest.mark.parametrize("name", ["bm25_scoring", "bm25_positional", "bm25_derived"])
def test_bm25_groups_match_duckdb_oracle(spark, name):
    qs = e.queries()
    oracles = e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    got = sorted(tuple(r) for r in qs[name](spark, SF).collect())
    want = sorted(tuple(r) for r in con.execute(oracles[name]).fetchall())
    assert got == want
    # every variant contributed rows (no silently-empty sub-operator);
    # absent-term multi_phrase legitimately returns 10 rows still
    variants_got = {r[0] for r in got}
    expected = {v for v, _fn, _sql in e._bm25_groups()[name]}
    assert variants_got == expected, (variants_got, expected)


def test_oracle_sql_renders_without_stempel_table(monkeypatch, tmp_path):
    """A missing optional resource disables one variant, never the gate:
    with SPARK_GRAFT_STEMPEL_DIR pointed at an empty directory the
    stempel_polish variant omits itself with a message naming the
    variable, and every oracle still renders."""
    monkeypatch.setenv("SPARK_GRAFT_STEMPEL_DIR", str(tmp_path))
    with pytest.warns(UserWarning, match="SPARK_GRAFT_STEMPEL_DIR"):
        oracles = e.oracle_sql()
    assert "snowball_english" in oracles["terms_component"]
    assert "stempel_polish" not in oracles["terms_component"]
