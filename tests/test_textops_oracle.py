"""DuckDB oracle gate for the dedup family: each registered dedup query
must return exactly its oracle's rows (row count, column names and
order-insensitive values), as tools/compare_oracle.py checks them."""

import os

import pytest

from tools.compare_oracle import TABLES, canon

SF = "/root/testdata/sf0.001"

DEDUP_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_lsh_jaccard",
    "dedup_minhash_cc",
    "dedup_span",
    "decontaminate",
    "ngram_jaccard",
]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", DEDUP_QUERIES)
def test_dedup_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as entry

    got = entry.queries()[name](spark, SF).toPandas()
    want = duck.execute(entry.oracle_sql()[name]).fetchdf()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want) > 0
    assert canon(got) == canon(want)
