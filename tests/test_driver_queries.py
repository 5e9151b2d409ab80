"""Driver queries against their DuckDB oracles.

Each text-operator query in ``__spark_entry__.queries()`` runs on Spark and
its ``oracle_sql()`` twin runs on DuckDB over the same smoke-scale
``documents`` table; the two must agree the way ``tools/oracle_check.py``
compares them (column-name set, row count, values sorted by column name).
"""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

import __spark_entry__ as E

ROOT = pathlib.Path(__file__).resolve().parents[1]
DOCUMENTS = pathlib.Path("/root/testdata/sf0.001/documents.parquet")

_spec = importlib.util.spec_from_file_location(
    "oracle_check", ROOT / "tools" / "oracle_check.py")
oracle_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracle_check)


@pytest.fixture(scope="module")
def duck():
    duckdb = pytest.importorskip("duckdb")
    if not DOCUMENTS.exists():
        pytest.skip(f"{DOCUMENTS} not found")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS "
                f"SELECT * FROM read_parquet('{DOCUMENTS}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", [
    "exact_dedup", "doc_fingerprint", "language_id", "quality_score",
    "token_count", "simhash_near_dup"])
def test_driver_query_matches_oracle(spark, duck, name):
    sdf = E.queries()[name](spark, str(DOCUMENTS.parent))
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    cur = duck.execute(E.oracle_sql()[name])
    ocols, orows = [d[0] for d in cur.description], cur.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows) > 0
    got = oracle_check._rows_key(srows, scols)
    want = oracle_check._rows_key(orows, ocols)
    bad = [(a, b) for a, b in zip(got, want)
           if not oracle_check._approx_eq(a, b)]
    assert not bad, bad[:3]
