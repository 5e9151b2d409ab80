"""Driver queries against their DuckDB oracles.

Each text-operator query in ``__spark_entry__.queries()`` runs on Spark and
its ``oracle_sql()`` twin runs on DuckDB over the same ``documents``
table — the smoke-scale one, and for the grouping and punctuation queries
a hand-made one too; the two must agree the way ``tools/oracle_check.py``
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


# Shapes the smoke table lacks (its 500 texts are distinct, lower-case and
# unpunctuated): exact duplicates, texts that differ only in case, and
# punctuation whose ratio is not a round number.
HANDMADE = [
    "The quick brown fox jumps over the lazy dog.",
    "The quick brown fox jumps over the lazy dog.",
    "the quick brown fox jumps over the lazy dog.",
    "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG.",
    "Hello, world! Is this (really) a test? Yes: it is.",
    "hello world is this really a test yes it is",
    "Spark & DuckDB agree; 100% of the time... maybe?",
    "Spark & DuckDB agree; 100% of the time... maybe?",
    "a-b-c d_e f.g h/i j",
    "x",
]


@pytest.fixture(scope="module")
def smoke_documents():
    if not DOCUMENTS.exists():
        pytest.skip(f"{DOCUMENTS} not found")
    return DOCUMENTS.parent


@pytest.fixture(scope="module")
def handmade_documents(tmp_path_factory):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    d = tmp_path_factory.mktemp("handmade_documents")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(HANDMADE)), pa.int64()),
        "text": HANDMADE,
        "lang": ["en"] * len(HANDMADE),
        "source": [f"src{i % 3}" for i in range(len(HANDMADE))],
        "n_chars": pa.array([len(t) for t in HANDMADE], pa.int64()),
    }), d / "documents.parquet")
    return d


@pytest.fixture(scope="module")
def duck():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    yield con
    con.close()


_QUERIES = ["exact_dedup", "doc_fingerprint", "language_id", "quality_score",
            "token_count", "simhash_near_dup"]


@pytest.mark.parametrize("name,docs", [
    *[pytest.param(n, "smoke_documents", id=n) for n in _QUERIES],
    *[pytest.param(n, "handmade_documents", id=f"{n}-handmade")
      for n in ("exact_dedup", "quality_score")],
])
def test_driver_query_matches_oracle(spark, duck, request, name, docs):
    docs_dir = request.getfixturevalue(docs)
    duck.execute("CREATE OR REPLACE VIEW documents AS "
                 f"SELECT * FROM read_parquet('{docs_dir}/documents.parquet')")
    sdf = E.queries()[name](spark, str(docs_dir))
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
