"""Cross-engine checks for the single-kernel LLM-pipeline operators.

repetition_stats (x16), semdedup (x22/x22b), charlm_score (x25),
jl_project (x50) and kmeans_quantized (x51) each have one Spark
kernel; their DuckDB oracle twin is the independent reference. Each
query must equal its twin on the test tables, compared the way
``tools/check_oracle.py`` compares them (column names, row count,
order-insensitive canonicalized values).
"""

import duckdb
import pytest

from tools.check_oracle import TABLES, canon_rows


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield c
    c.close()


@pytest.mark.parametrize(
    "name",
    [
        "x16_repetition",
        "x22_semdedup",
        "x22b_semdedup_scaled",
        "x25_charlm_quality",
        "x50_jl_project",
        "x51_kmeans",
    ],
)
def test_query_matches_duckdb_twin(spark, sf_dir, con, name):
    from rehiver_spark.queries import ORACLE, QUERIES, load_all

    load_all()
    df = QUERIES[name](spark, sf_dir)
    rel = con.sql(ORACLE[name])
    scols = [c.lower() for c in df.columns]
    ocols = [c.lower() for c in rel.columns]
    assert sorted(scols) == sorted(ocols)
    got = canon_rows([tuple(r) for r in df.collect()], scols)
    want = canon_rows(rel.fetchall(), ocols)
    assert got, "empty result proves nothing"
    assert len(got) == len(want)
    assert got == want
