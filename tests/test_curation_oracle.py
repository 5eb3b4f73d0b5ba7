"""Oracle parity of the curation funnel queries and the Gopher rules
at the sf0.01 correctness-gate scale: the Spark result must equal the
registered DuckDB oracle SQL under ``tools/check_oracle.frame_key``
(column names plus order-insensitive, full-precision values) — the
same comparison ``tools/check_oracle.py`` makes."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import frame_key  # noqa: E402


@pytest.mark.parametrize(
    "name", ["gopher_quality_rules", "corpus_curation_full", "corpus_curation_surgical"]
)
def test_matches_duckdb_oracle(spark, sf_dir, name):
    import duckdb

    from classification_pyspark_spark.catalog import TABLES
    from classification_pyspark_spark.operators.caching import release_tracked
    from classification_pyspark_spark.queries import ORACLES, QUERIES

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    cur = con.execute(ORACLES[name])
    want = frame_key([c[0] for c in cur.description], cur.fetchall())
    try:
        sdf = QUERIES[name](spark, sf)
        got = frame_key(sdf.columns, [tuple(r) for r in sdf.collect()])
    finally:
        release_tracked()
        spark.catalog.clearCache()
    assert got[0] == want[0]
    assert len(got[1]) == len(want[1]) > 0
    assert got[1] == want[1]
