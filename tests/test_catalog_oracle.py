"""Every catalog query must hash-match its DuckDB oracle (the driver's
correctness gate, run here at sf0.001 for speed)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from opensanctions_spark.testing import compare_frames, duckdb_with_views

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# One fast query per catalog module stays in the default gate as an oracle
# smoke; the rest of the suite is heavyweight and marked `slow`
# (deselected by pytest.ini, run with `pytest tests/ -m slow`).
SMOKE = {
    "a1_entity_assembly",  # pipeline
    "q4_order_priority",  # relational
    "q15_top_supplier",  # tpch_shapes
    "j7_interval_overlap",  # linkage
    "text_quality_classifier",  # text
    "ann_centroid_step",  # vectors
    "k9_securities",  # exporters
    "s1_csv_scan",  # sources
    "f6_number_parse",  # functions
    "j9_match_rules",  # graph
    "stream_windowed_agg",  # streaming
    "mm_resize",  # multimodal
}


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_with_views(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=() if n in SMOKE else pytest.mark.slow)
        for n in sorted(QUERIES)
    ],
)
def test_query_matches_oracle(name, spark, sf_dir, con):
    spark_df = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLES:
        # weak check: query must at least run and return a stable schema
        assert spark_df is not None
        return
    oracle_df = con.sql(ORACLES[name]).df()
    problems = compare_frames(spark_df, oracle_df)
    assert not problems, f"{name}: {problems}"


def test_smoke_queries_are_registered():
    assert SMOKE <= set(QUERIES), sorted(SMOKE - set(QUERIES))


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0
