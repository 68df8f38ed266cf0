"""Every driver query matches its DuckDB oracle at sf0.001 (row-count,
column names, and order-insensitive value set) — a local mirror of the
driver's CORRECTNESS gate — and passes the lambda lint (plan_lint.py).
``SPARK_GRAFT_TEST_SF_DIR`` overrides the scale dir (the scale-stability
pass runs the same 43 comparisons at sf0.1)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from plan_lint import lambda_violations

from ai_knowledge_graph_builder_spark.driver_queries import ORACLES, QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 4)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return {tuple(_norm(r[i]) for i in order) for r in rows}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns
    assert lambda_violations(sdf) == []

    if name not in ORACLES:
        # rows-only query (non-SQL-expressible, e.g. binary media decode):
        # the driver records the weaker check; locally assert non-vacuous
        assert len([tuple(r) for r in sdf.collect()]) > 0
        return
    res = ddb.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows), (len(spark_rows), len(duck_rows))
    assert len(spark_rows) > 0, f"{name} returned no rows — oracle check is vacuous"
    got = _rowset(spark_cols, spark_rows)
    want = _rowset(duck_cols, duck_rows)
    assert got == want, (
        f"{name}: spark-only={sorted(got - want)[:3]} oracle-only={sorted(want - got)[:3]}"
    )


# ---------------------------------------------------------------------------
# Session-config independence (VERDICT r6 ask #2): the driver's gate runs a
# PLAIN session (no Arrow), while get_spark enables Arrow — round 6's only
# red row (kg_golden_scores) was a query that executed ONLY under Arrow
# (schema-less createDataFrame over an all-None pandas column). Running the
# whole 50-row priority window under an Arrow-disabled session makes that
# config-skew class structurally impossible.
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark_no_arrow(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    return s


def _priority_window():
    from ai_knowledge_graph_builder_spark.driver_queries import priority_ordered

    return list(priority_ordered(dict(QUERIES)))[:50]


@pytest.mark.parametrize("name", _priority_window())
def test_query_executes_without_arrow(spark_no_arrow, name):
    assert (
        spark_no_arrow.conf.get("spark.sql.execution.arrow.pyspark.enabled")
        == "false"
    )
    rows = QUERIES[name](spark_no_arrow, SF_DIR).collect()
    assert len(rows) > 0, f"{name} returned no rows under the Arrow-disabled session"
