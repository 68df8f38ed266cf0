"""Salted equi-join: exact equivalence to the plain join under heavy skew.
``spread``: every Python-UDF input it partitions fills one partition per
core."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ai_knowledge_graph_builder_spark.driver_queries import load_pages
from ai_knowledge_graph_builder_spark.operators.extraction import extract_documents
from ai_knowledge_graph_builder_spark.operators.skew import salted_equi_join, top_heavy_keys
from ai_knowledge_graph_builder_spark.sources.corpus import generate_corpus


def test_salted_join_equivalence(spark):
    # 10k facts, 95% on one hot key — the head-entity shape
    facts = pd.DataFrame({
        "k": ["hot"] * 9500 + [f"k{i}" for i in range(500)],
        "v": range(10000),
    })
    dim = pd.DataFrame({"k": ["hot"] + [f"k{i}" for i in range(500)],
                        "w": range(501)})
    large = spark.createDataFrame(facts)
    small = spark.createDataFrame(dim)

    plain = {(r["k"], r["v"], r["w"]) for r in large.join(small, "k").collect()}
    salted = {(r["k"], r["v"], r["w"])
              for r in salted_equi_join(large, small, "k", n_salts=8).collect()}
    assert salted == plain and len(plain) == 10000

    # the salt actually spreads the hot key across buckets
    spread = (
        large.withColumn("_salt", F.pmod(F.xxhash64(F.concat_ws("\x00", "k", F.col("v").cast("string"))), F.lit(8)))
        .filter(F.col("k") == "hot").select("_salt").distinct().count()
    )
    assert spread == 8

    hot = top_heavy_keys(large, "k", threshold=1000).collect()
    assert len(hot) == 1 and hot[0]["k"] == "hot"


def _corpus_documents(spark):
    """The 74-page corpus of the checkpointed benchmark, extracted."""
    corpus = generate_corpus(seed=201, waves=5, n_emails=10, n_external=4)
    return extract_documents(spark.createDataFrame(corpus["pages"]))


@pytest.mark.parametrize("build", [
    _corpus_documents,
    lambda spark: load_pages(spark, "/root/testdata/sf0.001"),
], ids=["extract_documents", "load_pages"])
def test_spread_fills_one_partition_per_core(spark, build):
    """Hashing the key itself into n partitions leaves none empty on these
    inputs; hashing ``pmod(xxhash64(key), n)`` (n values) again collided
    and left about a third of them empty."""
    sizes = build(spark).rdd.glom().map(len).collect()
    assert len(sizes) == spark.sparkContext.defaultParallelism and min(sizes) > 0, sizes
