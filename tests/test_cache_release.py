"""Every cache the KG path persists has a release path: a run, followed by
``cache.release`` on its result where the caller owns the caches, leaves
the session's persisted-RDD count no higher than before it started."""

from __future__ import annotations

import glob
import os
import tempfile

import duckdb
import pytest

from ai_knowledge_graph_builder_spark.cache import release
from ai_knowledge_graph_builder_spark.driver_queries import ORACLES, QUERIES, kg_inferred_triples
from ai_knowledge_graph_builder_spark.plans.pipeline import (
    run_kg_pipeline,
    run_kg_pipeline_checkpointed,
)

SF_DIR = "/root/testdata/sf0.001"
DIMS = ["doc_meta", "employees", "assignments", "policies", "emails"]


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


@pytest.fixture()
def tables(spark, corpus):
    """(pages, registry, the optional dimension tables as keywords)."""
    return (spark.createDataFrame(corpus["pages"]), spark.createDataFrame(corpus["registry"]),
            {k: spark.createDataFrame(corpus[k]) for k in DIMS})


@pytest.mark.parametrize("canonical", [False, True])
def test_checkpointed_build_leaves_no_cache(spark, tables, tmp_path, canonical):
    """A cold build releases each stage's caches once the stage is written
    (linking's at ``mentions``, the cluster labels at ``edges_canonical``);
    every later stage reads committed tables."""
    pages, registry, dims = tables
    before = _persisted(spark)
    out, resumed = run_kg_pipeline_checkpointed(
        spark, str(tmp_path), pages, registry, corpus_fingerprint="leak-v1",
        with_canonicalization=canonical, **dims,
    )
    assert not any(resumed.values())
    assert out["triples"].count() > 0
    assert _persisted(spark) <= before


def test_kg_inferred_triples_release(spark):
    before = _persisted(spark)
    result = kg_inferred_triples(spark, SF_DIR)
    assert result.count() > 0
    assert _persisted(spark) > before  # linking cached its intermediates
    release(result)
    assert _persisted(spark) <= before


def test_run_kg_pipeline_release(spark, tables):
    pages, registry, dims = tables
    before = _persisted(spark)
    out = run_kg_pipeline(spark, pages, registry, **dims)
    assert out["triples"].count() > 0
    assert _persisted(spark) > before
    release(out["mentions"])
    assert _persisted(spark) <= before


@pytest.mark.parametrize("name", [
    "kg_mentions", "kg_mention_edges", "kg_external_entities", "kg_orphan_counts",
    "kg_fuzzy_linking", "kg_triple_summary", "kg_one_hop", "kg_basic_facts",
    "kg_structured_triples", "kg_source_manifest", "kg_chunk_retrieval",
    "minhash_pairs", "ngram_jaccard", "kg_canonical_clusters", "kg_lineage_manifest",
    "kg_stage_manifests", "kg_golden_scores",
])
def test_driver_query_release(spark, name):
    """Each driver query's result holds whatever it cached; the queries
    that return driver-built rows (golden scores, the lineage and stage
    manifests) keep no cache at all."""
    before = _persisted(spark)
    result = QUERIES[name](spark, SF_DIR)
    assert result.count() > 0
    release(result)
    assert _persisted(spark) <= before


def test_stream_sessions_result_outlives_later_calls(spark):
    """kg_stream_sessions removes its scratch dir before it returns; its
    result lives in checkpoint blocks, so later calls cannot take it away,
    and ``release`` frees them."""
    def scratch():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "kg-stream-sess-*")))

    dirs_before, before = scratch(), _persisted(spark)
    first = QUERIES["kg_stream_sessions"](spark, SF_DIR)
    later = [QUERIES["kg_stream_sessions"](spark, SF_DIR) for _ in range(5)]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    want = sorted(con.execute(ORACLES["kg_stream_sessions"]).fetchall())
    assert sorted(tuple(r) for r in first.collect()) == want
    assert scratch() <= dirs_before
    for result in (first, *later):
        release(result)
    assert _persisted(spark) <= before
