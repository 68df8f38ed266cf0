"""Every cache the KG path persists has a release path: a run, followed by
``cache.release`` on its result where the caller owns the caches, leaves
the session's persisted-RDD count no higher than before it started."""

from __future__ import annotations

import pytest

from ai_knowledge_graph_builder_spark.cache import release
from ai_knowledge_graph_builder_spark.driver_queries import kg_inferred_triples
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
