"""Physical-plan assertions for the headline queries — the properties the
100 TB design depends on, checked against `.explain` output so a regression
in plan shape (lost pushdown, lost pruning, a surprise cartesian) fails CI,
not just the benchmark.

These parse `explain("formatted")` / the executed-plan string, which is
stable for the asserted substrings (scan ReadSchema / PushedFilters,
join strategy node names) across Spark 3.4-4.x.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    """Capture df.explain('formatted') as a string."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_scan_prunes_columns(spark):
    """The documents scan under the flagship reads ONLY (doc_id, text) —
    the two columns the fused synthesis+extraction+NER pass consumes (r7:
    lang dropped with the standalone pages stage). A scan shipping more
    columns into the opaque Arrow operator would drag the whole table
    across the memory bus at 100 TB."""
    from ai_knowledge_graph_builder_spark.driver_queries import kg_inferred_triples

    p = plan_str(kg_inferred_triples(spark, SF_DIR))
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan, p
    for ln in scan:
        assert "title" not in ln and "embedding" not in ln and "lang" not in ln, ln
        # the projection is exactly the two columns the synthesis needs
        assert "doc_id" in ln and "text" in ln, ln


def test_flagship_no_cartesian_and_broadcast_linking(spark):
    """Alias/fuzzy/external joins must be broadcast (dictionary-sized dims);
    nothing in the flagship may plan a cartesian product."""
    from ai_knowledge_graph_builder_spark.driver_queries import kg_inferred_triples

    p = plan_str(kg_inferred_triples(spark, SF_DIR))
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p and "BroadcastNestedLoopJoin" not in p, p
    # r7: the J7 anti-join against the empty edge set must be OPTIMIZED
    # AWAY (empty LocalRelation → PropagateEmptyRelation), not planned as
    # a real join — createDataFrame([], schema) regressing to an
    # RDD-backed empty relation re-plans a full SortMergeJoin with an
    # Exchange + Sort of the candidate side per orientation branch
    assert "SortMergeJoin" not in p and "LeftAnti" not in p, p


def test_filter_pushdown_reaches_parquet(spark):
    """A predicate on a scanned column must appear in PushedFilters — the
    free Catalyst win the engine is designed around."""
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderstatus")
    )
    p = plan_str(df)
    assert "PushedFilters" in p, p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("o_orderstatus" in ln for ln in pushed), pushed


def test_topk_uses_takeordered_or_window(spark):
    """top_customers (T3 LIMIT shape) must not plan a global sort of the
    full relation followed by collect — TakeOrderedAndProject (or a
    window-ranked exchange) is the scale-safe form."""
    from ai_knowledge_graph_builder_spark.driver_queries import top_customers

    p = plan_str(top_customers(spark, SF_DIR))
    assert ("TakeOrderedAndProject" in p) or ("Window" in p), p


def test_cooccurrence_has_no_join(spark):
    """The rewritten A3 pair expansion is narrow (collect_set + explode):
    the mention relation must shuffle exactly twice (per-doc agg + pair agg)
    and plan NO join at all."""
    from pyspark.sql import functions as F

    from ai_knowledge_graph_builder_spark.operators.graph import cooccurrence_pairs

    m = spark.createDataFrame(
        [("u1", "e1", "canonical"), ("u1", "e2", "canonical"), ("u2", "e1", "canonical")],
        "url string, resolved_id string, resolution_type string",
    )
    df = cooccurrence_pairs(m)
    import re

    p = plan_str(df)
    assert "Join" not in p, p
    # count physical Exchange NODES (the "(n) Exchange" detail headers), not
    # every tree/Input line that mentions one
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n_exchanges <= 2, p


@pytest.mark.parametrize("qname", ["quality_score", "doc_fingerprint", "token_stats"])
def test_text_queries_stay_jvm_side(spark, qname):
    """The JVM-only text operators must not plan ANY Python evaluation node
    (whole-stage-codegen path; Python would be the 10-100x slow path)."""
    from ai_knowledge_graph_builder_spark.driver_queries import QUERIES

    p = plan_str(QUERIES[qname](spark, SF_DIR))
    assert "Python" not in p, p


def test_minhash_dedup_pairs_no_seed_shuffle(spark):
    """All k per-doc minhashes are in-row projections over the shingle
    array — a plan that shuffles a (id, seed)- or (id, band)-keyed relation
    has regressed to the k-times-shuffle-volume long format, invisible at
    test scale and dominant at corpus scale."""
    from pyspark.sql import functions as F

    from ai_knowledge_graph_builder_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    pairs = dedup.minhash_dedup_pairs(docs, "doc_id", "text", tau=0.5)
    p = plan_str(pairs)
    dedup.release(pairs)
    # banding is projection-only: no exchange may partition by seed/band
    exchanges = [ln for ln in p.splitlines() if "Arguments: hashpartitioning" in ln]
    assert exchanges, p
    for ln in exchanges:
        assert "seed" not in ln, ln
    assert "seed#" not in p, "seed column resurfaced — long format is back"


def test_shingle_split_runs_once_outside_the_lambda(spark):
    """``shingle_arrays`` splits each text once, in a projection below the
    n-gram ``transform``; the lambda lint flags the form that split inside
    the lambda, which re-split the whole text for every element."""
    from plan_lint import lambda_violations
    from pyspark.sql import functions as F

    from ai_knowledge_graph_builder_spark.operators.dedup import shingle_arrays

    docs = spark.createDataFrame([("1", " a b  c d "), ("2", "e")], "doc_id string, text string")
    sh = shingle_arrays(docs, "doc_id", "text")
    assert lambda_violations(sh) == []
    plan = sh._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan

    words = F.split(F.trim(F.col("text")), r"\s+")
    idxs = F.sequence(F.lit(0), F.greatest(F.size(words) - 3, F.lit(0)))
    inline = F.when(
        F.size(words) >= 3,
        F.transform(idxs, lambda i: F.concat_ws(" ", *[F.element_at(words, i + j + 1) for j in range(3)])),
    ).otherwise(F.array(F.concat_ws(" ", words)))
    assert lambda_violations(docs.select(inline.alias("sh"))) == ["StringSplit in a lambda over text"]


@pytest.mark.parametrize("op", ["token_shingles", "minhash_dedup_pairs", "ngram_jaccard_pairs"])
def test_dedup_operators_keep_splits_out_of_lambdas(spark, op):
    """No dedup operator's optimized plan re-splits the text inside a
    lambda. A plain explode over the lazily built shingle array infers a
    non-empty filter that inlines the whole n-gram transform, split and
    all, into a lambda below the scan."""
    from plan_lint import lambda_violations

    from ai_knowledge_graph_builder_spark.operators import dedup

    docs = spark.createDataFrame([("1", "a b c d"), ("2", "a b c e")], "doc_id string, text string")
    args = () if op == "token_shingles" else (0.5,)
    assert lambda_violations(getattr(dedup, op)(docs, "doc_id", "text", *args)) == []


def test_ivf_fixed_codebook_assignment_is_projection_only(spark):
    """The r5 IVF rewrite: with a fixed codebook, the item→cell assignment
    must be a pure projection (literal-array dot argmax inside codegen) —
    no crossJoin of items×centroids and no per-item window sort. A plan
    with a nested-loop join or an items-side exchange before the cell
    column has regressed to the explode-×-n_cells shape, whose shuffle
    volume scales with n_cells at 10^9+ items."""
    from pyspark.sql import functions as F

    from ai_knowledge_graph_builder_spark.operators.similarity import ivf_topk_join

    # a prior test's persisted embeddings relation would swap the parquet
    # scans for InMemoryTableScans and break the scan-count assertion
    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        F.col("vec_id").cast("string").alias("item_id"),
        F.col("embedding"),
    )
    centroids = [[1.0 if d % 16 == c else -1.0 for d in range(64)] for c in range(16)]
    queries = emb.limit(3).select(F.col("item_id").alias("query_id"), "embedding")
    out = ivf_topk_join(emb, queries, k=5, n_probe=4, centroids=centroids)
    p = plan_str(out)
    assert "CartesianProduct" not in p, p
    # the ONLY nested-loop join allowed is the broadcast of the tiny
    # query×centroid table; the items side must not appear under one
    nl = [ln for ln in p.splitlines() if "NestedLoop" in ln]
    for ln in nl:
        assert "Broadcast" in ln, ln
    # exactly two parquet scans in the whole plan: the items side (feeding
    # the assignment projection directly) and the limit-3 query side — a
    # third scan would mean the items relation is read again to pick cells
    import re

    scans = re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)
    assert len(scans) == 2, p


def test_repetition_stats_single_scan_zero_agg_projection(spark):
    """repetition_stats computes token AND bigram tops from ONE parquet
    scan as a PURE PROJECTION (sorted-array longest-run fold): no Join, no
    Generate/explode, no HashAggregate, and the only Exchange is the
    round-robin spread of the tiny single-split test scan — a regression
    to the explode → two-level-agg shape shuffles the whole gram relation
    (~2 rows per token), which at 100 TB is the entire query cost."""
    import re

    from ai_knowledge_graph_builder_spark.driver_queries import repetition_stats

    spark.catalog.clearCache()
    p = plan_str(repetition_stats(spark, SF_DIR))
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)) == 1, p
    assert "Join" not in p, p
    assert "Generate" not in p, p
    assert "HashAggregate" not in p, p
    exchanges = re.findall(r"^\(\d+\) Exchange", p, flags=re.M)
    assert len(exchanges) <= 1, p
    if exchanges:
        assert "RoundRobinPartitioning" in p, p


def test_media_verbs_shuffle_free_and_blob_never_shuffled(spark):
    """The multimodal verb chains (synthesize → decode/sample/resize/
    feature-extract → project) are pure mapInPandas pipelines: no Exchange
    anywhere (a shuffle would move the binary payload across the cluster —
    the one thing the 100 TB design forbids for blob columns), no join, and
    the frame fan-out happens inside the Arrow worker, not via explode."""
    from ai_knowledge_graph_builder_spark.driver_queries import (
        media_features,
        media_frames,
        media_resize,
    )

    spark.catalog.clearCache()
    for fn in (media_frames, media_resize, media_features):
        p = plan_str(fn(spark, SF_DIR))
        assert "Exchange" not in p, (fn.__name__, p)
        assert "Join" not in p, (fn.__name__, p)


def test_dedup_release_unpersists_shingles(spark):
    """The near-dup operators cache nothing: the session's persisted-RDD
    count is unchanged after materializing a result, and after
    ``dedup.release`` (which callers still call) as well."""
    from pyspark.sql import functions as F

    from ai_knowledge_graph_builder_spark.operators import dedup

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(40)
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    )
    pairs = dedup.minhash_dedup_pairs(docs, "doc_id", "text", tau=0.5)
    pairs.count()
    assert jsc.getPersistentRDDs().size() == before
    dedup.release(pairs)
    assert jsc.getPersistentRDDs().size() == before


def test_component_labels_plan_does_not_grow_with_rounds(spark):
    """Each round of connected_components reads the last round's labels
    twice. Without a cut in the lineage, the optimized plan of
    kg_canonical_clusters carried every round and rendered to tens of MB
    of JSON at sf0.001."""
    from ai_knowledge_graph_builder_spark.cache import release
    from ai_knowledge_graph_builder_spark.driver_queries import kg_canonical_clusters

    result = kg_canonical_clusters(spark, SF_DIR)
    try:
        assert len(result._jdf.queryExecution().optimizedPlan().toJSON()) < 1_000_000
    finally:
        release(result)
