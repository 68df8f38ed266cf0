"""LSH cosine join vs brute force; exact, MinHash-LSH and n-gram Jaccard dedup."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ai_knowledge_graph_builder_spark.operators import dedup
from ai_knowledge_graph_builder_spark.operators.dedup import exact_dedup_ids, minhash_dedup_pairs
from ai_knowledge_graph_builder_spark.operators.similarity import (
    brute_force_cosine_pairs,
    cosine_topk_join,
    lsh_cosine_join,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.col("vec_id").cast("string").alias("item_id"), "embedding"
    )


def test_lsh_cosine_join_precision_and_recall(spark):
    emb = _emb(spark).persist()
    tau = 0.35
    exact = {(r["a"], r["b"]): r["cosine"] for r in brute_force_cosine_pairs(emb, tau).collect()}
    got = {(r["a"], r["b"]): r["cosine"] for r in
           lsh_cosine_join(emb, tau, bands=32, rows_per_band=4).collect()}
    assert exact, "no ground-truth pairs at this tau — test is vacuous"
    # precision exact: every returned pair is a true pair with the same score
    for k, v in got.items():
        assert k in exact and abs(v - exact[k]) < 1e-9
    recall = len(got) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} over {len(exact)} pairs"


def test_cosine_topk_matches_bruteforce(spark):
    emb = _emb(spark).persist()
    q = emb.filter(F.col("item_id") == "0").select(
        F.lit("q0").alias("query_id"), "embedding"
    )
    items = emb.filter(F.col("item_id") != "0")
    top = cosine_topk_join(items, q, k=5).orderBy("rank").collect()
    assert len(top) == 5
    # scores non-increasing; ids are real items
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_exact_dedup_finds_injected_duplicates(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.col("doc_id") < 50)
    dups = docs.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    out = exact_dedup_ids(docs.unionAll(dups), "doc_id", "text")
    rows = out.collect()
    # every hash has exactly 2 copies, keeper is the original id
    assert all(r["dup_count"] == 2 and r["keep_id"] < 1000 for r in rows)
    assert len(rows) == 50


def test_minhash_lsh_finds_near_duplicates(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), F.trim("text").alias("text")
    ).filter(F.col("doc_id") < 40)
    words = F.split(F.col("text"), r"\s+")
    mutated = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 2, 100000)).alias("text"),  # drop 1st word
    )
    both = docs.unionAll(mutated).withColumn("doc_id", F.col("doc_id").cast("string"))
    pairs = minhash_dedup_pairs(both, "doc_id", "text", tau=0.5).collect()
    found = {frozenset((r["a"], r["b"])) for r in pairs}
    planted = {frozenset((str(i), str(i + 1000))) for i in range(40)}
    hit = len(found & planted) / len(planted)
    assert hit >= 0.9, f"planted near-dup recall {hit:.2f}"
    # every reported pair really has jaccard >= 0.5
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_ivf_topk_recall(spark):
    from ai_knowledge_graph_builder_spark.operators.similarity import ivf_topk_join

    emb = _emb(spark).persist()
    q = emb.filter(F.col("item_id").isin("0", "1", "2")).select(
        F.col("item_id").alias("query_id"), "embedding"
    )
    items = emb
    exact = cosine_topk_join(items, q, k=10)
    approx = ivf_topk_join(items, q, k=10, n_cells=8, n_probe=4)
    ex = {(r["query_id"], r["item_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["item_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.8, f"IVF recall {recall:.2f}"
    # scores inside probed cells are exact
    ex_scores = {(r["query_id"], r["item_id"]): r["score"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["item_id"])
        if key in ex_scores:
            assert abs(r["score"] - ex_scores[key]) < 1e-9


def test_ivf_fixed_codebook_assignment_is_cosine_argmax(spark):
    """Unequal-norm codebooks (real pre-trained KMeans centroids) must
    assign by COSINE, not raw dot — otherwise items land in cells the
    query-side cosine probe doesn't rank first. centroids [[2,0],[0,1]]
    with item [0.6,0.8]: raw dot picks cell 0 (1.2 > 0.8), cosine picks
    cell 1 (0.6 < 0.8) — the query probing at n_probe=1 from the same
    direction must find the item."""
    import pandas as pd

    from ai_knowledge_graph_builder_spark.operators.similarity import ivf_topk_join

    items = spark.createDataFrame(
        pd.DataFrame({"item_id": ["i1"], "embedding": [[0.6, 0.8]]})
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": ["q1"], "embedding": [[0.6, 0.8]]})
    )
    got = ivf_topk_join(
        items, queries, k=1, n_probe=1, centroids=[[2.0, 0.0], [0.0, 1.0]]
    ).collect()
    assert [(r["query_id"], r["item_id"]) for r in got] == [("q1", "i1")]


# a doc shorter than n words, docs with repeated shingles, near copies,
# whitespace that trim/split must absorb
HAND_DOCS = [
    ("1", "the quick brown fox jumps over the lazy dog"),
    ("2", "quick brown fox jumps over the lazy dog"),
    ("3", "the quick brown fox jumps over a lazy dog"),
    ("4", "a b a b a b a b"),
    ("5", "a b a b a"),
    ("6", "hello"),
    ("7", "  hello "),
    ("8", "hello world"),
    ("9", "world hello world hello"),
]


def _python_shingles(text: str, n: int) -> set[str]:
    w = re.split(r"\s+", text.strip())
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def _python_pairs(n: int, tau: float) -> dict:
    sets = {i: _python_shingles(t, n) for i, t in HAND_DOCS}
    out = {}
    for a in sets:
        for b in sets:
            if a < b:
                common = len(sets[a] & sets[b])
                jac = common / (len(sets[a]) + len(sets[b]) - common)
                if jac >= tau:
                    out[(a, b)] = jac
    return out


@pytest.mark.parametrize("n", [2, 3])
def test_ngram_jaccard_pairs_equal_python_set_jaccard(spark, n):
    """Exact n-gram Jaccard equals a pure-Python set Jaccard, pair for pair
    and bit for bit; MinHash-LSH finds a subset of the trigram pairs, each
    with the same Jaccard."""
    docs = spark.createDataFrame(HAND_DOCS, "doc_id string, text string")
    tau = 0.3
    ng = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", tau=tau, n=n)
    got = {(r["a"], r["b"]): r["jaccard"] for r in ng.collect()}
    dedup.release(ng)
    want = _python_pairs(n, tau)
    assert any(j < 1.0 for j in want.values()) and any(j == 1.0 for j in want.values())
    assert got == want
    if n == 3:
        mh = dedup.minhash_dedup_pairs(docs, "doc_id", "text", tau=tau)
        lsh = {(r["a"], r["b"]): r["jaccard"] for r in mh.collect()}
        dedup.release(mh)
        assert lsh and all(want[k] == v for k, v in lsh.items())


def test_minhash_reports_a_pair_once_however_many_bands_it_shares(spark):
    """Exact copies share every band, so each pair meets once per band in
    the band join; it must be reported exactly once."""
    text = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [("1", text), ("2", text), ("3", text), ("4", "hello world")], "doc_id string, text string"
    )
    pairs = dedup.minhash_dedup_pairs(docs, "doc_id", "text", tau=0.5)
    assert pairs.count() == pairs.distinct().count() == 3
    assert sorted((r["a"], r["b"], r["jaccard"]) for r in pairs.collect()) == [
        ("1", "2", 1.0), ("1", "3", 1.0), ("2", "3", 1.0)
    ]


@pytest.mark.parametrize("op", ["minhash_dedup_pairs", "ngram_jaccard_pairs"])
def test_near_dup_join_sides_read_one_exchange(spark, op):
    """Both sides of the near-dup self-join read one shuffle, and nothing
    is cached: the final adaptive plan reuses the exchange and scans no
    in-memory relation."""
    docs = spark.createDataFrame(HAND_DOCS, "doc_id string, text string")
    pairs = getattr(dedup, op)(docs, "doc_id", "text", tau=0.3)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan
    assert "InMemoryTableScan" not in plan, plan
