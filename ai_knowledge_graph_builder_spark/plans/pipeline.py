"""End-to-end document→triples plan (the reference's phases 6-7 as one DAG).

The reference runs each phase as a subprocess communicating through files and
Neo4j (run_pipeline.py:150-155); here the whole flow is a single declarative
DataFrame DAG — Catalyst sees every stage, so filters/pruning push into the
scan and the only materialization points are the ones we choose (the
checkpointed table stages in plans/checkpoint.py).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..cache import hold
from ..operators.canonical import apply_canonical_remap, cluster_external_entities, resolve_pronouns
from ..operators.chunks import chunk_documents, embed_chunks, embed_texts_df
from ..operators.edges_full import (
    document_nodes,
    mention_edges,
    metadata_mention_edges,
    sent_edges,
    shadow_mention_edges,
)
from ..operators.extraction import extract_documents
from ..operators.graph import (
    assemble_triples,
    contradiction_edges,
    cooccurrence_pairs,
    ground_truth_edges,
    infer_edges,
    registry_nodes,
    shadow_entities,
)
from ..operators.linking import build_alias_table, external_entity_nodes, resolve_mentions
from ..operators.mentions import detect_mentions
from ..schemas import EDGES
# looked up through the module at call time, so a wrapped ck.run_stage
# (perfbench's traced pass) sees every stage
from . import checkpoint as ck


def run_kg_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    registry: DataFrame,
    doc_meta: DataFrame | None = None,
    employees: DataFrame | None = None,
    assignments: DataFrame | None = None,
    policies: DataFrame | None = None,
    emails: DataFrame | None = None,
    gazetteer: list[tuple[str, str]] | None = None,
    with_pronouns: bool = False,
) -> dict[str, DataFrame]:
    """Run the full flow lazily; returns the named DataFrames. Callers decide
    what to materialize (tests collect, the checkpointed runner writes
    committed parquet stages).

    ``nodes``/``edges`` are the COMPLETE reference graph — Document nodes and
    MENTIONS / SENT / SENT_TO edges included (neo4j_loader.py steps 3-7 +
    entity_extractor.py step 3); ``triples`` excludes the non-semantic
    predicates exactly as the reference does (entity_extractor.py:459).

    Every cache the run creates is held by ``mentions``: call
    ``cache.release(out["mentions"])`` once the outputs are materialized."""
    documents = extract_documents(pages, doc_meta)
    # persist the NER output: everything downstream (exact/fuzzy/external
    # linking, MENTIONS table, co-occurrence) fans out from here, and the
    # extraction+NER UDF chain is the most expensive thing to recompute
    mentions_raw = detect_mentions(documents, gazetteer).persist()

    aliases = build_alias_table(registry)
    resolved, external_nodes = resolve_mentions(mentions_raw, aliases)
    mentions = resolved
    if with_pronouns:
        # north-rule extension: pronoun-to-antecedent mentions. Canonical
        # pronoun resolutions point at entities already mentioned in the same
        # document, so per-doc distinct entity sets — and therefore
        # co-occurrence counts and the final triple set — are unchanged.
        mentions = mentions.unionByName(resolve_pronouns(documents, mentions))
    mentions = mentions.persist()
    hold(mentions, mentions, mentions_raw, resolved)

    graph = _assemble_graph(documents, mentions, external_nodes, registry, doc_meta,
                            employees, assignments, policies, emails)
    return {
        "documents": documents,
        "mentions": mentions,
        "aliases": aliases,
        **graph,
        "triples": assemble_triples(graph["edges"], graph["nodes"]),
    }


def _assemble_graph(
    documents: DataFrame,
    mentions: DataFrame,
    external_nodes: DataFrame,
    registry: DataFrame,
    doc_meta: DataFrame | None,
    employees: DataFrame | None,
    assignments: DataFrame | None,
    policies: DataFrame | None,
    emails: DataFrame | None,
) -> dict[str, DataFrame]:
    """The graph both runners build, as lazy ``nodes``, ``edges`` and the
    ``cooccur`` pairs the inferred edges come from."""
    nodes = registry_nodes(registry).unionByName(external_nodes)
    shadows = None
    if doc_meta is not None:
        shadows = shadow_entities(doc_meta)
        nodes = nodes.unionByName(shadows)
    nodes = nodes.unionByName(document_nodes(documents))

    base_edges = None
    if employees is not None and assignments is not None and policies is not None:
        base_edges = ground_truth_edges(employees, assignments, policies)
    if doc_meta is not None:
        flagged = contradiction_edges(doc_meta, registry_nodes(registry))
        base_edges = flagged if base_edges is None else base_edges.unionByName(flagged)

    cooccur = cooccurrence_pairs(mentions)
    if base_edges is None:
        # LocalRelation form (see _empty_edges) so the anti-join and the
        # union against it optimize away instead of planning real stages
        base_edges = _empty_edges(mentions.sparkSession)
    edges = base_edges.unionByName(infer_edges(cooccur, base_edges))

    # non-semantic edge families (D1/J4/J5 + shadow mentions): part of the
    # graph, excluded from triples by predicate (entity_extractor.py:459)
    edges = edges.unionByName(mention_edges(mentions))
    if doc_meta is not None:
        edges = edges.unionByName(metadata_mention_edges(doc_meta, registry_nodes(registry)))
    if shadows is not None:
        edges = edges.unionByName(shadow_mention_edges(shadows))
    if emails is not None and employees is not None:
        edges = edges.unionByName(sent_edges(emails, employees))
    return {"nodes": nodes, "edges": edges, "cooccur": cooccur}


def _empty_edges(spark: SparkSession) -> DataFrame:
    """Empty EDGES relation as a true empty ``LocalRelation``.

    ``spark.createDataFrame([], EDGES)`` builds an RDD-backed scan
    (``applySchemaToPythonRDD``) whose emptiness the optimizer cannot see:
    the flagship's J7 anti-join against it planned a full SortMergeJoin —
    an Exchange + Sort of the candidate side PER orientation branch plus a
    shuffle of the provably-empty side (r7 plan audit). A one-row select
    of correctly-typed literals under ``limit(0)`` collapses to an empty
    LocalRelation (OptimizeLimitZero), so PropagateEmptyRelation erases
    every join/union against it outright. Literal choices preserve EDGES
    field nullability (non-null literals for non-nullable fields)."""
    dummies = {
        "src": F.lit(""),
        "predicate": F.lit(""),
        "dst": F.lit(""),
        "flagged": F.lit(False),
        "inferred": F.lit(False),
    }
    cols = [
        (dummies[f.name] if f.name in dummies else F.lit(None)).cast(f.dataType).alias(f.name)
        for f in EDGES.fields
    ]
    return spark.range(1).select(*cols).limit(0)


def run_kg_pipeline_checkpointed(
    spark: SparkSession,
    base_dir: str,
    pages: DataFrame,
    registry: DataFrame,
    corpus_fingerprint: str,
    doc_meta: DataFrame | None = None,
    employees: DataFrame | None = None,
    assignments: DataFrame | None = None,
    policies: DataFrame | None = None,
    emails: DataFrame | None = None,
    gazetteer: list[tuple[str, str]] | None = None,
    with_chunks: bool = False,
    with_canonicalization: bool = False,
    verify_integrity: bool = False,
) -> tuple[dict[str, DataFrame], dict[str, bool]]:
    """The checkpointed production plan: every stage is a committed parquet
    table under ``base_dir`` with per-partition lineage in its manifest
    (plans/checkpoint.py); a restart skips every stage whose input
    fingerprint still matches — the north rule's resume-from-last-committed-
    snapshot semantics. Returns (tables, resumed_flags)."""

    def run_stage(*a, **kw):
        return ck.run_stage(*a, verify_integrity=verify_integrity, **kw)

    def fp(*parts: str) -> str:
        return hashlib.md5("\x00".join(parts).encode()).hexdigest()

    # Content fingerprints of the dimension tables, one aggregation for all.
    # Stages that consume these inputs fold them into their fingerprint so
    # changing the registry (etc.) invalidates exactly the stages that read
    # it — a path-only fingerprint silently resumes stale snapshots
    # (ADVICE round 1).
    dfp = ck.table_fingerprints({
        "registry": registry, "doc_meta": doc_meta, "employees": employees,
        "assignments": assignments, "policies": policies, "emails": emails,
    })

    out: dict[str, DataFrame] = {}
    resumed: dict[str, bool] = {}
    f_docs = fp(corpus_fingerprint, "documents", dfp["doc_meta"])

    out["documents"], resumed["documents"] = run_stage(
        spark, f"{base_dir}/documents", "documents", f_docs,
        lambda: extract_documents(pages, doc_meta), key_col="url",
    )

    gaz_fp = fp(f_docs, "mentions_raw", repr(sorted(gazetteer or [])))
    out["mentions_raw"], resumed["mentions_raw"] = run_stage(
        spark, f"{base_dir}/mentions_raw", "mentions_raw", gaz_fp,
        lambda: detect_mentions(out["documents"], gazetteer), key_col="url",
    )

    aliases = build_alias_table(registry)
    f_res = fp(gaz_fp, "mentions", dfp["registry"])
    out["mentions"], resumed["mentions"] = run_stage(
        spark, f"{base_dir}/mentions", "mentions", f_res,
        lambda: resolve_mentions(out["mentions_raw"], aliases)[0], key_col="url",
    )

    def _graph() -> dict[str, DataFrame]:
        # planned inside the stage builders, so a resumed stage plans nothing.
        # External nodes come from the committed mentions table: a resumed
        # run derives them without re-running linking.
        external_nodes = external_entity_nodes(
            out["mentions"].filter(F.col("resolution_type") == "external")
            .groupBy(F.col("resolved_id").alias("id"))
            .agg(F.min(F.lower(F.trim("text"))).alias("name"))
        )
        return _assemble_graph(out["documents"], out["mentions"], external_nodes, registry,
                               doc_meta, employees, assignments, policies, emails)

    f_nodes = fp(f_res, "nodes", dfp["registry"], dfp["doc_meta"])
    out["nodes"], resumed["nodes"] = run_stage(
        spark, f"{base_dir}/nodes", "nodes", f_nodes, lambda: _graph()["nodes"], key_col="id",
    )
    f_edges = fp(f_nodes, "edges", dfp["employees"], dfp["assignments"], dfp["policies"],
                 dfp["emails"])
    out["edges"], resumed["edges"] = run_stage(
        spark, f"{base_dir}/edges", "edges", f_edges, lambda: _graph()["edges"], key_col="src",
        partition_by=["predicate"],
    )

    if with_canonicalization:
        f_canon = fp(f_edges, "canonical")

        def _build_canonical_edges():
            # Document nodes never canonicalize — don't embed 10^12 urls
            ent_nodes = out["nodes"].filter(F.col("node_type") != "Document")
            name_emb = embed_texts_df(
                ent_nodes.select("id", "name"), "name", "id", "node_name"
            )
            remap = cluster_external_entities(out["nodes"], name_emb)
            return apply_canonical_remap(out["edges"], remap)

        out["edges_canonical"], resumed["edges_canonical"] = run_stage(
            spark, f"{base_dir}/edges_canonical", "edges_canonical", f_canon,
            _build_canonical_edges, key_col="src", partition_by=["predicate"],
        )

    edges_for_triples = out.get("edges_canonical", out["edges"])
    f_triples = fp(f_edges, "triples", str(with_canonicalization))
    out["triples"], resumed["triples"] = run_stage(
        spark, f"{base_dir}/triples", "triples", f_triples,
        lambda: assemble_triples(edges_for_triples, out["nodes"]), key_col="subject_id",
        partition_by=["predicate"],
    )

    if with_chunks:
        f_chunks = fp(f_docs, "chunks")
        out["chunks"], resumed["chunks"] = run_stage(
            spark, f"{base_dir}/chunks", "chunks", f_chunks,
            lambda: chunk_documents(out["documents"]), key_col="url",
        )
        f_emb = fp(f_chunks, "embeddings")
        out["embeddings"], resumed["embeddings"] = run_stage(
            spark, f"{base_dir}/embeddings", "embeddings", f_emb,
            lambda: embed_chunks(out["chunks"]), key_col="item_id",
        )

    return out, resumed

