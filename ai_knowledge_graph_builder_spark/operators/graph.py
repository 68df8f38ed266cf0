"""A2-A4, J7, J8, D1-D4, P4-P5: co-occurrence, rule inference, graph build.

Reference semantics:
- A2/A3: per-document distinct canonical entities → symmetric pair counts
  (entity_extractor.py:355-379).
- A4: (type1, type2, count) → (rel_type, confidence) rule table
  (entity_extractor.py:430-450) behind the global count ≥ 3 gate (:390-391).
- J7: inferred edge created only when no (src, rel, dst) edge exists
  (entity_extractor.py:399-419) → left_anti join.
- J8/P4/P5: triples = every edge except MENTIONS/SENT/SENT_TO joined twice to
  nodes for names/types, plus the natural-language text projection
  (entity_extractor.py:452-492).

Scale notes: the pair self-join shuffles on url once and the count aggregation
is a partial+final hash agg on (e1, e2) — the two-level pattern of the north
rule. Per-document entity sets are small, so the join fan-out is bounded; the
nodes side of J8 broadcasts when small, else AQE picks a shuffle join with
skew splitting (head entities — SURVEY.md §7.4 risk 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

COOCCUR_THRESHOLD = 3  # config/pipeline.yaml:60
EXCLUDED_PREDICATES = ("MENTIONS", "SENT", "SENT_TO")  # entity_extractor.py:459


def cooccurrence_pairs(mentions_resolved: DataFrame) -> DataFrame:
    """A2+A3: canonical mentions → unordered pair counts (e1 < e2).
    The reference stores both directions (entity_extractor.py:371-372); we
    keep the canonical unordered pair and orient at inference time."""
    # One hash agg collapses per-doc duplicates into an entity SET, then the
    # pair expansion is a NARROW single explode inside the row (bounded: a
    # doc's distinct entity count, not its mention count) — 2 shuffles total
    # (this agg + the pair count) vs 3 for the dedup + url-self-join
    # formulation, and no join at all. At 100 TB the url self-join would
    # re-shuffle the mention relation twice; this shape touches it once.
    # The k(k-1)/2 ordered pairs are built in the row over the SORTED id
    # set (position order ⇒ e1 < e2), so the explode generates exactly the
    # output pairs — the earlier double-explode generated all k²
    # combinations and filtered half away (r7).
    per_doc = (
        mentions_resolved.filter(F.col("resolution_type") == "canonical")
        .groupBy("url")
        .agg(F.sort_array(F.collect_set("resolved_id")).alias("ids"))
    )
    pair_arr = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + F.lit(2), F.size("ids")),
                lambda y: F.struct(x.alias("e1"), y.alias("e2")),
            ),
        )
    )
    pairs = per_doc.select(F.explode(pair_arr).alias("p")).select("p.e1", "p.e2")
    return pairs.groupBy("e1", "e2").agg(F.count(F.lit(1)).alias("cnt"))


def _rule_columns(src_t, dst_t, cnt):
    """A4 rule table as a when-chain (entity_extractor.py:430-450). Callers
    must have applied the global cnt >= COOCCUR_THRESHOLD gate already."""
    rel = (
        F.when((src_t == "emp") & (dst_t == "proj"), F.lit("WORKS_ON"))
        .when((src_t == "proj") & (dst_t == "prod") & (cnt >= 3), F.lit("USES"))
        .when((src_t == "proj") & (dst_t == "pol") & (cnt >= 2), F.lit("GOVERNED_BY"))
        .when((src_t == "pol") & (dst_t == "reg") & (cnt >= 2), F.lit("REFERENCES"))
        .when((src_t == "prod") & (dst_t == "reg") & (cnt >= 2), F.lit("COMPLIES_WITH"))
    )
    conf = (
        F.when((src_t == "emp") & (dst_t == "proj") & (cnt >= 5), F.lit(0.7))
        .when((src_t == "emp") & (dst_t == "proj"), F.lit(0.6))
        .when((src_t == "proj") & (dst_t == "prod"), F.lit(0.6))
        .otherwise(F.lit(0.5))
    )
    return rel, conf


def infer_edges(cooccur: DataFrame, existing_edges: DataFrame) -> DataFrame:
    """A4 + J7: orient each unordered pair both ways (the reference's
    symmetric dict stores both), apply the rule table, then left_anti against
    existing (src, predicate, dst)."""
    gated = cooccur.filter(F.col("cnt") >= COOCCUR_THRESHOLD)
    oriented = gated.select(
        F.col("e1").alias("src"), F.col("e2").alias("dst"), "cnt"
    ).unionAll(gated.select(F.col("e2").alias("src"), F.col("e1").alias("dst"), "cnt"))

    src_t = F.split(F.col("src"), "_")[0]  # id prefix is load-bearing (P9,
    # entity_extractor.py:393-394)
    dst_t = F.split(F.col("dst"), "_")[0]
    rel, conf = _rule_columns(src_t, dst_t, F.col("cnt"))
    candidates = oriented.select(
        "src",
        rel.alias("predicate"),
        "dst",
        conf.alias("confidence"),
        F.lit("phase7_inference").alias("source"),
        F.lit(False).alias("flagged"),
        F.lit(True).alias("inferred"),
        F.map_from_arrays(
            F.array(F.lit("cooccurrence_count"), F.lit("extraction_method")),
            F.array(F.col("cnt").cast("string"), F.lit("co_occurrence")),
        ).alias("props"),
    ).filter(F.col("predicate").isNotNull())

    return candidates.join(
        existing_edges.select("src", "predicate", "dst"),
        ["src", "predicate", "dst"],
        "left_anti",
    )


def ground_truth_edges(
    employees: DataFrame, assignments: DataFrame, policies: DataFrame
) -> DataFrame:
    """Confidence-1.0 structured edges (neo4j_loader.py:151-213):
    REPORTS_TO from employees.manager_id, WORKS_ON from assignments,
    OWNS from policies.owner_id."""
    empty_props = F.create_map().cast("map<string,string>")

    reports = employees.filter(F.col("manager_id").isNotNull()).select(
        F.col("id").alias("src"),
        F.lit("REPORTS_TO").alias("predicate"),
        F.col("manager_id").alias("dst"),
        F.lit(1.0).alias("confidence"),
        F.lit("employees.csv").alias("source"),
        F.lit(False).alias("flagged"),
        F.lit(False).alias("inferred"),
        empty_props.alias("props"),
    )
    works = assignments.select(
        F.col("employee_id").alias("src"),
        F.lit("WORKS_ON").alias("predicate"),
        F.col("project_id").alias("dst"),
        F.lit(1.0).alias("confidence"),
        F.lit("project_assignments.csv").alias("source"),
        F.lit(False).alias("flagged"),
        F.lit(False).alias("inferred"),
        F.map_from_arrays(F.array(F.lit("role")), F.array(F.col("role"))).alias("props"),
    )
    owns = policies.filter(F.col("owner_id").isNotNull()).select(
        F.col("owner_id").alias("src"),
        F.lit("OWNS").alias("predicate"),
        F.col("id").alias("dst"),
        F.lit(1.0).alias("confidence"),
        F.lit("policies.csv").alias("source"),
        F.lit(False).alias("flagged"),
        F.lit(False).alias("inferred"),
        empty_props.alias("props"),
    )
    return reports.unionByName(works).unionByName(owns)


def contradiction_edges(doc_meta: DataFrame, nodes: DataFrame) -> DataFrame:
    """Flagged WORKS_ON edges from planted project_assignment contradictions
    (neo4j_loader.py:368-386); project must exist (J5 left_semi analog of the
    per-row _entity_exists point query)."""
    c = doc_meta.select("url", F.explode(F.coalesce("contradictions", F.array())).alias("c"))
    c = c.filter(F.col("c.type") == "project_assignment")
    c = c.join(
        nodes.select(F.col("id").alias("proj_id")),
        c["c.document_value"] == F.col("proj_id"),
        "left_semi",
    )
    return c.select(
        F.col("c.entity").alias("src"),
        F.lit("WORKS_ON").alias("predicate"),
        F.col("c.document_value").alias("dst"),
        F.lit(0.3).alias("confidence"),
        F.col("url").alias("source"),
        F.lit(True).alias("flagged"),
        F.lit(False).alias("inferred"),
        F.map_from_arrays(
            F.array(F.lit("contradiction_reason"), F.lit("extraction_method")),
            F.array(F.col("c.explanation"), F.lit("contradiction")),
        ).alias("props"),
    )


def shadow_entities(doc_meta: DataFrame) -> DataFrame:
    """D4: one ShadowEntity per unique name from product_mention /
    policy_reference contradictions (neo4j_loader.py:392-414).

    Ids are content-derived (md5 of the name, like P10 external-entity ids)
    instead of the reference's arrival-order counter: the counter needs a
    global total order (a partitionBy-less window = every shadow name through
    ONE partition), while a stable hash is embarrassingly parallel and gives
    the same id on any cluster size, any run — the property that actually
    matters for resumable 100 TB runs."""
    c = doc_meta.select("url", F.explode(F.coalesce("contradictions", F.array())).alias("c"))
    c = c.filter(F.col("c.type").isin("product_mention", "policy_reference"))
    named = c.select(
        F.coalesce(F.col("c.document_value"), F.col("c.entity")).alias("name"),
        F.when(F.col("c.type") == "product_mention", F.lit("Product")).otherwise(F.lit("Policy")).alias("stype"),
        "url",
    )
    firsts = named.groupBy("name").agg(
        F.min("url").alias("first_url"), F.first("stype").alias("stype")
    )
    # shadow_<md5-derived 5 digits>: same derivation as functions/hashing.py
    # stable_hash64 (first 8 md5 bytes, big-endian) % 100000, expressed
    # JVM-side so no Python round-trip is paid for it
    sid = F.format_string(
        "shadow_%05d",
        F.pmod(F.conv(F.substring(F.md5("name"), 1, 16), 16, 10).cast("decimal(20,0)"),
               F.lit(100000)).cast("long"),
    )
    return firsts.select(
        sid.alias("id"),
        "name",
        F.lit("ShadowEntity").alias("node_type"),
        F.lit(0.3).alias("confidence"),
        F.col("first_url").alias("source"),
        F.create_map().cast("map<string,string>").alias("props"),
    )


def registry_nodes(registry: DataFrame) -> DataFrame:
    """S7: typed registry nodes; name = coalesce(full_name, name) (P7,
    entity_extractor.py:461-470); node_type from entity_type."""
    type_map = F.create_map(
        F.lit("employee"), F.lit("Employee"),
        F.lit("project"), F.lit("Project"),
        F.lit("product"), F.lit("Product"),
        F.lit("policy"), F.lit("Policy"),
        F.lit("regulation"), F.lit("Regulation"),
    )
    empty = F.create_map().cast("map<string,string>")
    if "props" not in registry.columns:
        props = empty
    else:
        from pyspark.sql import types as T

        if isinstance(registry.schema["props"].dataType, T.MapType):
            props = F.coalesce(F.col("props"), empty)
        else:
            # pandas-inferred struct (union of keys, nulls for absent ones):
            # json round-trip drops the nulls and yields the declared map type
            props = F.coalesce(
                F.from_json(F.to_json("props"), "map<string,string>"), empty
            )
    return registry.select(
        F.col("entity_id").alias("id"),
        F.coalesce("full_name", "name").alias("name"),
        type_map[F.col("entity_type")].alias("node_type"),
        F.lit(1.0).alias("confidence"),
        F.lit("registry").alias("source"),
        props.alias("props"),
    )


def assemble_triples(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """J8 + P4 + P5 + D3: edge × node × node with the natural-text projection;
    deduplicated on (src, predicate, dst) — the north rule's deduplicated SPO
    output."""
    # dedup: the reference CREATEs one edge per contradiction document
    # (neo4j_loader.py:376-386), so (src, predicate, dst) alone is NOT the
    # identity — source/confidence/flags distinguish legitimate parallel
    # edges. Exact duplicates (same provenance) collapse to one row.
    e = edges.filter(~F.col("predicate").isin(*EXCLUDED_PREDICATES)).dropDuplicates(
        ["src", "predicate", "dst", "confidence", "source", "flagged", "inferred"]
    )
    # Document nodes can only be endpoints of the excluded predicates
    # (MENTIONS/SENT/SENT_TO), so prune them BEFORE the join: at 10^12 docs
    # the node table is dominated by Document rows and would never broadcast,
    # while the entity-only side stays dimension-sized.
    n = nodes.filter(F.col("node_type") != "Document").select("id", "name", "node_type")
    s = F.broadcast(n).alias("s")
    o = F.broadcast(n).alias("o")
    j = (
        e.join(s, F.col("src") == F.col("s.id"))
        .join(o, F.col("dst") == F.col("o.id"))
    )
    return j.select(
        F.col("s.id").alias("subject_id"),
        F.col("s.name").alias("subject_name"),
        F.col("s.node_type").alias("subject_type"),
        "predicate",
        F.col("o.id").alias("object_id"),
        F.col("o.name").alias("object_name"),
        F.col("o.node_type").alias("object_type"),
        "confidence",
        "source",
        "flagged",
        "inferred",
        F.concat_ws(
            " ",
            F.col("s.name"),
            F.lower(F.regexp_replace("predicate", "_", " ")),
            F.col("o.name"),
        ).alias("text"),
    )
