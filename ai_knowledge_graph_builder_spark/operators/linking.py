"""J1-J3 + A1: dictionary/alias entity linking and external-entity creation.

Reference semantics (entity_extractor.py:110-151, 196-308):

- J1 alias dictionary: per-type name expansions into a plain dict — later
  assignments OVERWRITE earlier ones (last-wins), but the KEY keeps its
  first-insertion position (Python dict), which is the iteration order the
  fuzzy argmax depends on.
- J2 exact match: ``mention.lower().strip() in dict`` → confidence 0.95.
- J3 fuzzy match: argmax difflib ratio over ALL aliases in key order with
  strict ``>`` (first-max wins), accept at ≥ 0.90, confidence round(score, 2).
- A1 external entities: remaining mentions grouped by normalized text;
  ≥ 2 occurrences → ExternalEntity resolved at confidence 0.4, with the
  label/first-doc of the FIRST mention in arrival order; < 2 → dropped.

Spark realization / scale notes:

- The alias table is a broadcast dimension (it is a dictionary by
  construction). The exact join J2 is a broadcast hash join — zero shuffle on
  the mention side.
- Fuzzy scoring runs only over DISTINCT unresolved normalized texts (the
  score is a pure function of the text), collapsing the reference's
  O(mentions × aliases) scan to O(distinct_texts × feasible_aliases) with an
  exact-safe length-band prefilter (functions/fuzzy.py). The distinct set is
  scored in parallel via mapInPandas with the alias list as a task broadcast.
- A1 is a single partial+final hash aggregation keyed by normalized text;
  "first mention" is min(struct(url, mention_idx)) — explicit arrival order,
  no reliance on physical row order.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..cache import hold
from ..functions.fuzzy import best_alias_match
from ..functions.hashing import external_entity_id

RESOLUTION_THRESHOLD = 0.90  # config/pipeline.yaml:56
EXTERNAL_ENTITY_THRESHOLD = 2  # config/pipeline.yaml:63
EXACT_CONFIDENCE = 0.95  # entity_extractor.py:214
EXTERNAL_CONFIDENCE = 0.4  # entity_extractor.py:257


def build_alias_table(registry: DataFrame) -> DataFrame:
    """J1: registry → (alias, entity_id, insertion_idx) with dict collision
    semantics. insertion_idx = registry.insertion_idx * 8 + slot, which is
    order-isomorphic to the reference's global assignment counter (≤ 6 alias
    slots per entity), so last-wins / first-key-order behave identically."""
    low = F.lower
    slots = F.array(
        F.when(F.col("entity_type") == "employee", low("full_name")),
        F.when(F.col("entity_type") == "employee", low("first_name")),
        F.when(F.col("entity_type") == "employee", low("last_name")),
        F.when(F.col("entity_type") == "employee", F.concat(F.lit("mr. "), low("last_name"))),
        F.when(F.col("entity_type") == "employee", F.concat(F.lit("ms. "), low("last_name"))),
        F.when(F.col("entity_type") == "project", low("name")),
        F.when(F.col("entity_type") == "project", F.concat(F.lit("project "), low("name"))),
        F.when(F.col("entity_type") == "regulation", low("name")),
        F.when(F.col("entity_type") == "regulation", low("full_name")),
        F.when(F.col("entity_type").isin("product", "policy"), low("name")),
    )
    exploded = (
        registry.select("entity_id", "insertion_idx", F.posexplode(slots).alias("slot", "alias"))
        .filter(F.col("alias").isNotNull())
    )
    raw = exploded.select(
        "alias",
        "entity_id",
        (F.col("insertion_idx") * 16 + F.col("slot")).alias("insertion_idx"),
    )
    # last-wins value, first-insertion key order (see module docstring)
    return raw.groupBy("alias").agg(
        F.max_by("entity_id", "insertion_idx").alias("entity_id"),
        F.min("insertion_idx").alias("insertion_idx"),
    )


def link_exact(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """J2: broadcast hash join on the normalized mention text. Adds columns
    norm, resolved_id (null if unmatched)."""
    m = mentions.withColumn("norm", F.lower(F.trim(F.col("text"))))
    a = aliases.select(F.col("alias").alias("norm"), F.col("entity_id").alias("exact_id"))
    return m.join(F.broadcast(a), "norm", "left")


def collect_alias_rows(aliases: DataFrame) -> list[tuple[str, str, int]]:
    """The alias table driver-side as [(alias, entity_id, insertion_idx)]."""
    return [tuple(r) for r in aliases.select("alias", "entity_id", "insertion_idx").collect()]


def score_fuzzy(distinct_texts: DataFrame, alias_rows: list[tuple[str, str, int]]) -> DataFrame:
    """J3 scoring: distinct unresolved texts → (norm, fuzzy_id, fuzzy_score).
    ``alias_rows`` is [(alias, entity_id, insertion_idx)] — sorted here by
    insertion_idx to reproduce dict key order."""
    ordered = sorted(alias_rows, key=lambda r: r[2])
    alias_list = [r[0] for r in ordered]
    alias_to_id = {r[0]: r[1] for r in ordered}
    spark = distinct_texts.sparkSession
    bc = spark.sparkContext.broadcast((alias_list, alias_to_id))

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names, to_id = bc.value
        for pdf in batches:
            ids, scores = [], []
            for t in pdf["norm"]:
                best, score = best_alias_match(t, names, RESOLUTION_THRESHOLD)
                ids.append(to_id[best] if best is not None else None)
                scores.append(round(score, 2) if best is not None else None)
            yield pd.DataFrame(
                {
                    "norm": pdf["norm"],
                    "fuzzy_id": pd.array(ids, dtype="string"),
                    "fuzzy_score": pd.array(scores, dtype="float64"),
                }
            )

    return distinct_texts.mapInPandas(_score, "norm string, fuzzy_id string, fuzzy_score double")


def _ext_id_udf():
    # created lazily: pandas_udf type parsing needs an active SparkSession
    def f(norm: pd.Series, label: pd.Series) -> pd.Series:
        return pd.Series([external_entity_id(n, l) for n, l in zip(norm, label)])

    return F.pandas_udf(f, "string")


#: Above this many distinct UNRESOLVED norms, the fuzzy-score / external
#: side-outputs stop being broadcast back onto the mention relation and the
#: join-backs switch to shuffle (sort-merge) joins on ``norm``. The
#: gazetteer RuleNER bounds distinct norms by the dictionary, so every
#: current fixture sits far below this — but the production path is
#: open-vocabulary NER over web text, where distinct unresolved surface
#: forms grow with the corpus and broadcasting that relation OOMs the
#: driver at 100 TB. ~500k rows × ~100 B/row ≈ the session's 64 MB
#: autoBroadcastJoinThreshold. Callers override it per call with
#: ``resolve_mentions(broadcast_norm_limit=...)``.
NORM_BROADCAST_LIMIT = 500_000


def resolve_mentions(
    mentions_raw: DataFrame,
    aliases: DataFrame,
    alias_rows: list[tuple[str, str, int]] | None = None,
    broadcast_norm_limit: int = NORM_BROADCAST_LIMIT,
) -> tuple[DataFrame, DataFrame]:
    """Full J2→J3→A1 resolution. Returns (mentions_resolved, external_nodes).

    ``alias_rows`` lets callers avoid a re-collect when they already hold the
    alias table driver-side; otherwise it is collected here (broadcast-sized
    by construction — it is the reference's in-memory dict).

    ``broadcast_norm_limit`` guards the join-back strategy for the
    distinct-norm side outputs (see NORM_BROADCAST_LIMIT); pass 0 to force
    shuffle joins (used by tests and open-vocabulary corpora).

    The three relations cached along the way (the exact-join result, the
    per-norm summary and the fuzzy scores) are held by the returned
    mentions: ``cache.release(mentions)`` once they are materialized."""
    if alias_rows is None:
        alias_rows = collect_alias_rows(aliases)

    # Single-pass resolution: the exact-join result `m` is persisted once;
    # the fuzzy scores and external-entity table are BROADCAST-SIZED side
    # outputs derived from ONE aggregation over `m`, and the final resolved
    # relation is ONE projection of `m` with two broadcast joins — no 3-way
    # union, no repeated full-width serialization of the mention relation.
    # Semantics are exactly the reference's exact → fuzzy → external cascade
    # (entity_extractor.py:196-263) because the cascade is per-TEXT, not
    # per-row: a norm's resolution, mention count, and first-arrival
    # attribution are all properties of the norm, so the distinct-unresolved
    # set AND the A1 frequency gate come out of the same groupBy(norm) —
    # the big relation is touched exactly twice (this aggregation + the
    # final projection), down from four passes in the naive plan.
    #
    # The persist MUST be materialized eagerly (count) before the broadcast
    # subtrees execute: AQE materializes them concurrently, and racing
    # threads over a COLD cache each recompute the whole upstream UDF chain
    # (observed: extraction+NER ran 3x, inverting the scaling curve).
    m = link_exact(mentions_raw, aliases).persist()

    # per-norm summary: broadcast-sized (distinct surface texts). Persisted
    # AND eagerly materialized: its two consumers (fuzzy scoring, the
    # external gate) are broadcast subtrees that AQE materializes
    # CONCURRENTLY in the final job; over a cold cache each racing thread
    # re-runs the groupBy over the full mention relation. The aggregation
    # reads `m` WHILE caching it (r7: the eager m.count() that used to run
    # first was a whole extra pass — one action now populates both caches
    # and returns the broadcast-guard count, three driver round trips
    # folded into one).
    #
    # First-arrival attribution uses min_by / a 2-field struct min, NOT
    # min(struct(url, mention_idx, label)): a 3-field struct Min aggregate
    # drops out of codegen into interpreted per-row ordering and collapses
    # under allocation/GC contention at high core counts (measured on the
    # 29M-row scaling relation at local[24]: 14.9-65.8 s for the struct form
    # vs 2.7 s for this one — and the struct form was SLOWER at 24 cores
    # than at 6, inverting the scaling curve). (url, mention_idx) is the
    # unique global arrival key (schemas.py), so min_by over it is exactly
    # the struct min's first row — label never tie-breaks.
    arrival = F.struct("url", "mention_idx")
    per_norm = m.groupBy("norm").agg(
        F.count(F.lit(1)).alias("mention_count"),
        F.min(arrival).alias("first_arrival"),
        F.min_by("label", arrival).alias("first_label"),
        F.first("exact_id").alias("norm_exact_id"),  # constant per norm
    ).persist()

    # Size guard for the norm-keyed side outputs: `scored` and `ext` have at
    # most one row per distinct UNRESOLVED norm. With the gazetteer NER that
    # set is dictionary-bounded and the broadcast join-backs below are the
    # right plan (zero shuffle on the mention relation). With open-vocabulary
    # NER (the production spaCy path, entity_extractor.py:169-190) distinct
    # unresolved surface forms are corpus-proportional — broadcasting them
    # would OOM the driver at 100 TB — so above the limit the join-backs
    # become sort-merge joins on norm. This ONE action is the single eager
    # materialization of the whole resolve: it computes the upstream chain
    # once (caching `m` en route), caches `per_norm`, and returns the
    # unresolved-norm count for the guard.
    unresolved = per_norm.filter(F.col("norm_exact_id").isNull())
    n_unresolved = per_norm.agg(
        F.count(F.when(F.col("norm_exact_id").isNull(), 1)).alias("n")
    ).collect()[0]["n"]
    norms_fit_broadcast = n_unresolved <= broadcast_norm_limit

    def _dim(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if norms_fit_broadcast else df.hint("merge")

    # persisted for the same reason: `ext` and the final projection both
    # consume it concurrently; without the cache the difflib scoring pass
    # runs twice (ADVICE r2)
    scored = score_fuzzy(unresolved.select("norm"), alias_rows).persist()

    # A1: external-entity gate over norms that miss exact AND fuzzy
    ext = (
        unresolved
        .join(_dim(scored.filter(F.col("fuzzy_id").isNull()).select("norm")), "norm")
        .filter(F.col("mention_count") >= EXTERNAL_ENTITY_THRESHOLD)
        .select(
            "norm",
            _ext_id_udf()(F.col("norm"), F.col("first_label")).alias("ext_id"),
            F.col("first_arrival.url").alias("first_doc"),
        )
    )

    resolved = (
        m.join(_dim(scored), "norm", "left")
        .join(_dim(ext.select("norm", "ext_id")), "norm", "left")
        .withColumn("resolved_id", F.coalesce("exact_id", "fuzzy_id", "ext_id"))
        .filter(F.col("resolved_id").isNotNull())
        .select(
            *mentions_raw.columns,
            "resolved_id",
            F.when(F.col("exact_id").isNotNull(), F.lit("exact_match"))
            .when(F.col("fuzzy_id").isNotNull(), F.lit("fuzzy_match"))
            .otherwise(F.lit("external_entity"))
            .alias("resolution_method"),
            F.when(F.col("exact_id").isNull() & F.col("fuzzy_id").isNull(), F.lit("external"))
            .otherwise(F.lit("canonical"))
            .alias("resolution_type"),
            F.when(F.col("exact_id").isNotNull(), F.lit(EXACT_CONFIDENCE))
            .when(F.col("fuzzy_id").isNotNull(), F.col("fuzzy_score"))
            .otherwise(F.lit(EXTERNAL_CONFIDENCE))
            .alias("confidence"),
        )
    )

    external_nodes = external_entity_nodes(
        ext.select(F.col("ext_id").alias("id"), F.col("norm").alias("name"))
    )
    return hold(resolved, m, per_norm, scored), external_nodes


def external_entity_nodes(ids: DataFrame) -> DataFrame:
    """(id, name) → A1 ExternalEntity rows of the NODES table."""
    return ids.select(
        "id",
        "name",
        F.lit("ExternalEntity").alias("node_type"),
        F.lit(EXTERNAL_CONFIDENCE).alias("confidence"),
        F.lit("phase7_extraction").alias("source"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
