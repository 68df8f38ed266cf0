"""Explicit skew handling for head entities (SURVEY.md §4 item 2, §7.4
risk 7).

At web scale a handful of entities ("AWS"/"GDPR" analogues) dominate the
mention stream; any shuffle keyed on entity id convoys on their partitions.
AQE skew-join splitting (on in the session defaults) handles most cases at
runtime; these utilities are the explicit, deterministic pattern for the
places planners can't see — e.g. joining a mention-sized fact table against
a medium dimension that is too big to broadcast.

``salted_equi_join``: the large side's rows get a deterministic salt in
[0, n) derived from xxhash64 of the whole row's key + a spread column; the
small side is exploded over all n salts; the join keys on (key, salt), so a
hot key's rows spread across n partitions. Exactly equivalent to the plain
equi-join (every large row still meets every matching small row exactly
once).

``spread``: the one partitioning rule for every Python-UDF input (SURVEY.md
§4 explicit item 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` hash-partitioned on ``keys`` (round-robin when none are given)
    into one partition per core, so a Python-UDF stage's load stays even
    however the input's crawl order or scan splits cluster it.

    One partition per core, not more: with one fused Arrow pass per
    document, per-task fixed costs (deserialization, the Arrow round trip,
    scheduling) outweigh the balance finer partitions buy on these
    corpora. r7 measured 4× the cores costing about 1 s on the flagship
    (4.30 s vs 3.32 s min-of-4 at sf1.0, about as much at sf0.1). The keys
    are hashed directly: reducing them to n values first (``pmod`` of a
    hash) and hashing those again collides and leaves about a third of
    the partitions empty."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def salted_equi_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    spread_col: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join ``large`` ⋈ ``small`` on ``key`` with the hot-key salting
    pattern. ``spread_col`` (default: a stable hash of all large columns)
    decides which salt bucket each large row lands in — deterministic, so
    results are reproducible run to run.

    Only ``how`` in {'inner', 'left'} is accepted: those are exactly
    equivalent to the plain equi-join (every large row meets every matching
    small row once; an unmatched large row survives a left join once because
    it carries exactly one salt). right/full/semi/anti are NOT equivalent —
    the salt-exploded small side would emit each unmatched small row
    ``n_salts`` times — so they are rejected rather than silently wrong."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_equi_join supports how='inner'|'left' (got {how!r}); "
            "other join types are not equivalent under small-side salt explosion"
        )
    by = F.col(spread_col) if spread_col else F.concat_ws("\x00", *[F.col(c).cast("string") for c in large.columns])
    l_salted = large.withColumn("_salt", F.pmod(F.xxhash64(by), F.lit(n_salts)).cast("int"))
    s_exploded = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = l_salted.join(s_exploded, [key, "_salt"], how)
    return out.drop("_salt")


def top_heavy_keys(df: DataFrame, key: str, threshold: int) -> DataFrame:
    """Diagnostic: keys whose frequency exceeds ``threshold`` (candidates
    for salting / separate broadcast handling)."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= threshold)
        .orderBy(F.desc("cnt"))
    )
