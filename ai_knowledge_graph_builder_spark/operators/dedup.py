"""Training-data deduplication operators (exact, MinHash-LSH, n-gram
Jaccard; SimHash lives in driver_queries as a portable query, embedding
near-dup is operators/similarity.lsh_cosine_join).

One array kernel serves both near-dup paths. ``shingle_arrays`` splits each
text once and keeps its distinct token n-grams as an in-row array. A
candidate generator proposes (a, b) pairs: LSH bands over in-row md5
minhashes, or the lossless shared-shingle self-join. ``_verified_pairs``
then scores every candidate by ``array_intersect`` over the two arrays, so
only candidate pairs pay verification. All hashing is md5-based (portable
across Spark/DuckDB/Python) and everything runs JVM-side with higher-order
functions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..cache import hold, release  # noqa: F401  (dedup.release stays public)


def exact_dedup_ids(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(hash, keep_id, dup_count): exact dedup by full-text hash, keeping the
    smallest id (deterministic first-wins)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def _shingle_array_expr(words_col: str, n: int):
    """The token n-gram array over an already-split words column — the ONE
    definition of a shingle (mirrored by the DuckDB oracles). The lambda
    reads only the words column and its index: a split inside it would run
    again for every element, O(words²) per text."""
    words = F.col(words_col)
    idxs = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    return F.when(
        F.size(words) >= n,
        F.transform(idxs, lambda i: F.concat_ws(" ", *[F.element_at(words, i + j + 1) for j in range(n)])),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def _seed_md5(i: int, shingle_col):
    """The minhash family member i — md5(str(i) || ':' || shingle). ONE
    definition: the DuckDB oracle and every Spark shape must agree on it
    byte-for-byte or LSH candidates silently diverge from signatures."""
    return F.md5(F.concat_ws(":", F.lit(str(i)), shingle_col))


def token_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle): distinct token n-grams, built JVM-side. Per-id dedup
    happens IN THE ROW (array_distinct via shingle_arrays) before the
    explode — the r6 form exploded first and paid a global DISTINCT
    shuffle for a per-id property. PRECONDITION (all dedup operators):
    ``id_col`` is unique per input row — ids are document keys by
    construction everywhere in this engine; a caller with duplicate-id
    rows must pre-aggregate (concat or dropDuplicates) first, or shingle
    sets / Jaccard counts double."""
    return shingle_arrays(df, id_col, text_col, n).select(
        "id", F.explode("sh").alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, tau: float, n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shared-shingle inverted
    index: any pair with jaccard > 0 shares at least one shingle, so the
    equi-join on shingle is a lossless candidate generator (recall 1.0) and
    every candidate is verified exactly — the exact counterpart of
    ``minhash_dedup_pairs``. Candidate volume is Σ_s df(s)², so at corpus
    scale hot shingles make this quadratic; prefer the minhash/LSH path
    there (or bound df with a stop-shingle cutoff) and use this as the
    verifier on samples.

    Caching contract: the shingle arrays are persisted because the returned
    lazy plan reads them three times (the exploded candidate join, then
    both sides of the verify). The persisted handle rides on the result
    (``cache.hold``) — call ``dedup.release(result)`` after materializing
    to unpersist deterministically (``spark.catalog.clearCache()`` also
    works; bench.py clears between tries)."""
    base = shingle_arrays(df, id_col, text_col, n).persist()
    sh = base.select("id", F.explode("sh").alias("shingle"))
    cand = (
        sh.select(F.col("id").alias("a"), "shingle")
        .join(sh.select(F.col("id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return hold(_verified_pairs(cand, base, tau), base)


def lsh_candidate_pairs(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Band the signature vector; candidates share any (band, band_sig).

    Banding over the wide signature row is a pure projection (explode of a
    literal-built array) — zero extra shuffle; only the candidate self-join
    exchanges, keyed on (band, band_sig) so buckets stay bounded."""
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|",
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)],
            ).alias("band_sig"),
        )
        for b in range(bands)
    ])
    sigs = signatures.select("id", F.explode(band_structs).alias("bs")).select(
        "id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )
    a = sigs.select(F.col("id").alias("a"), "band", "band_sig")
    b = sigs.select(F.col("id").alias("b"), "band", "band_sig")
    return a.join(b, ["band", "band_sig"]).filter(F.col("a") < F.col("b")).select("a", "b").distinct()


def _verified_pairs(cand: DataFrame, base: DataFrame, tau: float) -> DataFrame:
    """(a, b, jaccard) for each candidate pair whose exact Jaccard is >= tau:
    |sh_a ∩ sh_b| / (|sh_a| + |sh_b| − |sh_a ∩ sh_b|) over the two rows'
    distinct shingle arrays in ``base`` (id, sh) — the one verify both
    candidate generators share."""
    j = (
        cand.join(base.select(F.col("id").alias("a"), F.col("sh").alias("sh_a")), "a")
        .join(base.select(F.col("id").alias("b"), F.col("sh").alias("sh_b")), "b")
    )
    jm = j.select(
        "a",
        "b",
        F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("common"),
        F.size("sh_a").cast("long").alias("na"),
        F.size("sh_b").cast("long").alias("nb"),
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return jm.select("a", "b", jac.alias("jaccard")).filter(F.col("jaccard") >= tau)


def shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, sh): the DISTINCT token n-gram set of each row as an in-row
    array (``_shingle_array_expr`` + ``array_distinct``) — dedup is a
    per-id property, so no row ever needs to leave its task for it. The
    split runs once per row, in its own projection."""
    words = df.select(F.col(id_col).alias("id"), F.split(F.trim(F.col(text_col)), r"\s+").alias("w"))
    return words.select("id", F.array_distinct(_shingle_array_expr("w", n)).alias("sh"))


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tau: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs with exact Jaccard >= tau among MinHash-LSH
    candidates (shingle → minhash → band → bucket-join → verify).

    r7 shape — everything per-document happens IN THE ROW: the distinct
    shingle set is an ``array_distinct`` (no global DISTINCT shuffle), all
    k minhashes are ``array_min(transform(...))`` projections over it (no
    groupBy at all — the r5 form still shuffled one signature row per doc),
    and ``_verified_pairs`` intersects the two candidates' shingle arrays.
    The only exchanges left are the (band, band_sig) candidate self-join
    and the two candidate→array attach joins, all keyed and AQE-skew-safe;
    candidate pairs alone pay verification.

    Same caching contract as ``ngram_jaccard_pairs``: the persisted shingle
    handle rides on the result — ``dedup.release(result)`` after
    materializing."""
    base = shingle_arrays(df, id_col, text_col).persist()

    # NOTE: a default-arg lambda (``lambda x, _i=i``) must NOT be used
    # here — pyspark treats any 2-parameter transform lambda as
    # (element, index) and would bind the ARRAY INDEX to the seed
    def _member(i: int):
        return lambda x: _seed_md5(i, x)

    mins = [
        F.array_min(F.transform("sh", _member(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = base.select("id", *mins)
    cand = lsh_candidate_pairs(sig, bands, num_hashes // bands)
    return hold(_verified_pairs(cand, base, tau), base)
