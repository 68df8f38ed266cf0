"""Training-data deduplication operators (exact, MinHash-LSH, n-gram
Jaccard; SimHash lives in driver_queries as a portable query, embedding
near-dup is operators/similarity.lsh_cosine_join).

Both near-dup operators are one self-join each. ``shingle_arrays`` splits
each text once and keeps its distinct token n-grams as an in-row array; the
operator explodes it ONCE (by shingle, or by LSH band signature) and joins
that frame with itself. Both join sides read one shuffle (a
``ReusedExchange``), and every pair is verified in the joined row, so
nothing is cached and there is no candidate relation to join back. All
hashing is md5-based (portable across Spark/DuckDB/Python) and everything
runs JVM-side with higher-order functions — no Python in the hot path.

Explodes are ``_outer`` on purpose: over a lazily computed array a plain
``explode`` makes Spark infer a ``size(arr) > 0`` filter and push it into
the scan, inlining the whole shingle transform (a split in its lambda, and
every md5 pass) into the filter. The arrays are never empty, so the rows
are the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# the operators cache nothing; ``dedup.release`` stays public for callers
# that release every result they materialize
from ..cache import release  # noqa: F401


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
        "id", F.explode_outer("sh").alias("shingle")
    )


def _jaccard(common, na, nb):
    """|a ∩ b| / (|a| + |b| − |a ∩ b|) in long arithmetic — the one formula
    both operators and the DuckDB oracles compute, bit for bit."""
    return common / (na + nb - common)


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, tau: float, n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shared-shingle inverted
    index: any pair with jaccard > 0 shares at least one shingle, so the
    self-join of the exploded (id, n, shingle) frame on shingle is lossless
    (recall 1.0), and counting a pair's joined rows IS its intersection —
    the exact counterpart of ``minhash_dedup_pairs``. Both join sides read
    one shuffle; nothing is cached. Joined volume is Σ_s df(s)², so at
    corpus scale hot shingles make this quadratic; prefer the minhash/LSH
    path there (or bound df with a stop-shingle cutoff) and use this as the
    verifier on samples."""
    ex = shingle_arrays(df, id_col, text_col, n).select(
        "id", F.size("sh").cast("long").alias("n"), F.explode_outer("sh").alias("shingle")
    )
    x, y = ex.alias("x"), ex.alias("y").hint("merge")
    pairs = (
        x.join(y, (F.col("x.shingle") == F.col("y.shingle")) & (F.col("x.id") < F.col("y.id")))
        .groupBy(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.col("x.n").alias("na"),
            F.col("y.n").alias("nb"),
        )
        .count()
    )
    jac = _jaccard(F.col("count"), F.col("na"), F.col("nb"))
    return pairs.select("a", "b", jac.alias("jaccard")).filter(F.col("jaccard") >= tau)


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

    Everything per-document happens IN THE ROW: the distinct shingle set is
    an ``array_distinct``, all k minhashes are ``array_min(transform(...))``
    over it, and ``bs`` holds the ``bands`` band signatures. The
    (id, sh, bs) row is exploded by band and self-joined on
    (band, band_sig), both sides reading one shuffle. A pair that shares
    several bands meets once per shared band; it is kept only on the FIRST
    band the two ``bs`` arrays agree on, which replaces a DISTINCT, and its
    Jaccard is ``array_intersect`` over the two joined rows' arrays. So the
    band exchange carries ``bands`` copies of each shingle array — the
    price of verifying without joining candidates back to the arrays.
    Nothing is cached."""

    # NOTE: a default-arg lambda (``lambda x, _i=i``) must NOT be used
    # here — pyspark treats any 2-parameter transform lambda as
    # (element, index) and would bind the ARRAY INDEX to the seed
    def _member(i: int):
        return lambda x: _seed_md5(i, x)

    mins = [F.array_min(F.transform("sh", _member(i))) for i in range(num_hashes)]
    r = num_hashes // bands
    bs = F.array(*[F.concat_ws("|", *mins[b * r:(b + 1) * r]) for b in range(bands)])
    ex = shingle_arrays(df, id_col, text_col).select("id", "sh", bs.alias("bs")).select(
        "id", "sh", "bs", F.posexplode_outer("bs").alias("band", "band_sig")
    )
    x, y = ex.alias("x"), ex.alias("y").hint("merge")
    first_shared = F.array_position(F.zip_with("x.bs", "y.bs", lambda p, q: p == q), True) - 1
    j = x.join(
        y,
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.band_sig") == F.col("y.band_sig"))
        & (F.col("x.id") < F.col("y.id")),
    ).filter(first_shared == F.col("x.band"))
    jac = _jaccard(
        F.size(F.array_intersect("x.sh", "y.sh")).cast("long"),
        F.size("x.sh").cast("long"),
        F.size("y.sh").cast("long"),
    )
    return j.select(F.col("x.id").alias("a"), F.col("y.id").alias("b"), jac.alias("jaccard")).filter(
        F.col("jaccard") >= tau
    )
