"""S3-S5/U6: pages → documents via deterministic text extraction.

Reference: per-file docx/txt/pdf extraction in a driver loop
(neo4j_loader.py:215-241, 243-299). Here: a hash repartition on url, one
partition per core (``skew.spread``: uniform extraction load regardless of
crawl-order clustering — north rule), followed by one Arrow-batched
``mapInPandas`` running the pure ``extract_text`` kernel. Word counts use
Python ``str.split()`` inside the UDF — exact reference semantics
(SURVEY.md §7.4 risk 4).

Column pruning matters at 100 TB: the UDF receives only (url, html); document
metadata (doc_type, confidence, contradictions) is joined afterwards from the
small broadcast ``doc_meta`` side so the heavy binary column never rides
through a shuffle after extraction.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.html import extract_text
from .skew import spread


def extract_documents(
    pages: DataFrame,
    doc_meta: DataFrame | None = None,
    presalted: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → documents(url, doc_type,
    source, extracted_text, word_count, confidence, has_contradictions).

    The (url, html) input is hash-partitioned on url first, one partition
    per core (``skew.spread``). ``presalted=True`` skips that for inputs
    that are ALREADY spread (``driver_queries.load_pages`` spreads its
    narrow pre-render text): the repartition is a full shuffle of the html
    payload — the single largest memory-bus cost of the extraction phase —
    and pure waste when the input needs no rebalancing."""
    src = pages.select("url", "html")
    if not presalted:
        src = spread(src, "url")

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = [extract_text(h) for h in pdf["html"]]
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "extracted_text": texts,
                    "word_count": pd.array([len(t.split()) for t in texts], dtype="int32"),
                }
            )

    docs = src.mapInPandas(_extract, "url string, extracted_text string, word_count int")

    if doc_meta is not None:
        meta = doc_meta.select(
            "url",
            "doc_type",
            F.col("confidence_alignment").alias("confidence"),
            (F.size(F.coalesce(F.col("contradictions"), F.array())) > 0).alias("has_contradictions"),
        )
        # doc_meta is per-document metadata — tiny relative to page bytes;
        # broadcast so the documents side never shuffles (J6 analog,
        # neo4j_loader.py:246-256)
        docs = docs.join(F.broadcast(meta), "url", "left")
    else:
        docs = (
            docs.withColumn("doc_type", F.lit(None).cast("string"))
            .withColumn("confidence", F.lit(1.0))
            .withColumn("has_contradictions", F.lit(False))
        )
    return docs


def verify_extraction(pages: DataFrame) -> DataFrame:
    """Byte-identity check (north rule): rows where extract_text(html) differs
    from the oracle ``text`` column. Must be empty."""
    docs = extract_documents(pages)
    return (
        pages.select("url", "text")
        .join(docs.select("url", "extracted_text"), "url")
        .filter(~F.col("text").eqNullSafe(F.col("extracted_text")))
    )
