"""U1: NER mention detection as an Arrow-vectorized flat-map.

Reference: driver loop ``nlp(text)`` per document, keeping spans labelled
PERSON/ORG/PRODUCT/GPE/LAW (entity_extractor.py:154-194). Here: one
``mapInPandas`` over documents; the detector (RuleNER, or spaCy when
installed) is constructed once per Python worker and reused across Arrow
batches — the per-executor model-singleton pattern (SURVEY.md §7.4 risk 5).

One kernel, ``_mention_frames``, runs the detector over ``(url, doc_type,
text)`` rows and yields one MENTION_SCHEMA frame per Arrow batch. The three
public entry points are source adapters around it that differ only in what
crosses the JVM↔Python boundary: extracted text (``detect_mentions``), page
html (``extract_and_detect``) or the pre-render corpus text
(``synthesize_extract_and_detect``).

Long pages are NOT chunked before NER here because the rule detector is
O(len); a spaCy-backed detector would wrap itself with
``functions.chunking.chunk_text`` and offset-shift the spans (north rule
"chunked mention detection").
"""

from __future__ import annotations

import functools
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.html import extract_text, render_html
from ..functions.ner import NER_LABELS, RuleNER

MENTION_SCHEMA = (
    "url string, doc_type string, mention_idx int, text string, "
    "label string, start int, end int"
)
_MENTION_DTYPES = {
    "url": "string", "doc_type": "string", "mention_idx": "int32", "text": "string",
    "label": "string", "start": "int32", "end": "int32",
}


@functools.cache  # one detector per Python worker and gazetteer tuple
def _get_detector(gazetteer: tuple[tuple[str, str], ...] | None) -> RuleNER:
    return RuleNER(list(gazetteer) if gazetteer else None)


def _mention_frames(
    batches: Iterable[Iterable[tuple[str, str | None, str]]],
    gazetteer: tuple[tuple[str, str], ...] | None,
) -> Iterator[pd.DataFrame]:
    """The mention kernel: per batch of (url, doc_type, text) rows, one
    MENTION_SCHEMA frame of the detector's spans with the NER label filter
    (P2 — entity_extractor.py:176) applied. ``mention_idx`` indexes ALL of
    a document's detector spans, before the label filter (plans/oracle.py)."""
    detector = _get_detector(gazetteer)
    for rows in batches:
        found = [
            (url, doc_type, mi, m.text, m.label, m.start, m.end)
            for url, doc_type, text in rows
            for mi, m in enumerate(detector(text))
            if m.label in NER_LABELS
        ]
        yield pd.DataFrame(found, columns=list(_MENTION_DTYPES)).astype(_MENTION_DTYPES)


def _page_rows(pages: Iterable[tuple[str, bytes]]) -> Iterator[tuple[str, None, str]]:
    """(url, html) → kernel rows: extracted text, empty pages dropped (the
    P1 word_count > 0 filter)."""
    for url, html in pages:
        text = extract_text(html)
        if len(text.split()) > 0:
            yield url, None, text


def _salted(src: DataFrame, key: str, presalted: bool) -> DataFrame:
    if presalted:
        return src
    n = 4 * src.sparkSession.sparkContext.defaultParallelism
    return src.repartition(n, F.pmod(F.xxhash64(key), F.lit(n)))


def detect_mentions(
    documents: DataFrame,
    gazetteer: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """documents → mentions_raw (MENTIONS_RAW schema). Applies the
    word_count > 0 filter (P1 — entity_extractor.py:161) and the NER label
    filter (P2 — entity_extractor.py:176)."""
    gaz = tuple(gazetteer) if gazetteer else None
    src = documents.filter(F.col("word_count") > 0).select("url", "doc_type", "extracted_text")

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = (zip(p["url"], p["doc_type"], p["extracted_text"]) for p in batches)
        return _mention_frames(rows, gaz)

    return src.mapInPandas(_run, MENTION_SCHEMA)


def extract_and_detect(
    pages: DataFrame,
    gazetteer: list[tuple[str, str]] | None = None,
    presalted: bool = False,
) -> DataFrame:
    """Fused S3-S5 + U1: pages(url, html) → mentions_raw in ONE Arrow pass.

    Semantics are exactly ``extract_documents → detect_mentions`` (pytest
    asserts set equality), but the heavy payload crosses the JVM↔Python
    boundary ONCE: the unfused chain ships html into Python, the extracted
    text back to the JVM, then the same text into Python again — 3× the
    byte traffic on the memory bus, which is the binding constraint of the
    scaling criterion (BENCH.md control probes). Use the unfused pair when
    the documents table must materialize (checkpointed stage runs); use this
    when mentions are the only consumer (streaming micro-batches, slice
    benchmarks, single-shot jobs)."""
    gaz = tuple(gazetteer) if gazetteer else None
    src = _salted(pages.select("url", "html"), "url", presalted)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _mention_frames((_page_rows(zip(p["url"], p["html"])) for p in batches), gaz)

    return src.mapInPandas(_run, MENTION_SCHEMA)


def synthesize_extract_and_detect(
    docs: DataFrame,
    gazetteer: list[tuple[str, str]] | None = None,
    presalted: bool = False,
) -> DataFrame:
    """Fused corpus synthesis + S3-S5 + U1: documents(doc_id, text) →
    mentions_raw in ONE Arrow pass.

    Semantics are exactly ``load_pages → extract_and_detect`` (pytest
    asserts set equality): url = doc://%08d, html = render_html("doc %d",
    text), text' = extract_text(html), then the P1 wc>0 filter and NER.
    The round-6 flagship ran the synthesis and the extraction as TWO
    mapInPandas nodes in the same stage, so the rendered html payload —
    the widest column in the pipeline — crossed Python→JVM→Python between
    them for no reason; here it is born and consumed inside one Python
    worker pass and the only boundary traffic is (doc_id, text) in and the
    mention rows out. Use ``load_pages`` + ``extract_and_detect`` when the
    pages relation itself must materialize."""
    gaz = tuple(gazetteer) if gazetteer else None
    src = _salted(docs.select("doc_id", "text"), "doc_id", presalted)

    def _pages(pdf: pd.DataFrame) -> Iterator[tuple[str, bytes]]:
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            i = int(doc_id)
            yield f"doc://{i:08d}", render_html(f"doc {i}", text)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _mention_frames((_page_rows(_pages(p)) for p in batches), gaz)

    return src.mapInPandas(_run, MENTION_SCHEMA)
