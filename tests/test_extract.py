"""M1: byte-identical HTML→text extraction (north-rule per-row invariant)."""

from __future__ import annotations

import string

from hypothesis import given, settings, strategies as st

from ai_knowledge_graph_builder_spark.functions.html import extract_text, render_html, word_count
from ai_knowledge_graph_builder_spark.sources.corpus import generate_corpus

# characters the corpus generator can emit in document text
_TEXT_ALPHABET = string.ascii_letters + string.digits + " .,:;!?()&<>'\"-\n"


def test_roundtrip_simple():
    text = "Hello World.\nSecond paragraph with <angle> & ampersand."
    assert extract_text(render_html("t", text)) == text


def test_roundtrip_empty_paragraphs():
    text = "a\n\nb\n"
    assert extract_text(render_html("t", text)) == text


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=_TEXT_ALPHABET, max_size=400))
def test_roundtrip_property(text):
    assert extract_text(render_html("title", text)) == text


def test_extract_drops_head_script_style():
    html = (
        b"<html><head><title>T</title><style>p{}</style></head>"
        b"<body><script>var x=1;</script><p>keep</p><!-- c --></body></html>"
    )
    assert extract_text(html) == "keep"


def test_corpus_pages_byte_identity(corpus):
    """Every synthesized page round-trips byte-for-byte (plain Python path)."""
    for row in corpus["pages"].itertuples(index=False):
        assert extract_text(row.html) == row.text, row.url


def test_word_count_python_semantics():
    # runs of whitespace, leading/trailing — Python str.split() semantics
    assert word_count("  a  b\t\nc  ") == 3
    assert word_count("") == 0
    assert word_count("\n\n") == 0


def test_spark_extraction_matches_oracle_column(spark, corpus):
    """The mapInPandas path reproduces the text column byte-identically
    (verify_extraction returns zero mismatch rows)."""
    from ai_knowledge_graph_builder_spark.operators.extraction import verify_extraction

    pages = spark.createDataFrame(corpus["pages"])
    assert verify_extraction(pages).count() == 0


def test_fused_extract_detect_matches_unfused(spark, corpus):
    """extract_and_detect (one Arrow pass) emits exactly the mentions of
    extract_documents → detect_mentions (modulo doc_type, which the fused
    path has no metadata join for)."""
    from ai_knowledge_graph_builder_spark.operators.extraction import extract_documents
    from ai_knowledge_graph_builder_spark.operators.mentions import (
        detect_mentions,
        extract_and_detect,
    )

    pages = spark.createDataFrame(corpus["pages"])
    cols = ["url", "mention_idx", "text", "label", "start", "end"]
    unfused = {tuple(r[c] for c in cols)
               for r in detect_mentions(extract_documents(pages), None).collect()}
    fused = {tuple(r[c] for c in cols)
             for r in extract_and_detect(pages, None).collect()}
    assert fused == unfused and len(fused) > 0


def test_synthesized_fused_matches_load_pages_chain(spark):
    """synthesize_extract_and_detect (r7: synthesis + extraction + NER in
    one Arrow pass, html never crosses the boundary) emits exactly the
    mentions of load_pages → extract_and_detect over the same documents
    table, gazetteer and all."""
    from ai_knowledge_graph_builder_spark.driver_queries import (
        flagship_gazetteer,
        load_pages,
    )
    from ai_knowledge_graph_builder_spark.operators.mentions import (
        extract_and_detect,
        synthesize_extract_and_detect,
    )

    sf_dir = "/root/testdata/sf0.001"
    gaz = flagship_gazetteer()
    pages = load_pages(spark, sf_dir)
    cols = ["url", "doc_type", "mention_idx", "text", "label", "start", "end"]
    want = {tuple(r[c] for c in cols)
            for r in extract_and_detect(pages, gaz, presalted=True).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {tuple(r[c] for c in cols)
           for r in synthesize_extract_and_detect(docs, gaz).collect()}
    assert got == want and len(got) > 0


def test_mention_adapters_agree_on_label_filter_and_empty_pages(spark):
    """The three mention entry points share one kernel. With a gazetteer
    label outside NER_LABELS, the filtered span still takes its
    mention_idx slot, and a whitespace-only page emits nothing — through
    every adapter alike."""
    from ai_knowledge_graph_builder_spark.operators.extraction import extract_documents
    from ai_knowledge_graph_builder_spark.operators.mentions import (
        detect_mentions,
        extract_and_detect,
        synthesize_extract_and_detect,
    )

    gaz = [("alpha", "MISC"), ("beta", "ORG")]
    texts = ["alpha beta gamma", "   "]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    pages = spark.createDataFrame(
        [(f"doc://{i:08d}", render_html(f"doc {i}", t)) for i, t in enumerate(texts)],
        "url string, html binary",
    )
    runs = [
        detect_mentions(extract_documents(pages), gaz),
        extract_and_detect(pages, gaz),
        synthesize_extract_and_detect(docs, gaz),
    ]
    want = [("doc://00000000", None, 1, "beta", "ORG", 6, 10)]
    for df in runs:
        assert sorted(tuple(r) for r in df.collect()) == want
