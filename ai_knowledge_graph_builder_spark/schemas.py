"""Fixed StructType schemas for every table in the pipeline (SURVEY.md §1).

The reference is schemaless-at-runtime (Python dicts / Neo4j property bags /
JSON — e.g. mention dicts at entity_extractor.py:177-186, triple JSON at
entity_extractor.py:474-492). Here every stage has one explicit schema,
declared once and enforced on read/write.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Primary input: Common-Crawl-style pages (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),  # oracle column (byte-identity)
        T.StructField("lang", T.StringType(), True),
    ]
)

# entity registry (entities.json analog, entity_extractor.py:110-151)
REGISTRY = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),  # employee/project/...
        T.StructField("name", T.StringType(), False),
        T.StructField("full_name", T.StringType(), True),  # employees + regulations
        T.StructField("first_name", T.StringType(), True),
        T.StructField("last_name", T.StringType(), True),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("insertion_idx", T.LongType(), False),  # registry order
    ]
)

# raw NER mentions (entity_extractor.py:177-186)
MENTIONS_RAW = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("doc_type", T.StringType(), True),
        T.StructField("mention_idx", T.IntegerType(), False),  # span order in doc;
        # (url, mention_idx) is the global arrival order used for every
        # "first mention wins" semantic (A1/D1 — SURVEY.md §7.4 risk 2)
        T.StructField("text", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
    ]
)

# graph nodes (typed Neo4j nodes → one DataFrame; neo4j_loader.py:100-145)
NODES = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("node_type", T.StringType(), False),  # Employee/Project/...
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# graph edges (typed Neo4j relationships; neo4j_loader.py:161-206,
# entity_extractor.py:405-415)
EDGES = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("predicate", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("flagged", T.BooleanType(), False),
        T.StructField("inferred", T.BooleanType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# chunks (embedding_generator.py:219-260)
CHUNKS = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("chunk_index", T.IntegerType(), False),
        T.StructField("start_word", T.IntegerType(), False),
        T.StructField("end_word", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("word_count", T.IntegerType(), False),
    ]
)

# embeddings (embedding_generator.py:287-305; 384-d MiniLM analog)
EMBEDDINGS = T.StructType(
    [
        T.StructField("item_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # triple|chunk
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
    ]
)
