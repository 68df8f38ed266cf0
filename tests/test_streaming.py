"""Streaming ingestion: incremental file batches produce exactly the batch
pipeline's mentions; restarts don't re-ingest processed files."""

from __future__ import annotations

from ai_knowledge_graph_builder_spark.operators.extraction import extract_documents
from ai_knowledge_graph_builder_spark.operators.linking import build_alias_table, resolve_mentions
from ai_knowledge_graph_builder_spark.operators.mentions import detect_mentions
from ai_knowledge_graph_builder_spark.streaming.ingest import stream_mentions


def _mention_key(r):
    return (r["url"], r["mention_idx"], r["text"], r["resolved_id"], r["resolution_method"])


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_incremental_stream_matches_batch(spark, corpus, tmp_path):
    # increments must arrive in event-time order: the watermark advanced by
    # batch 1 DROPS older pages as late data (observed:
    # numRowsDroppedByWatermark) — which is the intended re-crawl semantics
    persisted_before = _persisted(spark)
    pages_pd = corpus["pages"].sort_values("warc_ts").reset_index(drop=True)
    registry = spark.createDataFrame(corpus["registry"])
    in_dir, out_dir, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")

    half = len(pages_pd) // 2
    spark.createDataFrame(pages_pd.iloc[:half]).coalesce(1).write.mode("append").parquet(in_dir)

    q = stream_mentions(spark, in_dir, out_dir, ck, registry)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0

    # second increment lands; resumed stream processes ONLY the new files
    spark.createDataFrame(pages_pd.iloc[half:]).coalesce(1).write.mode("append").parquet(in_dir)
    q2 = stream_mentions(spark, in_dir, out_dir, ck, registry)
    q2.awaitTermination(120)

    got = {_mention_key(r) for r in spark.read.parquet(out_dir).collect()}
    assert len(got) > n1
    # each epoch released the caches its linking made: none pile up
    assert _persisted(spark) <= persisted_before

    # batch reference over the full corpus
    docs = extract_documents(spark.createDataFrame(pages_pd))
    raw = detect_mentions(docs, None).persist()
    raw.count()
    batch_mentions, _ = resolve_mentions(raw, build_alias_table(registry))
    want = {_mention_key(r) for r in batch_mentions.collect()}
    # exact/fuzzy resolutions are per-document → identical incrementally.
    # A1 external entities are frequency-gated per BATCH, so external rows
    # may differ between one-shot and split ingestion; compare canonical.
    got_canon = {k for k in got if k[4] in ("exact_match", "fuzzy_match")}
    want_canon = {k for k in want if k[4] in ("exact_match", "fuzzy_match")}
    assert got_canon == want_canon

    # restart with no new files → nothing re-ingested
    q3 = stream_mentions(spark, in_dir, out_dir, ck, registry)
    q3.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == len(got)


def test_stateful_session_stream_matches_batch_fold(spark, tmp_path):
    """applyInPandasWithState sessionizer: closed sessions emit with the
    batch gap semantics (> 1800 s starts a new session), sessions merge
    ACROSS micro-batches, and open sessions flush via event-time timeout
    once the watermark passes. Expected set computed by an independent
    per-user fold."""
    import pandas as pd

    from ai_knowledge_graph_builder_spark.streaming.sessions import stream_sessions

    t0 = pd.Timestamp("2026-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    # user 1: [0, 10] | [41, 50]  (31-min gap splits; 10-min merges)
    # user 2: [5] | [40, 45, 55]  (session spans the chunk boundary: 40/45
    #          land in chunk 1, 55 in chunk 2 — state must merge them)
    # user 3: [0, 30] (exactly 1800 s — must NOT split; batch rule is > 1800)
    rows = [
        (1, 1, t0), (2, 1, t0 + 10 * m), (3, 1, t0 + 41 * m), (4, 1, t0 + 50 * m),
        (5, 2, t0 + 5 * m), (6, 2, t0 + 40 * m), (7, 2, t0 + 45 * m),
        (8, 2, t0 + 55 * m),
        (9, 3, t0), (10, 3, t0 + 30 * m),
    ]
    chunk1 = [r for r in rows if r[2] <= t0 + 45 * m]
    chunk2 = [r for r in rows if r[2] > t0 + 45 * m]

    def write_chunk(chunk, name):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in chunk],
                "ts": [r[2] for r in chunk],
                "user_id": [r[1] for r in chunk],
                "event_type": "e",
                "value": 1.0,
                "props": "{}",
            }
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark reads micros
        pdf.to_parquet(tmp_path / "in" / name)

    (tmp_path / "in").mkdir()
    write_chunk(chunk1, "c1.parquet")
    write_chunk(chunk2, "c2.parquet")

    def drain():
        q = stream_sessions(
            spark,
            str(tmp_path / "in"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            gap_s=1800,
            watermark="10 minutes",
        )
        q.awaitTermination(120)

    drain()
    # sentinel far in the future advances the watermark past every open
    # session's gap horizon → timeouts flush the final sessions
    write_chunk([(99, 999, t0 + pd.Timedelta(hours=12))], "sentinel.parquet")
    expected = {
        (1, 0, 600, 2), (1, 2460, 3000, 2),
        (2, 300, 300, 1), (2, 2400, 3300, 3),
        (3, 0, 1800, 2),
    }
    got: set[tuple] = set()
    for _ in range(3):
        drain()
        out = spark.read.parquet(str(tmp_path / "out")).filter("user_id != 999")
        base = int(t0.timestamp())
        got = {
            (r.user_id, r.session_start_s - base, r.session_end_s - base, r.n_events)
            for r in out.collect()
        }
        if got == expected:
            break
    assert got == expected, got


def test_recrawl_dedup_within_watermark(spark, corpus, tmp_path):
    """Re-crawls of the same url inside the watermark are dropped — both a
    duplicate arriving in the SAME micro-batch epoch and one arriving in a
    later resumed batch (the dedup state survives the restart via the
    checkpoint). The url's mentions must appear exactly once in the sink."""
    import pandas as pd

    pages_pd = corpus["pages"].sort_values("warc_ts").head(8).reset_index(drop=True)
    registry = spark.createDataFrame(corpus["registry"])
    in_dir, out_dir, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")

    url0 = pages_pd.loc[0, "url"]
    dup1 = pages_pd.iloc[[0]].copy()
    dup1["warc_ts"] = dup1["warc_ts"] + pd.Timedelta(minutes=1)
    b1 = pd.concat([pages_pd, dup1], ignore_index=True)
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(in_dir)

    q = stream_mentions(spark, in_dir, out_dir, ck, registry)
    q.awaitTermination(120)
    n0 = spark.read.parquet(out_dir).filter(f"url = '{url0}'").count()
    assert n0 > 0
    # batch reference: the page processed ONCE yields exactly these canonical
    # mentions (A1 external rows are frequency-gated per BATCH, so their
    # count depends on batch composition — same caveat as the test above)
    canon = "resolution_method in ('exact_match', 'fuzzy_match')"
    docs = extract_documents(spark.createDataFrame(pages_pd.iloc[[0]]))
    raw = detect_mentions(docs, None)
    batch_mentions, _ = resolve_mentions(raw, build_alias_table(registry))
    assert (
        spark.read.parquet(out_dir).filter(f"url = '{url0}'").filter(canon).count()
        == batch_mentions.filter(canon).count()
    )

    # a third crawl of url0 lands 2 minutes later — still inside the 1-hour
    # watermark; the resumed stream must drop it from checkpointed state
    dup2 = pages_pd.iloc[[0]].copy()
    dup2["warc_ts"] = dup2["warc_ts"] + pd.Timedelta(minutes=2)
    spark.createDataFrame(dup2).coalesce(1).write.mode("append").parquet(in_dir)
    q2 = stream_mentions(spark, in_dir, out_dir, ck, registry)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).filter(f"url = '{url0}'").count() == n0


def test_canonical_url_recrawl_dedup(spark, corpus, tmp_path):
    """With canonicalize_urls=True, SURFACE VARIANTS of the same page url
    (host case, :443, utm params, trailing slash) dedupe in the watermark
    state even though the raw urls differ byte-wise, and the sink carries
    the canonical url."""
    import pandas as pd

    pages_pd = corpus["pages"].sort_values("warc_ts").head(4).reset_index(drop=True)
    registry = spark.createDataFrame(corpus["registry"])
    in_dir, out_dir, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")

    base = "https://Example.COM/reports/a"
    variants = [
        base,
        "https://example.com:443/reports/a#frag",
        "https://example.com/reports/a?utm_source=x",
        "https://example.com/reports/a/",
    ]
    b1 = pd.concat([pages_pd] * 1, ignore_index=True)
    b1 = b1.iloc[: len(variants)].copy()
    b1["url"] = variants
    b1["html"] = [b1.loc[0, "html"]] * len(variants)  # same page content
    b1["text"] = [b1.loc[0, "text"]] * len(variants)
    b1["warc_ts"] = [pages_pd.loc[0, "warc_ts"] + pd.Timedelta(minutes=i) for i in range(len(variants))]
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(in_dir)

    q = stream_mentions(spark, in_dir, out_dir, ck, registry, canonicalize_urls=True)
    q.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    urls = {r["url"] for r in out.select("url").distinct().collect()}
    assert urls == {"https://example.com/reports/a"}, urls
    # processed exactly once: mention_idx values are unique per url
    n = out.count()
    assert n == out.select("url", "mention_idx").distinct().count() and n > 0
