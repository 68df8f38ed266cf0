"""Incremental page ingestion via Structured Streaming.

The reference is strictly batch (each phase a run-to-completion subprocess,
run_pipeline.py:150-155), so streaming is NOT needed for parity (SURVEY.md
§2.8); this module is the incremental-crawl extension a production ingest
needs: new WARC-derived page files land in a directory, and each micro-batch
runs the SAME extraction→NER→linking operators and appends to the mentions
table exactly once.

Design:
- file-source ``readStream`` with the fixed PAGES schema — the source
  tracks processed files in the checkpoint, so restarts never re-ingest
  (exactly-once at file granularity);
- late/duplicate crawls of the same url are dropped with
  ``dropDuplicatesWithinWatermark`` on url over a warc_ts watermark
  (re-crawl storms collapse; state is evicted past the watermark);
- the per-batch work runs in ``foreachBatch`` because entity resolution
  contains batch-only shapes (the A1 frequency gate is a global
  aggregation). foreachBatch alone is at-least-once: a crash between the
  sink write and the checkpoint commit replays the epoch on restart. The
  sink is therefore made idempotent per epoch — each batch overwrites its
  own ``batch_id=N`` subdirectory, so a replayed epoch replaces its previous
  (possibly partial) output instead of appending duplicates, and the
  directory name doubles as a ``batch_id`` partition column on read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..cache import release
from ..operators.linking import build_alias_table, collect_alias_rows, resolve_mentions
from ..operators.mentions import extract_and_detect
from ..schemas import PAGES


def stream_mentions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    registry: DataFrame,
    gazetteer: list[tuple[str, str]] | None = None,
    watermark: str = "1 hour",
    available_now: bool = True,
    canonicalize_urls: bool = False,
):
    """Start (or resume) the ingestion stream; returns the StreamingQuery.
    With ``available_now`` the query drains everything currently in
    ``input_dir`` and stops — the incremental batch mode used in tests and
    cron-style production runs.

    ``canonicalize_urls`` keys the re-crawl dedup on
    ``functions/urlnorm.canonical_url(url)`` instead of the raw url, so
    surface variants of the same page (scheme/host case, default ports,
    tracking params, fragments, trailing slashes) collapse in the
    watermark state — the standard first step of a real crawl ingest. The
    canonical form also REPLACES the url column downstream, keeping the
    (url, mention_idx) mention key consistent across variants."""
    aliases = build_alias_table(registry)
    alias_rows = collect_alias_rows(aliases)

    pages = (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    if canonicalize_urls:
        from pyspark.sql import functions as F

        from ..functions.urlnorm import canonical_url

        pages = pages.withColumn("url", canonical_url(F.col("url")))
    pages = pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # fused extraction+NER: a micro-batch has no separate documents
        # consumer, so the html payload crosses JVM↔Python once
        # (operators/mentions.extract_and_detect; set-equal to the unfused
        # chain by test)
        raw = extract_and_detect(batch_df, gazetteer).persist()
        raw.count()
        mentions, _ext = resolve_mentions(raw, aliases, alias_rows)
        # idempotent per-epoch sink (see module docstring): overwrite this
        # epoch's own subdirectory, never blind-append to the shared dir
        mentions.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")
        # this epoch's caches: kept, they would add up across epochs
        release(mentions)
        raw.unpersist()

    writer = (
        pages.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
