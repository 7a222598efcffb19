"""Structured-Streaming analogs of the crawl loop (SURVEY.md §2.9).

The reference is strictly batch; the rebuild's streaming surface:

- ``windowed_page_counts`` — tumbling-window aggregation with a
  watermark over a stream of discovered pages (warc_ts as event time;
  late rediscoveries beyond the watermark are dropped, the streaming
  analog of the seen-set dropping late duplicates).
- ``seed_ingest_stream``  — continuous seed ingestion: each micro-batch
  of new seed URLs is MERGE'd into the frontier snapshot table and a
  bounded number of crawl rounds runs via foreachBatch. State lives in
  the snapshot tables (deterministic resume), not the streaming state
  store — the design choice SURVEY §2.9 calls out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from pygeodatacrawler_spark.plans.crawl import CrawlEngine, seeds_to_frontier


def windowed_page_counts(
    pages_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming tumbling-window page counts per language with late-data
    handling: rows later than the watermark are dropped."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "lang", "n_pages")
    )


def seed_ingest_stream(
    seed_stream: DataFrame,
    engine: CrawlEngine,
    rounds_per_batch: int = 3,
    checkpoint_dir: str | None = None,
):
    """seeds(url, depth) stream -> frontier MERGE + crawl rounds per
    micro-batch. Returns the StreamingQuery (caller awaits/stops)."""

    def _on_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        rows = seeds_to_frontier(batch)
        if engine.frontier.exists():
            # existing rows win (seen-set semantics for re-submitted
            # seeds): the anti-join keeps only never-seen keys, so the
            # O(batch) merge-on-read delta append never overwrites a
            # row. The engine's warm cache stands in for the disk read
            # when available (same state, no resolve).
            cur = (
                engine._frontier_df
                if engine._frontier_df is not None
                else engine.frontier.read()
            )
            fresh = rows.join(cur.select("url_hash"), "url_hash", "left_anti")
            v = engine.frontier.merge_upsert(fresh)
        else:
            v = engine.frontier.write_snapshot(rows)
        engine._n_frontier = None  # recount lazily next round
        # the engine's incrementally-maintained frontier cache mirrors
        # ONLY deltas the engine itself committed; an external write
        # like this seed merge must drop it or subsequent rounds crawl
        # a stale frontier that never saw this batch's seeds
        engine._drop_frontier_cache()
        # commit the seed merge to lineage so reconcile keeps it
        engine.commit_external(frontier_v=v)
        engine.run(max_rounds=rounds_per_batch)

    writer = seed_stream.writeStream.foreachBatch(_on_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
