"""Streaming crawl-frontier discovery: as crawled pages stream in,
maintain the known-page set and the frontier (urls referenced by some
crawled page but never themselves crawled) incrementally — the
continuously-updated discover loop whose one-shot form is the batch
`frontier_expand` query (queries_web.py).

Semantics (the invariant the tests pin): after draining any prefix of
the stream, `read_frontier` equals the BATCH computation over the same
pages — distinct outlink targets anti-joined against crawled page keys
— regardless of arrival order or batching. A url discovered in batch i
and crawled in batch j > i leaves the frontier at j (the fetch loop
consuming its own discoveries). `first_seen_batch` records when each
frontier url was first referenced.

Link semantics: absolute hrefs resolve to their own (host, path);
relative hrefs resolve to the PAGE's host.

Scale notes: the stores are consulted via left-anti joins, and a
left-anti join BUILDS on the store side — so per-batch cost is
O(batch) only while the store fits the broadcast threshold; past
that, each anti-join shuffles both sides on the shared (host, path)
key. At crawl scale the production layout is the signature-store
discipline (functions/dedup_store.py): stores bucketed by
hash(host, path) so the per-batch anti-joins co-partition and read
only the probed buckets, with an optional bloom prefilter (the
decontaminate_bloom pattern) cutting the store scan before the join.
State never lives in executor memory — a restart resumes from the
stores + checkpoint, the streaming/ingest.py discipline.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.sources.readers import PAGES_SCHEMA

_KEY = ["host", "path"]


def page_keys(pages: DataFrame) -> DataFrame:
    """(host, path) of the crawled pages themselves."""
    return pages.select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("")).alias(
            "path"
        ),
    ).distinct()


def outlink_keys(pages: DataFrame) -> DataFrame:
    """(host, path) of every outlink target; relative links resolve to
    the page's host. Stateless — shared by batch and stream."""
    html_s = F.decode(F.col("html"), "UTF-8")
    src_host = F.parse_url(F.col("url"), F.lit("HOST"))
    hrefs = F.regexp_extract_all(html_s, F.lit(r'href="([^"]+)"'), F.lit(1))
    links = pages.select(
        src_host.alias("src_host"), F.explode(hrefs).alias("href")
    )
    host = F.coalesce(
        F.parse_url(F.col("href"), F.lit("HOST")), F.col("src_host")
    )
    path = F.coalesce(
        F.parse_url(F.col("href"), F.lit("PATH")),
        F.regexp_replace(F.col("href"), r"[?#].*$", ""),
        F.lit(""),
    )
    return links.select(host.alias("host"), path.alias("path")).distinct()


def batch_frontier(pages: DataFrame) -> DataFrame:
    """The one-shot truth: all outlink targets minus all crawled keys —
    what the incremental stream must converge to on the same input."""
    return outlink_keys(pages).join(page_keys(pages), _KEY, "left_anti")


def run_frontier_stream(
    spark: SparkSession,
    pages_dir: str,
    store_dir: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """availableNow drain: per micro-batch, append the batch's crawled
    keys to <store>/known and its never-seen link targets to
    <store>/frontier (tagged with the discovering batch id). Appends
    are anti-joined against the stores first, so replaying a batch
    (checkpoint recovery) appends nothing new."""
    known_dir = os.path.join(store_dir, "known")
    frontier_dir = os.path.join(store_dir, "frontier")
    os.makedirs(store_dir, exist_ok=True)

    def _read(path: str) -> DataFrame | None:
        # only "store not created yet" maps to None; a corrupt or
        # transiently unreadable store must FAIL the batch (returning
        # None would silently re-append the whole batch as new)
        if not os.path.isdir(path):
            return None
        return spark.read.parquet(path)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        crawled = page_keys(batch_df).persist()
        links = outlink_keys(batch_df)
        known = _read(known_dir)
        # new crawled keys -> known store (idempotent on replay)
        new_known = crawled if known is None else crawled.join(
            known, _KEY, "left_anti"
        )
        new_known.write.mode("append").parquet(known_dir)
        # never-seen link targets -> frontier store
        frontier = _read(frontier_dir)
        fresh = links
        if known is not None:
            fresh = fresh.join(known, _KEY, "left_anti")
        fresh = fresh.join(crawled, _KEY, "left_anti")
        if frontier is not None:
            fresh = fresh.join(
                frontier.select(*_KEY), _KEY, "left_anti"
            )
        fresh.select(
            *_KEY, F.lit(batch_id).cast("bigint").alias("first_seen_batch")
        ).write.mode("append").parquet(frontier_dir)
        crawled.unpersist()

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = (
        reader.parquet(pages_dir)
        .writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()


def read_frontier(spark: SparkSession, store_dir: str) -> DataFrame:
    """Current frontier = discovered minus since-crawled (the fetch
    loop consuming its own discoveries); first_seen_batch preserved.
    Before any batch has run (empty landing dir) both stores are
    absent and the frontier is the empty frame, not an error."""
    fdir = os.path.join(store_dir, "frontier")
    if not os.path.isdir(fdir):
        return spark.createDataFrame(
            [], "host string, path string, first_seen_batch bigint"
        )
    frontier = spark.read.parquet(fdir)
    kdir = os.path.join(store_dir, "known")
    if not os.path.isdir(kdir):
        return frontier
    return frontier.join(spark.read.parquet(kdir), _KEY, "left_anti")
