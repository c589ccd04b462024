"""The two Structured Streaming drains the jobs run: the recrawl ingest
(``jobs/daily.py``) commits each micro-batch exactly once into the pages
warehouse table, and the crawl frontier (``jobs/frontier.py``) converges
to its batch truth whatever the batching."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F


def test_recrawl_stream_upserts_exactly_once(
    spark, smoke_dir, tmp_path, monkeypatch
):
    """Recrawl ingestion: micro-batches replace-by-key. Two landing
    files processed as separate micro-batches (maxFilesPerTrigger=1):
    a base crawl, then a recrawl of a url subset with changed content.
    The table converges to ONE live version per url (recrawled urls
    show the new content), restarts commit nothing, a replayed batch
    (table committed, checkpoint commit lost) commits nothing, time
    travel still reads the pre-recrawl state, and the drain is awaited
    with no deadline (a large day must not time out)."""
    from pyspark.sql.streaming.query import StreamingQuery

    from paddleocr_spark.sources import warehouse as W
    from paddleocr_spark.streaming.ingest import ingest_recrawl_stream

    waits = []
    await_termination = StreamingQuery.awaitTermination

    def recording_await(self, timeout=None):
        waits.append(timeout)
        return await_termination(self, timeout)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", recording_await)

    src = tmp_path / "rc_in"
    tbl = str(tmp_path / "rc_tbl")
    ckpt = str(tmp_path / "rc_ck")
    os.makedirs(src)

    def land(df, name: str) -> None:
        # the file stream source lists only top-level files in src, so
        # stage each crawl as a single parquet FILE, not a directory
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.copy(stage / part, src / name)

    pages = spark.read.parquet(os.path.join(smoke_dir, "pages.parquet"))
    base = pages.limit(40).cache()
    land(base, "crawl0.parquet")

    some = [r["url"] for r in base.select("url").limit(6).collect()]
    recrawl = (
        base.filter(F.col("url").isin(some))
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("interval 1 day"))
        .withColumn("lang", F.lit("xx"))
    )
    land(recrawl, "crawl1.parquet")

    ingest_recrawl_stream(spark, str(src), tbl, ckpt, max_files_per_trigger=1)

    cur = W.read_table(spark, tbl)
    assert cur.count() == 40
    assert cur.select("url").distinct().count() == 40
    assert cur.filter(F.col("lang") == "xx").count() == 6
    snaps = W.snapshots(tbl)
    first_append = snaps[0]["snapshot_id"]

    # restart with no new input: nothing recommitted
    n_snaps = len(snaps)
    ingest_recrawl_stream(spark, str(src), tbl, ckpt, max_files_per_trigger=1)
    assert len(W.snapshots(tbl)) == n_snaps
    assert W.read_table(spark, tbl).count() == 40

    # at-least-once replay: drop the checkpoint's record of the last
    # batch, so Spark re-runs it under the same batch id; the batch-id
    # guard must skip the upsert it already committed
    head = W.current_snapshot_id(tbl)
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    ingest_recrawl_stream(spark, str(src), tbl, ckpt, max_files_per_trigger=1)
    assert W.current_snapshot_id(tbl) == head
    assert len(W.snapshots(tbl)) == n_snaps
    assert W.read_table(spark, tbl).count() == 40
    assert waits == [None, None, None]

    # time travel to the first crawl's snapshot: pre-recrawl state
    old = W.read_table(spark, tbl, first_append)
    assert old.count() == 40
    assert old.filter(F.col("lang") == "xx").count() == 0
    base.unpersist()


def test_recrawl_stream_failed_batch_raises(spark, smoke_dir, tmp_path, monkeypatch):
    """With no drain deadline, a failing micro-batch must still surface:
    the ingest re-raises the query's failure instead of returning."""
    from pyspark.errors import StreamingQueryException

    from paddleocr_spark.sources import warehouse as W
    from paddleocr_spark.streaming.ingest import ingest_recrawl_stream

    src = tmp_path / "rc_in"
    os.makedirs(src)
    shutil.copy(os.path.join(smoke_dir, "pages.parquet"), src / "crawl0.parquet")

    def failing_upsert(*args, **kwargs):
        raise RuntimeError("upsert failed")

    monkeypatch.setattr(W, "upsert", failing_upsert)
    with pytest.raises(StreamingQueryException, match="upsert failed"):
        ingest_recrawl_stream(
            spark, str(src), str(tmp_path / "tbl"), str(tmp_path / "ck")
        )


def _frontier_page(url, body):
    import datetime as dt

    html = f"<html><body>{body}</body></html>".encode()
    return (url, dt.datetime(2024, 1, 1), html, "", "en")


_FRONTIER_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def test_frontier_stream_matches_batch_and_consumes_discoveries(spark, tmp_path):
    """Incremental frontier: after draining file-per-batch, the store
    equals the batch truth (all link targets minus all crawled keys);
    a url discovered in batch 1 then crawled in batch 2 has left the
    frontier; first_seen_batch records the discovering batch."""
    from paddleocr_spark.streaming.frontier import (
        batch_frontier,
        read_frontier,
        run_frontier_stream,
    )

    rows1 = [
        _frontier_page(
            "https://a.example/p1",
            '<a href="https://b.example/next">n</a><a href="/rel">r</a>',
        ),
    ]
    # b.example/next gets CRAWLED in batch 2 (consuming the discovery),
    # and batch 2 discovers a brand-new target
    rows2 = [
        _frontier_page(
            "https://b.example/next", '<a href="https://c.example/deep">d</a>'
        ),
    ]
    in_dir = str(tmp_path / "pages")
    spark.createDataFrame(rows1, _FRONTIER_SCHEMA).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(rows2, _FRONTIER_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    store = str(tmp_path / "store")
    run_frontier_stream(
        spark, in_dir, store,
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    got = {
        (r["host"], r["path"]): r["first_seen_batch"]
        for r in read_frontier(spark, store).collect()
    }
    want = {
        (r["host"], r["path"])
        for r in batch_frontier(spark.read.parquet(in_dir)).collect()
    }
    assert set(got) == want
    assert ("b.example", "/next") not in got          # discovered, then crawled
    assert ("c.example", "/deep") in got              # batch-2 discovery
    assert ("a.example", "/rel") in got               # relative link -> page host
    # /rel was referenced in the first micro-batch; /deep in a later one
    assert got[("a.example", "/rel")] < got[("c.example", "/deep")]


def test_frontier_stream_redrain_is_noop(spark, tmp_path):
    """Re-running the drained stream with the same checkpoint appends
    nothing: store row counts are unchanged (exactly-once on replay)."""
    from paddleocr_spark.streaming.frontier import read_frontier, run_frontier_stream

    in_dir = str(tmp_path / "pages")
    spark.createDataFrame(
        [_frontier_page("https://a.example/p1", '<a href="https://b.example/x">x</a>')],
        _FRONTIER_SCHEMA,
    ).coalesce(1).write.parquet(in_dir)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    run_frontier_stream(spark, in_dir, store, checkpoint_dir=ckpt)
    before = read_frontier(spark, store).count()
    known_before = spark.read.parquet(f"{store}/known").count()
    run_frontier_stream(spark, in_dir, store, checkpoint_dir=ckpt)
    assert read_frontier(spark, store).count() == before
    assert spark.read.parquet(f"{store}/known").count() == known_before


def test_frontier_job_surface_and_noop_rerun(spark, tmp_path):
    """jobs/frontier.py end-to-end: first run builds the stores and
    reports sizes; a rerun with nothing new landed is a no-op; landing
    one more file folds in incrementally."""
    import json as _json

    from jobs.frontier import main as frontier_main

    in_dir = str(tmp_path / "landing")
    spark.createDataFrame(
        [_frontier_page("https://a.example/p1", '<a href="https://b.example/x">x</a>')],
        _FRONTIER_SCHEMA,
    ).coalesce(1).write.parquet(in_dir)
    store = str(tmp_path / "store")

    import contextlib
    import io

    def run():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert frontier_main(["--pages", in_dir, "--store", store]) == 0
        return _json.loads(buf.getvalue().strip().splitlines()[-1])

    s1 = run()
    assert s1["n_known"] == 1 and s1["n_frontier"] == 1
    assert s1["top_hosts"] == {"b.example": 1}
    s2 = run()  # nothing new landed
    assert (s2["n_known"], s2["n_frontier"]) == (1, 1)
    # land the discovered page: it leaves the frontier, adds a new link
    spark.createDataFrame(
        [_frontier_page("https://b.example/x", '<a href="https://c.example/y">y</a>')],
        _FRONTIER_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(in_dir)
    s3 = run()
    assert s3["n_known"] == 2
    assert s3["top_hosts"] == {"c.example": 1}
