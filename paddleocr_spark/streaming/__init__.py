"""Structured Streaming surface: the two availableNow drains that jobs run.

- ``ingest.ingest_recrawl_stream`` — landing dir → exactly-once upserts
  into the pages warehouse table (``jobs/daily.py``);
- ``frontier.run_frontier_stream`` — the incremental crawl frontier
  (``jobs/frontier.py``).

The reference has NO streaming operators (SURVEY.md §2.10) — its
incremental story is file-striping restarts. Both drains reuse the batch
stage functions unchanged under ``readStream``; streaming adds only the
source, the checkpoint and the batch-id-keyed sink.
"""
