"""Crawl-scheduler job — the ``spark-submit --py-files`` entrypoint
that composes the crawl-management queries into tomorrow's fetch plan:

1. robots gate (queries_web.robots_gate_over): drop pages the host's
   RFC 9309 rules disallow — they may not be fetched at all.
2. revisit scoring (revisit_schedule_over): bucket each page hot /
   warm / cold from its observed change rate (Cho & Garcia-Molina).
3. budget apportionment (crawl_budget_over): split the global fetch
   budget across hosts by largest-remainder on volatile-page demand.
4. per-host ranking: inside each host, order admissible pages by
   bucket priority (hot > warm > cold > new), then page volatility,
   then doc_id, and keep the host's quota.

Writes:
- <out>/fetch_plan/  (host, doc_id, page_key, bucket, rank) parquet
- <out>/stats.json   the one-line summary (also printed)

Scale notes (100 TB framing):
- every stage is the plan shape its query docstring pins: the robots
  verdict is a broadcast-rules gate (zero per-doc shuffle), revisit
  scoring is one url-hash window + an agg riding its partitioning,
  the budget is O(hosts) after one count agg, and the final ranking
  is one window per host with the quota filter pushed immediately
  after — the fetch plan never materializes more than quota rows per
  host beyond the window sort.
- the bucket join keys on page_key (O(pages) rows at corpus scale):
  strategy is left to Catalyst/AQE — broadcast while it fits,
  shuffle join on the shared key when it doesn't.

Usage:
    rm -f dist/paddleocr_spark.zip && zip -qr dist/paddleocr_spark.zip paddleocr_spark -x '*__pycache__*'
    spark-submit --master local[N] \
        --py-files dist/paddleocr_spark.zip jobs/crawl_plan.py \
        --input <documents.parquet> --output <dir> [--budget 100] \
        [--window-s 60]   # Crawl-delay politeness caps on the quotas

Prints ONE JSON line with admission/bucket/quota/plan counts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def build_crawl_plan(docs, budget: int = 100, window_s: int | None = None):
    """Assemble the fetch-plan DataFrame (nothing executed); returns
    (verdicts, plan) — verdicts carries every doc's robots decision so
    callers derive admission stats in ONE aggregation instead of
    re-running the gate. Split from main() so tests can check values
    and the physical plan without a spark-submit round trip.

    ``window_s`` switches on Crawl-delay politeness (the
    politeness_cap query's rule, via the shared crawl_delay_col):
    each host's effective quota becomes least(quota, window_s div
    delay) — overflow pages are simply the ranks above the cap, i.e.
    the natural carry-over for the next window. Quotas themselves are
    never re-apportioned."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from paddleocr_spark.queries_web import (
        crawl_budget_over,
        crawl_delay_col,
        page_key_col,
        revisit_schedule_over,
        robots_gate_over,
    )

    verdicts = robots_gate_over(docs)
    buckets = revisit_schedule_over(docs).select(
        "page_key", "bucket", "n_changed", "n_pairs"
    )
    quotas = crawl_budget_over(docs, budget=budget).select("source", "quota")
    if window_s is not None:
        # politeness: pure projection on the O(hosts) quota table —
        # exact integer division, zero extra exchanges
        quotas = (
            quotas.withColumn("crawl_delay_s", crawl_delay_col())
            .withColumn(
                "rate_cap",
                F.expr(f"cast({window_s} div crawl_delay_s as bigint)"),
            )
            .select(
                "source", F.least("quota", "rate_cap").alias("quota")
            )
        )

    prio = (
        F.when(F.col("bucket") == "hot", 3)
        .when(F.col("bucket") == "warm", 2)
        .when(F.col("bucket") == "cold", 1)
        .otherwise(0)
    )
    cand = (
        verdicts.filter(F.col("allowed") == 1)
        .withColumn("page_key", page_key_col())
        .join(buckets, "page_key")
        .withColumn("prio", prio)
    )
    # bucket priority, then page volatility (observed change rate —
    # compared cross-multiplied per the integer-exact house rule, via
    # the fraction only for ORDERING which tolerates float), then
    # doc_id for determinism
    volatility = F.col("n_changed") / F.greatest(F.col("n_pairs"), F.lit(1))
    w = Window.partitionBy("source").orderBy(
        F.col("prio").desc(), volatility.desc(), F.col("doc_id").asc()
    )
    plan = (
        cand.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(quotas), "source")
        .filter(F.col("rank") <= F.col("quota"))
        .select("source", "doc_id", "page_key", "bucket", "rank")
    )
    return verdicts, plan


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--budget", type=int, default=100)
    ap.add_argument("--window-s", type=int, default=None,
                    help="Crawl-delay politeness: cap each host's quota at "
                         "window_s div its declared delay (carry-over is the "
                         "ranks above the cap)")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from paddleocr_spark.session import get_spark

    master = f"local[{args.cpus}]" if args.cpus else None
    spark = get_spark(master=master) if master else get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    from pyspark.sql import functions as F

    docs = spark.read.parquet(args.input)
    verdicts, plan = build_crawl_plan(docs, budget=args.budget, window_s=args.window_s)

    out_plan = os.path.join(args.output, "fetch_plan")
    plan.write.mode("overwrite").parquet(out_plan)

    # ONE aggregation over the gate for admission stats (n_input and
    # the denial count together — never a second corpus scan), one
    # small aggregation over the written plan for the rest
    adm = verdicts.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum((F.col("allowed") == 0).cast("bigint")).alias("n_denied"),
    ).collect()[0]
    planned = spark.read.parquet(out_plan)
    pstats = planned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
    ).collect()
    stats = {
        "n_input": adm["n_input"],
        "n_denied_robots": adm["n_denied"],
        "budget": args.budget,
        "politeness_window_s": args.window_s,
        "n_planned": sum(r["n"] for r in pstats),
        "n_hosts": planned.select("source").distinct().count(),
        "by_bucket": {r["bucket"]: r["n"] for r in pstats},
        "wall_sec": round(time.time() - t0, 3),
    }
    os.makedirs(args.output, exist_ok=True)
    with open(os.path.join(args.output, "stats.json"), "w") as fh:
        json.dump(stats, fh)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
