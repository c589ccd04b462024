"""End-to-end training-data curation pipeline — ``spark-submit`` entry.

Composes the engine's production stages into the single pass a user of
the reference would actually run over a crawl (the corpus-scale analog
of the reference's predict_system.py main() orchestration, re-expressed
as one resumable Spark job):

  1. extract   — url-hash logical parts (one task each), one Arrow UDF pass,
                 per-partition lineage, anti-join resume
                 (plans/job.py:run_extract_job; snapshot-pinned when
                 --input is a warehouse table dir). With --blocklist,
                 blocklisted hosts are pruned BEFORE any parsing — the
                 url-level gate rides the scan (broadcast anti-join)
  2. curate    — language-ID + quality-score + token-count gates, all
                 pure column expressions (functions/textstats.py), so
                 the filter rides the scan: no shuffle, no Python
  3. dedup     — exact md5 pass, then MinHash-LSH candidates ->
                 connected components -> keep cluster representative
                 (jobs/dedup.py:build_dedup; no broadcast of the
                 unbounded loser set)
  3.5 decontaminate (opt-in, --benchmark) — drop corpus docs sharing
                 any word-5-gram with the eval-set texts; benchmark
                 grams broadcast, corpus grams never shuffle-joined
  3.7 semantic dedup (opt-in, --semdedup-embeddings) — SemDeDup over
                 upstream model embeddings: k from corpus size,
                 LSH-bounded within-cluster scan
                 (functions/similarity.semantic_dedup_scaled)
  3.8 LM gate  (opt-in, --lm-ref) — CCNet-style perplexity cut: a
                 stupid-backoff bigram LM trains on the reference
                 corpus (the target-domain side, e.g. a Wikipedia
                 slice), every surviving doc is scored, and the worst
                 (tail) tertile is dropped via approx-quantile
                 thresholds — no global window; scores + buckets are
                 persisted for audit
  4. split     — deterministic content-hash train/val/test assignment
                 (pure function of url: stable across runs, reshards
                 and cluster sizes), written partitioned by split
  5. manifest  — one JSON line + <out>/manifest.json with per-stage
                 row counts, retention, input snapshot and run id

Usage:
    rm -f dist/paddleocr_spark.zip && zip -qr dist/paddleocr_spark.zip paddleocr_spark -x '*__pycache__*'
    spark-submit --master local[N] --driver-memory 8g \
        --py-files dist/paddleocr_spark.zip jobs/pipeline.py \
        --input <pages.parquet | warehouse dir> --output <dir> \
        [--partitions 32] [--salt 1] [--resume] \
        [--min-quality 0.3] [--langs en,de,fr,es,zh] [--min-tokens 5] \
        [--checkpoint-dir <dir>]

Scale notes (100 TB framing): stage boundaries are parquet writes, so
a failure resumes from the last completed stage (stages 2-4 are cheap
re-runs; stage 1 resumes per-partition via its own lineage). The only
shuffles in the whole job are extraction's one part→task exchange, the
dedup joins/aggs and the final split write's partitionBy — curation is
shuffle-free.
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


def split_col(url_col: str = "url"):
    """90/5/5 deterministic split bucket — same formula as
    queries_ext.q_dataset_split (content-derived md5 bucket)."""
    from pyspark.sql import functions as F

    bucket = (
        F.conv(F.substring(F.md5(F.col(url_col).cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    return (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )


def run_pipeline(
    spark,
    input_path: str,
    output_dir: str,
    n_partitions: int = 32,
    salt: int = 1,
    resume: bool = False,
    min_quality: float = 0.3,
    langs: list[str] | None = None,
    min_tokens: int = 5,
    checkpoint_dir: str | None = None,
    benchmark_path: str | None = None,
    blocked_hosts: list[str] | None = None,
    semdedup_embeddings: str | None = None,
    semdedup_tau: float = 0.95,
    semdedup_cluster_size: int = 4096,
    lm_ref_path: str | None = None,
) -> dict:
    from pyspark.sql import functions as F

    from jobs.dedup import build_dedup
    from paddleocr_spark.functions import textstats
    from paddleocr_spark.plans.job import run_extract_job

    timings: dict[str, float] = {}
    langs = langs or ["en", "de", "fr", "es", "zh"]

    # -- 1. extract ---------------------------------------------------
    t0 = time.monotonic()
    ex_stats = run_extract_job(
        spark,
        input_path=input_path,
        output_dir=output_dir,
        n_partitions=n_partitions,
        salt=salt,
        resume=resume,
        blocked_hosts=blocked_hosts,
    )
    timings["extract_s"] = round(time.monotonic() - t0, 3)

    # -- 2. curate (pure column exprs, filter rides the scan) ---------
    t0 = time.monotonic()
    ext = spark.read.parquet(os.path.join(output_dir, "extracted")).select(
        "url", "extracted_text"
    )
    txt = F.col("extracted_text")
    # token gate FIRST: quality_score divides by length and token count
    # (ANSI mode), so empty/whitespace-only extractions (garbage html)
    # must never reach it. max(min_tokens, 1) keeps the guard even if
    # the caller sets --min-tokens 0.
    curated = (
        ext.withColumn("n_tokens", textstats.token_count_ws(txt))
        .filter((F.col("n_tokens") >= max(min_tokens, 1)) & (F.length(txt) > 0))
        .withColumn("lang", textstats.langid_pred(txt))
        .withColumn("quality", F.round(textstats.quality_score(txt), 6))
        .filter((F.col("quality") >= min_quality) & F.col("lang").isin(langs))
    )
    curated_path = os.path.join(output_dir, "curated")
    curated.write.mode("overwrite").parquet(curated_path)
    n_extracted = int(ex_stats["rows_out"])
    curated = spark.read.parquet(curated_path)
    n_curated = curated.count()
    timings["curate_s"] = round(time.monotonic() - t0, 3)

    # -- 3. dedup (exact -> LSH -> CC -> representatives) -------------
    t0 = time.monotonic()
    docs = curated.select(
        F.col("url").alias("doc_id"),
        F.col("extracted_text").alias("text"),
        "lang", "quality", "n_tokens",
    )
    _exact, clusters, corpus = build_dedup(spark, docs, checkpoint_dir=checkpoint_dir)
    corpus_path = os.path.join(output_dir, "corpus")
    corpus.write.mode("overwrite").parquet(corpus_path)
    clusters.write.mode("overwrite").parquet(os.path.join(output_dir, "clusters"))
    corpus = spark.read.parquet(corpus_path)
    n_corpus = corpus.count()
    timings["dedup_s"] = round(time.monotonic() - t0, 3)

    # -- 3.5 decontaminate (optional, vs a benchmark/eval set) --------
    # Drop corpus docs sharing any word-5-gram with the benchmark
    # texts. The benchmark gram set is broadcast (eval suites are MBs
    # against the corpus), so corpus grams stream through a map-side
    # hash semi-join — no corpus-side shuffle on gram strings. Docs
    # shorter than 5 words fall back to whole-text matching
    # (with_shingles' short-row branch), i.e. exact-match removal.
    n_contaminated = 0
    if benchmark_path:
        t0 = time.monotonic()
        from paddleocr_spark.functions.textstats import with_shingles

        bench = spark.read.parquet(benchmark_path).select("text")
        bgrams = (
            with_shingles(bench, "text", 5, "__g")
            .select(F.explode("__g").alias("g"))
            .distinct()
        )
        cg = with_shingles(
            corpus.select("doc_id", "text"), "text", 5, "__g"
        ).select("doc_id", F.explode("__g").alias("g"))
        contaminated = cg.join(F.broadcast(bgrams), "g").select("doc_id").distinct()
        clean = corpus.join(contaminated, "doc_id", "left_anti")
        clean_path = os.path.join(output_dir, "decontaminated")
        clean.write.mode("overwrite").parquet(clean_path)
        corpus = spark.read.parquet(clean_path)
        n_clean = corpus.count()
        n_contaminated = n_corpus - n_clean
        n_corpus = n_clean
        timings["decontaminate_s"] = round(time.monotonic() - t0, 3)

    # -- 3.7 semantic dedup (optional, vs upstream embeddings) --------
    # SemDeDup over a (doc_id, embedding) table produced by an
    # upstream embedding model — exactly how SemDeDup deployments run
    # (the model is not part of the curation job). k is picked from
    # corpus size and the within-cluster scan is LSH-bounded
    # (functions/similarity.semantic_dedup_scaled). Only embeddings of
    # surviving corpus docs participate (semi-join; AQE picks the
    # strategy — neither side is assumed broadcastable).
    n_semantic_dropped = 0
    if semdedup_embeddings:
        t0 = time.monotonic()
        from paddleocr_spark.functions.similarity import semantic_dedup_scaled

        emb = spark.read.parquet(semdedup_embeddings).join(
            corpus.select("doc_id"), "doc_id", "left_semi"
        )
        decisions = semantic_dedup_scaled(
            emb,
            target_cluster_size=semdedup_cluster_size,
            tau=semdedup_tau,
            id_col="doc_id",
        )
        drops = decisions.filter(F.col("kept") == 0).select("doc_id")
        sem_path = os.path.join(output_dir, "semdeduped")
        corpus.join(drops, "doc_id", "left_anti").write.mode(
            "overwrite"
        ).parquet(sem_path)
        corpus = spark.read.parquet(sem_path)
        n_sem = corpus.count()
        n_semantic_dropped = n_corpus - n_sem
        n_corpus = n_sem
        timings["semdedup_s"] = round(time.monotonic() - t0, 3)

    # -- 3.8 LM perplexity gate (optional, vs a reference corpus) -----
    # CCNet's cut: train the stupid-backoff bigram LM on the TARGET-
    # DOMAIN reference (not the corpus itself — that would score
    # everything fluent), score every surviving doc, drop the tail
    # tertile via the threshold-style cut (approx_percentile sketch +
    # broadcast comparisons; no global window). Scores and buckets are
    # persisted under lm_scores/ so the cut is auditable.
    n_lm_dropped = 0
    if lm_ref_path:
        t0 = time.monotonic()
        from paddleocr_spark.queries_curation import (
            bigram_lm_tables,
            ccnet_buckets_scaled,
            score_against_bigram_lm,
        )

        ref = (
            spark.read.parquet(lm_ref_path)
            .select("text")
            .withColumn("doc_id", F.xxhash64("text"))
        )
        uni, bi, total = bigram_lm_tables(ref)
        scored = score_against_bigram_lm(
            corpus.select("doc_id", "text"), uni, bi, total
        )
        buckets = ccnet_buckets_scaled(scored)
        scores_path = os.path.join(output_dir, "lm_scores")
        buckets.write.mode("overwrite").parquet(scores_path)
        buckets = spark.read.parquet(scores_path)
        # anti-join on the TAIL set, not semi-join on the kept set:
        # docs with < 2 tokens produce no bigrams, are absent from the
        # scores frame, and must be KEPT (unscorable != low quality) —
        # a semi-join would silently drop them outside the audit trail.
        tail_ids = buckets.filter(F.col("bucket") == "tail").select("doc_id")
        gated_path = os.path.join(output_dir, "lm_gated")
        corpus.join(tail_ids, "doc_id", "left_anti").write.mode(
            "overwrite"
        ).parquet(gated_path)
        corpus = spark.read.parquet(gated_path)
        n_gated = corpus.count()
        n_lm_dropped = n_corpus - n_gated
        n_corpus = n_gated
        timings["lm_gate_s"] = round(time.monotonic() - t0, 3)

    # -- 4. split (deterministic, content-derived) --------------------
    t0 = time.monotonic()
    dataset = corpus.withColumn("split", split_col("doc_id"))
    dataset_path = os.path.join(output_dir, "dataset")
    dataset.write.mode("overwrite").partitionBy("split").parquet(dataset_path)
    split_counts = {
        r["split"]: r["n"]
        for r in spark.read.parquet(dataset_path)
        .groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    timings["split_s"] = round(time.monotonic() - t0, 3)

    manifest = dict(
        input=input_path,
        input_snapshot=ex_stats["input_snapshot"],
        run_id=ex_stats["run_id"],
        n_extracted=n_extracted,
        n_curated=n_curated,
        n_corpus=n_corpus,
        n_contaminated=n_contaminated,
        n_semantic_dropped=n_semantic_dropped,
        n_lm_dropped=n_lm_dropped,
        curate_retention=round(n_curated / n_extracted, 4) if n_extracted else None,
        dedup_retention=round((n_corpus + n_contaminated) / n_curated, 4) if n_curated else None,
        splits=split_counts,
        params=dict(
            min_quality=min_quality, langs=langs, min_tokens=min_tokens,
            partitions=n_partitions, salt=salt,
            benchmark=benchmark_path,
            n_blocked_hosts=len(blocked_hosts) if blocked_hosts else 0,
        ),
        timings=timings,
    )
    with open(os.path.join(output_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)
    return manifest


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--salt", type=int, default=1,
                    help="tasks (and output files) per logical part; raise it only "
                    "when the cluster has more task slots than --partitions")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--langs", default="en,de,fr,es,zh")
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--benchmark", default=None,
                    help="parquet of eval-set texts (column `text`); corpus docs "
                         "sharing any word-5-gram with it are dropped")
    ap.add_argument("--blocklist", default=None,
                    help="host blocklist (file of hosts or comma-separated "
                         "list); matching pages are pruned before extraction")
    ap.add_argument("--semdedup-embeddings", default=None,
                    help="parquet of (doc_id, embedding) from an upstream "
                         "model; SemDeDup drops semantic near-dups from the "
                         "corpus (k picked from corpus size)")
    ap.add_argument("--semdedup-tau", type=float, default=0.95)
    ap.add_argument("--semdedup-cluster-size", type=int, default=4096)
    ap.add_argument("--lm-ref", default=None,
                    help="parquet of reference (target-domain) texts; "
                         "trains the bigram LM and drops the worst "
                         "perplexity tertile of the corpus (CCNet cut)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from paddleocr_spark.plans.job import parse_blocklist

    spark = SparkSession.builder.appName("paddleocr-spark-pipeline").getOrCreate()
    t0 = time.time()
    manifest = run_pipeline(
        spark,
        input_path=args.input,
        output_dir=args.output,
        n_partitions=args.partitions,
        salt=args.salt,
        resume=args.resume,
        min_quality=args.min_quality,
        langs=[s for s in args.langs.split(",") if s],
        min_tokens=args.min_tokens,
        checkpoint_dir=args.checkpoint_dir,
        benchmark_path=args.benchmark,
        blocked_hosts=parse_blocklist(args.blocklist),
        semdedup_embeddings=args.semdedup_embeddings,
        semdedup_tau=args.semdedup_tau,
        semdedup_cluster_size=args.semdedup_cluster_size,
        lm_ref_path=args.lm_ref,
    )
    manifest["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(manifest))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
