"""Corpus near-dedup job — the ``spark-submit --py-files`` entrypoint
for the training-data curation pass.

Pipeline: exact dedup (md5 hash-groupBy) -> MinHash-LSH candidate
pairs -> connected components -> keep one representative per near-dup
cluster (min doc_id, or the longest text with --winner best). Writes:

- <out>/corpus/    the deduplicated corpus (parquet)
- <out>/clusters/  (doc_id, cluster_id) for every clustered doc

Scale notes (100 TB framing):
- the loser set (every non-representative near-dup) is O(corpus) rows
  on a web crawl (30-60% dup rates are normal), so it is NEVER
  broadcast — the final anti-join is a plain shuffle join on doc_id
  and AQE is free to pick a broadcast only if the runtime size
  actually fits.
- pass --checkpoint-dir to switch the CC fixpoint from localCheckpoint
  (executor-local, lost on executor death) to reliable checkpoint()
  (shared storage) — required on a real multi-executor cluster.

Usage:
    rm -f dist/paddleocr_spark.zip && zip -qr dist/paddleocr_spark.zip paddleocr_spark -x '*__pycache__*'
    spark-submit --master local[N] --driver-memory 8g \
        --py-files dist/paddleocr_spark.zip jobs/dedup.py \
        --input <documents.parquet> --output <dir> \
        [--checkpoint-dir <dir>]

Prints ONE JSON line with input/exact-dup/near-dup/output counts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# importable when launched as `python jobs/dedup.py` from the repo root
# (spark-submit --py-files and PYTHONPATH launches are unaffected)
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def build_dedup(spark, docs, checkpoint_dir: str | None = None,
                winner: str = "min_id"):
    """Assemble the dedup plan; returns (exact, clusters, corpus)
    DataFrames (nothing executed). Split out of main() so tests can
    inspect the physical plan — in particular that the corpus
    anti-join does not force a broadcast of the unbounded loser set.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from paddleocr_spark.functions import dedup
    from paddleocr_spark.functions.graph import connected_components

    # 1) exact dedup: keep min doc_id per content hash
    exact = dedup.exact_keepers(
        docs.withColumn("__h", dedup.content_hash(F.col("text"))), "__h"
    ).drop("__h")

    # 2) near-dup clusters over the exact-deduped survivors
    pairs = dedup.lsh_candidate_pairs(exact)
    clusters = connected_components(pairs, checkpoint_dir=checkpoint_dir).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )

    # 3) winners: docs not in any cluster pass through. The loser set
    #    is unbounded (O(corpus) on a real crawl) — plain shuffle
    #    anti-join on doc_id, no broadcast hint.
    #    winner="min_id": representative = min doc_id (== cluster_id),
    #    free — no extra pass. winner="best": keep the LONGEST text per
    #    cluster (doc_id tie-break, the dedup_keep_best query's rule);
    #    costs one window over (doc_id, cluster, len) triples — bodies
    #    never shuffle (same shape as the driver query).
    if winner == "best":
        scored = clusters.join(
            exact.select("doc_id", F.length("text").alias("__len")), "doc_id"
        )
        ww = Window.partitionBy("cluster_id").orderBy(
            F.desc("__len"), F.asc("doc_id")
        )
        losers = (
            scored.withColumn("__rn", F.row_number().over(ww))
            .filter(F.col("__rn") != 1)
            .select("doc_id")
        )
    else:
        losers = clusters.filter(
            F.col("doc_id") != F.col("cluster_id")
        ).select("doc_id")
    corpus = exact.join(losers, "doc_id", "left_anti")
    return exact, clusters, corpus


def build_incremental_dedup(spark, base, new,
                            checkpoint_dir: str | None = None):
    """Incremental (daily-crawl) dedup: admit only those NEW documents
    that are not exact or near duplicates of the existing corpus or of
    an admitted newcomer. Returns the surviving-new-docs DataFrame;
    the caller appends it to the corpus (base rows are never touched —
    the established corpus wins every tie, so re-ingesting old content
    cannot churn representatives).

    Semantics (mirrors the full-corpus job transitively): connected
    components run over ALL candidate pairs among base ∪ new, so a new
    doc chained to the corpus through another new doc is dropped too. A
    new doc survives iff its component contains no base member and it
    is the component minimum (or it collides with nothing).

    Scale notes: shuffles carry (hash|band, id) pairs only, never
    bodies; the base side's signatures are recomputed here — a
    production deployment materializes the corpus band table once and
    appends to it incrementally (same join, ~|new| band rows probed).
    """
    from pyspark.sql import functions as F

    from paddleocr_spark.functions import dedup
    from paddleocr_spark.functions.graph import connected_components

    # 1) exact: de-dup within the batch (min doc_id per hash), then
    #    drop anything whose content hash already exists in the corpus
    new_exact = dedup.exact_keepers(
        new.withColumn("__h", dedup.content_hash(F.col("text"))), "__h"
    )
    base_hashes = base.select(
        dedup.content_hash(F.col("text")).alias("__h")
    ).distinct()
    new_exact = new_exact.join(base_hashes, "__h", "left_anti").drop("__h")

    # 2) near-dup: candidate pairs over base ∪ surviving new, CC, then
    #    keep a new doc only if its component is corpus-free and it is
    #    the representative
    combined = base.select("doc_id", "text").unionByName(
        new_exact.select("doc_id", "text")
    )
    pairs = dedup.lsh_candidate_pairs(combined)
    cc = connected_components(pairs, checkpoint_dir=checkpoint_dir)
    # shared admission rule (functions/dedup.cc_admitted_new_ids): a
    # clustered new doc survives iff its component is corpus-free and
    # it is the representative. Base side is O(corpus): NOT broadcast.
    clustered_survivor_ids = dedup.cc_admitted_new_ids(
        cc, base.select("doc_id")
    )
    clustered_ids = cc.select(F.col("id").alias("doc_id"))
    unclustered = new_exact.join(clustered_ids, "doc_id", "left_anti")
    survivors = unclustered.unionByName(
        new_exact.join(clustered_survivor_ids, "doc_id", "left_semi")
    )
    return survivors


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text, ...)")
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--checkpoint-dir", default=None,
        help="reliable checkpoint dir for the CC fixpoint (use on a real cluster)",
    )
    ap.add_argument(
        "--winner", default="min_id", choices=["min_id", "best"],
        help="near-dup cluster representative rule: min_id (free) or "
             "best (longest text, doc_id tie-break — one extra window "
             "over id/len triples, bodies never shuffle)",
    )
    ap.add_argument(
        "--base", default=None,
        help="existing deduplicated corpus parquet: run INCREMENTAL dedup "
             "(admit only new docs that duplicate neither the corpus nor an "
             "admitted newcomer); writes survivors to <out>/corpus",
    )
    ap.add_argument(
        "--store", default=None,
        help="materialized signature store dir (STEADY-STATE incremental "
             "dedup): corpus side is the store's (hash, band) rows — corpus "
             "bodies are never re-read, the batch side is broadcast. First "
             "run seeds the store from the input; later runs admit "
             "non-duplicates, append their signatures, and write survivors "
             "to <out>/corpus",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("paddleocr-spark-dedup").getOrCreate()
    t0 = time.time()

    docs = spark.read.parquet(args.input)
    n_input = docs.count()

    if args.store:
        from paddleocr_spark.functions import dedup_store as S

        if args.winner != "min_id" and S.store_exists(args.store):
            # the store path admits whole newcomers; there is no
            # cluster to pick a representative from, so a non-default
            # winner rule would be silently meaningless — fail loudly
            ap.error("--winner applies to full/seed dedup only, not to "
                     "store-incremental admission")
        if not S.store_exists(args.store):
            # day 0: full self-dedup, then seed the store
            _, _, corpus = build_dedup(
                spark, docs, checkpoint_dir=args.checkpoint_dir,
                winner=args.winner,
            )
            corpus.write.mode("overwrite").parquet(f"{args.output}/corpus")
            corpus = spark.read.parquet(f"{args.output}/corpus")
            n_out = S.append_to_store(corpus, args.store)
            mode = "store-seed"
        else:
            survivors = S.incremental_dedup_against_store(
                spark, args.store, docs, checkpoint_dir=args.checkpoint_dir,
            )
            survivors.write.mode("overwrite").parquet(f"{args.output}/corpus")
            admitted = spark.read.parquet(f"{args.output}/corpus")
            n_out = S.append_to_store(admitted, args.store)
            mode = "store-incremental"
        print(json.dumps({
            "mode": mode,
            "n_input": n_input,
            "n_admitted": n_out,
            "wall_sec": round(time.time() - t0, 3),
        }))
        spark.stop()
        return 0

    if args.base:
        base = spark.read.parquet(args.base)
        survivors = build_incremental_dedup(
            spark, base, docs, checkpoint_dir=args.checkpoint_dir,
        )
        survivors.write.mode("overwrite").parquet(f"{args.output}/corpus")
        n_out = spark.read.parquet(f"{args.output}/corpus").count()
        print(
            json.dumps(
                {
                    "mode": "incremental",
                    "n_input": n_input,
                    "n_base": base.count(),
                    "n_admitted": n_out,
                    "wall_sec": round(time.time() - t0, 3),
                }
            )
        )
        spark.stop()
        return 0

    exact, clusters, corpus = build_dedup(
        spark, docs, checkpoint_dir=args.checkpoint_dir,
        winner=args.winner,
    )
    n_exact = exact.count()
    clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    corpus.write.mode("overwrite").parquet(f"{args.output}/corpus")
    # count the WRITTEN parquet (footer reads): counting the frames
    # would re-execute the LSH candidate join + the CC fixpoint — the
    # job's most expensive stage — a second time just for a stat
    n_out = spark.read.parquet(f"{args.output}/corpus").count()
    n_clustered = spark.read.parquet(f"{args.output}/clusters").count()

    print(
        json.dumps(
            {
                "n_input": n_input,
                "n_after_exact": n_exact,
                "n_clustered_docs": n_clustered,
                "n_output": n_out,
                "wall_sec": round(time.time() - t0, 3),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
