"""Corpus-scale SemDeDup job: embedding table in, (id, cluster, kept)
decisions + the kept subset out.

This is the production entrypoint `functions/similarity.semantic_dedup`
documents: k is picked from the corpus size (k = ceil(n /
target_cluster_size), constant expected cluster population at any
corpus scale), seeds are Lloyd-refined before assignment, and the
within-cluster pair scan is bounded by banded LSH so per-cluster work
is ~(n/k)²·L/2^b, never (n/k)². See semantic_dedup_scaled for the
full scale analysis.

Usage:
    rm -f dist/paddleocr_spark.zip && zip -qr dist/paddleocr_spark.zip paddleocr_spark -x '*__pycache__*'
    spark-submit --py-files dist/paddleocr_spark.zip jobs/semdedup.py \
        --input <embeddings.parquet> --output <dir> \
        [--target-cluster-size 4096] [--tau 0.4] [--refine-iters 2] \
        [--k N]  (explicit k overrides the corpus-size pick)

Steady-state (daily) surface — the semantic twin of jobs/dedup.py
--store: pass ``--store <dir>``. The first run seeds the store (batch
SemDeDup + persist the frozen quantizer and kept-vector signatures);
later runs admit the batch incrementally in O(batch + collisions) —
new vectors are assigned to the STORED centroids, compared only
against bucket-colliding kept vectors, then batch-internally deduped
with the same keep-min-id rule. Re-running an admitted batch admits 0.
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


def run_semdedup(
    spark,
    input_path: str,
    output_dir: str,
    target_cluster_size: int = 4096,
    k: int | None = None,
    tau: float = 0.4,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    from pyspark.sql import functions as F

    from paddleocr_spark.functions.similarity import semantic_dedup_scaled

    df = spark.read.parquet(input_path)
    n = df.count()
    eff_k = k if k is not None else max(2, -(-n // target_cluster_size))
    out = semantic_dedup_scaled(
        df,
        target_cluster_size=target_cluster_size,
        k=eff_k,
        tau=tau,
        refine_iters=refine_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    dec_path = os.path.join(output_dir, "decisions")
    out.write.mode("overwrite").parquet(dec_path)
    dec = spark.read.parquet(dec_path)
    kept_ids = dec.filter(F.col("kept") == 1).select(id_col)
    kept_path = os.path.join(output_dir, "kept")
    df.join(kept_ids, id_col, "left_semi").write.mode("overwrite").parquet(
        kept_path
    )
    n_kept = dec.filter(F.col("kept") == 1).count()
    return dict(
        n=n,
        k=eff_k,
        target_cluster_size=target_cluster_size,
        tau=tau,
        kept=n_kept,
        dropped=n - n_kept,
        decisions_path=dec_path,
        kept_path=kept_path,
    )


def run_semdedup_store(
    spark,
    input_path: str,
    output_dir: str,
    store_dir: str,
    target_cluster_size: int = 4096,
    k: int | None = None,
    tau: float = 0.4,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Steady-state path: seed on first run, admit incrementally after."""
    from pyspark.sql import functions as F

    from paddleocr_spark.functions import semdedup_store as S

    df = spark.read.parquet(input_path)
    adm_path = os.path.join(output_dir, "admitted")
    if not S.store_exists(store_dir):
        stats = S.seed_semantic_store(
            df,
            store_dir,
            target_cluster_size=target_cluster_size,
            k=k,
            tau=tau,
            refine_iters=refine_iters,
            id_col=id_col,
            vec_col=vec_col,
        )
        # day-0 honors the --output contract too: the admitted set is
        # the store's kept vectors (ids + clusters, cheap column scan)
        S.read_store_vectors(spark, store_dir).select(
            F.col("vec_id").alias(id_col), "cluster"
        ).write.mode("overwrite").parquet(adm_path)
        stats["admitted_path"] = adm_path
    else:
        admitted, stats = S.admit_against_semantic_store(
            spark, store_dir, df, id_col=id_col, vec_col=vec_col
        )
        admitted.select(id_col, "cluster").write.mode("overwrite").parquet(adm_path)
        S.append_admitted(admitted, store_dir, vec_col=vec_col, id_col=id_col)
        admitted.unpersist()
        stats["admitted_path"] = adm_path
        # admission REUSES the frozen model's parameters; surface them
        # (and any differing CLI value) instead of silently ignoring
        m = S._read_model(store_dir)
        stats["params_from_store"] = dict(tau=m["tau"], n_planes=m["n_planes"],
                                          n_tables=m["n_tables"])
        if tau != m["tau"]:
            stats["ignored_args"] = dict(tau=tau)
    stats["store_total"] = S.read_store_vectors(spark, store_dir).count()
    stats["store_dir"] = store_dir
    return stats


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--store", default=None,
                    help="signature-store dir: seed on first run, admit after")
    ap.add_argument("--target-cluster-size", type=int, default=4096)
    ap.add_argument("--k", type=int, default=None)
    ap.add_argument("--tau", type=float, default=0.4)
    ap.add_argument("--refine-iters", type=int, default=2)
    ap.add_argument("--id-col", default="vec_id")
    ap.add_argument("--vec-col", default="embedding")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("paddleocr-spark-semdedup").getOrCreate()
    t0 = time.time()
    if args.store:
        stats = run_semdedup_store(
            spark,
            args.input,
            args.output,
            args.store,
            target_cluster_size=args.target_cluster_size,
            k=args.k,
            tau=args.tau,
            refine_iters=args.refine_iters,
            id_col=args.id_col,
            vec_col=args.vec_col,
        )
    else:
        stats = run_semdedup(
            spark,
            args.input,
            args.output,
            target_cluster_size=args.target_cluster_size,
            k=args.k,
            tau=args.tau,
            refine_iters=args.refine_iters,
            id_col=args.id_col,
            vec_col=args.vec_col,
        )
    stats["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
