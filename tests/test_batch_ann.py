"""Batch-query ANN (per-query top-k join) and banded embedding
near-dup: plan shape + recall on planted near-identical vectors."""

from __future__ import annotations

import math
import random
from itertools import takewhile

from pyspark.sql import functions as F

from paddleocr_spark.functions.similarity import (
    embed_near_dup_pairs,
    topk_cosine_batch,
)

SF_DIR = "/root/testdata/sf0.001"


def test_batch_topk_no_cartesian_product(spark):
    """The per-query top-k must compile to a bucket equi-join — never a
    CartesianProduct / BroadcastNestedLoopJoin over corpus x queries."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = topk_cosine_batch(e, qs, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = out.collect()
    n_queries = qs.count()
    assert 0 < len(rows) <= 5 * n_queries
    # per-query ranks are 1..k_i without gaps, scores non-increasing
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["cos_sim"]))
    for q, rs in per_q.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1)), q
        scores = [x[1] for x in rs]
        assert scores == sorted(scores, reverse=True), q


def test_batch_topk_self_is_rank1(spark):
    """Every query vector is in the corpus, shares its own bucket, and
    has cosine 1.0 with itself -> rank 1 must be the query itself."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = topk_cosine_batch(e, qs, k=3).filter(F.col("rank") == 1)
    for r in out.collect():
        assert r["vec_id"] == r["query_id"]
        assert abs(r["cos_sim"] - 1.0) < 1e-6


def _planted_vectors(n_background=120, dim=32, seed=11):
    rng = random.Random(seed)
    rows = []
    for i in range(n_background):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    # planted near-identical pairs: tiny perturbation of a base vector
    planted = []
    for p in range(4):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        a = 1000 + 2 * p
        b = 1001 + 2 * p
        rows.append((a, base))
        rows.append((b, [x + rng.gauss(0, 0.005) for x in base]))
        planted.append((a, b))
    return rows, planted


def test_banded_embed_near_dup_finds_planted_pairs(spark):
    """Production-parameterized banded LSH (16 planes x 4 tables) must
    recover planted near-identical pairs (cos ~0.9999) while emitting
    no false positives above the 0.99 threshold."""
    rows, planted = _planted_vectors()
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in embed_near_dup_pairs(df, threshold=0.99).collect()
    }
    assert set(planted) <= got, f"missed planted pairs: {set(planted) - got}"
    # verify every reported pair really is above threshold (exact check)
    vecs = dict(rows)
    for a, b in got:
        va, vb = vecs[a], vecs[b]
        d = sum(x * y for x, y in zip(va, vb))
        c = d / (math.sqrt(sum(x * x for x in va)) * math.sqrt(sum(x * x for x in vb)))
        assert c >= 0.99 - 1e-6, (a, b, c)


def test_semantic_dedup_keeps_one_of_planted_pair(spark):
    """SemDeDup invariants on planted near-identical vectors: an exact
    near-dup pair lands in the same cluster (cosine ~1 beats every
    seed-angle difference... by assignment both go wherever their
    shared direction points), and exactly the lower id survives; every
    row comes back exactly once with a kept flag."""
    from paddleocr_spark.functions.similarity import semantic_dedup

    rows, planted = _planted_vectors()
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )
    res = semantic_dedup(df, k=4, tau=0.95)
    out = res.collect()
    assert len(out) == len(rows)
    by_id = {r["vec_id"]: r for r in out}
    for a, b in planted:
        # near-identical directions -> same nearest seed
        assert by_id[a]["cluster"] == by_id[b]["cluster"], (a, b)
        # lower id is the representative, higher id is pruned
        assert by_id[a]["kept"] == 1, a
        assert by_id[b]["kept"] == 0, b
    # background vectors are random gaussians: at tau=0.95 none should
    # collide, so drops are exactly the planted halves
    n_dropped = sum(1 for r in out if r["kept"] == 0)
    assert n_dropped == len(planted)
    # cluster assignment is a pure per-row projection (the literal-
    # centroid argmax): no Exchange or Window below any node computing it
    lines = res._jdf.queryExecution().executedPlan().toString().splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    argmax = [i for i, line in enumerate(lines) if "array_max(" in line]
    assert argmax, lines
    for i in argmax:
        below = takewhile(lambda ln: depth(ln) > depth(lines[i]), lines[i + 1:])
        assert not any("Exchange" in ln or "Window" in ln for ln in below), lines


def test_kmeans_refine_recovers_planted_clusters(spark):
    """Lloyd refinement from rough seeds on 3 well-separated gaussian
    blobs: after a few rounds each refined centroid must sit close to
    its blob's true mean (closer than the inter-blob distance), and a
    literal-assignment pass on the refined centroids must put every
    point with its blob-mates."""
    import random

    from paddleocr_spark.functions.similarity import kmeans_refine

    rng = random.Random(7)
    dim = 16
    means = []
    rows = []
    for c in range(3):
        mu = [0.0] * dim
        mu[c * 5] = 10.0  # orthogonal, well-separated directions
        means.append(mu)
        for i in range(60):
            rows.append(
                (c * 1000 + i, [mu[d] + rng.gauss(0, 0.5) for d in range(dim)])
            )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )
    # rough seeds: one sample point from each blob, perturbed
    seeds = [(c, [x + 1.0 for x in rows[c * 60][1]]) for c in range(3)]
    cents = kmeans_refine(df, seeds, iters=3)
    assert [c for c, _ in cents] == [0, 1, 2]
    for c, v in cents:
        d_true = math.dist(v, means[c])
        assert d_true < 1.0, (c, d_true)  # blob radius ~0.5, separation ~14


def _synthetic_vectors(spark, n=10_000, dim=64, n_dups=100):
    """Deterministic 10k-vector frame: ids >= n-n_dups duplicate the
    vector of id-(n-n_dups) (planted exact dups); everything else is a
    unique arithmetic pattern."""
    base = n - n_dups
    src = F.when(F.col("id") >= base, F.col("id") - base).otherwise(F.col("id"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.pmod(F.xxhash64(src, i), F.lit(101)).cast("double") - 50.0
        )
        / 25.0,
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"), vec.cast("array<float>").alias("embedding")
    )


def test_semantic_dedup_scaled_bounds_candidates_at_k64(spark):
    """The production parameterization: k picked from corpus size
    (10k / 160 -> k >= 64), Lloyd-refined centroids, and the
    within-cluster pair scan bounded by banded LSH — per-cluster
    verified-candidate volume must stay far under the full
    (cluster_size choose 2) scan SemDeDup naively implies, and the
    planted duplicates must still be caught and dropped."""
    from paddleocr_spark.functions.similarity import semantic_dedup_scaled

    df = _synthetic_vectors(spark).cache()
    cand = semantic_dedup_scaled(
        df,
        target_cluster_size=156,  # 10k/156 -> k = 65
        tau=0.95,
        refine_iters=1,
        return_candidates=True,
    ).cache()
    sizes = (
        semantic_dedup_scaled(df, target_cluster_size=156, tau=0.95, refine_iters=1)
        .groupBy("cluster")
        .count()
        .collect()
    )
    per_cluster = {
        r["cluster"]: r["n"]
        for r in cand.groupBy("cluster").agg(F.count("*").alias("n")).collect()
    }
    for r in sizes:
        m = r["count"]
        full_scan = m * (m - 1) / 2
        got = per_cluster.get(r["cluster"], 0)
        # the bound: L/2^b = 2/256 of the full pair volume, x8 slack for
        # non-uniform sign buckets on structured vectors
        assert got <= max(120, full_scan * (2 / 256) * 8), (r["cluster"], m, got)

    out = semantic_dedup_scaled(
        df, target_cluster_size=156, tau=0.95, refine_iters=1
    )
    kept = {r["vec_id"]: r["kept"] for r in out.collect()}
    assert len(kept) == 10_000
    # every planted duplicate (the higher id of each identical pair)
    # was caught by the banded within-cluster scan: identical vectors
    # share every bucket of every table, so recall on exact dups is 1
    assert all(kept[9_900 + i] == 0 for i in range(100))
    assert all(kept[i] == 1 for i in range(100))
    cand.unpersist(); df.unpersist()
