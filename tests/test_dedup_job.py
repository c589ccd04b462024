"""jobs/dedup.py end-to-end: exact dups dropped, near-dup clusters
resolved to one representative."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_job(out_dir, input_path="/root/testdata/sf0.001/documents.parquet"):
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "dedup.py"),
        "--input", input_path, "--output", out_dir,
    ]
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(cmd, capture_output=True, text=True, env=env, check=True)
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def test_dedup_job_end_to_end(spark, tmp_path):
    out = str(tmp_path / "dedup_out")
    stats = _run_job(out)
    assert stats["n_input"] >= stats["n_after_exact"] >= stats["n_output"] > 0
    # every clustered loser is absent, every winner present exactly once
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    clusters = spark.read.parquet(os.path.join(out, "clusters"))
    ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    assert len(ids) == stats["n_output"]
    for r in clusters.collect():
        if r["doc_id"] != r["cluster_id"]:
            assert r["doc_id"] not in ids
        else:
            assert r["doc_id"] in ids
    # near-dup clustering actually fired on this fixture
    assert stats["n_clustered_docs"] > 0


def test_dedup_job_empty_input(spark, tmp_path):
    """Zero-row input: the job completes with empty outputs, no crash
    (the CC loop and LSH banding must tolerate empty frames)."""
    src = str(tmp_path / "empty.parquet")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(0) \
        .write.parquet(src)
    out = str(tmp_path / "out")
    stats = _run_job(out, src)
    assert stats["n_input"] == 0 and stats["n_output"] == 0


def test_dedup_plan_no_broadcast_of_losers(spark):
    """The final corpus anti-join must not force a broadcast of the
    loser set (unbounded at corpus scale — VERDICT r1). With the
    auto-broadcast threshold disabled and no hint in the plan, the
    anti-join must compile to a shuffle join; a lingering broadcast
    hint would still produce a BroadcastExchange here."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    from dedup import build_dedup  # noqa: E402

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _, _, corpus = build_dedup(spark, docs)
        plan = corpus._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan
        assert "BroadcastExchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_incremental_dedup_invariants(spark, tmp_path):
    """Incremental mode: (a) the grown corpus contains no remaining
    near-dup candidate pairs, (b) base rows are never dropped, (c)
    re-ingesting the same batch admits nothing (idempotence)."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    from dedup import build_dedup, build_incremental_dedup
    from paddleocr_spark.functions import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    batch1 = docs.filter("doc_id % 2 = 0")
    batch2 = docs.filter("doc_id % 2 = 1")

    # establish the corpus from batch1 with the full job
    _, _, corpus1 = build_dedup(spark, batch1)
    base = corpus1.select("doc_id", "text")

    admitted = build_incremental_dedup(spark, base, batch2)
    grown = base.unionByName(admitted.select("doc_id", "text"))

    # (a) no near-dup candidates survive in the grown corpus
    assert D.lsh_candidate_pairs(grown).count() == 0
    # (b) every base doc is still present
    assert grown.join(base, "doc_id", "left_semi").count() == base.count()
    # (c) idempotence: the same batch again admits zero docs
    again = build_incremental_dedup(spark, grown, batch2)
    assert again.count() == 0
    # sanity: the increment actually admitted something
    assert admitted.count() > 0


def test_build_dedup_winner_best_keeps_longest(spark):
    """winner='best' keeps the LONGEST doc per near-dup cluster (doc_id
    tie-break) — cross-checked against the dedup_keep_best driver
    query's rule on planted near-dups — while winner='min_id' keeps the
    smallest id; singletons survive under both."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs"))
    from dedup import build_dedup
    from pyspark.sql import functions as F

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [
        (1, base + " one extra"),          # near-dup cluster {1,2,3}
        (2, base + " two extra words here"),  # longest -> best winner
        (3, base),
        (7, "completely different singleton text with its own words"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    _, _, corpus_min = build_dedup(spark, docs)
    _, _, corpus_best = build_dedup(spark, docs, winner="best")
    ids_min = {r.doc_id for r in corpus_min.select("doc_id").collect()}
    ids_best = {r.doc_id for r in corpus_best.select("doc_id").collect()}

    assert 7 in ids_min and 7 in ids_best  # singleton always survives
    # the cluster must collapse to exactly one representative each way
    assert ids_min & {1, 2, 3} == {1}
    assert ids_best & {1, 2, 3} == {2}
