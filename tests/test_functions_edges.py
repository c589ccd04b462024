"""Edge-input hardening in the functions layer (round-5 review):
null media payloads, self-loop CC pairs, zero-weight pagerank edges,
empty-text quality, and the store's id_col contract."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_multimodal_null_payload_rows_survive(spark):
    """A NULL binary payload used to TypeError inside the map (before
    the decoder's own error handling), killing the whole task; it must
    decode as an unknown/stub row instead."""
    from paddleocr_spark.functions.multimodal import (
        extract_av_meta,
        extract_media_meta,
    )

    df = spark.createDataFrame(
        [(1, b"not an image"), (2, None)], "doc_id bigint, payload binary"
    )
    for fn in (extract_media_meta, extract_av_meta):
        assert fn(df).count() == 2, fn.__name__


def test_two_phase_cc_keeps_self_loop_only_nodes(spark):
    """A node appearing only in self-loop pairs is a singleton
    component; the two-phase algorithm must emit it like propagation CC
    does — the non-convergence fallback may never change the node set."""
    from paddleocr_spark.functions.graph import (
        connected_components,
        connected_components_two_phase,
    )

    pairs = spark.createDataFrame([(5, 5), (1, 2)], "id_a bigint, id_b bigint")
    a = sorted(tuple(r) for r in connected_components(pairs).collect())
    b = sorted(tuple(r) for r in connected_components_two_phase(pairs).collect())
    assert a == b == [(1, 1), (2, 1), (5, 5)]


def test_pagerank_zero_weight_edge_does_not_poison_fold(spark):
    """A source whose out-weights sum to 0 made w/wout NULL; one NULL
    contribution nulls an exact left-fold, silently zeroing the whole
    dst in-rank (and diverging from the skip-nulls sum mode). Non-
    positive edges carry no mass and are filtered; both modes agree."""
    from paddleocr_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [("s", "d1", 0.0), ("x", "d1", 1.0), ("d1", "x", 1.0)],
        "src string, dst string, w double",
    )
    exact = {r["node"]: r["rank"] for r in pagerank(edges, iters=3).collect()}
    loose = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iters=3, exact_fold=False).collect()
    }
    assert abs(exact["d1"] - loose["d1"]) < 1e-12
    assert exact["d1"] > 0.2  # x's real contribution survives


def test_quality_score_empty_text_is_zero(spark):
    """Empty text made alnum/len NULL and the doc vanished from BOTH
    sides of any score threshold; empty now scores 0.0 (both engines —
    the SQL oracle carries the same case guard)."""
    from paddleocr_spark.functions.textstats import quality_score

    rows = (
        spark.createDataFrame([("",), ("hello world the of and",)], "text string")
        .select(quality_score(F.col("text")).alias("q"))
        .collect()
    )
    assert rows[0]["q"] == 0.0 and rows[1]["q"] > 0


def test_store_admission_honors_id_col(spark, tmp_path):
    """incremental_dedup_against_store's final semi-join hard-coded
    'doc_id', making the advertised id_col parameter unusable."""
    import paddleocr_spark.functions.dedup_store as S

    base = spark.createDataFrame(
        [(i, f"unique base document number {i} with words " * 3) for i in range(6)],
        "doc_id bigint, text string",
    )
    store = str(tmp_path / "sig_store")
    S.append_to_store(base, store)
    new = spark.createDataFrame(
        [(100, "a totally fresh new document with its own words entirely")],
        "page_id bigint, text string",
    )
    out = S.incremental_dedup_against_store(
        spark, store, new, id_col="page_id", text_col="text"
    )
    assert [r["page_id"] for r in out.collect()] == [100]


def test_hits_checkpoint_dir_mode(spark, tmp_path):
    """hits() accepts checkpoint_dir for reliable checkpoints (the
    module's cluster-safety rule) and produces the same scores."""
    from paddleocr_spark.functions.graph import hits

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 1.0)],
        "src string, dst string, w double",
    )
    local = {r["node"]: (r["hub"], r["authority"]) for r in hits(edges, iters=3).collect()}
    reliable = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(
            edges, iters=3, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert local == reliable and len(local) == 3
