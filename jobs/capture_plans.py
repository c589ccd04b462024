"""Regenerate PLANS.md: captured physical plans for the load-bearing
queries, with the scale-relevant properties called out. Run:
    python jobs/capture_plans.py
"""
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    from paddleocr_spark.session import get_spark
    from paddleocr_spark.sources.pages import ensure_pages
    from paddleocr_spark.operators.extract import extract
    from paddleocr_spark.plans.job import add_part_id, salted_repartition
    import paddleocr_spark.queries as Q
    from pyspark.sql import functions as F

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    SF = "/root/testdata/sf0.001"
    smoke = ensure_pages(SF)

    def formatted(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    sections = []

    pages = spark.read.parquet(os.path.join(smoke, "pages.parquet"))
    plan_df = extract(salted_repartition(add_part_id(pages, 16), 16, 4))
    sections.append((
        "Flagship extraction (production shape: salted repartition -> extract)",
        "ONE ArrowEvalPython (the stage-1 tokenizer UDF — the only Python on "
        "the hot path), ONE Exchange (the explicit salted repartition; "
        "everything after the UDF is per-row projection, zero further "
        "shuffles), html never read above the UDF.",
        formatted(plan_df),
    ))

    from paddleocr_spark.operators.extract import extract_fused

    fused_df = extract_fused(salted_repartition(add_part_id(pages, 16), 16, 4))
    sections.append((
        "Fused extraction (the production job: salted repartition -> "
        "one MapInPandas)",
        "The whole per-page pipeline in ONE Python stage emitting final "
        "columns — no ArrowEvalPython, no post-UDF HOF projections, the "
        "Arrow boundary carries extracted text + spans instead of every "
        "candidate block struct. One Exchange (the explicit salted "
        "repartition); the operator itself is narrow.",
        formatted(fused_df),
    ))

    sections.append((
        "Star join (region_revenue)",
        "Three BroadcastHashJoins — the fact table never shuffles before "
        "aggregation; partial aggregation is pushed map-side.",
        formatted(Q.q_region_revenue(spark, SF)),
    ))

    sections.append((
        "Column pruning + filter pushdown (token_stats / filtered scan)",
        "ReadSchema carries only doc_id+text; PushedFilters reaches the "
        "parquet scan for predicate queries.",
        formatted(
            spark.read.parquet(f"{SF}/lineitem.parquet")
            .filter(F.col("l_quantity") > 40)
            .select("l_orderkey", "l_quantity")
        ),
    ))

    sections.append((
        "Exact top-k (top_customers)",
        "TakeOrderedAndProject — per-partition heaps + driver merge of k "
        "rows, no global sort.",
        formatted(Q.q_top_customers(spark, SF)),
    ))

    sections.append((
        "As-of join (events_asof_purchase)",
        "No Join operator at all: the as-of pairing compiles to a single "
        "Window pass (last(purchase_ts, ignorenulls) over unbounded "
        "preceding) — one shuffle on user_id, no pair explosion.",
        formatted(Q.QUERIES["events_asof_purchase"](spark, SF)),
    ))

    from paddleocr_spark.operators.kie_stage import link_key_values_df

    sections.append((
        "KIE key-value linking (window form)",
        "Same as-of shape over the exploded blocks: nearest preceding "
        "key via last(...) ignorenulls — zero joins.",
        formatted(
            link_key_values_df(
                spark.createDataFrame(
                    [("u", 0, "h1", "T"), ("u", 1, "p", "v")],
                    "url string, block_id int, tag string, text string",
                )
            )
        ),
    ))

    sections.append((
        "Eval-set decontamination (decontaminate)",
        "The benchmark gram-hash set is the build side of a BroadcastHashJoin "
        "(LeftSemi-shaped via the aggregate): corpus grams stream map-side, "
        "never shuffle-joined; everything past the Generate is 8-byte "
        "xxhash64 keys, and only surviving (doc_id, hash) hits reach the "
        "distinct-count exchange.",
        formatted(Q.QUERIES["decontaminate"](spark, SF)),
    ))

    sections.append((
        "Bloom-prefiltered decontamination (decontaminate_bloom)",
        "The scale path for when the eval-gram hash set outgrows a "
        "comfortable broadcast: each of the k=3 bloom probes is a "
        "BroadcastHashJoin LeftSemi on a distinct-bit-positions table "
        "(ints, <= min(k*|bench|, m) rows), so the corpus gram stream "
        "passes the whole prefilter map-side; only bloom survivors reach "
        "the exact verify join that kills false positives — the output is "
        "value-identical to the exact path and shares its oracle.",
        formatted(Q.QUERIES["decontaminate_bloom"](spark, SF)),
    ))

    sections.append((
        "Repeated n-gram span coverage (dup_ngram_spans)",
        "Join-free: the frequency gate is a count(*) window over "
        "xxhash64(gram) — ONE exchange of 8-byte keys for the whole gram "
        "stream (no groupBy+self-join, no recomputation of the shingle "
        "transform), then one doc_id exchange for the O(hits) interval-union "
        "window. No Python, no join operator anywhere.",
        formatted(Q.QUERIES["dup_ngram_spans"](spark, SF)),
    ))

    sections.append((
        "URL/domain gating (url_filter)",
        "First-pass gate at scan speed: the host blocklist is the "
        "broadcast build side and every rule is a codegen string "
        "expression — rows are pruned before `text` is ever parsed, "
        "the corpus-level form of the reference's cheap-predicate-first "
        "discipline (db_postprocess.py:136-141).",
        formatted(Q.QUERIES["url_filter"](spark, SF)),
    ))

    sections.append((
        "Hashed-feature linear quality classifier (quality_linear)",
        "Model inference as a relational plan: the weight table IS the "
        "model and rides a BroadcastHashJoin against the exploded token "
        "stream; the forward pass (dot product, sigmoid) is whole-stage "
        "codegen arithmetic. ONE exchange (the per-doc aggregate, "
        "map-side combined). No Python anywhere.",
        formatted(Q.QUERIES["quality_linear"](spark, SF)),
    ))

    sections.append((
        "Semantic dedup (semantic_dedup, SemDeDup)",
        "The k collected seeds are baked in as literal arrays, so cluster "
        "assignment is a pure per-row argmax projection — zero shuffles, "
        "no window, no join until the within-cluster pair scan. The pair "
        "join exchanges only on the cluster key; norms are hoisted "
        "per-row so the per-pair work is one dot product. k bounds the "
        "intra-cluster n²/k² candidate volume at corpus scale.",
        formatted(Q.QUERIES["semantic_dedup"](spark, SF)),
    ))

    sections.append((
        "DSIR importance weights (dsir_weights)",
        "Both hashed-unigram LM tables are ≤256 rows and broadcast; the "
        "totals are 1-row broadcast cross joins. The corpus token stream "
        "shuffles exactly once (the per-doc aggregate, map-side "
        "combined); the log-ratio arithmetic is whole-stage codegen.",
        formatted(Q.QUERIES["dsir_weights"](spark, SF)),
    ))

    sections.append((
        "Training-sequence packing (seq_packing)",
        "Embarrassingly parallel concat-and-chunk: ONE exchange on the "
        "stream key, then pure window cumsum arithmetic — every chunk "
        "boundary is a function of the data, so packed shards are "
        "reproducible without a serial pass.",
        formatted(Q.QUERIES["seq_packing"](spark, SF)),
    ))

    sections.append((
        "Line-level dedup with rewrite (line_dedup_rewrite)",
        "Exactly two hash-keyed exchanges: segments shuffle once keyed "
        "by xxhash64(segment) for the corpus frequency window (8-byte "
        "keys — segment text never exchanges for the count), then once "
        "by doc_id for the order-preserving rebuild "
        "(array_sort(collect_list(struct(idx, line)))). No global "
        "window, no join, no Python; the rebuilt text is a pure "
        "function of the data under any partitioning.",
        formatted(Q.QUERIES["line_dedup_rewrite"](spark, SF)),
    ))

    sections.append((
        "Gopher document-level quality rules (gopher_rules)",
        "Zero exchanges, zero joins, zero Python: the entire "
        "MassiveText quality gate is one whole-stage-codegen "
        "projection over the scan (mean word length via the O(1) "
        "len(text) identity, bounds as integer cross-products). The "
        "cheapest pass in the pipeline, which is why it runs first.",
        formatted(Q.QUERIES["gopher_rules"](spark, SF)),
    ))

    sections.append((
        "C4 line cleaning with rewrite (c4_line_clean)",
        "Every C4 line rule is LOCAL (codegen projection on the "
        "exploded lines — no corpus-wide frequency, join, or window), "
        "so the ONLY exchange is the per-doc rebuild groupBy with its "
        "explicitly-ordered array_sort(collect_list(struct)) "
        "aggregate. A single-shuffle corpus pass at any scale.",
        formatted(Q.QUERIES["c4_line_clean"](spark, SF)),
    ))

    sections.append((
        "AV container metadata decode (media_meta_av)",
        "One ArrowEvalPython/MapInPandas stage directly over the scan "
        "projection — the payload column is consumed by the decode and "
        "never survives it (column-pruning discipline for binary "
        "columns at corpus scale); no exchange at all, the decode is "
        "embarrassingly parallel.",
        formatted(Q.QUERIES["media_meta_av"](spark, SF)),
    ))

    sections.append((
        "Recrawl change detection (crawl_diff)",
        "Only (page_key, doc_id, md5) enter the Exchange — the capture "
        "content is hashed in the scan-side Project and never shuffles; "
        "ONE window over the url-hash partition key computes rn + lead "
        "from the same WindowSpec (a single Window node), zero joins.",
        formatted(Q.QUERIES["crawl_diff"](spark, SF)),
    ))

    sections.append((
        "Head-field extraction (page_title_meta)",
        "A pure projection: three whole-stage-codegen regexp_extracts "
        "over the scanned batch, zero Exchanges, zero Python — the "
        "query shape where Spark matches a native engine on throughput.",
        formatted(Q.QUERIES["page_title_meta"](spark, SF)),
    ))

    sections.append((
        "Frontier expansion (frontier_expand)",
        "The outlink explode is narrow (text dropped before any "
        "exchange); the known-page anti-join strategy is left to "
        "Catalyst — broadcast while the known side fits (this capture), "
        "shuffle anti-join on the shared (host, path) key at corpus "
        "scale where it does not. The per-host rollup re-shuffles only "
        "the surviving new urls.",
        formatted(Q.QUERIES["frontier_expand"](spark, SF)),
    ))

    sections.append((
        "Crawl budget apportionment (crawl_budget)",
        "ONE corpus-wide shuffle (the per-host partial+final count agg, "
        "O(hosts) rows out); the budget total and leftover ride 1-row "
        "broadcasts and the largest-remainder ranking is a window over "
        "the host table only. AQE ReusedExchange collapses the shared "
        "demand subtree at runtime (same pattern as pmi_bigrams). The "
        "`div` integer division keeps quotas exact at any scale.",
        formatted(Q.QUERIES["crawl_budget"](spark, SF)),
    ))

    sections.append((
        "Revisit scheduling (revisit_schedule)",
        "ONE Exchange total: the window sorts (page_key, doc_id, md5) "
        "within the url-hash partitions and the per-page change-rate "
        "aggregate rides the SAME hashpartitioning(page_key) — "
        "Window -> HashAggregate with no second exchange; content "
        "never shuffles.",
        formatted(Q.QUERIES["revisit_schedule"](spark, SF)),
    ))

    sections.append((
        "robots.txt gate (robots_gate)",
        "The O(hosts) rule table broadcasts (one BroadcastHashJoin, one "
        "small-side Exchange for the hosts distinct); the RFC 9309 "
        "longest-match/allow-wins decision runs per document entirely "
        "in-expression (filter + array_max over the rule struct array) "
        "— zero per-doc shuffle, zero Python.",
        formatted(Q.QUERIES["robots_gate"](spark, SF)),
    ))

    sections.append((
        "Source skew audit (source_skew)",
        "The corpus total joins back as a 1-row BroadcastExchange — no "
        "whole-table window, so no single-partition funnel; the only "
        "shuffle is the per-source partial+final aggregate.",
        formatted(Q.QUERIES["source_skew"](spark, SF)),
    ))

    sections.append((
        "Host PageRank round (host_pagerank)",
        "Each of the 5 rounds is the canonical distributed shape: one "
        "shuffle join of the rank frame with the static (src, dst, p) "
        "transition frame, one per-dst aggregate, and the node-count N "
        "rides a 1-row BroadcastExchange (no driver action). No "
        "cartesian product, no whole-graph collect; the exact-fold "
        "collect_list is bounded by host in-degree. (Captured at "
        "iters=1 — the query's 5 rounds repeat this exact shape.)",
        formatted(
            __import__(
                "paddleocr_spark.functions.graph", fromlist=["pagerank"]
            ).pagerank(
                Q.QUERIES["host_link_graph"](spark, SF),
                iters=1,
                src_col="src_host",
                dst_col="dst_host",
                weight_col="n_links",
            )
        ),
    ))

    # bucketed co-located join: write two bucketed tables, show the
    # zero-Exchange joined plan
    from paddleocr_spark.sources.bucketed import cojoin, write_bucketed

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 1000).select(F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v"))
        b = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") % 5).alias("g"))
        write_bucketed(a, "plans_a_b", "k", n_buckets=8)
        write_bucketed(b, "plans_b_b", "k", n_buckets=8)
        sections.append((
            "Bucketed co-located join",
            "Both sides written bucketBy(8, k).sortBy(k): the join has ZERO "
            "Exchange and ZERO Sort — the shuffle happened once at ingest. "
            "At 10^12 rows this is the recurring-join strategy.",
            formatted(cojoin(spark, "plans_a_b", "plans_b_b", "k")),
        ))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("drop table if exists plans_a_b")
        spark.sql("drop table if exists plans_b_b")

    import tempfile

    from paddleocr_spark.sources import warc as Warc

    with tempfile.TemporaryDirectory() as wdir:
        Warc.write_warc(pages.limit(50), wdir, n_files=2, compress=True)
        sections.append((
            "WARC-member ingestion (binaryFile -> Arrow parse -> lang sniff)",
            "One BatchScan over binaryFile (one task per member — WARC is "
            "file-granular like the real crawl), ONE MapInPandas parse, lang "
            "sniff as a native projection above it. No shuffle until the "
            "pipeline's own salted repartition.",
            formatted(Warc.with_sniffed_lang(Warc.read_warc(spark, wdir))),
        ))

    # incremental snapshot read: the delta scan touches only the
    # window's appended files
    from paddleocr_spark.sources import warehouse as W

    with tempfile.TemporaryDirectory() as tdir:
        tbl = os.path.join(tdir, "tbl")
        base = pages.limit(200)
        s1 = W.append(base, tbl)
        burls = [r["url"] for r in base.select("url").collect()]
        W.append(pages.filter(~F.col("url").isin(burls)).limit(40), tbl)
        inc = W.read_incremental(spark, tbl, s1)
        n_files_delta = inc._jdf.queryExecution().executedPlan().toString().count(".parquet")
        sections.append((
            "Incremental snapshot read (read_incremental / extract --since-snapshot)",
            "The delta scan's file list is exactly the window's appended "
            "files (driver-side manifest diff — no Spark job to plan it); "
            "the base snapshot's files never appear. IO is proportional to "
            "what changed: a recrawl day costs the crawl, not the 100 TB "
            "table. Deletes committed in the window would add the same "
            "grouped anti-join as the snapshot scan (merge-on-read).",
            formatted(inc),
        ))

    # signature-store probe: the corpus store streams, the batch broadcasts
    from paddleocr_spark.functions import dedup_store as DS

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select("doc_id", "text")
    with tempfile.TemporaryDirectory() as sdir:
        store = os.path.join(sdir, "store")
        DS.append_to_store(docs.filter(F.col("doc_id") % 2 == 0), store)
        out_df = DS.incremental_dedup_against_store(
            spark, store, docs.filter(F.col("doc_id") % 2 == 1)
        )
        sections.append((
            "Steady-state dedup against the signature store (jobs/dedup.py --store)",
            "The corpus side is the store's (hash, band) rows — two "
            "column-pruned streaming scans (exact probe + band probe), both "
            "probed by BROADCAST batch-derived frames (every "
            "BroadcastExchange below builds from the batch, never the "
            "store; asserted in test_dedup_store). Corpus document bodies "
            "are structurally unreadable here: the store has no text "
            "column. Per-day cost is O(batch + collisions).",
            formatted(out_df),
        ))

    # CDC read with a bulk delete: keys stay a semi-joined DataFrame
    with tempfile.TemporaryDirectory() as tdir:
        tbl = os.path.join(tdir, "cdc_tbl")
        s1 = W.append(pages.limit(150), tbl)
        W.delete_where(spark, tbl, pages.limit(150).select("url"))
        sections.append((
            "Changelog read after a bulk delete (read_changes)",
            "The delete-row lookup: bucket partition filter (an IN over at "
            "most N_BUCKETS collected bucket ids) prunes the base scan at "
            "plan time, then a LeftSemi join against the delete-file "
            "DataFrame. NO url literal appears in the plan — a "
            "domain-level purge of millions of keys shuffles like any "
            "join instead of materializing on the driver.",
            formatted(W.read_changes(spark, tbl, s1)),
        ))

    # dup_ngram_spans skew-safe mode: frequent set broadcast, no window on h
    from paddleocr_spark.queries_curation import dup_ngram_spans_over

    sections.append((
        "Repeated n-gram spans, Zipf-head-safe mode (dup_ngram_spans_bcast)",
        "frequent_grams_via='broadcast': the gram-frequency gate is a "
        "partial-aggregated groupBy (hot grams collapse map-side) whose "
        "thresholded output BROADCASTS to the probe stream — no Window "
        "over the gram hash anywhere, so a billion-occurrence boilerplate "
        "gram never serializes one partition. The only Window left is the "
        "per-document interval merge.",
        formatted(dup_ngram_spans_over(docs, frequent_grams_via="broadcast")),
    ))

    # semantic dedup, production parameterization
    from paddleocr_spark.functions.similarity import semantic_dedup_scaled

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    sections.append((
        "SemDeDup production path (semantic_dedup_scaled / jobs/semdedup.py)",
        "Lloyd-refined centroids live in the plan as literals (zero-shuffle "
        "argmax assignment); the within-cluster pair scan joins on "
        "(cluster, table, bucket) — banded LSH bounds per-cluster work at "
        "(n/k)^2*L/2^b. k itself is picked from corpus size upstream "
        "(ceil(n / target_cluster_size)).",
        formatted(
            semantic_dedup_scaled(emb, k=4, tau=0.9, refine_iters=1)
        ),
    ))

    # structure-branch distributed twins (queries_struct.py)
    from paddleocr_spark.queries_struct import q_line_confidence, q_table_match

    sections.append((
        "TableMatch nearest-cell join (table_match)",
        "The cell grid is a FIXED-SIZE literal frame on the broadcast side "
        "of the crossJoin — the fragment (big) side never shuffles, and the "
        "argmin is a partial-aggregable min(struct(1-IoU, dist, cell_id)): "
        "map-side combine collapses each partition to one candidate per "
        "fragment before the single exchange on the group key.",
        formatted(q_table_match(spark, SF)),
    ))

    sections.append((
        "CTC line confidence (line_confidence)",
        "CTC selection (drop adjacent repeats, then blanks) is a lag window "
        "partitioned by document — bounded per-partition state, ONE "
        "exchange on doc_id; the mean is integer-exact (sum of centi-conf "
        "over count) so the DuckDB oracle reproduces the doubles "
        "bit-for-bit.",
        formatted(q_line_confidence(spark, SF)),
    ))

    from paddleocr_spark.queries_curation import q_bigram_logprob

    sections.append((
        "Stupid-backoff bigram LM scoring (bigram_logprob)",
        "Pair arrays are built IN-EXPRESSION (transform over a slice of "
        "the split array — no window, no positional self-join) and gram "
        "text never shuffles: everything past the Generate carries "
        "multi-arg xxhash64 keys. The uni/bigram count tables are "
        "map-side-partial groupBys that join back to the scoring stream "
        "(AQE broadcasts them at this SF; at corpus vocab they "
        "shuffle-join), T rides a 1-row broadcast cross join, and the "
        "only per-doc exchange is the final mean aggregation.",
        formatted(q_bigram_logprob(spark, SF)),
    ))

    from paddleocr_spark.queries_curation import (
        q_bpe_merges,
        q_host_quality_gate,
        q_span_dedup_keep_first,
    )

    sections.append((
        "BPE merge-rule learning (bpe_merges)",
        "Each round's argmax is a TakeOrderedAndProject (exact top-1 "
        "with map-side partial top-k — never a global sort) feeding a "
        "1-row BroadcastNestedLoopJoin into the next round's codegen "
        "string-merge projection; the corpus collapsed to the "
        "unique-word table before round 1, so every round is "
        "O(vocab), never O(tokens).",
        formatted(q_bpe_merges(spark, SF)),
    ))

    sections.append((
        "C4 first-occurrence span dedup (span_dedup_keep_first)",
        "The winner rank is ONE streaming row_number window whose "
        "exchange is keyed by xxhash64(segment) — no join, no collect "
        "— followed by the order-preserving per-document reassembly "
        "groupBy. The winner rule is the total order (doc_id, idx), "
        "so output is partitioning-independent.",
        formatted(q_span_dedup_keep_first(spark, SF)),
    ))

    sections.append((
        "Domain-level quality gate (host_quality_gate)",
        "The model forward pass is a BroadcastHashJoin against the "
        "O(model) weight table; token→doc and doc→source rollups are "
        "both map-side-combinable HashAggregates, so nothing but "
        "integer counters ever shuffles and the verdict table is "
        "O(sources).",
        formatted(q_host_quality_gate(spark, SF)),
    ))

    sections.append((
        "TrustRank spam mass (trustrank_spam)",
        "Two fixed-round pagerank unrolls over the SAME static "
        "transition frame — uniform and seed-personalized; the trusted "
        "seed set rides a BroadcastHashJoin onto the O(hosts) node "
        "frame, the final pr/tr combine is an O(hosts) equi-join, and "
        "per-round cost is identical to host_pagerank (exact-fold "
        "join+agg). Documents never enter the plan after the edge "
        "extraction.",
        formatted(Q.QUERIES["trustrank_spam"](spark, SF)),
    ))

    sections.append((
        "Mojibake repair (mojibake_fix)",
        "The gated decode(encode(s,'ISO-8859-1'),'UTF-8') round trip "
        "is whole-stage-codegen string work inside a CASE branch (the "
        "ANSI-strict decode only ever evaluates on detector-matched "
        "rows); ONE map-side-partial aggregate on source — text bytes "
        "cross no exchange, no join, no Python.",
        formatted(Q.QUERIES["mojibake_fix"](spark, SF)),
    ))

    sections.append((
        "Sitemap ingestion (sitemap_extract)",
        "The urlset parse is codegen regexp_extract_all + a narrow "
        "posexplode (page text pruned from every scan — the XML "
        "derives from doc_id); known-page resolution is an equi-join "
        "on the url key with strategy left to Catalyst (broadcast at "
        "this capture's size, shuffle join at corpus scale); the "
        "per-host rollup re-shuffles O(hosts).",
        formatted(Q.QUERIES["sitemap_extract"](spark, SF)),
    ))

    sections.append((
        "Politeness caps (politeness_cap)",
        "A pure projection ON TOP of crawl_budget's O(hosts) output: "
        "the crawl-delay, rate cap, planned, and deferred columns add "
        "ZERO exchanges beyond the ones the apportionment already "
        "pays (compare the crawl_budget capture above — same exchange "
        "set).",
        formatted(Q.QUERIES["politeness_cap"](spark, SF)),
    ))

    sections.append((
        "Gopher line-shape rules (gopher_line_rules)",
        "Lines are never exploded: per-doc bullet/ellipsis counts come "
        "from size(filter(sequence(...))) entirely in-expression, both "
        "thresholds are integer cross-products, and the plan is a "
        "single whole-stage-codegen projection — zero Exchanges, "
        "joins, Generates, or Python.",
        formatted(Q.QUERIES["gopher_line_rules"](spark, SF)),
    ))

    sections.append((
        "BM25 retrieval (bm25_topk)",
        "The O(queries) term list rides a BroadcastHashJoin onto the "
        "tf stream (the corpus never shuffles for the query join); N "
        "and Σdl are a 1-row BroadcastNestedLoopJoin; tokens exchange "
        "once for the (doc, term) tf aggregate and df re-uses the same "
        "term key; the exact-fold score sum and the per-query top-k "
        "window touch only matched docs.",
        formatted(Q.QUERIES["bm25_topk"](spark, SF)),
    ))

    sections.append((
        "HITS hubs/authorities (host_hits, one round shown via the final plan)",
        "Per round: two shuffle joins of the O(nodes) score frame with "
        "the static edge frame + two exact-fold aggregations; the L1 "
        "totals are 1-row frames broadcast back. The a/h mutual "
        "recursion is lineage-truncated per normalized frame (lazy "
        "localCheckpoint — values unchanged) because each round would "
        "otherwise DOUBLE the analyzed subtree twice (measured 190 s "
        "-> 12 s at sf0.001).",
        formatted(Q.QUERIES["host_hits"](spark, SF)),
    ))

    sections.append((
        "Token-balanced shard assignment (shard_assign)",
        "The global doc_id-ordered prefix sum with NO corpus-wide "
        "single-partition window: the doc-level cumsum window is keyed "
        "by the bucket column, the O(B) bucket offsets ride a window "
        "keyed by the super-bucket, and only the O(S) super-level "
        "offsets use an unkeyed window over a tiny frame. One corpus "
        "shuffle on the bucket key.",
        formatted(Q.QUERIES["shard_assign"](spark, SF)),
    ))

    sections.append((
        "Dedup-method agreement audit (dedup_agreement)",
        "Both candidate generators keep their own band-bucket plans; "
        "the agreement is a full-outer equi-join on the O(candidates) "
        "pair ids, and the exact-Jaccard verifier touches shingles "
        "only for docs semi-join-restricted to some pair — the "
        "verify-on-candidates discipline. Final rollup is O(3).",
        formatted(Q.QUERIES["dedup_agreement"](spark, SF)),
    ))

    sections.append((
        "Zipf-law fit (zipf_fit)",
        "One token shuffle into the vocab count table, a vocab-sized "
        "top-100 window, then the four regression sums fold a "
        "100-element array on a single row — exact-fold doubles, no "
        "Python.",
        formatted(Q.QUERIES["zipf_fit"](spark, SF)),
    ))

    out = ["# PLANS — captured physical plans (regenerate: `python jobs/capture_plans.py`)\n"]
    for title, note, plan in sections:
        plan = re.sub(r"file:[^\s,\]]*", "file:<elided>", plan)
        out.append(f"## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
