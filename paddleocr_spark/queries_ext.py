"""Driver-contract queries, extension set: as-of join, connected-
components dup clustering, 1-D containment suppression, multi-way join
breadth, explode fan-out, set ops, rows-frame windows, exact manual
median, argmax classification, histograms.

Same contract as `paddleocr_spark.queries`: each entry is a
(spark_fn, oracle_sql) pair over the driver parquet tables, value-exact
across engines (decimal-cast sums, integer arithmetic, explicit
tie-breaks on every window / top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# late-bound import at the bottom of queries.py merges these registries;
# importing helpers from queries here is safe because they are defined
# before that bottom import runs.
from paddleocr_spark.queries import SQL_LSH_PAIRS, _dec, _t
from paddleocr_spark.functions import dedup
from paddleocr_spark.functions.graph import connected_components


# ---------------------------------------------------------------------------
# As-of join (time-series primitive the reference lacks; training-data
# pipelines need it for feature attribution)
# ---------------------------------------------------------------------------

def q_events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click joined to the most recent strictly-prior
    purchase by the same user, reported as a microsecond delta.

    Spark has no ASOF JOIN; the scalable formulation is a single
    window pass — `last(purchase_ts, ignorenulls)` over an unbounded
    preceding rows frame — one shuffle on user_id, no join explosion,
    no per-key driver loop. (DuckDB expresses the same thing natively
    as ASOF JOIN; the oracle uses the unambiguous correlated-max form
    with the identical (ts, event_id) lexicographic tie-break.)
    """
    ev = _t(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("us")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("p_us", last_purchase)
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            (F.col("us") - F.col("p_us")).alias("us_since_purchase"),
        )
    )


SQL_EVENTS_ASOF_PURCHASE = """
with e as (select event_id, user_id, event_type, epoch_us(ts) us from events)
select e.event_id, e.user_id,
       e.us - (select max(p.us) from e p
               where p.user_id = e.user_id and p.event_type = 'purchase'
                 and (p.us < e.us or (p.us = e.us and p.event_id < e.event_id)))
         as us_since_purchase
from e where e.event_type = 'click'
"""


# ---------------------------------------------------------------------------
# Connected components over LSH candidate pairs (dup-cluster resolution)
# ---------------------------------------------------------------------------

def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster ids: connected components (iterative min-label
    propagation, functions/graph.py) over the MinHash-LSH candidate
    pairs. cluster_id = min doc_id of the component — deterministic and
    partitioning-independent. The oracle is a recursive-CTE transitive
    closure, feasible at oracle scale; the Spark side is the form that
    runs at 10^12 rows."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(d)
    cc = connected_components(pairs)
    return cc.select(F.col("id").alias("doc_id"), "cluster_id")


SQL_DUP_CLUSTERS = f"""
with recursive pairs as ({SQL_LSH_PAIRS}),
e as (
  select id_a a, id_b b from pairs
  union
  select id_b, id_a from pairs
),
n as (select distinct a id from e),
reach(id, r) as (
  select id, id from n
  union
  select e.a, reach.r from reach join e on e.b = reach.id
)
select id doc_id, min(r) cluster_id from reach group by id
"""


# ---------------------------------------------------------------------------
# 1-D containment suppression (relational form of the layout dedup)
# ---------------------------------------------------------------------------

def q_containment_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup as a relational operator (the layout-NMS
    analog, picodet_postprocess.py:272-296: a region fully contained in
    a higher-priority region is suppressed). Intervals are derived per
    lineitem within its order; a row is dropped iff another row of the
    same order contains its interval and wins the (score desc,
    linenumber asc) priority. One equi-shuffle on l_orderkey; the
    containment predicate stays inside each (small) group."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("lo"),
        (F.col("l_quantity") + F.col("l_discount") * 100).alias("hi"),
        F.col("l_extendedprice").alias("score"),
    )
    other = (
        li.select(
            F.col("l_orderkey").alias("o_key"),
            F.col("l_linenumber").alias("o_ln"),
            F.col("lo").alias("o_lo"),
            F.col("hi").alias("o_hi"),
            F.col("score").alias("o_score"),
        )
    )
    cond = (
        (F.col("l_orderkey") == F.col("o_key"))
        & (F.col("o_lo") <= F.col("lo"))
        & (F.col("o_hi") >= F.col("hi"))
        & (
            (F.col("o_score") > F.col("score"))
            | ((F.col("o_score") == F.col("score")) & (F.col("o_ln") < F.col("l_linenumber")))
        )
    )
    return li.join(other, cond, "left_anti").select(
        "l_orderkey", "l_linenumber", "score"
    )


SQL_CONTAINMENT_SUPPRESS = """
with iv as (
  select l_orderkey, l_linenumber, l_quantity lo,
         l_quantity + l_discount * 100 hi, l_extendedprice score
  from lineitem
)
select l_orderkey, l_linenumber, score from iv a
where not exists (
  select 1 from iv b
  where b.l_orderkey = a.l_orderkey
    and b.lo <= a.lo and b.hi >= a.hi
    and (b.score > a.score
         or (b.score = a.score and b.l_linenumber < a.l_linenumber))
)
"""


# ---------------------------------------------------------------------------
# Relational breadth: multi-way join + top-k, conditional aggregation
# ---------------------------------------------------------------------------

def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on both dims, 3-way join,
    aggregate, exact top-10. Customer is broadcast; orders↔lineitem is
    the one real shuffle (co-partitioned on orderkey at scale via
    bucketing)."""
    c = F.broadcast(
        _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15"))
    g = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
            ).cast("double").alias("revenue")
        )
    )
    return (
        g.orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


SQL_SHIPPING_PRIORITY = """
select l_orderkey, strftime(o_orderdate, '%Y-%m-%d') orderdate, o_orderpriority,
       cast(sum(cast(l_extendedprice as decimal(18,2)) *
                (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))) as double) revenue
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
where c_mktsegment = 'BUILDING'
  and o_orderdate < timestamp '1998-03-15'
  and l_shipdate > timestamp '1998-03-15'
group by l_orderkey, o_orderdate, o_orderpriority
order by revenue desc, l_orderkey
limit 10
"""


def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a broadcast-dim
    join — monthly share of PROMO-type part revenue."""
    li = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(_t(spark, sf_dir, "part"))
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - _dec("l_discount")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,2)")))
            .cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_PROMO_SHARE = """
select strftime(l_shipdate, '%Y-%m') ship_month,
       cast(sum(case when p_type = 'PROMO'
                     then cast(l_extendedprice as decimal(18,2)) *
                          (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
                     else cast(0 as decimal(18,2)) end) as double) promo_revenue,
       cast(sum(cast(l_extendedprice as decimal(18,2)) *
                (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))) as double) total_revenue,
       count(*) n_items
from lineitem join part on l_partkey = p_partkey
group by 1
"""


# ---------------------------------------------------------------------------
# Explode fan-out + top-k terms (corpus term statistics)
# ---------------------------------------------------------------------------

def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 terms: regexp tokenize -> explode -> count -> exact
    top-k. The explode shuffles (term, 1) pairs only; partial
    aggregation collapses per-partition counts before the exchange, so
    the shuffle is O(distinct terms), not O(tokens)."""
    d = _t(spark, sf_dir, "documents")
    terms = d.select(
        F.explode(F.expr("regexp_extract_all(text, '[A-Za-z0-9]+', 0)")).alias("t")
    ).select(F.lower("t").alias("term"))
    g = terms.groupBy("term").agg(F.count("*").alias("n"))
    return g.orderBy(F.desc("n"), F.col("term")).limit(20)


SQL_TOP_TERMS = """
select lower(t) term, count(*) n
from (select unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) t from documents)
group by 1 order by n desc, term limit 20
"""


# ---------------------------------------------------------------------------
# Set operations (distinct-set algebra over user behavior)
# ---------------------------------------------------------------------------

def q_user_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (§2.7): users who both clicked and purchased,
    minus those with an error in the deterministic 1/97 event sample
    (the modulo keeps the except leg selective — and the result
    non-empty — at every scale factor). Spark plans these as
    distinct-aggregating joins; all three legs shuffle only user_id."""
    ev = _t(spark, sf_dir, "events")

    def users_of(t: str) -> DataFrame:
        return ev.filter(F.col("event_type") == t).select("user_id")

    sampled_err = ev.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % 97 == 0)
    ).select("user_id")
    return users_of("click").intersect(users_of("purchase")).subtract(sampled_err)


SQL_USER_SETOPS = """
select user_id from events where event_type = 'click'
intersect
select user_id from events where event_type = 'purchase'
except
select user_id from events where event_type = 'error' and event_id % 97 = 0
"""


# ---------------------------------------------------------------------------
# Rows-frame window: trailing moving aggregate
# ---------------------------------------------------------------------------

def q_events_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 4-event moving aggregate per user (explicit
    rows-between frame, §2.5). Decimal-cast sum keeps the frame fold
    exact across engines regardless of internal evaluation order."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-3, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("mov_value"),
        F.count("*").over(w).cast("int").alias("mov_n"),
    )


SQL_EVENTS_MOVING_SUM = """
with e as (select event_id, user_id, value, epoch_us(ts) us from events)
select event_id, user_id,
       cast(sum(cast(value as decimal(18,6))) over w as double) mov_value,
       cast(count(*) over w as int) mov_n
from e
window w as (partition by user_id order by us, event_id
             rows between 3 preceding and current row)
"""


# ---------------------------------------------------------------------------
# Exact manual median (window row_number, no interpolation ambiguity)
# ---------------------------------------------------------------------------

def q_median_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower-median account balance per nation, computed with
    row_number + count over a window — engine-portable (no float
    interpolation, explicit (acctbal, custkey) tie order)."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wp = Window.partitionBy("c_nationkey")
    ranked = c.select(
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(
        "c_nationkey",
        F.col("c_acctbal").alias("median_acctbal"),
        F.col("n").alias("n_customers"),
    )


SQL_MEDIAN_ACCTBAL = """
with r as (
  select c_nationkey, c_acctbal,
         row_number() over (partition by c_nationkey
                            order by c_acctbal, c_custkey) rn,
         count(*) over (partition by c_nationkey) n
  from customer
)
select c_nationkey, c_acctbal median_acctbal, n n_customers
from r where rn = (n + 1) // 2
"""


# ---------------------------------------------------------------------------
# Per-row argmax classification (ClsPostProcess relational form)
# ---------------------------------------------------------------------------

def q_cls_argmax_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClsPostProcess as a relational operator (§2.4: per-row
    argmax+max over label probs, cls_postprocess.py): over the first 4
    embedding dims, emit (argmax index, confidence, flip decision).
    The flip rule mirrors the reference's `"180" and score > cls_thresh`
    gate (predict_cls.py:119-125). Pure per-row expressions — no
    shuffle, whole-stage codegen end to end."""
    e = _t(spark, sf_dir, "embeddings")
    probs = F.slice(F.col("embedding"), 1, 4)
    conf = F.array_max(probs)
    return e.select(
        "vec_id",
        F.array_position(probs, conf).cast("int").alias("pred_idx"),
        conf.cast("double").alias("conf"),
        ((F.array_position(probs, conf) == 2) & (conf.cast("double") > 0.15)).alias("flipped"),
    )


SQL_CLS_ARGMAX_EMBED = """
with p as (select vec_id, embedding[1:4] probs from embeddings)
select vec_id,
       cast(list_position(probs, list_max(probs)) as int) pred_idx,
       cast(list_max(probs) as double) conf,
       (list_position(probs, list_max(probs)) = 2
        and cast(list_max(probs) as double) > 0.15) flipped
from p
"""


# ---------------------------------------------------------------------------
# Histogram (corpus length distribution)
# ---------------------------------------------------------------------------

def q_doc_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document length histogram: integer bucketing + count + exact
    sums — the 'distribution profile' every corpus-curation pipeline
    starts with. Integer arithmetic only."""
    d = _t(spark, sf_dir, "documents")
    bucket = (F.floor(F.col("n_chars") / 200) * 200).cast("bigint")
    return d.groupBy(bucket.alias("len_bucket")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


SQL_DOC_LEN_HISTOGRAM = """
select cast(n_chars // 200 * 200 as bigint) len_bucket,
       count(*) n_docs, cast(sum(n_chars) as bigint) total_chars
from documents group by 1
"""


QUERIES_EXT = {
    "events_asof_purchase": q_events_asof_purchase,
    "dup_clusters": q_dup_clusters,
    "containment_suppress": q_containment_suppress,
    "shipping_priority": q_shipping_priority,
    "promo_share": q_promo_share,
    "top_terms": q_top_terms,
    "user_setops": q_user_setops,
    "events_moving_sum": q_events_moving_sum,
    "median_acctbal": q_median_acctbal,
    "cls_argmax_embed": q_cls_argmax_embed,
    "doc_len_histogram": q_doc_len_histogram,
}

ORACLES_EXT = {
    "events_asof_purchase": SQL_EVENTS_ASOF_PURCHASE,
    "dup_clusters": SQL_DUP_CLUSTERS,
    "containment_suppress": SQL_CONTAINMENT_SUPPRESS,
    "shipping_priority": SQL_SHIPPING_PRIORITY,
    "promo_share": SQL_PROMO_SHARE,
    "top_terms": SQL_TOP_TERMS,
    "user_setops": SQL_USER_SETOPS,
    "events_moving_sum": SQL_EVENTS_MOVING_SUM,
    "median_acctbal": SQL_MEDIAN_ACCTBAL,
    "cls_argmax_embed": SQL_CLS_ARGMAX_EMBED,
    "doc_len_histogram": SQL_DOC_LEN_HISTOGRAM,
}


# ---------------------------------------------------------------------------
# IVF approximate nearest neighbor (coarse-quantizer cells + in-cell search)
# ---------------------------------------------------------------------------

def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic coarse-quantizer cell per row, probe the
    query's 2 best cells, exact cosine top-5 within them (the
    inverted-file twin of the LSH-bucketed path; at scale `cell` is a
    partition key and the probe prunes the scan)."""
    from paddleocr_spark.functions import similarity
    from paddleocr_spark.queries import _qvec

    e = _t(spark, sf_dir, "embeddings")
    return similarity.topk_cosine_ivf(e, _qvec(spark, sf_dir), k=5, nprobe=2)


def _sql_sim_ann_ivf() -> str:
    from paddleocr_spark.functions import similarity as S

    qdot_j = (
        f"list_sum(list_transform(range(64), i -> "
        f"qv[i+1]::DOUBLE * ((({S.centroid_coef('i', 'j')}))::DOUBLE)))"
    )
    return f"""
with q as (select embedding qv from embeddings where vec_id = 0),
cells as (
  select j, {qdot_j} d
  from (select unnest(range({S.N_CENTROIDS})) j), q
),
probe as (select j + 1 cell from cells order by d desc, j limit 2),
e as (
  select vec_id, embedding, {S.sql_ivf_cell('embedding')} cell from embeddings
)
select vec_id, cell,
       round({S.sql_cosine('embedding', 'qv')}, 6) cos_sim
from e, q
where cell in (select cell from probe)
order by cos_sim desc, vec_id limit 5
"""


SQL_SIM_ANN_IVF = _sql_sim_ann_ivf()

QUERIES_EXT["sim_ann_ivf"] = q_sim_ann_ivf
ORACLES_EXT["sim_ann_ivf"] = SQL_SIM_ANN_IVF


# ---------------------------------------------------------------------------
# Dict lookup (the 6.6k-char vocab broadcast-map analog, §2.8)
# ---------------------------------------------------------------------------

_LANG_NAMES = {
    "en": "English", "zh": "Chinese", "es": "Spanish",
    "de": "German", "fr": "French",
}


def q_lang_dict_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary lookup as a literal map column (the CTC char-dict
    analog, rec_postprocess.py:24-49: id->char via a broadcast table).
    A literal `create_map` ships with the plan itself — zero join, zero
    shuffle beyond the aggregate; a 6.6k-entry vocab ships the same way
    (or as an explicit broadcast var feeding the stage UDF)."""
    d = _t(spark, sf_dir, "documents")
    pairs = []
    for k, v in _LANG_NAMES.items():
        pairs.extend([F.lit(k), F.lit(v)])
    m = F.create_map(*pairs)
    return (
        d.select(
            F.coalesce(m[F.col("lang")], F.lit("Other")).alias("lang_name")
        )
        .groupBy("lang_name")
        .agg(F.count("*").alias("n_docs"))
    )


_SQL_LANG_CASE = " ".join(
    f"when '{k}' then '{v}'" for k, v in _LANG_NAMES.items()
)
SQL_LANG_DICT_LOOKUP = f"""
select case lang {_SQL_LANG_CASE} else 'Other' end lang_name,
       count(*) n_docs
from documents group by 1
"""

QUERIES_EXT["lang_dict_lookup"] = q_lang_dict_lookup
ORACLES_EXT["lang_dict_lookup"] = SQL_LANG_DICT_LOOKUP


# ---------------------------------------------------------------------------
# JSON extraction + pivot (semi-structured props -> typed columns)
# ---------------------------------------------------------------------------

def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction as a typed column (the results-sink
    round-trip analog, predict_system.py:244-267 json.dumps/loads):
    `get_json_object` stays inside whole-stage codegen — no UDF, no
    shuffle before the aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count(k).alias("n_with_k"),
    )


SQL_JSON_PROPS = """
select event_type,
       cast(sum(cast(props->>'k' as bigint)) as bigint) sum_k,
       min(cast(props->>'k' as bigint)) min_k,
       max(cast(props->>'k' as bigint)) max_k,
       count(cast(props->>'k' as bigint)) n_with_k
from events group by event_type
"""


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts as one column per event type
    (Spark `groupBy().pivot()` with explicit values so the plan is a
    single pass — no second job to discover the pivot domain)."""
    types = ["click", "view", "purchase", "signup", "error"]
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, [*types])
        .select("user_id", *[F.col(t).cast("bigint").alias(f"n_{t}") for t in types])
    )


SQL_EVENT_PIVOT = """
select user_id,
       count(*) filter (event_type = 'click')    n_click,
       count(*) filter (event_type = 'view')     n_view,
       count(*) filter (event_type = 'purchase') n_purchase,
       count(*) filter (event_type = 'signup')   n_signup,
       count(*) filter (event_type = 'error')    n_error
from events group by user_id
"""

QUERIES_EXT["json_props"] = q_json_props
ORACLES_EXT["json_props"] = SQL_JSON_PROPS
QUERIES_EXT["event_pivot"] = q_event_pivot
ORACLES_EXT["event_pivot"] = SQL_EVENT_PIVOT


# ---------------------------------------------------------------------------
# Range join (cross-table interval overlap) + semi join
# ---------------------------------------------------------------------------

def q_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events banded by a small value-interval dimension
    (the cross-table form of the per-document interval-overlap join,
    §2.3 `_has_intersection`). The band table is tiny and broadcast —
    a BroadcastNestedLoopJoin over 4 rows is the right plan; at scale
    the bands become a partition dimension and the join prunes.

    The band table is a JVM-side VALUES LocalRelation, not
    ``createDataFrame`` over a Python list — the latter routes through
    applySchemaToPythonRDD and launches a Python RDD worker just to
    serve 4 rows (several seconds of first-use latency, and an
    ExistingRDD scan that blocks codegen on the build side)."""
    bands = spark.sql(
        """SELECT band, CAST(lo AS double) lo, CAST(hi AS double) hi FROM VALUES
           ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
           ('high', 150.0, 400.0), ('extreme', 400.0, 1e9) AS t(band, lo, hi)"""
    )
    ev = _t(spark, sf_dir, "events")
    j = ev.join(
        F.broadcast(bands),
        (ev.value >= bands.lo) & (ev.value < bands.hi),
    )
    return j.groupBy("band").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


SQL_VALUE_BAND_JOIN = """
with bands(band, lo, hi) as (values
  ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
  ('high', 150.0, 400.0), ('extreme', 400.0, 1000000000.0))
select band, count(*) n_events, count(distinct user_id) n_users
from events join bands on value >= lo and value < hi
group by band
"""


def q_purchasers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (existence filter, the complement of the resume
    anti-join): customers of nations that have at least one supplier
    with above-average balance."""
    s = _t(spark, sf_dir, "supplier")
    avg_bal = s.agg(F.avg("s_acctbal").alias("__avg"))
    rich = (
        s.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("s_acctbal") > F.col("__avg"))
        .select("s_nationkey")
    )
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(rich, c.c_nationkey == rich.s_nationkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_PURCHASERS_SEMI = """
select c_nationkey, count(*) n_customers from customer
where c_nationkey in (
  select s_nationkey from supplier
  where s_acctbal > (select avg(s_acctbal) from supplier))
group by c_nationkey
"""

QUERIES_EXT["value_band_join"] = q_value_band_join
ORACLES_EXT["value_band_join"] = SQL_VALUE_BAND_JOIN
QUERIES_EXT["purchasers_semi"] = q_purchasers_semi
ORACLES_EXT["purchasers_semi"] = SQL_PURCHASERS_SEMI


# ---------------------------------------------------------------------------
# Cube aggregation + SimHash near-dup pair join
# ---------------------------------------------------------------------------

def q_cube_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grouping-set cube over (returnflag, linestatus) — the
    grouping-sets completion of the rollup query (§2.4)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
    )


SQL_CUBE_STATUS = """
select l_returnflag, l_linestatus, count(*) n,
       cast(sum(cast(l_quantity as decimal(18,2))) as double) sum_qty
from lineitem group by cube (l_returnflag, l_linestatus)
"""


def q_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures as 4x16-bit band values — the
    production-parameterized signature (the 16-bit `simhash` query is
    the didactic miniature; 65,536 values saturate at corpus scale).
    One shuffle of (doc_id, word) pairs, partial aggregation map-side."""
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash64_bands(d)


SQL_SIMHASH64 = dedup.sql_simhash64_bands("documents")


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via BANDED 64-bit lookup: the signature
    splits into 4x16-bit band tables; a per-band equi-join generates
    candidates with pigeonhole-guaranteed recall for hamming<=3 (any 3
    differing bits leave >=1 band identical — unlike the old 8-bit
    prefix join, which missed pairs differing inside the prefix byte),
    then exact Hamming on the carried signature verifies. Bucket sizes
    are bounded (~n/65536 per band) so candidate volume is O(near-dups),
    never O(n²/buckets)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash64_near_dup_pairs(d)


SQL_SIMHASH_NEAR_DUP = dedup.sql_simhash64_near_dup("documents")

QUERIES_EXT["cube_status"] = q_cube_status
ORACLES_EXT["cube_status"] = SQL_CUBE_STATUS
QUERIES_EXT["simhash64"] = q_simhash64
ORACLES_EXT["simhash64"] = SQL_SIMHASH64
QUERIES_EXT["simhash_near_dup"] = q_simhash_near_dup
ORACLES_EXT["simhash_near_dup"] = SQL_SIMHASH_NEAR_DUP


def q_dup_clusters_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as dup_clusters, computed with the
    large-star/small-star algorithm (functions/graph.
    connected_components_two_phase) — the O(log n)-round path for
    adversarially deep candidate graphs. Checked against the identical
    recursive-CTE oracle."""
    from paddleocr_spark.functions.graph import connected_components_two_phase

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(d)
    cc = connected_components_two_phase(pairs)
    return cc.select(F.col("id").alias("doc_id"), "cluster_id")


QUERIES_EXT["dup_clusters_twophase"] = q_dup_clusters_twophase
ORACLES_EXT["dup_clusters_twophase"] = SQL_DUP_CLUSTERS


# ---------------------------------------------------------------------------
# Corpus curation: redaction + deterministic dataset split
# ---------------------------------------------------------------------------

def q_redact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing pass: count and strip URL/email mentions,
    emit the redacted-text digest (so the oracle proves the actual
    replacement bytes, not just the counts). Pure regexp columns —
    whole-stage codegen, no UDF, no shuffle before the (absent) agg."""
    d = _t(spark, sf_dir, "documents")
    url_re = r"https?://[^ ]+"
    email_re = r"[A-Za-z0-9_.]+@[A-Za-z0-9_.]+"
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), url_re, "<URL>"), email_re, "<EMAIL>"
    )
    return d.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{url_re}', 0)")).alias("n_urls"),
        F.size(F.expr(f"regexp_extract_all(text, '{email_re}', 0)")).alias("n_emails"),
        F.md5(redacted).alias("redacted_md5"),
    )


SQL_REDACT_TEXT = r"""
select doc_id,
       cast(len(regexp_extract_all(text, 'https?://[^ ]+')) as int) n_urls,
       cast(len(regexp_extract_all(text, '[A-Za-z0-9_.]+@[A-Za-z0-9_.]+')) as int) n_emails,
       md5(regexp_replace(regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g'),
                          '[A-Za-z0-9_.]+@[A-Za-z0-9_.]+', '<EMAIL>', 'g')) redacted_md5
from documents
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: a content-derived hash
    bucket (md5 of the doc id, engine-portable) -> 90/5/5 split. The
    split is a pure function of the row, so it is stable across runs,
    partitionings and engines — the property a training pipeline needs
    so no document migrates between splits when data is re-sharded."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


SQL_DATASET_SPLIT = """
with b as (
  select ('0x' || substr(md5(cast(doc_id as varchar)), 1, 4))::bigint % 100 bucket,
         n_chars
  from documents
)
select case when bucket < 90 then 'train'
            when bucket < 95 then 'val'
            else 'test' end split,
       count(*) n_docs, cast(sum(n_chars) as bigint) total_chars
from b group by 1
"""

QUERIES_EXT["redact_text"] = q_redact_text
ORACLES_EXT["redact_text"] = SQL_REDACT_TEXT
QUERIES_EXT["dataset_split"] = q_dataset_split
ORACLES_EXT["dataset_split"] = SQL_DATASET_SPLIT


def q_orders_monthly_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window over an aggregate: monthly order totals with
    previous-month delta (lag over the grouped series — the two-level
    plan shape reporting pipelines use; the window runs on the tiny
    aggregated output, not the fact table)."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("ym")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )
    w = Window.orderBy("ym")
    return monthly.select(
        "ym",
        "n_orders",
        "total",
        (F.col("n_orders") - F.lag("n_orders").over(w)).alias("orders_delta"),
    )


SQL_ORDERS_MONTHLY_DELTA = """
with m as (
  select strftime(o_orderdate, '%Y-%m') ym, count(*) n_orders,
         cast(sum(cast(o_totalprice as decimal(18,2))) as double) total
  from orders group by 1
)
select ym, n_orders, total,
       n_orders - lag(n_orders) over (order by ym) orders_delta
from m
"""

QUERIES_EXT["orders_monthly_delta"] = q_orders_monthly_delta
ORACLES_EXT["orders_monthly_delta"] = SQL_ORDERS_MONTHLY_DELTA


# Merge into the main registry here as well, so `import
# paddleocr_spark.queries_ext` first also yields a complete
# queries.QUERIES/ORACLES (the bottom-of-queries merge is a no-op in
# that import order because this module was still mid-import there).
from paddleocr_spark import queries as _queries  # noqa: E402

_queries.QUERIES.update(QUERIES_EXT)
_queries.ORACLES.update(ORACLES_EXT)


# ---------------------------------------------------------------------------
# Batch-query ANN: per-query top-k join (corpus-scale TableMatch analog)
# ---------------------------------------------------------------------------

def q_sim_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ANN top-k for a TABLE of query vectors (every round-1
    similarity entry point took one query row; a training-data
    retrieval pass needs millions). LSH-bucket equi-join with
    multi-probe on the query side + windowed row_number()<=k per query
    — no cartesian product anywhere in the plan."""
    from paddleocr_spark.functions import similarity

    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.topk_cosine_batch(e, qs, k=5)


def _sql_sim_batch_topk() -> str:
    from paddleocr_spark.functions import similarity

    return similarity.sql_topk_cosine_batch(
        "embeddings",
        "select vec_id query_id, embedding from embeddings where vec_id % 100 = 0",
        k=5,
    )


SQL_SIM_BATCH_TOPK = _sql_sim_batch_topk()

QUERIES_EXT["sim_batch_topk"] = q_sim_batch_topk
ORACLES_EXT["sim_batch_topk"] = SQL_SIM_BATCH_TOPK
_queries.QUERIES["sim_batch_topk"] = q_sim_batch_topk
_queries.ORACLES["sim_batch_topk"] = SQL_SIM_BATCH_TOPK


# ---------------------------------------------------------------------------
# warp_boxes + softmax-expectation decode (the last §2.8 scalar rows)
# ---------------------------------------------------------------------------

def q_warp_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp_boxes analog (picodet_postprocess.py:129-152): spans
    produced in canonicalized (0.5x) coordinates projected back to
    original char space — round(x/ratio), clip to [0, n_chars],
    min/max re-ordering. Pure integer/double column arithmetic."""
    from paddleocr_spark.functions import boxes

    d = _t(spark, sf_dir, "documents")
    # synthetic canonical-space span per doc: [n_chars/10, n_chars/3)
    s = (F.col("n_chars") / 10).cast("bigint")
    e = (F.col("n_chars") / 3).cast("bigint")
    ws, we = boxes.warp_spans(s, e, 0.5, F.col("n_chars"))
    return d.select(
        "doc_id", ws.alias("w_start"), we.alias("w_end"),
        (we - ws).alias("w_len"),
    )


def _sql_warp_spans() -> str:
    from paddleocr_spark.functions import boxes

    ws = boxes.sql_warp_span_bound("n_chars // 10", "0.5", "n_chars")
    we = boxes.sql_warp_span_bound("n_chars // 3", "0.5", "n_chars")
    return f"""
    select doc_id,
           least({ws}, {we}) w_start,
           greatest({ws}, {we}) w_end,
           greatest({ws}, {we}) - least({ws}, {we}) w_len
    from documents
    """


def q_softmax_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """softmax+expectation decode (picodet_postprocess.py:194-199):
    expected index under the softmaxed first-8-element score vector of
    each embedding — distribution-to-position regression as native
    higher-order functions."""
    from paddleocr_spark.functions import boxes

    e = _t(spark, sf_dir, "embeddings")
    head = F.slice(F.transform("embedding", lambda x: x.cast("double")), 1, 8)
    return e.select(
        "vec_id",
        F.round(boxes.softmax_expectation(head), 6).alias("expected_idx"),
    )


def _sql_softmax_decode() -> str:
    from paddleocr_spark.functions import boxes

    arr = "list_transform(embedding[1:8], x -> x::DOUBLE)"
    return f"""
    select vec_id, round({boxes.sql_softmax_expectation(arr)}, 6) expected_idx
    from embeddings
    """


SQL_WARP_SPANS = _sql_warp_spans()
SQL_SOFTMAX_DECODE = _sql_softmax_decode()

for _name, _q, _sql in [
    ("warp_spans", q_warp_spans, SQL_WARP_SPANS),
    ("softmax_decode", q_softmax_decode, SQL_SOFTMAX_DECODE),
]:
    QUERIES_EXT[_name] = _q
    ORACLES_EXT[_name] = _sql
    _queries.QUERIES[_name] = _q
    _queries.ORACLES[_name] = _sql


# ---------------------------------------------------------------------------
# Repetition-quality stats (Gopher-style corpus filters)
# ---------------------------------------------------------------------------

def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals used by corpus quality filters (the Gopher /
    MassiveText family): distinct-word ratio and the fraction of all
    word-bigrams taken by the single most frequent bigram. Pure
    higher-order functions per row — no shuffle, no UDF; the per-row
    distinct x total bigram count is bounded by document length."""
    from paddleocr_spark.functions.dedup import _spread
    from paddleocr_spark.functions.textstats import shingle_expr, words

    # spread first: the per-row distinct x total bigram scan is the cost
    # and must not ride a single-file scan partition (no-op at scale)
    d = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    # bind words/bigrams to columns FIRST: an inline shingle expression
    # referenced inside per-element lambdas is re-evaluated per
    # reference (measured 179s vs ~1s at sf0.1); a bound column is
    # computed once per row in the prior projection
    d = d.select("doc_id", "text", words(F.col("text")).alias("__w")).select(
        "doc_id", "__w",
        shingle_expr(F.col("__w"), F.col("text"), 2).alias("__bg"),
    )
    bg = F.col("__bg")
    top = F.array_max(
        F.transform(
            F.array_distinct(bg),
            lambda u: F.size(F.filter(bg, lambda x: x == u)),
        )
    )
    return d.select(
        "doc_id",
        F.size("__w").alias("n_words"),
        F.round(F.size(F.array_distinct("__w")) / F.size("__w"), 6).alias("distinct_ratio"),
        F.round(top / F.size(bg), 6).alias("top_bigram_frac"),
    )


def _sql_repetition_stats() -> str:
    from paddleocr_spark.functions.textstats import sql_shingles, sql_words

    w = sql_words("text")
    bg = sql_shingles("text", 2)
    top = (
        f"list_max(list_transform(list_distinct({bg}), "
        f"u -> len(list_filter({bg}, x -> x = u))))"
    )
    return f"""
    select doc_id,
           cast(len({w}) as int) n_words,
           round(len(list_distinct({w}))::DOUBLE / len({w}), 6) distinct_ratio,
           round(({top})::DOUBLE / len({bg}), 6) top_bigram_frac
    from documents
    """


SQL_REPETITION_STATS = _sql_repetition_stats()
QUERIES_EXT["repetition_stats"] = q_repetition_stats
ORACLES_EXT["repetition_stats"] = SQL_REPETITION_STATS
_queries.QUERIES["repetition_stats"] = q_repetition_stats
_queries.ORACLES["repetition_stats"] = SQL_REPETITION_STATS


# ---------------------------------------------------------------------------
# Approximate distinct (HLL++) — the 100 TB alternative to exact distinct
# ---------------------------------------------------------------------------

def q_event_reach_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type user reach via approx_count_distinct (HLL++, rsd 2%).

    At 10^12 rows an exact countDistinct shuffles every (type, user)
    pair; the sketch is fixed-size per group and merges map-side — the
    only viable reach counter at corpus scale. No DuckDB oracle entry:
    HLL implementations differ across engines, so the driver records
    the weaker rows-only check; the value contract (relative error vs
    exact within the configured rsd) is asserted in
    tests/test_approx.py instead."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count("*").alias("n_events"),
    )


QUERIES_EXT["event_reach_approx"] = q_event_reach_approx
_queries.QUERIES["event_reach_approx"] = q_event_reach_approx
# deliberately NO ORACLES entry (engine-specific sketch values)


# ---------------------------------------------------------------------------
# Production banded embedding near-dup (multi-table LSH), oracle-checked
# ---------------------------------------------------------------------------

def q_embed_near_dup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION embedding near-dup path under oracle check:
    L=4 independent 16-plane hash tables (65,536 buckets each) over
    `functions.similarity.embed_near_dup_pairs` — the corpus-scale
    formulation whose candidate volume is ~n²/65536 per table instead
    of the 16-bucket miniature's n²/16 (`q_embed_near_dup`).

    The synthetic embeddings have no high-cosine pairs (max ≈ 0.51),
    so the query PLANTS one exact near-duplicate per vector — a 1.5×
    scaled copy (same direction ⇒ cosine exactly 1, identical plane
    signs ⇒ collides in every table) — and must recover exactly those
    n pairs through the banded join; accidental same-bucket pairs are
    killed by the exact-cosine ≥ 0.9 verify in both engines.
    """
    from paddleocr_spark.functions import similarity

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * F.lit(1.5)).alias(
            "embedding"
        ),
    )
    both = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    ).unionByName(planted)
    return similarity.embed_near_dup_pairs(
        both, threshold=0.9, n_planes=16, n_tables=4
    )


def _sql_embed_near_dup_banded() -> str:
    from paddleocr_spark.functions.similarity import sql_cosine, sql_plane_dot

    def bucket_t(t: int, n_planes: int = 16) -> str:
        terms = " + ".join(
            f"(case when {sql_plane_dot('embedding', t * n_planes + j)} > 0 "
            f"then {1 << j} else 0 end)"
            for j in range(n_planes)
        )
        return f"cast({terms} as int)"

    tables = "\nunion all\n".join(
        f"select vec_id, embedding, {t} t, {bucket_t(t)} b from eb"
        for t in range(4)
    )
    return f"""
with eb as (
  select vec_id, list_transform(embedding, x -> x::DOUBLE) embedding from embeddings
  union all
  select vec_id + 100000, list_transform(embedding, x -> x::DOUBLE * 1.5) from embeddings
),
sigs as (
{tables}
)
select distinct a.vec_id id_a, b.vec_id id_b,
       round({sql_cosine('a.embedding', 'b.embedding')}, 6) cos_sim
from sigs a join sigs b on a.t = b.t and a.b = b.b and a.vec_id < b.vec_id
where round({sql_cosine('a.embedding', 'b.embedding')}, 6) >= 0.9
"""


SQL_EMBED_NEAR_DUP_BANDED = _sql_embed_near_dup_banded()
QUERIES_EXT["embed_near_dup_banded"] = q_embed_near_dup_banded
ORACLES_EXT["embed_near_dup_banded"] = SQL_EMBED_NEAR_DUP_BANDED
_queries.QUERIES["embed_near_dup_banded"] = q_embed_near_dup_banded
_queries.ORACLES["embed_near_dup_banded"] = SQL_EMBED_NEAR_DUP_BANDED


# ---------------------------------------------------------------------------
# Native session_window (the built-in session operator, batch mode),
# oracle-checked. Spark session semantics: a session's window is
# [first, last + gap); an event exactly `gap` after the previous one
# starts a NEW session (diff >= gap), unlike the lag formulation in
# q_events_sessionize which uses strict >.
# ---------------------------------------------------------------------------


def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions via F.session_window (30-min inactivity gap):
    n_sessions, n_events and the busiest session's event count."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("tss")
    )
    sess = ev.groupBy(
        "user_id", F.session_window("tss", "30 minutes")
    ).agg(F.count("*").alias("c"))
    return sess.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum("c").cast("bigint").alias("n_events"),
        F.max("c").cast("bigint").alias("max_session_events"),
    )


SQL_EVENTS_SESSION_WINDOW = """
with e as (
  select user_id, epoch_us(ts) us from events
), s as (
  select user_id, us,
         case when lag(us) over w is null
                or us - lag(us) over w >= 1800000000
              then 1 else 0 end new_s
  from e window w as (partition by user_id order by us)
), g as (
  select user_id,
         sum(new_s) over (partition by user_id order by us
                          rows between unbounded preceding and current row) sid
  from s
), per as (
  select user_id, sid, count(*) c from g group by 1, 2
)
select user_id,
       cast(count(*) as bigint) n_sessions,
       cast(sum(c) as bigint) n_events,
       cast(max(c) as bigint) max_session_events
from per group by user_id
"""

QUERIES_EXT["events_session_window"] = q_events_session_window
ORACLES_EXT["events_session_window"] = SQL_EVENTS_SESSION_WINDOW
_queries.QUERIES["events_session_window"] = q_events_session_window
_queries.ORACLES["events_session_window"] = SQL_EVENTS_SESSION_WINDOW


# ---------------------------------------------------------------------------
# KIE key-value linking (SER + RE analog)
# ---------------------------------------------------------------------------

def q_kie_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KIE linking (SerRePredictor analog — ppstructure/kie/
    predict_kie_token_ser_re.py:40-84, relation decode vqa_token_re_
    layoutlm_postprocess.py:37-76): SER labels each block key/value,
    RE links every value to the nearest PRECEDING key in reading
    order. This runs the engine's real window operator
    (operators/kie_stage.link_key_values_df — `last(key_id,
    ignorenulls)` over an unbounded-preceding frame: one shuffle on
    the doc key, zero joins) over blocks derived from the documents
    table (20-token chunks in reading order; the SER stage is a
    deterministic content classifier — md5-head — since the synthetic
    corpus has no headings, exactly as the quality/langid queries
    stand in their model scores).

    Scale shape: the whole query is explode + window + filter — no
    joins, whole-stage codegen outside the window, one exchange on
    url. At 10^12 docs the window partition is one document's blocks
    (bounded), never a corpus-wide key.

    Reading-order permutation evidence: before the window the rows are
    physically scrambled with a hash-order sortWithinPartitions (a
    local sort — no extra exchange), so this oracle row going green
    proves the link targets are recovered purely by the window's
    orderBy(block_id), never by arrival order — the subtle requirement
    of the reference's recovery sort (recovery_to_doc.py:106-152),
    where reading order is a *derived* column ordering, not the order
    rows happen to arrive in."""
    from paddleocr_spark.operators.kie_stage import link_key_values_df

    d = _t(spark, sf_dir, "documents")
    blocks = (
        d.select(
            F.col("doc_id").cast("string").alias("url"),
            F.split("text", " ").alias("__w"),
        )
        .select(
            "url",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, cast(ceil(size(__w) / 20.0) as int) - 1),"
                    " i -> array_join(slice(__w, i * 20 + 1, 20), ' '))"
                )
            ).alias("block_id", "btext"),
        )
        .select(
            "url",
            "block_id",
            F.when(F.substring(F.md5("btext"), 1, 1) < "4", F.lit("h2"))
            .otherwise(F.lit("p"))
            .alias("tag"),
            F.col("btext").alias("text"),
        )
    )
    scrambled = blocks.sortWithinPartitions(F.xxhash64("url", "block_id"))
    out = link_key_values_df(scrambled)
    return out.select(
        "url",
        F.col("value_block_id").cast("int").alias("value_block_id"),
        F.col("key_block_id").cast("int").alias("key_block_id"),
    )


SQL_KIE_LINKS = """
with tok as (select doc_id, str_split(text, ' ') w from documents),
blocks as (
  select doc_id, i idx, array_to_string(w[i*20+1 : i*20+20], ' ') b
  from tok, unnest(range(cast(ceil(len(w) / 20.0) as bigint))) t(i)
),
lab as (
  select cast(doc_id as varchar) url, cast(idx as int) block_id, b,
         (substr(md5(b), 1, 1) < '4'
          or (b like '%:' and length(b) <= 60)) is_key
  from blocks
),
linked as (
  select url, block_id, b, is_key,
         last_value(case when is_key then block_id end ignore nulls) over (
           partition by url order by block_id
           rows between unbounded preceding and current row) key_block_id
  from lab
)
select url, block_id value_block_id, cast(key_block_id as int) key_block_id
from linked where not is_key and b <> ''
"""

QUERIES_EXT["kie_links"] = q_kie_links
ORACLES_EXT["kie_links"] = SQL_KIE_LINKS
_queries.QUERIES["kie_links"] = q_kie_links
_queries.ORACLES["kie_links"] = SQL_KIE_LINKS


# ---------------------------------------------------------------------------
# pred_reverse (RTL flip) as a standalone driver query — the flip-gated
# run-reversal the fused extractor applies (SURVEY §2.8 row 57)
# ---------------------------------------------------------------------------

def q_rtl_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pred_reverse` (rec_postprocess.py:51-65) + the cls flip gate as
    one relational pass over the documents table: docs whose lang
    classifies RTL ('ar' — the deterministic cls analog, p180=0.95 >
    thresh) get their text split into maximal latin-ish runs / single
    other chars and the RUN LIST reversed; everything else passes
    through. Pure codegen (regexp_extract_all + reverse + array_join —
    the exact expression the fused extractor applies per span,
    operators/extract.rtl_reverse_expr); no shuffle at all beyond the
    scan."""
    from paddleocr_spark.operators.extract import rtl_reverse_expr

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        F.when(F.col("lang") == "ar", rtl_reverse_expr(F.col("text")))
        .otherwise(F.col("text"))
        .alias("out_text"),
    )


SQL_RTL_REVERSE = """
select doc_id, lang,
       case when lang = 'ar' then
         list_aggregate(
           list_reverse(regexp_extract_all(text,
             '[a-zA-Z0-9 :*./%+-]+|[^a-zA-Z0-9 :*./%+-]')),
           'string_agg', '')
       else text end out_text
from documents
"""

QUERIES_EXT["rtl_reverse"] = q_rtl_reverse
ORACLES_EXT["rtl_reverse"] = SQL_RTL_REVERSE
_queries.QUERIES["rtl_reverse"] = q_rtl_reverse
_queries.ORACLES["rtl_reverse"] = SQL_RTL_REVERSE
