"""Similarity search over embedding columns (`array<float>`).

Brute-force cosine top-k is the exact baseline: a broadcast of the query
vector against a single pass over the table — no shuffle at all, the
top-k is a TakeOrdered (per-partition heap + driver merge of k rows),
which is exactly the plan you want at 10^12 rows.

The scale path is LSH bucketing (random-hyperplane signs): a 4-bit
bucket id computed per-row from deterministic integer hyperplanes; the
search then touches only the query's bucket (~1/16 of the data; in a
real deployment the bucket is an Iceberg partition key so the scan
prunes to it). An IVF variant would replace hyperplanes with centroids;
the plumbing is identical.

All arithmetic is float→double elementwise, summed left-to-right, so
the DuckDB oracle agrees bitwise (verified before rounding at 6 dp).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_PLANES = 4  # LSH hyperplane count => 2^4 buckets


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i] in double, left-to-right (order-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def plane_coef(i: str | int, j: int) -> str:
    """Deterministic pseudo-random hyperplane coefficient in [-3, 3]:
    ((i+1)*(j+3)) % 7 - 3 for element index i (0-based), plane j."""
    return f"(({i}+1)*({j}+3)) % 7 - 3"


def plane_dot(a: Column, j: int) -> Column:
    """Dot of a vector with deterministic hyperplane j."""
    return F.aggregate(
        F.transform(
            a,
            lambda x, i: x.cast("double")
            * (((i + 1) * (j + 3)) % 7 - 3).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lsh_bucket(a: Column, n_planes: int = N_PLANES) -> Column:
    """Sign-bit bucket id over the deterministic hyperplanes."""
    acc = F.lit(0)
    for j in range(n_planes):
        acc = acc + F.when(plane_dot(a, j) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return acc.cast("int")


def topk_cosine(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force exact top-k by cosine to the (single-row) query."""
    q = F.broadcast(query_df.select(F.col(vec_col).alias("__qv")))
    j = df.crossJoin(q)
    scored = j.select(
        id_col, F.round(cosine(F.col(vec_col), F.col("__qv")), 6).alias("cos_sim")
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def topk_cosine_lsh(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: restrict the scan to the query's LSH bucket, then exact
    top-k within it (bucket predicate prunes ~15/16 of the data)."""
    q = F.broadcast(
        query_df.select(
            F.col(vec_col).alias("__qv"), lsh_bucket(F.col(vec_col)).alias("__qb")
        )
    )
    cand = df.withColumn("__b", lsh_bucket(F.col(vec_col))).crossJoin(q).filter(
        F.col("__b") == F.col("__qb")
    )
    scored = cand.select(
        id_col,
        F.col("__b").alias("bucket"),
        F.round(cosine(F.col(vec_col), F.col("__qv")), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


# ---------------------------------------------------------------- SQL mirrors

def sql_dot(a: str, b: str) -> str:
    return f"list_sum(list_transform(list_zip({a}, {b}), x -> x[1]::DOUBLE * x[2]::DOUBLE))"


def sql_cosine(a: str, b: str) -> str:
    sq = "list_sum(list_transform({v}, x -> x::DOUBLE * x::DOUBLE))"
    return (
        f"{sql_dot(a, b)} / (sqrt({sq.format(v=a)}) * sqrt({sq.format(v=b)}))"
    )


def sql_plane_dot(vec: str, j: int, dim: int = 64) -> str:
    return (
        f"list_sum(list_transform(range({dim}), i -> {vec}[i+1]::DOUBLE * "
        f"(({plane_coef('i', j)})::DOUBLE)))"
    )


def sql_lsh_bucket(vec: str, n_planes: int = N_PLANES, dim: int = 64) -> str:
    terms = " + ".join(
        f"(case when {sql_plane_dot(vec, j, dim)} > 0 then {1 << j} else 0 end)"
        for j in range(n_planes)
    )
    return f"cast({terms} as int)"


# ---------------------------------------------------------------- IVF variant

N_CENTROIDS = 8  # coarse-quantizer cells
_IVF_DIM = 64


def centroid_coef(i: str | int, j: str | int) -> str:
    """Deterministic pseudo-random centroid coefficient in [-5, 5]:
    ((i+1)*(j+5)) % 11 - 5 for element i, centroid j. A real
    deployment trains centroids with offline k-means and broadcasts
    them; the plumbing (cell assignment, probe, in-cell search) is
    identical and is what this implements."""
    return f"(({i}+1)*({j}+5)) % 11 - 5"


def centroid_dots(a: Column, n: int = N_CENTROIDS) -> Column:
    """array<double> of v·c_j for j in 0..n-1 (nested higher-order
    functions, no UDF)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda j: F.aggregate(
            F.transform(
                a,
                lambda x, i: x.cast("double")
                * (((i + 1) * (j + 5)) % 11 - 5).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def ivf_cell(a: Column) -> Column:
    """Cell id 1..N_CENTROIDS: first argmax of the centroid dots
    (max-inner-product coarse assignment, ties to the lowest j)."""
    d = centroid_dots(a)
    return F.array_position(d, F.array_max(d)).cast("int")


def topk_cosine_ivf(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: assign every row to its coarse cell, probe the query's
    nprobe best cells, exact cosine top-k within them. The probe-cell
    computation collects ONE row (the query) — at scale the cell is an
    Iceberg partition key, so the IN-filter prunes the scan to
    nprobe/N_CENTROIDS of the data."""
    qrow = query_df.select(
        F.col(vec_col).alias("qv"), centroid_dots(F.col(vec_col)).alias("qd")
    ).collect()[0]
    dots = list(qrow["qd"])
    probe = [
        j + 1
        for j in sorted(range(len(dots)), key=lambda j: (-dots[j], j))[:nprobe]
    ]
    q = F.broadcast(query_df.select(F.col(vec_col).alias("__qv")))
    cand = (
        df.withColumn("cell", ivf_cell(F.col(vec_col)))
        .filter(F.col("cell").isin(probe))
        .crossJoin(q)
    )
    scored = cand.select(
        id_col,
        "cell",
        F.round(cosine(F.col(vec_col), F.col("__qv")), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def sql_centroid_dots(vec: str, n: int = N_CENTROIDS, dim: int = _IVF_DIM) -> str:
    return (
        f"list_transform(range({n}), j -> "
        f"list_sum(list_transform(range({dim}), i -> "
        f"{vec}[i+1]::DOUBLE * (({centroid_coef('i', 'j')})::DOUBLE))))"
    )


def sql_ivf_cell(vec: str) -> str:
    d = sql_centroid_dots(vec)
    return f"cast(list_position({d}, list_max({d})) as int)"


# ------------------------------------------------------------------
# Batch-query ANN: per-row top-k for N query vectors (the corpus-scale
# TableMatch.match_result analog, ppstructure/table/matcher.py:77-101 —
# there each OCR box argmins over cells per document; here each query
# vector top-ks over the corpus, distributed)
# ------------------------------------------------------------------

def topk_cosine_batch(
    df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = N_PLANES,
    probe_radius: int = 1,
) -> DataFrame:
    """Per-query ANN top-k for a whole table of query vectors.

    Plan shape (the part that matters at scale):
    - corpus rows get their LSH bucket once (pure column exprs);
    - each QUERY row explodes to its probe set — its own bucket plus
      every bucket within `probe_radius` bit flips (multi-probe buys
      recall on the small side of the join; the corpus side never
      explodes);
    - bucket equi-join (shuffle hash join on a bounded key — never a
      cartesian product; at 10^12 rows the bucket is the partition
      key and the join co-locates);
    - exact cosine + `row_number() <= k` per query id.

    A (query, corpus) pair can match at most one probe value (a corpus
    row has exactly one bucket), so no dedup is needed before ranking.
    """
    from pyspark.sql import Window

    if probe_radius not in (0, 1):
        raise ValueError("probe_radius must be 0 or 1")
    probes = [F.col("__qb")]
    if probe_radius == 1:
        probes += [
            F.col("__qb").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)
        ]
    q = queries_df.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv"),
        lsh_bucket(F.col(vec_col), n_planes).alias("__qb"),
    ).select(
        query_id_col, "__qv", F.explode(F.array(*probes)).alias("__probe")
    )
    c = df.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(F.col(vec_col), n_planes).alias("__b")
    )
    j = c.join(q, F.col("__b") == F.col("__probe"))
    scored = j.select(
        query_id_col,
        id_col,
        F.round(cosine(F.col(vec_col), F.col("__qv")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def sql_topk_cosine_batch(
    table: str,
    queries_cte: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = N_PLANES,
    probe_radius: int = 1,
) -> str:
    """DuckDB mirror of topk_cosine_batch (same buckets, same probes,
    same tie-break). `queries_cte` must select (query_id, embedding)."""
    probe_list = f"[{sql_lsh_bucket(vec_col)}]"
    if probe_radius == 1:
        flips = ", ".join(
            f"xor({sql_lsh_bucket(vec_col)}, {1 << j})" for j in range(n_planes)
        )
        probe_list = f"[{sql_lsh_bucket(vec_col)}, {flips}]"
    return f"""
    with qsrc as ({queries_cte}),
    q as (
      select {query_id_col}, {vec_col} __qv,
             unnest({probe_list}) __probe
      from qsrc
    ),
    c as (
      select {id_col}, {vec_col}, {sql_lsh_bucket(vec_col)} __b from {table}
    ),
    scored as (
      select q.{query_id_col}, c.{id_col},
             round({sql_cosine(f'c.{vec_col}', 'q.__qv')}, 6) cos_sim
      from c join q on c.__b = q.__probe
    )
    select {query_id_col}, {id_col}, cos_sim, cast(rank as int) rank from (
      select *, row_number() over (
        partition by {query_id_col} order by cos_sim desc, {id_col}
      ) rank from scored
    ) where rank <= {k}
    """


# ------------------------------------------------------------------
# Banded multi-table LSH near-dup over embeddings (production path)
# ------------------------------------------------------------------

def embed_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 16,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding near-duplicate pairs at corpus scale: L independent
    random-hyperplane hash tables of b planes each (the vector-space
    twin of MinHash banding). A pair is a candidate iff it collides in
    ANY table; exact cosine (hoisted norms) verifies >= threshold.

    Parameterization: b=16 planes => 65,536 buckets per table (bounded
    candidate volume, ~n²/65536 per table), L=4 tables for recall —
    collision prob per table at cosine c is (1 - acos(c)/pi)^b, so for
    true near-dups (c >= 0.95, bit-agreement ~0.90) one-table recall
    ~0.19 and 4-table recall ~0.57; raise n_tables for higher recall,
    n_planes for fewer candidates. The 4-plane/16-bucket
    `q_embed_near_dup` query is the oracle-scale miniature of this.
    """
    from paddleocr_spark.functions.dedup import _spread

    # the banded-bucket signature block is THE shared definition
    # (_with_band_buckets — also the semdedup/store signature path), so
    # the plane formula and bucket packing can never diverge between
    # the near-dup join and the signature stores
    sigs = _with_band_buckets(
        _spread(df, id_col)
        .select(id_col, vec_col)
        .withColumn("__nrm", F.sqrt(dot(F.col(vec_col), F.col(vec_col)))),
        vec_col,
        n_planes,
        n_tables,
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__t") == F.col("b.__t"))
            & (F.col("a.__b") == F.col("b.__b"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
                / (F.col("a.__nrm") * F.col("b.__nrm")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )
    return cand


def _d_lit(v: float) -> str:
    """Double literal via repr() (shortest round-trip form) — the SQL
    parser reads it back to the identical double. ONE definition shared
    by flat assignment and coarse probing (they must encode literals
    identically or the two IVF levels diverge)."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _cos_struct(cid: int, vec, nrm: float, vec_col: str) -> str:
    """named_struct('cs' = rounded cosine vs one centroid, 'nc' = -cid)
    — the shared centroid-score encoding; argmax/sort on it breaks
    ties toward the smallest cell id."""
    lits = ", ".join(_d_lit(x) for x in vec)
    return (
        "named_struct('cs', round(aggregate(zip_with("
        f"{vec_col}, array({lits}), "
        "(x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v) "
        f"/ (__nrm * {_d_lit(nrm)}), 6), 'nc', {-int(cid)})"
    )


def _centroid_argmax(cents: list, vec_col: str) -> Column:
    """Nearest-centroid assignment as ONE F.expr string: the Column-API
    build was k x dim F.lit py4j calls (~2s of driver time per plan
    build at k=8, dim=64, and quadratically worse at scaled k); the SQL
    text parses JVM-side instantly. ``cents`` is [(cluster_id, vector,
    norm)]; the input frame must carry a per-row ``__nrm`` column.
    Returns the argmax struct — ``-best['nc']`` is the assigned
    cluster id."""

    def _struct(cid: int, vec, nrm: float) -> str:
        return _cos_struct(cid, vec, nrm, vec_col)

    return F.expr(
        "array_max(array("
        + ", ".join(_struct(c, v, n) for c, v, n in cents)
        + "))"
    )


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    tau: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) as a relational plan: cluster the
    embedding space into k cells, then inside each cell drop every
    vector whose cosine to a lower-id cell-mate is >= tau — one
    representative survives per semantic-duplicate set. Returns
    (id_col, cluster:int, kept:int) for every input row.

    Seeds are the min-id member of each salted-md5 id bucket —
    deterministic and engine-portable (no float-unstable Lloyd mean; a
    production refinement would iterate assignment+mean with this same
    plan). The k seed rows are COLLECTED (an O(k) driver action, the
    MLlib-style broadcast-centroid pattern) and baked into the plan as
    literal arrays, so assignment is a pure per-row argmax expression:
    narrow, zero-shuffle, and cheap for the pair join's self-reference
    to recompute (the seeds-as-DataFrame formulation re-ran the whole
    seed window on every branch — 3x the cost). The seed nrm is the
    engine-computed value, collected, so both engines agree bit-for-bit.

    The pair scan is confined within clusters — k is the knob that
    keeps the intra-cluster n²/k² pair volume tractable at corpus
    scale, which is the entire point of SemDeDup vs a global n² pass.
    Norms are hoisted per-row ahead of the pair join.

    The probe side of the pair join is spread across cores before the
    per-pair cosine verify: the broadcast-hash pair join inherits the
    probe's partitioning, so a narrow single-file scan would otherwise
    run the whole n²/k verify on ONE task (measured 6.9s -> ~1s at
    sf0.1). At corpus scale the scan already has >= cores partitions
    and the spread is a no-op (see dedup._spread).
    """
    from paddleocr_spark.functions.dedup import _spread

    e = _spread(df, id_col).select(
        id_col,
        vec_col,
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sem:"), F.col(id_col).cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("bigint")
        % k
    )
    seed_ids = (
        e.withColumn("__b", bucket)
        .groupBy("__b")
        .agg(F.min(id_col).alias(id_col))
    )
    seeds = sorted(
        e.join(seed_ids.select(id_col, "__b"), id_col).select(
            "__b", vec_col, "__nrm"
        ).collect(),
        key=lambda r: r["__b"],
    )
    if not seeds:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} bigint, cluster int, kept int"
        )
    best = _centroid_argmax(
        [(int(s["__b"]), list(s[vec_col]), float(s["__nrm"])) for s in seeds],
        vec_col,
    )
    assigned = e.select(
        id_col, vec_col, "__nrm", (-best["nc"]).cast("bigint").alias("cluster")
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(
            F.round(
                dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
                / (F.col("a.__nrm") * F.col("b.__nrm")),
                6,
            )
            >= tau
        )
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return assigned.join(dropped, id_col, "left").select(
        id_col,
        F.col("cluster").cast("int").alias("cluster"),
        F.when(F.col("__dropped").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("kept"),
    )


def kmeans_refine(
    df: DataFrame,
    seeds: list,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Lloyd refinement of k collected seed centroids: the production
    upgrade path `semantic_dedup` documents. Each round assigns every
    vector to its nearest centroid with the same zero-shuffle literal
    argmax used there (centroids live in the plan, MLlib-style), then
    recomputes centroids as per-cluster elementwise means. Returns the
    refined centroids as a list of (cluster_id, [floats]) — feed the
    ids back into a literal-assignment pass.

    Scale shape per round: one narrow scan + posexplode to
    (cluster, dim) cells, one partial-aggregated exchange of
    k·dim·n_partitions rows, one O(k·dim) collect. No iterative
    lineage growth — each round's input is the original df; only the
    tiny centroid list crosses rounds. Means are float (centroids are
    a quality knob, not an oracle surface — the oracle-checked
    `semantic_dedup` deliberately stops at deterministic seeds).
    """
    cents = [(int(c), [float(x) for x in v]) for c, v in seeds]
    for _ in range(iters):
        best = F.array_max(
            F.array(
                *[
                    F.struct(
                        F.round(
                            dot(F.col(vec_col), F.array(*[F.lit(x) for x in v]))
                            / (
                                F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
                                * F.lit(math.sqrt(sum(x * x for x in v)))
                            ),
                            6,
                        ).alias("cs"),
                        F.lit(-c).alias("nc"),
                    )
                    for c, v in cents
                ]
            )
        )
        rows = (
            df.select((-best["nc"]).alias("cluster"), vec_col)
            .select("cluster", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .collect()
        )
        cents = [
            (int(r["cluster"]), [float(p["m"]) for p in r["dm"]]) for r in rows
        ]
        cents.sort()
    return cents


def _with_band_buckets(
    frame: DataFrame, vec_col: str, n_planes: int, n_tables: int
) -> DataFrame:
    """Append (__t, __b): one output row per (input row, hash table),
    carrying that table's random-hyperplane sign bucket. All
    n_planes*n_tables plane dots evaluate in ONE array expression per
    row (same trick as embed_near_dup_pairs)."""
    nb = n_planes * n_tables
    all_dots = F.transform(
        F.sequence(F.lit(0), F.lit(nb - 1)),
        lambda g: F.aggregate(
            F.transform(
                F.col(vec_col),
                lambda x, i: x.cast("double")
                * (((i + 1) * (g + 3)) % 7 - 3).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    powers = F.array(*[F.lit(1 << j) for j in range(n_planes)])

    def bucket_t(t: int) -> Column:
        signs = F.zip_with(
            F.slice(F.col("__dots"), t * n_planes + 1, n_planes),
            powers,
            lambda d, p: F.when(d > 0, p).otherwise(F.lit(0)),
        )
        return F.aggregate(signs, F.lit(0), lambda acc, x: acc + x).cast("int")

    cols = frame.columns
    return frame.withColumn("__dots", all_dots).select(
        *cols,
        F.posexplode(F.array(*[bucket_t(t) for t in range(n_tables)])).alias(
            "__t", "__b"
        ),
    )


def _two_level_structure(
    cents: list, coarse_k: int | None = None, coarse_iters: int = 4
) -> tuple[list, dict]:
    """Driver-side coarse quantizer over the LEAF centroid set (the IVF
    coarse/fine split, same pattern as `topk_cosine_ivf`): cluster the k
    leaf centroids into m ≈ ceil(sqrt(k)) coarse cells so row assignment
    can go top-level -> leaf-level with per-level literal counts O(m)
    instead of O(k). Pure numpy over the O(k·dim) centroid list — the
    same data the seed collect already put on the driver; no document
    rows involved. Deterministic: seeds are every (k/m)-th leaf in
    cid-sorted order, Lloyd means accumulate in fixed row order.

    Returns (coarse_cents3, leaf_to_super): coarse_cents3 is
    [(super_id, vector, norm)] with empty cells dropped and ids
    renumbered densely; leaf_to_super maps leaf cid -> super_id."""
    import numpy as np

    cids = [int(c) for c, v in cents]
    mat = np.asarray([list(map(float, v)) for _, v in cents], dtype=np.float64)
    k = len(cents)
    m = min(coarse_k or max(2, -(-k // max(1, math.isqrt(k)))), k)
    order = np.argsort(np.asarray(cids))
    seed_idx = [int(order[(j * k) // m]) for j in range(m)]
    C = mat[seed_idx].copy()
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]

    def _assign(C):
        cn = np.linalg.norm(C, axis=1)
        cn[cn == 0] = 1.0
        return np.argmax(unit @ (C / cn[:, None]).T, axis=1)

    for _ in range(coarse_iters):
        a = _assign(C)
        for j in range(m):
            members = mat[a == j]
            if len(members):
                C[j] = members.mean(axis=0)
    a = _assign(C)
    used = sorted({int(x) for x in a})
    remap = {s: i for i, s in enumerate(used)}
    coarse3 = [
        (remap[s], [float(x) for x in C[s]], float(np.linalg.norm(C[s])))
        for s in used
    ]
    leaf_to_super = {cids[i]: remap[int(a[i])] for i in range(k)}
    return coarse3, leaf_to_super


def _coarse_probes_expr(cents3: list, vec_col: str, nprobe: int) -> Column:
    """Top-``nprobe`` coarse cells by rounded cosine, as ONE SQL
    expression over O(m·dim) literals (same encoding discipline as
    `_centroid_argmax` via the shared _cos_struct/_d_lit encoders;
    descending struct sort = cs desc then nc desc, i.e. ties break to
    the smallest cell id, matching array_max)."""
    arr = ", ".join(_cos_struct(c, v, n, vec_col) for c, v, n in cents3)
    return F.expr(
        f"transform(slice(sort_array(array({arr}), false), 1, {int(nprobe)}),"
        " s -> -s.nc)"
    )


def _leaf_pack_frame(spark, cents: list, leaf_to_super: dict) -> DataFrame:
    """(super:int, pack:array<struct<cid,vec,nrm>>) — the leaf centroids
    of each coarse cell packed into ONE row, so row assignment joins
    exactly one broadcast row per probe (no k-way row inflation; the
    k·dim floats are DATA in a broadcast table, not plan text)."""
    packs: dict[int, list] = {}
    for c, v in cents:
        vec = [float(x) for x in v]
        packs.setdefault(leaf_to_super[int(c)], []).append(
            (int(c), vec, math.sqrt(sum(x * x for x in vec)))
        )
    rows = [(s, sorted(p)) for s, p in sorted(packs.items())]
    return spark.createDataFrame(
        rows,
        "super int, pack array<struct<cid: bigint, vec: array<double>, "
        "nrm: double>>",
    )


def _assign_two_level(
    e: DataFrame,
    cents: list,
    vec_col: str,
    id_col: str,
    coarse_k: int | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style two-level nearest-centroid assignment: stage A picks
    the top-``nprobe`` coarse cells with an O(m·dim)-literal expression;
    stage B broadcast-joins each probe's leaf pack and takes the argmax
    over the joined arrays (plain array expressions — JVM-side, no
    shuffle, no row inflation beyond the nprobe probe columns).

    Approximation contract: exact vs flat argmax whenever the true
    nearest leaf's coarse cell is among the row's nprobe probes (the
    standard IVF nprobe trade; agreement is asserted on 10k vectors in
    tests/test_semdedup_scaled.py). Input frame must carry __nrm."""
    spark = e.sparkSession
    coarse3, leaf_to_super = _two_level_structure(cents, coarse_k)
    nprobe = max(1, min(nprobe, len(coarse3)))
    pack = _leaf_pack_frame(spark, cents, leaf_to_super)
    out = e.withColumn("__probes", _coarse_probes_expr(coarse3, vec_col, nprobe))
    bests = []
    for i in range(1, nprobe + 1):
        s_col, p_col = f"__s{i}", f"__pk{i}"
        out = out.withColumn(s_col, F.element_at("__probes", i)).join(
            F.broadcast(
                pack.select(
                    F.col("super").alias(s_col), F.col("pack").alias(p_col)
                )
            ),
            s_col,
            "left",
        )
        bests.append(
            F.array_max(
                F.transform(
                    F.col(p_col),
                    lambda c: F.struct(
                        F.round(
                            dot(F.col(vec_col), c["vec"])
                            / (F.col("__nrm") * c["nrm"]),
                            6,
                        ).alias("cs"),
                        (-c["cid"]).alias("nc"),
                    ),
                )
            )
        )
    best = bests[0] if len(bests) == 1 else F.greatest(*bests)
    return out.select(
        id_col, vec_col, "__nrm", (-best["nc"]).cast("bigint").alias("cluster")
    )


def _mean_update(assigned: DataFrame, vec_col: str) -> list:
    """One Lloyd mean step: per-cluster dimension-wise average, collected
    as [(cluster_id, vector)] — O(k·dim) driver rows, no document data
    (the same update `kmeans_refine` performs)."""
    rows = (
        assigned.select("cluster", F.posexplode(vec_col).alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
        .collect()
    )
    return sorted(
        (int(r["cluster"]), [float(p["m"]) for p in r["dm"]]) for r in rows
    )


def semantic_dedup_scaled(
    df: DataFrame,
    target_cluster_size: int = 4096,
    k: int | None = None,
    tau: float = 0.4,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 2,
    return_candidates: bool = False,
    two_level: bool | None = None,
    coarse_k: int | None = None,
    nprobe: int = 2,
    two_level_threshold: int = 2048,
    model_out: dict | None = None,
) -> DataFrame:
    """SemDeDup at corpus scale — the production parameterization of
    `semantic_dedup`, which that function's docstring promises: k is
    PICKED FROM CORPUS SIZE (k = ceil(n / target_cluster_size), so the
    expected cluster population stays constant as the corpus grows
    instead of the n²/k pair volume exploding), seeds are Lloyd-refined
    (`kmeans_refine`) before assignment, and the within-cluster pair
    scan is BOUNDED by composing the banded-LSH candidate generation
    inside clusters: pairs must collide in (cluster, table, bucket), so
    per-cluster candidate volume is ~(n/k)²·L/2^b instead of (n/k)².

    Same output shape as `semantic_dedup`: (id_col, cluster, kept).
    The trade is the standard one — banding makes the within-cluster
    scan approximate (recall per the S-curve in embed_near_dup_pairs)
    where the oracle miniature is exact; at 100 TB the exact scan is
    not runnable, which is why SemDeDup deployments band or top-k the
    intra-cluster comparison. ``return_candidates=True`` returns every
    bucket-colliding pair (id_a, id_b, cluster, cos_sim) BEFORE the tau
    filter — the work the verify stage actually performs — for
    auditing the per-cluster candidate bound (tested on 10k rows).

    Driver actions: one count(), one O(k) seed collect, refine_iters
    O(k·dim) collects. No document/vector data ever reaches the driver.

    k ceiling: the FLAT path bakes centroids into the assignment plan
    as literals, so plan size grows as k·dim — practical to k ≈ a few
    thousand (dim 64). Past ``two_level_threshold`` (or with
    ``two_level=True``) assignment switches to the IVF-style TWO-LEVEL
    path: ``_two_level_structure`` clusters the centroid set into
    m ≈ sqrt(k) coarse cells driver-side (numpy over the O(k·dim)
    list the seed collect already holds), stage A picks each row's
    top-``nprobe`` coarse cells with an O(m·dim)-literal expression,
    and stage B broadcast-joins the probes' leaf packs
    (`_leaf_pack_frame`: the k·dim floats travel as broadcast DATA,
    not plan text) and argmaxes over the joined arrays. Lloyd
    refinement reuses the same two-level assignment per iteration.
    That lifts the binding ceiling from plan size (k ≈ 2·10^3) to
    driver memory for the centroid list (k ≈ 10^6 at dim 64 ≈ 0.5 GB
    — corpora to ~10^9-10^10 docs at the default target size); beyond
    that, shard by lang/source or add a third level with the same two
    helpers. Two-level assignment is approximate exactly where IVF is:
    a row whose true nearest leaf lives outside its nprobe coarse
    cells is assigned to the best probed leaf (agreement vs flat
    argmax asserted on 10k vectors in tests/test_semdedup_scaled.py).
    What does NOT work at large k is centroids-as-a-joined-DataFrame
    per leaf: a k-way crossJoin blows the row count up k× before the
    argmax — the leaf-pack join is one row per probe instead.
    """
    import math as _math

    e = df.select(
        id_col,
        vec_col,
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
    )
    if k is None:
        n = df.count()
        k = max(2, -(-n // target_cluster_size))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sem:"), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % k
    )
    seed_ids = (
        e.withColumn("__b", bucket).groupBy("__b").agg(F.min(id_col).alias(id_col))
    )
    seeds = sorted(
        (
            (int(r["__b"]), [float(x) for x in r[vec_col]])
            for r in e.join(seed_ids.select(id_col, "__b"), id_col)
            .select("__b", vec_col)
            .collect()
        ),
    )
    if not seeds:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} bigint, cluster int, kept int"
        )
    if two_level is None:
        two_level = len(seeds) > two_level_threshold
    if two_level:
        cents = seeds
        for _ in range(max(0, refine_iters)):
            step = _assign_two_level(
                e, cents, vec_col, id_col, coarse_k=coarse_k, nprobe=nprobe
            )
            cents = _mean_update(step, vec_col)
        assigned = _assign_two_level(
            e, cents, vec_col, id_col, coarse_k=coarse_k, nprobe=nprobe
        )
    else:
        cents = (
            kmeans_refine(df, seeds, iters=refine_iters, id_col=id_col, vec_col=vec_col)
            if refine_iters > 0
            else seeds
        )
        cents3 = [
            (c, v, _math.sqrt(sum(float(x) * float(x) for x in v))) for c, v in cents
        ]
        best = _centroid_argmax(cents3, vec_col)
        assigned = e.select(
            id_col, vec_col, "__nrm", (-best["nc"]).cast("bigint").alias("cluster")
        )
    if model_out is not None:
        # expose the trained quantizer + assignment for callers that
        # persist the model (functions/semdedup_store.seed_semantic_store);
        # two_level records the dispatch ACTUALLY used, so admission
        # against the persisted model replays the identical path
        model_out["cents"] = cents
        model_out["assigned"] = assigned
        model_out["two_level"] = bool(two_level)
    sigs = _with_band_buckets(assigned, vec_col, n_planes, n_tables)
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.__t") == F.col("b.__t"))
            & (F.col("a.__b") == F.col("b.__b"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.cluster").alias("cluster"),
            F.round(
                dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
                / (F.col("a.__nrm") * F.col("b.__nrm")),
                6,
            ).alias("cos_sim"),
        )
        .distinct()
    )
    if return_candidates:
        return cand
    dropped = (
        cand.filter(F.col("cos_sim") >= tau)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return assigned.join(dropped, id_col, "left").select(
        id_col,
        F.col("cluster").cast("int").alias("cluster"),
        F.when(F.col("__dropped").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("kept"),
    )
