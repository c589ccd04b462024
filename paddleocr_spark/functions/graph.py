"""Iterative graph operators: connected components over candidate-pair
edges (the dup-cluster resolver that sits downstream of LSH banding).

The reference's transitive-closure merge (`merge_fragmented`
tools/infer/utility.py:735-790, a visited-set fixpoint over box overlap
pairs) operates per-document on <=10^3 boxes; the corpus-scale analog is
connected components over near-duplicate candidate pairs, where the
edge list itself is distributed.

Production code calls one entry point, `connected_components`, and it
picks its algorithm from what it observes — no caller chooses. It runs
min-label propagation: every node repeatedly takes the minimum label
among itself and its neighbors until a fixpoint. Each iteration is one
join + one groupBy (two shuffles over (id, label) pairs only, never
document bodies). Convergence is O(graph diameter) iterations; near-dup
clusters are dense and shallow (diameter ~2-3), so this settles in a
handful of rounds. If the loop exhausts ``max_iter`` without reaching
the fixpoint (adversarially long chains), it never returns the
non-converged labels: it warns and falls back to
`connected_components_two_phase`, the large-star/small-star algorithm
(Kiveris et al.) that contracts chains in O(log n) rounds; tests assert
both give identical labels.

Checkpointing: lineage is truncated every iteration so plans don't grow
unboundedly. By default this uses ``localCheckpoint`` (executor-local
blocks — fine on local[N] and for tests) but on a real cluster an
executor loss invalidates local checkpoints mid-fixpoint, so both entry
points take ``checkpoint_dir``: when set, the SparkContext checkpoint
dir is configured and reliable ``checkpoint()`` (shared storage,
survives executor death) is used instead.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _make_checkpointer(df: DataFrame, checkpoint_dir: str | None):
    """Return a lineage-truncating function: reliable checkpoint when a
    directory is given, executor-local otherwise."""
    if checkpoint_dir is None:
        return lambda d: d.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    sc.setCheckpointDir(checkpoint_dir)
    return lambda d: d.checkpoint(eager=True)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id_a, id_b) undirected edges -> (id, cluster_id) with
    cluster_id = min node id in the component. Deterministic: pure
    integer min-fixpoint, independent of partitioning.

    The connected-components entry point every production caller uses.
    If ``max_iter`` propagation rounds pass without the changed==0
    fixpoint, it warns and reruns with the O(log n) two-phase
    algorithm, so the labels returned are always the converged ones.
    """
    ckpt = _make_checkpointer(pairs, checkpoint_dir)
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    edges = ckpt(edges)

    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )

    for _ in range(max_iter):
        # each node's new label: min(own, min over neighbors' labels)
        nbr = (
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), "label")
        )
        new_labels = (
            labels.select("id", "label")
            .union(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        new_labels = ckpt(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); falling back to "
            "two-phase CC",
            RuntimeWarning,
        )
        return connected_components_two_phase(
            pairs, id_a, id_b, checkpoint_dir=checkpoint_dir
        )

    return labels.select("id", F.col("label").alias("cluster_id"))


def connected_components_two_phase(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 40,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log n)-round variant for adversarially deep
    graphs (long chains), where plain neighbor propagation needs
    O(diameter) rounds.

    Each round is two groupBy-aggregations over the edge list:
    - large-star: every node u computes m = min(N(u) ∪ {u}) and
      re-points its LARGER neighbors at m;
    - small-star: every node u re-points its not-larger neighbors
      (and itself) at the minimum of that set.
    The edge list contracts toward a star forest; at the fixpoint every
    surviving edge is (node -> component minimum). Deterministic: pure
    integer mins, partitioning-independent. Same output contract as
    `connected_components`: (id, cluster_id), cluster_id = component
    min, every node of every input edge present.
    """
    ckpt = _make_checkpointer(pairs, checkpoint_dir)
    edges = ckpt(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # node universe from the UNFILTERED pairs: a node appearing only in
    # self-loop pairs has no contracted edge but is still a (singleton)
    # component — dropping it would break the module contract ("every
    # node of every input edge present") and make the non-convergence
    # fallback silently change the output node set vs propagation CC
    all_nodes = ckpt(
        pairs.select(F.col(id_a).alias("id"))
        .union(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )

    def large_star(e: DataFrame) -> DataFrame:
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        big = nbrs.filter(F.col("v") > F.col("u"))
        return (
            big.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient every edge large -> small, group by the large end
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = oriented.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        with_self = oriented.union(
            oriented.select(F.col("u"), F.col("u").alias("v")).distinct()
        )
        return (
            with_self.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    converged = False
    for _ in range(max_iter):
        nxt = ckpt(small_star(large_star(edges)))
        changed = (
            nxt.exceptAll(edges).limit(1).count()
            + edges.exceptAll(nxt).limit(1).count()
        )
        edges = nxt
        if changed == 0:
            converged = True
            break
    if not converged:
        # O(log n) bound means 40 rounds covers any realistic graph;
        # reaching here indicates a logic error, not input shape.
        raise RuntimeError(
            f"two-phase CC did not converge in {max_iter} rounds"
        )

    # fixpoint: edges form a star forest (u -> component min)
    labels = edges.select(
        F.col("u").alias("id"), F.col("v").alias("cluster_id")
    )
    return (
        all_nodes.join(labels, "id", "left")
        .select(
            "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
        )
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    exact_fold: bool = True,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank over a (src, dst, w) edge list — the
    host-authority signal web-corpus pipelines weight documents by
    (Common Crawl publishes exactly this as its host-level ranking;
    the reference has no corpus-graph analog — its transitive merge,
    tools/infer/utility.py:735-790, is the per-document miniature).

    Fixed ``iters`` rounds of r' = (1-d)/N + d * Σ_in r·w/W(src); the
    node set is the distinct src ∪ dst. Each round is one shuffle join
    of the rank frame with the static (src, dst, w, W) edge frame plus
    one aggregation — the canonical distributed formulation; no driver
    actions, no collect. N rides a 1-row broadcast cross join.

    ``exact_fold=True`` sums each node's in-contributions as a LEFT
    FOLD in ascending src order (collect_list → array_sort →
    aggregate). Floating-point addition is order-sensitive; the fold
    makes the result a pure function of the edge VALUES, so a DuckDB
    oracle folding in the same order (list_reduce over list(... order
    by src)) reproduces the ranks bit-for-bit. In-degree bounds the
    per-group list (host-graph in-degree, not page in-degree); for
    corpora where that is unbounded, ``exact_fold=False`` uses a plain
    shuffled sum (same plan minus the sort, engine-exactness traded
    for unbounded in-degree).

    ``checkpoint_every=k`` truncates lineage every k rounds (lazy;
    localCheckpoint by default, reliable checkpoint when
    ``checkpoint_dir`` is set) — off by default because a fixed small
    ``iters`` nests only that many join+agg layers.

    ``seeds`` (a 1-column DataFrame of node ids) switches to
    PERSONALIZED pagerank — the TrustRank form (Gyöngyi, Garcia-Molina
    & Pedersen, VLDB 2004): the teleport vector concentrates on the
    seed set (t_i = 1/|S| for seeds, 0 elsewhere, which is also the
    initial rank) instead of the uniform 1/N, so authority can only
    flow OUT of trusted nodes. The seed set is O(trusted hosts) and
    rides a broadcast join onto the node frame; everything else —
    per-round shuffle shape, exact-fold determinism — is unchanged.
    The uniform path keeps its original arithmetic ((1-d)/N, not
    (1-d)*(1/N)) so existing oracles stay bit-identical.
    """
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    # non-positive weights carry no transition mass; keeping them
    # would make w/wout NULL for an all-zero source, and ONE null
    # contribution nulls an exact left-fold for its dst — coalescing
    # the whole in-rank to 0 and silently discarding every real
    # contribution to that dst (the skip-nulls F.sum mode would
    # disagree on the same input). The node universe below still uses
    # the unfiltered edge list, so zero-weight endpoints keep their
    # teleport mass.
    pos = e.filter(F.col("w") > 0)
    outw = pos.groupBy("src").agg(F.sum("w").alias("wout"))
    # static across rounds: per-edge transition weight w/W(src)
    ew = pos.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("wout")).alias("p")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n1 = nodes.agg(F.count("*").cast("double").alias("n"))
    if seeds is None:
        # base carries the teleport ingredients through every round:
        # uniform mode keeps the original (1-d)/N arithmetic so prior
        # oracles reproduce the exact same doubles.
        base = nodes.crossJoin(F.broadcast(n1))
        teleport = F.lit(1.0 - damping) / F.col("n")
        ranks = base.select("node", (F.lit(1.0) / F.col("n")).alias("rank"))
    else:
        s = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
        ns = s.agg(F.count("*").cast("double").alias("n_s"))
        base = (
            nodes.join(
                F.broadcast(s.withColumn("__seed", F.lit(1))), "node", "left"
            )
            .crossJoin(F.broadcast(ns))
            .select(
                "node",
                F.when(
                    F.col("__seed").isNotNull(), F.lit(1.0) / F.col("n_s")
                )
                .otherwise(F.lit(0.0))
                .alias("t"),
            )
        )
        teleport = F.lit(1.0 - damping) * F.col("t")
        ranks = base.select("node", F.col("t").alias("rank"))
    # Checkpointing is OPT-IN here (checkpoint_every=0 by default),
    # unlike the CC fixpoint whose per-round count() action needs eager
    # truncation: a fixed handful of rounds nests only that many
    # join+agg layers, which Catalyst analyzes once at the final
    # action. Dataset.checkpoint costs ~0.8s of JVM plan work per call
    # even lazily (measured), so for long runs set checkpoint_every
    # (lazy; reliable when checkpoint_dir is set — executor loss safe).
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def ckpt(d: DataFrame, i: int) -> DataFrame:
        if not checkpoint_every or (i + 1) % checkpoint_every:
            return d
        if checkpoint_dir is None:
            return d.localCheckpoint(eager=False)
        return d.checkpoint(eager=False)

    for _i in range(iters):
        contrib = (
            ranks.select(F.col("node").alias("csrc"), "rank")
            .join(ew, F.col("csrc") == F.col("src"))
            .select(
                F.col("dst").alias("node"),
                "csrc",
                (F.col("rank") * F.col("p")).alias("c"),
            )
        )
        if exact_fold:
            sums = contrib.groupBy("node").agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("csrc", "c"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["c"],
                ).alias("s")
            )
        else:
            sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = ckpt(
            base.join(sums, "node", "left")
            .select(
                "node",
                (
                    teleport
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            ),
            _i,
        )
    return ranks


def hits(
    edges: DataFrame,
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    exact_fold: bool = True,
    truncate_lineage: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Weighted HITS (Kleinberg, JACM 1999) over a (src, dst, w) edge
    list — hubs and authorities, the link signal orthogonal to
    PageRank: a page is a good AUTHORITY when good hubs point at it,
    and a good HUB when it points at good authorities. Web pipelines
    use the pair to separate directories/link-lists (hubs) from
    canonical sources (authorities) when weighting a corpus.

    Power iteration, ``iters`` rounds of
        a(v) = Σ_{u→v} w·h(u)   then L1-normalize a
        h(u) = Σ_{u→v} w·a(v)   then L1-normalize h
    (h of the same round uses the freshly normalized a — the standard
    update order). Every per-node sum AND the normalization totals use
    the exact-fold discipline of `pagerank` (collect_list → array_sort
    → aggregate; the total folds the O(nodes) frame in node order), so
    with ``exact_fold=True`` the result is a pure function of the edge
    values and a DuckDB oracle folding in the same orders reproduces
    hub/authority doubles bit-for-bit. ``exact_fold=False`` swaps the
    folds for plain shuffled sums (unbounded in-degree production
    mode, engine-exactness traded away).

    Scale shape: per round, two shuffle joins of the O(nodes) score
    frame with the static edge frame + two aggregations — the same
    distributed form as `pagerank`; the L1 totals are 1-row frames
    broadcast back onto the node frame. No driver actions, no collect.
    """
    # the module's cluster-safety rule (see header): executor loss
    # invalidates LOCAL checkpoints, so like the other iterative entry
    # points this one takes checkpoint_dir for reliable checkpoints on
    # a real cluster (lazy either way — values unchanged, lineage cut)
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _pin(d: DataFrame) -> DataFrame:
        if not truncate_lineage:
            return d
        if checkpoint_dir is None:
            return d.localCheckpoint(eager=False)
        return d.checkpoint(eager=False)

    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    # the static edge frame is referenced twice per round (a-sum
    # and h-sum joins); pin it so the upstream extraction subtree
    # (scan + regex + agg) computes once, not 2*iters times
    e = _pin(e)
    nodes = _pin(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )

    def fold_sum(key_col):
        if exact_fold:
            return F.aggregate(
                F.array_sort(F.collect_list(F.struct(key_col, "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("v")
        return F.sum("c").alias("v")

    def normalize(scores):
        # L1 total as an exact fold over the O(nodes) frame in node
        # order — a 1-row frame broadcast back; never a driver action
        if exact_fold:
            tot = scores.agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("node", "v"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["v"],
                ).alias("t")
            )
        else:
            tot = scores.agg(F.sum("v").alias("t"))
        out = scores.crossJoin(F.broadcast(tot)).select(
            "node", (F.col("v") / F.col("t")).alias("v")
        )
        # a and h reference each other twice per round (the raw sum AND
        # its own normalization total), so without truncation the plan
        # subtree DOUBLES twice per round — exponential analysis cost
        # (measured: ~190 s for 4 rounds at sf0.001 vs ~12 s with both
        # frames truncated; truncating only the end-of-round h was
        # TRIED and is ~2x slower — the static edge subtree, scan +
        # regex + agg, then re-analyzes ~6x per round). Lazy
        # checkpointing changes no values, only cuts lineage.
        return _pin(out)

    if iters < 1:
        raise ValueError("hits() needs iters >= 1 (no authority scores exist before the first half-round)")
    h = nodes.select("node", F.lit(1.0).alias("v"))
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h.select(F.col("node").alias("src"), F.col("v").alias("hv")), "src")
            .select(F.col("dst").alias("node"), F.col("src").alias("k"), (F.col("w") * F.col("hv")).alias("c"))
            .groupBy("node")
            .agg(fold_sum(F.col("k")))
        )
        a = normalize(
            nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce(F.col("v"), F.lit(0.0)).alias("v")
            )
        )
        h_raw = (
            e.join(a.select(F.col("node").alias("dst"), F.col("v").alias("av")), "dst")
            .select(F.col("src").alias("node"), F.col("dst").alias("k"), (F.col("w") * F.col("av")).alias("c"))
            .groupBy("node")
            .agg(fold_sum(F.col("k")))
        )
        h = normalize(
            nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce(F.col("v"), F.lit(0.0)).alias("v")
            )
        )
    return (
        h.select("node", F.col("v").alias("hub"))
        .join(a.select("node", F.col("v").alias("authority")), "node")
    )
