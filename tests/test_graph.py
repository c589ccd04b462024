"""connected_components: known-graph fixtures (the dup-cluster resolver,
functions/graph.py) — chain, clique, disjoint components, determinism
across partitionings."""

from __future__ import annotations

from paddleocr_spark.functions.graph import connected_components


def _cc(spark, pairs, n_parts=1):
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint").repartition(n_parts)
    out = connected_components(df)
    return {r["id"]: r["cluster_id"] for r in out.collect()}


def test_cc_chain_and_disjoint(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # separate pair 10-11
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_clique_merge_order_independent(spark):
    # two cliques bridged by one edge -> single component rooted at min id
    pairs = [(5, 6), (6, 7), (5, 7), (20, 21), (21, 22), (7, 20)]
    got = _cc(spark, pairs)
    assert set(got.values()) == {5}
    assert set(got) == {5, 6, 7, 20, 21, 22}


def test_cc_partitioning_invariant(spark):
    pairs = [(1, 2), (3, 4), (4, 5), (2, 3), (100, 101)]
    assert _cc(spark, pairs, n_parts=1) == _cc(spark, pairs, n_parts=7)


def _cc2(spark, pairs):
    from paddleocr_spark.functions.graph import connected_components_two_phase

    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    out = connected_components_two_phase(df)
    return {r["id"]: r["cluster_id"] for r in out.collect()}


def test_two_phase_matches_propagation_on_random_graphs(spark):
    """large-star/small-star output == min-label propagation output on
    seeded random graphs (the O(log n) path must be semantics-identical
    to the simple path)."""
    import random

    rng = random.Random(42)
    for _trial in range(4):
        n = rng.randint(6, 24)
        n_edges = rng.randint(3, 2 * n)
        pairs = [
            (rng.randint(0, n), rng.randint(0, n)) for _ in range(n_edges)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        assert _cc2(spark, pairs) == _cc(spark, pairs), pairs


def test_two_phase_long_chain(spark):
    """A 40-node chain (diameter 39): the adversarial case the two-phase
    algorithm exists for — must resolve to a single min-rooted star."""
    chain = [(i, i + 1) for i in range(40)]
    got = _cc2(spark, chain)
    assert set(got.values()) == {0}
    assert set(got) == set(range(41))


def test_two_phase_bridged_cliques(spark):
    pairs = [(5, 6), (6, 7), (5, 7), (20, 21), (21, 22), (7, 20), (100, 101)]
    got = _cc2(spark, pairs)
    assert {k: v for k, v in got.items() if k < 100} == {
        5: 5, 6: 5, 7: 5, 20: 5, 21: 5, 22: 5
    }
    assert got[100] == got[101] == 100


def test_cc_nonconverged_falls_back_to_two_phase(spark, recwarn):
    """A chain whose diameter exceeds max_iter must NOT return wrong
    labels silently: it falls back to the two-phase algorithm and
    still yields correct components (with a warning)."""
    import warnings

    pairs = [(i, i + 1) for i in range(1, 12)]  # chain 1..12, diameter 11
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = connected_components(df, max_iter=2)
        got = {r["id"]: r["cluster_id"] for r in out.collect()}
    assert got == {i: 1 for i in range(1, 13)}
    assert any("did not converge" in str(x.message) for x in w)


def test_cc_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir switches localCheckpoint -> reliable checkpoint();
    results identical and checkpoint files actually land in the dir."""
    import os

    ckpt = str(tmp_path / "cc_ckpt")
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11)]
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(df, checkpoint_dir=ckpt).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    assert any(os.scandir(ckpt)), "no checkpoint data written"

    from paddleocr_spark.functions.graph import connected_components_two_phase

    ckpt2 = str(tmp_path / "cc2_ckpt")
    got2 = {r["id"]: r["cluster_id"]
            for r in connected_components_two_phase(
                df, checkpoint_dir=ckpt2).collect()}
    assert got2 == got
    assert any(os.scandir(ckpt2))


def _py_pagerank(edges, damping=0.85, iters=5):
    """Pure-Python twin of graph.pagerank's exact-fold semantics:
    left fold of in-contributions in ascending src order."""
    from collections import defaultdict

    wout = defaultdict(float)
    for s, d, w in edges:
        wout[s] += float(w)
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = float(len(nodes))
    rank = {h: 1.0 / n for h in nodes}
    for _ in range(iters):
        contribs = defaultdict(list)
        for s, d, w in edges:
            contribs[d].append((s, rank[s] * (float(w) / wout[s])))
        nxt = {}
        for h in nodes:
            acc = 0.0
            for _, c in sorted(contribs.get(h, [])):
                acc += c
            nxt[h] = (1.0 - damping) / n + damping * acc
        rank = nxt
    return rank


def test_pagerank_cycle_uniform(spark):
    """A 3-cycle is rank-symmetric: every node stays at exactly 1/3."""
    from paddleocr_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)], "src string, dst string, w bigint"
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert got == {"a": 1.0 / 3, "b": 1.0 / 3, "c": 1.0 / 3}


def test_pagerank_matches_pure_python_fold(spark):
    """Weighted, dangling-free graph with a sink-heavy shape: the Spark
    ranks equal the pure-Python ordered-fold twin BIT-FOR-BIT (the
    engine-exactness property the DuckDB oracle relies on), and sum to
    ~1 (stochastic-matrix invariant)."""
    from paddleocr_spark.functions.graph import pagerank

    raw = [
        ("a", "b", 3), ("a", "c", 1), ("b", "c", 2),
        ("c", "a", 1), ("d", "c", 5), ("d", "a", 1),
        ("b", "a", 1), ("c", "d", 2),
    ]
    edges = spark.createDataFrame(raw, "src string, dst string, w bigint")
    got = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    want = _py_pagerank(raw)
    assert got == want  # exact equality, not approx
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # authority ordering: c has the heaviest in-links
    assert max(got, key=got.get) == "c"


def test_pagerank_plain_sum_close(spark):
    """exact_fold=False (the unbounded-in-degree production mode) agrees
    with the fold mode to fp tolerance."""
    from paddleocr_spark.functions.graph import pagerank

    raw = [("a", "b", 1), ("b", "a", 2), ("a", "c", 1), ("c", "b", 4)]
    edges = spark.createDataFrame(raw, "src string, dst string, w bigint")
    exact = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    plain = {
        r["node"]: r["rank"]
        for r in pagerank(edges, exact_fold=False).collect()
    }
    assert set(exact) == set(plain)
    for h in exact:
        assert abs(exact[h] - plain[h]) < 1e-12


def _py_trustrank(edges, seeds, damping=0.85, iters=5):
    """Pure-Python twin of graph.pagerank(seeds=...): personalized
    teleport t_i = 1/|S| on seeds (also the initial rank), exact-fold
    in-contribution order, (1-d)*t teleport arithmetic."""
    from collections import defaultdict

    wout = defaultdict(float)
    for s, d, w in edges:
        wout[s] += float(w)
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n_s = float(len(set(seeds)))
    t = {h: (1.0 / n_s if h in set(seeds) else 0.0) for h in nodes}
    rank = dict(t)
    for _ in range(iters):
        contribs = defaultdict(list)
        for s, d, w in edges:
            contribs[d].append((s, rank[s] * (float(w) / wout[s])))
        nxt = {}
        for h in nodes:
            acc = 0.0
            for _, c in sorted(contribs.get(h, [])):
                acc += c
            nxt[h] = (1.0 - damping) * t[h] + damping * acc
        rank = nxt
    return rank


def test_trustrank_seeded_matches_pure_python_fold(spark):
    """pagerank(seeds=...) equals the pure-Python personalized twin
    BIT-FOR-BIT — the engine-exactness property the trustrank_spam
    oracle relies on."""
    from paddleocr_spark.functions.graph import pagerank

    raw = [
        ("a", "b", 3), ("a", "c", 1), ("b", "c", 2),
        ("c", "a", 1), ("d", "c", 5), ("d", "a", 1),
        ("b", "a", 1), ("c", "d", 2), ("e", "b", 2),
    ]
    edges = spark.createDataFrame(raw, "src string, dst string, w bigint")
    seeds = spark.createDataFrame([("a",), ("d",)], "node string")
    got = {r["node"]: r["rank"] for r in pagerank(edges, seeds=seeds).collect()}
    want = _py_trustrank(raw, {"a", "d"})
    assert got == want  # exact equality, not approx
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_trustrank_spam_mass_separates_untrusted_region(spark):
    """Two 3-cycles joined only by an untrusted bridge: the component
    holding the seed keeps low spam mass, the far component — whose
    rank arrives exclusively from outside the trust neighborhood —
    approaches mass 1 (the link-farm signature)."""
    from paddleocr_spark.functions.graph import pagerank

    raw = [
        # trusted cycle
        ("a", "b", 1), ("b", "c", 1), ("c", "a", 1),
        # untrusted cycle, no in-edge from the trusted side
        ("x", "y", 1), ("y", "z", 1), ("z", "x", 1),
    ]
    edges = spark.createDataFrame(raw, "src string, dst string, w bigint")
    seeds = spark.createDataFrame([("a",)], "node string")
    pr = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    tr = {r["node"]: r["rank"] for r in pagerank(edges, seeds=seeds).collect()}
    mass = {h: (pr[h] - tr[h]) / pr[h] for h in pr}
    for h in ("a", "b", "c"):
        assert mass[h] < 0.1  # trust reaches the whole seed component
    for h in ("x", "y", "z"):
        assert mass[h] > 0.9  # no trust path in => spam-mass ~1


def _py_hits(edges, iters=4):
    """Pure-Python twin of graph.hits' exact-fold semantics: per-node
    sums folded in neighbor order, L1 totals folded in node order,
    h-update from the freshly normalized a."""
    from collections import defaultdict

    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    h = {n: 1.0 for n in nodes}

    def norm(vec):
        t = 0.0
        for n in nodes:  # node order, matching the engine fold
            t += vec[n]
        return {n: vec[n] / t for n in nodes}

    a = None
    for _ in range(iters):
        raw = defaultdict(list)
        for s, d, w in edges:
            raw[d].append((s, float(w) * h[s]))
        a = {}
        for n in nodes:
            acc = 0.0
            for _, c in sorted(raw.get(n, [])):
                acc += c
            a[n] = acc
        a = norm(a)
        raw = defaultdict(list)
        for s, d, w in edges:
            raw[s].append((d, float(w) * a[d]))
        h = {}
        for n in nodes:
            acc = 0.0
            for _, c in sorted(raw.get(n, [])):
                acc += c
            h[n] = acc
        h = norm(h)
    return h, a


def test_hits_matches_pure_python_fold(spark):
    """graph.hits equals the pure-Python twin BIT-FOR-BIT — the
    engine-exactness property the host_hits oracle relies on."""
    from paddleocr_spark.functions.graph import hits

    raw = [
        ("a", "b", 3), ("a", "c", 1), ("b", "c", 2),
        ("c", "a", 1), ("d", "c", 5), ("d", "a", 1), ("e", "b", 2),
    ]
    edges = spark.createDataFrame(raw, "src string, dst string, w bigint")
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(edges).collect()}
    want_h, want_a = _py_hits(raw)
    assert got == {n: (want_h[n], want_a[n]) for n in want_h}


def test_hits_separates_hubs_from_authorities(spark):
    """A node that only points (never pointed at) is a pure hub:
    authority exactly 0; the converse holds for a pure sink."""
    from paddleocr_spark.functions.graph import hits

    raw = [("hub", "x", 1), ("hub", "y", 1), ("x", "y", 1)]
    edges = spark.createDataFrame(raw, "src string, dst string, w bigint")
    got = {r["node"]: r for r in hits(edges).collect()}
    assert got["hub"]["authority"] == 0.0 and got["hub"]["hub"] > 0
    assert got["y"]["hub"] == 0.0 and got["y"]["authority"] > 0
    # y (pointed at by both) out-ranks x as an authority
    assert got["y"]["authority"] > got["x"]["authority"]
