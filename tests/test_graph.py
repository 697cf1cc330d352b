"""Connected-components / dup-cluster tests (operators/graph.py).

The pair→cluster closure is the one iterative algorithm in the engine;
these pin convergence (chain graphs need diameter rounds, not 1),
canonical-label determinism, and the dedup-sweep contract.
"""

from pyspark.sql import functions as F

from p2_mapreduce_spark.operators.graph import (
    connected_components,
    connected_components_star,
    dup_clusters,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    rows = connected_components(df).collect()
    return {r["v"]: r["component"] for r in rows}


def test_chain_converges_to_min_label(spark):
    # 1-2-3-4-5 chain: diameter 4 — exercises the multi-round path.
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_near_dup_graph_stops_after_seed(spark, monkeypatch):
    """Diameter-1 components are final once the seed labels are built:
    one checkpoint for the symmetrized edges, one for the seed, then the
    consistency probe finds nothing and no propagation round runs."""
    frame = type(spark.range(1))  # the concrete (classic) DataFrame class
    calls = []
    real = frame.localCheckpoint

    def counting(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", counting)
    got = _cc(spark, [(1, 2), (3, 4), (5, 6)])
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5, 6: 5}
    assert len(calls) == 2


def test_two_components_and_direction_independence(spark):
    # labels must not depend on edge direction (10,9) vs (9,10)
    got = _cc(spark, [(10, 9), (9, 8), (1, 2), (2, 1)])
    assert got == {8: 8, 9: 8, 10: 8, 1: 1, 2: 1}


def test_dup_clusters_sizes_and_representatives(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"]
    )
    rows = {r["doc_id"]: r for r in dup_clusters(pairs).collect()}
    assert {d: r["cluster"] for d, r in rows.items()} == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    assert {d: r["cluster_size"] for d, r in rows.items()} == {1: 3, 2: 3, 3: 3, 7: 2, 9: 2}
    # dedup sweep: keep rows where doc_id == cluster → exactly one
    # representative per group
    reps = [d for d, r in rows.items() if d == r["cluster"]]
    assert sorted(reps) == [1, 7]


def test_empty_edges_yield_empty_labels(spark):
    df = spark.createDataFrame([], "doc_a BIGINT, doc_b BIGINT")
    assert connected_components(df).count() == 0


def test_partition_count_invariance(spark):
    edges = [(i, i + 1) for i in range(1, 8)] + [(20, 21)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    base = sorted(map(tuple, connected_components(df).collect()))
    repart = sorted(map(tuple, connected_components(df.repartition(7)).collect()))
    assert base == repart


def _star(spark, edges):
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    labels, rounds = connected_components_star(df, return_rounds=True)
    return {r["v"]: r["component"] for r in labels.collect()}, rounds


def test_star_matches_label_propagation_on_random_graphs(spark):
    """Property: both algorithms produce identical min-id labels on
    random graphs (ER-ish sparse + a few planted cliques)."""
    import random

    rng = random.Random(42)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(30)
        ] + [(100 + i, 100 + i + 1) for i in range(5)]
        edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
        star, _ = _star(spark, edges)
        prop = _cc(spark, edges)
        assert star == prop, f"trial {trial}"


def test_star_long_chain_converges_in_polylog_rounds(spark):
    """A 200-vertex chain has diameter 199: label propagation needs ~199
    rounds (more than its max_iter), while star contraction must finish
    in O(log² n) — well under 12 rounds — with all labels = 0."""
    n = 200
    got, rounds = _star(spark, [(i, i + 1) for i in range(n - 1)])
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 12, f"took {rounds} rounds"


def test_star_self_loops_and_empty(spark):
    got, rounds = _star(spark, [(5, 5), (7, 8)])
    assert got == {5: 5, 7: 7, 8: 7}
    df = spark.createDataFrame([], "doc_a BIGINT, doc_b BIGINT")
    assert connected_components_star(df).count() == 0


def test_dup_clusters_star_algorithm_parity(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"])
    lab = sorted(map(tuple, dup_clusters(pairs, algorithm="label").collect()))
    star = sorted(map(tuple, dup_clusters(pairs, algorithm="star").collect()))
    assert lab == star


def test_pagerank_star_graph_ranks_hub_highest(spark):
    from p2_mapreduce_spark.operators.graph import PR_SCALE, pagerank

    # star: hub 0 joined to leaves 1..6 — hub must outrank every leaf,
    # leaves are symmetric so their ranks must be identical
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 7)], "src long, dst long"
    )
    ranks = {r["node"]: r["rank_q"] for r in pagerank(edges).collect()}
    assert len(ranks) == 7
    leaf_ranks = {v for k, v in ranks.items() if k != 0}
    assert len(leaf_ranks) == 1
    assert ranks[0] > leaf_ranks.pop()
    # quantized mass is conserved up to floor losses (never created)
    total = sum(ranks.values())
    assert 0.95 * PR_SCALE < total <= PR_SCALE


def test_pagerank_trade_graph_mass_and_shape(spark, sf_dir):
    import __spark_entry__ as entry_mod
    from p2_mapreduce_spark.operators.graph import PR_SCALE

    df = entry_mod.queries()["pagerank_trade"](spark, sf_dir)
    rows = df.collect()
    assert all(r["rank_q"] > 0 for r in rows)
    total = sum(r["rank_q"] for r in rows)
    assert 0.95 * PR_SCALE < total <= PR_SCALE
    # both node namespaces present (even customers, odd suppliers)
    assert {r["node"] % 2 for r in rows} == {0, 1}


def test_triangle_stats_on_known_graph(spark):
    """K4 plus a pendant vertex: 4 triangles, 6+1 edges, known wedges."""
    from p2_mapreduce_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(k4 + [(3, 4), (4, 3)], "u long, v long")
    r = triangle_stats(edges).collect()[0]
    assert r["n_nodes"] == 5
    assert r["n_edges"] == 7  # the duplicated (3,4)/(4,3) row collapses
    # degrees 3,3,3,4,1 -> wedges = 3*3 + 6 + 0 = 15
    assert r["n_wedges"] == 15
    assert r["n_triangles"] == 4
    assert r["clustering"] == 12.0 / 15.0


def test_triangle_stats_kernels_agree(spark):
    """The bitset (dense) and wedge-join (sparse) kernels are the same
    exact census — pinned on a graph with hubs, duplicate edges, a
    pendant, and non-contiguous ids (the remap must not assume density).
    dense_max_nodes=0 forces the wedge path on the identical input."""
    from p2_mapreduce_spark.operators.graph import triangle_stats

    raw = (
        [(a * 7, b * 7) for a in range(6) for b in range(6) if a != b]  # K6, both orientations
        + [(35, 100), (100, 101), (101, 35)]  # triangle off node 35
        + [(100, 999)]  # pendant
    )
    edges = spark.createDataFrame(raw, "u long, v long")
    dense = triangle_stats(edges).collect()[0]
    sparse = triangle_stats(edges, dense_max_nodes=0).collect()[0]
    assert dense == sparse
    assert dense["n_triangles"] == 20 + 1  # C(6,3) + the extra triangle


def test_triangle_stats_triangle_free(spark):
    """A path graph has wedges but zero triangles."""
    from p2_mapreduce_spark.operators.graph import triangle_stats

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "u long, v long"
    )
    r = triangle_stats(edges).collect()[0]
    assert r["n_triangles"] == 0
    assert r["n_wedges"] == 4
    assert r["clustering"] == 0.0


def test_tfidf_rare_term_outranks_common(spark):
    """A term unique to one doc must outscore corpus-wide stopwords."""
    from p2_mapreduce_spark.operators.text_analysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the log"),
            (3, "the bird flew over the xylophone"),
        ],
        "doc_id long, text string",
    )
    top = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in top:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        assert len(rows) == 2
        # every doc's #1 term is doc-unique (df == 1), never 'the'
        best = max(rows, key=lambda r: (r["score"], r["term"]))
        assert best["df"] == 1
        assert best["term"] != "the"
    # 'the' appears twice per doc but in all 3 docs: score 2*3/3 = 2.0
    the_rows = [r for r in top if r["term"] == "the"]
    for r in the_rows:
        assert r["score"] == 2.0


def test_bfs_hops_on_known_graph(spark):
    """Path 0-1-2-3-4 plus chord (0,2): hops 0,1,1,2,3."""
    from p2_mapreduce_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 2)], "u long, v long"
    )
    got = {r["node"]: r["hop"] for r in bfs_hops(edges, source=0).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}


def test_bfs_hops_respects_max_hops_and_disconnection(spark):
    from p2_mapreduce_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)] + [(100, 101)], "u long, v long"
    )
    got = {r["node"]: r["hop"] for r in bfs_hops(edges, 0, max_hops=4).collect()}
    assert got == {i: i for i in range(5)}  # truncated at 4 hops
    assert 100 not in got and 101 not in got  # other component unreached


def test_k_core_peels_cascade(spark):
    """K5 with a pendant path attached: the path peels away in cascade
    rounds (each removal exposes the next), leaving exactly the K5 as
    the 4-core."""
    from p2_mapreduce_spark.operators.graph import k_core

    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    path = [(4, 5), (5, 6), (6, 7)]
    edges = spark.createDataFrame(k5 + path, "u long, v long")
    rows = {r["node"]: r["deg"] for r in k_core(edges, k=4).collect()}
    assert rows == {i: 4 for i in range(5)}
    # k above the clique degree empties the graph entirely
    assert k_core(edges, k=5).count() == 0


def test_k_core_fixture_converges_within_oracle_unroll(spark, sf_dir):
    """The sf fixture's peeling depth must stay within the oracle's
    4-round unroll (idempotence covers the slack, but only past the
    fixpoint — a deeper fixture would silently diverge)."""
    from pyspark.sql import functions as F

    from p2_mapreduce_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    sup = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("s")).distinct()
    a, b = sup.alias("sa"), sup.alias("sb")
    pairs = (
        a.join(b, (F.col("sa.k") == F.col("sb.k")) & (F.col("sa.s") < F.col("sb.s")))
        .select(F.col("sa.s").alias("u"), F.col("sb.s").alias("v"))
    )
    coin = F.conv(
        F.substring(F.md5(F.concat_ws(":", "u", "v")), 18, 15), 16, 10
    ).cast("long")
    edges = [(r["u"], r["v"]) for r in pairs.filter(coin % 8 == 0).distinct().collect()]
    import collections

    adj = collections.defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    rounds = 0
    while True:
        weak = [n for n, s in adj.items() if len(s) < 8]
        if not weak:
            break
        rounds += 1
        for n in weak:
            for nb in adj[n]:
                adj[nb].discard(n)
            del adj[n]
    assert rounds <= 4, f"fixture peeling depth {rounds} exceeds oracle unroll"


def test_two_hop_reach_on_path_graph(spark):
    """Path 0-20-40-60: node 0 has one 1-hop (20) and one 2-hop-new
    (40); node 20 reaches both ends at hop 1 and one new at hop 2;
    triangle closure never double-counts."""
    from p2_mapreduce_spark.operators.graph import two_hop_reach

    path = spark.createDataFrame(
        [(0, 20), (20, 40), (40, 60)], ["u", "v"]
    )
    # panel_k covers all nodes here, so every node is scored (the
    # absolute hash-ranked panel replaced the fractional sample, r07)
    out = {r["node"]: r for r in two_hop_reach(path, panel_k=10).collect()}
    assert out[0]["n_1hop"] == 1 and out[0]["n_2hop_new"] == 1
    assert out[20]["n_1hop"] == 2 and out[20]["n_2hop_new"] == 1
    assert out[60]["n_1hop"] == 1 and out[60]["n_2hop_new"] == 1
    # triangle: every node's 2-hop ring is empty (all reached at hop 1)
    tri = spark.createDataFrame([(0, 20), (20, 40), (40, 0)], ["u", "v"])
    t = {r["node"]: r for r in two_hop_reach(tri, panel_k=10).collect()}
    assert all(r["n_1hop"] == 2 and r["n_2hop_new"] == 0 for r in t.values())
    # the panel BOUND binds: panel_k=2 scores exactly two nodes
    assert two_hop_reach(path, panel_k=2).count() == 2


class TestPersonalizedPagerank:
    def test_mass_concentrates_at_source_and_decays(self, spark):
        """On a path graph 1-2-3-4-5 personalized to node 1: rank must
        decay monotonically with distance from the source, and the
        source must dominate."""
        from p2_mapreduce_spark.operators.graph import personalized_pagerank

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
        )
        r = {
            row["node"]: row["rank_q"]
            for row in personalized_pagerank(
                edges, source=1, iterations=20
            ).collect()
        }
        # stationary PPR scales with degree TIMES proximity, so compare
        # within equal-degree sets: interior nodes (deg 2) decay with
        # distance, and between the two endpoints (deg 1) the source
        # dominates the far end
        assert r[2] > r[3] > r[4]
        assert r[1] > r[5]

    def test_boosts_neighborhood_relative_to_global(self, spark):
        """Personalization must BOOST the source's neighbor relative to
        a distant hub compared with global PageRank (the exact-integer
        cross-ratio form avoids any division)."""
        from p2_mapreduce_spark.operators.graph import (
            pagerank,
            personalized_pagerank,
        )

        # star hub at 100 (degree 6), source 1 attached to leaf 2
        edges = spark.createDataFrame(
            [(100, k) for k in (10, 11, 12, 13, 14, 2)] + [(1, 2)],
            "src long, dst long",
        )
        glob = {r["node"]: r["rank_q"] for r in pagerank(edges, iterations=4).collect()}
        pers = {
            r["node"]: r["rank_q"]
            for r in personalized_pagerank(edges, source=1, iterations=20).collect()
        }
        assert glob[100] > glob[2]  # hub wins globally
        # pers[2]/pers[100] > glob[2]/glob[100]
        assert pers[2] * glob[100] > glob[2] * pers[100]


class TestLocalClustering:
    def test_known_graph(self, spark):
        """Triangle 1-2-3 plus pendant 4 attached to 3: coefficients
        are 1.0, 1.0, 1/3, 0."""
        from p2_mapreduce_spark.operators.graph import local_clustering

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4)], "u long, v long"
        )
        got = {
            r["node"]: (r["degree"], r["n_triangles"], r["coeff"])
            for r in local_clustering(edges).collect()
        }
        assert got[1] == (2, 1, 1.0)
        assert got[2] == (2, 1, 1.0)
        assert got[3] == (3, 1, 2.0 / 6.0)
        assert got[4] == (1, 0, 0.0)

    def test_sum_matches_global_census(self, spark, sf_dir):
        """Σ per-node triangle counts = 3 × the global census count —
        the two kernels must agree on the same graph."""
        from p2_mapreduce_spark.operators.graph import (
            copurchase_clustering,
        )
        from p2_mapreduce_spark.session import load_table
        from pyspark.sql import functions as F

        li = load_table(spark, sf_dir, "lineitem")
        local = copurchase_clustering(li)
        total_local = local.agg(F.sum("n_triangles")).collect()[0][0]
        # independent exact count over the SAME support-filtered edges
        p = li.select(
            F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p")
        ).distinct()
        a, b = p.alias("pa"), p.alias("pb")
        pairs = (
            a.join(b, (F.col("pa.k") == F.col("pb.k")) & (F.col("pa.p") < F.col("pb.p")))
            .groupBy(F.col("pa.p").alias("u"), F.col("pb.p").alias("v"))
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= 2)
            .select("u", "v")
        )
        from p2_mapreduce_spark.operators.graph import triangle_stats

        census = triangle_stats(pairs).collect()[0]
        assert total_local == 3 * census["n_triangles"]
