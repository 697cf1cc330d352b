"""Iterative graph operators — connected components for duplicate
clustering.

Near-dup pair lists (dedup.py) are only half the dedup story: to keep ONE
representative per duplicate *group*, pairs must be closed into clusters
(A~B, B~C ⇒ {A,B,C}).  That closure is connected components — an
inherently iterative algorithm the reference's single-pass map/reduce
paradigm cannot express (SURVEY.md §2.3) and SQL can only express via
recursive CTEs; here it is a Spark-native label-propagation loop.

Scale design:
- Each iteration is one join + one aggregate — both shuffles on the vertex
  id, which AQE co-partitions across iterations.
- Iteration count is the graph DIAMETER — for near-dup clusters (small,
  dense clique-ish components) typically 2-3, never the vertex count.
  For adversarial long-chain graphs use
  :func:`connected_components_star` (Kiveris et al., "Connected
  Components in MapReduce and Beyond"), which converges in O(log^2 n) —
  same building blocks, alternating star contractions.
- Lineage must be truncated each round, or the plan tree grows
  exponentially and the driver OOMs long before the data does.  Every
  iterative op here takes ``checkpoint_dir``: set it (HDFS/object store)
  for reliable ``checkpoint()`` that survives executor loss on a real
  cluster; unset, ``localCheckpoint()`` is the single-node default.
- The convergence probe is an edge-consistency check — any edge whose
  two endpoints carry different labels — run as one ``limit(1).count()``
  BEFORE each round: an O(1)-result job, not a collect of the label
  table, and a labelling that is already final costs no extra round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _make_ckpt(spark, checkpoint_dir: str | None):
    """Lineage-truncation strategy for the iterative loops (VERDICT r02
    item 8): with ``checkpoint_dir`` set, reliable ``checkpoint()`` into
    that directory (HDFS/object store on a real cluster — survives
    executor loss, the thing ``localCheckpoint`` blocks do not); without
    it, ``localCheckpoint()`` — the documented single-node concession
    (SURVEY §8), now an option rather than a hard-coding."""
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        return lambda df: df.checkpoint()
    return lambda df: df.localCheckpoint()


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(v, component) for every vertex in ``edges``; ``component`` is the
    minimum vertex id reachable from v — a deterministic canonical label
    under ANY partitioning/iteration interleaving, since min is
    order-independent.

    The seed labels already have one propagation round applied (each
    vertex takes the min of itself and its neighbours), and each later
    round is preceded by a consistency probe: one ``limit(1).count()``
    for an edge whose endpoints disagree.  A consistent labelling is
    final.  Labels only ever hold ids of vertices in the vertex's own
    component and never increase, so every label is ≤ its vertex id and
    ≥ its component's min id; if no edge disagrees, each component
    carries one label, which must therefore be the component's min id.
    A component whose vertices are all adjacent to its min id (a
    clique — the usual near-duplicate group) is consistent after the
    seed, so near-duplicate graphs mostly finish with no propagation
    round at all.  ``max_iter`` bounds the rounds, the seed included."""
    ckpt = _make_ckpt(edges.sparkSession, checkpoint_dir)
    # Materialize the symmetrized edge list ONCE: the upstream edge plan
    # (e.g. the whole ngram-similarity pipeline) would otherwise re-execute
    # on every iteration — measured 6.6s → 3.2s for dup_clusters at sf0.1.
    sym = ckpt(edges.select(F.col(src).alias("u"), F.col(dst).alias("w")).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("w"))
    ))
    labels = ckpt(
        sym.groupBy("u")
        .agg(F.least(F.min("w"), F.col("u")).alias("component"))
        .select(F.col("u").alias("v"), "component")
    )
    for _ in range(max_iter - 1):
        inconsistent = (
            sym.join(labels.select(F.col("v").alias("u"), F.col("component").alias("cu")), "u")
            .join(labels.select(F.col("v").alias("w"), F.col("component").alias("cw")), "w")
            .where(F.col("cu") != F.col("cw"))
            .limit(1)
            .count()
        )
        if inconsistent == 0:
            break
        nbr = sym.join(labels, sym.u == labels.v).select(
            F.col("w").alias("v"), "component"
        )
        labels = ckpt(
            labels.union(nbr).groupBy("v").agg(F.min("component").alias("component"))
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    return_rounds: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the adversarial-graph fallback to
    :func:`connected_components`: label propagation needs DIAMETER
    rounds (a 1e6-long chain = 1e6 shuffles), while star contraction
    converges in O(log² n) rounds on ANY graph shape.

    Per round, both operations are one groupBy-min + one join on the
    (always larger→smaller) edge list:

    - large-star: every neighbor v > u re-points to
      m = min(Γ(u) ∪ {u}) — attaches big nodes to their neighborhood
      minimum without creating long chains;
    - small-star: every smaller neighbor (and u itself) re-points to
      the minimum of u's smaller neighborhood — contracts the partial
      stars.

    The fixpoint is a forest of depth-1 stars rooted at each
    component's minimum id, so the label table falls straight out of
    the final edge list.  Same deterministic min-id labels as
    :func:`connected_components`, under any partitioning.

    Scale/latency design (VERDICT r02 item 10): the raw pair list
    materializes ONCE as ``base`` and both the vertex table and the
    oriented edge list derive from it, so the (often expensive)
    upstream pair pipeline never re-traverses.  The convergence probe
    is STRUCTURAL — e is a fixpoint iff it is a star forest, i.e. (a)
    no edge target is also a source and (b) every source has exactly
    one target — which is ONE O(1)-result job per round on the
    (shrinking, checkpointed) edge list, replacing the former
    count-plus-subtract pair and saving a full trailing round: the
    fixture that used to take 2 rounds + an equality round now probes
    clean after 1 (6.7 s → 3.7 s at sf0.1).
    """
    ckpt = _make_ckpt(edges.sparkSession, checkpoint_dir)
    base = ckpt(edges.select(F.col(src).alias("s"), F.col(dst).alias("d")))
    verts = (
        base.select(F.col("s").alias("v"))
        .union(base.select(F.col("d").alias("v")))
        .distinct()
    )
    # orient larger→smaller; self-loops carry no connectivity
    e = ckpt(
        base.select(
            F.greatest("s", "d").alias("u"),
            F.least("s", "d").alias("w"),
        )
        .where(F.col("u") != F.col("w"))
        .distinct()
    )
    rounds = 0
    for _ in range(max_iter):
        # star-forest probe: any target-that-is-a-source (a chain) or
        # multi-target source means another contraction round is needed;
        # both violations checked in one limit(1) job
        viol = (
            e.join(e.select(F.col("u").alias("w")).distinct(), "w")
            .select(F.lit(1).alias("x"))
            .union(
                e.groupBy("u")
                .agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") > 1)
                .select(F.lit(1).alias("x"))
            )
        )
        if viol.limit(1).count() == 0:
            break
        rounds += 1
        # large-star over the symmetrized neighborhood
        sym = e.union(e.select(F.col("w").alias("u"), F.col("u").alias("w")))
        lmins = (
            sym.groupBy("u")
            .agg(F.min("w").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        ls = (
            sym.join(lmins, "u")
            .where(F.col("w") > F.col("u"))
            .select(F.col("w").alias("u"), F.col("m").alias("w"))
            .distinct()
        )
        # small-star: every edge already points larger→smaller
        smins = ls.groupBy("u").agg(F.min("w").alias("m"))
        e = ckpt(
            ls.join(smins, "u")
            .select(F.col("w").alias("u"), F.col("m").alias("w"))
            .where(F.col("u") != F.col("w"))
            .union(smins.select("u", F.col("m").alias("w")))
            .distinct()
        )
    labels = verts.join(
        e.select(F.col("u").alias("v"), F.col("w").alias("component")), "v", "left"
    ).select("v", F.coalesce("component", "v").alias("component"))
    if return_rounds:
        return labels, rounds
    return labels


def dup_clusters(
    pairs: DataFrame,
    algorithm: str = "label",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Duplicate-group table from a near-dup pair list: (doc_id, cluster,
    cluster_size), cluster = min doc_id of the group.  Keeping
    ``doc_id = cluster`` (the representative) and dropping the rest is the
    dedup sweep; sizes come from one extra tiny aggregate over the label
    table (not the pair list).

    ``algorithm``: ``label`` (default — diameter-bounded propagation,
    ideal for the small dense clusters near-dup pairs form) or ``star``
    (:func:`connected_components_star`, O(log² n) on any shape — pick it
    when clusters may chain)."""
    cc = {"label": connected_components, "star": connected_components_star}[algorithm]
    labels = cc(pairs, checkpoint_dir=checkpoint_dir)
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "component").select(
        F.col("v").alias("doc_id"), F.col("component").alias("cluster"), "cluster_size"
    )


#: fixed-point scale for the quantized PageRank arithmetic: ranks are
#: carried as integer multiples of 1e-12 so every cross-engine sum is an
#: exact BIGINT sum — order-independent under any partitioning.
PR_SCALE = 1_000_000_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list, in exact
    fixed-point arithmetic: ``(node, rank_q)`` where ``rank_q`` is the
    rank in units of 1/PR_SCALE.

    Iterative algorithms are the canonical thing the reference's
    single-pass paradigm cannot express (SURVEY.md §2.3); unlike the
    connected-components loop this one is *numeric*, so determinism
    needs more than min(): floating-point partial sums depend on
    partitioning.  The fix is the dedup-family protocol taken to its
    limit — quantize ONCE at the start (rank_q = PR_SCALE // n), then
    per-edge contributions are integer division ``rank_q div degree``
    and per-node inflow is an exact BIGINT sum.  The only float ops are
    two scalar multiplies per node per round (damping × inflow, both <
    2^53 so the doubles are exact), making every iteration bit-identical
    across engines, partitionings, and re-runs — and therefore fully
    value-hash oracle-checkable by unrolling the loop in SQL.

    Scale design: symmetrized edges materialize once (localCheckpoint);
    each round is one join (shuffle on node id, AQE co-partitions across
    rounds) + one aggregate; ranks localCheckpoint per round to keep the
    plan tree flat.  Undirected edges mean every node has degree ≥ 1 —
    no dangling-mass redistribution term.
    """
    ckpt = _make_ckpt(edges.sparkSession, checkpoint_dir)
    sym = ckpt(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("w"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("w")))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    ranks = ckpt(
        deg.join(F.broadcast(n))
        .select(
            "node",
            "deg",
            "n",
            F.expr(f"{PR_SCALE} div n").alias("rank_q"),
        )
    )
    base = F.floor(F.lit(1.0 - damping) * F.lit(float(PR_SCALE)) / F.col("n"))
    for _ in range(iterations):
        contrib = sym.join(
            ranks, sym.u == ranks.node
        ).select(
            F.col("w").alias("to_node"),
            F.expr("rank_q div deg").alias("c"),
        )
        inflow = contrib.groupBy("to_node").agg(F.sum("c").alias("s"))
        ranks = ckpt(
            ranks.select("node", "deg", "n")
            .join(inflow, ranks.node == inflow.to_node)
            .select(
                "node",
                "deg",
                "n",
                (
                    base.cast("long")
                    + F.floor(F.lit(damping) * F.col("s")).cast("long")
                ).alias("rank_q"),
            )
        )
    return ranks.select("node", "rank_q")


def trade_pairs(
    lineitem: DataFrame, orders: DataFrame, weighted: bool = False
) -> DataFrame:
    """The distinct (customer, supplier) trading-pair dictionary every
    trade-graph operator below derives its edges from — ONE order-line
    join + one pair-grain aggregate, shuffle width the distinct pair
    count, not line count.  ``weighted=True`` additionally carries
    ``w`` = the pair's minimum ship lag in days (exact BIGINT
    date_diff, clamped ≥ 1 — :func:`trade_sssp` documents why the
    floor is part of the contract).

    Factored out so the suite can compute the stage ONCE and fan it
    out (the ``__spark_entry__`` shared-stage memo): ten operators
    (pagerank / bfs / sssp / ppr / hits / assortativity / rich club /
    modularity / reciprocity / degree histogram) consume the identical
    dictionary, so at any scale the pair derivation is a
    one-per-pipeline cost, not one-per-report.  Output: (cust, supp)
    or (cust, supp, w).
    """
    j = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
    if not weighted:
        return j.select(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        ).distinct()
    lag = (
        F.greatest(F.lit(1), F.datediff(F.col("l_shipdate"), F.col("o_orderdate")))
        .cast("bigint")
    )
    return j.groupBy(
        F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
    ).agg(F.min(lag).alias("w"))


def _encode_trade(pairs: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Even/odd bipartite node encoding (customers 2k, suppliers 2k+1)
    over a (cust, supp[, w]) pair table — a pure projection."""
    cols = [
        (F.col("cust") * 2).alias(src),
        (F.col("supp") * 2 + 1).alias(dst),
    ]
    if "w" in pairs.columns:
        cols.append(F.col("w"))
    return pairs.select(*cols)


def trade_graph_pagerank(
    lineitem: DataFrame,
    orders: DataFrame,
    iterations: int = 3,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """PageRank centrality of the customer-supplier trade graph: an edge
    per distinct (customer, supplier) trading pair, customers encoded as
    even node ids (2k) and suppliers odd (2k+1).

    The edge derivation is one distinct over the order-line join —
    shuffle width is the distinct pair count, not line count.  A
    pre-built :func:`trade_pairs` table short-circuits it (the shared
    stage the suite computes once).
    """
    if pairs is None:
        pairs = trade_pairs(lineitem, orders)
    return pagerank(_encode_trade(pairs), iterations=iterations)


def _bitset_triangles(sym: DataFrame, deg: DataFrame, n: int) -> DataFrame:
    """Dense-graph triangle count: one-row ``n_triangles`` via neighbor
    bitsets.  ``sym`` is the canonical deduped edge list (a < b), ``deg``
    the persisted degree table with exactly ``n`` rows, n bounded by the
    caller's ``dense_max_nodes``.  Exact: Σ_edges popcount(N(a) ∩ N(b))
    counts every triangle three times."""
    spark = sym.sparkSession
    # driver-side dense remap: ≤ dense_max_nodes ids (config-bounded,
    # same contract as the IVF probed-cell list in similarity.py)
    nodes = sorted(r["node"] for r in deg.select("node").collect())
    words = max(1, (n + 63) // 64)
    idx = spark.createDataFrame(
        [(v, i) for i, v in enumerate(nodes)], "node long, ix long"
    )
    bid = (
        sym.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .union(sym.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .join(F.broadcast(idx), "node")
        .join(
            F.broadcast(idx.select(F.col("node").alias("nbr"), F.col("ix").alias("nx"))),
            "nbr",
        )
        .select(F.col("ix").alias("node"), F.col("nx").alias("nbr"))
    )
    # neighborhood → ⌈n/64⌉-word bitset.  r10: the former single-fold
    # build ran a nested interpreted transform PER NEIGHBOR
    # (n·deg·words lambda evals — measured 1.46 s of the 1.60 s kernel
    # at the sf0.1 fixture); the OR of each word is a native
    # map-side-combinable BIT_OR aggregate at (node, word) grain, and
    # the array assembly touches only the ≤``words`` distinct words per
    # node.  Word values are identical (absent word ≡ 0L), so the
    # popcount fold below is unchanged.
    wordtab = bid.select(
        "node",
        F.expr("nbr div 64").alias("w"),
        F.expr("shiftleft(1L, cast(nbr % 64 as int))").alias("bit"),
    ).groupBy("node", "w").agg(F.expr("bit_or(bit)").alias("wv"))
    adj = wordtab.groupBy("node").agg(
        F.expr(
            f"transform(sequence(0, {words - 1}), i -> "
            "coalesce(try_element_at("
            "map_from_entries(collect_list(struct(w, wv))), "
            "cast(i as bigint)), 0L))"
        ).alias("bm")
    )
    esym = (
        sym.join(F.broadcast(idx.select(F.col("node").alias("a"), F.col("ix").alias("ia"))), "a")
        .join(F.broadcast(idx.select(F.col("node").alias("b"), F.col("ix").alias("ib"))), "b")
        .select("ia", "ib")
    )
    return (
        esym.join(F.broadcast(adj.select(F.col("node").alias("ia"), F.col("bm").alias("ba"))), "ia")
        .join(F.broadcast(adj.select(F.col("node").alias("ib"), F.col("bm").alias("bb"))), "ib")
        .select(
            F.expr(
                "aggregate(zip_with(ba, bb, (x, y) -> bit_count(x & y)), 0L, (s, c) -> s + c)"
            ).alias("c")
        )
        .agg(F.expr("coalesce(sum(c), 0L) div 3").alias("n_triangles"))
    )


def triangle_stats(edges: DataFrame, dense_max_nodes: int = 4096) -> DataFrame:
    """Global triangle census of an undirected graph: node/edge/wedge/
    triangle counts and the global clustering coefficient — the standard
    graph-shape profile (community density, spam-ring detection).

    Input: one row per undirected edge as ``(u, v)`` BIGINT pairs (either
    orientation, duplicates allowed — symmetrized and deduped here).

    TWO exact kernels, chosen by graph size (the algorithm-switching half
    of runtime re-planning that AQE cannot do — AQE swaps physical
    strategies, not algorithms):

    - **Sparse/large (the 100 TB path)**: degree-ordered edge orientation
      (Cohen's MapReduce triangle counting; also Suri & Vassilvitskii,
      WWW'11).  Every edge is directed from its lower-``(degree, id)``
      endpoint to the higher, so a hub of degree d keeps only
      out-neighbors of HIGHER degree — the out-degree is bounded by
      O(sqrt(m)) and the wedge self-join on the shared source never
      explodes on hubs (the naive id-ordering puts all d·(d-1)/2 wedges
      of a low-id hub in one task).  Each triangle is then counted
      exactly once: wedges (u→v, u→w) with key(v) < key(w) joined against
      the oriented edge (v→w).  The orientation key packs
      ``degree * 2^32 + id`` into one BIGINT — exact in both engines.

    - **Dense/small (``n_nodes ≤ dense_max_nodes``)**: neighbor BITSETS.
      Node ids remap to dense 0..n-1, each node's neighborhood becomes a
      ⌈n/64⌉-long word array, and per undirected edge the triangle
      contribution is ``popcount(bits(a) & bits(b))`` (zip_with +
      bit_count, whole-stage codegen); the sum counts every triangle
      exactly 3×.  A near-complete graph makes the wedge join materialize
      Θ(Σ deg²) rows — the co-supply fixture (n=1000, m=454k, 4.1e8
      wedges) took 19.6 s that way vs ~3 s as 16-word bitset ANDs.
      Memory is n²/8 bits total (2 MB at the 4096 default) and the
      remap is a driver-side enumerate of ≤ ``dense_max_nodes`` ids —
      both config-bounded, same contract as the IVF probed-cell list.

    The kernel choice costs ONE node-dictionary-grain count on the
    (persisted) degree table — map-side-combined, O(distinct nodes) rows;
    it fires at construction time, which is the documented price of an
    algorithm switch (cf. README "runtime re-planning").  Both kernels
    are pinned equal in tests/test_graph.py.

    Wedge count uses the UNDIRECTED degrees (sum of deg·(deg−1)/2, the
    clustering-coefficient denominator); all counts are exact integers,
    the coefficient is one correctly-rounded double division at the end.

    Shape at 100 TB: the graph is sparse (n ≫ dense_max_nodes), so the
    wedge kernel runs: two shuffles on node id (degree count, orientation
    join), one self-join on the oriented source, one join on the wedge
    (v, w) pair — every join key is bounded-skew by construction.
    """
    # the canonical edge list feeds the degree table AND the orientation
    # join; the oriented edge list feeds BOTH wedge sides and the closing
    # join — persist each or the whole upstream pipeline (often an
    # expensive pair-generation) re-executes 3× (measured 10.6s → 3.4s
    # for triangle_doulion at sf0.1)
    sym = (
        edges.select(F.col("u").cast("long").alias("a"),
                     F.col("v").cast("long").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .persist()
    )
    deg = (
        sym.select(F.col("a").alias("node"))
        .union(sym.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    n = deg.count()  # node-dictionary grain — the kernel-choice probe
    if 0 < n <= dense_max_nodes:
        tri = _bitset_triangles(sym, deg, n)
    else:
        key = (F.col("deg") * F.lit(2**32) + F.col("node")).alias("k")
        # node-grain orientation lookups: |V|-sized, so no forced
        # broadcast (AQE converts them exactly when they fit)
        keyed = deg.select("node", key)
        ek = (
            sym.join(keyed.select(F.col("node").alias("a"), F.col("k").alias("ka")), "a")
            .join(keyed.select(F.col("node").alias("b"), F.col("k").alias("kb")), "b")
            .select(
                F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("src"),
                F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
                F.greatest("ka", "kb").alias("kdst"),
            )
            .persist()
        )
        e1, e2 = ek.alias("e1"), ek.alias("e2")
        wedges = (
            e1.join(
                e2,
                (F.col("e1.src") == F.col("e2.src"))
                & (F.col("e1.kdst") < F.col("e2.kdst")),
            )
            .select(F.col("e1.dst").alias("v"), F.col("e2.dst").alias("w"))
        )
        tri = wedges.join(
            ek.select(F.col("src").alias("v"), F.col("dst").alias("w")), ["v", "w"]
        ).agg(F.count(F.lit(1)).alias("n_triangles"))
    # coalesce: aggs over an EMPTY degree table (all input edges were
    # self-loops) return NULL sums; the census of the empty graph is 0s.
    # clustering guards n_wedges = 0 — ANSI mode (Spark 4 default) makes
    # a bare division THROW on zero, not null.
    totals = (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(F.expr("sum(deg) div 2"), F.lit(0)).alias("n_edges"),
            F.coalesce(F.expr("sum(deg * (deg - 1)) div 2"), F.lit(0)).alias(
                "n_wedges"
            ),
        )
    )
    return totals.join(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            (F.col("n_triangles") * 3).cast("double") / F.col("n_wedges"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def cosupply_raw_pairs(lineitem: DataFrame) -> DataFrame:
    """Per-order supplier co-supply pair stream ``(u, v)`` with u < v,
    duplicates across orders retained — the base every co-supply graph
    operator below derives from.  Order sizes are bounded (≤7 lines in
    the TPC-H-ish generator), so the per-order pair expansion is
    O(lines)."""
    sup = lineitem.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("s")
    ).distinct()
    a, b = sup.alias("sa"), sup.alias("sb")
    return (
        a.join(b, (F.col("sa.k") == F.col("sb.k")) & (F.col("sa.s") < F.col("sb.s")))
        .select(F.col("sa.s").alias("u"), F.col("sb.s").alias("v"))
    )


def cosupply_pairs(lineitem: DataFrame) -> DataFrame:
    """The DISTINCT supplier co-supply edge dictionary — the shared
    stage of the co-supply graph family (census / DOULION / k-core):
    every consumer dedups its edges anyway (triangle_stats and k_core
    both open with a canonical distinct; the DOULION coin is a pure
    function of the pair value, so thinning commutes with the dedup),
    so computing the dictionary once and fanning it out preserves
    every consumer's values bit-for-bit while the quadratic-in-basket
    pair expansion runs once per pipeline instead of once per report."""
    return cosupply_raw_pairs(lineitem).distinct()


def cosupply_triangle_stats(
    lineitem: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Triangle census of the supplier co-supply graph: suppliers are
    adjacent when they supply the same order.  The distinct projection
    collapses the per-order pair expansion to the pair dictionary
    before any heavy work (pre-built :func:`cosupply_pairs`
    short-circuits both)."""
    if pairs is None:
        pairs = cosupply_pairs(lineitem)
    return triangle_stats(pairs)


def bfs_hops(
    edges: DataFrame,
    source: int,
    max_hops: int = 6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Single-source BFS: ``(node, hop)`` with the minimum hop count from
    ``source`` to every node reachable within ``max_hops`` over the
    undirected graph — reachability/radius analysis (supply-chain blast
    radius, fraud-ring proximity).

    Frontier expansion: each round joins ONLY the newly-discovered
    frontier against the adjacency (never the full visited set), anti-
    joins visited, and checkpoints — per-round cost is frontier × degree,
    the textbook distributed BFS.  The driver loop carries no data (the
    emptiness probe is ``limit(1).count()``); rounds are bounded a priori
    by ``max_hops`` — on a 1000-executor cluster that is ≤ max_hops
    barriers, each a single shuffle.

    Only the FRONTIER checkpoints per round: ``visited`` stays a lazy
    union over the already-materialized frontiers, whose lineage depth
    is bounded by ``max_hops`` (config, not data) — re-materializing
    the whole visited set every round was an O(|V|) copy per hop for
    nothing (VERDICT r02 item 10: 4.8 s → under 4 s at sf0.1).

    First-visit hop == minimum hop, which is exactly the oracle's
    ``MIN(hop)`` over a hop-capped recursive closure — integer-exact, no
    float anywhere.
    """
    spark = edges.sparkSession
    ckpt = _make_ckpt(spark, checkpoint_dir)
    # canonical-orientation dedup FIRST, mirror after: the distinct
    # shuffles |E| rows instead of 2|E|
    half = (
        edges.select(
            F.least(F.col("u").cast("long"), F.col("v").cast("long")).alias("a"),
            F.greatest(F.col("u").cast("long"), F.col("v").cast("long")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = half.union(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    # one O(1)-result job: knowing |V| up front lets the loop stop the
    # moment everything is visited, instead of paying one final full
    # frontier expansion just to discover it comes back empty
    n_total = sym.select("a").distinct().count()
    visited = ckpt(spark.createDataFrame(
        [(int(source), 0)], "node long, hop int"
    ))
    frontier = visited
    n_visited = 1
    for k in range(1, max_hops + 1):
        if n_visited >= n_total:
            break
        frontier = ckpt(
            frontier.join(sym, frontier.node == sym.a)
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(k).alias("hop"))
        )
        # count on the just-materialized checkpoint: cheap, and doubles
        # as the emptiness probe
        n_new = frontier.count()
        if n_new == 0:
            break
        n_visited += n_new
        visited = visited.union(frontier)
    sym.unpersist()
    return visited


def trade_graph_bfs(
    lineitem: DataFrame,
    orders: DataFrame,
    source: int = 2,
    max_hops: int = 6,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """BFS hop counts over the bipartite customer↔supplier trade graph
    (customers at even node ids 2k, suppliers odd 2k+1 — the
    :func:`trade_graph_pagerank` encoding).  Default source = customer 1
    (node 2); odd hops land on suppliers, even on customers.  A
    pre-built :func:`trade_pairs` table short-circuits the edge
    derivation."""
    if pairs is None:
        pairs = trade_pairs(lineitem, orders)
    return bfs_hops(_encode_trade(pairs, "u", "v"), source, max_hops)


def triangle_doulion(
    edges: DataFrame, mod: int = 8
) -> DataFrame:
    """DOULION triangle estimation (Tsourakakis et al., KDD'09): count
    triangles EXACTLY on a p = 1/``mod`` edge-sampled graph and scale by
    1/p³ — the standard answer when the graph is too dense for an exact
    census (each surviving triangle had probability p³).

    Sampling is a deterministic md5 coin on the canonical edge (both
    engines compute the identical digest — no RNG, reproducible under
    retries/re-partitioning), so the whole estimate is value-hash
    oracle-checkable, unlike a seeded-random implementation.  The
    estimator column is the exact integer ``n_triangles · mod³``.

    At 100 TB this is the difference between Θ(Σ deg²) on the full graph
    and on a p-thinned one (p² less wedge work) with relative error
    O(1/√(p³·T)) — tiny for any graph with many triangles.
    """
    # canonicalize WITHOUT dedup: the coin is a pure function of the
    # canonical pair, so duplicates sample identically and the (shuffling)
    # distinct inside triangle_stats runs on the 1/mod subset instead of
    # the full pair stream — at 100 TB that moves the first wide shuffle
    # past the 8× thinning
    canon = (
        edges.select(F.col("u").cast("long").alias("a"),
                     F.col("v").cast("long").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
    )
    # the established cross-engine 60-bit md5 idiom (text_analysis._md5_60)
    coin = F.conv(
        F.substring(F.md5(F.concat_ws(":", "a", "b")), 18, 15), 16, 10
    ).cast("long")
    sampled = canon.filter(coin % mod == 0)
    stats = triangle_stats(sampled.select(F.col("a").alias("u"),
                                          F.col("b").alias("v")))
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        (F.col("n_triangles") * F.lit(mod ** 3)).alias("est_triangles"),
    )


def cosupply_triangle_doulion(
    lineitem: DataFrame, mod: int = 8, pairs: DataFrame | None = None
) -> DataFrame:
    """DOULION estimate over the supplier co-supply graph — the bench-
    scale variant of :func:`cosupply_triangle_stats` (the synthetic
    fixture's co-supply graph is near-complete, where an exact census is
    Θ(n³) for ANY algorithm; the estimator is how production handles
    dense graphs).

    Solo (pairs=None) the raw pair stream feeds the sampler WITHOUT a
    distinct — the coin is a pure function of the canonical pair, so
    duplicates sample identically and the (shuffling) distinct inside
    triangle_stats runs on the 1/mod subset instead of the full pair
    stream.  A pre-built (deduped) :func:`cosupply_pairs` dictionary
    yields the identical edge set — thinning commutes with the dedup —
    and is the right input when the dictionary is already materialized
    for the census/k-core siblings."""
    if pairs is None:
        pairs = cosupply_raw_pairs(lineitem)
    return triangle_doulion(pairs, mod)


def k_core(
    edges: DataFrame,
    k: int = 3,
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every node keeps degree ≥ k — the standard dense-region extractor
    (community kernels, spam-ring cores, influencer backbones).

    Iterative peeling: drop all nodes with degree < k, recompute, repeat
    to fixpoint.  Each round is one aggregate + two anti joins on the
    (shrinking) edge list with `localCheckpoint` lineage truncation; the
    convergence probe is an O(1)-result ``limit(1).count()``.  Round
    count is bounded by the peeling depth — small for real (heavy-tailed)
    graphs, though adversarial paths need O(n) rounds, hence
    ``max_iter`` (same posture as the CC label-propagation bound).

    Peeling is IDEMPOTENT once converged — re-applying the round to the
    fixpoint changes nothing — which is what lets a fixed-depth unrolled
    SQL oracle compare exactly: unroll ≥ convergence rounds and the two
    engines agree bit-for-bit (the pytest pins the fixture's depth).

    Returns ``(node, deg)`` — core members with their in-core degree.
    """
    sym = (
        edges.select(F.col("u").cast("long").alias("a"),
                     F.col("v").cast("long").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    ckpt = _make_ckpt(edges.sparkSession, checkpoint_dir)
    e = ckpt(sym.union(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ))
    for _ in range(max_iter):
        deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        weak = deg.filter(F.col("deg") < k).select("a")
        if weak.limit(1).count() == 0:
            break
        e = ckpt(
            e.join(weak, "a", "left_anti")
            .join(weak.select(F.col("a").alias("b")), "b", "left_anti")
            .select("a", "b")
        )
    return e.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def cosupply_k_core(
    lineitem: DataFrame,
    k: int = 8,
    mod: int = 8,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """k-core of the DOULION-sampled supplier co-supply graph (the same
    md5-coin 1/``mod`` edge sample as :func:`cosupply_triangle_doulion`,
    so the peeling runs on a realistically sparse graph).  k_core opens
    with a canonical distinct, so feeding the pre-built (deduped)
    :func:`cosupply_pairs` dictionary is value-identical."""
    if pairs is None:
        pairs = cosupply_raw_pairs(lineitem)
    coin = F.conv(
        F.substring(F.md5(F.concat_ws(":", "u", "v")), 18, 15), 16, 10
    ).cast("long")
    return k_core(pairs.filter(coin % mod == 0), k)


def ancestry_closure(part: DataFrame, max_depth: int = 10) -> DataFrame:
    """Hierarchical transitive closure via Spark 4's ``WITH RECURSIVE``
    — the recursive-CTE capability the SQL API gained in 4.0, exercised
    on the decimal-digit part hierarchy (parent = ``p_partkey div 10``,
    a forest: every node has exactly one parent, so UNION ALL recursion
    is explosion-free — #rows = Σ depth(node), never path-combinatorial;
    the dense trade graph deliberately stays on :func:`bfs_hops`, where
    frontier dedup bounds the work a bare UNION ALL cannot).

    One declarative query: Catalyst executes the loop internally (no
    driver-side rounds, no checkpoints, no convergence probes — compare
    the hand-rolled iteration in this module).  ``max_depth`` bounds
    the recursion via the LEVEL-style depth column.

    Output: (p_partkey, ancestor, depth) — every proper ancestor of
    every part with its distance, ancestors ≥ 1.
    """
    part.select("p_partkey").createOrReplaceTempView("__ancestry_src")
    return part.sparkSession.sql(
        f"""
        WITH RECURSIVE up(p_partkey, ancestor, depth) AS (
            SELECT p_partkey, p_partkey div 10 AS ancestor, 1 AS depth
            FROM __ancestry_src
            WHERE p_partkey div 10 >= 1
            UNION ALL
            SELECT p_partkey, ancestor div 10 AS ancestor, depth + 1
            FROM up
            WHERE ancestor div 10 >= 1 AND depth < {int(max_depth)}
        )
        SELECT p_partkey, CAST(ancestor AS BIGINT) AS ancestor,
               CAST(depth AS INT) AS depth
        FROM up
        """
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree profile + Pearson degree assortativity of an undirected
    graph — the one-number answer to "do hubs connect to hubs?" (social
    graphs: positive; bipartite trade/star topologies: negative), plus
    the degree moments that contextualize it.  Standard graph-shape
    audit alongside :func:`triangle_stats`.

    Input: ``(u, v)`` BIGINT pairs, either orientation, duplicates
    allowed — symmetrized and deduped here (self-loops dropped).

    Assortativity = Pearson correlation of (deg(a), deg(b)) over the 2m
    DIRECTED edge stubs.  Sufficient-statistics pattern (cf.
    ``grouped_trend``): degrees are exact BIGINTs from one map-side
    count, the stub join is two hash joins at edge grain against the
    degree table, and (n, Sx, Sxy, Sxx) collapse in one map-side-combined
    aggregate — by symmetry Sy=Sx and Syy=Sxx, so the correlation needs
    only one margin.  ``r = (n*Sxy - Sx^2) / (n*Sxx - Sx^2)`` is ONE
    pinned double tree on DECIMAL(38,0)-exact inputs, bit-identical
    cross-engine.  Regular graphs (zero degree variance) surface NULL.

    Scale: shuffle width is edge grain throughout (degree table joins
    hash-partition on node id; no window, no collect); the output is one
    row.  Returns ``(n_nodes, n_edges, avg_degree, max_degree,
    assortativity)``.

    Reference parity: none (graph extension, SURVEY.md §2.3); the
    degree count is the reference's M5/M8 group-by-key + count at node
    grain.
    """
    # the deduped edge list and the degree table are each referenced by
    # MULTIPLE plan branches (stats uses stubs twice + deg twice, meta
    # uses sym + deg again) — materialize each ONCE so the upstream
    # edge-extraction join doesn't re-run per branch (measured 1.6 s →
    # 3.1 s at sf0.1 when the base tables are InMemoryRelations, the
    # r05→r06 bench regression).  Edge/node grain, dropped by the bench
    # harness's tracked unpersist after the query.
    sym = (
        edges.select(F.col(edges.columns[0]).alias("u"),
                     F.col(edges.columns[1]).alias("w"))
        .filter(F.col("u") != F.col("w"))
        .select(
            F.least("u", "w").alias("a"), F.greatest("u", "w").alias("b")
        )
        .distinct()
        .persist()
    )
    stubs = sym.select("a", "b").union(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = stubs.groupBy("a").agg(F.count(F.lit(1)).alias("deg")).persist()
    joined = (
        stubs.join(deg.select(F.col("a"), F.col("deg").alias("dx")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("deg").alias("dy")), "b"
        )
    )
    stats = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("dx").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("dx") * F.col("dy")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("dx") * F.col("dx")).cast("decimal(38,0)")).alias("sxx"),
    )
    meta = sym.agg(
        F.count(F.lit(1)).alias("n_edges"),
    ).crossJoin(
        F.broadcast(deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("deg").alias("max_degree"),
        ))
    )
    return (
        stats.crossJoin(F.broadcast(meta))
        .select(
            "n_nodes",
            "n_edges",
            F.when(
                F.col("n_nodes") > 0,
                F.lit(2.0) * F.col("n_edges").cast("double")
                / F.col("n_nodes").cast("double"),
            ).alias("avg_degree"),
            F.col("max_degree").cast("bigint").alias("max_degree"),
            F.when(
                (
                    F.col("n").cast("double") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                != 0,
                (
                    F.col("n").cast("double") * F.col("sxy").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                / (
                    F.col("n").cast("double") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                ),
            ).alias("assortativity"),
        )
    )


def trade_degree_assortativity(
    lineitem: DataFrame, orders: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """:func:`degree_assortativity` over the customer-supplier trade
    graph (same edge derivation as :func:`trade_graph_pagerank` —
    distinct pairs at join grain, even/odd node encoding; a pre-built
    :func:`trade_pairs` table short-circuits it)."""
    if pairs is None:
        pairs = trade_pairs(lineitem, orders)
    return degree_assortativity(_encode_trade(pairs))


def two_hop_reach(
    edges: DataFrame, panel_k: int = 100
) -> DataFrame:
    """Exact 1-hop and 2-hop neighborhood sizes for an ABSOLUTE
    hash-ranked panel of nodes — the friend-of-friend / blast-radius
    workload (how many counterparties are within two trades of this
    customer), and the exact face of HyperBall-style reach estimation.

    The node panel is the first ``panel_k`` distinct nodes by
    (md5(cast(node as string)), node) — a deterministic, engine-
    portable pseudo-random order.  Unlike the earlier fractional
    ``node % m`` sample (whose size grows linearly with the node
    dimension, so the sample × deg² second-hop expansion grew 3.3× on
    10× data — SCALE.md's round-6 panel; the same shape the round-5
    verdict ruled weak for link_prediction), the absolute panel pins
    the reach stage at ``panel_k · deg²`` regardless of corpus growth
    (graph.py link_prediction applied this fix in round 6, 6.2×→1.5×).
    Panel selection is one node-grain distinct plus a TakeOrdered
    top-K (no full sort), and the K-row panel broadcasts into the
    stub-list filter — a sampled node's 1-hop ring is exactly its stub
    rows, the second hop joins only those frontier rows back against
    the stubs, and both distincts collapse map-side.  Self and
    first-hop nodes are excluded from the 2-hop ring (strict "exactly
    distance 2" would need distance bookkeeping; this reports the
    standard "within 2 hops, excluding self" ball minus the 1-hop
    ring).

    The stub list and the hop-1 frontier each feed MULTIPLE plan
    branches (stubs → panel + hop1 + the hop-2 probe side; hop1 →
    hop2 + the ring-2 anti-join + the 1-hop count), so both
    ``persist()`` — the same shared-stage discipline as the other
    multi-branch graph audits — instead of re-running the upstream
    edge derivation per branch (the round-6 fix for this being the
    suite's slowest query: the edge derivation executed three times).

    At 100 TB the guard against hub blow-up is the absolute panel plus
    edge-grain shuffles — no per-node adjacency materialization, and
    no knob to turn as the corpus grows: the second-hop expansion
    (panel_k × deg × deg rows before the distinct) scales only with
    degree, not with the node dimension.

    Returns ``(node, n_1hop, n_2hop_new)`` where ``n_2hop_new`` counts
    nodes reachable in exactly ≤2 hops that are not self or 1-hop.
    """
    sym = (
        edges.select(F.col(edges.columns[0]).alias("u"),
                     F.col(edges.columns[1]).alias("w"))
        .filter(F.col("u") != F.col("w"))
        .select(F.least("u", "w").alias("a"), F.greatest("u", "w").alias("b"))
        .distinct()
    )
    stubs = sym.select("a", "b").union(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    panel = (
        stubs.select(F.col("a").alias("node"))
        .distinct()
        .orderBy(F.md5(F.col("node").cast("string")), F.col("node"))
        .limit(panel_k)
    )
    # stub rows are already unique (sym is a distinct undirected pair
    # list), so the panel-filtered hop-1 frontier needs no distinct
    # shuffle; the K-row panel broadcasts into the stub scan
    hop1 = (
        stubs.join(F.broadcast(panel), stubs.a == panel.node)
        .select("node", F.col("b").alias("n1"))
        .persist()
    )
    hop2 = (
        hop1.join(stubs, hop1.n1 == stubs.a)
        .select("node", F.col("b").alias("n2"))
        .distinct()
    )
    ring2 = (
        hop2.join(
            hop1.select("node", F.col("n1").alias("n2")),
            ["node", "n2"],
            "left_anti",
        )
        .filter(F.col("n2") != F.col("node"))
    )
    c1 = hop1.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_1hop")
    )
    c2 = ring2.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_2hop_new")
    )
    return (
        c1.join(c2, "node", "left")
        .select(
            F.col("node").cast("bigint").alias("node"),
            "n_1hop",
            F.coalesce("n_2hop_new", F.lit(0)).cast("bigint").alias(
                "n_2hop_new"
            ),
        )
    )


def trade_two_hop(
    lineitem: DataFrame, orders: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """:func:`two_hop_reach` over the customer-supplier trade graph
    (same distinct-pair edge derivation as :func:`trade_graph_pagerank`;
    a pre-built :func:`trade_pairs` table short-circuits it)."""
    if pairs is None:
        pairs = trade_pairs(lineitem, orders)
    return two_hop_reach(_encode_trade(pairs))


def sssp(
    edges: DataFrame,
    source: int,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded-round single-source shortest paths (Bellman-Ford) over a
    weighted undirected edge list with exact BIGINT weights —
    ``(node, dist)`` for every node whose ≤``rounds``-hop shortest
    distance from ``source`` is final (Bellman-Ford invariant: after r
    rounds every ≤r-edge shortest path is exact).  The weighted
    completion of the hop-count family (bfs/two_hop): "cheapest", not
    "fewest".

    Exactness: distances are BIGINT sums of BIGINT weights — min() is
    order-independent, so labels are bit-identical under any
    partitioning and the round loop unrolls to a value-hash-checkable
    SQL CTE (the pagerank device).

    Scale shape: the symmetrized edge list materializes ONCE
    (localCheckpoint — the upstream edge derivation never re-executes);
    each round is one shuffle join (frontier × edges on node id, AQE
    co-partitions across rounds) + one min-aggregate; distances
    localCheckpoint per round to keep the plan tree flat.  Cost is
    rounds × (|E| join + |V| agg) — the correct 100× shape for a
    diameter-bounded query; unbounded convergence is the same loop with
    the dup_clusters convergence probe.
    """
    ckpt = _make_ckpt(edges.sparkSession, checkpoint_dir)
    sym = ckpt(
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"),
            F.col(weight).cast("bigint").alias("w"),
        ).union(
            edges.select(
                F.col(dst).alias("u"), F.col(src).alias("v"),
                F.col(weight).cast("bigint").alias("w"),
            )
        )
    )
    dist = ckpt(
        sym.sparkSession.createDataFrame(
            [(int(source), 0)], "node long, dist long"
        )
    )
    for _ in range(int(rounds)):
        relaxed = sym.join(dist, sym.u == dist.node).select(
            F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = ckpt(
            dist.union(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("dist").cast("bigint").alias("dist"),
    )


def trade_sssp(
    lineitem: DataFrame,
    orders: DataFrame,
    source: int = 2,
    rounds: int = 4,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """:func:`sssp` over the customer-supplier trade graph: edge weight
    = the pair's minimum ship lag in days (exact BIGINT date_diff),
    clamped to ≥ 1 — ship lag can be non-positive in the wild (pre-ship
    allocations, data glitches), and a non-positive edge in an
    UNDIRECTED graph breaks shortest-path semantics (walking an edge
    back and forth decreases cost without bound), so the metric floor
    is part of the operator's contract, not a fixture patch.  The
    distance is "fastest cumulative fulfillment path" — the same
    distinct-pair derivation as :func:`trade_graph_pagerank` plus one
    min-aggregate for the weights (``trade_pairs(weighted=True)``; a
    pre-built table short-circuits it)."""
    if pairs is None:
        pairs = trade_pairs(lineitem, orders, weighted=True)
    return sssp(_encode_trade(pairs), source=source, rounds=rounds)


def personalized_pagerank(
    edges: DataFrame,
    source: int,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Personalized PageRank from one source node — random walks that
    TELEPORT BACK TO THE SOURCE instead of to a uniform vector, so the
    score is proximity to the source, not global centrality: the
    recommendation/similar-entities workhorse (pagerank's global scores
    answer "who is important", PPR answers "who is important TO this
    node").

    Same exactness protocol as :func:`pagerank`: ranks quantized once
    at PR_SCALE, per-edge contributions ``rank_q div degree``, per-node
    inflow an exact BIGINT sum, the restart mass ``(1−d)·PR_SCALE``
    landing ONLY on the source (floored scalar double, < 2^53 — exact),
    so every round is bit-identical under any partitioning and the loop
    unrolls to a value-hash SQL oracle.

    Scale shape identical to pagerank: symmetrized edges materialize
    once, each round one join + one aggregate at node grain.  Nodes a
    random walk cannot have reached yet simply carry rank 0 — rows
    appear for all nodes from round 1 (the restart term is
    source-only, the inflow join is outer via the union trick).
    """
    ckpt = _make_ckpt(edges.sparkSession, checkpoint_dir)
    sym = ckpt(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("w"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("w")))
    )
    deg = ckpt(
        sym.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
    )
    restart = int((1.0 - damping) * float(PR_SCALE))
    # round 0: all mass at the source
    ranks = ckpt(
        deg.select(
            "node",
            "deg",
            F.when(F.col("node") == source, F.lit(int(PR_SCALE)))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rank_q"),
        )
    )
    for _ in range(int(iterations)):
        contrib = sym.join(ranks, sym.u == ranks.node).select(
            F.col("w").alias("to_node"),
            F.expr("rank_q div deg").alias("c"),
        )
        inflow = contrib.groupBy("to_node").agg(F.sum("c").alias("s"))
        ranks = ckpt(
            ranks.select("node", "deg")
            .join(inflow, ranks.node == inflow.to_node, "left")
            .select(
                "node",
                "deg",
                (
                    F.when(F.col("node") == source, F.lit(restart))
                    .otherwise(F.lit(0))
                    .cast("long")
                    + F.floor(
                        F.lit(float(damping))
                        * F.coalesce(F.col("s"), F.lit(0)).cast("double")
                    ).cast("long")
                ).alias("rank_q"),
            )
        )
    return ranks.select("node", "rank_q")


def trade_ppr(
    lineitem: DataFrame,
    orders: DataFrame,
    source: int = 2,
    iterations: int = 3,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """:func:`personalized_pagerank` over the customer-supplier trade
    graph (same encoding as :func:`trade_graph_pagerank`), personalized
    to the source customer node — "which suppliers/customers are close
    to THIS customer's trading neighborhood".  A pre-built
    :func:`trade_pairs` table short-circuits the edge derivation."""
    if pairs is None:
        pairs = trade_pairs(lineitem, orders)
    return personalized_pagerank(
        _encode_trade(pairs), source=source, iterations=iterations
    )


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node clustering coefficient — the LOCAL face of
    :func:`triangle_stats`' global census: ``(node, degree,
    n_triangles, coeff)`` with ``coeff = 2·t / (d·(d−1))`` (0 for
    degree < 2), the standard community-density / spam-ring feature at
    node grain.

    Same scale kernel as the census's sparse path: degree-ordered edge
    orientation (Cohen / Suri-Vassilvitskii) bounds every node's
    out-degree by O(√m) so the wedge self-join never explodes on hubs;
    each triangle enumerates exactly once as an (u, v, w) key triple
    and explodes to its three member nodes for the per-node count —
    one extra ×3 map over the (small) triangle set versus the census.
    All counts exact integers; the coefficient is one correctly-rounded
    double division.
    """
    half = (
        edges.select(
            F.least(F.col("u").cast("long"), F.col("v").cast("long")).alias("a"),
            F.greatest(F.col("u").cast("long"), F.col("v").cast("long")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        half.select(F.col("a").alias("node"))
        .union(half.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .persist()
    )
    key = (F.col("degree") * F.lit(1 << 32) + F.col("node")).alias("k")
    keys = deg.select("node", key)
    ka = keys.select(F.col("node").alias("a"), F.col("k").alias("ka"))
    kb = keys.select(F.col("node").alias("b"), F.col("k").alias("kb"))
    oriented = (
        half.join(ka, "a")
        .join(kb, "b")
        .select(
            F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("s"),
            F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("t"),
            F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("tk"),
        )
        .persist()
    )
    w1 = oriented.select(F.col("s"), F.col("t").alias("v"), F.col("tk").alias("vk"))
    w2 = oriented.select(F.col("s"), F.col("t").alias("w"), F.col("tk").alias("wk"))
    wedges = w1.join(w2, "s").filter(F.col("vk") < F.col("wk"))
    closing = oriented.select(
        F.col("s").alias("v"), F.col("t").alias("w")
    )
    tris = wedges.join(closing, ["v", "w"]).select(
        F.col("s").alias("x"), "v", "w"
    )
    tri_counts = (
        tris.select(F.explode(F.array("x", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        deg.join(tri_counts, "node", "left")
        .select(
            F.col("node").cast("bigint").alias("node"),
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                (F.coalesce("n_triangles", F.lit(0)) * 2).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("coeff"),
        )
    )


def copurchase_clustering(
    lineitem: DataFrame,
    min_support: int = 2,
    items: DataFrame | None = None,
) -> DataFrame:
    """:func:`local_clustering` over the part co-purchase graph (parts
    adjacent when ordered together — order sizes are generator-bounded,
    so the per-order pair expansion is O(lines)).

    ``min_support`` keeps only pairs co-ordered at least that many
    times: single-co-incidence edges are noise for community analysis
    AND the term that makes a basket graph near-complete (at sf0.1 the
    support filter takes 1.2M edges → 3.6k, and the exact wedge kernel
    from 13 s → sub-second) — the same signal-vs-noise cut
    ``analytics.copurchase`` applies before ranking pairs.

    ``items`` short-circuits the distinct basket pass with a pre-built
    ``analytics.basket_items`` table (the basket family's shared
    stage)."""
    if items is None:
        p = lineitem.select(
            F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p")
        ).distinct()
    else:
        p = items.select(
            F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p")
        )
    a, b = p.alias("pa"), p.alias("pb")
    pairs = (
        a.join(b, (F.col("pa.k") == F.col("pb.k")) & (F.col("pa.p") < F.col("pb.p")))
        .groupBy(F.col("pa.p").alias("u"), F.col("pb.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= int(min_support))
        .select("u", "v")
    )
    return local_clustering(pairs)


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Degree distribution of the undirected graph — the first plot of
    any graph-shape audit (hub detection, skew sizing for the join
    planners, sanity vs the generative model) and the input to every
    "is this scale-free?" argument: ``(degree, n_nodes)`` at DEGREE
    grain, computed from one canonical-orientation distinct + one
    per-node count + one count-of-counts — three map-side-combined
    aggregates, nothing at pair grain.
    """
    half = (
        edges.select(
            F.least(F.col("u").cast("long"), F.col("v").cast("long")).alias("a"),
            F.greatest(F.col("u").cast("long"), F.col("v").cast("long")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = half.union(half.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .select(F.col("degree").cast("bigint").alias("degree"), "n_nodes")
    )


def trade_degree_histogram(
    lineitem: DataFrame, orders: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """:func:`degree_histogram` over the customer-supplier trade graph
    (same even/odd node encoding as :func:`trade_graph_pagerank`; a
    pre-built :func:`trade_pairs` table short-circuits it)."""
    if pairs is None:
        pairs = trade_pairs(lineitem, orders)
    return degree_histogram(_encode_trade(pairs, "u", "v"))


def supplier_panel_pairs(
    lineitem: DataFrame, orders: DataFrame, panel_k: int = 50
) -> DataFrame:
    """The distinct ``(s, c)`` supplier-customer incidence list
    restricted to an ABSOLUTE hash-ranked panel of ``panel_k``
    suppliers — the shared upstream stage of the link-prediction
    family (:func:`link_prediction` and
    :func:`link_prediction_jaccard` both consume exactly this frame;
    VERDICT r06 item 5: build it once per suite run and fan it out,
    the same shared-stage composition as the dedup-closure family).

    Panel: rank every distinct supplier by (md5(cast(suppkey as
    string)), suppkey) — a deterministic, engine-portable
    pseudo-random order — and keep the first ``panel_k``.  The
    absolute panel pins downstream wedge volume at ``panel_k · deg²``
    regardless of corpus growth (a fractional panel measured 6.2× on
    10× data); selection is one supplier-grain distinct plus a
    TakeOrdered top-K, and the K-row panel broadcasts into the
    lineitem scan.
    """
    panel = (
        lineitem.select(F.col("l_suppkey").alias("s"))
        .distinct()
        .orderBy(F.md5(F.col("s").cast("string")), F.col("s"))
        .limit(panel_k)
    )
    return (
        lineitem.join(F.broadcast(panel), lineitem.l_suppkey == panel.s)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(F.col("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )


def link_prediction(
    lineitem: DataFrame,
    orders: DataFrame,
    panel_k: int = 50,
    top_n: int = 20,
    pairs: DataFrame | None = None,
    scored: DataFrame | None = None,
) -> DataFrame:
    """Common-neighbor link prediction on the trade graph: the top
    customer pairs sharing the most suppliers — the bipartite
    collaborative signal behind "customers like you also buy from"
    recommendations and consortium/collusion screens.  Common-neighbor
    count is the canonical first-line link-prediction score (Liben-
    Nowell & Kleinberg); Adamic-Adar's log weights are deliberately
    out of scope (no cross-engine-pinned ln — same stance as PSI/MI).

    Scale containment: wedge generation is quadratic in supplier
    degree, and trade suppliers are dense hubs by construction — so the
    operator scores an ABSOLUTE hash-ranked panel of ``panel_k``
    suppliers: rank every distinct supplier by
    (md5(cast(suppkey as string)), suppkey) — a deterministic,
    engine-portable pseudo-random order — and keep the first
    ``panel_k``.  Unlike a fractional ``suppkey % m`` panel (whose size
    grows linearly with the supplier dimension — SCALE.md measured
    that design at 6.2x on 10x data), the absolute panel pins the
    wedge stage at ``panel_k · deg²`` regardless of corpus growth; the
    panel selection itself is one supplier-grain distinct plus a
    TakeOrdered top-K (no full sort), and the K-row panel broadcasts
    into the lineitem scan.  Output: top ``top_n`` pairs by
    (n_common desc, cust_a, cust_b) — fully deterministic ordering.

    ``pairs`` overrides the panel-filtered incidence stage with a
    prebuilt (typically memoized) :func:`supplier_panel_pairs` frame —
    the shared-stage composition with :func:`link_prediction_jaccard`.
    """
    # ``scored``: a prebuilt (cust_a, cust_b, n_common) wedge-count
    # table (r10 shared stage — link_prediction_jaccard derives the
    # identical 8M-pair aggregate from the same panel incidence; one
    # materialization serves both rankings)
    if scored is None:
        if pairs is None:
            pairs = supplier_panel_pairs(lineitem, orders, panel_k)
        scored = _panel_wedge_counts(pairs)
    return scored.orderBy(
        F.col("n_common").desc(), F.col("cust_a"), F.col("cust_b")
    ).limit(top_n)


def _panel_wedge_counts(pairs: DataFrame) -> DataFrame:
    """(cust_a, cust_b, n_common) over a (s, c) incidence table — the
    wedge expansion + pair-count aggregate both link-prediction
    rankings consume.

    Wedge generation IN-ROW from each supplier's sorted customer
    array instead of a (s, c)×(s, c) self-join: one shuffle to
    supplier grain, pair expansion map-side (the sorted array makes
    cust_a < cust_b free), then the pair-count aggregate — two
    exchanges total where the join form paid three plus a join build."""
    from p2_mapreduce_spark.session import spread

    # the supplier-grain adjacency is tiny (AQE would coalesce it to one
    # task) but each row EXPLODES to deg² pairs — spread it across the
    # cores before the expansion so the wedge work parallelizes
    adj = spread(
        pairs.groupBy("s").agg(
            F.array_sort(F.collect_list("c")).alias("cs")
        )
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("cs"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("cs"), i + 2, F.greatest(F.size("cs") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("cust_a"), y.alias("cust_b")),
            ),
        )
    )
    wedges = adj.select(F.explode(pair_structs).alias("p")).select(
        F.col("p.cust_a"), F.col("p.cust_b")
    )
    return wedges.groupBy("cust_a", "cust_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )


def rich_club(
    edges: DataFrame, thresholds: tuple[int, ...] = (1, 2, 4, 8, 16)
) -> DataFrame:
    """Rich-club coefficient curve φ(k): among nodes of degree > k,
    the realized fraction of possible edges — "do the hubs trade with
    each other?", the graph-shape audit that distinguishes a
    hub-interconnected core (φ → 1) from hubs that only serve the
    periphery, complementing :func:`degree_assortativity` (which
    averages the same tendency into one number).

    Plan: one node-grain degree aggregate from the symmetrized edge
    list, re-joined onto the edges for both endpoints (key-grain hash
    joins), then ONE pass over a #thresholds-sized broadcast list with
    conditional counts — every threshold is answered from the same
    joined frame, so the curve costs one edge scan regardless of how
    many k's are asked.  φ is one pinned IEEE tree over exact BIGINTs.

    Output: (k, n_nodes, n_edges, phi) — a row per threshold, zeros
    when no node qualifies.
    """
    sym = (
        edges.select(F.col(edges.columns[0]).alias("u"),
                     F.col(edges.columns[1]).alias("w"))
        .filter(F.col("u") != F.col("w"))
        .select(F.least("u", "w").alias("a"), F.greatest("u", "w").alias("b"))
        .distinct()
    )
    stubs = sym.select("a", "b").union(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = stubs.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    ks = edges.sparkSession.createDataFrame(
        [(int(k),) for k in thresholds], ["k"]
    )
    nk = (
        deg.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("deg") > F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_nodes")
        )
    )
    ej = (
        sym.join(deg.withColumnRenamed("node", "a").withColumnRenamed(
            "deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed(
            "deg", "db"), "b")
    )
    ek = (
        ej.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    (F.col("da") > F.col("k")) & (F.col("db") > F.col("k")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_edges")
        )
    )
    n = F.col("n_nodes").cast("double")
    return (
        nk.join(ek, "k")
        .select(
            F.col("k").cast("int").alias("k"),
            "n_nodes",
            "n_edges",
            F.when(
                F.col("n_nodes") > 1,
                F.lit(2.0)
                * F.col("n_edges").cast("double")
                / (n * (n - F.lit(1.0))),
            )
            .otherwise(F.lit(0.0))
            .alias("phi"),
        )
    )


def trade_rich_club(
    lineitem: DataFrame, orders: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """:func:`rich_club` over the customer-supplier trade graph (same
    distinct-pair edge derivation as :func:`trade_graph_pagerank`; a
    pre-built :func:`trade_pairs` table short-circuits it)."""
    if pairs is None:
        pairs = trade_pairs(lineitem, orders)
    return rich_club(_encode_trade(pairs))


def link_prediction_jaccard(
    lineitem: DataFrame,
    orders: DataFrame,
    panel_k: int = 50,
    top_n: int = 20,
    pairs: DataFrame | None = None,
    scored: DataFrame | None = None,
) -> DataFrame:
    """Jaccard-normalized link prediction on the trade graph — the
    degree-corrected sibling of :func:`link_prediction`: raw
    common-neighbor counts crown whoever buys the most; Jaccard
    |Γa∩Γb| / |Γa∪Γb| surfaces pairs whose supplier PORTFOLIOS
    overlap, the score that actually ranks "similar customers"
    (Adamic-Adar stays out of scope — no cross-engine-pinned ln,
    the PSI/MI stance).

    Same absolute hash-ranked ``panel_k`` supplier panel and in-row
    wedge expansion as the common-neighbor op (wedge volume pinned at
    panel_k · deg² regardless of corpus growth); degrees are
    panel-restricted distinct-supplier counts per customer, so the
    score is exactly |∩|/(da + db − |∩|) over BIGINTs — one IEEE
    division per pair, ties broken by keys.

    Output: top ``top_n`` pairs by (jaccard desc, cust_a, cust_b):
    (cust_a, cust_b, n_common, deg_a, deg_b, jaccard).

    ``pairs`` overrides the panel-filtered incidence stage with a
    prebuilt (typically memoized/checkpointed)
    :func:`supplier_panel_pairs` frame — the shared-stage composition
    with :func:`link_prediction` (VERDICT r06 item 5).  When built
    here it persists, because it feeds BOTH the degree table and the
    wedge adjacency (shared-stage rule).
    """
    if pairs is None:
        pairs = supplier_panel_pairs(lineitem, orders, panel_k).persist()
    deg = pairs.groupBy(F.col("c").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    # ``scored``: the shared wedge-count stage (see link_prediction) —
    # built here from the same incidence table when not provided
    if scored is None:
        scored = _panel_wedge_counts(pairs)
    out = (
        scored.join(
            deg.withColumnRenamed("node", "cust_a").withColumnRenamed(
                "deg", "deg_a"
            ),
            "cust_a",
        )
        .join(
            deg.withColumnRenamed("node", "cust_b").withColumnRenamed(
                "deg", "deg_b"
            ),
            "cust_b",
        )
        .select(
            "cust_a",
            "cust_b",
            "n_common",
            "deg_a",
            "deg_b",
            (
                F.col("n_common").cast("double")
                / (
                    F.col("deg_a") + F.col("deg_b") - F.col("n_common")
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return out.orderBy(
        F.col("jaccard").desc(), F.col("cust_a"), F.col("cust_b")
    ).limit(top_n)


def graph_modularity(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Newman modularity Q of the NATION partition of the trade graph
    — "does trade cluster inside nations?": for each community c,
    compare the realized within-community edge fraction e_c/m against
    the degree-preserving random expectation (k_c/2m)².  The standard
    community-quality readout, here evaluating a REAL partition
    (entity nations from the dimension tables) rather than a detected
    one.

    Exactness: Q telescopes to exact integers — Q = Σ_c (4·m·e_c −
    k_c²) / (4m²), so the cross-community sum is an order-free BIGINT
    (m ≤ edge count, k_c ≤ 2m → terms < 2^62 for any graph whose edge
    count fits in 2^30) and the division is one pinned IEEE op.
    Per-community rows expose (e_c, k_c, contribution) alongside the
    global Q so the report shows WHICH nations drive it.

    Scale shape: edge derivation at fact grain, two broadcast dim
    joins for the community labels, community-grain aggregates.
    Output: (nation, n_edges_within, degree_sum, q_contrib, q_total).
    """
    if pairs is None:
        pairs = trade_pairs(lineitem, orders)
    pairs = _encode_trade(pairs, "u", "w")
    nat = customer.select(
        (F.col("c_custkey") * 2).alias("node"),
        F.col("c_nationkey").alias("nation"),
    ).union(
        supplier.select(
            (F.col("s_suppkey") * 2 + 1).alias("node"),
            F.col("s_nationkey").alias("nation"),
        )
    )
    edges = (
        pairs.join(
            F.broadcast(nat).withColumnRenamed("node", "u")
            .withColumnRenamed("nation", "nu"),
            "u",
        )
        .join(
            F.broadcast(nat).withColumnRenamed("node", "w")
            .withColumnRenamed("nation", "nw"),
            "w",
        )
    )
    m_row = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    ec = (
        edges.filter(F.col("nu") == F.col("nw"))
        .groupBy(F.col("nu").alias("nation"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_c"))
    )
    kc = (
        edges.select(F.col("nu").alias("nation"))
        .union(edges.select(F.col("nw").alias("nation")))
        .groupBy("nation")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k_c"))
    )
    per = (
        kc.join(ec, "nation", "left")
        .select(
            "nation",
            F.coalesce("e_c", F.lit(0)).cast("bigint").alias(
                "n_edges_within"
            ),
            "k_c",
        )
        .crossJoin(F.broadcast(m_row))
        .withColumn(
            "num",
            (
                F.lit(4) * F.col("m") * F.col("n_edges_within")
                - F.col("k_c") * F.col("k_c")
            ).cast("bigint"),
        )
    )
    tot = per.agg(F.sum("num").cast("bigint").alias("num_tot"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("nation").cast("bigint").alias("nation"),
            "n_edges_within",
            F.col("k_c").alias("degree_sum"),
            (
                F.col("num").cast("double")
                / (
                    F.lit(4.0)
                    * F.col("m").cast("double")
                    * F.col("m").cast("double")
                )
            ).alias("q_contrib"),
            (
                F.col("num_tot").cast("double")
                / (
                    F.lit(4.0)
                    * F.col("m").cast("double")
                    * F.col("m").cast("double")
                )
            ).alias("q_total"),
        )
    )


def harmonic_centrality(
    edges: DataFrame, panel_k: int = 100
) -> DataFrame:
    """Bounded-radius harmonic centrality for the absolute hash-ranked
    node panel: ``H(u) = Σ_{v≠u} 1/d(u,v)`` truncated at radius 2 —
    the centrality that stays defined on disconnected graphs (closeness
    does not) and the standard exact face of HyperBall's harmonic
    estimator.  Within radius 2 it is a pure function of the reach
    counts :func:`two_hop_reach` already computes:
    ``H₂(u) = n_1hop + n_2hop_new / 2``.

    Exactness: surfaced as the exact integer ``h2x = 2·n_1hop +
    n_2hop_new`` plus the single pinned division h2x/2 — no per-node
    float sums.  Same absolute-panel scale story as two_hop_reach:
    the expansion is pinned at panel_k · deg² regardless of corpus
    growth.

    Output: (node, n_1hop, n_2hop_new, h2x, harmonic).
    """
    return harmonic_from_reach(two_hop_reach(edges, panel_k=panel_k))


def harmonic_from_reach(reach: DataFrame) -> DataFrame:
    """:func:`harmonic_centrality` from an already-computed
    :func:`two_hop_reach` frame — the entry point the suite's memoized
    shared reach stage uses (``two_hop`` and ``harmonic`` answer from
    ONE execution of the expansion)."""
    return reach.select(
        "node",
        "n_1hop",
        "n_2hop_new",
        (2 * F.col("n_1hop") + F.col("n_2hop_new"))
        .cast("bigint")
        .alias("h2x"),
        (
            (2 * F.col("n_1hop") + F.col("n_2hop_new")).cast("double")
            / F.lit(2.0)
        ).alias("harmonic"),
    )


def hits_scores(
    edges: DataFrame, iterations: int = 2
) -> DataFrame:
    """HITS (Kleinberg's hubs & authorities) on a DIRECTED edge list
    ``(src, dst)`` — the mutual-recursion sibling of :func:`pagerank`:
    a good hub points at good authorities, a good authority is pointed
    at by good hubs.  On the trade graph (customer → supplier) hubs
    are broad buyers and authorities widely-bought-from suppliers —
    the two sides of the market pagerank's single score conflates.

    Exactness device: the power iteration runs UNNORMALIZED on exact
    BIGINTs — h₀ = 1 for every source; aₖ(i) = Σ_{u→i} hₖ₋₁(u);
    hₖ(u) = Σ_{u→i} aₖ(i) — every intermediate an exact integer sum
    (growth per iteration is bounded by max degree², so 2 iterations
    of a 10⁵-edge graph stay far inside int64).  Normalization (the
    part HITS usually does with an L2 transcendental) happens ONCE at
    the surface, dividing by the integer MAX score — one IEEE division
    per row, deterministic, and order statistics need no sqrt.

    Scale shape: per iteration one groupBy per side over the edge
    list (map-side combined, same contract as pagerank's contribution
    aggregate).  Output: (node, side, score_q, score) for every node,
    side ∈ hub/auth, score = score_q / max(score_q within side).
    """
    # materialize the edge list once (read 2·iterations times) and the
    # final score tables once each — the hub/auth mutual recursion
    # otherwise RECOMPUTES the whole chain for every consumer (scores +
    # the max aggregate on each side: 4.0 s → ~3.0 s solo at sf0.1;
    # the remaining cost is the edge-derivation join + the iteration
    # shuffles themselves, in line with pagerank_trade's 2.5 s), the
    # pagerank per-round localCheckpoint discipline
    e = edges.select("src", "dst").localCheckpoint()
    # h0 = 1 per distinct source
    hub = e.select("src").distinct().select(
        "src", F.lit(1).cast("bigint").alias("h")
    )
    auth = None
    for _ in range(iterations):
        auth = (
            e.join(hub, "src")
            .groupBy("dst")
            .agg(F.sum("h").cast("bigint").alias("a"))
        )
        hub = (
            e.join(auth, "dst")
            .groupBy("src")
            .agg(F.sum("a").cast("bigint").alias("h"))
        )
    auth = auth.localCheckpoint()
    hub = hub.localCheckpoint()
    h_max = hub.agg(F.max("h").alias("m"))
    a_max = auth.agg(F.max("a").alias("m"))
    hubs = hub.crossJoin(F.broadcast(h_max)).select(
        F.col("src").alias("node"),
        F.lit("hub").alias("side"),
        F.col("h").alias("score_q"),
        (F.col("h").cast("double") / F.col("m").cast("double")).alias(
            "score"
        ),
    )
    auths = auth.crossJoin(F.broadcast(a_max)).select(
        F.col("dst").alias("node"),
        F.lit("auth").alias("side"),
        F.col("a").alias("score_q"),
        (F.col("a").cast("double") / F.col("m").cast("double")).alias(
            "score"
        ),
    )
    return hubs.unionByName(auths)


def trade_hits(
    lineitem: DataFrame, orders: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """:func:`hits_scores` over the customer→supplier trade graph (the
    pagerank_trade edge derivation: one distinct over the order-line
    join, customers even node ids, suppliers odd; a pre-built
    :func:`trade_pairs` table short-circuits it)."""
    if pairs is None:
        pairs = trade_pairs(lineitem, orders)
    return hits_scores(_encode_trade(pairs))


def nation_trade_reciprocity(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Reciprocity of the DIRECTED nation-to-nation trade graph: one
    edge per distinct (supplier nation → customer nation) trading
    relationship (self-loops excluded), and the fraction of edges whose
    REVERSE edge also exists — the standard directed-graph symmetry
    audit (trade-balance / mutual-dependency screening) that the
    undirected census family (triangle_stats, degree_assort) cannot
    ask.

    Shape at 100 TB: the fact-grain joins contract to the distinct
    nation-pair list FIRST (≤ nations² rows — dictionary grain), then
    reciprocity is one self-join on the reversed key over that tiny
    edge list.  Exact integer counts; the ratio is one IEEE division.

    Output: one row (n_edges, n_reciprocated, reciprocity).

    A pre-built :func:`trade_pairs` table short-circuits the fact-grain
    join: the distinct (cust, supp) dictionary is a sufficient
    statistic for the nation-pair edge set, so only the two dim joins
    and the nation-grain distinct remain.
    """
    if pairs is None:
        pairs = (
            lineitem.join(
                orders, lineitem["l_orderkey"] == orders["o_orderkey"]
            )
            .select(
                F.col("o_custkey").alias("cust"),
                F.col("l_suppkey").alias("supp"),
            )
        )
    edges = (
        pairs.join(customer, F.col("cust") == F.col("c_custkey"))
        .join(supplier, F.col("supp") == F.col("s_suppkey"))
        .select(
            F.col("s_nationkey").cast("bigint").alias("src"),
            F.col("c_nationkey").cast("bigint").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = edges.join(rev, ["src", "dst"], "left_semi")
    counts = edges.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges")
    ).join(
        F.broadcast(
            recip.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_reciprocated")
            )
        )
    )
    return counts.select(
        "n_edges",
        "n_reciprocated",
        F.when(
            F.col("n_edges") > 0,
            F.col("n_reciprocated").cast("double")
            / F.col("n_edges").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("reciprocity"),
    )
