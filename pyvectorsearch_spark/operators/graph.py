"""Graph operators for duplicate clustering.

A pair generator (``operators.dedup``) emits near-duplicate PAIRS; a
training-data pipeline needs CLUSTERS (keep one representative per group of
mutually-similar docs). Pairs → clusters is connected components.

The reference has no graph surface at all (its only structure is the PK-tree,
``/root/reference/include/pktree.hpp``); this is a north-star extension for
the 100 TB dedup pipeline.

Scale design: iterative min-label propagation — each round is one
shuffle-join (labels onto edge endpoints) plus one map-side-combined
``groupBy(node).min``. Rounds needed = graph diameter; near-dup clusters are
near-cliques (diameter 2-3), so convergence is fast in practice and bounded
by ``max_iter``. Lineage is truncated every round with ``localCheckpoint``
(eager) so the plan does not grow unboundedly — without it, round k replays
rounds 1..k-1 and the job is quadratic. The convergence test (did any label
change?) piggybacks on the same job that materializes the checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _cc_driver(
    edges: DataFrame, _stats: dict | None = None, rows: list | None = None
) -> DataFrame:
    """Union-find over a census-bounded collected edge list — identical
    (node, cluster=min id in component) output to the distributed rounds.
    Only reached through ``connected_components(driver_max_edges=...)``,
    which has already proven the directed edge count ≤ the bound.
    ``rows`` lets the caller hand over an already-collected edge list
    (the r11 bounded probe) so no second action runs; duplicate edges are
    harmless — union-find is idempotent."""
    if rows is None:
        rows = edges.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = r["a"], r["b"]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-id root so cluster = component minimum falls out directly
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(n, find(n)) for n in parent]
    if _stats is not None:
        _stats.update(mode="driver", rounds=0)
    spark = edges.sparkSession
    n_slices = max(1, min(
        spark.sparkContext.defaultParallelism, len(out) // 4096 or 1
    ))
    from pyspark.sql import types as T

    node_type = edges.schema["a"].dataType  # id type flows through untouched
    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("cluster", node_type)]
    )
    # broadcast hint: the result is bounded by driver_max_edges (≤ ~2 MB),
    # but as a parallelized ExistingRDD its size statistic is unknown, so
    # without the hint the downstream docs⋈comp join plans a sort-merge
    # that shuffles the whole CORPUS side (measured: it erased the win)
    return F.broadcast(
        spark.createDataFrame(
            spark.sparkContext.parallelize(out, n_slices), schema
        )
    )


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 25,
    switch_after: int | None = 8,
    start: str = "auto",
    driver_max_edges: int | None = None,
    _stats: dict | None = None,
) -> DataFrame:
    """(node, cluster) for every node appearing in ``pairs``; ``cluster`` is
    the minimum node id in the node's connected component.

    Auto-dispatch, two layers (r5 + r7):

    - START (r7, VERDICT r6 ask #7): ``start="auto"`` runs a degree census
      first — one tiny exchange-free aggregate over the co-partitioned
      edge table. If the MAX degree is ≤ 2, every component is exactly a
      path or a cycle (diameter = component size — the shape min-label
      dies on); if ADDITIONALLY interior (degree-2) nodes dominate
      (≥ 75 %), those paths/cycles are LONG, and the call starts DIRECTLY
      in :func:`connected_components_twostar` (O(log n) rounds from round
      1, no wasted label rounds). The second condition keeps
      pair-dominated dup graphs (the real corpus at small SF: mostly
      2-cliques, degree-1 endpoints everywhere, 1-round label
      convergence) on the min-label default. Any clique of size ≥ 4 or
      hub keeps max degree > 2 and the near-dup default intact. A full
      diameter estimate via BFS would itself cost eccentricity-many join
      rounds — the very cost being avoided — which is why the census is
      the dispatch input. ``start="label"`` / ``start="twostar"`` force a
      path.
    - STALL (r5): mixed graphs (max degree > 2 but a long chain hiding
      somewhere) still get caught by the ``switch_after`` fallback — if
      labels have not converged after that many rounds, the ORIGINAL pair
      table goes to two-star (property-tested equivalent output).

    ``switch_after=None`` disables both layers and restores the strict
    behavior: ``RuntimeError`` if not converged after ``max_iter`` rounds.
    ``_stats``, when a dict, receives ``{"mode": "label"|"twostar"|"driver",
    "rounds": k}`` plus ``max_degree`` when the census ran.

    ``driver_max_edges`` (r10 optimization round, opt-in): when the census
    shows the whole DIRECTED edge table holds at most this many rows, skip
    the iterative rounds and run union-find on the driver over the collected
    edges — the bounded-driver twin of the distributed algorithm, the same
    dispatch pattern as ``GridIndex``'s driver/distributed candidate modes.
    Each label round costs a join + aggregate + convergence action; on a
    near-dup graph of a few hundred edges that machinery is two orders of
    magnitude more than the actual work (measured ~0.6 s of round jobs for a
    256-edge sf0.1 graph). The bound caps driver memory at
    ``driver_max_edges``×16 B and the distributed paths stay the default
    (``None`` disables, and is the default so forced-mode callers and pins
    are untouched).
    """
    if start not in ("auto", "label", "twostar"):
        raise ValueError(f"unknown start mode {start!r}")
    raw = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        pairs.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    probe_driver = (
        driver_max_edges is not None and start == "auto" and switch_after is not None
    )
    if probe_driver:
        # r11: ONE bounded action decides the driver dispatch AND, when the
        # graph is under the bound, already holds the whole edge list —
        # replacing the r10 shape (distinct + repartition shuffles, then a
        # census job, then a second collect). The raw union is checkpointed
        # first so the expensive pair pipeline is evaluated exactly once
        # whichever branch wins; the probe's memory is capped at
        # (driver_max_edges + 1) rows whatever the graph size. Raw rows
        # count duplicates, so the raw-row bound is conservative vs the
        # r10 distinct-directed-edge census bound.
        raw = raw.localCheckpoint(eager=True)
        probe = raw.limit(int(driver_max_edges) + 1).collect()
        if len(probe) <= driver_max_edges:
            return _cc_driver(raw, _stats=_stats, rows=probe)
    # Pre-partition the (checkpointed-once) edge table on the lookup key so
    # every round's labels join is co-partitioned against it — checkpoint
    # preserves outputPartitioning, so rounds re-sort but never re-exchange
    # the edges.
    edges = raw.distinct().repartition("b").localCheckpoint(eager=True)
    if probe_driver:
        # the raw checkpoint (duplicates included) is consumed: free it
        raw._jdf.queryExecution().analyzed().rdd().unpersist(False)
    if start == "auto" and switch_after is not None:
        # degree census on "b" — the edge table's partitioning key, so the
        # groupBy is exchange-free; edges hold both directions, so the
        # count per b IS the undirected degree
        row = (
            edges.groupBy("b")
            .count()
            .agg(
                F.max("count").alias("mx"),
                F.count("*").alias("n"),
                F.sum((F.col("count") == 2).cast("long")).alias("d2"),
                F.sum("count").alias("m"),
            )
            .first()
        )
        maxdeg, n_nodes, n_deg2 = (row["mx"] or 0), row["n"], (row["d2"] or 0)
        m_directed = row["m"] or 0
        if _stats is not None:
            _stats["max_degree"] = int(maxdeg)
            _stats["deg2_frac"] = (n_deg2 / n_nodes) if n_nodes else 0.0
        if (
            driver_max_edges is not None
            and 0 < m_directed <= driver_max_edges
        ):
            return _cc_driver(edges, _stats=_stats)
        chainy = n_nodes > 0 and maxdeg <= 2 and n_deg2 >= 0.75 * n_nodes
        start = "twostar" if chainy else "label"
    if start == "twostar":
        if _stats is not None:
            _stats.update(mode="twostar", rounds=0)
        return connected_components_twostar(pairs, src=src, dst=dst)
    # label(v) = min(v, min neighbor) — already one propagation step.
    labels = edges.groupBy("a").agg(
        F.least(F.col("a"), F.min("b")).alias("lbl")
    ).select(F.col("a").alias("node"), "lbl")

    rounds = max_iter if switch_after is None else min(max_iter, switch_after)
    for i in range(rounds):
        # min label over each node's neighborhood (one shuffle join + agg)
        nbr = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        # Lazy checkpoint: the convergence aggregate below is the action
        # that materializes it — ONE job per round carries both the label
        # update and the did-anything-change flag (no separate count job).
        nxt = (
            labels.join(nbr, labels["node"] == nbr["a"], "left")
            .select(
                "node",
                F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
                (F.col("lbl") != F.least("lbl", F.coalesce("nbr_lbl", "lbl"))).alias(
                    "_changed"
                ),
            )
            .localCheckpoint(eager=False)
        )
        changed = nxt.agg(F.max(F.col("_changed").cast("int"))).first()[0]
        labels = nxt.drop("_changed")
        if not changed:
            if _stats is not None:
                _stats.update(mode="label", rounds=i + 1)
            return labels.select("node", F.col("lbl").alias("cluster"))
    if switch_after is not None:
        if _stats is not None:
            _stats.update(mode="twostar", rounds=rounds)
        return connected_components_twostar(pairs, src=src, dst=dst)
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src: str = "d1",
    dst: str = "d2",
    driver_max_edges: int | None = 65_536,
) -> DataFrame:
    """Assign every document a ``cluster_id``: the component minimum for docs
    that appear in a duplicate pair, the doc's own id otherwise. The keep-rule
    is then ``cluster_id == doc_id``.

    Near-dup graphs are tiny relative to the corpus (pairs surviving a 0.8
    Jaccard threshold), so the census-bounded driver union-find path is ON
    here by default (≤ 64k directed edges ≈ 1 MB collected; see
    ``connected_components``) — a 100 TB corpus whose dup graph exceeds the
    bound takes the distributed rounds exactly as before."""
    comp = connected_components(
        pairs, src=src, dst=dst, driver_max_edges=driver_max_edges
    )
    return docs.join(
        comp, docs[id_col] == comp["node"], "left"
    ).select(
        docs[id_col],
        F.coalesce("cluster", docs[id_col]).alias("cluster_id"),
    )


def pagerank(
    pairs: DataFrame,
    *,
    src: str = "d1",
    dst: str = "d2",
    damping: float = 0.85,
    iters: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected similarity graph — the
    centrality companion to ``connected_components`` (a high-rank node is
    the natural cluster REPRESENTATIVE to keep; public algorithm: Brin &
    Page 1998, scale-invariant teleport form r' = (1-d) + d * Σ r_u/deg_u
    with r0 = 1).

    Determinism contract: per-edge contributions and per-round totals are
    rounded to ``round_dp`` before use, so the fixed ``iters``-round result
    is bit-identical across engines — the DuckDB oracle simply unrolls the
    same ``iters`` rounds as CTE layers.

    Scale shape: each round is one shuffle-join of ranks onto the edge
    list's ``b`` side plus one map-side-combined ``groupBy(a).sum`` —
    identical to a CC round; the edge table is checkpointed once and
    pre-partitioned on the lookup key so rounds re-sort but never
    re-exchange it.

    Returns (node, pagerank)."""
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .repartition("b")
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("b").agg(F.count("*").alias("_deg"))
    ranks = deg.select(F.col("b").alias("node"), F.lit(1.0).alias("r"))
    for _ in range(iters):
        contrib = (
            edges.join(deg, "b")
            .join(ranks.withColumnRenamed("node", "b"), "b")
            .select("a", F.round(F.col("r") / F.col("_deg"), round_dp).alias("_c"))
        )
        ranks = contrib.groupBy("a").agg(
            F.round(
                (1.0 - damping) + damping * F.round(F.sum("_c"), round_dp),
                round_dp,
            ).alias("r")
        ).select(F.col("a").alias("node"), "r")
    return ranks.select("node", F.col("r").alias("pagerank"))


def triangle_stats(
    pairs: DataFrame,
    *,
    src: str = "d1",
    dst: str = "d2",
) -> DataFrame:
    """One-row triangle census of the similarity graph: node/edge counts,
    closed triangles, open wedges, and the global clustering coefficient
    3T/W — the standard "is this near-dup graph clique-like or chain-like?"
    health check before trusting single-linkage clusters (a chain-like graph
    means LSH is gluing unrelated docs through middlemen).

    Scale shape: the classic oriented triangle join (a<b ordering is the
    degree-skew guard from Suri & Vassilvitskii 2011's MR-triangle work —
    every triangle is counted exactly once, and high-degree hubs never
    explode into both join sides): edges join edges on the shared middle
    vertex, then close against the third edge — two shuffle-joins over the
    EDGE table only (pairs-sized, already reduced from the corpus). Wedges
    come from the degree table (nodes-sized); all-integer arithmetic until
    the final rounded ratio.

    Returns (n_nodes, n_edges, n_triangles, n_wedges, gcc_r)."""
    # The oriented triangle join requires canonical a<b edges; enforce it
    # defensively (least/greatest + self-loop drop + distinct) so a caller
    # passing both orientations or unordered pairs cannot silently skew the
    # census.
    e = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count("*").cast("bigint").alias("_d"))
    nodes = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum(F.expr("(_d * (_d - 1)) div 2")).cast("bigint").alias("n_wedges"),
    )
    edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    out = nodes.crossJoin(edges).crossJoin(tri)
    gcc = F.when(
        F.col("n_wedges") > 0,
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
    ).otherwise(F.lit(0.0))
    return out.select(
        "n_nodes", "n_edges", "n_triangles", "n_wedges", gcc.alias("gcc_r")
    )


def label_propagation(
    pairs: DataFrame,
    *,
    src: str = "d1",
    dst: str = "d2",
    iters: int = 2,
) -> DataFrame:
    """Fixed-iteration synchronous label propagation (Raghavan et al. 2007)
    over the undirected similarity graph: each round every node adopts the
    most frequent label among its neighbors (ties broken by smallest
    label). Unlike connected components (which fuses everything reachable),
    LPA lets a chain-shaped near-dup graph split into locally-dense
    communities — the finer-grained alternative when single-linkage
    over-merges.

    Determinism contract: the (count desc, label asc) tie-break makes every
    round a pure function of the previous labels, so a fixed ``iters``
    produces engine-identical results and the oracle simply unrolls the
    same rounds as CTE layers (the PageRank pattern).

    Scale shape per round: one shuffle-join of labels onto the edge list's
    ``b`` side, one map-side-combined (node, label) count, one per-node
    top-1 window over the node's distinct neighbor labels (bounded by
    degree). The edge list is checkpointed once and pre-partitioned on the
    lookup key.

    Returns (node, community)."""
    from pyspark.sql import Window

    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .repartition("b")
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("b").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    w = Window.partitionBy("a").orderBy(F.desc("_n"), F.asc("lbl"))
    for _ in range(iters):
        nbr = edges.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select("a", "lbl")
        cnt = nbr.groupBy("a", "lbl").agg(F.count("*").alias("_n"))
        labels = (
            cnt.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("a").alias("node"), "lbl")
        )
    return labels.select("node", F.col("lbl").alias("community"))


def kcore_peel(
    pairs: DataFrame,
    *,
    src: str = "d1",
    dst: str = "d2",
    k: int = 2,
    rounds: int = 4,
) -> DataFrame:
    """Fixed-``rounds`` k-core peeling (Seidman 1983's core decomposition,
    bounded-round form): each round drops every node with degree < ``k`` in
    the SURVIVING graph, simultaneously — after enough rounds the survivor
    set is exactly the k-core; a fixed round count keeps the result a pure
    function of the input so the oracle can unroll the same rounds as CTE
    layers (recursive SQL cannot aggregate inside the recursive term, so
    peel-to-fixpoint is not oracle-expressible — same design trade as the
    fixed-iteration PageRank/LPA next door).

    Scale shape per round: one map-side-combined degree count over the
    surviving edge list + two semi-joins restricting edges — the edge table
    only shrinks; lineage truncated per round with ``localCheckpoint`` so
    round r never replays rounds 1..r-1.

    Returns (node, deg) for survivors with their final within-subgraph
    degree."""
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        deg = edges.groupBy("a").agg(F.count("*").alias("_d"))
        keep = deg.filter(F.col("_d") >= k).select("a")
        edges = (
            edges.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    return (
        edges.groupBy("a")
        .agg(F.count("*").cast("bigint").alias("deg"))
        .filter(F.col("deg") >= k)
        .select(F.col("a").alias("node"), "deg")
    )


def mutual_knn_pairs(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Mutual (reciprocal) kNN graph: the pairs (a, b) where b is among a's
    k nearest neighbors AND a is among b's — the standard symmetric-graph
    construction for kNN-based clustering/dedup (a much higher-precision
    edge set than the one-directional kNN graph, which hub nodes pollute).

    Determinism: neighbor ranking orders by (dist, id) with the fixed-fold
    ``l2_sq`` distance, so ranks are engine-exact and the oracle replays the
    same window. Returns (d1, d2, rank_ab, rank_ba, dist_r), d1 < d2.

    Scale shape: the directed kNN here is the exhaustive self-join twin
    (correctness anchor, oracle-checkable); at corpus scale feed the same
    mutualization join from the blocked/IVF kNN instead — the second phase
    (edge ⋈ reversed-edge on the two ids, then a<b) is one equi-join on the
    k·n directed-edge table regardless of how the edges were produced.
    """
    from pyspark.sql import Window

    from pyvectorsearch_spark.functions.vector import l2_sq

    a = vectors.select(F.col(id_col).alias("_ia"), F.col(vec_col).alias("_va"))
    b = vectors.select(F.col(id_col).alias("_ib"), F.col(vec_col).alias("_vb"))
    d = (
        a.join(b, F.col("_ia") != F.col("_ib"))
        .withColumn("_dist", l2_sq("_va", "_vb"))
        .select("_ia", "_ib", "_dist")
    )
    w = Window.partitionBy("_ia").orderBy(F.asc("_dist"), F.asc("_ib"))
    e = d.withColumn("_rnk", F.row_number().over(w)).filter(F.col("_rnk") <= k)
    e1 = e.select(
        F.col("_ia").alias("d1"),
        F.col("_ib").alias("d2"),
        F.col("_rnk").alias("rank_ab"),
        F.col("_dist").alias("_dab"),
    )
    e2 = e.select(
        F.col("_ib").alias("d1"),
        F.col("_ia").alias("d2"),
        F.col("_rnk").alias("rank_ba"),
    )
    return (
        e1.join(e2, ["d1", "d2"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "rank_ab", "rank_ba", F.round("_dab", 6).alias("dist_r"))
    )


def connected_components_twostar(
    pairs: DataFrame,
    *,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
    2014) — the O(log n)-round alternative to ``connected_components``'s
    min-label propagation, whose round count is the graph DIAMETER. Near-dup
    graphs are near-cliques (diameter 2-3), so min-label is the right
    default there; a long-chain graph (10^6-hop paths in lineage/session
    graphs) needs this one, which contracts chains exponentially.

    Each round: large-star hangs every neighbor LARGER than u onto the
    minimum of u's closed neighborhood; small-star re-hangs the smaller
    ones. Both are one groupBy(min) + one join over the edge list;
    lineage is checkpointed per round and convergence (edge set stable)
    piggybacks on the checkpoint action via an order-independent checksum.

    Returns (node, cluster) — identical contract (and, by the CC property
    test, identical output) to ``connected_components``."""
    e = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("u").alias("node")).union(
        e.select(F.col("v").alias("node"))
    ).distinct().localCheckpoint(eager=True)

    def _star(edges: DataFrame, large: bool) -> DataFrame:
        # undirected neighborhood of every node; m = min of the CLOSED
        # neighborhood. Large-star hangs strict-larger neighbors onto m;
        # small-star hangs v <= u INCLUDING u itself (the canonical
        # formulation — dropping the u -> m edge would dissolve finished
        # stars back to nothing).
        nbr = edges.select(F.col("u").alias("c"), F.col("v").alias("n")).union(
            edges.select(F.col("v").alias("c"), F.col("u").alias("n"))
        )
        closed = nbr.union(nbr.select(F.col("c"), F.col("c").alias("n")).distinct())
        m = closed.groupBy("c").agg(F.min("n").alias("m"))
        side = nbr if large else closed
        j = side.join(m, "c")
        cond = F.col("n") > F.col("c") if large else F.col("n") <= F.col("c")
        out = (
            j.filter(cond)
            .select(
                F.least("n", "m").alias("u"), F.greatest("n", "m").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return out

    def _checksum(edges: DataFrame):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("u"), F.col("v"))), 1, 13
            ),
            16,
            10,
        ).cast("bigint")
        row = edges.select(h.alias("_h")).agg(
            F.count("*").alias("n"), F.expr("bit_xor(_h)").alias("x")
        ).first()
        return (row["n"], row["x"])

    prev = _checksum(e)
    for _ in range(max_iter):
        e = _star(_star(e, large=True), large=False).localCheckpoint(eager=True)
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"two-star CC: no convergence in {max_iter} rounds")
    # converged: the edge set is a star forest (v -> its component min u)
    lbl = e.select(F.col("v").alias("node"), F.col("u").alias("cluster"))
    roots = nodes.join(
        lbl.select(F.col("node").alias("n2")), nodes["node"] == F.col("n2"), "left_anti"
    ).select("node", F.col("node").alias("cluster"))
    return lbl.union(roots)


def bfs_hops(
    pairs: DataFrame,
    *,
    seed,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 25,
) -> DataFrame:
    """(node, hops) BFS distance from ``seed`` over the undirected pair
    graph — the reachability/radius primitive beside the component labels
    (``connected_components`` says WHO is transitively linked; this says
    HOW FAR, which is the chain-length evidence behind the over-merge
    diagnostics: a hop-7 "duplicate" is single-linkage glue, not a copy).

    Distributed min-distance propagation (Bellman–Ford on unit weights):
    dist(v) = min(dist(v), min over neighbors dist(u) + 1) per round, same
    co-partitioned edge join + lazy-checkpoint convergence trick as
    ``connected_components`` — one job per round, edges never re-exchange.
    Rounds = graph eccentricity of the seed, bounded by ``max_iter``.

    Returns only REACHED nodes; unreached nodes are absent (callers count
    them by anti-joining the node set).
    """
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .repartition("b")
        .localCheckpoint(eager=True)
    )
    spark = pairs.sparkSession
    dist = spark.createDataFrame([(int(seed), 0)], "node long, hops int")
    for _ in range(max_iter):
        nbr = (
            edges.join(dist, edges["b"] == dist["node"])
            .groupBy("a")
            .agg((F.min("hops") + 1).alias("nhops"))
            .select(F.col("a").alias("node"), F.col("nhops"))
        )
        nxt = (
            dist.select("node", "hops")
            .join(nbr.withColumnRenamed("nhops", "_cand")
                  .withColumnRenamed("node", "_n"),
                  F.col("node") == F.col("_n"), "full")
            .select(
                F.coalesce("node", "_n").alias("node"),
                F.least(
                    F.coalesce("hops", F.lit(max_iter + 1)),
                    F.coalesce("_cand", F.lit(max_iter + 1)),
                ).cast("int").alias("hops"),
                (
                    F.col("hops").isNull()
                    | (F.coalesce("_cand", F.lit(max_iter + 1)) < F.col("hops"))
                ).cast("int").alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = nxt.agg(F.max("_changed")).collect()[0][0]
        dist = nxt.select("node", "hops")
        if not changed:
            return dist
    raise RuntimeError(f"bfs_hops: no convergence in {max_iter} rounds")
