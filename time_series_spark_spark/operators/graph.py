"""Connected components on a pair graph (duplicate-cluster resolution).

Near-dup detection (operators/llm.py K2) emits PAIRS; a curation pipeline
needs CLUSTERS — "these 17 docs are all the same article" — and one
canonical representative per cluster to keep. Pair→cluster is connected
components over the similarity graph.

Algorithm: iterated min-label propagation with a pointer-jumping step
(the hook + shortcut pattern of Shiloach & Vishkin 1982, the same
primitive behind the MapReduce CC algorithms of Kiveris et al., KDD'14
"Connected Components in MapReduce and Beyond"). Each round:

  hook:  l(u) ← min(l(u), min over neighbors v of l(v))   — 2 shuffles
  jump:  l(u) ← l(l(u))                                    — 1 shuffle

Pointer jumping halves the depth of the label-pointer forest each round,
so convergence is O(log n) rounds even on path-shaped components (plain
propagation needs O(diameter)). Duplicate graphs are near-cliques and
typically converge in 2-3 rounds.

Scale posture: everything is DataFrame joins/aggregations — no driver
materialization of nodes or edges; the driver holds only the per-round
convergence scalar. Labels decrease monotonically, so the fixpoint test
"sum of labels unchanged" (computed as decimal(38,0) — immune to int64
overflow at any node count) is exact, not heuristic.

Every iterative loop in this module cuts its lineage through
:func:`_checkpoint`, one eager Spark job per cut, and a loop with a
convergence test reads it from a metric observed in that same job: no
round runs a separate probe action. The cut is reliable ``checkpoint``
when the SparkContext has a checkpoint directory (Spark's own rule, as
for ALS's ``checkpointInterval``: cluster-correct, survives executor
loss) and ``localCheckpoint`` otherwise (fine on local[n], NOT
fault-tolerant on a cluster). The directory is a deployment setting,
``SparkContext.setCheckpointDir``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from time_series_spark_spark.session import local_df

# pagerank runs a fixed number of rounds and has no convergence test:
# an eager cut every few rounds keeps its plan constant-size
_PAGERANK_CUT_EVERY = 4


def _checkpoint(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """Cut ``df``'s lineage eagerly and return it with ``metrics`` (named
    aggregate columns) computed by ``DataFrame.observe`` in the same job."""
    obs = Observation()
    if metrics:
        df = df.observe(obs, *metrics)
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        df = df.checkpoint(eager=True)
    else:
        df = df.localCheckpoint(eager=True)
    return df, obs.get if metrics else {}


def _undirected(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of every non-loop edge, once each, as a cut
    ``(src long, dst long)`` frame."""
    e = df.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    )
    return _checkpoint(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )[0]


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve components of the undirected pair graph.

    Returns ``(id long, component long)`` — one row per node appearing in
    ``pairs``, ``component`` = smallest node id reachable from ``id``.
    Raises ``RuntimeError`` if the labels are not seen at a fixpoint
    within ``max_iter`` hook-and-jump rounds.
    """
    edges = _undirected(pairs, src_col, dst_col)
    label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    labels, m = _checkpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id")),
        label_sum,
    )
    for _ in range(max_iter):
        prev_sum = m["s"]
        # hook: pull the min label across each node's neighborhood
        nbr_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        hooked = (
            labels.join(nbr_min, labels.id == nbr_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # jump: l(u) <- l(l(u)); a label is always a node id, so the
        # self-join resolves one pointer hop for every node at once
        parent = hooked.select(
            F.col("id").alias("p_id"), F.col("label").alias("p_label")
        )
        labels, m = _checkpoint(
            hooked.join(parent, hooked.label == parent.p_id, "left").select(
                "id",
                F.coalesce(F.col("p_label"), F.col("label")).alias("label"),
            ),
            label_sum,
        )
        if m["s"] == prev_sum:  # labels only decrease -> exact fixpoint
            return labels.select("id", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components: labels still changing after max_iter={max_iter} rounds"
    )


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-document cluster assignment + canonical flag (the dedup keep-list).

    Every doc appears once: members of a duplicate cluster carry the
    cluster's min doc_id as ``cluster_id``; singletons are their own
    cluster. ``is_canonical`` marks the one row per cluster to keep —
    deterministic (min id), so reruns keep the same representatives.
    """
    comp = connected_components(pairs, src_col, dst_col)
    base = docs.select(F.col(id_col).cast("long").alias(id_col))
    return (
        base.join(comp, base[id_col] == comp.id, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


# --------------------------------------------------------------------------
# PageRank (iterative DataFrame power method)
# --------------------------------------------------------------------------
def pagerank(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    damping: float = 0.85,
    iters: int = 15,
) -> DataFrame:
    """PageRank over the UNDIRECTED pair graph (each pair contributes
    both directions — the right reading for similarity graphs, where
    edges have no orientation): the classic power iteration

        r' = (1-d)/n + d · (A_norm r + dangling_mass/n)

    (Brin & Page 1998), run a fixed ``iters`` rounds as DataFrame
    joins/aggregations. Isolated nodes cannot appear (every node is in
    ≥1 pair), so with symmetrized edges there is no dangling mass and
    the update is one join + one agg per round.

    Scale posture: ranks/degrees are (node, value) frames co-shuffled
    on the node key; the teleport scalar n rides a 1-row broadcast;
    the symmetrized edges and degrees are cut once before the loop, and
    the ranks' lineage is cut (:func:`_checkpoint`) every
    ``_PAGERANK_CUT_EVERY`` rounds so the plan stays constant-size
    instead of growing per iteration. Returns ``(id, rank)`` with Σrank = 1 up to fp.
    """
    a = pairs.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    # the loop-invariant inputs are cut once, so no round re-runs the
    # caller's pair pipeline
    edges = _checkpoint(
        a.unionByName(
            a.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )[0]
    nodes = edges.select(F.col("src").alias("id")).distinct()
    n_row = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    deg = _checkpoint(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )[0]
    ranks = nodes.crossJoin(F.broadcast(n_row)).select(
        "id", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for i in range(iters):
        contrib = (
            edges.join(ranks.withColumnRenamed("id", "src"), "src")
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("inflow"))
        )
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "id"), "id", "left")
            .crossJoin(F.broadcast(n_row))
            .select(
                "id",
                (
                    (1.0 - damping) / F.col("n")
                    + damping * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % _PAGERANK_CUT_EVERY == 0:
            # eager: materialize NOW, so at most _PAGERANK_CUT_EVERY rounds
            # of joins are ever in one plan — a lazy checkpoint would let
            # the full iteration stack materialize at once (dozens of
            # concurrent AQE broadcast builds, an OOM on small drivers)
            ranks = _checkpoint(ranks)[0]
    return ranks


# ---------------------------------------------------------------------------
# Exact triangle counting (ordered wedge-closing joins)
# ---------------------------------------------------------------------------

def triangle_stats(edges: DataFrame, src: str = "a", dst: str = "b") -> DataFrame:
    """Exact global triangle count + clustering coefficient over an
    undirected simple graph given as deduplicated edges with ``src < dst``.

    The ordered-join formulation (each triangle {x<y<z} is found exactly
    once as wedge (x,y)+(y,z) closed by edge (x,z)): wedges are the
    self-join on the middle vertex, so the intermediate is bounded by
    Σ_b fwd_deg(b)·bwd_deg(b) — with vertices ordered, the classic
    compact-forward scheme. At 100 TB graph scale, relabel vertex ids by
    ASCENDING DEGREE first (the standard skew control: a hub then has
    large backward- but tiny forward-degree, capping the wedge blow-up);
    ids here are already near-uniform so the id order suffices.

    Wedge TOTAL for the clustering coefficient is Σ C(deg,2) computed
    from the degree frame directly (integer arithmetic — the product
    d·(d−1) is even, so DIV 2 is exact).

    One row out: ``n_vertices, n_edges, n_wedges, n_triangles,
    global_clustering`` (= 3·T / wedges, 6dp).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    w = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("a"),
            F.col("e2.b").alias("c"),
        )
    )
    closing = e.select(F.col("a"), F.col("b").alias("c"))
    tri = w.join(closing, on=["a", "c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    vstats = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
    )
    estats = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        vstats.crossJoin(F.broadcast(estats))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("global_clustering"),
        )
    )


# ---------------------------------------------------------------------------
# BFS shortest hops (iterative frontier expansion)
# ---------------------------------------------------------------------------

def bfs_hops(
    edges: DataFrame,
    source,
    src: str = "a",
    dst: str = "b",
    max_hops: int = 6,
) -> DataFrame:
    """Minimum hop count from ``source`` to every reachable vertex within
    ``max_hops``, by iterative frontier expansion (the DataFrame BFS):
    each round joins the current frontier against the symmetrized edge
    list, anti-joins everything already visited, and unions the new layer
    in. Because BFS layers are explored in order, the first time a vertex
    appears IS its shortest distance — no re-relaxation (the property that
    makes this O(diameter) rounds instead of Bellman-Ford's O(V)).

    Scale posture: each round is one hash-join on the frontier (small) vs
    edges (partitioned by vertex) plus an anti-join on the visited set —
    the standard Pregel-style expansion. The symmetrized edges are cut
    once (:func:`_checkpoint`), so no layer re-runs the caller's edge
    pipeline; each new layer is cut too, and the cut's job also counts
    its rows: the loop stops at the first empty layer. Output:
    ``node, hops``.
    """
    sym = _checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionAll(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
    )[0]
    spark = edges.sparkSession
    visited = local_df(spark, 
        [(int(source), 0)], "node long, hops long"
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt, m = _checkpoint(
            frontier.join(sym, frontier.node == sym.u)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), on="node", how="left_anti")
            .withColumn("hops", F.lit(h).cast("long")),
            F.count(F.lit(1)).alias("n"),
        )
        if m["n"] == 0:
            break
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited


# ---------------------------------------------------------------------------
# k-core (iterative peeling)
# ---------------------------------------------------------------------------

def k_core(
    edges: DataFrame,
    k: int,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 50,
) -> DataFrame:
    """The k-core subgraph: vertices surviving repeated removal of every
    vertex with degree < k (Seidman 1983) — the standard density filter
    before community/cohesion analysis (a vertex in the k-core has ≥ k
    neighbors *inside the core*).

    Batch peeling: each round computes degrees over the REMAINING edge
    set with one hash aggregation, anti-joins the sub-k vertex list out
    of both edge endpoints (AQE picks broadcast when the peel layer is
    small — the common case after round 1; early mass-peels stay a
    shuffle join, since the weak set can be O(V)), and cuts the remaining
    edges (:func:`_checkpoint`), counting them in the same job. A vertex
    with degree < k has an edge, so "the edge count did not change" is
    exactly "nothing was peeled": the fixpoint test. Rounds are bounded
    by the peeling depth (≤ degeneracy ordering layers), not |V| — dense
    cores converge in a handful of rounds.

    Output: ``node, core_degree`` (degree within the k-core; ≥ k).
    Raises ``RuntimeError`` if peeling has not stopped within
    ``max_rounds`` rounds.
    """
    n_edges = F.count(F.lit(1)).alias("n")
    e, m = _checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")), n_edges
    )
    for _ in range(max_rounds):
        prev_n = m["n"]
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        weak = deg.filter(F.col("d") < k).select("node")
        e, m = _checkpoint(
            e.join(
                weak.withColumnRenamed("node", "u"), on="u", how="left_anti"
            ).join(
                weak.withColumnRenamed("node", "v"), on="v", how="left_anti"
            ),
            n_edges,
        )
        if m["n"] == prev_n:
            # nothing peeled: deg is the degree over the remaining edges
            # (a null endpoint is never peeled, so filter rather than trust
            # that the weak set is empty)
            return deg.filter(F.col("d") >= k).select(
                "node", F.col("d").cast("long").alias("core_degree")
            )
    raise RuntimeError(
        f"k_core: still peeling after max_rounds={max_rounds} rounds"
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "a",
    dst_col: str = "b",
    max_iter: int = 10,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    2007), made DETERMINISTIC: every node adopts the most frequent label
    among its neighbors, ties broken by the smallest label; sweeps are
    synchronous so the result is a pure function of the graph (classic
    LPA's random update order is irreproducible — useless for an
    oracle-checked engine).

    Unlike connected components (one label per reachable region), LPA
    splits weakly-joined dense regions: two cliques bridged by a single
    edge keep distinct labels (pinned in tests/test_graph.py).

    Returns ``(id long, community long)``.

    Scale shape: per sweep ONE join (labels ⋈ edges, both hash-keyed on
    node) + one two-level agg (count labels per (node, label), then
    max_by with the (count desc, label asc) tie-break via min(struct)).
    State is |V| rows; each sweep's labels are cut (:func:`_checkpoint`),
    and the cut's job also counts the labels that changed.
    Synchronous LPA can 2-cycle on bipartite-ish graphs, so the loop is
    capped at ``max_iter`` sweeps rather than run to a fixpoint that may
    not exist.
    """
    e = _undirected(edges, src_col, dst_col)
    labels = _checkpoint(
        e.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("community", F.col("id"))
    )[0]
    for _ in range(max_iter):
        votes = (
            e.join(labels, e.dst == labels.id)
            .select(F.col("src").alias("id"), "community")
            .groupBy("id", "community")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # (count desc, label asc): min over struct(-n, community)
        new_labels = (
            votes.groupBy("id")
            .agg(
                F.min(F.struct((-F.col("n")).alias("neg"), F.col("community")))
                .alias("best")
            )
            .select("id", F.col("best.community").alias("community"))
        )
        swept, m = _checkpoint(
            new_labels.join(
                labels.withColumnRenamed("community", "old"), on="id", how="left"
            ),
            F.sum((F.col("community") != F.col("old")).cast("long")).alias("changed"),
        )
        labels = swept.select("id", "community")
        if not m["changed"]:  # None on an empty graph
            break
    return labels


def sssp_bounded(
    edges: DataFrame,
    source,
    max_rounds: int = 4,
    src: str = "s1",
    dst: str = "s2",
    weight: str = "w",
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Single-source WEIGHTED shortest paths over at most ``max_rounds``
    edges: Bellman-Ford with the relaxation UNROLLED into a fixed number
    of rounds instead of a convergence loop.

    Each round is one hash join (current distances x edges, partitioned
    by vertex) followed by a min-reduce per node — the frontier never
    re-materializes on the driver and there is NO per-round cut (unlike
    :func:`bfs_hops`, which cuts each layer and counts it): the whole
    expansion is a single declarative plan, so Catalyst/AQE schedules
    it like any other query. Fixed rounds make the result well-defined
    and ORACLE-CHECKABLE ("shortest distance using <= max_rounds
    edges") and bound the plan depth; for full convergence semantics
    compose rounds of log2(diameter) doublings or fall back to the
    observed-checkpoint loop of :func:`connected_components`.
    Output: ``node, dist`` (unreachable-within-bound nodes absent).

    ``nodes`` (optional): a 1-column frame whose ids are a SUPERSET of
    the reachable vertices, used to seed the keep-distance self-loops.
    Self-loops on extra ids are inert — dist only ever grows through the
    relaxation join from the source side, so an id that never acquires a
    distance contributes nothing — while every reachable vertex (an edge
    endpoint by definition) must carry one to retain its distance. When
    the caller has a cheaper superset than ``distinct(endpoints(sym))``
    (e.g. the pre-join key column the edges were built from), passing it
    keeps the unrolled plan from embedding the full edge pipeline TWICE
    per round (once for the relaxation, once inside the self-loop
    distinct) — the edge subtree is already replicated ``max_rounds``
    times, so halving its per-round fan-in materially shrinks
    planning/scheduling overhead (AQE exchange reuse already dedupes the
    execution).
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
    ).unionAll(
        edges.select(
            F.col(dst).alias("u"), F.col(src).alias("v"),
            F.col(weight).alias("w"),
        )
    )
    spark = edges.sparkSession
    # seed distance in the WEIGHT column's own type — fractional weights
    # must not ride on union coercion to stay double
    w_type = sym.schema["w"].dataType.simpleString()
    # Zero-weight self-loops fold the "keep the current distance" branch
    # into the relaxation join itself: min(dist, min_u dist(u)+w(u,v))
    # becomes one join + min-reduce with ``dist`` referenced ONCE per
    # round. The previous dist ∪ (dist ⋈ sym) referenced dist twice, so
    # the unrolled plan doubled per round — 2^rounds copies of the edge
    # build in the plan (60 parquet scans at 4 rounds; AQE's runtime
    # stage reuse deduplicated the execution but planning, scheduling
    # and per-stage overhead scaled with the plan, guide §3.3 "very
    # wide plans"). Self-loops cover every node that can hold a
    # distance (sym is symmetrized, so any reached node has an
    # outgoing edge). Distances are unchanged.
    if nodes is None:
        loop_ids = sym.select("u").distinct()
    else:
        ncol = nodes.columns[0]
        loop_ids = nodes.select(F.col(ncol).alias("u")).distinct()
    sym = sym.unionAll(
        loop_ids.select(
            "u", F.col("u").alias("v"), F.lit(0).cast(w_type).alias("w")
        )
    )
    dist = local_df(spark, [(int(source),)], "node long").select(
        "node", F.lit(0).cast(w_type).alias("d")
    )
    for _ in range(max_rounds):
        dist = (
            dist.join(sym, dist.node == sym.u)
            .select(
                F.col("v").alias("node"), (F.col("d") + F.col("w")).alias("d")
            )
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
    return dist.select("node", F.col("d").alias("dist"))
