"""Graph analytics over materialized KG / similarity graphs: PageRank,
triangle counting, and label-propagation communities.

The reference builds one isolated KG per request (kg_construction.py:
267-282) and never analyzes graph structure; at corpus scale the
materialized nodes/edges tables (sinks.py, plans/unionfind.py) invite the
standard graph passes — centrality for entity importance ranking, triangle
count for clustering-coefficient quality checks on the resolved graph.

Scale shapes (pure DataFrame ops, no UDFs):

- ``pagerank``: the Pregel iteration as join+agg. Per round: ranks ⋈
  edges on src (hash join co-partitioned with the edge shuffle), groupBy
  dst (map-side partial sums). The iterative operators run their rounds
  through ``plans/iterate.fixpoint`` (each round cut, the superseded one
  released, so executor storage holds two rounds of state, never
  n_iter) and own their helper frames through one ``plans/pins``
  scope. Each round shuffles only (node, rank) pairs — the minimum
  possible state. Convergence is a fixed iteration budget
  (deterministic, oracle-portable) rather than an epsilon test, which
  would add a driver-side action per round.
- ``triangle_count``: degree-ordered enumeration (each undirected edge
  oriented from its lower-(degree, id) endpoint), closed by intersecting
  per-node out-neighbor arrays, so every triangle is generated exactly
  once and hub degree never makes the work quadratic
  (:func:`_oriented_intersections`).
- ``label_propagation``: SYNCHRONOUS LPA (all nodes update from the
  previous round's labels simultaneously) with a total-order tie-break
  (count desc → label asc), so the result is deterministic under any
  partitioning — unlike classic asynchronous LPA, whose output depends
  on visit order. An edge set within the broadcast budget, with string
  or integral ids, is collected once through ``plans/parallel.
  driver_table`` (the gate ``plans/unionfind.connected_components``
  uses too) and its rounds run on the driver with numpy: one Spark job
  instead of several per round. Above it, per round: one join (edges ⋈
  labels on src, the same co-partitioned shuffle as pagerank), one
  count agg, one per-node argmax as a ``min(struct(-cnt, label))``
  hash-agg. Either way the loop stops early on the first round that
  changes no label (the next round would repeat it forever).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructField, StructType

from waka_spark.plans import parallel
from waka_spark.plans.iterate import fixpoint
from waka_spark.plans.parallel import maybe_broadcast, parallel_floor
from waka_spark.plans.pins import cut, keep, pin, pin_scope, release


def symmetrize(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b",
    assume_unique: bool = False,
) -> DataFrame:
    """Undirected pair list → directed edge list with both orientations
    (deduped): (src, dst).

    ``assume_unique``: skip the dedup shuffle when the caller guarantees
    the input pairs are already unique with ``a != b`` and one row per
    unordered pair (e.g. the banded dedup operators' canonical
    ``doc_a < doc_b`` output) — both orientations are then distinct by
    construction and ``distinct()`` would be a provably redundant full
    exchange of the edge list."""
    out = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
    )
    return out if assume_unique else out.distinct()


def _node_set(e: DataFrame) -> DataFrame:
    """(node): the distinct endpoints of an (src, dst) edge frame."""
    return (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )


def _rank_edges(
    edges: DataFrame, src: str, dst: str, weight_col: str | None,
) -> tuple[DataFrame, DataFrame]:
    """Edge side of the power iteration → ``(e, out_edges)``: ``e`` is the
    cut (src, dst, _w) edge frame and ``out_edges`` the pinned e ⋈ outdeg,
    where outdeg is the out-edge count (unweighted) or the out-weight sum.
    Both register with the caller's pin scope."""
    w_expr = (
        F.lit(1.0) if weight_col is None
        else F.col(weight_col).cast("double")
    )
    # EAGER: the node set scans e twice (union branches) in one job; a
    # lazy persist makes those sibling stages race to populate the cold
    # cache and each recompute the upstream edge build (see random_walks)
    e = cut(
        parallel_floor(edges, src).select(
            F.col(src).alias("src"), F.col(dst).alias("dst"),
            w_expr.alias("_w")))
    deg = e.groupBy("src").agg(
        F.count("*").cast("double").alias("outdeg")
        if weight_col is None else F.sum("_w").alias("outdeg"))
    return e, pin(e.join(deg, "src"))


def _power_iteration(
    out_edges: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    n: int,
    restart: Column,
    damping: float,
    n_iter: int,
) -> DataFrame:
    """The PageRank / personalized-PageRank kernel: ``n_iter`` rounds of
    rank'(v) = restart(v) + d·Σ_{u→v} rank(u)·w(u,v)/wdeg(u), from the
    initial (node, rank) frame ``ranks``. ``restart`` is evaluated over
    ``nodes`` (every graph node, plus any restart columns it carries);
    ``n`` is the exact node count, which drives the broadcast choice of
    each round's two joins. One join + one agg per round over (node, rank)
    pairs, run by ``plans/iterate.fixpoint``."""

    def step(ranks: DataFrame) -> DataFrame:
        contribs = (
            out_edges.join(
                maybe_broadcast(ranks, n),
                out_edges["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("_w") / F.col("outdeg"))
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        return (
            nodes.join(maybe_broadcast(contribs, n), "node", "left")
            .select(
                "node",
                (
                    restart
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )
        )

    return fixpoint(ranks, step, n_iter)


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list → (node, rank).

    Node set = nodes appearing in ``edges`` (as src or dst). Nodes with no
    out-edges (dangling) contribute nothing per round — the caller decides
    whether to redistribute dangling mass; on symmetrized similarity
    graphs every node has out-edges so the question is moot. Rank mass is
    therefore conserved exactly on symmetric graphs: sum(rank) == 1.

    Each round: contrib(v) = Σ_{u→v} rank(u)·w(u,v)/wdeg(u);
    rank'(v) = (1-d)/N + d·contrib(v). Unweighted (``weight_col=None``)
    this is the classic rank/outdeg split; with ``weight_col`` it is the
    TextRank / weighted-PageRank generalization (Mihalcea & Tarau,
    EMNLP'04) — each node splits its rank among out-neighbors
    proportionally to edge weight. Edges with non-positive weight should
    be filtered by the caller (a zero-weight-only node would divide by
    zero; this operator treats presence of an edge as w > 0). This is
    :func:`personalized_pagerank` with every node a seed: both run
    :func:`_power_iteration`, here with the uniform restart (1-d)/N and
    uniform initial ranks.
    """
    with pin_scope():
        e, out_edges = _rank_edges(edges, src, dst, weight_col)
        nodes = pin(_node_set(e))
        n = nodes.count()
        if n == 0:
            # empty edge list (e.g. an upstream similarity threshold left
            # no edges): return an empty (node, rank) frame with the right
            # schema instead of a driver-side ZeroDivisionError
            keep(e)
            return nodes.select("node", F.lit(0.0).alias("rank"))
        ranks = _power_iteration(
            out_edges, nodes, cut(nodes.withColumn("rank", F.lit(1.0 / n))),
            n, F.lit((1.0 - damping) / n), damping, n_iter)
        keep(ranks)
    return ranks


def hits(
    edges: DataFrame,
    n_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg, JACM'99) over a DIRECTED edge
    list → (node, hub, authority). On the KG edges table (subj→obj) the
    authority score surfaces the entities the corpus keeps pointing AT
    (canonical objects) and the hub score the entities statements hang
    OFF (prolific subjects) — the directed complement of
    :func:`pagerank`, which the symmetrized similarity graph feeds.

    Each round: auth'(v) = Σ_{u→v} hub(u); hub'(u) = Σ_{u→v} auth'(v).
    Normalization happens ONCE at the end (L1, not L2 — exactly
    mirrorable in SQL without sqrt drift): power iteration's direction is
    scale-invariant, so per-round renormalizing would only add a global
    single-row barrier per round without changing the answer; 5 rounds of
    unnormalized sums stay far inside double range (growth ≤ max-degree
    per half-step). One join + one agg per half-step over (node, score)
    pairs, run by ``plans/iterate.fixpoint``. The final norm is a scalar
    agg broadcast back — never an unpartitioned window. Dangling nodes
    (no out- or in-edges on one side) keep score 0 from that side's
    update, matching the adjacency-matrix formulation.
    """
    with pin_scope():
        # EAGER: nodes below scans e twice (union branches) in one job —
        # same lazy-persist race as _rank_edges' edge build
        e = cut(
            parallel_floor(edges, src).select(
                F.col(src).alias("src"), F.col(dst).alias("dst"))
            .distinct())
        nodes = pin(_node_set(e))
        n = nodes.count()
        if n == 0:
            keep(e)
            return nodes.select(
                "node", F.lit(0.0).alias("hub"),
                F.lit(0.0).alias("authority"))

        def step(scores: DataFrame) -> DataFrame:
            auth = (
                e.join(maybe_broadcast(
                    scores.select(F.col("node").alias("src"), "hub"), n),
                    "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub").alias("authority"))
            )
            hub = (
                e.join(maybe_broadcast(
                    auth.select(F.col("node").alias("dst"),
                                F.col("authority").alias("_av")), n), "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("_av").alias("hub"))
            )
            return (
                nodes.join(maybe_broadcast(hub, n), "node", "left")
                .join(maybe_broadcast(auth, n), "node", "left")
                .select(
                    "node",
                    F.coalesce("hub", F.lit(0.0)).alias("hub"),
                    F.coalesce("authority", F.lit(0.0)).alias("authority"),
                )
            )

        scores = fixpoint(
            cut(nodes.select(
                "node",
                F.lit(1.0 / n).alias("hub"),
                F.lit(1.0 / n).alias("authority"),
            )), step, n_iter)
        keep(scores)
    norms = scores.agg(
        F.sum("hub").alias("_hn"), F.sum("authority").alias("_an"))
    return scores.crossJoin(F.broadcast(norms)).select(
        "node",
        F.round(F.col("hub") / F.col("_hn"), 6).alias("hub"),
        F.round(F.col("authority") / F.col("_an"), 6).alias("authority"),
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 4,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Multi-source BFS: shortest hop-distance from any seed, bounded at
    ``n_iter`` hops → (node, dist). Unreached nodes are absent (the caller
    left-joins if it wants nulls).

    Bellman-Ford-style relaxation as join+agg: each round expands the
    current distance table along edges (+1) and folds with ``min``. After
    round r the table holds exactly the nodes within r hops, at their true
    distances, so ``n_iter`` rounds yield exact distances ≤ ``n_iter``, and
    a round that adds no row adds none later: the loop stops there. Per-
    round shuffle state is the (node, dist) pair table only (same
    Pregel-as-join shape as :func:`pagerank`). Frontier-only expansion
    (joining just the rows that improved last round) would shrink the join
    input on high-diameter graphs; on the dense low-diameter similarity
    graphs this targets, the bounded (node, dist) table is already the
    small side and the simple fold keeps every round a two-stage job.
    """
    with pin_scope():
        e = pin(parallel_floor(edges, src).select(
            F.col(src).alias("src"), F.col(dst).alias("dst")))
        # seeds are deduped and intersected with the graph's node set:
        # stale/foreign seed ids (entities resolved away by a merge pass)
        # must not surface as phantom dist-0 rows in a result whose
        # contract is "reached GRAPH nodes", and duplicate seeds must not
        # duplicate output rows. Semi join needs no distinct on the
        # endpoint union. Same guard personalized_pagerank applies.
        graph_nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
        )
        dist = cut(
            seeds.select(F.col(node).alias("node")).distinct()
            .join(graph_nodes, "node", "left_semi")
            .select("node", F.lit(0).cast("long").alias("dist"))
        )
        # per-round count is exact and near-free (dist is materialized);
        # it drives the broadcast-vs-shuffle choice AND the early stop
        n_dist = dist.count()

        def step(dist: DataFrame) -> DataFrame:
            expanded = (
                e.join(maybe_broadcast(dist, n_dist),
                       e["src"] == dist["node"])
                .select(F.col("dst").alias("node"),
                        (F.col("dist") + 1).alias("dist"))
            )
            return (
                dist.unionByName(expanded)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )

        def reached_none(new: DataFrame, _old: DataFrame) -> bool:
            nonlocal n_dist
            n_old, n_dist = n_dist, new.count()
            return n_dist == n_old

        dist = fixpoint(dist, step, n_iter, reached_none)
        keep(dist)
    return dist


def _driver_communities(
    spark: SparkSession, edges: pa.Table, node: StructField, n_iter: int,
) -> DataFrame:
    """(node, community) of :func:`label_propagation`'s rounds over the
    collected ``edges(src, dst)``, run on the driver with numpy.

    Ids are ranked once (Arrow sorts strings byte-wise, as Spark compares
    them), so a label is a dense rank and the smallest label is the
    smallest rank. Each round counts the distinct (dst, label of src)
    pairs with one ``np.unique``, duplicate edges included, and a
    lexsort on (node, −count, label) picks each node's winner. Nodes with
    no in-edge keep their label; a NULL endpoint adds a (NULL, NULL) row
    and no edge, as in the distributed rounds."""
    t = to_arrow_type(node.dataType)
    src = edges.column("src").cast(t)
    dst = edges.column("dst").cast(t)
    ids = pc.unique(pa.chunked_array(src.chunks + dst.chunks, t).drop_null())
    ids = ids.take(pc.sort_indices(ids))
    whole = pc.and_(pc.is_valid(src), pc.is_valid(dst))
    s, d = (pc.index_in(c.filter(whole), value_set=ids).to_numpy()
            .astype(np.int64) for c in (src, dst))
    n = len(ids)
    lab = np.arange(n)
    for _ in range(n_iter):
        keys, cnt = np.unique(d * n + lab[s], return_counts=True)
        at, winner = np.divmod(keys, n)
        order = np.lexsort((winner, -cnt, at))
        at, winner = at[order], winner[order]
        first = np.ones(len(at), bool)
        first[1:] = at[1:] != at[:-1]
        new = lab.copy()
        new[at[first]] = winner[first]
        if np.array_equal(new, lab):
            break
        lab = new
    nodes, communities = ids, ids.take(pa.array(lab))
    if src.null_count or dst.null_count:
        nodes = pa.concat_arrays([nodes, pa.nulls(1, t)])
        communities = pa.concat_arrays([communities, pa.nulls(1, t)])
    return spark.createDataFrame(
        pa.table({"node": nodes, "community": communities}),
        StructType([node, StructField("community", node.dataType,
                                      node.nullable)]))


def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation, at most ``n_iter`` rounds →
    (node, community).

    Initialization: every node is its own label. Each round, a node
    adopts the most frequent label among its in-neighbors' *previous*
    labels (duplicate edges count), ties broken by smallest label — a
    deterministic, synchronous variant (GraphX's LPA uses the same
    synchronous Pregel semantics; asynchronous LPA is
    partition-order-dependent and therefore unreproducible on a
    cluster). On a symmetrized edge list every node has in-neighbors, so
    no keep-own-label fallback path is needed; for general directed
    graphs, nodes without in-edges keep their label via the left join.
    A synchronous round is a pure function of the previous labels, so a
    round that changes no label repeats forever: the loop stops on the
    first unchanged round, and the result equals the full ``n_iter``
    budget's, which the SQL mirror chains one CTE per round.

    Two paths, one function; the edge frame is cut once. Below the
    broadcast budget, for string or integral ids, one bounded collect
    (``plans/parallel.driver_table``, the gate
    ``plans/unionfind.connected_components`` shares) brings the edges to
    the driver, which runs the rounds with numpy
    (:func:`_driver_communities`): one Spark job instead of several per
    round. Above it, each round runs on the cluster: labels ⋈ edges on
    src (hash join, the edge side cut once), groupBy (dst, label) with
    map-side partial counts, then a per-node argmax via
    min(struct(-cnt, label)) — a hash-agg with map-side partials, never
    a sort or a global window. State shuffled per round is (node, label)
    only; each round carries a ``_chg`` flag into its cut, which the
    early stop reads. Both paths return the same rows and schema
    (tests/test_scale_machinery.py runs both on the same graphs).
    """
    with pin_scope():
        # EAGER e: the nodes union scans it twice in one job (race — see
        # random_walks / pagerank)
        e = cut(
            parallel_floor(edges, src).select(
                F.col(src).alias("src"), F.col(dst).alias("dst")))
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
        )
        rows = parallel.driver_table(e)
        if rows is not None:
            return _driver_communities(
                edges.sparkSession, rows, nodes.schema["node"], n_iter)
        labels = cut(nodes.distinct().withColumn("community", F.col("node")))
        # node count (cheap — labels just materialized) drives the
        # broadcast-vs-shuffle choice for every round's state join
        n = labels.count()

        def step(state: DataFrame) -> DataFrame:
            labels = state.select("node", "community")
            # per-node argmax as min(struct(-cnt, community)) instead of a
            # row_number window: struct ordering is field-wise, so the min
            # picks (largest cnt, then smallest community) — the same row
            # the (cnt desc, community asc) window rank 1 picked — but a
            # hash-agg does map-side partials and never sorts the per-node
            # candidate lists the window had to materialize. Precondition:
            # neither key is NULL (cnt is a count; community is a joined,
            # hence non-NULL, node id) — min sorts a NULL field first.
            neigh = (
                e.join(maybe_broadcast(labels, n),
                       e["src"] == labels["node"])
                .groupBy(F.col("dst").alias("node"), "community")
                .agg(F.count("*").alias("cnt"))
                .groupBy("node")
                .agg(F.min(F.struct(
                    (-F.col("cnt")).alias("_neg"),
                    F.col("community").alias("community"),
                )).alias("_top"))
                .select("node", F.col("_top.community").alias("_new"))
            )
            new = F.coalesce("_new", "community")
            return (
                labels.join(maybe_broadcast(neigh, n), "node", "left")
                .select(
                    "node",
                    new.alias("community"),
                    (new != F.col("community")).alias("_chg"),
                )
            )

        labels = fixpoint(
            labels, step, n_iter,
            lambda new, _old: new.filter(F.col("_chg")).limit(1).count() == 0)
        keep(labels)
    return labels.select("node", "community")


def k_core(
    edges: DataFrame,
    k: int = 3,
    n_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Nodes surviving at most ``n_iter`` rounds of k-core peeling →
    (node, degree).

    Classic iterative peeling: drop every node whose degree (within the
    surviving subgraph) is < k, recompute degrees, repeat. Peeling is
    monotone (the survivor set only shrinks), so an unchanged survivor
    COUNT means an unchanged set and every later round is the identity:
    the loop stops there with the exact k-core. A round budget that runs
    out first gives a documented over-approximation (callers bump
    ``n_iter``); the fixed budget keeps it deterministic and
    oracle-portable. Degrees are over the symmetrized edge list
    (out-degree == degree).

    Scale shape per round: one semi-join of edges against survivors per
    endpoint (hash joins on the node key) + one count agg — survivor
    state is (node) only, run by ``plans/iterate.fixpoint``.
    """
    with pin_scope():
        e = pin(parallel_floor(edges, src).select(
            F.col(src).alias("src"), F.col(dst).alias("dst")))

        def live_edges(alive: DataFrame, n_alive: int) -> DataFrame:
            # broadcast the survivor set into both semi joins when it fits
            # instead of shuffling the edge table twice
            return (
                e.join(maybe_broadcast(
                    alive.withColumnRenamed("node", "src"), n_alive),
                    "src", "left_semi")
                .join(maybe_broadcast(
                    alive.withColumnRenamed("node", "dst"), n_alive),
                    "dst", "left_semi")
            )

        alive = cut(e.select(F.col("src").alias("node")).distinct())
        # per-round count is exact and near-free (alive is materialized);
        # it drives the broadcast choice AND the early stop
        n_alive = alive.count()

        def step(alive: DataFrame) -> DataFrame:
            return (
                live_edges(alive, n_alive)
                .groupBy(F.col("src").alias("node"))
                .agg(F.count("*").cast("long").alias("degree"))
                .filter(F.col("degree") >= k)
                .select("node")
            )

        def peeled_none(new: DataFrame, _old: DataFrame) -> bool:
            nonlocal n_alive
            n_old, n_alive = n_alive, new.count()
            return n_alive == n_old

        alive = fixpoint(alive, step, n_iter, peeled_none)
        # degrees RECOMPUTED over the FINAL survivor set: the last round's
        # degrees were measured against the set entering that round, so on
        # non-converged runs they included neighbors that round peeled.
        # Left-joined onto the survivor set: on non-converged runs a
        # survivor whose last-round neighbors were all peeled has zero
        # surviving edges and is reported with degree 0, not dropped.
        final_deg = (
            live_edges(alive, n_alive).groupBy(F.col("src").alias("node"))
            .agg(F.count("*").cast("long").alias("degree"))
        )
        result = cut(
            alive.join(final_deg, "node", "left").select(
                "node", F.coalesce("degree", F.lit(0)).alias("degree"))
        )
        keep(result)
    return result


def common_neighbors(
    edges: DataFrame,
    min_common: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph:
    non-adjacent node pairs ranked by shared-neighbor count →
    (node_a, node_b, n_common), ``node_a < node_b``.

    The standard first-pass KG-completion / entity-consolidation signal:
    two entities sharing many neighbors but no edge are merge or
    link-prediction candidates. This is :func:`adamic_adar` without the
    score — its wedge pass projected to (node_a, node_b, n_common), with
    the same ``min_common`` and ``max_hub_degree`` semantics (see there
    for the scale shape).
    """
    return adamic_adar(edges, min_common, src, dst, max_hub_degree).select(
        "node_a", "node_b", "n_common")


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The canonical undirected edge set → (a, b), ``a < b``: each edge
    ordered least → greatest, self-loops dropped, duplicates removed.
    Lazy: a caller whose plan reads it from several branches cuts it."""
    return (
        parallel_floor(edges, src).select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _undirected_degrees(canon: DataFrame, name: str) -> DataFrame:
    """(node, ``name``): each node's degree over a canonical (a, b) edge
    set, as a long."""
    return (
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias(name))
    )


def _oriented_intersections(
    edges: DataFrame, src: str, dst: str,
    assume_canonical: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared degree-ordered triangle enumeration (Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11):
    orient each undirected edge from its lower-(degree, id) endpoint to
    the higher one; a triangle is closed for oriented edge (u, v) by each
    w in N⁺(u) ∩ N⁺(v) (then u→v, u→w, v→w are all oriented, so u is the
    triangle's unique apex and each triangle appears on exactly one edge
    row). Every node's oriented out-degree is O(sqrt(m)), so total
    intersection work is O(m^1.5) regardless of hub degree —
    lexicographic orientation (the naive a<b<c join) instead puts a hub's
    entire neighborhood behind one low-id key and goes quadratic on
    exactly the skewed graphs a KG similarity graph is (Zipf-hot
    entities). Round 6: the wedge self-join formulation (materialize
    every ordered out-neighbor pair through an exchange, then probe the
    closing edge — O(Σ d_out²) shuffled rows) is replaced by grouping
    out-neighborhoods into per-node arrays and intersecting them inside
    codegen'd array expressions: the only shuffled payload is the O(m)-
    entry adjacency table (broadcast when it fits), and per-row array
    size is bounded by the max oriented out-degree, O(√m).

    Returns ``(deg, closed)``: per-node degrees over the canonical
    undirected edge set, and one (u, v, _w) row per ORIENTED edge, where
    ``_w`` is the (possibly empty) array of triangle-closing third
    corners.

    The internal cuts register with the caller's scope (plans/pins.py):
    an iterative caller (k_truss) opens one scope per round and so frees
    them once the round's result materializes; a one-shot caller's
    internals live as long as its own result does.

    ``assume_canonical``: skip the least/greatest + self-loop + distinct
    canonicalization (and its checkpoint) when the input is ALREADY a
    materialized canonical (a < b) edge list — k_truss re-enumerates on
    its checkpointed round state every round, and re-canonicalizing it
    paid a provably redundant edge-wide dedup shuffle per round.
    """
    # EAGER checkpoints: canon feeds the degree union (2 branches) and the
    # join; oriented feeds e1/e2/closing (3 branches) — all siblings of
    # ONE action, which with a lazy persist race to populate the cold
    # cache and recompute the upstream edge build per branch (see
    # random_walks)
    if assume_canonical:
        canon = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    else:
        canon = cut(_canonical_edges(edges, src, dst))
    # deg is node-sized — materialize it (one tiny job) so its exact row
    # count can drive a broadcast for the two degree-attach joins below;
    # with unknown ExistingRDD stats the planner otherwise sort-merges,
    # shuffling AND sorting the full edge list twice per enumeration
    # (k_truss pays that per round) (round 6)
    deg = cut(_undirected_degrees(canon, "deg"))
    n_deg = deg.count()
    with_deg = (
        canon.join(maybe_broadcast(
            deg.withColumnRenamed("node", "a")
            .withColumnRenamed("deg", "da"), n_deg), "a")
        .join(maybe_broadcast(
            deg.withColumnRenamed("node", "b")
            .withColumnRenamed("deg", "db"), n_deg), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    # Parallel floor decided from CANON's materialized partition count
    # (round 6): AQE coalesces the small-byte join output to ~1
    # partition, the checkpoint freezes that partitioning, and the whole
    # O(m^1.5) intersection below then runs on one core (k_truss round-1
    # support: 38.8s vs ~6s at sf0.1). A stats probe is unreliable here —
    # the round state is an ExistingRDD scan (sizeInBytes reports
    # unknown/Long.Max) and a non-AQE .rdd probe of the join disagrees
    # with what AQE actually runs — but canon is ALWAYS a materialized
    # frame (checkpointed above, or the caller's checkpointed round
    # state per the assume_canonical contract), so its concrete partition
    # count is an exact, free proxy for graph size: AQE sized those
    # partitions at its advisory bytes, so fewer-than-cores partitions
    # means a small frame whose re-spread costs one sub-second shuffle,
    # while a genuinely large graph keeps >= cores partitions and is
    # left alone.
    sc = edges.sparkSession.sparkContext
    pre = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    if canon.rdd.getNumPartitions() < sc.defaultParallelism:
        pre = pre.repartition(2 * sc.defaultParallelism, "u")
    oriented = cut(pre)
    # Close triangles by adjacency-array intersection instead of a wedge
    # self-join (round 6): the wedge formulation materialized every
    # ordered out-neighbor pair through an exchange — O(Σ d_out²) rows,
    # 32M at sf0.1 for 6.4M triangles — then probed the closing edge with
    # a second shuffle. Equivalent enumeration: for each ORIENTED edge
    # (u, v), every w ∈ N⁺(u) ∩ N⁺(v) closes the triangle u→v, u→w, v→w
    # (apex u, and w is after v in the (deg, id) order because v→w is
    # oriented). Each triangle has exactly one such (apex, first-out)
    # edge, so the row set is identical to the wedge formulation's. The
    # only shuffled payload is the grouped adjacency table — O(m) array
    # entries, broadcast when it fits — and the O(m^1.5) intersection
    # work runs inside codegen'd array expressions with no multi-10M-row
    # intermediate. Per-row array size is bounded by the max oriented
    # out-degree, O(√m) by the orientation argument above.
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("_nbrs"))
    # broadcast budget for adj = one row per apex node plus one array
    # entry per oriented edge; both counts are exact and near-free
    # (oriented is materialized). Under the threshold the two adjacency
    # attaches become broadcast probes over oriented's partitions; a
    # large graph keeps the shuffle join.
    adj_rows = n_deg + oriented.count()
    adj_u = adj.select(F.col("u"), F.col("_nbrs").alias("_nu"))
    adj_v = adj.select(F.col("u").alias("v"), F.col("_nbrs").alias("_nv"))
    closed = (
        oriented.join(maybe_broadcast(adj_u, adj_rows), "u")
        .join(maybe_broadcast(adj_v, adj_rows), "v")
        .select("u", "v", F.array_intersect("_nu", "_nv").alias("_w"))
    )
    return deg, closed


def _oriented_triangles(
    edges: DataFrame, src: str, dst: str,
    assume_canonical: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(deg, triangles): one (u, x, y) row per triangle — apex u, out-
    neighbors x before y in the (deg, id) order. Thin explode over
    :func:`_oriented_intersections`; consumers that only need per-corner
    or per-edge COUNTS should aggregate the intersection rows directly
    (triangle_count, local_clustering_coefficient, k_truss do) — fanning
    a non-materialized triangle list out to several union branches
    re-runs the whole intersection pass once per branch."""
    deg, closed = _oriented_intersections(
        edges, src, dst, assume_canonical=assume_canonical)
    triangles = closed.select(
        "u", F.col("v").alias("x"), F.explode("_w").alias("y"))
    return deg, triangles


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Total triangles in the undirected graph induced by ``edges``, via
    the degree-ordered enumeration in :func:`_oriented_triangles`.

    Plan shape: one hash-agg for degrees, two hash joins to attach them,
    two (broadcast-eligible) adjacency joins, one global sum over the
    per-edge intersection sizes — no explode at all. Returns a single
    row (n_triangles).
    """
    _, closed = _oriented_intersections(edges, src, dst)
    return closed.agg(
        F.coalesce(F.sum(F.size("_w")), F.lit(0))
        .cast("long").alias("n_triangles"))


def local_clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node local clustering coefficient: lcc(v) = 2·T(v) /
    (deg(v)·(deg(v)−1)), T(v) = triangles through v; nodes of degree < 2
    get lcc 0 (Watts-Strogatz convention).

    Reuses the degree-ordered triangle enumeration
    (:func:`_oriented_triangles`) and fans each triangle out to its three
    corners — one extra narrow explode + hash-agg over triangle count, so
    the O(m^1.5) wedge bound carries over unchanged. The corner fan-out is
    3 rows per triangle regardless of hub degree; the per-node count agg
    has map-side partials, so no skew hazard beyond the enumeration's own
    (already degree-bounded) one.

    Output: (node, degree, n_triangles, lcc) for every node that appears
    in the canonical edge set.
    """
    # One pass over the intersection rows (round 6): each (u, v, W) row
    # contributes |W| triangles to u and to v and 1 to every w ∈ W —
    # emitted as a single built array + explode + sum, instead of a
    # 3-way union over a non-materialized triangle list that re-ran the
    # whole intersection pass once per branch (no exchange to reuse).
    deg, closed = _oriented_intersections(edges, src, dst)
    nt = F.size("_w").cast("long")
    corners = closed.select(F.explode(F.concat(
        F.array(F.struct(F.col("u").alias("node"), nt.alias("c")),
                F.struct(F.col("v").alias("node"), nt.alias("c"))),
        F.transform("_w", lambda w: F.struct(
            w.alias("node"), F.lit(1).cast("long").alias("c"))),
    )).alias("p")).select("p.node", "p.c").filter(F.col("c") > 0)
    tcounts = corners.groupBy("node").agg(
        F.sum("c").cast("long").alias("n_triangles"))
    return (
        deg.join(tcounts, "node", "left")
        .select(
            "node",
            F.col("deg").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long")
            .alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0 * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)), 6),
            ).otherwise(F.lit(0.0)).alias("lcc"),
        )
    )


def random_walks(
    edges: DataFrame,
    length: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic random-walk corpus generation (the DeepWalk /
    node2vec pre-pass that turns a graph into token sequences for
    embedding training): one walk of ``length`` steps per node, where the
    step-``s`` hop from the walk started at ``w`` is the out-neighbor
    minimizing ``md5(w:s:neighbor)`` — hash-derived pseudo-randomness, so
    walks are i.i.d.-ish across (walk, step) but bit-identical across
    engines and partitionings (no RNG state to ship, the repo-wide
    determinism rule).

    Scale shape: the walk frontier is one (walk_id, cur) row per node;
    each step is one equi-join frontier⋈edges on the current node
    followed by one min-struct hash-agg keyed by walk_id (map-side
    combinable; the argmin is ``min(struct(hash, dst))``, never a sort).
    ``length`` steps = ``length`` shuffles over frontier-sized data — the
    edge table is scanned per step but never re-shuffled once bucketed or
    AQE-cached. Each frontier is EAGERLY checkpointed (one row per walk —
    tiny): the final union of per-step outputs replays no join chain, and
    eagerness matters, not just caching — with a lazy ``persist()`` the
    sibling union branches (step s's output AND step s+1's input) execute
    as concurrent stages of one job and RACE to populate the same cold
    cache, each recomputing the md5-heavy frontier⋈edges join before any
    block is published (measured 118s → ~28s at sf0.1 for the walk query).
    Walks that reach a sink node (no out-edges) end early; on symmetrized
    graphs every reached node has out-edges.

    Output: (walk_id, step, node) — step 0 is the start node itself.
    """
    e = cut(
        parallel_floor(edges, src).select(
        F.col(src).alias("src"), F.col(dst).alias("dst")))
    frontier = cut(_node_set(e).select(
        F.col("node").alias("walk_id"), F.col("node").alias("cur")))
    # walk count, exact and cheap (frontier just materialized): the
    # frontier only shrinks (sink walks end), so one count bounds every
    # step's broadcast decision (maybe_broadcast — without it the
    # planner sort-merges, re-shuffling and re-sorting the full edge
    # table once per step)
    n_walks = frontier.count()
    out = frontier.select(
        "walk_id", F.lit(0).alias("step"), F.col("cur").alias("node"))
    for s in range(1, length + 1):
        hop = (
            maybe_broadcast(frontier, n_walks)
            .join(e, frontier["cur"] == e["src"])
            .select(
                "walk_id",
                F.col("dst"),
                F.md5(F.concat_ws(
                    ":", F.col("walk_id"), F.lit(s), F.col("dst")
                )).alias("_h"),
            )
            .groupBy("walk_id")
            # min sorts a NULL field first: _h is an md5, never NULL
            .agg(F.min(F.struct(F.col("_h"), F.col("dst"))).alias("_m"))
            .select("walk_id", F.col("_m.dst").alias("cur"))
        )
        frontier = cut(hop)
        out = out.unionByName(frontier.select(
            "walk_id", F.lit(s).alias("step"), F.col("cur").alias("node")))
    return out


def cooccurrence_pmi(
    occurrences: DataFrame,
    group_col: str = "conv_id",
    item_col: str = "url",
    min_pairs: int = 1,
) -> DataFrame:
    """Pointwise mutual information between items co-occurring in a group
    (entities per conversation, terms per document): the classic
    relatedness signal KG construction uses to propose candidate relations
    and collocation mining uses to find multi-word terms.

    pmi(a,b) = ln( n_ab · N / (n_a · n_b) ) over group-level presence
    (multiplicity within a group ignored — standard document-level PMI),
    N = number of groups.

    Scale shape: presence = one distinct on (group, item); marginals = one
    hash-agg on item; the pair join is per-group (item_a < item_b), so its
    cost is Σ_g d_g² — bounded by the per-group distinct-item count, the
    same within-group quadratic every co-occurrence matrix has (cap items
    per group upstream for pathological groups). N is a single-row
    aggregate joined by broadcast, never a driver collect.

    Output: (item_a, item_b, n_ab, pmi), pairs with n_ab ≥ ``min_pairs``.
    """
    # EAGER: occ feeds n_groups, marginals, and both pair-join sides —
    # sibling branches of one action (lazy-persist race, see random_walks)
    occ = cut(
        occurrences.select(
            F.col(group_col).alias("grp"), F.col(item_col).alias("item"))
        .distinct()
    )
    n_groups = occ.select("grp").distinct().agg(
        F.count("*").alias("_n_groups"))
    marg = occ.groupBy("item").agg(F.count("*").cast("long").alias("n_item"))

    a = occ.select("grp", F.col("item").alias("item_a"))
    b = occ.select("grp", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "grp")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    return (
        pairs
        .join(marg.withColumnsRenamed(
            {"item": "item_a", "n_item": "n_a"}), "item_a")
        .join(marg.withColumnsRenamed(
            {"item": "item_b", "n_item": "n_b"}), "item_b")
        .crossJoin(F.broadcast(n_groups))
        .select(
            "item_a", "item_b", "n_ab",
            F.round(
                F.log(
                    F.col("n_ab") * F.col("_n_groups")
                    / (F.col("n_a") * F.col("n_b"))
                ), 6
            ).alias("pmi"),
        )
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity of a community assignment over a symmetrized
    edge list — THE number that says whether label propagation / Louvain
    output is real structure (Q ≫ 0) or noise (Q ≈ 0), read before
    trusting communities for dedup clustering or graph partitioning.

        Q = Σ_c [ w_c / m_dir  −  (d_c / m_dir)² ]

    with m_dir = |directed edges| (2m undirected), w_c = within-community
    directed edges, d_c = degree mass of c. Communities with zero
    internal edges still contribute their −(d_c/m_dir)² term (left join +
    coalesce), which naive implementations drop.

    Scale shape: two hash joins tag each edge with endpoint communities
    (the labels table is (node, community) — co-partitioned with the edge
    shuffle), then two community-keyed hash-aggs and a single-row fold;
    nothing quadratic, no windows. Output: one row (n_communities,
    m_edges, modularity).
    
    CONTRACT: ``labels`` must cover every node appearing in ``edges`` —
    the community attachment is an inner join, so edges touching an
    unlabeled node silently leave the computation (m, degree mass and
    within-community mass all shrink) and Q is reported for the COVERED
    subgraph. Run label_propagation on the same edge list (it labels
    every node) or left-anti-check coverage first when labels come from
    a pruned/partial assignment.

    """
    e = parallel_floor(edges, src).select(
        F.col(src).alias("src"), F.col(dst).alias("dst"))
    # labels usually arrive as label_propagation's output: a local
    # Arrow table from its driver rounds, or a checkpoint with unknown
    # stats from its distributed rounds, where the two attach joins
    # would sort-merge (and re-shuffle) the edge table. The label table
    # is node-sized: materialize it once, count it (near-free), broadcast
    # when it fits (maybe_broadcast).
    lab = cut(labels.select(
        F.col(node_col).alias("_n"), F.col(community_col).alias("_c")))
    n_lab = lab.count()
    la = maybe_broadcast(lab.select(
        F.col("_n").alias("src"), F.col("_c").alias("_ca")), n_lab)
    lb = maybe_broadcast(lab.select(
        F.col("_n").alias("dst"), F.col("_c").alias("_cb")), n_lab)

    # EAGER: tagged feeds deg / within / m — three sibling branches of one
    # action (lazy-persist race, see random_walks)
    tagged = cut(
        e.join(la, "src").join(lb, "dst"))

    deg = tagged.groupBy("_ca").agg(F.count("*").alias("d_c"))
    within = (
        tagged.filter(F.col("_ca") == F.col("_cb"))
        .groupBy("_ca").agg(F.count("*").alias("w_c"))
    )
    m = tagged.agg(
        F.count("*").cast("double").alias("m_dir"),
        F.countDistinct("_ca").cast("long").alias("n_communities"),
    )
    return (
        deg.join(within, "_ca", "left")
        .withColumn("w_c", F.coalesce("w_c", F.lit(0)))
        .crossJoin(F.broadcast(m))
        .agg(
            F.first("n_communities").alias("n_communities"),
            (F.first("m_dir") / 2).cast("long").alias("m_edges"),
            F.round(
                F.sum(
                    F.col("w_c") / F.col("m_dir")
                    - F.pow(F.col("d_c") / F.col("m_dir"), 2)
                ), 6
            ).alias("modularity"),
        )
    )


def adamic_adar(
    edges: DataFrame,
    min_common: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected graph: non-adjacent
    pairs scored Σ_{y ∈ Γ(a)∩Γ(b)} 1/ln(deg(y)) — the IDF-weighted
    refinement of :func:`common_neighbors` (a shared neighbor that is
    adjacent to everything carries ~no signal; a rare shared neighbor
    carries a lot). The smooth counterpart of the hard ``max_hub_degree``
    cut, and the stronger default ranking for entity-consolidation
    candidates on Zipf-skewed KGs.

    Scale shape: one two-path self-join through the mid node — unlike
    triangle_count, the PAIR set itself is the answer here, so wedge work
    through a degree-d hub is irreducibly O(d²). deg(mid) is attached by
    one broadcast-sized join before the wedge join. ``max_hub_degree`` is
    the scale knob: mid nodes above the cap are excluded from wedge
    generation (a node adjacent to everything carries no link-prediction
    signal — the standard hub-suppression heuristic — and would have
    contributed only 1/ln(d) ≈ 0 anyway). Default None keeps exact
    semantics (and the DuckDB oracle). Then one agg on the pair and one
    left-anti join against the existing edge set; ``min_common`` prunes
    the long tail of 1-wedge pairs before the anti-join. deg(mid) ≥ 2 for
    any wedge mid (two distinct neighbors), so ln(deg) ≥ ln 2 > 0 — no
    division guard needed.

    Output: (node_a, node_b, n_common, aa_score), node_a < node_b,
    pairs with ≥ ``min_common`` shared neighbors, score rounded 6.
    """
    # EAGER: e feeds wedge sides, the degree agg, and the adjacency
    # anti-join — sibling branches of one action (see random_walks)
    e = cut(
        parallel_floor(edges, src).select(
        F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = e.groupBy("dst").agg(F.count("*").cast("long").alias("_d"))
    mids = e.join(deg, "dst")
    # the hub cap narrows WEDGE GENERATION only; the adjacency anti-join
    # below still sees every edge, so capped output never re-proposes a
    # pair that is already linked through a hub
    if max_hub_degree is not None:
        mids = mids.filter(F.col("_d") <= max_hub_degree)
    left = mids.select(
        F.col("dst").alias("y"), F.col("src").alias("a"), "_d")
    right = e.select(F.col("dst").alias("y"), F.col("src").alias("b"))
    pairs = (
        left.join(right, "y")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.round(F.sum(F.lit(1.0) / F.log("_d")), 6).alias("aa_score"),
        )
        .filter(F.col("n_common") >= min_common)
    )
    existing = e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    return (
        pairs.join(existing, ["a", "b"], "left_anti")
        .select(F.col("a").alias("node_a"), F.col("b").alias("node_b"),
                "n_common", "aa_score")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    weight_col: str | None = None,
) -> DataFrame:
    """Personalized PageRank: random walk with restart INTO the seed set
    — rank'(v) = (1−d)·s(v) + d·Σ_{u→v} rank(u)·w/wdeg(u), where s is
    uniform over the seeds (and 0 elsewhere) instead of uniform over all
    nodes. THE entity-centric relevance score: seeded with one
    conversation's linked entities it ranks the whole KG by relevance to
    that conversation (recommendation, related-entity retrieval, locally
    relevant subgraph extraction) — :func:`pagerank`'s global importance
    can't express "near THESE nodes".

    Seeds outside the graph's node set are ignored (left-semi join);
    normalization is over the seeds actually present, so restart mass
    sums to 1. Rank init = s, so round counts compare to power-iteration
    convergence from the restart distribution.

    Scale shape per round: :func:`_power_iteration`, the kernel
    :func:`pagerank` runs — one co-partitioned join + one hash agg over
    (node, rank) pairs; the seed vector is one extra (node, s) column
    carried on the pinned nodes frame. The seed count is a single O(1)
    driver action.

    Output: (node, rank).
    """
    with pin_scope():
        e, out_edges = _rank_edges(edges, src, dst, weight_col)
        all_nodes = _node_set(e)
        seed_nodes = pin(all_nodes.join(
            seeds.select(F.col(seed_col).alias("node")), "node", "left_semi"
        ))
        n_s = seed_nodes.count()
        if n_s == 0:
            raise ValueError("personalized_pagerank: no seed is a graph node")
        nodes = pin(
            all_nodes.join(
                seed_nodes.withColumn("_sv", F.lit(1.0 / n_s)), "node", "left")
            .select("node", F.coalesce("_sv", F.lit(0.0)).alias("_sv"))
        )

        ranks = cut(nodes.select("node", F.col("_sv").alias("rank")))
        # exact node count (cheap — ranks is already materialized): drives
        # the broadcast-vs-shuffle choice for every round's state join
        n = ranks.count()
        ranks = _power_iteration(
            out_edges, nodes, ranks, n,
            F.lit(1.0 - damping) * F.col("_sv"), damping, n_iter)
        keep(ranks)
    return ranks


def k_truss(
    edges: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-truss peeling: keep edges supported by ≥ k−2 triangles in the
    surviving subgraph, iterated ``n_iter`` rounds — the EDGE-grade
    cohesion filter (Cohen 2008). Where k-core keeps well-connected
    NODES, the truss keeps edges embedded in triangle-dense
    neighborhoods: on a KG/similarity graph it strips the spurious
    bridge edges that survive degree screens but belong to no cluster.
    Like :func:`k_core`, the fixed round budget is deterministic and
    oracle-portable; peeling is monotone (the edge set only shrinks), so
    ``n_iter`` rounds give the exact truss whenever convergence happens
    earlier and a documented over-approximation otherwise.

    Scale shape per round: one degree-ordered triangle enumeration
    (:func:`_oriented_triangles` — O(m^1.5) wedge work regardless of hub
    degree), a 3-corner fan-out to per-edge support counts (one
    hash-agg), and an inner join + filter back onto the canonical edge
    list (edges in no triangle have support 0 and drop via the join).
    Round state is the canonical edge list only, cut and released per
    round (plans/pins.py); the result is one cut.

    Output: (node_a, node_b, support) for surviving edges, with support
    recomputed on the FINAL subgraph.
    """
    def edge_support(e: DataFrame) -> DataFrame:
        # assume_canonical: e is the cut canonical round state,
        # re-canonicalizing it was a redundant dedup shuffle per round.
        # Support is summed in ONE pass over the intersection rows: each
        # (u, v, W) row supports edge (u,v) |W| times and edges (u,w),
        # (v,w) once per w ∈ W — a single built array + explode + sum,
        # instead of a 3-way union over a non-materialized triangle list
        # that re-ran the whole intersection pass per branch (no exchange
        # to reuse under the array formulation).
        _, closed = _oriented_intersections(
            e, "a", "b", assume_canonical=True)
        nt = F.size("_w").cast("long")
        corners = closed.select(F.explode(F.concat(
            F.array(F.struct(F.least("u", "v").alias("a"),
                             F.greatest("u", "v").alias("b"),
                             nt.alias("c"))),
            F.transform("_w", lambda w: F.struct(
                F.least(F.col("u"), w).alias("a"),
                F.greatest(F.col("u"), w).alias("b"),
                F.lit(1).cast("long").alias("c"))),
            F.transform("_w", lambda w: F.struct(
                F.least(F.col("v"), w).alias("a"),
                F.greatest(F.col("v"), w).alias("b"),
                F.lit(1).cast("long").alias("c"))),
        )).alias("p")).select("p.a", "p.b", "p.c").filter(F.col("c") > 0)
        return corners.groupBy("a", "b").agg(
            F.sum("c").cast("long").alias("support"))

    with pin_scope():
        canon = cut(_canonical_edges(edges, src, dst))
        # Peeling joins LEFT with coalesce(support, 0): an edge in no
        # triangle has support 0, which still satisfies k-2 <= 0 — an
        # inner join would drop triangle-free edges even for k <= 2.
        # Each round's support table is cut BEFORE the filter so a
        # converged round (no edges dropped) can reuse it as the final
        # support verbatim — skipping the last O(m^1.5) triangle
        # enumeration entirely (support over an unchanged edge set is
        # unchanged).
        n_edges = canon.count()
        supp = None
        for _ in range(n_iter):
            with pin_scope():  # the enumeration's internal cuts die here
                round_supp = cut(edge_support(canon))
                keep(round_supp)
            new_canon = cut(
                canon.join(round_supp, ["a", "b"], "left")
                .filter(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
                .select("a", "b")
            )
            n_new = new_canon.count()
            if n_new == n_edges:
                supp = round_supp
                break
            release(canon)
            release(round_supp)
            canon, n_edges = new_canon, n_new
        if supp is None:
            supp = edge_support(canon)
        result = cut(canon.join(supp, ["a", "b"], "left").select(
            F.col("a").alias("node_a"), F.col("b").alias("node_b"),
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        ))
        keep(result)
    return result


def extract_subgraph(
    edges: DataFrame,
    seeds: DataFrame,
    n_hops: int = 2,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Seed-neighborhood subgraph extraction: the edges whose BOTH
    endpoints lie within ``n_hops`` of any seed — "give me the graph
    around THESE entities", the query every KG exploration/debugging
    session starts with, and the locality cut that turns a 10^10-node
    graph into a workstation-sized working set before expensive per-node
    analysis.

    Composition: one bounded :func:`bfs_distances` pass (per-round
    (node, dist) state only), then the edge list joins the distance
    table on each endpoint — two hash joins on the node key, no windows.
    Edges to nodes OUTSIDE the horizon drop (both-endpoint semantics:
    the induced subgraph on the reached node set).

    Output: (src, dst, src_dist, dst_dist).
    """
    dist = bfs_distances(edges, seeds, n_iter=n_hops, src=src, dst=dst,
                         node=node)
    e = parallel_floor(edges, src).select(
        F.col(src).alias("src"), F.col(dst).alias("dst"))
    return (
        e.join(
            dist.select(F.col("node").alias("src"),
                        F.col("dist").alias("src_dist")), "src")
        .join(
            dist.select(F.col("node").alias("dst"),
                        F.col("dist").alias("dst_dist")), "dst")
        .select("src", "dst", "src_dist", "dst_dist")
    )


def degree_distribution(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Log2-binned degree histogram of the undirected graph — the
    one-glance scale-freeness / skew fingerprint read before choosing
    join strategies (a heavy tail says: salt, cap hubs, expect wedge
    blow-ups; a flat head says: plain hash joins are fine). The
    graph-shaped complement of diagnostics.key_skew_profile.

    Two hash-aggs (per-node degree over the canonical edge set, then
    per-bin counts) — nothing quadratic, no windows.

    Output: (degree_bin, min_degree, n_nodes) where degree_bin =
    floor(log2(degree)) and min_degree = 2^bin.
    """
    canon = _canonical_edges(edges, src, dst)
    deg = _undirected_degrees(canon, "degree")
    binned = deg.withColumn(
        "degree_bin", F.floor(F.log2("degree")).cast("int"))
    return (
        binned.groupBy("degree_bin")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .select(
            "degree_bin",
            F.pow(F.lit(2.0), F.col("degree_bin")).cast("long")
            .alias("min_degree"),
            "n_nodes",
        )
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees across the symmetrized edge list —
    one number separating hub-to-hub topologies (r > 0, social-graph
    shape) from hub-to-leaf ones (r < 0, star/near-dup-clique shape),
    read next to :func:`degree_distribution` before picking join and
    sampling strategies.

    Exactly computable: every Pearson term (n, Σx, Σy, Σxy, Σx², Σy²)
    is an INTEGER sum over edge-endpoint degrees, so the whole statistic
    reduces to one hash-agg of longs + closed-form float arithmetic at
    the end — no order-dependent double summation anywhere. Two degree
    joins (the deg table is node-sized) feed one global agg.

    Output: one row (n_edges, assortativity), NULL when the variance of
    either side is 0 (regular graphs — correlation undefined).
    """
    canon = _canonical_edges(edges, src, dst)
    deg = _undirected_degrees(canon, "d")
    # symmetrized: each undirected edge contributes (da,db) and (db,da),
    # the standard convention that makes Σx == Σy by construction
    sym = canon.unionByName(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b")))
    pairs = (
        sym.join(deg.withColumnsRenamed({"node": "a", "d": "dx"}), "a")
        .join(deg.withColumnsRenamed({"node": "b", "d": "dy"}), "b")
    )
    # per-row products stay long (dx*dy caps at max_degree^2 < 2^63 for
    # any graph whose degrees fit an int); every SUM *accumulates* in
    # decimal(38,0) — the cast sits on the summand, INSIDE the agg, so
    # Spark's partial/merge buffers are 128-bit from the first row. A
    # result-side cast (the round-3 bug) still accumulates in LongType:
    # per-row dx*dy products up to ~1e12 summed over ~1e12 symmetrized
    # rows blow past 2^63 inside the buffer — ANSI ARITHMETIC_OVERFLOW
    # job-kill (or silent wrap with ANSI off) before any outer cast runs.
    # Decimal keeps the arithmetic EXACT (matching the oracle's hugeint)
    # to ~1e38, far past 10^12-edge Zipf-hub scale; the closed-form
    # n*sxy cross-products below inherit the decimal type.
    dec = "decimal(38,0)"
    sums = pairs.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("dx").cast(dec)).alias("sx"),
        F.sum(F.col("dy").cast(dec)).alias("sy"),
        F.sum((F.col("dx") * F.col("dy")).cast(dec)).alias("sxy"),
        F.sum((F.col("dx") * F.col("dx")).cast(dec)).alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast(dec)).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double")
    return sums.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.round(
            F.when(
                (varx > 0) & (vary > 0),
                num / (F.sqrt(varx.cast("double"))
                       * F.sqrt(vary.cast("double"))),
            ),
            6,
        ).alias("assortativity"),
    )


def reciprocity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Directed-graph reciprocity: the fraction of edges whose reverse
    edge also exists. On a KG edges table this is the symmetric-predicate
    detector (a 'spouse'-like predicate reciprocates ~1.0, a
    'born_in'-like one ~0) and on an interaction graph the
    mutual-engagement rate — read before deciding whether symmetrizing
    for the similarity passes loses information.

    One distinct projection + one LEFT SEMI self-join on the swapped key
    + two counts folded into a single aggregate pass (count + conditional
    sum over the semi-join hit flag realized as a left join's null test).

    Output: one row (n_edges, n_reciprocal, reciprocity).
    """
    e = (
        parallel_floor(edges, src).select(
        F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.lit(1).alias("_rev"))
    return (
        e.join(rev, ["src", "dst"], "left")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum(F.coalesce("_rev", F.lit(0))).cast("long")
            .alias("n_reciprocal"),
        )
        .select(
            "n_edges", "n_reciprocal",
            F.round(F.col("n_reciprocal") / F.col("n_edges"), 6)
            .alias("reciprocity"),
        )
    )
