"""Distributed union-find / connected components for cross-conversation
entity resolution (the north-rule canonicalization pass).

The reference has no cross-document concept — each request builds an
isolated KG (kg_construction.py:267-282). At 10^12-turn scale the same
real-world entity surfaces in millions of conversations; canonicalization
groups equivalent node URLs and rewrites edges to canonical endpoints.

Two paths, one function. The symmetric edge set is cut once; then:

- Below the broadcast budget (``plans/parallel.broadcast_rows``: the
  edge rows that fit 64 MB) and for string or integral ids, one bounded
  collect (``plans/parallel.driver_table``, the gate
  ``operators/graph.label_propagation`` shares) brings the edges to the
  driver, and union-find with path halving and min-root union labels
  every node. The SparkER entity resolution pipeline (EDBT 2019)
  clusters matches with the same step. Every round of the distributed
  path costs several Spark jobs whose fixed overhead, not data,
  dominates a small graph.
- Above it, iterative min-label propagation with pointer jumping — each
  round every node adopts the minimum component label among itself and
  its neighbors (one join + one agg), then follows the label *of its
  label* (one more join — path halving). Labels are node ids, so the
  halving step compresses two hops per round: chains converge in
  O(log diameter) rounds instead of O(diameter), the same contraction
  idea as large-star/small-star (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14). Same-as cliques still converge in 1-2
  rounds. Each round is ``localCheckpoint``-ed to cut lineage growth
  (SURVEY.md §4); a 300-node chain is pinned under a 20-round budget in
  tests/test_scale_machinery.py.

Both label a node with the minimum node id of its component, so they
return the same rows and schema (tests/test_scale_machinery.py runs both
on the same graphs).

Equivalence edges come from ``same_as_edges``: explicit owl:sameAs-style
pairs (e.g. from the alias dictionary mapping multiple URLs to one QID), or
any caller-supplied relation (e.g. embedding-similarity matches).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType

from waka_spark.plans import parallel
from waka_spark.plans.parallel import maybe_broadcast, row_bytes


def _driver_components(
    spark: SparkSession, pairs: pa.Table, id_type: DataType,
) -> DataFrame:
    """(node, component) of the symmetric edge table ``pairs(a, b)`` by
    union-find on the driver: path halving, and each union hangs the
    larger root under the smaller, so every root is its set's minimum id
    — the label the distributed rounds converge to."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs.column("a").to_pylist(),
                    pairs.column("b").to_pylist()):
        ra = find(parent.setdefault(a, a))
        rb = find(parent.setdefault(b, b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    arrow_type = pairs.schema.field("a").type
    out = pa.table({
        "node": pa.array(nodes, arrow_type),
        "component": pa.array([find(n) for n in nodes], arrow_type),
    })
    return spark.createDataFrame(out, StructType([
        StructField("node", id_type),
        StructField("component", id_type),
    ]))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """edges(src, dst) → (node, component) with component = min node id
    (string or numeric ordering) of the node's connected component.

    Isolated nodes absent from ``edges`` are their own components (callers
    left-join and coalesce to the node id). Edges with a NULL endpoint and
    self-loops contribute no node.
    """
    from waka_spark.plans.iterate import fixpoint
    from waka_spark.plans.pins import cut, keep, pin_scope, release

    with pin_scope():
        sym = cut(
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .unionByName(
                edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            # materialize ONCE before iterating: sym is joined every round,
            # and without the cut each round would replay the whole
            # upstream edge plan (for dedup clustering that's the full
            # shingle-join pair generation — measured 41.5s -> ~8s for
            # dedup_clusters at sf0.1)
        )
        # an edge set inside the broadcast budget is solved on the driver:
        # one bounded collect instead of several jobs per round
        pairs = parallel.driver_table(sym)
        if pairs is not None:
            return _driver_components(
                edges.sparkSession, pairs, sym.schema["a"].dataType)
        # parallel floor on the materialized edge set: AQE often coalesces
        # the distinct's output to ~1 partition for small-byte graphs, and
        # the cut freezes that — every round's neighbor join then probes
        # on one core. Exact facts (partition count, then a count on the
        # already-materialized frame) drive the re-spread; a genuinely
        # large graph keeps its >= cores partitions.
        sc = edges.sparkSession.sparkContext
        if sym.rdd.getNumPartitions() < sc.defaultParallelism:
            if (sym.count() * row_bytes(sym)
                    < sc.defaultParallelism * 128 * 1024**2):
                respread = cut(
                    sym.repartition(2 * sc.defaultParallelism, "b"))
                release(sym)
                sym = respread
        labels = cut(
            sym.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
        )
        # node count (near-free — labels just materialized): drives the
        # broadcast-vs-shuffle choice for every round's three state joins;
        # with unknown ExistingRDD stats the planner otherwise
        # sort-merges, re-shuffling the edge set AND both label tables per
        # round.
        n_nodes = labels.count()

        def step(state: DataFrame) -> DataFrame:
            # The round carries its own convergence flag: labels only ever
            # DECREASE under min-propagation, so carrying the old label
            # through the round and flagging `_chg = new != old` inside the
            # cut plan replaces a separate new-vs-old join action (one
            # full label-table join per round) with a near-free filter
            # over the just-materialized blocks. `least(old,
            # min-over-neighbors)` over a left join is the same math as a
            # union+groupBy-min (least skips the null of neighborless
            # nodes), without pushing the n_nodes label rows through the
            # groupBy exchange alongside the edge rows.
            labels = state.select("node", "component")
            neighbor_min = (
                sym.join(maybe_broadcast(labels, n_nodes),
                         sym["b"] == labels["node"])
                .select(F.col("a").alias("node"), "component")
                .groupBy("node")
                .agg(F.min("component").alias("_n_comp"))
            )
            propagated = (
                labels.join(maybe_broadcast(neighbor_min, n_nodes),
                            "node", "left")
                .select(
                    "node",
                    F.least("component", "_n_comp").alias("component"),
                    F.col("component").alias("_old"),
                )
            )
            # pointer jumping (path halving): a label is itself a node id,
            # so one self-join replaces each label with its label's label —
            # comp(comp(x)) <= comp(x) stays inside x's component, and the
            # reachable-minimum distance doubles per round
            lbl_map = propagated.select(
                F.col("node").alias("_m_node"),
                F.col("component").alias("_m_comp"))
            final_comp = F.coalesce("_m_comp", "component")
            return (
                propagated
                .join(maybe_broadcast(lbl_map, n_nodes),
                      propagated["component"] == lbl_map["_m_node"], "left")
                .select(
                    "node",
                    final_comp.alias("component"),
                    (final_comp != F.col("_old")).alias("_chg"),
                )
            )

        labels = fixpoint(
            labels, step, max_iter,
            lambda new, _old: new.filter(F.col("_chg")).limit(1).count() == 0)
        keep(labels)
    return labels.select("node", "component")


def incremental_components(
    labels: DataFrame,
    delta_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fold a delta edge batch into standing component labels WITHOUT
    re-running connected components over the whole graph.

    ``labels(node, component)`` is a previous :func:`connected_components`
    output (component = min node id of the component — the invariant this
    function preserves). Result equals a full rebuild over
    ``edges(labels) ∪ delta_edges``.

    Scale shape (the point at 10^12 turns / 10^9 nodes): the standing graph
    never reshuffles. Delta endpoints are CONTRACTED to their current
    component id (two joins against ``labels``, each delta-sized probes),
    connected components run on that contracted graph — O(delta) state, not
    O(graph) — and the resulting old→new component mapping is delta-sized,
    so the single pass that rewrites the big labels table is a broadcast
    hash join (pinned in tests/test_scale_machinery.py). Compare
    ``merge_edges``/``merge_nodes`` (plans/incremental.py), which give the
    same delta-cost contract for the materialized tables; this is the
    equivalence-closure half. Min-label invariant keeps this correct: each
    old component id is already the min node of its members, and new nodes
    contract to themselves, so min over contracted ids == min over nodes.

    Iceberg framing: labels is a MERGE INTO target; a streaming
    foreachBatch can chain this exactly like streaming/ingest.py's edge
    bridge.
    """
    d = (
        delta_edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct()
    )
    lab_s = labels.select(
        F.col("node").alias("_s"), F.col("component").alias("_cs"))
    lab_d = labels.select(
        F.col("node").alias("_d"), F.col("component").alias("_cd"))
    contracted = (
        d.join(lab_s, "_s", "left")
        .join(lab_d, "_d", "left")
        .select(
            F.coalesce("_cs", "_s").alias("src"),
            F.coalesce("_cd", "_d").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    # old-component/new-node → new-component; ≤ 2·|delta| rows
    mapping = connected_components(contracted)

    remap = F.broadcast(mapping.select(
        F.col("node").alias("_old"), F.col("component").alias("_new")))
    updated = (
        labels.join(remap, labels["component"] == remap["_old"], "left")
        .select(
            "node", F.coalesce("_new", "component").alias("component"))
    )
    # endpoints the standing labels have never seen: mapping rows if the
    # contracted graph kept them, else singletons (delta self-loops on a
    # brand-new node contract away entirely)
    known = labels.select("node")
    new_nodes = (
        d.select(F.col("_s").alias("node"))
        .unionByName(d.select(F.col("_d").alias("node")))
        .distinct()
        .join(known, "node", "left_anti")
    )
    new_rows = (
        new_nodes.join(remap, new_nodes["node"] == remap["_old"], "left")
        .select("node", F.coalesce("_new", "node").alias("component"))
    )
    return updated.unionByName(new_rows)


def canonicalize_graph(
    triples: DataFrame,
    same_as_edges: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Rewrite triple endpoints to canonical component representatives.

    Returns (canonical_triples, mapping). Triples whose endpoints collapse
    to the same canonical url are dropped (mirroring the reference's
    ``subj.url != obj.url`` guard, kg_construction.py:67); identical
    canonical triples from different conversations dedup globally on
    (subj_url, pred_url, obj_url) keeping the max score.
    """
    mapping = connected_components(same_as_edges)

    def canon(df: DataFrame, col: str) -> DataFrame:
        m = mapping.withColumnRenamed("node", col).withColumnRenamed(
            "component", f"_canon_{col}"
        )
        return df.join(m, on=col, how="left").withColumn(
            col, F.coalesce(f"_canon_{col}", col)
        ).drop(f"_canon_{col}")

    rewritten = canon(canon(triples, "subj_url"), "obj_url").filter(
        F.col("subj_url") != F.col("obj_url")
    )
    global_dedup = (
        rewritten
        .groupBy("subj_url", "pred_url", "obj_url")
        .agg(
            F.max("score").alias("score"),
            F.count("*").alias("support"),
            F.collect_set("conv_id").alias("conv_ids"),
        )
        .withColumn(
            "id_", F.xxhash64("subj_url", "pred_url", "obj_url").cast("string")
        )
    )
    return global_dedup, mapping
