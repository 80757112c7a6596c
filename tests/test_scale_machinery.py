"""Union-find canonicalization, checkpoint/resume, chunked skew capping,
and the scaling campaign's resume guards."""

import importlib.util
import json
from pathlib import Path
from types import SimpleNamespace

import pytest

from waka_spark.plans.checkpoint import CheckpointManager, run_checkpointed
from waka_spark.plans.unionfind import canonicalize_graph, connected_components


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("z", "z")],
        "src string, dst string",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert "z" not in comp  # self-loop: isolated, caller coalesces


def test_connected_components_chain(spark):
    # longer diameter exercises the iteration + convergence check
    chain = [(f"n{i}", f"n{i+1}") for i in range(12)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(comp.values()) == {"n0"}


def test_incremental_components_matches_full_rebuild(spark):
    """Delta fold-in == full rebuild, covering every merge shape: two old
    components bridged, a new node joining an old component, a new-only
    component, a no-op intra-component edge, and a new-node self-loop."""
    from waka_spark.plans.unionfind import incremental_components

    base = [("b", "a"), ("c", "b"), ("y", "x"), ("q", "p")]
    delta = [
        ("c", "x"),   # bridges {a,b,c} with {x,y} → min label "a"
        ("z1", "p"),  # new node joins {p,q}
        ("w1", "w2"),  # brand-new component
        ("q", "p"),   # intra-component no-op
        ("v9", "v9"),  # new-node self-loop → singleton
    ]
    edges = spark.createDataFrame(base, "src string, dst string")
    d = spark.createDataFrame(delta, "src string, dst string")

    labels = connected_components(edges)
    inc = {r.node: r.component
           for r in incremental_components(labels, d).collect()}
    full = {r.node: r.component
            for r in connected_components(edges.unionByName(d)).collect()}
    # full rebuild drops the v9 self-loop singleton; incremental keeps it
    # as its own component (callers coalesce either way)
    assert inc.pop("v9") == "v9"
    assert inc == full


def test_incremental_components_relabel_is_broadcast(spark):
    """The pass over the standing labels table must be a broadcast hash
    join on the delta-sized mapping — never a shuffle of the big side."""
    from waka_spark.plans.unionfind import incremental_components

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(6)], "src string, dst string")
    d = spark.createDataFrame([("n0", "m0")], "src string, dst string")
    out = incremental_components(connected_components(edges), d)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_canonicalize_graph_rewrites_and_dedups(spark):
    triples = spark.createDataFrame(
        [
            ("c1", "Q1", "P1", "Q2", 0.9),
            ("c2", "Q1b", "P1", "Q2", 0.5),   # Q1b same-as Q1 → dedups with above
            ("c3", "Q1", "P1", "Q1b", 0.7),   # collapses to self-loop → dropped
        ],
        "conv_id string, subj_url string, pred_url string, obj_url string, score double",
    )
    same_as = spark.createDataFrame([("Q1", "Q1b")], "src string, dst string")
    canon, mapping = canonicalize_graph(triples, same_as)
    rows = canon.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.subj_url, r.obj_url) == ("Q1", "Q2")
    assert r.score == 0.9 and r.support == 2
    assert sorted(r.conv_ids) == ["c1", "c2"]


@pytest.fixture
def synth_small(spark):
    from waka_spark import synth
    from waka_spark.plans.pipeline import KGPipeline

    kb = synth.build_kb(20)
    pipe = KGPipeline(
        aliases=synth.aliases_df(spark, kb),
        properties=synth.properties_df(spark),
        gazetteer=synth.gazetteer(kb),
        rules=synth.rules_df(spark, kb),
        use_scorers=False,
    )
    transcripts = synth.synth_transcripts(
        spark, kb, n_convs=6, hot_every=5, hot_turns=12, base_turns=5)
    return pipe, transcripts


def test_checkpoint_resume(spark, synth_small, tmp_path):
    pipe, transcripts = synth_small

    m1 = CheckpointManager(spark, str(tmp_path), "run-A")
    out1 = run_checkpointed(pipe, transcripts, m1)
    t1 = sorted(
        (r.subj_url, r.pred_url, r.obj_url)
        for r in out1["triples"].collect()
    )
    assert m1.stages_run and not m1.stages_resumed
    assert m1.manifest("documents")["rows_out"] == 6
    assert m1.manifest("documents")["partitions"]  # per-partition counters

    # resume: same run_id → every stage loads from its checkpoint
    m2 = CheckpointManager(spark, str(tmp_path), "run-A")
    out2 = run_checkpointed(pipe, transcripts, m2)
    t2 = sorted(
        (r.subj_url, r.pred_url, r.obj_url)
        for r in out2["triples"].collect()
    )
    assert not m2.stages_run and len(m2.stages_resumed) >= 8
    assert t1 == t2


def test_checkpoint_partial_resume(spark, synth_small, tmp_path):
    """Kill-and-resume: only some stages committed → resume recomputes the
    rest and the final tables are identical to an uninterrupted run."""
    pipe, transcripts = synth_small

    # simulate a run killed after two stages
    m_partial = CheckpointManager(spark, str(tmp_path), "run-B")
    docs = m_partial.stage("documents", lambda: pipe.documents(transcripts))
    m_partial.stage("mentions", lambda: pipe.mentions(docs))

    m_resume = CheckpointManager(spark, str(tmp_path), "run-B")
    out = run_checkpointed(pipe, transcripts, m_resume)
    assert m_resume.stages_resumed[:2] == ["documents", "mentions"]
    assert "candidates" in m_resume.stages_run

    m_fresh = CheckpointManager(spark, str(tmp_path), "run-C")
    fresh = run_checkpointed(pipe, transcripts, m_fresh)
    got = sorted(map(tuple, out["triples"]
                     .select("subj_url", "pred_url", "obj_url").collect()))
    want = sorted(map(tuple, fresh["triples"]
                      .select("subj_url", "pred_url", "obj_url").collect()))
    assert got == want


def _count_jobs(spark, fn):
    """``(fn(), Spark jobs fn ran)``, from statusTracker under a job group
    of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _not_recomputed():
    raise AssertionError("a committed stage must resume, not recompute")


def test_checkpoint_commit_is_one_job_and_resume_none(spark, tmp_path):
    """statusTracker pin: a stage commit runs exactly its write job — the
    row count is observed by the write, the per-file counters come from
    the Parquet footers and the read-back uses the committed schema — and
    a resume runs no job at all."""
    from pyspark.sql import functions as F

    df = spark.range(0, 1000, numPartitions=4).select(
        "id", (F.col("id") % 7).alias("k"), F.lit("x").alias("tag"))
    mgr = CheckpointManager(spark, str(tmp_path), "jobs")
    out, n_commit = _count_jobs(spark, lambda: mgr.stage("s", lambda: df))
    assert n_commit == 1
    resumed = CheckpointManager(spark, str(tmp_path), "jobs")
    back, n_resume = _count_jobs(
        spark, lambda: resumed.stage("s", _not_recomputed))
    assert n_resume == 0
    assert resumed.stages_resumed == ["s"]
    inferred = spark.read.parquet(mgr.manifest("s")["output_path"])
    assert out.schema == back.schema == inferred.schema
    assert _rows(back) == _rows(df)


def test_checkpoint_counters_are_the_written_files(spark, tmp_path):
    """``rows_out`` (observed during the write) equals the sum of the
    footer row counts in ``partitions``: one entry per written file."""
    df = spark.range(0, 1000, numPartitions=4).filter("id % 3 = 0")
    mgr = CheckpointManager(spark, str(tmp_path), "counters")
    mgr.stage("s", lambda: df)
    m = mgr.manifest("s")
    assert m["rows_out"] == 334
    assert sum(p["rows"] for p in m["partitions"]) == m["rows_out"]
    data_files = sorted(f for f in Path(m["output_path"]).iterdir()
                        if f.suffix == ".parquet")
    assert [p["file"] for p in m["partitions"]] == [f.name for f in data_files]
    assert len(data_files) == 4


@pytest.mark.parametrize("make_empty", [
    lambda spark: spark.range(10).filter("id < 0").selectExpr(
        "id", "cast(id as string) AS s"),
    lambda spark: spark.createDataFrame(
        spark.sparkContext.emptyRDD(), "id bigint, s string"),
], ids=["filtered", "no-partitions"])
def test_checkpoint_empty_stage(spark, tmp_path, make_empty):
    """A 0-row stage commits ``rows_out == 0`` without blocking on the
    write's observation, and resumes as 0 rows with the same schema."""
    import threading

    mgr = CheckpointManager(spark, str(tmp_path), "empty")
    done = {}
    worker = threading.Thread(
        target=lambda: done.setdefault(
            "out", mgr.stage("s", lambda: make_empty(spark))),
        daemon=True)
    worker.start()
    worker.join(timeout=120)
    assert "out" in done, "empty-stage commit did not return"
    assert mgr.manifest("s")["rows_out"] == 0
    resumed = CheckpointManager(spark, str(tmp_path), "empty")
    back = resumed.stage("s", _not_recomputed)
    assert back.count() == 0
    assert back.schema == done["out"].schema


def test_checkpoint_resumes_manifest_without_schema(spark, tmp_path):
    """A manifest written before ``schema`` was recorded still resumes,
    by schema inference, to the same frame."""
    from pyspark.sql import functions as F

    df = spark.range(0, 50, numPartitions=2).select(
        "id", F.array("id").alias("ids"))
    out = CheckpointManager(spark, str(tmp_path), "legacy").stage(
        "s", lambda: df)
    path = tmp_path / "legacy" / "s" / "manifest.json"
    manifest = json.loads(path.read_text())
    del manifest["schema"]
    path.write_text(json.dumps(manifest))
    back = CheckpointManager(spark, str(tmp_path), "legacy").stage(
        "s", _not_recomputed)
    assert back.schema == out.schema
    assert _rows(back) == _rows(df)


def _distributed_only(monkeypatch):
    """Force connected_components and label_propagation onto their
    distributed rounds: the one gate they share declines every frame, and
    either driver solver fails the test if it is reached."""
    from waka_spark.operators import graph
    from waka_spark.plans import parallel, unionfind

    def driver_solver(*args):
        raise AssertionError("the driver solver ran")

    monkeypatch.setattr(parallel, "driver_table", lambda df: None)
    monkeypatch.setattr(unionfind, "_driver_components", driver_solver)
    monkeypatch.setattr(graph, "_driver_communities", driver_solver)


def test_unionfind_long_chain_converges_fast(spark, monkeypatch):
    """A 300-node chain converges under a 20-round budget: pointer jumping
    makes rounds O(log diameter), where plain min-propagation would need
    ~300 rounds."""
    from waka_spark.plans.unionfind import connected_components

    _distributed_only(monkeypatch)
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(300)],
        "src string, dst string",
    )
    got = connected_components(edges, max_iter=20).collect()
    assert len(got) == 301
    assert {r.component for r in got} == {"n0000"}


def _random_edges(seed, n_nodes=60, n_edges=70):
    """A random sparse graph with self-loops, duplicate edges and rows
    with a NULL endpoint mixed in."""
    import random

    rnd = random.Random(seed)
    pairs = [(rnd.randrange(n_nodes), rnd.randrange(n_nodes))
             for _ in range(n_edges)]
    pairs += [(5, 5), (n_nodes + 1, n_nodes + 1)]   # self-loops
    pairs += pairs[:10] + [(b, a) for a, b in pairs[10:20]]  # duplicates
    pairs += [(None, 3), (7, None), (None, n_nodes + 2)]  # NULL endpoints
    return pairs


def _chain(n=300):
    return [(i, i + 1) for i in range(n)]


def _both_paths(spark, monkeypatch, pairs, id_type, run=None):
    """``run(edges)`` (connected_components by default) over ``pairs`` on
    the driver path, then on the distributed path: (rows, [(name,
    dataType)]) for each, and whether each call solved on the driver."""
    from waka_spark.operators import graph
    from waka_spark.plans import unionfind

    if id_type == "string":
        pairs = [tuple(None if x is None else f"n{x:04d}" for x in p)
                 for p in pairs]
    edges = spark.createDataFrame(pairs, f"src {id_type}, dst {id_type}")
    solved = []

    def spy(module, name):
        orig = getattr(module, name)

        def solver(*args):
            solved.append(True)
            return orig(*args)

        monkeypatch.setattr(module, name, solver)

    spy(unionfind, "_driver_components")
    spy(graph, "_driver_communities")
    out = []
    for force_distributed in (False, True):
        with monkeypatch.context() as m:
            if force_distributed:
                _distributed_only(m)
            n_solved = len(solved)
            df = (run or unionfind.connected_components)(edges)
            out.append((
                _rows(df), [(f.name, f.dataType) for f in df.schema.fields],
                len(solved) > n_solved))
    return out


@pytest.mark.parametrize("id_type,graph", [
    ("string", lambda: _random_edges(0)),
    ("string", lambda: _random_edges(1)),
    ("bigint", lambda: _random_edges(2)),
    ("int", lambda: _random_edges(3)),
    ("string", _chain),
    ("bigint", _chain),
], ids=["string-random0", "string-random1", "long-random", "int-random",
        "string-chain", "long-chain"])
def test_unionfind_driver_and_distributed_paths_agree(
        spark, monkeypatch, id_type, graph):
    """Below the broadcast budget connected_components solves on the
    driver; forced onto the distributed rounds, the same input must give
    identical rows and an identical (name, dataType) schema. The graphs
    carry self-loops, duplicate edges and NULL endpoints."""
    pairs = graph()
    (d_rows, d_schema, on_driver), (x_rows, x_schema, off_driver) = (
        _both_paths(spark, monkeypatch, pairs, id_type))
    assert on_driver and not off_driver
    assert d_rows == x_rows and d_rows
    assert d_schema == x_schema
    # every node is labelled with its component's minimum node id
    assert all(comp <= node for node, comp in d_rows)


def test_unionfind_double_ids_stay_distributed(spark, monkeypatch):
    """Python orders NaN unlike Spark, so double ids never take the
    driver path, whatever the graph's size."""
    [(rows, schema, on_driver), _] = _both_paths(
        spark, monkeypatch, [(1.0, 2.0), (2.0, 3.0), (7.0, 8.0)], "double")
    assert not on_driver
    assert rows == [(1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (7.0, 7.0),
                    (8.0, 7.0)]


def _source_only():
    """A directed graph whose sources 0-3 have no in-edge (they keep
    their own label) and whose sinks 20-22 have no out-edge."""
    return [(0, 10), (1, 10), (2, 11), (3, 11), (3, 10), (10, 20),
            (11, 20), (11, 21), (10, 22), (11, 22), (11, 22)]


@pytest.mark.parametrize("id_type,graph", [
    ("string", lambda: _random_edges(0)),
    ("string", lambda: _random_edges(1)),
    ("bigint", lambda: _random_edges(2)),
    ("int", lambda: _random_edges(3)),
    ("string", _source_only),
    ("bigint", _source_only),
], ids=["string-random0", "string-random1", "long-random", "int-random",
        "string-source-only", "long-source-only"])
@pytest.mark.parametrize("n_iter", [0, 50])
def test_label_propagation_driver_and_distributed_paths_agree(
        spark, monkeypatch, id_type, graph, n_iter):
    """Below the broadcast budget label_propagation runs its rounds on the
    driver; forced onto the distributed rounds, the same input must give
    identical rows and an identical (name, dataType) schema. The random
    graphs carry self-loops, duplicate edges and NULL endpoints and
    mostly never settle, so 50 rounds run the full budget; the directed
    graph settles early."""
    from waka_spark.operators.graph import label_propagation

    pairs = graph()
    (d_rows, d_schema, on_driver), (x_rows, x_schema, off_driver) = (
        _both_paths(spark, monkeypatch, pairs, id_type,
                    lambda e: label_propagation(e, n_iter=n_iter)))
    assert on_driver and not off_driver
    assert d_rows == x_rows and d_rows
    assert d_schema == x_schema
    nodes = {x for p in pairs for x in p}
    assert len(d_rows) == len(nodes)   # NULL endpoints: one (NULL, NULL)
    if n_iter == 0:
        assert all(node == comm for node, comm in d_rows)


def test_label_propagation_double_ids_stay_distributed(spark, monkeypatch):
    """Python orders NaN unlike Spark, so double ids never take the
    driver path, whatever the graph's size."""
    from waka_spark.operators.graph import label_propagation

    [(rows, schema, on_driver), _] = _both_paths(
        spark, monkeypatch, [(1.0, 2.0), (2.0, 1.0), (3.0, 2.0)], "double",
        lambda e: label_propagation(e, n_iter=1))
    assert not on_driver
    assert rows == [(1.0, 2.0), (2.0, 1.0), (3.0, 3.0)]


def test_bucketed_join_is_exchange_and_sort_free(spark, tmp_path):
    """Both sides bucketed+sorted on the join key with equal bucket
    counts: the sort-merge join must run with NO Exchange and NO Sort —
    the co-located join shape nodes/edges rely on at 10^12 turns."""
    import uuid

    from pyspark.sql import functions as F

    from waka_spark.plans.bucketing import bucketed_join, write_bucketed

    tag = uuid.uuid4().hex[:8]
    nodes_t, edges_t = f"nodes_{tag}", f"edges_{tag}"
    nodes = spark.range(200).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") % 7).alias("deg"))
    edges = spark.range(600).select(
        F.concat(F.lit("u"), (F.col("id") % 200)).alias("url"),
        F.col("id").alias("edge_id"))

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(nodes, nodes_t, "url", n_buckets=4)
        write_bucketed(edges, edges_t, "url", n_buckets=4)

        joined = bucketed_join(spark, edges_t, nodes_t, "url")
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # the scans must be recognized as bucketed (that's what elides
        # the exchange); the residual in-partition Sort is expected —
        # Spark 3+ ignores sortBy metadata on read unless the legacy
        # bucketedTableScan.outputOrdering conf is on (see bucketing.py)
        assert plan.count("Bucketed: true") == 2
        assert joined.count() == 600
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {nodes_t}")
        spark.sql(f"DROP TABLE IF EXISTS {edges_t}")


def test_iterative_ops_release_superseded_round_state(spark, monkeypatch):
    """Iterative algorithms must not accumulate one checkpoint per round:
    after each returns, executor storage may hold ONLY the returned
    frame's blocks (plus any caller-owned persists from other tests) —
    at 10^9-node scale a 25-round leak evicts the rest of the job's
    cached state. plans/iterate.fixpoint and the plans/pins scopes are
    the mechanism. Union-find and label propagation run their distributed
    rounds here, and their driver paths too."""
    from pyspark.sql import functions as F

    from waka_spark.operators.ann import mmr_topk
    from waka_spark.operators.graph import (
        bfs_distances, hits, k_core, k_truss, label_propagation, pagerank,
        personalized_pagerank)
    from waka_spark.plans.unionfind import connected_components

    def n_persistent():
        return len(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                   .toArray())

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 40}") for i in range(40)]
        + [(f"n{i}", f"n{(i + 7) % 40}") for i in range(40)],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("n0",)], "node string")
    # a triangle plus a pendant edge: one k=3 round peels the pendant and
    # the budget ends before convergence, so k_truss recomputes support
    tri = spark.createDataFrame(
        [("t0", "t1"), ("t1", "t2"), ("t0", "t2"), ("t2", "t3")],
        "src string, dst string")
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5 + 1)]) for i in range(12)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "q_id long, q_vec array<double>")

    def distributed(fn):
        def run():
            with monkeypatch.context() as m:
                _distributed_only(m)
                return fn()
        return run

    for fn in (
        lambda: connected_components(edges),
        distributed(lambda: connected_components(edges)),
        lambda: pagerank(edges, n_iter=5),
        lambda: bfs_distances(edges, seeds, n_iter=4),
        lambda: label_propagation(edges, n_iter=4),
        distributed(lambda: label_propagation(edges, n_iter=4)),
        lambda: k_core(edges, k=2, n_iter=4),
        lambda: hits(edges, n_iter=3),
        lambda: personalized_pagerank(edges, seeds, n_iter=3),
        lambda: k_truss(edges, k=2, n_iter=2),   # converges in round 1
        lambda: k_truss(tri, k=3, n_iter=1),     # budget runs out
        lambda: mmr_topk(emb, queries, k=3, n_candidates=5),
    ):
        before = n_persistent()
        result = fn()
        rows = result.count()  # returned frame stays usable post-release
        assert rows > 0
        # exactly the returned frame's checkpoint may remain
        assert n_persistent() <= before + 1


def _cliques(spark, n_cliques=3, size=5, tail=0):
    """Disjoint ``size``-cliques, symmetrized; ``tail`` > 0 hangs a path
    of that many extra nodes off the first clique's last node."""
    pairs = [(f"c{c}_{i}", f"c{c}_{j}") for c in range(n_cliques)
             for i in range(size) for j in range(size) if i != j]
    path = [f"c0_{size - 1}"] + [f"p{i}" for i in range(1, tail + 1)]
    for a, b in zip(path, path[1:]):
        pairs += [(a, b), (b, a)]
    return spark.createDataFrame(pairs, "src string, dst string")


def _rows(df):
    """``df``'s rows as sorted tuples, NULLs last in each column."""
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: [(x is None, x) for x in t])


def test_iterative_ops_stop_early_exactly(spark, monkeypatch):
    """label_propagation, k_core and bfs_distances stop on the first
    round that changes nothing, and the result equals the full budget's.
    On 5-cliques LPA converges after round 2 (round 3 changes nothing)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from waka_spark.operators.graph import (
        bfs_distances, k_core, label_propagation)

    cliques = _cliques(spark)
    lpa = _rows(label_propagation(cliques, n_iter=50))
    assert lpa == _rows(label_propagation(cliques, n_iter=2))
    assert {c for _, c in lpa} == {"c0_0", "c1_0", "c2_0"}

    cuts = {"n": 0}
    orig = DataFrame.localCheckpoint

    def counting(self, *args, **kwargs):
        cuts["n"] += 1
        return orig(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "localCheckpoint", counting)
        _distributed_only(m)
        assert _rows(label_propagation(cliques, n_iter=50)) == lpa
    assert cuts["n"] == 2 + 3  # edges + initial labels, then 3 rounds
    with monkeypatch.context() as m:
        m.setattr(DataFrame, "localCheckpoint", counting)
        label_propagation(cliques, n_iter=50).count()
    assert cuts["n"] == 2 + 3 + 1  # the driver rounds cut the edges only

    # the tail peels one node per round (k=2): converged after round 3
    tailed = _cliques(spark, tail=3)
    core = _rows(k_core(tailed, k=2, n_iter=50))
    assert core == _rows(k_core(tailed, k=2, n_iter=3))
    assert {n for n, _ in core} == {
        f"c{c}_{i}" for c in range(3) for i in range(5)}
    assert core != _rows(k_core(tailed, k=2, n_iter=2))  # p1 survives

    # the tail's far end is 4 hops from c0_0: converged after round 4
    seeds = spark.createDataFrame([("c0_0",)], "node string")
    dist = _rows(bfs_distances(tailed, seeds, n_iter=50))
    assert dist == _rows(bfs_distances(tailed, seeds, n_iter=4))
    assert max(d for _, d in dist) == 4
    assert dist != _rows(bfs_distances(tailed, seeds, n_iter=3))


def test_label_propagation_runs_full_budget_when_labels_swap(spark):
    """On a single edge a–b synchronous LPA swaps the two labels every
    round, so no round repeats its input: odd and even budgets differ."""
    from waka_spark.operators.graph import label_propagation

    ab = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string")
    assert _rows(label_propagation(ab, n_iter=5)) == [("a", "b"), ("b", "a")]
    assert _rows(label_propagation(ab, n_iter=6)) == [("a", "a"), ("b", "b")]


class _NoStatsFrame:
    """Stand-in for a DataFrame whose optimizer-stats probe throws; only
    the attributes parallel_floor reads."""

    def __init__(self, spark, n_parts):
        self.sparkSession = spark
        self.rdd = type("R", (), {"getNumPartitions": lambda _: n_parts})()
        self.repartitioned = False

    @property
    def _jdf(self):
        raise RuntimeError("stats probe failed")

    def repartition(self, *args):
        self.repartitioned = True
        return self


def test_parallel_floor_fails_safe_when_stats_probe_throws(spark):
    """A failed stats probe must not be read as "small": the partition
    count decides, exactly as for unknown stats, so an input that already
    spans the cores is never shuffled. And the probe itself must work: an
    input the optimizer sizes far above cores x 128 MB is left alone."""
    from waka_spark.plans.parallel import parallel_floor

    huge = spark.range(10**13)  # 80 TB by the optimizer's estimate
    assert parallel_floor(huge, "id") is huge
    cores = spark.sparkContext.defaultParallelism
    wide = _NoStatsFrame(spark, n_parts=cores)
    assert parallel_floor(wide, "k") is wide
    assert not wide.repartitioned
    narrow = _NoStatsFrame(spark, n_parts=1)
    parallel_floor(narrow, "k")
    assert narrow.repartitioned


def test_maybe_broadcast_sizes_rows_by_schema(spark):
    """The broadcast budget is sized from the frame's schema: 2M rows of
    three strings (60 B/row, 120 MB) exceed the 64 MB budget and get no
    hint; 2M rows of one long (8 B/row, 16 MB) still get one."""
    from waka_spark.plans.parallel import maybe_broadcast

    strings = spark.createDataFrame([], "a string, b string, c string")
    assert maybe_broadcast(strings, 2_000_000) is strings
    longs = spark.createDataFrame([], "id long")
    hinted = maybe_broadcast(longs, 2_000_000)
    assert "broadcast" in hinted._jdf.queryExecution().analyzed().toString()
    assert maybe_broadcast(longs, None) is longs


def _load_bench_scaling():
    spec = importlib.util.spec_from_file_location(
        "bench_scaling",
        Path(__file__).resolve().parent.parent / "scripts" /
        "bench_scaling.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _pairs_args(out_path, **kw):
    base = dict(pairs_out=str(out_path), skip_gen=True, n_convs=200000,
                pairs=0, pair_runs=1, input="/nonexistent")
    base.update(kw)
    return SimpleNamespace(**base)


def test_pairs_campaign_refuses_mismatched_resume(tmp_path):
    """Resuming a pairs campaign whose recorded n_convs/levels/pair_runs
    differ from the current arguments must fail fast (pooling pairs
    across corpora/estimators into one median)."""
    m = _load_bench_scaling()
    out = tmp_path / "pairs.json"
    out.write_text(json.dumps(
        {"n_convs": 100, "levels": [2, 8], "pair_runs": 1, "pairs": []}))
    with pytest.raises(SystemExit, match="n_convs"):
        m.run_pairs(_pairs_args(out))
    out.write_text(json.dumps(
        {"n_convs": 200000, "levels": [2, 8], "pair_runs": 2, "pairs": []}))
    with pytest.raises(SystemExit, match="pair_runs"):
        m.run_pairs(_pairs_args(out, pair_runs=1))
    # legacy campaign file without pair_runs: treated as pair_runs=1
    out.write_text(json.dumps(
        {"n_convs": 200000, "levels": [2, 8], "pairs": []}))
    with pytest.raises(SystemExit, match="pair_runs"):
        m.run_pairs(_pairs_args(out, pair_runs=2))


def test_pairs_campaign_refuses_silent_overwrite(tmp_path, capsys):
    """Without --skip-gen an existing campaign file must not be clobbered
    on the first pair write; with --skip-gen and matching state the
    resume proceeds (0 extra pairs = summary only)."""
    m = _load_bench_scaling()
    out = tmp_path / "pairs.json"
    out.write_text(json.dumps(
        {"n_convs": 200000, "levels": [2, 8], "pair_runs": 1, "pairs": []}))
    with pytest.raises(SystemExit, match="refusing to overwrite"):
        m.run_pairs(_pairs_args(out, skip_gen=False))
    # matching resume with pairs=0 runs no workers, prints the summary
    m.run_pairs(_pairs_args(out))
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_pairs"] == 0
