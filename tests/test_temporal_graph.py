"""Unit tests for operators/temporal.py (as-of + binned range join) and
operators/graph.py (PageRank, triangles) on hand-computable fixtures."""

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ts(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, minute, second)


@pytest.fixture()
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            (1, "A", _ts(0)),   # before any quote -> no match
            (2, "A", _ts(5)),   # matches quote at :05 exactly (ts <= ts)
            (3, "A", _ts(30)),  # matches latest quote at :20
            (4, "B", _ts(10)),  # key B has its own stream
        ],
        "trade_id int, sym string, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts(5), 100.0),
            ("A", _ts(20), 101.0),
            ("B", _ts(9), 55.0),
            ("C", _ts(1), 7.0),  # key never queried
        ],
        "sym string, ts timestamp, px double",
    )
    return trades, quotes


def test_asof_join_semantics(spark, trades_quotes):
    from waka_spark.operators.temporal import asof_join

    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, key="sym", right_payload=["px"])
    got = {r["trade_id"]: (r["px"], r["_asof_ts"]) for r in out.collect()}
    assert got[1] == (None, None)
    assert got[2] == (100.0, _ts(5))     # same-instant row matches (<=)
    assert got[3] == (101.0, _ts(20))    # latest preceding, not first
    assert got[4] == (55.0, _ts(9))
    assert out.count() == trades.count()  # left-outer: every trade kept


def test_asof_join_tolerance(spark, trades_quotes):
    from waka_spark.operators.temporal import asof_join

    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes, key="sym", right_payload=["px"], tolerance_sec=120.0
    )
    got = {r["trade_id"]: r["px"] for r in out.collect()}
    assert got[2] == 100.0   # 0s lag: fresh
    assert got[3] is None    # 10min lag > 2min tolerance: nulled, row kept
    assert got[4] == 55.0    # 60s lag: fresh


def test_range_join_binned_counts(spark):
    from waka_spark.operators.temporal import range_join_binned

    left = spark.createDataFrame(
        [(1, "u", _ts(30))], "event_id int, user string, ts timestamp"
    )
    # window is [09:30, 10:30): boundary semantics both ways
    right = spark.createDataFrame(
        [
            ("u", dt.datetime(2024, 1, 1, 9, 29, 59), 1.0),  # too old
            ("u", dt.datetime(2024, 1, 1, 9, 30, 0), 2.0),   # exactly -1h: in
            ("u", _ts(15), 3.0),                             # in
            ("u", _ts(30), 4.0),                             # == left ts: out
            ("v", _ts(15), 5.0),                             # other key
        ],
        "user string, ts timestamp, value double",
    )
    out = range_join_binned(
        left, right, key="user", window_sec=3600.0,
        aggs=[F.count("*").cast("long").alias("n_in_window"),
              F.sum("value").alias("sum_value")],
    ).collect()
    assert len(out) == 1
    assert out[0]["n_in_window"] == 2
    assert out[0]["sum_value"] == 5.0


def test_range_join_binned_empty_window_kept(spark):
    from waka_spark.operators.temporal import range_join_binned

    left = spark.createDataFrame(
        [(1, "u", _ts(0)), (2, "w", _ts(1))],
        "event_id int, user string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", _ts(5), 1.0)], "user string, ts timestamp, value double"
    )  # after both left rows -> nothing in any window
    rows = range_join_binned(left, right, key="user", window_sec=60.0).collect()
    assert {r["event_id"]: r["n_in_window"] for r in rows} == {1: 0, 2: 0}


def test_pagerank_star_graph(spark):
    from waka_spark.operators.graph import pagerank, symmetrize

    # undirected star: hub 0 - leaves 1..4; symmetry => leaves share a rank
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "doc_a int, doc_b int"
    )
    ranks = {r["node"]: r["rank"]
             for r in pagerank(symmetrize(pairs), n_iter=20).collect()}
    assert len(ranks) == 5
    assert abs(sum(ranks.values()) - 1.0) < 1e-9      # mass conserved
    leaf = [v for k, v in ranks.items() if k != 0]
    assert max(leaf) - min(leaf) < 1e-12              # symmetric leaves
    assert ranks[0] > max(leaf) * 2                   # hub dominates
    # fixed point: hub = base(1+4d)/(1-d^2) ~= 0.47568, leaf ~= 0.13108;
    # 20 rounds leave a ~d^20 ~= 0.04 residual, so compare loosely
    assert abs(ranks[0] - 0.47568) < 0.02
    assert abs(leaf[0] - 0.13108) < 0.01


def test_triangle_count(spark):
    from waka_spark.operators.graph import triangle_count

    # K4 has 4 triangles; edges given in mixed orientation + a duplicate
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 2), (0, 3), (1, 2), (3, 1), (2, 3)],
        "src int, dst int",
    )
    assert triangle_count(edges).collect()[0]["n_triangles"] == 4


def test_asof_join_is_single_sort_no_join(spark, trades_quotes):
    """Plan shape: the as-of join must not contain ANY join operator —
    the union-tag formulation is one exchange + one sort + window."""
    from waka_spark.operators.temporal import asof_join

    trades, quotes = trades_quotes
    plan = asof_join(
        trades, quotes, key="sym", right_payload=["px"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Window" in plan


def test_range_join_binned_is_equi_join(spark):
    """Plan shape: the range join must be a hash/sort-merge equi-join,
    never a BroadcastNestedLoopJoin (the naive theta-join shape)."""
    from waka_spark.operators.temporal import range_join_binned

    left = spark.createDataFrame(
        [(1, "u", _ts(0))], "event_id int, user string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u", _ts(5), 1.0)], "user string, ts timestamp, value double"
    )
    plan = range_join_binned(
        left, right, key="user", window_sec=60.0
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_greedy_cascade_semantics(spark):
    from waka_spark.operators.temporal import funnel

    ev = spark.createDataFrame(
        [
            # u1 completes the full funnel in order
            (1, "view", _ts(0)), (1, "click", _ts(1)), (1, "purchase", _ts(2)),
            # u2 clicks BEFORE viewing -> click doesn't count; no purchase
            (2, "click", _ts(0)), (2, "view", _ts(1)),
            # u3 purchase before click -> stops at stage 2
            (3, "view", _ts(0)), (3, "purchase", _ts(1)), (3, "click", _ts(2)),
            # u4 same-instant view+click -> strict > blocks stage 2
            (4, "view", _ts(5)), (4, "click", _ts(5)),
            # u5 irrelevant events only
            (5, "error", _ts(0)),
        ],
        "user_id long, event_type string, ts timestamp",
    )
    out = {r["stage"]: r for r in
           funnel(ev, ["view", "click", "purchase"]).collect()}
    assert out[1]["step"] == "view" and out[1]["n_keys"] == 4   # u1 u2 u3 u4
    assert out[2]["step"] == "click" and out[2]["n_keys"] == 2  # u1 u3
    assert out[3]["step"] == "purchase" and out[3]["n_keys"] == 1  # u1


def test_funnel_is_single_shuffle(spark):
    from waka_spark.operators.temporal import funnel

    ev = spark.createDataFrame(
        [(1, "view", _ts(0))], "user_id long, event_type string, ts timestamp"
    )
    plan = funnel(ev, ["view", "click"])._jdf.queryExecution().optimizedPlan().toString()
    # one aggregate-walk exchange on the key; no self-joins in the plan
    assert "Join" not in plan


def test_retention_cohorts_triangle(spark):
    import datetime as dt

    from waka_spark.operators.temporal import retention_cohorts

    def day(n):  # Mondays: 2024-01-01 is a Monday
        return dt.datetime(2024, 1, 1) + dt.timedelta(days=n)

    ev = spark.createDataFrame(
        [
            (1, day(0)), (1, day(8)),          # u1: week0 cohort, active w0+w1
            (2, day(1)),                        # u2: week0 cohort, only w0
            (3, day(7)), (3, day(21)),          # u3: week1 cohort, w1 + w3(off 2)
        ],
        "user_id long, ts timestamp",
    )
    out = {(str(r["cohort_week"]), r["week_offset"]): r["n_active"]
           for r in retention_cohorts(ev).collect()}
    assert out[("2024-01-01", 0)] == 2      # u1, u2 in their cohort week
    assert out[("2024-01-01", 1)] == 1      # u1 returns week 1
    assert out[("2024-01-08", 0)] == 1      # u3 cohort week
    assert out[("2024-01-08", 2)] == 1      # u3 returns 2 weeks later
    assert ("2024-01-08", 1) not in out


def test_funnel_matches_reference_walk_on_random_streams(spark):
    """Property check: the single-shuffle aggregate walk equals a plain
    Python greedy-earliest cascade on randomized event streams (ties,
    missing steps, repeated steps, irrelevant types)."""
    import datetime as dt
    import random

    rnd = random.Random(42)
    steps = ["view", "click", "purchase"]
    types = steps + ["error", "scroll"]
    rows = []
    for user in range(60):
        for _ in range(rnd.randint(0, 12)):
            rows.append((
                user,
                rnd.choice(types),
                dt.datetime(2024, 1, 1) + dt.timedelta(
                    seconds=rnd.randint(0, 20)),  # dense -> many ts ties
            ))
    if not rows:
        rows = [(0, "view", dt.datetime(2024, 1, 1))]

    def reference_reached(user_rows):
        stage, t = 0, None
        for ts, typ in sorted((r[2], r[1]) for r in user_rows):
            if stage < len(steps) and typ == steps[stage] and (
                t is None or ts > t
            ):
                stage, t = stage + 1, ts
        return stage

    by_user = {}
    for r in rows:
        by_user.setdefault(r[0], []).append(r)
    want = {
        s: sum(1 for u in by_user.values() if reference_reached(u) >= s)
        for s in (1, 2, 3)
    }
    want = {s: n for s, n in want.items() if n > 0}

    from waka_spark.operators.temporal import funnel

    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp")
    got = {r["stage"]: r["n_keys"] for r in funnel(ev, steps).collect()}
    assert got == want


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property check vs pandas merge_asof (the single-node reference
    implementation of backward as-of semantics)."""
    import datetime as dt
    import random

    import pandas as pd

    rnd = random.Random(9)
    base = dt.datetime(2024, 1, 1)
    left_rows = [
        (i, rnd.choice("AB"), base + dt.timedelta(seconds=rnd.randint(0, 99)))
        for i in range(40)
    ]
    right_rows = [
        (rnd.choice("ABC"), base + dt.timedelta(seconds=rnd.randint(0, 99)),
         float(i))
        for i in range(30)
    ]
    # pandas merge_asof requires unique-ish ordering; it takes the LAST of
    # equal-ts right rows per key, matching our (ts, tag) window order only
    # if we dedup equal (key, ts) to the last payload first
    rdf = (
        pd.DataFrame(right_rows, columns=["sym", "ts", "px"])
        .sort_values(["ts"])
        .groupby(["sym", "ts"], as_index=False).last()
        .sort_values("ts")
    )
    ldf = pd.DataFrame(left_rows, columns=["trade_id", "sym", "ts"]).sort_values("ts")
    want_df = pd.merge_asof(ldf, rdf, on="ts", by="sym", direction="backward")
    want = {
        int(r.trade_id): (None if pd.isna(r.px) else float(r.px))
        for r in want_df.itertuples()
    }

    from waka_spark.operators.temporal import asof_join

    trades = spark.createDataFrame(
        left_rows, "trade_id int, sym string, ts timestamp")
    quotes = spark.createDataFrame(
        [(s, t, p) for s, t, p in right_rows],
        "sym string, ts timestamp, px double")
    got = {
        r["trade_id"]: r["px"]
        for r in asof_join(trades, quotes, key="sym").collect()
    }
    assert got == want


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by a single bridge edge: synchronous LPA with
    the min-label tie-break converges each triangle to its own min label;
    the bridge is too weak to merge them in 5 rounds."""
    from waka_spark.operators.graph import label_propagation, symmetrize

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3),          # clique {1,2,3}
         (10, 11), (11, 12), (10, 12),    # clique {10,11,12}
         (3, 10)],                        # bridge
        "doc_a int, doc_b int",
    )
    out = {r["node"]: r["community"]
           for r in label_propagation(symmetrize(pairs), n_iter=5).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == out[12]
    assert out[10] != out[1]


def test_label_propagation_deterministic(spark):
    """Same input at different partitioning -> identical labels (the
    synchronous + total-order tie-break guarantee)."""
    from waka_spark.operators.graph import label_propagation, symmetrize

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a int, doc_b int")
    e1 = symmetrize(pairs).repartition(1)
    e8 = symmetrize(pairs).repartition(8)
    r1 = sorted((r["node"], r["community"])
                for r in label_propagation(e1, n_iter=3).collect())
    r8 = sorted((r["node"], r["community"])
                for r in label_propagation(e8, n_iter=3).collect())
    assert r1 == r8


def test_k_core_peels_tail(spark):
    """Square {1,2,3,4} with a pendant tail 4-5: the 2-core is exactly the
    square (tail peeled in round 1, square degrees stay 2)."""
    from waka_spark.operators.graph import k_core, symmetrize

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (4, 5)], "doc_a int, doc_b int")
    out = {r["node"]: r["degree"]
           for r in k_core(symmetrize(pairs), k=2, n_iter=4).collect()}
    assert out == {1: 2, 2: 2, 3: 2, 4: 2}


def test_k_core_empty_when_overpeeled(spark):
    from waka_spark.operators.graph import k_core, symmetrize

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a int, doc_b int")  # path: no 2-core
    assert k_core(symmetrize(pairs), k=2, n_iter=3).count() == 0


def test_common_neighbors_square(spark):
    """Square 1-2-3-4-1: the two diagonals (1,3) and (2,4) each share two
    neighbors and are non-adjacent; adjacent pairs are excluded."""
    from waka_spark.operators.graph import common_neighbors, symmetrize

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "doc_a int, doc_b int")
    got = {(r["node_a"], r["node_b"]): r["n_common"]
           for r in common_neighbors(symmetrize(pairs), min_common=2).collect()}
    assert got == {(1, 3): 2, (2, 4): 2}


def test_common_neighbors_hub_cap(spark):
    """Star hub 0—{1..5} plus square 1-2-3-4-1: with max_hub_degree=4 the
    degree-5 hub is excluded from wedge generation, so only the square's
    diagonals survive; uncapped, hub wedges add 1-common pairs like (1,5).
    Existing-edge exclusion still uses the FULL edge set under the cap."""
    from waka_spark.operators.graph import common_neighbors, symmetrize

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(1, 2), (2, 3), (3, 4), (4, 1)],
        "doc_a int, doc_b int")
    e = symmetrize(pairs)
    uncapped = {(r["node_a"], r["node_b"]): r["n_common"]
                for r in common_neighbors(e, min_common=1).collect()}
    capped = {(r["node_a"], r["node_b"]): r["n_common"]
              for r in common_neighbors(
                  e, min_common=1, max_hub_degree=4).collect()}
    assert (1, 5) in uncapped and (1, 5) not in capped
    # diagonals keep their square-only wedge counts; hub-adjacent pairs
    # (0, x) never appear in either (adjacent via the full edge set)
    assert capped == {(1, 3): 2, (2, 4): 2}
    assert not any(a == 0 for a, _ in uncapped)


def _random_graph(spark, n_nodes=30, n_edges=90, seed=7):
    """A random directed graph with self-loops, duplicate edges, both
    orientations of some pairs, a dangling node and a weight column."""
    import random

    rng = random.Random(seed)
    rows = [(f"v{rng.randrange(n_nodes)}", f"v{rng.randrange(n_nodes)}",
             float(rng.randint(1, 5))) for _ in range(n_edges)]
    rows += [("v0", "v0", 2.0), ("v3", "v3", 1.0)]  # self-loops
    rows += [("v1", "sink", 1.0)]                    # a dangling node
    rows += rows[:10]                                # duplicate edges
    rows += [(b, a, w) for a, b, w in rows[10:20]]   # reverse orientations
    return spark.createDataFrame(rows, "src string, dst string, w double")


def test_pagerank_is_personalized_pagerank_seeded_with_every_node(spark):
    """PageRank is personalized PageRank with every node a seed: both run
    one power-iteration kernel, and only the restart term differs in
    rounding ((1-d)/N vs (1-d)·(1/N)). Unweighted and weighted, on a
    graph with self-loops, duplicate edges and a dangling node."""
    from waka_spark.operators.graph import pagerank, personalized_pagerank

    edges = _random_graph(spark)
    seeds = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node"))))
    for weight_col in (None, "w"):
        pr = {r["node"]: r["rank"] for r in pagerank(
            edges, n_iter=6, weight_col=weight_col).collect()}
        ppr = {r["node"]: r["rank"] for r in personalized_pagerank(
            edges, seeds, n_iter=6, weight_col=weight_col).collect()}
        assert len(pr) > 20
        assert ppr == pytest.approx(pr, rel=1e-12, abs=1e-15)


def test_common_neighbors_is_adamic_adar_without_the_score(spark):
    """common_neighbors equals adamic_adar's (node_a, node_b, n_common),
    with and without the hub cap, on a graph with self-loops and
    duplicate edges, and on an empty graph."""
    from waka_spark.operators.graph import adamic_adar, common_neighbors

    edges = _random_graph(spark)
    empty = spark.createDataFrame([], "src string, dst string")
    for e, min_common, cap in ((edges, 1, None), (edges, 2, None),
                               (edges, 1, 5), (empty, 1, None),
                               (empty, 1, 2)):
        cn = common_neighbors(e, min_common=min_common, max_hub_degree=cap)
        aa = adamic_adar(e, min_common=min_common, max_hub_degree=cap)
        assert cn.columns == ["node_a", "node_b", "n_common"]
        got = sorted(tuple(r) for r in cn.collect())
        want = sorted(tuple(r)[:3] for r in aa.collect())
        assert got == want
        assert (len(got) > 0) == (e is edges)


def test_triangle_count_skewed_star(spark):
    """Hub star + one triangle hanging off it: degree-ordered orientation
    must count exactly the closed triangles (hub-leaf wedges never close).
    Hub 0—{1..8}, triangle (1, 2) closes with hub edges 0-1, 0-2 → 1
    triangle through the hub; plus disjoint triangle (10, 11, 12)."""
    from waka_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)]
        + [(1, 2), (10, 11), (11, 12), (12, 10)],
        "src int, dst int")
    assert triangle_count(edges).collect()[0]["n_triangles"] == 2


def test_sessionize_gap_cut(spark):
    from waka_spark.operators.temporal import sessionize

    events = spark.createDataFrame(
        [
            # user 1: two sessions split by a 40-min gap
            (1, 1, _ts(0)),
            (2, 1, _ts(5)),
            (3, 1, _ts(45)),
            (4, 1, _ts(46)),
            # user 2: one lonely event
            (5, 2, _ts(10)),
        ],
        "event_id long, user_id long, ts timestamp",
    )
    out = sessionize(events, gap_sec=1800.0)
    got = {
        (r["user_id"], r["session_idx"]): (r["n_events"], r["duration_us"])
        for r in out.collect()
    }
    assert got == {
        (1, 1): (2, 300_000_000),   # 10:00-10:05
        (1, 2): (2, 60_000_000),    # 10:45-10:46
        (2, 1): (1, 0),
    }


def test_sessionize_exact_gap_is_same_session(spark):
    """Gap strictly greater than gap_sec cuts; exactly equal does not."""
    from waka_spark.operators.temporal import sessionize

    events = spark.createDataFrame(
        [(1, 1, _ts(0)), (2, 1, _ts(30))],
        "event_id long, user_id long, ts timestamp",
    )
    out = sessionize(events, gap_sec=1800.0).collect()
    assert len(out) == 1 and out[0]["n_events"] == 2


def test_sessionize_single_shuffle(spark):
    """Both window passes and the rollup share one exchange on user_id."""
    from waka_spark.operators.temporal import sessionize

    events = spark.createDataFrame(
        [(1, 1, _ts(0))], "event_id long, user_id long, ts timestamp"
    )
    plan = sessionize(events)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_rolling_window_trailing_hour(spark):
    from waka_spark.operators.temporal import rolling_window

    events = spark.createDataFrame(
        [
            (1, 1, dt.datetime(2024, 1, 1, 9, 0), 1.0),
            (2, 1, dt.datetime(2024, 1, 1, 9, 30), 2.0),
            (3, 1, dt.datetime(2024, 1, 1, 10, 0), 4.0),   # 9:00 still in
            (4, 1, dt.datetime(2024, 1, 1, 10, 31), 8.0),  # 9:30 aged out
            (5, 2, dt.datetime(2024, 1, 1, 9, 15), 16.0),
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = rolling_window(events, window_sec=3600.0)
    got = {r["event_id"]: (r["n_in_window"], r["sum_in_window"])
           for r in out.collect()}
    assert got[1] == (1, 1.0)
    assert got[2] == (2, 3.0)
    assert got[3] == (3, 7.0)      # inclusive left bound: 9:00 + 1h == 10:00
    assert got[4] == (2, 12.0)     # 10:00 + 10:31 only
    assert got[5] == (1, 16.0)     # keys isolated


def test_rolling_window_no_join_in_plan(spark):
    from waka_spark.operators.temporal import rolling_window

    events = spark.createDataFrame(
        [(1, 1, _ts(0), 1.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    plan = rolling_window(events)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_bfs_distances_chain(spark):
    from waka_spark.operators.graph import bfs_distances, symmetrize

    #  0-1-2-3-4 chain, seed at 0; 9 isolated seed
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "doc_a long, doc_b long"
    )
    seeds = spark.createDataFrame([(0,), (9,), (9,), (77,)], "node long")
    out = bfs_distances(symmetrize(pairs), seeds, n_iter=3)
    got = {r["node"]: r["dist"] for r in out.collect()}
    # 3 rounds reach depth 3; node 4 stays unreached (absent). Round-3
    # contract: seeds NOT in the graph (9, 77 — edge-list graphs have no
    # isolated nodes) are dropped, not emitted as phantom dist-0 rows,
    # and duplicate seeds don't duplicate output.
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}
    assert out.count() == 4


def test_bfs_distances_multi_source_min(spark):
    from waka_spark.operators.graph import bfs_distances, symmetrize

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "doc_a long, doc_b long"
    )
    seeds = spark.createDataFrame([(0,), (4,)], "node long")
    out = bfs_distances(symmetrize(pairs), seeds, n_iter=4)
    got = {r["node"]: r["dist"] for r in out.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 0}


def test_bigram_logprob_hand_case(spark):
    import math

    from waka_spark.operators.textstats import bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")],
        "doc_id long, text string",
    )
    out = bigram_logprob(docs)
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_nll"]) for r in out.collect()}
    # corpus bigrams: (a,b)x3, (b,a)x1 -> c1(a)=3, c1(b)=1
    # p(b|a)=1.0, p(a|b)=1.0 -> every NLL is 0
    assert got[1] == (3, 0.0)
    assert got[2] == (1, 0.0)
    assert 3 not in got  # single-word doc has no bigrams


def test_bigram_logprob_mixed_context(spark):
    import math

    from waka_spark.operators.textstats import bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a c")], "doc_id long, text string",
    )
    got = {r["doc_id"]: r["avg_nll"]
           for r in bigram_logprob(docs).collect()}
    # c1(a)=2, c(a,b)=c(a,c)=1 -> NLL = ln 2 both docs
    assert got[1] == pytest.approx(math.log(2), abs=1e-6)
    assert got[2] == pytest.approx(math.log(2), abs=1e-6)


def test_local_clustering_coefficient(spark):
    from waka_spark.operators.graph import local_clustering_coefficient

    # Triangle 0-1-2 plus pendant 3 attached to 0:
    #   node 0: deg 3, 1 triangle -> lcc = 2/(3*2) = 1/3
    #   nodes 1,2: deg 2, 1 triangle -> lcc = 1.0
    #   node 3: deg 1 -> lcc = 0.0
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 3), (1, 0)],  # dup in reverse orientation
        "src int, dst int",
    )
    got = {r["node"]: r for r in local_clustering_coefficient(edges).collect()}
    assert got[0]["degree"] == 3 and got[0]["n_triangles"] == 1
    assert got[0]["lcc"] == pytest.approx(1 / 3, abs=1e-6)
    assert got[1]["lcc"] == 1.0 and got[2]["lcc"] == 1.0
    assert got[3]["degree"] == 1 and got[3]["n_triangles"] == 0
    assert got[3]["lcc"] == 0.0


def test_simplified_silhouette_separated_clusters(spark):
    from waka_spark.operators.ann import simplified_silhouette

    # Two tight, orthogonal clusters (k=2, init = two lowest ids = one
    # seed in each cluster): silhouette ~ 1 for every vector.
    rows = [
        (0, [1.0, 0.0, 0.01]), (2, [1.0, 0.01, 0.0]), (4, [0.99, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.01]), (3, [0.01, 1.0, 0.0]), (5, [0.0, 0.99, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = simplified_silhouette(emb, k=2, n_iters=2).collect()
    assert len(got) == 2
    assert sum(r["n_vecs"] for r in got) == 6
    for r in got:
        assert r["n_vecs"] == 3
        assert r["mean_silhouette"] > 0.9


def test_hits_star_vs_pendant(spark):
    from waka_spark.operators.graph import hits

    # a -> {b, c}, d -> b: b is the stronger authority (two in-links),
    # a the stronger hub (covers both authorities); pure-source nodes
    # have authority 0, pure-sink nodes hub 0; both scores L1-normalize.
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("d", "b"), ("a", "b")],  # dup edge
        "src string, dst string",
    )
    got = {r["node"]: r for r in hits(edges, n_iter=3).collect()}
    assert got["b"]["authority"] > got["c"]["authority"] > 0
    assert got["a"]["hub"] > got["d"]["hub"] > 0
    assert got["a"]["authority"] == 0.0 and got["d"]["authority"] == 0.0
    assert got["b"]["hub"] == 0.0 and got["c"]["hub"] == 0.0
    assert sum(r["hub"] for r in got.values()) == pytest.approx(1, abs=1e-4)
    assert sum(r["authority"] for r in got.values()) == pytest.approx(
        1, abs=1e-4)


def test_asof_join_equal_ts_ties_deterministic(spark):
    from waka_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(7, dt.datetime(2024, 1, 1, 0, 1))], "user_id long, ts timestamp")
    right = spark.createDataFrame(
        [
            (7, dt.datetime(2024, 1, 1, 0, 0), 1.0),
            (7, dt.datetime(2024, 1, 1, 0, 0), 2.0),  # same (key, ts)
        ],
        "user_id long, ts timestamp, value double",
    )
    # greatest payload struct wins the tie — same answer on every run
    for _ in range(3):
        got = asof_join(
            left, right.repartition(4), key="user_id",
            right_payload=["value"]).collect()
        assert len(got) == 1 and got[0]["value"] == 2.0


def test_ktruss_k2_keeps_triangle_free_edges(spark):
    """Round-3 (ADVICE): k-2 <= 0 means EVERY edge survives, including
    edges in no triangle — the peeling join is left+coalesce(0), not an
    inner join that silently drops them."""
    from waka_spark.operators.graph import k_truss

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "src string, dst string",
    )
    got = {(r["node_a"], r["node_b"]): r["support"]
           for r in k_truss(edges, k=2).collect()}
    # bridge edge c-d is triangle-free but must survive with support 0
    assert got[("c", "d")] == 0
    assert got[("a", "b")] == 1
    assert len(got) == 4


def test_ktruss_converged_round_reuses_support(spark):
    """When a peeling round drops nothing, the final support equals that
    round's (checkpointed) support — results identical with the final
    enumeration skipped."""
    from waka_spark.operators.graph import k_truss

    # a 4-clique: every edge has support 2, nothing peels at k=4
    nodes = ["a", "b", "c", "d"]
    edges = spark.createDataFrame(
        [(u, v) for u in nodes for v in nodes if u < v],
        "src string, dst string",
    )
    got = {(r["node_a"], r["node_b"]): r["support"]
           for r in k_truss(edges, k=4, n_iter=3).collect()}
    assert len(got) == 6
    assert set(got.values()) == {2}


def test_pagerank_and_hits_empty_graph(spark):
    """Round-3 (review): an empty edge list returns empty frames with
    the right schema, not a driver ZeroDivisionError. Personalized
    PageRank, which shares PageRank's kernel, raises instead: no seed can
    be a node of an empty graph."""
    from waka_spark.operators.graph import hits, pagerank, personalized_pagerank

    empty = spark.createDataFrame([], "src string, dst string")
    pr = pagerank(empty, n_iter=2)
    assert pr.columns == ["node", "rank"] and pr.count() == 0
    h = hits(empty, n_iter=2)
    assert h.columns == ["node", "hub", "authority"] and h.count() == 0
    seeds = spark.createDataFrame([("a",)], "node string")
    with pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(empty, seeds, n_iter=2)


def test_kcore_nonconverged_degrees_are_subgraph_true(spark):
    """Round-3 (review): k_core reports degrees within the FINAL
    survivor set — a path a-b-c-d-e at k=2, n_iter=1 keeps {b,c,d} but
    must report their induced-subgraph degrees (1,2,1), not the (2,2,2)
    measured before the endpoints were peeled."""
    from waka_spark.operators.graph import k_core, symmetrize

    edges = symmetrize(spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "doc_a string, doc_b string"))
    got = {r["node"]: r["degree"] for r in k_core(edges, k=2, n_iter=1).collect()}
    assert got == {"b": 1, "c": 2, "d": 1}


def test_assortativity_accumulates_in_decimal_past_long_range(spark):
    """VERDICT #1: the Pearson sums must ACCUMULATE in decimal(38,0) —
    a 3M-leaf star's Σdx² is 3e6·(3e6)² ≈ 2.7e19 > 2^63, so a LongType
    sum buffer (the round-3 bug: result-side cast) dies with
    ARITHMETIC_OVERFLOW under ANSI mode before any outer cast runs.
    The star's statistic is exactly -1, so correctness is checked too."""
    from waka_spark.operators.graph import degree_assortativity

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    n = 3_000_000
    edges = spark.range(n).select(
        F.lit("hub").alias("src"),
        F.concat(F.lit("leaf"), F.col("id").cast("string")).alias("dst"),
    )
    r = degree_assortativity(edges).collect()[0]
    assert r["n_edges"] == n
    assert r["assortativity"] == pytest.approx(-1.0)


def test_kcore_zero_degree_survivor_is_reported(spark):
    """ADVICE r3: on a NON-converged run, a survivor whose last-round
    neighbors were all peeled has zero surviving edges — it must appear
    with degree 0, not vanish (the survivor set may not silently shrink
    beyond the documented 'degrees recomputed' semantics). Star x-(p,q)
    at k=2, n_iter=1: x survives round 1 (entering degree 2), p and q
    are peeled, so x's induced degree is 0."""
    from waka_spark.operators.graph import k_core, symmetrize

    edges = symmetrize(spark.createDataFrame(
        [("x", "p"), ("x", "q")], "doc_a string, doc_b string"))
    got = {r["node"]: r["degree"]
           for r in k_core(edges, k=2, n_iter=1).collect()}
    assert got == {"x": 0}
