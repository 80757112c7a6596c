"""Self-time arithmetic, and the tracer and event-log parser on a small
recorded Spark run.

    python3 -m pytest kgbench -q      (from the repository root)
"""

from __future__ import annotations

import os
import types

import pytest

from tracing import Span, Tracer, parse_event_log, self_time_by_layer


def test_self_time_subtracts_child_spans():
    spans = [
        Span("spark", "pass", 0.0, None, end=10.0),
        Span("checkpoint", "stage", 1.0, 0, end=5.0),
        Span("assembly", "documents", 1.5, 1, end=4.0),
        Span("sinks", "write_graph", 6.0, 0, end=9.0),
    ]
    got = self_time_by_layer(spans)
    assert got == {"spark": 3.0, "checkpoint": 1.5, "assembly": 2.5,
                   "sinks": 3.0}
    assert sum(got.values()) == 10.0


class FakeSc:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, desc):
        self.groups.append(group)


def test_sticky_spans_keep_their_group_until_a_sibling_starts():
    sc = FakeSc()
    tr = Tracer(sc, "t")
    mod = types.SimpleNamespace(a=lambda: "a", b=lambda: "b")
    tr.wrap(mod, "a", "assembly")
    tr.wrap(mod, "b", "ner")
    tr.open("spark", "pass")
    mod.a()
    assert tr.layer == "assembly"      # the lazy result's action bills here
    mod.b()
    assert tr.layer == "ner"
    tr.close_all()
    tr.uninstall()
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    assert all(s.end is not None for s in tr.spans)
    assert sc.groups[-1] == "t:spark"


def test_write_through_bills_the_write_to_the_producer():
    sc = FakeSc()
    tr = Tracer(sc, "t")
    seen = []

    def stage(name):
        seen.append(tr.layer)        # compute and write run here
        tr.after_write()
        seen.append(tr.layer)        # counter pass and manifest run here

    mod = types.SimpleNamespace(stage=stage)
    tr.wrap(mod, "stage", "checkpoint", producer=lambda name: "fusion")
    tr.open("spark", "pass")
    mod.stage("fused")
    tr.close_all()
    assert seen == ["fusion", "checkpoint"]


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A small run with two job groups, one broadcast join and one
    Arrow UDF, recorded in an event log."""
    pyspark = pytest.importorskip("pyspark")  # noqa: F841
    from pyspark.sql import functions as F

    from waka_spark.session import get_spark

    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    d = tmp_path_factory.mktemp("events")
    spark = get_spark("kgbench-test", master="local[2]", shuffle_partitions=2,
                      extra_conf={
                          "spark.local.dir": str(d / "local"),
                          "spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + str(d),
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false",
                          "spark.ui.showConsoleProgress": "false",
                      })
    sc = spark.sparkContext
    tr = Tracer(sc, "rec")
    ops = types.SimpleNamespace(
        join=lambda: spark.range(2000).withColumn("k", F.col("id") % 10)
        .join(F.broadcast(spark.range(10).withColumnRenamed("id", "k")), "k")
        .groupBy("k").count(),
        udf=lambda: spark.range(500).mapInPandas(lambda it: it, "id long"),
    )
    tr.wrap(ops, "join", "fusion")
    tr.wrap(ops, "udf", "ner")
    tr.open("spark", "pass")
    ops.join().collect()            # runs under the sticky fusion group
    ops.udf().localCheckpoint(eager=True)
    tr.close_all()
    tr.uninstall()
    jobs = tr.job_counts()
    app = sc.applicationId
    spark.stop()
    with open(d / app) as fh:
        stats = parse_event_log(fh, "rec:")
    return tr, jobs, stats


def test_event_log_attributes_jobs_to_layers(recorded):
    tr, jobs, stats = recorded
    fusion, ner = stats["rec:fusion"], stats["rec:ner"]
    assert jobs["fusion"][0] >= 2 and jobs["ner"][0] >= 1
    assert jobs["checkpoint"] == (0, 0)
    assert fusion.broadcasts == 1 and ner.broadcasts == 0
    assert fusion.shuffle_bytes > 0 and fusion.python_bytes == 0
    assert ner.python_bytes > 0
    assert fusion.run_ms > 0 and max(fusion.join_rows.values()) == 2000
    assert sum(tr.self_seconds().values()) == pytest.approx(
        tr.spans[0].end - tr.spans[0].start)
