"""``KGPipeline.run`` materializes one stage graph two ways: eager local
checkpoints, or parquet checkpoints committed through a
``CheckpointManager``. Both must give the same tables, a resumed durable
run must give what a fresh one gives, and the local run must not spend
more Spark jobs than it did before the two runners were merged."""

import pytest

from waka_spark import synth
from waka_spark.plans.checkpoint import CheckpointManager
from waka_spark.plans.pipeline import KGPipeline

# Spark jobs for one local run plus one collect of its triples, on the
# corpus of test_local_run_job_count (local[4]): the most the pre-merge
# local runner spent over 15 runs (66-69; how many jobs AQE submits
# varies with timing, by the same spread before and after the merge)
LOCAL_RUN_JOBS = 69


@pytest.fixture(scope="module")
def kb():
    return synth.build_kb(n_entities=40)


def _pipeline(spark, kb, **kw) -> KGPipeline:
    return KGPipeline(
        aliases=synth.aliases_df(spark, kb),
        properties=synth.properties_df(spark),
        gazetteer=synth.gazetteer(kb),
        rules=synth.rules_df(spark, kb),
        **kw,
    )


def _tables(out) -> tuple[list[str], list[str]]:
    return tuple(
        sorted(repr(r) for r in out[name].collect())
        for name in ("triples", "final_entities")
    )


def test_durable_run_matches_local_with_nli_scorer(spark, kb, tmp_path):
    """The durable runner passes ``documents`` on to fusion, so an NLI
    ``extra_scorer`` (which needs ``doc_text``) runs there as it does in
    a local run, with identical output."""
    from waka_spark.operators.transformer_backends import nli_triple_scorer
    from waka_spark.testing import make_const_nli_loader

    scorer = nli_triple_scorer(model_dir="fake-nli-runners",
                               model_loader=make_const_nli_loader(0.5))
    pipe = _pipeline(spark, kb, extra_scorer=scorer)
    tx = synth.synth_transcripts(spark, kb, n_convs=12, hot_every=6,
                                 hot_turns=20, base_turns=5)

    local = _tables(pipe.run(tx))
    mgr = CheckpointManager(spark, str(tmp_path), "nli")
    durable = _tables(pipe.run(tx, checkpoints=mgr))

    assert local[0] and local[1]
    assert durable == local
    assert mgr.stages_run == [
        "documents", "mentions", "candidates", "entities", "raw_triples",
        "linked_triples", "fused", "triples", "final_entities",
    ]


def test_resume_after_mentions_matches_fresh_run(spark, kb, tmp_path,
                                                 monkeypatch):
    """A run that died right after committing ``mentions`` resumes from
    ``documents`` and ``mentions``, rebuilds only the fused scan for
    ``raw_triples``, and gives the tables of an uninterrupted run."""
    pipe = _pipeline(spark, kb, use_scorers=False)
    tx = synth.synth_transcripts(spark, kb, n_convs=10, hot_every=5,
                                 hot_turns=15, base_turns=4)
    base = str(tmp_path)

    orig_stage = CheckpointManager.stage

    def dying_stage(self, name, compute):
        if name == "candidates":
            raise RuntimeError("simulated driver death")
        return orig_stage(self, name, compute)

    monkeypatch.setattr(CheckpointManager, "stage", dying_stage)
    with pytest.raises(RuntimeError, match="driver death"):
        pipe.run(tx, checkpoints=CheckpointManager(spark, base, "crash"))
    monkeypatch.setattr(CheckpointManager, "stage", orig_stage)
    spark.catalog.clearCache()  # the dead driver's pins die with it

    scans = {"n": 0}
    orig_scan = KGPipeline.scan_products

    def counting_scan(self, documents):
        scans["n"] += 1
        return orig_scan(self, documents)

    monkeypatch.setattr(KGPipeline, "scan_products", counting_scan)
    resumed = CheckpointManager(spark, base, "crash")
    out = pipe.run(tx, checkpoints=resumed)
    assert resumed.stages_resumed == ["documents", "mentions"]
    assert scans["n"] == 1

    fresh = pipe.run(tx, checkpoints=CheckpointManager(spark, base, "fresh"))
    assert _tables(out) == _tables(fresh)


def test_local_run_job_count(spark, kb):
    """statusTracker pin: one local run plus one collect of its triples
    spends no more Spark jobs than the pre-merge local runner did."""
    from waka_spark.plans.pins import pin_scope

    pipe = _pipeline(spark, kb, use_scorers=False)
    tx = synth.synth_transcripts(spark, kb, n_convs=16, hot_every=8,
                                 hot_turns=12, base_turns=6)
    sc = spark.sparkContext
    group = "test_local_run_job_count"
    sc.setJobGroup(group, group)
    try:
        with pin_scope():
            pipe.run(tx)["triples"].collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= LOCAL_RUN_JOBS
