"""``KGPipeline.run`` materializes one stage graph two ways: eager local
checkpoints, or parquet checkpoints committed through a
``CheckpointManager``. Both must give the same tables, a resumed durable
run must give what a fresh one gives, and the local run must not spend
more Spark jobs than it did before the two runners were merged. Both
outputs of conflict resolution come from one resolver call, also across a
crash between their commits."""

import pytest

from waka_spark import schemas, synth
from waka_spark.operators import conflicts as conflicts_mod
from waka_spark.plans.checkpoint import CheckpointManager, run_checkpointed
from waka_spark.plans.pipeline import KGPipeline

# Spark jobs for one local run plus one collect of its triples, on the
# corpus of test_local_run_job_count (local[4]): the most seen over 15
# runs with the one-pass rerank (49-51; how many jobs AQE submits varies
# with timing)
LOCAL_RUN_JOBS = 51


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


class _StubPipeline(KGPipeline):
    """A KGPipeline whose stages return prebuilt frames, so the
    checkpointed-run test controls exactly which conversations conflict."""

    def __init__(self, docs, fused, ents):
        super().__init__(aliases=None, properties=None, gazetteer=(),
                         rules=None)
        self._docs, self._fused, self._ents = docs, fused, ents

    def documents(self, transcripts):
        return self._docs

    def mentions(self, docs):
        return self._docs.select("conv_id")

    def candidates(self, docs, mentions):
        return mentions

    def entities(self, cands):
        return self._ents

    def raw_triples(self, docs):
        return self._fused

    def linked_triples(self, raw):
        return raw

    def fused(self, linked, ents, documents=None):
        return self._fused


def _fixture_frames(spark):
    """One conversation with overlapping mentions (c1) and one without
    (c2)."""
    mention = lambda s, e, t, sc: (s, e, t, "ORG", t, None, sc)
    ents = spark.createDataFrame(
        [
            ("c1", "Q1", "Bauhaus-Universität Weimar", None, 0.9, "entity",
             [mention(0, 26, "Bauhaus-Universität Weimar", 0.9)]),
            ("c1", "Q2", "Weimar", None, 0.3, "entity",
             [mention(20, 26, "Weimar", 0.3)]),
            ("c2", "Q3", "Germany", None, 0.8, "entity",
             [mention(0, 7, "Germany", 0.8)]),
        ],
        schemas.ENTITIES,
    )
    fused = spark.createDataFrame(
        [
            ("c1", "t1", "i1", "Q1", "P1", "Q2", 0.8),
            ("c2", "t2", "i2", "Q3", "P1", "Q3", 0.5),
        ],
        "conv_id string, ts_id string, id_ string, subj_url string, "
        "pred_url string, obj_url string, score double",
    )
    docs = spark.createDataFrame([("c1", "x"), ("c2", "y")],
                                 "conv_id string, text string")
    return docs, fused, ents


def _count_resolver(spark, monkeypatch):
    """Count driver-side ``apply_conflict_resolution`` calls and, through
    an accumulator, executions of the per-conversation grouped map."""
    calls = {"n": 0}
    orig_apply = conflicts_mod.apply_conflict_resolution

    def counting_apply(f, e):
        calls["n"] += 1
        return orig_apply(f, e)

    acc = spark.sparkContext.accumulator(0)
    orig_group = conflicts_mod._resolve_group

    def counting_group(table):
        acc.add(1)
        return orig_group(table)

    monkeypatch.setattr(
        conflicts_mod, "apply_conflict_resolution", counting_apply)
    monkeypatch.setattr(conflicts_mod, "_resolve_group", counting_group)
    return calls, acc


def test_checkpointed_resolve_runs_once(spark, tmp_path, monkeypatch):
    """run_checkpointed commits "triples" AND "final_entities" from ONE
    apply_conflict_resolution call, and the per-conv fixpoint executes
    once per participating conversation per fresh run (resolving per
    stage would build two independent DAGs: 2x the pipeline's most
    expensive stage in the spark-submit path)."""
    docs, fused, ents = _fixture_frames(spark)
    calls, acc = _count_resolver(spark, monkeypatch)

    pipe = _StubPipeline(docs, fused, ents)
    mgr = CheckpointManager(spark, str(tmp_path), "run-once")
    out = run_checkpointed(pipe, docs, mgr)

    # both resolve outputs committed, from ONE driver-side resolver call
    assert {"triples", "final_entities"} <= set(mgr.stages_run)
    assert calls["n"] == 1
    # the per-conv fixpoint ran exactly once for each participating conv
    # (c1 and c2)
    assert acc.value == 2
    # semantics: Q2's only mention overlapped and lost, so i1 (obj Q2)
    # dies; c2's self-loop triple i2 survives with both endpoints on Q3
    kept = {r.id_ for r in out["triples"].collect()}
    assert kept == {"i2"}
    urls = {r.url for r in out["final_entities"].collect()}
    assert urls == {"Q1", "Q3"}


def test_checkpointed_crash_between_pair_commits_resumes_once(
        spark, tmp_path, monkeypatch):
    """Kill the run BETWEEN the "triples" and "final_entities" commits of
    the memoized pair. The resumed run must (a) load "triples" from its
    committed checkpoint, (b) re-resolve conflicts EXACTLY once to
    produce "final_entities" (the memoized pair from the dead driver is
    gone — the thunk rebuilds it, not the whole pipeline), and (c) emit
    tables identical to an uncrashed run."""
    docs, fused, ents = _fixture_frames(spark)
    calls, acc = _count_resolver(spark, monkeypatch)

    # --- run 1: crash after "triples" commits, before "final_entities"
    orig_stage = CheckpointManager.stage

    def crashing_stage(self, name, compute):
        if name == "final_entities":
            raise RuntimeError("simulated driver death mid-pair")
        return orig_stage(self, name, compute)

    monkeypatch.setattr(CheckpointManager, "stage", crashing_stage)
    pipe = _StubPipeline(docs, fused, ents)
    mgr1 = CheckpointManager(spark, str(tmp_path / "ckpt"), "run-crash")
    with pytest.raises(RuntimeError, match="mid-pair"):
        run_checkpointed(pipe, docs, mgr1)
    assert "triples" in mgr1.stages_run  # committed before the crash
    assert not mgr1.is_complete("final_entities")
    assert calls["n"] == 1
    # a real crash kills the driver JVM and its block cache with it; in
    # this single-session simulation the dead run's pinned fixpoint would
    # otherwise satisfy the resumed run's identical plan from cache
    spark.catalog.clearCache()

    # --- run 2: resume with the same (base_path, run_id), no crash
    monkeypatch.setattr(CheckpointManager, "stage", orig_stage)
    mgr2 = CheckpointManager(spark, str(tmp_path / "ckpt"), "run-crash")
    out = run_checkpointed(pipe, docs, mgr2)
    assert "triples" in mgr2.stages_resumed       # read, not recomputed
    assert "final_entities" in mgr2.stages_run    # completed now
    # the resolver ran exactly ONCE more (for final_entities); committed
    # "triples" never re-enters the Python fixpoint
    assert calls["n"] == 2
    # two participating convs (c1, c2) per resolver execution
    assert acc.value == 4

    # --- identical to an uncrashed run
    mgr3 = CheckpointManager(spark, str(tmp_path / "fresh"), "run-fresh")
    ref = run_checkpointed(pipe, docs, mgr3)
    assert calls["n"] == 3
    got_triples = {tuple(r) for r in out["triples"].collect()}
    ref_triples = {tuple(r) for r in ref["triples"].collect()}
    assert got_triples == ref_triples
    got_ents = {(r.conv_id, r.url) for r in out["final_entities"].collect()}
    ref_ents = {(r.conv_id, r.url) for r in ref["final_entities"].collect()}
    assert got_ents == ref_ents
    assert {r.id_ for r in out["triples"].collect()} == {"i2"}
    assert {r.url for r in out["final_entities"].collect()} == {"Q1", "Q3"}
