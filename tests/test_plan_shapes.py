"""Physical-plan regression tests: the plans we designed for, not just the
results. Each assertion pins a scale-critical plan property:

- dictionary joins broadcast (no shuffle of the big mention side),
- global top-k compiles to TakeOrderedAndProject (per-partition heaps),
  never a single-partition window,
- filters reach the parquet scan (PushedFilters),
- column pruning reaches the scan (ReadSchema carries only what's used),
- a pinned stage's consumers are not re-derived (one Python scan, one
  ranking exchange per stage),
- the late operator additions (salience, temporal-KG SCD-2 family,
  hygiene, MMR candidates, Adamic-Adar) keep the properties that make
  them scale,
- the ANN, curation and transcript operators (k-means assignment, DSIR,
  slice KL, covariance, context tail, score AUC, hard negatives, branch
  points, SFT examples, conversation dups, tool usage, turn cohesion)
  keep their broadcasts, single shuffles and single window passes: a
  lost broadcast hint or a surprise sort-merge join is invisible to
  value tests but 100x at corpus scale.

The query tests run on sf0.001 — plan shape is data-size independent here
because the broadcast side is a literal dictionary and the rest are
structural. The operator tests build small in-memory frames.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def executed_plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def spark():
    from waka_spark.session import get_spark

    return get_spark("plan_shapes", master="local[4]", shuffle_partitions=4)


def test_linker_dictionary_join_broadcasts(spark):
    """P8: mentions join alias dict must be a broadcast hash join — the
    mention side is the corpus-sized one and must not shuffle."""
    from waka_spark import schemas
    from waka_spark.operators.linking import link_entities
    from waka_spark.operators.ner import gazetteer_ner

    docs = entry.q_kg_assembly(spark, SF)
    mentions = gazetteer_ner(docs, entry.GAZ)
    aliases = spark.createDataFrame(entry.ALIASES, schemas.WD_ALIASES)
    plan = plan_of(link_entities(mentions, aliases))
    assert "BroadcastHashJoin" in plan
    # the big side must not be exchanged for this join: no sort-merge join
    assert "SortMergeJoin" not in plan


def test_global_topk_is_take_ordered(spark):
    """tpch_q3: global top-10 must compile to TakeOrderedAndProject, not a
    row_number window over an unpartitioned (single-partition) exchange."""
    plan = plan_of(entry.q_tpch_q3_top10(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_filter_pushdown_reaches_scan(spark):
    """tpch_q1: the shipdate filter must appear in PushedFilters on the
    parquet scan."""
    plan = plan_of(entry.q_tpch_q1(spark, SF))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1][:400]


def test_column_pruning_reaches_scan(spark):
    """A projection must prune the parquet ReadSchema: scanning documents
    for NER reads (conv_id-bearing) doc_id and text only."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id").distinct()
    plan = plan_of(q)
    read_schema = plan.split("ReadSchema", 1)[1][:200]
    assert "doc_id" in read_schema
    assert "text" not in read_schema


def test_known_triple_boost_broadcasts(spark):
    """P18: the known-triples reference table join is explicitly broadcast."""
    plan = plan_of(entry.q_kg_known_boost(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_e2e_has_no_cartesian(spark):
    """The full pipeline plan must not contain an unconstrained cartesian
    product; substring-containment fallbacks are per-conv broadcast loops."""
    df = entry.q_kg_e2e_triples(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan


def test_minhash_signatures_are_narrow(spark):
    """MinHash signatures must never shuffle exploded rows: the per-band
    min runs inside higher-order functions over the in-row shingle array,
    so at 10^9 docs nothing but the n_bands signature rows per doc ever
    moves. (The former shape exploded doc x shingle x band and shuffled it
    all through a groupBy keyed on (doc_id, band).) The only exchange
    allowed is the pre-explode parallelism floor on the raw doc rows."""
    from waka_spark.operators.dedup import minhash_signatures

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_signatures(df))
    assert plan.count("+- Exchange") <= 1
    # no aggregation anywhere in the plan — the min is in-row
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_corpus_dedup_plans_keep_their_shuffles(spark):
    """The n-gram Jaccard pairs and their clusters (the path kgbench's
    corpus_dedup times) keep their exchanges and joins: 13 exchanges and
    3 joins for the pairs (shingle windows and sets, prefix join, pair
    count, one verification join per side); 2 exchanges and 1 join for
    the clusters (the id left join and the size window)."""
    from waka_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z")],
        "doc_id long, text string")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    plan = executed_plan_of(pairs)
    assert (plan.count("Exchange"), plan.count("Join")) == (13, 3)
    plan = executed_plan_of(dedup_clusters(docs, pairs))
    assert (plan.count("Exchange"), plan.count("Join")) == (2, 1)


def test_jaccard_check_computes_overlap_once(spark):
    """The set-Jaccard verification computes ``size(array_intersect)``
    once per candidate pair, in ngram_jaccard_pairs and conv_near_dups
    alike: the Jaccard cut pushed into the join condition must not
    repeat it once per use (it held 4 calls before the overlap was bound
    in-row)."""
    from waka_spark.operators.dedup import ngram_jaccard_pairs
    from waka_spark.operators.transcripts import conv_near_dups

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z")],
        "doc_id long, text string")
    turns = spark.createDataFrame(
        [("c1", 0, "hi"), ("c1", 1, "bye"), ("c2", 0, "hi"),
         ("c2", 1, "bye"), ("c3", 0, "other")],
        "conv_id string, turn_idx int, text string")
    for df in (ngram_jaccard_pairs(docs, threshold=0.5),
               conv_near_dups(turns, threshold=0.5)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("array_intersect(") <= 1
    assert [tuple(r) for r in ngram_jaccard_pairs(
        docs, threshold=0.5).collect()] == [(1, 2, 2, 0.5)]


def test_tpch_q4_is_semi_join_with_pushdown(spark):
    """Q4's EXISTS compiles to a LeftSemi join (matched lineitems never
    materialize) and both filters reach the parquet scans."""
    plan = plan_of(entry.q_tpch_q4(spark, SF))
    assert "LeftSemi" in plan
    assert plan.count("PushedFilters: [IsNotNull") >= 1


def test_events_zscore_broadcasts_stats(spark):
    """The per-type stats join must broadcast: the event stream itself
    never shuffles for the z-score."""
    plan = plan_of(entry.q_events_zscore(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_linear_broadcasts_weight_table(spark):
    """hashed_linear_score: the model (bucket, weight) table must be a
    broadcast hash join — the exploded word stream is the corpus-sized
    side and must never shuffle for the model lookup."""
    plan = plan_of(entry.q_curation_quality_linear(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_pairs_topk_is_take_ordered(spark):
    """bpe_pair_counts: the global top-k must compile to
    TakeOrderedAndProject (per-partition heaps), never a global sort or a
    single-partition window."""
    plan = plan_of(entry.q_text_bpe_pairs(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_duplicate_spans_single_window_pass(spark):
    """duplicate_spans: exactly one window-function pass (the interval
    merge) partitioned by doc_id — never an unpartitioned window — and no
    cartesian/nested-loop join anywhere."""
    plan = plan_of(entry.q_dedup_dup_spans(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every Sort feeding the windows is doc_id-partitioned
    assert "partitionspec=[]" not in plan.lower().replace(" ", "")


def test_salted_join_keys_include_salt(spark):
    """skew_salted_join: the physical join condition must include the
    salt column — that's the property that splits a hot key across
    tasks."""
    from waka_spark.operators.joins import skew_salted_join

    big = spark.range(100).select(
        F.lit("hot").alias("k"), F.col("id").alias("row_id"))
    small = spark.createDataFrame([("hot", 1)], "k string, w int")
    plan = plan_of(skew_salted_join(big, small, "k"))
    assert "_salt" in plan
    assert "CartesianProduct" not in plan


def test_mention_salience_equi_join_no_alias_fanout(spark):
    """mention_salience (round-3 rewrite): the alias dictionary must be a
    broadcast EQUI-join against exploded tokens — O(corpus tokens) work —
    never a crossJoin/nested-loop fan-out of turns x aliases (which
    multiplies the corpus scan by dictionary size at real Wikidata
    scale)."""
    from waka_spark import schemas
    from waka_spark.operators.linking import mention_salience

    turns = entry._transcripts_view(entry._t(spark, SF, "documents"))
    aliases = spark.createDataFrame(entry.ALIASES, schemas.WD_ALIASES)
    plan = plan_of(mention_salience(turns, aliases))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_negative_samples_dense_index_is_partitioned(spark):
    """negative_samples (round-3 rewrite): the dense node index must be
    zipWithIndex-style (range partition + per-partition rank + broadcast
    offsets) — the node-dictionary window is partitioned by _pid, never
    an unpartitioned row_number() funneling 10^9 nodes through one
    task."""
    plan = plan_of(entry.q_kg_negative_samples(spark, SF))
    norm = plan.lower().replace(" ", "")
    assert "partitionspec=[]" not in norm  # no unpartitioned window
    assert "window" in norm  # the per-partition rank is still a window


def test_collocations_topk_is_take_ordered(spark):
    """text_collocations (round-3 fix): the global top-k over scored
    bigrams must compile to TakeOrderedAndProject; the only window left
    is the rank assignment over the already-limited k rows."""
    plan = plan_of(entry.q_text_collocations(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_rerank_candidates_one_pass(spark):
    """KGPipeline.candidates over pinned documents and mentions, as the
    pipeline runs it: the final executed plan holds one Python map (the
    sentence split), no Python UDF and one ranking exchange. Rerank
    aligns every candidate once, so nothing below it is computed twice."""
    from waka_spark import synth
    from waka_spark.plans.pins import cut, pin_scope
    from waka_spark.plans.pipeline import KGPipeline

    kb = synth.build_kb(n_entities=40)
    pipe = KGPipeline(
        aliases=synth.aliases_df(spark, kb),
        properties=synth.properties_df(spark),
        gazetteer=synth.gazetteer(kb),
        rules=synth.rules_df(spark, kb),
    )
    tx = synth.synth_transcripts(spark, kb, n_convs=16, hot_every=8,
                                 hot_turns=12, base_turns=6)
    with pin_scope():
        docs = cut(pipe.documents(tx))
        cands = pipe.candidates(docs, cut(pipe.mentions(docs)))
        assert cands.collect()
        lines = (cands._jdf.queryExecution().executedPlan().executedPlan()
                 .toString().splitlines())
    assert sum("MapInPandas split" in ln for ln in lines) == 1
    assert sum("MapInPandas" in ln for ln in lines) == 1
    assert not any("ArrowEvalPython" in ln for ln in lines)
    assert sum("REPARTITION_BY_COL" in ln for ln in lines) == 1


def test_mention_salience_alias_dim_broadcasts(spark):
    """Round-3 shape: the alias dictionary joins exploded tokens via a
    broadcast EQUI-join (BroadcastHashJoin) — O(corpus tokens) work,
    independent of dictionary size. The previous turns x aliases
    BroadcastNestedLoopJoin fan-out (round-2 shape) must never come
    back: it multiplied the corpus scan by the dictionary row count."""
    from waka_spark.operators.linking import mention_salience

    turns = spark.createDataFrame(
        [("c", i, "spark join x") for i in range(8)],
        "conv_id string, turn_idx int, text string")
    aliases = spark.createDataFrame(
        [("spark", "Q1"), ("join", "Q2")], "alias_key string, url string")
    plan = executed_plan_of(mention_salience(turns, aliases))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fact_history_single_exchange(spark):
    """lag + lead share ONE (subj, pred) x ts sort: exactly one exchange
    in the whole plan, no join."""
    from waka_spark.operators.temporal import fact_history

    facts = spark.createDataFrame(
        [("e", "p", f"v{i % 3}", dt.datetime(2024, 1, 1, i)) for i in range(8)],
        "subj_url string, pred_url string, obj_url string, ts timestamp")
    plan = executed_plan_of(fact_history(facts))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_as_of_snapshot_predicates_reach_parquet_scan(spark, tmp_path):
    """Snapshot probes over a MATERIALIZED history must push both
    interval predicates into the parquet scan."""
    from waka_spark.operators.temporal import as_of_snapshot, fact_history

    facts = spark.createDataFrame(
        [("e", "p", f"v{i % 3}", dt.datetime(2024, 1, 1, i)) for i in range(8)],
        "subj_url string, pred_url string, obj_url string, ts timestamp")
    path = str(tmp_path / "hist")
    fact_history(facts).write.parquet(path)
    plan = executed_plan_of(as_of_snapshot(
        spark.read.parquet(path), dt.datetime(2024, 1, 1, 5)))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(valid_from)" in plan or "LessThanOrEqual" in plan


def test_assistant_hygiene_no_join_no_window(spark):
    """Flags are in-row, the rollup is one hash agg: no joins, no window
    exchanges beyond the single groupBy shuffle."""
    from waka_spark.operators.transcripts import assistant_hygiene

    t = spark.createDataFrame(
        [("c", i, "assistant", "ok") for i in range(6)],
        "conv_id string, turn_idx int, role string, text string")
    plan = executed_plan_of(assistant_hygiene(t))
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") == 1


def test_mmr_candidate_stage_is_broadcast_scan(spark):
    """MMR's stage-1 candidate generation must keep the corpus un-
    shuffled pre-window: queries broadcast, no sort-merge join. Row
    i=0 is deliberately the ZERO vector — cosine() must degrade it to
    NULL relevance (ranked last), not throw ANSI DIVIDE_BY_ZERO and
    kill the job."""
    from waka_spark.operators.ann import mmr_topk

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(12)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "q_id long, q_vec array<double>")
    plan = executed_plan_of(mmr_topk(emb, queries, k=2, n_candidates=4))
    assert "SortMergeJoin" not in plan


def test_adamic_adar_attaches_degree_before_pair_agg(spark):
    """The wedge enumeration reads the eagerly checkpointed edge RDD (no
    re-derivation per branch) and never falls into a nested-loop join."""
    from waka_spark.operators.graph import adamic_adar, symmetrize

    edges = symmetrize(spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "doc_a string, doc_b string"))
    plan = executed_plan_of(adamic_adar(edges, min_common=1))
    assert "Scan ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _emb(spark, n=12, dim=4):
    return spark.createDataFrame(
        [(i, [float((i * 5 + j) % 7) for j in range(dim)]) for i in range(n)],
        "vec_id long, embedding array<double>")


def test_kmeans_assignment_is_narrow(spark):
    """Codebook assignment must be join-free (the codebook is a plan
    literal, not a join side). Round 6 adds ONE deliberate exchange — the
    size-guarded parallel floor (plans/parallel.py) that spreads a
    single-partition scan across cores — so the pin is now: no join, and
    no exchange other than the explicit REPARTITION_BY_NUM floor."""
    from waka_spark.operators.ann import ivf_centroids, ivf_assign

    emb = _emb(spark)
    cents = ivf_centroids(emb, n_cells=2)
    plan = executed_plan_of(ivf_assign(emb, cents))
    assert "Join" not in plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("REPARTITION_BY_NUM" in ln for ln in exchanges), exchanges


def test_dsir_weight_join_is_broadcast(spark):
    """The B-row weight table must broadcast back onto the exploded
    features — a sort-merge join here would shuffle the token stream."""
    from waka_spark.operators.curation import dsir_importance

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}", i % 2 == 0) for i in range(10)],
        "doc_id long, text string, t boolean")
    plan = executed_plan_of(dsir_importance(docs, target=F.col("t"), n_buckets=16))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_slice_kl_joins_stay_on_aggregated_tables(spark):
    """The token stream is aggregated to (slice, bucket) before any join;
    no join may touch the exploded token rows."""
    from waka_spark.operators.textstats import slice_kl_divergence

    docs = spark.createDataFrame(
        [(i, "x y z", "en" if i % 2 else "de") for i in range(8)],
        "doc_id long, text string, lang string")
    plan = executed_plan_of(slice_kl_divergence(docs, n_buckets=8))
    # the (slice, bucket) aggregate is eagerly checkpointed, so every one
    # of its four consumers reads the materialized RDD instead of
    # replaying the token explode, and the joins above it are broadcast
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_covariance_single_shuffle(spark):
    """Gram partials fold in ONE hash-agg exchange; the corpus itself is
    never shuffled or pair-exploded."""
    from waka_spark.operators.ann import covariance_matrix

    plan = executed_plan_of(covariance_matrix(_emb(spark), dim=4))
    # the folded partials table is persisted: all three consumers read the
    # cache instead of replaying the GEMM scan, and no pairwise explode
    # or corpus-wide join exists anywhere
    assert "InMemoryTableScan" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "posexplode" not in plan


def test_context_tail_single_shuffle(spark):
    from waka_spark.operators.transcripts import context_tail

    t = spark.createDataFrame(
        [("c", i, "user", "a b") for i in range(4)],
        "conv_id string, turn_idx int, role string, text string")
    plan = executed_plan_of(context_tail(t))
    assert plan.count("Exchange hashpartitioning") == 1


def test_score_auc_window_runs_on_aggregated_scores(spark):
    """The unpartitioned running-sum window must consume the per-score
    aggregate, not corpus rows: the plan's single-partition exchange
    feeds from a HashAggregate output."""
    from waka_spark.operators.curation import score_auc

    df = spark.createDataFrame(
        [(i / 10.0, i % 2 == 0) for i in range(10)],
        "score double, label boolean")
    plan = executed_plan_of(score_auc(df))
    assert "Exchange SinglePartition" in plan
    # corpus rows reach the single-partition window only via the
    # (score -> p, n) aggregate: the plan prints root-first, so BELOW the
    # SinglePartition exchange there must still be a HashAggregate (the
    # per-score rollup) between it and the scan
    idx_sp = plan.index("Exchange SinglePartition")
    assert "HashAggregate" in plan[idx_sp:]


def test_hard_negatives_broadcasts_queries(spark):
    from waka_spark.operators.ann import hard_negatives

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 3) for i in range(9)],
        "vec_id long, embedding array<double>, label int")
    q = emb.filter("vec_id < 2").selectExpr(
        "vec_id as q_id", "embedding as q_vec", "label as q_label")
    plan = executed_plan_of(hard_negatives(emb, q, k=2))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _transcripts(spark, n=12):
    rows = [("c%d" % (i % 3), i // 3, "user" if i % 2 else "assistant",
             "turn text %d" % i) for i in range(n)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")


def test_branch_points_windows_share_one_sort(spark):
    """The running prefix-hash window and the lead() window must share
    partitioning AND ordering: one Sort in the whole plan, no joins."""
    from waka_spark.operators.transcripts import branch_points

    plan = executed_plan_of(branch_points(_transcripts(spark)))
    assert plan.count("Sort [") == 1
    assert "Join" not in plan


def test_sft_examples_is_one_window_pass(spark):
    """Prompt attachment is a single running window — exactly one
    exchange, no self-join back onto the transcript."""
    from waka_spark.operators.transcripts import sft_examples

    plan = executed_plan_of(sft_examples(_transcripts(spark)))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_conv_exact_dups_no_joins(spark):
    """Identity agg + canonical window only: the conversation corpus is
    never joined against itself."""
    from waka_spark.operators.transcripts import conv_exact_dups

    plan = executed_plan_of(conv_exact_dups(_transcripts(spark)))
    assert "Join" not in plan
    assert plan.count("Sort [") == 1  # only the conv_hash window sorts


def test_conv_near_dups_reuses_cached_hash_frames(spark):
    """The turn-hash and signature frames each feed 2-3 consumers: both
    must come from the eager checkpoint (Scan ExistingRDD), never a
    corpus re-scan, and candidate generation must be an equi-join (no
    nested loop)."""
    from waka_spark.operators.transcripts import conv_near_dups

    plan = executed_plan_of(conv_near_dups(_transcripts(spark)))
    assert "Scan ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tool_usage_stats_single_window_single_agg(spark):
    """Latency lag + per-tool agg: two exchanges (conv window, tool
    agg), no joins, no extra sorts."""
    from waka_spark.operators.tools import tool_usage_stats

    rows = [("c", i, "tool", "ok", "search", None) for i in range(4)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    plan = executed_plan_of(tool_usage_stats(df))
    assert "Join" not in plan
    assert plan.count("Sort [") == 1


def test_turn_cohesion_token_sets_stay_in_row(spark):
    """Cohesion is one lag window over in-row token arrays: a single
    exchange, no explode of the token stream."""
    from waka_spark.operators.transcripts import turn_cohesion

    plan = executed_plan_of(turn_cohesion(_transcripts(spark)))
    assert plan.count("Exchange") == 1
    assert "Generate" not in plan  # no explode
