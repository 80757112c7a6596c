"""The benchmark's workloads: set-up, one pass, and the pass's checks.

Each workload calls ``waka_spark`` only through module attributes
(``unionfind.canonicalize_graph(...)``), so the traced run's wrappers see
every call. A pass consumes its result inside the timed region (writes,
or a collect of small outputs); checks run afterwards, under their own
job group, on what the pass produced.
"""

from __future__ import annotations

import os
import shutil
import time

import gen

# input sizes; constant across seeds (only the content depends on the seed)
KG_BULK = dict(n_convs=300, hot=400, floor=4, n_entities=2000, chain=6)
DEDUP = dict(n_groups=300, group_size=5, n_single=1500, n_words=80,
             vocab=20000, hot_frac=0.3)
DEDUP_THRESHOLD = 0.8
LPA_ROUNDS = 5


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring checksum files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class KGBulk:
    """spark-submit shape: durable checkpointed build, union-find
    canonicalization, graph sink, then a resume after dropping the tail
    manifests, whose edges fold into a versioned edges table."""

    name = "kg_bulk"
    warm_up = False   # measured cold, as each spark-submit job runs

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.input_dir = os.path.join(work, "transcripts")

    def setup(self, spark) -> None:
        from waka_spark import synth
        from waka_spark.plans.pipeline import KGPipeline

        self.inp = gen.kg_bulk_input(self.seed, **KG_BULK)
        shutil.rmtree(self.input_dir, ignore_errors=True)
        self.input_bytes = gen.write_transcripts(self.inp, self.input_dir)
        self.rows = self.inp.n_turns
        kb = self.inp.kb
        # no extra_scorer: the durable runner does not pass documents on
        self.pipe = KGPipeline(
            aliases=synth.aliases_df(spark, kb),
            properties=synth.properties_df(spark),
            gazetteer=synth.gazetteer(kb),
            rules=synth.rules_df(spark, kb),
            use_scorers=False,
        )
        self.same_as = spark.createDataFrame(self.inp.same_as,
                                             "src string, dst string")

    def run_pass(self, spark, i: int) -> dict:
        from pyspark.sql import functions as F

        from waka_spark.plans import checkpoint, incremental, unionfind, versioned
        from waka_spark.sources import iceberg, sinks

        d = os.path.join(self.work, f"pass{i}")
        ck_dir, graph_dir = f"{d}/checkpoints", f"{d}/graph"
        table = versioned.VersionedTable(f"{d}/edges")
        run_id = f"run-{i}"

        t0 = time.perf_counter()
        tx = iceberg.read_transcripts(spark, self.input_dir)
        mgr = checkpoint.CheckpointManager(spark, ck_dir, run_id)
        out = checkpoint.run_checkpointed(self.pipe, tx, mgr)
        canon, _ = unionfind.canonicalize_graph(out["triples"], self.same_as)
        sinks.write_graph(canon.withColumn("conv_id", F.lit("_global")),
                          out["final_entities"], graph_dir)
        table.commit(incremental.edges_from_triples(out["triples"]))
        t_built = time.perf_counter()

        # crash after `fused`: drop the later manifests, resume same run_id
        for stage in ("triples", "final_entities"):
            os.remove(os.path.join(ck_dir, run_id, stage, "manifest.json"))
        resumed = checkpoint.CheckpointManager(spark, ck_dir, run_id)
        out2 = checkpoint.run_checkpointed(self.pipe, tx, resumed)
        table.commit(incremental.merge_edges(
            table.read(spark), incremental.edges_from_triples(out2["triples"])))
        t_end = time.perf_counter()
        return {
            "wall_s": t_end - t0, "resume_s": t_end - t_built,
            "out": out, "out2": out2, "table": table,
            "resumed": resumed, "ck_dir": ck_dir, "graph_dir": graph_dir,
        }

    def checks(self, spark, res: dict) -> dict[str, bool]:
        from pyspark.sql import functions as F

        from waka_spark.operators import assembly

        inp = self.inp
        got_canon = {
            tuple(r) for r in spark.read.parquet(f"{res['graph_dir']}/edges")
            .select("subj_url", "pred_url", "obj_url").collect()
        }
        got_conv = {
            tuple(r) for r in res["out2"]["triples"]
            .select("conv_id", "subj_url", "pred_url", "obj_url").collect()
        }
        gold_conv = inp.conv_triples()
        tp = len(got_conv & gold_conv)
        edges = {
            (r.subj_url, r.pred_url, r.obj_url): (r.n_convs, r.support)
            for r in res["table"].read(spark).collect()
        }
        gold_edges = {k: (2 * n, 2 * n) for k, n in inp.edge_convs().items()}
        docs = {r.conv_id: r.text
                for r in res["out"]["documents"].select("conv_id", "text").collect()}
        tx = spark.read.parquet(self.input_dir).select("conv_id", "turn_idx", "text")
        exploded = assembly.explode_documents(assembly.assemble_with_turns(tx))
        mismatches = (
            tx.join(exploded.withColumnRenamed("text", "_t"),
                    ["conv_id", "turn_idx"], "full_outer")
            .filter(~F.col("text").eqNullSafe(F.col("_t"))).count()
        )
        return {
            "canonical_triples": got_canon == inp.canonical_triples(),
            "triple_precision": tp == len(got_conv),
            "triple_recall": tp == len(gold_conv),
            "merged_edges": edges == gold_edges,
            "documents": docs == inp.documents(),
            "turn_text_mismatches": mismatches == 0,
            "stages_resumed": res["resumed"].stages_resumed == [
                "documents", "mentions", "candidates", "entities",
                "raw_triples", "linked_triples", "fused"],
        }

    def layer_extras(self, spark, res: dict) -> dict[str, float]:
        """Per-layer numbers the event log does not hold."""
        from waka_spark.operators import linking

        mgr = res["resumed"]
        scored = linking.link_entities(
            res["out"]["mentions"], self.pipe.aliases, self.pipe.nationalities,
            self.pipe.cfg.entity_linker).count()
        kept = mgr.manifest("candidates")["rows_out"]
        ck_bytes, _ = dir_bytes(res["ck_dir"])
        graph_bytes, graph_files = dir_bytes(res["graph_dir"])
        edge_bytes, _ = dir_bytes(res["table"].path)
        return {
            "linking.keep_ratio": kept / scored if scored else 0.0,
            "checkpoint.mb_written": ck_bytes / 2**20,
            "checkpoint.stages_resumed": len(mgr.stages_resumed),
            "sinks.mb_written": graph_bytes / 2**20,
            "sinks.files": graph_files,
            "versioned.mb_written": edge_bytes / 2**20,
            "spark.write_amp":
                (ck_bytes + graph_bytes + edge_bytes) / self.input_bytes,
        }


class CorpusDedup:
    """Near-duplicate pairs by n-gram Jaccard, their clusters, and label
    propagation over the same pair graph."""

    name = "corpus_dedup"
    warm_up = True

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.input_dir = os.path.join(work, "docs")

    def setup(self, spark) -> None:
        self.inp = gen.dedup_input(self.seed, threshold=DEDUP_THRESHOLD, **DEDUP)
        shutil.rmtree(self.input_dir, ignore_errors=True)
        self.input_bytes = gen.write_docs(self.inp, self.input_dir)
        self.rows = len(self.inp.docs)
        self.docs = spark.read.parquet(self.input_dir)

    def run_pass(self, spark, i: int) -> dict:
        from waka_spark.operators import dedup, graph

        t0 = time.perf_counter()
        # two consumers below: cut lineage once, as the engine does
        pairs = dedup.ngram_jaccard_pairs(
            self.docs, threshold=DEDUP_THRESHOLD).localCheckpoint(eager=True)
        pair_rows = pairs.collect()
        cluster_rows = dedup.dedup_clusters(self.docs, pairs).collect()
        edges = graph.symmetrize(pairs, assume_unique=True)
        label_rows = graph.label_propagation(edges, n_iter=LPA_ROUNDS).collect()
        t_end = time.perf_counter()
        return {"wall_s": t_end - t0, "pairs": pair_rows,
                "clusters": cluster_rows, "labels": label_rows}

    def checks(self, spark, res: dict) -> dict[str, bool]:
        inp = self.inp
        gold = inp.gold_pairs()
        sh = inp.shingles()
        got = {(r.doc_a, r.doc_b): r.jaccard for r in res["pairs"]}
        n_common_ok = all(
            r.n_common == len(sh[r.doc_a] & sh[r.doc_b]) for r in res["pairs"])
        comp = gen.components(gold, inp.docs)
        clusters = {r.doc_id: r.canonical_id for r in res["clusters"]}
        sym = {(a, b) for a, b in gold} | {(b, a) for a, b in gold}
        labels = {r.node: r.community for r in res["labels"]}
        return {
            "dup_pair_precision": set(got) <= set(gold),
            "dup_pair_recall": set(gold) <= set(got),
            "jaccard_values": got == gold and n_common_ok,
            "clusters": clusters == comp,
            "label_propagation": labels == gen.label_propagation(sym, LPA_ROUNDS),
        }

    def layer_extras(self, spark, res: dict) -> dict[str, float]:
        return {"dedup.pairs": len(res["pairs"])}


WORKLOADS = {w.name: w for w in (KGBulk, CorpusDedup)}
