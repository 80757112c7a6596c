"""P15 — relation (predicate) linking.

Reference (relation_linking.py:17-79): per triple, the predicate text is
queried against the Wikidata *properties* ES index (same function_score
shape as entity linking, β=0.72, size 33) and the **top-1** hit sets
``predicate.{url, label, description}``; misses leave the predicate unlinked.

Spark shape: ``select(pred_text).distinct()`` (the reference implicitly
re-queries per triple; only the text matters — SURVEY.md §4) → broadcast
join against ``wd_properties`` → ``row_number()==1`` per pred_text →
re-join to the triples. Two broadcast joins, zero shuffles of the triples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from waka_spark.config import LinkerConfig
from waka_spark.functions.text_norm import norm_key
from waka_spark.operators.linking import raw_score


def link_predicates(
    raw_triples: DataFrame,
    properties: DataFrame,
    cfg: LinkerConfig = LinkerConfig(beta=0.72, max_results=33),
) -> DataFrame:
    """raw triples → linked triples (+pred_url, pred_label, pred_description).

    Rank surrogate is the entity linker's ``linking.raw_score`` (monotone
    in label-match and log1p(frequency), relation_linking.py:34-56); only
    the argmax survives.
    """
    distinct_preds = raw_triples.select("pred_text").distinct()
    hits = (
        distinct_preds
        .withColumn("pred_key", norm_key(F.col("pred_text")))
        .join(F.broadcast(properties), F.col("pred_key") == F.col("alias_key"))
        .withColumn("raw_score", raw_score(F.col("pred_key"), cfg))
        .filter(F.col("raw_score") >= cfg.min_score)
    )
    w = Window.partitionBy("pred_text").orderBy(
        F.col("raw_score").desc(), F.col("url").asc()
    )
    top1 = (
        hits
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "pred_text",
            F.col("url").alias("pred_url"),
            F.col("label").alias("pred_label"),
            F.col("description").alias("pred_description"),
        )
    )
    return raw_triples.join(F.broadcast(top1), on="pred_text", how="left").select(
        "conv_id", "subj_text", "subj_type", "pred_text", "obj_text", "obj_type",
        "pred_url", "pred_label", "pred_description",
    )
