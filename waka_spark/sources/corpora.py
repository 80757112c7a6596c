"""S2/S3 — evaluation corpus readers (RED-FM / REBEL-style JSONL).

The reference parses these line-by-line into gold KnowledgeGraphs
(red_fm.py:9-89: docid/title/text + entities with boundaries + relations
with Wikidata URIs; rebel.py:9-91: docid/title/text + entities + triples
with span boundaries). Here each corpus is a ``spark.read.json`` with an
explicit schema (no inference scan) exploded into the engine's gold tables:

    gold_docs(conv_id, text)
    gold_mentions(conv_id, start_idx, end_idx, text, url)      (kg.py:34-35)
    gold_triples(conv_id, subj_url, pred_url, obj_url)         (kg.py:224-225)

The reference's hardcoded corpus mounts (red_fm.py:11) become path args.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from waka_spark.plans.pins import pin

# RED-FM line shape (red_fm.py:30-89): entities have surfaceform/boundaries/
# uri; relations have subject/predicate/object sub-objects
_ENTITY = T.StructType([
    T.StructField("surfaceform", T.StringType()),
    T.StructField("boundaries", T.ArrayType(T.IntegerType())),
    T.StructField("uri", T.StringType()),
])
REDFM_SCHEMA = T.StructType([
    T.StructField("docid", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("entities", T.ArrayType(_ENTITY)),
    T.StructField("relations", T.ArrayType(T.StructType([
        T.StructField("subject", _ENTITY),
        T.StructField("predicate", T.StructType([
            T.StructField("uri", T.StringType()),
            T.StructField("surfaceform", T.StringType()),
        ])),
        T.StructField("object", _ENTITY),
    ]))),
])

# REBEL line shape (rebel.py:30-88): same idea, triples key
REBEL_SCHEMA = T.StructType([
    T.StructField("docid", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("entities", T.ArrayType(_ENTITY)),
    T.StructField("triples", T.ArrayType(T.StructType([
        T.StructField("subject", _ENTITY),
        T.StructField("predicate", T.StructType([
            T.StructField("uri", T.StringType()),
            T.StructField("surfaceform", T.StringType()),
        ])),
        T.StructField("object", _ENTITY),
    ]))),
])


def read_redfm(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(REDFM_SCHEMA).json(path)


def read_rebel(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(REBEL_SCHEMA).json(path)


def gold_docs(corpus: DataFrame) -> DataFrame:
    return corpus.select(F.col("docid").alias("conv_id"), "text")


def gold_mentions(corpus: DataFrame) -> DataFrame:
    """explode(entities) → span-identity gold mention rows (kg.py:34-35)."""
    return (
        corpus.select(F.col("docid").alias("conv_id"),
                      F.explode("entities").alias("e"))
        .select(
            "conv_id",
            F.element_at("e.boundaries", 1).alias("start_idx"),
            F.element_at("e.boundaries", 2).alias("end_idx"),
            F.col("e.surfaceform").alias("text"),
            F.col("e.uri").alias("url"),
        )
    )


def gold_triples(corpus: DataFrame, relations_col: str = "relations") -> DataFrame:
    """explode(relations|triples) → URL-identity gold triples (kg.py:224-225)."""
    return (
        corpus.select(F.col("docid").alias("conv_id"),
                      F.explode(relations_col).alias("r"))
        .select(
            "conv_id",
            F.col("r.subject.uri").alias("subj_url"),
            F.col("r.predicate.uri").alias("pred_url"),
            F.col("r.object.uri").alias("obj_url"),
        )
        .distinct()
    )


def read_transcripts_jsonl(
    spark: SparkSession,
    path: str,
) -> DataFrame:
    """Ingest raw JSONL transcripts into the input_hint schema
    (conv_id, turn_idx, role, text, tool, ts) with production ingest
    semantics:

    - **Explicit schema**, never inference: one pass, stable types, and
      schema drift in the source surfaces as corrupt rows instead of a
      silently different DataFrame (inference also costs a full extra
      scan at 100 TB).
    - **PERMISSIVE corrupt handling**: malformed lines land in
      ``_corrupt`` instead of failing the job; callers route them to a
      quarantine sink and alert on the rate (see
      curation.quality_expectations).
    - **At-least-once dedup**: re-delivered turns (same conv_id,
      turn_idx) keep the latest ``ts`` (ties: lexicographically greatest
      text) — one window over the natural key, the idempotent-ingest
      contract every replayed pipeline needs.

    Output: the input_hint columns + ``_corrupt`` (null for good rows).
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("_corrupt", T.StringType()),
    ])
    raw = pin(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        # Spark refuses queries that reference only the internal corrupt
        # column on an un-materialized JSON scan (SPARK-21610); persisting
        # the parsed frame is the documented fix. At ingest scale the
        # equivalent is landing the parsed batch to staging parquet and
        # splitting from there — same materialization, durable.
    )
    good = raw.filter(F.col("_corrupt").isNull())
    bad = raw.filter(F.col("_corrupt").isNotNull())
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("ts").desc_nulls_last(), F.col("text").desc())
    deduped = (
        good.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return deduped.unionByName(bad)
