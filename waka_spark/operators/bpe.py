"""Distributed BPE tokenizer training (merge learning) and application.

``text_bpe_pairs`` (textstats.py) counts symbol pairs; this module runs
the actual BPE training loop (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") and the tokenization pass
that uses its output — the two halves of building a tokenizer from a
pre-training corpus.

Scale design (the part that matters at 100 TB):

- **Learning runs on the word-frequency table, not the corpus.** BPE
  statistics are a function of (word, count) only, so the corpus is
  scanned ONCE into a hash-agg'd vocab (10^5-10^8 rows — millions of
  times smaller than the corpus); every merge round then touches only
  that table. This is exactly how production tokenizer trainers work.
- **One O(1) driver action per merge round** (the argmax pair — a single
  row), the same budget class as unionfind's convergence probe. Round
  state is the vocab table; lineage is cut every ``checkpoint_every``
  rounds and superseded round state is RELEASED (plans/pins.py), so
  executor storage holds two vocab tables regardless of merge count.
- **Application is a broadcast-join, not a corpus UDF.** The learned
  merges tokenize the DISTINCT word table (chained literal ``replace``
  expressions — JVM-side, whole-stage codegen), and the corpus gets its
  tokens by joining words to that lookup. The corpus never runs the
  merge loop.

Engine-portable representation: a word's symbol sequence is the
bracketed string ``[h][e][l][l][o]`` and applying merge (l, r) is the
literal replacement ``[l][r] → [lr]``. Literal ``replace`` is
left-to-right and non-overlapping in Spark, DuckDB, and Python alike, and
adjacent matches share no characters under per-symbol bracketing, so all
three engines produce byte-identical merge sequences — the DuckDB oracle
replays the whole training loop as chained CTEs (``__spark_entry__``).
Ties on pair count break lexicographically on (left, right).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from waka_spark.functions.text_norm import norm_words

# one merge round every N lineage cuts; each cut is an eager
# localCheckpoint of the (small) vocab table
_CHECKPOINT_EVERY = 8


def word_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(word, cnt) vocabulary of the normalized corpus, alphanumeric
    words only (the bracketed symbol representation below reserves [ ]) — the single
    corpus-wide scan everything else in this module runs on."""
    return (
        df.select(
            F.explode(norm_words(F.col(text_col)))
            .alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def _bracketed(word) -> F.Column:
    """'hello' → '[h][e][l][l][o]': every char individually wrapped, so a
    pair pattern '[a][b]' can never straddle a symbol boundary and
    adjacent matches never share characters (left-to-right literal
    replace is then identical across engines)."""
    return F.regexp_replace(word, "(.)", "[$1]")


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over the bracketed vocab, weighted by
    word frequency: one narrow projection + one hash-agg."""
    syms = F.split(
        F.substring(F.col("sym"), 2, F.length("sym") - 2), r"\]\[")
    pairs = F.zip_with(
        F.slice(syms, 1, F.size(syms) - 1),
        F.slice(syms, 2, F.size(syms) - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        vocab.filter(F.size(syms) >= 2)
        .select("cnt", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs"))
        .agg(F.sum("cnt").alias("pair_count"))
    )


def bpe_learn(
    df: DataFrame,
    n_merges: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus; returns the merge
    table (merge_idx, left, right, pair_count) in learned order.

    Per round: pair-count hash-agg over the vocab → argmax (ONE driver
    row; ties broken by (count desc, left asc, right asc)) → apply the
    winning merge to the vocab as a literal ``replace``. Stops early if
    no pair remains. The merge table is the model artifact a production
    run persists; swap in a longer corpus or more rounds and the plan
    shape is unchanged.
    """
    from waka_spark.plans.pins import cut, pin_scope, release

    spark = df.sparkSession
    merges: list[tuple[int, str, str, int]] = []
    with pin_scope():
        vocab = last_cut = cut(
            word_counts(df, id_col, text_col)
            .select(_bracketed(F.col("word")).alias("sym"), "cnt")
        )
        for i in range(n_merges):
            top = (
                _pair_counts(vocab)
                .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
                .limit(1)
                .collect()
            )
            if not top:
                break
            l, r, c = top[0]["lhs"], top[0]["rhs"], top[0]["pair_count"]
            merges.append((i, l, r, int(c)))
            vocab = vocab.select(
                F.replace(
                    F.col("sym"),
                    F.lit(f"[{l}][{r}]"),
                    F.lit(f"[{l}{r}]"),
                ).alias("sym"),
                "cnt",
            )
            if (i + 1) % _CHECKPOINT_EVERY == 0:
                vocab = cut(vocab)
                release(last_cut)
                last_cut = vocab

    return spark.createDataFrame(
        merges, "merge_idx int, lhs string, rhs string, pair_count long"
    )


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the corpus with a learned merge list: apply the merges in
    order to the DISTINCT word table (chained literal replaces — one
    JVM-side projection, no UDF), then broadcast-join words→tokens back
    onto the corpus and sum per document.

    The corpus side is explode + broadcast hash-join + hash-agg (map-side
    combinable); the merge loop itself only ever touches the vocab. For a
    32k-merge production tokenizer the same lookup-table shape holds —
    the word→tokens table is simply precomputed by :func:`bpe_learn`'s
    trainer once and reused by every tokenize pass.

    Output: (doc_id, n_words, n_tokens) — n_tokens after merging.
    """
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(norm_words(F.col(text_col))).alias("word"),
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))

    sym = _bracketed(F.col("word"))
    for l, r in merges:
        sym = F.replace(sym, F.lit(f"[{l}][{r}]"), F.lit(f"[{l}{r}]"))
    lookup = (
        words.select("word").distinct()
        .select(
            "word",
            F.size(F.split(
                F.substring(sym, 2, F.length(sym) - 2), r"\]\[")
            ).alias("word_tokens"),
        )
    )
    return (
        words.join(F.broadcast(lookup), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("word_tokens").cast("long").alias("n_tokens"),
        )
    )
