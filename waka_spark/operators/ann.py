"""Similarity search over embedding columns (array<float>).

- ``cosine_topk`` — exact brute force: broadcast the (small) query set,
  JVM-side ``zip_with``/``aggregate`` dot products, one ``row_number``
  per query. The correctness baseline.
- ``lsh_bucket_ann`` — the scale path: *banded* sign-of-projection LSH
  (``n_bands`` bands × ``band_planes`` planes per band, exactly the
  MinHash OR-of-ANDs banding one file over in dedup.py): a vector lands
  in one bucket per band, candidates collide in ≥1 band, brute force only
  within buckets. Banding is what makes this survive 10^9 vectors: recall
  comes from more bands (OR), bucket size stays bounded by planes-per-band
  (AND) — a single flat sign pattern would need either huge buckets (few
  planes) or vanishing recall (many planes).
- ``embedding_cosine_pairs`` — near-duplicate detection by cosine ≥ τ
  within banded LSH buckets (the embedding-space analog of dedup.py),
  with an optional ``max_bucket_size`` guard: buckets above the cap are
  dropped from pair generation (a hot bucket is quadratic), and
  ``lsh_bucket_stats`` reports exactly what a cap would drop.

Hyperplane components are md5-derived in [-0.5, 0.5] so the DuckDB oracle
reproduces them bit-for-bit — no RNG state to ship. Plane ``p`` globally
is band ``p // band_planes``, bit ``p % band_planes``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from waka_spark.plans.parallel import parallel_floor
from waka_spark.plans.pins import pin


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not a job-killing ANSI DIVIDE_BY_ZERO)
    when either vector has zero norm — at corpus scale SOME row is a
    zero embedding, and one such row must not fail the whole pass.
    NULL sorts last under every DESC ranking here, so zero vectors
    simply never win a top-k — the behavior a retrieval caller wants."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (broadcast queries ×
    scan corpus; no corpus shuffle — only the final per-query window)."""
    embeddings = parallel_floor(embeddings, id_col)
    joined = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).crossJoin(
        F.broadcast(
            queries.select(
                F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec")
            )
        )
    )
    scored = joined.filter(F.col("q_id") != F.col("vec_id")).withColumn(
        "cos", F.round(cosine(F.col("embedding"), F.col("q_vec")), 6)
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


def hyperplanes(spark, dim: int, n_planes: int = 8) -> DataFrame:
    """Deterministic pseudo-random hyperplanes: component (p, i) =
    md5-nibbles(p:i) scaled to [-0.5, 0.5]. Engine-portable."""
    return spark.range(n_planes).select(
        F.col("id").cast("int").alias("plane"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("id"), i)), 1, 4
                    ),
                    16, 10,
                ).cast("double")
                / 65535.0
                - 0.5
            ),
        ).alias("components"),
    )


def lsh_bucket(vec: Column, planes_components: Column) -> Column:
    """Sign-pattern bucket id: bit p set iff dot(vec, plane_p) > 0.
    ``planes_components`` is array<array<double>> (collected broadcast)."""
    return F.aggregate(
        F.transform(
            planes_components,
            # shiftleft needs a literal int — pow-based 1<<p
            lambda plane, p: F.when(
                _dot(vec, plane) > 0,
                F.pow(F.lit(2.0), p.cast("double")).cast("int"),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def auto_band_planes(
    n_vectors: int, target_bucket_size: int = 100, min_planes: int = 3
) -> int:
    """Planes-per-band sized to the corpus: 2^planes buckets per band →
    mean occupancy ~ n / 2^planes ≤ target. The within-bucket join is
    quadratic in occupancy, so a fixed plane count that is fine at 10^3
    vectors is catastrophic at 10^8 (measured: 2x3 planes on a 50k-vector
    corpus = 844s where 10x fewer vectors took 13s). More planes cost
    recall per band; compensate with more bands."""
    import math

    if n_vectors <= target_bucket_size:
        return min_planes
    return max(min_planes, math.ceil(math.log2(n_vectors / target_bucket_size)))


def _collected_planes(embeddings: DataFrame, vec_col: str, n_planes: int) -> Column:
    """Hyperplane components as an array<array<double>> literal (6-30 tiny
    rows collected once at plan-build — a broadcast dictionary, not a data
    collect)."""
    spark = embeddings.sparkSession
    dim = len(embeddings.select(vec_col).first()[0])
    planes = hyperplanes(spark, dim, n_planes)
    return F.array(*[
        F.lit(row["components"]).cast("array<double>")
        for row in planes.orderBy("plane").collect()
    ])


def banded_lsh_tags(
    df: DataFrame,
    comps: Column,
    n_bands: int,
    band_planes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, embedding) → one (id, embedding, band, bucket) row per band.

    All ``n_bands * band_planes`` sign bits are computed narrow in one
    projection (each dot product evaluated once), then sliced into
    per-band bucket ids — n_bands rows per vector, no shuffle."""
    df = parallel_floor(df, id_col)
    vec = F.col(vec_col)
    bits = F.transform(
        comps,
        lambda plane: F.when(_dot(vec, plane) > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    base = df.select(
        F.col(id_col).alias("vec_id"),
        vec.alias("embedding"),
        bits.alias("_bits"),
    )
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.aggregate(
                F.zip_with(
                    F.slice(F.col("_bits"), b * band_planes + 1, band_planes),
                    F.sequence(F.lit(0), F.lit(band_planes - 1)),
                    lambda bit, j: (
                        bit.cast("double") * F.pow(F.lit(2.0), j.cast("double"))
                    ).cast("int"),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            ).alias("bucket"),
        ),
    )
    return base.select(
        "vec_id", "embedding", F.explode(bands).alias("_bb")
    ).select("vec_id", "embedding", F.col("_bb.band").alias("band"),
             F.col("_bb.bucket").alias("bucket"))


def lsh_bucket_stats(
    embeddings: DataFrame,
    n_bands: int = 4,
    band_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-(band, bucket) occupancy — the ops-side view of what a
    ``max_bucket_size`` cap would drop. Log/inspect before picking caps."""
    comps = _collected_planes(embeddings, vec_col, n_bands * band_planes)
    return (
        banded_lsh_tags(embeddings, comps, n_bands, band_planes, id_col, vec_col)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


def lsh_bucket_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    n_bands: int = 2,
    band_planes: int = 3,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k: banded-bucket both sides, brute-force within any
    shared (band, bucket), dedup collisions, rank per query. More bands →
    higher recall (OR over bands); more planes per band → smaller buckets
    (AND within a band)."""
    comps = _collected_planes(embeddings, vec_col, n_bands * band_planes)
    corp = banded_lsh_tags(
        embeddings, comps, n_bands, band_planes, id_col, vec_col)
    qs = banded_lsh_tags(
        queries, comps, n_bands, band_planes, q_id_col, q_vec_col
    ).withColumnsRenamed({"vec_id": "q_id", "embedding": "q_vec"})

    scored = (
        corp.join(F.broadcast(qs), ["band", "bucket"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .withColumn("cos", F.round(cosine(F.col("embedding"), F.col("q_vec")), 6))
        # a pair colliding in several bands has identical cos — dedup to
        # one row before ranking (max is a no-op aggregator here)
        .groupBy("q_id", "vec_id")
        .agg(F.max("cos").alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_bands: int = 2,
    band_planes: int = 3,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by cosine within banded LSH buckets
    (embedding-space near-dup dedup; exact within buckets, recall over
    bands).

    ``max_bucket_size`` is the scale guard: the within-bucket self-join is
    quadratic in bucket occupancy, so buckets above the cap are excluded
    from pair generation entirely (their pairs are *dropped*, not
    deferred — near-identical vectors still meet in other bands unless hot
    everywhere). Use ``lsh_bucket_stats`` to see what a cap drops before
    committing to one. Default None = every bucket participates."""
    comps = _collected_planes(embeddings, vec_col, n_bands * band_planes)
    # the tagged frame feeds both self-join sides (plus the occupancy
    # guard when capped) — pin it, or every consumer re-runs the
    # n_bands*band_planes dot products over the whole corpus
    tagged = pin(banded_lsh_tags(
        embeddings, comps, n_bands, band_planes, id_col, vec_col))
    if max_bucket_size is not None:
        keep = (
            tagged.groupBy("band", "bucket")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band", "bucket")
        )
        tagged = tagged.join(keep, ["band", "bucket"])
    a = tagged.select(F.col("vec_id").alias("id_a"),
                      F.col("embedding").alias("vec_a"), "band", "bucket")
    b = tagged.select(F.col("vec_id").alias("id_b"),
                      F.col("embedding").alias("vec_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("cos") >= threshold)
        # threshold-then-dedup: cos is a pure pair function, so filtering
        # before the multi-band dedup shuffles only surviving scalar rows
        .groupBy("id_a", "id_b")
        .agg(F.max("cos").alias("cos"))
    )


def matmul_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact cosine top-k via per-partition numpy GEMM over Arrow batches —
    the vectorized fast path for a *batch* of query vectors against a huge
    corpus.

    Same answer as :func:`cosine_topk`, different physical shape: instead
    of exploding (corpus × queries) rows and evaluating the dot product as
    a JVM expression per pair, the (small, broadcast-by-closure) normalized
    query matrix multiplies each Arrow batch of corpus vectors in ONE BLAS
    call (``M̂ @ Q̂ᵀ``), and each batch emits only its per-query top-k
    candidates. The per-batch prune is ordered by the same
    (rounded-cos DESC, vec_id ASC) key the final global window ranks by,
    so the union of batch prefixes provably contains the global top-k —
    exact even under ties. Candidate volume reaching the shuffle is
    O(batches × queries × k), independent of corpus size; the corpus is
    never shuffled and never pairs-materialized.

    Rounding is half-away-from-zero at 6 decimals inside the kernel —
    identical to Spark's ``F.round`` / DuckDB ``round`` — so the emitted
    ``cos`` is already oracle-portable.
    """
    import numpy as np

    q_rows = (
        queries.select(F.col(q_id_col), F.col(q_vec_col))
        .orderBy(q_id_col).collect()
    )  # the query batch is the broadcast side: O(n_queries * dim), tiny
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1, keepdims=True)
    qm = qm / np.where(qn == 0, 1.0, qn)
    kk = k + 1  # +1 slot: the query's own row is dropped post-shuffle

    def _round6(x: "np.ndarray") -> "np.ndarray":
        return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            m = np.asarray(pdf["_vec"].to_list(), dtype=np.float64)
            n = np.linalg.norm(m, axis=1, keepdims=True)
            sims = _round6((m / np.where(n == 0, 1.0, n)) @ qm.T)
            take = min(kk, len(ids))
            out_q, out_v, out_c = [], [], []
            for j in range(sims.shape[1]):
                # prefix by the GLOBAL ranking key (cos desc, vec_id asc)
                order = np.lexsort((ids, -sims[:, j]))[:take]
                out_q.append(np.full(take, q_ids[j]))
                out_v.append(ids[order])
                out_c.append(sims[order, j])
            yield pd.DataFrame({
                "q_id": np.concatenate(out_q),
                "vec_id": np.concatenate(out_v),
                "cos": np.concatenate(out_c),
            })

    embeddings = parallel_floor(embeddings, id_col)
    cand = embeddings.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_vec"),
    ).mapInPandas(gen, "q_id long, vec_id long, cos double")

    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        cand.filter(F.col("q_id") != F.col("vec_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)`` — the storage layout that shrinks a
    10^9-vector ANN corpus 4x (float32→int8) so IVF cells / LSH buckets
    fit in executor memory and scans stay bandwidth-bound. Pure narrow
    column ops (nested higher-order functions), zero shuffle; zero
    vectors quantize to all-zeros (scale kept, divisor guarded).

    Output: (vec_id, scale, qvec array<int>, recon_mae) — recon_mae is
    the mean |x - q·scale| reconstruction error, the quality number a
    deployment monitors when choosing int8 vs float16.
    """
    embeddings = parallel_floor(embeddings, id_col)
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    safe = F.when(scale == 0, F.lit(1.0)).otherwise(scale)
    qvec = F.transform(vec, lambda x: F.round(x / safe).cast("int"))
    recon = F.zip_with(
        vec, qvec, lambda x, q: F.abs(x - q.cast("double") * scale)
    )
    n = F.size(F.col(vec_col))
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.round(scale, 6).alias("scale"),
        qvec.alias("qvec"),
        F.round(
            F.aggregate(recon, F.lit(0.0), lambda a, v: a + v) / n, 6
        ).alias("recon_mae"),
    )


def centroid_cohesion(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid cohesion: the mean cosine of each vector to its
    label's mean vector — the embedding-quality diagnostic a curation
    pass reads before trusting labels for stratification or ANN recall
    targets (low cohesion = noisy labels or a collapsed embedding space).

    Scale shape: the centroid is ONE hash-agg producing n_labels × dim
    cells — computed as ``dim`` per-dimension ``avg`` columns (wide agg,
    map-side partials; dim is a few hundred, labels a few thousand, so
    the result is driver-trivial) — then broadcast-joined back and the
    cosine evaluated narrowly in-row with ``zip_with``/``aggregate``.
    NO posexplode of the corpus: at 10^9 vectors an (id, i, x) explode
    is dim× the corpus in shuffle bytes; this shape shuffles nothing but
    the tiny centroid table. ``dim`` is read from one row (O(1) driver
    action).
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dim = len(embeddings.select(vec_col).first()[0])
    cent = (
        embeddings.select(F.col(label_col).alias("label"), vec.alias("_v"))
        .groupBy("label")
        .agg(*[
            F.avg(F.element_at("_v", i + 1)).alias(f"_c{i}")
            for i in range(dim)
        ])
        .select(
            "label",
            F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("_cent"),
        )
    )
    joined = embeddings.select(
        F.col(label_col).alias("label"), F.col(id_col), vec.alias("_v")
    ).join(F.broadcast(cent), "label")
    # try_divide, same rationale as cosine(): a zero-norm member vector
    # degrades to NULL (avg skips it) instead of killing the job
    cos = F.try_divide(
        _dot(F.col("_v"), F.col("_cent")),
        _norm(F.col("_v")) * _norm(F.col("_cent")),
    )
    return (
        joined.select("label", cos.alias("_cos"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(F.avg("_cos"), 6).alias("avg_cos"),
        )
    )


def pool_vectors(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    normalize: bool = False,
) -> DataFrame:
    """Mean-pool vectors per group → (group, n_vecs, pooled array<double>)
    — the turn-embedding → conversation-embedding step (and generally
    item → container pooling) that feeds every conversation-level ANN /
    SemDeDup / clustering pass.

    Scale shape: same wide-agg trick as :func:`centroid_cohesion` — ONE
    hash-agg producing ``dim`` per-dimension ``avg`` columns with map-side
    partials, then the array reassembled in-row. The corpus is never
    posexploded: at 10^12 turns an (id, i, x) explode shuffles dim× the
    corpus; here shuffle bytes are exactly the output (n_groups × dim),
    the same volume any downstream consumer must hold anyway. ``dim`` is
    read from one row (O(1) driver action). ``normalize=True`` L2-scales
    the pooled vector in-row so consumers can dot instead of cosine.
    """
    dim = len(embeddings.select(vec_col).first()[0])
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pooled = (
        embeddings.select(F.col(group_col).alias("group_id"), vec.alias("_v"))
        .groupBy("group_id")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            *[
                F.avg(F.element_at("_v", i + 1)).alias(f"_c{i}")
                for i in range(dim)
            ],
        )
        .select(
            "group_id",
            "n_vecs",
            F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("pooled"),
        )
    )
    if normalize:
        # norm as its own column: computed ONCE per row (inlining
        # _norm(pooled) inside the transform lambda re-evaluates the
        # O(dim) sum per element — O(dim²)), and guarded so an all-zero
        # pooled vector (opposite-sign turns cancelling) passes through
        # as zeros instead of x/0.0 -> an array of NULLs that silently
        # drops the group from every downstream cosine
        pooled = (
            pooled.withColumn("_nrm", _norm(F.col("pooled")))
            .withColumn(
                "pooled",
                F.when(
                    F.col("_nrm") > 0,
                    F.transform(F.col("pooled"), lambda x: x / F.col("_nrm")),
                ).otherwise(F.col("pooled")),
            )
            .drop("_nrm")
        )
    return pooled


def ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Column:
    """IVF codebook as an array<array<double>> literal: the embeddings of
    the ``n_cells`` lowest ids. A deterministic data-derived coarse
    quantizer — no RNG/training loop to ship, and the DuckDB oracle
    recomputes it bit-for-bit; production swaps in k-means centroids
    trained by :func:`kmeans_fit` through the exact same plan (the
    codebook is a broadcast
    literal either way — n_cells rows collected once at plan build, like
    ``_collected_planes``)."""
    rows = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col).limit(n_cells).collect()
    )
    return F.array(*[
        F.lit(list(r[1])).cast("array<double>") for r in rows
    ])


def ivf_assign(
    df: DataFrame,
    cents: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """argmax-cosine cell assignment, computed narrow (one projection per
    row, no shuffle). Ties on the rounded similarity go to the lowest cell
    index (``array_position`` returns the first match)."""
    df = parallel_floor(df, id_col)
    vec = F.col(vec_col)
    sims = F.transform(cents, lambda c: F.round(cosine(vec, c), 6))
    return df.select(
        F.col(id_col).alias("vec_id"),
        vec.alias("embedding"),
        (F.array_position(sims, F.array_max(sims)) - 1)
        .cast("int").alias("cell"),
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into ``n_cells``
    Voronoi cells around the codebook, scan only each query's ``n_probe``
    closest cells.

    The complement of the LSH path one screen up: LSH bounds bucket size
    probabilistically (planes × bands), IVF bounds scanned *fraction*
    deterministically (n_probe / n_cells of the corpus per query) and
    keeps each corpus vector in exactly one cell — so candidate pairs are
    unique by construction (no multi-band dedup shuffle) and cells map
    onto partition-pruned storage (write the assignment partitioned by
    ``cell``; a probe then reads n_probe files, the classic IVF layout at
    10^9-vector scale). Recall knob: n_probe (more cells scanned), not
    bucket geometry."""
    cents = ivf_centroids(embeddings, n_cells, id_col, vec_col)
    corp = ivf_assign(embeddings, cents, id_col, vec_col)

    # normalize names first: the probe expression must not reference an
    # alias minted in the same select (lateral-alias refs can't sit under
    # an explode)
    q = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec"))
    qvec = F.col("q_vec")
    qsims = F.transform(cents, lambda c: F.round(cosine(qvec, c), 6))
    # (sim desc, cell asc) probe order: sort struct<-sim, cell> ascending
    probe_structs = F.slice(
        F.array_sort(
            F.zip_with(
                qsims,
                F.sequence(F.lit(0), F.lit(n_cells - 1)),
                lambda s, c: F.struct(
                    (-s).alias("neg_sim"), c.cast("int").alias("cell")
                ),
            )
        ),
        1, n_probe,
    )
    probes = (
        q.select("q_id", "q_vec", F.explode(probe_structs).alias("_p"))
        .select("q_id", "q_vec", F.col("_p.cell").alias("cell"))
    )

    scored = (
        corp.join(F.broadcast(probes), "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .withColumn(
            "cos", F.round(cosine(F.col("embedding"), F.col("q_vec")), 6)
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed spherical k-means (Lloyd) — the trainer that produces
    the IVF codebook ``ivf_topk`` consumes (its docstring points here).

    Deterministic throughout, so the DuckDB oracle replays it exactly:
    init = the embeddings of the ``k`` lowest ids; each iteration assigns
    every vector to its argmax-cosine centroid (ties → lowest cell, the
    ``ivf_assign`` rule) and recomputes centroids as the per-cell
    elementwise mean, rounded to 1e-6 *before* the next assignment so both
    engines quantize identically at every step. Empty cells keep their
    previous centroid.

    Scale shape: assignment is a NARROW projection against the k×dim
    codebook literal (no shuffle, no UDF); the update is ONE hash-agg per
    iteration producing k×dim cells (map-side partials — the shuffle
    carries k rows per partition, not the corpus); the per-iteration
    driver collect is the k×dim codebook (a few KB). Total cost =
    n_iters corpus scans + n_iters tiny shuffles — the standard
    million-×-speedup layout vs per-pair clustering, and the exact loop
    FAISS/Spark-MLlib run for IVF training.

    Output: one row per (cell, dim_idx) of the final codebook —
    (cell int, dim_idx int, centroid_val double, n_vecs long), n_vecs =
    the cell's population in the assignment that produced it.
    """
    spark = embeddings.sparkSession
    # one driver action covers both the dim probe and the init rows (the
    # separate .first() was a whole extra Spark job per call — and kmeans_fit
    # is called m times per PQ build)
    init_rows = (
        embeddings.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    dim = len(init_rows[0][1])
    codebook: list[list[float]] = [
        [round(float(x), 6) for x in r[1]] for r in init_rows
    ]
    counts: list[int] = [0] * k

    for _ in range(n_iters):
        cents = F.array(*[
            F.lit(c).cast("array<double>") for c in codebook
        ])
        assigned = ivf_assign(embeddings, cents, id_col, vec_col)
        new_rows = (
            assigned.groupBy("cell")
            .agg(
                F.count("*").cast("long").alias("_n"),
                *[
                    F.round(F.avg(F.element_at("embedding", i + 1)), 6)
                    .alias(f"_c{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        counts = [0] * k
        for r in new_rows:
            counts[r["cell"]] = r["_n"]
            codebook[r["cell"]] = [r[f"_c{i}"] for i in range(dim)]

    out = [
        (cell, i, codebook[cell][i], counts[cell])
        for cell in range(k)
        for i in range(dim)
    ]
    return spark.createDataFrame(
        out, "cell int, dim_idx int, centroid_val double, n_vecs long"
    )


def kmeans_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its argmax-cosine cell of a trained codebook
    (the flattened ``kmeans_fit`` output). The codebook is collected into
    a plan literal (k×dim, a few KB) and assignment stays narrow."""
    rows = centroids.orderBy("cell", "dim_idx").collect()
    by_cell: dict[int, list[float]] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r["centroid_val"])
    cents = F.array(*[
        F.lit(by_cell[c]).cast("array<double>") for c in sorted(by_cell)
    ])
    return ivf_assign(embeddings, cents, id_col, vec_col)


def simplified_silhouette(
    embeddings: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster simplified silhouette over a :func:`kmeans_fit`
    codebook — the O(n·k) centroid-based variant (Hruschka et al. 2004)
    of the classic O(n²) silhouette, the only one that scales: a(i) =
    cosine distance to the OWN centroid, b(i) = distance to the nearest
    OTHER centroid, s(i) = (b−a)/max(a,b).

    Everything is computed narrow against the k×dim codebook literal
    (same shape as ``ivf_assign`` — no shuffle per vector, no UDF); the
    only shuffle is the final k-row per-cell aggregation with map-side
    partials. Cosines round to 1e-6 before the argmax and the a/b
    arithmetic so the DuckDB oracle replays bit-identically; argmax ties
    go to the lowest cell, where s collapses to 0 (own == other max).

    Output: one row per cell — (cell, n_vecs, mean_silhouette), the
    training-data curation signal for "is this SemDeDup/IVF clustering
    tight enough to trust its cells".
    """
    cents_df = kmeans_fit(embeddings, k, n_iters, id_col, vec_col)
    rows = cents_df.orderBy("cell", "dim_idx").collect()
    by_cell: dict[int, list[float]] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r["centroid_val"])
    cents = F.array(*[
        F.lit(by_cell[c]).cast("array<double>") for c in sorted(by_cell)
    ])
    embeddings = parallel_floor(embeddings, id_col)
    vec = F.col(vec_col)
    sims = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(cents, lambda c: F.round(cosine(vec, c), 6))
        .alias("_sims"),
    )
    tagged = sims.select(
        "vec_id",
        (F.array_position("_sims", F.array_max(F.col("_sims"))) - 1)
        .cast("int").alias("cell"),
        F.col("_sims"),
    )
    own_sim = F.element_at("_sims", F.col("cell") + 1)
    other_sim = F.array_max(
        F.filter("_sims", lambda _, i: i != F.col("cell")))
    a = F.lit(1.0) - own_sim
    b = F.lit(1.0) - other_sim
    s = F.when(
        F.greatest(a, b) > 0, F.round((b - a) / F.greatest(a, b), 6)
    ).otherwise(F.lit(0.0))
    return (
        tagged.select("cell", s.alias("_s"))
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(F.avg("_s"), 6).alias("mean_silhouette"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding space,
    find cosine-≥τ pairs *within each cluster only*, and mark the larger
    id of every pair as a duplicate (keep-lowest-id — deterministic and
    order-free, equivalent to keeping one representative per near-dup
    chain within a cell).

    The k-means cells are what bound the quadratic: cluster count grows
    with the corpus (k ~ n/target_cell_size), so within-cell pair
    generation stays O(n · cell_size) instead of O(n²) — the published
    SemDeDup recipe for LAION/web-scale corpora, and the semantic
    complement of the lexical MinHash pipeline in dedup.py.

    Output: (vec_id, cell, is_dup) for every vector.
    """
    cents_df = kmeans_fit(embeddings, k, n_iters, id_col, vec_col)
    # assigned feeds three plan branches (both self-join sides + the final
    # flag join) — persist, or each branch replays the k-means assign scan.
    assigned = pin(kmeans_assign(embeddings, cents_df, id_col, vec_col))

    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"),
        "cell")
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"),
        "cell")
    dup_ids = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos", F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.select("vec_id", "cell")
        .join(dup_ids, "vec_id", "left")
        .select(
            "vec_id", "cell",
            F.coalesce("_dup", F.lit(False)).alias("is_dup"),
        )
    )


def random_projection(
    emb: DataFrame,
    in_dim: int,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a deterministic
    Rademacher (±1) projection matrix: out[j] = Σ_i v[i]·sign(i,j) /
    √out_dim, sign(i,j) = ±1 from the parity of md5("rp:i:j") — the
    engine-portable analog of Achlioptas 2003's database-friendly random
    projections.

    Scale shape: the matrix is baked into the plan as LITERAL arrays
    (in_dim × out_dim ints — a few KB, shipped once with the serialized
    plan, cheaper than a broadcast for this size), and each output
    coordinate is one in-row zip_with + aggregate fold — zero shuffle,
    zero UDF, linearly scan-parallel. The standard pre-pass that makes
    downstream LSH/IVF/brute-force ANN pay 8 dims instead of 768.

    Output: (vec_id, proj: array<double> length out_dim, rounded 1e-6).
    """
    import hashlib

    def sign(i: int, j: int) -> int:
        h = hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()
        return 1 if int(h[:2], 16) % 2 == 0 else -1

    emb = parallel_floor(emb, id_col)
    scale = 1.0 / (out_dim ** 0.5)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    coords = []
    for j in range(out_dim):
        col_j = F.array(*[F.lit(float(sign(i, j))) for i in range(in_dim)])
        dot = F.aggregate(
            F.zip_with(v, col_j, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        coords.append(F.round(dot * scale, 6))
    return emb.select(F.col(id_col).alias("vec_id"),
                      F.array(*coords).alias("proj"))


def truncate_vectors(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Keep the first ``dim`` coordinates of an embedding column —
    matryoshka/MRL truncation (Kusupati et al. 2022). Pure narrow slice."""
    return df.withColumn(vec_col, F.slice(F.col(vec_col), 1, dim))


def matryoshka_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    dims: list[int] = (8, 16, 32),
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Recall@k of truncated-dimension brute-force search vs the
    full-dimension ranking, per truncation width — the curve a deployment
    reads before storing matryoshka prefixes instead of full vectors
    (e.g. "32 of 64 dims keeps 0.9 recall → halve the ANN footprint").

    Scale shape: one :func:`cosine_topk` per dim (broadcast queries ×
    corpus scan, no corpus shuffle) plus the full-dim baseline; results
    join on (q_id, vec_id) and aggregate to one row per dim. The corpus
    is scanned len(dims)+1 times — each scan cheaper in proportion to the
    truncation, exactly the economics being measured.

    Output: (dim, n_queries, avg_recall).
    """
    exact = cosine_topk(
        embeddings, queries, k, id_col, vec_col, q_id_col, q_vec_col
    ).select("q_id", "vec_id")
    out = None
    for d in dims:
        approx = (
            cosine_topk(
                truncate_vectors(embeddings, d, vec_col),
                truncate_vectors(queries, d, q_vec_col),
                k, id_col, vec_col, q_id_col, q_vec_col,
            )
            .select("q_id", "vec_id")
            .withColumn("_hit", F.lit(1))
        )
        per_q = (
            exact.join(approx, ["q_id", "vec_id"], "left")
            .groupBy("q_id")
            .agg((F.count("_hit") / F.count("*")).alias("_recall"))
        )
        row = per_q.agg(
            F.lit(d).cast("int").alias("dim"),
            F.count("*").cast("long").alias("n_queries"),
            F.round(F.avg("_recall"), 6).alias("avg_recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    q_label_col: str = "q_label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the top-k
    most-cosine-similar corpus vectors whose label DIFFERS from the
    query's — the near-miss negatives that make embedding training
    converge (easy random negatives carry no gradient signal at scale).

    Same physical shape as :func:`cosine_topk` (broadcast queries × corpus
    scan + per-query window); the label inequality is a pre-window filter,
    so mislabeled near-duplicates never reach the ranking.

    Output: (q_id, vec_id, neg_label, cos, rank).
    """
    joined = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.col(label_col).alias("neg_label"),
    ).crossJoin(
        F.broadcast(
            queries.select(
                F.col(q_id_col).alias("q_id"),
                F.col(q_vec_col).alias("q_vec"),
                F.col(q_label_col).alias("q_label"),
            )
        )
    )
    scored = (
        joined
        .filter(F.col("neg_label") != F.col("q_label"))
        .filter(F.col("q_id") != F.col("vec_id"))
        .withColumn("cos", F.round(cosine(F.col("embedding"), F.col("q_vec")), 6))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "neg_label", "cos", "rank")
    )


def covariance_matrix(
    embeddings: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space covariance matrix (upper triangle): cov(i,j) =
    E[x_i·x_j] − E[x_i]·E[x_j] — the PCA / whitening / anisotropy-check
    pre-pass (a collapsed embedding space shows a few dominant diagonal
    cells; whitening needs exactly this matrix).

    Scale shape: each Arrow batch contributes ONE dim×dim Gram partial
    (``Xᵀ X`` in a single BLAS call via mapInPandas) plus a coordinate-sum
    vector — so the shuffle carries O(batches · dim²) cells, independent
    of corpus size, and the final hash-agg folds partials. The corpus is
    scanned once and never pairwise-exploded (a posexplode² formulation
    would shuffle dim² × corpus rows — 4096× the data at dim 64).

    Output: (i, j, cov) for i ≤ j, rounded 1e-6.
    """
    import numpy as np
    import pandas as pd

    iu = np.triu_indices(dim)

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.asarray(pdf["_vec"].to_list(), dtype=np.float64)
            gram = m.T @ m
            yield pd.DataFrame({
                "i": np.concatenate([iu[0], np.arange(dim)]),
                "j": np.concatenate([iu[1], np.full(dim, -1)]),
                "s": np.concatenate([gram[iu], m.sum(axis=0)]),
                "cnt": np.concatenate(
                    [np.zeros(len(iu[0]), dtype=np.int64),
                     np.full(dim, len(m), dtype=np.int64)]),
            })

    # the folded (i, j, s) table feeds three consumers (gram cells, mean_i,
    # mean_j) — persist it or each consumer replays the corpus GEMM scan;
    # it is dim(dim+3)/2 rows regardless of corpus size
    embeddings = parallel_floor(embeddings, vec_col)
    sums = pin(
        embeddings.select(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
            .alias("_vec"))
        .mapInPandas(partials, "i int, j int, s double, cnt long")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
    )
    # j = -1 rows are the per-coordinate sums (and carry the row count)
    means = sums.filter(F.col("j") == -1).select(
        F.col("i").alias("_mi"),
        (F.col("s") / F.col("cnt")).alias("mean"),
        F.col("cnt").alias("n"),
    )
    gram = sums.filter(F.col("j") >= 0)
    mi = means.select(F.col("_mi").alias("i"), F.col("mean").alias("mean_i"),
                      "n")
    mj = means.select(F.col("_mi").alias("j"), F.col("mean").alias("mean_j"))
    return (
        gram.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i", "j",
            # + 0.0 folds IEEE negative zero (a near-zero covariance can
            # round to -0.0 or +0.0 depending on summation order) into
            # +0.0 on both engines
            (F.round(
                F.col("s") / F.col("n")
                - F.col("mean_i") * F.col("mean_j"),
                6,
            ) + F.lit(0.0)).alias("cov"),
        )
    )


def _pq_train_codebooks(
    corpus: DataFrame, m: int, k: int, n_iters: int
) -> list[list[list[float]]]:
    """Train the ``m`` per-subspace k-means codebooks of a PQ build in ONE
    driver loop: per iteration, every (vector, subspace) slice is assigned
    narrow against its subspace's codebook literal and aggregated in a
    single ``groupBy(subspace, cell)`` hash-agg — one Spark action per
    iteration instead of one *per subspace per iteration* (the former
    sequential ``m × kmeans_fit`` layout paid ~m·(n_iters+2) driver
    actions; at bench scale the action latency, not the math, dominated
    the PQ operators).

    Numerically identical to ``kmeans_fit`` per subspace: same init (the
    k lowest ids' slices, rounded 1e-6), same argmax-cosine assignment
    (rounded 1e-6, ties → lowest cell), same per-cell mean rounded 1e-6
    before the next iteration, empty cells keep their previous centroid.

    ``corpus`` must carry (vec_id, _v array<double>); returns
    ``codebooks[s][cell] = centroid vector`` (length dim//m each).
    """
    init_rows = corpus.select("vec_id", "_v").orderBy("vec_id").limit(
        k).collect()
    dim = len(init_rows[0][1])
    assert dim % m == 0, "dim must divide evenly into m subspaces"
    sub = dim // m
    codebooks: list[list[list[float]]] = [
        [
            [round(float(x), 6) for x in r[1][s * sub:(s + 1) * sub]]
            for r in init_rows
        ]
        for s in range(m)
    ]

    corpus = parallel_floor(corpus, "vec_id")
    sub_slices = F.array(*[
        F.slice(F.col("_v"), s * sub + 1, sub) for s in range(m)
    ])
    exploded = corpus.select(F.posexplode(sub_slices).alias("s", "sv"))

    for _ in range(n_iters):
        cbs = F.array(*[
            F.array(*[F.lit(c).cast("array<double>") for c in codebooks[s]])
            for s in range(m)
        ])
        cents_row = F.element_at(cbs, F.col("s") + 1)
        sims = F.transform(
            cents_row, lambda c: F.round(cosine(F.col("sv"), c), 6))
        assigned = exploded.select(
            "s",
            (F.array_position(sims, F.array_max(sims)) - 1)
            .cast("int").alias("cell"),
            "sv",
        )
        new_rows = (
            assigned.groupBy("s", "cell")
            .agg(*[
                F.round(F.avg(F.element_at("sv", i + 1)), 6).alias(f"_c{i}")
                for i in range(sub)
            ])
            .collect()
        )
        for r in new_rows:
            codebooks[r["s"]][r["cell"]] = [r[f"_c{i}"] for i in range(sub)]
    return codebooks


def pq_encode(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each vector into
    ``m`` subspaces, train an independent :func:`kmeans_fit` codebook per
    subspace, and encode every vector as its m cell ids — the compression
    that stores a 10^9-vector corpus as m bytes/vector (here 4 bytes for
    a 64-dim float vector, 64×) while asymmetric-distance search stays
    possible against the m×k codebooks.

    Scale shape: per subspace, the k-means loop (narrow assignment +
    k×subdim hash-agg per iteration) then one narrow assignment pass —
    m×(n_iters+1) corpus scans total, each touching 1/m of the columns;
    the final code table is assembled by m equi-joins on vec_id, all
    AQE-coalesced over the same key. Reconstruction error is computed
    in-row against the (tiny, broadcast-literal) codebooks.

    Output: (vec_id, code array<int> length m, recon_mse) where recon_mse
    is the mean squared per-dimension reconstruction error, rounded 1e-6.
    """
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    codebooks = _pq_train_codebooks(corpus, m, k, n_iters)
    dim = len(codebooks[0][0]) * m
    sub = dim // m

    cb_lits = [
        F.array(*[F.lit(c).cast("array<double>") for c in codebooks[s]])
        for s in range(m)
    ]
    # all m assignments + errors computed NARROW in one pass over the
    # corpus against the codebook literals — no per-subspace joins
    def _sub_sims(s: int, cb: Column) -> Column:
        # factory closure: a `lambda c, _s=s` default-arg trick would make
        # the transform lambda binary, and PySpark passes the array INDEX
        # as the second argument of a two-arg transform lambda
        start = s * sub + 1
        return F.transform(
            cb,
            lambda c: F.round(cosine(F.slice(F.col("_v"), start, sub), c), 6),
        )

    sims = corpus.select(
        "vec_id", "_v",
        *[_sub_sims(s, cb_lits[s]).alias(f"_sims{s}") for s in range(m)],
    )
    cells = sims.select(
        "vec_id", "_v",
        *[
            (
                F.array_position(
                    F.col(f"_sims{s}"), F.array_max(F.col(f"_sims{s}"))
                ) - 1
            ).cast("int").alias(f"_c{s}")
            for s in range(m)
        ],
    )
    errs = cells.select(
        "vec_id",
        *[F.col(f"_c{s}") for s in range(m)],
        *[
            F.aggregate(
                F.zip_with(
                    F.slice(F.col("_v"), s * sub + 1, sub),
                    F.element_at(cb_lits[s], F.col(f"_c{s}") + 1),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias(f"_e{s}")
            for s in range(m)
        ],
    )
    total_err = sum((F.col(f"_e{s}") for s in range(1, m)), F.col("_e0"))
    return errs.select(
        "vec_id",
        F.array(*[F.col(f"_c{s}") for s in range(m)]).alias("code"),
        F.round(total_err / dim, 6).alias("recon_mse"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iters: int = 2,
    n_candidates: int = 20,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """PQ search via Asymmetric Distance Computation (Jégou et al. 2011,
    §III): approximate each query↔vector squared-L2 distance as the sum
    of per-subspace distances from the RAW query slice to the vector's
    ASSIGNED CENTROID, prune to ``n_candidates`` per query, then
    exact-rerank only the candidates — the standard two-stage PQ serving
    path (FAISS `IndexPQ.search` + refine).

    Why it scales: the scan phase touches only the m-byte codes plus the
    m×k codebook literals (the full vectors stay in storage), and the
    expensive exact distance runs on n_candidates rows per query instead
    of the corpus. The codes table is the :func:`pq_encode` assignment;
    centroid lookup is an in-row ``element_at`` against the plan-literal
    codebooks — no join on the scan path. Both ranking keys are rounded
    1e-6 BEFORE the windows so candidate sets and final order are
    deterministic across engines and partitionings.

    Output: (q_id, vec_id, dist, rank) — dist = exact squared L2,
    ascending.
    """
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    qs = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.transform(F.col(q_vec_col), lambda x: x.cast("double"))
        .alias("q_vec"),
    )

    # per-subspace codebooks trained jointly (one action per iteration —
    # see _pq_train_codebooks), then all m code columns computed NARROW
    # in one projection against the codebook literals — no per-subspace
    # joins, no per-subspace driver loops
    trained = _pq_train_codebooks(corpus, m, k, n_iters)
    dim = len(trained[0][0]) * m
    sub = dim // m
    codebooks: list = [
        F.array(*[F.lit(c).cast("array<double>") for c in trained[s]])
        for s in range(m)
    ]
    def _sub_sims(s: int, cb: Column) -> Column:
        # factory closure (NOT a two-arg lambda: PySpark passes the array
        # index as a transform lambda's second argument)
        start = s * sub + 1
        return F.transform(
            cb,
            lambda c: F.round(cosine(F.slice(F.col("_v"), start, sub), c), 6),
        )

    sims = corpus.select(
        "vec_id", "_v",
        *[_sub_sims(s, codebooks[s]).alias(f"_sims{s}") for s in range(m)],
    )
    coded = sims.select(
        "vec_id", "_v",
        *[
            (
                F.array_position(
                    F.col(f"_sims{s}"), F.array_max(F.col(f"_sims{s}"))
                ) - 1
            ).cast("int").alias(f"_c{s}")
            for s in range(m)
        ],
    )

    def sq_dist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, v: acc + v)

    approx = sum(
        (
            sq_dist(
                F.slice(F.col("q_vec"), s * sub + 1, sub),
                F.element_at(codebooks[s], F.col(f"_c{s}") + 1),
            )
            for s in range(1, m)
        ),
        sq_dist(
            F.slice(F.col("q_vec"), 1, sub),
            F.element_at(codebooks[0], F.col("_c0") + 1),
        ),
    )
    scored = (
        coded.crossJoin(F.broadcast(qs))
        .filter(F.col("q_id") != F.col("vec_id"))
        .withColumn("_adc", F.round(approx, 6))
    )
    w_c = Window.partitionBy("q_id").orderBy(
        F.col("_adc").asc(), F.col("vec_id").asc())
    cands = (
        scored.withColumn("_rn", F.row_number().over(w_c))
        .filter(F.col("_rn") <= n_candidates)
        .select("q_id", "vec_id", "_v")
    )
    exact = cands.join(
        F.broadcast(qs), "q_id"
    ).withColumn("dist", F.round(sq_dist(F.col("_v"), F.col("q_vec")), 6))
    w_k = Window.partitionBy("q_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= topk)
        .select("q_id", "vec_id", "dist", "rank")
    )


def mmr_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_candidates: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): per query, greedily select ``k`` results maximizing
    ``λ·sim(q, d) − (1−λ)·max_{s∈S} sim(d, s)`` — relevance discounted
    by redundancy against what is already selected. THE diversification
    pass a RAG retrieval stack runs after ANN: plain top-k returns k
    near-duplicates of the best hit; MMR returns the best hit plus its
    best non-redundant complements.

    Scale shape: stage 1 is the :func:`cosine_topk` broadcast-scan shape
    (corpus never shuffles; per-query window caps candidates at
    ``n_candidates``). The greedy loop then runs ``k`` rounds over the
    CANDIDATE table only — (queries × n_candidates) rows, corpus-size-
    independent — each round one anti-join (drop selected), one equi-join
    on q_id against the ≤ r-row-per-query selected set with an in-row
    cosine, one (q_id, vec_id) max-agg, one per-query argmax window.
    Candidate and selected frames are cut per round, the superseded
    selection released (plans/pins.py), so round r never replays rounds
    1..r-1.

    Determinism: relevance and pairwise sims are rounded to 6; the MMR
    combination then runs in exact INTEGER micro-units — ``λ`` snaps to
    tenths (λ_num = round(10λ)) and score_u = λ_num·rel_u −
    (10−λ_num)·pen_u over the 10^6-scaled sims — because a float
    ``λ·(round-6 value)`` lands on exact decimal halves at the 7th digit
    (…5·10⁻⁷) SYSTEMATICALLY, where Java's shortest-repr HALF_UP round
    and a binary-value round disagree. Integer math has no halves to
    round; argmax ties break on vec_id asc; the emitted ``mmr_score`` =
    score_u / 10^7 is one identical IEEE division on both engines.

    Output: (q_id, vec_id, mmr_rank, relevance, mmr_score).
    """
    from waka_spark.plans.pins import cut, keep, pin_scope, release

    lam_num = int(round(lam * 10))
    joined = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"),
    ).crossJoin(
        F.broadcast(queries.select(
            F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("_qv")))
    ).filter(F.col("vec_id") != F.col("q_id"))
    w_rel = Window.partitionBy("q_id").orderBy(
        F.col("relevance").desc(), F.col("vec_id").asc())
    with pin_scope():
        cand = cut(
            joined.withColumn(
                "relevance", F.round(cosine(F.col("_v"), F.col("_qv")), 6))
            .withColumn("_rn", F.row_number().over(w_rel))
            .filter(F.col("_rn") <= n_candidates)
            .select("q_id", "vec_id", "_v", "relevance")
        )

        rel_u = F.round(F.col("relevance") * 1e6, 0).cast("long")
        w_pick = Window.partitionBy("q_id").orderBy(
            F.col("_score_u").desc(), F.col("vec_id").asc())
        selected = None
        for r in range(1, k + 1):
            if selected is None:
                scored = cand.withColumn("_score_u", F.lit(lam_num) * rel_u)
            else:
                remaining = cand.join(
                    selected.select("q_id", "vec_id"),
                    ["q_id", "vec_id"], "left_anti")
                pen = (
                    remaining.join(
                        selected.select(
                            "q_id", F.col("_v").alias("_sv")), "q_id")
                    .withColumn(
                        "_p",
                        F.round(
                            F.round(cosine(F.col("_v"), F.col("_sv")), 6)
                            * 1e6, 0).cast("long"))
                    .groupBy("q_id", "vec_id")
                    .agg(
                        F.max("_p").alias("_pen_u"),
                        F.first("relevance").alias("relevance"),
                        F.first("_v").alias("_v"),
                    )
                )
                scored = pen.withColumn(
                    "_score_u",
                    F.lit(lam_num) * rel_u
                    - F.lit(10 - lam_num) * F.col("_pen_u"))
            win = (
                scored.withColumn("_pick", F.row_number().over(w_pick))
                .filter(F.col("_pick") == 1)
                .select("q_id", "vec_id", "_v", "relevance",
                        (F.col("_score_u") / F.lit(1e7)).alias("mmr_score"),
                        F.lit(r).alias("mmr_rank"))
            )
            new_sel = cut(
                win if selected is None else selected.unionByName(win))
            if selected is not None:
                release(selected)
            selected = new_sel
        keep(selected)
    return selected.select(
        "q_id", "vec_id", "mmr_rank", "relevance", "mmr_score")
