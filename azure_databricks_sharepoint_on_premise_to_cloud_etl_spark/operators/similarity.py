"""Vector similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast nested-loop of the
(small) query set against the corpus, dot products computed with
native higher-order functions (zip_with + aggregate), ranked with a
window.  Scale path: random-hyperplane LSH bucketing — corpus hashed
once into ``2^num_planes`` buckets, probes only meet same-bucket
vectors, so the join is equi-keyed (hash-partitionable, AQE-skew-safe)
instead of a full cross product.

No UDFs anywhere: at 100 TB the dot product runs inside codegen;
a vectorized pandas-UDF variant is provided for very wide vectors
where per-element codegen becomes instruction-bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import materialize


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns, in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Exact cosine top-k for each probe vector.

    Probe set is assumed small (it's broadcast); the corpus streams
    through once.  Cost is O(|probes| * |corpus| * dim) distributed
    over all executors — the correct baseline and the correctness
    oracle for the ANN variants.  Deterministic tie-break on corpus id.
    """
    from .windows import rank_topk_per_group

    p = probes.select(
        F.col(probe_id_col), F.col(vec_col).alias("__probe_vec")
    )
    scored = corpus.crossJoin(F.broadcast(p)).select(
        F.col(probe_id_col),
        F.col(id_col),
        F.round(cosine_sim(F.col(vec_col), F.col("__probe_vec")), 6).alias("cosine"),
    )
    return rank_topk_per_group(
        scored, [probe_id_col], [F.col("cosine").desc(), F.col(id_col).asc()], k
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit i = sign(vec . plane_i).

    ``planes`` are generated driver-side from a seeded RNG (tiny —
    num_planes * dim floats) and inlined as literals, so the expression
    stays codegen-friendly and shippable to any executor.
    """
    bits = [
        (
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(w)) for w in plane]),
                    lambda x, w: x.cast("double") * w,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0
        ).cast("int")
        * F.lit(1 << i)
        for i, plane in enumerate(planes)
    ]
    return sum(bits[1:], bits[0])


def make_planes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded Gaussian hyperplanes for :func:`hyperplane_bucket`."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim)).tolist()


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    dim: int = 64,
    num_planes: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probes only score vectors in their LSH bucket.

    The corpus->bucket map is computed once (narrow); the probe-corpus
    meet is an equi-join on bucket id — shuffle keyed and broadcastable,
    never a cross join.  Recall tuning: ``num_planes`` (fewer planes =
    bigger buckets = higher recall, more compute) and multi-probe —
    each probe also visits every bucket one hyperplane-flip away, the
    standard rescue for neighbors split by a plane boundary.
    """
    from .windows import rank_topk_per_group

    planes = make_planes(dim, num_planes, seed)
    c = corpus.withColumn("__bucket", hyperplane_bucket(F.col(vec_col), planes))
    home = hyperplane_bucket(F.col(vec_col), planes)
    probe_buckets = F.array(
        home, *[home.bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)]
    )
    p = probes.select(
        F.col(probe_id_col),
        F.col(vec_col).alias("__probe_vec"),
        F.explode(probe_buckets).alias("__bucket"),
    )
    scored = c.join(F.broadcast(p), "__bucket").select(
        F.col(probe_id_col),
        F.col(id_col),
        F.round(cosine_sim(F.col(vec_col), F.col("__probe_vec")), 6).alias("cosine"),
    )
    return rank_topk_per_group(
        scored, [probe_id_col], [F.col("cosine").desc(), F.col(id_col).asc()], k
    )


def brute_force_topk_pandas(
    corpus: DataFrame,
    probes_pd,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched variant for wide vectors: probe matrix broadcast as
    a numpy array inside a mapInPandas, dot products via BLAS matmul.

    Returns (probe_id, vec_id, cosine) before final top-k ranking —
    compose with ``rank_topk_per_group``.  Prefer :func:`brute_force_topk`
    until the vector width makes codegen the bottleneck.
    """
    import numpy as np
    import pandas as pd

    probe_ids = probes_pd["probe_id"].to_numpy()
    pm = np.asarray(list(probes_pd[vec_col]), dtype=np.float64)
    pm_norm = pm / np.linalg.norm(pm, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cm = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            cm_norm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm_norm @ pm_norm.T  # (corpus_batch, probes)
            n_c, n_p = sims.shape
            yield pd.DataFrame(
                {
                    "probe_id": np.tile(probe_ids, n_c),
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_p),
                    "cosine": np.round(sims.ravel(), 6),
                }
            )

    schema = f"probe_id long, {id_col} long, cosine double"
    return corpus.select(id_col, vec_col).mapInPandas(score, schema=schema)


def centroid_assignments(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_n: int = 1,
) -> DataFrame:
    """(internal) nearest-``top_n`` centroids per vector: broadcast the
    k centroid rows, score one cosine per (vector, centroid) pair, rank
    with a window.  One cosine expression in codegen regardless of k —
    inlining k cosines as literals compiles k copies of the dot product
    and is measurably slower.  Ties break to the lower centroid id.
    Returns (id_col, ivf_bucket, rank)."""
    from .windows import rank_topk_per_group

    c = centroids.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    scored = df.select(id_col, vec_col).crossJoin(F.broadcast(c)).select(
        F.col(id_col),
        F.col("__cid").alias("ivf_bucket"),
        F.round(cosine_sim(F.col(vec_col), F.col("__cvec")), 6).alias("__score"),
    )
    return rank_topk_per_group(
        scored,
        [id_col],
        [F.col("__score").desc(), F.col("ivf_bucket").asc()],
        top_n,
    ).drop("__score")


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "ivf_bucket",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF-flat posting
    list)."""
    assigned = centroid_assignments(df, centroids, id_col, vec_col, top_n=1)
    if bucket_col != "ivf_bucket":
        assigned = assigned.withColumnRenamed("ivf_bucket", bucket_col)
    return df.join(assigned, id_col)


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """IVF-flat ANN with deterministic sampled centroids: the first
    ``n_centroids`` corpus vectors (by id) act as centroids; each
    corpus vector joins its nearest centroid's posting list; probes
    scan their ``nprobe`` nearest lists.

    Scale shape: assignment is narrow (centroids inlined as literals);
    the probe-corpus meet is an equi-join on the centroid id — the same
    join geometry as a production IVF index over k-means centroids
    (swap the centroid source; the plan is unchanged).
    """
    from .windows import rank_topk_per_group

    centroids = corpus.filter(F.col(id_col) < n_centroids).select(id_col, vec_col)
    c = ivf_assign(corpus, centroids, id_col, vec_col)

    probe_lists = centroid_assignments(
        probes, centroids.withColumnRenamed(id_col, probe_id_col),
        probe_id_col, vec_col, top_n=nprobe,
    )
    p = probes.select(
        F.col(probe_id_col), F.col(vec_col).alias("__probe_vec")
    ).join(probe_lists, probe_id_col)
    scored = c.join(F.broadcast(p), "ivf_bucket").select(
        F.col(probe_id_col),
        F.col(id_col),
        F.round(cosine_sim(F.col(vec_col), F.col("__probe_vec")), 6).alias("cosine"),
    )
    return rank_topk_per_group(
        scored, [probe_id_col], [F.col("cosine").desc(), F.col(id_col).asc()], k
    )


def kmeans_step(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One distributed Lloyd iteration: assign every vector to its
    nearest centroid (broadcast cosine ranking, same geometry as
    ``ivf_assign``), then recompute each centroid as the element-wise
    mean of its members.  Output is EXPLODED — (ivf_bucket, pos,
    c_mean) — because per-dimension rows are both the distributed
    idiom (no array-sum aggregate exists JVM-side) and digest-friendly
    for the DuckDB oracle (list cells hash unreliably).

    Scale shape: the mean is a hash aggregate over (bucket, dim) keys
    — the shuffle carries N*dim compact numeric rows with map-side
    partial aggregation, never whole vectors to one place; iterating
    k-means = repeating this step on the re-collected (vocab-sized)
    centroid table, the standard IVF training loop."""
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    return (
        assigned.select(
            "ivf_bucket", F.posexplode(F.col(vec_col)).alias("pos", "val")
        )
        .groupBy("ivf_bucket", "pos")
        .agg(F.round(F.avg("val"), 6).alias("c_mean"))
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 scalar quantization per vector (the vector-store
    compression pass): scale = max|x| / 127, q_i = floor(x_i/scale +
    0.5).  ``floor(x + 0.5)`` instead of ``round`` deliberately —
    Spark rounds HALF_UP, DuckDB half-even, and floor is the one
    formulation both engines (and a deserializer in any language)
    compute bit-identically.  Zero vectors quantize to zeros (guarded
    division).  Returns integer summary stats (exact, FP-free) plus
    the rounded scale; the quantized array itself stays an expression
    a writer can materialize.

    Scale shape: pure narrow HOF expressions — no shuffle, no UDF."""
    vec = F.col(vec_col)
    scale = F.nullif(
        F.array_max(F.transform(vec, lambda x: F.abs(x))) / F.lit(127.0),
        F.lit(0.0),
    )
    with_scale = df.select(id_col, vec_col).withColumn("__scale", scale)
    q = F.transform(
        vec,
        lambda x: F.coalesce(
            F.floor(x / F.col("__scale") + F.lit(0.5)), F.lit(0)
        ).cast("long"),
    )
    return with_scale.select(
        id_col,
        F.round(F.coalesce(F.col("__scale"), F.lit(0.0)), 6).alias("q_scale"),
        F.size(vec).alias("n_dims"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
    )


def embedding_dim_stats(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension QC statistics of an embedding column: mean,
    population variance, min, max per dimension — the drift/collapse
    check run before indexing or quantizing a vector corpus (a dead
    dimension has ~zero variance; a scale-drifted batch shifts the
    per-dim mean).

    Scale shape: ``posexplode`` is narrow (rows × dims, each carrying
    one float + a position int), then ONE hash aggregate keyed by the
    |dims|-sized dimension id with map-side partial aggregation —
    the classic tall-skinny reduction.  Variance is computed as
    E[x²] − E[x]² from plain sums so the oracle reproduces it exactly
    (no sample-vs-population or Welford ambiguity); values widen
    float → double BEFORE aggregation on both engines.
    """
    exploded = df.select(
        F.posexplode(vec_col).alias("dim", "__x")
    ).withColumn("__xd", F.col("__x").cast("double"))
    return (
        exploded.groupBy("dim")
        .agg(
            F.round(F.avg("__xd"), 6).alias("mean"),
            F.round(
                F.avg(F.col("__xd") * F.col("__xd"))
                - F.avg("__xd") * F.avg("__xd"),
                6,
            ).alias("var_pop"),
            F.round(F.min("__xd"), 6).alias("dim_min"),
            F.round(F.max("__xd"), 6).alias("dim_max"),
        )
    )


def embedding_covariance(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Population covariance matrix of an embedding column, as tidy
    (i, j, cov_pop) rows for every dimension pair i <= j — the input
    to a PCA/whitening step (the d×d eigenproblem is driver-trivial
    once the covariance is reduced; it is the REDUCTION that is the
    distributed problem).

    Scale shape: each row expands to its d(d+1)/2 upper-triangle
    products via nested ``transform`` + one ``explode`` — pure
    codegen, no join — and ONE hash aggregate keyed by the
    pair-count-sized (i, j) collapses them with map-side partials, so
    the shuffle carries at most d(d+1)/2 rows per map partition
    regardless of corpus size.  Covariance uses the same
    E[xy] − E[x]E[y] plain-sums form as :func:`embedding_dim_stats`
    (values widen float → double BEFORE any multiply, matching the
    oracle's cast discipline).  At extreme scale the constant factor
    drops further with a BLAS partial outer-product per Arrow batch
    (``mapInPandas`` emitting per-batch (i, j, sum_xy) partials into
    the same aggregate); the declarative form here keeps the whole
    plan in whole-stage codegen and is the oracle-parity reference.

    Returns (i, j, n_vecs, cov_pop) for i <= j.
    """
    xd = F.transform(F.col(vec_col), lambda e: e.cast("double"))
    d = df.select(xd.alias("__xd")).filter(F.col("__xd").isNotNull())
    n_dim = F.size("__xd")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n_dim - 1),
            lambda i: F.transform(
                F.sequence(i, n_dim - 1),
                lambda j: F.struct(
                    i.cast("int").alias("i"),
                    j.cast("int").alias("j"),
                    F.element_at("__xd", i + 1).alias("xi"),
                    F.element_at("__xd", j + 1).alias("xj"),
                ),
            ),
        )
    )
    ex = d.select(F.explode(pairs).alias("p")).select(
        F.col("p.i").alias("i"),
        F.col("p.j").alias("j"),
        F.col("p.xi").alias("__xi"),
        F.col("p.xj").alias("__xj"),
    )
    return ex.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        # + 0.0 canonicalizes IEEE -0.0 to +0.0 (a near-zero covariance
        # can round to either sign of zero depending on summation
        # order, and the oracle compare is textual)
        (
            F.round(
                F.avg(F.col("__xi") * F.col("__xj"))
                - F.avg("__xi") * F.avg("__xj"),
                6,
            )
            + F.lit(0.0)
        ).alias("cov_pop"),
    )


def apply_linear_map(
    df: DataFrame, vec_col: str, matrix: "list[list[float]]"
) -> DataFrame:
    """Apply a dense linear map y = W x to an embedding column —
    the distributed half of PCA/whitening: reduce the covariance with
    :func:`embedding_covariance`, eigendecompose the d×d matrix on
    the driver (trivial), then transform the corpus with THIS.

    Scale shape: W broadcasts to executors inside an Arrow-batched
    ``mapInPandas`` closure and each batch is one BLAS matmul —
    embeddings never leave their partitions, no shuffle at all.  Rows
    whose vector is NULL or of the wrong dimension are dropped (a
    linear map over a ragged column is undefined).  Output schema is
    the input schema with ``vec_col`` replaced by the mapped vector.
    """
    import numpy as np

    w = np.asarray(matrix, dtype=np.float64)
    d_out, d_in = w.shape
    schema = df.schema

    def run(batches):
        for pdf in batches:
            vecs = pdf[vec_col]
            keep = vecs.map(
                lambda v: v is not None and len(v) == d_in
            )
            pdf = pdf[keep.values]
            if len(pdf):
                x = np.array(list(pdf[vec_col]), dtype=np.float64)
                y = x @ w.T
                pdf = pdf.assign(**{vec_col: list(y.astype(np.float32))})
            yield pdf

    return df.mapInPandas(run, schema)


def embedding_group_drift(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding centroid drift vs the global centroid —
    the distribution-shift check run per source/label/batch before
    mixing corpora: a group whose centroid has low cosine to (or
    large L2 from) the global centroid is semantically skewed
    relative to the rest of the corpus.

    Scale shape: one narrow ``posexplode`` (rows × dims, one float +
    two ids per row) into ONE hash aggregate keyed by (group, dim) —
    the same tall-skinny reduction as :func:`embedding_dim_stats`.
    The global centroid attaches to the |groups|·|dims|-sized
    centroid table via a dim-partitioned window (no second corpus
    pass), and the final cosine/L2 is a |groups|-keyed aggregate.
    Centroid components are rounded to 6 BEFORE the cosine so any
    engine's double-summation order agrees.  Returns (group,
    n_vectors, cosine_to_global, l2_to_global).
    """
    exploded = df.select(
        F.col(group_col).alias("__g"),
        F.posexplode(vec_col).alias("dim", "__x"),
    ).withColumn("__xd", F.col("__x").cast("double"))
    per = exploded.groupBy("__g", "dim").agg(
        F.sum("__xd").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    w_dim = Window.partitionBy("dim")
    comp = per.select(
        "__g",
        "dim",
        "__n",
        F.round(F.col("__s") / F.col("__n"), 6).alias("__c"),
        F.round(
            F.sum("__s").over(w_dim) / F.sum("__n").over(w_dim), 6
        ).alias("__gc"),
    )
    return (
        comp.groupBy(F.col("__g").alias(group_col))
        .agg(
            F.max("__n").alias("n_vectors"),
            F.round(
                F.sum(F.col("__c") * F.col("__gc"))
                / F.sqrt(
                    F.sum(F.col("__c") * F.col("__c"))
                    * F.sum(F.col("__gc") * F.col("__gc"))
                ),
                6,
            ).alias("cosine_to_global"),
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("__c") - F.col("__gc"))
                        * (F.col("__c") - F.col("__gc"))
                    )
                ),
                6,
            ).alias("l2_to_global"),
        )
    )


def hard_negative_mining(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Contrastive-training hard-negative mining: for each probe, the
    ``k`` most cosine-similar corpus vectors carrying a DIFFERENT
    label — similar enough to be hard, labeled differently so they are
    guaranteed negatives.  The standard mining step for retrieval /
    embedding fine-tuning (in-batch negatives are easy; the ones that
    move the loss are the near-misses this selects).

    Scale shape: identical to :func:`brute_force_topk` — probes
    broadcast, corpus streamed once, dot products in codegen, label
    exclusion pushed into the scan side of the ranking window.  For
    probe sets too big to broadcast, mine per LSH bucket (compose with
    :func:`hyperplane_bucket` exactly as :func:`lsh_topk` does) — the
    label filter composes unchanged.  Output: (probe_id, vec_id,
    rank, cosine), rank 1 = hardest negative.
    """
    p = probes.select(
        F.col(probe_id_col),
        F.col(vec_col).alias("__probe_vec"),
        F.col(label_col).alias("__probe_label"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(p))
        .filter(F.col(label_col) != F.col("__probe_label"))
        .select(
            F.col(probe_id_col),
            F.col(id_col),
            F.round(
                cosine_sim(F.col(vec_col), F.col("__probe_vec")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id_col, id_col, "rank", "cosine")
    )


def retrieval_metrics(
    ranked: DataFrame,
    relevant: DataFrame,
    k: int = 10,
    query_col: str = "probe_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query ranked-retrieval quality: MRR@k and (binary) nDCG@k.

    ``ranked``: (query, id, rank) with rank 1 best, already cut to the
    retrieval depth; ``relevant``: (query, id) ground-truth pairs.
    MRR@k = 1/rank of the first relevant hit (0 if none in the top k);
    nDCG@k = sum(1/log2(rank+1) over relevant hits) normalized by the
    ideal DCG for min(k, n_relevant) hits.  Queries with no relevant
    documents at all are dropped (their nDCG is undefined, and keeping
    them as zeros silently deflates corpus averages).

    Scale shape: one left join of the ranking against the truth pairs
    on (query, id) — both sides keyed, no window wider than a query's
    own top-k — then a per-query aggregate; the truth-side n_relevant
    comes from a separate count joined back (broadcast — one row per
    query).  Everything stays in codegen; cost is linear in
    |ranked| + |relevant|.
    """
    rel = relevant.select(
        F.col(query_col), F.col(id_col), F.lit(True).alias("__rel")
    )
    n_rel = relevant.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("__n_rel")
    )
    top = ranked.filter(F.col(rank_col) <= k).join(
        rel, [query_col, id_col], "left"
    )
    per_q = top.groupBy(query_col).agg(
        F.max(
            F.when(F.col("__rel"), 1.0 / F.col(rank_col)).otherwise(0.0)
        ).alias("__rr"),
        F.sum(
            F.when(
                F.col("__rel"), 1.0 / F.log2(F.col(rank_col) + 1.0)
            ).otherwise(0.0)
        ).alias("__dcg"),
    )
    # ideal DCG for m hits is sum_{i=1..m} 1/log2(i+1): a tiny
    # per-distinct-m lookup built with sequence/aggregate, no UDF
    ideal = F.aggregate(
        F.sequence(F.lit(1), F.least(F.lit(k), F.col("__n_rel"))),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1.0),
    )
    return (
        per_q.join(F.broadcast(n_rel), query_col)
        .select(
            query_col,
            F.round(F.col("__rr"), 6).alias("mrr"),
            F.round(F.col("__dcg") / ideal, 6).alias("ndcg"),
            F.col("__n_rel").alias("n_relevant"),
        )
    )


def mutual_topk_pairs(
    scores: DataFrame,
    query_col: str = "query_id",
    match_col: str = "doc_id",
    score_col: str = "cosine",
) -> DataFrame:
    """Reciprocal-best-match confirmation over a directed similarity
    edge list — the high-precision pairing rule used for entity
    resolution and cross-corpus alignment (two records are merged
    only when each is the OTHER's best match, the 'mutual nearest
    neighbor' criterion of bitext mining / cell-atlas alignment):
    keep (q, m) iff rank(m | q) = 1 AND rank(q | m) = 1.

    Input is any directed scored edge list (e.g. a ``cosine_topk``
    result).  Scale shape: one query-keyed rank window over the
    (already candidate-bounded) edge list, then a self-join of the
    two best-match tables on the REVERSED key pair — both sides are
    one-row-per-node after the rank filter, so the join is
    node-sized, not edge-sized.  Ties break (score DESC, match ASC)
    so 'best' is deterministic.  Returns ``(id_a, id_b, score_ab,
    score_ba)`` with ``id_a < id_b``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(match_col).asc()
    )
    best = (
        scores.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(
            F.col(query_col).alias("__q"),
            F.col(match_col).alias("__m"),
            F.col(score_col).alias("__s"),
        )
    )
    fwd = best.filter(F.col("__q") < F.col("__m"))
    rev = best.filter(F.col("__q") > F.col("__m")).select(
        F.col("__m").alias("__q"),
        F.col("__q").alias("__m"),
        F.col("__s").alias("__s2"),
    )
    return fwd.join(rev, ["__q", "__m"]).select(
        F.col("__q").alias("id_a"),
        F.col("__m").alias("id_b"),
        F.col("__s").alias("score_ab"),
        F.col("__s2").alias("score_ba"),
    )


def _round_half_away(x: float, ndigits: int = 6) -> float:
    """Sign-aware half-away-from-zero rounding — matches SQL round()
    semantics (Python's built-in round is banker's and would diverge
    from the DuckDB oracle on exact .5 boundaries)."""
    import math

    scale = 10.0 ** ndigits
    return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale


def pca_power_component(
    cov_rows: list, d: int, iters: int = 30
) -> tuple[list[float], float]:
    """Dominant eigenvector + eigenvalue of a ROUNDED covariance
    matrix via fixed-count power iteration on the driver.

    The input is the (i, j, cov_pop) upper-triangle from
    :func:`embedding_covariance` — d(d+1)/2 rows, a function of the
    embedding DIMENSION only, constant in corpus size, so holding it
    on the driver is bounded the same way the graph module's gated
    union-find is.  Determinism discipline (what makes the result
    oracle-verifiable in unrolled SQL):

    - the matrix entries are already rounded to 6 decimals by the
      covariance reduction, so both engines iterate on IDENTICAL
      numbers;
    - every iterate is re-rounded to 6 decimals after normalization,
      so floating-point noise (~1e-15 per dot product) cannot
      accumulate across iterations — the two engines walk the same
      sequence except with ~1e-9 probability per entry per step;
    - a FIXED iteration count (no convergence test) keeps the SQL
      twin a mechanical unroll;
    - the sign is canonicalized so the first nonzero loading is
      positive.

    Returns ``(loadings, eigenvalue)`` with the eigenvalue as the
    Rayleigh quotient v'Cv of the final rounded iterate.
    """
    C = [[0.0] * d for _ in range(d)]
    for r in cov_rows:
        C[r["i"]][r["j"]] = C[r["j"]][r["i"]] = float(r["cov_pop"])
    start = _round_half_away(1.0 / (d ** 0.5), 6)
    v = [start] * d
    for _ in range(iters):
        w = [
            sum(C[i][j] * v[j] for j in range(d)) for i in range(d)
        ]
        nrm = sum(x * x for x in w) ** 0.5
        if nrm == 0.0:
            break
        v = [_round_half_away(x / nrm, 6) for x in w]
    first = next((x for x in v if x != 0.0), 1.0)
    if first < 0:
        v = [-x for x in v]
    lam = sum(
        v[i] * sum(C[i][j] * v[j] for j in range(d)) for i in range(d)
    )
    return v, _round_half_away(lam, 6)


def project_onto_component(
    df: DataFrame,
    loadings: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Distributed projection of every embedding onto a component
    vector: the loadings broadcast as a literal array (64 doubles),
    the dot product stays in whole-stage codegen via zip_with +
    aggregate — no Python in the corpus path."""
    vlit = F.array(*[F.lit(float(x)) for x in loadings])
    score = F.aggregate(
        F.zip_with(
            F.transform(F.col(vec_col), lambda e: e.cast("double")),
            vlit,
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.select(
        F.col(id_col), F.round(score, round_digits).alias("pc1_score")
    )


def semantic_outlier(
    df: DataFrame,
    id_col: str,
    group_col: str,
    emb_col: str,
    bottom_frac: float = 0.1,
) -> DataFrame:
    """Flag embeddings far from their group's centroid — the
    mislabeled-data / off-topic-document screen: per group, compute
    the mean vector, score every member by cosine similarity to it,
    and mark the bottom ``bottom_frac`` quantile (ties inclusive) as
    outliers.

    Scale shape: one posexplode (rows × dim), ONE (group, dim)
    centroid aggregate (groups·dim rows — broadcast back), one
    per-row dot/norm aggregate keyed on the id (map-side combined),
    and a histogram-exact per-group quantile over the ROUNDED scores
    (6 dp — the rounding happens before the cutoff so the flag
    boundary is engine-exact).  No pairwise joins anywhere: cost is
    O(rows · dim), the same as a scan.

    Returns (id, group, cos_centroid, cutoff, is_outlier).
    """
    if not 0.0 < bottom_frac < 1.0:
        raise ValueError(f"bottom_frac {bottom_frac} outside (0, 1)")
    from .stats import group_percentiles_exact

    x = (
        df.filter(
            F.col(emb_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias("__g"),
            F.posexplode(emb_col).alias("__i", "__v"),
        )
        .withColumn("__v", F.col("__v").cast("double"))
    )
    cent = x.groupBy("__g", "__i").agg(F.avg("__v").alias("__c"))
    cnorm = cent.groupBy("__g").agg(
        F.sum(F.col("__c") * F.col("__c")).alias("__cc")
    )
    per_doc = (
        x.join(F.broadcast(cent), ["__g", "__i"])
        .groupBy("__id", "__g")
        .agg(
            F.sum(F.col("__v") * F.col("__c")).alias("__dot"),
            F.sum(F.col("__v") * F.col("__v")).alias("__vv"),
        )
    )
    scored = per_doc.join(F.broadcast(cnorm), "__g").select(
        "__id",
        "__g",
        F.round(
            F.when(
                (F.col("__vv") > 0) & (F.col("__cc") > 0),
                F.col("__dot")
                / F.sqrt(F.col("__vv") * F.col("__cc")),
            ),
            6,
        ).alias("cos_centroid"),
    )
    cuts = group_percentiles_exact(
        scored, ["__g"], "cos_centroid", {"cutoff": float(bottom_frac)}
    ).select("__g", F.round(F.col("cutoff"), 6).alias("cutoff"))
    return (
        scored.join(F.broadcast(cuts), "__g")
        .select(
            F.col("__id").alias(id_col),
            F.col("__g").alias(group_col),
            "cos_centroid",
            "cutoff",
            (F.col("cos_centroid") <= F.col("cutoff")).alias(
                "is_outlier"
            ),
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    query_col: str,
    id_col: str,
    emb_col: str,
    rel_col: str,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance reranking of a per-query candidate
    set: greedily pick the item maximizing ``lam * relevance -
    (1-lam) * max_sim_to_already_selected`` — the standard RAG/search
    diversification that stops a retriever from returning five
    paraphrases of the same passage.

    Scale shape: MMR is sequential in k but INDEPENDENT across
    queries, so the greedy selection distributes over the query key:
    pairwise candidate similarities (per-query N² rows, never
    corpus-pairs) and the relevance table are computed in the JVM
    from ONE eagerly-checkpointed candidate projection (the caller's
    retrieval pipeline runs once), then a single cogrouped Arrow
    stage runs the k-step greedy per query group.  r13 shipped this
    as k-1 sequential driver rounds (one checkpoint job each — a
    per-round driver barrier the r13 verdict flagged); the cogroup
    form is O(1) jobs and its per-group work is bounded by the
    candidate set, exactly the §2.6 shape a 100 TB query batch needs.
    Call ``graph.release_components(result)`` after consuming.

    Determinism: similarities and relevances are rounded to 6 dp in
    the JVM (bit-identical to the r13 form); round scores replicate
    Spark's ``round(…, 6)`` HALF_UP via Decimal on the SAME input
    bits, ties broken by id ascending — oracle-reproducible
    selection, verified value-identical to the sequential form at
    sf0.001/0.01/0.1.

    Returns (query, rank, id, mmr_score): rank 1..k per query (fewer
    if the query has fewer candidates).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam {lam} outside [0, 1]")
    q, c = query_col, id_col
    with materialize.scope() as ms:
        cand = ms.checkpoint(
            candidates.select(
                F.col(q).alias("__q"),
                F.col(c).alias("__c"),
                F.col(emb_col).alias("__e"),
                F.round(F.col(rel_col), 6).alias("__r"),
            )
        )
        a = cand.select(
            "__q", F.col("__c").alias("__a"), F.col("__e").alias("__ea")
        )
        # disjoint column names on the probe side: a checkpointed frame
        # self-joined on a shared name trips the ambiguous-self-join check
        b = cand.select(
            F.col("__q").alias("__qb"),
            F.col("__c").alias("__b"),
            F.col("__e").alias("__eb"),
        )
        # __rn/__sn: NULL-vs-NaN disambiguation for the Arrow hop (pandas
        # folds both into NaN in a float64 column; Spark orders NULL last
        # and NaN greatest-first under desc, so the distinction matters)
        sims = (
            a.join(b, F.col("__q") == F.col("__qb"))
            .filter(F.col("__a") != F.col("__b"))
            .select(
                "__q",
                "__a",
                "__b",
                F.round(cosine_sim(F.col("__ea"), F.col("__eb")), 6).alias(
                    "__s"
                ),
            )
            .withColumn(
                "__sn", F.coalesce(F.isnan("__s"), F.lit(False))
            )
        )
        # __qr, not __q: the cogroup's two children both descend from the
        # checkpointed cand, and a shared attribute would trip the
        # ambiguous-self-join check (cogroup keys match positionally, so
        # the names may differ)
        rel = cand.select(
            F.col("__q").alias("__qr"),
            "__c",
            "__r",
            F.coalesce(F.isnan("__r"), F.lit(False)).alias("__rn"),
        )

        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        out_schema = StructType(
            [
                StructField(query_col, candidates.schema[query_col].dataType),
                StructField("rank", IntegerType()),
                StructField(id_col, candidates.schema[id_col].dataType),
                StructField("mmr_score", DoubleType()),
            ]
        )
        lam_f = float(lam)
        one_m = 1.0 - lam_f
        kk = int(k)

        def _greedy(sims_pdf, rel_pdf):
            # Per-query greedy MMR, replicating the JVM sequential form
            # bit for bit: Spark round(x, 6) on DOUBLE is
            # BigDecimal.valueOf(x).setScale(6, HALF_UP) — Decimal(repr(x))
            # parses the same shortest decimal Double.toString produces,
            # so quantize(HALF_UP) yields the same double.  Ordering
            # replicates desc_nulls_last with Spark's NaN-greatest
            # semantics; ties break by id ascending (__c asc).
            import math
            from decimal import ROUND_HALF_UP, Decimal

            import pandas as pd

            if len(rel_pdf) == 0:
                return pd.DataFrame(
                    {query_col: [], "rank": [], id_col: [], "mmr_score": []}
                )

            def round6(x):
                if x is None:
                    return None
                x = float(x)
                if math.isnan(x) or math.isinf(x):
                    return x
                return float(
                    Decimal(repr(x)).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    )
                )

            def sort_key(cid, v):
                # (nulls last, NaN greatest-first under desc, value desc,
                # id asc)
                if v is None:
                    return (1, 0.0, cid)
                v = float(v)
                if math.isnan(v):
                    return (0, float("-inf"), cid)
                return (0, -v, cid)

            qval = rel_pdf["__qr"].iloc[0]
            ids = list(rel_pdf["__c"])
            rels = [
                (float("nan") if nan else None)
                if pd.isna(v)
                else float(v)
                for v, nan in zip(rel_pdf["__r"], rel_pdf["__rn"])
            ]
            rel_map = dict(zip(ids, rels))
            sim_to = {}
            for aa, bb, ss, nan in zip(
                sims_pdf["__a"],
                sims_pdf["__b"],
                sims_pdf["__s"],
                sims_pdf["__sn"],
            ):
                # NULL sims never contribute (max ignores NULL); NaN sims
                # do, and NaN is the greatest value under Spark's max
                if not pd.isna(ss):
                    sim_to.setdefault(aa, {})[bb] = float(ss)
                elif nan:
                    sim_to.setdefault(aa, {})[bb] = float("nan")
            remaining = set(ids)
            selected = []
            rows = []
            for i in range(1, min(kk, len(ids)) + 1):
                if not remaining:
                    break  # duplicate-id candidate rows exhaust early
                if i == 1:
                    scored = [(cid, rel_map[cid]) for cid in remaining]
                else:
                    scored = []
                    for cid in remaining:
                        r = rel_map[cid]
                        row = sim_to.get(cid, {})
                        pen = [
                            row[s] for s in selected if row.get(s) is not None
                        ]
                        if any(math.isnan(x) for x in pen):
                            p = float("nan")  # Spark max: NaN is greatest
                        else:
                            p = max(pen) if pen else 0.0
                        score = (
                            None
                            if r is None
                            else round6(lam_f * r - one_m * p)
                        )
                        scored.append((cid, score))
                cid, sc = min(scored, key=lambda t: sort_key(t[0], t[1]))
                rows.append((qval, i, cid, sc))
                remaining.discard(cid)
                selected.append(cid)
            return pd.DataFrame(
                rows, columns=[query_col, "rank", id_col, "mmr_score"]
            )

        result = (
            sims.groupby("__q")
            .cogroup(rel.groupby("__qr"))
            .applyInPandas(_greedy, schema=out_schema)
        )
        return ms.attach(result)


def rbo_overlap(
    df: DataFrame,
    group_col: str,
    rank_a_col: str,
    rank_b_col: str,
    k: int = 20,
    p: float = 0.9,
) -> DataFrame:
    """Rank-Biased Overlap (Webber et al. 2010), truncated at depth
    ``k``, between two rankings of the same items — THE top-weighted
    ranker-vs-ranker agreement score (compare a new retrieval model to
    the incumbent, BM25 to embeddings, today's top-k to yesterday's)
    where Kendall/Spearman over-weight the irrelevant tail.

    Input grain: one row per (group, item) carrying the item's 1-based
    rank under each ranker (NULL / > k ranks simply fall outside the
    prefix).  ``RBO@k = (1−p) · Σ_{d=1..k} p^{d−1} · |A_d ∩ B_d| / d``.

    Scale shape: an item enters every prefix intersection from depth
    ``m = max(rank_a, rank_b)`` onward, so the agreement curve is a
    CUMULATIVE COUNT over m — one k-row-per-group depth spine
    (``explode(sequence(1..k))`` on the distinct groups), a left join
    of the per-(group, m) counts onto it, and one cumulative window
    over k rows per group.  Nothing is quadratic in k and nothing
    touches the corpus after the two rank columns exist.

    Returns one row per group: (group, k, rbo).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0 < p < 1:
        raise ValueError(f"p must be in (0, 1), got {p}")
    g = F.col(group_col)
    ra = F.col(rank_a_col).cast("long")
    rb = F.col(rank_b_col).cast("long")
    common = df.filter(
        g.isNotNull()
        & ra.isNotNull()
        & rb.isNotNull()
        & (ra <= k)
        & (rb <= k)
    ).select(g.alias("__g"), F.greatest(ra, rb).alias("__m"))
    per_m = common.groupBy("__g", "__m").agg(
        F.count(F.lit(1)).alias("__c")
    )
    spine = (
        df.filter(g.isNotNull())
        .select(g.alias("__g"))
        .distinct()
        .select(
            "__g",
            F.explode(F.sequence(F.lit(1), F.lit(int(k)))).alias("__d"),
        )
    )
    joined = spine.join(
        per_m,
        (spine["__g"] == per_m["__g"]) & (F.col("__d") == F.col("__m")),
        "left",
    ).select(spine["__g"], "__d", F.coalesce("__c", F.lit(0)).alias("__c"))
    w = Window.partitionBy("__g").orderBy(F.col("__d").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    x_d = F.sum("__c").over(w)
    term = (
        F.pow(F.lit(float(p)), F.col("__d") - 1)
        * x_d.cast("double")
        / F.col("__d")
    )
    return (
        joined.withColumn("__term", term)
        .groupBy(F.col("__g").alias(group_col))
        .agg(
            F.lit(int(k)).cast("long").alias("k"),
            F.round(F.lit(1.0 - float(p)) * F.sum("__term"), 6).alias(
                "rbo"
            ),
        )
    )


def label_centroids(
    df: DataFrame,
    label_col: str,
    emb_col: str,
) -> DataFrame:
    """Per-label mean embedding (class centroid), computed by
    position-exploding the vectors into ONE hash aggregate keyed on
    (label, dim) — shuffle volume is k·d rows, not the corpus — and
    re-assembling the array with an order-pinned collect.

    Per-dim means are rounded to 6 decimals (the moment-first
    determinism discipline: downstream cosine/distance math derives
    from rounded centroids, so engines agree).

    Returns (label, centroid array<double>, n_vecs).
    """
    lbl = F.col(label_col)
    per_dim = (
        df.filter(lbl.isNotNull() & F.col(emb_col).isNotNull())
        .select(
            lbl.alias("__l"),
            F.posexplode(F.col(emb_col)).alias("__d", "__v"),
        )
        .groupBy("__l", "__d")
        .agg(
            F.round(F.avg(F.col("__v").cast("double")), 6).alias("__m"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return (
        per_dim.groupBy(F.col("__l").alias("label"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__d", "__m"))
                ),
                lambda s: s["__m"],
            ).alias("centroid"),
            F.max("__n").alias("n_vecs"),
        )
    )


def rocchio_assign(
    df: DataFrame,
    id_col: str,
    label_col: str,
    emb_col: str,
) -> DataFrame:
    """Rocchio / nearest-centroid label audit: assign every vector to
    its cosine-nearest CLASS CENTROID and emit the confusion matrix
    against the recorded label — the cheap embedding-quality check
    that catches label noise and collapsed classes before anyone
    trains on the table (diagonal mass ≈ separable classes).

    Scale shape: centroids collapse to k·d rows
    (:func:`label_centroids`); the corpus then meets only the k
    centroids via an explicitly-broadcast nested-loop (k ≤ dozens —
    never vector×vector), argmax per vector with a deterministic
    label-ascending tiebreak, and one final (label, assigned) count.

    Returns (label, assigned_label, n_vecs) confusion cells.
    """
    cents = label_centroids(df, label_col, emb_col).select(
        F.col("label").alias("__cl"), "centroid"
    )
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(emb_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__true"),
        F.col(emb_col).alias("__e"),
    )
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "__cos", F.round(cosine_sim(F.col("__e"), F.col("centroid")), 6)
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("__cos").desc(), F.col("__cl").asc()
    )
    best = scored.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    return (
        best.groupBy(
            F.col("__true").alias("label"),
            F.col("__cl").alias("assigned_label"),
        )
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def centroid_silhouette(
    df: DataFrame,
    id_col: str,
    label_col: str,
    emb_col: str,
) -> DataFrame:
    """Centroid-based (simplified) silhouette per label: for each
    vector, ``a`` = euclidean distance to its OWN class centroid,
    ``b`` = distance to the nearest OTHER centroid,
    ``s = (b − a)/max(a, b)`` — the O(n·k) clustering-quality score
    that replaces the O(n²) exact silhouette at corpus scale (the
    standard large-N practice, e.g. sklearn's centroid shortcut).

    Scale shape: identical to :func:`rocchio_assign` — k·d centroid
    collapse, broadcast nested-loop against k centroids, one window
    to pick the nearest-other distance, one final per-label mean.
    Distances are rounded to 6 decimals before the ratio (lazy-CASE
    guarded on max(a,b) > 0); requires ≥ 2 labels (raises otherwise
    at plan-build time is impossible — emits NULL silhouette rows
    instead when a vector has no "other" centroid).

    Returns (label, n_vecs, avg_silhouette).
    """
    cents = label_centroids(df, label_col, emb_col).select(
        F.col("label").alias("__cl"), "centroid"
    )
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(emb_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__true"),
        F.col(emb_col).alias("__e"),
    )
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("__e"),
                    F.col("centroid"),
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
        6,
    )
    scored = base.crossJoin(F.broadcast(cents)).withColumn("__dist", dist)
    own = scored.filter(F.col("__true") == F.col("__cl")).select(
        "__id", F.col("__true").alias("__lbl"), F.col("__dist").alias("__a")
    )
    others = (
        scored.filter(F.col("__true") != F.col("__cl"))
        .groupBy("__id")
        .agg(F.min("__dist").alias("__b"))
    )
    s = F.when(
        F.greatest(F.col("__a"), F.col("__b")) > 0,
        (F.col("__b") - F.col("__a"))
        / F.greatest(F.col("__a"), F.col("__b")),
    ).otherwise(F.lit(0.0))
    per_vec = own.join(others, "__id", "left").select(
        "__lbl", F.when(F.col("__b").isNotNull(), F.round(s, 6)).alias("__s")
    )
    return per_vec.groupBy(F.col("__lbl").alias("label")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("__s"), 6).alias("avg_silhouette"),
    )
