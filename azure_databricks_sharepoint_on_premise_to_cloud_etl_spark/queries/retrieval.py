"""Query catalog — retrieval, streaming, behavioral, text analytics.

Split from the former monolithic queries.py (round 11); the
registry dicts are defined once (QUERIES/_EXTENSION_ORACLES in
.core, AUX_QUERIES/AUX_ORACLES in .curation) and mutated by the
registration statements each family module keeps.
"""
from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import materialize
from ..sources.registry import load_table, rebalance, register_temp_views

from .core import (
    ORACLE_COSINE_TOPK,
    ORACLE_SESSIONIZE,
    QueryFn,
    _DUCK_COSINE,
    _LSH_DIM,
    _LSH_PLANES,
    _LSH_SEED,
    _MINHASH_BANDS,
    _MINHASH_K,
    _MINHASH_N,
    _SAMPLE_SALT,
    _duck_hash,
    _langid_oracle,
    _lsh_oracle,
    _minhash_oracle,
    _quality_oracle,
    _stream_events,
    _stream_plan_dedup,
    _stream_plan_enrich,
    _stream_plan_sliding,
    _stream_plan_tumbling,
    dedup,
    intervals,
    sampling,
    similarity,
    snapshots,
    text,
)
from .curation import (
    AUX_ORACLES,
    AUX_QUERIES,
    _quality_deciles_oracle,
    _stream_plan_join,
)

# ---------------------------------------------------------------------------
# Round-6 widening: corpus novelty, inverted index, count-min sketch,
# triangle counting, covariance reduction
# ---------------------------------------------------------------------------

_NOVELTY_N = 3


def q_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-novelty scoring: per document, the fraction of its
    distinct word 3-grams that no other document contains — the
    diversity complement of the boilerplate scrub.  Digest-only
    corpus exchange; the df join reuses the aggregate's own
    partitioning."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    return text.novelty_score(d, n=_NOVELTY_N)


def _novelty_oracle() -> str:
    n = _NOVELTY_N
    digest = _duck_hash(f"array_to_string(t[i+1:i+{n}], ' ')", 0)
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id, {digest} AS gh
    FROM toks, unnest(range(0, greatest(0, len(t) - {n - 1}))) AS u(i)
    WHERE len(t) >= {n}
),
dfreq AS (SELECT gh, count(*) AS df FROM grams GROUP BY 1)
SELECT doc_id, count(*) AS n_distinct_grams,
       round(avg(CAST(df = 1 AS DOUBLE)), 6) AS novelty
FROM grams JOIN dfreq USING (gh)
GROUP BY 1
"""


_INDEX_MIN_DF = 3
_INDEX_N = 2


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build over word bigrams of the corpus: df/cf
    and the sorted posting list per phrase term in the
    [3, ceil(|docs|/10)]-df band — the cap is corpus-relative so the
    band neither empties nor floods as the fixture scales (head terms
    are sharded at scale, hapax noise dropped)."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    return text.inverted_index(d, n=_INDEX_N, min_df=_INDEX_MIN_DF)


ORACLE_INVERTED_INDEX = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
),
grams AS (
    SELECT doc_id, array_to_string(t[i+1:i+{_INDEX_N}], ' ') AS term
    FROM toks, unnest(range(0, greatest(0, len(t) - {_INDEX_N - 1}))) AS u(i)
    WHERE len(t) >= {_INDEX_N}
),
td AS (SELECT term, doc_id, count(*) AS tf FROM grams GROUP BY 1, 2),
cap AS (SELECT (count(*) + 9) // 10 AS c FROM documents)
SELECT term, count(*) AS df, sum(tf) AS cf,
       array_to_string(list_sort(list(doc_id)), ',') AS postings
FROM td, cap
GROUP BY term, cap.c
HAVING count(*) BETWEEN {_INDEX_MIN_DF} AND cap.c
"""


_CMS_TOPK = 20


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation: build depth-4 x
    width-1024 cells from the corpus term-frequency table, then
    point-estimate the exact top-20 terms against the sketch.  The
    one-sided guarantee (estimate >= exact) plus the cell values are
    fully oracle-verified via the spark_xxhash64 DuckDB twin; at
    100 TB the sketch is the fixed-size mergeable artifact that
    replaces a vocabulary-sized exact table."""
    from ..functions import word_tokens
    from ..operators import sketch

    d = rebalance(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select(F.explode(word_tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cells = sketch.cms_cells(tf, "term", "cnt")
    top = (
        tf.withColumn(
            "__rk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("term"))
            ),
        )
        .filter(F.col("__rk") <= _CMS_TOPK)
        .select("term", F.col("cnt").alias("exact_cnt"))
    )
    est = sketch.cms_estimate(cells, top, "term")
    return est.select(
        "term",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )


def _cms_oracle() -> str:
    from ..operators.sketch import CMS_DEPTH, CMS_WIDTH

    w = CMS_WIDTH
    bucket = (
        f"((spark_xxhash64(concat(CAST(r AS VARCHAR), '#', term)) % {w})"
        f" + {w}) % {w}"
    )
    return f"""
WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS term
    FROM documents
),
tf AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
cells AS (
    SELECT r, {bucket} AS bucket, sum(cnt) AS cell
    FROM tf, unnest(range(0, {CMS_DEPTH})) AS u(r)
    GROUP BY 1, 2
),
top AS (
    SELECT term, cnt AS exact_cnt FROM tf
    QUALIFY row_number() OVER (ORDER BY cnt DESC, term) <= {_CMS_TOPK}
),
probe AS (
    SELECT term, exact_cnt, r, {bucket} AS bucket
    FROM top, unnest(range(0, {CMS_DEPTH})) AS u(r)
)
SELECT p.term, p.exact_cnt, min(c.cell) AS cms_est,
       min(c.cell) - p.exact_cnt AS overcount
FROM probe p JOIN cells c USING (r, bucket)
GROUP BY 1, 2
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts of the MinHash-LSH candidate graph —
    how mutually-confirming each document's duplicate evidence is.
    Degree-ordered orientation bounds wedge fan-out under skew; the
    oracle is the orientation-free canonical three-way join (same
    triangles by construction)."""
    from ..operators import graph

    d = rebalance(load_table(spark, sf_dir, "documents"))
    sigs = dedup.minhash_signatures(d, k=_MINHASH_K, num_hashes=_MINHASH_N)
    pairs = dedup.lsh_candidate_pairs(
        sigs, num_hashes=_MINHASH_N, bands=_MINHASH_BANDS
    )
    return graph.triangle_counts(pairs, "id_a", "id_b")


def _triangle_oracle() -> str:
    pairs = _minhash_oracle().strip()
    return f"""
WITH e AS ({pairs}),
tri AS (
    SELECT e1.id_a AS u, e1.id_b AS v, e2.id_b AS w
    FROM e e1
    JOIN e e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
    JOIN e e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b
)
SELECT node, count(*) AS n_triangles
FROM (
    SELECT u AS node FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri
)
GROUP BY 1
"""


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance reduction over the embedding corpus
    (the PCA/whitening input): d(d+1)/2 upper-triangle pairs per row
    through one map-side-combined hash aggregate."""
    e = rebalance(load_table(spark, sf_dir, "embeddings")).select("embedding")
    return similarity.embedding_covariance(e)


ORACLE_EMB_COV = """
WITH x AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
    WHERE embedding IS NOT NULL
)
SELECT a.i AS i, b.i AS j, count(*) AS n_vecs,
       round(avg(a.v * b.v) - avg(a.v) * avg(b.v), 6) + 0.0 AS cov_pop
FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY 1, 2
"""


AUX_QUERIES.update(
    {
        "novelty_score": q_novelty_score,
        "inverted_index": q_inverted_index,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "triangle_count": q_triangle_count,
        "embedding_covariance": q_embedding_covariance,
    }
)

AUX_ORACLES.update(
    {
        "novelty_score": _novelty_oracle(),
        "inverted_index": ORACLE_INVERTED_INDEX,
        "cms_heavy_hitters": _cms_oracle(),
        "triangle_count": _triangle_oracle(),
        "embedding_covariance": ORACLE_EMB_COV,
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# ---------------------------------------------------------------------------
# Round-6 widening, batch 2: weighted sampling, association stats,
# OHLC rollup, PageRank
# ---------------------------------------------------------------------------

_WPS_K = 20
_WPS_SALT = 11


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Duffield–Lund–Thorup priority sampling): per source, the 20
    highest-priority documents weighted by length.  Priorities are
    exact cross-engine arithmetic (40-bit hash slice -> dyadic-exact
    uniform -> one IEEE division), so the oracle reproduces the
    SAME sample — the property data mixing needs from a sampler."""
    d = rebalance(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "n_chars"
    )
    return sampling.weighted_priority_sample(
        d, k=_WPS_K, weight_col="n_chars", key_col="doc_id",
        group_cols=["source"], salt=_WPS_SALT,
    )


def _weighted_sample_oracle() -> str:
    h = _duck_hash("CAST(doc_id AS VARCHAR)", _WPS_SALT)
    two40 = 1 << 40
    return f"""
WITH pri AS (
    SELECT doc_id, source, n_chars,
           CAST(n_chars AS DOUBLE)
             / ((({h} % {two40}) + 0.5) / {float(two40)!r}) AS p
    FROM documents
    WHERE n_chars > 0
)
SELECT doc_id, source, n_chars, round(p, 6) AS priority
FROM pri
QUALIFY row_number() OVER (PARTITION BY source ORDER BY p DESC, doc_id)
        <= {_WPS_K}
"""


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between document language and
    source (plus Cramér's V) — ONE contingency aggregate over the
    corpus, margins derived from the cell table."""
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents"))
    return stats.chi_square_assoc(d, "lang", "source")


ORACLE_CHI_SQUARE = """
WITH cells AS (
    SELECT lang AS a, source AS b, count(*) AS o
    FROM documents
    WHERE lang IS NOT NULL AND source IS NOT NULL
    GROUP BY 1, 2
),
ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
cb AS (SELECT b, sum(o) AS cb FROM cells GROUP BY 1),
tot AS (
    SELECT sum(o) AS n, count(DISTINCT a) AS ka, count(DISTINCT b) AS kb
    FROM cells
),
chi AS (
    SELECT max(tot.n) AS n, max(tot.ka) AS ka, max(tot.kb) AS kb,
           round(sum(pow(cells.o - CAST(ra.ra AS DOUBLE) * cb.cb / tot.n, 2)
                     / (CAST(ra.ra AS DOUBLE) * cb.cb / tot.n)), 6) AS chi2
    FROM cells JOIN ra USING (a) JOIN cb USING (b), tot
)
SELECT n, (ka - 1) * (kb - 1) AS dof, chi2,
       round(CASE WHEN least(ka - 1, kb - 1) > 0
                  THEN sqrt(chi2 / (n * least(ka - 1, kb - 1)))
             END, 6) AS cramers_v
FROM chi
"""


_OHLC_BUCKET_S = 3600


def q_ohlc_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event type over the event stream —
    open/close by (ts, event_id) inside the SAME single hash aggregate
    as high/low/sum (min_by/max_by partial-combine; a rank window
    could not)."""
    from ..operators import windows as w

    e = rebalance(load_table(spark, sf_dir, "events"))
    return w.ohlc_bucket(
        e, "event_type", "ts", "value", "event_id",
        bucket_seconds=_OHLC_BUCKET_S,
    )


ORACLE_OHLC = f"""
WITH b AS (
    SELECT event_type AS key,
           (CAST(floor(epoch(ts)) AS BIGINT) // {_OHLC_BUCKET_S})
               * {_OHLC_BUCKET_S} AS bucket_epoch,
           value AS v, ts, event_id
    FROM events
),
o AS (
    SELECT key, bucket_epoch, v,
           row_number() OVER (PARTITION BY key, bucket_epoch
                              ORDER BY ts, event_id) AS rn_a,
           row_number() OVER (PARTITION BY key, bucket_epoch
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM b
)
SELECT key, bucket_epoch,
       round(max(CASE WHEN rn_a = 1 THEN v END), 4) AS open,
       round(max(v), 4) AS high,
       round(min(v), 4) AS low,
       round(max(CASE WHEN rn_d = 1 THEN v END), 4) AS close,
       count(*) AS n_events,
       round(sum(v), 4) AS sum_value
FROM o
GROUP BY 1, 2
"""


_PR_ITERS = 3
_PR_DAMPING = 0.85


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the MinHash-LSH candidate graph —
    duplicate-cluster centrality (the natural canonical-doc tiebreak).
    Edge+degree tables checkpointed once; each iteration is one
    equi-join + one keyed sum."""
    from ..operators import graph

    d = rebalance(load_table(spark, sf_dir, "documents"))
    sigs = dedup.minhash_signatures(d, k=_MINHASH_K, num_hashes=_MINHASH_N)
    pairs = dedup.lsh_candidate_pairs(
        sigs, num_hashes=_MINHASH_N, bands=_MINHASH_BANDS
    )
    return graph.pagerank(
        pairs, "id_a", "id_b", iterations=_PR_ITERS, damping=_PR_DAMPING
    )


def _pagerank_oracle() -> str:
    pairs = _minhash_oracle().strip()
    d = _PR_DAMPING
    tp = repr(1.0 - d)
    prev = "r0"
    iters = []
    for i in range(1, _PR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
    SELECT s.v AS node, {tp} / max(n.nn) + {d!r} * sum({prev}.r / deg.deg) AS r
    FROM sym s
    JOIN deg ON s.u = deg.u
    JOIN {prev} ON {prev}.node = s.u, n
    GROUP BY s.v
)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH e AS ({pairs}),
sym AS (
    SELECT id_a AS u, id_b AS v FROM e
    UNION
    SELECT id_b, id_a FROM e
),
deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1),
n AS (SELECT count(*) AS nn FROM deg),
r0 AS (SELECT u AS node, 1.0 / nn AS r FROM deg, n),
{chain}
SELECT node, round(r, 6) AS rank FROM {prev}
"""


AUX_QUERIES.update(
    {
        "weighted_sample": q_weighted_sample,
        "chi_square": q_chi_square,
        "ohlc_bucket": q_ohlc_bucket,
        "pagerank": q_pagerank,
    }
)

AUX_ORACLES.update(
    {
        "weighted_sample": _weighted_sample_oracle(),
        "chi_square": ORACLE_CHI_SQUARE,
        "ohlc_bucket": ORACLE_OHLC,
        "pagerank": _pagerank_oracle(),
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as REAL Structured Streaming:
    ``session_window`` (engine-managed merging session state,
    watermark-bounded) drained with Trigger.AvailableNow, then the
    per-user rollup applied as a batch post-aggregation on the sink
    table (streaming forbids stacked aggregations).  Same oracle as
    the batch lag+cumsum ``sessionize`` query — the two session
    formulations must agree exactly, including the gap-boundary
    convention (an event exactly at prev + gap starts a NEW session in
    session_window, which the strict ``>`` in the batch form matches
    only because event timestamps are microsecond-distinct; a fixture
    with exact-gap pairs would surface the difference — that is the
    point of running both)."""
    import tempfile

    from ..streaming import incremental

    agg = _stream_plan_session(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="stream_session_ckpt_")
    incremental.run_to_memory_sink(agg, "stream_session_out", ckpt)
    return (
        spark.table("stream_session_out")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_in_session").alias("n_events"),
        )
    )


def _stream_plan_session(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Pre-sink streaming plan for q_streaming_session."""
    events, ts_was_ntz = _stream_events(
        spark, sf_dir,
        stream_dir=stream_dir, max_files_per_trigger=max_files_per_trigger,
    )
    if ts_was_ntz:
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_in_session"))
    )


AUX_QUERIES["streaming_session"] = q_streaming_session
AUX_ORACLES["streaming_session"] = ORACLE_SESSIONIZE

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# ---------------------------------------------------------------------------
# Round-6 widening, batch 3: retrieval (BM25, sparse similarity) and
# ANN quality measurement
# ---------------------------------------------------------------------------

_BM25_QUERY = ["join", "hash", "vector"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a 3-term query —
    corpus filtered to query terms immediately (narrow), one (doc,
    term) tf aggregate, dimension-sized df/avgdl side tables."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    return text.bm25_score(
        d, _BM25_QUERY, k1=_BM25_K1, b=_BM25_B
    )


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_QUERY)
    k1, b = _BM25_K1, _BM25_B
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE term IN ({terms})
    GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
SELECT tf.doc_id, count(*) AS n_matched_terms,
       round(sum(
           ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({k1!r} + 1)
           / (tf.tf + {k1!r} * (1 - {b!r} + {b!r} * dl.dl / stats.avgdl))
       ), 6) AS bm25
FROM tf
JOIN dfreq USING (term)
JOIN dl USING (doc_id), stats
GROUP BY 1
"""


_TDS_THRESHOLD = 0.5


def q_tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical near-dup / related-doc pairs: cosine over tf-idf
    bigram vectors, candidates from a df-banded term-keyed posting
    self-join (prefix-filtered so head terms never fan out)."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    return text.tfidf_doc_similarity(d, threshold=_TDS_THRESHOLD)


def _tfidf_sim_oracle() -> str:
    n = 2
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
),
grams AS (
    SELECT doc_id, array_to_string(t[i+1:i+{n}], ' ') AS term
    FROM toks, unnest(range(0, greatest(0, len(t) - {n - 1}))) AS u(i)
    WHERE len(t) >= {n}
),
td AS (SELECT doc_id, term, count(*) AS tf FROM grams GROUP BY 1, 2),
stats AS (
    SELECT count(*) AS nd, least((count(*) + 9) // 10, 500) AS cap
    FROM documents
),
dfreq AS (
    SELECT term, count(*) AS df, max(stats.nd) AS nd
    FROM td, stats
    GROUP BY term, stats.cap
    HAVING count(*) BETWEEN 2 AND max(stats.cap)
),
w AS (
    SELECT td.doc_id, td.term, td.tf * ln(CAST(dfreq.nd AS DOUBLE) / dfreq.df) AS w
    FROM td JOIN dfreq USING (term)
),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
dots AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
    FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE round(dot / (na.nrm * nb.nrm), 6) >= {_TDS_THRESHOLD!r}
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the hyperplane-LSH ANN path against the exact
    brute-force ranking, per probe — the quality metric that licenses
    the ANN plan at 100 TB (both sides are the already-verified
    operators; this composes them into the measurement)."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact = similarity.brute_force_topk(e, probes, k=10).select(
        "probe_id", "vec_id"
    )
    ann = similarity.lsh_topk(
        e, probes, k=10, dim=_LSH_DIM, num_planes=_LSH_PLANES, seed=_LSH_SEED
    ).select("probe_id", "vec_id")
    hits = exact.join(ann, ["probe_id", "vec_id"], "left_semi")
    return (
        exact.groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(
            hits.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "probe_id",
            "left",
        )
        .select(
            "probe_id",
            "k",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("k"), 6
            ).alias("recall"),
        )
    )


def _ann_recall_oracle() -> str:
    return f"""
WITH exact AS ({ORACLE_COSINE_TOPK.strip()}),
ann AS ({_lsh_oracle().strip()}),
hits AS (
    SELECT e.probe_id, e.vec_id
    FROM exact e SEMI JOIN ann a
      ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
)
SELECT e.probe_id, count(*) AS k,
       coalesce(max(h.n), 0) AS n_hit,
       round(coalesce(max(h.n), 0) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM exact e
LEFT JOIN (SELECT probe_id, count(*) AS n FROM hits GROUP BY 1) h
       ON h.probe_id = e.probe_id
GROUP BY 1
"""


AUX_QUERIES.update(
    {
        "bm25_score": q_bm25_score,
        "tfidf_doc_similarity": q_tfidf_doc_similarity,
        "ann_recall": q_ann_recall,
    }
)

AUX_ORACLES.update(
    {
        "bm25_score": _bm25_oracle(),
        "tfidf_doc_similarity": _tfidf_sim_oracle(),
        "ann_recall": _ann_recall_oracle(),
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# ---------------------------------------------------------------------------
# Round-6 widening, batch 4: information-theoretic corpus statistics
# ---------------------------------------------------------------------------


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) — tf-collapsed
    count aggregate + doc-keyed fold, linear in tokens."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    return text.token_entropy(d)


ORACLE_TOKEN_ENTROPY = """
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS t
    FROM documents
),
tc AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2)
SELECT doc_id, sum(c) AS n_tokens,
       round(ln(CAST(sum(c) AS DOUBLE))
             - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c),
             6) AS entropy
FROM tc GROUP BY 1
"""


_KL_ALPHA = 0.5


def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's smoothed unigram distribution
    from the corpus distribution — domain-drift QC for mixing."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    return text.source_kl_divergence(d, alpha=_KL_ALPHA)


ORACLE_SOURCE_KL = f"""
WITH toks AS (
    SELECT source AS grp,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS t
    FROM documents
),
st AS (SELECT grp, t, count(*) AS c FROM toks GROUP BY 1, 2),
vocab AS (SELECT t, sum(c) AS ct FROM st GROUP BY 1),
vsize AS (SELECT count(*) AS v, sum(ct) AS nc FROM vocab),
groups AS (SELECT grp, sum(c) AS ng FROM st GROUP BY 1),
grid AS (
    SELECT g.grp, g.ng, vs.v, coalesce(st.c, 0) AS c, vb.ct, vs.nc
    FROM groups g
    CROSS JOIN vocab vb
    LEFT JOIN st ON st.grp = g.grp AND st.t = vb.t
    CROSS JOIN vsize vs
)
SELECT grp AS source, count(*) AS n_terms,
       round(sum(
           ((c + {_KL_ALPHA!r}) / (ng + {_KL_ALPHA!r} * v))
           * ln(((c + {_KL_ALPHA!r}) / (ng + {_KL_ALPHA!r} * v))
                / ((ct + {_KL_ALPHA!r}) / (nc + {_KL_ALPHA!r} * v)))
       ), 6) AS kl_nats
FROM grid GROUP BY 1
"""


_PMI_MIN_COUNT = 5


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI of adjacent word pairs at min pair count 5 — collocation
    detection from two tf-collapsed count aggregates."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    return text.pmi_collocations(d, min_count=_PMI_MIN_COUNT)


ORACLE_PMI = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
),
bg AS (
    SELECT t[i+1] AS w1, t[i+2] AS w2, count(*) AS pair_count
    FROM toks, unnest(range(0, greatest(0, len(t) - 1))) AS u(i)
    GROUP BY 1, 2
    HAVING count(*) >= {_PMI_MIN_COUNT}
),
uni AS (
    SELECT t2 AS t, count(*) AS c
    FROM (SELECT unnest(t) AS t2 FROM toks)
    GROUP BY 1
),
tb AS (SELECT sum(greatest(len(t) - 1, 0)) AS tb FROM toks),
tu AS (SELECT sum(c) AS tu FROM uni)
SELECT bg.w1, bg.w2, bg.pair_count,
       round(ln((CAST(bg.pair_count AS DOUBLE) / tb.tb)
                / ((CAST(u1.c AS DOUBLE) / tu.tu)
                   * (CAST(u2.c AS DOUBLE) / tu.tu))), 6) AS pmi
FROM bg
JOIN uni u1 ON u1.t = bg.w1
JOIN uni u2 ON u2.t = bg.w2, tb, tu
"""


AUX_QUERIES.update(
    {
        "token_entropy": q_token_entropy,
        "source_kl": q_source_kl,
        "pmi_collocations": q_pmi_collocations,
    }
)

AUX_ORACLES.update(
    {
        "token_entropy": ORACLE_TOKEN_ENTROPY,
        "source_kl": ORACLE_SOURCE_KL,
        "pmi_collocations": ORACLE_PMI,
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# ---------------------------------------------------------------------------
# Round-6 widening, batch 5: histogram, correlation matrix, transition
# matrix
# ---------------------------------------------------------------------------

_HIST_BINS = 20


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of lineitem extended price — scalar
    min/max broadcast + one |bins|-keyed count aggregate."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.histogram(li, "l_extendedprice", bins=_HIST_BINS)


ORACLE_HISTOGRAM = f"""
WITH v AS (
    SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
    WHERE l_extendedprice IS NOT NULL
),
bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM v),
binned AS (
    SELECT CASE WHEN bounds.hi = bounds.lo THEN 0
                ELSE least(CAST(floor((v.v - bounds.lo)
                                / ((bounds.hi - bounds.lo) / {_HIST_BINS}))
                           AS INT), {_HIST_BINS - 1})
           END AS bin,
           bounds.lo AS blo, bounds.hi AS bhi
    FROM v, bounds
)
SELECT bin,
       round(blo + bin * (bhi - blo) / {_HIST_BINS}, 6) AS lo,
       round(blo + (bin + 1) * (bhi - blo) / {_HIST_BINS}, 6) AS hi,
       count(*) AS n
FROM binned
GROUP BY bin, blo, bhi
"""


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of four lineitem measures — all
    six pairs in ONE fused aggregate scan, unpivoted to tidy rows."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return stats.corr_matrix(li, _CORR_COLS)


def _corr_oracle() -> str:
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    selects = "\nUNION ALL\n".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"round(corr(CAST({a} AS DOUBLE), CAST({b} AS DOUBLE)), 6) AS corr "
        "FROM lineitem"
        for a, b in pairs
    )
    return selects


def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix of the event stream: P(next | prev)
    over per-user adjacent event types — one lag window pass, one
    |types|²-bounded aggregate."""
    from ..operators import funnels

    e = rebalance(load_table(spark, sf_dir, "events"))
    return funnels.transition_matrix(e)


ORACLE_TRANSITION = """
WITH lagged AS (
    SELECT lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type,
           event_type AS next_type
    FROM events
),
pairs AS (
    SELECT prev_type, next_type, count(*) AS n_transitions
    FROM lagged WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT prev_type, next_type, n_transitions,
       round(CAST(n_transitions AS DOUBLE)
             / sum(n_transitions) OVER (PARTITION BY prev_type), 6) AS p
FROM pairs
"""


AUX_QUERIES.update(
    {
        "histogram": q_histogram,
        "corr_matrix": q_corr_matrix,
        "transition_matrix": q_transition_matrix,
    }
)

AUX_ORACLES.update(
    {
        "histogram": ORACLE_HISTOGRAM,
        "corr_matrix": _corr_oracle(),
        "transition_matrix": ORACLE_TRANSITION,
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# ---------------------------------------------------------------------------
# Round-6 widening, batch 6: robust stats and period comparison
# ---------------------------------------------------------------------------


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-group summary: extended price clamped to the
    exact per-returnflag [p05, p95]; raw vs winsorized means and clip
    counts — quantile table broadcast, data never sorted."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    w = stats.winsorize(li, ["l_returnflag"], "l_extendedprice", 0.05, 0.95)
    v = F.col("l_extendedprice").cast("double")
    return w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((v < F.col("lo_bound")).cast("long")).alias("n_clip_lo"),
        F.sum((v > F.col("hi_bound")).cast("long")).alias("n_clip_hi"),
        F.round(F.avg(v), 4).alias("mean_raw"),
        F.round(F.avg("l_extendedprice_w"), 4).alias("mean_w"),
    )


ORACLE_WINSORIZE = """
WITH q AS (
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.05) AS qlo,
           quantile_cont(l_extendedprice, 0.95) AS qhi
    FROM lineitem GROUP BY 1
)
SELECT li.l_returnflag, count(*) AS n,
       sum(CAST(CAST(li.l_extendedprice AS DOUBLE) < q.qlo AS BIGINT))
           AS n_clip_lo,
       sum(CAST(CAST(li.l_extendedprice AS DOUBLE) > q.qhi AS BIGINT))
           AS n_clip_hi,
       round(avg(CAST(li.l_extendedprice AS DOUBLE)), 4) AS mean_raw,
       round(avg(least(greatest(CAST(li.l_extendedprice AS DOUBLE), q.qlo),
                       q.qhi)), 4) AS mean_w
FROM lineitem li JOIN q USING (l_returnflag)
GROUP BY 1
"""


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit test on order totals — digit extraction is
    pure arithmetic, one 9-row aggregate."""
    from ..operators import stats

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return stats.benford_first_digit(o, "o_totalprice")


ORACLE_BENFORD = """
WITH v AS (
    SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
    WHERE CAST(o_totalprice AS DOUBLE) > 0
),
d AS (
    SELECT CAST(floor(v / pow(10.0, floor(log10(v)))) AS INT) AS digit
    FROM v
),
counts AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
t AS (SELECT sum(n) AS t FROM counts)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / t.t, 6) AS observed_p,
       round(log10(1.0 + 1.0 / digit), 6) AS expected_p,
       round(pow(n - log10(1.0 + 1.0 / digit) * t.t, 2)
             / (log10(1.0 + 1.0 / digit) * t.t), 6) AS chi2_term
FROM counts, t
"""


def q_gini_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of the corpus token-frequency distribution —
    the one-number skew summary over the collapsed vocabulary."""
    from ..functions import word_tokens
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select(F.explode(word_tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return stats.gini_concentration(tf, "cnt")


ORACLE_GINI = """
WITH tf AS (
    SELECT t, count(*) AS cnt
    FROM (SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
                                                       '\\s+'),
                                    x -> x <> '')) AS t
          FROM documents)
    GROUP BY 1
),
ranked AS (
    SELECT CAST(cnt AS DOUBLE) AS c,
           row_number() OVER (ORDER BY cnt ASC) AS i
    FROM tf
)
SELECT count(*) AS n_items, CAST(sum(c) AS BIGINT) AS total,
       round(2.0 * sum(i * c) / (count(*) * sum(c))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
"""


def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue per order priority: one month-keyed
    aggregate, then lag/delta/pct over the tiny aggregate — the
    classic reporting comparison, never a self-join on shifted
    dates."""
    o = rebalance(load_table(spark, sf_dir, "orders"))
    monthly = (
        o.groupBy(
            "o_orderpriority",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias(
                "month"
            ),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "o_orderpriority",
        "month",
        "revenue",
        F.round(F.col("revenue") - prev, 2).alias("mom_delta"),
        F.round((F.col("revenue") - prev) / prev * 100.0, 4).alias(
            "mom_pct"
        ),
    )


ORACLE_POP = """
WITH monthly AS (
    SELECT o_orderpriority,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, month, revenue,
       round(revenue - lag(revenue) OVER w, 2) AS mom_delta,
       round((revenue - lag(revenue) OVER w)
             / lag(revenue) OVER w * 100.0, 4) AS mom_pct
FROM monthly
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
"""


AUX_QUERIES.update(
    {
        "winsorize": q_winsorize,
        "benford": q_benford,
        "gini_tokens": q_gini_tokens,
        "period_over_period": q_period_over_period,
    }
)

AUX_ORACLES.update(
    {
        "winsorize": ORACLE_WINSORIZE,
        "benford": ORACLE_BENFORD,
        "gini_tokens": ORACLE_GINI,
        "period_over_period": ORACLE_POP,
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_RRF_K = 60
_RRF_TOPN = 25


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the BM25 lexical
    ranking and the embedding-cosine ranking (probe = vector 0) are
    fused as sum(1/(60 + rank)) over both lists — the standard hybrid
    search combiner.  Both legs are the already-verified operators;
    the fusion itself is one full-outer join of two top-N rank tables
    (each bounded by N, broadcastable).  Returns the fused top-10 with
    both source ranks."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    lex = (
        text.bm25_score(d, _BM25_QUERY, k1=_BM25_K1, b=_BM25_B)
        .withColumn(
            "lex_rank",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
            ),
        )
        .filter(F.col("lex_rank") <= _RRF_TOPN)
        .select("doc_id", "lex_rank")
    )
    e = load_table(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    sem = (
        similarity.brute_force_topk(e, probe, k=_RRF_TOPN)
        .withColumn(
            "sem_rank",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy(
                    F.col("cosine").desc(), F.col("vec_id")
                )
            ),
        )
        .select(F.col("vec_id").alias("doc_id"), "sem_rank")
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("sem_rank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number().over(
                Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
            ),
        )
        .filter(F.col("fused_rank") <= 10)
    )


def _hybrid_oracle() -> str:
    bm25 = _bm25_oracle().strip()
    return f"""
WITH bm AS ({bm25}),
lex AS (
    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
               AS lex_rank
    FROM bm
    QUALIFY lex_rank <= {_RRF_TOPN}
),
probe AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
scored AS (
    SELECT e.vec_id AS doc_id,
           round({_DUCK_COSINE.format(a="e.embedding", b="p.pv")}, 6)
               AS cosine
    FROM embeddings e CROSS JOIN probe p
),
sem AS (
    SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id)
               AS sem_rank
    FROM scored
    QUALIFY sem_rank <= {_RRF_TOPN}
),
fused AS (
    SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
           lex.lex_rank, sem.sem_rank,
           round(coalesce(1.0 / ({_RRF_K} + lex.lex_rank), 0.0)
                 + coalesce(1.0 / ({_RRF_K} + sem.sem_rank), 0.0), 6)
               AS rrf
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf,
       row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
FROM fused
QUALIFY fused_rank <= 10
"""


AUX_QUERIES["hybrid_retrieval"] = q_hybrid_retrieval
AUX_ORACLES["hybrid_retrieval"] = _hybrid_oracle()

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis of the lineitem join key (l_orderkey): one-row
    frequency-distribution summary deciding shuffle vs salt vs
    broadcast — everything after the key-count aggregate is
    dimension-sized."""
    from ..operators import skew

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    return skew.key_skew_profile(li, "l_orderkey")


ORACLE_KEY_SKEW = """
WITH counts AS (
    SELECT l_orderkey AS k, count(*) AS c
    FROM lineitem WHERE l_orderkey IS NOT NULL
    GROUP BY 1
),
top AS (
    SELECT CAST(k AS VARCHAR) AS top_key, c AS top_count
    FROM counts
    QUALIFY row_number() OVER (ORDER BY c DESC, k) = 1
),
qs AS (
    SELECT quantile_cont(c, 0.5) AS p50_count,
           quantile_cont(c, 0.99) AS p99_count
    FROM counts
),
tot AS (SELECT count(*) AS n_keys, sum(c) AS n_rows FROM counts)
SELECT tot.n_keys, tot.n_rows, top.top_key, top.top_count,
       round(CAST(top.top_count AS DOUBLE) / tot.n_rows, 6) AS top1_share,
       round(qs.p50_count, 6) AS p50_count,
       round(qs.p99_count, 6) AS p99_count,
       round(qs.p99_count / qs.p50_count, 6) AS skew_ratio
FROM tot, top, qs
"""


AUX_QUERIES["key_skew_profile"] = q_key_skew_profile
AUX_ORACLES["key_skew_profile"] = ORACLE_KEY_SKEW

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_RAU_WINDOW = 7


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + trailing-7-day active users per calendar day — distinct
    (user, day) collapse, then a bounded 7-day explode; never a
    count-distinct-over-range window."""
    from ..operators import funnels

    e = rebalance(load_table(spark, sf_dir, "events"))
    return funnels.rolling_active_users(e, window_days=_RAU_WINDOW)


ORACLE_RAU = f"""
WITH ud AS (
    SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events
),
dau AS (SELECT d AS day, count(*) AS dau FROM ud GROUP BY 1),
last AS (SELECT max(d) AS last_d FROM ud),
contrib AS (
    SELECT u, CAST(unnest(range(0, {_RAU_WINDOW})) AS INT) AS off, d
    FROM ud
),
expanded AS (
    SELECT u, CAST(d + to_days(off) AS DATE) AS day FROM contrib, last
    WHERE CAST(d + to_days(off) AS DATE) <= last.last_d
),
wau AS (SELECT day, count(DISTINCT u) AS wau FROM expanded GROUP BY 1)
SELECT wau.day, coalesce(dau.dau, 0) AS dau, wau.wau
FROM wau LEFT JOIN dau ON dau.day = wau.day
"""


AUX_QUERIES["rolling_active_users"] = q_rolling_active_users
AUX_ORACLES["rolling_active_users"] = ORACLE_RAU

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_COPURCHASE_MAX_BASKET = 40
_COPURCHASE_MIN_SHARED = 2


def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequently-bought-together part pairs: parts sharing at least 2
    distinct customers, via the customer-keyed self-join of the
    distinct (customer, part) bipartite table.

    Scale shape: the bipartite table collapses to DISTINCT
    (customer, part) FIRST; then — the fan-out control — customers
    with baskets above 40 distinct parts are DROPPED before the
    self-join (a hot customer contributes basket² pairs for
    near-zero signal; the same prefix-filter argument as the sparse
    tf-idf join, and the cut is explicit rather than a silent cap).
    The pair aggregate is map-side combined on (part_a, part_b)."""
    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_partkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    basket = cp.groupBy("c").agg(F.count(F.lit(1)).alias("__b"))
    bounded = cp.join(
        basket.filter(F.col("__b") <= _COPURCHASE_MAX_BASKET).select("c"),
        "c",
        "left_semi",
    )
    a = bounded.select("c", F.col("p").alias("part_a"))
    b = bounded.select("c", F.col("p").alias("part_b"))
    return (
        a.join(b, "c")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_shared_customers"))
        .filter(F.col("n_shared_customers") >= _COPURCHASE_MIN_SHARED)
    )


ORACLE_COPURCHASE = f"""
WITH cp AS (
    SELECT DISTINCT o.o_custkey AS c, li.l_partkey AS p
    FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
),
basket AS (SELECT c FROM cp GROUP BY c
           HAVING count(*) <= {_COPURCHASE_MAX_BASKET}),
bounded AS (SELECT cp.c, cp.p FROM cp SEMI JOIN basket USING (c))
SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_shared_customers
FROM bounded a JOIN bounded b ON a.c = b.c AND a.p < b.p
GROUP BY 1, 2
HAVING count(*) >= {_COPURCHASE_MIN_SHARED}
"""


AUX_QUERIES["copurchase_pairs"] = q_copurchase_pairs
AUX_ORACLES["copurchase_pairs"] = ORACLE_COPURCHASE

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_TWAP_BUCKET_S = 3600


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-weighted average value per event type — the honest
    aggregate for irregularly-sampled gauge series (one lead window +
    one hash aggregate)."""
    from ..operators import windows as w

    e = rebalance(load_table(spark, sf_dir, "events"))
    return w.time_weighted_avg(
        e, "event_type", "ts", "value", "event_id",
        bucket_seconds=_TWAP_BUCKET_S,
    )


ORACLE_TWAP = f"""
WITH b AS (
    SELECT event_type AS key,
           (CAST(floor(epoch(ts)) AS BIGINT) // {_TWAP_BUCKET_S})
               * {_TWAP_BUCKET_S} AS bucket_epoch,
           CAST(floor(epoch(ts)) AS BIGINT) AS e,
           event_id,
           CAST(value AS DOUBLE) AS v
    FROM events
),
staged AS (
    SELECT key, bucket_epoch, v,
           coalesce(
               lead(e) OVER (PARTITION BY key, bucket_epoch
                             ORDER BY e, event_id),
               bucket_epoch + {_TWAP_BUCKET_S}
           ) - e AS dt
    FROM b
)
SELECT key, bucket_epoch, count(*) AS n_obs,
       round(sum(v * dt) / sum(dt), 6) AS twap
FROM staged
GROUP BY 1, 2
"""


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift detection per event type: the no-reset CUSUM
    excursion in sigma*sqrt(n) units, plus when it peaked — one
    stats aggregate broadcast + one running-sum window."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    return stats.cusum_drift(e, "event_type", "ts", "value", "event_id")


ORACLE_CUSUM = """
WITH s AS (
    SELECT event_type AS k, count(*) AS n,
           avg(CAST(value AS DOUBLE)) AS mu,
           stddev_pop(CAST(value AS DOUBLE)) AS sd
    FROM events GROUP BY 1
    HAVING count(*) >= 2 AND stddev_pop(CAST(value AS DOUBLE)) > 0
),
st AS (
    SELECT e.event_type AS k, e.ts, e.event_id, s.n, s.mu, s.sd,
           sum(CAST(e.value AS DOUBLE) - s.mu)
               OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id
                     ROWS UNBOUNDED PRECEDING) AS cs
    FROM events e JOIN s ON s.k = e.event_type
),
d AS (
    SELECT k, ts, event_id, n, mu, sd,
           abs(cs) / (sd * sqrt(n)) AS drift
    FROM st
),
peak AS (
    SELECT k, ts AS peak_ts
    FROM d
    QUALIFY row_number() OVER (PARTITION BY k
                               ORDER BY drift DESC, ts DESC,
                                        event_id DESC) = 1
)
SELECT d.k AS event_type, max(d.n) AS n,
       round(max(d.mu), 6) AS mean,
       round(max(d.sd), 6) AS sigma,
       round(max(d.drift), 6) AS max_drift_sigmas,
       max(peak.peak_ts) AS peak_ts
FROM d JOIN peak ON peak.k = d.k
GROUP BY 1
"""


AUX_QUERIES.update(
    {"twap": q_twap, "cusum_drift": q_cusum_drift}
)
AUX_ORACLES.update(
    {"twap": ORACLE_TWAP, "cusum_drift": ORACLE_CUSUM}
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_events_daily_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed events-side report (the analytics twin of
    curation_pipeline): per calendar day — event volume, DAU,
    trailing-7-day actives, sessions started (30-min gap), purchase
    count and revenue.  Every leg is an already-verified operator
    shape (distinct-collapse actives, lag-window sessionization,
    conditional aggregates), joined on the |days|-sized day key, so
    the composition stays one lazy plan with day-keyed
    dimension-sized joins at the top."""
    e = rebalance(load_table(spark, sf_dir, "events"))
    day = F.to_date("ts").alias("day")
    vol = e.groupBy(day).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias(
            "n_purchases"
        ),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
            ),
            2,
        ).alias("purchase_value"),
    )
    from ..operators import funnels, intervals

    active = funnels.rolling_active_users(e, window_days=7)
    starts = (
        intervals.sessionize(
            e.select("user_id", "ts"), "ts", ["user_id"],
            gap="INTERVAL 30 MINUTE",
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("__s0"))
        .groupBy(F.to_date("__s0").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_sessions_started"))
    )
    return (
        vol.join(active, "day", "left")
        .join(starts, "day", "left")
        .select(
            "day",
            "n_events",
            F.coalesce("dau", F.lit(0)).alias("dau"),
            F.coalesce("wau", F.lit(0)).alias("wau"),
            F.coalesce("n_sessions_started", F.lit(0)).alias(
                "n_sessions_started"
            ),
            "n_purchases",
            F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
        )
    )


ORACLE_DAILY_OVERVIEW = """
WITH vol AS (
    SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
           sum(CAST(event_type = 'purchase' AS BIGINT)) AS n_purchases,
           round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2)
               AS purchase_value
    FROM events GROUP BY 1
),
ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
dau AS (SELECT d AS day, count(*) AS dau FROM ud GROUP BY 1),
last AS (SELECT max(d) AS last_d FROM ud),
wau AS (
    SELECT CAST(d + to_days(CAST(off AS INT)) AS DATE) AS day,
           count(DISTINCT u) AS wau
    FROM (SELECT u, d, unnest(range(0, 7)) AS off FROM ud), last
    WHERE CAST(d + to_days(CAST(off AS INT)) AS DATE) <= last.last_d
    GROUP BY 1
),
g AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
),
starts AS (
    SELECT CAST(ts AS DATE) AS day, count(*) AS n_sessions_started
    FROM g WHERE new_s = 1 GROUP BY 1
)
SELECT vol.day, vol.n_events,
       coalesce(dau.dau, 0) AS dau,
       coalesce(wau.wau, 0) AS wau,
       coalesce(starts.n_sessions_started, 0) AS n_sessions_started,
       vol.n_purchases,
       coalesce(vol.purchase_value, 0.0) AS purchase_value
FROM vol
LEFT JOIN dau ON dau.day = vol.day
LEFT JOIN wau ON wau.day = vol.day
LEFT JOIN starts ON starts.day = vol.day
"""


AUX_QUERIES["events_daily_overview"] = q_events_daily_overview
AUX_ORACLES["events_daily_overview"] = ORACLE_DAILY_OVERVIEW

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_PASSAGE_LEN = 16  # tokens per passage for exact passage-level dedup


def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact passage-level dedup (the chunk-granular sibling of
    exact_dedup and the bounded form of suffix-array substring dedup):
    split every document into non-overlapping 16-token passages,
    digest each, and report passages appearing in 2+ DISTINCT
    documents with their spread — the cross-document duplicated
    passages a substring-dedup pass would strike.

    Scale shape: tokenize once, narrow slice/digest HOFs, then ONE
    digest-keyed aggregate over (doc, passage-digest)-distinct rows —
    the corpus-wide exchange carries 8-byte digests only, identical
    budget to exact_dedup."""
    from ..functions import portable_hash64, word_tokens

    d = rebalance(load_table(spark, sf_dir, "documents"))
    toks = F.col("__toks")
    n_chunks = F.ceil(F.size(toks) / _PASSAGE_LEN).cast("int")
    digests = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: portable_hash64(
            F.array_join(
                F.slice(toks, i * _PASSAGE_LEN + 1, _PASSAGE_LEN), " "
            )
        ),
    )
    pairs = (
        d.select("doc_id", word_tokens("text").alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select("doc_id", F.explode(F.array_distinct(digests)).alias("ph"))
        .distinct()
    )
    return (
        pairs.groupBy("ph")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def _duplicate_passages_oracle() -> str:
    L = _PASSAGE_LEN
    digest = _duck_hash(f"array_to_string(t[i*{L}+1:i*{L}+{L}], ' ')", 0)
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
),
pairs AS (
    SELECT DISTINCT doc_id, {digest} AS ph
    FROM toks,
         unnest(range(0, CAST(ceil(len(t) / {L}.0) AS BIGINT))) AS u(i)
    WHERE len(t) > 0
)
SELECT ph, count(*) AS n_docs, min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM pairs
GROUP BY 1
HAVING count(*) >= 2
"""


def q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-density profiling per source: URL-shaped token counts and
    the link-spam share (docs whose text is >10% URL tokens) — a
    cheap curation gate alongside quality_score.  RE2-compatible
    pattern so the oracle evaluates the IDENTICAL regex.  NOTE: the
    synthetic corpus contains no URLs, so the corpus-level oracle
    pins the aggregation shape only; actual extraction (and the
    escaping contract — Spark SQL literals eat one backslash level,
    DuckDB literals don't) is pinned by the planted unit test."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    # Spark SQL string literals process backslash escapes, so the
    # literal must carry \\s to deliver \s to the regex engine
    url_re = r"https?://[^\\s]+"
    n_urls = F.size(
        F.expr(f"regexp_extract_all(text, '{url_re}', 0)")
    )
    from ..functions import word_tokens

    n_toks = F.size(word_tokens("text"))
    per_doc = d.select(
        "source",
        n_urls.alias("__u"),
        n_toks.alias("__t"),
    )
    spammy = (F.col("__t") > 0) & (
        F.col("__u") / F.col("__t") > 0.1
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__u").alias("n_urls"),
        F.sum(spammy.cast("long")).alias("n_link_spam_docs"),
        F.round(F.avg(F.col("__u").cast("double")), 6).alias(
            "avg_urls_per_doc"
        ),
    )


ORACLE_URL_STATS = r"""
WITH per_doc AS (
    SELECT source,
           len(regexp_extract_all(text, 'https?://[^\s]+', 0)) AS u,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '')) AS t
    FROM documents
)
SELECT source, count(*) AS n_docs, sum(u) AS n_urls,
       sum(CAST(t > 0 AND CAST(u AS DOUBLE) / t > 0.1 AS BIGINT))
           AS n_link_spam_docs,
       round(avg(CAST(u AS DOUBLE)), 6) AS avg_urls_per_doc
FROM per_doc
GROUP BY 1
"""


AUX_QUERIES.update(
    {
        "duplicate_passages": q_duplicate_passages,
        "url_stats": q_url_stats,
    }
)
AUX_ORACLES.update(
    {
        "duplicate_passages": _duplicate_passages_oracle(),
        "url_stats": ORACLE_URL_STATS,
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per priority: exact
    p50/p90/p99 of days-to-ship plus the mean — the operational SLA
    report, via the engine's histogram-formulation percentiles (the
    shuffle carries distinct latency values, not line items)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    lat = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "__lat"
        ),
    )
    qs = stats.group_percentiles_exact(
        lat, ["o_orderpriority"], "__lat",
        {"p50_days": 0.5, "p90_days": 0.9, "p99_days": 0.99},
    )
    means = lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.avg("__lat"), 6).alias("mean_days"),
    )
    return means.join(F.broadcast(qs), "o_orderpriority").select(
        "o_orderpriority",
        "n_lines",
        "mean_days",
        F.round("p50_days", 6).alias("p50_days"),
        F.round("p90_days", 6).alias("p90_days"),
        F.round("p99_days", 6).alias("p99_days"),
    )


ORACLE_FULFILLMENT = """
WITH lat AS (
    SELECT o.o_orderpriority,
           date_diff('day', CAST(o.o_orderdate AS DATE),
                     CAST(li.l_shipdate AS DATE)) AS lat
    FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority, count(*) AS n_lines,
       round(avg(lat), 6) AS mean_days,
       round(quantile_cont(lat, 0.5), 6) AS p50_days,
       round(quantile_cont(lat, 0.9), 6) AS p90_days,
       round(quantile_cont(lat, 0.99), 6) AS p99_days
FROM lat GROUP BY 1
"""


def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue concentration (Pareto curve by decile):
    customers ranked by lifetime revenue, split into 10 equal-count
    tiers, each tier's revenue share and the cumulative share — the
    '20% of customers drive 80% of revenue' report.  One customer
    aggregate, one rank window over the |customers|-sized table, one
    tier rollup."""
    o = rebalance(load_table(spark, sf_dir, "orders"))
    rev = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("__rev")
    )
    tiered = rev.withColumn(
        "tier",
        F.ntile(10).over(
            Window.orderBy(F.col("__rev").desc(), F.col("o_custkey"))
        ),
    )
    per_tier = tiered.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("__rev"), 2).alias("tier_revenue"),
    )
    total = per_tier.agg(F.sum("tier_revenue").alias("__t"))
    w_cum = Window.orderBy("tier").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_tier.crossJoin(F.broadcast(total))
        .select(
            "tier",
            "n_customers",
            "tier_revenue",
            F.round(F.col("tier_revenue") / F.col("__t"), 6).alias(
                "revenue_share"
            ),
            F.round(
                F.sum("tier_revenue").over(w_cum) / F.col("__t"), 6
            ).alias("cum_share"),
        )
    )


ORACLE_PARETO = """
WITH rev AS (
    SELECT o_custkey, round(sum(o_totalprice), 2) AS rev
    FROM orders GROUP BY 1
),
tiered AS (
    SELECT rev, ntile(10) OVER (ORDER BY rev DESC, o_custkey) AS tier
    FROM rev
),
per_tier AS (
    SELECT tier, count(*) AS n_customers,
           round(sum(rev), 2) AS tier_revenue
    FROM tiered GROUP BY 1
),
t AS (SELECT sum(tier_revenue) AS t FROM per_tier)
SELECT tier, n_customers, tier_revenue,
       round(tier_revenue / t.t, 6) AS revenue_share,
       round(sum(tier_revenue) OVER (ORDER BY tier
                                     ROWS UNBOUNDED PRECEDING) / t.t,
             6) AS cum_share
FROM per_tier, t
"""


AUX_QUERIES.update(
    {
        "fulfillment_latency": q_fulfillment_latency,
        "revenue_pareto": q_revenue_pareto,
    }
)
AUX_ORACLES.update(
    {
        "fulfillment_latency": ORACLE_FULFILLMENT,
        "revenue_pareto": ORACLE_PARETO,
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_MODEL_WEIGHTS = {
    "n_tokens": 0.02,
    "stopword_ratio": 3.0,
    "punct_ratio": -8.0,
}
_MODEL_BIAS = -1.0


def q_model_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a logistic model over the
    quality_score features (weights as plan literals — the
    fastText-classifier plumbing with the model swapped for a
    transparent linear one), reported per document with its
    keep/drop verdict at 0.5."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    feats = text.quality_score(d)
    scored = text.score_linear_model(
        feats, _MODEL_WEIGHTS, bias=_MODEL_BIAS
    )
    return scored.select(
        "doc_id",
        "model_score",
        (F.col("model_score") >= 0.5).alias("keep"),
    )


def _model_filter_oracle() -> str:
    # feature definitions mirror text.quality_score; weights applied
    # in sorted-column order, matching the operator's add order
    terms = []
    feature_sql = {
        "n_tokens": "CAST(n_tokens AS DOUBLE)",
        "punct_ratio": "punct_ratio",
        "stopword_ratio": "stopword_ratio",
    }
    for col in sorted(_MODEL_WEIGHTS):
        terms.append(f"({_MODEL_WEIGHTS[col]!r}) * {feature_sql[col]}")
    z = f"({_MODEL_BIAS!r}) + " + " + ".join(terms)
    return f"""
WITH feats AS (
    SELECT doc_id,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '')) AS n_tokens,
           round(CASE WHEN length(text) > 0
                 THEN CAST(length(regexp_replace(text,
                          '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                      / length(text)
                 ELSE 0.0 END, 6) AS punct_ratio,
           round(CASE WHEN len(list_filter(string_split_regex(
                          lower(trim(text)), '\\s+'), x -> x <> '')) > 0
                 THEN CAST(len(list_filter(string_split_regex(
                          lower(trim(text)), '\\s+'),
                          x -> list_contains(['the','and','of','to','a',
                                              'in','is','that'], x)))
                          AS DOUBLE)
                      / len(list_filter(string_split_regex(
                          lower(trim(text)), '\\s+'), x -> x <> ''))
                 ELSE 0.0 END, 6) AS stopword_ratio
    FROM documents
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-({z}))), 6) AS model_score,
       round(1.0 / (1.0 + exp(-({z}))), 6) >= 0.5 AS keep
FROM feats
"""


AUX_QUERIES["model_quality_filter"] = q_model_quality_filter
AUX_ORACLES["model_quality_filter"] = _model_filter_oracle()

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles as REAL Structured Streaming: watermarked
    tumbling windows with ``min_by``/``max_by`` open/close inside the
    streaming aggregate (declarative aggs partial-merge across
    micro-batches like any sum), drained with Trigger.AvailableNow.
    Same oracle as the batch ``ohlc_bucket`` — both formulations must
    agree exactly."""
    import tempfile

    from ..streaming import incremental

    agg = _stream_plan_ohlc(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="stream_ohlc_ckpt_")
    incremental.run_to_memory_sink(agg, "stream_ohlc_out", ckpt)
    return spark.table("stream_ohlc_out")


def _stream_plan_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-sink streaming plan for q_streaming_ohlc."""
    events, ts_was_ntz = _stream_events(spark, sf_dir)
    if ts_was_ntz:
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    order = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"),
            F.col("event_type").alias("key"),
        )
        .agg(
            F.round(F.min_by("value", order), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", order), 4).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "key",
            F.unix_timestamp(F.col("w.start").cast("timestamp")).alias(
                "bucket_epoch"
            ),
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "sum_value",
        )
    )


AUX_QUERIES["streaming_ohlc"] = q_streaming_ohlc
AUX_ORACLES["streaming_ohlc"] = ORACLE_OHLC

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between sources: Jaccard and both
    containments per source pair — the set-based complement of the
    distributional ``source_kl`` drift (a source can match the corpus
    distribution yet use a disjoint vocabulary).  One (source, term)
    distinct collapse; the pair join runs on the |sources×vocab|
    table, with per-source sizes broadcast back."""
    from ..functions import word_tokens

    d = rebalance(load_table(spark, sf_dir, "documents"))
    st = (
        d.select("source", F.explode(word_tokens("text")).alias("__t"))
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    a = st.select(F.col("source").alias("source_a"), "__t")
    b = st.select(F.col("source").alias("source_b"), "__t")
    inter = (
        a.join(b, "__t")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = sizes.select(
        F.col("source").alias("source_a"), F.col("__n").alias("__na")
    )
    nb = sizes.select(
        F.col("source").alias("source_b"), F.col("__n").alias("__nb")
    )
    return (
        inter.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("__na") + F.col("__nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
            F.round(F.col("n_shared") / F.col("__na"), 6).alias(
                "containment_a"
            ),
            F.round(F.col("n_shared") / F.col("__nb"), 6).alias(
                "containment_b"
            ),
        )
    )


ORACLE_SOURCE_OVERLAP = """
WITH st AS (
    SELECT DISTINCT source,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS t
    FROM documents
),
sizes AS (SELECT source, count(*) AS n FROM st GROUP BY 1),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared
    FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_shared,
       round(CAST(i.n_shared AS DOUBLE)
             / (na.n + nb.n - i.n_shared), 6) AS jaccard,
       round(CAST(i.n_shared AS DOUBLE) / na.n, 6) AS containment_a,
       round(CAST(i.n_shared AS DOUBLE) / nb.n, 6) AS containment_b
FROM inter i
JOIN sizes na ON na.source = i.source_a
JOIN sizes nb ON nb.source = i.source_b
"""


_SPECTRUM_MAX_R = 10


def q_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies spectrum (the Good–Turing smoothing
    input): how many distinct terms occur exactly r times, r = 1..10,
    plus the >10 tail bucket — two chained count aggregates, both
    map-side combined, the second vocabulary-sized."""
    from ..functions import word_tokens

    d = rebalance(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select(F.explode(word_tokens("text")).alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    r = F.when(F.col("__c") <= _SPECTRUM_MAX_R, F.col("__c")).otherwise(
        F.lit(_SPECTRUM_MAX_R + 1)
    )
    return (
        tf.groupBy(r.alias("r"))
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("__c").alias("total_occurrences"),
        )
    )


ORACLE_SPECTRUM = f"""
WITH tf AS (
    SELECT t, count(*) AS c
    FROM (SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
                                                       '\\s+'),
                                    x -> x <> '')) AS t
          FROM documents)
    GROUP BY 1
)
SELECT CASE WHEN c <= {_SPECTRUM_MAX_R} THEN c
            ELSE {_SPECTRUM_MAX_R + 1} END AS r,
       count(*) AS n_terms,
       sum(c) AS total_occurrences
FROM tf
GROUP BY 1
"""


_TEMP_MIX_T = 2.0
_TEMP_MIX_BUDGET = 0.5


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (share^(1/T) renormalized —
    the multilingual-sampling schedule): down-sample each source
    toward its temperature-flattened share of a half-corpus budget,
    via the stable hash gate.  One group aggregate + broadcast rate
    table + narrow filter; the corpus never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    return sampling.temperature_mix(
        d,
        "source",
        temperature=_TEMP_MIX_T,
        budget_fraction=_TEMP_MIX_BUDGET,
        key_col="doc_id",
        salt=_SAMPLE_SALT,
    ).select("doc_id", "source", "keep_frac")


ORACLE_TEMPERATURE_MIX = f"""
WITH counts AS (SELECT source, count(*) AS n_g FROM documents
                WHERE source IS NOT NULL GROUP BY 1),
p AS (SELECT source, n_g,
             pow(CAST(n_g AS DOUBLE), {1.0 / _TEMP_MIX_T}) AS w
      FROM counts),
norms AS (SELECT sum(w) AS wsum, sum(n_g) AS n FROM p),
rates AS (SELECT source,
                 least(1.0, {_TEMP_MIX_BUDGET} * norms.n * (w / wsum) / n_g)
                 AS rate
          FROM p, norms)
SELECT d.doc_id, d.source, round(r.rate, 6) AS keep_frac
FROM documents d JOIN rates r USING (source)
WHERE {_duck_hash("CAST(doc_id AS VARCHAR)", _SAMPLE_SALT)} % 1000000
      < CAST(floor(r.rate * 1000000) AS BIGINT)
"""


_PR_SWEEP_DECIMALS = 2


def q_pr_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-calibration sweep: precision/recall/F1 of the gate
    ``quality >= t`` against the is-English label at every distinct
    2-decimal score bucket — the report read before fixing a
    quality-filter cutoff.  Corpus collapses to the bucket table
    first; the cumulative window runs over buckets, never rows."""
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents"))
    scored = text.quality_score(d.select("doc_id", "text", "lang")).withColumn(
        "is_en", F.col("lang") == F.lit("en")
    )
    return stats.pr_threshold_sweep(
        scored, "quality", "is_en", decimals=_PR_SWEEP_DECIMALS
    )


def _pr_sweep_oracle() -> str:
    quality = _quality_oracle().strip()
    return f"""
WITH q AS ({quality}),
lab AS (
    SELECT floor(CAST(q.quality AS DOUBLE) * 100) / 100 AS threshold,
           (d.lang = 'en') AS y
    FROM q JOIN documents d USING (doc_id)
),
bk AS (
    SELECT threshold,
           sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos,
           sum(CASE WHEN y THEN 0 ELSE 1 END) AS neg
    FROM lab GROUP BY 1
),
c AS (
    SELECT threshold,
           sum(pos) OVER (ORDER BY threshold DESC
                          ROWS UNBOUNDED PRECEDING) AS tp,
           sum(neg) OVER (ORDER BY threshold DESC
                          ROWS UNBOUNDED PRECEDING) AS fp,
           sum(pos) OVER () AS ap
    FROM bk
)
SELECT threshold, tp, fp, ap - tp AS fn,
       round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
       round(CAST(tp AS DOUBLE) / ap, 6) AS recall,
       round(2.0 * tp / (tp + fp + ap), 6) AS f1
FROM c
"""


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the quality score as an is-English classifier
    (rank-sum identity, average-rank ties) — the threshold-independent
    companion of pr_threshold_sweep.  Same collapsed-bucket
    discipline: ranks come from a window over distinct scores."""
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents"))
    scored = text.quality_score(d.select("doc_id", "text", "lang")).withColumn(
        "is_en", F.col("lang") == F.lit("en")
    )
    return stats.roc_auc(scored, "quality", "is_en")


def _roc_auc_oracle() -> str:
    quality = _quality_oracle().strip()
    return f"""
WITH q AS ({quality}),
lab AS (
    SELECT CAST(q.quality AS DOUBLE) AS v, (d.lang = 'en') AS y
    FROM q JOIN documents d USING (doc_id)
),
bk AS (
    SELECT v, sum(CASE WHEN y THEN 1 ELSE 0 END) AS a,
           sum(CASE WHEN y THEN 0 ELSE 1 END) AS b
    FROM lab GROUP BY 1
),
r AS (
    SELECT a,
           sum(a + b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               - (a + b - 1) / 2.0 AS avg_rank,
           sum(a) OVER () AS na, sum(b) OVER () AS nb
    FROM bk
)
SELECT max(na) AS n_pos, max(nb) AS n_neg,
       round((sum(a * avg_rank) - max(na) * (max(na) + 1) / 2.0)
             / (max(na) * max(nb)), 6) AS auc
FROM r
"""


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE of the quality score as an is-English
    probability — the third classifier-calibration view (after the
    threshold sweep and AUC): are the scores honest probabilities?
    One hash aggregate to ≤10 bins; everything after is bin-sized."""
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents"))
    scored = text.quality_score(d.select("doc_id", "text", "lang")).withColumn(
        "is_en", F.col("lang") == F.lit("en")
    )
    return stats.calibration_bins(scored, "quality", "is_en", bins=10)


def _calibration_oracle() -> str:
    quality = _quality_oracle().strip()
    return f"""
WITH q AS ({quality}),
lab AS (
    SELECT least(CAST(floor(CAST(q.quality AS DOUBLE) * 10) AS INT), 9)
               AS bin,
           CAST(q.quality AS DOUBLE) AS s,
           CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
    FROM q JOIN documents d USING (doc_id)
),
bk AS (
    SELECT bin, count(*) AS n,
           sum(CAST(round(s * 1000000) AS BIGINT)) / count(*) / 1e6 AS avg_s,
           avg(y) AS frac
    FROM lab GROUP BY 1
)
SELECT bin, n, round(avg_s, 6) AS avg_score, round(frac, 6) AS frac_pos,
       round(abs(avg_s - frac), 6) AS gap,
       round(sum(n * abs(avg_s - frac)) OVER () / sum(n) OVER (), 6) AS ece
FROM bk
"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift: are English documents'
    LENGTHS distributed like the rest of the corpus?  The
    distribution-level drift check (max CDF gap) a mean/variance
    comparison misses.  Corpus collapses to a distinct-length count
    table first; the CDF window runs over lengths, never rows."""
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents"))
    return stats.ks_2sample(
        d.select(
            (F.col("lang") == F.lit("en")).alias("is_en"),
            F.length("text").alias("text_len"),
        ),
        "is_en",
        "text_len",
    )


ORACLE_KS_DRIFT = """
WITH b AS (
    SELECT length(text) AS v, (lang = 'en') AS s FROM documents
    WHERE text IS NOT NULL AND lang IS NOT NULL
),
bk AS (
    SELECT v, sum(CASE WHEN s THEN 1 ELSE 0 END) AS a,
           sum(CASE WHEN s THEN 0 ELSE 1 END) AS bb
    FROM b GROUP BY 1
),
c AS (
    SELECT v,
           sum(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
           sum(bb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb,
           sum(a) OVER () AS na, sum(bb) OVER () AS nb
    FROM bk
),
g AS (
    SELECT na, nb, v,
           abs(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) AS gap
    FROM c
)
SELECT na AS n_a, nb AS n_b,
       round(max(gap), 6) AS ks_stat,
       (SELECT v FROM g g2 ORDER BY g2.gap DESC, g2.v ASC LIMIT 1) AS ks_at,
       round(max(gap) * sqrt(CAST(na AS DOUBLE) * nb / (na + nb)), 6)
           AS ks_lambda
FROM g
GROUP BY na, nb
"""


AUX_QUERIES.update(
    {
        "source_overlap": q_source_overlap,
        "frequency_spectrum": q_frequency_spectrum,
        # round-7 widening: mixing schedule + classifier calibration +
        # distribution drift
        "temperature_mix": q_temperature_mix,
        "pr_threshold_sweep": q_pr_threshold_sweep,
        "ks_drift": q_ks_drift,
        "roc_auc": q_roc_auc,
        "calibration_bins": q_calibration_bins,
    }
)
AUX_ORACLES.update(
    {
        "source_overlap": ORACLE_SOURCE_OVERLAP,
        "frequency_spectrum": ORACLE_SPECTRUM,
        "temperature_mix": ORACLE_TEMPERATURE_MIX,
        "pr_threshold_sweep": _pr_sweep_oracle(),
        "ks_drift": ORACLE_KS_DRIFT,
        "roc_auc": _roc_auc_oracle(),
        "calibration_bins": _calibration_oracle(),
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# ---------------------------------------------------------------------------
# Streaming plan registry: every streaming AUX query's PRE-SINK
# streaming DataFrame, buildable without draining — the surface the
# streaming plan audit (tools/plan_audit.py::streaming_audit_flags,
# tests/test_streaming_plan_audit.py) gates for unbounded state.
# ---------------------------------------------------------------------------

STREAMING_PLAN_BUILDERS: dict[str, QueryFn] = {
    "streaming_tumbling": _stream_plan_tumbling,
    "streaming_dedup": _stream_plan_dedup,
    "streaming_sliding": _stream_plan_sliding,
    "streaming_enrich": _stream_plan_enrich,
    "streaming_join": _stream_plan_join,
    "streaming_session": _stream_plan_session,
    "streaming_ohlc": _stream_plan_ohlc,
    # registered below once its builder is defined (file order):
    # streaming_sequence_match
}

# The builders-vs-AUX parity assertion lives at the BOTTOM of this
# module (late queries register after this point in file order).


# ---------------------------------------------------------------------------
# Distributed exact-rank twins: the single-task-window-free scale path
# for global ordering analytics.  Each pairs with the SAME oracle as
# its window-form sibling — identical results, parallel plan.
# ---------------------------------------------------------------------------


def q_quality_deciles_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """quality_deciles re-planned without the one-partition window:
    exact ntile(10) + percent_rank via the distributed two-phase
    prefix sum (range-repartition -> per-slice rank -> broadcast
    offsets, ``windows.global_ntile_pct``).  Same total order, same
    oracle, bit-identical output — but every stage parallel, so the
    exact-rank surface survives a corpus where quality_deciles'
    single-task sort cannot."""
    from ..operators import windows as win

    d = rebalance(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    q = text.quality_score(d).select("doc_id", "quality")
    with materialize.scope() as ms:
        out = ms.hold(
            win.global_ntile_pct(
                q,
                [F.col("quality").desc(), F.col("doc_id").asc()],
                10,
                tile_col="decile",
                pct_col="__pct",
            )
        )
        res = out.select(
            "doc_id",
            "quality",
            "decile",
            F.round("__pct", 6).alias("pct_rank"),
        )
        return ms.attach(res)


def q_roc_auc_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """roc_auc with the cumulative-rank window replaced by the
    distributed prefix sum (``stats.roc_auc_distributed``) —
    bit-identical AUC against the same oracle, no single-task stage
    even when score cardinality approaches corpus rows."""
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents"))
    scored = text.quality_score(
        d.select("doc_id", "text", "lang")
    ).withColumn("is_en", F.col("lang") == F.lit("en"))
    return stats.roc_auc_distributed(scored, "quality", "is_en")


AUX_QUERIES.update(
    {
        "quality_deciles_distributed": q_quality_deciles_distributed,
        "roc_auc_distributed": q_roc_auc_distributed,
    }
)
AUX_ORACLES.update(
    {
        "quality_deciles_distributed": _quality_deciles_oracle(),
        "roc_auc_distributed": _roc_auc_oracle(),
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# ---------------------------------------------------------------------------
# Round-7 widening: two-sample significance tests (parametric +
# rank-based) and directed market-basket association rules.
# ---------------------------------------------------------------------------


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test of event value between the purchase and click
    arms — one conditional hash aggregate, arithmetic on the one-row
    result (``stats.welch_t_test``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    return stats.welch_t_test(e, "value", "event_type", "purchase", "click")


ORACLE_WELCH = """
WITH m AS (
    SELECT count(CASE WHEN event_type = 'purchase' THEN value END) AS n_a,
           count(CASE WHEN event_type = 'click' THEN value END) AS n_b,
           round(avg(CASE WHEN event_type = 'purchase' THEN value END), 6) AS mean_a,
           round(avg(CASE WHEN event_type = 'click' THEN value END), 6) AS mean_b,
           round(var_samp(CASE WHEN event_type = 'purchase' THEN value END), 6) AS va,
           round(var_samp(CASE WHEN event_type = 'click' THEN value END), 6) AS vb
    FROM events
    WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
)
SELECT n_a, n_b, mean_a, mean_b,
       round((mean_a - mean_b) / sqrt(va / n_a + vb / n_b), 4) AS t_stat,
       round(pow(va / n_a + vb / n_b, 2)
             / (pow(va / n_a, 2) / (n_a - 1)
                + pow(vb / n_b, 2) / (n_b - 1)), 2) AS dof
FROM m
"""


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test of event value between the
    purchase and view arms — distinct-value collapse + cardinality-
    bounded rank window (``stats.mann_whitney_u``)."""
    from ..operators import stats

    e = rebalance(load_table(spark, sf_dir, "events"))
    return stats.mann_whitney_u(e, "value", "event_type", "purchase", "view")


ORACLE_MANN_WHITNEY = """
WITH b AS (
    SELECT value AS v,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS a,
           count(*) AS t
    FROM events
    WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
    GROUP BY 1
),
r AS (
    SELECT a, t,
           sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               - (t - 1) / 2.0 AS rnk
    FROM b
),
agg AS (
    SELECT sum(a) AS n_a, sum(t) - sum(a) AS n_b,
           sum(a * rnk) AS ra,
           sum(t * t * t - t) AS tie
    FROM r
)
SELECT n_a, n_b,
       round(ra - n_a * (n_a + 1) / 2.0, 1) AS u_stat,
       round((ra - n_a * (n_a + 1) / 2.0 - CAST(n_a AS DOUBLE) * n_b / 2.0)
             / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                    * ((n_a + n_b + 1)
                       - tie / (CAST(n_a + n_b AS DOUBLE)
                                * (n_a + n_b - 1)))), 6) AS z_score
FROM agg
"""


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules over customer part-baskets —
    support/confidence/lift on the same bounded bipartite self-join
    as copurchase_pairs (``funnels.association_rules``)."""
    from ..operators import funnels

    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_partkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_custkey").alias("basket"), F.col("l_partkey").alias("item")
    )
    return funnels.association_rules(
        cp,
        "basket",
        "item",
        min_shared=_COPURCHASE_MIN_SHARED,
        max_basket=_COPURCHASE_MAX_BASKET,
    )


ORACLE_ASSOCIATION = f"""
WITH cp AS (
    SELECT DISTINCT o.o_custkey AS c, li.l_partkey AS p
    FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
),
basket AS (SELECT c FROM cp GROUP BY c
           HAVING count(*) <= {_COPURCHASE_MAX_BASKET}),
bounded AS (SELECT cp.c, cp.p FROM cp SEMI JOIN basket USING (c)),
item_n AS (SELECT p, count(*) AS n_i FROM bounded GROUP BY 1),
tot AS (SELECT count(DISTINCT c) AS nb FROM bounded),
pairs AS (
    SELECT a.p AS ia, b.p AS ib, count(*) AS n_both
    FROM bounded a JOIN bounded b ON a.c = b.c AND a.p < b.p
    GROUP BY 1, 2
    HAVING count(*) >= {_COPURCHASE_MIN_SHARED}
),
directed AS (
    SELECT ia AS antecedent, ib AS consequent, n_both FROM pairs
    UNION ALL
    SELECT ib AS antecedent, ia AS consequent, n_both FROM pairs
)
SELECT d.antecedent, d.consequent, d.n_both,
       round(d.n_both / t.nb, 6) AS support,
       round(d.n_both / na.n_i, 6) AS confidence,
       round(CAST(d.n_both AS DOUBLE) * t.nb
             / (CAST(na.n_i AS DOUBLE) * nc.n_i), 6) AS lift
FROM directed d
JOIN item_n na ON na.p = d.antecedent
JOIN item_n nc ON nc.p = d.consequent, tot t
"""


AUX_QUERIES.update(
    {
        "welch_ttest": q_welch_ttest,
        "mann_whitney": q_mann_whitney,
        "association_rules": q_association_rules,
    }
)
AUX_ORACLES.update(
    {
        "welch_ttest": ORACLE_WELCH,
        "mann_whitney": ORACLE_MANN_WHITNEY,
        "association_rules": ORACLE_ASSOCIATION,
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_embedding_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift vs the global centroid —
    tall-skinny (group, dim) reduction + dim-partitioned window, no
    second corpus pass (``similarity.embedding_group_drift``)."""
    from ..operators import similarity

    e = rebalance(load_table(spark, sf_dir, "embeddings"))
    return similarity.embedding_group_drift(e, "label")


ORACLE_EMBEDDING_DRIFT = """
WITH x AS (
    SELECT label AS g,
           generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS xd
    FROM embeddings
),
per AS (
    SELECT g, dim, sum(xd) AS s, count(*) AS n
    FROM x GROUP BY 1, 2
),
comp AS (
    SELECT g, dim, n,
           round(s / n, 6) AS c,
           round(sum(s) OVER (PARTITION BY dim)
                 / sum(n) OVER (PARTITION BY dim), 6) AS gc
    FROM per
)
SELECT g AS label, max(n) AS n_vectors,
       round(sum(c * gc) / sqrt(sum(c * c) * sum(gc * gc)), 6)
           AS cosine_to_global,
       round(sqrt(sum((c - gc) * (c - gc))), 6) AS l2_to_global
FROM comp GROUP BY 1
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over the order stream — one
    customer-keyed aggregate + ntile windows over the bounded
    customer table (``funnels.rfm_segments``)."""
    from ..operators import funnels

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return funnels.rfm_segments(
        o, "o_custkey", "o_orderdate", "o_totalprice", tiers=5
    )


ORACLE_RFM = """
WITH per AS (
    SELECT o_custkey,
           max(o_orderdate) AS last_ts,
           count(*) AS frequency,
           round(sum(o_totalprice), 2) AS monetary
    FROM orders GROUP BY 1
),
scored AS (
    SELECT o_custkey, frequency, monetary,
           date_diff('day', CAST(last_ts AS DATE),
                     CAST(max(last_ts) OVER () AS DATE)) AS recency_days
    FROM per
),
tiled AS (
    SELECT o_custkey, recency_days, frequency, monetary,
           6 - ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC)
               AS r_score,
           6 - ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC)
               AS f_score,
           6 - ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC)
               AS m_score
    FROM scored
)
SELECT o_custkey, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
           || CAST(m_score AS VARCHAR) AS segment
FROM tiled
"""


AUX_QUERIES.update(
    {
        "embedding_label_drift": q_embedding_label_drift,
        "rfm_segments": q_rfm_segments,
    }
)
AUX_ORACLES.update(
    {
        "embedding_label_drift": ORACLE_EMBEDDING_DRIFT,
        "rfm_segments": ORACLE_RFM,
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the language-ID heuristic
    against the labeled lang column — the classifier-QC summary over
    the confusion cells (``stats.confusion_metrics``); corpus scanned
    once, metrics derived from the |classes|²-sized cell table."""
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents"))
    pred = text.language_id(d)
    return stats.confusion_metrics(pred, "lang", "lang_pred")


def _language_confusion_oracle() -> str:
    return f"""
WITH cells AS (SELECT * FROM ({_langid_oracle()})),
contrib AS (
    SELECT lang AS cls, n_docs AS na, CAST(0 AS BIGINT) AS np,
           CASE WHEN lang = lang_pred THEN n_docs ELSE 0 END AS nc
    FROM cells
    UNION ALL
    SELECT lang_pred, CAST(0 AS BIGINT), n_docs, CAST(0 AS BIGINT)
    FROM cells
),
per AS (
    SELECT cls, sum(na) AS n_actual, sum(np) AS n_pred,
           sum(nc) AS n_correct
    FROM contrib GROUP BY 1
)
SELECT cls, n_actual, n_pred, n_correct,
       round(CASE WHEN n_pred > 0
                  THEN CAST(n_correct AS DOUBLE) / n_pred END,
             6) AS "precision",
       round(CASE WHEN n_actual > 0
                  THEN CAST(n_correct AS DOUBLE) / n_actual END,
             6) AS recall,
       round(CASE WHEN n_pred > 0 AND n_actual > 0
                  AND (CAST(n_correct AS DOUBLE) / n_pred
                       + CAST(n_correct AS DOUBLE) / n_actual) > 0
                  THEN 2 * (CAST(n_correct AS DOUBLE) / n_pred)
                       * (CAST(n_correct AS DOUBLE) / n_actual)
                       / ((CAST(n_correct AS DOUBLE) / n_pred)
                          + (CAST(n_correct AS DOUBLE) / n_actual))
             END, 6) AS f1
FROM per
"""


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve over the order stream — the
    revenue-weighted sibling of cohort_retention
    (``funnels.cohort_ltv``)."""
    from ..operators import funnels

    o = rebalance(load_table(spark, sf_dir, "orders"))
    return funnels.cohort_ltv(o, "o_custkey", "o_orderdate", "o_totalprice")


ORACLE_COHORT_LTV = """
WITH first AS (
    SELECT o_custkey, min(o_orderdate) AS f FROM orders GROUP BY 1
),
acts AS (
    SELECT date_trunc('month', f.f) AS cohort_start,
           (year(o.o_orderdate) * 12 + month(o.o_orderdate))
               - (year(f.f) * 12 + month(f.f)) AS period_offset,
           o.o_totalprice AS amt
    FROM orders o JOIN first f USING (o_custkey)
),
rev AS (
    SELECT cohort_start, period_offset,
           round(sum(amt), 2) AS period_revenue
    FROM acts GROUP BY 1, 2
),
sizes AS (
    SELECT date_trunc('month', f) AS cohort_start,
           count(*) AS n_customers
    FROM first GROUP BY 1
)
SELECT r.cohort_start, r.period_offset, s.n_customers,
       r.period_revenue,
       round(sum(r.period_revenue)
                 OVER (PARTITION BY r.cohort_start
                       ORDER BY r.period_offset
                       ROWS UNBOUNDED PRECEDING)
             / s.n_customers, 6) AS cum_revenue_per_customer
FROM rev r JOIN sizes s USING (cohort_start)
"""


AUX_QUERIES.update(
    {
        "language_confusion": q_language_confusion,
        "cohort_ltv": q_cohort_ltv,
    }
)
AUX_ORACLES.update(
    {
        "language_confusion": _language_confusion_oracle(),
        "cohort_ltv": ORACLE_COHORT_LTV,
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_dup_matrix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: MinHash-LSH near-dup candidate
    pairs rolled up by unordered (source, source) — the curation
    diagnostic that names WHICH corpus pairs bleed into each other
    (mirror sites, cross-posted content) before a mixing decision.

    Scale shape: the verified LSH candidate machinery unchanged
    (banded self-join, never all-pairs); two doc_id-keyed label joins
    attach sources to the candidate table (candidate-sized, far
    smaller than the corpus); the matrix is a |sources|²-bounded
    aggregate and pair_share one window over it."""
    d = rebalance(load_table(spark, sf_dir, "documents"))
    sigs = dedup.minhash_signatures(d, k=_MINHASH_K, num_hashes=_MINHASH_N)
    cand = dedup.lsh_candidate_pairs(
        sigs, num_hashes=_MINHASH_N, bands=_MINHASH_BANDS
    )
    src = d.select("doc_id", "source")
    labeled = cand.join(
        src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("__sa")),
        "id_a",
    ).join(
        src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("__sb")),
        "id_b",
    )
    mat = (
        labeled.select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return mat.select(
        "source_a",
        "source_b",
        "n_pairs",
        F.round(
            F.col("n_pairs")
            / F.sum("n_pairs").over(Window.partitionBy()),
            6,
        ).alias("pair_share"),
    )


def _dup_matrix_oracle() -> str:
    return f"""
WITH cand AS ({_minhash_oracle().strip()}),
lab AS (
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b
    FROM cand c
    JOIN documents da ON da.doc_id = c.id_a
    JOIN documents db ON db.doc_id = c.id_b
),
mat AS (
    SELECT source_a, source_b, count(*) AS n_pairs
    FROM lab GROUP BY 1, 2
)
SELECT source_a, source_b, n_pairs,
       round(CAST(n_pairs AS DOUBLE) / sum(n_pairs) OVER (), 6)
           AS pair_share
FROM mat
"""


def q_event_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap with lift vs a uniform
    week — the seasonality profile behind load forecasts and anomaly
    baselines.  ONE (dow, hour) hash aggregate (≤168 cells) + one
    window over the cell table; dow matches Spark's 1=Sunday
    convention on both engines."""
    e = rebalance(load_table(spark, sf_dir, "events"))
    cells = e.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    total = F.sum("n_events").over(Window.partitionBy())
    return cells.select(
        "dow",
        "hour",
        "n_events",
        "sum_value",
        F.round(F.col("n_events") * 168 / total, 6).alias("lift"),
    )


ORACLE_SEASONALITY = """
WITH cells AS (
    SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hour,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
)
SELECT dow, hour, n_events, sum_value,
       round(CAST(n_events AS DOUBLE) * 168 / sum(n_events) OVER (), 6)
           AS lift
FROM cells
"""


AUX_QUERIES.update(
    {
        "dup_matrix_by_source": q_dup_matrix_by_source,
        "event_seasonality": q_event_seasonality,
    }
)
AUX_ORACLES.update(
    {
        "dup_matrix_by_source": _dup_matrix_oracle(),
        "event_seasonality": ORACLE_SEASONALITY,
    }
)

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_per_source_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KS drift of document length (n_chars) vs the rest of
    the corpus — the grouped distribution-shift sweep
    (``stats.per_group_ks``)."""
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents"))
    return stats.per_group_ks(d, "source", "n_chars")


ORACLE_PER_SOURCE_KS = """
WITH cells AS (
    SELECT source AS g, n_chars AS v, count(*) AS n
    FROM documents
    WHERE source IS NOT NULL AND n_chars IS NOT NULL
    GROUP BY 1, 2
),
vals AS (SELECT v, sum(n) AS t FROM cells GROUP BY 1),
grps AS (SELECT g, sum(n) AS ng FROM cells GROUP BY 1),
dense AS (
    SELECT grps.g, vals.v, grps.ng, vals.t,
           coalesce(cells.n, 0) AS n
    FROM vals CROSS JOIN grps
    LEFT JOIN cells ON cells.g = grps.g AND cells.v = vals.v
),
cum AS (
    SELECT g, v, ng,
           sum(n) OVER (PARTITION BY g ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cg,
           sum(t) OVER (PARTITION BY g ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS ct,
           sum(t) OVER (PARTITION BY g) AS nall
    FROM dense
),
peaked AS (
    SELECT g, ng, nall - ng AS nr,
           abs(CAST(cg AS DOUBLE) / ng
               - CAST(ct - cg AS DOUBLE) / (nall - ng)) AS gap,
           v AS at_v
    FROM cum
),
ranked AS (
    SELECT g, ng, nr, gap, at_v,
           row_number() OVER (PARTITION BY g
                              ORDER BY gap DESC, at_v ASC) AS rn
    FROM peaked
)
SELECT g AS source, ng AS n_group, nr AS n_rest,
       round(gap, 6) AS ks_stat, at_v AS ks_at
FROM ranked WHERE rn = 1
"""


AUX_QUERIES["per_source_ks"] = q_per_source_ks
AUX_ORACLES["per_source_ks"] = ORACLE_PER_SOURCE_KS


# ---------------------------------------------------------------------------
# Round 9: contrastive hard-negative mining + ranked-retrieval metrics
# ---------------------------------------------------------------------------


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for contrastive embedding training: for every
    50th vector as a probe, the 5 most cosine-similar vectors with a
    DIFFERENT label (similar enough to be hard, labeled differently so
    they are guaranteed negatives).  operators/similarity.py
    hard_negative_mining; broadcast-probe brute scoring, label filter
    pushed below the ranking window."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding", "label"
    )
    return similarity.hard_negative_mining(e, probes, k=5)


ORACLE_HARD_NEGATIVES = f"""
WITH probes AS (
    SELECT vec_id AS probe_id, embedding AS pv, label AS pl
    FROM embeddings WHERE vec_id % 50 = 0
),
scored AS (
    SELECT p.probe_id, e.vec_id,
           round({_DUCK_COSINE.format(a="e.embedding", b="p.pv")}, 6)
               AS cosine
    FROM embeddings e JOIN probes p ON e.label <> p.pl
)
SELECT probe_id, vec_id, CAST(rank AS INT) AS rank, cosine FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id
                                 ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM scored) t
WHERE rank <= 5
"""


def q_retrieval_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query MRR@10 and binary nDCG@10 of brute-force cosine
    retrieval, with same-label membership as ground truth (self
    excluded from both ranking and truth) — the evaluation loop every
    retrieval/embedding pipeline runs after mining and fine-tuning.
    operators/similarity.py retrieval_metrics."""
    e = load_table(spark, sf_dir, "embeddings")
    p = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("__pv"),
        F.col("label").alias("__pl"),
    )
    scored = (
        e.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(
                similarity.cosine_sim(F.col("embedding"), F.col("__pv")), 6
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 10
    )
    relevant = (
        e.join(
            F.broadcast(p.select("probe_id", "__pl")),
            (e["label"] == F.col("__pl")) & (e["vec_id"] != F.col("probe_id")),
        )
        .select("probe_id", "vec_id")
    )
    return similarity.retrieval_metrics(ranked, relevant, k=10)


ORACLE_RETRIEVAL_QUALITY = f"""
WITH probes AS (
    SELECT vec_id AS probe_id, embedding AS pv, label AS pl
    FROM embeddings WHERE vec_id % 50 = 0
),
scored AS (
    SELECT p.probe_id, e.vec_id,
           round({_DUCK_COSINE.format(a="e.embedding", b="p.pv")}, 6)
               AS cosine,
           (e.label = p.pl) AS rel
    FROM embeddings e JOIN probes p ON e.vec_id <> p.probe_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY probe_id
                                 ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM scored
),
top AS (SELECT * FROM ranked WHERE rank <= 10),
nrel AS (
    SELECT probe_id, count(*) AS n_rel FROM scored WHERE rel GROUP BY 1
),
perq AS (
    SELECT probe_id,
           max(CASE WHEN rel THEN 1.0 / rank ELSE 0.0 END) AS rr,
           sum(CASE WHEN rel THEN 1.0 / log2(rank + 1.0) ELSE 0.0 END)
               AS dcg
    FROM top GROUP BY 1
)
SELECT q.probe_id,
       round(q.rr, 6) AS mrr,
       round(q.dcg / list_sum(
           [1.0 / log2(i + 1.0) for i in range(1, least(10, n.n_rel) + 1)]
       ), 6) AS ndcg,
       n.n_rel AS n_relevant
FROM perq q JOIN nrel n USING (probe_id)
"""


AUX_QUERIES["hard_negatives"] = q_hard_negatives
AUX_ORACLES["hard_negatives"] = ORACLE_HARD_NEGATIVES
AUX_QUERIES["retrieval_quality"] = q_retrieval_quality
AUX_ORACLES["retrieval_quality"] = ORACLE_RETRIEVAL_QUALITY


# ---------------------------------------------------------------------------
# Round 9: CDC changelog apply + incremental rollup maintenance
# ---------------------------------------------------------------------------


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / Debezium-after-image shape: an I/U/D changelog
    (derived deterministically from orders) applied to the customer
    snapshot — highest-seq change wins per key, D removes, I/U upsert
    the full image, untouched keys pass through.
    operators/scd.py cdc_apply; one changelog-sized window + one
    full-outer key join."""
    from ..operators import scd

    c = rebalance(load_table(spark, sf_dir, "customer"))
    o = rebalance(load_table(spark, sf_dir, "orders"))
    snap = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.round("c_acctbal", 2).alias("bal"),
    )
    ok = F.col("o_orderkey")
    ch = o.select(
        F.when(ok % 10 == 7, F.col("o_custkey") + 1_000_000)
        .otherwise(F.col("o_custkey"))
        .alias("key"),
        F.when(ok % 10 == 0, F.lit("D"))
        .when(ok % 10 == 7, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        ok.alias("seq"),
        F.concat(F.lit("cdc_"), ok.cast("string")).alias("name"),
        F.round("o_totalprice", 2).alias("bal"),
    )
    return scd.cdc_apply(snap, ch, "key", ["name", "bal"])


ORACLE_CDC_APPLY = """
WITH snap AS (
    SELECT c_custkey AS key, c_name AS name, round(c_acctbal, 2) AS bal
    FROM customer
),
ch AS (
    SELECT CASE WHEN o_orderkey % 10 = 7 THEN o_custkey + 1000000
                ELSE o_custkey END AS key,
           CASE WHEN o_orderkey % 10 = 0 THEN 'D'
                WHEN o_orderkey % 10 = 7 THEN 'I'
                ELSE 'U' END AS op,
           o_orderkey AS seq,
           'cdc_' || o_orderkey AS name,
           round(o_totalprice, 2) AS bal
    FROM orders
),
latest AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY key
                                     ORDER BY seq DESC, op DESC) AS rn
        FROM ch) t
    WHERE rn = 1
)
SELECT coalesce(s.key, c.key) AS key,
       CASE WHEN c.key IS NOT NULL THEN c.name ELSE s.name END AS name,
       CASE WHEN c.key IS NOT NULL THEN c.bal ELSE s.bal END AS bal
FROM snap s FULL OUTER JOIN latest c ON s.key = c.key
WHERE NOT (c.key IS NOT NULL AND c.op = 'D')
"""


_ROLLUP_CUTOFF = "2024-01-16"


def q_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: the standing per-(type,
    day) events rollup (built from history BEFORE the cutoff) merged
    with the new batch's partial aggregate (facts AT/AFTER the
    cutoff) — the fact table is never rescanned at refresh time.  The
    oracle is the FULL recompute over all events: merge == recompute
    is the invariant that licenses incremental refresh.
    operators/snapshots.py merge_rollup/partial_rollup."""
    from ..operators import snapshots

    e = rebalance(load_table(spark, sf_dir, "events")).withColumn(
        "day", F.to_date("ts")
    )
    cutoff = F.lit(_ROLLUP_CUTOFF).cast("date")
    build = lambda df: snapshots.partial_rollup(  # noqa: E731
        df,
        ["event_type", "day"],
        sum_exprs={"sum_value": "value"},
        count_col="n_events",
        min_exprs={"min_value": "value"},
        max_exprs={"max_value": "value"},
    )
    existing = build(e.filter(F.col("day") < cutoff))
    delta = build(e.filter(F.col("day") >= cutoff))
    merged = snapshots.merge_rollup(
        existing,
        delta,
        ["event_type", "day"],
        sum_cols=["sum_value"],
        count_cols=["n_events"],
        min_cols=["min_value"],
        max_cols=["max_value"],
    )
    return merged.select(
        "event_type",
        "day",
        F.round("sum_value", 2).alias("sum_value"),
        "n_events",
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
    )


ORACLE_ROLLUP_MERGE = """
SELECT event_type, CAST(ts AS DATE) AS day,
       round(sum(value), 2) AS sum_value,
       count(*) AS n_events,
       round(min(value), 2) AS min_value,
       round(max(value), 2) AS max_value
FROM events
GROUP BY 1, 2
"""


AUX_QUERIES["cdc_apply"] = q_cdc_apply
AUX_ORACLES["cdc_apply"] = ORACLE_CDC_APPLY
AUX_QUERIES["rollup_merge"] = q_rollup_merge
AUX_ORACLES["rollup_merge"] = ORACLE_ROLLUP_MERGE



assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)

