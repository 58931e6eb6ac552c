"""Composed multi-operator exhibits (round 12+).

The round-11 verdict's direction: SURVEY §2 has been 100% green since
round 9, so the marginal value now lives in END-TO-END journeys that
exercise verified operators TOGETHER under one fused oracle, not in
more leaf operators.  The curation-family exhibits (training-shard
pipeline, eval-safe split plan) live in queries/curation.py next to
their operator family; this module holds the cross-family
compositions: the streaming shard feed (the suite's first plan
chaining TWO stateful streaming operators), the CDC diff→apply
round-trip (hash-green proves the composition is an identity), the
per-source drift health panel, the real-codec multimodal
encode→decode round-trip, hybrid-RRF→MMR diverse retrieval, and the
bronze CSV ingest replay (sources + sinks under the hash gate).

Imported LAST by queries/__init__.py: it registers into the AUX
registries (defined in .curation) and the streaming-plan-builder
registry (defined in .retrieval), so every earlier module's
registration asserts have already run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import materialize
from .core import _stream_events
from .curation import AUX_ORACLES, AUX_QUERIES
from .retrieval import STREAMING_PLAN_BUILDERS


# --- round-12 exhibit 3: streaming shard feed (chained stateful ops)


def _stream_plan_shard_feed(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Pre-sink streaming plan for q_streaming_shard_feed: the first
    CHAINED-STATEFUL plan in the suite — watermarked state-bounded
    dedup feeding a watermarked tumbling aggregate in ONE streaming
    query (Spark's multiple-stateful-operator support; the watermark
    must propagate through the dedup operator for the window state to
    evict).  Duplicate-injected input (every file linked twice), a
    stateless completeness gate between the two stateful stages."""
    events, ts_was_ntz = _stream_events(
        spark,
        sf_dir,
        copies=2,
        stream_dir=stream_dir,
        max_files_per_trigger=max_files_per_trigger,
    )
    if ts_was_ntz:
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = (
        events.withWatermark("ts", "2 hours")
        .select("event_id", "event_type", "user_id", "value", "ts")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    gated = deduped.filter(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    return (
        gated.groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "event_type",
            (
                F.col("w.start").cast("timestamp_ntz")
                if ts_was_ntz
                else F.col("w.start")
            ).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def q_streaming_shard_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming ingest feed — the streaming twin of the
    batch training-shard journey, composed as ONE streaming query with
    TWO chained stateful operators:

    1. **exactly-once ingest** (``dropDuplicatesWithinWatermark`` on
       event_id): the fixture is linked twice into the stream dir, so
       every row arrives duplicated and the state-bounded dedup must
       remove exactly the injected copies;
    2. **completeness gate** (stateless filter between the stateful
       stages): rows missing type/user/value never reach the window
       state;
    3. **finalized-window manifest** (watermarked 1-hour tumbling
       aggregate, APPEND output): a window is emitted only once the
       2-hour watermark passes its end — the at-most-once-per-window
       contract a downstream shard builder needs (it must never see a
       window twice with different counts).

    The DuckDB oracle mirrors ALL of it batch-side: single-copy
    events, the same completeness predicate, hour buckets, and the
    append-mode finalization rule ``window_end <= max(ts) - 2h``
    (max over the UNFILTERED stream — the watermark is assigned
    before the gate).  Green requires the dedup to have removed
    exactly the duplicates AND the final non-finalized windows to be
    withheld — both streaming semantics, checked by value."""
    import tempfile

    from ..streaming import incremental

    agg = _stream_plan_shard_feed(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="stream_shard_feed_ckpt_")
    incremental.run_to_memory_sink(
        agg, "stream_shard_feed_out", ckpt, output_mode="append"
    )
    return spark.table("stream_shard_feed_out")


# The finalization rule: Spark emits an append-mode window once the
# event-time watermark (max observed ts - delay, computed over the
# un-gated stream) passes the window END.  Window ends are whole hours
# and max(ts) carries microseconds on this fixture, so the <=/< edge
# cannot bind.
ORACLE_STREAMING_SHARD_FEED = """
WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
ev AS (
    SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           value
    FROM events
    WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      AND value IS NOT NULL
)
SELECT event_type, window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM ev, wm
GROUP BY event_type, window_start, wm.w
HAVING window_start + INTERVAL 1 HOUR <= wm.w
"""


AUX_QUERIES["streaming_shard_feed"] = q_streaming_shard_feed
AUX_ORACLES["streaming_shard_feed"] = ORACLE_STREAMING_SHARD_FEED
STREAMING_PLAN_BUILDERS["streaming_shard_feed"] = _stream_plan_shard_feed

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)
assert set(STREAMING_PLAN_BUILDERS) == {
    n for n in AUX_QUERIES if n.startswith("streaming_")
}, "every streaming AUX query needs a pre-sink plan builder for the audit"


# --- round-12 exhibit 4: CDC diff -> apply round-trip


def q_cdc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIMENSION-MAINTENANCE ROUND-TRIP — the producing and consuming
    CDC twins composed into one verified journey: ``snapshot_diff``
    derives the I/U/D change feed between two customer-dimension
    snapshots (the q_snapshot_diff fixture: keys %5 change segment,
    %11 are deleted, %13 spawn fresh keys), the feed is mapped to a
    Debezium-style changelog, and ``cdc_apply`` replays it onto the
    OLD snapshot.  The output manifest aggregates the REBUILT
    snapshot per segment (key and nation counts) alongside the feed's
    op mix; the DuckDB oracle aggregates the NEW snapshot directly —
    hash-green therefore proves ``cdc_apply(old, snapshot_diff(old,
    new)) == new`` on real data, the identity that makes snapshot
    diffing a safe substitute for a source that cannot emit deltas.

    Scale shape: one full-outer key join per twin (diff and apply),
    both delta-collapsed before anything wide; the manifest is one
    hash aggregate plus a broadcast one-row op-mix table."""
    from ..operators import scd
    from ..sources.registry import load_table, rebalance

    c = rebalance(load_table(spark, sf_dir, "customer"))
    old = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nk"),
    )
    new = (
        c.filter(F.col("c_custkey") % 11 != 0)
        .select(
            F.col("c_custkey").alias("key"),
            F.when(
                F.col("c_custkey") % 5 == 0,
                F.concat(F.col("c_mktsegment"), F.lit("-X")),
            )
            .otherwise(F.col("c_mktsegment"))
            .alias("seg"),
            F.col("c_nationkey").alias("nk"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 2_000_000).alias("key"),
                F.lit("FRESH").alias("seg"),
                F.col("c_nationkey").alias("nk"),
            )
        )
    )
    feed = scd.snapshot_diff(old, new, "key", ["seg", "nk"])
    log = feed.select(
        "key",
        F.when(F.col("change_type") == "delete", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "seg",
        "nk",
        F.lit(1).alias("seq"),
    )
    rebuilt = scd.cdc_apply(old, log, "key", ["seg", "nk"])
    ops = feed.agg(
        F.sum((F.col("change_type") == "insert").cast("long")).alias(
            "n_inserts"
        ),
        F.sum((F.col("change_type") == "update").cast("long")).alias(
            "n_updates"
        ),
        F.sum((F.col("change_type") == "delete").cast("long")).alias(
            "n_deletes"
        ),
    )
    return (
        rebuilt.groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.countDistinct("nk").cast("long").alias("n_nations"),
        )
        .crossJoin(F.broadcast(ops))
    )


def _cdc_roundtrip_oracle() -> str:
    from .curation import ORACLE_SNAPSHOT_DIFF

    diff = ORACLE_SNAPSHOT_DIFF.strip()
    return f"""
WITH new AS (
    SELECT c_custkey AS key,
           CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment || '-X'
                ELSE c_mktsegment END AS seg,
           c_nationkey AS nk
    FROM customer WHERE c_custkey % 11 <> 0
    UNION ALL
    SELECT c_custkey + 2000000, 'FRESH', c_nationkey
    FROM customer WHERE c_custkey % 13 = 0
),
d AS ({diff}),
ops AS (
    SELECT CAST(sum(CASE WHEN change_type = 'insert' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inserts,
           CAST(sum(CASE WHEN change_type = 'update' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updates,
           CAST(sum(CASE WHEN change_type = 'delete' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_deletes
    FROM d
)
SELECT seg, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(count(DISTINCT nk) AS BIGINT) AS n_nations,
       ops.n_inserts, ops.n_updates, ops.n_deletes
FROM new, ops
GROUP BY seg, ops.n_inserts, ops.n_updates, ops.n_deletes
"""


AUX_QUERIES["cdc_roundtrip"] = q_cdc_roundtrip
AUX_ORACLES["cdc_roundtrip"] = _cdc_roundtrip_oracle()

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# --- round-12 exhibit 5: source health report (drift panel)


def q_source_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE HEALTH PANEL — the "which crawl looks wrong this
    week" report, composing four verified drift/quality operators into
    one row per source under one fused oracle:

    - **volume**: doc and whitespace-token counts;
    - **unigram KL** (``text.source_kl_divergence``): how unlike the
      corpus mix this source's language is;
    - **length KS** (``stats.per_group_ks``): distribution shift of
      doc length vs the rest of the corpus;
    - **mean novelty** (``text.novelty_score``): averaged over the
      source's docs with >= 3 tokens — low means templated/derivative;
    - **exact-dup rate** (``dedup.exact_dedup_groups``): fraction of
      the source's docs that are NOT the canonical copy of their
      content (cross-source duplication attributed honestly: the
      canonical is the global min doc_id).

    Scale shape: each panel column is an independent aggregate that
    collapses the corpus before joining — vocabulary-sized (KL),
    value-sized (KS), digest-sized (dup), gram-digest-sized (novelty) —
    then five source-keyed dimension tables join broadcast-small."""
    from ..operators import dedup, stats, text
    from ..sources.registry import load_table, rebalance
    from .retrieval import _KL_ALPHA, _NOVELTY_N

    d = rebalance(load_table(spark, sf_dir, "documents")).filter(
        F.col("source").isNotNull()
    )
    from ..functions import word_tokens

    vol = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(word_tokens("text"))).cast("long").alias("n_tokens"),
    )
    with materialize.scope() as ms:
        kl_raw = ms.hold(text.source_kl_divergence(d, alpha=_KL_ALPHA))
        kl = kl_raw.select("source", "kl_nats")
        ks = stats.per_group_ks(d, "source", "n_chars").select(
            F.col("source"), F.col("ks_stat")
        )
        nov = (
            text.novelty_score(d, n=_NOVELTY_N)
            .join(d.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(F.round(F.avg("novelty"), 6).alias("mean_novelty"))
        )
        keepers = dedup.exact_dedup_groups(d).select(
            F.col("canonical_id").alias("doc_id"), F.lit(1).alias("__canon")
        )
        dup = (
            d.select("doc_id", "source")
            .join(keepers, "doc_id", "left")
            .groupBy("source")
            .agg(
                F.round(
                    F.avg(F.when(F.col("__canon").isNull(), 1.0).otherwise(0.0)),
                    6,
                ).alias("dup_rate")
            )
        )
        # each panel is a source-cardinality table (tens of rows); eager
        # localCheckpoints materialize every panel exactly once — without
        # them the five-way join re-derives the corpus per reference and
        # the plan audit reads 26 parquet-scan references (the
        # training_shard_pipeline stage-boundary discipline).
        # r13 optimization round: the five corpus-collapsing panels are
        # INDEPENDENT, so they materialize from a small thread pool
        # instead of serially — Spark happily runs concurrent jobs inside
        # one application, and each panel's tail stragglers back-fill the
        # idle cores the next panel's scan wants (guide §2.6 "overlap
        # independent jobs"); results are unchanged, only the job overlap
        # is new.
        futs = [ms.background(f) for f in (vol, kl, ks, nov, dup)]
        panels = [fu.result() for fu in futs]
        # the KL operator checkpoints its internal (source × vocab) count
        # table; the kl panel has fully consumed it — free it now
        ms.release(kl_raw)
        out = panels[0]
        for f in panels[1:]:
            out = out.join(f, "source")
        return ms.attach(out)


def _source_health_oracle() -> str:
    from .core import _DUCK_NORM, _duck_hash
    from .retrieval import (
        ORACLE_PER_SOURCE_KS,
        ORACLE_SOURCE_KL,
        _novelty_oracle,
    )

    # NULL-source rows are excluded on BOTH sides before any corpus
    # total (the cohens_h NULL-parity lesson): the embedded KL oracle
    # reads the filtered base, not raw documents, so NULL-source text
    # can never shift the corpus distribution on one side only
    kl_base = ORACLE_SOURCE_KL.strip().replace(
        "FROM documents", "FROM base"
    )
    ks = ORACLE_PER_SOURCE_KS.strip()
    nov = _novelty_oracle().strip()
    ws = (
        "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
        " x -> x <> ''))"
    )
    return f"""
WITH base AS (SELECT * FROM documents WHERE source IS NOT NULL),
vol AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum({ws}) AS BIGINT) AS n_tokens
    FROM base GROUP BY 1
),
kl AS (SELECT source, kl_nats FROM ({kl_base})),
ks AS (SELECT source, ks_stat FROM ({ks})),
novdoc AS (
    SELECT doc_id, novelty
    FROM ({nov.replace("FROM documents", "FROM base")})
),
nov AS (
    SELECT b.source, round(avg(n.novelty), 6) AS mean_novelty
    FROM novdoc n JOIN base b USING (doc_id) GROUP BY 1
),
h AS (
    SELECT doc_id, source, {_duck_hash(_DUCK_NORM, 0)} AS ch,
           length({_DUCK_NORM}) AS cl
    FROM base
),
keep AS (SELECT min(doc_id) AS doc_id FROM h GROUP BY ch, cl),
dup AS (
    SELECT h.source,
           round(avg(CASE WHEN k.doc_id IS NULL THEN 1.0 ELSE 0.0 END), 6)
               AS dup_rate
    FROM h LEFT JOIN keep k ON h.doc_id = k.doc_id
    GROUP BY 1
)
SELECT vol.source, vol.n_docs, vol.n_tokens, kl.kl_nats, ks.ks_stat,
       nov.mean_novelty, dup.dup_rate
FROM vol JOIN kl USING (source) JOIN ks USING (source)
JOIN nov USING (source) JOIN dup USING (source)
"""


AUX_QUERIES["source_health"] = q_source_health
AUX_ORACLES["source_health"] = _source_health_oracle()

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# --- round-12 exhibit 6: multimodal encode->decode round-trip


def q_multimodal_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL INGEST ROUND-TRIP — the real-codec twin of the
    multimodal_meta driver row: every document synthesizes a 24-bit
    BMP image AND a PCM WAV clip with dimensions derived
    deterministically from doc_id (Arrow-batched mapInPandas), then
    the REAL pure-Python decoders (``multimodal.extract_meta`` with
    ``decoder="bmp"`` / ``decoder="wav"``) parse the bytes back.  The
    DuckDB oracle computes the EXPECTED metadata arithmetically from
    doc_id — hash-green therefore proves ``decode(encode(x)) == x``
    header truth across the whole corpus through the distributed
    Arrow batch path, not just on pytest fixtures.

    Geometry: width = 1 + doc_id%8, height = 1 + (doc_id//8)%8 (BMP
    byte size follows the 4-byte row-stride rule); audio is 16-bit
    PCM at 2 kHz with 2*(25 + doc_id%50) frames, so duration_ms is an
    exact integer on both engines (no round() semantics in play).

    Scale shape: one narrow mapInPandas synth per modality consumer
    (payloads never shuffle — meta extraction is map-side), one
    doc_id equi-join of the two per-doc metadata tables."""

    from ..operators import multimodal
    from ..sources.registry import load_table, rebalance

    # One synth generator PER MODALITY: each extract_meta pass
    # recomputes its input subtree, so a fused generator would encode
    # both payloads twice and throw half the work away each pass
    # (r12 review finding) — split, each pass pays only its own codec.
    def synth_img(batches):
        import pandas as pd

        for pdf in batches:
            imgs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 1 + did % 8
                h = 1 + (did // 8) % 8
                imgs.append(
                    multimodal.encode_bmp([[(0, 0, 0)] * w for _ in range(h)])
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "img": imgs})

    def synth_wav(batches):
        import pandas as pd

        for pdf in batches:
            wavs = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 2 * (25 + did % 50)
                ch = 1 + did % 2
                wavs.append(
                    multimodal.encode_wav(
                        [(0,) * ch] * n, sample_rate=2000, bits=16
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "wav": wavs})

    d = rebalance(load_table(spark, sf_dir, "documents")).select("doc_id")
    img_blobs = d.mapInPandas(synth_img, "doc_id long, img binary")
    wav_blobs = d.mapInPandas(synth_wav, "doc_id long, wav binary")
    imeta = multimodal.extract_meta(
        img_blobs, "img", id_col="doc_id", decoder="bmp", on_error="raise"
    ).select(
        "doc_id",
        F.col("n_bytes").alias("img_bytes"),
        "width",
        "height",
        F.col("channels").alias("img_channels"),
    )
    wmeta = multimodal.extract_meta(
        wav_blobs, "wav", id_col="doc_id", decoder="wav", on_error="raise"
    ).select(
        "doc_id",
        "sample_rate",
        F.col("channels").alias("audio_channels"),
        "n_samples",
        "duration_ms",
    )
    return imeta.join(wmeta, "doc_id")


ORACLE_MULTIMODAL_ROUNDTRIP = """
SELECT doc_id,
       CAST(54 + (1 + (doc_id // 8) % 8)
                * ((((1 + doc_id % 8) * 3 + 3) // 4) * 4)
            AS BIGINT) AS img_bytes,
       CAST(1 + doc_id % 8 AS BIGINT) AS width,
       CAST(1 + (doc_id // 8) % 8 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS img_channels,
       CAST(2000 AS BIGINT) AS sample_rate,
       CAST(1 + doc_id % 2 AS BIGINT) AS audio_channels,
       CAST(2 * (25 + doc_id % 50) AS BIGINT) AS n_samples,
       CAST(25 + doc_id % 50 AS BIGINT) AS duration_ms
FROM documents
"""


AUX_QUERIES["multimodal_roundtrip"] = q_multimodal_roundtrip
AUX_ORACLES["multimodal_roundtrip"] = ORACLE_MULTIMODAL_ROUNDTRIP

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# --- round-12 exhibit 7: diverse retrieval (hybrid RRF -> MMR)


_DIV_TOPN = 20  # fused candidates handed to the diversifier
_DIV_K = 5  # final diversified result size


def q_diverse_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE RETRIEVAL JOURNEY, end to end — lexical + semantic
    candidate generation fused by reciprocal-rank fusion, then MMR
    diversification, composed from three verified operators under one
    fused oracle:

    1. **lexical leg** (``text.bm25_score``): BM25 over the corpus for
       the fixed query terms, top-25 by score;
    2. **semantic leg** (``similarity.brute_force_topk``): cosine
       against probe vector 0, top-25;
    3. **RRF fusion**: ``sum(1/(60 + rank))`` over both lists (the
       q_hybrid_retrieval combiner), top-20 fused candidates;
    4. **MMR diversification** (``similarity.mmr_rerank``): greedy
       ``0.7·relevance − 0.3·max-sim-to-selected`` over the fused
       candidates' embeddings, k=5 — the stage that stops the result
       list from being five paraphrases of the same passage.

    The oracle reuses the hybrid CTE chain and the shared MMR unroll
    builder (``stats_rank._mmr_unroll``) with the fused top-20 as the
    candidate CTE — every stage's arithmetic is verified, not just
    the final ordering.

    Scale shape: both candidate legs collapse the corpus to rank-
    bounded lists before anything joins; fusion and MMR run on
    N=20 candidates (pair sims are N² = 400 rows, localCheckpointed
    inside the operator — release via ``release_components``)."""
    from ..operators import similarity, text
    from ..operators.similarity import mmr_rerank
    from ..sources.registry import load_table, rebalance
    from pyspark.sql import Window
    from .retrieval import _BM25_B, _BM25_K1, _BM25_QUERY, _RRF_K, _RRF_TOPN
    from .stats_rank import _MMR_LAM

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
    # r13 optimization round: the lexical and semantic legs are
    # independent corpus passes that only meet at the RRF fusion —
    # materialize both rank-bounded lists (≤ _RRF_TOPN rows each)
    # concurrently from a 2-thread pool (guide §2.6) so the BM25 scan
    # and the brute-force cosine scan overlap instead of running
    # serially; the fusion then joins two checkpointed 25-row tables.
    with materialize.scope() as ms:
        lex, sem = [fu.result() for fu in [ms.background(f) for f in (lex, sem)]]
        fused = lex.join(sem, "doc_id", "full_outer").select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("sem_rank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        cands = (
            fused.withColumn(
                "__rn",
                F.row_number().over(
                    Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
                ),
            )
            .filter(F.col("__rn") <= _DIV_TOPN)
            .drop("__rn")
            .join(
                e.select(F.col("vec_id").alias("doc_id"), "embedding"),
                "doc_id",
            )
            .select(
                F.lit(0).alias("query_id"),
                F.col("doc_id").alias("cand_id"),
                "embedding",
                F.col("rrf").alias("rel"),
            )
        )
        return ms.attach(
            mmr_rerank(
                cands, "query_id", "cand_id", "embedding", "rel",
                k=_DIV_K, lam=_MMR_LAM,
            )
        )


def _diverse_retrieval_oracle() -> str:
    from .core import _DUCK_COSINE
    from .retrieval import _RRF_K, _RRF_TOPN, _bm25_oracle
    from .stats_rank import _MMR_LAM, _mmr_unroll

    bm25 = _bm25_oracle().strip()
    parts = [
        """corpus AS (
    SELECT vec_id AS c, embedding AS ec FROM embeddings)""",
        f"""bm AS ({bm25})""",
        f"""lex AS (
    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
               AS lex_rank
    FROM bm
    QUALIFY lex_rank <= {_RRF_TOPN})""",
        """probe AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)""",
        f"""semscored AS (
    SELECT e.vec_id AS doc_id,
           round({_DUCK_COSINE.format(a="e.embedding", b="p.pv")}, 6)
               AS cosine
    FROM embeddings e CROSS JOIN probe p)""",
        f"""sem AS (
    SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id)
               AS sem_rank
    FROM semscored
    QUALIFY sem_rank <= {_RRF_TOPN})""",
        f"""fused AS (
    SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
           round(coalesce(1.0 / ({_RRF_K} + lex.lex_rank), 0.0)
                 + coalesce(1.0 / ({_RRF_K} + sem.sem_rank), 0.0), 6)
               AS rrf
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)""",
        f"""cands AS (
    SELECT 0 AS q, doc_id AS c, rrf AS r FROM (
        SELECT doc_id, rrf,
               row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
        FROM fused) WHERE rn <= {_DIV_TOPN})""",
    ]
    return _mmr_unroll(parts, _DIV_K, _MMR_LAM)


AUX_QUERIES["diverse_retrieval"] = q_diverse_retrieval
AUX_ORACLES["diverse_retrieval"] = _diverse_retrieval_oracle()

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# --- round-12 exhibit 8: bronze CSV ingest replay (sources + sinks
# --- under the hash gate)


_BRONZE_FILE1 = "census__202401010800.csv"
_BRONZE_FILE2 = "census__202401020800.csv"
_BRONZE_NOW_ARGS = (2024, 1, 2, 9, 0)


def _synth_census_csvs(spark: SparkSession, sf_dir: str) -> str:
    """Synthesize the two-file census CSV landing fixture from the
    ``orders`` table (every value an arithmetic function of
    ``o_orderkey``, including DELIBERATE malkeys — ids prefixed ``X``
    for ``k%3==0``, an unparseable discharge timestamp for ``k%5==0``
    — so try_cast NULL semantics are value-checked, not assumed).
    Driver-side test scaffolding, bounded: |orders|/101 tiny rows.
    Shared by the batch replay and its streaming twin so both land the
    byte-identical files."""
    import csv as _csv
    import os
    import tempfile

    from ..sources.registry import load_table

    header = [
        "pat_enc_csn_id", "pat_mrn_id", "encntr_dept_id",
        "arrival_dttm", "admsn_dttm", "dschrg_dttm",
        "bed_reqst_to_bed_asgnd",
    ]
    rows = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 101 == 0)
        # o_orderdate is a timestamp in the fixture: format the DATE
        # part only, so the synthesized "<date> 08:00:00" strings parse
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        )
        .collect()
    )
    csv_dir = tempfile.mkdtemp(prefix="bronze_csv_")
    files: dict[str, list[list[str]]] = {_BRONZE_FILE1: [], _BRONZE_FILE2: []}
    for r in rows:
        k = int(r["o_orderkey"])
        files[_BRONZE_FILE2 if k % 2 else _BRONZE_FILE1].append(
            [
                f"X{k}" if k % 3 == 0 else str(k),
                f"MRN{k % 1000}",
                str(k % 50),
                f"{r['d']} 08:00:00",
                "",
                "bad-ts" if k % 5 == 0 else f"{r['d']} 17:30:00",
                str(k % 97),
            ]
        )
    for name, content in files.items():
        with open(os.path.join(csv_dir, name), "w", newline="") as fh:
            w = _csv.writer(fh)
            w.writerow(header)
            w.writerows(content)
    return csv_dir


def _census_manifest(written: DataFrame) -> DataFrame:
    """The per-file bronze manifest both ingest forms are graded on —
    read BACK from the written parquet, so it covers the writer too."""
    from ..functions import filename_embedded_ts

    return written.groupBy("file_nm").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("pat_enc_csn_id").cast("long").alias("n_valid_ids"),
        F.count("arrival_dttm").cast("long").alias("n_arrivals"),
        F.count("dschrg_dttm").cast("long").alias("n_valid_dschrg"),
        F.sum("bed_reqst_to_bed_asgnd").cast("long").alias("sum_bed"),
        F.max(filename_embedded_ts("file_nm")).alias("batch_ts"),
        F.countDistinct("run_id").cast("long").alias("n_run_ids"),
    )


def q_bronze_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRONZE INGEST REPLAY — the reference's landing path (S1/S2
    explicit-schema CSV + filename capture, T2 processed-file ledger,
    ANSI-safe try_casts, K1 versioned append), previously pytest-only,
    now under the DuckDB hash gate end to end:

    two census CSV files are synthesized from the ``orders`` fixture
    (see _synth_census_csvs); file 1 is already in the processed-file
    ledger, so ``plans.census.ingest_census`` must anti-join it away,
    cast + audit file 2, and ``append_versioned`` it into a bronze
    path; the output is the per-file manifest read BACK from the
    written bronze parquet — the round trip covers the CSV reader
    options, the ledger, every try_cast, the filename-embedded batch
    timestamp, AND the K1 writer's output.

    The oracle recomputes the manifest arithmetically from ``orders``
    (file-2 subset: ``k%101==0 AND k%2==1``).

    Scale note: the CSV fixture synthesis is driver-side test
    scaffolding (bounded); the MEASURED path — CSV scan, anti-join,
    casts, parquet write — is fully distributed.
    Reference spec: code/ukg_open_census.py:247-273, 366-371."""
    import datetime as _dt
    import tempfile

    from ..plans.census import ingest_census

    csv_dir = _synth_census_csvs(spark, sf_dir)
    bronze = tempfile.mkdtemp(prefix="bronze_out_") + "/t"
    ledger = spark.createDataFrame([(_BRONZE_FILE1,)], "file_nm STRING")
    ingest_census(
        spark,
        csv_dir,
        bronze,
        run_id=7,
        now=_dt.datetime(*_BRONZE_NOW_ARGS, tzinfo=_dt.timezone.utc),
        ledger=ledger,
    )
    return _census_manifest(spark.read.parquet(bronze))


ORACLE_BRONZE_INGEST = """
WITH f2 AS (
    SELECT o_orderkey AS k FROM orders
    WHERE o_orderkey % 101 = 0 AND o_orderkey % 2 = 1
)
SELECT 'census__202401020800.csv' AS file_nm,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(CASE WHEN k % 3 <> 0 THEN 1 END) AS BIGINT)
           AS n_valid_ids,
       CAST(count(*) AS BIGINT) AS n_arrivals,
       CAST(count(CASE WHEN k % 5 <> 0 THEN 1 END) AS BIGINT)
           AS n_valid_dschrg,
       CAST(sum(k % 97) AS BIGINT) AS sum_bed,
       CAST(202401020800 AS BIGINT) AS batch_ts,
       CAST(1 AS BIGINT) AS n_run_ids
FROM f2
HAVING count(*) > 0
"""


AUX_QUERIES["bronze_ingest_replay"] = q_bronze_ingest_replay
AUX_ORACLES["bronze_ingest_replay"] = ORACLE_BRONZE_INGEST

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# --- round-13 exhibit: STREAMING bronze ingest (the Auto-Loader-shaped
# --- twin of the landing path — SURVEY T2's readStream form, r12
# --- verdict task 4)


def _stream_plan_bronze_ingest(
    spark: SparkSession,
    sf_dir: str,
    csv_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Pre-sink streaming plan for q_streaming_bronze_ingest: CSV
    file-source stream with filename capture, a state-bounded
    row-dedup ledger, and the SAME typed-cast block as the batch
    ingest (plans.census.cast_census — shared code, not a copy).

    State bounding: the dedup keys on (file_nm, raw csn string) —
    raw, BEFORE the cast, so malkeys that try_cast to NULL stay
    distinct — under a watermark on the filename-embedded batch
    timestamp with a 72-hour delay (covers any arrival order of a
    multi-day landing window; files older than the horizon evict
    from state, which IS the production contract: a re-delivered
    file more than 3 days stale is a backfill, not a dup).
    Reference spec: code/ukg_open_census.py:357-375 +
    download_from_sharepoint.py:104-124 (the hand-rolled ledger this
    replaces)."""
    import datetime as _dt

    from ..functions import last_path_segment
    from ..plans.census import CENSUS_SCHEMA, cast_census

    if csv_dir is None:
        csv_dir = _synth_census_csvs(spark, sf_dir)
    reader = (
        spark.readStream.schema(CENSUS_SCHEMA)
        .option("header", "true")
        .option("inferSchema", "false")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.csv(csv_dir).withColumn(
        "file_nm", last_path_segment(F.input_file_name())
    )
    deduped = (
        raw.withColumn(
            "batch_tsp",
            F.try_to_timestamp(
                F.substring("file_nm", 9, 12), F.lit("yyyyMMddHHmm")
            ),
        )
        .withWatermark("batch_tsp", "72 hours")
        .dropDuplicatesWithinWatermark(["file_nm", "pat_enc_csn_id"])
        .drop("batch_tsp")
    )
    return cast_census(
        deduped, now=_dt.datetime(*_BRONZE_NOW_ARGS, tzinfo=_dt.timezone.utc)
    )


def drain_bronze_stream(
    typed: DataFrame,
    ledger: DataFrame,
    bronze_path: str,
    checkpoint_dir: str,
    run_id: int = 7,
    idempotent: bool = False,
    fault: "Callable[[int], None] | None" = None,
) -> None:
    """foreachBatch landing: per micro-batch, anti-join the
    processed-file ledger (T2) then land with the K1/K3 audit quintet
    — the exact batch landing, driven by the stream.  AvailableNow
    drains everything then stops; on a CLEAN restart the file-source
    checkpoint ensures a second drain lands nothing twice (the pytest
    pins this).

    Delivery contract: with ``idempotent=False`` (plain parquet
    append) the landing is AT-LEAST-ONCE under mid-batch failure — a
    crash after the append but before the checkpoint commits re-runs
    that micro-batch on restart and appends its rows again.  With
    ``idempotent=True`` each micro-batch OVERWRITES its own
    batch-id-keyed partition directory
    (``{bronze}/ingest_batch={id}``), so a replayed batch lands on
    top of its previous attempt and the contract upgrades to
    EXACTLY-ONCE — the parquet analog of Delta's
    ``txnAppId``/``txnVersion`` idempotent writes, which a Databricks
    deployment would use instead.  Both contracts are pinned by
    fault-injection tests (tests/test_streaming_bronze_ingest.py).

    ``fault`` is a test seam: called with the batch id AFTER the
    write, INSIDE the foreachBatch body — raising there simulates the
    crash-after-write-before-commit window."""
    import datetime as _dt

    from ..operators.snapshots import unprocessed_only
    from ..sinks.writers import append_versioned, with_audit_columns

    now = _dt.datetime(*_BRONZE_NOW_ARGS, tzinfo=_dt.timezone.utc)

    def _land(batch_df: DataFrame, batch_id: int) -> None:
        gated = unprocessed_only(batch_df, ledger, "file_nm")
        if idempotent:
            with_audit_columns(gated, run_id=run_id, now=now).write.mode(
                "overwrite"
            ).parquet(f"{bronze_path}/ingest_batch={batch_id}")
        else:
            append_versioned(gated, bronze_path, run_id=run_id, now=now)
        if fault is not None:
            fault(batch_id)

    q = (
        typed.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_land)
        .start()
    )
    q.awaitTermination()


def q_streaming_bronze_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING BRONZE INGEST — the one reference journey whose
    streaming form was pytest-only until round 13: the Auto-Loader
    analog of the landing path.  File-source CSV stream (the
    checkpoint is the new-file ledger) → watermark-bounded row-dedup
    → the shared typed-cast block → foreachBatch anti-join against
    the ALREADY-PROCESSED ledger + ``append_versioned`` into bronze —
    then the SAME per-file manifest as ``bronze_ingest_replay``, read
    back from the written parquet, under the SAME DuckDB oracle
    (ORACLE_BRONZE_INGEST): identical files, streamed landing,
    value-identical bronze required."""
    import tempfile

    csv_dir = _synth_census_csvs(spark, sf_dir)
    bronze = tempfile.mkdtemp(prefix="stream_bronze_out_") + "/t"
    ckpt = tempfile.mkdtemp(prefix="stream_bronze_ckpt_")
    typed = _stream_plan_bronze_ingest(spark, sf_dir, csv_dir=csv_dir)
    ledger = spark.createDataFrame([(_BRONZE_FILE1,)], "file_nm STRING")
    # production-grade landing: batch-id-keyed overwrite, so the AUX
    # row exercises the exactly-once form (the at-least-once append
    # form is pinned separately by the fault-injection pytest)
    drain_bronze_stream(typed, ledger, bronze, ckpt, idempotent=True)
    return _census_manifest(spark.read.parquet(bronze))


AUX_QUERIES["streaming_bronze_ingest"] = q_streaming_bronze_ingest
AUX_ORACLES["streaming_bronze_ingest"] = ORACLE_BRONZE_INGEST
STREAMING_PLAN_BUILDERS["streaming_bronze_ingest"] = _stream_plan_bronze_ingest

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# --- round-13 exhibit: crawl-refresh operational loop (r12 verdict
# --- task 5 — the refresh cycle: CDC diff of a re-crawled source →
# --- health delta gate → incremental dedup vs the standing corpus →
# --- mix/pack manifest, under ONE fused oracle)

_CRL_CHURN_MAX = 0.5  # sources with churn above this are quarantined
_CRL_FRESH_OFF = 100_000_000  # fresh-page id offset (clears any SF)


def _crawl_refresh_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The OLD snapshot (the standing corpus) and a deterministic
    RE-CRAWL of it, every divergence an arithmetic function of doc_id
    so the fused oracle can recompute ground truth:

    - ``doc_id % 11 == 5``: page gone from the site (CDC delete);
    - rewritten pages (``doc_id % 17 == 2``, text fully replaced):
      updates whose new content shares nothing with the old — these
      must come out of the dedup stage NOVEL (re-ingest), unlike the
      lightly-edited class below;
    - changed pages (CDC update, ``text || ' rev2 update <id>'``):
      a uniform ~14% (``doc_id % 7 == 3``) everywhere PLUS every
      page of sources src4/src9 (``doc_id % 20 IN (4, 9)`` — the
      fixture keys source by ``doc_id % 20``) — the site-redesign
      template shift the health gate exists to catch;
    - fresh pages (CDC insert, parent ``doc_id % 13 == 1``, id
      offset by _CRL_FRESH_OFF): even parents syndicate their own
      text verbatim (an exact dup the dedup stage must catch), odd
      parents genuinely new content."""
    from ..sources.registry import load_table, rebalance

    d = rebalance(load_table(spark, sf_dir, "documents")).filter(
        F.col("source").isNotNull()
    )
    old = d.select("doc_id", "source", "text")
    deleted = F.col("doc_id") % 11 == 5
    rewritten = F.col("doc_id") % 17 == 2
    changed = (F.col("doc_id") % 7 == 3) | (F.col("doc_id") % 20).isin(4, 9)
    surv = old.filter(~deleted)
    new = surv.select(
        "doc_id",
        "source",
        F.when(
            rewritten,
            F.concat(
                F.lit("rewritten page "),
                F.col("doc_id").cast("string"),
                F.lit(" entirely new copy "),
                (F.col("doc_id") * 31).cast("string"),
            ),
        )
        .when(
            changed,
            F.concat(
                F.col("text"),
                F.lit(" rev2 update "),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionByName(
        surv.filter(F.col("doc_id") % 13 == 1).select(
            (F.col("doc_id") + _CRL_FRESH_OFF).alias("doc_id"),
            "source",
            F.when(F.col("doc_id") % 2 == 0, F.col("text"))
            .otherwise(
                F.concat(
                    F.lit("fresh page "),
                    (F.col("doc_id") + _CRL_FRESH_OFF).cast("string"),
                    F.lit(" unique segment "),
                    (F.col("doc_id") * 17).cast("string"),
                )
            )
            .alias("text"),
        )
    )
    return old, new


def q_crawl_refresh_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAWL-REFRESH OPERATIONAL LOOP — the journey a periodic
    re-crawl takes before any of it may touch the training corpus,
    chaining four verified families end-to-end under ONE fused DuckDB
    oracle (the training_shard_pipeline discipline):

    1. **CDC diff** (``scd.snapshot_diff``): old vs re-crawled
       snapshot → delta-sized I/U/D feed (the source emits no
       deltas; diffing snapshots is the reference's own M5/RUN_ID
       pattern pointed at a crawl);
    2. **health delta gate**: per-source churn rate
       ``(updates + deletes) / old volume`` from the feed joined
       against old volumes — sources above _CRL_CHURN_MAX (the
       template-shift signature: src4/src9 churn ~1.0 vs ~0.22
       elsewhere) are quarantined BEFORE any expensive text work;
    3. **incremental dedup** (``dedup.incremental_dedup``): the gated
       increment (inserts + updates, NEW text) judged against the
       STANDING corpus by exact digest + MinHash-LSH banding + exact
       Jaccard — changed pages resurface as near-dups of their own
       old version (skip re-ingest), syndicated fresh pages as exact
       dups, genuinely new content as novel;
    4. **mix/pack** (``sampling.temperature_mix`` +
       ``pack_sequences``): only novel survivors are mixed
       (share^(1/T) toward the 60% budget) and packed into
       2048-token shard manifests.

    Output: one row per (shard, pack) manifest entry, every row
    carrying the loop's audit counters (op mix, gated-source count,
    dedup status mix) via a broadcast one-row summary — the
    cdc_roundtrip manifest pattern.

    Scale shape: the corpus appears in exactly three row-grain
    passes — the CDC full-outer key join (delta-collapsed
    immediately and localCheckpointed: ops/health/increment all
    branch off the materialized delta), the standing-side digest/band
    artifact derivation inside incremental_dedup (lazy, column-pruned
    per branch), and the old-volume aggregate; everything downstream
    is increment-sized, and the gate runs BEFORE dedup so quarantined
    sources never pay the shingle cost."""
    from ..functions import word_tokens
    from ..operators import dedup, sampling, scd
    from .core import (
        _MINHASH_BANDS,
        _MINHASH_K,
        _MINHASH_N,
        _PACK_BUDGET,
        _PACK_SHARDS,
        _SAMPLE_SALT,
    )
    from .curation import _INC_THRESHOLD, _TSP_BUDGET, _TSP_TEMP

    old, new = _crawl_refresh_frames(spark, sf_dir)
    with materialize.scope() as ms:
        # 1. CDC: ONE full-outer key join; the feed is delta-sized and is
        # consumed by three branches (op mix, churn, increment) — eager
        # localCheckpoint materializes the join exactly once
        feed = ms.checkpoint(
            scd.snapshot_diff(old, new, "doc_id", ["source", "text"])
        )
        ops = feed.agg(
            F.sum((F.col("change_type") == "insert").cast("long")).alias(
                "n_inserts"
            ),
            F.sum((F.col("change_type") == "update").cast("long")).alias(
                "n_updates"
            ),
            F.sum((F.col("change_type") == "delete").cast("long")).alias(
                "n_deletes"
            ),
        )
        # 2. health delta gate: churn per source from the feed vs old
        # volumes (both source-cardinality tables)
        vol = old.groupBy("source").agg(F.count(F.lit(1)).alias("__n_old"))
        churn = (
            feed.filter(F.col("change_type").isin("update", "delete"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("__n_churn"))
        )
        health = vol.join(churn, "source", "left").select(
            "source",
            (
                F.coalesce(F.col("__n_churn"), F.lit(0)) / F.col("__n_old")
            ).alias("churn_rate"),
        )
        healthy = health.filter(F.col("churn_rate") <= _CRL_CHURN_MAX).select(
            "source"
        )
        n_healthy = health.agg(
            F.sum((F.col("churn_rate") <= _CRL_CHURN_MAX).cast("long")).alias(
                "n_src_healthy"
            )
        )
        # 3. the gated increment (NEW text), judged against the standing
        # corpus; increment is re-read by the novel-survivor join below,
        # so checkpoint the (delta-sized) frame once
        increment = ms.checkpoint(
            feed.filter(F.col("change_type").isin("insert", "update"))
            .join(F.broadcast(healthy), "source", "left_semi")
            .select("doc_id", "source", "text")
        )
        # statuses is increment-sized and feeds TWO branches (the status
        # mix and the novel-survivor semi-join); eager localCheckpoint
        # materializes the whole sig/band/verify pipeline ONCE — without
        # it both branches re-derive the corpus-side artifacts (the plan
        # audit reads the dedup's 12 scan references twice)
        raw_statuses = ms.hold(
            dedup.incremental_dedup(
                increment,
                old,
                k=_MINHASH_K,
                num_hashes=_MINHASH_N,
                bands=_MINHASH_BANDS,
                threshold=_INC_THRESHOLD,
            )
        )
        statuses = ms.checkpoint(raw_statuses)
        # the eager checkpoint has fully consumed the dedup result, so the
        # operator's internal state — the persisted increment artifact
        # frame AND the reference-artifact + candidate checkpoints — can
        # be freed NOW
        ms.release(raw_statuses)
        dd = statuses.agg(
            F.sum((F.col("status") == "exact_dup").cast("long")).alias(
                "n_exact_dup"
            ),
            F.sum((F.col("status") == "near_dup").cast("long")).alias(
                "n_near_dup"
            ),
            F.sum((F.col("status") == "novel").cast("long")).alias("n_novel"),
        )
        novel_ids = statuses.filter(F.col("status") == "novel").select("doc_id")
        surv = increment.join(novel_ids, "doc_id", "left_semi").select(
            "doc_id",
            "source",
            F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)).cast("int").alias(
                "shard"
            ),
            F.size(word_tokens("text")).alias("tokens"),
        )
        # 4. mix toward the budget, then pack per shard
        mixed = sampling.temperature_mix(
            surv,
            "source",
            temperature=_TSP_TEMP,
            budget_fraction=_TSP_BUDGET,
            key_col="doc_id",
            salt=_SAMPLE_SALT,
        )
        packed = sampling.pack_sequences(
            mixed.select("doc_id", "source", "shard", "tokens"),
            token_col="tokens",
            budget=_PACK_BUDGET,
            shard_col="shard",
        )
        summary = (
            ops.crossJoin(n_healthy).crossJoin(dd)
        )
        out = (
            packed.groupBy("shard", "pack_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("tokens").cast("long").alias("pack_tokens"),
                F.countDistinct("source").cast("long").alias("n_sources"),
                F.min("doc_id").cast("long").alias("first_doc"),
                F.max("doc_id").cast("long").alias("last_doc"),
            )
            .crossJoin(F.broadcast(summary))
        )
        return ms.attach(out)


def _crawl_refresh_oracle() -> str:
    """Fused DuckDB twin of q_crawl_refresh_loop: ground truth is
    recomputed ARITHMETICALLY from the divergence rules (the
    bronze_ingest_replay discipline) — the oracle never runs a diff,
    so hash-green proves snapshot_diff found exactly the planted
    deltas — while the dedup stage mirrors the full sig/band/verify
    pipeline (the _incremental_oracle geometry) with a ``side`` tag
    separating increment rows from standing-corpus rows, because
    updated pages carry the SAME doc_id on both sides with different
    text."""
    from ..operators import dedup
    from .core import (
        _DUCK_NORM,
        _MINHASH_BANDS,
        _MINHASH_K,
        _MINHASH_N,
        _PACK_BUDGET,
        _PACK_SHARDS,
        _SAMPLE_SALT,
        _duck_hash,
    )
    from .curation import _INC_THRESHOLD, _TSP_BUDGET, _TSP_TEMP

    shingle = (
        f"list_distinct([substr(t, CAST(i AS INT), {_MINHASH_K}) "
        f"for i in range(1, greatest(length(t) - {_MINHASH_K - 1}, 1) + 1)])"
    )
    p = dedup.MINHASH_P
    basehash = f"[{_duck_hash('s')} % {p} for s in shingles]"
    sig_cols = ",\n       ".join(
        f"list_min([({a} * h + {b}) % {p} for h in hs]) AS sig_{i}"
        for i, (a, b) in enumerate(dedup.minhash_perm_params(_MINHASH_N))
    )
    rows = _MINHASH_N // _MINHASH_BANDS
    bands = "\nUNION ALL\n".join(
        "SELECT side, doc_id, {b} AS band_id, concat_ws('_', {cols}) AS band_key "
        "FROM sig".format(
            b=b, cols=", ".join(f"sig_{b * rows + r}" for r in range(rows))
        )
        for b in range(_MINHASH_BANDS)
    )
    jac = (
        "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
        " / (len(a.shingles) + len(b.shingles)"
        " - len(list_intersect(a.shingles, b.shingles)))"
    )
    ws = (
        "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
        " x -> x <> ''))"
    )
    off = _CRL_FRESH_OFF
    return f"""
WITH cls AS (
    SELECT doc_id, source, text,
           (doc_id % 11 = 5) AS del,
           (doc_id % 11 <> 5) AND (doc_id % 17 = 2) AS rw,
           (doc_id % 11 <> 5) AND (doc_id % 17 <> 2)
               AND (doc_id % 7 = 3 OR (doc_id % 20) IN (4, 9)) AS chg
    FROM documents WHERE source IS NOT NULL
),
ops AS (
    SELECT CAST(sum(CASE WHEN NOT del AND doc_id % 13 = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
           CAST(sum(CASE WHEN rw OR chg THEN 1 ELSE 0 END) AS BIGINT)
               AS n_updates,
           CAST(sum(CASE WHEN del THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deletes
    FROM cls
),
health AS (
    SELECT source,
           sum(CASE WHEN rw OR chg OR del THEN 1 ELSE 0 END) * 1.0
               / count(*) AS churn_rate
    FROM cls GROUP BY 1
),
healthy AS (SELECT source FROM health WHERE churn_rate <= {_CRL_CHURN_MAX}),
nhealthy AS (
    SELECT CAST(count(*) AS BIGINT) AS n_src_healthy FROM healthy
),
inc AS (
    SELECT c.doc_id, c.source,
           CASE WHEN c.rw THEN
               'rewritten page ' || CAST(c.doc_id AS VARCHAR)
               || ' entirely new copy ' || CAST(c.doc_id * 31 AS VARCHAR)
           ELSE c.text || ' rev2 update ' || CAST(c.doc_id AS VARCHAR)
           END AS text
    FROM cls c JOIN healthy h USING (source)
    WHERE c.rw OR c.chg
    UNION ALL
    SELECT c.doc_id + {off}, c.source,
           CASE WHEN c.doc_id % 2 = 0 THEN c.text
                ELSE 'fresh page ' || CAST(c.doc_id + {off} AS VARCHAR)
                     || ' unique segment ' || CAST(c.doc_id * 17 AS VARCHAR)
           END
    FROM cls c JOIN healthy h USING (source)
    WHERE NOT c.del AND c.doc_id % 13 = 1
),
allr AS (
    SELECT 0 AS side, doc_id, text FROM inc
    UNION ALL
    SELECT 1 AS side, doc_id, text FROM cls
),
norm AS (SELECT side, doc_id, {_DUCK_NORM} AS t FROM allr),
sh AS (SELECT side, doc_id, {shingle} AS shingles FROM norm),
basehash AS (SELECT side, doc_id, {basehash} AS hs FROM sh),
sig AS (SELECT side, doc_id, {sig_cols} FROM basehash),
banded AS ({bands}),
dig AS (
    SELECT side, doc_id, {_duck_hash(_DUCK_NORM, 0)} AS h,
           length({_DUCK_NORM}) AS l
    FROM allr
),
exact AS (
    SELECT n.doc_id AS new_id, min(r.doc_id) AS exact_match
    FROM dig n JOIN dig r ON n.h = r.h AND n.l = r.l
    WHERE n.side = 0 AND r.side = 1
    GROUP BY 1
),
cand AS (
    SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
    FROM banded n JOIN banded r
      ON n.band_id = r.band_id AND n.band_key = r.band_key
    WHERE n.side = 0 AND r.side = 1
),
near AS (
    SELECT c.new_id, min(c.ref_id) AS near_match
    FROM cand c
    JOIN sh a ON a.side = 0 AND a.doc_id = c.new_id
    JOIN sh b ON b.side = 1 AND b.doc_id = c.ref_id
    WHERE round({jac}, 6) >= {_INC_THRESHOLD}
    GROUP BY 1
),
statuses AS (
    SELECT i.doc_id, i.source, i.text,
           CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
                WHEN nr.near_match IS NOT NULL THEN 'near_dup'
                ELSE 'novel' END AS status
    FROM inc i
    LEFT JOIN exact e ON e.new_id = i.doc_id
    LEFT JOIN near nr ON nr.new_id = i.doc_id
),
dd AS (
    SELECT CAST(sum(CASE WHEN status = 'exact_dup' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_dup,
           CAST(sum(CASE WHEN status = 'near_dup' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_near_dup,
           CAST(sum(CASE WHEN status = 'novel' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel
    FROM statuses
),
novel AS (
    SELECT doc_id, source, text FROM statuses WHERE status = 'novel'
),
counts AS (SELECT source, count(*) AS n_g FROM novel GROUP BY 1),
pw AS (SELECT source, n_g,
              pow(CAST(n_g AS DOUBLE), {1.0 / _TSP_TEMP!r}) AS w
       FROM counts),
norms AS (SELECT sum(w) AS wsum, sum(n_g) AS n FROM pw),
rates AS (SELECT source,
                 least(1.0, {_TSP_BUDGET!r} * norms.n * (w / wsum) / n_g)
                     AS rate
          FROM pw, norms),
mixed AS (
    SELECT v.doc_id, v.source, v.text
    FROM novel v JOIN rates r USING (source)
    WHERE {_duck_hash("CAST(doc_id AS VARCHAR)", _SAMPLE_SALT)} % 1000000
          < CAST(floor(r.rate * 1000000) AS BIGINT)
),
t AS (
    SELECT doc_id, source,
           CAST(doc_id % {_PACK_SHARDS} AS INT) AS shard,
           {ws} AS tokens
    FROM mixed
),
o AS (
    SELECT doc_id, source, shard, tokens,
           CAST(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - tokens
                AS BIGINT) AS pack_offset
    FROM t
),
packed AS (
    SELECT *,
           CAST(floor(pack_offset / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id
    FROM o
),
manifest AS (
    SELECT shard, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tokens) AS BIGINT) AS pack_tokens,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM packed GROUP BY 1, 2
)
SELECT m.shard, m.pack_id, m.n_docs, m.pack_tokens, m.n_sources,
       m.first_doc, m.last_doc,
       ops.n_inserts, ops.n_updates, ops.n_deletes,
       nhealthy.n_src_healthy, dd.n_exact_dup, dd.n_near_dup, dd.n_novel
FROM manifest m, ops, nhealthy, dd
"""


AUX_QUERIES["crawl_refresh_loop"] = q_crawl_refresh_loop
AUX_ORACLES["crawl_refresh_loop"] = _crawl_refresh_oracle()

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# --- round-13 exhibit 3: maintenance cycle (M1-M4 under the hash
# --- gate — the r12 bronze_ingest_replay move applied to the
# --- reference's table-optimization notebook)


def q_maintenance_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAINTENANCE CYCLE — the reference's table-optimization journey
    (code/ukg_tbl_optmztn.py:14-85: OPTIMIZE + retention DELETE +
    VACUUM over the versioned tables), previously pytest-only, now
    under the DuckDB hash gate end to end:

    five versioned run batches (run r = the ``o_orderkey % 5 == r-1``
    slice of orders, landed at ``base + r days`` with the K3 audit
    quintet, 8 small files each — the small-file problem OPTIMIZE
    exists for) are appended into a scratch table; then the cycle
    runs: **M2 retention** (2-day window anchored at base+5d — the
    cutoff lands exactly between run 2 and run 3, so runs 1-2 must
    vanish and 3-5 survive byte-exactly), **M1 compaction** (40 tiny
    files collapse to 1 — the return value rides the manifest and the
    oracle asserts it), **M3 vacuum** (every Hadoop ``.crc`` shadow
    file removed — the on-disk survivor count rides the manifest),
    **M4 DDL** (drop-and-create an external table over the compacted
    path; the manifest READS THROUGH the registered table name, so a
    broken LOCATION fails the hash).

    The oracle recomputes the surviving runs arithmetically from
    ``orders``; hash-green therefore proves retention dropped exactly
    the expired runs, compaction preserved every surviving row and
    value, the audit columns landed, and the DDL resolves.

    Scale shape: the appends, the retention rewrite, and the
    compaction coalesce are all distributed jobs over the scratch
    table; only the file-count probes (os.walk over a bounded dir)
    and the DDL are driver-side control plane."""
    import datetime as _dt
    import os
    import tempfile
    import uuid

    from ..operators import maintenance
    from ..sinks.writers import append_versioned
    from ..sources.registry import load_table

    base = _dt.datetime(2024, 3, 1, 12, 0, tzinfo=_dt.timezone.utc)
    table = tempfile.mkdtemp(prefix="maint_cycle_") + "/t"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    for r in range(1, 6):
        batch = orders.filter(F.col("o_orderkey") % 5 == r - 1).repartition(8)
        append_versioned(
            batch, table, run_id=r, now=base + _dt.timedelta(days=r)
        )
    kept_rows = maintenance.retention_delete(
        spark,
        table,
        ts_col="row_insert_tsp",
        retention_days=2,
        now=base + _dt.timedelta(days=5),
    )
    n_files = maintenance.compact(spark, table, target_file_mb=128)
    maintenance.vacuum(table)
    crc_after = sum(
        1
        for dp, _, fs in os.walk(table)
        for f in fs
        if f.startswith(".") and f.endswith(".crc")
    )
    name = f"maint_cycle_{uuid.uuid4().hex[:8]}"
    maintenance.create_table_ddl(
        spark,
        name,
        "o_orderkey BIGINT, o_totalprice DOUBLE, run_id BIGINT, "
        "row_insert_tsp TIMESTAMP, row_updt_tsp TIMESTAMP, "
        "insert_user_id STRING, updt_user_id STRING",
        table,
    )
    out = (
        spark.table(name)
        .groupBy("run_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.countDistinct("insert_user_id").cast("long").alias("n_users"),
            F.max(F.to_date("row_insert_tsp")).cast("string").alias(
                "insert_day"
            ),
        )
        .withColumn("kept_rows", F.lit(int(kept_rows)).cast("long"))
        .withColumn("n_files_after", F.lit(int(n_files)).cast("long"))
        .withColumn("crc_after", F.lit(int(crc_after)).cast("long"))
    )
    # the scratch registration must not leak into later queries
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    return out


ORACLE_MAINTENANCE_CYCLE = """
WITH runs AS (
    SELECT r.r AS run_id, o.o_orderkey, o.o_totalprice
    FROM orders o
    JOIN (SELECT unnest([3, 4, 5]) AS r) r
      ON o.o_orderkey % 5 = r.r - 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS kept FROM runs)
SELECT run_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(o_totalprice), 2) AS sum_price,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(1 AS BIGINT) AS n_users,
       strftime(DATE '2024-03-01' + to_days(CAST(run_id AS INT)),
                '%Y-%m-%d') AS insert_day,
       tot.kept AS kept_rows,
       CAST(1 AS BIGINT) AS n_files_after,
       CAST(0 AS BIGINT) AS crc_after
FROM runs, tot
GROUP BY run_id, tot.kept
"""


AUX_QUERIES["maintenance_cycle"] = q_maintenance_cycle
AUX_ORACLES["maintenance_cycle"] = ORACLE_MAINTENANCE_CYCLE

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# --- round-13 exhibit 4: REST workload round-trip (S5 + S4 + K5 +
# --- R1-R3 + R6 under the hash gate — the last transport-backed
# --- family that was pytest-only)

# The planted-dud rule for the canned fetch transports: a request is
# 500'd when it contains a qualifier whose nation key % 14 == 3
# (nations 3 and 17).  ONE definition — the rest_workload and
# alerting exhibits AND both their oracles reference this modulus, so
# changing the plant cannot desynchronize them (r13 review).
_REST_DUD_MOD = 14


def _nation_qualifiers(
    spark: SparkSession, sf_dir: str
) -> tuple[list[str], dict[str, int]]:
    """The 25 nation names ordered by key (control-plane sized — the
    reference's get_valid_qualifiers shape), plus the name→key map the
    canned transports close over."""
    from ..sources.registry import load_table

    nations = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
        .collect()
    )
    key_of = {r["n_name"]: int(r["n_nationkey"]) for r in nations}
    return [r["n_name"] for r in nations], key_of


def _requested_keys(body: str, key_of: dict[str, int]) -> list[int]:
    """Nation keys named by a QBE request body."""
    import json as _json

    req = _json.loads(body)
    return [key_of[q] for q in req["from"]["locations"]["qualifiers"]]


def _has_dud(ks: list[int]) -> bool:
    return any(k % _REST_DUD_MOD == 3 for k in ks)


def q_rest_workload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REST WORKLOAD ROUND-TRIP — the reference's API-ingest journey
    (entry point B: token → qualifier batches → QBE POST → JSON
    normalize → versioned persist → status-gated POST-back), run end
    to end against CANNED DETERMINISTIC transports and checked by one
    fused DuckDB oracle over ``nation``:

    1. **qualifiers** = the 25 nation names keyed by ``n_nationkey``
       (control-plane sized, the reference's get_valid_qualifiers
       shape);
    2. **S5 fetch with the full reliability ladder**
       (``plans.workload.ingest_workload`` → ``fetch_documents``):
       the fetch transport 500s ANY request containing a dud
       qualifier (``n_nationkey % 14 == 3`` → nations 3 and 17), so
       batch 1 and batch 2 (size 10) must shrink-to-1 (R2), the two
       duds must land in the skip-and-log ledger (R3), and batch 3
       must succeed WHOLE (R1 happy path) — 19 documents total, each
       synthesizing workload children per (qualifier, day, zone) as
       arithmetic functions of the nation key;
    3. **S4 normalize + K1 persist**: the explode-based
       ``normalize_workload`` master lands via ``append_versioned``;
       the aggregate below reads it BACK from parquet;
    4. **K5/R6 status-gated POST-back**: the per-(day, zone) rollup
       posts through a transport whose FIRST call 500s (forcing the
       sink's own shrink-to-1 — 5 transport calls exactly), and only
       after every row ultimately succeeds does the audit append run;
       the manifest reads the AUDIT table back, so a broken R6
       ordering (audit-before-success) or a silent partial POST
       fails the hash.

    Output: one row per (day, zone) from the audit read-back, each
    carrying the journey's ledger counters (fetch successes/failures,
    POST attempts, gate outcome).  The oracle recomputes everything
    arithmetically from ``nation`` minus the two planted duds."""
    import datetime as _dt
    import json as _json
    import tempfile

    from ..plans.workload import ingest_workload
    from ..sinks.rest_sink import post_then_audit
    from ..sinks.writers import append_versioned

    qualifiers, key_of = _nation_qualifiers(spark, sf_dir)

    def fetch_transport(url: str, body: str) -> tuple[int, str]:
        ks = _requested_keys(body, key_of)
        if _has_dud(ks):
            return 500, "planted dud qualifier"
        children = []
        for k in ks:
            q = qualifiers[k]
            for d in (1, 2):
                for z in (1, 2):
                    children.append(
                        {
                            "key": {
                                "SCHEDULE_COVERAGE_SCHEDULED_COUNT": str(
                                    k * z + d
                                ),
                                "SCHEDULE_WORKLOAD_PLANNED_COUNT": str(
                                    k + 3 * z + d
                                ),
                            },
                            "coreEntityKey": {
                                "ORG": {"id": str(k), "qualifier": q},
                                "DAY": {"id": f"2024-05-0{d}"},
                                "SCH_ZONE": {
                                    "id": str(z),
                                    "qualifier": f"Z{z}",
                                },
                            },
                            "attributes": [],
                        }
                    )
        return 200, _json.dumps({"data": {"children": children}})

    scratch = tempfile.mkdtemp(prefix="rest_wl_")
    now = _dt.datetime(2024, 5, 3, 6, 0, tzinfo=_dt.timezone.utc)
    _m, _c, fetch_report = ingest_workload(
        spark,
        "https://fake.example/workload",
        fetch_transport,
        qualifiers,
        "2024-05-01",
        "2024-05-02",
        f"{scratch}/master",
        f"{scratch}/child",
        run_id=9,
        now=now,
        batch_size=10,
    )
    agg = (
        spark.read.parquet(f"{scratch}/master")
        .groupBy("day_id", "schdl_zn_id")
        .agg(
            F.countDistinct("org_qlfr").cast("long").alias("n_orgs"),
            F.sum(F.col("schdl_covge_schdld_cnt").cast("long"))
            .cast("long")
            .alias("sum_sched"),
            F.sum(F.col("schdl_wrkload_plnd_cnt").cast("long"))
            .cast("long")
            .alias("sum_plan"),
        )
    )

    post_calls = {"n": 0}

    def post_transport(url: str, body: str) -> tuple[int, str]:
        post_calls["n"] += 1
        if post_calls["n"] == 1:
            return 503, "transient"
        return 200, "ok"

    result = post_then_audit(
        agg,
        "https://fake.example/postback",
        post_transport,
        lambda df: append_versioned(
            df, f"{scratch}/audit", run_id=9, now=now
        ),
        batch_size=3,
    )
    audit = spark.read.parquet(f"{scratch}/audit")
    return audit.select(
        F.col("day_id").cast("string").alias("day_id"),
        F.col("schdl_zn_id").cast("int").alias("zone_id"),
        "n_orgs",
        "sum_sched",
        "sum_plan",
    ).withColumns(
        {
            "n_fetch_ok": F.lit(len(fetch_report.succeeded)).cast("long"),
            "n_fetch_failed": F.lit(len(fetch_report.failed)).cast("long"),
            "n_post_calls": F.lit(len(result.responses)).cast("long"),
            "post_gate_ok": F.lit(int(result.report.ok)).cast("long"),
        }
    )


# Ledger arithmetic, mirrored: batches of 10 over keys 0..24 →
# [0-9] and [10-19] each contain one dud (3, 17) so they shrink to
# singles (9 fetch successes each), [20-24] passes whole; POST-back is
# 4 rows in batches of 3 → first call 503s, 3 single retries, then the
# final 1-row batch: 5 calls, gate open.
ORACLE_REST_WORKLOAD = """
WITH q AS (
    SELECT n_nationkey AS k FROM nation WHERE n_nationkey % 14 <> 3
),
grid AS (
    SELECT k, z.z AS z, d.d AS d
    FROM q, (SELECT unnest([1, 2]) AS z) z, (SELECT unnest([1, 2]) AS d) d
)
SELECT '2024-05-0' || CAST(d AS VARCHAR) AS day_id,
       CAST(z AS INT) AS zone_id,
       CAST(count(*) AS BIGINT) AS n_orgs,
       CAST(sum(k * z + d) AS BIGINT) AS sum_sched,
       CAST(sum(k + 3 * z + d) AS BIGINT) AS sum_plan,
       CAST(23 AS BIGINT) AS n_fetch_ok,
       CAST(2 AS BIGINT) AS n_fetch_failed,
       CAST(5 AS BIGINT) AS n_post_calls,
       CAST(1 AS BIGINT) AS post_gate_ok
FROM grid
GROUP BY d, z
"""


AUX_QUERIES["rest_workload_roundtrip"] = q_rest_workload_roundtrip
AUX_ORACLES["rest_workload_roundtrip"] = ORACLE_REST_WORKLOAD

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# --- round-13 exhibit 5: SharePoint mapping-refresh gate (S6 + S7 +
# --- T4 + K4 under the hash gate — entry point C with the REAL Graph
# --- client walk against a canned transport)


def q_mapping_refresh_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAPPING-REFRESH GATE — the reference's SharePoint journey
    (entry point C: Graph OAuth → drive walk → last-modified gate →
    workbook download → clean/cast → versioned append → watermark
    commit), run THREE times against a canned deterministic Graph
    transport and checked by one fused oracle over ``region``:

    - **run 1** (no watermark): the real ``GraphClient`` walks
      token → root → folder → item, probes lastModifiedDateTime,
      downloads via the pre-signed URL (S6), and
      ``plans.mapping.refresh_mapping`` ingests — the malformed
      ``X9`` id must try_cast to NULL and be dropped (P5), the
      watermark commits only AFTER the append (the R6 ordering);
    - **run 2** (same mtime): the metadata-only probe must skip the
      ENTIRE pipeline — the download counter proves the payload was
      never fetched (T4/S7, the reference's early exit);
    - **run 3** (newer mtime, one extra row): re-ingest under a new
      RUN_ID.

    The manifest reads the table back through ``latest_snapshot``
    (K4) — so stale-snapshot leakage, a skipped run that should have
    ingested, a double download, or a watermark committed at the
    wrong time each break the hash via the per-group counts or the
    ledger counters (n_runs / n_downloads / n_skips)."""
    import datetime as _dt
    import json as _json
    import tempfile

    from ..operators.snapshots import latest_snapshot
    from ..plans.mapping import refresh_mapping
    from ..sources.graph_client import GraphClient
    from ..sources.registry import load_table

    SITE = "contoso.example,site-a,site-b"
    G = "https://graph.microsoft.com/v1.0"
    regions = (
        load_table(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
        .collect()
    )
    rows_v1 = [
        f"{100 + int(r['r_regionkey'])},DEPT_{r['r_name']},"
        f"{'YES' if int(r['r_regionkey']) % 2 == 0 else 'NO'}"
        for r in regions
    ] + ["X9,DEPT_BAD,NO"]
    csv_v1 = ("EPIC_DEPT_ID,DEPT_BUS_STRCTR,FRCST_YN\n"
              + "\n".join(rows_v1) + "\n").encode()
    csv_v2 = csv_v1 + b"105,DEPT_NEW,YES\n"
    state = {
        "mtime": "2024-06-01T08:00:00Z",
        "payload": csv_v1,
        "downloads": 0,
    }

    def transport(method, url, headers=None, data=None):
        if method == "POST":
            return 200, _json.dumps(
                {"token_type": "Bearer", "expires_in": 3599,
                 "access_token": "tok"}
            ).encode()
        fixtures = {
            f"{G}/sites/{SITE}/drive/root": {"id": "root-id"},
            f"{G}/sites/{SITE}/drive/items/root-id/children": {
                "value": [{"id": "map-dir", "name": "Mapping"}]
            },
            f"{G}/sites/{SITE}/drive/items/map-dir/children": {
                "value": [{"id": "item-id", "name": "mapping.xlsx"}]
            },
            f"{G}/sites/{SITE}/drive/items/item-id"
            "?select=lastModifiedDateTime": {
                "lastModifiedDateTime": state["mtime"]
            },
            f"{G}/sites/{SITE}/drive/items/item-id/"
            "?select=id,@microsoft.graph.downloadUrl": {
                "id": "item-id",
                "@microsoft.graph.downloadUrl": "https://dl.example/map",
            },
        }
        if url == "https://dl.example/map":
            state["downloads"] += 1
            return 200, state["payload"]
        return 200, _json.dumps(fixtures[url]).encode()

    client = GraphClient(
        tenant_id="tid", client_id="cid", client_secret="s",
        site_id=SITE, transport=transport,
    )
    fetcher = client.fetcher("Mapping", "mapping.xlsx")

    def probe():
        return client.last_modified(client.item_id("Mapping", "mapping.xlsx"))

    scratch = tempfile.mkdtemp(prefix="map_gate_")
    control, table = f"{scratch}/control", f"{scratch}/table"
    r1 = refresh_mapping(
        spark, fetcher, control, table,
        now=_dt.datetime(2024, 6, 1, 9, 0, tzinfo=_dt.timezone.utc),
        probe=probe,
    )
    r2 = refresh_mapping(
        spark, fetcher, control, table,
        now=_dt.datetime(2024, 6, 1, 15, 0, tzinfo=_dt.timezone.utc),
        probe=probe,
    )
    state["mtime"] = "2024-06-02T08:00:00Z"
    state["payload"] = csv_v2
    r3 = refresh_mapping(
        spark, fetcher, control, table,
        now=_dt.datetime(2024, 6, 2, 9, 0, tzinfo=_dt.timezone.utc),
        probe=probe,
    )
    assert r1 is not None and r2 is None and r3 is not None
    full = spark.read.parquet(table)
    n_runs = full.select("run_id").distinct().count()
    latest = latest_snapshot(full, "run_id")
    return (
        latest.groupBy("frcst_yn")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_depts"),
            F.min("epic_dept_id").cast("long").alias("min_id"),
            F.max("epic_dept_id").cast("long").alias("max_id"),
        )
        .withColumns(
            {
                "n_runs": F.lit(int(n_runs)).cast("long"),
                "n_downloads": F.lit(int(state["downloads"])).cast("long"),
                "n_skips": F.lit(int(r2 is None)).cast("long"),
            }
        )
    )


ORACLE_MAPPING_REFRESH_GATE = """
WITH rows AS (
    SELECT 100 + r_regionkey AS id,
           CASE WHEN r_regionkey % 2 = 0 THEN 'YES' ELSE 'NO' END AS f
    FROM region
    UNION ALL SELECT 105, 'YES'
)
SELECT f AS frcst_yn,
       CAST(count(*) AS BIGINT) AS n_depts,
       CAST(min(id) AS BIGINT) AS min_id,
       CAST(max(id) AS BIGINT) AS max_id,
       CAST(2 AS BIGINT) AS n_runs,
       CAST(2 AS BIGINT) AS n_downloads,
       CAST(1 AS BIGINT) AS n_skips
FROM rows
GROUP BY f
"""


AUX_QUERIES["mapping_refresh_gate"] = q_mapping_refresh_gate
AUX_ORACLES["mapping_refresh_gate"] = ORACLE_MAPPING_REFRESH_GATE

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


# --- round-13 exhibit 6: alerting round-trip (K6 + R4 under the hash
# --- gate — the notification edge that was pytest-only)


def q_alerting_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALERTING ROUND-TRIP — the notification edge (K6 expiration
    alert + R4 failure alert, the reference's SMTP side-channel) under
    the hash gate via the injectable mailer:

    a qualifier fetch over the 25 nation names runs against a
    transport that 500s the planted duds (``n_nationkey % 14 == 3``),
    and the resulting skip-and-log ledger feeds ``failure_alert``;
    ``expiration_alert`` fires for the nations whose key ``% 5 == 0``
    (the expiring-zones shape).  The manifest is built FROM THE
    CAPTURED MESSAGES — one row per mail with its kind, recipient
    count, and the number of ``<li>`` items in the HTML body — so a
    silent alert, a dropped failure row, or a malformed body breaks
    the hash.  The oracle recomputes both item counts from ``nation``
    arithmetic."""
    import json as _json

    from ..sinks.notify import (
        CapturingMailer,
        expiration_alert,
        failure_alert,
    )
    from ..sources.rest_source import fetch_documents

    qualifiers, key_of = _nation_qualifiers(spark, sf_dir)

    def transport(url: str, body: str) -> tuple[int, str]:
        if _has_dud(_requested_keys(body, key_of)):
            return 500, "planted dud"
        return 200, _json.dumps({"data": {"children": []}})

    _docs, report = fetch_documents(
        "https://fake.example/workload",
        transport,
        ("A", "B"),
        qualifiers,
        "2024-05-01",
        "2024-05-02",
        batch_size=5,
    )
    mailer = CapturingMailer()
    failure_alert(
        mailer,
        "noreply@engine",
        ["ops@example", "lead@example"],
        report.failed,
        context="workload fetch",
    )
    expiration_alert(
        mailer,
        "noreply@engine",
        ["ops@example"],
        [q for q in qualifiers if key_of[q] % 5 == 0],
    )
    rows = [
        (
            "failure" if "failure(s)" in m.subject else "expiration",
            len(m.recipients),
            m.html_body.count("<li>"),
        )
        for m in mailer.sent
    ]
    return spark.createDataFrame(
        rows, "kind STRING, n_recipients INT, n_items INT"
    )


ORACLE_ALERTING = """
SELECT 'failure' AS kind, CAST(2 AS INT) AS n_recipients,
       CAST(count(*) AS INT) AS n_items
FROM nation WHERE n_nationkey % 14 = 3
UNION ALL
SELECT 'expiration', CAST(1 AS INT), CAST(count(*) AS INT)
FROM nation WHERE n_nationkey % 5 = 0
"""


AUX_QUERIES["alerting_roundtrip"] = q_alerting_roundtrip
AUX_ORACLES["alerting_roundtrip"] = ORACLE_ALERTING

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)
