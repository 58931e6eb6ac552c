"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's own dedup surface (``distinct`` /
``dropDuplicates``, P10 — code/ukg_open_census.py:693,727), this module
adds the document-dedup family a 100 TB corpus pipeline needs: exact
(hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard.  All hashing
uses ``portable_hash64`` (md5-based) so every stage is reproducible in
DuckDB for oracle checks; production can swap ``xxhash64`` for speed
without changing plan shape.

Scale design:
- exact dedup: one hash-aggregate shuffle on a 60-bit digest, not the
  full text;
- MinHash/LSH: per-doc signatures are computed narrow (no shuffle,
  higher-order functions only); the only shuffle is the band-bucket
  self-join whose keys are (band_id, band_hash) — skew-safe because a
  bucket's size is bounded by collision probability, and AQE splits
  stragglers;
- n-gram Jaccard: exact verification is reserved for LSH candidate
  pairs at scale (explode-join on raw shingles is quadratic in
  bucket size; use ``jaccard_verify_pairs`` after LSH).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import materialize
from ..functions import (
    char_shingles,
    fast_hash64,
    normalize_text,
    portable_hash64,
    word_tokens,
)


def normalized_text(col: str = "text") -> F.Column:
    """Dedup normalization: lower, collapse whitespace, trim."""
    return normalize_text(col)


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by normalized-text digest: one row per
    distinct content with the canonical (min) id and duplicate count.

    The groupBy key is the 60-bit digest (+ length as a cheap
    anti-collision check), so the shuffle moves ~16 bytes/doc, not the
    document text.
    """
    keyed = df.select(
        F.col(id_col),
        portable_hash64(normalized_text(text_col)).alias("content_hash"),
        F.length(normalized_text(text_col)).alias("content_len"),
    )
    return keyed.groupBy("content_hash", "content_len").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one (min-id) row per distinct normalized text."""
    groups = exact_dedup_groups(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(groups, id_col, "left_semi")


MINHASH_P = 2147483647  # Mersenne prime 2^31-1: a*h+b stays < 2^62 (no BIGINT overflow in any engine)


def minhash_perm_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for the universal-hash
    permutations, identical across engines."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def _shingle_hash_fn(portable: bool):
    """The per-shingle base hash (portable md5-derived vs native
    xxhash64) shared by ``minhash_signatures`` and ``artifact_frame``."""
    if portable:
        def shingle_hash(s):
            return (
                F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
                % MINHASH_P
            )
    else:
        def shingle_hash(s):
            return F.pmod(F.xxhash64(s), F.lit(MINHASH_P))
    return shingle_hash


def _signature_cols(num_hashes: int, base_col: str = "__base") -> list[F.Column]:
    """The ``num_hashes`` universal-hash signature slots over a
    pre-hashed shingle array column."""
    def permuted(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P

    return [
        F.array_min(F.transform(F.col(base_col), permuted(a, b))).alias(
            f"sig_{i}"
        )
        for i, (a, b) in enumerate(minhash_perm_params(num_hashes))
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    portable: bool = True,
) -> DataFrame:
    """MinHash signatures over character k-gram shingles.

    Each shingle is hashed ONCE (the only expensive op), reduced mod
    2^31-1; the ``num_hashes`` signature slots are cheap universal-hash
    permutations ``(a_i*h + b_i) mod p`` of that base value — integer
    arithmetic inside codegen, so cost is ~1 hash/shingle regardless of
    signature width.  Entirely narrow: no shuffle, no UDF.

    ``portable=True`` (default) uses the md5-based hash the DuckDB
    oracle can reproduce; ``portable=False`` switches to engine-native
    ``xxhash64`` — same plan shape, measurably cheaper, for production
    runs where no cross-engine check is needed (``pmod`` keeps the
    signed xxhash64 in [0, p)).

    NB: HOF lambdas here take exactly one parameter — Spark passes the
    element index to two-parameter lambdas, which would corrupt seeds.
    The normalized text is materialized as a column BEFORE shingling so
    the normalization regex runs once per document, not once per
    shingle (lambda bodies get no subexpression elimination — measured
    2x on this pipeline).
    """
    base = df.withColumn("__norm", normalize_text(text_col)).select(
        F.col(id_col),
        F.transform(
            char_shingles("__norm", k, pre_normalized=True),
            _shingle_hash_fn(portable),
        ).alias("__base"),
    )
    return base.select(F.col(id_col), *_signature_cols(num_hashes))


def lsh_band_table(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Explode a signature frame into its (id, band_id, band_key) LSH
    bucket table — the join key both the self-join
    (``lsh_candidate_pairs``) and the cross-corpus incremental form
    (``incremental_dedup``) bucket on."""
    rows = num_hashes // bands
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "_", *[F.col(f"sig_{b * rows + r}") for r in range(rows)]
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(band_entries).alias("band")
    ).select(id_col, "band.band_id", "band.band_key")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any full band are candidate
    duplicates.  Returns distinct (id_a < id_b) pairs.

    The self-join is keyed on (band_id, band_key): only same-bucket
    docs ever meet, which is what makes this subquadratic at corpus
    scale.
    """
    banded = lsh_band_table(signatures, id_col, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    # r13 optimization round: left to its size estimates Catalyst
    # BROADCASTS one side of this self-join, and a broadcast build is
    # a separate subtree from the streamed side — the whole shingle+
    # hash signature pipeline (the operator's only expensive work)
    # executed TWICE (measured in the before-plan: BroadcastExchange
    # and probe side each carrying the full Generate pipeline).  A
    # SHUFFLE_HASH self-join makes both sides byte-identical
    # bucket-keyed exchanges, which exchange reuse collapses into ONE
    # signature pass; it is also the only 100 TB-safe strategy here —
    # the band table is corpus-sized, far beyond any broadcast cap
    # (guide §3.1: pick the join strategy deliberately).
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            "inner",
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    Shape: explode distinct shingles -> self-join on shingle ->
    count co-occurrences -> jaccard = |A∩B| / (|A|+|B|-|A∩B|).
    Quadratic within a shingle's posting list — at 100 TB run this on
    LSH candidates only (``jaccard_verify_pairs``); exposed directly for
    corpus-scale-bounded inputs and oracle checks.
    """
    shingled = (
        df.withColumn("__norm", normalize_text(text_col))
        .select(
            F.col(id_col),
            char_shingles("__norm", k, pre_normalized=True).alias("__sh"),
        )
        .withColumn("__size", F.size("__sh"))
    )
    posting = shingled.select(
        id_col, "__size", F.explode("__sh").alias("shingle")
    )
    a = posting.alias("a")
    b = posting.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            "inner",
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__size").alias("size_a"),
            F.col("b.__size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = inter.withColumn(
        "jaccard",
        F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def jaccard_verify_pairs(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs: join the two
    shingle sets onto each (id_a, id_b) pair and compute overlap with
    array intersection — work proportional to candidate count, not
    corpus squared."""
    sh = df.withColumn("__norm", normalize_text(text_col)).select(
        F.col(id_col),
        char_shingles("__norm", k, pre_normalized=True).alias("__sh"),
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    portable: bool = True,
) -> DataFrame:
    """SimHash fingerprint over word tokens (``bits``-bit, default 32).

    Per doc: hash each distinct token; bit i of the fingerprint is 1
    when the majority of token-hashes have bit i set.  Built from
    higher-order functions (transform/aggregate/filter) — narrow, no
    UDF.  ``portable=True`` hashes with the md5 digest the DuckDB
    oracle reproduces; ``portable=False`` uses engine-native
    ``xxhash64`` masked to the low 60 bits (so ``1 << i`` bit tests
    behave identically on the non-negative value).
    """
    if portable:
        def token_hash(t):
            return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    else:
        def token_hash(t):
            return F.xxhash64(t).bitwiseAND(F.lit((1 << 60) - 1))

    toks = df.select(
        F.col(id_col), F.array_distinct(word_tokens(text_col)).alias("__toks")
    )
    hashed = toks.withColumn("__hashes", F.transform("__toks", token_hash))
    n = F.size("__hashes")

    def bit_test(mask: int):
        return lambda h: h.bitwiseAND(F.lit(mask)) != 0

    bit_votes = [
        (F.size(F.filter("__hashes", bit_test(1 << i))) * 2 > n).cast("long")
        * F.lit(1 << i)
        for i in range(bits)
    ]
    fingerprint = sum(bit_votes[1:], bit_votes[0])
    return hashed.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_candidate_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs by the pigeonhole principle: split the
    fingerprint into ``max_hamming + 1`` blocks — two fingerprints
    within ``max_hamming`` bits MUST agree on at least one whole block,
    so candidates come from equi-joins on (block_id, block_value) and
    only candidates pay the exact hamming check (bit_count of xor).

    Same scale shape as MinHash banding: the only shuffle is keyed on
    block values; the quadratic check never runs corpus-wide.
    """
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("block_id"),
                F.shiftright(F.col(sim_col), b * block_bits)
                .bitwiseAND(F.lit((1 << block_bits) - 1))
                .alias("block_val"),
            )
            for b in range(n_blocks)
        ]
    )
    banded = fingerprints.select(
        F.col(id_col), F.col(sim_col), F.explode(blocks).alias("b")
    ).select(id_col, sim_col, "b.block_id", "b.block_val")
    a = banded.alias("a")
    b = banded.alias("b")
    # r14 negative result: the SHUFFLE_HASH hint that won
    # lsh_candidate_pairs in r13 (collapsing the broadcast plan's
    # duplicated upstream pipeline into one pass via exchange reuse)
    # was tried here and measured SLOWER in an alternating in-session
    # A/B at sf0.1 (hint [8.48, 7.86, 8.59, 9.35] s vs default
    # broadcast [7.32, 6.83, 8.07, 6.60] s, identical 1.13 M-pair
    # output) — this operator's cost is dominated by the candidate
    # pair volume (10-bit blocks collide freely), not by the
    # fingerprint pipeline the hint would deduplicate, so the planner's
    # default stays.  At corpus scale the banded table outgrows the
    # broadcast threshold and Catalyst falls back to a shuffled join on
    # its own size estimates — no hint needed for scale safety.
    pairs = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col(f"a.{sim_col}").bitwiseXOR(F.col(f"b.{sim_col}"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    num_planes: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed (the 100 TB
    shape).

    Geometry: each vector is hashed once into a ``num_planes``-bit
    random-hyperplane bucket (narrow, codegen), then exploded to its
    home bucket plus every 1-bit-flip neighbor; candidates are the
    DISTINCT (id_a < id_b) pairs meeting in a bucket — an equi-join on
    the bucket id, never an all-pairs theta join.  Only candidates pay
    the exact cosine (vectors joined back by id, norms precomputed once
    per side).  Symmetric 1-flip probing covers every pair whose
    fingerprints differ by <= 2 bits; recall for tighter thresholds is
    tuned with fewer planes or multiple independent plane sets (OR over
    tables, same plan shape per table).

    Candidate discovery shuffles (id, bucket) ints only — vector
    payloads move once, keyed by id, for the verify join.
    """
    from .similarity import dot, hyperplane_bucket, l2_norm, make_planes

    planes = make_planes(dim, num_planes, seed)
    home = hyperplane_bucket(F.col(vec_col), planes)
    probe_buckets = F.array(
        home, *[home.bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)]
    )
    banded = df.select(
        F.col(id_col), F.explode(probe_buckets).alias("__bucket")
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            "inner",
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", F.round(sim, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force — O(n^2)
    theta join; the small-input recall oracle for
    :func:`embedding_near_dup_pairs_lsh`, never the corpus-scale
    path)."""
    from .similarity import dot, l2_norm

    # precompute each vector's norm BEFORE the pair join — computed
    # once per vector instead of once per pair (3x less arithmetic on
    # the quadratic path)
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"), "inner")
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cosine", F.round(sim, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space by nearest-centroid
    assignment, then mark every vector that has a LOWER-id neighbor in
    the SAME cluster with cosine >= ``threshold`` as a semantic
    duplicate — one representative (the lowest id of each near-dup
    chain head) survives.  Extends the syntactic dedup family
    (reference's distinct/dropDuplicates, code/ukg_open_census.py:693)
    to meaning-level duplicates that share no tokens.

    Scale shape — the paper's core trick, preserved: the quadratic
    pair term is confined to WITHIN-cluster pairs (k clusters cut
    candidate pairs by ~k vs the corpus-wide join), assignment is a
    broadcast of the k centroid rows (narrow, one cosine expression in
    codegen), and the pair meet is an equi-join on the cluster id —
    AQE splits a skewed cluster's stragglers.  Nothing corpus-wide is
    ever theta-joined.

    Returns (id_col, cluster, kept) for EVERY input vector, so the
    output is a stable full-corpus labeling rather than a
    nondeterministically-sized survivor set.
    """
    from .similarity import cosine_sim, dot, l2_norm
    from .windows import rank_topk_per_group

    # assignment carries the vector through the ranking window instead
    # of joining back to df afterwards (ivf_assign's shape) — the
    # assignment subtree is referenced three times below, and each
    # join-back would double its scan count
    c = centroids.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    scored = df.select(id_col, vec_col).crossJoin(F.broadcast(c)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__cid").alias("cluster"),
        F.round(cosine_sim(F.col(vec_col), F.col("__cvec")), 6).alias("__score"),
    )
    assigned = rank_topk_per_group(
        scored, [id_col], [F.col("__score").desc(), F.col("cluster").asc()], 1
    ).drop("__score")
    # norms precomputed per vector, not per pair (same trick as
    # embedding_near_dup_pairs)
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col("cluster").alias("__ca"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col("cluster").alias("__cb"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    dropped = (
        a.join(b, (F.col("__ca") == F.col("__cb")) & (F.col("id_b") < F.col("id_a")))
        .filter(F.round(sim, 6) >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return assigned.join(dropped, id_col, "left").select(
        id_col,
        "cluster",
        F.col("__dup").isNull().alias("kept"),
    )


def incremental_dedup(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    portable: bool = True,
    ref_shingle_rows: int | None = None,
) -> DataFrame:
    """Dedupe a NEW batch against an existing REFERENCE corpus — the
    production mode of corpus dedup: the reference is already clean,
    only the incoming increment needs checking, and nothing in the
    reference is ever re-deduped or rewritten.

    Returns one row per NEW document: ``(id, status, match_id)`` with
    ``status`` ∈ {'exact_dup', 'near_dup', 'novel'} and ``match_id``
    the smallest matching reference id (NULL for novel).  Precedence:
    an exact content match wins over a near match.

    Scope note: each new doc is judged against the REFERENCE only —
    two new docs duplicating each other (but nothing in the corpus)
    are both 'novel'.  A full ingest composes ``exact_dedup`` /
    ``lsh_candidate_pairs`` WITHIN the increment first, then this
    operator against the corpus; keeping the two concerns separate is
    what lets the corpus side stay precomputed (``corpus_artifacts``).

    Scale shape (the reason this is an operator and not "union then
    re-dedup"):
    - the reference side reduces to two narrow artifacts — its
      content-digest table (16 bytes/doc) and its LSH band table —
      both computable once and persistable/bucketed by key, so a
      daily 1 TB increment joins against 100 TB of corpus without
      touching corpus text;
    - exact pass: equi-join on (content_hash, content_len), digests
      only;
    - near pass: new-band ⋈ ref-band on (band_id, band_key) — the
      same subquadratic bucket geometry as ``lsh_candidate_pairs``,
      but cross-frame, so candidate count scales with the increment,
      not the corpus;
    - exact-Jaccard verification runs per candidate pair
      (``jaccard_verify_pairs`` geometry); in THIS ad-hoc form the
      reference shingle side is derived lazily over the whole
      reference (see the trade note below) — the parquet-artifact
      production path is where a 100 TB corpus amortizes that.
    """
    # ad-hoc form: the reference artifacts stay LAZY — Catalyst prunes
    # each branch's projection down to what it needs (the digest branch
    # never computes signatures), and an A/B at x10 measured a
    # persisted ref frame at parity (21.4 s vs 20.3 s lazy) while
    # holding O(corpus) shingle arrays in executor memory, which is
    # the wrong trade at scale.  Production amortization is parquet
    # artifacts (write_corpus_artifacts / incremental_dedup_against);
    # only the O(increment) side persists, inside
    # incremental_dedup_against.
    #
    # r14 negative result (alternating in-session A/Bs at sf0.1/32c,
    # identical output hashes): two restructures both measured SLOWER
    # than this fused-lazy form and were reverted —
    #   (a) one narrow ref pass (digests+sigs, no shingle arrays)
    #       eagerly checkpointed + candidate-pruned verify shingles:
    #       old [2.89, 3.39, 2.43, 2.38] vs new [3.65, 3.70, 2.77,
    #       2.79] (split workload); [3.35, 3.16, 2.60, 2.59] vs
    #       [3.98, 3.34, 3.13, 3.07] (crawl workload);
    #   (b) lazy dict + eager candidate checkpoint + pruned shingles
    #       only: old [3.60, 3.01, 2.84, 2.85] vs new [3.72, 3.34,
    #       3.60, 3.51].
    # Cause: the three "passes" are column-pruned scans fused into ONE
    # wide job here, and the added checkpoint barriers cost more than
    # the recomputation they remove (the moods_median lesson).  The
    # candidate-pruned shingle fetch is still the right shape where
    # the reference is genuinely huge relative to the increment — that
    # regime enters through precomputed parquet artifacts, whose band
    # table read makes the candidate list cheap to materialize.
    return incremental_dedup_against(
        new_df,
        corpus_artifacts(
            ref_df, id_col, text_col, k, num_hashes, bands, portable
        ),
        id_col=id_col,
        text_col=text_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        portable=portable,
        ref_shingle_rows=ref_shingle_rows,
    )


def artifact_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    portable: bool = True,
) -> DataFrame:
    """ONE-pass wide dedup-artifact frame: ``(id, content_hash,
    content_len, shingles, sig_0..sig_{n-1})``.

    The text is normalized once and shingled once; the content digest,
    length, shingle set, and the full MinHash signature all derive from
    that single projection inside one codegen stage — the fused form of
    the three separate scans ``corpus_artifacts`` used to issue
    (normalize+shingle is the dominant per-document cost, so computing
    it once instead of three times is a direct constant cut on the
    increment side of ``incremental_dedup_against``)."""
    base = df.withColumn("__norm", normalize_text(text_col)).select(
        F.col(id_col),
        portable_hash64(F.col("__norm")).alias("content_hash"),
        F.length("__norm").alias("content_len"),
        char_shingles("__norm", k, pre_normalized=True).alias("shingles"),
    )
    hashed = base.withColumn(
        "__base", F.transform("shingles", _shingle_hash_fn(portable))
    )
    return hashed.select(
        F.col(id_col),
        "content_hash",
        "content_len",
        "shingles",
        *_signature_cols(num_hashes),
    )


def _arts_from_wide(
    wide: DataFrame, id_col: str, num_hashes: int, bands: int
) -> dict[str, DataFrame]:
    """Derive the digests/bands/shingles artifact views from a (possibly
    persisted) ``artifact_frame``."""
    return {
        "digests": wide.select(id_col, "content_hash", "content_len"),
        "bands": lsh_band_table(
            wide.select(id_col, *[f"sig_{i}" for i in range(num_hashes)]),
            id_col,
            num_hashes,
            bands,
        ),
        "shingles": wide.select(id_col, "shingles"),
    }


def corpus_artifacts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    portable: bool = True,
) -> dict[str, DataFrame]:
    """The three narrow reference-side tables incremental dedup joins
    against: ``digests`` (id, content_hash, content_len — 16
    bytes/doc), ``bands`` (id, band_id, band_key — the LSH bucket
    table), and ``shingles`` (id, shingle array, fetched only for
    LSH candidates).  A production corpus computes these ONCE, writes
    them keyed by their join keys ((content_hash, content_len) and
    (band_id, band_key) respectively — see
    ``write_corpus_artifacts``), and every daily increment joins
    against the persisted tables without ever touching corpus text —
    `incremental_dedup` recomputing them per call is the convenience
    form for ad-hoc use.  All three views derive from the one-pass
    ``artifact_frame``."""
    return _arts_from_wide(
        artifact_frame(df, id_col, text_col, k, num_hashes, portable),
        id_col,
        num_hashes,
        bands,
    )


def write_corpus_artifacts(
    arts: dict[str, DataFrame], path: str
) -> None:
    """Persist reference-side dedup artifacts as three parquet tables
    under ``path`` — the production amortization step: the corpus is
    reduced once to digest/band/shingle tables and every subsequent
    increment joins against these files without touching corpus text.

    Each table is written repartitioned on its join key so the daily
    increment join reads co-located buckets (on a real warehouse these
    would be ``bucketBy`` saveAsTable targets; plain key-partitioned
    parquet keeps the tool warehouse-free while preserving the
    pruning/locality story)."""
    arts["digests"].repartition("content_hash").write.mode(
        "overwrite"
    ).parquet(f"{path}/digests")
    arts["bands"].repartition("band_key").write.mode("overwrite").parquet(
        f"{path}/bands"
    )
    arts["shingles"].write.mode("overwrite").parquet(f"{path}/shingles")


def read_corpus_artifacts(spark, path: str) -> dict[str, DataFrame]:
    """Load artifacts previously written by ``write_corpus_artifacts``."""
    return {
        "digests": spark.read.parquet(f"{path}/digests"),
        "bands": spark.read.parquet(f"{path}/bands"),
        "shingles": spark.read.parquet(f"{path}/shingles"),
    }


# Verify-join strategy gate (r9 verdict task 2): below this many
# reference docs the shingle table broadcasts safely and the
# broadcast-hash plan wins (measured 2.39 s vs 5.30 s hinted at
# sf0.1's 3,750 ref docs); above it the parquet size statistics
# undercount the array blobs ~10× and an auto-broadcast collects
# hundreds of MB of deserialized arrays to the driver (measured
# 24.4 s vs 7 s at x10's 37,500 ref docs), so both sides take
# SHUFFLE_HASH.  The gate reads the ACTUAL ref-shingle row count —
# one column-less count (Catalyst prunes the shingle projection), or
# the caller-supplied figure when the artifacts already know it.
_SHINGLE_BROADCAST_ROWS = 10_000

# join-strategy count memo: {ref-shingle-plan semanticHash: row count}
_GATE_ROWS_MEMO: dict[int, int] = {}


def incremental_dedup_against(
    new_df: DataFrame,
    ref: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    portable: bool = True,
    ref_shingle_rows: int | None = None,
) -> DataFrame:
    """`incremental_dedup` against PRECOMPUTED reference artifacts
    (see ``corpus_artifacts`` / ``read_corpus_artifacts``) — the
    amortized production mode: the 100 TB reference is reduced to its
    digest/band/shingle tables once, and each increment only computes
    its own artifacts.

    The increment's artifacts come from the one-pass
    ``artifact_frame`` and are PERSISTED (memory-and-disk) for the
    duration of the result: the exact join, the band join, and the
    candidate verification each consume a slice of the same frame, and
    without materialization each branch would re-normalize and
    re-shingle the increment text — three scans instead of one.  The
    persisted footprint is O(increment), never O(corpus).  Call
    ``graph.release_components(result)`` after consuming the result to
    free it."""
    from pyspark import StorageLevel

    with materialize.scope() as ms:
        wide = ms.hold(
            artifact_frame(
                new_df, id_col, text_col, k, num_hashes, portable
            ).persist(StorageLevel.MEMORY_AND_DISK)
        )
        new_arts = _arts_from_wide(wide, id_col, num_hashes, bands)
        new_digests = new_arts["digests"].withColumnRenamed(id_col, "new_id")
        ref_digests = ref["digests"].withColumnRenamed(id_col, "ref_id")
        exact = (
            new_digests.join(ref_digests, ["content_hash", "content_len"])
            .groupBy("new_id")
            .agg(F.min("ref_id").alias("exact_match"))
        )

        new_bands = new_arts["bands"].withColumnRenamed(id_col, "new_id")
        ref_bands = ref["bands"].withColumnRenamed(id_col, "ref_id")
        candidates = (
            new_bands.join(ref_bands, ["band_id", "band_key"])
            .select("new_id", "ref_id")
            .distinct()
        )
        # exact-Jaccard verification confined to candidates: shingle sets
        # are joined onto the (bounded) candidate list, never self-joined.
        # Join strategy is SIZE-GATED on the actual ref-shingle row count
        # (see _SHINGLE_BROADCAST_ROWS): small corpora broadcast (the
        # measured-fastest local plan), large ones take SHUFFLE_HASH on
        # both array-valued sides — parquet size statistics undercount
        # shingle tables ~10×, so the planner left alone would broadcast
        # hundreds of MB of deserialized arrays at scale; shuffle-hash
        # shuffles each side once by id with no driver collection and no
        # sort over ~1k-element array rows.
        sh_new = new_arts["shingles"].select(
            F.col(id_col).alias("new_id"), F.col("shingles").alias("sh_n")
        )
        sh_ref = ref["shingles"].select(
            F.col(id_col).alias("ref_id"), F.col("shingles").alias("sh_r")
        )
        if ref_shingle_rows is None:
            # column-less count: Catalyst prunes the shingle projection,
            # so this never materializes arrays (ad-hoc mode) and reads
            # only footer metadata (parquet-artifact mode).  The count is
            # memoized per ref-plan semantic hash: the SAME reference
            # corpus is checked against every incoming batch (and every
            # bench rep), and re-running a ~1 s count job per batch for a
            # value that only changes when the corpus changes is pure
            # waste.  The memo only picks a JOIN STRATEGY — a stale count
            # after a corpus rewrite can cost performance, never
            # correctness — and falls back to counting if the internal
            # semanticHash API is unavailable.
            key = None
            try:
                key = ref["shingles"]._jdf.queryExecution().analyzed().semanticHash()
            except Exception:
                pass
            if key is not None and key in _GATE_ROWS_MEMO:
                ref_shingle_rows = _GATE_ROWS_MEMO[key]
            else:
                ref_shingle_rows = ref["shingles"].count()
                if key is not None:
                    if len(_GATE_ROWS_MEMO) > 256:
                        _GATE_ROWS_MEMO.clear()
                    _GATE_ROWS_MEMO[key] = ref_shingle_rows
        inter = F.size(F.array_intersect("sh_n", "sh_r"))
        union = F.size("sh_n") + F.size("sh_r") - inter
        if ref_shingle_rows <= _SHINGLE_BROADCAST_ROWS:
            verify = candidates.join(sh_new, "new_id").join(
                F.broadcast(sh_ref), "ref_id"
            )
        else:
            verify = candidates.join(
                sh_new.hint("shuffle_hash"), "new_id"
            ).join(sh_ref.hint("shuffle_hash"), "ref_id")
        near = (
            verify.filter(F.round(inter / union, 6) >= threshold)
            .groupBy("new_id")
            .agg(F.min("ref_id").alias("near_match"))
        )

        result = (
            new_df.select(F.col(id_col).alias("new_id"))
            .join(exact, "new_id", "left")
            .join(near, "new_id", "left")
            .select(
                F.col("new_id").alias(id_col),
                F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
                .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
                .otherwise(F.lit("novel"))
                .alias("status"),
                F.coalesce("exact_match", "near_match").alias("match_id"),
            )
        )
        # release_components(result) unpersists the increment-side
        # artifact frame once the result is consumed
        return ms.attach(result)


def fuzzy_value_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Name-VALUE-level fuzzy matching: distinct ``(name_a, name_b,
    dist)`` pairs of DISTINCT normalized values of ``name_col`` within
    ``max_dist`` edit distance, ordered ``name_a <= name_b`` and
    including the reflexive ``(n, n, 0)`` pair for every value.

    This is the verify kernel of :func:`fuzzy_name_pairs`, hoisted to
    the distinct-value domain — the string sibling of the tf-collapsed
    corpus exchanges used throughout ``text.py``.  Blocking and the
    length pre-filter depend only on the value, so collapsing before
    the O(len*k) ``levenshtein`` is a pure optimization: on duplicate-
    heavy columns (real-world entity tables: bounded name vocabularies
    over millions of rows) it turns tens of millions of candidate
    comparisons into thousands, and on near-unique columns it costs
    one extra groupBy of the domain.  NULL values are excluded (they
    can never equi-match a block key).

    Scale shape — blocked, never all-pairs: candidates must share a
    FIRST or LAST whitespace token (equi-join on the exploded token)
    and pass |len_a - len_b| <= max_dist (a necessary condition for
    edit distance) before the banded ``levenshtein`` runs on survivors
    only.  Recall contract: a pair is guaranteed found when its edits
    fall within a single token (one shared token survives verbatim);
    edits spread across BOTH tokens can evade blocking — the
    documented trade of token blocking, pinned by test against the
    quadratic form.
    """
    names = (
        df.select(normalize_text(name_col).alias("__name"))
        .filter(F.col("__name").isNotNull())
        .distinct()
        .withColumn("__len", F.length("__name"))
    )
    toks = names.select(
        "__name",
        "__len",
        F.explode(
            F.array_distinct(
                F.array(
                    F.element_at(F.split(F.col("__name"), " "), 1),
                    F.element_at(F.split(F.col("__name"), " "), -1),
                )
            )
        ).alias("__block"),
    )
    a = toks.alias("a")
    b = toks.alias("b")
    cand = a.join(
        b,
        (F.col("a.__block") == F.col("b.__block"))
        & (F.col("a.__name") <= F.col("b.__name"))
        & (F.abs(F.col("a.__len") - F.col("b.__len")) <= max_dist),
    ).select(
        F.col("a.__name").alias("name_a"),
        F.col("b.__name").alias("name_b"),
    )
    # bounded levenshtein (Spark >= 3.5): the threshold form early-
    # exits once the edit band exceeds max_dist — O(len * k) instead
    # of the full O(len^2) DP per pair; it returns -1 above the bound
    # and the TRUE distance (identical to the unbounded form) for
    # every pair this filter keeps, so results cannot change.  The
    # first/last-token double-match dedup (distinct) runs on the
    # narrow survivor triples.
    return (
        cand.withColumn(
            "dist", F.levenshtein("name_a", "name_b", int(max_dist))
        )
        .filter(F.col("dist") >= 0)
        .distinct()
    )


def fuzzy_name_pairs(
    df: DataFrame,
    id_col: str = "p_partkey",
    name_col: str = "p_name",
    max_dist: int = 2,
) -> DataFrame:
    """Entity-resolution fuzzy matching: distinct (id_a < id_b) pairs
    of rows whose normalized names are within ``max_dist`` edit
    distance — supplier/part/customer-name reconciliation, the
    string-typed sibling of the document near-dup family.

    Implementation: the blocked verify runs on the DISTINCT-value
    domain (:func:`fuzzy_value_pairs` — blocking, length pre-filter
    and banded levenshtein all depend only on the value), then the
    verified value pairs expand back to id pairs through two equi-
    joins on the id→value map.  The id-level output is provably
    identical to running the blocked verify per id pair: each id pair
    arises from exactly one unordered value pair, same-value id groups
    expand through the reflexive ``(n, n, 0)`` value pair, and
    NULL-named rows never pair in either form.  On duplicate-heavy
    columns this removes the dominant cost (50M candidate levenshteins
    → ~2k at sf0.1 on the 64-value part names) while the expansion is
    two narrow hash joins; on near-unique columns it adds one groupBy
    of the domain.  See :func:`fuzzy_value_pairs` for the blocking
    recall contract.
    """
    ids = df.select(
        F.col(id_col).alias("__id"),
        normalize_text(name_col).alias("__name"),
    )
    vals = fuzzy_value_pairs(df, name_col, max_dist)
    ia = ids.alias("ia")
    ib = ids.alias("ib")
    return (
        vals.join(ia, F.col("ia.__name") == F.col("name_a"))
        .join(ib, F.col("ib.__name") == F.col("name_b"))
        # cross-value pairs orient by id below; equal-value (reflexive)
        # pairs keep the strict ordering to avoid self/duplicate pairs
        .filter(
            (F.col("name_a") < F.col("name_b"))
            | (F.col("ia.__id") < F.col("ib.__id"))
        )
        .select(
            F.least(F.col("ia.__id"), F.col("ib.__id")).alias("id_a"),
            F.greatest(F.col("ia.__id"), F.col("ib.__id")).alias("id_b"),
            "dist",
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández–Stolfo): sort the
    records by a blocking key and emit every pair within ``window``
    positions — the classic entity-resolution candidate generator
    that, unlike token blocking, catches near-misses that share NO
    token (``smith``/``smyth``) as long as the sort places them
    close.  Candidate volume is exactly ``window`` pairs per record —
    linear in the corpus BY CONSTRUCTION, the property that made the
    method the standard ER scale answer.

    Scale shape: the global position comes from the distributed
    two-phase prefix-sum rank (``windows.global_rank`` — no
    single-task window), positions replicate ×``window`` by an
    explode of literal offsets, and the pair join is ONE equi-join on
    the shifted position.  Call ``graph.release_components(result)``
    after consuming (the rank's staged frame is persisted).  Returns
    ``(id_a, id_b, key_a, key_b, pos_gap)`` with ``id_a``'s sort
    position strictly below ``id_b``'s.
    """
    from . import windows as _w

    with materialize.scope() as ms:
        ranked = ms.hold(
            _w.global_rank(
                df.select(F.col(id_col).alias("__id"), F.col(key_col).alias("__k")),
                [F.col("__k").asc(), F.col("__id").asc()],
                rank_col="__pos",
            )
        )
        offs = F.explode(
            F.array(*[F.lit(i) for i in range(1, window + 1)])
        ).alias("__o")
        probes = ranked.select("*", offs).select(
            F.col("__id").alias("id_a"),
            F.col("__k").alias("key_a"),
            (F.col("__pos") + F.col("__o")).alias("__pos"),
            F.col("__o").alias("pos_gap"),
        )
        result = probes.join(
            ranked.select(
                F.col("__id").alias("id_b"),
                F.col("__k").alias("key_b"),
                "__pos",
            ),
            "__pos",
        ).select("id_a", "id_b", "key_a", "key_b", "pos_gap")
        return ms.attach(result)


def plan_lsh(
    target_jaccard: float,
    num_hashes: int,
    candidates: list[tuple[int, int]] | None = None,
) -> dict:
    """Pick the (bands, rows) split of a MinHash signature for a
    target Jaccard threshold — the knob every LSH deployment has to
    set and usually sets by folklore.  For b bands of r rows the
    probability a pair with similarity s becomes a candidate is
    ``1 − (1 − s^r)^b``; the curve's inflection sits near
    ``(1/b)^(1/r)``.  This planner enumerates the divisor splits of
    ``num_hashes`` (or the provided ``candidates``) and returns the
    split whose inflection lands closest to ``target_jaccard``,
    plus the expected false-candidate mass below and miss mass above
    the threshold (trapezoid-integrated s-curve tails) so the caller
    can see the trade it is making — more bands = catch more true
    pairs but admit more junk below the threshold.

    Driver-side pure math (no DataFrames): the OUTPUT feeds
    ``lsh_candidate_pairs(bands=...)``.  Returns ``{"bands", "rows",
    "threshold", "fp_mass", "fn_mass", "curve"}`` where curve is
    [(s, p_candidate)] at 5% steps.
    """
    if not 0.0 < target_jaccard < 1.0:
        raise ValueError(f"target_jaccard {target_jaccard} outside (0, 1)")
    if candidates is None:
        candidates = [
            (b, num_hashes // b)
            for b in range(1, num_hashes + 1)
            if num_hashes % b == 0
        ]
    best = None
    for b, r in candidates:
        if b * r != num_hashes or r < 1:
            raise ValueError(f"split {b}x{r} != {num_hashes} hashes")
        thr = (1.0 / b) ** (1.0 / r)
        # s-curve tail masses via trapezoid at 1% steps
        fp = fn = 0.0
        step = 0.01
        s = step
        while s < 1.0 - 1e-9:
            p = 1.0 - (1.0 - s ** r) ** b
            if s < target_jaccard:
                fp += p * step
            else:
                fn += (1.0 - p) * step
            s += step
        score = abs(thr - target_jaccard)
        cand = {
            "bands": b,
            "rows": r,
            "threshold": round(thr, 4),
            "fp_mass": round(fp, 4),
            "fn_mass": round(fn, 4),
        }
        if best is None or score < best[0]:
            best = (score, cand)
    b, r = best[1]["bands"], best[1]["rows"]
    best[1]["curve"] = [
        (round(s / 20.0, 2),
         round(1.0 - (1.0 - (s / 20.0) ** r) ** b, 4))
        for s in range(1, 20)
    ]
    return best[1]


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """ASYMMETRIC near-duplicate detection: directed pairs
    ``(src_id, in_id, containment)`` where containment =
    |words(src) ∩ words(in)| / |words(src)| ≥ ``threshold`` — the
    quote/subset relation symmetric Jaccard misses (a paragraph lifted
    into a larger document scores low Jaccard but containment ~1).

    Scale shape — inverted-index equi-join, never all-pairs: distinct
    (doc, word) postings join on the shared word, so candidate volume
    is Σ_w df(w)², bounded by dropping words with document frequency
    above ``max_df`` (the tfidf df-cap discipline; stopword-grade
    words carry no containment signal but dominate join cost).  BOTH
    the numerator (shared count) and denominator (|words(src)|) use
    the capped vocabulary, so the ratio stays a true containment over
    the filtered word space and the df cap never inflates a score
    above 1.  Self-pairs are excluded; both directions of a pair are
    scored independently (containment is not symmetric).
    """
    words = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(F.array_distinct(word_tokens(text_col))).alias("__w"),
        )
    )
    dfreq = words.groupBy("__w").agg(F.count(F.lit(1)).alias("__df"))
    kept = words.join(
        dfreq.filter(F.col("__df") <= max_df).select("__w"), "__w"
    )
    sizes = kept.groupBy("__id").agg(F.count(F.lit(1)).alias("__sz"))
    a = kept.select(F.col("__id").alias("src_id"), "__w")
    b = kept.select(F.col("__id").alias("in_id"), "__w")
    shared = (
        a.join(b, "__w")
        .filter(F.col("src_id") != F.col("in_id"))
        .groupBy("src_id", "in_id")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("__id").alias("src_id"), "__sz"), "src_id"
        )
        .withColumn(
            "containment",
            F.round(F.col("__shared") / F.col("__sz"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("src_id", "in_id", "containment")
    )
