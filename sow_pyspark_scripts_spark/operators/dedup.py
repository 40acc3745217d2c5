"""Deduplication operators over the ``documents`` table — the north-star
extension tier (SURVEY.md §2.9 note, BASELINE.json north_star).

All variants are pure DataFrame ops (explode + groupBy + self-join);
hashing is md5 (available identically in Spark and DuckDB, so even the
MinHash signatures are oracle-checkable — no engine-specific hash()).

Scale shapes:
  - exact: shuffle the 32-byte fingerprint, not the document.
  - MinHash-LSH: shingle explode -> per-(doc,seed) min -> per-doc
    signature -> band self-join. Candidate generation touches only
    band-signature collisions — the cross join never materializes.
  - SimHash: one explode + one 16-column conditional aggregate per doc.
  - n-gram Jaccard: shingle-key equi-join (co-occurring shingles only),
    intersection counts vs per-doc sizes. The exact-verify step you run
    AFTER LSH candidate generation at 100 TB, or standalone at small N.
"""

from __future__ import annotations

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokenize

NUM_SEEDS = 16
BAND_SIZE = 2
SIMHASH_BITS = 16
_HEX = "0123456789abcdef"

# Carter-Wegman affine permutation constants for the MinHash family:
# seed k maps the 32-bit base hash h to (A_k*h + B_k) mod P. P is the
# first prime above 2^32; A_k < 2^29 keeps A*h < 2^61 (no bigint
# overflow in either engine). Formulas (not opaque tables) so the SQL
# oracle can derive the identical constants from the seed number.
MINHASH_P = 4294967311
minhash_a = lambda k: (2654435761 * (k + 1)) % 536870912  # noqa: E731
minhash_b = lambda k: (40503 * (k + 7)) % MINHASH_P  # noqa: E731


def word_shingles(docs: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """n-word shingles per doc: (doc_id, s). Docs shorter than n tokens
    produce no shingles (dedup follows the reference's notion of content
    = whitespace tokens of lowercased text).

    ``distinct=True`` costs a shuffle; Jaccard needs it (it counts set
    sizes), MinHash does NOT (min over a multiset equals min over its
    set), so the minhash path passes distinct=False and saves the
    dedup shuffle entirely.

    The input spreads to engine parallelism first (guide §2.5, VERDICT
    r8 task #2): the tokenize+shingle explode is CPU-bound and a
    single-row-group fixture pins it to one core — the same wall the
    simhash family fixed in r8. ``spread`` is gated on the input's
    partition count, so an already-parallel production scan (or a
    caller that spread upstream) skips the shuffle."""
    from ..sources import spread

    toks = spread(docs).select("doc_id", tokenize(F.col("text")).alias("t"))
    return shingles_from_tokens(toks, n=n, distinct=distinct)


def shingles_from_tokens(
    toks: DataFrame, n: int = 3, distinct: bool = True
) -> DataFrame:
    """``word_shingles`` from a PRE-TOKENIZED (doc_id, ..., t) relation —
    lets an index build share ONE tokenization pass between the shingle
    and bigram streams (plans/ann_index ``build_doc_index``)."""
    idx = F.sequence(F.lit(1), F.size("t") - (n - 1))
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("t"), i + k) for k in range(n)]
    )
    out = toks.filter(F.size("t") >= n).select(
        "doc_id", F.explode(F.transform(idx, shingle)).alias("s")
    )
    return out.distinct() if distinct else out


def minhash_signatures(shingles: DataFrame, num_seeds: int = NUM_SEEDS) -> DataFrame:
    """Per-doc MinHash signature columns m0..m{k-1}: min over shingles of
    the k-th affine permutation (A_k*h + B_k) mod P of ONE md5-derived
    32-bit base hash per shingle. One wide row per doc.

    Two scale decisions: (1) the digest is computed ONCE per shingle and
    the 16 permutations are integer multiply-add-mod — 16x less hashing
    than hashing '<seed>:<shingle>' per seed (A/B at sf0.1: 2.6x
    wall-clock on the LSH query); (2) all seeds are parallel aggregates
    over the SAME shingle rows — one groupBy, no seed-explode, and the
    bigint signature row (8 B/seed) shuffles 4x smaller than md5-string
    minima (32 B/seed). Partial (map-side) aggregation still applies to
    every min column."""
    base = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
    sh = shingles.select("doc_id", base.alias("h"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("h") * F.lit(minhash_a(k)) + F.lit(minhash_b(k)))
                % F.lit(MINHASH_P)
            ).alias(f"m{k}")
            for k in range(num_seeds)
        ]
    )


def band_signatures(
    signatures: DataFrame, num_seeds: int = NUM_SEEDS, band_size: int = BAND_SIZE
) -> DataFrame:
    """(doc_id, band_id, bsig): the LSH index rows — each signature split
    into bands of ``band_size`` minhashes, each band serialized to one
    join key. This relation IS the persisted index in an incremental
    deployment: new batches probe it with an equi-join."""
    n_bands = num_seeds // band_size
    band_rows = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|", *[F.col(f"m{b * band_size + k}") for k in range(band_size)]
                ).alias("bsig"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select("doc_id", F.explode(band_rows).alias("band")).select(
        "doc_id",
        F.col("band.band_id").alias("band_id"),
        F.col("band.bsig").alias("bsig"),
    )


def band_collision_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, from a band relation
    (doc_id, band_id, bsig) — docs agreeing on ALL minhashes of any
    band. Factored out so a STORED band index (plans/ann_index
    ``minhash_all_bands``) can feed the same self-join without
    re-hashing the corpus."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame, num_seeds: int = NUM_SEEDS, band_size: int = BAND_SIZE
) -> DataFrame:
    """Band the signature and self-join on (band_id, band_sig): docs
    agreeing on ALL minhashes of any band become a candidate pair.
    Returns distinct (doc_a, doc_b) with doc_a < doc_b."""
    return band_collision_pairs(band_signatures(signatures, num_seeds, band_size))


def lsh_verified_jaccard_pairs(
    docs: DataFrame, threshold: float, candidates: DataFrame | None = None
) -> DataFrame:
    """The LSH -> exact-Jaccard composite as ONE operator: MinHash band
    collisions generate candidate pairs, exact Jaccard on DISTINCT
    shingles verifies only those pairs. Work ∝ Σ_candidates
    |shingles(doc)|, never corpus co-occurrence — the runnable near-dup
    pipeline at 100 TB (22x faster than the full co-shingle self-join at
    the 100x smoke). Candidate recall at similarity s is 1-(1-s²)^8
    with 8 bands of 2 (0.90 at s=0.5, 0.9997 at s=0.8); verified pairs
    are EXACT — the composite can only miss, never invent.

    One tokenize pipeline feeds both stages: the minhash side consumes
    multiset shingles (min is set-invariant, saves the distinct
    shuffle), the verify side distinct shingles (Jaccard counts sets).
    Returns (doc_a, doc_b, jaccard) with half-up 6dp rounding.

    Pass ``candidates`` (doc_a, doc_b) to skip the hashing stage
    entirely — e.g. band collisions from the STORED index
    (plans/ann_index ``minhash_all_bands``): the composite then pays
    only the verify stage, and only over candidate docs (the semi-join
    below), not the corpus — the stored-split precedent of
    `dedup_minhash_incremental_stored` applied to the cluster
    composites (VERDICT r3 #3)."""
    if candidates is None:
        cand = lsh_candidate_pairs(
            minhash_signatures(word_shingles(docs, distinct=False))
        )
    else:
        cand = candidates
    # cand has TWO consumers below (the id restriction and the verify
    # join): truncate its lineage so the hashing/band stage — or the
    # stored-band probe — runs once, not once per consumer (measured
    # 87s vs 21s at the 100x smoke without this)
    cand = cand.transform(_pin_lazy)
    # verify-stage shingles only for docs that appear in a candidate
    # pair: at low dup rates that is a tiny fraction of the corpus
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = word_shingles(docs.join(cand_ids, "doc_id", "left_semi"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    j = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .withColumn(
            "jaccard",
            r6(
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            ),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def _nibble(h: Column, j: int) -> Column:
    """Value 0-15 of hex char j (0-based) of an md5 string — computed via
    instr on the hex alphabet so Spark and the SQL oracle agree exactly."""
    return (F.instr(F.lit(_HEX), F.substring(h, j + 1, 1)) - 1).cast("int")


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """16-bit SimHash per doc from distinct-token md5s.

    For bit b (hex char b//4, bit b%4 of that nibble): tokens vote +1 if
    the bit is set else -1; the simhash sets bit b where the vote sum is
    positive. Pure integer arithmetic -> identical in the SQL oracle.

    The input spreads to engine parallelism first (guide §2.5): the
    tokenize+explode+md5 vote pass is CPU-bound, and a single-row-group
    fixture (or one fat landing file at scale) pins it to one core —
    measured as a single 5.0s task inside dedup_simhash_hamming at
    sf0.1. The round-robin moves each doc once and is strictly smaller
    than the exploded-token shuffle the distinct pays right after.
    """
    from ..sources import spread

    toks = (
        spread(docs)
        .select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
        .distinct()
        .select("doc_id", F.md5("tok").alias("h"))
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                (
                    F.floor(_nibble(F.col("h"), b // 4) / F.lit(2 ** (b % 4))).cast("int")
                    % 2
                )
                * 2
                - 1
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.cast("long").alias("simhash"))


def jaccard_pairs(shingles: DataFrame, threshold: float) -> DataFrame:
    """Exact n-gram Jaccard over co-occurring-shingle pairs.

    intersection via shingle-key equi-join; union = |A|+|B|-inter.
    Emits (doc_a, doc_b, jaccard>=threshold) with half-up 6dp rounding.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = shingles.alias("a"), shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            r6(
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            ),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")
