"""Curation-tuning tier: the knobs a training-data pipeline turns
after the first pass works — which documents are too ambiguous to
language-route, how big a tokenizer vocabulary actually needs to be,
and which MinHash band layout buys the right precision/recall trade.

Scale notes baked into each builder:
- the language margin is pure per-row regexp arithmetic (the
  `text_lang_id` marker counts, re-used) plus an array sort of FOUR
  numbers — codegen-only, no shuffle at all before the final rollup
  column emits per doc;
- vocabulary coverage never sorts raw tokens: the exploded token
  stream collapses to the (token, freq) vocabulary rollup in one hash
  aggregate (map-side combine does most of the work), the rank
  window orders the vocabulary — bounded by distinct types, not
  corpus tokens — and the three coverage cutoffs are conditional
  aggregates over the ranked rollup;
- band tuning evaluates THREE LSH layouts from ONE signature build:
  the 16-seed MinHash signature (computed once, the
  `operators/dedup.py` single-digest trick) re-bands per layout via a
  bounded 14x explode, bucket sizes come from one hash aggregate, and
  candidate-pair counts are Σ n·(n-1)/2 per bucket — no pair
  self-join is ever materialized, so the tuning readout costs a tiny
  fraction of running any single layout's join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import r6
from ..functions.text import LANG_MARKERS
from ..operators.dedup import (
    NUM_SEEDS,
    minhash_signatures,
    word_shingles,
)
from ..registry import query
from .sql_common import SHINGLES_CTE as _SHINGLES_CTE
from ..sources import read_table
from ..sources.parquet import spread


# ---------------------------------------------------------------------------
# text_lang_margin — language-ID ambiguity margin
# ---------------------------------------------------------------------------

_MARGIN_ORACLE = f"""
WITH hits AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{LANG_MARKERS["en"]}')) AS en_h,
         len(regexp_extract_all(lower(text), '{LANG_MARKERS["de"]}')) AS de_h,
         len(regexp_extract_all(lower(text), '{LANG_MARKERS["fr"]}')) AS fr_h,
         len(regexp_extract_all(lower(text), '{LANG_MARKERS["es"]}')) AS es_h
  FROM documents
),
ranked AS (
  SELECT doc_id,
         list_reverse_sort([en_h, de_h, fr_h, es_h]) AS s
  FROM hits
)
SELECT doc_id,
       CAST(s[1] AS BIGINT) AS best_hits,
       CAST(s[1] - s[2] AS BIGINT) AS margin,
       s[1] > 0 AND s[1] - s[2] <= 1 AS ambiguous
FROM ranked
"""


@query("text_lang_margin", _MARGIN_ORACLE)
def text_lang_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confidence margin: the gap between the best and
    second-best marker-hit counts from the `text_lang_id` scorer. A
    doc whose top two languages are within one hit of each other is
    routed by coin flip — the margin is the filter a corpus pipeline
    applies BEFORE trusting the label (route margin<=1 docs to the
    expensive classifier, drop them, or hold them out of
    language-stratified sampling). Pure per-row regexp counts + a
    4-element array sort — whole-stage codegen, zero shuffles; the
    integer margin is engine-exact. The same margin column attaches
    to `corpus_dataset_card`-style slices to report routing
    confidence per source.
    """
    docs = read_table(spark, sf_dir, "documents")
    lc = F.lower(F.col("text"))
    hits = [
        F.size(F.regexp_extract_all(lc, F.lit(LANG_MARKERS[k]), 0)).cast(
            "long"
        )
        for k in ("en", "de", "fr", "es")
    ]
    s = F.sort_array(F.array(*hits), asc=False)
    return docs.select(
        "doc_id",
        s[0].alias("best_hits"),
        (s[0] - s[1]).alias("margin"),
        ((s[0] > 0) & (s[0] - s[1] <= 1)).alias("ambiguous"),
    )


# ---------------------------------------------------------------------------
# tokenizer_vocab_coverage — corpus coverage at vocabulary-size cutoffs
# ---------------------------------------------------------------------------

_VOCAB_CUTS = [5, 10, 20]

_VOCAB_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
  FROM documents
),
vocab AS (
  SELECT tok, COUNT(*) AS freq FROM toks WHERE tok <> '' GROUP BY tok
),
ranked AS (
  SELECT tok, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rnk,
         SUM(freq) OVER () AS total
  FROM vocab
)
SELECT k,
       floor(SUM(CASE WHEN rnk <= k THEN freq ELSE 0 END)
             / CAST(MAX(total) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS coverage
FROM ranked
CROSS JOIN (SELECT UNNEST({_VOCAB_CUTS!r}) AS k)
GROUP BY k
"""


@query("tokenizer_vocab_coverage", _VOCAB_ORACLE)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all corpus token
    occurrences the top-k most frequent word types cover, at candidate
    vocabulary sizes k — the Zipf-driven readout that sizes a
    tokenizer (if 2k types cover 97%, a 50k vocabulary buys almost
    nothing; the complement of this curve is the OOV rate
    `text_heldout_perplexity` pays). The token stream never sorts:
    one hash aggregate collapses it to the (type, freq) vocabulary —
    map-side combine eats the heavy tail — the rank window orders the
    VOCABULARY (bounded by distinct types), and the three cutoffs are
    conditional aggregates over the ranked rollup joined with a
    broadcast literal cutoff dimension. Deterministic tie-break
    (freq desc, token asc) keeps ranks engine-identical.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok")
    ).where(F.col("tok") != "")
    from ..operators.relational import with_global_row_number

    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    # rank by (freq desc, tok) WITHOUT a single-partition window: the
    # two-phase bucketed row number over the order-preserving negated
    # frequency — the vocabulary may be 100M types at corpus scale
    ranked = with_global_row_number(
        vocab.withColumn("neg", -F.col("freq")), ["neg", "tok"], "rnk"
    ).crossJoin(
        # grand total as a broadcast 1-row aggregate, NOT a global
        # window over the (100M-type-at-scale) vocabulary relation
        F.broadcast(vocab.agg(F.sum("freq").alias("total")))
    )
    cuts = spark.createDataFrame([(k,) for k in _VOCAB_CUTS], "k long")
    return (
        ranked.join(F.broadcast(cuts))
        .groupBy("k")
        .agg(
            r6(
                F.sum(
                    F.when(F.col("rnk") <= F.col("k"), F.col("freq"))
                    .otherwise(0)
                )
                / F.max("total").cast("double")
            ).alias("coverage")
        )
    )


# ---------------------------------------------------------------------------
# dedup_lsh_band_tuning — 3 band layouts priced from one signature build
# ---------------------------------------------------------------------------

_LAYOUTS = [(2, 8), (4, 4), (8, 2)]  # (rows per band, bands) with 16 seeds

def _band_tuning_sql() -> str:
    branches = []
    for r, b in _LAYOUTS:
        for band in range(b):
            expr = " || '|' || ".join(f"m{band * r + k}" for k in range(r))
            branches.append(
                f"  SELECT doc_id, {r} AS rows_per_band, {band} AS band_id,"
                f" {expr} AS bsig FROM sig"
            )
    bands_union = "\n  UNION ALL\n".join(branches)
    mins = ",\n         ".join(
        f"min(CASE WHEN seed = {k} THEN mh END) AS m{k}"
        for k in range(NUM_SEEDS)
    )
    layout_rows = ", ".join(f"({r}, {b})" for r, b in _LAYOUTS)
    return f"""
    WITH {_SHINGLES_CTE},
    hv AS (
      SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h FROM sh
    ),
    seeded AS (
      SELECT doc_id, seed,
             ((2654435761 * (seed + 1)) % 536870912) * h
                 + ((40503 * (seed + 7)) % 4294967311) AS ah
      FROM hv, (SELECT unnest(range(0, {NUM_SEEDS})) AS seed)
    ),
    per_seed AS (SELECT doc_id, seed, min(ah % 4294967311) AS mh
                 FROM seeded GROUP BY doc_id, seed),
    sig AS (SELECT doc_id, {mins} FROM per_seed GROUP BY doc_id),
    bands AS (
    {bands_union}
    ),
    buckets AS (
      SELECT rows_per_band, band_id, bsig, COUNT(*) AS n
      FROM bands GROUP BY 1, 2, 3
    ),
    layouts(rows_per_band, n_bands) AS (VALUES {layout_rows})
    SELECT b.rows_per_band, l.n_bands,
           floor(pow(1.0 / l.n_bands, 1.0 / b.rows_per_band) * 1e6 + 0.5)
               / 1e6 AS s_curve_threshold,
           SUM(CASE WHEN b.n >= 2 THEN 1 ELSE 0 END) AS colliding_buckets,
           SUM(b.n * (b.n - 1) // 2) AS candidate_pairs
    FROM buckets b JOIN layouts l USING (rows_per_band)
    GROUP BY 1, 2
    """


@query("dedup_lsh_band_tuning", _band_tuning_sql())
def dedup_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-layout tuning: price all three (rows-per-band, bands)
    layouts of the 16-seed MinHash signature — (2,8) recall-leaning,
    (4,4) balanced, (8,2) precision-leaning — in ONE pass, reporting
    each layout's S-curve midpoint threshold (1/b)^(1/r) and its
    MEASURED candidate load (colliding buckets, Σ n·(n-1)/2 pairs).
    This is the capacity-planning readout run BEFORE `dedup_minhash_lsh`
    at a new scale: candidate pairs are the join's actual cost, and
    the right layout is the cheapest one whose threshold sits below
    the dedup target. The signature builds once (single-digest
    multiply-add-mod permutations, `operators/dedup.py`); re-banding
    is a bounded 14x explode; bucket sizes come from one hash
    aggregate — no candidate self-join is materialized for any
    layout. Integer pair counts are engine-exact.
    """
    docs = spread(read_table(spark, sf_dir, "documents"))
    sig = minhash_signatures(word_shingles(docs, distinct=True))
    band_rows = F.array(
        *[
            F.struct(
                F.lit(r).alias("rows_per_band"),
                F.lit(band).alias("band_id"),
                F.concat_ws(
                    "|", *[F.col(f"m{band * r + k}") for k in range(r)]
                ).alias("bsig"),
            )
            for r, b in _LAYOUTS
            for band in range(b)
        ]
    )
    bands = sig.select(F.explode(band_rows).alias("x")).select(
        "x.rows_per_band", "x.band_id", "x.bsig"
    )
    buckets = bands.groupBy("rows_per_band", "band_id", "bsig").agg(
        F.count(F.lit(1)).alias("n")
    )
    layouts = spark.createDataFrame(
        _LAYOUTS, "rows_per_band long, n_bands long"
    )
    return (
        buckets.join(F.broadcast(layouts), "rows_per_band")
        .groupBy("rows_per_band", "n_bands")
        .agg(
            r6(
                F.pow(
                    1.0 / F.max("n_bands"),
                    1.0 / F.max("rows_per_band"),
                )
            ).alias("s_curve_threshold"),
            F.sum(F.when(F.col("n") >= 2, 1).otherwise(0)).alias(
                "colliding_buckets"
            ),
            F.sum(
                F.col("n") * (F.col("n") - 1) / 2
            ).cast("long").alias("candidate_pairs"),
        )
    )
