"""Oracle-SQL fragments shared across plan modules.

A LEAF module: it must not import `registry` or any plan module, so any
plan file can pull these constants at import time without creating a
cycle through registry's plan-module import chain (stats_ops once
imported `_SHINGLES_CTE` from dedup_sim while dedup_sim was still
initializing — importing dedup_sim directly, before registry, crashed).
"""

# 3-word shingles per document (DuckDB CTE) — the dedup family's shared
# notion of content: whitespace tokens of lowercased, trimmed text.
# Mirrors operators/dedup.py word_shingles(n=3, distinct=True).
SHINGLES_CTE = r"""
toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
    FROM toks WHERE len(t) >= 3
  )
)
"""


# Min-reachable-label connected components over the 3-gram Jaccard >= 0.5
# graph — the oracle of `dedup_clusters` and `graph_cc_pointer_jumping`.
DEDUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON inter.doc_a = sa.doc_id
      JOIN sizes sb ON inter.doc_b = sb.doc_id
      WHERE floor(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 >= 0.5
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(v, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.v
    )
    SELECT v AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY v
    """


# MinHash / SRP / exact-similarity oracle fragments shared by the
# dedup, similarity, stats and stored-index plan modules. Constants
# come from the operator layer (leaf-safe: operators never import
# plan modules or the registry).
from ..operators.dedup import BAND_SIZE, NUM_SEEDS  # noqa: E402

_SHINGLES_CTE = SHINGLES_CTE


def _minhash_sql() -> str:
    mins = ",\n         ".join(
        f"min(CASE WHEN seed = {k} THEN mh END) AS m{k}" for k in range(NUM_SEEDS)
    )
    n_bands = NUM_SEEDS // BAND_SIZE
    band_branches = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_id, {expr} AS bsig FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"m{b * BAND_SIZE + k}" for k in range(BAND_SIZE)),
        )
        for b in range(n_bands)
    )
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
    sig AS (
      SELECT doc_id,
         {mins}
      FROM per_seed GROUP BY doc_id
    ),
    bands AS (
    {band_branches}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    """


def _minhash_incr_sql() -> str:
    full = _minhash_sql()
    # same CTE pipeline, different join shape: delta probes base
    head = full[: full.rindex("SELECT DISTINCT")]
    return f"""{head}SELECT DISTINCT d.doc_id AS new_doc, b.doc_id AS dup_of
    FROM bands d JOIN bands b
      ON d.band_id = b.band_id AND d.bsig = b.bsig
    WHERE d.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    """


# Rounded cosine from exact integer sums (functions/det.cos_grid_sql):
# DuckDB does not pin its parallel sum order, so the pre-r5 float
# sum(qv*cv) could land either side of the 6dp rounding boundary with
# thread count — the r3/r4 semdedup driver-flake class, closed here at
# the shared-fragment level.
from ..functions.det import cos_grid_sql as _cos_grid_sql_local  # noqa: E402

_EXACT_SIM_CTE = f"""
q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
flat AS (
  SELECT qid, cid,
         CAST(unnest(qe) AS DOUBLE) AS qv,
         CAST(unnest(ce) AS DOUBLE) AS cv
  FROM q, c WHERE qid <> cid
),
sims AS (
  SELECT qid, cid,
         {_cos_grid_sql_local("qv", "cv")} AS sim
  FROM flat GROUP BY qid, cid
)
"""


def _srp_sql() -> str:
    # Exact-integer projections (r5): grid-quantized components times the
    # shared integer plane family — sum order can never flip the sign
    # test (functions/det.py doctrine). plane_coef_sql keeps planes 0..3
    # value-identical to the legacy ((i*31 + 17j) % 7) - 3 family, so
    # every bucketing this fragment ever produced is unchanged.
    from ..functions.det import proj_sign_sql
    from ..operators.similarity import plane_coef_sql

    projs = ",\n         ".join(
        f"{proj_sign_sql('CAST(v AS DOUBLE)', plane_coef_sql('i', j))} AS p{j}"
        for j in range(4)
    )
    bucket = " + ".join(f"(CASE WHEN p{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(4))
    return f"""
    flat_b AS (
      SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    projs AS (
      SELECT vec_id,
         {projs}
      FROM flat_b GROUP BY vec_id
    ),
    buckets AS (SELECT vec_id, CAST({bucket} AS BIGINT) AS bucket FROM projs)
    """


# Language-ID decision and deterministic split-bucket fragments shared
# by the text/corpus/mlops/stats/agreement plan modules.
_LANG_SQL = f"""
    CASE
      WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
      WHEN greatest(en_h, de_h, fr_h, es_h) = 0 THEN 'und'
      WHEN en_h = greatest(en_h, de_h, fr_h, es_h) THEN 'en'
      WHEN de_h = greatest(en_h, de_h, fr_h, es_h) THEN 'de'
      WHEN fr_h = greatest(en_h, de_h, fr_h, es_h) THEN 'fr'
      ELSE 'es'
    END
"""


_HASH_BUCKET_SQL = """(
  (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 1)) - 1) * 16
  + instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 2, 1)) - 1
) % 100"""


# Normal-tail p-value SQL (Abramowitz-Stegun 26.2.17 polynomial),
# shared verbatim by the screening and alerting plan modules.
_PHI_TAIL = (
    "(exp(-(Z) * (Z) / 2) / sqrt(2 * pi()) * "
    "((0.319381530 * T) + (-0.356563782 * T * T) + (1.781477937 * T * T * T)"
    " + (-1.821255978 * T * T * T * T)"
    " + (1.330274429 * T * T * T * T * T)))"
)


def _p_two_sided(expr_z: str) -> str:
    """Two-sided p from |z| with T = 1/(1 + 0.2316419 |z|), as SQL text
    shared verbatim by the Spark and DuckDB plans."""
    az = f"abs({expr_z})"
    t = f"(1.0 / (1.0 + 0.2316419 * {az}))"
    return "(2 * " + _PHI_TAIL.replace("Z", az).replace("T", t) + ")"
