"""Codegen-fallback guard over the expression-heavy tier.

Round 5 lost a bench cycle to a SILENT failure class: an unrolled PQ
expression grew a generated method past janino's 64 KB limit, Spark
logged "Failed to compile" at ERROR and quietly fell back to
interpreted evaluation, and the tier ran 2x slow with no test red.
This test institutionalizes the detection: with
``spark.sql.codegen.fallback=false`` a whole-stage compile failure
THROWS instead of degrading, and ``factoryMode=CODEGEN_ONLY`` does the
same for expression-level codegen. Any future expression that outgrows
a generated method fails here, at sf0.001, in seconds.
"""

from __future__ import annotations

import pytest

from sow_pyspark_scripts_spark.registry import pinned_queries

SF_DIR = "/root/testdata/sf0.001"

# The expression-heavy surfaces: unrolled PQ sign/ADC chains, the
# SRP/semdedup integer projections, the 8-step normalize regex chain,
# and the widest flagship projection.
GUARDED = [
    "similarity_topk_pq",
    "embedding_pq_encode",
    "embedding_pq_encode_delta",
    "similarity_topk_ivfadc",
    "similarity_topk_ivfadc_multiprobe",
    "similarity_topk_ivfadc_stored",
    "similarity_topk_pq_stored",
    "dedup_semantic_semdedup_sharded",
    "text_normalize",
    "flagship_incident_etl",
]


@pytest.fixture(scope="module")
def strict_codegen(spark):
    fb = spark.conf.get("spark.sql.codegen.fallback", "true")
    fm = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    yield spark
    spark.conf.set("spark.sql.codegen.fallback", fb)
    spark.conf.set("spark.sql.codegen.factoryMode", fm)


@pytest.mark.parametrize("name", GUARDED)
def test_compiles_without_fallback(strict_codegen, name):
    df = pinned_queries()[name](strict_codegen, SF_DIR)
    assert df.count() >= 0
