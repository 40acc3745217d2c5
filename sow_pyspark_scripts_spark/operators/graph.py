"""Connected components for dedup clustering.

Near-dup detection emits PAIRS; deduplication needs CLUSTERS (pick one
canonical doc per group, transitively: if A~B and B~C, then {A,B,C} is
one group even if A!~C). That closure is connected components over the
similarity graph.

Algorithm: pointer jumping to a fixpoint. Each round has two steps:

- hop: every vertex takes the smallest label among itself and its
  neighbours, ``h(v)`` (one join + one aggregate);
- jump: ``label(v) <- min(h(v), label(h(v)))`` — a join with the
  round's starting labels on ``h``. Those labels are the materialized
  pin of the last round, so the jump reads a leaf instead of
  recomputing the hop.

A label never exceeds the one hop-only flooding would hold after as
many rounds, so the loop never needs more rounds than flooding (d + 1
for diameter d); on a chain reach doubles per round (2^k - 1 hops
after k rounds: a 256-vertex path takes 9 rounds, flooding 256).

The loop stops on the first round in which no label changes, and
raises if ``MAX_ITERATIONS`` runs out instead of returning partial
labels. The driver-side loop is pure orchestration: it moves a single
count, never data. Every round's labels go through ``pin_eager``, which
cuts the logical plan in every pin mode, so round k plans over a
materialized leaf rather than k rounds of self-joins.
"""

from __future__ import annotations

from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ITERATIONS = 50  # a chain of diameter d needs ~log2(d) + 1 rounds


def connected_components(
    vertices: DataFrame, edges: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Pointer jumping to fixpoint.

    vertices: one column ``id_col``, one row per vertex (singletons
    allowed).
    edges: columns (src, dst), undirected (one direction suffices).
    Returns (``id_col``, cluster_id) where cluster_id = min vertex id
    reachable from the vertex — deterministic, engine-independent.
    """
    sym = (
        edges.selectExpr("src", "dst")
        .union(edges.selectExpr("dst as src", "src as dst"))
        .transform(_pin_lazy)
    )
    labels = vertices.select(F.col(id_col).alias("v"), F.col(id_col).alias("lbl"))
    # ``labels`` is a projection of the pinned frame from the second
    # round on, and unpersisting a projection releases nothing: keep a
    # handle on the pinned frame itself so each round frees the last.
    pinned = None
    try:
        for _ in range(MAX_ITERATIONS):
            nbr = (
                sym.join(labels, sym.dst == labels.v)
                .groupBy("src")
                .agg(F.min("lbl").alias("nlbl"))
            )
            # least() skips NULL: a vertex without neighbours keeps its label
            hopped = labels.join(nbr, labels.v == nbr.src, "left").select(
                "v", "lbl", F.least("lbl", "nlbl").alias("h")
            )
            parent = labels.select(F.col("v").alias("pv"), F.col("lbl").alias("ph"))
            # Labels only ever decrease, so "changed" (new < old) is a
            # column of the pinned pass, checked by a cheap scan of the
            # materialized pin: no extra join per round.
            new_lbl = F.least("h", "ph")
            new_labels = (
                hopped.join(parent, hopped.h == parent.pv, "left")
                .select("v", new_lbl.alias("nl"), (new_lbl < F.col("lbl")).alias("chg"))
                .transform(_pin_eager)
            )
            changed = new_labels.where(F.col("chg")).limit(1).count()
            if pinned is not None:
                pinned.unpersist()
            pinned = new_labels
            labels = new_labels.select("v", F.col("nl").alias("lbl"))
            if changed == 0:
                return labels.select(
                    F.col("v").alias(id_col), F.col("lbl").alias("cluster_id")
                )
    finally:
        sym.unpersist()
    pinned.unpersist()
    raise RuntimeError(
        f"connected_components: labels still changing after {MAX_ITERATIONS} rounds"
    )
