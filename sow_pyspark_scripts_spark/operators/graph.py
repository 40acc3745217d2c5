"""Connected components for dedup clustering.

Near-dup detection emits PAIRS; deduplication needs CLUSTERS (pick one
canonical doc per group, transitively: if A~B and B~C, then {A,B,C} is
one group even if A!~C). That closure is connected components over the
similarity graph.

Algorithm: iterative min-label propagation to a fixpoint — every vertex
repeatedly adopts the smallest label among itself and its neighbors.
Each iteration is one join + one aggregate (both shuffle on doc_id);
iteration count is bounded by the graph diameter, and near-dup clusters
are shallow (diameter <= a few hops), so 3-6 rounds converge in
practice. The driver-side while loop is pure orchestration: it moves a
single count, never data. At 100 TB the same loop runs with
per-iteration ``persist``/``localCheckpoint`` to cut lineage (done
here), exactly how large-star/small-star implementations structure it.
"""

from __future__ import annotations

from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ITERATIONS = 50  # far above any real near-dup cluster diameter


def connected_components(
    vertices: DataFrame, edges: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Min-label propagation to fixpoint.

    vertices: one column ``id_col`` (singletons allowed).
    edges: columns (src, dst), undirected (one direction suffices).
    Returns (``id_col``, cluster_id) where cluster_id = min vertex id
    reachable from the vertex — deterministic, engine-independent.
    """
    sym = edges.selectExpr("src", "dst").union(edges.selectExpr("dst as src", "src as dst"))
    sym = sym.persist()
    labels = vertices.select(F.col(id_col).alias("v"), F.col(id_col).alias("lbl")).persist()
    # ``labels`` is a projection of the pinned frame from the second
    # round on, and unpersisting a projection releases nothing: keep a
    # handle on the pinned frame itself so each round frees the last.
    pinned = labels
    for _ in range(MAX_ITERATIONS):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.v)
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        # The convergence flag rides INSIDE the pinned pass (r9, guide
        # §2.4/§5): labels only ever decrease, so changed == "any new
        # label < old label" — computed as a column in the same select,
        # then checked with a cheap scan of the just-materialized pin.
        # The old shape re-joined new labels to old labels for the
        # check: one extra join + shuffle per iteration, on every
        # cluster composite that calls this operator.
        new_lbl = F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl")))
        new_labels = (
            labels.join(neighbor_min, labels.v == neighbor_min.src, "left")
            .select(
                "v",
                new_lbl.alias("nl"),
                (new_lbl < F.col("lbl")).alias("chg"),
            )
            .transform(_pin_eager)  # cut lineage: each iteration starts from materialized labels
        )
        changed = new_labels.where(F.col("chg")).limit(1).count()
        pinned.unpersist()
        pinned = new_labels
        labels = new_labels.select("v", F.col("nl").alias("lbl"))
        if changed == 0:
            break
    sym.unpersist()
    return labels.select(F.col("v").alias(id_col), F.col("lbl").alias("cluster_id"))
