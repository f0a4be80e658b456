"""Connected components over near-duplicate pair graphs.

``clean_corpus`` uses the single-pass keep-smallest heuristic (drop ``id_b``
of every pair), which over-drops on chains. When exact duplicate CLUSTERS are
needed (dedup reporting, cluster-aware sampling, keep-one-per-component), this
module computes them properly: iterative min-label propagation —

    label(v) ← min(label(v), min over neighbors of label(n))

until fixpoint, which converges in O(graph diameter) rounds. Each round is one
shuffle (edge join + groupBy); lineage is truncated every round with
``localCheckpoint`` so the plan does not grow with the iteration count — the
standard Spark shape for iterative algorithms (same family as GraphX/GraphFrames
label propagation, reimplemented DataFrame-native).

Determinism: labels are ids, min() is total, so the fixpoint is unique —
component id = the minimal doc id reachable. The identical semantics are
expressible in SQL as a recursive transitive closure, so the driver query is
DuckDB-oracle-checked despite being iterative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node of the undirected pair graph;
    component = minimal reachable node id. Raises if ``max_iter`` rounds don't
    reach the fixpoint (diameter larger than max_iter — raise the cap)."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    sym = sym.localCheckpoint(eager=True)

    for _ in range(max_iter):
        # neighbor minimum for every node, one shuffle
        msgs = (
            sym.join(labels, sym.src == labels.node)
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_min"))
        )
        updated = (
            labels.join(msgs, labels.node == msgs.dst, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))).alias("comp"),
                (F.coalesce(F.col("nbr_min"), F.col("comp")) < F.col("comp")).alias("_chg"),
            )
        ).localCheckpoint(eager=True)
        changed = updated.filter(F.col("_chg")).limit(1).count()
        labels = updated.drop("_chg")
        if changed == 0:
            return labels.select(F.col("node"), F.col("comp").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — graph "
        "diameter exceeds the cap; raise max_iter"
    )


def canonical_docs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Pick ONE canonical document per duplicate cluster — the step that turns
    near-dup PAIRS into a deduplicated corpus without the keep-smallest
    over-drop (module docstring).

    Cluster = connected component of ``pairs``; documents in no pair are their
    own singleton cluster. Canonical = highest (numeric) ``quality_col`` in the cluster,
    ties broken by smallest id (or smallest id outright when no quality column
    is given) — deterministic at any parallelism.

    Plan: components over the pair graph (edges ∝ near-dups, never the
    corpus), then ONE equi-join of docs→components (left: singletons keep
    their own id) and one max_by aggregation per component joined back. No
    step touches more than |docs| + |pairs| rows.

    Output: (id, component, canonical_id, keep boolean) — ``keep`` marks the
    canonical row; filtering on it yields the cleaned corpus.
    """
    comp = connected_components(pairs, max_iter=max_iter)
    qual = (
        F.col(quality_col) if quality_col is not None else F.lit(0)
    )
    labeled = (
        docs.select(F.col(id_col).alias("_id"), qual.alias("_q"))
        .join(comp, F.col("_id") == F.col("node"), "left")
        .select("_id", "_q", F.coalesce(F.col("component"), F.col("_id")).alias("component"))
    )
    # argmax as min_by over (-quality, id): max quality first, smallest id on
    # ties — one total order, so quality_col must be numeric
    best = labeled.groupBy("component").agg(
        F.min_by(
            "_id", F.struct((-F.col("_q")).alias("nq"), F.col("_id").alias("i"))
        ).alias("canonical_id")
    )
    return (
        labeled.join(best, "component")
        .select(
            F.col("_id").alias(id_col),
            "component",
            "canonical_id",
            (F.col("_id") == F.col("canonical_id")).alias("keep"),
        )
    )


def dedup_impact_report(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster-size histogram + drop accounting — the corpus-level answer to
    "what does this dedup actually remove?" that pair/cluster frames don't
    state directly: a cleaning pipeline quotes ONE reduction number and a
    size distribution (is duplication a long tail of pairs, or a few viral
    clusters?) before committing to a drop.

    Rows: one per distinct cluster size — (cluster_size, n_clusters, n_docs,
    n_dropped, corpus_share). ``n_dropped = (cluster_size - 1) * n_clusters``
    because keep-one-per-cluster (:func:`canonical_docs`) retains exactly one
    document per component; summing ``n_dropped`` over rows is the corpus
    reduction, and the ``cluster_size = 1`` row counts the untouched
    singletons. Exact BIGINT counts; ``corpus_share`` is the only float
    (round-6 double, positive — no -0.0 hazard).

    PRECONDITION: ``id_col`` is unique in ``docs``. The share denominator
    counts ROWS of ``docs`` and each row is labeled on its own, so a
    duplicated id would count as a cluster member twice and inflate
    cluster_size, n_docs and n_dropped. Dedupe ids upstream; this report
    does not check it.

    Plan: components over the pair graph (edges ∝ near-dups, never corpus),
    one left equi-join to label singletons, two hash aggregations
    (component → size, size → histogram), and a single-row corpus-total
    frame broadcast-crossed for the share denominator. Output is bounded by
    the number of DISTINCT cluster sizes (≤ √(2·|docs|) — sizes are distinct
    positive integers summing to |docs|).
    """
    comp = connected_components(pairs, max_iter=max_iter)
    labeled = (
        docs.select(F.col(id_col).alias("_id"))
        .join(comp, F.col("_id") == F.col("node"), "left")
        .select(F.coalesce(F.col("component"), F.col("_id")).alias("component"))
    )
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    # single-row frame; count(docs) == count(labeled) by construction
    # (components emit one row per node), so skip re-executing the join
    total = docs.agg(F.count(F.lit(1)).alias("_n"))
    return hist.crossJoin(F.broadcast(total)).select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        ((F.col("cluster_size") - F.lit(1)) * F.col("n_clusters")).alias("n_dropped"),
        F.round(F.col("cluster_size") * F.col("n_clusters") / F.col("_n"), 6)
        .cast("double")
        .alias("corpus_share"),
    )
