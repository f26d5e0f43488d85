"""Stage 6 — transitive closure: connected components via
alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SOCC 2014 — public algorithm).

The reference stops at candidate *pairs* (its `/duplicates` endpoint
self-matches run 0, pkg/api/handler.go:82-102); the north_rule extends
pairs to entity clusters. Spark has no fixpoint operator, so the loop
runs on the driver, each iteration a pair of shuffles, with
``localCheckpoint`` every few iterations to cut lineage growth
(SURVEY.md §7.4.3). Converges in O(log n) iterations; cluster ids are
min-record-id so results are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import AmpConfig, DEFAULT_CONFIG
from .io import empty_frame


def _canon(edges: DataFrame, edges_unique: bool = False) -> DataFrame:
    e = edges.select(
        F.col("left_id").alias("u"), F.col("right_id").alias("v")
    ).where(F.col("u") != F.col("v"))
    # the distinct is a perf choice (smaller star-loop input / driver
    # collect), never a correctness one — duplicate edges are redundant
    # unions. Callers that guarantee a unique canonical edge set (the
    # pipeline: threshold edges are distinct left<right pairs, exact
    # edges are min-id stars, and the two are disjoint by construction)
    # skip the shuffle.
    return e if edges_unique else e.distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(Γ(u) ∪ {u})."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges high->low; connect every low neighbor (and the hub)
    to the minimum."""
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = o.groupBy("u").agg(F.min("v").alias("m"))
    joined = o.join(m, "u")
    a = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
    b = m.select(F.col("u"), F.col("m").alias("v"))
    return a.unionByName(b).where(F.col("u") != F.col("v")).distinct()


def _signature(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _union_find_pdf(pdf, spark, id_type: str, stats_out: dict | None = None) -> DataFrame:
    """Connected components over an already-collected edge frame,
    vectorized: ids are factorized to sort-ordered integer codes (so
    min code == min id) and the closure runs as numpy hook-and-compress
    — per iteration, fully compress the parent array by pointer
    jumping, then hook every edge's larger root under its smaller root
    with ``np.minimum.at``. Labels only decrease and are bounded below
    by each component's min code, which is itself a fixpoint root, so
    the loop converges to cluster_id = min member id in O(log n)
    vectorized passes — the same contract as the old per-edge Python
    dict walk, minus its interpreter cost (~2s at 500k edges, ~10s at
    2.4M).

    ``stats_out`` (when given) receives driver-known aggregates — edge
    count, node count, distinct root count — so callers can report
    cluster metrics WITHOUT a separate Spark aggregation job over the
    assignment table."""
    import numpy as np
    import pandas as pd

    n_edges = len(pdf)
    if n_edges == 0:
        if stats_out is not None:
            stats_out.update(
                driver_path=True, n_edges=0, n_edge_nodes=0, n_edge_roots=0
            )
        # schema follows the edge id type (string record_ids in the ER
        # pipeline, int64 doc_ids in the documents-table queries)
        return empty_frame(spark, f"record_id {id_type}, cluster_id {id_type}")

    both = pd.concat([pdf["u"], pdf["v"]], ignore_index=True)
    codes, uniques = pd.factorize(both, sort=True)
    eu, ev = codes[:n_edges], codes[n_edges:]
    n = len(uniques)
    parent = np.arange(n, dtype=np.int64)
    while True:
        while True:  # full path compression by pointer jumping
            p2 = parent[parent]
            if np.array_equal(p2, parent):
                break
            parent = p2
        ru, rv = parent[eu], parent[ev]
        lo = np.minimum(ru, rv)
        hi = np.maximum(ru, rv)
        m = lo != hi
        if not m.any():
            break
        np.minimum.at(parent, hi[m], lo[m])

    ids = uniques.to_numpy() if hasattr(uniques, "to_numpy") else np.asarray(uniques)
    if stats_out is not None:
        stats_out.update(
            driver_path=True,
            n_edges=n_edges,
            n_edge_nodes=n,
            n_edge_roots=int((parent == np.arange(n)).sum()),
        )
    return spark.createDataFrame(
        pd.DataFrame({"record_id": ids, "cluster_id": ids[parent]}),
        schema=f"record_id {id_type}, cluster_id {id_type}",
    )


def connected_components(
    edges: DataFrame,
    all_nodes: DataFrame | None = None,
    cfg: AmpConfig = DEFAULT_CONFIG,
    nodes_unique: bool = False,
    edges_unique: bool = False,
    stats_out: dict | None = None,
) -> DataFrame:
    """edges(left_id, right_id) -> (record_id, cluster_id).

    cluster_id = min record_id of the component. ``all_nodes`` (one
    column ``record_id``) adds singleton clusters for unmatched records.
    ``nodes_unique=True`` skips the defensive distinct() on all_nodes —
    callers that already guarantee id uniqueness (the pipeline's records
    table, post-probe) must pass it: at 10^12 rows that distinct is a
    full shuffle of every record id for nothing. ``edges_unique=True``
    does the same for the edge-canonicalization distinct (see _canon) —
    the edge materialization then has NO shuffle at all, just a narrow
    filtered scan of its inputs.

    Size-adaptive: at or below ``cfg.cc_driver_cutoff`` edges the
    transitive closure runs as driver-side union-find (a request-scoped
    match graph is tiny; 15+ shuffle stages on it is pure overhead);
    above it, the alternating large-star/small-star loop — the only
    shape that survives 10^12-file match graphs — takes over. Both
    paths produce identical assignments (asserted in tests).

    ``stats_out`` (optional dict) is filled with driver-known aggregates
    when the union-find path runs (n_edges, n_edge_nodes, n_edge_roots)
    — enough for callers to derive the final cluster count WITHOUT a
    separate countDistinct job over the assignment table.

    Plan shape note (measured, round 4): a single-action
    limit(cutoff+1).toPandas() probe was tried here and REVERTED — on
    graphs above the first collect wave Spark's incremental limit
    re-executed the upstream distinct scan per wave (two full passes
    over the pinned pair table at 1.4M records, +150s wall). The
    materialize-probe-collect shape below scans the edge plan exactly
    once at every size; its extra driver round-trips are pinned-table
    reads costing ~0.3s total.
    """
    # Materialize the canonical edge set ONCE: the size probe, the
    # small-graph collect, and the star loop all consume it.
    e0 = _canon(edges, edges_unique=edges_unique).localCheckpoint(eager=True)
    if cfg.cc_driver_cutoff > 0 and e0.count() <= cfg.cc_driver_cutoff:
        assign = _union_find_pdf(
            e0.toPandas(),
            edges.sparkSession,
            edges.schema["left_id"].dataType.simpleString(),
            stats_out=stats_out,
        )
        if all_nodes is not None:
            nodes = all_nodes.select("record_id")
            if not nodes_unique:
                nodes = nodes.distinct()
            assign = (
                nodes.join(assign, "record_id", "left")
                .withColumn(
                    "cluster_id", F.coalesce("cluster_id", F.col("record_id"))
                )
            )
        return assign

    # Eager materialization per iteration: each round adds ~4 shuffles of
    # lineage, and _signature() is an action — without cutting lineage the
    # k-th iteration would recompute the whole upstream pipeline k times.
    e = e0
    sig = _signature(e)
    converged = False
    for _ in range(cfg.cc_max_iters):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        new_sig = _signature(e)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # never-drop-silently: a max-iters exit means the clustering may
        # be over-split (components not fully merged) — surface it
        import logging

        logging.getLogger("amp.cluster").warning(
            "connected_components hit cc_max_iters=%d without reaching the "
            "fixpoint; clustering may be over-split. Raise cc_max_iters "
            "(converges in O(log n) rounds).",
            cfg.cc_max_iters,
        )

    roots = e.select(F.col("v").alias("record_id"), F.col("v").alias("cluster_id")).distinct()
    members = e.select(F.col("u").alias("record_id"), F.col("v").alias("cluster_id"))
    assign = members.unionByName(roots).groupBy("record_id").agg(
        F.min("cluster_id").alias("cluster_id")
    )
    if all_nodes is not None:
        nodes = all_nodes.select("record_id")
        if not nodes_unique:
            nodes = nodes.distinct()
        assign = (
            nodes.join(assign, "record_id", "left")
            .withColumn("cluster_id", F.coalesce("cluster_id", F.col("record_id")))
        )
    return assign


def pairwise_f1(clusters: DataFrame, labeled_pairs: DataFrame) -> dict:
    """Evaluate cluster co-membership against labeled pairs
    (BASELINE.json gate: F1 >= 0.99). Pure DataFrame ops."""
    cl = clusters.select("record_id", "cluster_id")
    l = labeled_pairs.join(
        cl.withColumnRenamed("record_id", "left_id").withColumnRenamed(
            "cluster_id", "l_cl"
        ),
        "left_id",
    ).join(
        cl.withColumnRenamed("record_id", "right_id").withColumnRenamed(
            "cluster_id", "r_cl"
        ),
        "right_id",
    )
    agg = l.agg(
        F.sum(((F.col("l_cl") == F.col("r_cl")) & F.col("is_match")).cast("long")).alias("tp"),
        F.sum(((F.col("l_cl") == F.col("r_cl")) & ~F.col("is_match")).cast("long")).alias("fp"),
        F.sum(((F.col("l_cl") != F.col("r_cl")) & F.col("is_match")).cast("long")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = int(agg["tp"] or 0), int(agg["fp"] or 0), int(agg["fn"] or 0)
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": prec, "recall": rec, "f1": f1}
