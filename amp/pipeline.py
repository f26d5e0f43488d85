"""Pipeline driver: normalize -> block -> feature -> score -> rank ->
cluster, with optional per-stage checkpoint/resume.

The DAG mirrors the reference's processAndMatch
(pkg/api/handler.go:165-191): its four read-transform-write passes
against Postgres feature tables become six lazy DataFrame stages, each
checkpointable. ``spark-submit --py-files amp.zip amp/pipeline.py``
is the cluster entry point.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import blocking, cluster, features, normalize, rank, scoring
from .checkpoint import CheckpointManager
from .config import AmpConfig, DEFAULT_CONFIG


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    cfg: AmpConfig = DEFAULT_CONFIG,
    run_id: int = 0,
    checkpoint_root: str | None = None,
    embeddings: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Returns every stage's DataFrame keyed by stage name.

    ``embeddings`` (record_id, embedding array) ingests PRECOMPUTED
    semantic vectors — they replace the hashing-trick embeddings in the
    feature table (scoring.attach_embeddings; total coverage required),
    the hook for bringing reference-style model vectors
    (python-ml/generate_embeddings.py) instead of hashed ones."""
    ck = CheckpointManager(spark, checkpoint_root, run_id) if checkpoint_root else None

    def stage(name: str, thunk):
        return ck.stage(name, thunk) if ck else thunk()

    def pin(df):
        """Materialize + TRUNCATE the logical plan (no-checkpoint path).

        cache() alone is not enough: every downstream action still
        re-analyzes the full logical tree, and with ~20 actions over a
        deep DAG the driver-side Catalyst work dominates wall clock
        (measured: wall identical at local[8] and local[32]).
        localCheckpoint is the in-memory analog of the reference's
        table-to-table stage materialization."""
        return df.localCheckpoint(eager=True)

    records = stage("records", lambda: normalize.normalize(files, cfg, run_id))
    if ck is None:
        records = pin(records)
    # uniqueness probe AFTER materialization: probing the raw normalize
    # plan would re-run the whole Arrow kernel (mapInPandas output is
    # not column-prunable); against the pinned/checkpointed table the
    # probe is a cheap pruned-column aggregation — fused with the IDF
    # corpus-size count into ONE job (uniqueness_stats): when record_id
    # is unique, reps emits exactly one row per distinct content_sha,
    # so n_contents IS reps.count() and that job disappears. Clean
    # inputs keep the same frame; a dirty input yields a new (deduped)
    # plan -> re-pin + re-count (rare path pays the extra job).
    #
    # The probe and the winner-side pin are INDEPENDENT actions over the
    # same pinned table, so the no-checkpoint path submits them
    # concurrently (Spark drivers schedule concurrent jobs safely; both
    # inputs are immutable pins). These are the pipeline's constant-cost
    # phases — they don't shrink with data, so at high parallelism they
    # dilute scaling; overlapping them halves that constant.
    #
    # WHICH table the winner thread pins is a size call: small corpora
    # pin the thin (content_sha, record_id) winner table and leave reps
    # as a lazy broadcast semi-join; large corpora pin the fat reps rows
    # directly — representatives() fuses the winner groupBy and the
    # semi-join into ONE job, so the pin lands inside the probe window
    # instead of running as a second sequential materialization, and
    # the winner table falls out of the pinned reps as a free projection
    # (every reps row IS its content's winner). n_rows isn't known until
    # the probe returns, so the call uses the pinned table's partition
    # count as the size proxy (cfg.fused_reps_min_partitions); both
    # shapes are semantically identical, so a wrong guess costs timing,
    # never correctness.
    winners = None
    reps = None
    if ck is None:
        from concurrent.futures import ThreadPoolExecutor

        fused_reps = (
            records.rdd.getNumPartitions() >= cfg.fused_reps_min_partitions
        )

        def _winner_side():
            if fused_reps:
                return pin(normalize.representatives(records))
            return pin(normalize.winner_ids(records))

        with ThreadPoolExecutor(max_workers=2) as pool:
            # the pinned winner side's row count IS n_contents (one row
            # per distinct content either way), so the probe skips the
            # content-sha countDistinct and its row expansion
            f_probe = pool.submit(
                lambda: normalize.uniqueness_stats(records, with_contents=False)
            )
            f_side = pool.submit(_winner_side)
            n_rows, n_ids, _ = f_probe.result()
            side = f_side.result()
        if n_ids != n_rows:
            # dirty input (rare): the winner side was derived from the
            # pre-dedup rows — recompute everything off the deduped pin.
            # Re-probe the row counts: n_rows feeds metrics + the
            # cluster arithmetic below, not just the gate.
            records = pin(normalize.dedupe_full(records))
            n_rows, n_ids, _ = normalize.uniqueness_stats(
                records, with_contents=False
            )
            side = _winner_side()
        n_contents = side.count()  # pinned-table count, ~free
        if fused_reps:
            reps = side
            winners = reps.select("content_sha", "record_id")
        else:
            winners = side
    else:
        n_rows, n_ids, n_contents = normalize.uniqueness_stats(records)
        if n_ids != n_rows:
            records = normalize.dedupe_full(records)
            n_rows, n_ids, n_contents = normalize.uniqueness_stats(records)

    if ck is not None:
        reps = stage("reps", lambda: normalize.representatives(records))
    elif reps is not None:
        pass  # fused path: reps pinned inside the probe window above
    elif n_rows <= cfg.broadcast_sides_max_records:
        # small-corpus shape: the THIN pinned winner table broadcasts
        # and reps stays a lazy semi-join against pinned records — each
        # consumer (IDF pass, feature kernel, path blocks) re-runs a
        # ~free in-memory broadcast join instead of the pipeline paying
        # a second fat-row materialization pass up front.
        reps = normalize.representatives_from_winners(
            records, winners, broadcast=True
        )
    else:
        # above the gate a corpus-sized winner table can't broadcast;
        # materialize the fat reps rows once (AQE picks the join) —
        # repeating a shuffled semi-join per consumer costs more than
        # one materialization.
        reps = pin(normalize.representatives_from_winners(records, winners))
    ex_edges = stage(
        "exact_edges", lambda: normalize.exact_edges(records, winners=winners)
    )

    # broadcast IDF dict + one-pass feature kernel
    def _sides():
        idf = features.idf_map(reps, n_contents, cfg)
        s = scoring.side_features_onepass(reps, idf, cfg)
        if embeddings is not None:
            s = scoring.attach_embeddings(
                s, embeddings, expected_ids=reps.select("record_id")
            )
        return s

    sides = stage("sides", _sides)
    if ck is None:
        sides = pin(sides)
    sigs = sides.select("record_id", "sig")
    blocks = blocking.all_blocks(reps, sigs, cfg)
    stats = blocking.block_stats(blocks)
    # pairs is NOT pinned here: its only consumer is the scorer,
    # whose own pin materializes the fused pair-gen -> score plan in
    # one pass (a separate pairs materialization measured ~20%
    # slower end-to-end); the checkpointed path still persists the
    # pairs table for resume/inspection
    pairs = stage("pairs", lambda: blocking.candidate_pairs(blocks, cfg, stats))
    scored = stage(
        "scored",
        # n_rows (already probed) gates the scorer's join strategy:
        # small-enough side tables broadcast, big corpora shuffle
        lambda: scoring.score_pairs_onepass(pairs, sides, cfg, n_records=n_rows),
    )
    if ck is None:
        scored = pin(scored)

    # checkpointed stages come back with a run_id partition column —
    # project both sides to the edge schema before the union
    edges = stage(
        "edges",
        lambda: rank.threshold_edges(scored, cfg)
        .select("left_id", "right_id", "pass_name")
        .unionByName(ex_edges.select("left_id", "right_id", "pass_name")),
    )
    cc_stats: dict = {}
    clusters = stage(
        "clusters",
        lambda: cluster.connected_components(
            edges,
            all_nodes=records.select("record_id"),
            cfg=cfg,
            # the uniqueness probe above guarantees one row per
            # record_id, so the singleton join skips its defensive
            # distinct (a full id shuffle at corpus scale); threshold
            # edges are distinct left<right pairs and exact edges are
            # disjoint min-id stars, so the edge canonicalization
            # distinct is skipped too — the edge pin is a pure narrow
            # scan
            nodes_unique=True,
            edges_unique=True,
            stats_out=cc_stats,
        ),
    )
    # driver-known metrics: counts the pipeline already paid for
    # (uniqueness probe, union-find aggregates). n_clusters is exact
    # when the CC ran driver-side: every edge node is a record (edges
    # derive from records) and record_ids are unique post-probe, so
    # clusters = edge-component roots + (records not in any edge).
    metrics: dict = {"n_records": n_rows, "n_contents": n_contents}
    # (when a checkpointed run RESUMES the clusters stage the thunk never
    # runs and cc_stats stays empty — the guard below covers both cases)
    if cc_stats.get("driver_path"):
        metrics["n_clusters"] = cc_stats["n_edge_roots"] + (
            n_rows - cc_stats["n_edge_nodes"]
        )
        metrics.update(cc_stats)
    return dict(
        sides=sides,
        sigs=sigs,
        metrics=metrics,
        records=records,
        reps=reps,
        exact_edges=ex_edges,
        blocks=blocks,
        block_stats=stats,
        pairs=pairs,
        scored=scored,
        edges=edges,
        clusters=clusters,
    )


def main() -> None:
    ap = argparse.ArgumentParser(description="amp entity-resolution pipeline")
    ap.add_argument("--input", required=False, help="parquet path of repo_files")
    ap.add_argument("--gen", type=int, default=0, help="generate N base files instead")
    ap.add_argument("--run-id", type=int, default=0)
    ap.add_argument("--checkpoint-root", default=None)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument(
        "--output", default=None,
        help="write the cluster assignment table here (parquet, "
        "write-locality-sorted by cluster_id so footer min/max stats "
        "prune cluster lookups)",
    )
    args = ap.parse_args()

    from .session import get_spark

    spark = get_spark("amp-pipeline", cpus=args.cpus)
    if args.gen:
        from .datagen import gen_files

        files = gen_files(spark, args.gen)
    elif args.input:
        files = spark.read.parquet(args.input)
    else:
        ap.error("one of --input or --gen is required")

    t0 = time.time()
    out = run_pipeline(
        spark, files, run_id=args.run_id, checkpoint_root=args.checkpoint_root
    )
    m = out.get("metrics", {})
    if m.get("n_clusters") is not None:
        n_clusters, n_records = m["n_clusters"], m["n_records"]
        out["clusters"].write.format("noop").mode("overwrite").save()
    else:  # resumed-from-checkpoint runs have no union-find stats
        n_clusters = out["clusters"].agg(F.countDistinct("cluster_id")).collect()[0][0]
        n_records = out["clusters"].count()
    if args.output:
        from .io import write_results

        # O3 write-locality sort: rows ordered inside each output file
        # (no global shuffle) -> parquet footer min/max on cluster_id
        # serve point lookups / range scans without reading every file
        write_results(
            out["clusters"].withColumn("run_id", F.lit(args.run_id)),
            args.output,
            sort_within_partitions=("cluster_id", "record_id"),
        )
    print(
        json.dumps(
            {
                "records": n_records,
                "clusters": n_clusters,
                "wall_sec": round(time.time() - t0, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
