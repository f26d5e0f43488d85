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
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import blocking, cluster, features, normalize, rank, scoring
from .checkpoint import CheckpointManager
from .config import AmpConfig, DEFAULT_CONFIG


class Corpus(NamedTuple):
    """The front half of the ER chain, as prepare() leaves it."""

    records: DataFrame
    reps: DataFrame
    # None when the sides stage resumed from a checkpoint (the IDF pass
    # lives inside that stage and is skipped with it)
    idf: dict[int, float] | None
    sides: DataFrame
    n_rows: int
    n_contents: int


def pin(name: str, thunk) -> DataFrame:
    """The no-checkpoint stage: materialize + TRUNCATE the logical plan.

    cache() alone is not enough: every downstream action still
    re-analyzes the full logical tree, and with ~20 actions over a
    deep DAG the driver-side Catalyst work dominates wall clock
    (measured: wall identical at local[8] and local[32]).
    localCheckpoint is the in-memory analog of the reference's
    table-to-table stage materialization. Same (name, thunk) signature
    as CheckpointManager.stage, which takes its place on checkpointed
    runs."""
    return thunk().localCheckpoint(eager=True)


def prepare(
    files: DataFrame,
    cfg: AmpConfig = DEFAULT_CONFIG,
    run_id: int = 0,
    ck: CheckpointManager | None = None,
    embeddings: DataFrame | None = None,
    idf: dict[int, float] | None = None,
) -> Corpus:
    """records -> representatives -> features: normalize, enforce
    record_id uniqueness, one row per distinct content, IDF dictionary
    (unless ``idf`` is given), one-pass side features (+ provided
    ``embeddings``). Every table is materialized as a stage — a
    CheckpointManager stage when ``ck`` is given (stage names
    records / reps / sides), an in-memory pin otherwise.

    The uniqueness probe runs AFTER the records stage: probing the raw
    normalize plan would re-run the whole Arrow kernel (mapInPandas
    output is not column-prunable), against the materialized table it
    is a cheap pruned-column aggregation. The probe and the reps stage
    are independent actions over that same immutable table, so they
    run concurrently (Spark drivers schedule concurrent jobs safely):
    both are constant-cost phases that don't shrink with data, and
    overlapping them keeps that constant to one window. The reps
    stage's row count IS n_contents (one row per distinct content), so
    the probe skips the content-sha countDistinct.

    Dirty input (duplicate record_ids, rare): the reps stage was built
    from the pre-dedup rows, so records are deduped and pinned (a
    checkpointed records stage keeps the rows as ingested; every run
    re-dedupes them) and the reps stage is recomputed from the deduped
    rows. dedupe_full keeps one row per id, so the deduped row count is
    the probe's distinct-id count."""
    persist = ck.stage if ck else pin

    def reps_of_records():
        return normalize.representatives(records)

    records = persist("records", lambda: normalize.normalize(files, cfg, run_id))
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_probe = pool.submit(
            lambda: normalize.uniqueness_stats(records, with_contents=False)
        )
        f_reps = pool.submit(persist, "reps", reps_of_records)
        n_rows, n_ids, _ = f_probe.result()
        reps = f_reps.result()
    if n_ids != n_rows:
        records = pin("records", lambda: normalize.dedupe_full(records))
        n_rows = n_ids
        if ck:
            ck.invalidate("reps")
        reps = persist("reps", reps_of_records)
    n_contents = reps.count()  # materialized-table count, ~free

    def _sides():
        nonlocal idf
        if idf is None:
            idf = features.idf_map(reps, n_contents, cfg)
        s = scoring.side_features_onepass(reps, idf, cfg)
        if embeddings is not None:
            s = scoring.attach_embeddings(
                s, embeddings, expected_ids=reps.select("record_id")
            )
        return s

    sides = persist("sides", _sides)
    return Corpus(records, reps, idf, sides, n_rows, n_contents)


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
    persist = ck.stage if ck else pin

    def stage(name: str, thunk):
        """A stage the no-checkpoint path leaves lazy."""
        return ck.stage(name, thunk) if ck else thunk()

    records, reps, _, sides, n_rows, n_contents = prepare(
        files, cfg, run_id, ck, embeddings
    )
    ex_edges = stage("exact_edges", lambda: normalize.exact_edges(records, reps))
    sigs = sides.select("record_id", "sig")
    blocks = blocking.all_blocks(reps, sigs, cfg)
    stats = blocking.block_stats(blocks)
    # pairs is NOT pinned here: its only consumer is the scorer,
    # whose own pin materializes the fused pair-gen -> score plan in
    # one pass (a separate pairs materialization measured ~20%
    # slower end-to-end); the checkpointed path still persists the
    # pairs table for resume/inspection
    pairs = stage("pairs", lambda: blocking.candidate_pairs(blocks, cfg))
    scored = persist(
        "scored",
        # n_rows (already probed) gates the scorer's join strategy:
        # small-enough side tables broadcast, big corpora shuffle
        lambda: scoring.score_pairs_onepass(pairs, sides, cfg, n_records=n_rows),
    )

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
