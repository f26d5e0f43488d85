"""End-to-end gates: pairwise F1 >= 0.99 (BASELINE.json), per-class
recall, resume-equals-fresh, datagen determinism."""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pytest

from pyspark.sql import functions as F

from amp.cluster import pairwise_f1


def test_f1_gate(spark, small_corpus, pipeline_out):
    _, labels = small_corpus
    m = pairwise_f1(pipeline_out["clusters"], labels)
    assert m["f1"] >= 0.99, m
    assert m["precision"] >= 0.99 and m["recall"] >= 0.99, m


def test_driver_metrics_match_aggregated_counts(spark, small_corpus, pipeline_out):
    """out['metrics'] (driver-known counts from the probe + union-find)
    must equal the Spark-aggregated truth — these feed bench counters
    and the CLI summary instead of separate aggregation jobs."""
    m = pipeline_out["metrics"]
    assert m["n_records"] == pipeline_out["records"].count()
    assert (
        m["n_clusters"]
        == pipeline_out["clusters"].agg(F.countDistinct("cluster_id")).collect()[0][0]
    )


def test_dirty_input_metrics_use_post_dedup_counts(spark, small_corpus):
    """Duplicate record_ids in the ingested batch (same (repo, path,
    commit) twice): the pipeline dedupes AND the driver metrics must
    reflect the POST-dedup row count — a pre-dedup n_records would also
    corrupt the cluster arithmetic."""
    from amp.pipeline import run_pipeline

    files, _ = small_corpus
    sample = files.limit(40)
    doubled = sample.unionByName(sample)  # every id duplicated
    out = run_pipeline(spark, doubled)
    m = out["metrics"]
    true_records = out["records"].count()
    assert true_records == 40
    assert m["n_records"] == true_records
    assert (
        m["n_clusters"]
        == out["clusters"].agg(F.countDistinct("cluster_id")).collect()[0][0]
    )
    # reps recomputed off the deduped rows: one row per content
    assert out["reps"].count() == out["reps"].select("content_sha").distinct().count()


def test_checkpointed_run_equals_in_memory_on_dirty_input(
    spark, small_corpus, tmp_path_factory
):
    """Dirty input through the checkpointed stages: the records stage
    holds the pre-dedup rows and the reps stage is first built from
    them, so the run must dedupe and rebuild reps exactly as the
    in-memory run does — fresh and resumed."""
    from amp.pipeline import run_pipeline

    files, _ = small_corpus
    # collected once so all three runs read the same 40 rows
    sample = spark.createDataFrame(files.limit(40).collect(), files.schema)
    doubled = sample.unionByName(sample)  # every id duplicated

    def assignments(out):
        return {
            tuple(r) for r in out["clusters"].select("record_id", "cluster_id").collect()
        }

    mem = run_pipeline(spark, doubled)
    assert mem["metrics"]["n_records"] == 40
    root = str(tmp_path_factory.mktemp("ck_dirty"))
    for _ in ("fresh", "resumed"):
        ck = run_pipeline(spark, doubled, checkpoint_root=root)
        assert ck["metrics"]["n_records"] == 40
        assert ck["metrics"]["n_contents"] == mem["metrics"]["n_contents"]
        assert ck["reps"].count() == mem["reps"].count()
        assert assignments(ck) == assignments(mem)


def test_per_class_recall(spark, small_corpus, pipeline_out):
    """Each corruption class must be fully recalled, and the negative
    class (boilerplate near-miss) fully rejected."""
    _, labels = small_corpus
    cl = pipeline_out["clusters"]
    j = (
        labels.join(
            cl.withColumnRenamed("record_id", "left_id").withColumnRenamed("cluster_id", "l_cl"),
            "left_id",
        )
        .join(
            cl.withColumnRenamed("record_id", "right_id").withColumnRenamed("cluster_id", "r_cl"),
            "right_id",
        )
        .withColumn("same", F.col("l_cl") == F.col("r_cl"))
    )
    per_class = {
        (r["corruption"], r["is_match"]): (r["n_same"], r["n"])
        for r in j.groupBy("corruption", "is_match")
        .agg(F.sum(F.col("same").cast("int")).alias("n_same"), F.count("*").alias("n"))
        .collect()
    }
    for (cls, is_match), (n_same, n) in per_class.items():
        if is_match:
            assert n_same == n, f"recall miss in {cls}: {n_same}/{n}"
        else:
            assert n_same == 0, f"false merges in {cls}: {n_same}/{n}"


def test_datagen_deterministic_across_parallelism(spark):
    """The corpus must be identical at different partition counts —
    this is what makes the two-parallelism bench comparable."""
    from amp.datagen import gen_files

    a = gen_files(spark, 60, partitions=2)
    b = gen_files(spark, 60, partitions=16)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_resume_equals_fresh(spark, tmp_path_factory):
    """Kill-after-stage-k semantics: wipe the tail manifests, re-run,
    final clusters byte-identical (SURVEY.md §5.3)."""
    from amp.datagen import gen_files
    from amp.pipeline import run_pipeline

    root = str(tmp_path_factory.mktemp("ck"))
    files = gen_files(spark, 80, partitions=4)
    out1 = run_pipeline(spark, files, checkpoint_root=root)
    fresh = sorted(
        (r["record_id"], r["cluster_id"]) for r in out1["clusters"].collect()
    )
    # simulate a crash after the 'scored' stage: drop downstream manifests
    for stage in ("edges", "clusters"):
        os.remove(os.path.join(root, "_manifest", f"run0_{stage}.json"))
    out2 = run_pipeline(spark, files, checkpoint_root=root)
    resumed = sorted(
        (r["record_id"], r["cluster_id"]) for r in out2["clusters"].collect()
    )
    assert fresh == resumed
    # manifest carries per-stage rows + wall time
    with open(os.path.join(root, "_manifest", "run0_clusters.json")) as fh:
        man = json.load(fh)
    assert man["rows"] == len(fresh) and man["stage"] == "clusters"


@pytest.mark.parametrize("seed", [7, 1234])
def test_f1_gate_holds_across_corpus_seeds(spark, seed):
    """The F1 >= 0.99 gate must not be an artifact of the default
    seed-42 corpus: regenerate the labeled corpus under other seeds and
    re-run the full pipeline."""
    from amp.cluster import pairwise_f1
    from amp.datagen import gen_files, gen_labels
    from amp.pipeline import run_pipeline

    files = gen_files(spark, 250, seed=seed, partitions=8)
    labels = gen_labels(spark, 250, seed=seed, partitions=8)
    out = run_pipeline(spark, files)
    m = pairwise_f1(out["clusters"], labels)
    assert m["f1"] >= 0.99, m


def test_snapshot_pins_file_set_and_gates_resume(spark, tmp_path_factory):
    """Iceberg-shaped manifest contract: a stage's snapshot digests the
    exact data-file set; tampering with the checkpoint flips
    verify_snapshot to False and stage() recomputes instead of resuming
    the corrupt table."""
    import glob

    from amp.checkpoint import CheckpointManager

    root = str(tmp_path_factory.mktemp("snap_ck"))
    ck = CheckpointManager(spark, root, run_id=0)
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    calls = {"n": 0}

    def thunk():
        calls["n"] += 1
        return df

    ck.stage("nums", thunk)
    assert calls["n"] == 1
    assert ck.verify_snapshot("nums")
    man = [m for m in ck.manifest() if m["stage"] == "nums"][0]
    assert man["snapshot"] and man["n_files"] >= 1 and man["files"]

    # clean resume: served from the checkpoint, thunk not re-run
    ck.stage("nums", thunk)
    assert calls["n"] == 1

    # tamper: delete one data file -> verify fails -> stage recomputes
    part = glob.glob(os.path.join(root, "nums", "run_id=0", "_v=*", "*.parquet"))[0]
    os.remove(part)
    assert not ck.verify_snapshot("nums")
    out = ck.stage("nums", thunk)
    assert calls["n"] == 2
    assert out.count() == 100
    assert ck.verify_snapshot("nums")


def test_spark_submit_pyfiles_launcher():
    """north_rule packaging contract: the pipeline must actually run
    via `spark-submit --py-files amp.zip` (a thin launcher outside the
    package — the package module itself cannot be the app file because
    spark-submit executes it with no package context)."""
    import subprocess

    out = subprocess.run(
        ["bash", "scripts/submit.sh", "--master", "local[4]", "--", "--gen", "120"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    assert out.returncode == 0 and lines, out.stderr[-2000:]
    res = json.loads(lines[-1])
    assert res["records"] == 169 and res["clusters"] == 126


def test_snapshot_time_travel_and_rollback(spark, tmp_path_factory):
    """Per-write snapshot ids with read-at-snapshot: a second write of a
    stage creates a NEW version while the old version's files survive;
    read() serves the current pointer, read(snapshot=...) time-travels,
    rollback() moves the pointer back, expire_snapshots() GCs."""
    from amp.checkpoint import CheckpointManager

    root = str(tmp_path_factory.mktemp("tt_ck"))
    ck = CheckpointManager(spark, root, run_id=0)

    ck.write(spark.range(10).selectExpr("id", "id * 2 AS v"), "nums")
    v1 = ck.current_snapshot("nums")
    ck.write(spark.range(5).selectExpr("id", "id * 3 AS v"), "nums")
    v2 = ck.current_snapshot("nums")
    assert v1 != v2
    log = ck.snapshots("nums")
    assert [s["snapshot"] for s in log] == [v1, v2]
    assert log[0]["rows"] == 10 and log[1]["rows"] == 5

    # current read = v2; time-travel read = v1 (files retained)
    assert ck.read("nums").count() == 5
    old = ck.read("nums", snapshot=v1)
    assert old.count() == 10
    assert sorted(r["v"] for r in old.collect()) == [2 * i for i in range(10)]
    assert ck.verify_snapshot("nums")

    # rollback: pointer moves, verification tracks the old digest,
    # resume (stage) serves the OLD version without recompute
    ck.rollback("nums", v1)
    assert ck.current_snapshot("nums") == v1
    assert ck.verify_snapshot("nums")
    served = ck.stage("nums", lambda: (_ for _ in ()).throw(AssertionError("recompute")))
    assert served.count() == 10

    # expire: v2's files go away, v1 (current) survives
    expired = ck.expire_snapshots("nums", keep_last=1)
    assert expired == [v2]
    assert ck.read("nums").count() == 10
    assert [s["snapshot"] for s in ck.snapshots("nums")] == [v1]

    with pytest.raises(ValueError, match="no snapshot"):
        ck.rollback("nums", "999999")


def test_resume_from_older_snapshot_byte_identical_clusters(spark, tmp_path_factory):
    """SURVEY §1.2 closing test: checkpoint a full pipeline run, then
    overwrite an upstream stage (new snapshot), roll it back to the
    original snapshot, invalidate downstream stages, and resume — the
    final clusters are byte-identical to the first run."""
    import hashlib as _hashlib

    from amp.checkpoint import CheckpointManager
    from amp.datagen import gen_files
    from amp.pipeline import run_pipeline

    root = str(tmp_path_factory.mktemp("tt_pipe"))
    files = gen_files(spark, 120, partitions=8)

    def cluster_sha(out):
        rows = sorted(
            (r["record_id"], r["cluster_id"]) for r in out["clusters"].collect()
        )
        return _hashlib.sha256(str(rows).encode()).hexdigest()

    out1 = run_pipeline(spark, files, checkpoint_root=root)
    sha1 = cluster_sha(out1)

    ck = CheckpointManager(spark, root, run_id=0)
    v1 = ck.current_snapshot("records")
    # a divergent rewrite of the records stage (half the corpus) — the
    # newer snapshot that we will time-travel AWAY from
    ck.write(ck.read("records").limit(60), "records")
    assert ck.current_snapshot("records") != v1

    ck.rollback("records", v1)
    downstream = [
        "reps", "exact_edges", "sides", "pairs", "scored", "edges", "clusters",
    ]
    for st in downstream:
        ck.invalidate(st)
    out2 = run_pipeline(spark, files, checkpoint_root=root)
    assert cluster_sha(out2) == sha1


def test_write_after_expire_never_reuses_a_live_version_id(spark, tmp_path_factory):
    """Version ids must be max+1, not log-length+1: after
    expire_snapshots truncates the log, a length-derived id would REUSE
    a still-live version and dynamic-overwrite its retained data."""
    from amp.checkpoint import CheckpointManager

    root = str(tmp_path_factory.mktemp("vid_ck"))
    ck = CheckpointManager(spark, root, run_id=0)
    for n in (10, 20, 30):
        ck.write(spark.range(n).selectExpr("id"), "nums")
    v3 = ck.current_snapshot("nums")
    ck.expire_snapshots("nums", keep_last=2)  # drops v1, keeps v2+v3
    ck.write(spark.range(40).selectExpr("id"), "nums")
    v4 = ck.current_snapshot("nums")
    assert v4 != v3
    # the retained older version is intact, not silently overwritten
    assert ck.read("nums", snapshot=v3).count() == 30
    assert ck.read("nums").count() == 40
    ids = [s["snapshot"] for s in ck.snapshots("nums")]
    assert len(ids) == len(set(ids)), f"duplicate version ids in log: {ids}"


def test_legacy_flat_checkpoint_resumes_and_upgrades(spark, tmp_path_factory):
    """A checkpoint written by the pre-snapshot generation (flat
    run_id=<r>/ layout, manifest without snapshot_digest) must (a) be
    readable -- current_snapshot returns None so read() takes the flat
    branch instead of filtering on the nonexistent _v column -- and (b)
    survive an upgrade write: flat files migrate to _v=000000 instead of
    colliding with the new versioned dirs."""
    import json
    import os

    from amp.checkpoint import CheckpointManager

    root = str(tmp_path_factory.mktemp("legacy_ck"))
    ck = CheckpointManager(spark, root, run_id=0)
    # fabricate the legacy generation: flat partitioned write + manifest
    # carrying the old digest-in-snapshot shape
    spark.range(10).selectExpr("id", "0 AS run_id").write.mode("overwrite").partitionBy(
        "run_id"
    ).parquet(ck.table_path("nums"))
    with open(ck._manifest_path("nums"), "w") as fh:
        json.dump(
            {"run_id": 0, "stage": "nums", "rows": 10, "snapshot": "ab12cd34ef56ab78"},
            fh,
        )
    # (a) legacy resume: verify accepts, read takes the flat branch
    assert ck.verify_snapshot("nums")
    assert ck.current_snapshot("nums") is None
    assert ck.read("nums").count() == 10
    served = ck.stage("nums", lambda: (_ for _ in ()).throw(AssertionError("recompute")))
    assert served.count() == 10
    # (b) upgrade write: no partition-discovery collision, legacy data
    # preserved as version 000000
    ck.write(spark.range(25).selectExpr("id"), "nums")
    assert ck.read("nums").count() == 25
    assert ck.read("nums", snapshot="000000").count() == 10
    flat_leftovers = [
        n
        for n in os.listdir(os.path.join(ck.table_path("nums"), "run_id=0"))
        if not n.startswith("_v=")
    ]
    assert flat_leftovers == []

