"""End-to-end gates: pairwise F1 >= 0.99 (BASELINE.json), per-class
recall, resume-equals-fresh, datagen determinism."""

from __future__ import annotations

import glob
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


def test_checkpointed_run_with_empty_stages_resumes(spark, tmp_path_factory):
    """Three unrelated files give no exact edges, no candidate pairs and
    no scored edges: those stages checkpoint zero rows. The checkpointed
    run must still equal the in-memory run, and a second call must serve
    every stage from its checkpoint (no stage writes a second version)."""
    from amp.pipeline import run_pipeline

    files = spark.createDataFrame(
        [
            ("a/alpha", "src/parser.py", "1" * 40, "python",
             "def parse_tokens(stream):\n    return [t.strip() for t in stream]\n"),
            ("b/beta", "lib/Render.java", "2" * 40, "java",
             "class Render { void paint(Canvas c) { c.fill(0xff00ff); } }\n"),
            ("c/gamma", "cmd/serve.go", "3" * 40, "go",
             "func main() { http.ListenAndServe(\":8080\", nil) }\n"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )

    def assignments(out):
        return sorted(tuple(r) for r in out["clusters"].select(
            "record_id", "cluster_id").collect())

    mem = assignments(run_pipeline(spark, files))
    assert len({c for _, c in mem}) == 3
    root = str(tmp_path_factory.mktemp("ck_empty"))
    assert assignments(run_pipeline(spark, files, checkpoint_root=root)) == mem
    assert assignments(run_pipeline(spark, files, checkpoint_root=root)) == mem
    logs = sorted(glob.glob(os.path.join(root, "_manifest", "*.snapshots.jsonl")))
    assert len(logs) == 8
    for p in logs:
        with open(p) as fh:
            assert len(fh.read().splitlines()) == 1, p


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
    with open(os.path.join(root, "_manifest", "run0_nums.json")) as fh:
        man = json.load(fh)
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
