"""Blocking: recall over labeled pairs, pair generation equal to the
brute-force per-key pair set, frequency cap surfaced as metrics."""

from __future__ import annotations

import dataclasses

from pyspark.sql import functions as F

from amp import blocking, normalize, scoring
from amp.config import DEFAULT_CONFIG as CFG, AmpConfig


def test_blocking_recall_on_labeled_pairs(spark, small_corpus, pipeline_out):
    """Every labeled positive pair must be reachable: same content_sha
    (exact path) or co-blocked via representatives. This is the recall
    gate that makes F1>=0.99 possible downstream."""
    files, labels = small_corpus
    recs = pipeline_out["records"].select("record_id", "content_sha")
    # map each record to its representative (min record_id per sha)
    canon = recs.groupBy("content_sha").agg(F.min("record_id").alias("rep_id"))
    rec2rep = recs.join(canon, "content_sha").select("record_id", "rep_id")

    pos = labels.where(F.col("is_match"))
    with_reps = (
        pos.join(rec2rep.withColumnRenamed("record_id", "left_id").withColumnRenamed("rep_id", "l_rep"), "left_id")
        .join(rec2rep.withColumnRenamed("record_id", "right_id").withColumnRenamed("rep_id", "r_rep"), "right_id")
    )
    # exact-dup pairs: same representative -> covered by exact_edges
    need_block = with_reps.where(F.col("l_rep") != F.col("r_rep")).select(
        F.least("l_rep", "r_rep").alias("left_id"),
        F.greatest("l_rep", "r_rep").alias("right_id"),
    )
    pairs = pipeline_out["pairs"].select("left_id", "right_id")
    missed = need_block.join(pairs, ["left_id", "right_id"], "left_anti").count()
    assert missed == 0, f"{missed} labeled positive pairs not co-blocked"


def _per_key_pairs(rows, cap: int) -> set:
    """Brute-force ground truth: every left<right pair inside each key
    with 1 < size <= cap."""
    members: dict = {}
    for rid, key in rows:
        members.setdefault(key, set()).add(rid)
    want = set()
    for ms in members.values():
        if 1 < len(ms) <= cap:
            ms = sorted(ms)
            want.update(
                (ms[i], ms[j]) for i in range(len(ms)) for j in range(i + 1, len(ms))
            )
    return want


def test_salted_pairgen_equals_plain(spark):
    """A loose cap (1,000: the regime a salted self-join once served)
    still yields EXACTLY the per-key pair set — no loss, no dup."""
    rows = [(f"r{i:02d}", f"k{i % 3}") for i in range(30)]
    blocks = spark.createDataFrame(rows, "record_id string, block_key string").withColumn(
        "pass_name", F.lit("t")
    )
    cfg = dataclasses.replace(CFG, max_block_size=1000)
    got = {
        (r["left_id"], r["right_id"])
        for r in blocking.candidate_pairs(blocks, cfg).collect()
    }
    assert got == _per_key_pairs(rows, cap=1000)
    assert len(got) == 3 * (10 * 9 // 2)


def test_pair_shuffle_width_is_the_session_width(spark):
    """The pair table's explicit repartition takes its width from the
    session's spark.sql.shuffle.partitions, the one source of truth the
    callers size with session.shuffle_partitions_for."""
    rows = [(f"r{i:02d}", f"k{i % 3}") for i in range(30)]
    blocks = spark.createDataFrame(rows, "record_id string, block_key string").withColumn(
        "pass_name", F.lit("t")
    )
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert blocking.candidate_pairs(blocks, CFG).rdd.getNumPartitions() == width


def test_frequency_cap_counts_dropped_blocks(spark):
    rows = [(f"r{i:03d}", "hot" if i < 80 else f"cold{i % 5}") for i in range(100)]
    blocks = spark.createDataFrame(rows, "record_id string, block_key string").withColumn(
        "pass_name", F.lit("t")
    )
    cfg = dataclasses.replace(CFG, max_block_size=50)
    stats = blocking.block_stats(blocks)
    dropped = blocking.dropped_blocks(stats, cfg).collect()
    assert [(d["block_key"], d["block_size"]) for d in dropped] == [("hot", 80)]
    pairs = blocking.candidate_pairs(blocks, cfg)
    # no pair from the hot block
    hot_ids = {f"r{i:03d}" for i in range(80)}
    for r in pairs.collect():
        assert not (r["left_id"] in hot_ids and r["right_id"] in hot_ids)


def test_minhash_identical_content_same_bands(spark):
    files = spark.createDataFrame(
        [
            ("a", "x.py", "1" * 40, "py", "def f(x):\n    return x + 1\n" * 10),
            ("b", "y.go", "2" * 40, "go", "def f(x):\n    return x + 1\n" * 10),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    reps = normalize.normalize(files, CFG)
    sigs = scoring.side_features_onepass(reps, {}, CFG)
    s1, s2 = [r["sig"] for r in sigs.collect()]
    assert s1 == s2


def test_adversarial_skew_cap_salt_and_surfaced_drops(spark):
    """Adversarial mega-block corpus (license-boilerplate shape): every
    doc in group A shares all minhash bands -> one 200-member block that
    must be CAPPED (dropped from pair-gen, surfaced in dropped_blocks);
    group B (40 near-identical docs) is a large kept block, exploded in
    one task; group C is a plain small block. The emitted pair set must
    equal the per-key ground truth over kept blocks exactly."""
    from pyspark.sql import functions as F

    from amp import blocking
    from amp.config import DEFAULT_CONFIG as CFG

    boiler_a = " ".join(f"alpha{i}" for i in range(120))
    boiler_b = " ".join(f"beta{i}" for i in range(120))
    boiler_c = " ".join(f"gamma{i}" for i in range(120))
    rows = (
        [(f"a{i:04d}", boiler_a, "py", f"fa{i}") for i in range(200)]
        + [(f"b{i:04d}", boiler_b, "go", f"fb{i}") for i in range(40)]
        + [(f"c{i:04d}", boiler_c, "js", f"fc{i}") for i in range(10)]
    )
    reps = spark.createDataFrame(
        rows, "record_id string, norm_text string, lang string, stem string"
    )
    sigs = scoring.side_features_onepass(reps, {}, CFG).select("record_id", "sig")
    blocks = blocking.all_blocks(reps, sigs, CFG)
    stats = blocking.block_stats(blocks).cache()

    # the mega-block exists and the cap catches it — never silently
    assert stats.agg(F.max("block_size")).collect()[0][0] >= 200
    dropped = blocking.dropped_blocks(stats, CFG).collect()
    assert dropped and all(r["block_size"] > CFG.max_block_size for r in dropped)

    want = _per_key_pairs(
        [(r["record_id"], r["block_key"]) for r in blocks.collect()],
        cap=CFG.max_block_size,
    )
    got = {
        (r["left_id"], r["right_id"])
        for r in blocking.candidate_pairs(blocks, CFG).collect()
    }
    assert got == want
    # capped group contributes nothing; group B fully paired
    assert not any(l.startswith("a") for l, _ in got)
    assert sum(1 for l, r in got if l.startswith("b") and r.startswith("b")) == 40 * 39 // 2


def test_grouped_pairgen_hot_key_dropped_and_equals_salted(spark):
    """The hot-key guard: a key above the cap is dropped BEFORE its
    member array is collected, and the surviving pair set equals the
    brute-force per-key pairs exactly."""
    rows = [(f"h{i:03d}", "hot") for i in range(500)]  # one degenerate key
    rows += [(f"r{i:02d}", f"k{i % 4}") for i in range(40)]  # healthy keys
    blocks = spark.createDataFrame(
        rows, "record_id string, block_key string"
    ).withColumn("pass_name", F.lit("t"))
    cap = 64
    cfg = dataclasses.replace(CFG, max_block_size=cap)
    got = {
        (r["left_id"], r["right_id"])
        for r in blocking.candidate_pairs(blocks, cfg).collect()
    }
    assert got == _per_key_pairs(rows, cap=cap)
    assert len(got) == 4 * (10 * 9 // 2)
    assert not any(l.startswith("h") for l, _ in got)


def test_block_key_arrays_explode_to_all_blocks(spark):
    """The served match's key projection holds, per side row, exactly
    the all_blocks rows of that row — also for content with fewer
    tokens than shingle_k, empty content and a null lang."""
    from collections import Counter

    import pandas as pd

    rows = [
        ("r/a", "src/main.py", "a" * 40, "python", "def f(x):\n    return x + 1\n" * 3),
        ("r/b", "src/main.py", "b" * 40, None, "def f(x):\n    return x + 1\n" * 3),
        ("r/c", "lib/util.rs", "c" * 40, "rust", "fn a"),
        ("r/d", "lib/util.rs", "d" * 40, None, ""),
    ]
    files = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    sides = spark.createDataFrame(
        scoring.query_side_rows(files, {}, CFG), scoring.SIDE_SCHEMA
    )
    assert len("fn a".split()) < CFG.shingle_k
    got = Counter(
        (r["record_id"], k)
        for r in blocking.block_key_arrays(sides, CFG).collect()
        for k in r["block_keys"]
    )
    want = Counter(
        (r["record_id"], r["block_key"])
        for r in blocking.all_blocks(sides, sides, CFG).collect()
    )
    assert got == want
