"""Corpus-curation operators: deterministic sampling + composed verdict."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amp import curate


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(200):
        lang = ["en", "de"][i % 2]
        src = ["web", "repo"][(i // 2) % 2]
        text = ("the and of to is " * 20) if lang == "en" else ("der und die ist nicht " * 20)
        rows.append((i, text + f" unique{i}", lang, src, len(text)))
    # a near-dup pair: 200 is a copy of 0 with one token changed
    base = ("the and of to is " * 20) + " unique0"
    rows.append((200, base.replace("unique0", "unique0 extra"), "en", "web", len(base)))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_sample_fraction_deterministic_and_proportional(spark, docs):
    a = {r["doc_id"] for r in curate.sample_fraction(docs, 0.3).select("doc_id").collect()}
    b = {r["doc_id"] for r in curate.sample_fraction(docs, 0.3).select("doc_id").collect()}
    assert a == b
    assert 0.15 * 201 < len(a) < 0.45 * 201  # loose band, exact set is pinned anyway
    # monotone: a smaller fraction is a subset of a larger one (same salt)
    small = {r["doc_id"] for r in curate.sample_fraction(docs, 0.1).select("doc_id").collect()}
    assert small <= a
    # different salts are different draws
    c = {r["doc_id"] for r in curate.sample_fraction(docs, 0.3, salt=7).select("doc_id").collect()}
    assert c != a


def test_sample_fraction_bounds():
    with pytest.raises(ValueError):
        curate.fraction_threshold_hex(1.5)
    assert curate.fraction_threshold_hex(0.25) == "40000000"
    assert curate.fraction_threshold_hex(0.0) == "00000000"


def test_stratified_topn_exact_per_stratum(spark, docs):
    out = curate.stratified_topn(docs, ["lang", "source"], 7)
    per = {(r["lang"], r["source"]): r["n"] for r in out.groupBy("lang", "source").agg(F.count("*").alias("n")).collect()}
    assert all(n == 7 for n in per.values()) and len(per) == 4
    ranks = [r["sample_rank"] for r in out.collect()]
    assert max(ranks) == 7 and min(ranks) == 1
    # deterministic across runs
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in curate.stratified_topn(docs, ["lang", "source"], 7).collect())
    assert a == b


def test_curate_verdicts(spark, docs):
    out = {r["doc_id"]: r for r in curate.curate(docs, min_quality=0.2, keep_langs=("en",)).collect()}
    assert len(out) == 201  # one verdict row per input, nothing dropped
    # the near-dup copy (higher id) drops; its canonical keeps
    assert out[200]["is_near_dup"] is True and out[200]["keep"] is False
    assert out[0]["is_near_dup"] is False
    assert out[0]["pred_lang"] == "en" and out[0]["keep"] is True
    # german docs rejected by language regardless of quality
    assert out[1]["pred_lang"] == "de" and out[1]["keep"] is False


def test_near_dup_clusters_transitive_chain(spark):
    from amp import dedup

    # a-b and b-c are near-dups (one token differs); a-c differs by two
    # tokens but must land in ONE cluster via transitivity
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [
        (1, base + "tail one two"),
        (2, base + "tail one three"),
        (3, base + "tail four three"),
        (10, "completely different text about nothing shared at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.near_dup_clusters(docs, jaccard_threshold=0.8).collect()}
    assert len(out) == 4  # one row per input
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
    assert out[10]["cluster_id"] == 10  # singleton self-labeled
    # canonical = min member id, exactly one per cluster
    assert out[1]["is_canonical"] and out[10]["is_canonical"]
    assert not out[2]["is_canonical"] and not out[3]["is_canonical"]


def test_substring_duplicates_alignment_free(spark):
    import random

    from amp import dedup

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]

    def words(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    span = words(200)        # long shared span -> sampling miss prob ~1e-5
    short_overlap = words(20)  # below the 32-token window
    rows = [
        (1, words(15) + " " + span + " " + words(40)),   # span at offset 15
        (2, words(33) + " " + span + " " + words(5)),    # span at offset 33
        (3, words(60) + " " + short_overlap + " " + words(30)),
        (4, words(10) + " " + short_overlap + " " + words(80)),
        (5, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["left_id"], r["right_id"]): r["n_shared_windows"]
           for r in dedup.substring_duplicates(docs, window=32).collect()}
    # the misaligned 200-token exact span is found; sub-window
    # overlap and unrelated docs are not
    assert set(out) == {(1, 2)}, out
    assert out[(1, 2)] >= 1


def test_substring_contamination_train_vs_eval(spark):
    import random

    from amp import dedup

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(500)]

    def words(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    eval_span = words(150)
    train = spark.createDataFrame(
        [
            (1, words(20) + " " + eval_span + " " + words(30)),  # contaminated
            (2, words(200)),                                      # clean
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, eval_span), (101, words(100))], "doc_id long, text string"
    )
    out = dedup.substring_contamination(train, eval_docs, window=32).collect()
    hits = {(r["train_id"], r["eval_id"]) for r in out}
    assert hits == {(1, 100)}


def test_sample_fraction_one_keeps_every_row(spark, docs):
    assert curate.sample_fraction(docs, 1.0).count() == docs.count()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        curate.sample_fraction(docs, 1.5)


def test_pack_documents_manifest_invariants(spark, docs):
    out = curate.pack_documents(docs, budget=64, n_shards=4)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == docs.count()
    for r in rows.values():
        assert r["shard"] == r["doc_id"] % 4
        assert 0 <= r["start_offset"] < 64
        assert r["first_pack"] <= r["last_pack"]
        assert r["pack_id"] == r["shard"] * 2**32 + r["first_pack"]
    # per-shard reconstruction: concatenating docs in doc_id order must
    # lay tokens contiguously — each doc starts where the previous ended
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in rows.values():
        by_shard[r["shard"]].append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        pos = 0
        for r in rs:
            assert r["first_pack"] * 64 + r["start_offset"] == pos, (shard, r)
            pos += r["n_tokens"]
            if r["n_tokens"] > 0:
                assert r["last_pack"] == (pos - 1) // 64
    # deterministic under repartitioning (retry/resume safety)
    again = {
        r["doc_id"]: tuple(r)
        for r in curate.pack_documents(docs.repartition(13), budget=64, n_shards=4).collect()
    }
    assert again == {k: tuple(v) for k, v in rows.items()}


def test_pack_documents_straddles_boundary(spark):
    # 4 docs of 40 tokens each in one shard, budget 64: doc 0 fits in
    # pack 0; doc 4 straddles packs 0->1; doc 8 sits inside pack 1
    # (tokens 80..119); doc 12 straddles 1->2 (tokens 120..159)
    docs3 = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(40))) for i in (0, 4, 8, 12)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curate.pack_documents(docs3, budget=64, n_shards=4).collect()}
    assert (out[0]["first_pack"], out[0]["last_pack"], out[0]["start_offset"]) == (0, 0, 0)
    assert (out[4]["first_pack"], out[4]["last_pack"], out[4]["start_offset"]) == (0, 1, 40)
    assert (out[8]["first_pack"], out[8]["last_pack"], out[8]["start_offset"]) == (1, 1, 16)
    assert (out[12]["first_pack"], out[12]["last_pack"], out[12]["start_offset"]) == (1, 2, 56)

    with pytest.raises(ValueError):
        curate.pack_documents(docs3, budget=0)


def test_mixture_sample_waterfilling(spark, docs):
    # docs: ~100 en/web, ~50 each of other strata by construction; use
    # source (web/repo, ~100/101 docs each incl. doc 200)
    out = curate.mixture_sample(docs, {"web": 0.75, "repo": 0.25})
    per = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n_web = docs.where(F.col("source") == "web").count()
    n_repo = docs.where(F.col("source") == "repo").count()
    # web binds (n/w smallest): kept in full; repo downsampled to
    # ~ T*0.25 = n_web/3 by a Bernoulli draw
    assert per["web"] == n_web
    assert per["repo"] < n_repo
    # invariant to weight scaling
    scaled = curate.mixture_sample(docs, {"web": 3.0, "repo": 1.0})
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in scaled.collect())
    assert a == b
    # deterministic under repartitioning
    c = sorted(
        r["doc_id"]
        for r in curate.mixture_sample(docs.repartition(9), {"web": 0.75, "repo": 0.25}).collect()
    )
    assert a == c
    # input columns named like the threshold table's pass through intact
    clash = docs.withColumn("_f", F.col("doc_id") * 0.5).withColumn(
        "_thresh", F.lit("mine")
    )
    kept = curate.mixture_sample(clash, {"web": 0.75, "repo": 0.25})
    assert set(kept.columns) == set(clash.columns)
    rows = kept.collect()
    assert sorted(r["doc_id"] for r in rows) == a
    assert all(r["_f"] == r["doc_id"] * 0.5 and r["_thresh"] == "mine" for r in rows)
    # unknown sources dropped; bad weights rejected
    only_web = curate.mixture_sample(docs, {"web": 1.0})
    assert only_web.where(F.col("source") == "repo").count() == 0
    assert only_web.count() == n_web
    with pytest.raises(ValueError):
        curate.mixture_sample(docs, {})
    with pytest.raises(ValueError):
        curate.mixture_sample(docs, {"web": 0.0})


def test_mixture_sample_absent_source_excluded_from_waterfill(spark, docs):
    # a weighted source with zero rows must not bind T (it is simply
    # absent from the counts join): web/repo behave exactly as if the
    # phantom weight were never given, modulo the weight rescaling
    # invariance already proven above
    out = curate.mixture_sample(docs, {"web": 0.75, "repo": 0.25, "phantom": 0.5})
    base = curate.mixture_sample(docs, {"web": 0.75, "repo": 0.25})
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in base.collect()
    )
