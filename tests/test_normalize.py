"""Stage-1 invariants: content-addressed ids, the sha256 per-row
invariant, tokenization, representatives/exact-edges semantics."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from amp import normalize
from amp.config import DEFAULT_CONFIG as CFG


def test_content_sha_invariant(spark, small_corpus, pipeline_out):
    """BASELINE.json input_hint: sha256(content) equality preserved
    through every transform. Recompute with hashlib on the raw input and
    compare against what the pipeline carried."""
    files, _ = small_corpus
    raw = {
        (r["repo"], r["path"], r["commit"]): hashlib.sha256(
            r["content"].encode()
        ).hexdigest()
        for r in files.collect()
    }
    recs = pipeline_out["records"].select(
        "repo", "path", "commit", "content_sha"
    ).collect()
    assert len(recs) == len(raw)
    for r in recs:
        assert r["content_sha"] == raw[(r["repo"], r["path"], r["commit"])]


def test_record_id_matches_python_sha(spark):
    files = spark.createDataFrame(
        [("o/r", "src/a.py", "c" * 40, "py", "x = 1\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    rid = normalize.normalize(files, CFG).select("record_id").first()[0]
    expected = hashlib.sha256(
        "\x1f".join(("o/r", "src/a.py", "c" * 40)).encode()
    ).hexdigest()[: normalize.RECORD_ID_HEX]
    assert rid == expected
    # the JVM expression must agree byte-for-byte
    rid2 = (
        files.select(normalize.record_id_expr().alias("r")).first()[0]
    )
    assert rid2 == expected


def test_tokenize_strips_comments(spark):
    content = (
        "# line comment gone\n"
        "def Foo(bar):  // c-style gone too\n"
        "    /* block\n       comment */ return bar + 1\n"
    )
    files = spark.createDataFrame(
        [("o/r", "a.py", "c" * 40, "py", content)],
        "repo string, path string, commit string, lang string, content string",
    )
    row = normalize.normalize(files, CFG).select("norm_text", "stem", "basename").first()
    assert row["norm_text"].split(" ") == ["def", "foo", "bar", "return", "bar", "1"]
    assert row["basename"] == "a.py" and row["stem"] == "a"


def test_pandas_and_jvm_normalize_agree(spark, small_corpus):
    """The default Arrow kernel and the pure-Catalyst twin must produce
    identical rows (same regexes, same hashing)."""
    files, _ = small_corpus
    a = normalize.normalize(files.limit(50), CFG)
    b = normalize.normalize_jvm(files.limit(50), CFG)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_representatives_and_exact_edges(spark):
    rows = [
        ("o/a", "x.py", "1" * 40, "py", "same content"),
        ("o/b", "y.py", "2" * 40, "py", "same content"),
        ("o/c", "z.py", "3" * 40, "py", "same content"),
        ("o/d", "w.py", "4" * 40, "py", "unique content"),
    ]
    files = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    recs = normalize.normalize(files, CFG)
    reps = normalize.representatives(recs)
    assert reps.count() == 2  # one per distinct content
    edges = normalize.exact_edges(recs, reps).collect()
    # 3-way exact group -> 2 star edges to the min id, not 3 pairs
    assert len(edges) == 2
    ids = sorted(r["record_id"] for r in recs.where(
        F.col("content_sha") == F.sha2(F.lit("same content"), 256)
    ).collect())
    for e in edges:
        assert e["left_id"] == ids[0] and e["right_id"] in ids[1:]
