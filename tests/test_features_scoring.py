"""TF-IDF formulas against hand-computed values; Jaro-Winkler against
DuckDB's implementation (which the oracle comparisons rely on)."""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from amp import features
from amp.scoring import jaro_winkler


def test_doc_tfidf_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry cherry date")],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["token"]): r["tfidf"]
        for r in features.doc_tfidf(docs).collect()
    }
    # doc1: apple tf=2/3, df(apple)=1, idf=ln(3/1)
    assert rows[(1, "apple")] == pytest.approx(round(2 / 3 * math.log(3), 6))
    # banana appears in docs 1,2 -> idf=ln(3/2)
    assert rows[(1, "banana")] == pytest.approx(round(1 / 3 * math.log(1.5), 6))
    assert rows[(2, "banana")] == pytest.approx(round(1 / 2 * math.log(1.5), 6))
    # cherry in doc3: tf=2/3, idf=ln(3/2)
    assert rows[(3, "cherry")] == pytest.approx(round(2 / 3 * math.log(1.5), 6))


def test_pair_dot_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana cherry")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "left_id long, right_id long")
    dot = features.doc_pair_dot(docs, pairs).collect()[0]["tfidf_dot"]
    # shared token: banana, tf=1/2 each, idf=ln(2/2)=0 -> dot 0
    assert dot == 0.0


def test_idf_unsmoothed_missing_token_zero(spark):
    """Reference parity: idf = ln(N/df) with no smoothing; a token in
    every doc weighs exactly 0 (make_tf_idf.go:66-72)."""
    docs = spark.createDataFrame(
        [(1, "common alpha"), (2, "common beta")], "doc_id long, text string"
    )
    rows = {
        (r["doc_id"], r["token"]): r["tfidf"]
        for r in features.doc_tfidf(docs).collect()
    }
    assert rows[(1, "common")] == 0.0 and rows[(2, "common")] == 0.0


def test_idf_map_vocabulary_limit_raises(spark, monkeypatch):
    """A vocabulary past the broadcast limit fails loudly, naming its
    size and the limit."""
    reps = spark.createDataFrame(
        [("alpha beta", "a.py"), ("beta gamma", "b.py")],
        "norm_text string, basename string",
    )
    monkeypatch.setattr(features, "IDF_MAP_MAX_VOCAB", 1)
    with pytest.raises(ValueError, match=r"vocabulary has \d+ token hashes, above the 1-hash"):
        features.idf_map(reps, 2)


@pytest.mark.parametrize(
    "a,b,expected",
    [
        ("martha", "marhta", 0.9611111111111111),
        ("dixon", "dicksonx", 0.8133333333333332),
        ("aaxcdefg", "aaqrstuv", 0.5),        # below boost threshold: no prefix bonus
        ("ab", "ab", 1.0),
        ("a", "b", 0.0),
        ("", "abc", 0.0),
    ],
)
def test_jaro_winkler_golden(a, b, expected):
    assert jaro_winkler(a, b) == pytest.approx(expected, abs=1e-12)


@settings(max_examples=60, deadline=None)
@given(
    st.text(alphabet="abcdefg_0123", min_size=0, max_size=12),
    st.text(alphabet="abcdefg_0123", min_size=0, max_size=12),
)
def test_jaro_winkler_matches_duckdb(a, b):
    got = jaro_winkler(a, b)
    want = duckdb.sql(
        "select jaro_winkler_similarity(?, ?)", params=[a, b]
    ).fetchone()[0]
    assert got == pytest.approx(want, abs=1e-12)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdefgh_0123.", min_size=0, max_size=14),
            st.text(alphabet="abcdefgh_0123.", min_size=0, max_size=14),
        ),
        min_size=0,
        max_size=40,
    )
)
def test_stem_sims_batch_bit_exact_vs_scalar(pairs):
    """The batch-vectorized scorer kernel must reproduce the scalar
    jaro_winkler/levenshtein BIT-FOR-BIT (same IEEE operation order) —
    it replaces them in the hot path, and the oracle hash comparison
    tolerates zero drift."""
    from amp.scoring import levenshtein, stem_sims_batch

    ls = [a for a, _ in pairs]
    rs = [b for _, b in pairs]
    jw_b, lev_b = stem_sims_batch(ls, rs)
    for i, (a, b) in enumerate(pairs):
        assert jw_b[i] == jaro_winkler(a, b), (a, b)
        m = max(len(a), len(b), 1)
        assert lev_b[i] == 1.0 - levenshtein(a, b) / m, (a, b)


def test_stem_sims_batch_known_values_and_duplicates():
    from amp.scoring import stem_sims_batch

    ls = ["martha", "dixon", "", "utils", "utils", None]
    rs = ["marhta", "dicksonx", "abc", "utils", "util", "x"]
    jw, lev = stem_sims_batch(ls, rs)
    assert jw[0] == pytest.approx(0.9611111111111111, abs=1e-12)
    assert jw[1] == pytest.approx(0.8133333333333332, abs=1e-12)
    assert jw[2] == 0.0 and lev[2] == 0.0
    assert jw[3] == 1.0 and lev[3] == 1.0
    assert lev[4] == pytest.approx(1.0 - 1 / 5)
    assert jw[5] == 0.0  # None coerced to ""


def _scalar_tfblob_dots(l_blobs, r_blobs):
    """The pre-vectorization per-pair loop, kept verbatim as the spec
    for tfblob_dots_batch (bit-exact twin requirement)."""
    import numpy as np

    from amp.scoring import unpack_tfblob

    dots, coss = [], []
    for lb, rb in zip(l_blobs, r_blobs):
        lh, lq, lsc, ln_ = unpack_tfblob(lb)
        rh, rq, rsc, rn_ = unpack_tfblob(rb)
        if len(lh) and len(rh):
            pos = np.searchsorted(lh, rh)
            pos_c = np.minimum(pos, len(lh) - 1)
            mask = lh[pos_c] == rh
            if mask.any():
                d = float(
                    np.dot(
                        lq[pos_c[mask]].astype(np.float64),
                        rq[mask].astype(np.float64),
                    )
                ) * lsc * rsc
            else:
                d = 0.0
        else:
            d = 0.0
        dots.append(d)
        denom = ln_ * rn_
        coss.append(d / denom if denom > 0 else 0.0)
    return dots, coss


_blob_strategy = st.lists(
    st.tuples(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        # exact zeros + well-scaled weights (a subnormal wmax overflows
        # pack_tfblob's fixed-point scale — not reachable from real
        # tf-idf weights, so keep the strategy in the supported domain)
        st.one_of(
            st.just(0.0), st.floats(min_value=1e-3, max_value=10.0)
        ),
    ),
    min_size=0,
    max_size=12,
)


def _build_blob(entries):
    import numpy as np

    from amp.scoring import pack_tfblob

    if not entries:
        return pack_tfblob(np.zeros(0, dtype=np.int32), np.zeros(0))
    hashes = np.unique(np.array([h for h, _ in entries], dtype=np.int32))
    ws = np.array([w for _, w in entries][: len(hashes)], dtype=np.float64)
    if len(ws) < len(hashes):
        ws = np.pad(ws, (0, len(hashes) - len(ws)), constant_values=1.0)
    return pack_tfblob(hashes, ws)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(_blob_strategy, min_size=1, max_size=6),
    st.data(),
)
def test_tfblob_dots_batch_bit_exact_vs_scalar(blob_specs, data):
    """The vectorized composite-key searchsorted intersection must
    reproduce the scalar per-pair loop BIT-FOR-BIT: weight products are
    int16*int16 sums exactly representable in float64, so any drift is
    a logic bug, and the er_pipeline oracle hash tolerates zero."""
    import pandas as pd

    from amp.scoring import tfblob_dots_batch

    blobs = [_build_blob(s) for s in blob_specs]
    n_pairs = data.draw(st.integers(min_value=0, max_value=25))
    idx = st.integers(min_value=0, max_value=len(blobs) - 1)
    l_sel = [blobs[data.draw(idx)] for _ in range(n_pairs)]
    r_sel = [blobs[data.draw(idx)] for _ in range(n_pairs)]
    dots_b, coss_b = tfblob_dots_batch(pd.Series(l_sel), pd.Series(r_sel))
    dots_s, coss_s = _scalar_tfblob_dots(l_sel, r_sel)
    assert list(dots_b) == dots_s
    assert list(coss_b) == coss_s


def test_tfblob_dots_batch_chunked_and_null_guard(monkeypatch):
    """The memory-capped chunking path must produce identical results,
    and a null blob (outer-join feed) must raise instead of silently
    scoring another record's features (ADVICE r4)."""
    import numpy as np
    import pandas as pd

    import amp.scoring as scoring

    rng = np.random.RandomState(7)
    blobs = []
    for _ in range(8):
        k = rng.randint(0, 30)
        hashes = np.unique(rng.randint(-(2**31), 2**31 - 1, size=k).astype(np.int32))
        blobs.append(scoring.pack_tfblob(hashes, rng.rand(len(hashes)) * 5))
    l = pd.Series([blobs[rng.randint(0, 8)] for _ in range(200)])
    r = pd.Series([blobs[rng.randint(0, 8)] for _ in range(200)])
    d0, c0 = scoring.tfblob_dots_batch(l, r)
    monkeypatch.setattr(scoring, "_TFDOT_CHUNK_ELEMS", 7)
    d1, c1 = scoring.tfblob_dots_batch(l, r)
    assert list(d0) == list(d1) and list(c0) == list(c1)
    ds, cs = _scalar_tfblob_dots(list(l), list(r))
    assert list(d0) == ds and list(c0) == cs
    with pytest.raises(ValueError, match="null tfblob"):
        scoring.tfblob_dots_batch(pd.Series([blobs[0], None]), pd.Series([blobs[1], blobs[2]]))


def test_embeddings_unit_norm_and_deterministic(spark):
    """The one-pass kernel's int8 hashing-trick embedding: identical text
    embeds identically, empty text is all zeros, and the dequantized
    vector (emb / 127) is unit-norm within int8 rounding."""
    import amp.scoring as scoring
    from amp.config import DEFAULT_CONFIG as CFG

    reps = spark.createDataFrame(
        [("r1", "def foo bar"), ("r2", "def foo bar"), ("r3", "")],
        "record_id string, norm_text string",
    ).select("record_id", "norm_text", F.lit("f").alias("stem"), F.lit("py").alias("lang"))
    rows = {
        r["record_id"]: r["embedding"]
        for r in scoring.side_features_onepass(reps, {}, CFG).collect()
    }
    assert rows["r1"] == rows["r2"]
    assert len(rows["r1"]) == CFG.emb_dim
    norm = math.sqrt(sum((x / 127.0) ** 2 for x in rows["r1"]))
    # each nonzero component rounds by at most 0.5/127
    assert norm == pytest.approx(1.0, abs=1e-2)
    assert all(x == 0 for x in rows["r3"])


def test_query_side_features_equals_normalize_then_sides(spark, small_corpus):
    """Two paths, one answer: the fused query featurizer (normalize and
    side kernels in one Python pass) emits exactly the rows of
    side_features_onepass(normalize(files)) — on the corpus and on
    crafted rows: empty content, content that normalizes to nothing,
    fewer tokens than shingle_k, duplicate contents in one batch and a
    null lang. The same kernel run in the driver over a pandas frame
    (query_side_rows, with the IDF dict) emits the same bytes."""
    import amp.scoring as scoring
    from amp import normalize
    from amp.config import DEFAULT_CONFIG as CFG

    files, _ = small_corpus
    dup = "def add(a, b):\n    return a + b\n"
    crafted = spark.createDataFrame(
        [
            ("crafted/a", "src/empty.py", "c1", "py", ""),
            ("crafted/a", "src/comment.py", "c1", "py", "# nothing but a comment\n"),
            ("crafted/a", "src/short.go", "c1", "go", "x := 1"),
            ("crafted/b", "src/dup.py", "c2", "py", dup),
            ("crafted/c", "lib/dup.py", "c3", "py", dup),
            ("crafted/d", "notes/readme", "c4", None, "plain words, no lang"),
        ],
        "repo string, path string, commit string, lang string, content string",
    ).coalesce(1)  # one partition: every crafted row in one Arrow batch
    q = files.unionByName(crafted)
    records = normalize.normalize(q, CFG, run_id=3)
    n_tokens = {r["path"]: r["n_tokens"] for r in records.where(
        F.col("repo").startswith("crafted/")).collect()}
    assert n_tokens["src/empty.py"] == n_tokens["src/comment.py"] == 0
    assert 0 < n_tokens["src/short.go"] < CFG.shingle_k
    idf = features.idf_map(records, records.count(), CFG)

    def rows(df):
        return sorted(
            (r["record_id"], r["stem"], r["lang"], tuple(r["sig"]),
             tuple(r["embedding"]), bytes(r["tfblob"]))
            for r in df.collect()
        )

    fused = rows(scoring.query_side_features(q, idf, CFG, run_id=3))
    two_pass = rows(scoring.side_features_onepass(records, idf, CFG))
    assert len(fused) == q.count()
    assert fused == two_pass
    in_driver = scoring.query_side_rows(q.toPandas(), idf, CFG, run_id=3)
    assert sorted(
        (r.record_id, r.stem, r.lang, tuple(int(x) for x in r.sig),
         tuple(int(x) for x in r.embedding), bytes(r.tfblob))
        for r in in_driver.itertuples()
    ) == fused
    assert any(r[2] is None for r in fused)  # the null lang survives
    # the handle form featurizes like the dict it broadcasts
    idf_b = spark.sparkContext.broadcast(idf)
    assert rows(scoring.query_side_features(crafted, idf_b, CFG, run_id=3)) == rows(
        scoring.side_features_onepass(normalize.normalize(crafted, CFG, 3), idf, CFG)
    )


# ---------------------------------------------------------------------------
# round-6 pair-dot kernels: equivalence against the old join formulation
# ---------------------------------------------------------------------------

def _join_reference_dot(docs, pairs):
    """The pre-round-6 postings-join formulation of doc_pair_dot — kept
    here as the executable spec the vectorized kernels must match."""
    post = features.doc_tfidf(docs)
    pl = post.select(
        F.col("doc_id").alias("left_id"), "token", F.col("tfidf").alias("lt")
    )
    pr = post.select(
        F.col("doc_id").alias("right_id"), "token", F.col("tfidf").alias("rt")
    )
    return (
        pairs.join(pl, "left_id")
        .join(pr, ["right_id", "token"])
        .groupBy("left_id", "right_id")
        .agg(F.round(F.sum(F.col("lt") * F.col("rt")), 6).alias("tfidf_dot"))
    )


def _random_docs(spark, n=60, vocab=12, seed=3):
    import random

    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    rows = []
    for i in range(n):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(0, 9)))
        rows.append((i, text, f"g{rng.randint(0, 2)}", f"s{rng.randint(0, 1)}"))
    # a doc with no tokens at all and one with a null group key
    rows.append((n, "", "g0", "s0"))
    rows.append((n + 1, "w0 w1", None, "s0"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_doc_pair_dot_kernel_matches_join_reference(spark):
    docs = _random_docs(spark)
    l = docs.select(F.col("doc_id").alias("left_id"), "lang", "source")
    r = docs.select(F.col("doc_id").alias("right_id"), "lang", "source")
    pairs = (
        l.join(r, ["lang", "source"])
        .where(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
    )
    got = {
        (x["left_id"], x["right_id"]): x["tfidf_dot"]
        for x in features.doc_pair_dot(docs, pairs).collect()
    }
    want = {
        (x["left_id"], x["right_id"]): x["tfidf_dot"]
        for x in _join_reference_dot(docs, pairs).collect()
    }
    assert got == want and len(got) > 20


def test_doc_pair_dot_grouped_equals_pairwise(spark):
    docs = _random_docs(spark)
    l = docs.select(F.col("doc_id").alias("left_id"), "lang", "source")
    r = docs.select(F.col("doc_id").alias("right_id"), "lang", "source")
    pairs = (
        l.join(r, ["lang", "source"])
        .where(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
    )
    want = {
        (x["left_id"], x["right_id"]): x["tfidf_dot"]
        for x in _join_reference_dot(docs, pairs).collect()
    }
    # tile_target=4 forces multi-tile groups (cross-tile + same-tile
    # kernel paths both exercised); chunk_elems=17 forces the chunked
    # code-axis loop and dense_elems=0 disables the GEMM fast path so
    # the open-vocabulary fallback stays covered
    got = {
        (x["left_id"], x["right_id"]): x["tfidf_dot"]
        for x in features.doc_pair_dot_grouped(
            docs, ["lang", "source"], tile_target=4, chunk_elems=17,
            dense_elems=0,
        ).collect()
    }
    assert got == want and len(got) > 20
    # the dense-GEMM fast path (default gate) must produce the same
    # rounded dots over the same pair set
    got_gemm = {
        (x["left_id"], x["right_id"]): x["tfidf_dot"]
        for x in features.doc_pair_dot_grouped(
            docs, ["lang", "source"], tile_target=4
        ).collect()
    }
    assert got_gemm == want
