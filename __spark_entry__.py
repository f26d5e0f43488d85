"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: the full entity-resolution pipeline
                (normalize -> multi-pass blocking -> tf-idf features ->
                pair scoring -> connected components) on a deterministic
                synthetic repo-files corpus; returns cluster summaries.
queries()     — one entry per implemented operator (SURVEY.md §2 +
                training-data ops), each (spark, sf_dir) -> DataFrame.
oracle_sql()  — bit-matching DuckDB ANSI-SQL twins. Every computed
                column is aliased identically on both sides, doubles are
                rounded to 6 places on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amp import ann, dedup, features, text
from amp.text import BPE_ISH_RE, LANG_MARKERS, PII_PATTERNS, TOKEN_SPLIT_RE

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB)
# ---------------------------------------------------------------------------

_TOKS_CTE = (
    "toks AS (SELECT doc_id, t.token FROM documents, "
    "UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
    "x -> x <> '')) AS t(token))"
)
_DTOKS_CTE = "dtoks AS (SELECT DISTINCT doc_id, token FROM toks)"

_BLOCK_PAIRS_SQL = """
SELECT l.doc_id AS left_id, r.doc_id AS right_id
FROM documents l JOIN documents r
  ON l.lang = r.lang AND (l.n_chars // 100) = (r.n_chars // 100)
 AND l.doc_id < r.doc_id
UNION
SELECT l.doc_id AS left_id, r.doc_id AS right_id
FROM documents l JOIN documents r
  ON l.lang = r.lang AND l.source = r.source AND l.doc_id < r.doc_id
"""

_SRC_PAIRS_SQL = """
SELECT l.doc_id AS left_id, r.doc_id AS right_id
FROM documents l JOIN documents r
  ON l.lang = r.lang AND l.source = r.source AND l.doc_id < r.doc_id
"""

_TFIDF_CTES = f"""
WITH {_TOKS_CTE},
counts AS (SELECT doc_id, token, count(*) AS c FROM toks GROUP BY 1, 2),
doclen AS (SELECT doc_id, sum(c) AS n FROM counts GROUP BY 1),
dftbl AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
ndocs AS (SELECT count(*) AS n_docs FROM documents),
post AS (
  SELECT counts.doc_id, counts.token,
         round((counts.c / doclen.n) * ln(ndocs.n_docs / dftbl.df), 6) AS tfidf
  FROM counts JOIN doclen USING (doc_id) JOIN dftbl USING (token), ndocs
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _block_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 rewrite: OR-of-equalities blocking as a union of equi-join
    passes (never a nested-loop join).

    Round-6 shape: the passes are made DISJOINT instead of distinct'd.
    Each pass is internally duplicate-free (a pair has one lang/szb/
    source, so each equi-join emits it at most once), and a pass-b pair
    is also a pass-a pair exactly when the two size buckets match — so
    filtering pass b to bucket-mismatched pairs makes the UNION ALL
    equal the old UNION DISTINCT as a set, and the quadratic-sized
    Exchange + HashAggregate the distinct needed (the whole cost of
    this query at the driver's sf=1.0: ~150M shuffled rows, 87 s)
    disappears — the plan is two broadcast joins and no Exchange at
    all (guide §2.4, remove shuffles outright). The null guard keeps
    the original semantics for null buckets: equality-join pass a drops
    them, so they must stay in pass b unconditionally."""
    from amp.session import spread_to_cores

    d = _docs(spark, sf_dir)
    # probe-side spread: the quadratic pair enumeration runs one task
    # per probe partition, and the local corpus scans at ~12 row-group
    # splits — spread the (tiny) probe rows so enumeration uses every
    # core; no-op when the scan is already wide
    l = spread_to_cores(
        d.select(
            F.col("doc_id").alias("left_id"),
            "lang",
            "source",
            F.floor(F.col("n_chars") / 100).alias("szb_l"),
        )
    )
    r = d.select(
        F.col("doc_id").alias("right_id"),
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100).alias("szb_r"),
    )
    pass_a = (
        l.withColumnRenamed("szb_l", "szb")
        .join(r.withColumnRenamed("szb_r", "szb"), ["lang", "szb"])
        .where(F.col("left_id") < F.col("right_id"))
    )
    pass_b_only = (
        l.join(r, ["lang", "source"])
        .where(F.col("left_id") < F.col("right_id"))
        # NOT in pass a == buckets differ or either bucket is null
        .where(F.coalesce(F.col("szb_l") != F.col("szb_r"), F.lit(True)))
    )
    return pass_a.select("left_id", "right_id").unionByName(
        pass_b_only.select("left_id", "right_id")
    )


def _src_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    l = d.select(F.col("doc_id").alias("left_id"), "lang", "source")
    r = d.select(F.col("doc_id").alias("right_id"), "lang", "source")
    return (
        l.join(r, ["lang", "source"])
        .where(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
    )


# ---------------------------------------------------------------------------
# entry — flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Full ER pipeline on a deterministic synthetic corpus (the
    pipeline's own record shape per BASELINE.json input_hint), returning
    per-cluster summaries. sf0.001-scale: ~170 records."""
    from amp.datagen import gen_files
    from amp.pipeline import run_pipeline

    files = gen_files(spark, 120, partitions=8)
    out = run_pipeline(spark, files)
    return (
        out["clusters"]
        .groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- P1/P2/F2: normalization projection ----
    def q_normalize(spark, sf_dir):
        d = _docs(spark, sf_dir)
        return d.select(
            "doc_id",
            F.sha2(F.concat_ws(" ", text.tokens_col()), 256).alias("norm_sha"),
            F.size(text.tokens_col()).alias("n_tokens"),
            F.lower(F.substring("text", 1, 40)).alias("prefix40"),
        )

    q["normalize_project"] = q_normalize

    # ---- J1: multi-pass blocking (union of equi-joins + distinct) ----
    q["block_pairs_multipass"] = _block_pairs

    # ---- A2-A4/F8-F9: tf-idf postings with broadcast idf ----
    q["tfidf_postings"] = lambda spark, sf_dir: features.doc_tfidf(
        _docs(spark, sf_dir)
    )

    # ---- A1/J4/F11: grouped tfidf dot product over candidate pairs ----
    # round 6: the (lang, source) pair set is exactly the within-group
    # candidate space, so the group/tile kernel computes the identical
    # result with payloads moved once per tile instead of once per pair
    # (features.doc_pair_dot_grouped docstring; oracle unchanged)
    q["pair_tfidf_dot"] = lambda spark, sf_dir: features.doc_pair_dot_grouped(
        _docs(spark, sf_dir), ["lang", "source"]
    )

    # ---- W1: rank window over pair scores ----
    def q_rank(spark, sf_dir):
        from pyspark.sql import Window

        dot = features.doc_pair_dot_grouped(_docs(spark, sf_dir), ["lang", "source"])
        w = Window.partitionBy("left_id").orderBy(
            F.desc("tfidf_dot"), F.asc("right_id")
        )
        return dot.withColumn("rnk", F.rank().over(w))

    q["rank_window"] = q_rank

    # ---- W2/O2: per-group top-k ----
    def q_topk(spark, sf_dir):
        from pyspark.sql import Window

        d = _docs(spark, sf_dir)
        w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
        return (
            d.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 5)
            .select("lang", "doc_id", "n_chars", "rn")
        )

    q["topk_per_group"] = q_topk

    # ---- P4 + O1: threshold filter + ordered limit ----
    def q_threshold(spark, sf_dir):
        dot = features.doc_pair_dot_grouped(_docs(spark, sf_dir), ["lang", "source"])
        return dot.where(F.col("tfidf_dot") >= 0.002).select(
            "left_id", "right_id", "tfidf_dot"
        )

    q["threshold_filter"] = q_threshold

    def q_order_limit(spark, sf_dir):
        return (
            _docs(spark, sf_dir)
            .orderBy(F.desc("n_chars"), F.asc("doc_id"))
            .limit(20)
            .select("doc_id", "n_chars")
        )

    q["order_limit"] = q_order_limit

    # ---- dedup: exact (hash-groupBy) ----
    q["dedup_exact"] = lambda spark, sf_dir: dedup.exact_duplicates(
        _docs(spark, sf_dir)
    )

    # ---- dedup: minhash LSH candidate pairs ----
    q["dedup_minhash_lsh"] = lambda spark, sf_dir: dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), bands=4
    )

    # ---- dedup: exact n-gram jaccard on blocked pairs ----
    q["dedup_ngram_jaccard"] = lambda spark, sf_dir: dedup.ngram_jaccard(
        _docs(spark, sf_dir), _src_pairs(spark, sf_dir)
    )

    # ---- dedup: simhash fingerprints ----
    q["dedup_simhash"] = lambda spark, sf_dir: dedup.simhash(
        _docs(spark, sf_dir), bits=16
    )

    # ---- dedup: embedding-cosine near-dup (exact, tiled BLAS) ----
    q["dedup_embedding_cosine"] = lambda spark, sf_dir: dedup.embedding_near_dup(
        _embs(spark, sf_dir), threshold=0.3
    )

    # ---- dedup: embedding near-dup, banded-LSH scale path ----
    # deterministic seeded planes -> the oracle computes the same buckets,
    # so even the sub-quadratic candidate path is hash-exact vs DuckDB
    q["dedup_embedding_lsh"] = lambda spark, sf_dir: dedup.embedding_lsh_near_dup(
        _embs(spark, sf_dir), threshold=0.3, dim=64, bands=2, band_bits=8
    )

    # ---- similarity search: brute-force cosine top-k ----
    def q_ann(spark, sf_dir):
        e = _embs(spark, sf_dir)
        return ann.brute_force_topk(e, e.where(F.col("vec_id") < 10), k=5)

    q["ann_bruteforce_topk"] = q_ann

    # ---- similarity search: LSH-bucketed ANN (scale path) ----
    # multi-probe h=1; dim passed explicitly (no driver action in the
    # plan). Measured recall@5 vs ann_bruteforce_topk on this fixture is
    # asserted in tests/test_dedup_scale.py and recorded in BASELINE.md.
    def q_ann_lsh(spark, sf_dir):
        e = _embs(spark, sf_dir)
        return ann.lsh_topk(
            e, e.where(F.col("vec_id") < 10), k=5, bits=4, dim=64, probe_hamming=1
        )

    q["ann_lsh_topk"] = q_ann_lsh

    # ---- similarity search: IVF inverted lists (alternate scale path) ----
    # deterministic build (centroids = 16 lowest-id vectors) -> the
    # assignment + probing + top-k is exactly specified and DuckDB
    # oracle-checked
    def q_ann_ivf(spark, sf_dir):
        e = _embs(spark, sf_dir)
        return ann.ivf_topk(
            e, e.where(F.col("vec_id") < 10), k=5, n_centroids=16, n_probe=4
        )

    q["ann_ivf_topk"] = q_ann_ivf

    # ---- precomputed-embedding ingest: distance filter + rank ----
    # (reference match.sql:21,66,79 on provided vectors — the
    # scoring.attach_embeddings / build_index(embeddings=...) path)
    def q_match_emb(spark, sf_dir):
        e = _embs(spark, sf_dir)
        return ann.provided_embedding_match(
            e.where(F.col("vec_id") >= 20), e.where(F.col("vec_id") < 20),
            k=3, max_distance=0.7,
        )

    q["match_provided_embedding_topk"] = q_match_emb

    # ---- text: token counting ----
    q["text_token_counts"] = lambda spark, sf_dir: text.token_counts(
        _docs(spark, sf_dir)
    )

    # ---- text: quality scoring ----
    q["text_quality"] = lambda spark, sf_dir: text.quality_score(
        _docs(spark, sf_dir)
    )

    # ---- text: language id ----
    q["text_lang_id"] = lambda spark, sf_dir: text.lang_id(_docs(spark, sf_dir))

    # ---- text: fingerprinting ----
    q["text_fingerprints"] = lambda spark, sf_dir: text.fingerprints(
        _docs(spark, sf_dir)
    )

    # ---- text: Gopher-style repetition metrics ----
    # prep: the corpus is single-line word salad, so a mirrored literal
    # replace turns a frequent token into newlines — every output column
    # (lines AND grams) carries signal at the driver's scale
    def q_text_repetition(spark, sf_dir):
        d = _docs(spark, sf_dir).withColumn(
            "text", F.replace(F.col("text"), F.lit(" table "), F.lit("\n"))
        )
        return text.repetition_metrics(d)

    q["text_repetition"] = q_text_repetition

    # ---- text: PII scan + redaction ----
    # prep: plant deterministic PII (email/IPv4/phone derived from
    # doc_id) into two of every three documents, mirrored in the oracle,
    # so counts and redaction are exercised on non-zero rows AND
    # verified zero on clean rows
    def q_text_pii(spark, sf_dir):
        d = _docs(spark, sf_dir)
        aug = F.when(
            F.col("doc_id") % 3 != 2,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 250).cast("string"),
                F.lit(" call +1 555 "),
                (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            ),
        ).otherwise(F.col("text"))
        return text.pii_scan(d.withColumn("text", aug))

    q["text_pii"] = q_text_pii

    # ---- text: compressed-corpus ingestion round-trip ----
    # compress every document with a doc_id-selected codec, then run the
    # ingestion operator; the oracle states the expected invariant
    # (codec sniffed back, status real, text bit-identical), so the
    # value hash proves the decompress path end-to-end
    def q_text_decompress(spark, sf_dir):
        d = _docs(spark, sf_dir).select("doc_id", "text")
        codec = (
            F.when(F.col("doc_id") % 4 == 0, "gzip")
            .when(F.col("doc_id") % 4 == 1, "bz2")
            .when(F.col("doc_id") % 4 == 2, "xz")
            .otherwise("zlib")
        )
        comp = text.compress_documents(
            d.withColumn("codec", codec), codec_col="codec"
        )
        out = text.decompress_documents(comp)
        return out.select(
            "doc_id", "text", "codec", "decode_status", "n_text_bytes"
        )

    q["text_decompress_roundtrip"] = q_text_decompress

    # ---- core relational: groupBy-agg (TPC-H Q1 shape) ----
    def q_agg(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                ).alias("revenue"),
                F.count("*").alias("n_rows"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )

    q["agg_lineitem"] = q_agg

    # ---- core relational: broadcast join + agg ----
    def q_join(spark, sf_dir):
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return (
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 4).alias("total_price"),
            )
        )

    q["join_orders_customer"] = q_join

    # ---- star schema: shipping-priority (TPC-H Q3 shape) ----
    # selective dim filter broadcast against the two fact tables,
    # partial-agg revenue, global top-10
    def q_star_q3(spark, sf_dir):
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        cut = F.lit("1998-06-01").cast("timestamp")
        return (
            li.where(F.col("l_shipdate") > cut)
            .join(o.where(F.col("o_orderdate") < cut), F.col("l_orderkey") == F.col("o_orderkey"))
            .join(
                F.broadcast(c.where(F.col("c_mktsegment") == "BUILDING")),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("l_orderkey", "o_orderdate")
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
            )
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10)
        )

    q["star_shipping_priority"] = q_star_q3

    # ---- star schema: local-supplier volume (TPC-H Q5 shape) ----
    # six-way join: three broadcast dims + co-keyed facts, grouped
    # revenue per nation
    def q_star_q5(spark, sf_dir):
        r = spark.read.parquet(f"{sf_dir}/region.parquet")
        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        lo = F.lit("1996-01-01").cast("timestamp")
        hi = F.lit("1998-01-01").cast("timestamp")
        dims = (
            n.join(F.broadcast(r.where(F.col("r_name") == "ASIA")),
                   F.col("n_regionkey") == F.col("r_regionkey"))
        )
        return (
            li.join(o.where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
                    F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            # local-supplier condition: customer and supplier share a nation
            .where(F.col("c_nationkey") == F.col("s_nationkey"))
            .join(F.broadcast(dims), F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
                F.count("*").alias("n_lineitems"),
            )
            .orderBy(F.desc("revenue"))
        )

    q["star_local_supplier_volume"] = q_star_q5

    # ---- core relational: window over events ----
    def q_events(spark, sf_dir):
        from pyspark.sql import Window

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
        return (
            ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"), "rn")
        )

    q["window_events_topk"] = q_events

    # ---- incremental: query-batch vs index top-k (reference §3.1 shape) ----
    def q_match(spark, sf_dir):
        from pyspark.sql import Window

        d = _docs(spark, sf_dir)
        q = d.where(F.col("doc_id") >= 450).select(
            F.col("doc_id").alias("left_id"), "lang", "source"
        )
        idx = d.where(F.col("doc_id") < 450).select(
            F.col("doc_id").alias("right_id"), "lang", "source"
        )
        pairs = q.join(idx, ["lang", "source"]).select("left_id", "right_id")
        # the inline postings-join dot was semantically identical to
        # features.doc_pair_dot — share the round-6 vectorized kernel
        dots = features.doc_pair_dot(d, pairs)
        w = Window.partitionBy("left_id").orderBy(F.desc("tfidf_dot"), F.asc("right_id"))
        return (
            dots.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("left_id", "right_id", "tfidf_dot", "rn")
        )

    q["match_query_vs_index_topk"] = q_match

    # ---- dedup: simhash near-pairs (Hamming-LSH banding, complete) ----
    # the oracle below is the clean brute-force spec — hash-exactness
    # proves the banded equi-joins lose no pair with hamming <= 3
    q["dedup_simhash_pairs"] = lambda spark, sf_dir: dedup.simhash_near_pairs(
        _docs(spark, sf_dir), bits=16, max_hamming=3
    )

    # ---- curation: deterministic sampling + composed keep/drop verdict ----
    from amp import curate as amp_curate

    def q_sample_fraction(spark, sf_dir):
        return amp_curate.sample_fraction(_docs(spark, sf_dir), 0.25).select(
            "doc_id", "lang", "source"
        )

    q["sample_fraction"] = q_sample_fraction

    def q_sample_stratified(spark, sf_dir):
        return amp_curate.stratified_topn(
            _docs(spark, sf_dir), ["lang", "source"], 5
        ).select("doc_id", "lang", "source", "sample_rank")

    q["sample_stratified_topn"] = q_sample_stratified

    def q_curate(spark, sf_dir):
        return amp_curate.curate(
            _docs(spark, sf_dir),
            min_quality=0.3,
            keep_langs=("en",),
            jaccard_threshold=0.8,
            bands=4,
        )

    q["curate_corpus"] = q_curate

    # ---- curation: full verdict with repetition + PII gates ----
    def q_curate_full(spark, sf_dir):
        return amp_curate.curate(
            _docs(spark, sf_dir),
            min_quality=0.3,
            keep_langs=("en",),
            jaccard_threshold=0.8,
            bands=4,
            max_top_2gram_frac=0.06,
            max_pii_total=0,
        )

    q["curate_corpus_full"] = q_curate_full

    # ---- curation: concat-and-chunk sequence-packing manifest ----
    # GPT-style pretraining layout: per-shard token cumsum -> pack
    # indexes + offsets; ONE shuffle, parallelism = n_shards.
    # The four window-sum-derived columns are emitted as DOUBLE: the
    # oracle's sum(n_tokens) OVER (...) is HUGEINT in DuckDB, and a
    # pandas/arrow fetch of HUGEINT coerces to float64 — so the driver
    # canonicalizes the oracle side as 5.000000 while a bigint Spark
    # column canonicalizes as 5 (the round-5 hash_match=false with
    # rows/schema green). The values are exact small integers either
    # way; the cast aligns the declared query with the frozen oracle's
    # fetch typing. Verified against a pandas-leg DuckDB fetch in
    # scripts/check_oracles.py.
    q["pack_documents"] = lambda spark, sf_dir: amp_curate.pack_documents(
        _docs(spark, sf_dir), budget=2048, n_shards=8
    ).select(
        "doc_id",
        "shard",
        "n_tokens",
        F.col("start_offset").cast("double").alias("start_offset"),
        F.col("first_pack").cast("double").alias("first_pack"),
        F.col("last_pack").cast("double").alias("last_pack"),
        F.col("pack_id").cast("double").alias("pack_id"),
    )

    # ---- curation: deterministic domain-mixture sampling ----
    # waterfilling to a target source mixture: largest total with no
    # upsampling, per-source md5-threshold Bernoulli keep
    q["mixture_sample"] = lambda spark, sf_dir: amp_curate.mixture_sample(
        _docs(spark, sf_dir), {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    ).select("doc_id", "lang", "source")

    # ---- dedup: exact-substring duplicates (contamination case) ----
    # identical >=16-token spans, content-defined window sampling
    # (alignment-free), md5 keys shared with the DuckDB twin
    q["dedup_substring"] = lambda spark, sf_dir: dedup.substring_duplicates(
        _docs(spark, sf_dir), window=16
    )

    # ---- dedup: train-vs-eval contamination (cross-corpus substrings) ----
    # deterministic eval split (doc_id % 20 == 0) so the oracle can
    # reproduce it; train docs sharing a >=16-token span with any eval doc
    def q_contamination(spark, sf_dir):
        d = _docs(spark, sf_dir)
        ev = d.where(F.col("doc_id") % 20 == 0)
        return dedup.substring_contamination(
            d.where(F.col("doc_id") % 20 != 0),
            ev,
            window=16,
            # the broadcast gate wants a known eval size; one count of
            # the 5% slice keeps the eval window table map-side joined
            eval_docs_hint=ev.count(),
        )

    q["dedup_contamination"] = q_contamination

    # ---- curation: transitive near-dup clusters + canonical pick ----
    # the transitive extension of curate()'s pairwise verdict: LSH
    # candidates -> exact-Jaccard edges -> connected components;
    # is_canonical = (doc_id == cluster_id) since cluster_id is the
    # min member id. Oracle: the same edge SQL + WITH RECURSIVE closure.
    q["dedup_clusters"] = lambda spark, sf_dir: dedup.near_dup_clusters(
        _docs(spark, sf_dir), jaccard_threshold=0.8, bands=4
    )

    # ---- J6 + CC: transitive clustering with a bit-exact SQL oracle ----
    # The REAL clustering operator (amp.cluster.connected_components —
    # driver union-find / large-small-star, the same code the flagship
    # pipeline runs) over an oracle-exact edge set: thresholded tf-idf
    # dot on the blocked candidate pairs. The DuckDB twin computes the
    # identical closure via WITH RECURSIVE min-label reachability, so
    # the CC fixpoint itself is hash-checked, not rows-only.
    def q_er_clusters(spark, sf_dir):
        from amp.cluster import connected_components

        d = _docs(spark, sf_dir)
        dot = features.doc_pair_dot_grouped(d, ["lang", "source"])
        edges = dot.where(F.col("tfidf_dot") >= 0.002).select("left_id", "right_id")
        assign = connected_components(
            edges,
            all_nodes=d.select(F.col("doc_id").alias("record_id")),
            nodes_unique=True,  # doc_id is the documents primary key
        )
        return assign.select(F.col("record_id").alias("doc_id"), "cluster_id")

    q["er_pipeline_clusters"] = q_er_clusters

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["normalize_project"] = """
SELECT doc_id,
       sha256(array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ')) AS norm_sha,
       len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tokens,
       lower(substr(text, 1, 40)) AS prefix40
FROM documents
"""

    o["block_pairs_multipass"] = _BLOCK_PAIRS_SQL

    o["tfidf_postings"] = _TFIDF_CTES + "SELECT doc_id, token, tfidf FROM post"

    o["pair_tfidf_dot"] = (
        _TFIDF_CTES
        + f""",
pairs AS ({_SRC_PAIRS_SQL})
SELECT p.left_id, p.right_id, round(sum(pl.tfidf * pr.tfidf), 6) AS tfidf_dot
FROM pairs p
JOIN post pl ON pl.doc_id = p.left_id
JOIN post pr ON pr.doc_id = p.right_id AND pr.token = pl.token
GROUP BY p.left_id, p.right_id
"""
    )

    o["rank_window"] = (
        _TFIDF_CTES
        + f""",
pairs AS ({_SRC_PAIRS_SQL}),
dots AS (
  SELECT p.left_id, p.right_id, round(sum(pl.tfidf * pr.tfidf), 6) AS tfidf_dot
  FROM pairs p
  JOIN post pl ON pl.doc_id = p.left_id
  JOIN post pr ON pr.doc_id = p.right_id AND pr.token = pl.token
  GROUP BY p.left_id, p.right_id
)
SELECT left_id, right_id, tfidf_dot,
       rank() OVER (PARTITION BY left_id ORDER BY tfidf_dot DESC, right_id ASC) AS rnk
FROM dots
"""
    )

    o["topk_per_group"] = """
SELECT lang, doc_id, n_chars, rn FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 5
"""

    o["threshold_filter"] = (
        _TFIDF_CTES
        + f""",
pairs AS ({_SRC_PAIRS_SQL})
SELECT p.left_id, p.right_id, round(sum(pl.tfidf * pr.tfidf), 6) AS tfidf_dot
FROM pairs p
JOIN post pl ON pl.doc_id = p.left_id
JOIN post pr ON pr.doc_id = p.right_id AND pr.token = pl.token
GROUP BY p.left_id, p.right_id
HAVING round(sum(pl.tfidf * pr.tfidf), 6) >= 0.002
"""
    )

    o["order_limit"] = (
        "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 20"
    )

    o["dedup_exact"] = f"""
WITH {_TOKS_CTE},
norm AS (
  SELECT doc_id,
         sha256(array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ')) AS exact_fp
  FROM documents
)
SELECT exact_fp, count(*) AS n_dups, min(doc_id) AS canonical_doc_id
FROM norm GROUP BY exact_fp HAVING count(*) > 1
"""

    band_mins = ",\n".join(
        f"min(md5('band{b}:' || shingle)) AS mh_{b}" for b in range(4)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, mh_{b} AS band_key FROM mh" for b in range(4)
    )
    o["dedup_minhash_lsh"] = f"""
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
  FROM documents
),
shl AS (
  SELECT doc_id,
         CASE WHEN len(l) = 0 THEN []::VARCHAR[]
              WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
              ELSE list_transform(range(len(l) - 2),
                                  i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])
         END AS shingles
  FROM tl
),
dsh AS (SELECT DISTINCT doc_id, s.shingle
        FROM shl, UNNEST(shingles) AS s(shingle)),
mh AS (SELECT doc_id, {band_mins} FROM dsh GROUP BY doc_id),
keys AS ({band_union})
SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
FROM keys l JOIN keys r ON l.band = r.band AND l.band_key = r.band_key
WHERE l.doc_id < r.doc_id
"""

    # LEFT joins: a candidate pair with zero shared tokens (or a
    # token-less doc) is reported with jaccard 0.0, never dropped
    o["dedup_ngram_jaccard"] = f"""
WITH {_TOKS_CTE}, {_DTOKS_CTE},
sizes AS (SELECT doc_id, count(*) AS n_tok FROM dtoks GROUP BY doc_id),
pairs AS ({_SRC_PAIRS_SQL}),
inter AS (
  SELECT p.left_id, p.right_id, count(*) AS n_inter
  FROM pairs p
  JOIN dtoks lt ON lt.doc_id = p.left_id
  JOIN dtoks rt ON rt.doc_id = p.right_id AND rt.token = lt.token
  GROUP BY p.left_id, p.right_id
)
SELECT p.left_id, p.right_id,
       round(CASE WHEN coalesce(ls.n_tok, 0) + coalesce(rs.n_tok, 0) - coalesce(i.n_inter, 0) > 0
                  THEN coalesce(i.n_inter, 0)
                       / (coalesce(ls.n_tok, 0) + coalesce(rs.n_tok, 0) - coalesce(i.n_inter, 0))
                  ELSE 0.0 END, 6) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.left_id = p.left_id AND i.right_id = p.right_id
LEFT JOIN sizes ls ON ls.doc_id = p.left_id
LEFT JOIN sizes rs ON rs.doc_id = p.right_id
"""

    votes = ",\n".join(
        "sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(token), "
        f"{j // 4 + 1}, 1)) - 1) >> {j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{j}"
        for j in range(16)
    )
    fp_sum = " + ".join(
        f"(CASE WHEN v_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16)
    )
    o["dedup_simhash"] = f"""
WITH {_TOKS_CTE}, {_DTOKS_CTE},
votes AS (SELECT doc_id, {votes} FROM dtoks GROUP BY doc_id)
SELECT doc_id, {fp_sum} AS simhash FROM votes
"""

    o["dedup_embedding_cosine"] = """
SELECT l.vec_id AS left_id, r.vec_id AS right_id,
       round(list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[])
             / (sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))
                * sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[]))), 6) AS cosine
FROM embeddings l, embeddings r
WHERE l.vec_id < r.vec_id
  AND round(list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[])
            / (sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))
               * sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[]))), 6) >= 0.3
"""

    o["ann_bruteforce_topk"] = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cosine
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    AND list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0
    AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0
)
SELECT query_id, corpus_id, cosine, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 5
"""

    # IVF: nearest-centroid assignment (squared-L2, ties -> lower id),
    # queries probe 4 nearest lists, exact cosine top-5 inside them
    # NB centroid selection is over the RAW corpus (the Spark build does
    # not norm-filter); the zero-norm guard applies to the rows being
    # assigned/probed/scored, mirroring ann.ivf_topk exactly
    o["ann_ivf_topk"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS c, v AS cv FROM e ORDER BY vec_id LIMIT 16),
e2 AS (SELECT * FROM e WHERE list_dot_product(v, v) > 0),
cd AS (
  SELECT e2.vec_id, cent.c,
         list_sum(list_transform(range(1, 65), i -> (e2.v[i] - cent.cv[i]) ^ 2)) AS d
  FROM e2, cent
),
ranked AS (
  SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
  FROM cd
),
assign AS (SELECT vec_id, c AS list_id FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, c AS list_id FROM ranked WHERE vec_id < 10 AND rn <= 4),
scored AS (
  SELECT p.query_id, a.vec_id AS corpus_id,
         round(list_dot_product(q.v, t.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(t.v, t.v))), 6) AS cosine
  FROM probes p
  JOIN assign a ON a.list_id = p.list_id
  JOIN e q ON q.vec_id = p.query_id
  JOIN e t ON t.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, corpus_id, cosine, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 5
"""

    o["match_provided_embedding_topk"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         round(1.0 - list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS distance
  FROM e q, e c
  WHERE q.vec_id < 20 AND c.vec_id >= 20
)
SELECT query_id, corpus_id, distance, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, corpus_id ASC) AS rnk
  FROM scored
  WHERE distance <= 0.7
) WHERE rnk <= 3
"""

    # token counting — BPE-ish regex must match Spark's Java regex semantics
    o["text_token_counts"] = f"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
       len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS word_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS bpe_ish_tokens,
       length(text) AS n_chars
FROM documents
"""

    # token-equality marker counts over a once-computed token list —
    # mirrors text._marker_hits (one tokenize, no per-marker regex scans)
    stop_hits_sql = " + ".join(
        f"len(list_filter(toks, x -> x = '{w}'))" for w in LANG_MARKERS["en"]
    )
    o["text_quality"] = f"""
WITH tl AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
base AS (
  SELECT doc_id,
         length(text)::DOUBLE AS n_chars,
         len(toks)::DOUBLE AS n_tokens,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE AS n_punct,
         len(regexp_extract_all(text, '[0-9]'))::DOUBLE AS n_digit,
         ({stop_hits_sql})::DOUBLE AS stop_hits
  FROM tl
)
SELECT doc_id,
       round(n_punct / greatest(n_chars, 1.0) + 1e-9, 6) AS punct_ratio,
       round(stop_hits / greatest(n_tokens, 1.0) + 1e-9, 6) AS stop_ratio,
       round(
         least(n_tokens / 64.0, 1.0) * 0.35
         + (1.0 - least(n_punct / greatest(n_chars, 1.0) * 4.0, 1.0)) * 0.25
         + least(stop_hits / greatest(n_tokens, 1.0) * 5.0, 1.0) * 0.2
         + (1.0 - least(n_digit / greatest(n_chars, 1.0) * 4.0, 1.0)) * 0.1
         + CASE WHEN n_chars / greatest(n_tokens, 1.0) BETWEEN 3.0 AND 10.0 THEN 0.1 ELSE 0.0 END
         + 1e-9,
       6) AS quality
FROM base
"""

    lang_hit_cols = ",\n".join(
        "("
        + " + ".join(
            f"len(list_filter(toks, x -> x = '{w}'))" for w in LANG_MARKERS[lang]
        )
        + f")::DOUBLE AS hits_{lang}"
        for lang in sorted(LANG_MARKERS)
    )
    best = "greatest(" + ", ".join(f"hits_{l}" for l in sorted(LANG_MARKERS)) + ")"
    pred_cases = " ".join(
        f"WHEN hits_{l} = {best} THEN '{l}'" for l in sorted(LANG_MARKERS)
    )
    o["text_lang_id"] = f"""
WITH tl AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
h AS (SELECT doc_id, lang, {lang_hit_cols} FROM tl)
SELECT doc_id, lang, {', '.join(f'hits_{l}' for l in sorted(LANG_MARKERS))},
       CASE WHEN {best} <= 0 THEN 'und' {pred_cases} ELSE 'und' END AS pred_lang
FROM h
"""

    o["text_fingerprints"] = f"""
WITH {_TOKS_CTE}
SELECT d.doc_id,
       sha256(array_to_string(list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'), x -> x <> ''), ' ')) AS exact_fp,
       (SELECT min(md5(t.token)) FROM toks t WHERE t.doc_id = d.doc_id) AS minhash_fp
FROM documents d
"""

    # repetition metrics — same literal-replace prep, same 2-/5-gram
    # construction (DuckDB scalar range() + 1-based list indexing), and
    # the top-2-gram count expressed as "occurrences of the mode value"
    # (tie-safe: every argmax shares the same count)
    o["text_repetition"] = """
WITH prep AS (
  SELECT doc_id, replace(text, ' table ', chr(10)) AS text FROM documents
),
t AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM prep
),
g AS (
  SELECT doc_id, lines,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
              ELSE []::VARCHAR[] END AS g2,
         CASE WHEN len(toks) >= 5
              THEN list_transform(range(1, len(toks) - 3), i ->
                   toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])
              ELSE []::VARCHAR[] END AS g5
  FROM t
)
SELECT doc_id,
       len(lines) AS n_lines,
       round(CASE WHEN len(lines) > 0
                  THEN (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines)
                  ELSE 0.0 END + 1e-9, 6) AS dup_line_frac,
       round(CASE WHEN len(g2) > 0
                  THEN len(list_filter(g2, x -> x = list_aggregate(g2, 'mode')))::DOUBLE / len(g2)
                  ELSE 0.0 END + 1e-9, 6) AS top_2gram_frac,
       round(CASE WHEN len(g5) > 0
                  THEN (len(g5) - len(list_distinct(g5)))::DOUBLE / len(g5)
                  ELSE 0.0 END + 1e-9, 6) AS dup_5gram_frac
FROM g
"""

    email_re = PII_PATTERNS["email"]
    ipv4_re = PII_PATTERNS["ipv4"]
    phone_re = PII_PATTERNS["phone"]
    o["text_pii"] = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 <> 2 THEN
           text || ' contact user' || doc_id || '@example.com from 10.'
                || (doc_id % 200) || '.0.' || (doc_id % 250)
                || ' call +1 555 ' || (1000 + doc_id % 9000)
         ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{email_re}')) AS n_emails,
       len(regexp_extract_all(text, '{ipv4_re}')) AS n_ipv4s,
       len(regexp_extract_all(text, '{phone_re}')) AS n_phones,
       len(regexp_extract_all(text, '{email_re}'))
         + len(regexp_extract_all(text, '{ipv4_re}'))
         + len(regexp_extract_all(text, '{phone_re}')) AS pii_total,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{email_re}', '<EMAIL>', 'g'),
           '{ipv4_re}', '<IP>', 'g'),
         '{phone_re}', '<PHONE>', 'g') AS redacted
FROM aug
"""

    # the round-trip invariant: sniffed codec matches the doc_id-selected
    # one, status is real, text is bit-identical, byte count is the
    # utf-8 length
    o["text_decompress_roundtrip"] = """
SELECT doc_id, text,
       CASE doc_id % 4 WHEN 0 THEN 'gzip' WHEN 1 THEN 'bz2'
                       WHEN 2 THEN 'xz' ELSE 'zlib' END AS codec,
       'real' AS decode_status,
       strlen(text) AS n_text_bytes
FROM documents
"""

    o["agg_lineitem"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

    o["join_orders_customer"] = """
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 4) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

    o["star_shipping_priority"] = """
SELECT l_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

    o["star_local_supplier_volume"] = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC
"""

    o["window_events_topk"] = """
SELECT user_id, event_id, event_type, round(value, 6) AS value, rn FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn <= 3
"""

    o["match_query_vs_index_topk"] = (
        _TFIDF_CTES
        + """,
pairs AS (
  SELECT q.doc_id AS left_id, i.doc_id AS right_id
  FROM documents q JOIN documents i
    ON q.lang = i.lang AND q.source = i.source
  WHERE q.doc_id >= 450 AND i.doc_id < 450
),
dots AS (
  SELECT p.left_id, p.right_id, round(sum(pl.tfidf * pr.tfidf), 6) AS tfidf_dot
  FROM pairs p
  JOIN post pl ON pl.doc_id = p.left_id
  JOIN post pr ON pr.doc_id = p.right_id AND pr.token = pl.token
  GROUP BY p.left_id, p.right_id
)
SELECT left_id, right_id, tfidf_dot, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY left_id ORDER BY tfidf_dot DESC, right_id ASC) AS rn
  FROM dots
) WHERE rn <= 3
"""
    )

    # brute-force spec: ALL pairs with hamming <= 3. The Spark side runs
    # Hamming-LSH banding (4 x 4-bit bands); pigeonhole makes banding
    # complete for d <= 3, and this hash-exact comparison proves it.
    o["dedup_simhash_pairs"] = f"""
WITH {_TOKS_CTE}, {_DTOKS_CTE},
votes AS (SELECT doc_id, {votes} FROM dtoks GROUP BY doc_id),
fps AS (SELECT doc_id, {fp_sum} AS simhash FROM votes)
SELECT l.doc_id AS left_id, r.doc_id AS right_id,
       bit_count(xor(l.simhash, r.simhash)) AS hamming
FROM fps l JOIN fps r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
"""

    # banded hyperplane-LSH near-dup: the seeded plane literals are the
    # SAME constants folded into the Spark plan (amp.dedup
    # embedding_lsh_planes), so both engines compute identical buckets,
    # identical candidates, identical verified pairs — the approximate
    # operator is exactly specified and hash-checked.
    def _sign_bucket_sql(planes: list[list[float]]) -> str:
        """DuckDB twin of amp.ann.bucket_expr: bit j = 1 iff
        dot(v, plane_j) > 0, same decimal literals as the Spark plan."""
        return " + ".join(
            f"(CASE WHEN list_dot_product(v, [{','.join(repr(float(x)) for x in p)}]::DOUBLE[]) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j, p in enumerate(planes)
        )

    plane_groups = dedup.embedding_lsh_planes(dim=64, bands=2, band_bits=8)
    bands_union = "\nUNION ALL\n".join(
        f"SELECT id, {bi} AS band, {_sign_bucket_sql(pg)} AS bucket FROM e"
        for bi, pg in enumerate(plane_groups)
    )
    o["dedup_embedding_lsh"] = f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
keys AS ({bands_union}),
cand AS (
  SELECT DISTINCT l.id AS left_id, r.id AS right_id
  FROM keys l JOIN keys r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
)
SELECT c.left_id, c.right_id,
       round(list_dot_product(le.v, re.v)
             / (sqrt(list_dot_product(le.v, le.v)) * sqrt(list_dot_product(re.v, re.v))), 6) AS cosine
FROM cand c JOIN e le ON le.id = c.left_id JOIN e re ON re.id = c.right_id
WHERE round(list_dot_product(le.v, re.v)
            / (sqrt(list_dot_product(le.v, le.v)) * sqrt(list_dot_product(re.v, re.v))), 6) >= 0.3
"""

    # multi-probe LSH ANN: same seeded plane literals as the Spark plan
    # (ann._hyperplanes(64, 4, 42)), same probe masks (h<=1), so the
    # approximate operator is deterministically specified and
    # hash-checked — recall-vs-exact is gated separately in
    # tests/test_dedup_scale.py
    from amp.ann import _hyperplanes as _lsh_planes

    bucket_sql = _sign_bucket_sql(_lsh_planes(64, 4, 42))
    probe_masks = ",".join(f"({m})" for m in [0, 1, 2, 4, 8])
    o["ann_lsh_topk"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
b AS (SELECT vec_id, v, {bucket_sql} AS bucket FROM e),
probes AS (
  SELECT vec_id AS query_id, v AS qv, xor(bucket, m.m) AS bucket
  FROM b, (VALUES {probe_masks}) AS m(m)
  WHERE vec_id < 10
),
scored AS (
  SELECT p.query_id, c.vec_id AS corpus_id,
         round(list_dot_product(p.qv, c.v)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
  FROM probes p JOIN b c ON c.bucket = p.bucket
  WHERE c.vec_id <> p.query_id
)
SELECT query_id, corpus_id, cosine, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 5
"""

    # curation: md5-prefix threshold sampling (lexicographic hex compare
    # == numeric compare at fixed width) and the composed verdict —
    # quality x lang x LSH-verified near-dup — all from the same CTEs
    # the individual operators are checked with
    o["sample_fraction"] = """
SELECT doc_id, lang, source FROM documents
WHERE substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
"""

    o["sample_stratified_topn"] = """
SELECT doc_id, lang, source, sample_rank FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         ) AS sample_rank
  FROM documents
) WHERE sample_rank <= 5
"""

    o["curate_corpus"] = f"""
WITH tl AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
qbase AS (
  SELECT doc_id,
         length(text)::DOUBLE AS n_chars,
         len(toks)::DOUBLE AS n_tokens,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE AS n_punct,
         len(regexp_extract_all(text, '[0-9]'))::DOUBLE AS n_digit,
         ({stop_hits_sql})::DOUBLE AS stop_hits
  FROM tl
),
qual AS (
  SELECT doc_id,
         round(
           least(n_tokens / 64.0, 1.0) * 0.35
           + (1.0 - least(n_punct / greatest(n_chars, 1.0) * 4.0, 1.0)) * 0.25
           + least(stop_hits / greatest(n_tokens, 1.0) * 5.0, 1.0) * 0.2
           + (1.0 - least(n_digit / greatest(n_chars, 1.0) * 4.0, 1.0)) * 0.1
           + CASE WHEN n_chars / greatest(n_tokens, 1.0) BETWEEN 3.0 AND 10.0 THEN 0.1 ELSE 0.0 END
           + 1e-9,
         6) AS quality
  FROM qbase
),
lh AS (SELECT doc_id, {lang_hit_cols} FROM tl),
lid AS (
  SELECT doc_id,
         CASE WHEN {best} <= 0 THEN 'und' {pred_cases} ELSE 'und' END AS pred_lang
  FROM lh
),
shl AS (
  SELECT doc_id,
         CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
              WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_transform(range(len(toks) - 2),
                                  i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
         END AS shingles
  FROM tl
),
dsh AS (SELECT DISTINCT doc_id, s.shingle FROM shl, UNNEST(shingles) AS s(shingle)),
mh AS (SELECT doc_id, {band_mins} FROM dsh GROUP BY doc_id),
keys AS ({band_union}),
cand AS (
  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
  FROM keys l JOIN keys r ON l.band = r.band AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
dtoks2 AS (SELECT DISTINCT doc_id, t.token FROM tl, UNNEST(toks) AS t(token)),
sizes AS (SELECT doc_id, count(*) AS n_tok FROM dtoks2 GROUP BY doc_id),
inter AS (
  SELECT p.left_id, p.right_id, count(*) AS n_inter
  FROM cand p
  JOIN dtoks2 lt ON lt.doc_id = p.left_id
  JOIN dtoks2 rt ON rt.doc_id = p.right_id AND rt.token = lt.token
  GROUP BY p.left_id, p.right_id
),
verified AS (
  SELECT p.left_id, p.right_id
  FROM cand p
  LEFT JOIN inter i ON i.left_id = p.left_id AND i.right_id = p.right_id
  LEFT JOIN sizes ls ON ls.doc_id = p.left_id
  LEFT JOIN sizes rs ON rs.doc_id = p.right_id
  WHERE round(CASE WHEN coalesce(ls.n_tok, 0) + coalesce(rs.n_tok, 0) - coalesce(i.n_inter, 0) > 0
                   THEN coalesce(i.n_inter, 0)
                        / (coalesce(ls.n_tok, 0) + coalesce(rs.n_tok, 0) - coalesce(i.n_inter, 0))
                   ELSE 0.0 END, 6) >= 0.8
),
drops AS (SELECT DISTINCT right_id AS doc_id FROM verified)
SELECT d.doc_id, q.quality, l.pred_lang,
       (dr.doc_id IS NOT NULL) AS is_near_dup,
       (q.quality >= 0.3 AND l.pred_lang IN ('en') AND dr.doc_id IS NULL) AS keep
FROM documents d
JOIN qual q ON q.doc_id = d.doc_id
JOIN lid l ON l.doc_id = d.doc_id
LEFT JOIN drops dr ON dr.doc_id = d.doc_id
"""

    # full curation verdict: same CTE pipeline + the repetition and PII
    # gates (columns AND keep terms), mirroring curate(max_top_2gram_frac=
    # 0.06, max_pii_total=0)
    _cur_base, _cur_sep, _ = o["curate_corpus"].partition("\nSELECT d.doc_id")
    assert _cur_sep, "curate_corpus oracle shape changed"
    o["curate_corpus_full"] = (
        _cur_base
        + f""",
rep AS (
  SELECT doc_id,
         round(CASE WHEN len(g2) > 0
                    THEN len(list_filter(g2, x -> x = list_aggregate(g2, 'mode')))::DOUBLE / len(g2)
                    ELSE 0.0 END + 1e-9, 6) AS top_2gram_frac
  FROM (SELECT doc_id,
               CASE WHEN len(toks) >= 2
                    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
                    ELSE []::VARCHAR[] END AS g2
        FROM tl) gsub
),
pii AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{email_re}'))
           + len(regexp_extract_all(text, '{ipv4_re}'))
           + len(regexp_extract_all(text, '{phone_re}')) AS pii_total
  FROM tl
)
SELECT d.doc_id, q.quality, l.pred_lang, rp.top_2gram_frac, pi.pii_total,
       (dr.doc_id IS NOT NULL) AS is_near_dup,
       (q.quality >= 0.3 AND l.pred_lang IN ('en')
        AND rp.top_2gram_frac <= 0.06 AND pi.pii_total <= 0
        AND dr.doc_id IS NULL) AS keep
FROM documents d
JOIN qual q ON q.doc_id = d.doc_id
JOIN lid l ON l.doc_id = d.doc_id
JOIN rep rp ON rp.doc_id = d.doc_id
JOIN pii pi ON pi.doc_id = d.doc_id
LEFT JOIN drops dr ON dr.doc_id = d.doc_id
"""
    )

    # pack_documents: per-shard (doc_id % 8) token cumsum over the same
    # tokenization, cut into budget-2048 packs; integer // division ==
    # Spark floor(col / budget) for non-negative token counts
    o["pack_documents"] = """
WITH tl AS (
  SELECT doc_id, doc_id % 8 AS shard,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tl
)
SELECT doc_id, shard, n_tokens,
       (cum - n_tokens) % 2048 AS start_offset,
       (cum - n_tokens) // 2048 AS first_pack,
       CASE WHEN n_tokens > 0 THEN (cum - 1) // 2048
            ELSE (cum - n_tokens) // 2048 END AS last_pack,
       shard * 4294967296 + ((cum - n_tokens) // 2048) AS pack_id
FROM c
"""

    # mixture_sample: same waterfilling algebra in DOUBLE (bare SQL
    # decimals are DECIMAL in DuckDB — cast so both engines do IEEE
    # double arithmetic in the same order), same md5-prefix draw and
    # the same floor/saturate threshold formatting
    o["mixture_sample"] = """
WITH w(source, wt) AS (
  VALUES ('src0', CAST(0.5 AS DOUBLE)),
         ('src1', CAST(0.3 AS DOUBLE)),
         ('src2', CAST(0.2 AS DOUBLE))
),
n AS (SELECT source, count(*)::DOUBLE AS n FROM documents GROUP BY source),
j AS (SELECT n.source, n.n, w.wt FROM n JOIN w USING (source)),
t AS (SELECT min(n / wt) AS T FROM j),
th AS (
  SELECT j.source, least(CAST(1.0 AS DOUBLE), t.T * j.wt / j.n) AS f
  FROM j, t
),
th2 AS (
  SELECT source, f,
         printf('%08x', least(CAST(floor(f * 4294967296) AS BIGINT), 4294967295)) AS thresh
  FROM th
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN th2 ON th2.source = d.source
WHERE th2.f >= 1.0
   OR substr(md5('s42:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < th2.thresh
"""

    # dedup_substring: every 16-token window md5-hashed (stride 1),
    # kept iff the hash starts with '0' (content-defined 1/16 sampling —
    # alignment-free), frequency-capped, then a pair-count equi-join.
    # Window k at position i: Spark slice(toks, i, 16) == DuckDB
    # toks[i : i+15] (inclusive ends); Spark sequence(1, n) inclusive ==
    # DuckDB range(1, n+1) exclusive.
    o["dedup_substring"] = """
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
wins AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 16 THEN []::VARCHAR[]
              ELSE list_filter(
                     list_transform(range(1, len(toks) - 14),
                                    i -> md5(array_to_string(toks[i:i+15], ' '))),
                     h -> substr(h, 1, 1) = '0')
         END AS whashes
  FROM tl
),
wh AS (SELECT DISTINCT doc_id, w.whash FROM wins, UNNEST(whashes) AS w(whash)),
freq AS (SELECT whash, count(*) AS freq FROM wh GROUP BY whash),
keep AS (
  SELECT wh.doc_id, wh.whash
  FROM wh JOIN freq USING (whash)
  WHERE freq.freq > 1 AND freq.freq <= 64
)
SELECT l.doc_id AS left_id, r.doc_id AS right_id, count(*) AS n_shared_windows
FROM keep l JOIN keep r ON l.whash = r.whash AND l.doc_id < r.doc_id
GROUP BY l.doc_id, r.doc_id
"""

    # dedup_contamination: the same sampled windows, split train/eval by
    # doc_id % 20, frequency cap on the TRAIN side only (eval repetition
    # is the signal), train x eval join
    o["dedup_contamination"] = """
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
wins AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 16 THEN []::VARCHAR[]
              ELSE list_filter(
                     list_transform(range(1, len(toks) - 14),
                                    i -> md5(array_to_string(toks[i:i+15], ' '))),
                     h -> substr(h, 1, 1) = '0')
         END AS whashes
  FROM tl
),
wh AS (SELECT DISTINCT doc_id, w.whash FROM wins, UNNEST(whashes) AS w(whash)),
tw AS (SELECT doc_id AS train_id, whash FROM wh WHERE doc_id % 20 <> 0),
ew AS (SELECT doc_id AS eval_id, whash FROM wh WHERE doc_id % 20 = 0),
freq AS (SELECT whash, count(*) AS freq FROM tw GROUP BY whash),
keep AS (SELECT tw.train_id, tw.whash FROM tw JOIN freq USING (whash) WHERE freq.freq <= 64)
SELECT k.train_id, e.eval_id, count(*) AS n_shared_windows
FROM keep k JOIN ew e ON k.whash = e.whash
GROUP BY k.train_id, e.eval_id
"""

    # dedup_clusters: the same LSH-candidate -> exact-Jaccard edge set
    # as curate_corpus, extended to TRANSITIVE clusters via WITH
    # RECURSIVE min-label reachability (cluster_id = min member id,
    # singletons self-labeled, is_canonical = doc_id == cluster_id)
    o["dedup_clusters"] = f"""
WITH RECURSIVE tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
shl AS (
  SELECT doc_id,
         CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
              WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_transform(range(len(toks) - 2),
                                  i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
         END AS shingles
  FROM tl
),
dsh AS (SELECT DISTINCT doc_id, s.shingle FROM shl, UNNEST(shingles) AS s(shingle)),
mh AS (SELECT doc_id, {band_mins} FROM dsh GROUP BY doc_id),
keys AS ({band_union}),
cand AS (
  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
  FROM keys l JOIN keys r ON l.band = r.band AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
dtoks2 AS (SELECT DISTINCT doc_id, t.token FROM tl, UNNEST(toks) AS t(token)),
sizes AS (SELECT doc_id, count(*) AS n_tok FROM dtoks2 GROUP BY doc_id),
inter AS (
  SELECT p.left_id, p.right_id, count(*) AS n_inter
  FROM cand p
  JOIN dtoks2 lt ON lt.doc_id = p.left_id
  JOIN dtoks2 rt ON rt.doc_id = p.right_id AND rt.token = lt.token
  GROUP BY p.left_id, p.right_id
),
edges AS (
  SELECT p.left_id, p.right_id
  FROM cand p
  LEFT JOIN inter i ON i.left_id = p.left_id AND i.right_id = p.right_id
  LEFT JOIN sizes ls ON ls.doc_id = p.left_id
  LEFT JOIN sizes rs ON rs.doc_id = p.right_id
  WHERE round(CASE WHEN coalesce(ls.n_tok, 0) + coalesce(rs.n_tok, 0) - coalesce(i.n_inter, 0) > 0
                   THEN coalesce(i.n_inter, 0)
                        / (coalesce(ls.n_tok, 0) + coalesce(rs.n_tok, 0) - coalesce(i.n_inter, 0))
                   ELSE 0.0 END, 6) >= 0.8
),
sym AS (
  SELECT left_id AS u, right_id AS v FROM edges
  UNION
  SELECT right_id, left_id FROM edges
),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v WHERE s.v <> r.u
),
labels AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u)
SELECT d.doc_id,
       coalesce(least(l.doc_id, l.mn), d.doc_id) AS cluster_id,
       (coalesce(least(l.doc_id, l.mn), d.doc_id) = d.doc_id) AS is_canonical
FROM documents d
LEFT JOIN labels l ON l.doc_id = d.doc_id
"""

    # er_pipeline_clusters: transitive closure over the threshold-edge
    # set (the same edge SQL as threshold_filter) via WITH RECURSIVE
    # min-label reachability — cluster_id = min doc_id of the component,
    # singletons self-labeled. Closes the last no_oracle exemption: the
    # CC fixpoint is now hash-checked against DuckDB.
    o["er_pipeline_clusters"] = (
        _TFIDF_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
        + f""",
pairs AS ({_SRC_PAIRS_SQL}),
edges AS (
  SELECT p.left_id, p.right_id
  FROM pairs p
  JOIN post pl ON pl.doc_id = p.left_id
  JOIN post pr ON pr.doc_id = p.right_id AND pr.token = pl.token
  GROUP BY p.left_id, p.right_id
  HAVING round(sum(pl.tfidf * pr.tfidf), 6) >= 0.002
),
sym AS (
  SELECT left_id AS u, right_id AS v FROM edges
  UNION
  SELECT right_id, left_id FROM edges
),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v WHERE s.v <> r.u
),
labels AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u)
SELECT d.doc_id, coalesce(least(l.doc_id, l.mn), d.doc_id) AS cluster_id
FROM documents d
LEFT JOIN labels l ON l.doc_id = d.doc_id
"""
    )
    return o
