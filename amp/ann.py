"""Approximate-nearest-neighbor search over an embedding column.

Two paths:
  brute_force_topk — exact cosine top-k: query x corpus join + window.
                     Correct baseline; O(q·n) dot products, fine when
                     the query side is small or broadcastable.
  lsh_topk         — random-hyperplane LSH: sign-bit bucket per vector,
                     candidates restricted to (multi-probe) bucket
                     matches, then exact cosine + top-k. The scale path:
                     the corpus-side shuffle key is the bucket, so work
                     per query is ~n / 2^bits instead of n.

Dot products run JVM-side (zip_with + aggregate) — no Python in the
hot path. Hyperplanes are seeded constants folded into the plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(vec_col: str):
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _dot(l: str, r: str):
    return F.expr(
        f"aggregate(zip_with({l}, {r}, (x, y) -> x * y), 0.0D, (a, v) -> a + v)"
    )


def _norm(c: str):
    return F.sqrt(F.expr(f"aggregate({c}, 0.0D, (a, x) -> a + x * x)"))


_GEMM_QUERIES_MAX = 100_000


def _gemm_scores(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    exclude_self: bool,
    drop_zero_norm: bool,
    as_distance: bool,
):
    """(query_id, corpus_id, raw) via one float64 GEMM per corpus batch
    against a driver-collected query matrix, or None when the query
    side exceeds the collect gate (callers fall back to the broadcast
    join). The corpus streams once and never shuffles; raw cosines are
    rounded Spark-side so the oracle comparison stays unchanged."""
    import numpy as np
    import pandas as pd

    qp = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .limit(_GEMM_QUERIES_MAX + 1)
        .toPandas()
    )
    if len(qp) > _GEMM_QUERIES_MAX:
        return None
    Q = np.asarray([np.asarray(v, dtype=np.float64) for v in qp["qv"]])
    qids = qp["qid"].to_numpy()
    if len(Q):
        qn = np.sqrt((Q * Q).sum(axis=1))
        if drop_zero_norm:
            keep = qn > 0
            Q, qn, qids = Q[keep], qn[keep], qids[keep]
    else:
        qn = np.zeros(0)
    bc = corpus.sparkSession.sparkContext.broadcast((qids, Q, qn))

    id_dtype = dict(corpus.dtypes)[id_col]
    id_ddl = "string" if id_dtype == "string" else "long"

    def fn(batches):
        qids_, Q_, qn_ = bc.value
        for pdf in batches:
            if not len(pdf) or not len(Q_):
                continue
            C = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["cid_v"]])
            cn = np.sqrt((C * C).sum(axis=1))
            cids = pdf["cid"].to_numpy()
            if drop_zero_norm:
                keep = cn > 0
                C, cn, cids = C[keep], cn[keep], cids[keep]
            if not len(C):
                continue
            with np.errstate(invalid="ignore", divide="ignore"):
                raw = (C @ Q_.T) / np.outer(cn, qn_)
            if as_distance:
                raw = 1.0 - raw
            n, m = raw.shape
            qcol = np.tile(qids_, n)
            ccol = np.repeat(cids, m)
            rawf = raw.ravel()
            if exclude_self:
                mask = qcol != ccol
                qcol, ccol, rawf = qcol[mask], ccol[mask], rawf[mask]
            yield pd.DataFrame(
                {"query_id": qcol, "corpus_id": ccol, "raw": rawf}
            )

    from .session import spread_to_cores

    src = spread_to_cores(
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cid_v"))
    )
    return src.mapInPandas(
        fn, f"query_id {id_ddl}, corpus_id {id_ddl}, raw double"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (self-matches
    excluded). Broadcast the query side — at scale the corpus streams
    once and never shuffles. Zero-norm vectors are excluded on both
    sides: their cosine is NaN, and Spark sorts NaN ABOVE every real
    double in a descending window, so an all-zero embedding would
    otherwise take rank 1 for every query."""
    # Round 6 (guide §4.2): the query batch collects to the driver (it
    # is the bounded side by contract — same gate policy as the scorer
    # broadcasts) and each corpus batch scores against ALL queries in
    # one float64 GEMM, replacing a per-(corpus x query) interpreted
    # aggregate/zip_with lambda. Corpus still streams exactly once and
    # never shuffles; the join fallback remains for huge query batches.
    scored = _gemm_scores(
        corpus, queries, id_col, vec_col,
        exclude_self=True, drop_zero_norm=True, as_distance=False,
    )
    if scored is None:
        c = (
            corpus.select(F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("cv"))
            .withColumn("cn", _norm("cv"))
            .where(F.col("cn") > 0)
        )
        q = (
            queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
            .withColumn("qn", _norm("qv"))
            .where(F.col("qn") > 0)
        )
        scored = (
            c.join(F.broadcast(q))
            .where(F.col("query_id") != F.col("corpus_id"))
            .select(
                "query_id", "corpus_id",
                (_dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("raw"),
            )
        )
    scored = scored.withColumn("cosine", F.round("raw", 6))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "cosine", "rnk")
    )


def provided_embedding_match(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    max_distance: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reference match semantics over a PROVIDED (precomputed) embedding
    column: cosine-DISTANCE filter then rank per query — the Spark form
    of `embedding <=> $1 <= 0.12` + `RANK() OVER (ORDER BY similarity)`
    (internal/matcher/match.sql:21,66,79), for users bringing model
    vectors instead of the hashing-trick ones (the
    scoring.attach_embeddings ingest path). Query side broadcasts; the
    corpus streams once and never shuffles."""
    scored = _gemm_scores(
        corpus, queries, id_col, vec_col,
        exclude_self=False, drop_zero_norm=False, as_distance=True,
    )
    if scored is None:
        c = corpus.select(
            F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("cv")
        ).withColumn("cn", _norm("cv"))
        q = queries.select(
            F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
        ).withColumn("qn", _norm("qv"))
        scored = c.join(F.broadcast(q)).select(
            "query_id", "corpus_id",
            (F.lit(1.0) - _dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("raw"),
        )
    scored = scored.withColumn("distance", F.round("raw", 6)).where(
        F.col("distance") <= max_distance
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("corpus_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "distance", "rnk")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: partition the corpus into inverted lists by
    nearest centroid; queries probe only the ``n_probe`` nearest lists,
    then exact cosine + top-k inside them — work per query is
    ~n * n_probe / n_centroids instead of n.

    BUILD phase: the centroids are the ``n_centroids`` lowest-id corpus
    vectors, a deterministic, oracle-checkable stand-in for trained
    k-means centroids. The build collects only C tiny rows once. List
    ASSIGNMENT and query PROBING run as one Arrow-batched numpy kernel
    each (scan-side, no shuffle): ||v-c||^2 = ||v||^2 - 2 v.C^T +
    ||c||^2 via a single (batch x C) GEMM, argmin ties to the lowest centroid id — the same
    ordering as the SQL oracle's per-term sum up to FP ulps (the two
    formulations can disagree only when two centroid distances differ
    by less than the cancellation error, ~1e-13 relative; verified
    hash-exact on the oracle corpora). An earlier all-expression variant
    folded C x dim literals into the plan; with 16 x 64 centroids the
    ~1000-literal tree cost SECONDS of Catalyst analysis per run, so
    only the centroid-free parts (exact cosine, top-k window) stay as
    JVM expressions. Recall is tunable via n_probe (n_probe ==
    n_centroids degenerates to exact brute force)."""
    # the n_centroids LOWEST-ID vectors (not `id < n_centroids`, which
    # assumes a 0-based contiguous id space)
    rows = (
        corpus.select(F.col(id_col).alias("i"), _as_double(vec_col).alias("v"))
        .orderBy("i")
        .limit(n_centroids)
        .collect()
    )
    centroids = [list(r["v"]) for r in rows]
    if len(centroids) < n_centroids:
        raise ValueError(
            f"ivf_topk: corpus has only {len(centroids)} vectors for "
            f"n_centroids={n_centroids}"
        )
    if len(centroids) < n_probe:
        raise ValueError("n_probe exceeds centroid count")

    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)
    dim = C.shape[1]

    def _d2(pdf, col):
        """(batch x C) squared distances via one GEMM. Ordering (all
        that downstream consumes) matches the oracle's per-term sum;
        ties broken by LOWER centroid id (argmin/stable argsort)."""
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[col]])
        if V.shape[1] != dim:
            raise ValueError(
                f"ivf_topk: vector dim {V.shape[1]} != centroid dim {dim}"
            )
        return (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c_sq[None, :]

    def assign_fn(batches):
        for pdf in batches:
            if len(pdf):
                pdf = pdf.assign(
                    list_id=_d2(pdf, "cv").argmin(axis=1).astype("int32")
                )
            else:
                pdf = pdf.assign(list_id=np.array([], dtype="int32"))
            yield pdf

    def probe_fn(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {"query_id": pdf["query_id"], "qv": pdf["qv"],
                     "list_id": np.array([], dtype="int32")}
                )
                continue
            # stable argsort = distance order, ties -> lower centroid id;
            # explode the n_probe nearest lists here (n_probe rows/query)
            order = np.argsort(_d2(pdf, "qv"), axis=1, kind="stable")[:, :n_probe]
            idx = np.repeat(np.arange(len(pdf)), n_probe)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].values[idx],
                    "qv": pdf["qv"].values[idx],
                    "list_id": order.reshape(-1).astype("int32"),
                }
            )

    c_schema = f"corpus_id {dict(corpus.dtypes)[id_col]}, cv array<double>, list_id int"
    q_schema = f"query_id {dict(queries.dtypes)[id_col]}, qv array<double>, list_id int"
    c = (
        corpus.select(F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("cv"))
        # NULL and wrong-dim vectors must drop BEFORE the kernel:
        # np.stack cannot mix a scalar nan with 1-d rows, and an empty
        # or ragged array yields shape (n, 0) / raises inside the
        # executor. The expression path dropped NULLs via the cn>0
        # guard; the dim filter keeps the same fail-silent policy as
        # brute_force_topk/lsh_topk for malformed vectors
        .where(F.col("cv").isNotNull() & (F.size("cv") == dim))
        .mapInPandas(assign_fn, c_schema)
        .withColumn("cn", _norm("cv"))
        # zero-norm guard: NaN cosine ranks first in a desc window
        .where(F.col("cn") > 0)
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
        .where(F.col("qv").isNotNull() & (F.size("qv") == dim))
        .mapInPandas(probe_fn, q_schema)
        .withColumn("qn", _norm("qv"))
        .where(F.col("qn") > 0)
        .select("query_id", "qv", "qn", "list_id")
    )
    scored = (
        c.join(F.broadcast(q), "list_id")
        .where(F.col("query_id") != F.col("corpus_id"))
        .withColumn(
            "cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "cosine", "rnk")
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((bits, dim)).round(6).tolist()


def bucket_expr(vec_col: str, planes: list[list[float]]):
    """Sign-bit bucket id: bit j = 1 iff dot(v, plane_j) > 0. Each
    hyperplane is a literal array folded into the plan (broadcast of a
    frequency-dictionary-sized constant)."""
    bucket = F.lit(0)
    for j, p in enumerate(planes):
        dot = F.expr(
            f"aggregate(zip_with({vec_col}, array({','.join(str(float(x)) for x in p)}), "
            f"(x, y) -> x * y), 0.0D, (a, v) -> a + v)"
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
    probe_hamming: int = 1,
) -> DataFrame:
    """Bucketed ANN: join only within matching hyperplane-sign buckets,
    multi-probing the query side out to ``probe_hamming`` bit flips
    (h=1 -> bits+1 probes per query: near-misses on one plane's sign
    are the dominant recall loss, and flipping single bits recovers
    them at (bits+1)/2^bits of the brute-force cost). ``dim`` is a
    parameter — never inferred with a driver-side action in the plan's
    hot path. Recall < 1 by construction; measured on the driver
    fixture and gated >= 0.95 on planted clusters in
    tests/test_dedup_scale.py. Raise ``bits`` for speed, raise
    ``probe_hamming`` for recall."""
    if dim is None:
        # never guess: planes of the wrong dim zip_with-pad to null
        # dots and silently collapse every vector into bucket 0
        raise ValueError("lsh_topk: pass dim= (the embedding dimension) explicitly")
    planes = _hyperplanes(dim, bits, seed)

    c = (
        corpus.select(F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("cv"))
        .withColumn("bucket", bucket_expr("cv", planes))
        # norms once per record, not once per candidate pair; zero-norm
        # vectors excluded (NaN cosine would rank first, see brute force)
        .withColumn("cn", _norm("cv"))
        .where(F.col("cn") > 0)
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
        .withColumn("bucket0", bucket_expr("qv", planes))
        .withColumn("qn", _norm("qv"))
        .where(F.col("qn") > 0)
    )

    # probe set: exact bucket + every bucket within probe_hamming bit flips.
    # Probes are distinct values and a corpus vector lives in exactly one
    # bucket, so no candidate dedup is needed after the join.
    def _probes(h: int) -> list:
        from itertools import combinations

        masks = []
        for r in range(min(h, bits) + 1):
            for flip in combinations(range(bits), r):
                m = 0
                for j in flip:
                    m |= 1 << j
                masks.append(m)
        return masks

    q = q.withColumn(
        "bucket",
        F.explode(
            F.array(*[F.col("bucket0").bitwiseXOR(F.lit(m)) for m in _probes(probe_hamming)])
        ),
    ).select("query_id", "qv", "qn", "bucket")

    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("corpus_id"))
        .withColumn(
            "cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "cosine", "rnk")
    )
