"""Stage 4 — pairwise scoring.

The reference scores each candidate pair with six per-field n-gram
frequency cosines + a pgvector cosine + the tf-idf dot, then combines
them with fixed weights and clamps to [1,100]
(internal/matcher/matcher.go:160-208, match.sql:21,65). Same shape
here, re-targeted at code records:

  feature            reference analog                       computed from
  tfidf_cosine       tfidf_score (match.sql:65)             tfblob sorted-hash intersection
  jaccard_est        binary-key match (shared.go:79-101)    MinHash positional agreement
  emb_cosine         pgvector <=> (match.sql:21)            int8 hashed (or provided) vectors
  path_jw            trigram_cosine_first/last_name         batched Jaro-Winkler on path stem
  path_lev_sim       —  (north_rule requires Levenshtein)   batched Levenshtein on path stem
  lang_match         state/zip equality attrs               lang equality

Two Arrow-batched passes do all the Python work:
side_features_onepass builds every per-record feature (signature,
embedding, packed tf-idf vector) once, and score_pairs_onepass joins
both sides onto each candidate pair and computes every similarity plus
the weighted composite in one numpy kernel per batch. A query batch
takes the query kernel instead: the normalize kernel and the same side
kernel composed over raw files. query_side_features runs it in one
Python worker pass over a files DataFrame; query_side_rows runs it in
the driver over one pandas frame of rows already there (a served
request's), with no Python worker at all.
"""

from __future__ import annotations

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import AmpConfig, DEFAULT_CONFIG


# ---------------------------------------------------------------------------
# Jaro-Winkler — classic Winkler variant (boost only when jaro > 0.7,
# prefix capped at 4, weight 0.1), matching DuckDB's
# jaro_winkler_similarity so the oracle comparison is exact.
# ---------------------------------------------------------------------------

def jaro(s1: str, s2: str) -> float:
    if not s1 or not s2:
        return 0.0
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    window = max(len1, len2) // 2 - 1
    if window < 0:
        window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    m = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(len2, i + window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = True
                flags2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    return (m / len1 + m / len2 + (m - t) / m) / 3.0


def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1, threshold: float = 0.7) -> float:
    j = jaro(s1, s2)
    if j > threshold:
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            prefix += 1
        j += prefix * prefix_weight * (1.0 - j)
    return j


# ---------------------------------------------------------------------------
# one-pass per-record feature kernel
# ---------------------------------------------------------------------------

# Transport-compact encoding: the feature table is shipped through the
# pair join TWICE (left/right side) and each left record's payload is
# REPEATED once per pair in the join-1 intermediate, so row width is
# the #1 shuffle item in the stage budget (measured ~1.6 GB read at
# 280k records with int64/float64 arrays; shrinking raw rows helps the
# high-parallelism level disproportionately, because finer reduce
# partitioning shreds the repeated payloads across more shuffle blocks
# where compression can no longer deduplicate them). Encoding:
#   sig        int32 folds — positional agreement preserved exactly.
#              NB int16 was tried and REVERTED: band keys are built
#              from these folds, and candidate pairs that truly agree
#              on 3 of a band's 4 rows get a 2^-15 false fourth —
#              measured +2,027 spurious candidates on a 14.6k-record
#              corpus (+52% pairs at 280k) vs +0 for int32. The 64B/row
#              saving is not worth 1.5x the scorer work.
#   embedding  int8-quantized unit vector (x127); cosine error <~1e-2
#              on a 0.15-weight feature. attach_embeddings may replace
#              it with float provided vectors — the scorer computes
#              norms in-batch so both dtypes score correctly
#   tfblob     packed bytes: n(u4) | token hashes i4*n (sorted,unique) |
#              weights as int16 fixed-point i2*n | scale f4 | norm f4 —
#              one binary column instead of three array columns (no
#              per-array UnsafeRow headers); relative weight error
#              ~3e-5 of the row max
SIDE_SCHEMA = (
    "record_id string, stem string, lang string, sig array<int>, "
    "embedding array<tinyint>, tfblob binary"
)


def pack_tfblob(hashes: "np.ndarray", weights: "np.ndarray") -> bytes:
    """(sorted unique int32 hashes, float weights) -> packed bytes.
    See SIDE_SCHEMA. Empty vectors pack to n=0 with norm 0."""
    import numpy as np

    n = len(hashes)
    if n == 0:
        return (
            np.uint32(0).tobytes()
            + np.float32(1.0).tobytes()
            + np.float32(0.0).tobytes()
        )
    wmax = float(weights.max())
    scale = (wmax / 32767.0) if wmax > 0 else 1.0
    q = np.round(weights / scale).astype(np.int16)
    # norm in the QUANTIZED domain so self-cosine is exactly 1.0
    norm = float(scale * np.sqrt(float((q.astype(np.float64) ** 2).sum())))
    return (
        np.uint32(n).tobytes()
        + hashes.astype(np.int32).tobytes()
        + q.tobytes()
        + np.float32(scale).tobytes()
        + np.float32(norm).tobytes()
    )


def unpack_tfblob(blob: bytes):
    """-> (hashes int32[n], q int16[n], scale, norm) — zero-copy views."""
    import numpy as np

    n = int(np.frombuffer(blob, dtype=np.uint32, count=1)[0])
    h = np.frombuffer(blob, dtype=np.int32, count=n, offset=4)
    q = np.frombuffer(blob, dtype=np.int16, count=n, offset=4 + 4 * n)
    scale, norm = np.frombuffer(blob, dtype=np.float32, count=2, offset=4 + 6 * n)
    return h, q, float(scale), float(norm)


def _unpack_blobs_cat(blobs):
    """Distinct tfblobs -> concatenated (hashes, q, offsets, lens,
    scale, norm) arrays: one frombuffer pass per DISTINCT blob, then
    every per-pair operation is numpy over the concatenation."""
    import numpy as np

    n_b = len(blobs)
    hs, qs = [], []
    lens = np.zeros(n_b, dtype=np.int64)
    scale = np.zeros(n_b, dtype=np.float64)
    norm = np.zeros(n_b, dtype=np.float64)
    for i, b in enumerate(blobs):
        h, q, sc, nm = unpack_tfblob(b)
        hs.append(h)
        qs.append(q)
        lens[i] = len(h)
        scale[i] = sc
        norm[i] = nm
    h_cat = np.concatenate(hs) if hs else np.zeros(0, dtype=np.int32)
    q_cat = np.concatenate(qs) if qs else np.zeros(0, dtype=np.int16)
    off = np.zeros(n_b + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    return h_cat, q_cat, off, lens, scale, norm


# memory cap for the vectorized intersection: unique (l,r) blob pairs
# are processed in chunks whose total query elements stay under this,
# bounding the repeated-index scratch arrays (~9 arrays x 8 B x cap)
# regardless of Arrow batch size or token-heavy records
_TFDOT_CHUNK_ELEMS = 4_000_000


def tfblob_dots_batch(l_col, r_col):
    """Vectorized tf-idf (dot, cosine) over aligned tfblob columns —
    bit-identical to the scalar per-pair searchsorted intersection
    (products and partial sums are int16*int16 accumulations, exactly
    representable in float64, so summation order cannot change the
    result; asserted against the scalar twin in tests).

    Shape: factorize each side to DISTINCT blobs, reduce the batch to
    DISTINCT (l, r) blob pairs (pairs repeat heavily — every record
    scores against many candidates), then resolve ALL intersections in
    one composite-key searchsorted: left hashes become
    (l_blob_id << 32) | (hash + 2^31) — sorted by construction because
    per-blob hash arrays arrive sorted from pack_tfblob — and every
    right-side element queries that space tagged with its pair's left
    blob id. Matched weight products group-sum by pair via bincount.
    No Python statement executes per pair."""
    import numpy as np
    import pandas as pd

    n = len(l_col)
    if n == 0:
        return np.zeros(0), np.zeros(0)
    l_codes, l_blobs = pd.factorize(l_col)
    r_codes, r_blobs = pd.factorize(r_col)
    # a null blob factorizes to code -1 and would silently index the
    # LAST distinct blob (another record's features). Unreachable while
    # the pair feed is an inner join on both sides — fail loudly if a
    # future outer-join feed ever breaks that invariant.
    if l_codes.min() < 0 or r_codes.min() < 0:
        raise ValueError(
            "null tfblob in scorer input — pairs must inner-join both "
            "feature sides"
        )
    lh, lq, loff, llen, lsc, lnorm = _unpack_blobs_cat(l_blobs)
    rh, rq, roff, rlen, rsc, rnorm = _unpack_blobs_cat(r_blobs)

    n_r = max(len(r_blobs), 1)
    pair_key = l_codes.astype(np.int64) * n_r + r_codes
    ukey, inv = np.unique(pair_key, return_inverse=True)
    up_l = ukey // n_r
    up_r = ukey % n_r
    m = len(ukey)

    dots_u = np.zeros(m)
    if len(lh):
        # left composite keys: (blob_id << 32) | hash lifted to uint32
        # order-preservingly (+2^31) — globally sorted because blob ids
        # ascend and per-blob hashes are sorted+unique
        lkeys = (
            np.repeat(np.arange(len(l_blobs), dtype=np.int64), llen) << 32
        ) | (lh.astype(np.int64) + (1 << 31))
        q_lens = rlen[up_r]
        cum = np.zeros(m + 1, dtype=np.int64)
        np.cumsum(q_lens, out=cum[1:])
        lo = 0
        while lo < m:
            hi = int(np.searchsorted(cum, cum[lo] + _TFDOT_CHUNK_ELEMS))
            hi = max(hi - 1, lo + 1)
            sl = slice(lo, hi)
            tot = int(cum[hi] - cum[lo])
            if tot:
                cl = q_lens[sl]
                pidx = np.repeat(np.arange(lo, hi, dtype=np.int64), cl)
                # ragged arange into the right-side concatenation
                ends = np.cumsum(cl)
                local = np.arange(tot, dtype=np.int64) - np.repeat(
                    ends - cl, cl
                )
                idx = np.repeat(roff[up_r[sl]], cl) + local
                qkeys = (up_l[pidx] << 32) | (
                    rh[idx].astype(np.int64) + (1 << 31)
                )
                pos = np.minimum(
                    np.searchsorted(lkeys, qkeys), len(lkeys) - 1
                )
                hit = lkeys[pos] == qkeys
                if hit.any():
                    contrib = lq[pos[hit]].astype(np.float64) * rq[
                        idx[hit]
                    ].astype(np.float64)
                    dots_u[sl] += np.bincount(
                        pidx[hit] - lo, weights=contrib, minlength=hi - lo
                    )
            lo = hi
    dots_u = dots_u * lsc[up_l] * rsc[up_r]
    dots = dots_u[inv]
    den = lnorm[l_codes] * rnorm[r_codes]
    with np.errstate(invalid="ignore", divide="ignore"):
        coss = np.where(den > 0, dots / den, 0.0)
    return dots, coss


def _side_kernel(idf: dict[int, float] | Broadcast, cfg: AmpConfig):
    """The per-record feature kernel over Arrow batches carrying
    (record_id, stem, lang, norm_text): one output row per input row in
    SIDE_SCHEMA. Shared by side_features_onepass (a records or reps
    table) and the query kernel (raw files, normalized in the same
    pass). ``idf`` is a Broadcast on every executor path — the kernel is
    pickled into a closure there, and a dict would ship with it — and
    the dictionary itself only when the kernel runs in the driver."""
    import zlib
    from collections import Counter
    from collections.abc import Iterator

    import numpy as np

    from .blocking import _MERSENNE_P, _minhash_coeffs

    a, b = _minhash_coeffs(cfg)
    a_arr = np.array(a, dtype=np.int64)[:, None]
    b_arr = np.array(b, dtype=np.int64)[:, None]
    k = cfg.shingle_k
    dim = cfg.emb_dim

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idf_local = idf.value if isinstance(idf, Broadcast) else idf
        # Per-worker token memo: a code corpus reuses its vocabulary
        # across documents, so the crc32 pair + idf lookup per token is
        # computed once per PARTITION instead of once per occurrence
        # (bit-identical values; pure caching). Bounded by the
        # partition's vocabulary — the same driver-bounded quantity as
        # the broadcast idf dict itself.
        tok_memo: dict[str, tuple[int, float, int, float]] = {}

        def tok_info(t: str) -> tuple[int, float, int, float]:
            v = tok_memo.get(t)
            if v is None:
                th = zlib.crc32(b"c:" + t.encode())
                he = zlib.crc32(t.encode())
                v = (
                    th,
                    idf_local.get(th, 0.0),
                    he % dim,
                    1.0 if (he >> 16) & 1 else -1.0,
                )
                tok_memo[t] = v
            return v

        for pdf in batches:
            out = {c: [] for c in ("sig", "embedding", "tfblob")}
            for text in pdf["norm_text"]:
                toks = text.split() if text else []
                # --- minhash over k-token shingles ---
                if len(toks) < k:
                    shingles = {" ".join(toks)}
                else:
                    shingles = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
                h = np.fromiter(
                    (zlib.crc32(sh.encode()) for sh in shingles), dtype=np.int64
                )
                sig64 = ((a_arr * h[None, :] + b_arr) % _MERSENNE_P).min(axis=1)
                # fold to int32 for transport: positional agreement is
                # preserved exactly; disagreement collides at 2^-31
                # (int16 rejected — see SIDE_SCHEMA note)
                out["sig"].append((sig64 & 0x7FFFFFFF).astype(np.int32))
                # --- hashing-trick embedding + tf-idf vector ---
                emb = np.zeros(dim, dtype=np.float32)
                c = Counter(toks)
                n = len(toks) or 1
                hashes = np.empty(len(c), dtype=np.int64)
                weights = np.empty(len(c), dtype=np.float64)
                for i, (t, cnt) in enumerate(c.items()):
                    th, idf_v, e_idx, e_sign = tok_info(t)
                    hashes[i] = th
                    weights[i] = (cnt / n) * idf_v
                    emb[e_idx] += e_sign
                enorm = float(np.linalg.norm(emb))
                if enorm > 0:
                    emb /= enorm
                # int32 wrap for transport, then sort/merge on the
                # WRAPPED values so both sides intersect consistently;
                # collisions (native crc32 or wrap-induced) merge their
                # weights so the scorer's assume_unique precondition holds
                h32 = hashes.astype(np.uint32).view(np.int32)
                order = np.argsort(h32)
                h_s, w_s = h32[order], weights[order]
                uh, first = np.unique(h_s, return_index=True)
                if len(uh) < len(h_s):
                    w_s = np.add.reduceat(w_s, first)
                    h_s = uh
                out["embedding"].append(
                    np.clip(np.round(emb * 127.0), -127, 127).astype(np.int8)
                )
                out["tfblob"].append(pack_tfblob(h_s, w_s))
            yield pd.DataFrame(
                {
                    "record_id": pdf["record_id"],
                    "stem": pdf["stem"],
                    "lang": pdf["lang"],
                    **out,
                }
            )

    return fn


def _idf_handle(spark: SparkSession, idf: dict[int, float] | Broadcast) -> Broadcast:
    return idf if isinstance(idf, Broadcast) else spark.sparkContext.broadcast(idf)


def side_features_onepass(
    reps: DataFrame,
    idf: dict[int, float] | Broadcast,
    cfg: AmpConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """ALL per-record scoring features in ONE Arrow-batched pass:
    MinHash signature, hashing-trick embedding, and the tf-idf sparse
    vector (token hashes sorted + weights + L2 norm) weighted by the
    broadcast IDF dict. Every feature comes out of the same pass, so
    the pair scorer needs exactly two record-sized equi-joins.

    ``idf`` is the dictionary (broadcast here, once per call) or an
    existing Broadcast handle of it — a MatchIndex holds one per index
    version so its writes and requests never re-ship the dictionary.

    This is the Spark shape of the reference's per-record feature
    tables (customer_keys / customer_tokens / customer_vector_embedding,
    init_db.sql:78-115) — except materialized in one pass instead of
    three Postgres round-trips."""
    fn = _side_kernel(_idf_handle(reps.sparkSession, idf), cfg)
    return reps.select("record_id", "stem", "lang", "norm_text").mapInPandas(
        fn, SIDE_SCHEMA
    )


def query_side_features(
    files: DataFrame,
    idf: dict[int, float] | Broadcast,
    cfg: AmpConfig = DEFAULT_CONFIG,
    run_id: int = 1,
) -> DataFrame:
    """repo_files -> side features in ONE Python pass: every Arrow batch
    goes through the normalize kernel and straight into the side kernel,
    so a query batch pays one Python worker round trip, not two, and
    never materializes its records table. Row for row equal to
    ``side_features_onepass(normalize.normalize(files, cfg, run_id),
    idf, cfg)`` (tested)."""
    kernel = _query_kernel(_idf_handle(files.sparkSession, idf), cfg, run_id)
    return files.mapInPandas(kernel, SIDE_SCHEMA)


def query_side_rows(
    files: pd.DataFrame,
    idf: dict[int, float],
    cfg: AmpConfig = DEFAULT_CONFIG,
    run_id: int = 1,
) -> pd.DataFrame:
    """The query kernel run in this process over one pandas frame of
    repo_files rows (repo, path, commit, lang, content) with the IDF
    dictionary itself: the SIDE_SCHEMA rows query_side_features emits
    for the same rows (tested byte-equal), as pandas. For rows that are
    already Python objects in the driver (a served request's), so no
    Python worker runs to featurize them."""
    return next(_query_kernel(idf, cfg, run_id)(iter([files])))


def _query_kernel(idf: dict[int, float] | Broadcast, cfg: AmpConfig, run_id: int):
    """repo_files batches -> SIDE_SCHEMA batches: the normalize kernel
    feeding the side kernel, one batch at a time."""
    from .normalize import _normalize_batches

    norm_fn = _normalize_batches(cfg, run_id)
    side_fn = _side_kernel(idf, cfg)
    return lambda batches: side_fn(norm_fn(batches))


def attach_embeddings(
    sides: DataFrame,
    provided: DataFrame,
    id_col: str = "record_id",
    vec_col: str = "embedding",
    expected_ids: DataFrame | None = None,
) -> DataFrame:
    """Ingest hook for PRECOMPUTED semantic embeddings: replace the
    hashing-trick vectors in a feature table with user-provided ones
    (unit-normalized JVM-side), closing the gap to the reference's
    spaCy 300-d vectors (python-ml/generate_embeddings.py:43,63-67
    feeding match.sql:21's cosine-distance filter) — bring-your-own
    model, same record -> vector -> cosine shape.

    Coverage must be total: the pair scorer dots left x right vectors,
    so mixing provided-dim and hash-dim vectors across records would
    score garbage (or crash) on mixed pairs. A provided table that
    misses records is a hard error, never a silent fallback."""
    p = provided.select(
        F.col(id_col).alias("record_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("float")).alias("p_emb"),
    )
    # coverage check: validate against ``expected_ids`` when the caller
    # has a cheap id source (reps/records — 1:1 with sides). Falling
    # back to sides itself is correct but expensive: sides is a
    # mapInPandas output, so selecting just record_id still executes
    # the whole feature kernel for this validation action.
    id_universe = expected_ids if expected_ids is not None else sides
    n_missing = (
        id_universe.select("record_id")
        .join(p.select("record_id"), "record_id", "left_anti")
        .count()
    )
    if n_missing:
        raise ValueError(
            f"attach_embeddings: {n_missing} records have no provided embedding; "
            "provided vectors must cover every record (no mixed-dim scoring)"
        )
    # duplicates would silently fan out the feature table through the
    # left join — same hard-error contract as missing coverage
    n_dup_ids = (
        p.groupBy("record_id").count().where(F.col("count") > 1).limit(1).count()
    )
    if n_dup_ids:
        raise ValueError(
            "attach_embeddings: provided embeddings contain duplicate record_ids; "
            "exactly one vector per record is required"
        )
    joined = sides.drop("embedding").join(p, "record_id", "left")
    norm = F.sqrt(
        F.expr("aggregate(p_emb, 0.0D, (a, x) -> a + cast(x as double) * cast(x as double))")
    )
    unit = F.when(norm > 0, F.transform(F.col("p_emb"), lambda x: (x / norm).cast("float"))).otherwise(
        F.col("p_emb")
    )
    return joined.withColumn("embedding", unit).drop("p_emb")


def levenshtein(s1: str, s2: str) -> int:
    """Classic edit distance (matches F.levenshtein / DuckDB
    levenshtein). Strings here are path stems (short)."""
    if s1 == s2:
        return 0
    if not s1:
        return len(s2)
    if not s2:
        return len(s1)
    if len(s1) < len(s2):
        s1, s2 = s2, s1
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1):
        cur = [i + 1]
        for j, c2 in enumerate(s2):
            cur.append(min(prev[j + 1] + 1, cur[j] + 1, prev[j] + (c1 != c2)))
        prev = cur
    return prev[-1]


def _encode_codepoints(strs, pad: int) -> tuple["np.ndarray", "np.ndarray"]:
    """list of python strings -> (lengths int32[m], codepoint matrix
    int64[m, maxlen] padded with ``pad``). Pads must differ between the
    two sides so padded positions never compare equal."""
    import numpy as np

    lens = np.fromiter((len(s) for s in strs), dtype=np.int32, count=len(strs))
    maxlen = int(lens.max()) if len(lens) else 0
    out = np.full((len(strs), max(maxlen, 1)), pad, dtype=np.int64)
    for r, s in enumerate(strs):
        if s:
            out[r, : len(s)] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
    return lens, out


def stem_sims_batch(l_stems, r_stems) -> tuple["np.ndarray", "np.ndarray"]:
    """Batch-vectorized (jaro_winkler, normalized levenshtein similarity)
    over aligned stem arrays — bit-identical to the scalar
    jaro_winkler()/levenshtein() (hypothesis-asserted in tests), but the
    loops run over CHARACTER POSITIONS with numpy ops across the batch
    dimension instead of a Python loop per pair. Identical (l, r) pairs
    are computed once (stems repeat heavily across candidate pairs —
    the path blocking pass guarantees it).

    Public techniques: batched DP rows for Levenshtein with the
    prefix-min recurrence resolved by np.minimum.accumulate; Jaro's
    greedy window matching iterated position-by-position with boolean
    masks; transposition count via cumsum-ordered scatter of matched
    characters."""
    import numpy as np
    import pandas as pd

    n = len(l_stems)
    if n == 0:
        return np.zeros(0), np.zeros(0)
    ls = pd.Series(l_stems, dtype=object).fillna("")
    rs = pd.Series(r_stems, dtype=object).fillna("")
    cl, ul = pd.factorize(ls)
    cr, ur = pd.factorize(rs)
    pair_key = cl.astype(np.int64) * len(ur) + cr
    ukey, inv = np.unique(pair_key, return_inverse=True)
    u_l = ul[(ukey // len(ur)).astype(np.int64)]
    u_r = ur[(ukey % len(ur)).astype(np.int64)]

    m = len(ukey)
    la, A = _encode_codepoints(u_l, pad=-1)
    lb, B = _encode_codepoints(u_r, pad=-2)
    Lamax, Lbmax = A.shape[1], B.shape[1]

    # ---- Jaro: greedy window matching, batch-masked -------------------
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    flags1 = np.zeros((m, Lamax), dtype=bool)
    flags2 = np.zeros((m, Lbmax), dtype=bool)
    for i in range(Lamax):
        matched_i = np.zeros(m, dtype=bool)
        lo = np.maximum(0, i - window)
        hi = np.minimum(lb, i + window + 1)
        ai = A[:, i]
        for j in range(Lbmax):
            elig = (
                (~matched_i)
                & (j >= lo)
                & (j < hi)
                & (~flags2[:, j])
                & (ai == B[:, j])
            )
            if elig.any():
                flags1[:, i] |= elig
                flags2[:, j] |= elig
                matched_i |= elig
    mc = flags1.sum(axis=1).astype(np.int64)

    # transpositions: k-th matched char of s1 vs k-th matched char of s2
    Mw = max(int(mc.max()), 1)
    M1 = np.zeros((m, Mw), dtype=np.int64)
    M2 = np.zeros((m, Mw), dtype=np.int64)
    r1, i1 = np.nonzero(flags1)
    M1[r1, np.cumsum(flags1, axis=1)[r1, i1] - 1] = A[r1, i1]
    r2, j2 = np.nonzero(flags2)
    M2[r2, np.cumsum(flags2, axis=1)[r2, j2] - 1] = B[r2, j2]
    t = ((M1 != M2).sum(axis=1) // 2).astype(np.int64)

    with np.errstate(invalid="ignore", divide="ignore"):
        jaro_u = np.where(
            mc > 0, (mc / la + mc / lb + (mc - t) / mc) / 3.0, 0.0
        )

    # Winkler boost: common prefix up to 4, only when jaro > 0.7
    pl = np.zeros(m, dtype=np.int64)
    alive = np.ones(m, dtype=bool)
    for i in range(min(4, Lamax, Lbmax)):
        alive = alive & (A[:, i] == B[:, i])
        pl += alive
    jw_u = np.where(jaro_u > 0.7, jaro_u + pl * 0.1 * (1.0 - jaro_u), jaro_u)

    # ---- Levenshtein: batched DP rows, prefix-min via accumulate ------
    ar = np.arange(Lbmax + 1, dtype=np.int64)
    prev = np.tile(ar, (m, 1))
    dist = np.zeros(m, dtype=np.int64)
    z0 = la == 0
    dist[z0] = lb[z0]
    for i in range(Lamax):
        sub = prev[:, :-1] + (A[:, i][:, None] != B)
        E = np.concatenate(
            [np.full((m, 1), i + 1, dtype=np.int64),
             np.minimum(prev[:, 1:] + 1, sub)],
            axis=1,
        )
        cur = np.minimum.accumulate(E - ar, axis=1) + ar
        take = la == i + 1
        if take.any():
            dist[take] = cur[take, lb[take]]
        prev = cur
    lev_sim_u = 1.0 - dist / np.maximum(np.maximum(la, lb), 1)

    return jw_u[inv], lev_sim_u[inv]


SCORED_SCHEMA = (
    "left_id string, right_id string, tfidf_dot double, tfidf_cosine double, "
    "jaccard_est double, emb_cosine double, path_jw double, path_lev_sim double, "
    "lang_match double, score double, score_100 double"
)


def _score_kernel(cfg: AmpConfig):
    """The pair scorer over pandas batches of joined pairs (left_id,
    right_id and each end's l_/r_ stem, lang, sig, emb and tfblob): one
    SCORED_SCHEMA row per input row. Shared by score_pairs_onepass,
    which maps it over the joined pair table in Spark, and the served
    match (incremental.match_rows), which runs it in the driver over
    the few pairs of one request."""
    import numpy as np

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            dots = np.zeros(n); coss = np.zeros(n); jac = np.zeros(n)
            embc = np.zeros(n); jws = np.zeros(n); levs = np.zeros(n)
            if n:
                # fully-vectorized fixed-width features: signatures and
                # embeddings stack to (n, k) matrices. Norms computed
                # in-batch so int8 hashed vectors and float provided
                # vectors (attach_embeddings) both score correctly.
                ls_m = np.stack(pdf["l_sig"].values)
                rs_m = np.stack(pdf["r_sig"].values)
                le_m = np.stack(pdf["l_emb"].values).astype(np.float64)
                re_m = np.stack(pdf["r_emb"].values).astype(np.float64)
                jac = (ls_m == rs_m).mean(axis=1)
                den = np.linalg.norm(le_m, axis=1) * np.linalg.norm(re_m, axis=1)
                with np.errstate(invalid="ignore", divide="ignore"):
                    embc = np.where(
                        den > 0, (le_m * re_m).sum(axis=1) / den, 0.0
                    )
                # tf-idf dot/cosine: fully vectorized sorted-hash
                # intersection over DISTINCT (l, r) blob pairs — bit-exact
                # twin of the scalar per-pair searchsorted loop (see
                # tfblob_dots_batch); no Python statement runs per pair
                dots, coss = tfblob_dots_batch(pdf["l_tfblob"], pdf["r_tfblob"])
                # batch-vectorized Jaro-Winkler + Levenshtein (bit-exact
                # twin of the scalar functions; see stem_sims_batch)
                jws, levs = stem_sims_batch(
                    pdf["l_stem"].values, pdf["r_stem"].values
                )
            lang_match = (pdf["l_lang"] == pdf["r_lang"]).astype("float64").values
            score = (
                coss * cfg.w_token_cosine
                + jac * cfg.w_shingle_jaccard
                + embc * cfg.w_emb_cosine
                + jws * cfg.w_path_jw
                + levs * cfg.w_path_lev
                + lang_match * cfg.w_lang_match
            )
            yield pd.DataFrame(
                {
                    "left_id": pdf["left_id"],
                    "right_id": pdf["right_id"],
                    "tfidf_dot": dots,
                    "tfidf_cosine": coss,
                    "jaccard_est": jac,
                    "emb_cosine": embc,
                    "path_jw": jws,
                    "path_lev_sim": levs,
                    "lang_match": lang_match,
                    "score": score,
                    # reference clamp (matcher.go:208)
                    "score_100": np.clip(score * 100.0, 1.0, 100.0),
                }
            )

    return fn


def _side_columns(end: str, p: str) -> dict[str, str]:
    """SIDE_SCHEMA column -> its name on the ``end`` ("left"/"right") of
    a joined pair row, as the score kernel reads it."""
    return {"record_id": f"{end}_id", "stem": f"{p}_stem", "lang": f"{p}_lang",
            "sig": f"{p}_sig", "embedding": f"{p}_emb", "tfblob": f"{p}_tfblob"}


def score_pair_rows(
    pairs: pd.DataFrame,
    sides: pd.DataFrame,
    right_sides: pd.DataFrame,
    cfg: AmpConfig = DEFAULT_CONFIG,
) -> pd.DataFrame:
    """score_pairs_onepass run in this process over pandas frames: the
    (left_id, right_id) ``pairs`` joined to the SIDE_SCHEMA rows of
    their left ends in ``sides`` and their right ends in
    ``right_sides``, then the score kernel — the same SCORED_SCHEMA
    rows, as pandas. For the few pairs of one served request, whose
    side rows are in the driver already."""
    joined = pairs.merge(
        sides.rename(columns=_side_columns("left", "l")), on="left_id"
    ).merge(right_sides.rename(columns=_side_columns("right", "r")), on="right_id")
    return next(_score_kernel(cfg)(iter([joined])))


def score_pairs_onepass(
    pairs: DataFrame,
    sides: DataFrame,
    cfg: AmpConfig = DEFAULT_CONFIG,
    n_records: int | None = None,
    right_sides: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs -> scored pairs: two record-sized equi-joins to
    the one-pass feature table, then ONE Arrow-batched scorer computing
    every similarity (tf-idf dot/cosine via sorted-hash intersection,
    MinHash-agreement Jaccard, embedding cosine, Jaro-Winkler,
    Levenshtein, lang flag) and the weighted composite. The reference's
    driver-side Go row loop (matcher.go:119-211) collapses into this.

    Join strategy: when the caller knows the record count (the pipeline
    probes it anyway) and it is within ``cfg.broadcast_sides_max_records``,
    the quantized side table broadcasts into both joins — the pair table
    and the wide pair+features intermediate then never shuffle (the
    intermediate is the single largest exchange in the pipeline: every
    pair row carries BOTH sides' ~300 B payloads). Above the gate the
    joins stay shuffled-hash — the shape that survives 10^12 records.

    ``right_sides`` (default: ``sides``) is the table right_ids join
    against, for callers whose two ends come from different tables —
    match_records joins query ids to the query batch and candidate ids
    to index rows only."""
    def side(df: DataFrame, end: str, p: str) -> DataFrame:
        # one selectExpr call: each Column call is a driver-JVM round trip
        return df.selectExpr(*(f"{c} AS {a}" for c, a in _side_columns(end, p).items()))

    lhs = side(sides, "left", "l")
    rhs = side(sides if right_sides is None else right_sides, "right", "r")
    if n_records is not None and n_records <= cfg.broadcast_sides_max_records:
        lhs, rhs = F.broadcast(lhs), F.broadcast(rhs)
    joined = pairs.join(lhs, "left_id").join(rhs, "right_id")
    return joined.mapInPandas(_score_kernel(cfg), SCORED_SCHEMA)

