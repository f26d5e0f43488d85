"""Deduplication operators over a documents table — the training-data
pipeline counterpart of the ER engine's blocking stage. Five families:

  exact            hash-groupBy on a normalized fingerprint (linear)
  minhash LSH      shingle -> md5-minhash -> band -> bucket equi-join
  simhash          weighted bit-vote fingerprint, Hamming-band equi-join
  n-gram jaccard   exact token-set jaccard on LSH candidates
  embedding cosine exact: tiled BLAS all-pairs; scale: banded
                   hyperplane-LSH candidates -> exact-cosine verify

Each operator has a bit-exact DuckDB oracle — including the LSH paths:
their bucketing is deterministic (seeded plane literals / fingerprint
bands), so the oracle computes the *same* buckets, making even the
"approximate" operators exactly specified. The md5-string minhash here
is the oracle-friendly twin of the production int64 minhash in
amp.blocking (same math, cheaper hashes there).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens_col


from .session import spread_to_cores as _spread  # noqa: E402 (shared util)


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup via hash-groupBy on normalized-text sha256. Returns
    (exact_fp, n_dups, canonical_doc_id) for groups of size > 1.
    One shuffle on the fingerprint; linear at any scale."""
    norm_sha = F.sha2(F.concat_ws(" ", tokens_col()), 256)
    return (
        docs.select("doc_id", norm_sha.alias("exact_fp"))
        .groupBy("exact_fp")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("canonical_doc_id"))
        .where(F.col("n_dups") > 1)
    )


def _distinct_tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("token")
    )


def minhash_band_keys(docs: DataFrame, bands: int = 4) -> DataFrame:
    """(doc_id, band, band_key): band_key = min over distinct word
    3-shingles of md5(seed || shingle) — one independent 1-perm MinHash
    per band. md5 keeps the oracle comparison exact; the production
    variant uses int64 affine perms (amp.scoring.side_features_onepass).

    Round 6 (guide §2.4/§4.2): computed in ONE Arrow-batched pass — the
    per-doc shingle set never leaves the Python worker, replacing the
    explode -> Exchange -> SortAggregate pipeline that shuffled one row
    per (doc, shingle) and evaluated ``bands`` string-min aggregates
    over 2.6M rows (measured 10.8 of the query's 11.6 s at the
    driver's sf=1.0). hashlib.md5 of the identical salted UTF-8 bytes
    produces the identical lowercase-hex digest, and min over hex
    strings is byte order — bit-equal keys, asserted by the DuckDB
    oracle of the dedup_minhash_lsh query.
    Tokenization mirrors text.tokens_col exactly: re.split on the same
    pattern over str.lower() (corpus contract: the oracle's DuckDB
    lower() already pins ASCII-equivalent lowering)."""
    import re
    from collections.abc import Iterator
    from hashlib import md5 as _md5

    import pandas as pd

    from .text import TOKEN_SPLIT_RE

    salts = [f"band{b}:".encode() for b in range(bands)]
    split = re.compile(TOKEN_SPLIT_RE).split

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-worker md5 memo keyed by shingle — the shingle vocabulary
        # is corpus-content-bounded and repeats across documents, so
        # each distinct shingle is hashed ``bands`` times per partition
        # instead of once per occurrence (pure caching, bit-identical;
        # same policy as features.df_partials' crc32 memos)
        memo: dict[str, tuple[str, ...]] = {}

        def keys_of(s: str) -> tuple[str, ...]:
            k = memo.get(s)
            if k is None:
                e = s.encode()
                k = tuple(_md5(salt + e).hexdigest() for salt in salts)
                memo[s] = k
            return k

        for pdf in batches:
            ids, band_l, key_l = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in split((text or "").lower()) if t]
                if not toks:
                    continue
                if len(toks) < 3:
                    shingles: set[str] = {" ".join(toks)}
                else:
                    shingles = {
                        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
                    }
                mins = [min(ks) for ks in zip(*map(keys_of, shingles))]
                for b in range(bands):
                    ids.append(doc_id)
                    band_l.append(b)
                    key_l.append(mins[b])
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "band": pd.array(band_l, dtype="int32"),
                    "band_key": key_l,
                }
            )

    return _spread(docs.select("doc_id", "text")).mapInPandas(
        fn, "doc_id long, band int, band_key string"
    )


def minhash_lsh_pairs(docs: DataFrame, bands: int = 4) -> DataFrame:
    """Candidate near-dup pairs: equi-self-join per (band, band_key)."""
    keys = minhash_band_keys(docs, bands)
    l = keys.select(F.col("doc_id").alias("left_id"), "band", "band_key")
    r = keys.select(F.col("doc_id").alias("right_id"), "band", "band_key")
    return (
        l.join(r, ["band", "band_key"])
        .where(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()
    )


def ngram_jaccard(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact token-set Jaccard for EVERY candidate pair via double
    explode + intersection count — the verification step after LSH.
    Pairs with zero shared tokens come back with jaccard 0.0 (left
    join + coalesce), never silently dropped: the caller handed us the
    candidate set and must see a verdict for all of it. Shuffles on
    doc_id (token lists re-joined per side), never on token."""
    toks = _distinct_tokens(docs)
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    lt = toks.select(F.col("doc_id").alias("left_id"), "token")
    rt = toks.select(F.col("doc_id").alias("right_id"), "token")
    inter = (
        pairs.join(lt, "left_id")
        .join(rt, ["right_id", "token"])
        .groupBy("left_id", "right_id")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        pairs.join(inter, ["left_id", "right_id"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        # sizes joins are left too: a token-less doc has no sizes row
        .join(sizes.withColumnRenamed("doc_id", "left_id").withColumnRenamed("n_tok", "l_n"), "left_id", "left")
        .join(sizes.withColumnRenamed("doc_id", "right_id").withColumnRenamed("n_tok", "r_n"), "right_id", "left")
        .withColumn("l_n", F.coalesce("l_n", F.lit(0)))
        .withColumn("r_n", F.coalesce("r_n", F.lit(0)))
        .select(
            "left_id",
            "right_id",
            F.round(
                F.when(
                    F.col("l_n") + F.col("r_n") - F.col("n_inter") > 0,
                    F.col("n_inter") / (F.col("l_n") + F.col("r_n") - F.col("n_inter")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("jaccard"),
        )
    )


def _sampled_windows(docs: DataFrame, window: int, sample_hex: str) -> DataFrame:
    """(doc_id, whash): every ``window``-token span hashed (stride 1),
    kept iff the hash matches the content-defined sample predicate —
    see substring_duplicates for why sampling by VALUE (not position)
    is alignment-free."""
    toks = docs.select("doc_id", tokens_col().alias("toks"))
    win_hash = (
        f"transform(sequence(1, size(toks) - {window - 1}), "
        f"i -> md5(concat_ws(' ', slice(toks, i, {window}))))"
    )
    keep = f"filter({win_hash}, h -> substring(h, 1, {len(sample_hex)}) = '{sample_hex}')"
    # docs shorter than the window contain no full window — and Spark's
    # sequence(1, n) DESCENDS for n < 1 instead of being empty, so the
    # short case must be guarded out explicitly (typed empty array: the
    # CASE branches must agree on array<string>)
    guarded = (
        f"CASE WHEN size(toks) < {window} "
        f"THEN CAST(array() AS array<string>) ELSE {keep} END"
    )
    return toks.select(
        "doc_id", F.explode(F.array_distinct(F.expr(guarded))).alias("whash")
    )


def substring_duplicates(
    docs: DataFrame,
    window: int = 32,
    sample_hex: str = "0",
    max_window_freq: int = 64,
) -> DataFrame:
    """Exact-substring duplicate pairs: documents sharing at least one
    identical ``window``-token span, the contamination/boilerplate case
    that set-based near-dup (Jaccard over all tokens) MISSES when two
    long documents overlap only partially. Returns
    (left_id, right_id, n_shared_windows).

    Every window position is hashed (stride 1) and then sampled
    CONTENT-DEFINED: a window is kept iff its md5 hex starts with
    ``sample_hex``. Sampling by hash value instead of by position makes
    the selection alignment-free — both documents keep exactly the same
    windows of a shared span no matter where the span sits in each, so
    with the default one-digit ``sample_hex`` a shared span of L >=
    window tokens is detected with probability 1-(15/16)^(L-window+1)
    (≈0.86 at L=window+31, →1 rapidly). A
    positional stride would silently miss mis-aligned copies.

    Windows seen in more than ``max_window_freq`` documents (license
    headers, generated boilerplate) are excluded from pair generation —
    the same frequency-cap-over-hot-keys policy as the blocking stage
    (never a silent explosion; lower the cap for dirtier corpora).

    md5 is engine-portable, so the DuckDB oracle computes identical
    keys. At scale: the window explode is ~n_tokens/16 rows
    per doc, the join is a capped equi-self-join on the window key —
    never all-pairs."""
    wh = _sampled_windows(docs, window, sample_hex)
    from pyspark.sql import Window as W

    sized = wh.withColumn(
        "freq", F.count("*").over(W.partitionBy("whash"))
    ).where((F.col("freq") > 1) & (F.col("freq") <= max_window_freq))
    l = sized.select(F.col("doc_id").alias("left_id"), "whash")
    r = sized.select(F.col("doc_id").alias("right_id"), "whash")
    return (
        l.join(r, "whash")
        .where(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count("*").alias("n_shared_windows"))
    )


def substring_contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    window: int = 32,
    sample_hex: str = "0",
    max_window_freq: int = 64,
    eval_docs_hint: int | None = None,
    broadcast_eval_max_docs: int = 100_000,
) -> DataFrame:
    """Cross-corpus form of ``substring_duplicates``: which TRAINING
    documents contain a >= ``window``-token span that also appears in
    an EVALUATION document — the benchmark-contamination check run
    before training. Returns (train_id, eval_id, n_shared_windows).
    Same content-defined sampling and frequency cap; the join is
    train-windows x eval-windows only (never train x train), so the
    eval side bounds the output.

    Join strategy: eval sets are USUALLY tiny, but not by contract —
    an unconditional broadcast of the eval window table is a
    driver/executor OOM lever when eval is a slice of the corpus. The
    eval side broadcasts only when the caller supplies
    ``eval_docs_hint`` (known eval doc count) at or below
    ``broadcast_eval_max_docs``; otherwise the join shuffles on the
    window key — the same size-gated policy as the scorer's
    broadcast_sides_max_records gate."""
    tw = _sampled_windows(train, window, sample_hex).withColumnRenamed(
        "doc_id", "train_id"
    )
    ew = _sampled_windows(eval_docs, window, sample_hex).withColumnRenamed(
        "doc_id", "eval_id"
    )
    from pyspark.sql import Window as W

    # cap on the TRAIN side: a boilerplate window shared by thousands of
    # training docs explodes the join; eval-side repetition is the
    # signal itself and stays uncapped
    tw = tw.withColumn("freq", F.count("*").over(W.partitionBy("whash"))).where(
        F.col("freq") <= max_window_freq
    )
    if eval_docs_hint is not None and eval_docs_hint <= broadcast_eval_max_docs:
        ew = F.broadcast(ew)
    return (
        tw.join(ew, "whash")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_shared_windows"))
    )


def near_dup_clusters(
    docs: DataFrame, jaccard_threshold: float = 0.8, bands: int = 4
) -> DataFrame:
    """Transitive near-dup CLUSTERS over the documents table:
    MinHash-LSH candidates -> exact token-Jaccard verify -> connected
    components. Returns one row per input doc: (doc_id, cluster_id,
    is_canonical) with cluster_id = min doc_id of the component and
    is_canonical marking the one member to keep — the transitive
    extension of curate()'s pairwise is_near_dup verdict (in a chain
    a-b-c where only a-b and b-c are near-dups, curate keeps a; this
    operator also assigns c to a's cluster).

    Scale shape: LSH banding bounds candidate generation (never
    all-pairs), the verify join shuffles on doc_id, and the closure is
    the size-adaptive CC operator (driver union-find on request-scoped
    graphs, alternating large/small-star at corpus scale)."""
    from . import cluster

    cand = minhash_lsh_pairs(docs, bands=bands)
    jac = ngram_jaccard(docs, cand)
    edges = (
        jac.where(F.col("jaccard") >= jaccard_threshold)
        .select("left_id", "right_id")
        .withColumn("pass_name", F.lit("near_dup"))
    )
    assign = cluster.connected_components(
        edges,
        all_nodes=docs.select(F.col("doc_id").alias("record_id")),
        nodes_unique=True,  # doc_id is the table's primary key
    )
    return assign.select(
        F.col("record_id").alias("doc_id"),
        "cluster_id",
        (F.col("record_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash fingerprint: bit j votes +1/-1 per distinct token
    depending on bit j of md5(token); fingerprint bit j = 1 iff the sum
    is positive. Expressed with explode + conditional sums — fully
    built-in (no UDF), and SQL-oracle-able via the same md5 nibble
    arithmetic."""
    if bits > 63:
        # the fingerprint is assembled as a SUM of 1<<j literals into a
        # single signed-long column: j=63 overflows the long literal, so
        # the practical ceiling is 63 bits regardless of the md5 digest
        # width.
        raise ValueError(
            f"simhash: bits={bits} exceeds the 63-bit signed-long "
            "fingerprint budget (1<<j literals are summed into one long "
            "column)"
        )
    # Round 6 (guide §2.4/§4.2): one Arrow-batched pass instead of
    # explode -> Exchange -> groupBy with ``bits`` conditional sums
    # that each re-parse the md5 hex. Same math bit-for-bit: nibble
    # j//4 of the digest, bit j%4, +/-1 votes over DISTINCT tokens,
    # fingerprint bit j set iff the vote sum is positive. Docs with no
    # tokens emit no row (exactly the explode+groupBy behavior).
    import re
    from collections.abc import Iterator
    from hashlib import md5 as _md5

    import numpy as np
    import pandas as pd

    from .text import TOKEN_SPLIT_RE

    n_hex = (bits + 3) // 4
    split = re.compile(TOKEN_SPLIT_RE).split
    weights = (1 << np.arange(bits, dtype=np.int64))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-worker memo: token -> row index into the signed-bit
        # matrix; each distinct token is md5'd once per partition
        # (vocabulary-bounded, same policy as features.df_partials)
        memo: dict[str, int] = {}
        rows: list[list[int]] = []

        def idx_of(t: str) -> int:
            i = memo.get(t)
            if i is None:
                h = _md5(t.encode()).hexdigest()[:n_hex]
                nibs = [
                    (c - 87) if c >= 97 else (c - 48) for c in h.encode()
                ]
                rows.append(
                    [2 * ((nibs[j // 4] >> (j % 4)) & 1) - 1 for j in range(bits)]
                )
                i = len(rows) - 1
                memo[t] = i
            return i

        for pdf in batches:
            ids, lens, tok_idx = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                dtoks = {t for t in split((text or "").lower()) if t}
                if not dtoks:
                    continue
                ids.append(doc_id)
                lens.append(len(dtoks))
                tok_idx.extend(map(idx_of, dtoks))
            if not ids:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.array([], dtype="int64"),
                        "simhash": pd.array([], dtype="int64"),
                    }
                )
                continue
            signed = np.asarray(rows, dtype=np.int32)[
                np.asarray(tok_idx, dtype=np.int64)
            ]
            starts = np.zeros(len(ids), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            votes = np.add.reduceat(signed, starts, axis=0)
            fp = ((votes > 0) @ weights).astype(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "simhash": fp,
                }
            )

    return _spread(docs.select("doc_id", "text")).mapInPandas(
        fn, "doc_id long, simhash long"
    )


def _banded_fp_pairs(
    fp: DataFrame, fp_col: str, n_bands: int, total_bits: int, max_hamming: int
) -> DataFrame:
    """Hamming-LSH banding over an integer fingerprint: split the
    ``total_bits`` into ``n_bands`` contiguous DISJOINT bands (widths
    differing by at most one when not evenly divisible — pigeonhole
    needs disjoint coverage, not equal widths); a pair within Hamming
    distance ``max_hamming <= n_bands - 1`` differs in at most that
    many bands, so it agrees on at least one full band — the union of
    per-band equi-joins is *complete*, never approximate. Bucket count
    is (band value space) x data-driven occupancy, so the join
    parallelism scales with the data instead of a constant 2^8."""
    base, extra = divmod(total_bits, n_bands)
    widths = [base + 1] * extra + [base] * (n_bands - extra)
    offsets = [sum(widths[:b]) for b in range(n_bands)]

    def _mask(width: int):
        # (1 << 64) - 1 overflows a signed long literal; -1 is the same
        # all-ones bit pattern for a full-width band
        return F.lit(-1 if width >= 64 else (1 << width) - 1)

    keys = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col(fp_col), offsets[b])
            .bitwiseAND(_mask(widths[b]))
            .alias("bucket"),
        )
        for b in range(n_bands)
    ]
    k = fp.select(
        "doc_id", F.col(fp_col), F.explode(F.array(*keys)).alias("bk")
    ).select("doc_id", fp_col, F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    l = k.select(
        F.col("doc_id").alias("left_id"), F.col(fp_col).alias("l_fp"), "band", "bucket"
    )
    r = k.select(
        F.col("doc_id").alias("right_id"), F.col(fp_col).alias("r_fp"), "band", "bucket"
    )
    return (
        l.join(r, ["band", "bucket"])
        .where(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id", "l_fp", "r_fp")
        .dropDuplicates(["left_id", "right_id"])
        .withColumn("hamming", F.bit_count(F.col("l_fp").bitwiseXOR(F.col("r_fp"))))
        .where(F.col("hamming") <= max_hamming)
        .select("left_id", "right_id", "hamming")
    )


def simhash_near_pairs(docs: DataFrame, bits: int = 16, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash via Hamming-LSH banding: the
    fingerprint is split into ``max_hamming + 1`` bands and pairs are
    generated by unioned band-equality equi-joins, then filtered on
    exact ``bit_count(xor)``. Complete for d <= max_hamming (pigeonhole)
    — the DuckDB oracle is therefore the clean brute-force spec
    (all pairs with hamming <= max_hamming), and hash-exactness proves
    the banding loses nothing."""
    n_bands = max_hamming + 1
    if n_bands > bits:
        raise ValueError(f"max_hamming+1={n_bands} bands need at least that many bits")
    return _banded_fp_pairs(simhash(docs, bits), "simhash", n_bands, bits, max_hamming)


def _vec_norm(embs: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    from .ann import _as_double, _norm

    return embs.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    ).withColumn(
        # norms once per record, not once per pair (n vs n^2 aggregates)
        "n", _norm("v")
    )


def embedding_near_dup(
    embs: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tile_size: int = 512,
    n_tiles: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup, EXACT semantics: every pair with
    cosine >= threshold (left_id < right_id). Executed as tiled
    block-matrix products: vectors are hashed into ~n/tile_size tiles,
    each tile collected to one row, and every tile pair is one
    bounded-memory task whose kernel runs a single float64 GEMM and
    emits only qualifying pairs. Compared to the naive crossJoin this
    never materializes the n^2 candidate rows and swaps n^2 per-pair
    fold lambdas for BLAS — but exact all-pairs is inherently O(n^2)
    work; the scale path with sub-quadratic candidates is
    ``embedding_lsh_near_dup`` below.
    """
    import numpy as np

    # id type passes through untouched (long ids stay long, string
    # doc_ids stay strings — numpy comparison/min/max handle both)
    id_dtype = dict(embs.dtypes)[id_col]
    id_ddl = "string" if id_dtype == "string" else "long"

    d = _vec_norm(embs, id_col, vec_col)
    if n_tiles is None:
        # build-phase action, column-pruned (id only — never the
        # vectors); pass n_tiles explicitly to keep plan-build lazy
        n_tiles = max(1, math.ceil(embs.select(id_col).count() / tile_size))
    g = (
        d.withColumn("tile", F.pmod(F.xxhash64("id"), F.lit(n_tiles)))
        .groupBy("tile")
        .agg(F.collect_list(F.struct("id", "v", "n")).alias("recs"))
    )
    a = g.select(F.col("tile").alias("ta"), F.col("recs").alias("ra"))
    b = g.select(F.col("tile").alias("tb"), F.col("recs").alias("rb"))
    # T x T tile-pair table (upper triangle); tiny, nested-loop join is fine
    tp = a.join(b, F.col("ta") <= F.col("tb"))
    thr = float(threshold)

    # Round 6 (guide §4.2): mapInArrow with zero-copy child-array
    # slicing — the mapInPandas form materialized every tile entry as a
    # Python dict and rebuilt the matrices element-by-element (measured
    # ~54M per-element object conversions at 20k vectors, the bulk of
    # the query's executor time); here each tile's (ids, vectors,
    # norms) come straight out of the struct child arrays and only the
    # GEMM remains. Same float64 values through the same numpy
    # expressions — identical cosines.
    import pyarrow as pa

    pa_id = pa.string() if id_ddl == "string" else pa.int64()
    out_schema = pa.schema(
        [
            pa.field("left_id", pa_id),
            pa.field("right_id", pa_id),
            pa.field("cos_raw", pa.float64()),
        ]
    )

    def _tile_side(col: pa.ListArray):
        """ListArray<struct<id, v: list<double>, n: double>> -> per-row
        (ids, matrix, norms) accessors over flat child arrays."""
        r_off = col.offsets.to_numpy().astype(np.int64)
        ent = col.values
        ids = ent.field(0).to_numpy(zero_copy_only=False)
        v = ent.field(1)
        v_off = v.offsets.to_numpy().astype(np.int64)
        v_vals = v.values.to_numpy(zero_copy_only=False)
        norms = ent.field(2).to_numpy(zero_copy_only=False)
        return r_off, ids, v_off, v_vals, norms

    def kernel(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            idx = {f: i for i, f in enumerate(batch.schema.names)}
            same_tile = (
                batch.column(idx["ta"]).to_numpy()
                == batch.column(idx["tb"]).to_numpy()
            )
            a_roff, a_ids, a_voff, a_vals, a_n = _tile_side(batch.column(idx["ra"]))
            b_roff, b_ids, b_voff, b_vals, b_n = _tile_side(batch.column(idx["rb"]))
            out_l, out_r, out_c = [], [], []
            for row in range(batch.num_rows):
                ae0, ae1 = int(a_roff[row]), int(a_roff[row + 1])
                be0, be1 = int(b_roff[row]), int(b_roff[row + 1])
                if ae1 == ae0 or be1 == be0:
                    continue
                ids_a, na = a_ids[ae0:ae1], a_n[ae0:ae1]
                ids_b, nb = b_ids[be0:be1], b_n[be0:be1]
                # vectors are uniform-dim by contract; the offsets slice
                # is exact either way (no assumption of row 0 alignment)
                A = a_vals[a_voff[ae0]: a_voff[ae1]].reshape(ae1 - ae0, -1)
                B = b_vals[b_voff[be0]: b_voff[be1]].reshape(be1 - be0, -1)
                cos = (A @ B.T) / np.outer(na, nb)
                # pre-filter with slack; the exact round-then-threshold
                # happens in Spark so the oracle comparison stays bitwise
                mask = cos >= thr - 1e-6
                if same_tile[row]:
                    mask &= ids_a[:, None] < ids_b[None, :]
                ii, jj = np.nonzero(mask)
                if not len(ii):
                    continue
                la, rb_ = ids_a[ii], ids_b[jj]
                # orient by id with np.where, not minimum/maximum —
                # comparison ufuncs support string ids, min/max do not
                lo_first = la < rb_
                out_l.append(np.where(lo_first, la, rb_))
                out_r.append(np.where(lo_first, rb_, la))
                out_c.append(cos[ii, jj])
            if out_l:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_l), type=pa_id),
                        pa.array(np.concatenate(out_r), type=pa_id),
                        pa.array(np.concatenate(out_c), type=pa.float64()),
                    ],
                    schema=out_schema,
                )

    return (
        tp.mapInArrow(kernel, f"left_id {id_ddl}, right_id {id_ddl}, cos_raw double")
        .withColumn("cosine", F.round("cos_raw", 6))
        .where(F.col("cosine") >= F.lit(thr))
        .select("left_id", "right_id", "cosine")
    )


def embedding_lsh_planes(
    dim: int = 64, bands: int = 2, band_bits: int = 8, seed: int = 7
) -> list[list[list[float]]]:
    """Seeded random hyperplanes, grouped per band — shared verbatim by
    the Spark operator and its DuckDB oracle twin, so the 'approximate'
    bucketing is a deterministic, exactly-specified function."""
    from .ann import _hyperplanes

    planes = _hyperplanes(dim, bands * band_bits, seed)
    return [planes[b * band_bits : (b + 1) * band_bits] for b in range(bands)]


def embedding_lsh_near_dup(
    embs: DataFrame,
    threshold: float = 0.3,
    dim: int = 64,
    bands: int = 2,
    band_bits: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-path embedding near-dup: banded random-hyperplane LSH
    candidates -> exact-cosine verify. Candidate generation is a union
    of per-band sign-bucket equi-joins (work ~ sum of bucket-size^2,
    sub-quadratic whenever near-dups cluster), never an all-pairs
    product. Recall < 1 by construction for mid-range thresholds —
    gated by tests/test_dedup_scale.py (planted near-dups, recall >=
    0.95); semantics are still exactly specified because the seeded
    planes fold into both the plan and the DuckDB oracle."""
    import numpy as np
    import pandas as pd

    plane_groups = embedding_lsh_planes(dim, bands, band_bits, seed)
    planes = np.asarray(
        [p for pg in plane_groups for p in pg], dtype=np.float64
    )  # (bands*band_bits, dim)
    bit_w = np.asarray(
        [1 << j for _ in range(bands) for j in range(band_bits)], dtype=np.int64
    )
    band_of = np.repeat(np.arange(bands, dtype=np.int64), band_bits)

    id_dtype = dict(embs.dtypes)[id_col]
    id_ddl = "string" if id_dtype == "string" else "long"

    # Round 6 (guide §2.3 "shuffle keys and metadata instead of
    # payloads" + §4.2): bucket bits come from one numpy matmul per
    # batch instead of bands*band_bits interpreted aggregate/zip_with
    # lambdas per row, and the exact-cosine verify looks both vectors
    # up in a driver-collected, broadcast matrix — the candidate
    # stream (two ids per row) never carries vector payloads through
    # a join. The collect is vec-table-sized and gated like
    # features.idf_map's vocabulary collect; above the gate we fall
    # back to candidate joins against the vector table.
    src = _spread(embs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))

    def key_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            bits = (V @ planes.T) > 0  # (n, bands*band_bits)
            ids_out, band_out, bucket_out = [], [], []
            for bi in range(bands):
                sel = band_of == bi
                bucket = (bits[:, sel] * bit_w[sel]).sum(axis=1)
                ids_out.append(pdf["id"].values)
                band_out.append(np.full(len(pdf), bi, dtype=np.int64))
                bucket_out.append(bucket)
            yield pd.DataFrame(
                {
                    "id": np.concatenate(ids_out),
                    "band": np.concatenate(band_out),
                    "bucket": np.concatenate(bucket_out),
                }
            )

    k = src.mapInPandas(key_fn, f"id {id_ddl}, band long, bucket long")
    cand = (
        k.select(F.col("id").alias("left_id"), "band", "bucket")
        .join(k.select(F.col("id").alias("right_id"), "band", "bucket"), ["band", "bucket"])
        .where(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()
    )

    n_vecs = embs.count()
    if n_vecs <= 200_000:
        vp = embs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).toPandas()
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in vp["v"]]
        )
        norms = np.sqrt((mat * mat).sum(axis=1))
        index = {i: j for j, i in enumerate(vp["id"])}
        bc = embs.sparkSession.sparkContext.broadcast((index, mat, norms))

        def verify_fn(batches):
            idx, m, nn = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                li = np.fromiter(
                    (idx[i] for i in pdf["left_id"]), dtype=np.int64,
                    count=len(pdf),
                )
                ri = np.fromiter(
                    (idx[i] for i in pdf["right_id"]), dtype=np.int64,
                    count=len(pdf),
                )
                dots = np.einsum("ij,ij->i", m[li], m[ri])
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = dots / (nn[li] * nn[ri])
                yield pd.DataFrame(
                    {
                        "left_id": pdf["left_id"],
                        "right_id": pdf["right_id"],
                        "cos_raw": cos,
                    }
                )

        scored = cand.mapInPandas(
            verify_fn, f"left_id {id_ddl}, right_id {id_ddl}, cos_raw double"
        )
    else:
        from .ann import _dot

        d = _vec_norm(embs, id_col, vec_col)
        lhs = d.select(F.col("id").alias("left_id"), F.col("v").alias("lv"), F.col("n").alias("ln"))
        rhs = d.select(F.col("id").alias("right_id"), F.col("v").alias("rv"), F.col("n").alias("rn"))
        scored = (
            cand.join(lhs, "left_id")
            .join(rhs, "right_id")
            .select(
                "left_id",
                "right_id",
                (_dot("lv", "rv") / (F.col("ln") * F.col("rn"))).alias("cos_raw"),
            )
        )
    return (
        scored.withColumn("cosine", F.round("cos_raw", 6))
        .where(F.col("cosine") >= threshold)
        .select("left_id", "right_id", "cosine")
    )
