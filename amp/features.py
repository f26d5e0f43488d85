"""Stage 3 — features: the IDF dictionary and the TF-IDF document operators.

Reference parity (SURVEY.md §2.4/§2.8):
  * idf = ln(N / df), UNSMOOTHED (internal/matcher/make_tf_idf.go:66-72);
    token missing from the dictionary weighs 0 (Go map zero-value
    semantics, make_tf_idf.go:268-270).
  * tf = token count / tokens in doc (make_tf_idf.go:242-255).
  * per-field token namespaces replace the reference's entity_type_id
    (1=street, 2=name; make_tf_idf.go:256-282): token hashes are
    field-salted crc32 ('c:' content tokens, 'p:' path trigrams).
  * the pair score SUM(l.tfidf * r.tfidf) (match.sql:65) is kept as
    `tfidf_dot`, plus the properly normalized `tfidf_cosine`.

The ER pipeline uses ``idf_map``: the IDF dictionary is a small
aggregate (vocabulary-sized, not corpus-sized), collected once and
broadcast into the one-pass feature kernel
(scoring.side_features_onepass), which builds each record's tf-idf
vector and hashing-trick embedding — the north_rule's "broadcast of
frequency dictionaries". ``doc_tfidf``, ``doc_pair_dot`` and
``doc_pair_dot_grouped`` are the same TF-IDF math over a
documents(doc_id, text) table: postings as (doc_id, token, tfidf)
rows, mirroring `customer_tokens` (scripts/init_db.sql:87-96), and
pair dots resolved by Arrow kernels.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import AmpConfig, DEFAULT_CONFIG


def df_partials(reps: DataFrame) -> DataFrame:
    """(token_hash, df) partial document frequencies, pre-aggregated PER
    PARTITION inside the Python kernel. The shuffle then moves
    ~vocab-per-partition rows instead of one row per (record, token)
    occurrence (measured: the per-record layout shuffles 20M+ rows at
    280k records and dominated the 4-executor profile). Same math as a
    map-side combine, but the rows never materialize JVM-side at all."""
    import zlib
    from collections.abc import Iterator

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[int, int] = {}
        # per-worker hash memos: the corpus vocabulary repeats across
        # documents, so each token/trigram is crc32'd once per partition
        # (pure caching, bit-identical counts)
        tok_memo: dict[str, int] = {}
        tri_memo: dict[str, int] = {}
        for pdf in batches:
            for text, base in zip(pdf["norm_text"], pdf["basename"]):
                toks = set(text.split()) if text else set()
                for t in toks:
                    h = tok_memo.get(t)
                    if h is None:
                        h = zlib.crc32(b"c:" + t.encode())
                        tok_memo[t] = h
                    acc[h] = acc.get(h, 0) + 1
                tris = (
                    {base}
                    if len(base) < 3
                    else {base[i : i + 3] for i in range(len(base) - 2)}
                )
                for t in tris:
                    h = tri_memo.get(t)
                    if h is None:
                        h = zlib.crc32(b"p:" + t.encode())
                        tri_memo[t] = h
                    acc[h] = acc.get(h, 0) + 1
        yield pd.DataFrame(
            {
                "token_hash": pd.array(list(acc.keys()), dtype="int64"),
                "df": pd.array(list(acc.values()), dtype="int64"),
            }
        )

    return reps.select("norm_text", "basename").mapInPandas(
        fn, "token_hash long, df long"
    )


# ~20M hashes ~= 320MB as a broadcast dict: the largest vocabulary
# idf_map collects to the driver and broadcasts
IDF_MAP_MAX_VOCAB = 20_000_000


def idf_map(reps: DataFrame, n_docs: int, cfg: AmpConfig = DEFAULT_CONFIG) -> dict[int, float]:
    """Collect the IDF dictionary to the driver as {field-salted
    token_hash: idf} for broadcast into the one-pass feature kernel —
    the north_rule's 'broadcast of frequency dictionaries', and exactly
    what the reference does (IDF map held in Go memory,
    make_tf_idf.go:66-72,253-255). Valid while the vocabulary fits on
    the driver (vocab is corpus-content-bounded, not row-bounded); a
    vocabulary above IDF_MAP_MAX_VOCAB raises ValueError."""
    denom = (F.col("df") + F.lit(1)) if cfg.idf_smoothing else F.col("df")
    pdf = (
        df_partials(reps)
        .groupBy("token_hash")
        .agg(F.sum("df").alias("df"))
        .withColumn("idf", F.log(F.lit(float(n_docs)) / denom.cast("double")))
        .select("token_hash", "idf")
        .toPandas()
    )
    # Arrow-path toPandas: a row-by-row .collect() of a million-token
    # vocabulary serializes through py4j and dominates the whole
    # pipeline wall (measured 29-54s vs ~2s via Arrow)
    vocab = len(pdf)
    if vocab > IDF_MAP_MAX_VOCAB:
        # fail loudly instead of OOMing an executor mid-broadcast
        raise ValueError(
            f"idf_map: vocabulary has {vocab} token hashes, above the "
            f"{IDF_MAP_MAX_VOCAB}-hash broadcast limit (IDF_MAP_MAX_VOCAB)"
        )
    if vocab > 5_000_000:
        import logging

        logging.getLogger("amp.features").warning(
            "idf_map: broadcasting a %d-entry IDF dict (limit %d)",
            vocab,
            IDF_MAP_MAX_VOCAB,
        )
    return dict(zip(pdf["token_hash"].astype("int64"), pdf["idf"].astype("float64")))


def doc_tfidf(docs: DataFrame, n_docs: int | None = None) -> DataFrame:
    """TF-IDF postings over a documents(doc_id, text) table:
    tf = count/len, idf = ln(N/df) unsmoothed (reference
    make_tf_idf.go:66-72). ``n_docs`` lets a caller that already
    counted the corpus skip the extra scan.

    Round 6 (guide §2.3 "aggregate before you shuffle" / §4.2): the
    per-document term counts and document length come out of ONE Arrow
    pass (collections.Counter per doc — integers, bit-exact), so the
    explode of every token occurrence and the two grouped aggregations
    over it ((doc, token) counts and per-doc length) never shuffle at
    all; the only remaining Exchange is the vocabulary-sized document
    frequency aggregate, which is map-side combinable and broadcast
    back. The tfidf arithmetic itself stays in Spark SQL expressions —
    identical doubles to the old plan. Same kernel discipline as
    df_partials."""
    import re
    from collections import Counter
    from collections.abc import Iterator

    import pandas as pd

    from .text import TOKEN_SPLIT_RE

    split = re.compile(TOKEN_SPLIT_RE).split
    id_dtype = dict(docs.dtypes)["doc_id"]
    id_ddl = "string" if id_dtype == "string" else "long"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, toks_out, c_out, n_out = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in split((text or "").lower()) if t]
                if not toks:
                    continue
                n = len(toks)
                for t, c in Counter(toks).items():
                    ids.append(doc_id)
                    toks_out.append(t)
                    c_out.append(c)
                    n_out.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "token": toks_out,
                    "c": pd.array(c_out, dtype="int64"),
                    "n": pd.array(n_out, dtype="int64"),
                }
            )

    from .dedup import _spread

    counts = _spread(docs.select("doc_id", "text")).mapInPandas(
        fn, f"doc_id {id_ddl}, token string, c long, n long"
    )
    df_tbl = counts.groupBy("token").agg(F.count("*").alias("df"))
    if n_docs is None:
        n_docs = docs.count()
    return counts.join(F.broadcast(df_tbl), "token").select(
        "doc_id",
        "token",
        F.round(
            (F.col("c") / F.col("n")) * F.log(F.lit(float(n_docs)) / F.col("df")),
            6,
        ).alias("tfidf"),
    )


def doc_pair_dot(
    docs: DataFrame,
    pairs: DataFrame,
    broadcast_vecs_max_docs: int = 2_000_000,
) -> DataFrame:
    """Grouped SUM of tfidf products over shared tokens of each pair
    (match.sql:65-75 shape, over the documents table).

    Semantics (unchanged from the postings-join formulation, and what
    the DuckDB oracle states): a pair appears iff BOTH docs have
    postings AND they share >= 1 token; tfidf_dot = round(sum of
    products, 6). tfidf values are computed by the same doc_tfidf plan
    as before — bit-identical doubles; only the intersection+sum moved.

    Scale shape (round-6 rewrite; guide §8 "attach the plan, move bytes
    once" + §4.2 batch-native kernels): the old shape joined the PAIR
    table through the postings twice — with quadratic candidate growth
    (pairs ~ sf^2) the intermediate is |pairs| x tokens-per-doc rows
    through two shuffles and a grouped aggregation (measured 244 s at
    the driver's sf=1.0, 77x the sf=0.1 wall for 100x the pairs). Now:
    postings fold ONCE into a doc-sized sparse-vector table (one
    doc_id-keyed aggregation of ~n_docs rows), pairs attach both
    vectors by equi-join — broadcast while the doc table is small
    (size-gated like the scorer's broadcast gate; the pair stream then
    never shuffles at all), shuffled hash join on doc_id otherwise —
    and one Arrow kernel resolves every intersection batch-natively:
    per-batch dictionary-encode of the token child array (exact string
    matching, no hash-collision exposure), composite (pair, code) int64
    keys, one searchsorted per batch, bincount group-sums. No Python
    statement executes per pair (same discipline as
    scoring.tfblob_dots_batch)."""
    import numpy as np
    import pyarrow as pa

    n_docs = docs.count()
    post = doc_tfidf(docs, n_docs=n_docs)
    vecs = post.groupBy("doc_id").agg(
        F.collect_list(F.struct("token", "tfidf")).alias("_tv")
    )
    if n_docs <= broadcast_vecs_max_docs:
        vecs = F.broadcast(vecs)
    lv = vecs.select(F.col("doc_id").alias("left_id"), F.col("_tv").alias("_lv"))
    rv = vecs.select(F.col("doc_id").alias("right_id"), F.col("_tv").alias("_rv"))
    attached = pairs.select("left_id", "right_id").join(lv, "left_id").join(
        rv, "right_id"
    )

    # id type passes through untouched (long doc_ids stay long, string
    # record_ids stay strings — the kernel never computes on them)
    id_dtype = dict(pairs.dtypes)["left_id"]
    id_ddl = "string" if id_dtype == "string" else "long"
    pa_id = pa.string() if id_ddl == "string" else pa.int64()
    out_schema = pa.schema(
        [
            pa.field("left_id", pa_id),
            pa.field("right_id", pa_id),
            pa.field("_dot", pa.float64()),
            pa.field("_shared", pa.int64()),
        ]
    )

    def _list_parts(arr: pa.ListArray):
        """(values, zero-based offsets) of a list array, slice-safe."""
        off = arr.offsets.to_numpy().astype(np.int64)
        vals = arr.values
        if len(off) and (off[0] != 0 or off[-1] != len(vals)):
            vals = vals.slice(off[0], off[-1] - off[0])
            off = off - off[0]
        return vals, off

    def kernel(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            idx = {f: i for i, f in enumerate(batch.schema.names)}
            lids = batch.column(idx["left_id"])
            rids = batch.column(idx["right_id"])
            lvals, loff = _list_parts(batch.column(idx["_lv"]))
            rvals, roff = _list_parts(batch.column(idx["_rv"]))
            llen = np.diff(loff)
            rlen = np.diff(roff)
            ltok, lval = lvals.field(0), lvals.field(1).to_numpy(
                zero_copy_only=False
            )
            rtok, rval = rvals.field(0), rvals.field(1).to_numpy(
                zero_copy_only=False
            )
            # exact per-batch token ids: ONE dictionary encode over both
            # sides' token child arrays (C++ hash table, no collisions)
            codes = (
                pa.concat_arrays([ltok, rtok])
                .dictionary_encode()
                .indices.to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            lcode, rcode = codes[: len(lval)], codes[len(lval):]
            k = int(codes.max()) + 1 if len(codes) else 1
            lpair = np.repeat(np.arange(n, dtype=np.int64), llen)
            rpair = np.repeat(np.arange(n, dtype=np.int64), rlen)
            lkey = lpair * k + lcode
            order = np.argsort(lkey, kind="stable")
            lkey_s, lval_s = lkey[order], lval[order]
            rkey = rpair * k + rcode
            dot = np.zeros(n, dtype=np.float64)
            shared = np.zeros(n, dtype=np.int64)
            if len(lkey_s):
                pos = np.minimum(
                    np.searchsorted(lkey_s, rkey), len(lkey_s) - 1
                )
                hit = lkey_s[pos] == rkey
                if hit.any():
                    contrib = lval_s[pos[hit]] * rval[hit]
                    hp = rpair[hit]
                    dot = np.bincount(hp, weights=contrib, minlength=n)
                    shared = np.bincount(hp, minlength=n)
            yield pa.RecordBatch.from_arrays(
                [
                    lids,
                    rids,
                    pa.array(dot, type=pa.float64()),
                    pa.array(shared, type=pa.int64()),
                ],
                schema=out_schema,
            )

    return (
        attached.mapInArrow(
            kernel,
            f"left_id {id_ddl}, right_id {id_ddl}, _dot double, _shared long",
        )
        .where(F.col("_shared") > 0)
        .select(
            "left_id", "right_id", F.round(F.col("_dot"), 6).alias("tfidf_dot")
        )
    )


def doc_pair_dot_grouped(
    docs: DataFrame,
    group_cols: list[str],
    tile_target: int = 1024,
    chunk_elems: int = 8_000_000,
    dense_elems: int = 4_000_000,
) -> DataFrame:
    """All WITHIN-GROUP candidate pairs' tfidf dots: rounded-to-6 equal
    to ``doc_pair_dot(docs, p)`` where p is the equi-join of docs with
    itself on ``group_cols`` filtered to left_id < right_id — the shape
    of every blocking-key pair query.

    Why a dedicated operator (guide §8): the pair set is quadratic in
    group size, so ANY plan that materializes per-pair vector payloads
    moves each doc's sparse vector once per candidate (measured: the
    generic attach-join kernel still spent ~100 s at the driver's
    sf=1.0 serializing 2x16M vector copies through Arrow). Here every
    decision that needs the heavy payload happens where the payload
    already is: docs are hashed into per-group tiles sized by a
    group-cardinality-bounded count (the same bounded-collect policy as
    idf_map's vocabulary collect), each tile's vectors are collected
    ONCE, and one kernel per tile pair enumerates the pairs internally
    — payload movement is O(n_docs x tiles-per-group), i.e.
    O(sqrt(output)), not O(output). Same tiling discipline as
    dedup.embedding_near_dup; tile pairs are independent bounded tasks.

    The kernel is batch-native: per-batch dictionary encode of token
    child arrays (exact string matching), then per tile pair EITHER a
    pair of dense float64 GEMMs (values and existence indicators
    scattered into (n_docs x shared-vocab) matrices; dot = A.B^T,
    shared-count = Ai.Bi^T — BLAS, ~40x the index-algebra throughput)
    when the dense scratch fits ``dense_elems`` elements per side pair,
    OR the original ragged cross-product resolved with cumsum/bincount
    index algebra, token-chunked to ``chunk_elems`` (the open-vocabulary
    fallback: dense width is the tile-pair's distinct-token count, so a
    natural-text vocabulary would blow the dense scratch). No Python
    statement executes per pair on either path.

    FP note (why a GEMM is legal here): the raw double sums were never
    order-contractual — the chunked path's own per-pair addition order
    already depends on chunk boundaries and tile assignment, and the
    DuckDB oracle sums in its own scan order; the contract is the
    ROUNDED-to-6 value. Measured across the 15.87M pairs of the
    sf1.0-density measurement corpus: GEMM vs chunked raw dots differ
    by <= 5.6e-17 (one pair sat close enough to a rounding boundary to
    flip its 6th decimal — the same knife-edge class the chunked path
    itself re-rolls whenever chunk boundaries move); on the oracle
    corpora (sf0.001/0.01/0.1) the result is verified hash-exact vs
    DuckDB (scripts/check_oracles.py)."""
    import math

    import numpy as np
    import pyarrow as pa

    id_dtype = dict(docs.dtypes)["doc_id"]
    id_ddl = "string" if id_dtype == "string" else "long"

    # group sizes: low-cardinality by construction (blocking keys), the
    # ONE bounded driver action of this operator — it sizes the tile
    # plan AND yields n_docs for the idf (null-keyed groups count toward
    # the corpus but never pair: equi-join semantics)
    spark = docs.sparkSession
    sizes = docs.groupBy(*group_cols).count().collect()
    n_docs = sum(r["count"] for r in sizes)
    gid_rows, tp_rows = [], []
    gid = 0
    for r in sizes:
        if any(r[c] is None for c in group_cols):
            continue
        nt = max(1, math.ceil(r["count"] / tile_target))
        gid_rows.append((*[r[c] for c in group_cols], gid, nt))
        for i in range(nt):
            for j in range(i, nt):
                tp_rows.append((gid, i, j))
        gid += 1

    post = doc_tfidf(docs, n_docs=n_docs)
    # single-Exchange tiling: the FLAT postings stream joins the tiny
    # doc->(gid, tile) map (broadcast while doc-sized maps fit — same
    # gate class as the vecs broadcast in doc_pair_dot) and groups
    # straight into per-tile entry lists; the kernel rebuilds per-doc
    # boundaries by a stable argsort on the entry doc_ids. This removes
    # the per-doc collect_list shuffle the round-6 first cut paid
    # before tiling (two vector shuffles -> one).
    paired = docs.select("doc_id", *group_cols)
    for c in group_cols:
        paired = paired.where(F.col(c).isNotNull())
    gcols_ddl = ", ".join(
        f"{c} {t}" for c, t in docs.select(*group_cols).dtypes
    )
    gidtbl = spark.createDataFrame(
        pd.DataFrame(gid_rows, columns=[*group_cols, "_gid", "_nt"]),
        f"{gcols_ddl}, _gid long, _nt long",
    )
    tp = spark.createDataFrame(
        pd.DataFrame(tp_rows, columns=["_gid", "_ti", "_tj"], dtype="int64"),
        "_gid long, _ti long, _tj long",
    )
    docmap = (
        paired.join(F.broadcast(gidtbl), list(group_cols))
        .withColumn("_tile", F.pmod(F.xxhash64("doc_id"), F.col("_nt")))
        .select("doc_id", "_gid", "_tile")
    )
    if n_docs <= 2_000_000:
        docmap = F.broadcast(docmap)

    tiled = (
        post.join(docmap, "doc_id")
        .groupBy("_gid", "_tile")
        .agg(F.collect_list(F.struct("doc_id", "token", "tfidf")).alias("_recs"))
    )
    a = tiled.select("_gid", F.col("_tile").alias("_ti"), F.col("_recs").alias("_ra"))
    b = tiled.select("_gid", F.col("_tile").alias("_tj"), F.col("_recs").alias("_rb"))
    att = tp.join(a, ["_gid", "_ti"]).join(b, ["_gid", "_tj"])

    pa_id = pa.string() if id_ddl == "string" else pa.int64()
    out_schema = pa.schema(
        [
            pa.field("left_id", pa_id),
            pa.field("right_id", pa_id),
            pa.field("_dot", pa.float64()),
        ]
    )

    def _side(col: pa.ListArray):
        """Flatten one tile column into FULL child arrays + absolute
        offsets (never rebased — every index below is absolute, which
        stays correct for sliced parent arrays)."""
        r_off = col.offsets.to_numpy().astype(np.int64)
        ent = col.values  # struct<doc_id, token, tfidf> (flat entries)
        ids = ent.field(0).to_numpy(zero_copy_only=False)
        tok = ent.field(1)
        val = ent.field(2).to_numpy(zero_copy_only=False)
        return r_off, ids, tok, val

    def kernel(batches):
        for batch in batches:
            nrow = batch.num_rows
            if nrow == 0:
                continue
            idx = {f: i for i, f in enumerate(batch.schema.names)}
            same_tile = (
                batch.column(idx["_ti"]).to_numpy()
                == batch.column(idx["_tj"]).to_numpy()
            )
            a_roff, a_eids, a_tok, a_val = _side(batch.column(idx["_ra"]))
            b_roff, b_eids, b_tok, b_val = _side(batch.column(idx["_rb"]))
            # ONE dictionary encode per batch over both full token child
            # arrays (exact string matching, C++ hash table)
            codes = (
                pa.concat_arrays(
                    [
                        a_tok.combine_chunks()
                        if isinstance(a_tok, pa.ChunkedArray)
                        else a_tok,
                        b_tok.combine_chunks()
                        if isinstance(b_tok, pa.ChunkedArray)
                        else b_tok,
                    ]
                )
                .dictionary_encode()
                .indices.to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            a_codes = codes[: len(a_val)]
            b_codes = codes[len(a_val):]

            def _tile_arrays(e0, e1, eids, codes_f, vals_f):
                """One tile's flat entry slice -> per-doc grouping:
                (sorted unique doc ids, per-entry local doc index,
                entry codes/values) sorted by code for the merge."""
                d_ids = eids[e0:e1]
                order = np.argsort(d_ids, kind="stable")
                ds = d_ids[order]
                cs = codes_f[e0:e1][order]
                vs = vals_f[e0:e1][order]
                udocs = np.unique(ds)
                dloc = np.searchsorted(udocs, ds)
                co = np.argsort(cs, kind="stable")
                return udocs, cs[co], vs[co], dloc[co]

            out_l, out_r, out_d = [], [], []
            for row in range(nrow):
                ae0, ae1 = int(a_roff[row]), int(a_roff[row + 1])
                be0, be1 = int(b_roff[row]), int(b_roff[row + 1])
                if ae1 == ae0 or be1 == be0:
                    continue
                # ---- dense-GEMM fast path (vocab-bounded tiles) ----
                arow_c = a_codes[ae0:ae1]
                brow_c = b_codes[be0:be1]
                uc, inv = np.unique(
                    np.concatenate([arow_c, brow_c]), return_inverse=True
                )
                k_row = len(uc)
                a_ids_row = a_eids[ae0:ae1]
                b_ids_row = b_eids[be0:be1]
                a_ids_g, a_inv = np.unique(a_ids_row, return_inverse=True)
                b_ids_g, b_inv = np.unique(b_ids_row, return_inverse=True)
                if (len(a_ids_g) + len(b_ids_g)) * k_row <= dense_elems:
                    na_g, nb_g = len(a_ids_g), len(b_ids_g)
                    ac_r = inv[: len(arow_c)]
                    bc_r = inv[len(arow_c):]
                    A = np.zeros((na_g, k_row))
                    Ai = np.zeros((na_g, k_row))
                    B = np.zeros((nb_g, k_row))
                    Bi = np.zeros((nb_g, k_row))
                    A[a_inv, ac_r] = a_val[ae0:ae1]
                    Ai[a_inv, ac_r] = 1.0
                    B[b_inv, bc_r] = b_val[be0:be1]
                    Bi[b_inv, bc_r] = 1.0
                    dots2d = A @ B.T
                    # existence product, not A!=0: a tfidf can be
                    # exactly 0.0 (idf 0 for a token in every doc) and
                    # such shared tokens still make the pair exist
                    shared2d = Ai @ Bi.T
                    gmask = shared2d > 0
                    if same_tile[row]:
                        gmask &= a_ids_g[:, None] < b_ids_g[None, :]
                    gi, gj = np.nonzero(gmask)
                    if not len(gi):
                        continue
                    la = a_ids_g[gi]
                    rb_ = b_ids_g[gj]
                    lo_first = la < rb_
                    out_l.append(np.where(lo_first, la, rb_))
                    out_r.append(np.where(lo_first, rb_, la))
                    out_d.append(dots2d[gi, gj])
                    continue
                # ---- ragged chunked fallback (open vocabulary) ----
                a_ids_t, ac, av, ad = _tile_arrays(ae0, ae1, a_eids, a_codes, a_val)
                b_ids_t, bc, bv, bd = _tile_arrays(be0, be1, b_eids, b_codes, b_val)
                n_a, n_b = len(a_ids_t), len(b_ids_t)
                ucodes = np.unique(np.concatenate([ac, bc]))
                ast = np.searchsorted(ac, ucodes)
                aen = np.searchsorted(ac, ucodes, side="right")
                bst = np.searchsorted(bc, ucodes)
                ben = np.searchsorted(bc, ucodes, side="right")
                cna = aen - ast
                cnb = ben - bst
                m = cna * cnb
                keep = m > 0
                cna, cnb, m = cna[keep], cnb[keep], m[keep]
                ast, bst = ast[keep], bst[keep]
                dot = np.zeros(n_a * n_b, dtype=np.float64)
                shr = np.zeros(n_a * n_b, dtype=np.int64)
                # chunk over the code axis to bound scratch memory
                bounds = np.concatenate(
                    [[0], np.cumsum(m)]
                )
                lo = 0
                n_codes = len(m)
                while lo < n_codes:
                    hi = int(
                        np.searchsorted(bounds, bounds[lo] + chunk_elems)
                    )
                    hi = min(max(hi - 1, lo + 1), n_codes)
                    mm = m[lo:hi]
                    tot = int(bounds[hi] - bounds[lo])
                    if tot:
                        ci = np.repeat(np.arange(lo, hi, dtype=np.int64), mm)
                        local = np.arange(tot, dtype=np.int64) - np.repeat(
                            bounds[lo:hi] - bounds[lo], mm
                        )
                        i_loc = local // cnb[ci]
                        j_loc = local - i_loc * cnb[ci]
                        a_idx = ast[ci] + i_loc
                        b_idx = bst[ci] + j_loc
                        pk = ad[a_idx] * n_b + bd[b_idx]
                        dot += np.bincount(
                            pk, weights=av[a_idx] * bv[b_idx],
                            minlength=n_a * n_b,
                        )
                        shr += np.bincount(pk, minlength=n_a * n_b).astype(
                            np.int64
                        )
                    lo = hi
                mask = shr > 0
                if same_tile[row]:
                    mask &= (
                        a_ids_t[:, None] < b_ids_t[None, :]
                    ).reshape(-1)
                pk_hit = np.nonzero(mask)[0]
                if not len(pk_hit):
                    continue
                la = a_ids_t[pk_hit // n_b]
                rb_ = b_ids_t[pk_hit % n_b]
                lo_first = la < rb_
                out_l.append(np.where(lo_first, la, rb_))
                out_r.append(np.where(lo_first, rb_, la))
                out_d.append(dot[pk_hit])
            if out_l:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_l), type=pa_id),
                        pa.array(np.concatenate(out_r), type=pa_id),
                        pa.array(np.concatenate(out_d), type=pa.float64()),
                    ],
                    schema=out_schema,
                )

    return att.mapInArrow(
        kernel, f"left_id {id_ddl}, right_id {id_ddl}, _dot double"
    ).select("left_id", "right_id", F.round(F.col("_dot"), 6).alias("tfidf_dot"))

