"""Corpus-curation operators — the selection layer of a training-data
pipeline: deterministic sampling (reproducible, engine-portable), a
composed keep/drop verdict (quality x language x near-dup), waterfilled
domain-mixture sampling, and the concat-and-chunk sequence-packing
manifest.

Everything here is hash-deterministic and SQL-expressible so the DuckDB
oracle checks it bit-for-bit: sampling uses md5-prefix thresholds
(lexicographic comparison of fixed-width lowercase hex equals numeric
comparison in every ASCII collation), never ``rand()``/``sample()``
(nondeterministic across engines, partitionings and retries — useless
for resumable pipelines).

At 100 TB: ``sample_fraction`` is a pure scan-side filter (no shuffle,
prunes to the key column); ``stratified_topn`` shuffles once on the
strata key; ``curate`` composes three single-scan operators and the
banded-LSH dedup path with doc_id equi-joins — no all-pairs work
anywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import dedup, text


def _hash8(key_col: str, salt: int):
    """First 8 hex chars of md5('s<salt>:<key>') — a uniform 32-bit
    draw per key, identical in Spark and DuckDB."""
    return F.substring(
        F.md5(F.concat_ws(":", F.lit(f"s{salt}"), F.col(key_col).cast("string"))),
        1,
        8,
    )


def fraction_threshold_hex(fraction: float) -> str:
    """The 8-hex-char threshold string for a sampling fraction."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction {fraction} outside [0, 1]")
    return format(min(int(fraction * 16**8), 16**8 - 1), "08x")


def sample_fraction(
    docs: DataFrame, fraction: float, key_col: str = "doc_id", salt: int = 42
) -> DataFrame:
    """Deterministic Bernoulli(fraction) row sample keyed on
    ``key_col``: a row is kept iff md5-prefix(salt:key) < threshold.
    Stable under repartitioning, retries, resume, and across engines;
    different salts give independent samples (train/held-out splits).
    fraction >= 1.0 keeps every row exactly (the hex threshold saturates
    at 'ffffffff' and the strict < would otherwise drop the ~2^-32 of
    keys whose prefix IS 'ffffffff')."""
    if fraction >= 1.0:
        if fraction > 1.0:
            raise ValueError(f"fraction {fraction} outside [0, 1]")
        return docs
    return docs.where(_hash8(key_col, salt) < F.lit(fraction_threshold_hex(fraction)))


def stratified_topn(
    docs: DataFrame,
    strata: list[str],
    n: int,
    key_col: str = "doc_id",
    salt: int = 42,
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, chosen by hash order
    (ties broken by key) — the deterministic form of per-stratum
    reservoir sampling. Adds ``sample_rank`` (1-based within the
    stratum). One shuffle on the strata columns."""
    w = Window.partitionBy(*strata).orderBy(_hash8(key_col, salt), F.col(key_col))
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= n)
    )


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    strata_col: str = "source",
    key_col: str = "doc_id",
    salt: int = 42,
) -> DataFrame:
    """Deterministic domain-mixture sampling (the "data mixing" step of
    a pretraining pipeline): downsample each ``strata_col`` group so the
    output matches the target ``weights`` mixture, taking the LARGEST
    total achievable without upsampling any group (waterfilling):

        T   = min_s n_s / w_s          (the binding source saturates)
        f_s = min(1, T * w_s / n_s)    (per-source keep fraction)

    then keeps each row iff md5-prefix(salt:key) < f_s — the same
    engine-portable Bernoulli draw as :func:`sample_fraction`, so the
    result is stable under repartitioning, retries and resume. The
    result is invariant to scaling all weights by a constant (weights
    need not sum to 1). Sources absent from ``weights`` (or with no
    rows) are dropped.

    Scale shape: one map-side-combinable count on a low-cardinality
    key, driver-free threshold algebra on that tiny table, then a
    broadcast join + scan-side filter over the corpus — no shuffle of
    the data itself, any source cardinality."""
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive")
    spark = docs.sparkSession
    wdf = spark.createDataFrame(
        pd.DataFrame(
            [(k, float(v)) for k, v in sorted(weights.items())],
            columns=[strata_col, "_w"],
        ),
        f"{strata_col} string, _w double",
    )
    counts = (
        docs.groupBy(strata_col)
        .agg(F.count("*").cast("double").alias("_n"))
        .join(wdf, strata_col)
    )
    # global min as a window over the (tiny) counts table — a separate
    # .agg() would make Spark recompute the groupBy, i.e. scan the
    # corpus for counts TWICE
    tw = Window.partitionBy()
    # f in [0,1]; threshold hex mirrors fraction_threshold_hex exactly
    # (floor == int-truncation for non-negative, saturate at ffffffff)
    f = F.least(F.lit(1.0), F.col("_T") * F.col("_w") / F.col("_n"))
    th = (
        counts.withColumn("_T", F.min(F.col("_n") / F.col("_w")).over(tw))
        .withColumn("_f", f)
        .withColumn(
            "_thresh",
            F.lpad(
                F.lower(
                    F.hex(
                        F.least(
                            F.floor(F.col("_f") * F.lit(float(16**8))).cast("bigint"),
                            F.lit(16**8 - 1),
                        )
                    )
                ),
                8,
                "0",
            ),
        )
        .select(strata_col, "_f", "_thresh")
    )
    # th's columns are named through th, so input columns that happen
    # to be called _f/_thresh pass through untouched
    th = F.broadcast(th)
    return (
        docs.join(th, strata_col)
        .where((th["_f"] >= 1.0) | (_hash8(key_col, salt) < th["_thresh"]))
        .drop(th["_f"], th["_thresh"])
    )


def pack_documents(
    docs: DataFrame,
    budget: int = 2048,
    n_shards: int = 8,
) -> DataFrame:
    """Concat-and-chunk sequence-packing manifest (the GPT-style
    pretraining layout: documents are concatenated in a deterministic
    order and the token stream is cut into fixed-``budget`` packs; a
    document may straddle pack boundaries). Emits one row per document:

      shard         doc_id % n_shards — the independent packing stream
      n_tokens      word-token length (text.tokens_col semantics)
      start_offset  token offset of the doc inside its first pack
      first_pack /  0-based pack indexes within the shard that the doc
      last_pack     touches (equal when it fits in one pack)
      pack_id       globally unique id of the first pack:
                    shard * 2^32 + first_pack

    Scale shape: ONE shuffle (by shard); the cumulative sum inside a
    shard is sequential by nature, so parallelism = n_shards — size it
    to the cluster, not the data. Deterministic under repartitioning,
    retries, and resume (pure function of doc_id order), so a re-run
    reproduces byte-identical packs — the property that makes packed
    training data resumable. Assumes non-negative ``doc_id`` (both
    engines keep the dividend's sign on ``%``, so a negative id would
    yield a negative shard and a colliding pack_id)."""
    if budget <= 0 or n_shards <= 0:
        raise ValueError("budget and n_shards must be positive")
    d = docs.select(
        "doc_id",
        (F.col("doc_id") % n_shards).alias("shard"),
        F.size(text.tokens_col()).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("_start")
    d = d.withColumn("_cum", cum).withColumn("_start", start)
    first_pack = F.floor(F.col("_start") / budget)
    last_pack = F.when(
        F.col("n_tokens") > 0, F.floor((F.col("_cum") - 1) / budget)
    ).otherwise(first_pack)
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        (F.col("_start") % budget).alias("start_offset"),
        first_pack.alias("first_pack"),
        last_pack.alias("last_pack"),
        (F.col("shard") * F.lit(2**32) + first_pack).alias("pack_id"),
    )


def curate(
    docs: DataFrame,
    min_quality: float = 0.3,
    keep_langs: tuple[str, ...] = ("en",),
    jaccard_threshold: float = 0.8,
    bands: int = 4,
    max_top_2gram_frac: float | None = None,
    max_pii_total: int | None = None,
) -> DataFrame:
    """Per-document curation verdict:
      quality      text.quality_score's [0,1] heuristic
      pred_lang    text.lang_id's marker argmax
      is_near_dup  the document is the HIGHER-id member of a verified
                   near-dup pair (MinHash-LSH candidates -> exact
                   token-Jaccard >= threshold); the lower id stays as
                   canonical. Non-transitive by design: in a chain
                   a-b-c both b and c drop, a survives.
      keep         quality >= min_quality AND pred_lang in keep_langs
                   AND NOT is_near_dup
    Optional gates (columns + keep terms appear only when set, so the
    default output shape is unchanged):
      max_top_2gram_frac  adds ``top_2gram_frac`` (Gopher repetition
                          rule, text.repetition_metrics) and requires
                          it <= the gate
      max_pii_total       adds ``pii_total`` (text.pii_scan) and
                          requires it <= the gate
    Returns one row per input document (never silently drops — the
    caller filters on ``keep``). All added operators are single-scan
    column math joined on doc_id — no new all-pairs work."""
    q = text.quality_score(docs).select("doc_id", "quality")
    l = text.lang_id(docs).select("doc_id", "pred_lang")
    cand = dedup.minhash_lsh_pairs(docs, bands=bands)
    jac = dedup.ngram_jaccard(docs, cand)
    drops = (
        jac.where(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("right_id").alias("doc_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    out = docs.select("doc_id").join(q, "doc_id").join(l, "doc_id")
    keep = (F.col("quality") >= min_quality) & F.col("pred_lang").isin(
        *keep_langs
    )
    if max_top_2gram_frac is not None:
        rep = text.repetition_metrics(docs).select("doc_id", "top_2gram_frac")
        out = out.join(rep, "doc_id")
        keep = keep & (F.col("top_2gram_frac") <= max_top_2gram_frac)
    if max_pii_total is not None:
        pii = text.pii_scan(docs).select("doc_id", "pii_total")
        out = out.join(pii, "doc_id")
        keep = keep & (F.col("pii_total") <= max_pii_total)
    return (
        out.join(drops, "doc_id", "left")
        .withColumn("is_near_dup", F.coalesce(F.col("_dup"), F.lit(False)))
        .withColumn("keep", keep & ~F.col("is_near_dup"))
        .drop("_dup")
    )
