"""Stage 2 — multi-pass blocking: candidate-pair generation.

The reference's candidate generation is ONE Postgres θ-join with an
OR-of-equalities predicate (internal/matcher/match.sql:22-25) plus a
binary-key equi-self-join (match.sql:33-43). Catalyst cannot execute an
OR-join as anything but a nested-loop product, so the architecture here
is the classic multi-pass rewrite: each pass emits (record_id,
block_key) rows, passes are unioned, pairs are generated per key with
``left_id < right_id``, and the union is deduplicated. Same pair set,
all equi-joins (SURVEY.md §2.3 J1/J3, §4).

Passes:
  minhash — b bands × r rows MinHash over k-token shingles; the analog
            of the reference's 10-bit anchor "binary key"
            (internal/matcher/shared.go:79-101): a fixed-width
            content-derived signature used as an equi-join key. The
            signature comes from the one-pass feature kernel
            (scoring.side_features_onepass, column ``sig``); band keys
            are built from it JVM-side, with no Python in this stage.
  path    — (lang, path stem): the analog of the reference's exact
            attribute blocks (state/city/zip/phone, match.sql:24-25).

Skew handling (north_rule): exact-duplicate contents are already
collapsed to representatives before blocking (normalize.representatives).
Remaining hot keys hit the frequency cap: blocks larger than
``max_block_size`` are dropped from pair generation and surfaced in a
metrics DataFrame (never silent; standard ER practice). The cap is
also what bounds skew in the pair generator: a kept block's pairs are
exploded in ONE task, at most cap^2/2 of them (2,016 at the default
cap of 64), before the pair table is repartitioned on ``left_id`` for
the dedup and the scorer — so no task owns unbounded work and no block
needs splitting across tasks.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import AmpConfig, DEFAULT_CONFIG

_MERSENNE_P = (1 << 61) - 1


def _minhash_coeffs(cfg: AmpConfig) -> tuple[list[int], list[int]]:
    """Deterministic permutation coefficients h_j(x) = (a_j*x + b_j) mod p.

    Coefficients are kept below 2^30 so a_j * x + b_j over 32-bit
    shingle hashes stays under 2^62 — the int64 affine map in
    scoring.side_features_onepass never overflows."""
    rng = np.random.RandomState(cfg.seed)
    a = rng.randint(1, 1 << 30, size=cfg.minhash_perms, dtype=np.int64)
    b = rng.randint(0, 1 << 30, size=cfg.minhash_perms, dtype=np.int64)
    return a.tolist(), b.tolist()


def _band_keys_sql(cfg: AmpConfig) -> str:
    """SQL of a side row's MinHash band keys: the array<bigint> of its
    distinct xxhash64(band index, the band's r signature values) over
    ``sig``. One SQL expression, not ~14 Column calls per band: a query
    batch builds this plan per request, and each Column call is a
    driver round trip to the JVM.

    array_distinct makes the no-duplicate-(record_id, block_key)
    invariant STRUCTURAL within the pass (band index is salted into
    each key, so duplicates require a real xxhash64 collision — but
    the grouped pair-gen's hot-key pre-count counts raw rows, and its
    equivalence to the authoritative distinct-size gate must not rest
    on a probabilistic argument). Cross-pass duplicates would need a
    minhash-vs-path key collision (disjoint hash inputs; 2^-64),
    and the post-collect distinct-size filter remains authoritative."""
    r = cfg.minhash_rows_per_band
    band_keys = ", ".join(
        f"xxhash64({band}, "
        + ", ".join(f"element_at(sig, {band * r + i + 1})" for i in range(r))
        + ")"
        for band in range(cfg.minhash_bands)
    )
    return f"array_distinct(array({band_keys}))"


# SQL of a side row's exact-attribute key, its (lang, path stem)
_PATH_KEY_SQL = "xxhash64('p', lang, stem)"


def minhash_blocks(sigs: DataFrame, cfg: AmpConfig = DEFAULT_CONFIG) -> DataFrame:
    """(record_id, block_key) rows: one key per band. Band key =
    xxhash64(band index, its r signature values) — an int64, so every
    downstream shuffle/join on blocking keys moves fixed-width ints,
    never strings (explicit-repartition-on-blocking-keys is the
    north_rule; int keys make that repartition cheap)."""
    return (
        sigs.selectExpr("record_id", f"{_band_keys_sql(cfg)} AS keys")
        .select("record_id", F.explode("keys").alias("block_key"))
        .withColumn("pass_name", F.lit("minhash"))
    )


def path_blocks(reps: DataFrame) -> DataFrame:
    """Exact-attribute pass: (lang, stem) — catches renames/edits that
    keep the file name (reference analog: state/city equality blocks)."""
    return reps.selectExpr("record_id", f"{_PATH_KEY_SQL} AS block_key").withColumn(
        "pass_name", F.lit("path")
    )


def block_key_arrays(sides: DataFrame, cfg: AmpConfig = DEFAULT_CONFIG) -> DataFrame:
    """The side rows with ``block_keys``, the keys all_blocks gives each
    row, as one array per row (exploded, the all_blocks rows). It is a
    single projection, with no explode or union, so over an in-memory
    relation (a served request's side rows) Spark folds it into the
    relation and collecting it runs no job."""
    return sides.selectExpr(
        "*", f"concat({_band_keys_sql(cfg)}, array({_PATH_KEY_SQL})) AS block_keys"
    )


def all_blocks(
    reps: DataFrame, sigs: DataFrame, cfg: AmpConfig = DEFAULT_CONFIG
) -> DataFrame:
    return minhash_blocks(sigs, cfg).unionByName(path_blocks(reps))


def block_stats(blocks: DataFrame) -> DataFrame:
    """Per-key sizes — the metrics table of the frequency cap (never
    drop a block silently; see dropped_blocks)."""
    return blocks.groupBy("pass_name", "block_key").agg(
        F.count("*").alias("block_size")
    )


def candidate_pairs(blocks: DataFrame, cfg: AmpConfig = DEFAULT_CONFIG) -> DataFrame:
    """Blocks -> distinct candidate pairs (left_id < right_id).

    ONE groupBy shuffle collects each block's (capped, deduplicated)
    member array and a codegen'd lambda explodes the ordered pairs in
    place. Per-block pair work is at most cap^2/2 (cap =
    ``max_block_size``) and runs in one task, before the ``left_id``
    repartition spreads the pair rows for the dedup and the scorer.
    Cap semantics count DISTINCT member ids per key (collect_set).
    """
    # Hot-key guard BEFORE the collect: a degenerate key (a band every
    # record shares, a stem like "index" across millions of repos) would
    # otherwise build its full member array in one non-spillable
    # aggregation buffer just to be discarded by the size filter. The
    # guard is a pre-count + anti-join, NOT a count window: a window
    # needs WindowExec, which SORTS every partition of the blocks table
    # and buffers its rows — measured +62% on the full 1.4M-record
    # pipeline (146.5s -> 235.0s, the round-4 bisect) for a guard that
    # almost never fires. The pre-count aggregates fixed-size longs
    # (map-side partial combine; spill-proof buffers) into a tiny
    # per-key table, the anti-join drops hot-key rows before any array
    # is built, and the groupBy below REUSES the anti-join's
    # block_key exchange — the blocks table still shuffles exactly
    # once, now with no sort. The second scan of the blocks plan for
    # the count is narrow projections over the pinned sides table.
    # Row count == distinct count here because no pass emits the same
    # (record, key) twice — STRUCTURAL as of round 5: minhash_blocks
    # explodes an array_distinct'd key array and path_blocks emits one
    # row per record (cross-pass dup needs a 2^-64 key collision); the
    # post-collect size filter stays as the authoritative gate.
    hot = (
        blocks.groupBy("block_key")
        .agg(F.count("*").alias("m"))
        .where(F.col("m") > cfg.max_block_size)
        .select("block_key")
    )
    grouped = (
        blocks.join(hot, "block_key", "left_anti")
        .groupBy("block_key")
        .agg(F.array_sort(F.collect_set("record_id")).alias("ids"))
        .where((F.size("ids") > 1) & (F.size("ids") <= cfg.max_block_size))
    )
    # ordered pairs from the sorted member array: x pairs with every
    # strictly-later element, so left < right holds by construction.
    # All codegen'd expressions — no Python, no second shuffle.
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), "
                "y -> struct(x AS left_id, y AS right_id))))"
            )
        ).alias("p")
    ).select("p.left_id", "p.right_id")
    # explicit partition count on the dedup shuffle: pair ROWS are tiny
    # (~80 B) but each costs real Python-kernel work downstream, so
    # AQE's byte-based coalesce would serialize the scorer onto one
    # task. The count is the session's own shuffle width (one source of
    # truth; callers size it with session.shuffle_partitions_for).
    # Partition by left_id ONLY: hash(left_id) satisfies the
    # dedup's clustered distribution on (left_id, right_id) — every
    # duplicate shares its left_id — AND the scorer's first
    # shuffled-hash join keys on left_id, so dedup + join-1 share THIS
    # one exchange and the pair table shuffles once, not twice
    # (round-4 verdict task 1). Skew is bounded: one record pairs with
    # at most (max_block_size - 1) x n_passes others.
    width = int(blocks.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return pairs.repartition(width, "left_id").dropDuplicates(["left_id", "right_id"])


def dropped_blocks(stats: DataFrame, cfg: AmpConfig = DEFAULT_CONFIG) -> DataFrame:
    """Metrics: keys excluded by the frequency cap, with sizes."""
    return stats.where(F.col("block_size") > cfg.max_block_size)
