"""Incremental matching — the reference's run-oriented query lifecycle.

The reference keeps run_id = 0 as the indexed candidate space and
matches each request batch (run_id > 0) against it (match.sql:30-31,
pkg/api/handler.go:104-163):
  * single match  (POST /api/v1/match, JSON)      -> match_records(batch of 1)
  * batch match   (POST /api/v1/match, CSV)       -> match_records(batch)
  * dedup         (POST /api/v1/duplicates)       -> the self-match in
    amp.pipeline.run_pipeline (run 0 vs itself + transitive clusters)

match_records() is the Spark form: the query side is blocked against
the index side ONLY (no index-index pairs — the reference gets this
from `candidates.run_id = 0 AND input.run_id = $1`), scored with the
same one-pass features, then ranked/top-k per query record
(match.sql:66, matcher.go:221-228).

The index side's features are precomputed once (index_features) and
reused across query batches — the analog of the reference's offline
run-0 bootstrap (cmd/addressmatchpro/main.go:92-173).
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import blocking, features, normalize, rank, scoring
from .checkpoint import CheckpointManager
from .config import AmpConfig, DEFAULT_CONFIG
from .pipeline import prepare

# AmpConfig fields that index_config.json files may still carry but
# AmpConfig no longer has; MatchIndex.load drops them
_RETIRED_CFG_KEYS = (
    "broadcast_idf", "gather_sides_max_records", "fused_reps_min_partitions",
    "salt_block_size", "grouped_pairgen_max_block",
)


class MatchIndex:
    """Materialized candidate space (the reference's run 0)."""

    def __init__(
        self,
        records: DataFrame,
        sides: DataFrame,
        idf: dict[int, float],
        cfg: AmpConfig,
        uses_provided_embeddings: bool = False,
    ):
        self.records = records
        self.sides = sides
        self.idf = idf
        self.cfg = cfg
        # when True, every query batch must bring vectors of the same
        # model/dim (match_records query_embeddings=...) — pair scoring
        # dots left x right vectors and mixed dims would score garbage
        self.uses_provided_embeddings = uses_provided_embeddings

    # -- durability (reference: run-0 bootstrap persists to Postgres
    # feature tables, cmd/addressmatchpro/main.go:92-173; here the
    # CheckpointManager's partitioned-parquet/Iceberg layout) ----------
    def save(self, root: str) -> None:
        """Persist records + feature sides + frozen IDF dict + config so
        the run-0 bootstrap survives the session — ``localCheckpoint``
        alone is executor-memory-scoped."""
        spark = self.records.sparkSession
        ck = CheckpointManager(spark, root, run_id=0)
        ck.write(self.records, "index_records")
        ck.write(self.sides, "index_sides")
        items = sorted(self.idf.items())
        if items:
            idf_df = spark.createDataFrame(
                [(int(k), float(v)) for k, v in items], "token_hash long, idf double"
            )
            ck.write(idf_df, "index_idf")
        # empty vocabulary: skip the table entirely (a partitioned write
        # of zero rows leaves no readable parquet) and flag it in the
        # manifest so load() round-trips {} faithfully
        with open(os.path.join(root, "index_config.json"), "w") as fh:
            json.dump(
                {
                    "cfg": dataclasses.asdict(self.cfg),
                    "uses_provided_embeddings": self.uses_provided_embeddings,
                    "idf_empty": not items,
                },
                fh,
            )

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "MatchIndex":
        with open(os.path.join(root, "index_config.json")) as fh:
            meta = json.load(fh)
        # no retired knob ever changed what an index build or match computes
        for retired in _RETIRED_CFG_KEYS:
            meta["cfg"].pop(retired, None)
        cfg = AmpConfig(**meta["cfg"])
        ck = CheckpointManager(spark, root, run_id=0)
        records = ck.read("index_records")
        # checkpointed tables come back with the run_id partition column;
        # sides must match the query batch's schema for the union
        sides = ck.read("index_sides").drop("run_id")
        if meta.get("idf_empty"):
            idf: dict[int, float] = {}
        else:
            idf_rows = ck.read("index_idf").collect()
            idf = {int(r["token_hash"]): float(r["idf"]) for r in idf_rows}
        return cls(
            records, sides, idf, cfg,
            uses_provided_embeddings=meta.get("uses_provided_embeddings", False),
        )


def build_index(
    files: DataFrame,
    cfg: AmpConfig = DEFAULT_CONFIG,
    embeddings: DataFrame | None = None,
    idf_override: dict[int, float] | None = None,
) -> MatchIndex:
    """Offline bootstrap of the candidate space (reference main.go:92-173):
    normalize -> representatives -> IDF dict -> one-pass features, the
    same front half run_pipeline runs (pipeline.prepare). The IDF
    dictionary is frozen here and reused for query batches —
    same semantics as the reference, which computes IDF over run 0 only
    (make_tf_idf.go:75-168) and weighs query tokens with it.
    ``embeddings`` ingests precomputed semantic vectors
    (scoring.attach_embeddings). ``idf_override`` skips the IDF
    computation and featurizes with the given dictionary — the
    fresh-build equivalence point for append_records' frozen-IDF policy
    (and the bring-your-own-IDF hook for cross-corpus scoring)."""
    records, _, idf, sides, _, _ = prepare(
        files, cfg, run_id=0, embeddings=embeddings, idf=idf_override
    )
    return MatchIndex(
        records, sides, idf, cfg, uses_provided_embeddings=embeddings is not None
    )


def append_records(
    index: MatchIndex,
    files: DataFrame,
    policy: str = "frozen",
    embeddings: DataFrame | None = None,
) -> MatchIndex:
    """Incremental run-0 extension — the reference's periodic resync
    (cmd/addressmatchpro/main.go:73-90, S3) WITHOUT the full rebuild:
    only the appended records are normalized and featurized; existing
    feature rows are reused.

    IDF policy (explicit, because the trade-off is real):
      * ``frozen`` (default): new records are weighted with the index's
        EXISTING IDF dictionary. Incremental cost — one normalize pass
        over the new files, one feature pass over the new
        representatives, one representatives recompute. Drift trade-off:
        tokens introduced by the appended batch score 0 (absent from
        the dictionary), and document frequencies do not shift — scores
        equal a fresh ``build_index(all_files, idf_override=old_idf)``
        EXACTLY (tested), but diverge from a fresh build's own IDF as
        the appended fraction grows. Re-freeze periodically.
      * ``refresh``: recompute the IDF over the union and re-featurize
        every representative — near-rebuild cost (normalize of old
        records is still skipped), zero drift.

    Representative swaps are handled exactly: if an appended record's id
    undercuts the current representative of an existing content, the old
    side row is dropped and the new winner featurized — the resulting
    side table is one row per distinct content keyed by the GLOBAL min
    record id, byte-equal to a fresh build's.
    """
    if policy not in ("frozen", "refresh"):
        raise ValueError(f"append_records: unknown policy {policy!r}")
    cfg = index.cfg
    if index.uses_provided_embeddings and embeddings is None:
        raise ValueError(
            "append_records: the index holds provided embeddings; pass "
            "embeddings for the appended records (same model/dim)"
        )
    new_records = normalize.normalize(files, cfg, run_id=0).localCheckpoint(
        eager=True
    )
    records = index.records.select(*new_records.columns).unionByName(new_records)
    n_rows, n_ids, n_contents = normalize.uniqueness_stats(records)
    if n_ids != n_rows:
        # appending a record_id that already exists is an upsert, which
        # this path does not implement — fail loudly (the reference's
        # resync truncates and reloads, shared.go:244-256)
        raise ValueError(
            f"append_records: {n_rows - n_ids} appended record_ids collide "
            "with existing ones — append is insert-only; rebuild the index "
            "for upserts"
        )
    records = records.localCheckpoint(eager=True)
    reps = normalize.representatives(records).localCheckpoint(eager=True)

    if policy == "refresh":
        idf = features.idf_map(reps, n_contents, cfg)
        sides = scoring.side_features_onepass(reps, idf, cfg)
        if index.uses_provided_embeddings:
            old_vecs = index.sides.select("record_id", "embedding")
            all_vecs = old_vecs.unionByName(
                embeddings.select(
                    F.col(embeddings.columns[0]).alias("record_id"),
                    F.col(embeddings.columns[1]).alias("embedding"),
                )
            )
            sides = scoring.attach_embeddings(
                sides, all_vecs, expected_ids=reps.select("record_id")
            )
    else:
        idf = index.idf
        # featurize ONLY representatives not already in the side table
        # (new contents, plus existing contents whose rep swapped to an
        # appended lower id); keep the still-valid old rows
        old_ids = index.sides.select("record_id")
        new_reps = reps.join(old_ids, "record_id", "left_anti")
        add_sides = scoring.side_features_onepass(new_reps, idf, cfg)
        if index.uses_provided_embeddings:
            add_sides = scoring.attach_embeddings(
                add_sides, embeddings, expected_ids=new_reps.select("record_id")
            )
        keep_old = index.sides.join(
            reps.select("record_id"), "record_id", "leftsemi"
        )
        sides = keep_old.select(*add_sides.columns).unionByName(add_sides)
    sides = sides.localCheckpoint(eager=True)
    return MatchIndex(
        records, sides, idf, cfg,
        uses_provided_embeddings=index.uses_provided_embeddings,
    )


def remove_records(
    index: MatchIndex,
    record_ids,
    policy: str = "frozen",
    embeddings: DataFrame | None = None,
) -> MatchIndex:
    """Incremental run-0 shrink — the inverse of ``append_records``
    (the reference's only removal path is the full resync truncate,
    shared.go:244-256; this skips the rebuild): drop the named records
    and repair the one-row-per-content side table.

    Removal is EXACT: every id must exist in the index (a typo'd id
    silently "removing" nothing would let callers believe a record is
    gone — fail loudly instead), and removing the last record is
    refused (an empty index should be a rebuild decision, not a state).

    Representative repair mirrors append's swap handling: if a removed
    record WAS the representative of a content that still has other
    rows, the content's new winner (min surviving record_id) is
    featurized; contents whose every row was removed lose their side
    row entirely.

    IDF policy as in append_records: ``frozen`` keeps the dictionary
    (document frequencies do not shift — results equal a fresh
    ``build_index(remaining, idf_override=old_idf)`` exactly, tested),
    ``refresh`` recomputes over the survivors. Provided-embedding
    indexes: a swap promotes a record whose vector was never kept (the
    side table stores representative vectors only) — pass
    ``embeddings`` covering the promoted ids, or the attach fails
    loudly rather than scoring garbage."""
    if policy not in ("frozen", "refresh"):
        raise ValueError(f"remove_records: unknown policy {policy!r}")
    cfg = index.cfg
    spark = index.records.sparkSession
    if isinstance(record_ids, DataFrame):
        ids_df = record_ids.select(
            F.col(record_ids.columns[0]).cast("string").alias("record_id")
        )
    else:
        ids = [str(r) for r in record_ids]
        if not ids:
            raise ValueError("remove_records: empty id list")
        ids_df = spark.createDataFrame([(i,) for i in ids],
                                       "record_id string")
    ids_df = ids_df.dropDuplicates(["record_id"]).localCheckpoint(eager=True)
    n_req = ids_df.count()
    n_hit = ids_df.join(
        index.records.select("record_id"), "record_id", "leftsemi"
    ).count()
    if n_hit != n_req:
        raise ValueError(
            f"remove_records: {n_req - n_hit} of {n_req} ids are not in "
            "the index — removal is exact, not best-effort"
        )
    records = index.records.join(
        ids_df, "record_id", "left_anti"
    ).localCheckpoint(eager=True)
    n_rows, _, n_contents = normalize.uniqueness_stats(records)
    if n_rows == 0:
        raise ValueError(
            "remove_records: removal would empty the index — rebuild "
            "instead of shrinking to nothing"
        )
    reps = normalize.representatives(records).localCheckpoint(eager=True)

    old_vecs = (index.sides.select("record_id", "embedding")
                if index.uses_provided_embeddings else None)
    if embeddings is not None and old_vecs is not None:
        old_vecs = old_vecs.unionByName(
            embeddings.select(
                F.col(embeddings.columns[0]).cast("string").alias("record_id"),
                F.col(embeddings.columns[1]).alias("embedding"),
            )
        ).dropDuplicates(["record_id"])

    if policy == "refresh":
        idf = features.idf_map(reps, n_contents, cfg)
        sides = scoring.side_features_onepass(reps, idf, cfg)
        if index.uses_provided_embeddings:
            sides = scoring.attach_embeddings(
                sides, old_vecs, expected_ids=reps.select("record_id")
            )
    else:
        idf = index.idf
        old_ids = index.sides.select("record_id")
        # reps promoted by the removal (their content's old winner died)
        new_reps = reps.join(old_ids, "record_id", "left_anti")
        add_sides = scoring.side_features_onepass(new_reps, idf, cfg)
        if index.uses_provided_embeddings:
            add_sides = scoring.attach_embeddings(
                add_sides, old_vecs, expected_ids=new_reps.select("record_id")
            )
        keep_old = index.sides.join(
            reps.select("record_id"), "record_id", "leftsemi"
        )
        sides = keep_old.select(*add_sides.columns).unionByName(add_sides)
    sides = sides.localCheckpoint(eager=True)
    return MatchIndex(
        records, sides, idf, cfg,
        uses_provided_embeddings=index.uses_provided_embeddings,
    )


def match_records(
    index: MatchIndex,
    query_files: DataFrame,
    run_id: int = 1,
    top_n: int | None = None,
    query_embeddings: DataFrame | None = None,
) -> DataFrame:
    """Match a query batch against the index (reference §3.1/§3.2).

    Returns per-query ranked candidates:
    (query_id, candidate_id, <similarity features>, score, rank),
    top_n per query record (matcher.go:221-228 — distributed per-input
    form; see rank.global_top_n for exact single-request parity).
    """
    cfg = index.cfg
    if index.uses_provided_embeddings and query_embeddings is None:
        raise ValueError(
            "match_records: the index was built with provided embeddings; "
            "pass query_embeddings (record_id, embedding) of the same "
            "model/dim for the query batch"
        )
    if query_embeddings is not None and not index.uses_provided_embeddings:
        raise ValueError(
            "match_records: query_embeddings given but the index holds "
            "hashing-trick vectors — rebuild the index with "
            "build_index(embeddings=...) so both sides share a model/dim"
        )
    q_records = normalize.normalize(query_files, cfg, run_id=run_id).localCheckpoint(
        eager=True
    )
    q_sides = scoring.side_features_onepass(q_records, index.idf, cfg)
    if query_embeddings is not None:
        q_sides = scoring.attach_embeddings(
            q_sides, query_embeddings, expected_ids=q_records.select("record_id")
        )

    # blocking: query side vs index side ONLY (match.sql:30-31 semantics)
    q_blocks = blocking.all_blocks(q_records, q_sides, cfg).select(
        F.col("record_id").alias("left_id"), "block_key"
    )
    i_blocks = blocking.all_blocks(index.records, index.sides, cfg).select(
        F.col("record_id").alias("right_id"), "block_key"
    )
    # the query side is request-scoped by definition (single record or
    # an HTTP batch) — broadcast it so the INDEX blocks table (records
    # x ~9 keys, the big side at scale) streams map-side and never
    # shuffles per request
    pairs = (
        i_blocks.join(F.broadcast(q_blocks), "block_key")
        .select("left_id", "right_id")
        .where(F.col("left_id") != F.col("right_id"))
        .dropDuplicates(["left_id", "right_id"])
    )

    both_sides = q_sides.unionByName(index.sides)
    scored = scoring.score_pairs_onepass(pairs, both_sides, cfg)
    k = top_n if top_n is not None else cfg.top_k
    return (
        rank.rank_candidates(rank.top_k(scored, k=k, cfg=cfg))
        .withColumnRenamed("left_id", "query_id")
        .withColumnRenamed("right_id", "candidate_id")
    )
