"""Incremental matching — the reference's run-oriented query lifecycle.

The reference keeps run_id = 0 as the indexed candidate space and
matches each request batch (run_id > 0) against it (match.sql:30-31,
pkg/api/handler.go:104-163):
  * single match  (POST /api/v1/match, JSON)      -> match_records(batch of 1)
  * batch match   (POST /api/v1/match, CSV)       -> match_records(batch)
  * dedup         (POST /api/v1/duplicates)       -> the self-match in
    amp.pipeline.run_pipeline (run 0 vs itself + transitive clusters)

An index version (MatchIndex) holds everything about run 0 that a
request would otherwise recompute — the analog of the reference's
offline run-0 bootstrap, which fills its feature tables and the
customer_keys blocking keys once (cmd/addressmatchpro/main.go:92-173,
init_db.sql:78-85):
  * ``records`` — the normalized rows, and ``n_records``, their count;
  * ``sides``   — one-pass feature rows, one per distinct content;
  * ``blocks``  — the pinned (right_id, block_key) table:
    blocking.all_blocks over the side rows;
  * ``idf`` and ``idf_b`` — the frozen IDF dictionary and ONE Broadcast
    handle of it, shared by every request and write of the version.
build_index and MatchIndex.load create all of it. append_records and
remove_records derive the next version incrementally: they featurize
and block only the side rows they add, anti-join only the side ids
they drop, and reuse the IDF handle under ``frozen`` (a new one under
``refresh``).

A request owns only its own rows. match_records normalizes and
featurizes a query DataFrame in one Python worker pass and pins it;
match_rows featurizes query rows already in the driver (a served
request's) in-process and hands Spark the finished side rows, so the
scorer is the request's only Python stage. From there both share one
tail: the query's block keys meet the pinned index blocks in a
broadcast join (the candidate pairs, pinned), and the scorer reads the
query sides plus the index side rows those pairs name — no index-side
table is rebuilt or shuffled per request. The query side is blocked
against the index side ONLY (no index-index pairs — the reference gets
this from `candidates.run_id = 0 AND input.run_id = $1`), then
ranked/top-k per query record (match.sql:66, matcher.go:221-228).
"""

from __future__ import annotations

import dataclasses
import json
import os
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import blocking, features, normalize, rank, scoring
from . import io as amp_io
from .checkpoint import CheckpointManager
from .config import AmpConfig, DEFAULT_CONFIG
from .pipeline import prepare

# AmpConfig fields that index_config.json files may still carry but
# AmpConfig no longer has; MatchIndex.load drops them
_RETIRED_CFG_KEYS = (
    "broadcast_idf", "gather_sides_max_records", "fused_reps_min_partitions",
    "salt_block_size", "grouped_pairgen_max_block", "shuffle_partitions",
    "cc_checkpoint_every",
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
        *,
        blocks: DataFrame,
        idf_b: Broadcast,
        n_records: int,
    ):
        self.records = records
        self.sides = sides
        self.idf = idf
        self.cfg = cfg
        # pinned (right_id, block_key) rows of every side row
        self.blocks = blocks
        # the broadcast of ``idf``; a retired version's handle is
        # unpersisted, never destroyed (in-flight requests may read it)
        self.idf_b = idf_b
        self.n_records = n_records
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
        idf_df = spark.createDataFrame(
            pd.DataFrame(sorted(self.idf.items()), columns=["token_hash", "idf"]),
            "token_hash long, idf double",
        )
        ck.write(idf_df, "index_idf")
        with open(os.path.join(root, "index_config.json"), "w") as fh:
            json.dump(
                {
                    "cfg": dataclasses.asdict(self.cfg),
                    "uses_provided_embeddings": self.uses_provided_embeddings,
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
        # sides keep the side-table schema (writes union new rows on)
        sides = ck.read("index_sides").drop("run_id")
        # indexes saved before checkpoints recorded their schema wrote
        # no table for an empty vocabulary and flagged it instead
        if meta.get("idf_empty"):
            idf: dict[int, float] = {}
        else:
            idf_rows = ck.read("index_idf").collect()
            idf = {int(r["token_hash"]): float(r["idf"]) for r in idf_rows}
        return cls(
            records, sides, idf, cfg,
            uses_provided_embeddings=meta.get("uses_provided_embeddings", False),
            blocks=_block_table(sides, cfg).localCheckpoint(eager=True),
            idf_b=spark.sparkContext.broadcast(idf),
            n_records=records.count(),
        )


def _block_table(sides: DataFrame, cfg: AmpConfig) -> DataFrame:
    """(right_id, block_key) rows of side rows: their MinHash band keys
    and (lang, stem) key. Only side rows are blocked — a non-representative
    record never scores (the scorer inner-joins side rows)."""
    return blocking.all_blocks(sides, sides, cfg).select(
        F.col("record_id").alias("right_id"), "block_key"
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
    (make_tf_idf.go:75-168) and weighs query tokens with it. The
    version's block table and IDF broadcast are built here too.
    ``embeddings`` ingests precomputed semantic vectors
    (scoring.attach_embeddings). ``idf_override`` skips the IDF
    computation and featurizes with the given dictionary — the
    fresh-build equivalence point for append_records' frozen-IDF policy
    (and the bring-your-own-IDF hook for cross-corpus scoring)."""
    records, _, idf, sides, n_rows, _ = prepare(
        files, cfg, run_id=0, embeddings=embeddings, idf=idf_override
    )
    return MatchIndex(
        records, sides, idf, cfg, uses_provided_embeddings=embeddings is not None,
        blocks=_block_table(sides, cfg).localCheckpoint(eager=True),
        idf_b=files.sparkSession.sparkContext.broadcast(idf),
        n_records=n_rows,
    )


def _probe_and_reps(records: DataFrame) -> tuple[int, int, DataFrame]:
    """(n_rows, n_distinct_ids, pinned representatives) of pinned
    ``records``. The probe and the representatives pin are independent
    jobs over one immutable table, so they run side by side, as in
    pipeline.prepare."""
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_probe = pool.submit(normalize.uniqueness_stats, records, False)
        reps = normalize.representatives(records).localCheckpoint(eager=True)
        n_rows, n_ids, _ = f_probe.result()
    return n_rows, n_ids, reps


def _next_version(
    index: MatchIndex,
    records: DataFrame,
    reps: DataFrame,
    new_reps: DataFrame,
    dropped: DataFrame,
    n_rows: int,
    policy: str,
    vecs: DataFrame | None,
) -> MatchIndex:
    """The index version over ``records`` and their ``reps`` (both
    pinned), derived from ``index`` by the write's own rows:
      * ``new_reps`` — the representatives with no side row yet (new
        contents, and contents whose representative changed);
      * ``dropped`` (record_id) — ids covering every side row that lost
        its place, and no representative; extra ids that hold no side
        row leave the anti-joins unchanged.
    Both are write-sized, so they broadcast and the index tables stream
    past them. Side rows of representatives that stay are kept
    (``frozen``) or re-featurized with a fresh IDF (``refresh``); only
    the side rows added are blocked. ``vecs`` (record_id, embedding)
    covers every representative featurized here, for indexes holding
    provided embeddings."""
    cfg = index.cfg
    f_sides = None
    # independent pins run side by side: the dropped ids beside the
    # feature pass, then the side table beside the block table
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_dropped = pool.submit(dropped.localCheckpoint, True)
        if policy == "refresh":
            idf = features.idf_map(reps, reps.count(), cfg)
            idf_b = reps.sparkSession.sparkContext.broadcast(idf)
            sides = scoring.side_features_onepass(reps, idf_b, cfg)
            if vecs is not None:
                sides = scoring.attach_embeddings(
                    sides, vecs, expected_ids=reps.select("record_id")
                )
            sides = sides.localCheckpoint(eager=True)
            added = sides.join(
                F.broadcast(new_reps.select("record_id")), "record_id", "leftsemi"
            )
        else:
            idf, idf_b = index.idf, index.idf_b
            added = scoring.side_features_onepass(new_reps, idf_b, cfg)
            if vecs is not None:
                added = scoring.attach_embeddings(
                    added, vecs, expected_ids=new_reps.select("record_id")
                )
            added = added.localCheckpoint(eager=True)
        dropped = f_dropped.result()
        if policy == "frozen":
            f_sides = pool.submit(
                index.sides.join(F.broadcast(dropped), "record_id", "left_anti")
                .select(*added.columns)
                .unionByName(added)
                .coalesce(index.sides.rdd.getNumPartitions())
                .localCheckpoint,
                True,
            )
        # block keys come from sig, lang and stem, never from the IDF, so
        # a kept side row keeps its keys under both policies
        blocks = (
            index.blocks.join(
                F.broadcast(dropped.withColumnRenamed("record_id", "right_id")),
                "right_id", "left_anti",
            )
            .unionByName(_block_table(added, cfg))
            .coalesce(index.blocks.rdd.getNumPartitions())
            .localCheckpoint(eager=True)
        )
        if f_sides is not None:
            sides = f_sides.result()
    return MatchIndex(
        records, sides, idf, cfg,
        uses_provided_embeddings=index.uses_provided_embeddings,
        blocks=blocks, idf_b=idf_b, n_records=n_rows,
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
    records = (
        index.records.select(*new_records.columns)
        .unionByName(new_records)
        .localCheckpoint(eager=True)
    )
    n_rows, n_ids, reps = _probe_and_reps(records)
    if n_ids != n_rows:
        # appending a record_id that already exists is an upsert, which
        # this path does not implement — fail loudly (the reference's
        # resync truncates and reloads, shared.go:244-256)
        raise ValueError(
            f"append_records: {n_rows - n_ids} appended record_ids collide "
            "with existing ones — append is insert-only; rebuild the index "
            "for upserts"
        )
    # append is insert-only, so every new representative is an appended
    # record, and every old record sharing its content lost its place
    # (the former representative among them holds the side row)
    new_reps = reps.join(
        F.broadcast(new_records.select("record_id")), "record_id", "leftsemi"
    )
    dropped = (
        index.records.select("record_id", "content_sha")
        .join(F.broadcast(new_reps.select("content_sha")), "content_sha", "leftsemi")
        .select("record_id")
    )
    vecs = None
    if index.uses_provided_embeddings:
        vecs = embeddings.select(
            F.col(embeddings.columns[0]).alias("record_id"),
            F.col(embeddings.columns[1]).alias("embedding"),
        )
        if policy == "refresh":
            vecs = index.sides.select("record_id", "embedding").unionByName(vecs)
    return _next_version(
        index, records, reps, new_reps, dropped, n_rows, policy, vecs
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
        # built from pandas: a frame of a Python list is computed by a
        # Python worker pool of its own (see serve.MatchService._files_df)
        ids_df = spark.createDataFrame(pd.DataFrame({"record_id": ids}),
                                       "record_id string")
    ids_df = ids_df.dropDuplicates(["record_id"]).localCheckpoint(eager=True)
    # the removal is write-sized, so its ids broadcast and the index
    # tables stream past them, never shuffled. Requested and present ids
    # in one aggregation (index record_ids are unique: each requested id
    # hits at most once).
    gone = F.broadcast(ids_df)
    hits = index.records.select("record_id").join(gone, "record_id", "leftsemi")
    counts = (
        ids_df.select(F.lit(1).alias("req"), F.lit(0).alias("hit"))
        .unionByName(hits.select(F.lit(0).alias("req"), F.lit(1).alias("hit")))
        .agg(F.sum("req").alias("n_req"), F.sum("hit").alias("n_hit"))
        .first()
    )
    n_req, n_hit = int(counts["n_req"] or 0), int(counts["n_hit"] or 0)
    if n_hit != n_req:
        raise ValueError(
            f"remove_records: {n_req - n_hit} of {n_req} ids are not in "
            "the index — removal is exact, not best-effort"
        )
    records = index.records.join(gone, "record_id", "left_anti").localCheckpoint(
        eager=True
    )
    n_rows, _, reps = _probe_and_reps(records)
    if n_rows == 0:
        raise ValueError(
            "remove_records: removal would empty the index — rebuild "
            "instead of shrinking to nothing"
        )

    vecs = (index.sides.select("record_id", "embedding")
            if index.uses_provided_embeddings else None)
    if embeddings is not None and vecs is not None:
        vecs = vecs.unionByName(
            embeddings.select(
                F.col(embeddings.columns[0]).cast("string").alias("record_id"),
                F.col(embeddings.columns[1]).alias("embedding"),
            )
        ).dropDuplicates(["record_id"])
    # representatives promoted because their content's winner was
    # removed. A removed id is nobody's representative any more, and
    # removal never dethrones a surviving representative, so the removed
    # ids cover exactly the side rows to drop.
    new_reps = reps.join(index.sides.select("record_id"), "record_id", "left_anti")
    return _next_version(
        index, records, reps, new_reps, ids_df, n_rows, policy, vecs
    )


def _check_query_embeddings(index: MatchIndex, query_embeddings) -> None:
    """A provided-embedding index scores only queries that bring vectors
    of the same model/dim, and a hashing-trick index only queries that
    do not (mixed dims would score garbage)."""
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

    Precomputed per index version and only read here: the side rows,
    the pinned block table and the IDF broadcast. Request-scoped:
      1. the query sides — normalize and side kernels in ONE Python
         worker pass over the batch (plus provided ``query_embeddings``),
         pinned; match_rows featurizes rows already in the driver
         in-process instead, and shares steps 2-3 (_match_sides);
      2. the candidate pairs — the query's block keys broadcast-joined
         against the pinned index blocks (the index blocks stream
         map-side, never shuffled), deduplicated and pinned;
      3. the scorer — query sides on the left, on the right only the
         index side rows the pairs name. Up to
         ``cfg.broadcast_sides_max_records`` pairs, both broadcast and
         the index side table is never shuffled; a larger batch keeps
         the shuffled joins.

    The batch pipeline's frequency cap (``cfg.max_block_size``) is not
    applied here: a query is paired with every index member of each of
    its blocks, so a hot block's pair work grows with the index.
    """
    _check_query_embeddings(index, query_embeddings)
    q_sides = scoring.query_side_features(query_files, index.idf_b, index.cfg, run_id)
    if query_embeddings is not None:
        q_sides = scoring.attach_embeddings(
            q_sides, query_embeddings,
            expected_ids=query_files.select(
                normalize.record_id_expr().alias("record_id")
            ),
        )
    return _match_sides(index, q_sides.localCheckpoint(eager=True), top_n)


def match_rows(
    index: MatchIndex,
    rows: list[tuple],
    run_id: int = 1,
    top_n: int | None = None,
) -> DataFrame:
    """match_records for query rows that are Python objects in the
    driver already — an HTTP request's: ``rows`` are (repo, path,
    commit, lang, content) tuples of strings (lang may be None). The
    rows are featurized in this process with the version's IDF
    dictionary (scoring.query_side_rows) and handed to Spark as an
    in-memory Arrow relation, so no Python worker runs and nothing is
    pinned before blocking; the rest is match_records' steps 2-3.
    Answers equal match_records over the same rows (tested). The cost
    grows with the rows in the driver's one thread, so large batches
    belong on match_records (serve bounds the rows it sends here)."""
    _check_query_embeddings(index, None)
    files = pd.DataFrame(rows, columns=amp_io.REPO_FILES_SCHEMA.names)
    q_sides = index.records.sparkSession.createDataFrame(
        scoring.query_side_rows(files, index.idf, index.cfg, run_id),
        scoring.SIDE_SCHEMA,
    )
    return _match_sides(index, q_sides, top_n)


def _match_sides(index: MatchIndex, q_sides: DataFrame, top_n: int | None) -> DataFrame:
    """Query side rows -> ranked candidates: match_records' steps 2-3
    and the top-k/rank. The query side is blocked against the index
    side ONLY (match.sql:30-31 semantics)."""
    cfg = index.cfg
    q_blocks = blocking.all_blocks(q_sides, q_sides, cfg).select(
        F.col("record_id").alias("left_id"), "block_key"
    )
    pairs = (
        index.blocks.join(F.broadcast(q_blocks), "block_key")
        .where(F.col("left_id") != F.col("right_id"))
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
        .localCheckpoint(eager=True)
    )
    # one task over the pinned pairs: a single partition needs no
    # exchange before the count aggregate
    n_pairs = pairs.coalesce(1).count()
    cand_ids = pairs.select(F.col("right_id").alias("record_id"))
    if n_pairs <= cfg.broadcast_sides_max_records:
        cand_ids = F.broadcast(cand_ids)
    candidates = index.sides.join(cand_ids, "record_id", "leftsemi")
    scored = scoring.score_pairs_onepass(
        pairs, q_sides, cfg, n_records=n_pairs, right_sides=candidates
    )
    k = top_n if top_n is not None else cfg.top_k
    return (
        rank.rank_candidates(rank.top_k(scored, k=k, cfg=cfg))
        .withColumnRenamed("left_id", "query_id")
        .withColumnRenamed("right_id", "candidate_id")
    )
