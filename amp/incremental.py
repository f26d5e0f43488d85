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
build_index and MatchIndex.load create all of it. append_records,
append_rows and remove_records derive the next version from lookups
sized by the write: the driver collects one row per content the write
touches (its representative, the min record_id) and decides which side
rows drop and which representatives are added. Only those are
featurized and blocked; the dropped ids filter the index tables as one
SQL IN list, and records, sides and blocks are pinned side by side,
each in its pre-write partition count. Nothing is aggregated or
featurized over the whole index: the lookups are filtered scans,
grouped in one task, that return rows sized by the write. A served
append of new contents is 4 Spark jobs and starts no Python worker; a
remove is 5, and 6 when it promotes a surviving record. The IDF handle
is reused under ``frozen`` (a new one under ``refresh``, which
re-derives every representative and side row).

A request owns only its own rows. match_records normalizes and
featurizes a query DataFrame in one Python worker pass and pins it;
the query's block keys then meet the pinned index blocks in a
broadcast join (the candidate pairs, pinned), and the scorer reads the
query sides plus the index side rows those pairs name — no index-side
table is rebuilt or shuffled per request. match_rows matches query
rows already in the driver (a served request's) in the driver, as the
reference's matcher loops over its candidates in Go (matcher.go:119-211):
it featurizes them, looks up the index block rows of their keys and
the side rows of their candidates (two filtered scans: 2 Spark jobs,
1 with no candidate), then scores and ranks the pairs in-process, so
no Python worker runs. Past _LOCAL_SCORE_MAX_PAIRS looked-up rows or
pairs (the measured point where scoring in the driver stops winning)
it takes match_records' Spark tail instead. Both block
the query side against the index side ONLY (no index-index pairs — the
reference gets this from `candidates.run_id = 0 AND input.run_id = $1`),
then rank/top-k per query record (match.sql:66, matcher.go:221-228).
"""

from __future__ import annotations

import dataclasses
import json
import os
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import Column, DataFrame, SparkSession
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
        idf_schema = "token_hash long, idf double"
        if self.idf:
            idf_df = spark.createDataFrame(
                pd.DataFrame(sorted(self.idf.items()), columns=["token_hash", "idf"]),
                idf_schema,
            )
        else:  # a zero-row pandas frame would start Python workers
            idf_df = amp_io.empty_frame(spark, idf_schema)
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


def _featurize(
    reps: DataFrame, idf_b: Broadcast, cfg: AmpConfig, vecs: DataFrame | None
) -> DataFrame:
    """Pinned side rows of ``reps`` (records rows) under ``idf_b``, with
    the provided vectors ``vecs`` (record_id, embedding) attached when
    the index holds provided embeddings."""
    sides = scoring.side_features_onepass(reps, idf_b, cfg)
    if vecs is not None:
        sides = scoring.attach_embeddings(
            sides, vecs, expected_ids=reps.select("record_id")
        )
    return sides.localCheckpoint(eager=True)


def _isin(col: str, values) -> Column:
    """``col IN (values)`` over string literals — how a write names its
    ids and contents in a plan, and a served match its candidates: an
    anti- or semi-join against even a driver-built frame costs jobs of
    its own (its broadcast). The list reaches the JVM as ONE SQL
    expression: ``Column.isin`` makes a py4j call per literal, 4.5 s
    for 12,000 ids against 0.01 s parsed."""
    if not values:
        return F.lit(False)
    quoted = ("'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
              for v in sorted(values))
    return F.expr(f"{col} IN ({', '.join(quoted)})")


def _edit(
    table: DataFrame, key: str, dropped: list[str], added: DataFrame | None
) -> DataFrame:
    """``table`` without the rows whose ``key`` is in ``dropped`` and
    with the rows of ``added``, pinned in the table's own partition
    count — or ``table`` itself when the write changes none of it."""
    if not dropped and added is None:
        return table
    out = table.where(~_isin(key, dropped)) if dropped else table
    if added is not None:
        out = out.unionByName(added)
    return out.coalesce(table.rdd.getNumPartitions()).localCheckpoint(eager=True)


def _next_version(
    index: MatchIndex,
    gone: list[str],
    new_records: DataFrame | None,
    n_records: int,
    dropped: list[str],
    added_ids: list[str],
    featurize,
    policy: str,
    vecs: DataFrame | None,
) -> MatchIndex:
    """The index version after one write the driver has decided:
      * ``gone`` — the record ids the write removes, ``new_records`` —
        the normalized rows it appends, ``n_records`` — the count after;
      * ``dropped`` — the side ids that lose their place (removed
        representatives, and representatives an appended id undercuts);
      * ``added_ids`` — the representatives that gain a side row;
        ``featurize(added_ids, idf_b)`` returns their side rows ready to
        be read twice (pinned, or an in-memory relation).
    ``frozen`` keeps every other side row and the IDF handle, and
    featurizes only ``added_ids``; ``refresh`` re-derives the
    representatives, the IDF and every side row from the pinned records
    (``vecs`` then covers every representative). Only the side rows
    added are blocked: block keys come from sig, lang and stem, never
    from the IDF, so a kept side row keeps its keys under both
    policies. Records, sides and blocks are pinned side by side."""
    cfg = index.cfg
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_records = pool.submit(_edit, index.records, "record_id", gone, new_records)
        if policy == "refresh":
            reps = normalize.representatives(f_records.result()).localCheckpoint(
                eager=True
            )
            idf = features.idf_map(reps, reps.count(), cfg)
            idf_b = reps.sparkSession.sparkContext.broadcast(idf)
            sides = _featurize(reps, idf_b, cfg, vecs)
            added = sides.where(_isin("record_id", added_ids))
        else:
            idf, idf_b = index.idf, index.idf_b
            added = featurize(added_ids, idf_b) if added_ids else None
            f_sides = pool.submit(_edit, index.sides, "record_id", dropped, added)
        blocks = _edit(
            index.blocks, "right_id", dropped,
            _block_table(added, cfg) if added_ids else None,
        )
        if policy == "frozen":
            sides = f_sides.result()
        records = f_records.result()
    return MatchIndex(
        records, sides, idf, cfg,
        uses_provided_embeddings=index.uses_provided_embeddings,
        blocks=blocks, idf_b=idf_b, n_records=n_records,
    )


def _append(
    index: MatchIndex,
    new_records: DataFrame,
    keys: list[tuple[str, str]],
    featurize,
    policy: str,
    vecs: DataFrame | None,
    caller: str,
) -> MatchIndex:
    """append_records and append_rows after normalize: ``new_records``
    are the appended rows and ``keys`` their (record_id, content_sha),
    in the driver. One lookup returns a row per content the append
    touches (and per content holding an appended id): the content's
    current representative (its min record_id) and how many appended
    ids it holds already."""
    ids = [rid for rid, _ in keys]
    taken = _isin("record_id", ids)
    current = _content_rows(
        index.records,
        _isin("content_sha", {sha for _, sha in keys}) | taken,
        F.count_if(taken).alias("taken"),
    )
    n_collide = len(ids) - len(set(ids)) + sum(r["taken"] for r in current)
    if n_collide:
        # appending a record_id that already exists is an upsert, which
        # this path does not implement — fail loudly (the reference's
        # resync truncates and reloads, shared.go:244-256)
        raise ValueError(
            f"{caller}: {n_collide} appended record_ids collide with existing "
            "ones — append is insert-only; rebuild the index for upserts"
        )
    reps = {r["content_sha"]: r["rep"] for r in current}
    winners: dict[str, str] = {}
    for rid, sha in keys:
        if sha not in winners or rid < winners[sha]:
            winners[sha] = rid
    # a content's appended winner becomes its representative when the
    # content is new or the winner undercuts the current one, whose side
    # row then drops
    dropped, added_ids = [], []
    for sha, rid in winners.items():
        old = reps.get(sha)
        if old is None or rid < old:
            added_ids.append(rid)
            if old is not None:
                dropped.append(old)
    return _next_version(
        index, [], new_records, index.n_records + len(ids),
        dropped, added_ids, featurize, policy, vecs,
    )


def _content_rows(records: DataFrame, cond: Column, *aggs: Column) -> list:
    """One row per content of the ``records`` rows matching ``cond``:
    content_sha, ``rep`` (its min record_id) and ``aggs``, collected to
    the driver — a content held by thousands of records (an empty file,
    a license) still returns one row. The matching rows are grouped in
    one task, so the aggregation needs no exchange, which AQE would run
    as a job of its own."""
    return (
        records.where(cond)
        .coalesce(1)
        .groupBy("content_sha")
        .agg(F.min("record_id").alias("rep"), *aggs)
        .collect()
    )


def _check_append(index: MatchIndex, policy: str, embeddings, caller: str) -> None:
    if policy not in ("frozen", "refresh"):
        raise ValueError(f"{caller}: unknown policy {policy!r}")
    if index.uses_provided_embeddings and embeddings is None:
        raise ValueError(
            f"{caller}: the index holds provided embeddings; pass "
            "embeddings for the appended records (same model/dim)"
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
        over the new files, a lookup of one row per content the append
        touches, one feature pass over the representatives the append
        adds, and the three table pins; nothing is aggregated or
        featurized over the whole index. Drift trade-off: tokens
        introduced by the appended batch score 0 (absent from the
        dictionary), and document frequencies do not shift — scores
        equal a fresh ``build_index(all_files, idf_override=old_idf)``
        EXACTLY (tested), but diverge from a fresh build's own IDF as
        the appended fraction grows. Re-freeze periodically.
      * ``refresh``: recompute the representatives and the IDF over the
        union and re-featurize every representative — near-rebuild cost
        (normalize of old records is still skipped), zero drift.

    Representative swaps are handled exactly: if an appended record's id
    undercuts the current representative of an existing content, the old
    side row is dropped and the new winner featurized — the resulting
    side table is one row per distinct content keyed by the GLOBAL min
    record id, byte-equal to a fresh build's. Rows already in the
    driver can take append_rows, which runs no Python worker but does
    all its work in the driver's one thread; bulk appends belong here.
    A write names its ids and contents in its plans as IN lists, and
    planning a query grows with its lists — about 0.2-0.3 s for one of
    12,000 ids: 12,000 rows appended to a 16,837-record index took 5.5 s
    and their removal 3.0 s (4 cores, median of 3).
    """
    _check_append(index, policy, embeddings, "append_records")
    cfg = index.cfg
    new_records = normalize.normalize(files, cfg, run_id=0).localCheckpoint(
        eager=True
    )
    keys = [tuple(r) for r in new_records.select("record_id", "content_sha").collect()]
    vecs = None
    if index.uses_provided_embeddings:
        vecs = embeddings.select(
            F.col(embeddings.columns[0]).alias("record_id"),
            F.col(embeddings.columns[1]).alias("embedding"),
        )
        if policy == "refresh":
            vecs = index.sides.select("record_id", "embedding").unionByName(vecs)

    def featurize(rep_ids, idf_b):
        reps = new_records.where(_isin("record_id", rep_ids))
        return _featurize(reps, idf_b, cfg, vecs)

    return _append(
        index, new_records, keys, featurize, policy, vecs, "append_records"
    )


def append_rows(
    index: MatchIndex, rows: list[tuple], policy: str = "frozen"
) -> MatchIndex:
    """append_records for rows that are Python objects in the driver
    already — an HTTP request's, as match_rows is for match_records:
    ``rows`` are (repo, path, commit, lang, content) tuples of strings
    (lang may be None). The rows are normalized here, and under
    ``frozen`` the representatives the append adds are featurized here
    too, with the version's IDF dictionary (the normalize → side kernel
    composition of scoring.query_side_rows). Both reach Spark as
    in-memory Arrow relations, so no Python worker runs. The version
    equals append_records' over the same rows (tested). The cost grows
    with the rows in the driver's one thread: against append_records
    over the same rows it takes 0.4-0.7x the time up to 300 rows, about
    the same at 1,000 and 1.4-1.6x at 4,000 (an 8 MB request body), so
    bulk appends belong on append_records. Not for provided-embedding
    indexes: the rows carry no vectors."""
    _check_append(index, policy, None, "append_rows")
    cfg = index.cfg
    spark = index.records.sparkSession
    files = pd.DataFrame(rows, columns=amp_io.REPO_FILES_SCHEMA.names)
    recs = next(normalize._normalize_batches(cfg, 0)(iter([files])))

    def featurize(rep_ids, _idf_b):
        reps = recs[recs["record_id"].isin(rep_ids)].reset_index(drop=True)
        sides = next(scoring._side_kernel(index.idf, cfg)(iter([reps])))
        return spark.createDataFrame(sides, scoring.SIDE_SCHEMA)

    return _append(
        index, spark.createDataFrame(recs, normalize.RECORDS_SCHEMA),
        list(zip(recs["record_id"], recs["content_sha"])),
        featurize, policy, None, "append_rows",
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
    and repair the one-row-per-content side table. ``record_ids`` is a
    list of ids, or a DataFrame whose first column holds them (collected:
    the driver decides the write).

    Removal is EXACT: every id must exist in the index (a typo'd id
    silently "removing" nothing would let callers believe a record is
    gone — fail loudly instead), and removing the last record is
    refused (an empty index should be a rebuild decision, not a state).

    Representative repair mirrors append's swap handling: if a removed
    record WAS the representative of a content that still has other
    rows, the content's new winner (min surviving record_id) is
    featurized; contents whose every row was removed lose their side
    row entirely. Two lookups decide it in the driver — the removed
    ids' rows, then one row per content they touch (its current and its
    min surviving record_id) — and only the promoted representatives
    are featurized: a remove that promotes none runs no Python worker.

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
    if isinstance(record_ids, DataFrame):
        record_ids = [r[0] for r in record_ids.select(
            F.col(record_ids.columns[0]).cast("string")).collect()]
    ids = sorted({str(r) for r in record_ids})
    if not ids:
        raise ValueError("remove_records: empty id list")
    gone = _isin("record_id", ids)
    found = index.records.where(gone).select("record_id", "content_sha").collect()
    if len(found) != len(ids):
        raise ValueError(
            f"remove_records: {len(ids) - len(found)} of {len(ids)} ids are "
            "not in the index — removal is exact, not best-effort"
        )
    if len(ids) == index.n_records:
        raise ValueError(
            "remove_records: removal would empty the index — rebuild "
            "instead of shrinking to nothing"
        )
    touched = _content_rows(
        index.records,
        _isin("content_sha", {sha for _, sha in found}),
        F.min(F.when(~gone, F.col("record_id"))).alias("survivor"),
    )
    # a removed representative drops its side row, and its content's
    # min surviving id (if any) is promoted. Removal never dethrones a
    # surviving representative.
    gone_ids = set(ids)
    dethroned = [r for r in touched if r["rep"] in gone_ids]
    dropped = sorted(r["rep"] for r in dethroned)
    promoted = sorted(r["survivor"] for r in dethroned if r["survivor"] is not None)

    vecs = (index.sides.select("record_id", "embedding")
            if index.uses_provided_embeddings else None)
    if embeddings is not None and vecs is not None:
        vecs = vecs.unionByName(
            embeddings.select(
                F.col(embeddings.columns[0]).cast("string").alias("record_id"),
                F.col(embeddings.columns[1]).alias("embedding"),
            )
        ).dropDuplicates(["record_id"])

    def featurize(rep_ids, idf_b):
        reps = index.records.where(_isin("record_id", rep_ids))
        return _featurize(reps, idf_b, cfg, vecs)

    return _next_version(
        index, ids, None, index.n_records - len(ids),
        dropped, promoted, featurize, policy, vecs,
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
         pinned (match_rows matches rows already in the driver
         in-process instead, and reaches steps 2-3 only past its gate);
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


# the columns of a match answer: the scored pair, its ends renamed, and
# the candidate's rank within its query
_ANSWER_SCHEMA = (
    scoring.SCORED_SCHEMA.replace("left_id", "query_id", 1)
    .replace("right_id", "candidate_id", 1) + ", rank int"
)


def match_rows(
    index: MatchIndex,
    rows: list[tuple],
    run_id: int = 1,
    top_n: int | None = None,
) -> DataFrame:
    """match_records for query rows that are Python objects in the
    driver already — an HTTP request's: ``rows`` are (repo, path,
    commit, lang, content) tuples of strings (lang may be None). The
    whole match runs in this process, where the rows are, and Spark
    only looks up the index rows it needs:
      1. the rows are featurized with the version's IDF dictionary
         (scoring.query_side_rows) into an in-memory Arrow relation,
         and its block keys come from one projection over it
         (blocking.block_key_arrays), which Spark folds into the
         relation — no job;
      2. the pinned index blocks holding those keys come back as one
         filtered scan — 1 job; the pairs, their dedup and the removal
         of self-pairs are decided here;
      3. when there are pairs, the candidates' side rows come back as
         a second filtered scan — 1 job; the pairs are scored in this
         process (scoring.score_pair_rows) and cut to the top_n per
         query, and the answer is an in-memory relation.
    No Python worker runs. When the lookup or the pairs outgrow
    _LOCAL_SCORE_MAX_PAIRS (where scoring in the driver stops winning)
    or ``cfg.broadcast_sides_max_records``, steps 2-3 fall back to
    match_records' Spark tail over the same relation. Answers equal match_records over
    the same rows (tested). The featurizing cost grows with the rows in
    the driver's one thread, so large batches belong on match_records
    (serve bounds the rows it sends here)."""
    _check_query_embeddings(index, None)
    cfg = index.cfg
    spark = index.records.sparkSession
    if not rows:
        return amp_io.empty_frame(spark, _ANSWER_SCHEMA)
    files = pd.DataFrame(rows, columns=amp_io.REPO_FILES_SCHEMA.names)
    q_pdf = scoring.query_side_rows(files, index.idf, cfg, run_id)
    q_sides = spark.createDataFrame(q_pdf, scoring.SIDE_SCHEMA)
    pairs = _lookup_pairs(index, q_sides)
    if pairs is None:
        return _match_sides(index, q_sides, top_n)
    if not pairs:
        return amp_io.empty_frame(spark, _ANSWER_SCHEMA)
    cand = index.sides.where(_isin("record_id", {r for _, r in pairs}))
    scored = scoring.score_pair_rows(
        pd.DataFrame(sorted(pairs), columns=["left_id", "right_id"]),
        q_pdf, cand.toPandas(), cfg,
    )
    ranked = _ranked_rows(scored, top_n if top_n is not None else cfg.top_k)
    if ranked.empty:  # a zero-row pandas frame would start Python workers
        return amp_io.empty_frame(spark, _ANSWER_SCHEMA)
    return spark.createDataFrame(ranked, _ANSWER_SCHEMA)


# The most block rows and candidate pairs a served match scores in the
# driver; past it, match_rows takes the Spark tail. Single served
# matches into one hot (lang, path stem) block, 3 interleaved reps per
# path, 4 cores, an index of 105,837 records (the 12,000-base corpus
# plus hot blocks), wall seconds:
#   pairs     in the driver        Spark tail
#   1,000     0.32 0.35 0.29       0.70 0.72 0.67
#   3,000     0.39 0.32 0.32       0.59 0.56 0.64
#   10,000    0.56 0.61 0.68       0.79 0.84 0.73
#   25,000    1.25 1.38 1.17       1.02 1.17 1.00
#   50,000    2.19 2.15 2.39       1.55 1.50 1.57
# The bound is the largest measured size at which the driver won every
# rep. At 10,000 pairs the driver thread holds the GIL for 0.21-0.34 s
# of CPU, the Spark tail for 0.03 s.
_LOCAL_SCORE_MAX_PAIRS = 10_000


def _lookup_pairs(index: MatchIndex, q_sides: DataFrame) -> set | None:
    """The (query id, index id) candidate pairs of the query side rows
    ``q_sides`` (an in-memory relation), found in the driver from one
    filtered scan of the pinned block table — or None when the scan or
    the pairs pass _LOCAL_SCORE_MAX_PAIRS rows, or the index config's
    ``broadcast_sides_max_records`` (the most candidate side rows a
    match brings through the driver) if that is lower. A query is
    paired with every index member of each of its blocks, never with
    its own id (match_records' pairs). The scan is one task: at the
    105,837-record index above it read p50 71 ms against 125 ms for
    the same filter over the table's 8 partitions collected whole."""
    gate = min(index.cfg.broadcast_sides_max_records, _LOCAL_SCORE_MAX_PAIRS)
    queries_of: dict[int, set[str]] = {}
    for r in blocking.block_key_arrays(q_sides, index.cfg).collect():
        for key in r["block_keys"]:
            queries_of.setdefault(key, set()).add(r["record_id"])
    # the keys reach the JVM as ONE IN list of bigint literals
    keys = ", ".join(f"{k}L" for k in sorted(queries_of))
    hits = (
        index.blocks.where(F.expr(f"block_key IN ({keys})"))
        .coalesce(1).limit(gate + 1).collect()
    )
    if len(hits) > gate:
        return None
    pairs = {
        (q, h["right_id"])
        for h in hits
        for q in queries_of[h["block_key"]]
        if q != h["right_id"]
    }
    return pairs if len(pairs) <= gate else None


def _ranked_rows(scored: pd.DataFrame, k: int) -> pd.DataFrame:
    """rank.rank_candidates over rank.top_k of scored pairs, in pandas:
    per query, rows in (score desc, candidate asc) order, the first
    ``k`` kept, ranked 1.. with equal (score, candidate) rows sharing
    the first one's rank (a query id given twice pairs twice)."""
    out = scored.sort_values(
        ["left_id", "score", "right_id"], ascending=[True, False, True]
    )
    rn = out.groupby("left_id").cumcount() + 1
    out = out[rn <= k].assign(rank=rn[rn <= k])
    out["rank"] = out.groupby(["left_id", "score", "right_id"])["rank"].transform("min")
    return out.rename(
        columns={"left_id": "query_id", "right_id": "candidate_id"}
    ).astype({"rank": "int32"})


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
