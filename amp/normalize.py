"""Stage 1 — normalize: ingest the repo-files table, derive ids + features.

Reference parity (SURVEY.md §2.2/§2.8): the reference lowercases and
standardizes every text field at ingest (shared.go:191-203,
standardizer.go:40-72) and derives n-gram token streams
(make_tf_idf.go:53-63). Here the record is a source file, so the analog
is: strip comments, fold whitespace/punctuation, lowercase, tokenize.

The stage is one narrow Arrow-batched pass over the scan — no shuffle.
(A pure-Catalyst twin, normalize_jvm, exists for cross-checking; see
normalize() for why the pandas kernel is the default.)

Per-row invariant (BASELINE.json input_hint): ``content_sha =
sha2(content, 256)`` is computed here and carried through every
downstream table; tests re-verify it never changes.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import AmpConfig, DEFAULT_CONFIG

# Unit separator — cannot appear in repo/path/commit, so the concat is injective.
_US = ""

# comment syntax across the langs we ingest ({py, go, js, java, c, md, ...})
_BLOCK_COMMENT_RE = r"(?s)/\*.*?\*/"
_LINE_COMMENT_RE = r"(//|#|--)[^\n]*"
_NON_TOKEN_RE = r"[^a-z0-9_]+"


# record ids are the first 128 bits (32 hex chars) of the sha256 —
# collision-safe beyond 10^15 records (birthday bound), and half the
# shuffle-key bytes of the full digest on every downstream join/agg.
# content_sha stays the FULL sha256 (the per-row invariant contract).
RECORD_ID_HEX = 32


def record_id_expr(repo: str = "repo", path: str = "path", commit: str = "commit"):
    """Deterministic record id — replaces the reference's SERIAL pk
    (scripts/init_db.sql:55). ``monotonically_increasing_id`` is
    nondeterministic across retries, so ids are content-addressed."""
    return F.substring(
        F.sha2(F.concat_ws(_US, F.col(repo), F.col(path), F.col(commit)), 256),
        1,
        RECORD_ID_HEX,
    )


RECORDS_SCHEMA = (
    "record_id string, content_sha string, repo string, path string, "
    "commit string, lang string, basename string, stem string, "
    "norm_text string, n_tokens int, n_chars int, "
    "size_bucket int, run_id int"
)

_P_BLOCK = re.compile(_BLOCK_COMMENT_RE)
_P_LINE = re.compile(_LINE_COMMENT_RE)
_P_NONTOK = re.compile(_NON_TOKEN_RE)
_P_EXT = re.compile(r"\.[a-z0-9]+$")


def _normalize_batches(cfg: AmpConfig, run_id: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "record_id", "content_sha", "basename", "stem", "norm_text",
                "n_tokens", "n_chars", "size_bucket",
            )}
            for repo, path, commit, content in zip(
                pdf["repo"], pdf["path"], pdf["commit"], pdf["content"]
            ):
                rows["record_id"].append(
                    hashlib.sha256(_US.join((repo, path, commit)).encode()).hexdigest()[
                        :RECORD_ID_HEX
                    ]
                )
                rows["content_sha"].append(
                    hashlib.sha256(content.encode()).hexdigest()
                )
                stripped = _P_NONTOK.sub(
                    " ", _P_LINE.sub(" ", _P_BLOCK.sub(" ", content.lower()))
                ).strip()
                toks = stripped.split()[: cfg.max_tokens] if stripped else []
                rows["norm_text"].append(" ".join(toks))
                rows["n_tokens"].append(len(toks))
                n_chars = len(content)
                rows["n_chars"].append(n_chars)
                rows["size_bucket"].append(int(math.floor(math.log2(n_chars + 1.0))))
                base = path.rsplit("/", 1)[-1]
                rows["basename"].append(base)
                rows["stem"].append(_P_EXT.sub("", base))
            out = pd.DataFrame(
                {
                    "record_id": rows["record_id"],
                    "content_sha": rows["content_sha"],
                    "repo": pdf["repo"].values,
                    "path": pdf["path"].values,
                    "commit": pdf["commit"].values,
                    "lang": pdf["lang"].values,
                    "basename": rows["basename"],
                    "stem": rows["stem"],
                    "norm_text": rows["norm_text"],
                    "n_tokens": pd.array(rows["n_tokens"], dtype="int32"),
                    "n_chars": pd.array(rows["n_chars"], dtype="int32"),
                    "size_bucket": pd.array(rows["size_bucket"], dtype="int32"),
                }
            )
            out["run_id"] = pd.array([run_id] * len(out), dtype="int32")
            yield out

    return fn


def normalize(files: DataFrame, cfg: AmpConfig = DEFAULT_CONFIG, run_id: int = 0) -> DataFrame:
    """repo_files(repo, path, commit, lang, content) -> records.

    One Arrow-batched mapInPandas pass (CPython regex + hashlib).
    A JVM-expression variant exists (normalize_jvm) and computes the
    identical output; the pandas path is the default because measured
    on this class of hardware the JVM anti-scales on allocation-heavy
    regex/string work across threads, while Arrow-batched Python worker
    PROCESSES scale linearly — and on a real cluster executor processes
    are the scaling unit anyway. hashlib.sha256(utf8) == sha2(col, 256)
    by construction (asserted in tests), preserving the per-row
    invariant contract.

    Output: record_id, content_sha, repo, path, commit, lang, basename,
    stem, norm_text (single-space-joined tokens, capped at max_tokens),
    n_tokens, n_chars, size_bucket, run_id.
    """
    return files.mapInPandas(_normalize_batches(cfg, run_id), RECORDS_SCHEMA)


def normalize_jvm(files: DataFrame, cfg: AmpConfig = DEFAULT_CONFIG, run_id: int = 0) -> DataFrame:
    """Built-in-expression twin of normalize() — same output, all
    Catalyst (used to cross-check the pandas kernel in tests)."""
    norm_text_raw = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("content")), _BLOCK_COMMENT_RE, " "),
                _LINE_COMMENT_RE,
                " ",
            ),
            _NON_TOKEN_RE,
            " ",
        )
    )

    basename = F.element_at(F.split(F.col("path"), "/"), -1)

    return (
        files.withColumn("record_id", record_id_expr())
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
        .withColumn("n_chars", F.length(F.col("content")).cast("int"))
        .withColumn(
            "tokens",
            F.slice(
                F.filter(F.split(norm_text_raw, " "), lambda x: x != ""),
                1,
                cfg.max_tokens,
            ),
        )
        .withColumn("norm_text", F.concat_ws(" ", F.col("tokens")))
        .withColumn("n_tokens", F.size(F.col("tokens")).cast("int"))
        .drop("tokens")
        .withColumn("basename", basename)
        .withColumn("stem", F.regexp_replace(basename, r"\.[a-z0-9]+$", ""))
        .withColumn(
            "size_bucket",
            F.floor(F.log2(F.col("n_chars").cast("double") + F.lit(1.0))).cast("int"),
        )
        .withColumn("run_id", F.lit(run_id))
        .select(*[f.strip().split(" ")[0] for f in RECORDS_SCHEMA.split(",")])
    )


def representatives(records: DataFrame) -> DataFrame:
    """One canonical row per distinct content (min record_id wins).

    Code corpora are dominated by exact duplicates (vendored files,
    license boilerplate). Pair-scoring must only ever see one
    representative per distinct content — an m-way exact-dup group
    otherwise explodes into m^2/2 identical near-dup pairs. This is
    also the skew story: the hottest blocking keys are exact-dup
    contents, and they are removed *before* blocking. The reference
    has no analog (its demo data is small); at 10^12 files this is
    the single biggest pair-count lever.

    Plan shape: a window over content_sha would shuffle every FULL
    record row (fat norm_text strings — measured ~0.4 GB at 280k
    records, the #2 shuffle in the stage budget). Instead the winner
    ids are computed on two pruned columns (content_sha, record_id)
    and semi-joined back: the winner-id table is record-count-sized
    and AQE broadcasts it at local/modest scale, so the fat rows never
    shuffle at all; at 10^12 files the semi join degrades gracefully
    to a sort-merge on record_id — never worse than the window.
    """
    return representatives_from_winners(records, winner_ids(records))


def winner_ids(records: DataFrame) -> DataFrame:
    """(content_sha, record_id) winner table: min record_id per distinct
    content — two pruned columns, record-count-sized."""
    return records.groupBy("content_sha").agg(F.min("record_id").alias("record_id"))


def representatives_from_winners(records: DataFrame, winners: DataFrame) -> DataFrame:
    """reps as a semi-join of records against a winner-id table; the
    join strategy is AQE's (broadcast at modest scale, sort-merge at
    10^12 files — never worse than the window-over-fat-rows
    alternative).

    Semi-join on BOTH columns: record_id alone would let a row leak
    through whenever record_ids collide across rows (duplicate
    (repo,path,commit) ingests) — the one-row-per-content invariant
    must not depend on record_id uniqueness.
    PRECONDITION: records is unique on record_id (identical ingested
    copies of one row would all survive the semi-join). The pipeline
    enforces this with uniqueness_stats() — a cheap pruned-column
    probe — falling back to dedupe_full() only when duplicates
    actually exist."""
    return records.join(winners, ["content_sha", "record_id"], "leftsemi")


def uniqueness_stats(
    records: DataFrame, with_contents: bool = True
) -> tuple[int, int, int | None]:
    """(n_rows, n_distinct_ids, n_distinct_contents) in ONE pruned-column
    aggregation job. Serves three pipeline needs at once:
      * dedupe probe: n_rows == n_distinct_ids means record_id is unique
      * reps count:   when ids are unique, representatives() emits exactly
        one row per distinct content_sha, so n_distinct_contents IS the
        IDF corpus size — no separate reps.count() job
      * records count for lineage/metrics.
    Exact countDistincts expand the thin (record_id, content_sha)
    projection — still far cheaper than the separate jobs this replaces
    (each full-stage-scheduled on its own). Callers that hold a PINNED
    reps table pass ``with_contents=False`` (third element comes
    back None): its row count IS n_distinct_contents at ~zero cost, so
    the probe drops the content-sha countDistinct and its row
    expansion."""
    aggs = [
        F.count("*").alias("n"),
        F.countDistinct("record_id").alias("d_id"),
    ]
    if with_contents:
        aggs.append(F.countDistinct("content_sha").alias("d_sha"))
    row = records.agg(*aggs).first()
    return (
        int(row["n"]),
        int(row["d_id"]),
        int(row["d_sha"]) if with_contents else None,
    )


def dedupe_full(records: DataFrame) -> DataFrame:
    """Deterministic full dedup: one row per record_id, min-content_sha
    wins (never dropDuplicates, whose surviving row is nondeterministic
    and would break resume-equals-fresh). Only run when duplicate ids
    actually exist — see uniqueness_stats()."""
    from pyspark.sql import Window

    import logging

    logging.getLogger("amp.normalize").warning(
        "duplicate record_ids in the ingested batch; keeping one row per "
        "record_id (min content_sha)"
    )
    w = Window.partitionBy("record_id").orderBy("content_sha")
    return (
        records.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_edges(records: DataFrame, reps: DataFrame) -> DataFrame:
    """Star edges inside each exact-duplicate group: (member -> min id).

    m identical files contribute m-1 edges, not m^2/2 pairs — the
    connected-components stage absorbs them transitively. Replaces the
    reference's self-match-everything `/duplicates` semantics
    (pkg/api/handler.go:82-102) with a linear-cost equivalent.

    ``reps`` (representatives(records), pinned by the caller) IS the
    per-content min-id table — every reps row is its content's winner —
    so the edges reuse it instead of re-running that groupBy shuffle."""
    grp = reps.select("content_sha", F.col("record_id").alias("canon_id"))
    return (
        records.select("record_id", "content_sha")
        .join(grp, "content_sha")
        .where(F.col("record_id") != F.col("canon_id"))
        .select(
            F.col("canon_id").alias("left_id"),
            F.col("record_id").alias("right_id"),
            F.lit("exact_sha").alias("pass_name"),
        )
    )
