"""Per-stage checkpointing with a run manifest — the resumability layer.

Mirrors the reference's feature tables: each pipeline stage in the
reference is a full read-transform-write pass against a LIST-partitioned
Postgres table keyed by run_id (scripts/init_db.sql:78-115), and re-runs
first DELETE the run's partition (internal/matcher/shared.go:244-256) —
i.e. idempotent partition overwrite. Here:

  * every stage write is a new snapshot version, parquet partitioned by
    ``run_id`` and ``_v`` with mode("overwrite") + dynamic partition
    overwrite — same idempotency;
  * a ``manifest`` row per stage (the analog of the reference's ``runs``
    table, init_db.sql:117-121) records row count, wall time, the
    current version pointer, the digest of its data-file set and its
    schema; per-partition row counts are recorded in a companion
    ``counters`` table (north_rule: "per-partition lineage and
    counters");
  * resume: a stage whose manifest row exists and whose digest still
    matches the files on disk is read back instead of recomputed — kill
    the job after stage k, rerun, and stages 1..k are served from the
    checkpoint (tested resume-equals-fresh).

Iceberg is the intended catalog at production scale (its snapshot ids
would take the place of the version pointer); the runtime jar is not in
this sandbox, so the layout is partitioned parquet with an identical
API — the swap is confined to this module.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ConcurrentWriteError(RuntimeError):
    """Two writers raced on the same (run, stage): the loser's commit is
    rejected instead of silently last-writer-winning — Iceberg's
    optimistic-concurrency contract."""


def _atomic_write_text(path: str, text: str) -> None:
    """Crash-atomic metadata write: tmp file + fsync + os.replace — a
    kill mid-write leaves either the old file or the new one, never a
    truncated JSON body (Iceberg's atomic metadata-swap analog)."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


class CheckpointManager:
    """Versioned write, verify and resume of pipeline stages. A stage
    commit appends to the stage's snapshot log and swaps its manifest
    pointer under one flock per stage, so two writers racing a stage
    resolve with one loud loser instead of a corrupted version chain."""

    def __init__(self, spark: SparkSession, root: str, run_id: int):
        self.spark = spark
        self.root = root
        self.run_id = run_id
        os.makedirs(os.path.join(root, "_manifest"), exist_ok=True)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def _stage_lock(self, stage: str):
        """Exclusive flock guarding the stage's snapshot log + manifest
        pointer. The commit takes it; readers stay lock-free (they
        tolerate either side of an atomic os.replace)."""
        from contextlib import contextmanager

        @contextmanager
        def _lock():
            import fcntl

            lock_path = self._snapshot_log_path(stage) + ".lock"
            with open(lock_path, "w") as lk:
                fcntl.flock(lk, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(lk, fcntl.LOCK_UN)

        return _lock()

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, "_manifest", f"run{self.run_id}_{stage}.json")

    def _load_manifest(self, stage: str) -> dict | None:
        """Manifest row, or None when absent OR unparseable. A truncated
        manifest (crash mid-write under the pre-atomic layout) must read
        as NOT DONE so the stage recomputes, not crash json.load."""
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        try:
            with open(p) as fh:
                return json.load(fh)
        except (json.JSONDecodeError, OSError):
            import logging

            logging.getLogger("amp.checkpoint").warning(
                "stage %s: manifest unreadable (torn write?) — treating as "
                "not done; the stage will recompute", stage
            )
            return None

    def is_done(self, stage: str) -> bool:
        return self._load_manifest(stage) is not None

    # -- snapshots ----------------------------------------------------------
    # Every write of a stage creates a NEW snapshot version, laid out as
    # a second partition level (run_id=<r>/_v=<version>): dynamic
    # partition overwrite replaces only the version being written, so a
    # crashed write never touches the committed version (racing writers:
    # see _commit). The manifest's ``snapshot`` column is the CURRENT
    # version pointer.

    def _run_partition_dir(self, stage: str, version: str) -> str:
        return os.path.join(
            self.table_path(stage), f"run_id={self.run_id}", f"_v={version}"
        )

    def _snapshot_log_path(self, stage: str) -> str:
        return os.path.join(
            self.root, "_manifest", f"run{self.run_id}_{stage}.snapshots.jsonl"
        )

    def snapshots(self, stage: str) -> list[dict]:
        """Snapshot log, oldest first: one row per write of this stage
        (version id, digest, rows, bytes, wall-clock timestamp). A torn
        FINAL line (crash mid-append) is skipped — its write never
        committed a manifest, so dropping it is exactly the idempotent
        retry path; a torn line anywhere else means real corruption and
        raises."""
        p = self._snapshot_log_path(stage)
        if not os.path.exists(p):
            return []
        with open(p) as fh:
            lines = [ln for ln in fh if ln.strip()]
        out = []
        for i, ln in enumerate(lines):
            try:
                out.append(json.loads(ln))
            except json.JSONDecodeError:
                if i == len(lines) - 1:
                    import logging

                    logging.getLogger("amp.checkpoint").warning(
                        "stage %s: torn final snapshot-log line dropped "
                        "(crash mid-append); the write it described never "
                        "committed", stage
                    )
                    break
                raise
        return out

    def invalidate(self, stage: str) -> None:
        """Drop the stage's done-marker so the next stage() call
        recomputes it. Superseded versions' data files stay on disk;
        nothing reclaims them."""
        p = self._manifest_path(stage)
        if os.path.exists(p):
            os.remove(p)

    def _snapshot_of(self, stage: str, version: str) -> tuple[str, list[dict]]:
        """Iceberg-shaped snapshot: the manifest pins the exact data-file
        set (relative path + byte size) of this run's partition; the
        snapshot id is a digest of that file list. On a real Iceberg
        catalog this column would hold the table snapshot id — the
        CONTRACT exercised here is the same: a stage row names an
        immutable file set, and verify_snapshot detects any drift.

        LIMITATION (documented, matching Iceberg's own manifest checks):
        the digest covers file names + sizes, not file contents —
        in-place corruption that preserves byte sizes passes
        verification; content integrity belongs to the parquet readers'
        page checksums, not the manifest."""
        base = self._run_partition_dir(stage, version)
        files = []
        for root, _, names in os.walk(base):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    files.append(
                        {"path": os.path.relpath(p, base), "bytes": os.path.getsize(p)}
                    )
        files.sort(key=lambda f: f["path"])
        snap = hashlib.sha256(
            json.dumps(files, sort_keys=True).encode()
        ).hexdigest()[:16]
        return snap, files

    def verify_snapshot(self, stage: str) -> bool:
        """Recompute the stage's file-set digest and compare with the
        manifest — False means the checkpoint was tampered with or
        partially lost (or its manifest carries no digest) and the stage
        must be recomputed, not resumed."""
        recorded = self._load_manifest(stage)
        if recorded is None or "snapshot_digest" not in recorded:
            return False
        snap, _ = self._snapshot_of(stage, recorded["snapshot"])
        return snap == recorded["snapshot_digest"]

    # -- write / read ------------------------------------------------------
    def table_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def write(self, df: DataFrame, stage: str, started_at: float | None = None) -> DataFrame:
        """Checkpoint a stage: versioned partitioned write (a NEW
        snapshot) + per-partition counters + manifest row. Returns the
        re-read DataFrame so downstream stages consume the materialized
        table (cuts lineage, exactly like the reference's table-to-table
        passes)."""
        t0 = started_at if started_at is not None else time.time()
        path = self.table_path(stage)
        # next version id = max(logged ids) + 1. A crashed write that
        # never appended its log row reuses its own id and overwrites
        # only its partial dir (idempotent retry) because the max is
        # unchanged.
        log = self.snapshots(stage)
        parent_id = max((int(s["snapshot"]) for s in log), default=0)
        next_id = parent_id + 1
        version = f"{next_id:06d}"
        if "run_id" not in df.columns:
            df = df.withColumn("run_id", F.lit(self.run_id))
        df = df.withColumn("_v", F.lit(version))
        df.write.mode("overwrite").partitionBy("run_id", "_v").parquet(path)
        # the written schema is recorded and read back explicitly: a
        # version of zero rows leaves no parquet file to infer it from
        schema = df.schema.jsonValue()
        back = self._read_version(stage, version, schema)

        # per-partition lineage counters (north_rule)
        counters = (
            back.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(F.count("*").alias("rows_out"))
        )
        cpath = os.path.join(self.root, "_counters", f"run{self.run_id}_{stage}")
        counters.withColumn("stage", F.lit(stage)).withColumn(
            "run_id", F.lit(self.run_id)
        ).write.mode("overwrite").parquet(cpath)

        rows = back.count()
        snap, files = self._snapshot_of(stage, version)
        entry = {
            "snapshot": version,
            "parent": f"{parent_id:06d}" if parent_id else None,
            "digest": snap,
            "rows": rows,
            "n_files": len(files),
            "n_bytes": sum(f["bytes"] for f in files),
            "ts": time.time(),
        }
        manifest_row = {
            "run_id": self.run_id,
            "stage": stage,
            "rows": rows,
            "wall_sec": round(time.time() - t0, 3),
            "path": path,
            # Iceberg-shaped: ``snapshot`` is the CURRENT version
            # pointer; ``snapshot_digest`` pins that version's
            # data-file set (verify_snapshot checks it on resume). The
            # explicit file list is for small-table inspection only —
            # beyond 64 files the digest + totals carry the contract
            # without bloating every manifest load
            "snapshot": version,
            "snapshot_digest": snap,
            "n_files": len(files),
            "n_bytes": sum(f["bytes"] for f in files),
            "files": files if len(files) <= 64 else None,
            "schema": schema,
        }
        self._commit(stage, parent_id, entry, manifest_row)
        return back

    def _commit(self, stage: str, parent_id: int, entry: dict, manifest_row: dict) -> None:
        """Commit point of a stage write: append the snapshot-log row and
        swap the manifest pointer, under optimistic concurrency — the
        log's max id must still equal the parent this write was derived
        from, else a second writer committed in between and THIS write
        loses loudly (Iceberg's commit-conflict contract; last-writer-
        wins silently corrupts the version chain). The check+append runs
        under an flock'd lock file so the window is closed, not just
        narrowed; the manifest swap itself is crash-atomic.

        LIMITATION (documented): both racers may have targeted the same
        _v=<id> data dir before either committed, so the loser's
        dynamic-overwrite can have clobbered the winner's files. The
        winner's committed digest then no longer matches and
        verify_snapshot()/stage() detects the drift and RECOMPUTES —
        correctness holds, at recompute cost. A real Iceberg catalog
        avoids even the recompute via per-writer unique file names."""
        with self._stage_lock(stage):
            cur = self.snapshots(stage)
            cur_max = max((int(s["snapshot"]) for s in cur), default=0)
            if cur_max != parent_id:
                raise ConcurrentWriteError(
                    f"stage {stage}: snapshot log advanced to "
                    f"{cur_max:06d} while this write expected parent "
                    f"{parent_id:06d} — another writer committed first; "
                    "re-read and retry"
                )
            # rewrite-from-parsed-rows rather than raw append: under
            # the lock this is equivalent, and it HEALS a torn tail
            # (a raw append onto a torn line would concatenate into
            # one mangled row and lose this commit)
            _atomic_write_text(
                self._snapshot_log_path(stage),
                "".join(json.dumps(s) + "\n" for s in [*cur, entry]),
            )
            _atomic_write_text(self._manifest_path(stage), json.dumps(manifest_row))

    def _read_version(self, stage: str, version: str, schema: dict | None) -> DataFrame:
        """One version of the stage, partition-pruned. ``schema`` is the
        recorded written schema; manifests that carry none (written
        before it was recorded, never of an empty version) infer it."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return (
            reader.parquet(self.table_path(stage))
            .where((F.col("run_id") == self.run_id) & (F.col("_v") == version))
            .drop("_v")
        )

    def read(self, stage: str) -> DataFrame:
        """Read the stage at its CURRENT snapshot."""
        row = self._load_manifest(stage)
        if row is None or "snapshot_digest" not in row:
            raise ValueError(
                f"read: stage {stage} has no committed snapshot under {self.root}"
            )
        return self._read_version(stage, row["snapshot"], row.get("schema"))

    def stage(self, name: str, thunk) -> DataFrame:
        """Run-or-resume: resume only when the manifest row exists AND
        its snapshot still matches the on-disk file set — a tampered or
        partially-lost checkpoint is recomputed, never silently read."""
        if self.is_done(name):
            if self.verify_snapshot(name):
                return self.read(name)
            import logging

            logging.getLogger("amp.checkpoint").warning(
                "stage %s: manifest snapshot does not match on-disk files; "
                "recomputing instead of resuming",
                name,
            )
        t0 = time.time()
        return self.write(thunk(), name, started_at=t0)
