"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-plan + skew-join splitting), Arrow on (every UDF in
this engine is a pandas/Arrow UDF), shuffle partitions sized to cores
(on a cluster: ~2-3x total executor cores), UTC session timezone so
results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def shuffle_partitions_for(cpus: int, n_records: int) -> int:
    """Shuffle-granularity policy for the ER job, measured round 5
    (BENCH/BASELINE.md "Round-5 shuffle granularity").

    Large runs: max(8, 2*cpus) — two waves per core smooth stragglers
    at the stage barrier, while fewer reducers compress better (the
    wide pair exchange writes 231 MB at 8 reducers vs 388 MB at 32 for
    identical rows — larger zstd segments). Both parallelism levels of
    the A/B measured fastest at exactly this value (local[2]: 8
    partitions beat 2; local[8]: 16 beat both 8 and 32). Small corpora
    keep 1x cores: per-task overhead outweighs the tail there
    (measured +5 s on a 17k-record run).
    """
    if n_records < 50_000:
        return cpus
    return max(8, 2 * cpus)


def spread_to_cores(df):
    """Round-robin repartition to the session's default parallelism when
    the source scan yields fewer partitions — a small local corpus packs
    into a handful of parquet splits and would otherwise run every
    Python kernel at a fraction of the available cores. Scale-adaptive:
    inputs that already scan wide are left untouched, so at cluster
    scale this is a no-op; the repartition moves only the projected
    columns. Deterministic under retries (sortBeforeRepartition is on
    by default)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def get_spark(
    app_name: str = "amp",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cpus=None -> local[*]. shuffle partitions default to the core count:
    at local scale 200 partitions would mean ~200 tiny tasks per shuffle;
    on a real cluster this knob is set per-deployment via spark-submit.
    extra_conf is applied last, so it overrides any default below.
    """
    if cpus is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(cpus_env) if cpus_env else None
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("AMP_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # joins on blocking keys must never silently fall back to a
        # nested-loop product; keep the broadcast threshold modest and
        # let AQE upgrade when runtime stats allow
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # local-mode corpora are tens of MB in a handful of files; the
        # default 128MB split packs the whole scan into 1-2 tasks and
        # serializes every narrow stage. 4MB splits restore scan
        # parallelism. On a real cluster (TB inputs, thousands of
        # files) the 128MB default is correct — override via extra_conf.
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # zstd shuffle/spill compression: measured on the 280k-record
        # scaling job vs the lz4 default — shuffle bytes -24%, executor
        # time -22% at local[8] (the pair join ships repeated per-pair
        # feature payloads; zstd's larger window recovers the
        # repetition where lz4 cannot). Standard production tuning for
        # shuffle-heavy jobs; override via extra_conf.
        .config("spark.io.compression.codec", "zstd")
        # shuffled-hash join over sort-merge when neither side
        # broadcasts: the engine's non-broadcast joins build against
        # record-sized, unique-keyed tables (the side-features table,
        # postings), so per-partition builds are bounded and the two
        # whole-table sort passes SMJ would pay are pure overhead —
        # measured on the 280k-record ER job: local[2] 155 -> 140s,
        # local[8] 63 -> 57s. AQE still broadcasts small sides and
        # splits skewed partitions (OptimizeSkewedJoin covers SHJ).
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    local_dir = os.environ.get("AMP_LOCAL_DIR")
    if local_dir:
        # opt-in shuffle/spill scratch override. The benchmark harness
        # points this at tmpfs (/dev/shm) — measured ~14% faster at both
        # parallelism levels on this sandbox, the single-machine analog
        # of NVMe-local shuffle dirs — but the LIBRARY deliberately does
        # not default to RAM-backed scratch: spark.local.dir exists
        # precisely for spills larger than memory, and a silent tmpfs
        # default would turn big-job spills into ENOSPC failures.
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
