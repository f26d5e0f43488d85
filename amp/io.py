"""Sources & sinks (SURVEY.md §2.1 S1-S11).

The reference's ingest surface is: CSV bulk COPY into a staging table
(pkg/utils/load_csv.go:72-125), staging -> main insert-select with
lowercasing (internal/matcher/shared.go:285-291), single-record insert
(shared.go:191-203; here `incremental.match_rows`), partition delete /
truncate for idempotent re-runs (shared.go:244-256,294-297), and a JSON
result sink (pkg/api/handler.go:190).

Spark-side every one of these is a one-liner around the DataFrame
reader/writer — batching, vectorization and parallel load come free
(S5's 1000-row array-insert machinery simply vanishes)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

REPO_FILES_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)


def read_repo_files(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """S1/S6: load the input table. Explicit schema — no inference pass
    over 100 TB. CSV is multiline-quoted to survive newlines in content
    (the reference's pgx CopyFrom equivalent, load_csv.go:80-113)."""
    if fmt == "parquet":
        return spark.read.schema(REPO_FILES_SCHEMA).parquet(path)
    if fmt == "csv":
        return spark.read.schema(REPO_FILES_SCHEMA).csv(
            path, header=True, multiLine=True, escape='"'
        )
    if fmt == "json":
        return spark.read.schema(REPO_FILES_SCHEMA).json(path)
    raise ValueError(f"unsupported format: {fmt}")


def write_results(
    df: DataFrame, path: str, sort_within_partitions: tuple[str, ...] = ()
) -> None:
    """S11 + S8 semantics: parquet, partitioned by ``run_id`` when the
    column is present, with idempotent partition overwrite (the
    reference DELETEs the run's partition then re-inserts,
    shared.go:244-256; dynamic partition overwrite is the same
    contract in one atomic-ish write).

    ``sort_within_partitions`` is the O3 write-locality sort (the
    reference's clustered-index insert order): rows are ordered inside
    each output file WITHOUT a global shuffle — min/max column stats in
    parquet footers then prune reads on those columns."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    sort_cols = [c for c in sort_within_partitions if c in df.columns]
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    w = df.write.mode("overwrite")
    if "run_id" in df.columns:
        w = w.partitionBy("run_id")
    w.parquet(path)


def results_json(df: DataFrame, limit: int | None = None) -> list[dict]:
    """The HTTP-response analog (handler.go:190): small, request-scoped
    outputs only — this is a driver-side collect by design. Collects
    every row unless the caller passes a ``limit``: a limit cuts an
    unordered frame, so which rows survive it is arbitrary."""
    if limit is not None:
        df = df.limit(limit)
    return [row.asDict(recursive=True) for row in df.collect()]


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """A zero-row DataFrame of the DDL ``schema``, planned wholly in the
    JVM. A zero-row pandas or list frame is computed through a PythonRDD
    over one partition per core, so it starts Python workers to return
    nothing. The optimizer folds a zero limit over a one-row range into
    an empty local relation, so collecting it runs no job either (a
    zero-row range drops the limit instead, and still runs one)."""
    return spark.range(1).select(*[
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in T.StructType.fromDDL(schema).fields
    ]).limit(0)
