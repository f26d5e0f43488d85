"""S8/S11 sink contract + the O3 write-locality sort: rows are ordered
INSIDE each output file (sortWithinPartitions — no global shuffle), so
parquet footer min/max statistics on the sort columns let readers prune
files/row-groups on point lookups and range scans."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from amp.io import write_results


def test_write_locality_sort_orders_files_and_footers(spark, tmp_path):
    # deliberately scrambled input across several partitions
    df = (
        spark.range(0, 5000)
        .select(
            (F.xxhash64("id") % 1000).alias("cluster_id"),
            F.col("id").alias("record_id"),
            F.lit(0).alias("run_id"),
        )
        .repartition(4)
    )
    out = str(tmp_path / "clusters")
    write_results(df, out, sort_within_partitions=("cluster_id", "record_id"))

    files = sorted(glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True))
    assert files, "no parquet files written"
    for f in files:
        pf = pq.ParquetFile(f)
        prev_max = None
        for rg in range(pf.metadata.num_row_groups):
            col = pf.metadata.row_group(rg).column(0)
            assert col.path_in_schema == "cluster_id"
            st = col.statistics
            # footer stats exist — the pruning contract
            assert st is not None and st.has_min_max
            # row groups are mutually ordered within the file
            if prev_max is not None:
                assert st.min >= prev_max
            prev_max = st.max
        # and rows are sorted inside the file
        vals = pq.read_table(f, columns=["cluster_id"])["cluster_id"].to_pylist()
        assert vals == sorted(vals)

    # roundtrip: same rows come back (order is storage-level only)
    back = spark.read.parquet(out)
    assert back.count() == 5000
    assert (
        back.select(F.sum(F.col("cluster_id") + F.col("record_id"))).first()[0]
        == df.select(F.sum(F.col("cluster_id") + F.col("record_id"))).first()[0]
    )


def test_pipeline_cli_output_writes_sorted_clusters(spark, tmp_path, monkeypatch):
    import subprocess
    import sys

    out = str(tmp_path / "cli_clusters")
    r = subprocess.run(
        [sys.executable, "-m", "amp.pipeline", "--gen", "120", "--cpus", "4",
         "--output", out],
        capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    files = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    assert files
    for f in files:
        vals = pq.read_table(f, columns=["cluster_id"])["cluster_id"].to_pylist()
        assert vals == sorted(vals)


def test_empty_frame_collects_without_a_job(spark, count_jobs):
    """io.empty_frame folds into an empty local relation: collecting it
    starts no Spark job, and it keeps the schema it was given."""
    from amp.io import empty_frame

    df = empty_frame(spark, "a string, b double, rank int")
    assert count_jobs(df.collect) == ([], 0)
    assert df.schema.simpleString() == "struct<a:string,b:double,rank:int>"
