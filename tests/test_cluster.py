"""Connected components: correctness on known graphs, determinism,
idempotence, singletons."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from amp.cluster import connected_components, pairwise_f1
from amp.config import DEFAULT_CONFIG

# run every graph test through BOTH paths: driver union-find (default
# below the cutoff) and the distributed large-star/small-star loop
DISTRIBUTED = dataclasses.replace(DEFAULT_CONFIG, cc_driver_cutoff=0)
DRIVER = DEFAULT_CONFIG
BOTH = pytest.mark.parametrize("cfg", [DRIVER, DISTRIBUTED], ids=["driver", "star"])


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "left_id string, right_id string")


def _clusters(df):
    return {(r["record_id"], r["cluster_id"]) for r in df.collect()}


@BOTH
def test_cc_chain(spark, cfg):
    e = _edges(spark, [("b", "c"), ("a", "b"), ("c", "d")])
    got = _clusters(connected_components(e, cfg=cfg))
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a")}


@BOTH
def test_cc_two_components_and_singleton(spark, cfg):
    e = _edges(spark, [("a", "b"), ("x", "y"), ("y", "z")])
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("x",), ("y",), ("z",), ("lone",)], "record_id string"
    )
    got = _clusters(connected_components(e, all_nodes=nodes, cfg=cfg))
    assert got == {
        ("a", "a"), ("b", "a"),
        ("x", "x"), ("y", "x"), ("z", "x"),
        ("lone", "lone"),
    }


@BOTH
def test_cc_idempotent_on_stars(spark, cfg):
    e = _edges(spark, [("a", "b"), ("a", "c"), ("a", "d")])
    once = connected_components(e, cfg=cfg)
    again = connected_components(
        once.where(F.col("record_id") != F.col("cluster_id")).select(
            F.col("cluster_id").alias("left_id"), F.col("record_id").alias("right_id")
        ),
        cfg=cfg,
    )
    assert _clusters(once) == _clusters(again)


@BOTH
def test_cc_empty_edges(spark, cfg):
    e = _edges(spark, [])
    nodes = spark.createDataFrame([("a",), ("b",)], "record_id string")
    got = _clusters(connected_components(e, all_nodes=nodes, cfg=cfg))
    assert got == {("a", "a"), ("b", "b")}


@BOTH
def test_cc_long_path_converges(spark, cfg):
    # path of 40 nodes exercises the O(log n) iteration bound
    names = [f"n{i:03d}" for i in range(40)]
    e = _edges(spark, list(zip(names, names[1:])))
    got = _clusters(connected_components(e, cfg=cfg))
    assert got == {(n, "n000") for n in names}


def test_driver_and_star_paths_agree_on_random_graph(spark):
    import random

    rng = random.Random(7)
    names = [f"v{i:03d}" for i in range(120)]
    pairs = [tuple(sorted(rng.sample(names, 2))) for _ in range(150)]
    e = _edges(spark, pairs)
    a = _clusters(connected_components(e, cfg=DRIVER))
    b = _clusters(connected_components(e, cfg=DISTRIBUTED))
    assert a == b


@BOTH
def test_cc_edges_unique_flag_tolerates_duplicates(spark, cfg):
    """edges_unique=True skips the canonicalization distinct as a perf
    shape; it must stay CORRECT even when the caller's uniqueness
    guarantee is violated (duplicate + reversed edges are redundant
    unions, never wrong answers)."""
    pairs = [("a", "b"), ("a", "b"), ("b", "c"), ("c", "b"), ("x", "y")]
    e = _edges(spark, pairs)
    base = _clusters(connected_components(e, cfg=cfg))
    fast = _clusters(connected_components(e, cfg=cfg, edges_unique=True))
    assert fast == base
    assert base == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_pairwise_f1_counts(spark):
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c"), ("d", "d")],
        "record_id string, cluster_id string",
    )
    labels = spark.createDataFrame(
        [("a", "b", True, "x"), ("a", "c", True, "x"), ("c", "d", False, "x")],
        "left_id string, right_id string, is_match boolean, corruption string",
    )
    m = pairwise_f1(clusters, labels)
    assert (m["tp"], m["fp"], m["fn"]) == (1, 0, 1)
    assert m["precision"] == 1.0 and m["recall"] == 0.5


def test_cc_of_no_edges_plans_no_python_rdd(spark):
    """The driver CC of an empty edge frame answers with a JVM-planned
    empty relation: a zero-row pandas frame would be computed through a
    PythonRDD, whose tasks start Python workers to return nothing."""
    import pandas as pd

    from amp.cluster import _union_find_pdf

    out = _union_find_pdf(pd.DataFrame({"u": [], "v": []}), spark, "string")
    assert "PythonRDD" not in out._jdf.queryExecution().toRdd().toDebugString()
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<record_id:string,cluster_id:string>"
