from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from amp.session import get_spark

    s = get_spark("amp-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def small_corpus(spark):
    """300-base labeled corpus (421 files, 135 labeled pairs), cached."""
    from amp.datagen import gen_files, gen_labels

    files = gen_files(spark, 300, partitions=8).cache()
    labels = gen_labels(spark, 300, partitions=8).cache()
    files.count(), labels.count()
    return files, labels


@pytest.fixture(scope="session")
def pipeline_out(spark, small_corpus):
    """Full pipeline output on the small corpus — computed once, shared."""
    from amp.pipeline import run_pipeline

    files, _ = small_corpus
    out = run_pipeline(spark, files)
    out["clusters"] = out["clusters"].cache()
    out["clusters"].count()
    return out


@pytest.fixture
def count_jobs(spark):
    """fn -> (fn's result, the count of Spark jobs it started). The
    listener bus is drained on both sides: the status tracker learns
    of a job through it."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    tracker = spark.sparkContext.statusTracker()

    def run(fn):
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup(None))
        out = fn()
        bus.waitUntilEmpty()
        return out, len(set(tracker.getJobIdsForGroup(None)) - before)

    return run
