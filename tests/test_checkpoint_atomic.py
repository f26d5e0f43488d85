"""Crash-atomicity + concurrency contracts of the checkpoint layer.

Reference semantics being preserved: the idempotent partition reset
(internal/matcher/shared.go:244-256) never half-exists — a re-run
either sees a complete stage or recomputes it. Here that contract is
extended to the METADATA: torn manifests read as not-done (recompute,
never crash), torn snapshot-log tails are dropped (the write they
described never committed), and two writers racing one (run, stage)
resolve with one loud loser (Iceberg optimistic concurrency), never
silent last-writer-wins.
"""

from __future__ import annotations

import json

import pytest


def _df(spark, n=50):
    return spark.range(n).selectExpr("id", "id * 3 AS v")


def test_torn_manifest_reads_as_not_done_and_recomputes(spark, tmp_path_factory):
    """Kill mid-manifest-write (simulated by truncating the JSON file):
    is_done() must be False and stage() must RECOMPUTE — the old
    behavior crashed in json.load on resume."""
    from amp.checkpoint import CheckpointManager

    root = str(tmp_path_factory.mktemp("torn_manifest"))
    ck = CheckpointManager(spark, root, run_id=0)
    calls = {"n": 0}

    def thunk():
        calls["n"] += 1
        return _df(spark)

    ck.stage("nums", thunk)
    assert calls["n"] == 1

    mp = ck._manifest_path("nums")
    body = open(mp).read()
    with open(mp, "w") as fh:
        fh.write(body[: len(body) // 2])  # torn JSON

    assert not ck.is_done("nums")
    with pytest.raises(ValueError, match="stage nums"):
        ck.read("nums")
    assert not ck.verify_snapshot("nums")
    out = ck.stage("nums", thunk)  # recompute, no crash
    assert calls["n"] == 2
    assert out.count() == 50
    # and the rewritten manifest is whole again
    assert ck.is_done("nums") and ck.verify_snapshot("nums")


def test_torn_final_snapshot_log_line_is_dropped(spark, tmp_path_factory):
    """A crash mid-append leaves a torn last line; snapshots() must drop
    it (that write never committed its manifest) and the next write must
    derive its version from the surviving rows."""
    from amp.checkpoint import CheckpointManager

    root = str(tmp_path_factory.mktemp("torn_log"))
    ck = CheckpointManager(spark, root, run_id=0)
    ck.write(_df(spark), "nums")
    lp = ck._snapshot_log_path("nums")
    with open(lp, "a") as fh:
        fh.write('{"snapshot": "000002", "dig')  # torn append

    log = ck.snapshots("nums")
    assert [s["snapshot"] for s in log] == ["000001"]
    # next write: version derived from intact rows -> 000002 (idempotent
    # retry of the crashed write), log whole afterwards
    ck.write(_df(spark, 60), "nums")
    assert [s["snapshot"] for s in ck.snapshots("nums")] == ["000001", "000002"]
    assert ck.read("nums").count() == 60

    # a torn line NOT at the tail is real corruption -> loud failure
    rows = open(lp).read().splitlines()
    with open(lp, "w") as fh:
        fh.write(rows[0][:20] + "\n" + rows[1] + "\n")
    with pytest.raises(json.JSONDecodeError):
        ck.snapshots("nums")


def test_concurrent_writer_loses_loudly(spark, tmp_path_factory):
    """Two managers writing the same (run, stage): the one whose
    expected parent snapshot went stale must fail with
    ConcurrentWriteError, not silently overwrite the winner's commit."""
    from amp.checkpoint import CheckpointManager, ConcurrentWriteError

    root = str(tmp_path_factory.mktemp("two_writers"))
    ck1 = CheckpointManager(spark, root, run_id=0)
    ck2 = CheckpointManager(spark, root, run_id=0)

    # sequential writes from two managers are FINE (each re-reads the
    # log): versions chain 1 -> 2
    ck1.write(_df(spark), "nums")
    ck2.write(_df(spark, 60), "nums")
    log = ck2.snapshots("nums")
    assert [s["snapshot"] for s in log] == ["000001", "000002"]
    assert log[1]["parent"] == "000001"

    # the race: ck1 derived parent=2 ... ck2 commits 3 in between ...
    # ck1's commit must be rejected at the commit point
    entry = {"snapshot": "000003", "parent": "000002", "digest": "x",
             "rows": 0, "n_files": 0, "n_bytes": 0, "ts": 0.0}
    ck2.write(_df(spark, 70), "nums")  # advances to 000003
    with pytest.raises(ConcurrentWriteError, match="another writer"):
        ck1._commit("nums", parent_id=2, entry=entry, manifest_row={})
    # winner's state intact
    with open(ck2._manifest_path("nums")) as fh:
        assert json.load(fh)["snapshot"] == "000003"
    assert ck2.read("nums").count() == 70
