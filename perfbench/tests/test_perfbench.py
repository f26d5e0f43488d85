"""The benchmark's own tests: seeded inputs, the tail percentile, the
process-tree clean-up and the event-log attribution. Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

from inputs import ensure_corpus, serve_ops  # noqa: E402
from measure import descendants, tail, wait_gone  # noqa: E402
from spans import SPAN_FIELDS, attribute, read_event_log  # noqa: E402


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_corpus_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    digests = {}
    for run, seed in (("a", 3), ("b", 3), ("c", 4)):
        root = str(tmp_path / run)
        files, labels = ensure_corpus(root, 40, seed, workers=1)
        assert os.listdir(files) and os.listdir(labels)
        digests[run] = _tree_digest(os.path.dirname(files))
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_request_script_is_identical_per_seed_and_differs_across_seeds():
    def script(seed):
        return json.dumps(list(itertools.islice(serve_ops(seed, 200), 18)))

    assert script(5) == script(5)
    assert script(5) != script(6)
    ops = json.loads(script(5))
    # three whole cycles: 4 single matches, 1 batch, 1 write pair each
    kinds = [o["op"] for o in ops]
    assert (kinds.count("match"), kinds.count("batch"), kinds.count("append_remove")) == (12, 3, 3)
    assert all(len(o["records"]) == 30 for o in ops if o["op"] == "batch")
    assert all(len(o["records"]) == 16 for o in ops if o["op"] == "append_remove")


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert tail(list(range(10))) == (None, None)
    # 11 samples: only the minimum has ten beyond it
    assert tail(list(range(11))) == (round(100 / 11, 2), 0)
    xs = list(range(100, 0, -1))  # order does not matter
    p, v = tail(xs)
    assert v == 90 and p == 90.0
    assert sum(x > v for x in xs) == 10


def test_wait_gone_ends_children_and_grandchildren():
    # a child that has started a grandchild and then ignores SIGTERM
    proc = subprocess.Popen(["sh", "-c", "trap '' TERM; sleep 60 & sleep 60"])
    time.sleep(0.5)
    procs = descendants(os.getpid())
    pids = {pid for pid, _ in procs}
    assert proc.pid in pids and len(pids) >= 3
    t0 = time.monotonic()
    wait_gone(procs, timeout_s=0.2)
    assert time.monotonic() - t0 < 10
    assert proc.poll() is not None
    assert not ({pid for pid, _ in descendants(os.getpid())} & pids)


@pytest.fixture
def small_log():
    log = read_event_log(os.path.join(HERE, "data", "eventlog_small.json"))
    with open(os.path.join(HERE, "data", "spans_small.json")) as fh:
        spans = json.load(fh)
    return log, spans


def test_event_log_parser_reads_jobs_and_tasks(small_log):
    log, _ = small_log
    groups = {j["group"] for j in log["jobs"].values()}
    assert {"setup", "outer#0", "inner#1", "checks"} <= groups
    assert all(j["t1"] >= j["t0"] for j in log["jobs"].values())
    assert set(log["stage_job"].values()) <= set(log["jobs"])


def test_attribution_reconciles_and_keeps_setup_off_layers(small_log):
    log, spans = small_log
    attr = attribute(log, spans)
    assert attr["unattributed_jobs"] == 0
    assert attr["attributed_exec_s"] == pytest.approx(attr["total_exec_s"])
    assert attr["phases"]["setup"]["jobs"] >= 1
    outer, inner = attr["spans"]["outer"], attr["spans"]["inner"]
    assert set(SPAN_FIELDS) <= set(outer)
    assert outer["jobs"] >= 1 and inner["jobs"] >= 1
    # the subtree totals of the outer span include the inner span
    assert outer["jobs_incl"] == outer["jobs"] + inner["jobs"]
    assert outer["exec_s_incl"] == pytest.approx(outer["exec_s"] + inner["exec_s"])
    # gap: span time with no job of the span or its children running;
    # the outer span sleeps 0.2 s between its own job and the inner span
    assert 0.2 <= outer["gap_s"] < outer["wall_s"]
    assert 0.0 <= inner["gap_s"] < inner["wall_s"]
    span_exec = sum(v["exec_s"] for v in attr["spans"].values())
    phase_exec = sum(v.get("exec_s", 0.0) for v in attr["phases"].values())
    assert span_exec + phase_exec == pytest.approx(attr["total_exec_s"])
