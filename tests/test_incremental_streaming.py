"""Incremental (query-vs-index) matching and streaming ingest."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from amp import io as amp_io
from amp.config import DEFAULT_CONFIG as CFG
from amp.incremental import build_index, match_records


def _query_frame(spark, src):
    """One query row resubmitting ``src``'s content under a new key,
    built from pandas (a local relation, no RDD worker pool)."""
    row = {"repo": "query/repo", "path": "query/" + src["path"],
           "commit": "f" * 40, "lang": src["lang"], "content": src["content"]}
    return spark.createDataFrame(pd.DataFrame([row]), amp_io.REPO_FILES_SCHEMA)


@pytest.fixture(scope="module")
def index(spark, small_corpus):
    files, _ = small_corpus
    return build_index(files, CFG)


def test_match_single_record_finds_its_duplicate(spark, small_corpus, index):
    """Reference §3.1 single-match: a record re-submitted as a query
    must rank its own index copy first with a saturated score."""
    files, _ = small_corpus
    one = files.limit(1).collect()[0]
    q = _query_frame(spark, one)
    out = match_records(index, q, run_id=7, top_n=5).collect()
    assert out, "no candidates returned"
    best = min(out, key=lambda r: r["rank"])
    assert best["rank"] == 1
    assert best["score"] > 0.9  # exact-content copy
    assert all(r["query_id"] == best["query_id"] for r in out)


def test_match_batch_topk_bounded(spark, small_corpus, index):
    """Top-k per query, and one row per (query, candidate) — also when
    the batch resubmits index records under their own ids, so a query
    id is another query's candidate."""
    files, _ = small_corpus
    q = files.limit(20)
    out = match_records(index, q, run_id=8, top_n=3)
    per_query = out.groupBy("query_id").count().agg(F.max("count")).collect()[0][0]
    assert per_query <= 3
    assert out.groupBy("query_id", "candidate_id").count().where("count > 1").count() == 0


# operators that pass an input's rows on unchanged in kind: an exchange
# reached from a scan through these alone shuffles that table's rows
_ROW_PASSING = {"Project", "Filter", "Union", "Coalesce", "ColumnarToRow"}
_PYTHON_MAP = ("InPandas", "InArrow", "EvalPython")


def _executed_graphs(spark, fn):
    """Run ``fn`` and return the final plan graph of every SQL execution
    it started: [(nodes {id: (name, desc)}, children {id: [child ids]})]."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def execution_ids():
        execs = store.executionsList()
        return {execs.apply(i).executionId() for i in range(execs.size())}

    bus.waitUntilEmpty()
    before = execution_ids()
    fn()
    bus.waitUntilEmpty()
    graphs = []
    for eid in sorted(execution_ids() - before):
        g = store.planGraph(eid)
        nodes, children = {}, {}
        all_nodes, edges = g.allNodes(), g.edges()
        for i in range(all_nodes.size()):
            n = all_nodes.apply(i)
            nodes[n.id()] = (n.name(), n.desc())
        for i in range(edges.size()):
            e = edges.apply(i)
            children.setdefault(e.toId(), []).append(e.fromId())
        graphs.append((nodes, children))
    return graphs


def _match_python_nodes(spark, index, fn):
    """Run ``fn`` (a match against ``index`` returning its rows) and
    check the plans of every job it started: no shuffle Exchange takes
    rows of the index side table or the index block table as its input
    (reached through row-passing operators only — the index streams
    into broadcast joins instead), and both tables were scanned.
    -> (the rows, the count of Python map nodes across the jobs)."""
    out: list = []
    graphs = _executed_graphs(spark, lambda: out.extend(fn()))
    assert out, "the planted query found no candidates"

    # a scan of a pinned table outputs all of its attributes; tables
    # derived from it (the pinned pairs) reuse some of them, never all
    index_tables = []
    for table in (index.sides, index.blocks):
        plan_out = table._jdf.queryExecution().analyzed().output()
        index_tables.append({plan_out.apply(i).toString() for i in range(plan_out.size())})

    def reads_index(desc):
        cols = {c.strip() for c in desc[desc.find("[") + 1 : desc.find("]")].split(",")}
        return cols in index_tables

    def feeds_index_rows(nodes, children, nid):
        name, desc = nodes[nid]
        if name.startswith("Scan") and reads_index(desc):
            return True
        if name not in _ROW_PASSING:
            return False
        return any(feeds_index_rows(nodes, children, c) for c in children.get(nid, []))

    index_scans = python_nodes = 0
    for nodes, children in graphs:
        for nid, (name, desc) in nodes.items():
            index_scans += name.startswith("Scan") and reads_index(desc)
            python_nodes += any(m in name for m in _PYTHON_MAP)
            if name == "Exchange":
                assert not any(
                    feeds_index_rows(nodes, children, c) for c in children.get(nid, [])
                ), f"shuffle of an index table: {desc}"
    assert index_scans >= 2  # the checks above did see both index tables
    return out, python_nodes


def test_single_match_plan_shape(spark, small_corpus, index):
    """A single-record match reads the index version's pinned tables and
    never shuffles them, and exactly two Python map nodes run: the
    query featurizer and the scorer."""
    files, _ = small_corpus
    one = files.limit(1).collect()[0]
    q = _query_frame(spark, one)
    _, python_nodes = _match_python_nodes(
        spark, index, lambda: match_records(index, q, run_id=12, top_n=5).collect()
    )
    assert python_nodes == 2


def test_served_match_plan_shape(spark, small_corpus, index, monkeypatch):
    """A served match runs in the driver against the version's driver
    copy: a single match and a 2-row batch each start one SQL execution,
    the key projection over the request's own in-memory rows, which is
    a local table scan alone (no job, no index table read). A batch over
    the row bound takes the DataFrame path (the featurizer and the
    scorer) and answers with identical rows."""
    import amp.serve as serve_mod

    files, _ = small_corpus
    one = files.limit(1).collect()[0]
    rec = {"repo": "query/repo", "path": "query/" + one["path"], "commit": "f" * 40,
           "lang": one["lang"], "content": one["content"]}
    svc = serve_mod.MatchService(spark, index)
    batch = [rec, dict(rec, path="other/" + rec["path"])]
    for match in (lambda: svc.match_single(rec, top_n=5),
                  lambda: svc.match_batch(batch, top_n=5)):
        in_driver: list = []
        graphs = _executed_graphs(spark, lambda: in_driver.extend(match()))
        assert in_driver
        assert [{name for name, _ in nodes.values()} for nodes, _ in graphs] == [
            {"LocalTableScan"}
        ]
    monkeypatch.setattr(serve_mod, "_LOCAL_FEATURIZE_MAX_ROWS", 1)
    via_frame, python_nodes = _match_python_nodes(
        spark, index, lambda: svc.match_batch(batch, top_n=5)
    )
    assert python_nodes == 2

    def key(rows):
        return sorted(tuple(sorted(m.items())) for m in rows)

    assert key(via_frame) == key(in_driver)


_FIELDS = ("repo", "path", "commit", "lang", "content")


def _answer_rows(out) -> list[tuple]:
    """match_rows' answer as sorted row tuples: the driver's ranked
    pandas rows, or the Spark tail's DataFrame."""
    if isinstance(out, pd.DataFrame):
        return sorted(out.itertuples(index=False, name=None))
    return sorted(tuple(r) for r in out.collect())


def _driver_and_spark(spark, idx, rows, top_n):
    """(match_rows' answer, the Spark tail's answer over the same query
    side rows) as sorted row tuples, with each answer's columns."""
    from amp.incremental import _match_sides, match_rows

    def answer(out):
        return list(out.columns), _answer_rows(out)

    return (answer(match_rows(idx, rows, top_n=top_n)),
            answer(_match_sides(idx, _query_sides(spark, idx, rows), top_n)))


def _query_sides(spark, idx, rows):
    """The in-memory relation of query side rows that match_rows builds
    for ``rows``."""
    from amp import scoring

    return spark.createDataFrame(
        scoring.query_side_rows(pd.DataFrame(rows, columns=_FIELDS), idx.idf, idx.cfg),
        scoring.SIDE_SCHEMA,
    )


def _rid(row) -> str:
    """The record id of a (repo, path, commit, ...) row."""
    import hashlib

    from amp.normalize import _US, RECORD_ID_HEX

    return hashlib.sha256(_US.join(row[:3]).encode()).hexdigest()[:RECORD_ID_HEX]


def _corpus_queries(files, idx):
    """Served query rows over the corpus: an index representative
    resubmitted under a new id and under its own id, two rows with one
    content, a null lang, and a file with no candidate."""
    reps = {r["record_id"] for r in idx.sides.select("record_id").collect()}
    one = next(r for r in files.select(*_FIELDS).limit(50).collect() if _rid(r) in reps)
    q = ("query/repo", "query/" + one["path"], "f" * 40, one["lang"], one["content"])
    return {
        "resubmitted": q,
        "own_id": tuple(one),
        "twin": (q[0], "twin/" + q[1], *q[2:]),
        "null_lang": (q[0], "nolang/" + q[1], q[2], None, q[4]),
        "lone": ("query/repo", "zz/no_such_stem_qq.zz", "e" * 40, None,
                 "xyzzy plugh frobnicate quux"),
    }


def test_driver_match_equals_spark_tail(spark, small_corpus, index):
    """match_rows scores in the driver and answers exactly what the
    Spark tail (_match_sides) answers over the same query side rows, on
    every column: alone and together, for a query with no candidate, an
    index record under its own id (its self-pair excluded), two rows
    with one content, a null lang and a row given twice, at top_n 1 and
    above the candidate count."""
    files, _ = small_corpus
    qs = _corpus_queries(files, index)
    for name, row in qs.items():
        for top_n in (1, 100):
            got, want = _driver_and_spark(spark, index, [row], top_n)
            assert got == want, (name, top_n)
    got, want = _driver_and_spark(spark, index, list(qs.values()), 100)
    assert got == want
    pairs = {r[:2] for r in got[1]}
    own = _rid(qs["own_id"])
    assert (_rid(qs["resubmitted"]), own) in pairs
    assert (own, own) not in pairs
    assert _rid(qs["lone"]) not in {q for q, _ in pairs}
    for top_n in (1, 100):
        got, want = _driver_and_spark(spark, index, [qs["resubmitted"]] * 2, top_n)
        assert got == want


@pytest.fixture(scope="module")
def tie_index(spark):
    """Five index records of one (lang, path stem) block and distinct
    one-token contents, built with a frequency cap of 2: an empty-content
    query in that block scores every member equally (path, lang and no
    content feature), so candidate ids alone order them."""
    import dataclasses

    rows = [(f"tie/r{i}", "src/handler.py", f"{i:040d}", "python", f"tok{i}")
            for i in range(5)]
    cfg = dataclasses.replace(CFG, max_block_size=2)
    files = spark.createDataFrame(pd.DataFrame(rows, columns=_FIELDS), amp_io.REPO_FILES_SCHEMA)
    return build_index(files, cfg)


def test_driver_match_breaks_equal_scores_by_candidate(spark, tie_index):
    """Equal scores rank by candidate_id, and the served match pairs a
    query with every member of a block above max_block_size (serving is
    uncapped): the driver answer equals the Spark tail's at top_n 1, 2
    and above the candidate count."""
    query = [("query/repo", "src/handler.py", "f" * 40, "python", "")]
    members = sorted(r["record_id"] for r in tie_index.sides.collect())
    for top_n in (1, 2, 10):
        got, want = _driver_and_spark(spark, tie_index, query, top_n)
        assert got == want
        rows = [dict(zip(got[0], r)) for r in got[1]]
        assert sorted(r["candidate_id"] for r in rows) == members[:top_n]
        assert len({r["score"] for r in rows}) == 1
        assert sorted(r["rank"] for r in rows) == list(range(1, min(top_n, 5) + 1))


def test_driver_match_falls_back_past_the_gate(spark, small_corpus, index, monkeypatch):
    """When the block lookup or the pairs pass _LOCAL_SCORE_MAX_PAIRS
    or ``broadcast_sides_max_records`` rows, a served match takes the
    Spark tail (its scorer runs) and answers the same rows; below the
    gate the Spark scorer never runs."""
    import copy
    import dataclasses

    import amp.incremental as incremental
    from amp import scoring
    from amp.incremental import match_rows

    files, _ = small_corpus
    rows = list(_corpus_queries(files, index).values())
    calls = []
    real = scoring.score_pairs_onepass
    monkeypatch.setattr(
        scoring, "score_pairs_onepass", lambda *a, **kw: calls.append(1) or real(*a, **kw)
    )

    def answer(idx):
        return _answer_rows(match_rows(idx, rows, top_n=3))

    want = answer(index)
    assert want and not calls
    for gate in (0, 1):
        gated = copy.copy(index)
        gated.cfg = dataclasses.replace(index.cfg, broadcast_sides_max_records=gate)
        calls.clear()
        assert answer(gated) == want
        assert calls
    for bound in (0, 1):
        monkeypatch.setattr(incremental, "_LOCAL_SCORE_MAX_PAIRS", bound)
        calls.clear()
        assert answer(index) == want
        assert calls


def _side_row(r: dict) -> tuple:
    """A side row as a hashable tuple, from a Row's or an Arrow row's
    dict."""
    return (r["record_id"], r["stem"], r["lang"], tuple(r["sig"]),
            tuple(r["embedding"]), bytes(r["tfblob"]))


def test_served_answer_json_equals_spark_tail_json(spark, small_corpus, index):
    """A served match reads the driver's ranked rows as Python values,
    and its reply JSON is byte for byte the JSON results_json gives for
    the Spark tail's answer relation over the same rows, in the driver's
    order (query, score desc, candidate): the same rows, key order,
    value types and nulls, over every corpus query alone and together,
    at top_n 1 and 100. /metrics counts the path and sizes the copy."""
    import json

    from amp.incremental import _match_sides
    from amp.serve import MatchService

    files, _ = small_corpus
    qs = _corpus_queries(files, index)
    svc = MatchService(spark, index)
    for rows in [[row] for row in qs.values()] + [list(qs.values())]:
        for top_n in (1, 100):
            served = svc._match(rows, top_n)
            tail = _match_sides(index, _query_sides(spark, index, rows), top_n)
            want = sorted(amp_io.results_json(tail),
                          key=lambda r: (r["query_id"], -r["score"], r["candidate_id"]))
            assert json.dumps({"matches": served}) == json.dumps({"matches": want})
    m = svc.metrics
    assert (m["matches_in_driver"], m["matches_in_spark"]) == (12, 0)
    assert m["index_records"] == index.n_records
    assert m["driver_copy_rows"] == index.n_sides
    assert m["driver_copy_bytes"] >= index.driver_copy.rows.nbytes > 0


def test_index_past_the_side_row_budget_holds_no_driver_copy(
    spark, small_corpus, index, monkeypatch, count_jobs
):
    """A version with more side rows than _DRIVER_COPY_MAX_ROWS holds no
    driver copy, and match_rows answers the same rows through the Spark
    tail. A write that takes a version past the budget drops its copy,
    and one that brings it back under builds it; a write that leaves it
    past the budget collects nothing for a copy."""
    import amp.incremental as incremental
    from amp import scoring
    from amp.incremental import append_rows, match_rows, remove_records

    files, _ = small_corpus
    rows = list(_corpus_queries(files, index).values())
    calls = []
    real = scoring.score_pairs_onepass
    monkeypatch.setattr(
        scoring, "score_pairs_onepass", lambda *a, **kw: calls.append(1) or real(*a, **kw)
    )

    def answer(idx):
        return _answer_rows(match_rows(idx, rows, top_n=3))

    want = answer(index)
    assert want and not calls
    fresh = [("budget/repo", f"new/past_the_budget_{i}.py", "0" * 40, "python",
              f"def past_the_budget_{i}():\n    return 'qxzv_{i}_13579'\n")
             for i in range(2)]
    within = append_rows(index, fresh)
    _, n_within = count_jobs(lambda: remove_records(within, [_rid(fresh[0])]))

    monkeypatch.setattr(incremental, "_DRIVER_COPY_MAX_ROWS", index.n_sides - 1)
    past = build_index(files, CFG)
    assert past.driver_copy is None
    assert answer(past) == want and calls

    monkeypatch.setattr(incremental, "_DRIVER_COPY_MAX_ROWS", index.n_sides)
    at = build_index(files, CFG)
    _assert_index_state(at)
    over = append_rows(at, fresh)
    assert over.driver_copy is None
    _assert_index_state(over)
    # a remove that leaves a version past the budget runs the jobs of
    # one that edits a copy: it collects and counts nothing for a copy
    still, n_still = count_jobs(lambda: remove_records(over, [_rid(fresh[0])]))
    assert still.driver_copy is None and still.n_sides == index.n_sides + 1
    assert n_still == n_within
    _assert_index_state(still)
    under = remove_records(still, [_rid(fresh[1])])
    assert under.driver_copy is not None
    _assert_index_state(under)


def _assert_index_state(idx):
    """An index version's pinned block table is blocking.all_blocks over
    its side rows (as a row set), and its record count is exact. A
    version within the side-row budget holds a driver copy equal to its
    side rows and block table as row sets, its keys sorted."""
    from collections import Counter

    import numpy as np

    import amp.incremental as incremental
    from amp import blocking

    got = Counter((r["right_id"], r["block_key"]) for r in idx.blocks.collect())
    want = Counter(
        (r["record_id"], r["block_key"])
        for r in blocking.all_blocks(idx.sides, idx.sides, idx.cfg).collect()
    )
    assert got == want
    assert idx.n_records == idx.records.count()
    sides = Counter(_side_row(r.asDict()) for r in idx.sides.collect())
    assert idx.n_sides == sum(sides.values())
    copy = idx.driver_copy
    assert (copy is not None) == (
        not idx.uses_provided_embeddings and idx.n_sides <= incremental._DRIVER_COPY_MAX_ROWS
    )
    if copy is not None:
        assert Counter(_side_row(r) for r in copy.rows.to_pylist()) == sides
        ids = copy.rows.column("record_id").to_pylist()
        assert Counter(zip((ids[p] for p in copy.pos), copy.keys.tolist())) == got
        assert np.all(np.diff(copy.keys) >= 0)


def _match_rows(idx, q):
    return sorted(
        (r["query_id"], r["candidate_id"], r["rank"], r["score"])
        for r in match_records(idx, q, run_id=9, top_n=5).collect()
    )


def _queries(files, n=15):
    """n corpus files resubmitted under another repo (new record ids)."""
    return files.limit(n).withColumn("repo", F.concat(F.lit("query/"), F.col("repo")))


def _split_files(files):
    """Deterministic disjoint split of the corpus into (base, appended)."""
    base = files.where(F.crc32(F.col("path")) % 5 != 0)
    extra = files.where(F.crc32(F.col("path")) % 5 == 0)
    return base, extra


def test_append_records_frozen_idf_equals_fresh_frozen_build(spark, small_corpus):
    """MatchIndex.append contract (reference run-0 resync,
    cmd/addressmatchpro/main.go:73-90, without the full rebuild): under
    the frozen-IDF policy the appended index's records + side features
    must equal a fresh build over the union WITH THE SAME dictionary —
    including representative swaps where an appended record id undercuts
    an existing content's representative."""
    from amp.incremental import append_records

    files, _ = small_corpus
    base, extra = _split_files(files)
    assert extra.count() > 0 and base.count() > 0
    idx0 = build_index(base, CFG)
    appended = append_records(idx0, extra, policy="frozen")
    fresh = build_index(files, CFG, idf_override=idx0.idf)

    assert appended.records.count() == fresh.records.count()
    a_sides = {r["record_id"]: r for r in appended.sides.collect()}
    f_sides = {r["record_id"]: r for r in fresh.sides.collect()}
    assert set(a_sides) == set(f_sides)
    for rid, fr in f_sides.items():
        ar = a_sides[rid]
        assert ar["tfblob"] == fr["tfblob"], rid
        assert list(ar["sig"]) == list(fr["sig"]), rid
        assert list(ar["embedding"]) == list(fr["embedding"]), rid
    assert appended.idf == idx0.idf  # frozen, by identity of contract
    assert appended.idf_b is idx0.idf_b  # the broadcast is reused too
    _assert_index_state(idx0)
    _assert_index_state(appended)
    q = _queries(files)
    assert _match_rows(appended, q) == _match_rows(fresh, q)


def test_append_then_match_finds_new_record(spark, small_corpus):
    from amp.incremental import append_records

    files, _ = small_corpus
    base, extra = _split_files(files)
    idx0 = build_index(base, CFG)
    idx1 = append_records(idx0, extra, policy="frozen")

    one = extra.limit(1).collect()[0]
    q = _query_frame(spark, one)
    out = match_records(idx1, q, run_id=9, top_n=5).collect()
    assert out, "appended record must be findable"
    best = min(out, key=lambda r: r["rank"])
    assert best["rank"] == 1 and best["score"] > 0.9

    # frozen scores == fresh-frozen-build scores for the same query
    fresh = build_index(files, CFG, idf_override=idx0.idf)
    out_f = match_records(fresh, q, run_id=9, top_n=5).collect()
    got = {(r["candidate_id"]): r["score"] for r in out}
    want = {(r["candidate_id"]): r["score"] for r in out_f}
    assert got == want


def test_append_refresh_policy_recomputes_idf(spark, small_corpus):
    from amp.incremental import append_records

    files, _ = small_corpus
    base, extra = _split_files(files)
    idx0 = build_index(base, CFG)
    idx1 = append_records(idx0, extra, policy="refresh")
    fresh = build_index(files, CFG)
    assert idx1.idf == fresh.idf  # zero drift under refresh
    assert idx1.idf_b is not idx0.idf_b
    _assert_index_state(idx1)
    with pytest.raises(ValueError, match="insert-only"):
        append_records(idx1, extra)  # same ids again -> loud failure



def test_remove_records_frozen_equals_fresh_frozen_build(spark, small_corpus):
    """MatchIndex.remove contract (inverse of append; the reference
    only removes via resync truncate+reload): under the frozen policy
    the shrunken index's records + side features equal a fresh build
    over the survivors WITH THE SAME dictionary — including
    representative swaps where the removed record WAS a content's
    representative."""
    from amp.incremental import remove_records

    files, _ = small_corpus
    idx0 = build_index(files, CFG)
    # remove: every record of one whole content, the REPRESENTATIVE of
    # a multi-row content (forcing a swap), and one non-representative
    by_content = (
        idx0.records.groupBy("content_sha")
        .agg(F.collect_list("record_id").alias("ids"))
        .collect()
    )
    multi = sorted(
        (r for r in by_content if len(r["ids"]) >= 2),
        key=lambda r: r["content_sha"],
    )
    assert len(multi) >= 2, "small_corpus must contain duplicate contents"
    gone_whole = sorted(multi[0]["ids"])            # whole content vanishes
    swap_rep = [sorted(multi[1]["ids"])[0]]         # rep dies, content stays
    non_rep = [sorted(multi[1]["ids"])[-1]] if len(multi[1]["ids"]) > 2 else []
    removed = gone_whole + swap_rep + non_rep
    idx1 = remove_records(idx0, removed, policy="frozen")

    from amp.normalize import record_id_expr

    remaining = files.withColumn("record_id", record_id_expr()).join(
        spark.createDataFrame([(i,) for i in removed], "record_id string"),
        "record_id", "left_anti",
    ).drop("record_id")
    fresh = build_index(remaining, CFG, idf_override=idx0.idf)
    assert idx1.records.count() == fresh.records.count()
    a = {r["record_id"]: r for r in idx1.sides.collect()}
    f = {r["record_id"]: r for r in fresh.sides.collect()}
    assert set(a) == set(f)
    # the swap happened: the dead rep's side row is gone, the content's
    # new winner is present
    assert swap_rep[0] not in a
    for rid, fr in f.items():
        ar = a[rid]
        assert ar["tfblob"] == fr["tfblob"], rid
        assert list(ar["sig"]) == list(fr["sig"]), rid
        assert list(ar["embedding"]) == list(fr["embedding"]), rid
    assert idx1.idf == idx0.idf
    # the removed representatives' keys left the block table
    _assert_index_state(idx1)
    _assert_same_tables(idx1, fresh)
    q = _queries(files)
    assert _match_rows(idx1, q) == _match_rows(fresh, q)


def test_remove_then_match_no_longer_finds_record(spark, small_corpus):
    from amp.incremental import remove_records

    files, _ = small_corpus
    idx0 = build_index(files, CFG)
    by_content = (
        idx0.records.groupBy("content_sha")
        .agg(F.collect_list("record_id").alias("ids"),
             F.first("repo").alias("repo"),
             F.first("path").alias("path"),
             F.first("commit").alias("commit"))
        .collect()
    )
    victim = sorted(by_content, key=lambda r: r["content_sha"])[0]
    idx1 = remove_records(idx0, list(victim["ids"]), policy="frozen")
    src = files.where(
        (F.col("repo") == victim["repo"]) & (F.col("path") == victim["path"])
        & (F.col("commit") == victim["commit"])
    ).collect()[0]
    q = _query_frame(spark, src)
    out = match_records(idx1, q, run_id=11, top_n=5).collect()
    gone = set(victim["ids"])
    assert all(r["candidate_id"] not in gone for r in out)


def test_remove_records_error_contract(spark, small_corpus):
    from amp.incremental import remove_records

    files, _ = small_corpus
    idx0 = build_index(files, CFG)
    all_ids = [r["record_id"] for r in idx0.records.select("record_id").collect()]
    with pytest.raises(ValueError, match="not in"):
        remove_records(idx0, ["no-such-id"])
    with pytest.raises(ValueError, match="empty id list"):
        remove_records(idx0, [])
    with pytest.raises(ValueError, match="empty the index"):
        remove_records(idx0, all_ids)
    with pytest.raises(ValueError, match="unknown policy"):
        remove_records(idx0, all_ids[:1], policy="nope")


def test_remove_refresh_policy_recomputes_idf(spark, small_corpus):
    from amp.incremental import remove_records

    files, _ = small_corpus
    base, extra = _split_files(files)
    idx0 = build_index(files, CFG)
    extra_ids = [
        r["record_id"]
        for r in build_index(extra, CFG).records.select("record_id").collect()
    ]
    idx1 = remove_records(idx0, extra_ids, policy="refresh")
    fresh = build_index(base, CFG)
    assert idx1.idf == fresh.idf  # zero drift under refresh
    _assert_index_state(idx1)
    q = _queries(files)
    assert _match_rows(idx1, q) == _match_rows(fresh, q)


def _digest(df):
    """(rows, order-insensitive xxhash64 sum) of a table, run_id aside;
    the sum is taken as decimal(38,0), as a long sum overflows."""
    cols = sorted(c for c in df.columns if c != "run_id")
    r = df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ).first()
    return r["n"], int(r["h"])


def _assert_same_tables(got, want):
    for t in ("records", "sides", "blocks"):
        assert _digest(getattr(got, t)) == _digest(getattr(want, t)), t
    assert got.n_records == want.n_records


def _copy_with_id(src, tag, below=None, above=None):
    """A repo_files row holding ``src``'s content under a new key whose
    record_id sorts below ``below`` or above ``above`` -> (row, id)."""
    import hashlib
    import itertools

    from amp.normalize import _US, RECORD_ID_HEX

    for i in itertools.count():
        key = (f"append/{tag}", src["path"], f"{i:040d}")
        rid = hashlib.sha256(_US.join(key).encode()).hexdigest()[:RECORD_ID_HEX]
        if (below is None or rid < below) and (above is None or rid > above):
            return (*key, src["lang"], src["content"]), rid


def _files_frame(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=amp_io.REPO_FILES_SCHEMA.names),
        amp_io.REPO_FILES_SCHEMA,
    )


def test_append_rows_equals_append_records(spark, small_corpus):
    """append_rows (rows in the driver, featurized there) builds the
    same version as append_records over the same rows, table for table,
    and both equal a fresh build with the same dictionary: a copy whose
    id undercuts a content's representative swaps it, a copy with a
    larger id swaps nothing, and an id that collides — inside the batch
    or with the index — fails the append. Under ``refresh`` the two
    agree as well."""
    from amp.incremental import append_records, append_rows
    from amp.normalize import record_id_expr

    files, _ = small_corpus
    idx0 = build_index(files, CFG)
    rep_ids = sorted(r["record_id"] for r in idx0.sides.select("record_id").collect())
    top, low = rep_ids[-1], rep_ids[0]
    src = {
        r["record_id"]: r
        for r in files.withColumn("record_id", record_id_expr())
        .where(F.col("record_id").isin([top, low]))
        .collect()
    }
    swap_row, swap_id = _copy_with_id(src[top], "swap", below=top)
    dup_row, dup_id = _copy_with_id(src[low], "dup", above=low)
    new_row = ("append/new", "new/unique_file.py", "0" * 40, "python",
               "def appended_only_here():\n    return 'qzxv_86420'\n")
    rows = [swap_row, dup_row, new_row]

    by_rows = append_rows(idx0, rows)
    by_frame = append_records(idx0, _files_frame(spark, rows))
    _assert_same_tables(by_rows, by_frame)
    assert by_rows.n_records == idx0.n_records + 3
    assert by_rows.idf_b is idx0.idf_b
    side_ids = {r["record_id"] for r in by_rows.sides.select("record_id").collect()}
    assert swap_id in side_ids and top not in side_ids
    assert low in side_ids and dup_id not in side_ids
    _assert_same_tables(
        by_rows,
        build_index(files.unionByName(_files_frame(spark, rows)), CFG, idf_override=idx0.idf),
    )
    _assert_index_state(by_rows)
    refreshed = append_rows(idx0, rows, policy="refresh")
    _assert_same_tables(
        refreshed, append_records(idx0, _files_frame(spark, rows), policy="refresh")
    )
    assert refreshed.idf_b is not idx0.idf_b

    old_row = tuple(files.select(*amp_io.REPO_FILES_SCHEMA.names).first())
    for bad in ([new_row, new_row], [new_row, old_row]):
        with pytest.raises(ValueError, match="1 appended record_ids collide"):
            append_rows(idx0, bad)
        with pytest.raises(ValueError, match="1 appended record_ids collide"):
            append_records(idx0, _files_frame(spark, bad))


def test_write_ids_are_matched_as_literal_strings(spark, index):
    """Writes name their ids in the plan as one SQL IN list: quotes,
    backslashes and SQL text in an id are matched literally, never
    parsed."""
    from amp.incremental import _isin, remove_records

    odd = ["it's", "a\\'b", "c\\", "x') OR ('1'='1", "tab\tnew\nline", "ü€"]
    frame = spark.createDataFrame([(v,) for v in odd + ["plain", "x"]], "record_id string")
    assert sorted(r[0] for r in frame.where(_isin("record_id", odd)).collect()) == sorted(odd)
    assert frame.where(_isin("record_id", [])).count() == 0
    with pytest.raises(ValueError, match=f"{len(odd)} of {len(odd)} ids are not in"):
        remove_records(index, odd)


def test_writes_to_a_content_of_many_records_collect_a_row_per_content(
    spark, small_corpus, monkeypatch
):
    """A write that touches a content held by many index records (an
    empty file, a license) brings the driver one row per content, not
    one per record, and still repairs the representative exactly: an
    appended copy whose id undercuts the representative takes its
    place, and removing the copy again restores the version."""
    import hashlib

    from pyspark.sql.classic.dataframe import DataFrame as ClassicFrame

    from amp.incremental import append_rows, remove_records
    from amp.normalize import _US, RECORD_ID_HEX

    files, _ = small_corpus
    src = files.first()
    copies = [(f"copies/{i}", src["path"], src["commit"], src["lang"], src["content"])
              for i in range(80)]
    base = files.unionByName(_files_frame(spark, copies))
    idx0 = build_index(base, CFG)
    copy_id = hashlib.sha256(_US.join(copies[0][:3]).encode()).hexdigest()[:RECORD_ID_HEX]
    sha = idx0.records.where(F.col("record_id") == copy_id).first()["content_sha"]
    rep, n_held = (
        idx0.records.where(F.col("content_sha") == sha)
        .agg(F.min("record_id"), F.count("*")).first()
    )
    assert n_held > len(copies)
    row, rid = _copy_with_id(src, "undercut", below=rep)

    sizes = []
    real_collect = ClassicFrame.collect

    def spy(self):
        out = real_collect(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(ClassicFrame, "collect", spy)
    idx1 = append_rows(idx0, [row])
    idx2 = remove_records(idx1, [rid])
    monkeypatch.undo()
    # the append's lookup and its added side row with its keys (for the
    # driver copy); the remove's two lookups and its promoted side row
    assert sizes == [1, 1, 1, 1, 1]

    side_ids = {r["record_id"] for r in idx1.sides.select("record_id").collect()}
    assert rid in side_ids and rep not in side_ids
    fresh = build_index(base.unionByName(_files_frame(spark, [row])), CFG,
                        idf_override=idx0.idf)
    _assert_same_tables(idx1, fresh)
    _assert_same_tables(idx2, idx0)


def test_streaming_ingest_normalizes_like_batch(spark, small_corpus, tmp_path_factory):
    from amp import normalize, streaming

    files, _ = small_corpus
    land = str(tmp_path_factory.mktemp("land"))
    outp = str(tmp_path_factory.mktemp("records_out"))
    ckp = str(tmp_path_factory.mktemp("stream_ck"))
    sample = files.limit(40)
    sample.write.mode("overwrite").parquet(land)

    stream = streaming.read_file_stream(spark, land)
    assert stream.isStreaming
    q = streaming.ingest_to_parquet(streaming.normalize_stream(stream, CFG), outp, ckp)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(outp)
    want = normalize.normalize(sample, CFG)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_csv_roundtrip_preserves_content_sha(spark, small_corpus, tmp_path_factory):
    """S1 parity: CSV load must not corrupt multiline content — the
    per-row sha256 invariant catches any mangling."""
    from amp import normalize

    files, _ = small_corpus
    sample = files.limit(25)
    p = str(tmp_path_factory.mktemp("csv")) + "/files.csv"
    sample.toPandas().to_csv(p, index=False)
    back = amp_io.read_repo_files(spark, p, fmt="csv")
    a = normalize.normalize(sample, CFG).select("record_id", "content_sha")
    b = normalize.normalize(back, CFG).select("record_id", "content_sha")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_index_save_load_identical_matches(spark, small_corpus, index, tmp_path_factory):
    """Durable run-0 bootstrap (reference main.go:92-173): save ->
    load -> match_records must reproduce the in-memory index's results
    exactly."""
    from amp.incremental import MatchIndex

    files, _ = small_corpus
    root = str(tmp_path_factory.mktemp("index_ck"))
    index.save(root)
    loaded = MatchIndex.load(spark, root)
    assert loaded.idf == index.idf
    assert loaded.cfg == index.cfg
    _assert_index_state(loaded)

    q = files.limit(15)
    key = lambda r: (r["query_id"], r["candidate_id"])  # noqa: E731
    got_mem = sorted(
        (tuple(r) for r in match_records(index, q, run_id=9, top_n=5).collect()),
        key=lambda t: (t[0], t[1]),
    )
    got_disk = sorted(
        (tuple(r) for r in match_records(loaded, q, run_id=9, top_n=5).collect()),
        key=lambda t: (t[0], t[1]),
    )
    assert got_mem == got_disk


def test_index_save_load_empty_vocabulary(spark, index, tmp_path_factory):
    """An index whose IDF dictionary is empty saves a zero-row IDF table
    and loads it back as {}."""
    import copy

    from amp.incremental import MatchIndex

    empty = copy.copy(index)
    empty.idf = {}
    root = str(tmp_path_factory.mktemp("index_ck_empty_idf"))
    empty.save(root)
    loaded = MatchIndex.load(spark, root)
    assert loaded.idf == {}
    assert loaded.n_records == index.n_records


def test_index_save_of_empty_vocabulary_plans_no_python_rdd(
    spark, index, tmp_path_factory, monkeypatch
):
    """The zero-row IDF table an empty vocabulary saves is planned in
    the JVM, not through a PythonRDD (whose tasks start Python workers
    to return nothing)."""
    import copy

    from amp.checkpoint import CheckpointManager

    written = {}
    real_write = CheckpointManager.write

    def spy(self, df, stage, *a, **kw):
        written[stage] = df
        return real_write(self, df, stage, *a, **kw)

    monkeypatch.setattr(CheckpointManager, "write", spy)
    empty = copy.copy(index)
    empty.idf = {}
    empty.save(str(tmp_path_factory.mktemp("index_ck_empty_idf_plan")))
    lineage = written["index_idf"]._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage


def test_index_load_ignores_retired_config_keys(spark, small_corpus, index, tmp_path_factory):
    """An index_config.json written before the postings-join, gather
    scorer, fused-reps and salted pair-gen paths were removed, before
    the pair shuffle width moved to the session, and before the unread
    CC checkpoint interval went, still carries their seven knobs; load
    drops exactly those and matches like the in-memory index."""
    import json
    import os

    from amp.incremental import MatchIndex

    files, _ = small_corpus
    root = str(tmp_path_factory.mktemp("index_ck_retired"))
    index.save(root)
    path = os.path.join(root, "index_config.json")
    with open(path) as fh:
        meta = json.load(fh)
    meta["cfg"].update(
        broadcast_idf=True,
        gather_sides_max_records=0,
        fused_reps_min_partitions=24,
        salt_block_size=16,
        grouped_pairgen_max_block=256,
        shuffle_partitions=32,
        cc_checkpoint_every=3,
    )
    with open(path, "w") as fh:
        json.dump(meta, fh)
    loaded = MatchIndex.load(spark, root)
    assert loaded.cfg == index.cfg

    q = files.limit(15)
    got_mem = sorted(tuple(r) for r in match_records(index, q, run_id=9, top_n=5).collect())
    got_disk = sorted(tuple(r) for r in match_records(loaded, q, run_id=9, top_n=5).collect())
    assert got_mem == got_disk


def test_build_index_with_provided_embeddings(spark, small_corpus):
    """Precomputed-embedding ingest: provided vectors replace the
    hashing-trick ones (unit-normalized), and the match path runs on
    them end-to-end."""
    import numpy as np

    from amp import normalize
    from amp.incremental import build_index

    files, _ = small_corpus
    recs = normalize.normalize(files, CFG, run_id=0)
    reps_ids = [r["record_id"] for r in
                normalize.representatives(recs).select("record_id").collect()]
    rng = np.random.RandomState(13)
    prov = spark.createDataFrame(
        [(rid, [float(x) for x in rng.standard_normal(8)]) for rid in sorted(reps_ids)],
        "record_id string, embedding array<float>",
    )
    idx = build_index(files, CFG, embeddings=prov)
    assert idx.driver_copy is None  # match_rows rejects the index anyway
    # every side vector is unit-norm and 8-dim (the provided dim, not cfg.emb_dim)
    import math

    sample = idx.sides.select("record_id", "embedding").limit(20).collect()
    for r in sample:
        assert len(r["embedding"]) == 8
        n = math.sqrt(sum(float(x) ** 2 for x in r["embedding"]))
        assert n == pytest.approx(1.0, abs=1e-5)
    # match requires query-side vectors of the same model/dim
    qfiles = files.limit(5)
    with pytest.raises(ValueError, match="provided embeddings"):
        match_records(idx, qfiles, run_id=11, top_n=3)
    q_ids = [r["record_id"] for r in
             normalize.normalize(qfiles, CFG, run_id=11).select("record_id").collect()]
    q_prov = spark.createDataFrame(
        [(rid, [float(x) for x in rng.standard_normal(8)]) for rid in sorted(q_ids)],
        "record_id string, embedding array<float>",
    )
    out = match_records(idx, qfiles, run_id=11, top_n=3, query_embeddings=q_prov)
    assert out.count() > 0


def test_attach_embeddings_requires_full_coverage(spark, small_corpus):
    from amp import normalize, scoring
    from amp.features import idf_map

    files, _ = small_corpus
    reps = normalize.representatives(normalize.normalize(files, CFG, run_id=0))
    idf = idf_map(reps, reps.count(), CFG)
    sides = scoring.side_features_onepass(reps, idf, CFG)
    one_id = reps.select("record_id").limit(1).collect()[0][0]
    partial = spark.createDataFrame(
        [(one_id, [1.0, 0.0])], "record_id string, embedding array<float>"
    )
    with pytest.raises(ValueError, match="no provided embedding"):
        scoring.attach_embeddings(sides, partial)


def test_stateful_dedup_stream_across_batches(spark, tmp_path_factory):
    """applyInPandasWithState exact-dedup: state (canonical id per
    fingerprint) must survive across micro-batches — a duplicate
    arriving in batch 2 points at the canonical chosen in batch 1."""
    import time

    land = str(tmp_path_factory.mktemp("dedup_land"))
    schema = "record_id string, content_sha string, lang string, n_chars int"
    b1 = spark.createDataFrame(
        [("r1", "A", "py", 10), ("r2", "A", "py", 10), ("r3", "B", "go", 20)], schema
    )
    b1.coalesce(1).write.mode("append").parquet(land)

    from amp import streaming

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
    q = (
        streaming.dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        b2 = spark.createDataFrame([("r4", "A", "py", 10), ("r5", "C", "js", 5)], schema)
        b2.coalesce(1).write.mode("append").parquet(land)
        q.processAllAvailable()
        rows = {r["record_id"]: r for r in spark.table("dedup_out").collect()}
    finally:
        q.stop()

    assert rows["r1"]["is_duplicate"] is False and rows["r1"]["canonical_id"] == "r1"
    assert rows["r2"]["is_duplicate"] is True and rows["r2"]["canonical_id"] == "r1"
    # state crossed the batch boundary:
    assert rows["r4"]["is_duplicate"] is True and rows["r4"]["canonical_id"] == "r1"
    assert rows["r3"]["is_duplicate"] is False
    assert rows["r5"]["is_duplicate"] is False


def test_ingest_stats_stream_windowed_counts(spark, tmp_path_factory):
    land = str(tmp_path_factory.mktemp("stats_land"))
    schema = "record_id string, content_sha string, lang string, n_chars int"
    spark.createDataFrame(
        [(f"r{i}", f"s{i}", "py" if i % 2 else "go", 10 * (i + 1)) for i in range(8)],
        schema,
    ).coalesce(1).write.mode("append").parquet(land)

    from amp import streaming

    stream = spark.readStream.schema(schema).parquet(land)
    q = (
        streaming.ingest_stats_stream(stream)
        .writeStream.format("memory")
        .queryName("stats_out")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("stats_out").collect()
    finally:
        q.stop()
    assert sum(r["n_records"] for r in rows) == 8
    by_lang = {}
    for r in rows:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + r["n_records"]
    assert by_lang == {"py": 4, "go": 4}
    assert all(r["window"].start is not None for r in rows)


def test_match_stream_continuous_matching(spark, small_corpus, index, tmp_path_factory):
    """foreachBatch continuous matching: files landing in the stream
    directory are matched against the prebuilt index per micro-batch
    (the streaming form of the reference's POST /match loop)."""
    from amp import streaming

    files, _ = small_corpus
    land = str(tmp_path_factory.mktemp("match_land"))
    ckp = str(tmp_path_factory.mktemp("match_ck"))
    # resubmit 3 known index records as the query stream — under a new
    # repo so the query record_ids differ from their index copies
    # (match_records excludes identical-id self pairs)
    files.limit(3).withColumn(
        "repo", F.concat(F.lit("query/"), F.col("repo"))
    ).write.mode("append").parquet(land)

    got: list = []

    def on_batch(matches_df, epoch_id):
        got.extend(matches_df.collect())

    stream = streaming.read_file_stream(spark, land)
    q = streaming.match_stream(stream, index, on_batch, checkpoint_path=ckp)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert got, "stream batch produced no matches"
    best_by_query: dict = {}
    for r in got:
        cur = best_by_query.get(r["query_id"])
        if cur is None or r["rank"] < cur["rank"]:
            best_by_query[r["query_id"]] = r
    # every resubmitted record finds its exact index copy at rank 1
    assert len(best_by_query) == 3
    for r in best_by_query.values():
        assert r["rank"] == 1 and r["score"] > 0.9


def test_dedup_stream_rocksdb_state_store_restart(spark, tmp_path_factory):
    """The 100-TB state story end-to-end: dedup_stream under the
    RocksDB state store, stopped mid-stream and RESTARTED from its
    checkpoint — state (the canonical id chosen in batch 1) must
    survive the restart, and no batch may be emitted twice."""
    from amp import streaming

    land = str(tmp_path_factory.mktemp("rdb_land"))
    outp = str(tmp_path_factory.mktemp("rdb_out"))
    ckp = str(tmp_path_factory.mktemp("rdb_ck"))
    schema = "record_id string, content_sha string, lang string, n_chars int"

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    streaming.use_rocksdb_state_store(spark)
    try:

        def start():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(land)
            )
            return (
                streaming.dedup_stream(stream)
                .writeStream.format("parquet")
                .option("path", outp)
                .option("checkpointLocation", ckp)
                .outputMode("append")
                .start()
            )

        spark.createDataFrame(
            [("r1", "A", "py", 10), ("r2", "A", "py", 10), ("r3", "B", "go", 20)],
            schema,
        ).coalesce(1).write.mode("append").parquet(land)
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        # crash/restart boundary: new files land while the query is down
        spark.createDataFrame(
            [("r4", "A", "py", 10), ("r5", "C", "js", 5)], schema
        ).coalesce(1).write.mode("append").parquet(land)
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    rows = spark.read.parquet(outp).collect()
    by_id = {r["record_id"]: r for r in rows}
    # exactly-once: every record emitted exactly once across the restart
    assert len(rows) == 5 and len(by_id) == 5
    # state survived the restart: r4's duplicate verdict points at the
    # canonical chosen before the stop
    assert by_id["r4"]["is_duplicate"] is True
    assert by_id["r4"]["canonical_id"] == "r1"
    assert by_id["r1"]["is_duplicate"] is False
    assert by_id["r5"]["is_duplicate"] is False


def test_dedup_stream_state_ttl_evicts(spark, tmp_path_factory):
    """state_ttl_ms: an idle fingerprint is evicted, so a duplicate
    arriving after eviction is re-admitted as a new canonical (the
    documented bounded-state tradeoff).

    NB: with ProcessingTimeTimeout the engine keeps scheduling no-data
    micro-batches to fire timeouts, so processAllAvailable() never
    settles — the test polls the sink instead."""
    import time

    from amp import streaming

    land = str(tmp_path_factory.mktemp("ttl_land"))
    schema = "record_id string, content_sha string, lang string, n_chars int"
    spark.createDataFrame([("r1", "A", "py", 10)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(land)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
    )
    q = (
        streaming.dedup_stream(stream, state_ttl_ms=500)
        .writeStream.format("memory")
        .queryName("ttl_out")
        .outputMode("append")
        .start()
    )

    def wait_rows(n, deadline=60):
        t0 = time.time()
        rows = []
        while time.time() - t0 < deadline:
            rows = spark.table("ttl_out").collect()
            if len(rows) >= n:
                return rows
            time.sleep(0.5)
        raise TimeoutError(f"sink has {len(rows)} rows, wanted {n}")

    try:
        wait_rows(1)
        time.sleep(1.2)  # let the 500ms TTL lapse in processing time
        # the same fingerprint arrives again — its state was evicted by
        # an intervening timeout batch, so it must be re-admitted as its
        # own canonical
        spark.createDataFrame([("r9", "A", "py", 10)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(land)
        rows = {r["record_id"]: r for r in wait_rows(2)}
    finally:
        q.stop()

    assert rows["r1"]["is_duplicate"] is False
    assert rows["r9"]["is_duplicate"] is False, "fingerprint A was not evicted"
    assert rows["r9"]["canonical_id"] == "r9"


def test_match_stream_restart_exactly_once(spark, small_corpus, index, tmp_path_factory):
    """match_stream across a stop/restart cycle from one checkpoint:
    no query record is matched twice (no epoch replay of committed
    batches) and none is lost (files landing while the query was down
    are picked up on restart)."""
    from amp import streaming

    files, _ = small_corpus
    land = str(tmp_path_factory.mktemp("ms_land"))
    ckp = str(tmp_path_factory.mktemp("ms_ck"))

    got: list = []

    def on_batch(matches_df, epoch_id):
        got.extend((epoch_id, r) for r in matches_df.collect())

    def start():
        return streaming.match_stream(
            streaming.read_file_stream(spark, land), index, on_batch,
            checkpoint_path=ckp,
        )

    files.limit(3).withColumn(
        "repo", F.concat(F.lit("q1/"), F.col("repo"))
    ).write.mode("append").parquet(land)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_first = len({r["query_id"] for _, r in got})
    assert n_first == 3

    # down period: two more query records land
    files.limit(5).subtract(files.limit(3)).withColumn(
        "repo", F.concat(F.lit("q2/"), F.col("repo"))
    ).write.mode("append").parquet(land)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    seen_epochs_per_query: dict = {}
    for epoch, r in got:
        seen_epochs_per_query.setdefault(r["query_id"], set()).add(epoch)
    # none lost: all 5 distinct query records matched
    assert len(seen_epochs_per_query) == 5
    # none duplicated: each query matched in exactly one epoch
    assert all(len(v) == 1 for v in seen_epochs_per_query.values())
