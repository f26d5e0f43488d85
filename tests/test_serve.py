"""HTTP front door (reference pkg/api/router.go:38-42 shapes) + anchor
derivation for new domains."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest


@pytest.fixture(scope="module")
def service(spark, small_corpus):
    from amp.incremental import build_index
    from amp.serve import MatchService

    files, _ = small_corpus
    return MatchService(spark, build_index(files))


def _one_record(files):
    r = files.limit(1).collect()[0]
    return {
        "repo": "query/repo",
        "path": "query/" + r["path"],
        "commit": "f" * 40,
        "lang": r["lang"],
        "content": r["content"],
    }


def test_match_single_handler(spark, small_corpus, service):
    files, _ = small_corpus
    out = service.match_single(_one_record(files), top_n=3)
    assert out, "resubmitted record must match its index copy"
    best = min(out, key=lambda m: m["rank"])
    assert best["rank"] == 1 and best["score"] > 0.9
    assert all(set(m) >= {"query_id", "candidate_id", "score", "rank"} for m in out)


def test_match_batch_handler_and_validation(spark, small_corpus, service):
    files, _ = small_corpus
    rows = [_one_record(files) for _ in range(2)]
    rows[1] = dict(rows[1], path="other/" + rows[1]["path"])
    out = service.match_batch(rows, top_n=2)
    per_query: dict = {}
    for m in out:
        per_query.setdefault(m["query_id"], []).append(m)
    assert all(len(v) <= 2 for v in per_query.values())
    with pytest.raises(ValueError, match="missing fields"):
        service.match_single({"repo": "x"})


def test_http_roundtrip(spark, small_corpus, service):
    from amp.serve import serve

    files, _ = small_corpus
    httpd = serve(service, port=0)
    try:
        port = httpd.server_address[1]
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/healthz") as r:
            assert json.load(r)["status"] == "ok"
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/match",
            data=json.dumps(_one_record(files)).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            body = json.load(r)
        assert body["matches"] and body["matches"][0]["rank"] == 1
        bad = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/match",
            data=b"{not json",
            method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(bad)
        assert ei.value.code == 400
    finally:
        httpd.shutdown()


_FIELDS = ("repo", "path", "commit", "lang", "content")


def _post(port, path, body):
    """POST a JSON body -> (status code, decoded JSON reply)."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.load(r)
    except urllib.error.HTTPError as e:
        return e.code, json.load(e)


def test_served_matches_equal_dataframe_path(spark, small_corpus, service):
    """match_single/match_batch answer exactly what match_records answers
    over a DataFrame of the same rows, on every output column — also for
    a batch holding an index record under its own id, two rows with one
    content and a null lang (lang is the one field a record may leave
    null). An empty batch answers no matches."""
    from amp import io as amp_io
    from amp.incremental import match_records

    files, _ = small_corpus
    q = _one_record(files)
    own = files.select(*_FIELDS).limit(1).collect()[0].asDict()
    twin = dict(q, path="twin/" + q["path"])
    nolang = dict(q, path="nolang/" + q["path"], lang=None)

    def key(matches):
        return sorted(tuple(sorted(m.items())) for m in matches)

    def want(records):
        df = spark.createDataFrame(
            [tuple(r[f] for f in _FIELDS) for r in records],
            "repo string, path string, commit string, lang string, content string",
        )
        return key(amp_io.results_json(match_records(service.index, df, top_n=3)))

    single = key(service.match_single(q, top_n=3))
    assert single and single == want([q])
    assert key(service.match_single(nolang, top_n=3)) == want([nolang])
    batch = [own, q, twin, nolang]
    got = service.match_batch(batch, top_n=3)
    assert key(got) == want(batch)
    assert len({m["query_id"] for m in got}) == 4
    assert service.match_batch([]) == []


def test_batch_match_answer_is_not_truncated(spark):
    """A batch match returns every ranked row, also past 1,000: 40
    near-identical queries against 40 near-identical index records
    share their blocks, so a large top_n keeps 40 candidates each."""
    import pandas as pd

    from amp.incremental import build_index, match_rows
    from amp.serve import MatchService

    body = "def step(state, x):\n    return state * 31 + x\n" * 12

    def rec(repo, i):
        return (repo, "src/step.py", f"{i:040d}", "python", body + f"# v{i}\n")

    index = build_index(spark.createDataFrame(
        pd.DataFrame([rec("index/repo", i) for i in range(40)], columns=_FIELDS)
    ))
    queries = [rec("query/repo", i) for i in range(40)]
    want = match_rows(index, queries, top_n=100).count()
    assert want > 1000
    got = MatchService(spark, index).match_batch(
        [dict(zip(_FIELDS, q)) for q in queries], top_n=100
    )
    assert len(got) == want


@pytest.mark.parametrize("field, value", [
    ("content", None), ("content", 5), ("path", None), ("repo", 7),
    ("commit", ["c"]), ("lang", 5),
], ids=["content-null", "content-int", "path-null", "repo-int", "commit-list", "lang-int"])
def test_malformed_field_values_are_400(spark, small_corpus, service, field, value):
    """repo/path/commit/content must be strings and lang a string or
    null, on single match, batch match and append alike: a violation is
    a 400 naming the field and counts as an error; the index is left
    as it was."""
    from amp.serve import serve

    files, _ = small_corpus
    good = _one_record(files)
    bad = dict(good, **{field: value})
    n0 = service.index.n_records
    httpd = serve(service, port=0)
    try:
        port = httpd.server_address[1]
        for path, body in (
            ("/api/v1/match", bad),
            ("/api/v1/match", [good, bad]),
            ("/api/v1/index/append", {"records": [bad]}),
        ):
            errors = service.metrics["errors"]
            code, reply = _post(port, path, body)
            assert code == 400, (path, reply)
            assert repr(field) in reply["error"], reply
            assert service.metrics["errors"] == errors + 1
    finally:
        httpd.shutdown()
        httpd.server_close()
    assert service.index.n_records == n0


def test_provided_embedding_index_match_is_400(spark, small_corpus, service):
    """A JSON body cannot carry query vectors, so a provided-embedding
    index answers single and batch matches 400 with match_records'
    message."""
    import copy

    from amp.serve import MatchService, serve

    files, _ = small_corpus
    index = copy.copy(service.index)
    index.uses_provided_embeddings = True
    httpd = serve(MatchService(spark, index), port=0)
    try:
        port = httpd.server_address[1]
        for body in (_one_record(files), [_one_record(files)]):
            code, reply = _post(port, "/api/v1/match", body)
            assert code == 400
            assert reply["error"] == (
                "match_records: the index was built with provided embeddings; "
                "pass query_embeddings (record_id, embedding) of the same "
                "model/dim for the query batch"
            )
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_derive_anchors_deterministic_and_usable():
    from amp.reference_parity import calculate_binary_key, derive_anchors

    streets = [f"{100 + 7 * i} {name} {kind}"
               for i, (name, kind) in enumerate(
                   (n, k) for n in ("oak", "elm", "pine", "cedar", "maple", "birch")
                   for k in ("road", "lane", "gate", "glade"))]
    a1 = derive_anchors(streets, k=10, seed=42)
    a2 = derive_anchors(streets, k=10, seed=42)
    assert a1 == a2
    assert len(a1) == 10 and len(set(a1)) == 10
    assert set(a1) <= set(streets)
    key = calculate_binary_key("214 pine gate", refs=a1)
    assert len(key) == 10 and set(key) <= {"0", "1"}
    with pytest.raises(ValueError, match="distinct"):
        derive_anchors(streets[:5], k=10)


def test_type_malformed_payload_is_400_not_500(spark, small_corpus, service):
    from amp.serve import serve

    httpd = serve(service, port=0)
    try:
        port = httpd.server_address[1]
        for body in (b"5", b'"abc"', b"[1, 2]"):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/api/v1/match", data=body, method="POST"
            )
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req)
            assert ei.value.code == 400, body
    finally:
        httpd.shutdown()


def test_duplicates_cached_after_first_call(spark, small_corpus, service, monkeypatch):
    import amp.pipeline as P

    calls = {"n": 0}
    real = P.run_pipeline

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(P, "run_pipeline", counting)
    service._dup_df = None  # isolate from other tests
    a = service.duplicates(limit=50)
    b = service.duplicates(limit=50)
    assert a == b and len(a) > 0
    assert calls["n"] == 1  # second call served from the materialized table
    # refresh recomputes
    c = service.duplicates(limit=50, refresh=True)
    assert calls["n"] == 2 and c == a


def test_duplicates_refresh_reachable_over_http_and_metrics(
    spark, small_corpus, service, monkeypatch
):
    """The refresh knob must be reachable from the HTTP handler (a
    swapped index would otherwise serve stale clusters forever), and
    /metrics surfaces request counters + the dropped-block count."""
    import amp.pipeline as P
    from amp.serve import serve

    calls = {"n": 0}
    real = P.run_pipeline

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(P, "run_pipeline", counting)
    service._dup_df = None
    httpd = serve(service, port=0)
    try:
        port = httpd.server_address[1]

        def post(body: dict):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/api/v1/duplicates",
                data=json.dumps(body).encode(),
                method="POST",
            )
            with urllib.request.urlopen(req) as r:
                return json.load(r)["clusters"]

        a = post({"limit": 30})
        assert calls["n"] == 1 and len(a) == 30
        b = post({"limit": 30})
        assert calls["n"] == 1 and b == a  # cached
        c = post({"limit": 30, "refresh": True})
        assert calls["n"] == 2 and c == a  # recomputed over HTTP

        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics") as r:
            m = json.load(r)
        assert m["counters"]["duplicates_requests"] >= 3
        assert "dropped_blocks" in m["counters"]
    finally:
        httpd.shutdown()


def test_concurrent_requests_share_one_pipeline_run(
    spark, small_corpus, service, monkeypatch
):
    """Bounded-pool server: N parallel /duplicates requests all succeed
    and the pipeline runs ONCE (computation lock), not once per caller."""
    import threading

    import amp.pipeline as P
    from amp.serve import serve

    calls = {"n": 0}
    real = P.run_pipeline
    lock = threading.Lock()

    def counting(*a, **kw):
        with lock:
            calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(P, "run_pipeline", counting)
    service._dup_df = None
    httpd = serve(service, port=0, max_workers=4)
    try:
        port = httpd.server_address[1]
        results, errors = [], []

        def hit():
            try:
                req = urllib.request.Request(
                    f"http://127.0.0.1:{port}/api/v1/duplicates",
                    data=json.dumps({"limit": 20}).encode(),
                    method="POST",
                )
                with urllib.request.urlopen(req, timeout=300) as r:
                    results.append(json.load(r)["clusters"])
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        threads = [threading.Thread(target=hit) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert len(results) == 4
        assert all(r == results[0] for r in results)
        assert calls["n"] == 1, "concurrent callers must share one pipeline run"
    finally:
        httpd.shutdown()


def test_malformed_content_length_is_400(spark, small_corpus, service):
    """A non-integer or negative Content-Length is answered 400 naming
    the header, counted as an error, and the body is never read: a
    read(-1) would hold the pool worker until the client hangs up."""
    import socket

    from amp.serve import serve

    httpd = serve(service, port=0)
    try:
        port = httpd.server_address[1]
        errors0 = service.metrics["errors"]
        for value in ("abc", "-1"):
            with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
                s.sendall(
                    b"POST /api/v1/match HTTP/1.1\r\nHost: localhost\r\n"
                    + f"Content-Length: {value}\r\n\r\n".encode()
                )
                reply = b""
                while chunk := s.recv(4096):
                    reply += chunk
            head, _, body = reply.partition(b"\r\n\r\n")
            assert head.split(b" ")[1:2] == [b"400"], (value, reply)
            assert "Content-Length" in json.loads(body)["error"], value
        assert service.metrics["errors"] == errors0 + 2
    finally:
        httpd.shutdown()


def test_bad_limit_types_are_400_not_500(spark, small_corpus, service):
    """null/list/dict/negative 'limit' values are client errors: the
    handler must classify them as 400, not fall through to the generic
    500."""
    from amp.serve import serve

    httpd = serve(service, port=0)
    try:
        port = httpd.server_address[1]
        for limit in (None, [1], {"n": 1}, "abc", -1):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/api/v1/duplicates",
                data=json.dumps({"limit": limit}).encode(),
                method="POST",
            )
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req)
            assert ei.value.code == 400, limit
    finally:
        httpd.shutdown()


def test_rejected_duplicates_bodies_are_counted_before_compute(
    spark, small_corpus, service, monkeypatch
):
    """'refresh' must be a JSON boolean (``bool("false")`` is True and
    would force a full pipeline run) and 'limit' non-negative (Spark
    rejects a negative limit only after the pipeline ran): both are
    400s naming the key. Like an oversize body's 413, each is counted
    as an error and starts no duplicates compute."""
    import socket

    from amp.serve import serve

    def no_compute(*a, **kw):
        raise AssertionError("duplicates computed for a rejected body")

    monkeypatch.setattr(service, "duplicates", no_compute)
    httpd = serve(service, port=0)
    try:
        port = httpd.server_address[1]
        for body in ({"refresh": "false"}, {"limit": -1}):
            errors = service.metrics["errors"]
            code, reply = _post(port, "/api/v1/duplicates", body)
            assert code == 400, (body, reply)
            assert next(iter(body)) in reply["error"], reply
            assert service.metrics["errors"] == errors + 1
        errors = service.metrics["errors"]
        with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
            s.sendall(
                b"POST /api/v1/duplicates HTTP/1.1\r\nHost: localhost\r\n"
                + f"Content-Length: {httpd.RequestHandlerClass.MAX_BODY_BYTES + 1}"
                  "\r\n\r\n".encode()
            )
            reply = b""
            while chunk := s.recv(4096):
                reply += chunk
        assert reply.split(b" ")[1:2] == [b"413"], reply
        assert service.metrics["errors"] == errors + 1
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_http_workers_are_daemon_threads(spark, small_corpus, service):
    """Pool workers must be daemon: a request stuck in a hung Spark job
    must not block interpreter exit (concurrent.futures threads would
    be joined at shutdown)."""
    from amp.serve import serve

    httpd = serve(service, port=0)
    try:
        assert httpd._workers, "bounded worker pool expected"
        assert all(t.daemon for t in httpd._workers)
    finally:
        httpd.shutdown()


def test_duplicates_cache_hit_serves_during_refresh(
    spark, small_corpus, service, monkeypatch
):
    """While a refresh pipeline run holds the compute lock, a plain
    request must return the still-valid old pin immediately instead of
    blocking for the run's duration."""
    import threading
    import time as _time

    import amp.pipeline as P

    service._dup_df = None
    service.duplicates(limit=10)  # warm the pin

    real = P.run_pipeline
    entered = threading.Event()
    release = threading.Event()

    def slow(*a, **kw):
        entered.set()
        release.wait(timeout=60)
        return real(*a, **kw)

    monkeypatch.setattr(P, "run_pipeline", slow)
    t = threading.Thread(
        target=lambda: service.duplicates(limit=10, refresh=True), daemon=True
    )
    t.start()
    assert entered.wait(timeout=30), "refresh never reached the pipeline"
    t0 = _time.time()
    out = service.duplicates(limit=10)  # must NOT block on the refresh
    assert _time.time() - t0 < 5.0
    assert len(out) > 0
    release.set()
    t.join(timeout=120)
    assert not t.is_alive()


def test_server_close_drains_queued_sockets(spark, small_corpus, service):
    """server_close must shut down still-queued connections instead of
    leaving them for (possibly exited) workers — fd leak at shutdown
    (ADVICE r4). Simulated with sentinel sockets queued directly."""
    from amp.serve import PooledHTTPServer, make_handler

    httpd = PooledHTTPServer(("127.0.0.1", 0), make_handler(service), max_workers=2)
    closed = []

    class FakeSock:
        def __init__(self, name):
            self.name = name

    httpd.shutdown_request = lambda req: closed.append(
        req.name if isinstance(req, FakeSock) else "real"
    )
    # the accept loop was never started (no serve_forever — calling
    # shutdown() here would wait forever on the never-set is_shut_down
    # event); stuff the hand-off queue as if connections raced in
    for i in range(3):
        httpd._q.put((FakeSock(f"s{i}"), ("127.0.0.1", 40000 + i)))
    httpd.server_close()
    import time as _time

    deadline = _time.time() + 10
    while len([c for c in closed if c.startswith("s")]) < 3 and _time.time() < deadline:
        _time.sleep(0.05)
    assert sorted(c for c in closed if c.startswith("s")) == ["s0", "s1", "s2"]
    # workers must exit on the sentinels
    for t in httpd._workers:
        t.join(timeout=10)
        assert not t.is_alive()
    # post-close connections are refused at process_request
    httpd.process_request(FakeSock("late"), ("127.0.0.1", 1))
    assert "late" in closed


def test_http_index_append_e2e(spark, small_corpus):
    """Round-5 task: POST /index/append extends the live index — the
    appended record becomes findable by /match, /metrics reflects the
    new index size, and the duplicates cache is invalidated."""
    from amp.incremental import build_index
    from amp.serve import MatchService, serve

    files, _ = small_corpus
    svc = MatchService(spark, build_index(files))  # private: append mutates
    n0 = svc.index.records.count()
    # warm the duplicates cache so the append has something to invalidate
    svc.duplicates(limit=5)
    assert svc._dup_df is not None
    httpd = serve(svc, port=0)
    try:
        port = httpd.server_address[1]
        new_rec = {
            "repo": "appended/repo",
            "path": "brand/new/file.py",
            "commit": "a" * 40,
            "lang": "python",
            "content": "def appended_unique_marker():\n    return 'zxqv_97531'\n",
        }
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/index/append",
            data=json.dumps({"records": [new_rec]}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            body = json.loads(r.read())
        assert body == {"appended": 1, "index_records": n0 + 1}
        assert svc._dup_df is None, "append must invalidate the dup cache"

        # the appended record is now matchable over HTTP
        q = dict(new_rec, repo="query/repo", commit="b" * 40)
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/match",
            data=json.dumps(q).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            matches = json.loads(r.read())["matches"]
        assert matches, "query equal to the appended record must match it"
        best = min(matches, key=lambda m: m["rank"])
        assert best["score"] > 0.9

        # /metrics carries the counters + index size gauge
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics") as r:
            counters = json.loads(r.read())["counters"]
        assert counters["append_requests"] == 1
        assert counters["index_records"] == n0 + 1

        # malformed body is a 400, duplicate record_id append is a 400
        for bad in ({"records": "nope"}, [new_rec]):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/api/v1/index/append",
                data=json.dumps(bad).encode(),
                headers={"Content-Type": "application/json"},
            )
            try:
                urllib.request.urlopen(req)
                raise AssertionError("expected HTTP 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_http_index_remove_e2e(spark, small_corpus):
    """POST /index/remove shrinks the live index: the removed record
    stops being matchable, /metrics reflects the new size, the
    duplicates cache is invalidated, and bad bodies are 400s."""
    from amp.incremental import build_index
    from amp.serve import MatchService, serve

    from pyspark.sql import functions as F

    files, _ = small_corpus
    svc = MatchService(spark, build_index(files))
    n0 = svc.index.records.count()
    svc.duplicates(limit=5)  # warm the cache so remove invalidates it
    assert svc._dup_df is not None
    httpd = serve(svc, port=0)
    try:
        port = httpd.server_address[1]
        # remove one whole content (all its record ids) so no candidate
        # for that content can remain
        by_content = (
            svc.index.records.groupBy("content_sha")
            .agg(F.collect_list("record_id").alias("ids"),
                 F.first("repo").alias("repo"),
                 F.first("path").alias("path"),
                 F.first("commit").alias("commit"))
            .collect()
        )
        victim = sorted(by_content, key=lambda r: r["content_sha"])[0]
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/index/remove",
            data=json.dumps({"record_ids": list(victim["ids"])}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            body = json.loads(r.read())
        assert body == {
            "removed": len(set(victim["ids"])),
            "index_records": n0 - len(set(victim["ids"])),
        }
        assert svc._dup_df is None, "remove must invalidate the dup cache"

        # an exact-copy query no longer matches any removed id
        src = files.where(
            (F.col("repo") == victim["repo"])
            & (F.col("path") == victim["path"])
            & (F.col("commit") == victim["commit"])
        ).collect()[0]
        q = {"repo": "query/repo", "path": "query/" + src["path"],
             "commit": "b" * 40, "lang": src["lang"],
             "content": src["content"]}
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/match",
            data=json.dumps(q).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            matches = json.loads(r.read())["matches"]
        gone = set(victim["ids"])
        assert all(m["candidate_id"] not in gone for m in matches)

        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics") as r:
            counters = json.loads(r.read())["counters"]
        assert counters["remove_requests"] == 1
        assert counters["index_records"] == n0 - len(set(victim["ids"]))

        # 400s: malformed body, unknown id, non-string ids
        for bad in ({"record_ids": "nope"}, ["no-such-id"], [42]):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/api/v1/index/remove",
                data=json.dumps(bad).encode(),
                headers={"Content-Type": "application/json"},
            )
            try:
                urllib.request.urlopen(req)
                raise AssertionError("expected HTTP 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
    finally:
        httpd.shutdown()
        httpd.server_close()


def _fresh_records(tag: str, n: int) -> list[dict]:
    return [
        {"repo": f"writes/{tag}", "path": f"pkg/mod_{tag}_{i}.py", "commit": "c" * 40,
         "lang": "python",
         "content": f"def only_{tag}_{i}(x):\n    return x * {i} + len('{tag}')\n"}
        for i in range(n)
    ]


def _record_ids(records: list[dict]) -> list[str]:
    import hashlib

    from amp.normalize import _US, RECORD_ID_HEX

    return [
        hashlib.sha256(_US.join((r["repo"], r["path"], r["commit"])).encode())
        .hexdigest()[:RECORD_ID_HEX]
        for r in records
    ]


def test_served_writes_job_budget_and_partition_counts(spark, small_corpus, count_jobs):
    """A served append or remove is decided in the driver from lookups
    sized by the write: each runs at most 7 Spark jobs (no full-index
    probe or representatives pass), and after append/remove pairs every
    index table keeps the base index's partition count."""
    from amp.incremental import build_index
    from amp.serve import MatchService

    files, _ = small_corpus
    svc = MatchService(spark, build_index(files))
    tables = ("records", "sides", "blocks")

    def partitions():
        return {t: getattr(svc.index, t).rdd.getNumPartitions() for t in tables}

    base = partitions()
    for k in range(3):
        recs = _fresh_records(f"w{k}", 4)
        assert count_jobs(lambda: svc.append(recs))[1] <= 7
        assert count_jobs(lambda: svc.remove(_record_ids(recs)))[1] <= 7
        assert svc.index.n_records == files.count()
        assert partitions() == base


def test_served_match_job_budget(small_corpus, service, count_jobs):
    """A served match runs in the driver: at most 2 Spark jobs (the
    block lookup and the candidates' side rows) with candidates, at
    most 1 without."""
    files, _ = small_corpus
    rec = _one_record(files)
    lone = dict(rec, path="zz/no_such_stem_qq.zz", lang=None,
                content="xyzzy plugh frobnicate quux")
    out, n = count_jobs(lambda: service.match_single(rec))
    assert out and n <= 2
    out, n = count_jobs(lambda: service.match_batch([rec, dict(rec, path="b/" + rec["path"])]))
    assert out and n <= 2
    out, n = count_jobs(lambda: service.match_single(lone))
    assert out == [] and n <= 1


def test_empty_match_body_runs_no_job(service, count_jobs):
    """An empty batch match is answered in the driver: [] and no job."""
    assert count_jobs(lambda: service.match_batch([])) == ([], 0)


def test_duplicates_reply_holds_whole_clusters(spark, small_corpus, service):
    """/duplicates answers whole clusters in (cluster_id, record_id)
    order: the cluster a limit would split is left out, and the next
    cluster would not have fit."""
    from collections import defaultdict

    service._dup_df = None
    everything = service.duplicates(limit=10**6)
    members = defaultdict(set)
    for r in everything:
        members[r["cluster_id"]].add(r["record_id"])
    ordered = sorted((r["cluster_id"], r["record_id"]) for r in everything)
    assert max(len(m) for m in members.values()) > 1
    for limit in (50, 200):
        got = [(r["cluster_id"], r["record_id"]) for r in service.duplicates(limit=limit)]
        assert 0 < len(got) <= limit
        assert got == ordered[: len(got)]
        got_members = defaultdict(set)
        for cid, rid in got:
            got_members[cid].add(rid)
        assert all(got_members[c] == members[c] for c in got_members)
        if len(got) < len(ordered):
            assert len(got) + len(members[ordered[len(got)][0]]) > limit
