"""Request-facing front door — the Spark analog of the reference's
HTTP API (pkg/api/router.go:38-42, pkg/api/handler.go:54-163):

  POST /api/v1/match         single record (JSON) or batch (JSON list)
  POST /api/v1/duplicates    run-0 self-dedup -> entity clusters
  POST /api/v1/index/append  incremental run-0 extension (no rebuild)
  POST /api/v1/index/remove  exact removal with representative repair
  GET  /healthz
  GET  /metrics

The reference serves gin handlers over Postgres; here a stdlib
http.server adapter wraps a MatchIndex living in the driver's
SparkSession (a long-running `spark-submit` app — the same deployment
shape as the reference's single binary). Request batches become run_id
> 0 query DataFrames, exactly the reference's run lifecycle
(match.sql:30-31). No web framework dependency: the serving layer is a
thin adapter; all matching semantics live in amp.incremental.

Scale note: everything index-sized — side rows, the (record, block
key) table, the IDF broadcast, and, up to
incremental._DRIVER_COPY_MAX_ROWS side rows, a driver copy of the side
rows and block keys — is built once per index version (build, load, or
an append/remove, which maintains it incrementally), so a request pays
only for its own rows. A match body of up to _LOCAL_FEATURIZE_MAX_ROWS
records is matched right here in the driver, where its rows already
are (incremental.match_rows): featurized, paired against the driver
copy, scored and ranked in this process, and its ranked rows are the
reply as they are. That is no Spark job and no Python worker. The
in-driver steps hold the GIL: a warm single match spends about 4 ms
featurizing, 8 ms scoring and 6 ms ranking (12,000-base index, 4
cores). A match whose blocks hold more than
incremental._LOCAL_SCORE_MAX_PAIRS candidate pairs (a hot block), or
into a version past the driver copy's budget, is scored by the Spark
tail instead, which reads the pinned index tables without shuffling
them. A larger body takes match_records, one Python pass for
its features and one for the scorer, with the pinned index tables
streamed into broadcast joins against the request's rows. /metrics
counts the matches each path answered. An append body is normalized
and featurized in the driver too (incremental.append_rows), and every
write is decided in the driver from lookups sized by the write: an
append of new contents is 4 jobs and no Python worker, a remove 5 (7
when it promotes a surviving record, whose features take one Python
pass). Bulk dedup is the offline pipeline (amp.pipeline), not a
request.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pandas as pd
from pyspark.sql import SparkSession

from . import io as amp_io
from .incremental import (MatchIndex, append_rows, match_records, match_rows,
                          remove_records)

# the repo_files columns, in order
REQUIRED_FIELDS = ("repo", "path", "commit", "lang", "content")

# Match bodies of at most this many records are matched in the driver
# (match_rows: featurized, scored and ranked in-process; 2 Spark jobs
# when measured, none since the index version keeps a driver copy);
# larger ones take match_records, whose Python worker passes for the
# features and the scorer cost a fixed ~0.1 s each (a warm 4-task
# mapInPandas job: 0.18 s, against 0.07 s for the same job without
# Python) but spread the work over the executor cores. Measured
# crossover, 4 cores, 12,000-base index, 3 interleaved reps per path
# (s, in rep order):
#   rows                    100               300               1,000
#   match  in-driver  0.32 0.28 0.28  0.49 0.49 0.53  0.94 1.09 0.83
#   match  DataFrame  0.95 0.67 0.75  0.87 0.82 0.78  1.16 1.08 0.83
# The bound is the largest measured size at and below which the driver
# won every rep: it lost the second rep at 1,000 rows.
# Append bodies do not use it: they always take append_rows. The pairs
# a body scores in the driver have their own measured bound,
# incremental._LOCAL_SCORE_MAX_PAIRS.
_LOCAL_FEATURIZE_MAX_ROWS = 300


def _request_rows(records: list) -> list[tuple]:
    """The repo_files rows of a JSON record list, validated: each record
    an object with every REQUIRED_FIELDS key, each value a string (lang
    may be null). One check for /match (single and batch) and
    /index/append, so the endpoints cannot drift; a violation is a
    ValueError naming the field (an HTTP 400)."""
    rows = []
    for r in records:
        if not isinstance(r, dict):
            raise ValueError("each record must be a JSON object")
        missing = [f for f in REQUIRED_FIELDS if f not in r]
        if missing:
            raise ValueError(f"missing fields: {missing}")
        for f in REQUIRED_FIELDS:
            if not isinstance(r[f], str) and not (f == "lang" and r[f] is None):
                kind = "a string or null" if f == "lang" else "a string"
                raise ValueError(f"field {f!r} must be {kind}")
        rows.append(tuple(r[f] for f in REQUIRED_FIELDS))
    return rows


def _whole_clusters(clusters, limit: int) -> list[dict]:
    """The first ``limit`` rows of a (record_id, cluster_id) table in
    (cluster_id, record_id) order, less the cluster that the cut splits:
    a reply holds whole clusters only, so it can be shorter than
    ``limit`` (empty when the first cluster alone is larger). One row
    past the cut is read to tell whether the last cluster goes on."""
    rows = amp_io.results_json(
        clusters.orderBy("cluster_id", "record_id"), limit=limit + 1
    )
    if len(rows) > limit:
        split = rows[limit]["cluster_id"]
        rows = [r for r in rows[:limit] if r["cluster_id"] != split]
    return rows


def _index_gauges(index: MatchIndex) -> dict[str, int]:
    """/metrics gauges of the live index version: its record count and
    the size of its driver copy (rows and estimated bytes, 0 without
    one)."""
    copy = index.driver_copy
    return {
        "index_records": index.n_records,
        "driver_copy_rows": copy.rows.num_rows if copy is not None else 0,
        "driver_copy_bytes": copy.nbytes if copy is not None else 0,
    }


class MatchService:
    """Transport-independent handlers (tested directly; HTTP below)."""

    def __init__(self, spark: SparkSession, index: MatchIndex):
        self.spark = spark
        self.index = index
        self._run_seq = 0
        self._lock = threading.Lock()
        self._dup_df = None  # pinned clusters DataFrame, computed once
        # separate COMPUTATION lock: the pipeline run takes seconds and
        # must not serialize _next_run_id/match requests behind it; it
        # exists so concurrent /duplicates callers run the pipeline once,
        # not once each (double-checked inside the lock)
        self._dup_compute_lock = threading.Lock()
        # appends are serialized against each other (each builds on the
        # current index); matches/duplicates are NOT blocked — they keep
        # reading the old index reference until the atomic swap
        self._append_lock = threading.Lock()
        # request counters surfaced by /metrics (reference middleware
        # analog, pkg/api/middleware.go:41-48)
        self.metrics: dict[str, int] = {
            "match_requests": 0,
            "duplicates_requests": 0,
            "append_requests": 0,
            "remove_requests": 0,
            "errors": 0,
            # which path answered each match: the driver (match_rows'
            # copy lookup) or Spark (its tail, or match_records)
            "matches_in_driver": 0,
            "matches_in_spark": 0,
            **_index_gauges(index),
        }

    def _next_run_id(self) -> int:
        with self._lock:
            self._run_seq += 1
            return self._run_seq

    def match_single(self, record: dict, top_n: int = 5) -> list[dict]:
        """POST /api/v1/match with one JSON record
        (pkg/api/handler.go:54-102 shape)."""
        if not isinstance(record, dict):
            raise ValueError("record must be a JSON object")
        return self._match(_request_rows([record]), top_n)

    def _files_df(self, rows: list[tuple]):
        """The 5-column files DataFrame of validated request rows, spread
        over the executor cores. Built from pandas (an Arrow relation),
        not from the list: a DataFrame of a Python list is computed by
        a Python worker pool of its own, which nothing else on the
        request paths keeps warm, so it would start cold."""
        return self.spark.createDataFrame(
            pd.DataFrame(rows, columns=REQUIRED_FIELDS),
            "repo string, path string, commit string, lang string, content string",
        ).repartition(self.spark.sparkContext.defaultParallelism)

    def match_batch(self, records: list[dict], top_n: int = 5) -> list[dict]:
        """POST /api/v1/match with a JSON list (the reference's CSV
        batch path, pkg/api/handler.go:104-163)."""
        return self._match(_request_rows(records), top_n)

    def _match(self, rows: list[tuple], top_n: int) -> list[dict]:
        """Validated rows -> matches: featurized in the driver up to the
        row bound, through a files DataFrame above it. The whole answer
        is returned: at most rows x top_n, and the rows are bounded by
        the body cap."""
        run_id = self._next_run_id()
        if len(rows) <= _LOCAL_FEATURIZE_MAX_ROWS:
            out = match_rows(self.index, rows, run_id=run_id, top_n=top_n)
        else:
            out = match_records(
                self.index, self._files_df(rows), run_id=run_id, top_n=top_n
            )
        in_driver = isinstance(out, pd.DataFrame)
        with self._lock:
            self.metrics["matches_in_driver" if in_driver else "matches_in_spark"] += 1
        # a driver answer is read as Python values: the rows, key order
        # and value types results_json gives for a relation
        return out.to_dict("records") if in_driver else amp_io.results_json(out)

    def append(self, records: list[dict], policy: str = "frozen") -> dict:
        """POST /api/v1/index/append: extend the live index with new
        records WITHOUT a rebuild (the reference's periodic S3 resync,
        cmd/addressmatchpro/main.go:73-90, truncates + reloads; here the
        run-0 extension is incremental via amp.incremental.append_rows,
        with its frozen-vs-refresh IDF policy). The rows are normalized
        and featurized in the driver at any body size: up to 300 rows
        that takes 0.4-0.7x the time of append_records' Python passes, and
        at the 8 MB body cap (4,000 rows) 1.4-1.6x their time (ROADMAP).

        Concurrency contract: appends serialize on ``_append_lock``;
        in-flight match/duplicates requests keep the index reference they
        already read (its DataFrames stay valid — localCheckpointed), and
        the new index is swapped in atomically under ``_lock``. The
        pinned duplicates cache is invalidated on swap (the cluster table
        no longer reflects the index), so the next /duplicates call
        recomputes over the extended index."""
        if not records:
            raise ValueError("append: empty record list")
        if self.index.uses_provided_embeddings:
            # the embeddings table is keyed by record_id, which is only
            # assigned during normalize — a JSON body can't carry it;
            # provided-embedding indexes append via the library API
            raise ValueError(
                "append over HTTP is not supported for provided-embedding "
                "indexes; use amp.incremental.append_records directly"
            )
        rows = _request_rows(records)
        with self._append_lock:
            new_index = append_rows(self.index, rows, policy=policy)
            self._swap(new_index, "append_requests")
        return {"appended": len(records), "index_records": new_index.n_records}

    def remove(self, record_ids: list[str], policy: str = "frozen") -> dict:
        """POST /api/v1/index/remove: drop records from the live index
        without a rebuild (amp.incremental.remove_records — exact
        removal with representative repair; the reference's only
        removal path is the resync truncate+reload). Same concurrency
        contract as ``append``: index mutations serialize on
        ``_append_lock``, the new index swaps in atomically, and the
        pinned duplicates cache is invalidated on swap."""
        if not record_ids:
            raise ValueError("remove: empty record_ids list")
        if not all(isinstance(r, str) for r in record_ids):
            raise ValueError("remove: record_ids must be strings")
        if self.index.uses_provided_embeddings:
            # a representative swap would need the promoted record's
            # vector, which a JSON id list can't carry
            raise ValueError(
                "remove over HTTP is not supported for provided-embedding "
                "indexes; use amp.incremental.remove_records directly"
            )
        with self._append_lock:
            new_index = remove_records(self.index, record_ids, policy=policy)
            self._swap(new_index, "remove_requests")
        return {"removed": len(set(record_ids)),
                "index_records": new_index.n_records}

    def _swap(self, new_index: MatchIndex, counter: str) -> None:
        """Install the next index version (caller holds ``_append_lock``)
        and invalidate the pinned duplicates cache. A retired IDF
        broadcast is unpersisted, never destroyed: in-flight requests on
        the old version re-fetch it from the driver."""
        with self._lock:
            old_index, self.index = self.index, new_index
            self.metrics[counter] += 1
            self.metrics.update(_index_gauges(new_index))
            old_dup, self._dup_df = self._dup_df, None
        if old_dup is not None:
            old_dup.unpersist()
        if old_index.idf_b is not new_index.idf_b:
            old_index.idf_b.unpersist()

    def duplicates(self, limit: int = 1000, refresh: bool = False) -> list[dict]:
        """POST /api/v1/duplicates: cluster the index's own records
        (reference self-match semantics, pkg/api/handler.go:82-102 —
        extended to transitive clusters per the north rule).

        The index changes only through ``append`` (which invalidates
        the cache on swap), so the clustering is computed ONCE per
        index version (full blocking+scoring+CC pipeline,
        request-scoped like the reference's endpoint) and MATERIALIZED
        as a pinned DataFrame; every call collects at most ``limit``
        rows from it: whole clusters in (cluster_id, record_id) order,
        less the cluster the limit would split (_whole_clusters) —
        interactive latency without re-running the pipeline per
        unauthenticated request, and without ever collecting the full
        cluster table to the driver (one row per index record — GBs on
        a large index). ``refresh=True`` forces a
        recompute (e.g. after swapping ``self.index``) — reachable over
        HTTP via ``{"refresh": true}`` in the POST body; the previous
        pinned DataFrame is unpersisted (no cache leak across
        refreshes), and the pipeline run is guarded by a computation
        lock so concurrent callers share one run instead of racing
        duplicate pipelines. Cache hits check BEFORE that lock: while a
        refresh run is in flight, plain requests keep serving the
        still-valid old pin instead of going dark for the run's
        duration."""
        if not refresh:
            with self._lock:
                df = self._dup_df
            if df is not None:
                return _whole_clusters(df, limit)
        with self._dup_compute_lock:
            with self._lock:
                df = None if refresh else self._dup_df
            if df is None:
                from .pipeline import run_pipeline

                # pin the index reference for the whole compute: an
                # append may swap self.index mid-run, and the result
                # must then NOT be cached (it describes the old index)
                idx = self.index
                out = run_pipeline(
                    self.spark,
                    # records were normalized already; rebuild from raw shape
                    # is not needed — cluster the representatives' match graph
                    self._index_files_view(idx),
                    idx.cfg,
                )
                # persist (not localCheckpoint): materialized once via
                # count(), and unpersist() genuinely frees the old pin
                # when a refresh swaps it out
                df = out["clusters"].persist()
                df.count()
                # dropped-block counter (never drop silently): piggyback
                # on the compute pass, surfaced via /metrics
                from . import blocking as _blocking
                from pyspark.sql import functions as F

                n_dropped = (
                    _blocking.dropped_blocks(out["block_stats"], idx.cfg)
                    .count()
                )
                cached = False
                with self._lock:
                    if self.index is idx:
                        old, self._dup_df = self._dup_df, df
                        cached = True
                        self.metrics["dropped_blocks"] = int(n_dropped)
                    else:
                        old = None
                if old is not None and old is not df:
                    old.unpersist()
                if not cached:
                    # index swapped mid-compute (append): serve this
                    # response, leave the cache invalidated, and free
                    # the stale pin once its rows are collected
                    rows = _whole_clusters(df, limit)
                    df.unpersist()
                    return rows
        return _whole_clusters(df, limit)

    def _index_files_view(self, index: MatchIndex | None = None):
        # records table carries the original (repo, path, commit, lang)
        # plus norm_text; reconstruct the pipeline input contract from
        # the stored records (content == norm_text is acceptable for
        # self-dedup: ids and clustering keys derive from it identically)
        from pyspark.sql import functions as F

        return (index or self.index).records.select(
            "repo", "path", "commit", "lang", F.col("norm_text").alias("content")
        )


def make_handler(service: MatchService):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test output
            pass

        def _send(self, code: int, payload) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path == "/healthz":
                self._send(200, {"status": "ok"})
            elif self.path == "/metrics":
                # request counters — the reference's timing middleware
                # analog, wired
                with service._lock:
                    counters = dict(service.metrics)
                self._send(200, {"counters": counters})
            else:
                self._send(404, {"error": "not found"})

        # request bodies are match records (a few KB each); anything
        # beyond this is a mistake or abuse — reject before reading it
        # into driver memory (the server is single-threaded and bound to
        # 127.0.0.1, but an unbounded read is still an OOM lever)
        MAX_BODY_BYTES = 8 * 1024 * 1024

        def _fail(self, code: int, error: str) -> None:
            """A client or server error reply, counted in ``errors``."""
            with service._lock:
                service.metrics["errors"] += 1
            self._send(code, {"error": error})

        def do_POST(self):
            try:
                n = int(self.headers.get("Content-Length", "0"))
            except ValueError:
                n = -1
            if n < 0:
                # rfile.read(-1) would block this pool worker until the
                # client hangs up: answer without reading the body
                self._fail(400, "Content-Length must be a non-negative integer")
                return
            if n > self.MAX_BODY_BYTES:
                self._fail(413, f"body too large ({n} bytes; cap "
                                f"{self.MAX_BODY_BYTES})")
                return
            try:
                payload = json.loads(self.rfile.read(n) or b"{}")
            except json.JSONDecodeError:
                self._fail(400, "invalid json")
                return
            try:
                if self.path == "/api/v1/match":
                    with service._lock:
                        service.metrics["match_requests"] += 1
                    if isinstance(payload, list):
                        self._send(200, {"matches": service.match_batch(payload)})
                    else:
                        self._send(200, {"matches": service.match_single(payload)})
                elif self.path == "/api/v1/duplicates":
                    with service._lock:
                        service.metrics["duplicates_requests"] += 1
                    # body options: {"limit": N, "refresh": true} — refresh
                    # is how an operator invalidates the pinned cluster
                    # table after swapping the service's index. Both are
                    # checked before any compute: a bad one is a 400, not
                    # a pipeline run and then a 500
                    opts = payload if isinstance(payload, dict) else {}
                    try:
                        limit = int(opts.get("limit", 1000))
                    except (TypeError, ValueError, OverflowError):
                        limit = -1
                    if limit < 0:
                        raise ValueError("limit must be a non-negative integer")
                    refresh = opts.get("refresh", False)
                    if not isinstance(refresh, bool):
                        raise ValueError("refresh must be a boolean")
                    self._send(
                        200,
                        {"clusters": service.duplicates(limit=limit, refresh=refresh)},
                    )
                elif self.path == "/api/v1/index/append":
                    # body: {"records": [...], "policy": "frozen"|"refresh"}
                    # or a bare JSON list of records (frozen policy)
                    if isinstance(payload, list):
                        records, policy = payload, "frozen"
                    elif isinstance(payload, dict):
                        records = payload.get("records")
                        policy = payload.get("policy", "frozen")
                    else:
                        raise ValueError("append body must be a list or object")
                    if not isinstance(records, list):
                        raise ValueError('append body needs a "records" list')
                    self._send(200, service.append(records, policy=policy))
                elif self.path == "/api/v1/index/remove":
                    # body: {"record_ids": [...], "policy": "frozen"|"refresh"}
                    # or a bare JSON list of record ids (frozen policy)
                    if isinstance(payload, list):
                        rec_ids, policy = payload, "frozen"
                    elif isinstance(payload, dict):
                        rec_ids = payload.get("record_ids")
                        policy = payload.get("policy", "frozen")
                    else:
                        raise ValueError("remove body must be a list or object")
                    if not isinstance(rec_ids, list):
                        raise ValueError('remove body needs a "record_ids" list')
                    self._send(200, service.remove(rec_ids, policy=policy))
                else:
                    self._send(404, {"error": "not found"})
            except ValueError as e:
                self._fail(400, str(e))
            except Exception as e:  # noqa: BLE001 — a failed Spark job
                # must come back as a 500 body, not a dropped socket
                self._fail(500, f"{type(e).__name__}: {e}")

    return Handler


class PooledHTTPServer(HTTPServer):
    """Concurrent front door with a BOUNDED worker pool: each request is
    handled on a pool thread (stdlib ThreadingHTTPServer spawns one
    unbounded thread per connection — a trivial resource-exhaustion
    lever). Spark drivers are thread-safe for concurrent job submission,
    so parallel match requests genuinely overlap.

    Workers are DAEMON threads (not concurrent.futures, whose non-daemon
    threads are joined at interpreter shutdown — a request stuck in a
    hung Spark job would then block process exit forever; the old
    single-threaded server ran handlers on the daemon accept thread and
    never had that problem). The hand-off queue is bounded: when all
    workers are busy and the buffer is full, the accept loop blocks and
    connections back-pressure into the kernel listen backlog instead of
    accumulating without limit in driver memory."""

    def __init__(self, addr, handler_cls, max_workers: int = 8):
        import queue

        super().__init__(addr, handler_cls)
        self._closing = False
        # serializes the closing-flag check-then-enqueue in
        # process_request against server_close's set-then-drain: without
        # it a request could pass the check, lose the CPU, and enqueue
        # AFTER the drain — stranded behind the sentinels forever
        self._close_lock = threading.Lock()
        self._q: "queue.Queue" = queue.Queue(maxsize=2 * max_workers)
        self._workers = [
            threading.Thread(
                target=self._worker_loop, name=f"amp-http-{i}", daemon=True
            )
            for i in range(max_workers)
        ]
        for t in self._workers:
            t.start()

    def process_request(self, request, client_address):
        # the put may block on a full queue while holding the lock;
        # that cannot deadlock server_close: workers keep draining until
        # they see a sentinel, and sentinels are only enqueued after
        # server_close acquires this lock
        with self._close_lock:
            if not self._closing:
                self._q.put((request, client_address))
                return
        self.shutdown_request(request)

    def _worker_loop(self):
        while True:
            item = self._q.get()
            if item is None or self._closing:
                # drop a socket raced in after close began: shut it
                # down rather than serving past server_close (ADVICE r4)
                if item is not None:
                    self.shutdown_request(item[0])
                    continue
                return
            request, client_address = item
            try:
                self.finish_request(request, client_address)
            except Exception:  # noqa: BLE001 — per-connection failure only
                self.handle_error(request, client_address)
            finally:
                self.shutdown_request(request)

    def server_close(self):
        import queue

        super().server_close()
        # ADVICE r4: drain still-queued sockets FIRST (a dead worker
        # would otherwise strand them behind the sentinels — fd leak),
        # shut each down, then unblock every worker with a sentinel.
        # The close lock makes flag-set + drain atomic against
        # process_request's check-then-enqueue.
        with self._close_lock:
            self._closing = True
            while True:
                try:
                    item = self._q.get_nowait()
                except queue.Empty:
                    break
                if item is not None:
                    self.shutdown_request(item[0])
        for _ in self._workers:
            self._q.put(None)


def serve(service: MatchService, port: int = 0, max_workers: int = 8) -> HTTPServer:
    """Start the HTTP front door on a daemon thread; returns the server
    (server.server_address[1] is the bound port; port=0 picks a free
    one). Call .shutdown() to stop. Requests are served concurrently by
    a bounded pool of ``max_workers`` threads."""
    httpd = PooledHTTPServer(("127.0.0.1", port), make_handler(service), max_workers)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    return httpd
