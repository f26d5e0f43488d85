"""spark-amp benchmark: one command per workload, from the checkout root.

    python3 perfbench/run.py --workload er_3k --seed 42 --seconds 5 --trace 0
    python3 perfbench/run.py --compare before.out after.out

Workloads (perfbench/NOTES.md says why each exists):

* ``er_3k`` - ``run_pipeline`` over the ``amp.datagen`` corpus at
  3,000 bases (4,210 records) to a materialised cluster table.
* ``serve_mixed`` - the ``amp.serve`` HTTP front door over an index
  built from the corpus at 12,000 bases (16,837 records); one
  closed-loop client sends a request script whose cycle is 4 single
  matches, one 30-record batch match and one append-then-remove of a
  16-record batch.
* ``headline_sf0.1`` - ``run_pipeline`` at 12,000 bases plus the 18
  operator queries of ``bench.py`` over the sf0.1 tables in ``--sf-dir``
  (noop sink).
* ``er_sf1`` - ``run_pipeline`` at 120,000 bases (168,364 records).

``BENCHMARK.json`` lists the first two; the last two run by hand.

A batch workload times one pass, the first in a fresh process, as a
batch job runs. ``serve_mixed`` times whole cycles of its request script
until ``--seconds`` have passed. With ``--trace 0`` the last stdout line
carries the end-to-end metrics, timed with tracing off. ``--trace 1``
traces that same pass or window and prints the per-layer metrics instead.
The line before the result holds the details: every per-workload figure
with its unit, the correctness checks and the run's stamp.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# n_base -> (records, clusters, pairs) at seed 42. amp.datagen's layout
# depends on the base index only, so the record count holds at every
# seed; clusters and pairs are seed-specific
EXPECTED = {3_000: (4_210, 3_111, 3_842), 12_000: (16_837, 12_438, 22_490),
            120_000: (168_364, 124_366, 354_730)}
QUERIES = (
    "block_pairs_multipass", "tfidf_postings", "pair_tfidf_dot", "rank_window",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine", "dedup_embedding_lsh",
    "ann_bruteforce_topk", "ann_ivf_topk", "match_provided_embedding_topk", "text_quality",
    "text_fingerprints", "agg_lineitem", "join_orders_customer", "star_shipping_priority",
    "star_local_supplier_volume", "window_events_topk",
)
ER_SPANS = (
    "normalize.normalize", "normalize.reps", "features.idf", "scoring.sides",
    "blocking.pairs", "scoring.score", "rank.edges", "cluster.cc",
)
SERVE_KINDS = ("match", "batch", "append", "remove")
UNITS = {"wall_s": "s", "exec_s": "s", "gap_s": "s", "jobs": "count", "rows": "count",
         "shuffle_mb": "MB", "spill_mb": "MB", "task_failures": "count"}


class Run:
    """One benchmark process: session, counters, checks and results."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, object] = {}
        self.failed_checks: list[str] = []
        self.details: dict[str, object] = {}
        self.tracer = None
        self.fixture = "none"

    def check(self, name: str, ok: bool, value=None) -> bool:
        self.checks[name] = ok if value is None else value
        if not ok:
            self.failed_checks.append(name)
        return ok

    # -- session ---------------------------------------------------------
    def start_spark(self, n_records: int):
        from amp.session import get_spark, shuffle_partitions_for

        self.nproc = len(os.sched_getaffinity(0))
        conf = {
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            self.event_dir = os.path.join(WORK, "eventlog", f"{os.getpid()}-{time.time_ns()}")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=self.nproc,
                          shuffle_partitions=shuffle_partitions_for(self.nproc, n_records),
                          extra_conf=conf)
        if self.trace:
            from spans import Tracer

            self.tracer = Tracer(spark)
            self.tracer.install()
            self.tracer.set_phase("setup")
        spark.range(1).count()
        self.session_s = time.perf_counter() - t0
        self.spark = spark
        return spark

    def phase(self, name: str) -> None:
        if self.tracer is not None:
            self.tracer.set_phase(name)

    def stamp(self) -> dict:
        import pyspark

        from measure import source_revision

        jvm = self.spark.sparkContext._jvm
        return {
            "workload": self.args.workload,
            "nproc": self.nproc,
            "pyspark": pyspark.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "revision": source_revision(ROOT),
            "seed": self.seed,
            "fixture": self.fixture,
        }

    def finish_trace(self) -> dict:
        """Stop the session and attribute the event log to the spans."""
        from spans import attribute, read_event_log

        self.tracer.uninstall()
        self.spark.stop()
        (log,) = os.listdir(self.event_dir)
        return attribute(read_event_log(os.path.join(self.event_dir, log)), self.tracer.spans)


def corpus(run: Run, n_base: int) -> tuple[str, str]:
    """Corpus paths; generating them is the benchmark's work, so it runs
    before the session and outside ``setup_s``."""
    from inputs import ensure_corpus

    t0 = time.perf_counter()
    paths = ensure_corpus(WORK, n_base, run.seed, workers=len(os.sched_getaffinity(0)))
    run.details["inputs_s"] = (time.perf_counter() - t0, "s")
    return paths


# ---------------------------------------------------------------------------
# batch ER (+ operator queries)
# ---------------------------------------------------------------------------

def batch(run: Run, n_base: int, sf_dir: str | None):
    from amp.cluster import pairwise_f1
    from amp.pipeline import run_pipeline

    files, labels = corpus(run, n_base)
    n_records, n_clusters, n_pairs = EXPECTED[n_base]
    spark = run.start_spark(n_records)
    queries = {}
    if sf_dir:
        import __spark_entry__ as entry

        from inputs import content_hash

        run.fixture = content_hash(sf_dir)
        queries = {n: entry.queries()[n] for n in QUERIES}
    span = run.tracer.span if run.tracer else (lambda name, fn, opaque=False: fn())

    def er_op():
        out = run_pipeline(spark, spark.read.parquet(files))
        out["clusters"].write.format("noop").mode("overwrite").save()
        return out

    # one pass, the first in the process, as a batch job runs. In the
    # traced run that pass is the traced one, so the layers split the same
    # cold pass that op_p50_ms times in an untraced run
    run.phase("traced" if run.trace else "untraced")
    t0 = time.perf_counter()
    out = span("pipeline.run", er_op)
    er = time.perf_counter() - t0
    q_s = {}
    for name, q in queries.items():
        t = time.perf_counter()
        span(f"q.{name}", lambda q=q: q(spark, sf_dir).write.format("noop").mode("overwrite").save(),
             opaque=True)
        q_s[name] = time.perf_counter() - t
    run.phase("checks")

    # -- correctness, outside the timed region --------------------------------
    # the record count holds at every seed; cluster and pair counts are
    # the recorded ones at seed 42
    counts = (out["metrics"].get("n_records"), out["metrics"].get("n_clusters"), out["scored"].count())
    want = (n_records, n_clusters, n_pairs) if run.seed == 42 else (n_records,) + counts[1:]
    run.check("er.records", counts[0] == want[0], counts[0])
    run.check("er.clusters", counts[1] == want[1], counts[1])
    run.check("er.pairs", counts[2] == want[2], counts[2])
    # 1.000 to three places, as the pipeline gate reads it (er_sf1 scores 0.99999)
    f1 = pairwise_f1(out["clusters"], spark.read.parquet(labels))["f1"]
    run.check("er.pairwise_f1", round(f1, 3) == 1.0, f1)
    bad_queries = check_queries(run, spark, queries, sf_dir) if queries else 0
    run.attempted = 1 + len(queries)
    run.failed = int(counts != want or round(f1, 3) != 1.0) + bad_queries

    run.details["er_wall_s"] = (er, "s")
    e2e = {"setup_s": (run.session_s, "s"), "op_p50_ms": (er * 1e3, "ms"),
           "ops_per_s": (n_records / er, "1/s")}
    if queries:
        run.details["queries_wall_s"] = (sum(q_s.values()), "s")
        for name in QUERIES:
            run.details[f"query.{name}_s"] = (q_s[name], "s")
    return e2e


def check_queries(run: Run, spark, queries: dict, sf_dir: str) -> int:
    """Hash every query result against the value recorded from the seed
    commit over the same tables, in the oracle check's canonical form;
    returns the number that differ."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from check_oracles import value_hash

    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    run.check("q.fixture", run.fixture == expected["fixture"], run.fixture)
    bad = 0
    for name, q in queries.items():
        df = q(spark, sf_dir)
        got = value_hash(df.columns, [tuple(r) for r in df.collect()])
        if not run.check(f"q.{name}.hash", got == expected["queries"][name], got):
            bad += 1
    return bad


# ---------------------------------------------------------------------------
# serve_mixed
# ---------------------------------------------------------------------------

class Script:
    """The client's request script. The client takes the next operation
    only while the window is open or the current cycle is unfinished, so
    every window holds whole cycles of the mix. Requests are generated
    before the window opens."""

    def __init__(self, ops, seconds: float):
        from inputs import CYCLE

        self.ops = ops
        self.cycle = len(CYCLE)
        self.seconds = seconds
        self.ready: collections.deque = collections.deque()
        self.deadline = 0.0
        self.taken = 0

    def open_window(self, cycles: int = 2) -> None:
        while len(self.ready) < cycles * self.cycle:
            self.ready.append(next(self.ops))
        self.deadline = time.perf_counter() + self.seconds
        self.taken = 0

    def next(self):
        if self.taken % self.cycle == 0 and time.perf_counter() >= self.deadline:
            return None
        self.taken += 1
        return self.ready.popleft() if self.ready else next(self.ops)


class Client:
    """Closed-loop HTTP client: sends its next request only after the
    previous reply."""

    def __init__(self, port: int):
        import http.client

        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def post(self, path: str, payload) -> tuple[int, dict, float]:
        body = json.dumps(payload)
        t0 = time.perf_counter()
        self.conn.request("POST", path, body, {"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        data = json.loads(resp.read() or b"{}")
        return resp.status, data, time.perf_counter() - t0

    def run_op(self, op: dict) -> list[dict]:
        from inputs import record_id

        if op["op"] != "append_remove":
            payload = op["records"][0] if op["op"] == "match" else op["records"]
            st, data, dt = self.post("/api/v1/match", payload)
            return [{"kind": op["op"], "status": st, "data": data, "s": dt, "op": op}]
        st, data, dt = self.post("/api/v1/index/append", op["records"])
        res = [{"kind": "append", "status": st, "data": data, "s": dt, "op": op}]
        ids = [record_id(r["repo"], r["path"], r["commit"]) for r in op["records"]]
        st, data, dt = self.post("/api/v1/index/remove", ids)
        res.append({"kind": "remove", "status": st, "data": data, "s": dt, "op": op})
        return res


def serve_window(client: Client, script: Script) -> tuple[list[dict], float]:
    out: list[dict] = []
    script.open_window()
    t0 = time.perf_counter()
    while (op := script.next()) is not None:
        out.extend(client.run_op(op))
    return out, time.perf_counter() - t0


def check_serve(results: list[dict], base_count: int, threshold: float) -> int:
    """Failed requests in ``results``: an HTTP error, a planted query
    whose best candidate scores below the threshold, a fresh one with a
    candidate above it, or a remove that does not restore the index size."""
    from inputs import record_id

    failed = 0
    for r in results:
        ok = r["status"] == 200
        if ok and r["kind"] in ("match", "batch"):
            best: dict[str, float] = {}
            for m in r["data"]["matches"]:
                best[m["query_id"]] = max(best.get(m["query_id"], 0.0), m["score"])
            for rec, is_planted in zip(r["op"]["records"], r["op"]["planted"]):
                top = best.get(record_id(rec["repo"], rec["path"], rec["commit"]), 0.0)
                ok &= (top >= threshold) if is_planted else (top < threshold)
        elif ok and r["kind"] == "remove":
            ok = r["data"].get("index_records") == base_count
        failed += not ok
    return failed


def serve_mixed(run: Run):
    from amp.incremental import build_index
    from amp.serve import MatchService, serve

    from inputs import serve_ops

    n_base = 12_000
    files, _ = corpus(run, n_base)
    spark = run.start_spark(EXPECTED[n_base][0])
    t0 = time.perf_counter()
    index = build_index(spark.read.parquet(files))
    base_count = index.records.count()
    run.details["build_index_s"] = (time.perf_counter() - t0, "s")
    service = MatchService(spark, index)
    httpd = serve(service, port=0, max_workers=1)
    threshold = index.cfg.score_threshold
    client = Client(httpd.server_address[1])
    script = Script(serve_ops(run.seed, n_base), run.args.seconds)
    setup_s = run.session_s + time.perf_counter() - t0
    try:
        run.phase("traced" if run.trace else "untraced")
        results, wall = serve_window(client, script)
        run.phase("checks")
        final_count = service.index.records.count()
    finally:
        httpd.shutdown()
        httpd.server_close()
        client.conn.close()

    # -- correctness, outside the timed region --------------------------------
    failed = check_serve(results, base_count, threshold)
    run.check("serve.failed_requests", failed == 0, failed)
    run.check("serve.base_count", base_count == EXPECTED[n_base][0], base_count)
    run.check("serve.index_restored", final_count == base_count, final_count)
    run.attempted = len(results)
    run.failed = failed + (final_count != base_count)

    from measure import tail

    lat = {k: [r["s"] for r in results if r["kind"] == k] for k in SERVE_KINDS}
    p, t = tail(lat["match"])
    for k in SERVE_KINDS:
        run.details[f"{k}_p50_ms"] = (statistics.median(lat[k]) * 1e3, "ms")
        run.details[f"{k}_requests"] = (len(lat[k]), "count")
    if t is not None:
        run.details["match_tail_ms"] = (t * 1e3, "ms")
        run.details["match_tail_percentile"] = (p, "%")
    run.details["serve_ops_per_s"] = (len(results) / wall, "1/s")
    e2e = {"setup_s": (setup_s, "s"),
           "op_p50_ms": (statistics.median(lat["match"]) * 1e3, "ms"),
           "ops_per_s": (len(results) / wall, "1/s")}
    return e2e


WORKLOADS = {
    "er_3k": lambda run: batch(run, 3_000, None),
    "serve_mixed": serve_mixed,
    "headline_sf0.1": lambda run: batch(run, 12_000, run.args.sf_dir),
    "er_sf1": lambda run: batch(run, 120_000, None),
}


def layer_metrics(attr: dict, workload: str) -> dict:
    """The per-layer metrics of BENCHMARK.json drawn from the event log
    (plus ``q.*`` on the headline). A layer the workload never reaches
    reads 0."""
    spans = attr["spans"]
    metrics = {}
    for name in ER_SPANS:
        vals = spans.get(name, {})
        for k, unit in UNITS.items():
            metrics[f"{name}.{k}"] = (vals.get(k, 0.0), unit)
    pairs = spans.get("blocking.pairs", {}).get("rows", 0.0)
    edges = spans.get("rank.edges", {}).get("rows", 0.0)
    metrics["blocking.pair_yield"] = (edges / pairs if pairs else 0.0, "ratio")
    # a request's numbers include the layer calls nested in it
    for kind in SERVE_KINDS:
        vals = spans.get(f"serve.{kind}", {})
        metrics[f"serve.{kind}.jobs"] = (vals.get("jobs_incl", 0.0), "count")
        metrics[f"serve.{kind}.exec_s"] = (vals.get("exec_s_incl", 0.0), "s")
        metrics[f"serve.{kind}.gap_s"] = (vals.get("gap_s", 0.0), "s")
        metrics[f"serve.{kind}.shuffle_mb"] = (vals.get("shuffle_mb_incl", 0.0), "MB")
    if workload == "headline_sf0.1":
        for name in QUERIES:
            vals = spans.get(f"q.{name}", {})
            metrics[f"q.{name}.wall_s"] = (vals.get("wall_s", 0.0), "s")
            metrics[f"q.{name}.exec_s"] = (vals.get("exec_s", 0.0), "s")
    setup = attr["phases"].get("setup", {})
    metrics["setup.exec_s"] = (setup.get("exec_s", 0.0), "s")
    metrics["setup.jobs"] = (setup.get("jobs", 0.0), "count")
    metrics["unattributed_jobs"] = (attr["unattributed_jobs"], "count")
    return metrics


def stop_processes() -> None:
    """Stop the Spark session and its JVM, and wait until every process
    the run started has ended. Left alone, the JVM outlives the driver by
    seconds (it exits on EOF from the driver), and a later run could meet
    it."""
    from pyspark import SparkContext

    from measure import descendants, wait_gone

    procs = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    wait_gone(procs, timeout_s=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="sf0.1 tables for the headline_sf0.1 queries")
    ap.add_argument("--compare", nargs=2, metavar="OUTPUT")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.compare:
        return compare(*args.compare)
    if not args.workload:
        ap.error("--workload is required")
    if args.workload == "headline_sf0.1" and not args.sf_dir:
        ap.error("headline_sf0.1 needs --sf-dir")

    # the program's own modules must be importable; a tree holding only
    # the benchmark fails here, before any result is printed
    import amp.pipeline  # noqa: F401

    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from measure import RssSampler

    # a SIGTERM leaves through the ``finally`` below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args)
    try:
        with RssSampler() as rss:
            e2e = WORKLOADS[args.workload](run)
            stamp = run.stamp()
            if run.trace:
                attr = run.finish_trace()
                chosen = layer_metrics(attr, args.workload)
                # op_p50_ms as the traced run reads it: minus op_p50_ms of
                # an untraced run at the same seed, it is the overhead
                chosen["trace.op_p50_ms"] = e2e["op_p50_ms"]
                run.check("trace.unattributed_jobs", attr["unattributed_jobs"] == 0,
                          attr["unattributed_jobs"])
                run.check("trace.exec_reconciles",
                          abs(attr["attributed_exec_s"] - attr["total_exec_s"])
                          <= 1e-6 * (1 + attr["total_exec_s"]))
                run.details["spans"] = attr["spans"]
                run.details["phases"] = attr["phases"]
    finally:
        stop_processes()
    run.details["peak_rss_mb"] = (rss.peak_mb, "MB")
    run.details["session_s"] = (run.session_s, "s")
    if run.trace:
        chosen["peak_rss_mb"] = run.details["peak_rss_mb"]
    else:
        chosen = e2e
    run.details["fail_ratio"] = (run.failed / run.attempted, "ratio")
    correct = not run.failed_checks and run.failed == 0
    print(json.dumps({"stamp": stamp, "checks": run.checks, "failed_checks": run.failed_checks,
                      "details": run.details,
                      "traced_end_to_end" if run.trace else "end_to_end": e2e}, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


def compare(path_a: str, path_b: str) -> int:
    """Per-metric ratio b/a of two saved outputs; refuses results whose
    workload, seed, host, toolchain or fixture stamps differ."""
    from measure import comparable, load_result

    (da, ra), (db, rb) = load_result(path_a), load_result(path_b)
    diff = comparable(da["stamp"], db["stamp"])
    if diff:
        print(json.dumps({"refused": diff, "a": da["stamp"], "b": db["stamp"]}))
        return 3
    out = {k: rb["metrics"][k]["value"] / v["value"]
           for k, v in ra["metrics"].items() if k in rb["metrics"] and v["value"]}
    print(json.dumps({"workload": da["stamp"]["workload"], "ratio_b_over_a": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
