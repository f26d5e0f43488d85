"""Layer spans for the traced run, attributed from Spark's own event log.

``Tracer.install`` wraps the public functions that ``run_pipeline`` and
``MatchService`` call (module attributes, so the program's own call order
picks the wrappers up). A wrapper

* tags every Spark job it starts with a job group naming one span
  instance, set in the calling thread (so it survives the pipeline's
  ``ThreadPoolExecutor`` hop: the wrapper runs in the worker thread);
* in the traced phase, forces a returned DataFrame at span end, so the
  work a layer defines is paid inside its span;
* records the span's start and end on the driver clock.

Spans the benchmark opens itself (``Tracer.span``: one per query and
one around the pipeline run) do not force their result. Query spans are
opaque: layer functions a query calls stay inside the query's span.

Outside the traced phase the wrappers only tag jobs with the phase name
(``setup``, ``checks``), so set-up and check jobs never land on a
layer. ``attribute`` then joins the event log's job and task-end
records to the spans.
"""

from __future__ import annotations

import concurrent.futures
import functools
import itertools
import json
import threading
import time
from collections import defaultdict

GROUP = "spark.jobGroup.id"
# jobs started by the tracer itself (row counts of forced frames)
TRACE_GROUP = "trace.rows"

SPAN_FIELDS = ("wall_s", "exec_s", "gap_s", "jobs", "rows", "shuffle_mb", "spill_mb", "task_failures")
# the same totals over a span and every span nested in it (a serving
# request and the layer calls it makes)
INCL_FIELDS = ("exec_s_incl", "jobs_incl", "shuffle_mb_incl")


def layer_targets() -> dict[str, list[tuple[object, str]]]:
    """span name -> (owner, attribute) of every public function it wraps."""
    from amp import blocking, cluster, features, normalize, rank, scoring, serve

    return {
        "normalize.normalize": [(normalize, "normalize")],
        "normalize.reps": [
            (normalize, n) for n in (
                "uniqueness_stats", "representatives", "winner_ids",
                "representatives_from_winners", "exact_edges", "dedupe_full",
            )
        ],
        "features.idf": [(features, "idf_map")],
        "scoring.sides": [(scoring, "side_features_onepass")],
        "blocking.pairs": [
            (blocking, n) for n in (
                "all_blocks", "block_stats", "candidate_pairs", "minhash_blocks", "path_blocks",
            )
        ],
        "scoring.score": [(scoring, "score_pairs_onepass")],
        "rank.edges": [(rank, n) for n in ("threshold_edges", "top_k", "rank_candidates")],
        "cluster.cc": [(cluster, "connected_components")],
        "serve.match": [(serve.MatchService, "match_single")],
        "serve.batch": [(serve.MatchService, "match_batch")],
        "serve.append": [(serve.MatchService, "append")],
        "serve.remove": [(serve.MatchService, "remove")],
    }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.phase = "setup"
        self.spans: list[dict] = []  # {"id", "name", "parent", "t0", "t1", "rows"}
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list = []

    # -- job-group plumbing ------------------------------------------------
    def _set_group(self, group):
        self.sc.setLocalProperty(GROUP, group)

    def set_phase(self, phase: str) -> None:
        """Tag this thread's jobs with the phase until the next span."""
        self.phase = phase
        self._set_group(phase)

    def span(self, name: str, fn, *args, opaque: bool = False):
        """Run ``fn`` as one span instance the benchmark opens itself;
        inside an ``opaque`` span no layer span opens."""
        return self._call(name, fn, args, {}, force=False, opaque=opaque)

    def _call(self, name, fn, args, kwargs, force: bool, opaque: bool = False):
        if self.phase != "traced":
            return fn(*args, **kwargs)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if stack and (stack[-1]["name"] == name or stack[-1]["opaque"]):
            return fn(*args, **kwargs)  # a layer calling itself: one span
        with self._lock:
            sid = f"{name}#{next(self._ids)}"
            rec = {"id": sid, "name": name, "parent": stack[-1]["id"] if stack else None,
                   "t0": time.time(), "t1": None, "rows": 0, "opaque": opaque}
            self.spans.append(rec)
        prev = self.sc.getLocalProperty(GROUP)
        stack.append(rec)
        self._set_group(sid)
        try:
            out = fn(*args, **kwargs)
            if force:
                out = self._force(out, rec)
            return out
        finally:
            rec["t1"] = time.time()
            stack.pop()
            self._set_group(prev)

    def _force(self, out, rec):
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out = out.localCheckpoint(eager=True)
            self._set_group(TRACE_GROUP)
            rec["rows"] += out.count()
            self._set_group(rec["id"])
        elif isinstance(out, dict):
            rec["rows"] += len(out)
        return out

    # -- install / uninstall -------------------------------------------------
    def install(self) -> None:
        for name, targets in layer_targets().items():
            for owner, attr in targets:
                orig = getattr(owner, attr)
                setattr(owner, attr, self._wrap(name, orig))
                self._undo.append((owner, attr, orig))
        # the submitting thread's job group follows work into executor
        # threads (run_pipeline submits its probe and winner side there)
        orig_submit = concurrent.futures.ThreadPoolExecutor.submit
        tracer = self

        def submit(pool, fn, /, *args, **kwargs):
            group = tracer.sc.getLocalProperty(GROUP)
            stack = list(getattr(tracer._local, "stack", None) or [])

            def run(*a, **kw):
                tracer._local.stack = list(stack)
                tracer._set_group(group)
                return fn(*a, **kw)

            return orig_submit(pool, run, *args, **kwargs)

        concurrent.futures.ThreadPoolExecutor.submit = submit
        self._undo.append((concurrent.futures.ThreadPoolExecutor, "submit", orig_submit))

    def _wrap(self, name, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.phase != "traced":
                # request threads start untagged: name the phase here
                tracer._set_group(tracer.phase)
                return fn(*args, **kwargs)
            return tracer._call(name, fn, args, kwargs, force=True)

        return wrapper

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_event_log(path: str) -> dict:
    """Jobs (group, start, end, stages) and per-stage task totals from a
    Spark JSON event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"group": props.get(GROUP), "t0": ev["Submission Time"] / 1e3,
                             "t1": None, "stages": ev.get("Stage IDs", [])}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                t = tasks[ev["Stage ID"]]
                t["exec_s"] += m.get("Executor Run Time", 0) / 1e3
                t["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                t["task_failures"] += 1 if info.get("Failed") else 0
    for job in jobs.values():
        if job["t1"] is None:
            job["t1"] = job["t0"]
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def attribute(log: dict, spans: list[dict]) -> dict:
    """Per-span-name totals plus the log-wide reconciliation.

    A job belongs to the span instance (or phase) named by its job group;
    a task belongs to the job that first listed its stage. ``gap_s`` is
    span time with no job of that span or its children running; the
    ``*_incl`` fields add up a span's subtree."""
    jobs, stage_job, tasks = log["jobs"], log["stage_job"], log["tasks"]
    per_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for jid, job in jobs.items():
        per_group[job["group"]]["jobs"] += 1
    for sid, t in tasks.items():
        jid = stage_job.get(sid)
        group = jobs[jid]["group"] if jid is not None else None
        for k, v in t.items():
            per_group[group][k] += v

    by_id = {s["id"]: s for s in spans}
    subtree: dict[str, list[str]] = defaultdict(list)
    for s in spans:
        sid = s["id"]
        anc = sid
        while anc is not None:
            subtree[anc].append(sid)
            anc = by_id[anc]["parent"]
    job_iv: dict[str, list] = defaultdict(list)
    for job in jobs.values():
        job_iv[job["group"]].append((job["t0"], job["t1"]))

    out: dict[str, dict] = defaultdict(lambda: {k: 0.0 for k in SPAN_FIELDS + INCL_FIELDS})
    for s in spans:
        agg = out[s["name"]]
        own = per_group.get(s["id"], {})
        for k in ("exec_s", "shuffle_mb", "spill_mb", "task_failures", "jobs"):
            agg[k] += own.get(k, 0.0)
        for k in INCL_FIELDS:
            agg[k] += sum(per_group.get(g, {}).get(k.removesuffix("_incl"), 0.0) for g in subtree[s["id"]])
        agg["rows"] += s["rows"]
        t0, t1 = s["t0"], s["t1"]
        nested_same = s["parent"] is not None and by_id[s["parent"]]["name"] == s["name"]
        if not nested_same:
            agg["wall_s"] += t1 - t0
        ivs = [(max(a, t0), min(b, t1)) for g in subtree[s["id"]] for a, b in job_iv[g]]
        agg["gap_s"] += (t1 - t0) - _union_len([iv for iv in ivs if iv[1] > iv[0]])

    span_ids = set(by_id)
    total_exec = sum(t["exec_s"] for t in tasks.values())
    phases = {g: dict(v) for g, v in per_group.items() if g not in span_ids}
    return {
        "spans": {k: dict(v) for k, v in out.items()},
        "phases": {str(g): v for g, v in phases.items()},
        "unattributed_jobs": int(per_group.get(None, {}).get("jobs", 0)),
        "total_exec_s": total_exec,
        "attributed_exec_s": sum(v.get("exec_s", 0.0) for g, v in per_group.items() if g is not None),
        "n_jobs": len(jobs),
    }
