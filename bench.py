"""Benchmark harness.

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries": {name:
sec}, "sf", plus pairs-scored throughput fields}.

--scaling: run the ER pipeline at two parallelism levels (local[8] vs
local[32] — the sandbox stand-in for N vs 4N executors, per
BASELINE.md) in separate subprocesses (a JVM cannot change master
in-process) and report throughput + scaling efficiency; optionally
rewrite BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _er_scale(sf: float) -> int:
    """Base-file count for the synthetic ER corpus, proportional to sf."""
    return max(120, int(120_000 * sf))


def _corpus_path(spark, n_base: int) -> str:
    """Pre-generate the input table to parquet ONCE (untimed, fixed
    partitioning) — the benchmark measures the PIPELINE over an input
    table, not synthetic-data generation. Both parallelism levels of the
    scaling run read the identical bytes."""
    from amp.datagen import gen_files

    path = f"/tmp/amp_corpus_{n_base}"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        gen_files(spark, n_base, partitions=32).write.mode("overwrite").parquet(path)
    return path


def completed_stages(spark) -> list[dict]:
    """Raw completed-stage records from the live UI REST API (requires
    spark.ui.enabled=true), read by stage_metrics. Per-layer timings of
    a pipeline run come from perfbench/run.py --trace 1, which
    attributes Spark's event log to layer spans instead."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        return json.load(r)


def stage_metrics(spark, top_n: int = 12) -> tuple[list[dict], dict]:
    """Per-stage shuffle/input bytes + executor time from the live UI
    REST API (requires spark.ui.enabled=true) — the itemized shuffle
    budget behind the scaling-efficiency number. Sorted by shuffle
    read+write descending."""
    stages = completed_stages(spark)
    rows = []
    for s in stages:
        rows.append(
            {
                "stage": s["stageId"],
                "name": s["name"].split("\n")[0][:70],
                "tasks": s.get("numCompleteTasks", 0),
                "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                "shuf_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
                "shuf_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                "exec_sec": round(s.get("executorRunTime", 0) / 1e3, 1),
            }
        )
    rows.sort(key=lambda r: r["shuf_read_mb"] + r["shuf_write_mb"], reverse=True)
    totals = {
        "n_stages": len(rows),
        "total_shuf_read_mb": round(sum(r["shuf_read_mb"] for r in rows), 1),
        "total_shuf_write_mb": round(sum(r["shuf_write_mb"] for r in rows), 1),
        "total_input_mb": round(sum(r["input_mb"] for r in rows), 1),
        "total_exec_sec": round(sum(r["exec_sec"] for r in rows), 1),
    }
    return rows[:top_n], totals


def _warmup(spark) -> None:
    """Steady-state measurement: one throwaway job spins up whole-stage
    codegen, the shuffle machinery and the Python worker pool BEFORE
    the timer (identical, untimed cost at every parallelism level — the
    benchmark measures the pipeline, not JVM/worker cold start)."""
    from pyspark.sql import functions as F

    df = spark.range(10_000).select(F.col("id").alias("x"))
    df.mapInPandas(lambda it: it, "x long").groupBy(
        F.pmod("x", F.lit(8))
    ).count().write.format("noop").mode("overwrite").save()


def run_er_pipeline(spark, n_base: int) -> dict:
    """Flagship: full ER pipeline over a parquet input table."""
    from pyspark.sql import functions as F

    from amp.pipeline import run_pipeline

    path = _corpus_path(spark, n_base)
    _warmup(spark)
    # Untimed steady-state warmup of the PIPELINE's own code paths: a
    # tiny full run compiles/loads every kernel the timed run will use
    # (Arrow normalize, feature + scorer kernels with their numpy
    # imports, the join shapes, union-find) so the timed window
    # measures the pipeline, not first-touch JIT/import cost. Same
    # norm as the scaling harness's untimed warmup; identical untimed
    # cost at every parallelism level. Measured: removes a 3-6s
    # first-run penalty that otherwise lands inside the flagship
    # timing window with run-to-run spread.
    from amp.datagen import gen_files

    run_pipeline(spark, gen_files(spark, 120, partitions=4))
    t0 = time.time()
    files = spark.read.parquet(path)
    out = run_pipeline(spark, files)
    # the cluster table is still MATERIALIZED end-to-end (noop sink —
    # the flagship output must be produced, not just planned), but the
    # counts come from driver-known metrics the pipeline already paid
    # for: n_records from the uniqueness probe, n_clusters from the
    # union-find aggregates — replacing two aggregation jobs whose cost
    # is constant (doesn't shrink with data) per run. The remaining
    # pair count (a cheap job over the pinned scored table) runs
    # CONCURRENTLY with the cluster materialization — independent
    # actions over immutable pins, same pattern as the pipeline's
    # probe/winner overlap.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_pairs = pool.submit(out["scored"].count)
        f_mat = pool.submit(
            lambda: out["clusters"].write.format("noop").mode("overwrite").save()
        )
        n_pairs = f_pairs.result()
        f_mat.result()
    m = out.get("metrics", {})
    n_records = (
        m["n_records"] if m.get("n_records") is not None else out["records"].count()
    )
    n_clusters = (
        m.get("n_clusters")
        if m.get("n_clusters") is not None
        else out["clusters"].agg(F.countDistinct("cluster_id")).collect()[0][0]
    )
    wall = time.time() - t0
    return {
        "wall_sec": wall,
        "records": n_records,
        "pairs_scored": n_pairs,
        "clusters": n_clusters,
        "pairs_per_sec": n_pairs / wall if wall > 0 else 0.0,
        "records_per_sec": n_records / wall if wall > 0 else 0.0,
    }


def run_headline(spark, sf_dir: str) -> dict[str, float]:
    """Per-query wall seconds over the driver parquet tables."""
    import __spark_entry__ as E

    qs = E.queries()
    picks = [
        "block_pairs_multipass",
        "tfidf_postings",
        "pair_tfidf_dot",
        "rank_window",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_embedding_cosine",
        "dedup_embedding_lsh",
        "ann_bruteforce_topk",
        "ann_ivf_topk",
        "match_provided_embedding_topk",
        "text_quality",
        "text_fingerprints",
        "agg_lineitem",
        "join_orders_customer",
        "star_shipping_priority",
        "star_local_supplier_volume",
        "window_events_topk",
    ]
    times: dict[str, float] = {}
    for name in picks:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        times[name] = round(time.time() - t0, 3)
    return times


def bench_once(
    sf_dir: str,
    cpus: int,
    er_only: bool = False,
    er_base: int | None = None,
    with_stage_metrics: bool = False,
) -> dict:
    from amp.session import get_spark, shuffle_partitions_for

    extra = {"spark.ui.enabled": "true"} if with_stage_metrics else None
    sf = _sf_of(sf_dir)
    n_base = er_base if er_base else _er_scale(sf)
    spark = get_spark(
        "amp-bench",
        cpus=cpus,
        shuffle_partitions=shuffle_partitions_for(cpus, n_base),
        extra_conf=extra,
    )
    er = run_er_pipeline(spark, n_base)
    if with_stage_metrics:
        er["stage_metrics"], er["stage_totals"] = stage_metrics(spark)
    queries = {} if er_only else run_headline(spark, sf_dir)
    queries["er_pipeline"] = round(er["wall_sec"], 3)
    total = round(sum(queries.values()), 3)
    extra_fields = {}
    if with_stage_metrics:
        extra_fields = {
            "stage_metrics": er["stage_metrics"],
            "stage_totals": er["stage_totals"],
        }
    return {
        **extra_fields,
        "metric": "headline wall sec (er pipeline + operator queries)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "er_records": er["records"],
        "er_pairs_scored": er["pairs_scored"],
        "er_clusters": er["clusters"],
        "er_pairs_per_sec": round(er["pairs_per_sec"], 1),
        "er_records_per_sec": round(er["records_per_sec"], 1),
    }


def run_scaling(
    sf_dir: str, lo: int, hi: int, write_md: bool, n_base: int = 200_000,
    repeats: int = 3, cooldown_sec: int = 45,
) -> dict:
    """Same job + same parquet input at two parallelism levels, each in
    a fresh subprocess (a JVM cannot change master in-process).
    Interleaved repeats + median wall, because the sandbox host shows
    ±20% run-to-run variance. ``cooldown_sec`` idles between runs:
    without it the interleave is systematically biased AGAINST the
    high-parallelism level — each hi run starts right after a ~3x
    longer lo run has heated the host (measured: a hi run following
    the slowest lo run degraded 57.6 -> 78.9s)."""
    import statistics

    walls: dict[int, list[float]] = {lo: [], hi: []}
    last: dict[int, dict] = {}
    for _ in range(repeats):
        for cpus in (lo, hi):
            if cooldown_sec and (walls[lo] or walls[hi]):
                time.sleep(cooldown_sec)
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--sf-dir", sf_dir, "--cpus", str(cpus),
                "--er-base", str(n_base), "--er-only", "--json-only",
                "--stage-metrics",  # itemized shuffle budget per level
            ]
            env = dict(os.environ)
            # larger heap for the measurement JVM: GC pressure is part
            # of the thread-anti-scaling this host shows on shuffle
            # work. NB ParallelGC was tried via AMP_GC_OPTS and measured
            # WORSE than default G1 on the full pipeline (0.606 vs
            # 0.698 efficiency) despite helping the string
            # microbenchmark — the hook stays, the default does not.
            env.setdefault("AMP_DRIVER_MEM", "16g")
            # tmpfs shuffle scratch (single-machine analog of NVMe-local
            # shuffle dirs): takes the shared system disk out of the
            # shuffle path — measured efficiency lever, see BENCH notes
            if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
                env.setdefault("AMP_LOCAL_DIR", "/dev/shm/amp_spark_local")
            out = subprocess.run(
                cmd, capture_output=True, text=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
                env=env,
            )
            line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
            r = json.loads(line)
            walls[cpus].append(r["queries"]["er_pipeline"])
            last[cpus] = r
    med = {c: statistics.median(walls[c]) for c in (lo, hi)}
    recs = last[lo]["er_records"]
    rps = {c: recs / med[c] for c in (lo, hi)}
    eff = rps[hi] / (rps[lo] * (hi / lo)) if rps[lo] else 0.0
    summary = {
        "scaling": {
            f"local[{lo}]": {"walls": walls[lo], "median_wall": med[lo], "records_per_sec": round(rps[lo], 1)},
            f"local[{hi}]": {"walls": walls[hi], "median_wall": med[hi], "records_per_sec": round(rps[hi], 1)},
            "records": recs,
            "pairs_scored": last[lo]["er_pairs_scored"],
            "throughput_ratio": round(rps[hi] / rps[lo], 3),
            "efficiency": round(eff, 3),
        }
    }
    if write_md:
        _write_baseline_md(sf_dir, lo, hi, last, med, rps, eff, walls)
    return summary


def _write_baseline_md(sf_dir, lo, hi, last, med, rps, eff, walls) -> None:
    os.makedirs("BENCH", exist_ok=True)
    rl = last[lo]
    pairs_per_sec = {c: rl["er_pairs_scored"] / med[c] for c in (lo, hi)}
    with open("BENCH/BASELINE.md", "w") as fh:
        fh.write(
            f"""# BENCH baseline — measured

Same job (full ER pipeline: normalize -> blocking -> features ->
scoring -> connected components), same deterministic parquet input
({rl['er_records']} records, seed 42), two parallelism levels on one
machine — the sandbox stand-in for N vs 4N executors (no real cluster
available; the rule's two-cluster-size criterion is evidenced this
way). Median of {len(walls[lo])} interleaved repeats per level (host
shows ±20% run-to-run variance).

| config | records | pairs scored | median wall sec (all runs) | records/sec | pairs/sec |
|---|---|---|---|---|---|
| local[{lo}] (N) | {rl['er_records']} | {rl['er_pairs_scored']} | {med[lo]:.1f} {walls[lo]} | {rps[lo]:.1f} | {pairs_per_sec[lo]:.1f} |
| local[{hi}] (4N) | {rl['er_records']} | {rl['er_pairs_scored']} | {med[hi]:.1f} {walls[hi]} | {rps[hi]:.1f} | {pairs_per_sec[hi]:.1f} |

**Scaling efficiency** = (records/sec at 4N) / ({hi // lo} x records/sec at N)
= **{eff:.3f}** (target >= 0.8 per BASELINE.json).

Measurement notes (see also amp/normalize.py, amp/scoring.py docstrings):
this host's JVM *anti-scales* across threads on allocation-heavy
string/regex work (measured: a pure regex stage runs FASTER on
local[1] than local[16], while the same work in Python worker
processes scales ~24x across 32 procs) — so every string-heavy kernel
runs as an Arrow-batched pandas UDF in separate worker processes, the
same scaling unit as executors on a real cluster. Remaining
non-scaling wall is shuffle/disk + per-stage scheduling overhead.

sf dir: `{sf_dir}`. Reproduce: `python bench.py --scaling --write-md`.
"""
        )
        for cpus in (lo, hi):
            r = last[cpus]
            if "stage_metrics" not in r:
                continue
            t = r["stage_totals"]
            fh.write(
                f"""
## Itemized shuffle budget — local[{cpus}] (last repeat)

Totals: {t['n_stages']} stages, shuffle read {t['total_shuf_read_mb']} MB,
shuffle write {t['total_shuf_write_mb']} MB, input {t['total_input_mb']} MB,
executor time {t['total_exec_sec']} s (wall x cores x utilization).

| stage | tasks | input MB | shuf read MB | shuf write MB | exec sec |
|---|---|---|---|---|---|
"""
            )
            for s in r["stage_metrics"]:
                fh.write(
                    f"| {s['stage']} | {s['tasks']} | {s['input_mb']} | "
                    f"{s['shuf_read_mb']} | {s['shuf_write_mb']} | {s['exec_sec']} |\n"
                )


def main() -> None:
    # benchmark-process tuning (NOT a library default): tmpfs shuffle
    # scratch takes the shared system disk out of the measurement;
    # AMP_LOCAL_DIR= (empty) opts out
    if "AMP_LOCAL_DIR" not in os.environ and os.path.isdir("/dev/shm") and os.access(
        "/dev/shm", os.W_OK
    ):
        os.environ["AMP_LOCAL_DIR"] = "/dev/shm/amp_spark_local"
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--er-base", type=int, default=None,
                    help="override ER corpus base-file count (default: 120000*sf)")
    ap.add_argument("--er-only", action="store_true")
    ap.add_argument("--json-only", action="store_true")
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--scale-lo", type=int, default=2)
    ap.add_argument("--scale-hi", type=int, default=8)
    ap.add_argument("--scale-base", type=int, default=200_000)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--cooldown", type=int, default=45,
                    help="idle seconds between scaling runs (thermal fairness)")
    ap.add_argument("--write-md", action="store_true")
    ap.add_argument("--stage-metrics", action="store_true",
                    help="enable the Spark UI and emit per-stage shuffle bytes")
    args = ap.parse_args()

    if args.scaling:
        print(
            json.dumps(
                run_scaling(
                    args.sf_dir, args.scale_lo, args.scale_hi, args.write_md,
                    n_base=args.scale_base, repeats=args.repeats,
                    cooldown_sec=args.cooldown,
                )
            )
        )
        return
    print(json.dumps(bench_once(
        args.sf_dir, args.cpus, er_only=args.er_only, er_base=args.er_base,
        with_stage_metrics=args.stage_metrics,
    )))


if __name__ == "__main__":
    main()
