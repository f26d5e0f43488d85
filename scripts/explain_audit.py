"""Regenerate PLANS.md: formatted physical plans for the headline
queries plus the audit notes the plan gates (tests/test_plans.py)
enforce mechanically.

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

AUDITED = [
    ("block_pairs_multipass", "OR-predicate blocking rewritten as two disjoint equi-join passes + UNION ALL (the second pass keeps only size-bucket-mismatched pairs) — no nested loop and no distinct; both passes are broadcast joins."),
    ("dedup_minhash_lsh", "banded bucket equi-join; candidate work ~ sum of bucket sizes squared, never all-pairs."),
    ("dedup_embedding_lsh", "sign-bucket band equi-join -> exact cosine verify on candidates only; plane literals folded into the scan projection."),
    ("dedup_embedding_cosine", "tile-pair BroadcastNestedLoopJoin over T=ceil(n/512) COLLECTED tile rows (whitelisted: payloads ride inside rows; the NLJ touches T^2/2 combinations); GEMM kernel in mapInPandas."),
    ("ann_ivf_topk", "list assignment + query probing are scan-side Arrow numpy kernels (one GEMM per batch, no shuffle; centroid LITERALS were measured costing seconds of Catalyst analysis at 16x64 dims); probe join on list_id with the query side broadcast."),
    ("pair_tfidf_dot", "postings grouped into per-(lang, source) tiles by one collect_list aggregation, tile pairs attached by equi-joins on (group, tile), then one Arrow kernel per tile pair sums shared-token products (dense GEMM when the tile vocabulary fits, ragged bincount otherwise); IDF weights computed distributively."),
    ("text_quality", "single scan, one tokenize, whole-stage codegen column math; no shuffle."),
    ("star_local_supplier_volume", "six-way star join: three broadcast dims, date filters pushed to the fact scans, partial-agg revenue per nation."),
    ("pack_documents", "sequence-packing manifest: ONE shuffle (hash by shard) + window cumsum; parallelism = n_shards by design."),
    ("mixture_sample", "waterfilled domain mixture: tiny counts agg + single-partition global-min window, broadcast join back — the corpus is never shuffled."),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as E
    from amp.session import get_spark

    spark = get_spark("explain-audit", cpus=8)
    qs = E.queries()
    with open("PLANS.md", "w") as fh:
        fh.write(
            "# Physical-plan audit (generated by scripts/explain_audit.py)\n\n"
            "Plan-quality gates are enforced mechanically in "
            "`tests/test_plans.py` (no unexpected product joins, filter "
            "pushdown to parquet, query-side broadcasts, column pruning). "
            "This file is the human-readable snapshot for the headline "
            f"queries at `{sf_dir}`.\n"
        )
        for name, note in AUDITED:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            fh.write(f"\n## {name}\n\n{note}\n\n```\n{plan}\n```\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
