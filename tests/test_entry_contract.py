"""Driver-contract surface: entry() smoke + a fast subset of the
queries()/oracle_sql() comparisons against DuckDB at sf0.001 (the full
set is exercised by scripts/check_oracles.py and by the driver itself
at sf0.01)."""

from __future__ import annotations

import ast
import glob
import os
import re
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as E
from scripts.check_oracles import TABLES, value_hash

SF_DIR = "/root/testdata/sf0.001"

FAST_SUBSET = [
    "normalize_project",
    "block_pairs_multipass",
    "tfidf_postings",
    "pair_tfidf_dot",
    "topk_per_group",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "text_quality",
    "agg_lineitem",
    "window_events_topk",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def test_every_query_has_oracle_or_reason():
    qs, os_ = E.queries(), E.oracle_sql()
    assert set(os_) <= set(qs)
    missing = set(qs) - set(os_)
    # only genuinely non-SQL/approximate ops may omit the oracle
    assert missing <= {"er_pipeline_clusters", "ann_lsh_topk"}, missing


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_query_matches_oracle(spark, duck, name):
    sdf = E.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(E.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(ocols)
    assert value_hash(sdf.columns, srows) == value_hash(ocols, orows)


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["cluster_size", "n_clusters"]


MEDIA_MODULES = {"multimodal", "vp8l", "jpeg", "flac"}


def test_media_stack_unreachable_from_engine():
    """No engine module imports the media codecs, not even lazily inside
    a function: the rest of the stack can be deleted without touching a
    query, the pipeline, serve, streaming or incremental."""
    paths = [os.path.join(ROOT, "__spark_entry__.py")] + [
        p
        for p in sorted(glob.glob(os.path.join(ROOT, "amp", "*.py")))
        if os.path.basename(p) != "multimodal.py"
    ]
    hits = []
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [a.name for a in node.names]
            else:
                continue
            if any(set(n.split(".")) & MEDIA_MODULES for n in names):
                hits.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert len(paths) > 20
    assert not hits, hits


def test_no_orphan_top_level_names_in_engine():
    """Every top-level def/class in amp/ is named somewhere else in the
    repo's code or used again in its own module: a helper nothing calls
    is dead weight to delete, not to keep around. The callers that count
    are the engine, its scripts, tests and benchmark harness, the driver
    entry and the bench mains."""
    pats = ["amp/*.py", "scripts/**/*.py", "tests/**/*.py", "perfbench/**/*.py",
            "__spark_entry__.py", "bench*.py"]
    texts = {}
    for pat in pats:
        for p in glob.glob(os.path.join(ROOT, pat), recursive=True):
            with open(p) as fh:
                texts[p] = fh.read()
    engine = [p for p in texts if os.path.dirname(p) == os.path.join(ROOT, "amp")]
    orphans = []
    for path in engine:
        tree = ast.parse(texts[path], path)
        used_here = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)} | {
            n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)
        }
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            name = node.name
            if name in used_here:
                continue
            word = re.compile(rf"\b{re.escape(name)}\b")
            if not any(word.search(t) for q, t in texts.items() if q != path):
                orphans.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {name}")
    assert len(engine) > 20
    assert not orphans, orphans
