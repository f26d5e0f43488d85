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


# Engine code that only tests reach, and why it stays. An entry is a
# whole module ("streaming") or one top-level name ("io.read_repo_files").
KEPT_FOR_TESTS = {
    "streaming": "a declared capability: micro-batch ingest into an index",
    "address_pipeline": "reference address-matching semantics (COVERAGE F-rows)",
    "reference_parity": "reference algorithm twins (COVERAGE F-rows)",
    "normalize.normalize_jvm": "the Catalyst twin the pandas normalize kernel is checked against",
    "scoring.jaro_winkler": "the spec the vectorized Jaro-Winkler kernel is tested against",
    "scoring.levenshtein": "the spec the vectorized Levenshtein kernel is tested against",
    "io.read_repo_files": "CSV/JSON ingest (COVERAGE S1)",
}


def _non_test_sources() -> dict[str, str]:
    """Path -> source of every Python file that is not a test: the
    engine, its scripts, the benchmark harness, the driver entry and
    the bench mains."""
    pats = ["amp/*.py", "scripts/**/*.py", "perfbench/**/*.py",
            "__spark_entry__.py", "bench*.py"]
    texts = {}
    for pat in pats:
        for p in glob.glob(os.path.join(ROOT, pat), recursive=True):
            if "tests" in os.path.relpath(p, ROOT).split(os.sep):
                continue
            with open(p) as fh:
                texts[p] = fh.read()
    return texts


def test_no_orphan_top_level_names_in_engine():
    """Every top-level def/class in amp/ is reached by code that is not
    a test: the engine itself (used again in its own module or named in
    another), its scripts, the benchmark harness, the driver entry or
    the bench mains. Code only tests reach is dead weight to delete,
    unless KEPT_FOR_TESTS names it with a reason; an entry that no
    longer exempts anything must go too."""
    texts = _non_test_sources()
    engine = [p for p in texts if os.path.dirname(p) == os.path.join(ROOT, "amp")]
    orphans, kept_used = [], set()
    for path in engine:
        mod = os.path.basename(path)[:-3]
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
            if any(word.search(t) for q, t in texts.items() if q != path):
                continue
            kept = {mod, f"{mod}.{name}"} & set(KEPT_FOR_TESTS)
            if kept:
                kept_used |= kept
            else:
                orphans.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {name}")
    assert len(engine) > 20
    assert not orphans, orphans
    assert kept_used == set(KEPT_FOR_TESTS), set(KEPT_FOR_TESTS) - kept_used


def test_no_orphan_methods_in_engine():
    """Every method of a class in amp/ is named (as an attribute or a
    name) by some non-test file. Dunders are skipped, and so are the
    methods of a class with a base defined outside amp/: the stdlib
    calls those by protocol (``do_GET``, ``process_request``)."""
    texts = _non_test_sources()
    trees = {p: ast.parse(src, p) for p, src in texts.items()}
    used = set()
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
    amp_dir = os.path.join(ROOT, "amp")
    classes = [
        (path, node)
        for path, tree in trees.items() if os.path.dirname(path) == amp_dir
        for node in ast.walk(tree) if isinstance(node, ast.ClassDef)
    ]
    ours = {c.name for _, c in classes}
    orphans = []
    for path, cls in classes:
        bases = [b.id if isinstance(b, ast.Name) else getattr(b, "attr", None)
                 for b in cls.bases]
        if any(b not in ours for b in bases):
            continue
        for fn in cls.body:
            if (isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not (fn.name.startswith("__") and fn.name.endswith("__"))
                    and fn.name not in used):
                orphans.append(
                    f"{os.path.relpath(path, ROOT)}:{fn.lineno} {cls.name}.{fn.name}"
                )
    assert len(classes) > 5
    assert not orphans, orphans


def test_every_config_field_is_read():
    """Every AmpConfig field is read as an attribute (``cfg.<field>``)
    by some non-test file other than amp/config.py: a field nothing
    reads is a knob that changes no answer."""
    import dataclasses

    from amp.config import AmpConfig

    config_py = os.path.join(ROOT, "amp", "config.py")
    read = set()
    for path, src in _non_test_sources().items():
        if path == config_py:
            continue
        read |= {
            n.attr for n in ast.walk(ast.parse(src, path))
            if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load)
        }
    fields = [f.name for f in dataclasses.fields(AmpConfig)]
    assert len(fields) > 10
    assert not [f for f in fields if f not in read]


def _list_bound_names(scope: ast.AST) -> set[str]:
    """Names a scope binds to a list literal or list comprehension,
    including through tuple unpacking (``a, b = [], []``)."""
    lists = (ast.List, ast.ListComp)
    names = set()
    for node in ast.walk(scope):
        if isinstance(node, ast.Assign):
            pairs = [(t, node.value) for t in node.targets]
        elif isinstance(node, ast.AnnAssign):
            pairs = [(node.target, node.value)]
        else:
            continue
        for target, value in pairs:
            if isinstance(target, ast.Tuple) and isinstance(value, ast.Tuple):
                pairs += list(zip(target.elts, value.elts))
            elif isinstance(target, ast.Name) and isinstance(value, lists):
                names.add(target.id)
    return names


def test_engine_frames_are_not_built_from_python_lists():
    """A DataFrame of a Python list is planned through a plain-RDD
    Python worker pool of its own (a daemon plus one worker per core);
    the same frame built from pandas is a local relation that needs no
    Python worker. Every engine-local frame is built from pandas."""
    hits = []
    for path in sorted(glob.glob(os.path.join(ROOT, "amp", "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        fns = [n for n in ast.walk(tree)
               if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for fn in fns:
            bound = _list_bound_names(fn)
            for node in ast.walk(fn):
                if not (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame" and node.args):
                    continue
                arg = node.args[0]
                if isinstance(arg, (ast.List, ast.ListComp)) or (
                    isinstance(arg, ast.Name) and arg.id in bound
                ):
                    hits.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert not hits, sorted(set(hits))
