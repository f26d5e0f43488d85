"""Deterministic synthetic repo-files corpus with labeled duplicate pairs.

Shape per BASELINE.json input_hint: (repo, path, commit, lang, content).
Ground truth per FIXTURES.md §2: labeled_pairs(left_id, right_id,
is_match, corruption).

Generation is id-addressed: every byte of every row is a pure function
of (seed, base_index, variant) — no wall clock, no global RNG — so the
corpus can be generated *distributed* (mapInPandas over spark.range)
at any scale and two runs at different parallelism produce identical
tables. This is how the bench corpus scales without shipping data.

Corruption classes (FIXTURES.md §1):
  identical   — byte-identical content, different repo/commit (vendored copy)
  whitespace  — comment/blank-line edits only (norm tokens unchanged)
  rename      — one identifier renamed everywhere (token substitution)
  editline    — one line deleted + one inserted (~small token delta)
  pathmove    — same content, same repo, different path
  boilerplate — NEGATIVE: shares the license header only (must NOT match)
Skew fixture: ~5% of rows are the identical LICENSE text (one mega
exact-dup group exercising the representative/exact-star path).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_US = "\x1f"

LANGS = ["py", "go", "js", "java", "c", "md"]
_EXT = {"py": "py", "go": "go", "js": "js", "java": "java", "c": "c", "md": "md"}

LICENSE_HEADER = [
    "# Copyright (c) The Synthetic Project Authors",
    "# Licensed under the MIT License; you may not use this file except",
    "# in compliance with the License obtained at the project root",
    "# Unless required by applicable law or agreed to in writing software",
    "# distributed under the License is distributed on an AS IS basis",
    "# without warranties or conditions of any kind either express or implied",
]

LICENSE_FULL = "\n".join(
    LICENSE_HEADER
    + [
        "",
        "permission is hereby granted free of charge to any person obtaining",
        "a copy of this software and associated documentation files to deal",
        "in the software without restriction including without limitation",
        "the rights to use copy modify merge publish distribute sublicense",
        "the above copyright notice shall be included in all copies",
        "the software is provided as is without warranty of any kind",
    ]
)

DUP_CLASSES = ["identical", "whitespace", "rename", "editline", "pathmove"]

_VOCAB = [
    f"{p}{i}"
    for p in ("load", "parse", "merge", "split", "flush", "score", "pack", "scan")
    for i in range(64)
]
_VARS = [f"v{i}_{w}" for i, w in enumerate(("acc", "buf", "cur", "idx", "tmp", "out", "key", "val"))]


def _commit(i: int, variant: str, seed: int) -> str:
    return hashlib.sha256(f"{seed}:commit:{i}:{variant}".encode()).hexdigest()[:40]


def _record_id(repo: str, path: str, commit: str) -> str:
    """Must equal amp.normalize.record_id_expr (128-bit sha256 prefix)."""
    return hashlib.sha256(_US.join((repo, path, commit)).encode()).hexdigest()[:32]


def _base_body(i: int, seed: int) -> list[str]:
    rng = np.random.Generator(np.random.PCG64(seed * 1_000_003 + i))
    n_funcs = int(rng.integers(3, 8))
    lines: list[str] = []
    for f_ix in range(n_funcs):
        fn = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        a, b = rng.choice(_VARS, size=2, replace=False)
        lines.append(f"def {fn}_{i % 997}_{f_ix}({a}, {b}):")
        n_stmts = int(rng.integers(3, 9))
        for _ in range(n_stmts):
            v = _VARS[int(rng.integers(0, len(_VARS)))]
            callee = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            c1, c2 = int(rng.integers(0, 1000)), int(rng.integers(0, 1000))
            lines.append(f"    {v} = {callee}({c1}, {v}) + {c2}")
        lines.append(f"    return {a} + {b}")
        lines.append("")
    return lines


def _corrupt(body: list[str], cls: str, i: int, seed: int) -> list[str]:
    rng = np.random.Generator(np.random.PCG64(seed * 7_368_787 + i))
    if cls in ("identical", "pathmove"):
        return list(body)
    if cls == "whitespace":
        out = []
        for k, line in enumerate(body):
            out.append(line + ("  " if k % 4 == 0 else ""))
            if k % 9 == 3:
                out.append(f"# reviewed block {k}")
        return out
    if cls == "rename":
        # rename the most frequent callee identifier everywhere
        toks: dict[str, int] = {}
        for line in body:
            for t in line.replace("(", " ").replace(")", " ").replace(",", " ").split():
                if t in set(_VOCAB):
                    toks[t] = toks.get(t, 0) + 1
        if toks:
            victim = max(sorted(toks), key=lambda t: toks[t])
            fresh = f"renamed_{victim}_{i % 89}"
            return [line.replace(victim, fresh) for line in body]
        return list(body)
    if cls == "editline":
        out = list(body)
        if len(out) > 4:
            del out[int(rng.integers(1, len(out) - 1))]
        v = _VARS[int(rng.integers(0, len(_VARS)))]
        out.insert(int(rng.integers(1, len(out))), f"    {v} = {v} * {int(rng.integers(2, 99))}")
        return out
    raise ValueError(cls)


def rows_for_base(i: int, seed: int = 42) -> tuple[list[dict], list[dict]]:
    """All file rows + label rows derived from base index i. Pure function."""
    lang = LANGS[i % len(LANGS)]
    ext = _EXT[lang]
    repo = f"org{i % 97}/repo{i % 397}"
    files: list[dict] = []
    labels: list[dict] = []

    # ---- skew fixture: identical license text across ~5% of rows ----
    if i % 20 == 19:
        path = f"vendor/licenses/LICENSE_{i}.md"
        commit = _commit(i, "skew", seed)
        files.append(
            dict(repo=repo, path=path, commit=commit, lang="md", content=LICENSE_FULL)
        )
        rid = _record_id(repo, path, commit)
        # label this row against the canonical first skew row (i=19) -> linear labels
        if i != 19:
            repo0, path0 = "org19/repo19", "vendor/licenses/LICENSE_19.md"
            rid0 = _record_id(repo0, path0, _commit(19, "skew", seed))
            lo, hi = sorted((rid, rid0))
            labels.append(dict(left_id=lo, right_id=hi, is_match=True, corruption="skew_exact"))
        return files, labels

    stem = f"{'util mod core io fmt net'.split()[i % 6]}_{i}"
    path = f"src/{'a b c d'.split()[i % 4]}/{stem}.{ext}"
    commit = _commit(i, "base", seed)
    body = LICENSE_HEADER + [""] + _base_body(i, seed)
    content = "\n".join(body)
    files.append(dict(repo=repo, path=path, commit=commit, lang=lang, content=content))
    base_rid = _record_id(repo, path, commit)

    # ---- positive duplicate variants ----
    if i % 3 == 0:
        cls = DUP_CLASSES[(i // 3) % len(DUP_CLASSES)]
        vbody = LICENSE_HEADER + [""] + _corrupt(_base_body(i, seed), cls, i, seed)
        if cls == "identical":
            vrepo, vpath = f"vendor/{repo}", path
        elif cls == "pathmove":
            vrepo, vpath = repo, f"third_party/moved/{stem}.{ext}"
        else:
            vrepo, vpath = f"fork{i % 13}/{repo.split('/')[1]}", path
        vcommit = _commit(i, f"dup:{cls}", seed)
        vcontent = "\n".join(vbody)
        files.append(dict(repo=vrepo, path=vpath, commit=vcommit, lang=lang, content=vcontent))
        vrid = _record_id(vrepo, vpath, vcommit)
        lo, hi = sorted((base_rid, vrid))
        labels.append(dict(left_id=lo, right_id=hi, is_match=True, corruption=cls))

    # ---- near-miss negative: shares header, same stem, distinct body ----
    if i % 11 == 5:
        nbody = LICENSE_HEADER + [""] + _base_body(i + 1_000_000, seed)
        nrepo = f"other{i % 7}/{repo.split('/')[1]}"
        npath = f"lib/{stem}.{ext}"
        ncommit = _commit(i, "nearmiss", seed)
        files.append(
            dict(repo=nrepo, path=npath, commit=ncommit, lang=lang, content="\n".join(nbody))
        )
        nrid = _record_id(nrepo, npath, ncommit)
        lo, hi = sorted((base_rid, nrid))
        labels.append(dict(left_id=lo, right_id=hi, is_match=False, corruption="boilerplate"))

    return files, labels


FILES_SCHEMA = "repo string, path string, commit string, lang string, content string"
LABELS_SCHEMA = "left_id string, right_id string, is_match boolean, corruption string"


def _gen_partition(kind: str, seed: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            files: list[dict] = []
            labels: list[dict] = []
            for i in pdf["id"].to_numpy():
                f, l = rows_for_base(int(i), seed)
                files.extend(f)
                labels.extend(l)
            rows = files if kind == "files" else labels
            cols = (
                ["repo", "path", "commit", "lang", "content"]
                if kind == "files"
                else ["left_id", "right_id", "is_match", "corruption"]
            )
            yield pd.DataFrame(rows, columns=cols)

    return fn


def gen_files(spark: SparkSession, n_base: int, seed: int = 42, partitions: int = 32) -> DataFrame:
    """Distributed corpus generation — scales to any n_base."""
    return (
        spark.range(0, n_base, numPartitions=partitions)
        .mapInPandas(_gen_partition("files", seed), schema=FILES_SCHEMA)
    )


def gen_labels(spark: SparkSession, n_base: int, seed: int = 42, partitions: int = 32) -> DataFrame:
    return (
        spark.range(0, n_base, numPartitions=partitions)
        .mapInPandas(_gen_partition("labels", seed), schema=LABELS_SCHEMA)
    )
