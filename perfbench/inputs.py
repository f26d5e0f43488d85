"""Deterministic benchmark inputs.

The operator queries read the sf0.1 tables named by ``--sf-dir``.
Everything else the benchmark feeds amp is made here from ``--seed`` and
cached under the checkout's work directory:

* the ER corpus: ``amp.datagen`` files and labels;
* the serving request stream: planted near-duplicates of corpus records,
  fresh records from another seed, and append batches.
"""

from __future__ import annotations

import hashlib
import itertools
import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed: int, stream: str) -> np.random.Generator:
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64(key))


def content_hash(directory: str) -> str:
    """sha256 over a table directory's parquet files, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(directory, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


FILES_SCHEMA = pa.schema([(c, pa.string()) for c in ("repo", "path", "commit", "lang", "content")])
LABELS_SCHEMA = pa.schema([("left_id", pa.string()), ("right_id", pa.string()),
                           ("is_match", pa.bool_()), ("corruption", pa.string())])


def _corpus_chunk(args: tuple[str, int, int, int]) -> None:
    """Worker: ``amp.datagen.rows_for_base`` over bases [lo, hi) -> one
    parquet part each for files and labels."""
    from amp.datagen import rows_for_base

    out, seed, lo, hi = args
    files: list[dict] = []
    labels: list[dict] = []
    for i in range(lo, hi):
        f, lab = rows_for_base(i, seed)
        files.extend(f)
        labels.extend(lab)
    pq.write_table(pa.Table.from_pylist(files, FILES_SCHEMA), os.path.join(out, "files", f"part-{lo:08d}.parquet"))
    pq.write_table(pa.Table.from_pylist(labels, LABELS_SCHEMA), os.path.join(out, "labels", f"part-{lo:08d}.parquet"))


def ensure_corpus(root: str, n_base: int, seed: int, workers: int) -> tuple[str, str]:
    """The ``amp.datagen`` corpus (files, labelled pairs) for ``seed`` as
    parquet, generated once per (n_base, seed) by ``workers`` processes
    (forked: it runs before any Spark session exists). Every row is a
    pure function of (seed, base index), so the tables equal
    ``gen_files`` / ``gen_labels`` up to row order."""
    import multiprocessing

    base = os.path.join(root, f"corpus_{n_base}_{seed}")
    marker = os.path.join(base, "_DONE")
    if not os.path.exists(marker):
        for sub in ("files", "labels"):
            os.makedirs(os.path.join(base, sub), exist_ok=True)
        step = -(-n_base // (4 * workers))
        chunks = [(base, seed, lo, min(lo + step, n_base)) for lo in range(0, n_base, step)]
        if workers == 1:
            for chunk in chunks:
                _corpus_chunk(chunk)
        else:
            with multiprocessing.get_context("fork").Pool(workers) as pool:
                pool.map(_corpus_chunk, chunks)
        open(marker, "w").close()
    return os.path.join(base, "files"), os.path.join(base, "labels")


# ---------------------------------------------------------------------------
# serving request stream
# ---------------------------------------------------------------------------

def record_id(repo: str, path: str, commit: str) -> str:
    """The id amp.normalize assigns: sha256(repo US path US commit)[:32]."""
    return hashlib.sha256("\x1f".join((repo, path, commit)).encode()).hexdigest()[:32]


def _base_file(i: int, seed: int) -> dict:
    from amp.datagen import rows_for_base

    return dict(rows_for_base(i, seed)[0][0])


def _non_license(rng, lo: int, hi: int) -> int:
    # base indexes with i % 20 == 19 are the shared LICENSE skew rows
    while True:
        i = int(rng.integers(lo, hi))
        if i % 20 != 19:
            return i


def planted(rng, n_base: int, seed: int, tag: str) -> dict:
    """A near-duplicate of an index record: one line dropped, one line
    added, moved to another repo and commit."""
    src = _base_file(_non_license(rng, 0, n_base), seed)
    lines = src["content"].split("\n")
    del lines[int(rng.integers(len(lines) // 2, len(lines) - 1))]
    lines.insert(int(rng.integers(len(lines) // 2, len(lines))), "    v0_acc = v0_acc * 7")
    return dict(src, repo=f"{tag}/{src['repo']}", commit=f"{tag}-{src['commit'][:32]}",
                content="\n".join(lines))


def fresh(rng, n_base: int, seed: int, tag: str) -> dict:
    """A record the index has never seen: a base file of another seed at
    an index past the corpus, so neither content nor path repeats."""
    rec = _base_file(_non_license(rng, n_base, 4 * n_base), seed + 7_919)
    return dict(rec, repo=f"{tag}/{rec['repo']}")


# one cycle of the request script: 4 single matches, 1 batch match and
# one append-then-remove pair = 7 requests. The smallest cycle that keeps
# every kind with matches the majority; a 10-request cycle (70% / 10% /
# 20%) took about 40 s a window, which the run budget cannot carry
CYCLE = ("match",) * 4 + ("batch", "append_remove")
BATCH = 30
APPEND = 16


def serve_ops(seed: int, n_base: int) -> Iterator[dict]:
    """The closed-loop request script, endless: cycles of CYCLE in a
    seeded order. Match queries alternate planted near-duplicates and
    fresh records; append batches are fresh records."""
    rng = _rng(seed, "serve")
    n = 0
    for c in itertools.count():
        for k, kind in enumerate(CYCLE[j] for j in rng.permutation(len(CYCLE))):
            tag = f"s{seed}serven{c}o{k}"
            if kind == "match":
                is_planted = n % 2 == 0
                n += 1
                rec = (planted if is_planted else fresh)(rng, n_base, seed, tag)
                yield {"op": "match", "records": [rec], "planted": [is_planted]}
            elif kind == "batch":
                flags = [j % 2 == 0 for j in range(BATCH)]
                recs = [(planted if f else fresh)(rng, n_base, seed, f"{tag}r{j}")
                        for j, f in enumerate(flags)]
                yield {"op": "batch", "records": recs, "planted": flags}
            else:
                recs = [fresh(rng, n_base, seed, f"{tag}a{j}") for j in range(APPEND)]
                yield {"op": "append_remove", "records": recs}
