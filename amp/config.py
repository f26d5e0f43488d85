"""Pipeline configuration.

One frozen dataclass; every stage takes it explicitly so runs are
reproducible from (input, run_id, config) alone — the determinism
requirement behind checkpoint/resume (resume-equals-fresh).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class AmpConfig:
    # ---- normalize ----
    max_tokens: int = 4096          # cap tokens carried per record (signature budget)
    shingle_k: int = 3              # k-token shingles for minhash

    # ---- blocking ----
    minhash_perms: int = 32         # total permutations
    minhash_bands: int = 8          # bands (rows per band = perms // bands)
    max_block_size: int = 64        # frequency cap: blocks larger than this are
                                    # dropped from pair generation (counted, never
                                    # silent); also bounds a block's pair work to
                                    # cap^2/2 (blocking.candidate_pairs)

    # ---- features ----
    idf_smoothing: bool = False     # reference parity: idf = ln(N/df), unsmoothed
                                    # (reference make_tf_idf.go:66-72)
    emb_dim: int = 64               # hashing-trick embedding dimension

    # ---- scoring ----
    # weights mirror the shape of the reference composite score
    # (internal/matcher/matcher.go:180-208) re-targeted at code records
    w_token_cosine: float = 0.35    # content token tf-idf cosine
    w_shingle_jaccard: float = 0.25 # minhash-estimated / exact shingle jaccard
    w_emb_cosine: float = 0.15      # hashing-trick embedding cosine
    w_path_jw: float = 0.10         # Jaro-Winkler on path stem
    w_path_lev: float = 0.10        # normalized Levenshtein similarity on stem
    w_lang_match: float = 0.05

    broadcast_sides_max_records: int = 100_000
                                    # scorer join strategy: at or below this many
                                    # records the quantized side-features table
                                    # (~300 B/record -> <=30 MB) broadcasts into
                                    # BOTH scorer joins, so the pair table and the
                                    # wide pair+features intermediate never
                                    # shuffle; above it, shuffled-hash joins
                                    # (the only shape that survives 10^12 rows).
                                    # Crossover measured on a 280k-record
                                    # scaling job, per phase (today's tool
                                    # for that split: perfbench/run.py
                                    # --workload er_sf1 --trace 1):
                                    # broadcast cuts the scoring phase ~13s at
                                    # local[2] but ADDS ~6s at local[8] — the
                                    # relation build is driver-single-threaded
                                    # and the shuffle it replaces was parallel —
                                    # so the default keeps SHJ at that size. On
                                    # a real cluster (per-executor broadcast vs
                                    # network-wide shuffle) the crossover sits
                                    # higher; the knob is the executor-memory
                                    # budget for the dimension-style side.

    # ---- rank / edges ----
    score_threshold: float = 0.62   # composite in [0,1]; >= threshold -> edge
    top_k: int = 10

    # ---- clustering ----
    cc_max_iters: int = 20
    cc_driver_cutoff: int = 5_000_000  # <= this many edges: driver union-find;
                                       # above: distributed large/small-star.
                                       # 0 disables the driver path entirely.

    # ---- misc ----
    seed: int = 42

    def __post_init__(self) -> None:
        assert self.minhash_perms % self.minhash_bands == 0

    @property
    def minhash_rows_per_band(self) -> int:
        return self.minhash_perms // self.minhash_bands


DEFAULT_CONFIG = AmpConfig()
