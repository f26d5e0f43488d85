"""Shuffle-granularity policy (amp.session.shuffle_partitions_for).

The rule is measured, not guessed (BENCH/BASELINE.md round-5 A/B):
large runs get max(8, 2*cpus) — two reduce waves per core with a
floor — small corpora keep 1x cores.
"""

from __future__ import annotations

from amp.session import shuffle_partitions_for


def test_large_runs_two_waves_with_floor():
    assert shuffle_partitions_for(2, 200_000) == 8   # floor binds
    assert shuffle_partitions_for(8, 200_000) == 16  # 2 waves
    assert shuffle_partitions_for(32, 1_400_000) == 64


def test_small_corpora_keep_one_wave():
    assert shuffle_partitions_for(32, 17_000) == 32
    assert shuffle_partitions_for(8, 49_999) == 8
