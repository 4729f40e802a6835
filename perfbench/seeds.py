"""Workload inputs drawn from the benchmark seed.

The tables are fixed files under ``perfbench/data``; what the seed picks
is the request stream the program sees. The same seed always yields the
same stream.
"""

from __future__ import annotations

import random
from typing import NamedTuple

#: Sample fractions of a sample_interactive request. Every round holds
#: each fraction equally often, so per-round latency quantiles compare
#: across seeds; only the order and the sample seeds vary.
FRACTIONS = (0.01, 0.1, 0.3, 0.7)


class SampleRequest(NamedTuple):
    fraction: float
    seed: int
    #: index of the earlier request in the round this one repeats, or -1
    repeat_of: int


def sample_round(seed: int, round_no: int, size: int = 100, repeats: int = 8) -> list[SampleRequest]:
    """One round of ``size`` requests: each fraction ``size / 4`` times,
    of which ``repeats`` requests in all reuse the (fraction, seed) pair
    of an earlier request of the same fraction, so the round can check
    that a repeated request returns identical rows."""
    if size % len(FRACTIONS):
        raise ValueError(f"round size {size} must be a multiple of {len(FRACTIONS)}")
    rng = random.Random(f"sample_interactive/{seed}/{round_no}")
    per = size // len(FRACTIONS)
    pairs = [(f, rng.randrange(1 << 31)) for f in FRACTIONS for _ in range(per)]
    # the last few of each fraction copy the seed of that fraction's first
    dup_slots = [
        (i * per + per - 1 - j, i * per + j)
        for j in range(repeats // len(FRACTIONS) + 1)
        for i in range(len(FRACTIONS))
    ][:repeats]
    for slot, src in dup_slots:
        pairs[slot] = pairs[src]
    order = list(range(size))
    rng.shuffle(order)
    # a repeat must run after the request it repeats
    for slot, src in dup_slots:
        a, b = order.index(slot), order.index(src)
        if a < b:
            order[a], order[b] = order[b], order[a]
    pos = {idx: p for p, idx in enumerate(order)}
    dup_of = dict(dup_slots)
    return [
        SampleRequest(pairs[idx][0], pairs[idx][1], pos[dup_of[idx]] if idx in dup_of else -1)
        for idx in order
    ]


def query_order(seed: int, round_no: int, names) -> list[str]:
    """The order of a tpch_olap pass: every query once, shuffled."""
    order = sorted(names)
    random.Random(f"tpch_olap/{seed}/{round_no}").shuffle(order)
    return order
